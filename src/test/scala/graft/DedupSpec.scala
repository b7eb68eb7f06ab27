package graft

import java.sql.Timestamp
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.source.CatalogOps

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private lazy val changelog = Seq(
    (1L, ts("2024-01-01 10:00:00"), 1L, "a"),
    (1L, ts("2024-01-01 11:00:00"), 2L, "b"), // latest for key 1
    (2L, ts("2024-01-01 09:00:00"), 3L, "c"),
    (2L, ts("2024-01-01 09:00:00"), 4L, "d"), // tie on ts; version 4 wins
    (3L, ts("2024-01-01 08:00:00"), 5L, "e")
  ).toDF("customer_id", "_commit_timestamp", "_commit_version", "v")

  test("latestPerKey window form: newest per key, version tiebreak") {
    val got = Dedup.latestPerKey(changelog, Seq("customer_id"),
        Seq(col("_commit_timestamp").desc, col("_commit_version").desc))
      .select("customer_id", "v").as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "b", 2L -> "d", 3L -> "e"))
  }

  test("join form matches window form off ties; ties multiply (R11 note)") {
    val joinForm = CatalogOps.latestChangesSql(spark, changelog, "customer_id", "_commit_timestamp")
    // key 2 has a timestamp tie: join form keeps BOTH rows (reference behavior)
    assert(joinForm.filter($"customer_id" === 2L).count() == 2)
    // off-tie keys agree with the window form
    val w = Dedup.latestPerKey(changelog, Seq("customer_id"),
      Seq(col("_commit_timestamp").desc, col("_commit_version").desc))
    assert(joinForm.filter($"customer_id" =!= 2L).select("customer_id", "v").collect().toSet ==
      w.filter($"customer_id" =!= 2L).select("customer_id", "v").collect().toSet)
  }

  test("exactDedup keeps deterministic representative") {
    val df = Seq((1L, "x"), (2L, "x"), (3L, "y")).toDF("id", "k")
    val got = Dedup.exactDedup(df, Seq("k"), col("id")).as[(Long, String)].collect().toSet
    assert(got == Set((1L, "x"), (3L, "y")))
  }

  test("shingles: distinct hashed n-grams") {
    val df = Seq("a b c d").toDF("t")
    val n = df.select(size(Dedup.shingles(col("t"), 3)).as("n")).head.getInt(0)
    assert(n == 2) // "a b c", "b c d"
  }

  test("minhash near-dups find planted duplicates, skip unrelated text") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"
    val nearDup = base.replace("tonight", "today")
    val other = "completely different content about spark dataframes and shuffle partitioning at scale"
    val docs = Seq((1L, base), (2L, nearDup), (3L, other)).toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
      shingleN = 2, numHashes = 64, bands = 32, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("bandKeys: the one-expression form returns the literal struct-array form's keys") {
    // the earlier form, kept here as the reference: one struct per band,
    // spelled out as a literal array
    def literalBandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
      array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          xxhash64(concat_ws(",", slice(sig, b * rowsPerBand + 1, rowsPerBand)))
            .as("bucket"))
      }: _*)
    val rnd = new scala.util.Random(7)
    val sigs = Seq[(Int, Option[Seq[Long]])](
      (1, Some(Seq.fill(64)(rnd.nextLong()))),
      (2, Some(Seq.fill(64)(rnd.nextLong()))),
      (3, Some(Seq(5L, -1L, 42L))),   // short: later bands slice past the end
      (4, Some(Seq.empty[Long])),
      (5, None)                       // null signature
    ).toDF("id", "sig")
    for ((bands, rows) <- Seq((32, 2), (16, 4), (1, 64))) {
      val got = sigs.select($"id", Dedup.bandKeys($"sig", bands, rows).as("k"))
        .orderBy("id")
      val ref = sigs.select($"id", literalBandKeys($"sig", bands, rows).as("k"))
        .orderBy("id")
      assert(got.schema("k").dataType == ref.schema("k").dataType,
        s"bands=$bands: ${got.schema("k").dataType} vs ${ref.schema("k").dataType}")
      assert(got.schema("k").nullable == ref.schema("k").nullable)
      val (g, r) = (got.collect().toSeq, ref.collect().toSeq)
      assert(g.map(_.getSeq[Any](1).size).forall(_ == bands))
      assert(g == r, s"bands=$bands rows=$rows")
    }
  }

  test("simhash: identical text distance 0; near text small; different text large") {
    val base = "one two three four five six seven eight nine ten eleven twelve"
    val near = "one two three four five six seven eight nine ten eleven thirteen"
    val far = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val df = Seq((1L, base), (2L, base), (3L, near), (4L, far)).toDF("id", "t")
    val sig = df.select($"id", Dedup.simhash(split(col("t"), " ")).as("s"))
      .as[(Long, Long)].collect().toMap
    assert(sig(1L) == sig(2L))
    val dNear = java.lang.Long.bitCount(sig(1L) ^ sig(3L))
    val dFar = java.lang.Long.bitCount(sig(1L) ^ sig(4L))
    assert(dNear < dFar)
  }

  test("simhashNearDups is exact for any radius (pigeonhole chunks)") {
    // Ten short docs with varying overlap; compare against brute force at
    // several radii — including radii > 3, which the old fixed-4-chunk
    // blocking silently under-reported.
    val words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split(" ")
    val docs = (0 until 10).map { i =>
      (i.toLong, (words.drop(i % 4) ++ words.take(3 + i % 5)).mkString(" "))
    }.toDF("doc_id", "text")
    val sigs = docs.select($"doc_id",
        Dedup.simhash(split(graft.dedup.Dedup.normalizeText(col("text")), " ")).as("s"))
      .as[(Long, Long)].collect().toMap
    for (h <- Seq(0, 3, 8, 12)) {
      val brute = (for {
        a <- sigs.keys; b <- sigs.keys if a < b
        if java.lang.Long.bitCount(sigs(a) ^ sigs(b)) <= h
      } yield (a, b)).toSet
      val got = Dedup.simhashNearDups(docs, "doc_id", "text", maxHamming = h,
        allowWideRadius = true)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(got == brute, s"radius $h")
    }
  }

  test("simhashNearDups: wide radius requires explicit opt-in (scale steering)") {
    // Radius > 4 is past the exact-mode operating point (SCALE.md measured
    // exponent 1.75 at radius 8) — without the opt-in the call must fail
    // fast and point at the banded form, not silently build a candidate
    // bomb on a large corpus. Radius <= 4 stays unchanged.
    val docs = Seq((1L, "alpha beta"), (2L, "alpha gamma")).toDF("doc_id", "text")
    val ex = intercept[IllegalArgumentException] {
      Dedup.simhashNearDups(docs, "doc_id", "text", maxHamming = 8)
    }
    assert(ex.getMessage.contains("simhashNearDupsBanded"))
    assert(ex.getMessage.contains("allowWideRadius"))
    // radius 4 needs no opt-in; opted-in radius 8 plans fine
    Dedup.simhashNearDups(docs, "doc_id", "text", maxHamming = 4).count()
    Dedup.simhashNearDups(docs, "doc_id", "text", maxHamming = 8,
      allowWideRadius = true).count()
  }

  test("crossDocSpans merges adjacent shared anchors into maximal spans") {
    // d1/d2 share the 6-token run "aaa..fff" (two overlapping 5-gram
    // anchors — they must merge into ONE span per doc); d3 shares nothing.
    val docs = Seq(
      (1L, "aaa bbb ccc ddd eee fff tail1 tail2"),
      (2L, "pre aaa bbb ccc ddd eee fff post"),
      (3L, "totally different words only here now")
    ).toDF("doc_id", "text")
    val spans = Dedup.crossDocSpans(docs, "doc_id", "text", k = 5, minDocs = 2)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(spans == Set((1L, 1L, 6L, 6L), (2L, 2L, 7L, 6L)))
  }

  test("stripCrossDocSpans removes exactly the covered positions") {
    val docs = Seq(
      (1L, "aaa bbb ccc ddd eee fff tail1 tail2"),
      (2L, "pre aaa bbb ccc ddd eee fff post"),
      (3L, "totally different words only here now")
    ).toDF("doc_id", "text")
    val got = Dedup.stripCrossDocSpans(docs, "doc_id", "text", k = 5, minDocs = 2)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == ((8L, 6L, "tail1 tail2")))
    assert(got(2L) == ((8L, 6L, "pre post")))
    assert(got(3L) == ((6L, 0L, "totally different words only here now")))
  }

  test("keepFirstCrossDocSpans keeps the canonical copy, strips the rest") {
    // Same fixture as the strip test: d1 holds the (doc,pos)-minimal
    // occurrence of both shared anchors, so d1 keeps its text INTACT
    // while d2 loses the duplicated run — the Lee et al. keep-one
    // policy, vs stripCrossDocSpans which removed it from both.
    val docs = Seq(
      (1L, "aaa bbb ccc ddd eee fff tail1 tail2"),
      (2L, "pre aaa bbb ccc ddd eee fff post"),
      (3L, "totally different words only here now")
    ).toDF("doc_id", "text")
    val got = Dedup.keepFirstCrossDocSpans(docs, "doc_id", "text",
        k = 5, minDocs = 2)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == ((8L, 0L, "aaa bbb ccc ddd eee fff tail1 tail2")))
    assert(got(2L) == ((8L, 6L, "pre post")))
    assert(got(3L) == ((6L, 0L, "totally different words only here now")))
  }

  test("span family: xxhash64 gram keys produce results identical to md5") {
    // the production-path hash (native codegen'd long) must be a pure
    // key-width/CPU swap: same spans, same stripped text, on a real
    // corpus (sf0.001 documents) where gram structure is rich
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    def spanSet(h: String) =
      Dedup.crossDocSpans(docs, "doc_id", "text", k = 5, minDocs = 2,
        gramHash = h).as[(Long, Long, Long, Long)].collect().toSet
    val md5Spans = spanSet("md5")
    assert(md5Spans.nonEmpty, "fixture has no shared spans — test is vacuous")
    assert(spanSet("xxhash64") == md5Spans)
    def stripped(h: String) =
      Dedup.stripCrossDocSpans(docs, "doc_id", "text", k = 5, minDocs = 2,
        gramHash = h).as[(Long, Long, Long, String)].collect().toSet
    assert(stripped("xxhash64") == stripped("md5"))
    val bad = intercept[IllegalArgumentException] {
      Dedup.crossDocSpans(docs, "doc_id", "text", gramHash = "fnv")
    }
    assert(bad.getMessage.contains("gramHash"))
  }

  test("stripSpansSharedWith removes exactly the eval-leaked spans from train") {
    // train doc 2 embeds eval doc 1's benchmark question verbatim; train
    // doc 4 is clean. Only the leaked run is stripped — and an overlap
    // shorter than k (doc 4 shares a 2-token phrase) survives.
    val eval_ = Seq((1L, "what is the capital of france answer paris"))
      .toDF("doc_id", "text")
    val train = Seq(
      (2L, "intro what is the capital of france answer paris outro"),
      (4L, "the capital markets report something else entirely here")
    ).toDF("doc_id", "text")
    val got = Dedup.stripSpansSharedWith(train, eval_, "doc_id", "text", k = 5)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(2L) == ((10L, 8L, "intro outro")))
    assert(got(4L) == ((8L, 0L,
      "the capital markets report something else entirely here")))
  }

  test("banded simhash: subset of the exact result, only qualifying pairs") {
    // Same fixture as the exactness test; banding with fewer chunks than
    // radius+1 may MISS pairs (documented recall < 1) but must never
    // invent one or return a pair beyond the radius.
    val words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split(" ")
    val docs = (0 until 10).map { i =>
      (i.toLong, (words.drop(i % 4) ++ words.take(3 + i % 5)).mkString(" "))
    }.toDF("doc_id", "text")
    val exact = Dedup.simhashNearDups(docs, "doc_id", "text", maxHamming = 12,
      allowWideRadius = true)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    val banded = Dedup.simhashNearDupsBanded(docs, "doc_id", "text",
      maxHamming = 12, nChunks = 4)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(banded.keySet.subsetOf(exact.keySet))
    assert(banded.values.forall(_ <= 12))
    banded.foreach { case (k, h) => assert(exact(k) == h) }
  }

  test("contamination: planted n-gram overlap detected, clean probes absent") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely unrelated training material here")).toDF("doc_id", "text")
    val probes = Seq(
      (10L, "someone said the quick brown fox runs"), // shares "the quick brown"/"quick brown fox"
      (11L, "nothing in common with anything at all"),
      (12L, "xy")                                      // < n tokens → no grams
    ).toDF("doc_id", "text")
    val hits = Dedup.contamination(corpus, probes, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits.keySet == Set(10L))
    assert(hits(10L) == 2L) // "the quick brown" + "quick brown fox"
  }

  test("survivorsByCluster: transitive survivorship, unpaired docs untouched") {
    val df = Seq((1L, "x"), (2L, "x"), (3L, "x"), (10L, "y")).toDF("id", "payload")
    val pairs = Seq((1L, 3L), (2L, 3L)).toDF("id_a", "id_b")
    val surv = Dedup.survivorsByCluster(df, pairs, "id")
      .select("id").as[Long].collect().toSet
    // 2 falls as a TRANSITIVE duplicate of 1 (via 3) even though (1,2)
    // was never a pair — the pairwise drop-id_b policy would keep it
    assert(surv == Set(1L, 10L))
    // empty pair graph ⇒ everything survives
    val none = Dedup.survivorsByCluster(df,
      spark.emptyDataFrame.select(lit(0L).as("id_a"), lit(0L).as("id_b")).limit(0),
      "id").count()
    assert(none == 4)
  }

  test("connectedComponents: copartitioned edges give identical clusters") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L),
      (4L, 5L), (5L, 6L)).toDF("a", "b")
    // edges hash-partitioned on an endpoint vs all in one partition
    val spread = Dedup.connectedComponents(pairs.repartition(4, col("a")), "a", "b")
      .as[(Long, Long)].collect().toSet
    val single = Dedup.connectedComponents(pairs.coalesce(1), "a", "b")
      .as[(Long, Long)].collect().toSet
    assert(spread == single)
  }

  test("connectedComponents: chains merge, disjoint stay apart, labels are min") {
    // chain 1-2-3-4 (diameter 3), pair (10,11), singleton edge (20,21)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L))
      .toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("winnowing: shared n+w-1 token run guarantees a shared fingerprint") {
    // n=3, w=4 ⇒ any shared run of 6 tokens must yield >= 1 shared fp
    val shared = "alpha beta gamma delta epsilon zeta"
    val d1 = s"one two $shared three four five six seven eight nine"
    val d2 = s"uno dos tres $shared cuatro cinco seis siete ocho nueve"
    val d3 = "completely different words with no overlap at all whatsoever here"
    val df = Seq((1L, d1), (2L, d2), (3L, d3)).toDF("doc_id", "text")
    val fps = df.select($"doc_id",
        Dedup.winnowFingerprints($"text", n = 3, w = 4).as("fp"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(fps(1L).toSet.intersect(fps(2L).toSet).nonEmpty)
    assert(fps(1L).toSet.intersect(fps(3L).toSet).isEmpty)
    // sketch is bounded: fewer fingerprints than grams
    assert(fps(1L).size <= d1.split(" ").length - 2)
    // pairs operator finds the planted overlap only
    val pairs = Dedup.winnowedPairs(df, "doc_id", "text", 3, 4, minShared = 1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("ngram jaccard pairs: exact overlap ratio") {
    val docs = Seq((1L, "a b c d"), (2L, "a b c e"), (3L, "x y z w")).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", shingleN = 2, threshold = 0.3)
      .as[(Long, Long, Double)].collect()
    assert(pairs.length == 1)
    val (a, b, j) = pairs.head
    assert((a, b) == (1L, 2L))
    assert(math.abs(j - 2.0 / 4.0) < 1e-12) // shingles {ab,bc,cd} vs {ab,bc,ce}
  }

  test("duplicatedSpanCoverage: shared passage counted positionally, unique docs clean") {
    import spark.implicits._
    // docs 1 and 2 share the 6-token passage "p q r s t u" (two 5-token
    // spans); doc 3 is unique; doc 4 is too short for any span
    val docs = Seq(
      (1L, "a b c p q r s t u d"),
      (2L, "p q r s t u x y z w"),
      (3L, "one two three four five six seven"),
      (4L, "tiny doc")
    ).toDF("doc_id", "text")
    val r = Dedup.duplicatedSpanCoverage(docs, "doc_id", "text", k = 5, minDocs = 2)
      .orderBy("doc_id")
      .select("doc_id", "n_tokens", "n_dup_spans", "n_covered", "flagged")
      .as[(Long, Long, Long, Long, Int)].collect()
    // spans "p q r s t" and "q r s t u" each appear in both docs →
    // 2 dup spans per doc, covering 6 positions (interval union, not 10)
    assert(r(0) == ((1L, 10L, 2L, 6L, 1)))
    assert(r(1) == ((2L, 10L, 2L, 6L, 1)))
    assert(r(2) == ((3L, 7L, 0L, 0L, 0)))
    assert(r(3) == ((4L, 2L, 0L, 0L, 0)))
    // within-doc repetition alone is NOT cross-doc duplication
    val self = Seq((9L, "m n o p q m n o p q")).toDF("doc_id", "text")
    val sr = Dedup.duplicatedSpanCoverage(self, "doc_id", "text", k = 5, minDocs = 2)
      .select("n_dup_spans").as[Long].head()
    assert(sr == 0L)
  }

  test("crossNearDups: finds cross-corpus near-dups only, never within-side pairs") {
    import spark.implicits._
    val evalDocs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "totally different words nothing shared here at all"),
      // 1 and 5 are near-dups of each other WITHIN the eval side
      (5L, "alpha beta gamma delta epsilon zeta eta iota")
    ).toDF("doc_id", "text")
    val trainDocs = Seq(
      (2L, "alpha beta gamma delta epsilon zeta eta theta"), // exact dup of 1
      (4L, "unrelated training content goes in this row too")
    ).toDF("doc_id", "text")
    val got = Dedup.crossNearDups(evalDocs, trainDocs, "doc_id", "text",
        shingleN = 2, numHashes = 64, bands = 32, threshold = 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got.contains((1L, 2L)))          // leaked eval doc found
    assert(!got.exists(p => p._1 == 3L))    // clean doc untouched
    assert(!got.contains((1L, 5L)) && !got.contains((5L, 1L))) // within-side ignored
    // the jittered near-dup also crosses at this threshold
    assert(got.contains((5L, 2L)))
  }

  test("pairAgreement: exact counts and IEEE precision/recall; empty edges") {
    val ref = Seq((1L, 2L), (1L, 3L), (4L, 5L), (6L, 7L)).toDF("id_a", "id_b")
    val cand = Seq((1L, 2L), (4L, 5L), (8L, 9L)).toDF("id_a", "id_b")
    val r = Dedup.pairAgreement(ref, cand, "id_a", "id_b")
      .as[(Long, Long, Long, Double, Double)].head()
    assert(r == ((4L, 3L, 2L, 2.0 / 3.0, 0.5)))
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val r2 = Dedup.pairAgreement(empty, cand, "id_a", "id_b")
      .as[(Long, Long, Long, Double, Double)].head()
    assert(r2 == ((0L, 3L, 0L, 0.0, 0.0)))
  }

  test("hammingPairsFromSigs: exact by pigeonhole within radius, beyond-radius excluded") {
    // sig 1 ↔ 2 differ in 2 bits; 1 ↔ 3 in 4 bits; 2 ↔ 3 in 6 bits
    val sigs = Seq(
      (1L, 0L),
      (2L, 3L),                 // bits 0,1
      (3L, 0xF0L)               // bits 4..7
    ).toDF("id", "sig")
    val got = Dedup.hammingPairsFromSigs(sigs, maxHamming = 4, nChunks = 5)
      .as[(Long, Long, Int)].collect().toSet
    assert(got == Set((1L, 2L, 2), (1L, 3L, 4)))
    // radius 0 = exact-equality blocking only
    val eq = Dedup.hammingPairsFromSigs(
      Seq((1L, 42L), (2L, 42L), (3L, 43L)).toDF("id", "sig"),
      maxHamming = 0, nChunks = 1).as[(Long, Long, Int)].collect().toSet
    assert(eq == Set((1L, 2L, 0)))
  }

  test("imageNearDups: planted same-group dups pair at hamming 0, cross-group negatives excluded") {
    import graft.multimodal.MultiModal
    // 10 docs over 5 dHash groups (doc_id % 5): the pair set must be
    // exactly {(i, i+5)} at hamming 0 even though every blob's PNG bytes
    // are unique (per-doc noise term) — the q113 fixture in miniature.
    val docs = (0L until 10L).toDF("doc_id")
    val imgs = MultiModal.synthesizeImagesFromDocs(docs, groups = 5)
    // bytes all differ → byte-exact dedup finds nothing...
    assert(imgs.select("content").as[Array[Byte]].collect().map(_.toSeq).distinct.length == 10)
    // ...but the perceptual hash pairs every same-group couple at distance 0
    val pairs = Dedup.imageNearDups(imgs, "media_id", "content", maxHamming = 4)
      .as[(Long, Long, Int)].collect().toSet
    assert(pairs == (0L until 5L).map(i => (i, i + 5L, 0)).toSet)
    // cross-group signatures are far outside the radius (≥ 32 bits apart)
    val sigs = MultiModal.perceptualHashes(imgs, "media_id", "content")
      .as[(Long, Long)].collect().toMap
    for (a <- 0L until 5L; b <- (a + 1) until 5L)
      assert(java.lang.Long.bitCount(sigs(a) ^ sigs(b)) >= 32,
        s"groups $a,$b too close")
  }

  test("dHash64 is invariant under nearest-neighbor upscaling (the resize near-dup case)") {
    // The claim behind perceptual image dedup is that RESIZES of one
    // image hash together: integer box pooling over exact 2×/4× upscales
    // reproduces the source raster bit-for-bit, so the dHash is equal —
    // while a genuinely different image lands far outside the radius.
    import graft.multimodal.MultiModal
    def gray(w: Int, h: Int, p: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val v = p(x, y) & 0xFF
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    def pat(x: Int, y: Int): Int = (x * 23 + y * 11 + ((x + y) % 3) * 40) % 256
    val h0 = MultiModal.dHash64(gray(9, 8, pat))
    assert(MultiModal.dHash64(gray(18, 16, (x, y) => pat(x / 2, y / 2))) == h0)
    assert(MultiModal.dHash64(gray(36, 32, (x, y) => pat(x / 4, y / 4))) == h0)
    // brightness inversion flips gradient signs → far outside any radius
    val inv = MultiModal.dHash64(gray(9, 8, (x, y) => 255 - pat(x, y)))
    assert(java.lang.Long.bitCount(inv ^ h0) > 16)
  }

  test("audioNearDups: planted same-group dups pair at hamming 0; envelope hash is gain-invariant") {
    import graft.multimodal.MultiModal
    val docs = (0L until 10L).toDF("doc_id")
    val auds = MultiModal.synthesizeAudioFromDocs(docs, groups = 5)
    // every WAV's bytes are unique (avalanche noise) → exact dedup blind...
    assert(auds.select("content").as[Array[Byte]].collect().map(_.toSeq).distinct.length == 10)
    // ...but the envelope hash pairs every same-group couple at distance 0
    val pairs = Dedup.audioNearDups(auds, "media_id", "content", maxHamming = 4)
      .as[(Long, Long, Int)].collect().toSet
    assert(pairs == (0L until 5L).map(i => (i, i + 5L, 0)).toSet)
    // cross-group signatures sit far outside the radius (≥ 32 bits)
    val sigs = MultiModal.audioPerceptualHashes(auds, "media_id", "content")
      .as[(Long, Long)].collect().toMap
    for (a <- 0L until 5L; b <- (a + 1) until 5L)
      assert(java.lang.Long.bitCount(sigs(a) ^ sigs(b)) >= 32,
        s"groups $a,$b too close")
    // gain invariance: halving every sample (a re-level) keeps the hash —
    // uniform scaling preserves all envelope comparisons
    val w = MultiModal.encodeWav(16000,
      Array.tabulate(65 * 64)(i => ((i / 64 + 1) * 100 * (if (i % 2 == 0) 1 else -1)).toShort))
    val wHalf = MultiModal.encodeWav(16000,
      Array.tabulate(65 * 64)(i => ((i / 64 + 1) * 50 * (if (i % 2 == 0) 1 else -1)).toShort))
    assert(MultiModal.audioEnvelopeHash64(w) == MultiModal.audioEnvelopeHash64(wHalf))
    // too-short audio fails loudly rather than hashing garbage
    intercept[IllegalArgumentException] {
      MultiModal.audioEnvelopeHash64(MultiModal.encodeWav(16000, Array.fill(10)(1.toShort)))
    }
    // resample invariance (the audio twin of dHash's resize case): a 2×
    // sample-duplicated rendition — same audio at twice the rate — keeps
    // every integer-boundary frame mean, so the hash is identical
    val src = Array.tabulate(65 * 64)(i =>
      (((i / 64 + 1) * 37 % 400 + 100) * (if (i % 2 == 0) 1 else -1)).toShort)
    val twice = src.flatMap(s => Array(s, s))
    assert(MultiModal.audioEnvelopeHash64(MultiModal.encodeWav(16000, src)) ==
      MultiModal.audioEnvelopeHash64(MultiModal.encodeWav(32000, twice)))
  }

  test("videoNearDups: planted same-group dups pair at hamming 0; any-role positional semantics") {
    import graft.multimodal.MultiModal
    // the q115 fixture in miniature: 10 docs over 5 groups, every AVI's
    // bytes unique (per-(doc, frame, pixel) noise), same-group videos
    // hash identically at every probe role
    val docs = (0L until 10L).toDF("doc_id")
    val vids = MultiModal.synthesizeVideoDupsFromDocs(docs, groups = 5)
    assert(vids.select("content").as[Array[Byte]].collect().map(_.toSeq).distinct.length == 10)
    val pairs = Dedup.videoNearDups(vids, "media_id", "content", maxHamming = 4)
      .as[(Long, Long, Int)].collect().toSet
    assert(pairs == (0L until 5L).map(i => (i, i + 5L, 0)).toSet)
    // cross-group signatures sit far outside the radius at EVERY role
    val sigs = MultiModal.videoPerceptualHashes(vids, "media_id", "content")
      .as[(Long, Int, Long)].collect().groupBy(_._2)
    for (role <- 0 until 3; a <- 0L until 5L; b <- (a + 1) until 5L) {
      val byId = sigs(role).map(t => t._1 -> t._3).toMap
      assert(java.lang.Long.bitCount(byId(a) ^ byId(b)) >= 32,
        s"role $role groups $a,$b too close")
    }
    // ---- any-role + positional semantics on hand-built containers ----
    // a frame whose dHash column signs follow an 8-bit pattern (the
    // fixture construction, noise-free): pairwise pattern Hamming ≥ 4 →
    // dHash distance ≥ 32
    def frame(pat: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(9, 8,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 8) {
        var v = 128
        img.setRGB(0, y, (v << 16) | (v << 8) | v)
        for (x <- 0 until 8) {
          v += (if (((pat >> x) & 1) == 1) 8 else -8)
          img.setRGB(x + 1, y, (v << 16) | (v << 8) | v)
        }
      }
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    val Seq(a, b, c, d, e, f) =
      Seq(0x00, 0xFF, 0x0F, 0xF0, 0x33, 0xCC).map(frame)
    val handVids = Seq(
      (1L, MultiModal.encodeAvi(Seq(a, b, c), 9, 8)),
      (2L, MultiModal.encodeAvi(Seq(d, e, c), 9, 8)), // shares ONLY the last frame with 1
      (3L, MultiModal.encodeAvi(Seq(d, e, f), 9, 8)), // shares first+middle with 2, none with 1
      (4L, MultiModal.encodeAvi(Seq(a), 9, 8)),       // 1 frame plays every role
      (5L, MultiModal.encodeAvi(Seq(b, c, a), 9, 8))  // 1's frames ROTATED: no role agrees
    ).toDF("media_id", "content")
    val hand = Dedup.videoNearDups(handVids, "media_id", "content", maxHamming = 4)
      .as[(Long, Long, Int)].collect().toSet
    // (1,2) match at the last role only; (2,3) at first+middle; (1,4) at
    // role 0 via the short video's role fan-out; (4,5) at the last role.
    // (1,5) is the load-bearing NEGATIVE: same frame set, shifted
    // positions — positional probing must NOT pair it.
    assert(hand == Set((1L, 2L, 0), (2L, 3L, 0), (1L, 4L, 0), (4L, 5L, 0)))
  }

  test("measured recall: dHash under real JPEG re-encode at quality 30/50/80") {
    // The perceptual gates prove the MECHANISM on noise/resize
    // invariances; this pins the OPERATING POINT: re-encode the planted
    // fixture (at 72×64 — 8×8-pixel cells so JPEG's DCT blocks see real
    // structure; a 9×8 original is smaller than one DCT block) as JPEG
    // at quality 0.3/0.5/0.8 and measure the hash distance distribution.
    // Recall@r = fraction of (original, re-encode) pairs within Hamming
    // radius r; the cross-group floor guards precision. Measured values
    // land in SCALE.md's operating-radius table.
    import graft.multimodal.MultiModal
    val patterns = Array(0x00, 0xFF, 0x0F, 0xF0, 0x33, 0xCC)
    def noise(id: Long, pos: Long): Int = {
      var z = id * 0x9E3779B97F4A7C15L + pos * 0xC2B2AE3D27D4EB4FL
      z ^= z >>> 29; z *= 0xBF58476D1CE4E5B9L; z ^= z >>> 32
      java.lang.Math.floorMod(z, 5L).toInt - 2
    }
    def png(id: Long): Array[Byte] = {
      val pat = patterns((id % 5).toInt)
      val base = new Array[Int](9)
      base(0) = 128
      for (x <- 0 until 8)
        base(x + 1) = base(x) + (if (((pat >> x) & 1) == 1) 8 else -8)
      val img = new java.awt.image.BufferedImage(72, 64,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 64; x <- 0 until 72) {
        val v = math.max(0, math.min(255, base(x / 8) + noise(id, y * 72L + x)))
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    val n = 100
    val pngs = (0L until n.toLong).map(png)
    val origs = pngs.map(MultiModal.dHash64)
    for (q <- Seq(0.3f, 0.5f, 0.8f)) {
      val re = pngs.map(b => MultiModal.dHash64(MultiModal.transcodeJpeg(b, q)))
      val d = (0 until n).map(i => java.lang.Long.bitCount(origs(i) ^ re(i)))
      val r4 = d.count(_ <= 4) * 100 / n
      val r8 = d.count(_ <= 8) * 100 / n
      // cross-group floor: worst (original_i, reencode_j) distance over
      // different groups — precision needs it above the radius
      val cross = (for (i <- 0 until n; j <- (i + 1) until math.min(i + 11, n)
                        if i % 5 != j % 5)
        yield java.lang.Long.bitCount(origs(i) ^ re(j))).min
      info(f"dhash jpeg q$q%.1f: recall@4=$r4%d%% recall@8=$r8%d%% " +
        f"maxDist=${d.max}%d crossFloor=$cross%d")
      assert(cross > 8, s"dhash q$q: cross-group floor $cross inside radius 8")
      // the fixture's block-mean gradients survive JPEG exactly at
      // every quality — pin it so a pooling/encoder regression shows
      assert(r4 == 100, s"dhash q$q: recall@4 $r4 < 100")
    }
    // ---- decision boundary: how small a gradient step survives? ----
    // The fixture's 8-gray-level steps are JPEG-easy. Sweep the step with
    // DCT-MISALIGNED 9-pixel cells (81×72, boundaries never on an 8×8
    // block edge — worst case for ringing) and no noise: the measured
    // minimum surviving step is the real statement about what a JPEG
    // re-encode can blur before dHash misses at radius 4.
    def stepPng(step: Int, id: Long): Array[Byte] = {
      val pat = patterns((id % 5).toInt)
      val base = new Array[Int](9)
      base(0) = 128
      for (x <- 0 until 8)
        base(x + 1) = base(x) + (if (((pat >> x) & 1) == 1) step else -step)
      val img = new java.awt.image.BufferedImage(81, 72,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 72; x <- 0 until 81) {
        val v = math.max(0, math.min(255, base(x / 9)))
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    for (step <- Seq(8, 4, 2); q <- Seq(0.3f, 0.8f)) {
      val d = (0L until 25L).map { id =>
        val b = stepPng(step, id)
        java.lang.Long.bitCount(MultiModal.dHash64(b) ^
          MultiModal.dHash64(MultiModal.transcodeJpeg(b, q)))
      }
      val r4 = d.count(_ <= 4) * 100 / 25
      info(f"dhash misaligned step=$step%d q$q%.1f: recall@4=$r4%d%% maxDist=${d.max}%d")
      // measured boundary: gradients of ≥ 4 gray levels survive JPEG
      // exactly down to q0.3 even DCT-misaligned; 2-level gradients
      // degrade at q0.3 but stay within radius 8 — the basis for the
      // SCALE.md recommendation (radius 4 default, radius 8 for
      // aggressively recompressed corpora)
      if (step >= 4) assert(d.max == 0, s"step=$step q$q maxDist ${d.max}")
      else assert(d.max <= 8, s"step=$step q$q maxDist ${d.max}")
    }
  }

  test("measured recall: envelope hash under resample and bit-depth quantization") {
    // The audio operating point: the fixture's envelope steps are ±50
    // (16-bit full scale), so quantization to b bits survives while the
    // quantization step 2^(16-b) stays below the envelope step and
    // collapses once it exceeds it — the measured table pins where that
    // happens (12-bit fine, 10-bit marginal, 8-bit destroyed), i.e. the
    // recommended rule: envelope step must exceed the re-encode's
    // quantization step. Decimation to 8 kHz (every 2nd sample) keeps
    // frame means and must stay at distance ~0.
    import graft.multimodal.MultiModal
    val n = 100
    val docs = (0L until n.toLong).toDF("doc_id")
    val wavs = MultiModal.synthesizeAudioFromDocs(docs, groups = 5)
      .select("media_id", "content").as[(Long, Array[Byte])]
      .collect().sortBy(_._1).map(_._2)
    val origs = wavs.map(MultiModal.audioEnvelopeHash64)
    for ((rate, bits) <- Seq((8000, 16), (16000, 12), (16000, 10), (16000, 8))) {
      val re = wavs.map(b =>
        MultiModal.audioEnvelopeHash64(MultiModal.transcodeWav(b, rate, bits)))
      val d = (0 until n).map(i => java.lang.Long.bitCount(origs(i) ^ re(i)))
      val r4 = d.count(_ <= 4) * 100 / n
      val r8 = d.count(_ <= 8) * 100 / n
      val cross = (for (i <- 0 until n; j <- (i + 1) until math.min(i + 11, n)
                        if i % 5 != j % 5)
        yield java.lang.Long.bitCount(origs(i) ^ re(j))).min
      info(f"wav ${rate}Hz/${bits}bit: recall@4=$r4%d%% recall@8=$r8%d%% " +
        f"maxDist=${d.max}%d crossFloor=$cross%d")
      // pin the measured boundaries (fixture envelope step 50, i.e.
      // ~0.15% of full scale): decimation and 12-bit (quant step 16)
      // are lossless for the hash; 10-bit (step 64 > 50) partial but
      // inside radius 8; 8-bit (step 256) collapses BOTH recall and the
      // cross-group precision floor — radius tuning cannot rescue it
      (rate, bits) match {
        case (8000, 16) => assert(d.max == 0, s"decimation maxDist ${d.max}")
        case (16000, 12) => assert(r4 == 100, s"12-bit recall@4 $r4")
        case (16000, 10) => assert(r8 == 100 && r4 >= 50,
          s"10-bit recall@8 $r8 recall@4 $r4")
        case (16000, 8) => assert(r8 <= 50 && cross <= 8,
          s"8-bit should collapse: recall@8 $r8 crossFloor $cross")
        case _ =>
      }
    }
  }

  test("editDistancePairs equals the brute-force levenshtein filter at d=1 and d=2") {
    import spark.implicits._
    val rnd = new scala.util.Random(31337)
    val alpha = "abc" // tiny alphabet: dense near-matches
    val strs = (0 until 120).map { i =>
      (i.toLong, (0 until (2 + rnd.nextInt(5)))
        .map(_ => alpha(rnd.nextInt(alpha.length))).mkString)
    }
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1)(identity)
      for (j <- 1 to b.length) {
        var prev = dp(0); dp(0) = j
        for (i <- 1 to a.length) {
          val cur = dp(i)
          dp(i) = math.min(math.min(dp(i) + 1, dp(i - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = cur
        }
      }
      dp(a.length)
    }
    val df = strs.toDF("id", "s")
    for (d <- Seq(0, 1, 2)) {
      val expected = (for {
        (ia, sa) <- strs; (ib, sb) <- strs
        if ia < ib && lev(sa, sb) <= d
      } yield (ia, ib, lev(sa, sb).toLong)).toSet
      val got = graft.dedup.Dedup.editDistancePairs(df, "id", "s", d)
        .as[(Long, Long, Long)].collect().toSet
      assert(got == expected, s"d=$d: ${got.size} vs ${expected.size}")
    }
  }

  test("deletionNeighborhood: distinct variants incl original; surrogate pairs atomic") {
    import spark.implicits._
    import graft.functions.TextFunctions
    def nbh(s: String, d: Int): Set[String] =
      Seq(s).toDF("s").select(TextFunctions.deletionNeighborhood(col("s"), d))
        .as[Seq[String]].head().toSet
    assert(nbh("ab", 1) == Set("ab", "a", "b"))
    assert(nbh("aa", 1) == Set("aa", "a"))            // dedup of equal variants
    assert(nbh("abc", 2) == Set("abc", "ab", "ac", "bc", "a", "b", "c"))
    assert(nbh("", 2) == Set(""))
    assert(nbh("x", 1) == Set("x", ""))
    // U+1F600 is a surrogate pair: deleting it removes BOTH chars
    val emoji = new String(Character.toChars(0x1F600))
    assert(nbh(s"a$emoji", 1) == Set(s"a$emoji", "a", emoji))
  }
}
