package graft

import org.apache.spark.sql.functions._
import graft.analyze.TextAnalysis

class TextSpec extends SparkSpec {
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column, s: String): Any =
    Seq(s).toDF("t").select(c.as("v")).head.get(0)

  test("token counts: whitespace and bpe-ish") {
    assert(one(TextAnalysis.tokenCount(col("t")), "a  b\tc") == 3)
    assert(one(TextAnalysis.tokenCount(col("t")), "   ") == 0)
    assert(one(TextAnalysis.bpeishTokenCount(col("t")), "hello world42!") == 4)
  }

  test("stopword / punct ratios") {
    assert(one(TextAnalysis.stopwordRatio(col("t")), "the cat and dog") == 0.5)
    assert(one(TextAnalysis.punctRatio(col("t")), "ab!!") == 0.5)
  }

  test("quality score in [0,1] and sane ordering") {
    val good = "the quick brown fox jumps over the lazy dog near the quiet river bank today"
    val bad = "!!! ??? ***"
    val qg = one(TextAnalysis.qualityScore(col("t")), good).asInstanceOf[Double]
    val qb = one(TextAnalysis.qualityScore(col("t")), bad).asInstanceOf[Double]
    assert(qg >= 0 && qg <= 1 && qb >= 0 && qb <= 1 && qg > qb)
  }

  test("language id heuristic on obvious samples") {
    assert(one(TextAnalysis.langIdHeuristic(col("t")),
      "the cat is on the mat and the dog is here") == "en")
    assert(one(TextAnalysis.langIdHeuristic(col("t")),
      "der Hund und die Katze und das Haus ist hier") == "de")
    assert(one(TextAnalysis.langIdHeuristic(col("t")), "zzz qqq xxx") == "und")
  }

  test("fingerprint is whitespace/case invariant; rolling hash is order sensitive") {
    val f1 = one(TextAnalysis.fingerprint(col("t")), "Hello   World")
    val f2 = one(TextAnalysis.fingerprint(col("t")), "hello world")
    assert(f1 == f2)
    val r1 = one(TextAnalysis.rollingHash(col("t")), "a b c")
    val r2 = one(TextAnalysis.rollingHash(col("t")), "c b a")
    assert(r1 != r2)
  }

  test("tfidf: corpus-wide rare-but-frequent term wins") {
    import spark.implicits._
    val docs = Seq(
      (1L, "zebra zebra zebra zebra zebra zebra"),
      (2L, "the cat and the dog and the bird"),
      (3L, "the cat and the dog and the fish")).toDF("doc_id", "text")
    val ratio = TextAnalysis.tfidfTopTerms(docs, "doc_id", "text", k = 3)
      .select("rank", "term").as[(Int, String)].collect().toMap
    assert(ratio(1) == "zebra") // tf=6, df=1, N=3 → 18; "the" tf=6 df=2 → 9
    assert(ratio == Map(1 -> "zebra", 2 -> "the", 3 -> "and")) // "and" 4·3/2 = 6
  }

  test("packSequences: bins respect the budget, all docs accounted, deterministic") {
    import spark.implicits._
    // 10 docs of 5 tokens each per shard → budget 12 ⇒ bins of exactly
    // ceil? exclusive-prefix rule: docs at cum-exclusive 0,5,10 → bin 0;
    // 15,20 → bin 1 ... (a doc may straddle; bin totals may exceed budget
    // by at most one doc's tokens — the standard packing contract)
    val docs = (0 until 20).map(i =>
      (i.toLong, ("w " * 5).trim, if (i < 10) "a" else "b")).toDF("doc_id", "text", "shard")
    val bins = TextAnalysis.packSequences(docs, "doc_id", "text", 12, col("shard"))
      .as[(String, Long, Long, Long)].collect().sortBy(t => (t._1, t._2))
    assert(bins.map(_._4).sum == 100) // every token lands in exactly one bin
    assert(bins.map(_._3).sum == 20)  // every doc in exactly one bin
    // exclusive-prefix binning: starts at 0,5,10 → bin 0; 15,20 → bin 1; ...
    assert(bins.count(_._1 == "a") == bins.count(_._1 == "b"))
    bins.foreach { case (_, _, nDocs, tok) => assert(tok <= 12 + 5 && nDocs <= 3) }
    val again = TextAnalysis.packSequences(docs, "doc_id", "text", 12, col("shard"))
      .as[(String, Long, Long, Long)].collect().sortBy(t => (t._1, t._2))
    assert(bins.toSeq == again.toSeq)
  }

  test("hashSample: deterministic subset, disjoint residue classes cover the corpus") {
    import spark.implicits._
    val docs = (0L until 400L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val s1 = TextAnalysis.hashSample(docs, "doc_id", 4, 1)
      .select("doc_id").as[Long].collect().toSet
    val s2 = TextAnalysis.hashSample(docs, "doc_id", 4, 1)
      .select("doc_id").as[Long].collect().toSet
    assert(s1 == s2 && s1.nonEmpty && s1.size < 400)
    // keep = modulus ⇒ everything; keep = 0 ⇒ nothing
    assert(TextAnalysis.hashSample(docs, "doc_id", 4, 4).count() == 400)
    assert(TextAnalysis.hashSample(docs, "doc_id", 4, 0).count() == 0)
    // roughly proportional (md5 uniformity): 1/4 of 400 within wide bounds
    assert(s1.size > 50 && s1.size < 150)
  }

  test("repetitionProfile: hand-computed counts, fracs, and flag") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a a a b"),                  // top token a×4, bigrams: "a a"×3, "a b"
      (2L, "one two three four five"),    // fully diverse
      (3L, "x")                           // single token, zero bigrams
    ).toDF("doc_id", "text")
    val r = TextAnalysis.repetitionProfile(docs, "doc_id", "text")
      .orderBy("doc_id")
      .select("doc_id", "n_tokens", "n_distinct_tokens", "top_token_n",
        "n_bigrams", "top_bigram_n", "top_bigram_frac", "low_quality")
      .as[(Long, Long, Long, Long, Long, Long, Double, Int)].collect()
    assert(r(0) == ((1L, 5L, 2L, 4L, 4L, 3L, 0.75, 1)))  // 4/5 top token → flagged
    assert(r(1) == ((2L, 5L, 5L, 1L, 4L, 1L, 0.25, 1)))  // top bigram 25% > 18%
    assert(r(2) == ((3L, 1L, 1L, 1L, 0L, 0L, 0.0, 1)))   // top token 100%
    // a genuinely diverse long doc is NOT flagged
    val long = (0 until 40).map(i => s"w$i").mkString(" ")
    val ok = TextAnalysis.repetitionProfile(
        Seq((9L, long)).toDF("doc_id", "text"), "doc_id", "text")
      .select("low_quality").as[Int].head()
    assert(ok == 0)
  }

  test("piiProfile: scrubs emails/IPs/phones with typed placeholders, counts each") {
    import spark.implicits._
    val docs = Seq(
      (1L, "mail a.b+c%d@sub.example.org now"),
      (2L, "host 10.0.255.7 and 192.168.1.1 up"),
      (3L, "call 555-123-4567 twice 555-123-4567"),
      (4L, "no pii here at all"),
      (5L, "mix x@y.io 1.2.3.4 555-000-1111")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.piiProfile(docs, "doc_id", "text").orderBy("doc_id")
      .as[(Long, Int, Int, Int, String)].collect()
    assert(r(0) == ((1L, 1, 0, 0, "mail <EMAIL> now")))
    assert(r(1) == ((2L, 0, 2, 0, "host <IP> and <IP> up")))
    assert(r(2) == ((3L, 0, 0, 2, "call <PHONE> twice <PHONE>")))
    assert(r(3) == ((4L, 0, 0, 0, "no pii here at all")))
    assert(r(4) == ((5L, 1, 1, 1, "mix <EMAIL> <IP> <PHONE>")))
    // version numbers / short digit runs are NOT redacted
    val keep = Seq((6L, "v1.2 beta build 123-45")).toDF("doc_id", "text")
    assert(TextAnalysis.piiProfile(keep, "doc_id", "text")
      .select("scrubbed").as[String].head() == "v1.2 beta build 123-45")
  }

  test("repetitionGate keeps exactly the profile's unflagged docs; no helper columns leak") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a a a b"),
      (2L, (0 until 40).map(i => s"w$i").mkString(" ")),
      (3L, "one two three four five"),
      (4L, (0 until 25).map(i => s"tok$i a").mkString(" "))
    ).toDF("doc_id", "text")
    val gated = TextAnalysis.repetitionGate(docs, "text")
    assert(gated.columns.toSeq == Seq("doc_id", "text"))
    val fromProfile = TextAnalysis.repetitionProfile(docs, "doc_id", "text")
      .filter($"low_quality" === 0).select("doc_id").as[Long].collect().toSet
    assert(gated.select("doc_id").as[Long].collect().toSet == fromProfile)
  }

  test("stratifiedHashSample: per-stratum rates honored, deterministic, subset of plain sample") {
    import spark.implicits._
    val docs = (0L until 900L).map(i =>
      (i, Seq("en", "de", "zh")(((i % 3).toInt)))).toDF("doc_id", "lang")
    val s1 = TextAnalysis.stratifiedHashSample(docs, "doc_id", "lang",
      100, Map("en" -> 100, "de" -> 0), defaultKeep = 50)
    val byLang = s1.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(byLang("en") == 300L)            // keep-all stratum is exhaustive
    assert(!byLang.contains("de"))          // keep-none stratum vanishes
    val zh = byLang("zh")
    assert(zh > 100 && zh < 200, s"zh=$zh") // ~50% of 300, md5-uniform
    // deterministic + consistent with the flat sampler (same key space):
    // a stratum at rate k/100 is EXACTLY the flat k/100 sample of it
    val flat = TextAnalysis.hashSample(docs.filter($"lang" === "zh"),
      "doc_id", 100, 50).select("doc_id").as[Long].collect().toSet
    val strat = s1.filter($"lang" === "zh").select("doc_id").as[Long].collect().toSet
    assert(strat == flat)
  }

  test("chunkTokens: starts/lengths/overlap; short and empty docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 toks, win 4 stride 3
      (2L, "a b"),                                    // shorter than win
      (3L, "   "),                                    // whitespace-only: no chunks
      (4L, null.asInstanceOf[String])                 // null: no chunks
    ).toDF("doc_id", "text")
    val c = TextAnalysis.chunkTokens(docs, "doc_id", "text", win = 4, stride = 3)
      .orderBy("doc_id", "chunk_idx")
      .as[(Long, Int, Int, Int, String)].collect()
    assert(c.count(_._1 == 1L) == 4)                  // starts 1,4,7,10
    assert(c.filter(_._1 == 1L).map(_._3).toSeq == Seq(1, 4, 7, 10))
    assert(c.filter(_._1 == 1L).map(_._4).toSeq == Seq(4, 4, 4, 1))
    assert(c.find(x => x._1 == 1L && x._2 == 1).get._5 == "t4 t5 t6 t7")
    // adjacent chunks overlap by win - stride = 1 token
    assert(c.find(x => x._1 == 1L && x._2 == 0).get._5.endsWith("t4"))
    assert(c.filter(_._1 == 2L).toSeq == Seq((2L, 0, 1, 2, "a b")))
    assert(!c.exists(x => x._1 == 3L || x._1 == 4L))
  }

  test("mixtureSample: integer targets honored, scarce stratum keeps all, deterministic") {
    import spark.implicits._
    // strata: "big" 400 rows, "small" 10 rows (scarcer than its target)
    val df = ((0L until 400L).map(i => (i, "big")) ++
      (1000L until 1010L).map(i => (i, "small"))).toDF("doc_id", "src")
    val out = TextAnalysis.mixtureSample(df, "doc_id", "src",
      Map("big" -> 1, "small" -> 1), budget = 100L, modulus = 100)
    val byKeep = out.select("src", "keep_k").distinct()
      .as[(String, Int)].collect().toMap
    // target 50 each: big keeps 100*50/400 = 12 residues; small capped at 100
    assert(byKeep("big") == 12 && byKeep("small") == 100)
    val n = out.groupBy("src").count().as[(String, Long)].collect().toMap
    assert(n("small") == 10L)                        // scarce keeps everything
    assert(n("big") > 30L && n("big") < 70L)         // ~12% of 400, md5-uniform
    // rate semantics match the flat sampler exactly
    val flat = TextAnalysis.hashSample(df.filter($"src" === "big"),
      "doc_id", 100, 12).select("doc_id").as[Long].collect().toSet
    assert(out.filter($"src" === "big").select("doc_id")
      .as[Long].collect().toSet == flat)
  }

  test("vocabCoverage: top-V cut is deterministic; OOV counts occurrences") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a a b b c"),   // corpus counts: a=4, b=3, c=2, d=1
      (2L, "a b c d")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.vocabCoverage(docs, "doc_id", "text", vocabSize = 2)
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect()
    // vocab = {a, b}; doc 1: 1 OOV occurrence of c; doc 2: c and d OOV
    assert(r(0) == ((1L, 6L, 1L, 1.0 / 6.0)))
    assert(r(1) == ((2L, 4L, 2L, 0.5)))
    // tie at the boundary cuts by token order: with V=3, c (count 2)
    // beats d (count 1); with counts tied the lexicographic token wins
    val docs2 = Seq((1L, "x y"), (2L, "x y")).toDF("doc_id", "text")
    val r2 = TextAnalysis.vocabCoverage(docs2, "doc_id", "text", vocabSize = 1)
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect()
    assert(r2.forall(x => x._3 == 1L)) // vocab = {x}: y is OOV everywhere
  }

  test("stratumQuantileGate keeps the per-stratum top fraction with tie-broken total order") {
    import spark.implicits._
    // stratum A: scores 1..4 (keep pr >= 0.5 -> scores 3,4)
    // stratum B: all-tied scores -> tiebreak by id; keep the upper half
    val df = (Seq((1L, "A", 1.0), (2L, "A", 2.0), (3L, "A", 3.0), (4L, "A", 4.0)) ++
      (10L until 14L).map(i => (i, "B", 7.0))).toDF("id", "src", "score")
    val kept = TextAnalysis.stratumQuantileGate(df, "src", col("score"), col("id"), 0.5)
      .select("id").as[Long].collect().toSet
    assert(kept == Set(3L, 4L, 12L, 13L))
  }

  test("bpeTrain learns deterministic merges; bpeSegment replays them; overlaps are leftmost") {
    import spark.implicits._
    // corpus: "ab" x3, "abc" x2 -> pair counts (a,b)=5, (b,</w>)=3,
    // (b,c)=2, (c,</w>)=2 -> merge 1 = (a,b); then (ab,</w>)=3 wins
    val docs = Seq("ab ab ab abc abc").toDF("text")
    val merges = TextAnalysis.bpeTrain(docs, "text", nMerges = 2)
    assert(merges == Seq(("a", "b"), ("ab", "</w>")))
    val seg = Seq("ab abc").toDF("t")
      .select(TextAnalysis.bpeSegment(col("t"), merges).as("s"))
      .as[Seq[String]].head
    assert(seg == Seq("ab</w>", "ab", "c", "</w>"))
    // leftmost-non-overlapping: merging (a,a) over "aaa" gives aa + a
    val seg2 = Seq("aaa").toDF("t")
      .select(TextAnalysis.bpeSegment(col("t"), Seq(("a", "a"))).as("s"))
      .as[Seq[String]].head
    assert(seg2 == Seq("aa", "a", "</w>"))
    // merge exhaustion stops early instead of looping
    val m2 = TextAnalysis.bpeTrain(Seq("x").toDF("text"), "text", nMerges = 10)
    assert(m2.length <= 2 && m2.head == (("x", "</w>")))
    // empty / whitespace-only docs segment to [] (tokens('') yields [""];
    // the spurious ["", "</w>"] would diverge from the q94 oracle's trim)
    val segEmpty = Seq("", "   ", "\t\n").toDF("t")
      .select(TextAnalysis.bpeSegment(col("t"), merges).as("s"))
      .as[Seq[String]].collect()
    assert(segEmpty.forall(_.isEmpty), segEmpty.toSeq.toString)
  }

  test("stratumQuantileGate giant-stratum fallback agrees with exact within sketch error") {
    import spark.implicits._
    // one oversized uniform stratum (10k distinct scores) + one small
    val rows = (1 to 10000).map(i => ("big", i.toDouble, i.toLong)) ++
      (1 to 100).map(i => ("small", i.toDouble, i.toLong))
    val df = rows.toDF("src", "score", "id")
    val exact = TextAnalysis.stratumQuantileGate(df, "src", col("score"), col("id"), 0.25)
    val fb = TextAnalysis.stratumQuantileGate(df, "src", col("score"), col("id"), 0.25,
      maxExactStratumRows = 1000, accuracy = 10000)
    // under-knob stratum: identical kept set, rank still reported
    def ids(d: org.apache.spark.sql.DataFrame, s: String) =
      d.filter(col("src") === s).select("id").as[Long].collect().toSet
    assert(ids(fb, "small") == ids(exact, "small"))
    assert(fb.filter(col("src") === "small" && col("pr").isNull).count() == 0)
    // oversized stratum: sketch path — kept sets agree within the
    // accuracy bound (rank error ~ n/accuracy ≈ 1 row here; allow slack),
    // and no rank is reported (the sort it would need is the point)
    val d = (ids(fb, "big") -- ids(exact, "big")) ++ (ids(exact, "big") -- ids(fb, "big"))
    assert(d.size <= 20, s"kept-set disagreement ${d.size} rows")
    assert(fb.filter(col("src") === "big" && col("pr").isNotNull).count() == 0)
    // user columns that collide with the internal temp names must not
    // make the fallback's joins/drops ambiguous or eat user data
    val dfc = df.withColumn("__stratum_n", lit("mine")).withColumn("__thr", lit(-1))
    val fbc = TextAnalysis.stratumQuantileGate(dfc, "src", col("score"), col("id"), 0.25,
      maxExactStratumRows = 1000, accuracy = 10000)
    assert(ids(fbc, "small") == ids(exact, "small"))
    assert(fbc.columns.count(_ == "__stratum_n") == 1 &&
      fbc.columns.count(_ == "__thr") == 1)
    assert(fbc.select("__stratum_n").distinct().collect().map(_.getString(0)).toSeq == Seq("mine"))
    // a pre-existing 'pr' column is refused loudly, not silently clobbered
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.stratumQuantileGate(df.withColumn("pr", lit(1)),
        "src", col("score"), col("id"), 0.25)
    }
    assert(e.getMessage.contains("pr"))
  }

  test("batched BPE training equals serial; disjoint-prefix batching cuts rounds") {
    import spark.implicits._
    // power-of-2 word frequencies keep pair counts tie-free around the
    // batch boundaries (the regime where prefix batching is provably
    // serial-equal; see bpeTrain scaladoc — natural ties like every
    // pair of a single word counting the same CAN reorder commuting
    // merges, so the corpus is chosen tie-free by construction)
    val freqs = Seq("mejlcni" -> 1, "ifljffgin" -> 2, "ccnfmnmb" -> 4,
      "nlgmj" -> 8, "agldfhce" -> 16, "gnmdfcl" -> 32, "jfaien" -> 64,
      "kinhkb" -> 128, "igid" -> 256)
    val corpus = freqs.flatMap { case (w, f) => Seq.fill(f)(w) }.mkString(" ")
    val docs = Seq(corpus).toDF("text")
    val (serial, serialRounds) =
      TextAnalysis.bpeTrainWithStats(docs, "text", nMerges = 24, batchCap = 1)
    val (batched, batchedRounds) =
      TextAnalysis.bpeTrainWithStats(docs, "text", nMerges = 24, batchCap = 64)
    assert(serial.length == 24 && serialRounds == 24)
    assert(batched == serial)
    // the measured point of the batching: materially fewer Spark rounds
    assert(batchedRounds * 2 <= serialRounds,
      s"expected <= ${serialRounds / 2} rounds, got $batchedRounds")
    // the batched model is VALID: segmenting corpus words yields
    // subwords that concatenate back to the original word + terminal marker
    val segs = freqs.map(_._1).toDF("t")
      .select(col("t"), TextAnalysis.bpeSegment(col("t"), batched).as("s"))
      .as[(String, Seq[String])].collect()
    segs.foreach { case (w, s) =>
      assert(s.mkString == w + "</w>", s"$w segmented to $s") }
  }

  test("BpeFixture segments known corpus words to single subwords (q94 model pin)") {
    import spark.implicits._
    // the frozen 32-merge model fully merges its highest-frequency
    // training words; a silent edit to the fixture order breaks this
    val seg = Seq("window column order sort scan").toDF("t")
      .select(TextAnalysis.bpeSegment(col("t"), graft.analyze.BpeFixture.merges).as("s"))
      .as[Seq[String]].head
    assert(seg == Seq("window</w>", "column</w>", "order</w>",
      "s", "ort</w>", "scan</w>"))
    // no left side contains the terminal marker (keeps per-word and
    // whole-stream replay equivalent — documented in the fixture)
    assert(graft.analyze.BpeFixture.merges.forall(!_._1.contains("</w>")))
  }

  test("bigramFluency: exact corpus counts; short docs report zeros") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c"),   // bigrams: "a b", "b c"
      (2L, "a b"),     // bigram:  "a b"  -> corpus freq("a b") = 2
      (3L, "x")        // no bigrams
    ).toDF("doc_id", "text")
    val r = TextAnalysis.bigramFluency(docs, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect()
    assert(r(0) == ((1L, 2L, 3L, 1.5)))  // freqs 2 ("a b") + 1 ("b c")
    assert(r(1) == ((2L, 1L, 2L, 2.0)))
    assert(r(2) == ((3L, 0L, 0L, 0.0)))
  }

  test("bigramLmScore: add-one smoothing, unseen grams and histories, short docs") {
    import spark.implicits._
    // train = even docs 2+4: tokens a b a c | a -> c1: a=3 b=1 c=1, V=3;
    // bigrams (a,b) (b,a) (a,c) each once
    val docs = Seq(
      (1L, "a b d"),  // (a,b): (1+1)/(3+3)=1/3; (b,d) unseen: 1/(1+3)=0.25
      (2L, "a b a c"),// 1/3, (b,a): 2/4=0.5, (a,c): 2/6=1/3 -> mean 7/18
      (3L, "z q"),    // unseen history z: 1/(0+3)
      (4L, "a")       // no bigrams
    ).toDF("doc_id", "text")
    val r = TextAnalysis.bigramLmScore(docs,
        docs.filter($"doc_id" % 2 === 0), "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Double)].collect()
    assert(r(0) == ((1L, 2L, 0.2917)))
    assert(r(1) == ((2L, 3L, 0.3889)))
    assert(r(2) == ((3L, 1L, 0.3333)))
    assert(r(3) == ((4L, 0L, 0.0)))
  }

  test("gramStrings: literal n-grams, short-doc empties, q42 tokenization") {
    val g3 = (s: String) =>
      Seq(s).toDF("t").select(TextAnalysis.gramStrings(col("t"), 3).as("g"))
        .as[Seq[String]].head
    assert(g3("A  b\tc d") == Seq("a b c", "b c d")) // lowercased, ws-normalized
    assert(g3("a b") == Seq.empty)                   // fewer than n tokens
    assert(g3("") == Seq.empty)
    assert(g3("x y z") == Seq("x y z"))
    val g1 = Seq("Aa bb").toDF("t")
      .select(TextAnalysis.gramStrings(col("t"), 1).as("g")).as[Seq[String]].head
    assert(g1 == Seq("aa", "bb"))
  }

  test("heavyHitters: equals the naive group-count-filter with the sketch under pressure") {
    // key space (201 distinct) >> sketch size (D = 8) across 7 partitions:
    // every partition's MG map saturates and the decrement path runs. The
    // zipf-ish fixture plants heavy keys h0..h2 plus a long uniform tail;
    // exactness must hold regardless.
    val rows = (0 until 3).flatMap(h => Seq.fill(400 - 100 * h)(s"h$h")) ++
      (0 until 2000).map(i => s"t${i % 198}")
    // deterministic interleave so heavy keys spread over partitions
    val df = rows.sortBy(_.hashCode).toDF("v").repartition(7)
    val d = 8
    val got = TextAnalysis.heavyHitters(df, col("v"), d)
      .as[(String, Long)].collect().toMap
    val n = rows.size.toLong
    val naive = rows.groupBy(identity).view.mapValues(_.size.toLong)
      .filter { case (_, c) => c * d >= n }.toMap
    assert(naive.nonEmpty && naive.size < 10)  // fixture sanity: selective
    assert(got == naive)
  }

  test("heavyHitters: exact-threshold boundary, nulls dropped, empty input") {
    // N = 12, D = 4 -> threshold cnt*4 >= 12 i.e. cnt >= 3 exactly: "x"
    // sits ON the boundary (3*4 == 12) and must be included; nulls are
    // not items and count toward neither N nor the candidates
    val df = (Seq.fill(3)("x") ++ Seq.fill(7)("y") ++ Seq("a", "b"))
      .map(Option(_)).padTo(15, None).toDF("v").repartition(3)
    val got = TextAnalysis.heavyHitters(df, col("v"), 4)
      .as[(String, Long)].collect().toMap
    assert(got == Map("x" -> 3L, "y" -> 7L))
    val empty = TextAnalysis.heavyHitters(
      Seq.empty[String].toDF("v"), col("v"), 4).collect()
    assert(empty.isEmpty)
  }

  test("weightedPrioritySample: exact reference order, weight monotone, edge cases") {
    import spark.implicits._
    def h32(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16)
    }
    val rows = (1L to 300L).map(i => (i, (i % 7 + 1) * 10L))
    val expected = rows
      .sortBy { case (id, w) => (h32(id).toDouble / w.toDouble, id) }
      .take(50).map(_._1).toSet
    val got = TextAnalysis.weightedPrioritySample(
        rows.toDF("id", "w"), "id", "w", 50)
      .select("id").as[Long].collect()
    assert(got.toSet == expected)
    // a dominant weight forces inclusion (priority ~ h/1e9 ≈ 0)
    val withGiant = rows :+ ((1000L, 1000000000L))
    val top10 = TextAnalysis.weightedPrioritySample(
        withGiant.toDF("id", "w"), "id", "w", 10)
      .select("id").as[Long].collect().toSet
    assert(top10.contains(1000L))
    // k >= n returns every positive-weight row; null/zero/negative drop
    val messy = Seq((1L, Some(5L)), (2L, None), (3L, Some(0L)),
      (4L, Some(-2L)), (5L, Some(1L))).toDF("id", "w")
    val all = TextAnalysis.weightedPrioritySample(messy, "id", "w", 100)
      .select("id").as[Long].collect().toSet
    assert(all == Set(1L, 5L))
    assert(TextAnalysis.weightedPrioritySample(messy, "id", "w", 0).count() == 0)
    // per-group quota: exact reference within each group
    val grouped = (1L to 200L).map(i => (i, (i % 5 + 1) * 10L, s"g${i % 3}"))
    val perRef = grouped.groupBy(_._3).flatMap { case (_, rows) =>
      rows.sortBy { case (id, w, _) => (h32(id).toDouble / w.toDouble, id) }
        .take(7).map(_._1)
    }.toSet
    val perGot = TextAnalysis.weightedPrioritySamplePerGroup(
        grouped.toDF("id", "w", "g"), "id", "w", "g", 7)
      .select("id").as[Long].collect()
    assert(perGot.length == 21 && perGot.toSet == perRef)
  }

  test("temperatureSample: exact reference keep-set, rare-stratum up-weighting, alpha edges") {
    import spark.implicits._
    def h32(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16)
    }
    // skewed strata: 300 "big", 40 "mid", 12 "rare"
    val rows = ((1L to 300L).map(i => (i, "big")) ++
      (301L to 340L).map(i => (i, "mid")) ++
      (341L to 352L).map(i => (i, "rare")))
    def reference(q: Int, target: Long): Set[Long] = {
      val byS = rows.groupBy(_._2).map { case (s, rs) => s -> rs.size.toLong }
      def w(n: Long): java.math.BigDecimal = {
        val nd = n.toDouble
        val sq = math.sqrt(nd); val qq = math.sqrt(sq)
        val v = q match {
          case 0 => 1.0; case 1 => qq; case 2 => sq; case 3 => sq * qq
          case 4 => nd
        }
        new java.math.BigDecimal(v).setScale(6, java.math.RoundingMode.HALF_UP)
      }
      val tot = byS.values.map(w).reduce(_.add(_)).doubleValue()
      val p = byS.map { case (s, n) =>
        s -> math.min(1.0, w(n).doubleValue() * target.toDouble / tot / n.toDouble)
      }
      rows.filter { case (id, s) => h32(id).toDouble / 4294967296.0 < p(s) }
        .map(_._1).toSet
    }
    for (q <- Seq(0, 1, 2, 3, 4); target <- Seq(0L, 60L, 100000L)) {
      val got = TextAnalysis.temperatureSample(
          rows.toDF("id", "s"), "id", "s", q, target)
        .select("id").as[Long].collect()
      assert(got.length == got.toSet.size)
      assert(got.toSet == reference(q, target), s"q=$q target=$target")
    }
    // α=0: expected rows EQUAL per stratum -> rare keeps a much larger
    // fraction than big (up-weighting), and huge targets keep everything
    val a0 = TextAnalysis.temperatureSample(rows.toDF("id", "s"), "id", "s", 0, 60L)
      .groupBy("s").count().as[(String, Long)].collect().toMap
    val fracBig = a0.getOrElse("big", 0L).toDouble / 300.0
    val fracRare = a0.getOrElse("rare", 0L).toDouble / 12.0
    assert(fracRare > fracBig)
    assert(TextAnalysis.temperatureSample(
      rows.toDF("id", "s"), "id", "s", 2, 100000L).count() == 352L)
  }

  test("nfcNormalize: recomposes decomposed sequences; ASCII and precomposed pass through") {
    import graft.functions.TextFunctions
    val rows = Seq(
      "Cafe\u0301",            // decomposed -> precomposed \u00e9
      "Caf\u00e9",             // already NFC: unchanged
      "plain ascii",
      "A\u030angstro\u0308m", // ring + diaeresis decomposed
      "")
    val got = rows.toDF("s")
      .select(TextFunctions.nfcNormalize(col("s"))).as[String].collect()
    val exp = rows.map(java.text.Normalizer.normalize(_, java.text.Normalizer.Form.NFC))
    assert(got.toSeq == exp)
    assert(got(0) == "Caf\u00e9" && got(0).length == 4)
    assert(got(3) == "\u00c5ngstr\u00f6m")
    val n = Seq[Option[String]](None).toDF("s")
      .select(TextFunctions.nfcNormalize(col("s"))).collect()
    assert(n.head.isNullAt(0))
  }

  test("stripAccents: removes all mark categories, keeps non-decomposable letters") {
    import graft.functions.TextFunctions
    val in = Seq(
      "Caf\u00e9",             // precomposed
      "Cafe\u0301",            // decomposed
      "\u00fcber", "ni\u00f1o",
      "s\u00f8t",              // \u00f8 has no decomposition: kept
      "\u0111en",              // \u0111 kept
      "stra\u00dfe",           // \u00df kept
      "e\u0308\u0301x",       // stacked marks both stripped
      "ascii only", "")
    val exp = Seq("Cafe", "Cafe", "uber", "nino",
      "s\u00f8t", "\u0111en", "stra\u00dfe", "ex", "ascii only", "")
    val got = in.toDF("s")
      .select(TextFunctions.stripAccents(col("s"))).as[String].collect()
    assert(got.toSeq == exp)
    // representation-independent: strip(nfc(x)) == strip(x)
    val both = in.toDF("s").select(
      TextFunctions.stripAccents(col("s")),
      TextFunctions.stripAccents(TextFunctions.nfcNormalize(col("s"))))
      .collect()
    assert(both.forall(r => r.getString(0) == r.getString(1)))
  }
}
