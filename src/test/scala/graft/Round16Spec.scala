package graft

import org.apache.spark.sql.functions._

/** Round-16 specs: the ADVICE r15 fixes (exact KMV below-k estimates,
  * exact-integer cusum guard threshold, mirrored q201 oracle envelope)
  * and the VERDICT r15 task list. */
class Round16Spec extends SparkSpec {
  import spark.implicits._

  test("cusumShift: guard fires AT the exact envelope boundary (no double slack)") {
    // D=2 rows, thr 1/1 → mThr=2 → exact threshold = 2^63-1 div 4 =
    // 2305843009213693951. sum|v| = 2^61 = 2305843009213693952 is ONE
    // above it. The old double-divide threshold rounded to exactly
    // 2^61, so this input slipped past (ADVICE r15); the exact `div`
    // form must raise.
    val v = 1152921504606846976L // 2^60; two rows sum to 2^61
    val series = Seq(("k", 1L, v), ("k", 2L, v)).toDF("key", "d", "v")
    val e = intercept[Exception] {
      graft.analyze.Timeseries.cusumShift(series, "key", "d", "v", 1, 1)
        .collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("cusumShift overflow"),
      s"expected the exact-envelope guard, got: ${e.getMessage}")
    // one below the boundary: sum|v| = 2^61 - 1 ≤ threshold+... must NOT fire
    val ok = Seq(("k", 1L, v), ("k", 2L, v - 1L)).toDF("key", "d", "v")
    val r = graft.analyze.Timeseries
      .cusumShift(ok, "key", "d", "v", 1, 1).collect()
    assert(r.length == 2)
  }

  private def ev(rows: (Long, Long, String)*) = {
    // (user, offset seconds, type) -> timestamped events
    rows.toSeq.map { case (u, s, t) =>
      (u, new java.sql.Timestamp(1704067200000L + s * 1000L), t)
    }.toDF("user_id", "ts", "event_type")
  }

  test("anchored funnel: re-anchoring completes where greedy stalls") {
    import graft.relational.Relational
    val steps = Seq("A", "B")
    // A@0 (anchor 1), A@50 (anchor 2), B@55; window 10s: greedy chain
    // from A@0 stalls (55 > 10), anchor 2's chain completes
    val e = ev((1L, 0L, "A"), (1L, 50L, "A"), (1L, 55L, "B"))
    val greedy = Relational.funnelStepsWindowed(
      e, "user_id", "ts", "event_type", steps, 10L).collect().head
    assert(greedy.getAs[collection.Seq[Any]]("step_us").count(_ != null) == 1)
    val anch = Relational.funnelStepsWindowedAnchored(
      e, "user_id", "ts", "event_type", steps, 10L).collect().head
    assert(anch.getAs[Long]("n_anchors") == 2L)
    val base = 1704067200000000L
    assert(anch.getAs[collection.Seq[Any]]("step_us") ==
      Seq(base + 50000000L, base + 55000000L))
  }

  test("anchored funnel: max depth wins; earliest anchor pinned on depth ties") {
    import graft.relational.Relational
    val steps = Seq("A", "B", "C")
    // anchor A@0 reaches [0,10] then stalls (C@70 is 60s past B@10,
    // window 50); anchor A@20 reaches [20,30,70]: deeper chain wins
    // even with a later anchor
    val e1 = ev((1L, 0L, "A"), (1L, 10L, "B"), (1L, 20L, "A"),
      (1L, 30L, "B"), (1L, 70L, "C"))
    val r1 = Relational.funnelStepsWindowedAnchored(
      e1, "user_id", "ts", "event_type", steps, 50L).collect().head
    val base = 1704067200000000L
    assert(r1.getAs[collection.Seq[Any]]("step_us") ==
      Seq(base + 20000000L, base + 30000000L, base + 70000000L))
    // equal depth (both stall at 2): EARLIEST anchor's chain reported
    val e2 = ev((1L, 0L, "A"), (1L, 10L, "B"), (1L, 20L, "A"),
      (1L, 30L, "B"))
    val r2 = Relational.funnelStepsWindowedAnchored(
      e2, "user_id", "ts", "event_type", steps, 50L).collect().head
    assert(r2.getAs[Long]("n_anchors") == 2L)
    assert(r2.getAs[collection.Seq[Any]]("step_us") ==
      Seq(base + 0L, base + 10000000L, null))
  }

  test("anchored funnel counts dominate greedy counts step-by-step") {
    import graft.relational.Relational
    val steps = Seq("click", "view", "purchase")
    // deterministic pseudo-random soup over 40 users (dense enough for
    // in-window chains) + 5 planted greedy-stall users where only the
    // re-anchored form converts
    val soup = (0 until 1200).map { i =>
      val u = (i * 2654435761L) % 40
      val t = (i * 1103515245L + 12345L) % 5000L
      val et = Seq("click", "view", "purchase", "noise")(
        ((i * 48271L) % 4L).toInt)
      (u, t, et)
    }
    val planted = (100L until 105L).flatMap(u => Seq(
      (u, 0L, "click"), (u, 4800L, "click"),
      (u, 5000L, "view"), (u, 5100L, "purchase")))
    val e = ev(soup ++ planted: _*)
    def cts(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("step").collect().map(_.getAs[Long]("n_entities")).toSeq
    val g = cts(Relational.funnelCountsWindowed(
      e, "user_id", "ts", "event_type", steps, 600L))
    val a = cts(Relational.funnelCountsWindowedAnchored(
      e, "user_id", "ts", "event_type", steps, 600L))
    assert(a.zip(g).forall { case (ai, gi) => ai >= gi },
      s"anchored $a must dominate greedy $g")
    assert(a != g, "fixture should exercise an actual divergence")
    // counts are monotone down the funnel
    assert(a == a.sorted.reverse)
  }

  test("nbScore: hand-computed rational argmax; unseen-token mass never zeroes") {
    import graft.analyze.TextAnalysis
    // class a: "cat cat dog" (3 tokens, 1 doc); b: "bird" (1 token, 1 doc)
    val train = Seq(("a", "cat cat dog"), ("b", "bird")).toDF("label", "text")
    val model = TextAnalysis.nbTrain(train, "label", "text")
    // "cat bird bird": S_a = 2 (two cats trained... tf(cat)=1 * cnt=2),
    // S_b = 2 (tf(bird)=2 * cnt=1). num_a = 1*(3+2) = 5 over 3+4096;
    // num_b = 1*(3+2) = 5 over 1+4096 → b wins on the smaller
    // denominator (cross-multiplied exactly)
    val r = TextAnalysis.nbScore(
      Seq((1L, "cat bird bird")).toDF("id", "text"), model, "id", "text")
      .collect().head
    assert(r.getAs[Long]("n_tokens") == 3L)
    assert(r.getAs[String]("pred_label") == "b")
    assert(r.getAs[Long]("s_match") == 2L)
    // ENTIRELY unseen tokens: both s_match 0, score falls back to
    // class_docs*n/(class_tokens+B) — never zero; a has the bigger
    // prior/denominator ratio here (1*2/(3+4096) vs 1*2/(1+4096))...
    // larger denominator LOSES: pred must be b again
    val u = TextAnalysis.nbScore(
      Seq((2L, "zebra quokka")).toDF("id", "text"), model, "id", "text")
      .collect().head
    assert(u.getAs[Long]("s_match") == 0L)
    assert(u.getAs[String]("pred_label") == "b")
    // exact tie (symmetric classes, unseen doc): smaller label wins
    val sym = Seq(("a", "cat"), ("b", "dog")).toDF("label", "text")
    val m2 = TextAnalysis.nbTrain(sym, "label", "text")
    val t2 = TextAnalysis.nbScore(
      Seq((3L, "zebra")).toDF("id", "text"), m2, "id", "text")
      .collect().head
    assert(t2.getAs[String]("pred_label") == "a")
    // no-token docs are unclassifiable and ABSENT
    val e = TextAnalysis.nbScore(
      Seq((4L, "   "), (5L, null.asInstanceOf[String]))
        .toDF("id", "text"), m2, "id", "text")
    assert(e.count() == 0L)
  }

  test("theilSenTrendChunked: 90-day series matches per-month manual references") {
    import graft.analyze.Timeseries
    // deterministic daily counts over Jan 1 .. Mar 30, 2024 (90 days,
    // 3 calendar months), with spikes so medians aren't trivial
    val days = (0 until 90).map { i =>
      val cnt = 50L + (i % 7) * 3L - (i % 11) * 2L +
        (if (i % 13 == 0) 40L else 0L)
      (s"k", new java.sql.Timestamp(1704067200000L + i * 86400000L), cnt)
    }
    // expand to one event ROW per count (the operator aggregates to
    // the day grain itself)
    val rows = days.flatMap { case (k, ts, c) =>
      (0L until c).map(_ => (k, ts))
    }
    val e = rows.toDF("key", "ts")
    // the UNchunked form must refuse the 90-day span
    val err = intercept[Exception] {
      Timeseries.theilSenTrend(e, "key", "ts").collect()
    }
    assert(err.getMessage.contains("spans > 31 days"))
    val got = Timeseries.theilSenTrendChunked(e, "key", "ts")
      .orderBy("month").collect()
      .map(r => (r.getAs[java.sql.Date]("month").toString,
        r.getAs[Long]("n_days"), r.getAs[Long]("n_pairs"),
        r.getAs[Long]("slope_num"), r.getAs[Long]("slope_den")))
    // manual per-month reference: exact rational median of pairwise
    // slopes with the (s, dy, dx) tiebreak (the Round15Spec comparator)
    val byMonth = days.zipWithIndex.groupBy { case (_, i) =>
      val d = java.time.LocalDate.of(2024, 1, 1).plusDays(i)
      java.time.LocalDate.of(d.getYear, d.getMonth, 1).toString
    }
    val want = byMonth.toSeq.sortBy(_._1).map { case (m, ds) =>
      val daily = ds.map { case ((_, _, c), i) => (i.toLong, c) }
      val pairs = for {
        x <- daily; y <- daily if y._1 > x._1
      } yield (y._2 - x._2, y._1 - x._1)
      val sorted = pairs.sortWith { case ((dy1, dx1), (dy2, dx2)) =>
        val cc = (BigInt(dy1) * dx2).compare(BigInt(dy2) * dx1)
        if (cc != 0) cc < 0
        else if (dy1 != dy2) dy1 < dy2 else dx1 < dx2
      }
      val med = sorted(((sorted.size + 1) / 2) - 1)
      (m, daily.size.toLong, pairs.size.toLong, med._1, med._2)
    }
    assert(got.length == 3 && got.toSeq == want,
      s"got ${got.toSeq}\nwant $want")
    // pair bound: <= C(31,2) = 465 per key-month
    assert(got.forall(_._3 <= 465L))
  }

  test("writeCompacted: uniform file sizes from a skewed input; row set untouched") {
    import graft.source.Layout
    val dir = java.nio.file.Files.createTempDirectory("compact").toString
    // skewed input: 12 partitions, one holding ~90% of the rows (the
    // hot-key aftermath shape), wide-ish payload so bytes are real
    val df = spark.range(0, 40000)
      .withColumn("part",
        when(col("id") % 10 < 9, lit(0)).otherwise(pmod(col("id"), lit(12))))
      .repartition(12, col("part"))
      .select(col("id"), concat_ws("-",
        (0 until 20).map(_ => md5(col("id").cast("string"))): _*).as("pay"))
    def files(p: String) = new java.io.File(p).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(_.length()).sorted
    df.write.mode("overwrite").parquet(s"$dir/naive")
    val naive = files(s"$dir/naive")
    // the skew shows up as file-size spread in the naive write
    assert(naive.max.toDouble / naive.min >= 5.0,
      s"fixture not skewed enough: ${naive.toSeq}")
    val target = 256L * 1024
    val stats = Layout.writeCompacted(df, s"$dir/compact", target)
    val comp = files(s"$dir/compact")
    assert(stats.files == comp.length && stats.rows == 40000L)
    // uniform: every file within a 2x band of each other and no file
    // grossly over target (sample sizing may under/overshoot a bit)
    assert(comp.max.toDouble / comp.min <= 2.0, s"spread: ${comp.toSeq}")
    assert(comp.max <= target * 2, s"oversized file: ${comp.max}")
    assert(comp.length > 1)
    // layout invariance: identical row SET
    val a = spark.read.parquet(s"$dir/naive").orderBy("id").collect()
    val b = spark.read.parquet(s"$dir/compact").orderBy("id").collect()
    assert(a.toSeq == b.toSeq)
  }

  test("connectedComponents equals a driver-side union-find; rounds track chain diameter") {
    import graft.dedup.Dedup
    // pseudo-random sparse graph + a long chain + a hub star, one soup
    val rand = (0 until 600).map { i =>
      val a = (i * 2654435761L) % 300
      val b = (i * 1103515245L + 7L) % 300
      (a, b)
    }.filter { case (a, b) => a != b }
    val chain = (1000L until 1128L).map(i => (i, i - 1)) // 128-long chain
    val hub = (2000L until 2400L).map(i => (i, 2000L))
    val edges = rand ++ chain ++ hub
    val pairs = edges.toDF("a", "b")
    var mlRounds = 0
    val ml = Dedup.connectedComponents(pairs, "a", "b", maxIter = 200,
      onConverge = mlRounds = _)
    // reference: union-find over the same pairs; the root of each set is
    // its min id, which is the min-label contract
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- edges) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = parent.keys.toSeq.map(id => (id, find(id))).toSet
    assert(ml.as[(Long, Long)].collect().toSet == expected)
    // the chain forces min-label through ~diameter rounds
    assert(mlRounds > 100, s"min-label rounds: $mlRounds")
  }

  test("Hdr: bin/low envelope, exact region, merge == recompute, read bound") {
    import graft.analyze.Hdr
    // bin/low roundtrip over a wide value sweep: low(bin(v)) <= v and
    // v/low < 1 + 2^-6; exact (low == v) below 64
    val vals = (1L to 200L) ++ Seq(63L, 64L, 65L, 127L, 128L, 1000L,
      123456L, 987654321L, 1234567890123L, Long.MaxValue / 3)
    val df = vals.toDF("v")
      .withColumn("bin", Hdr.hdrBin(col("v"), 6))
      .withColumn("low", Hdr.hdrLow(col("bin"), 6))
    df.collect().foreach { r =>
      val (v, low) = (r.getAs[Long]("v"), r.getAs[Long]("low"))
      assert(low <= v, s"v=$v low=$low")
      assert(v.toDouble / low < 1.0 + 1.0 / 64, s"v=$v low=$low")
      if (v < 64) assert(low == v)
    }
    // monotone: bins never decrease with v
    val bins = df.orderBy("v").collect().map(_.getAs[Long]("bin"))
    assert(bins.zip(bins.tail).forall { case (a, b) => a <= b })
    // merge == single-pass recompute, row-identical
    val facts = (0 until 5000).map(i =>
      (s"k${i % 3}", 1L + ((i * 2654435761L) % 100000L).abs))
      .toDF("key", "v")
    val whole = Hdr.hdrState(facts, "key", "v")
    val m = Hdr.mergeHdrStates("key",
      Hdr.hdrState(facts.filter(col("v") % 2 === 0), "key", "v"),
      Hdr.hdrState(facts.filter(col("v") % 2 =!= 0), "key", "v"))
    assert(whole.orderBy("key", "bin").collect().toSeq ==
      m.orderBy("key", "bin").collect().toSeq)
    // read bound vs the exact discrete percentile
    val qs = Hdr.hdrQuantiles(whole, "key", Seq(50, 90, 99)).collect()
      .map(r => (r.getString(0), r.getAs[Int]("p")) -> r.getAs[Long]("q_low"))
      .toMap
    val grouped = (0 until 5000).map(i =>
      (s"k${i % 3}", 1L + ((i * 2654435761L) % 100000L).abs))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    for ((k, vs) <- grouped; p <- Seq(50, 90, 99)) {
      val exact = vs(((p * vs.size + 99) / 100) - 1)
      val low = qs((k, p))
      assert(low <= exact && exact < low + math.max(1L, low / 64 + 1),
        s"k=$k p=$p exact=$exact low=$low")
    }
    // non-positive values fail loud
    val err = intercept[Exception] {
      Hdr.hdrState(Seq(("k", 0L)).toDF("key", "v"), "key", "v").collect()
      Seq(("k", -5L)).toDF("key", "v")
        .select(Hdr.hdrBin(col("v"), 6)).collect()
    }
    assert(err.getMessage != null)
  }

  test("hdrStateStream equals the batch state across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, Long)]
    val q = graft.streaming.StreamingRollup.hdrStateStream(
        mem.toDF().toDF("key", "v"), "key", "v")
      .writeStream.format("memory").queryName("hdr_state")
      .outputMode("update").start()
    try {
      mem.addData(("a", 5L), ("a", 100L), ("b", 77L)); q.processAllAvailable()
      mem.addData(("a", 100L), ("a", 5L), ("b", 1L)); q.processAllAvailable()
      import spark.implicits._
      val rows = spark.table("hdr_state")
        .as[(String, Long, Long)].collect()
      val latest = rows.zipWithIndex.groupBy(t => (t._1._1, t._1._2))
        .map { case (kb, rs) => kb -> rs.maxBy(_._2)._1._3 }
      val batch = graft.analyze.Hdr.hdrState(
          Seq(("a", 5L), ("a", 100L), ("b", 77L), ("a", 100L), ("a", 5L),
            ("b", 1L)).toDF("key", "v"), "key", "v")
        .as[(String, Long, Long)].collect()
        .map(t => (t._1, t._2) -> t._3).toMap
      assert(latest == batch)
    } finally q.stop()
  }

  test("incrementalComponents: delta merge equals full rebuild; singletons persist") {
    import graft.dedup.Dedup
    // archived graph: components {1,2}, {3,4}, {7,8,9}; stored labels
    val old = Seq((1L, 2L), (3L, 4L), (7L, 8L), (8L, 9L)).toDF("a", "b")
    val stored = Dedup.connectedComponents(old, "a", "b")
      // plus a stored SINGLETON 42 (state, must persist untouched)
      .union(Seq((42L, 42L)).toDF("id", "cluster_id"))
    // delta: bridges {1,2}~{3,4}, brings a NEW node 10 into {7,8,9}
    val delta = Seq((2L, 3L), (10L, 7L)).toDF("a", "b")
    val got = Dedup.incrementalComponents(stored, delta, "a", "b")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val full = Dedup.connectedComponents(
        old.union(delta), "a", "b")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got.filter(_._1 != 42L) == full)
    assert(got.contains((42L, 42L)))
    // merged component re-rooted at the min of the UNION
    assert(got.filter(t => Seq(1L, 2L, 3L, 4L).contains(t._1))
      .forall(_._2 == 1L))
    assert(got.find(_._1 == 10L).map(_._2).contains(7L))
  }

  test("incrementalComponents: CHAINED nightly refreshes equal one full rebuild") {
    import graft.dedup.Dedup
    // three nights of deltas applied sequentially over a seeded graph;
    // labels after night 3 must equal CC over everything — the
    // property that makes the stored labels a real STATE, not a cache
    val seed = Seq((1L, 2L), (5L, 6L), (10L, 11L), (20L, 21L))
      .toDF("a", "b")
    val nights = Seq(
      Seq((2L, 5L)),               // merge {1,2}+{5,6}
      Seq((30L, 31L), (11L, 20L)), // new comp + merge {10,11}+{20,21}
      Seq((6L, 10L)))              // merge the two big components
      .map(_.toDF("a", "b"))
    var labels = Dedup.connectedComponents(seed, "a", "b")
    nights.foreach { d =>
      labels = Dedup.incrementalComponents(labels, d, "a", "b")
    }
    val full = Dedup.connectedComponents(
      nights.foldLeft(seed)(_ union _), "a", "b")
    assert(labels.orderBy("id").collect().toSeq ==
      full.orderBy("id").collect().toSeq)
    // everything except {30,31} collapsed into the min-1 component
    val m = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 5L, 6L, 10L, 11L, 20L, 21L).forall(m(_) == 1L))
    assert(m(30L) == 30L && m(31L) == 30L)
  }

  test("Hdr: bin continuity/monotonicity exhaustive at small subBits") {
    import graft.analyze.Hdr
    // s=2: exhaustively check 1..1024 — bins are monotone non-decreasing,
    // contiguous (no index skipped within the covered range), and
    // low(bin(v)) <= v < low(bin(v)+1)
    val rows = (1L to 1024L).toDF("v")
      .withColumn("bin", Hdr.hdrBin(col("v"), 2))
      .withColumn("low", Hdr.hdrLow(col("bin"), 2))
      .withColumn("nextLow", Hdr.hdrLow(col("bin") + 1, 2))
      .orderBy("v").collect()
    var prev = 0L // bin 0 is v=0, excluded (positive-only domain)
    rows.foreach { r =>
      val (v, b, low, nl) = (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))
      assert(b >= prev && b - prev <= 1, s"bin jump at v=$v: $prev -> $b")
      assert(low <= v && v < nl, s"v=$v not in [$low, $nl)")
      prev = b
    }
  }

  test("anchored funnel: maxEventsPerEntity truncation is monotone") {
    import graft.relational.Relational
    val steps = Seq("A", "B", "C")
    val e = ev((1L, 0L, "A"), (1L, 5L, "B"), (1L, 8L, "A"),
      (1L, 12L, "C"), (1L, 20L, "A"), (1L, 22L, "B"), (1L, 25L, "C"))
    def depth(cap: Int): Int =
      Relational.funnelStepsWindowedAnchored(
        e, "user_id", "ts", "event_type", steps, 30L,
        maxEventsPerEntity = cap).collect().head
        .getAs[collection.Seq[Any]]("step_us").count(_ != null)
    // progress reached within the first n events is reported
    // identically at any larger cap
    val depths = Seq(2, 3, 4, 5, 6, 7, 0).map(depth)
    assert(depths.zip(depths.tail).forall { case (a, b) => a <= b },
      s"non-monotone: $depths")
    assert(depths.last == 3) // uncapped completes
  }

  test("containmentPairs: catches the embedded-block class Jaccard misses") {
    import graft.dedup.Dedup
    val block = (1 to 30).map(i => s"lic$i").mkString(" ")
    val filler = (1 to 400).map(i => s"body$i").mkString(" ")
    val docs = Seq(
      (1L, block),                 // the license block alone
      (2L, s"$filler $block"),     // embedded verbatim in a big doc
      (3L, (1 to 200).map(i => s"other$i").mkString(" "))) // unrelated
      .toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(docs, "doc_id", "text",
      shingleN = 3, threshold = 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("containment")))
    // 1 ⊂ 2 at containment 1.0; the reverse direction does NOT qualify
    assert(cont.toSeq == Seq((1L, 2L, 1.0)), s"got ${cont.toSeq}")
    // symmetric Jaccard at ANY threshold above |A|/|B| misses it
    val jac = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      shingleN = 3, threshold = 0.5)
    assert(jac.count() == 0L)
    // exactness vs brute force on a pseudo-random soup
    val soup = (0 until 40).map { i =>
      val toks = (0 until 30).map(j =>
        s"w${(i * 7 + j * 13) % 50}")
      (i.toLong, toks.mkString(" "))
    }.toDF("doc_id", "text")
    val got = Dedup.containmentPairs(soup, "doc_id", "text",
      shingleN = 3, threshold = 0.6)
      .select("id_a", "id_b", "inter").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // brute force over distinct gram sets
    def grams(t: String): Set[Seq[String]] =
      t.split(" ").toSeq.sliding(3).map(_.toSeq).toSet
    val gsets = soup.collect().map(r => r.getLong(0) -> grams(r.getString(1)))
    val want = (for {
      (a, ga) <- gsets; (b, gb) <- gsets if a != b
      inter = (ga intersect gb).size
      if inter.toDouble >= 0.6 * ga.size
    } yield (a, b, inter.toLong)).toSet
    assert(got == want)
  }

  test("rollingReachFromDaily: window union exact below k; estimate tracks above") {
    import graft.analyze.KmvAlgebra
    def ts(day: Int) = new java.sql.Timestamp(1704067200000L +
      day * 86400000L)
    // 3-day window over 5 days: users overlap across days
    val ev = Seq(
      (1L, ts(0)), (2L, ts(0)),
      (2L, ts(1)), (3L, ts(1)),
      (4L, ts(2)),
      (1L, ts(3)), (5L, ts(3)),
      (6L, ts(4))).toDF("user_id", "ts")
    val r = KmvAlgebra.rollingReachFromDaily(ev, "user_id", "ts",
        windowDays = 3, k = 64)
      .orderBy("day").collect()
    // trailing-3-day exact reach per observed day:
    // d0:{1,2}=2 d1:{1,2,3}=3 d2:{1,2,3,4}=4 d3:{2,3,4,1,5}=5 d4:{4,1,5,6}=4
    val want = Seq(2L, 3L, 4L, 5L, 4L)
    assert(r.map(_.getAs[Long]("exact_reach")).toSeq == want)
    // below k the sketch IS the window set: n_sketch == exact, est exact
    r.foreach { row =>
      assert(row.getAs[Long]("n_sketch") == row.getAs[Long]("exact_reach"))
      assert(row.getAs[Double]("est_reach") ==
        row.getAs[Long]("exact_reach").toDouble)
    }
    // above k: 400 users active every day -> estimate within the
    // 1/sqrt(k-2) ballpark of 400
    val big = (0 until 1200).map(i =>
      (i % 400L, ts(i % 3))).toDF("user_id", "ts")
    val rb = KmvAlgebra.rollingReachFromDaily(big, "user_id", "ts",
        windowDays = 3, k = 64).orderBy("day").collect()
    rb.foreach { row =>
      assert(row.getAs[Long]("n_sketch") == 64L)
      val est = row.getAs[Double]("est_reach")
      assert(math.abs(est - 400.0) / 400.0 < 0.4, s"est=$est")
    }
  }

  test("containmentPairs: brute-force equality across seeds and thresholds") {
    import graft.dedup.Dedup
    def grams(t: String): Set[Seq[String]] =
      t.split(" ").toSeq.sliding(3).filter(_.size == 3).map(_.toSeq).toSet
    for (seed <- Seq(11, 23, 47); thr <- Seq(0.4, 0.7)) {
      val soup = (0 until 30).map { i =>
        val len = 8 + (i * seed) % 25
        val toks = (0 until len).map(j => s"w${(i * seed + j * 13) % 40}")
        (i.toLong, toks.mkString(" "))
      }
      val df = soup.toDF("doc_id", "text")
      val got = Dedup.containmentPairs(df, "doc_id", "text",
        shingleN = 3, threshold = thr)
        .select("id_a", "id_b", "inter").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val gsets = soup.map { case (id, t) => id -> grams(t) }
        .filter(_._2.nonEmpty)
      val want = (for {
        (a, ga) <- gsets; (b, gb) <- gsets if a != b
        inter = (ga intersect gb).size
        if inter.toDouble >= thr * ga.size
      } yield (a, b, inter.toLong)).toSet
      assert(got == want, s"seed=$seed thr=$thr")
    }
  }

  test("NbClassifyExpr (chunk scorer) agrees with nbScore's rational argmax") {
    import graft.analyze.TextAnalysis
    val train = TextAnalysis.languageMarkers.toSeq.sortBy(_._1)
      .map { case (code, ws) => (code, ws.mkString(" ")) }
      .toDF("code", "mtext")
    val model = TextAnalysis.nbTrain(train, "code", "mtext")
    val local = TextAnalysis.nbModelCollect(model)
    val docs = Seq(
      (1L, "the cat and the dog is with a hat"),
      (2L, "el perro y la casa de que"),
      (3L, "der hund und die katze ist"),
      (4L, "xylophone zebra quartz")).toDF("id", "text")
    // whole doc as ONE chunk: profile dominant == nbScore pred (except
    // the zero-mass doc, where the expression says 'und' and nbScore
    // still picks the prior argmax — pinned difference)
    val prof = TextAnalysis.languageMixProfileNb(
        docs, "id", "text", local, chunkTokens = 1000)
      .select(col("id"), col("dominant_lang")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val scored = TextAnalysis.nbScore(docs, model, "id", "text")
      .select(col("id"), col("pred_label"), col("s_match")).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(prof(1L) == "en" && scored(1L)._1 == "en")
    assert(prof(2L) == "es" && scored(2L)._1 == "es")
    assert(prof(3L) == "de" && scored(3L)._1 == "de")
    assert(prof(4L) == "und" && scored(4L)._2 == 0L)
  }

  test("funnelStreamWindowedAnchored equals the batch anchored fold across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingDedup
    import graft.streaming.StreamingDedup.FunnelEvent
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(sec: Long) = new java.sql.Timestamp(1704067200000L + sec * 1000L)
    val steps = Seq("A", "B", "C")
    // u1: anchor@0 stalls (B at 700 out of 600s window), anchor@650
    //     completes in batch 2 — and anchor@0 is EVICTED after batch 1's
    //     max(700) - 0 > 600.
    // u2: anchor@0 completes, later anchor@900 stalls — best must stay
    //     the earlier deeper chain.
    val batch1 = Seq(
      FunnelEvent(1L, ts(0L), "A"), FunnelEvent(1L, ts(650L), "A"),
      FunnelEvent(1L, ts(700L), "B"),
      FunnelEvent(2L, ts(0L), "A"), FunnelEvent(2L, ts(10L), "B"))
    val batch2 = Seq(
      FunnelEvent(1L, ts(750L), "C"),
      FunnelEvent(2L, ts(20L), "C"), FunnelEvent(2L, ts(900L), "A"))
    val mem = MemoryStream[FunnelEvent]
    val q = StreamingDedup.funnelStreamWindowedAnchored(
        mem.toDS(), steps, 600L)
      .writeStream.format("memory").queryName("afunnel_state")
      .outputMode("update").start()
    try {
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(batch2: _*); q.processAllAvailable()
      import spark.implicits._
      val rows = spark.table("afunnel_state")
        .as[(Long, (Long, Seq[Option[Long]]))].collect()
      val latest = rows.zipWithIndex.groupBy(_._1._1)
        .map { case (u, rs) => u -> rs.maxBy(_._2)._1._2 }
      val all = (batch1 ++ batch2).map(e => (e.user, e.ts, e.etype))
        .toDF("user_id", "ts", "event_type")
      val batchGot = graft.relational.Relational
        .funnelStepsWindowedAnchored(
          all, "user_id", "ts", "event_type", steps, 600L)
        .select(col("user_id"), col("n_anchors"), col("step_us"))
        .as[(Long, Long, Seq[Option[Long]])].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      assert(latest(1L) == batchGot(1L))
      assert(latest(2L) == batchGot(2L))
      assert(latest(1L)._2.forall(_.isDefined)) // u1 converted via re-anchor
      assert(latest(2L)._1 == 2L &&
        latest(2L)._2.forall(_.isDefined)) // u2 kept the earlier deep chain
    } finally q.stop()
  }
}
