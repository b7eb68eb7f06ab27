package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.relational.Attribution

/** Round-14 operators: multi-touch attribution, SCD2 history, RFM
  * segmentation, delete propagation. */
class Round14Spec extends SparkSpec {
  import spark.implicits._

  private def ts(sec: Long): Timestamp = new Timestamp(sec * 1000L)

  test("attribution: next-conversion assignment, lookback, all four models") {
    // user 1: touches t=10,20,30 -> conv c100 at t=40 (n=3, U = 2/5,
    //   1/5, 2/5); touch t=50 -> conv c101 at t=60 (n=1); touch t=70
    //   has no following conv (dropped).
    // user 2: touch at t=5 is OUTSIDE the 30s lookback of conv c200 at
    //   t=50; touches t=25,45 are inside (n=2 -> 1/2 each).
    val ev = Seq(
      (1L, 10L, "click", 1L), (1L, 20L, "view", 2L), (1L, 30L, "click", 3L),
      (1L, 40L, "purchase", 100L),
      (1L, 50L, "view", 4L), (1L, 60L, "purchase", 101L),
      (1L, 70L, "click", 5L),
      (2L, 5L, "click", 6L), (2L, 25L, "view", 7L), (2L, 45L, "click", 8L),
      (2L, 50L, "purchase", 200L),
      (2L, 90L, "error", 9L) // non-touch, non-conversion type: ignored
    ).map { case (u, t, ty, id) => (u, ts(t), ty, id) }
      .toDF("user_id", "ts", "event_type", "event_id")
    val got = Attribution.attributeTouches(ev, "user_id", "ts",
        "event_type", "event_id", "purchase", Seq("click", "view"),
        lookbackSeconds = 30L)
      .orderBy("conv_id", "position")
      .as[(Long, Long, Long, String, Int, Long, Double, Double, Double, Double)]
      .collect().toSeq
    // (user, conv, touch, type, pos, n, first, last, linear, ushape)
    assert(got == Seq(
      (1L, 100L, 1L, "click", 1, 3L, 1.0, 0.0, 1.0 / 3, 2.0 / 5),
      (1L, 100L, 2L, "view",  2, 3L, 0.0, 0.0, 1.0 / 3, 1.0 / 5),
      (1L, 100L, 3L, "click", 3, 3L, 0.0, 1.0, 1.0 / 3, 2.0 / 5),
      (1L, 101L, 4L, "view",  1, 1L, 1.0, 1.0, 1.0, 1.0),
      (2L, 200L, 7L, "view",  1, 2L, 1.0, 0.0, 0.5, 0.5),
      (2L, 200L, 8L, "click", 2, 2L, 0.0, 1.0, 0.5, 0.5)))
    // per-conversion credit conservation for every model
    got.groupBy(_._2).foreach { case (c, rows) =>
      assert(rows.map(_._7).sum == 1.0, s"first sums to 1 for $c")
      assert(rows.map(_._8).sum == 1.0, s"last sums to 1 for $c")
      assert(math.abs(rows.map(_._9).sum - 1.0) < 1e-12, s"linear for $c")
      assert(math.abs(rows.map(_._10).sum - 1.0) < 1e-12, s"ushape for $c")
    }
  }

  test("attribution: same-instant conversion claims the touch; 5-touch U-shape middle split") {
    val ev = Seq(
      (1L, 10L, "click", 1L), (1L, 11L, "click", 2L), (1L, 12L, "view", 3L),
      (1L, 13L, "view", 4L), (1L, 20L, "click", 5L),
      (1L, 20L, "purchase", 100L) // same ts as touch 5 -> inclusive claim
    ).map { case (u, t, ty, id) => (u, ts(t), ty, id) }
      .toDF("user_id", "ts", "event_type", "event_id")
    val got = Attribution.attributeTouches(ev, "user_id", "ts",
        "event_type", "event_id", "purchase", Seq("click", "view"), 3600L)
      .orderBy("position")
      .as[(Long, Long, Long, String, Int, Long, Double, Double, Double, Double)]
      .collect().toSeq
    assert(got.map(_._3) == Seq(1L, 2L, 3L, 4L, 5L))
    // n=5: ends 2/5, three middles split 1/5 -> 1/15 each
    assert(got.map(_._10) == Seq(2.0 / 5, 1.0 / 15, 1.0 / 15, 1.0 / 15, 2.0 / 5))
    assert(got.map(_._9).forall(_ == 1.0 / 5))
  }

  test("attribution time-decay: exact dyadic weights, integer-ratio normalization") {
    // halfLife 10s, conv at t=100: touches at ages 0,15,25 -> steps
    // 0,1,2 -> weights 1, 1/2, 1/4 -> credits 4/7, 2/7, 1/7
    val ev = Seq(
      (1L, 75L, "click", 1L), (1L, 85L, "click", 2L), (1L, 100L, "view", 3L),
      (1L, 100L, "purchase", 9L)
    ).map { case (u, t, ty, id) => (u, ts(t), ty, id) }
      .toDF("user_id", "ts", "event_type", "event_id")
    val got = Attribution.attributeTouches(ev, "user_id", "ts",
        "event_type", "event_id", "purchase", Seq("click", "view"),
        lookbackSeconds = 60L, halfLifeSeconds = Some(10L))
      .orderBy("position").select("touch_id", "credit_decay")
      .as[(Long, Double)].collect().toSeq
    assert(got == Seq((1L, 1.0 / 7), (2L, 2.0 / 7), (3L, 4.0 / 7)))
    // lookback/halfLife > 40 rejected (exactness precondition)
    intercept[IllegalArgumentException] {
      Attribution.attributeTouches(ev, "user_id", "ts", "event_type",
        "event_id", "purchase", Seq("click"), 4100L, Some(100L))
    }
  }

  test("attribution: no touch is double-credited across conversions") {
    // touches before conv A never leak into conv B's window even when
    // B's lookback spans them
    val ev = Seq(
      (1L, 10L, "click", 1L), (1L, 20L, "purchase", 100L),
      (1L, 30L, "click", 2L), (1L, 40L, "purchase", 101L)
    ).map { case (u, t, ty, id) => (u, ts(t), ty, id) }
      .toDF("user_id", "ts", "event_type", "event_id")
    val got = Attribution.attributeTouches(ev, "user_id", "ts",
        "event_type", "event_id", "purchase", Seq("click"), 3600L)
      .select("conv_id", "touch_id").as[(Long, Long)].collect().toSet
    assert(got == Set((100L, 1L), (101L, 2L)))
  }

  test("scd2Build: collapse, validity chain, current flag, versions") {
    val ch = Seq(
      (1L, 10L, 1L, "new"), (1L, 20L, 2L, "active"),
      (1L, 30L, 3L, "active"), // no-op restatement -> collapsed
      (1L, 40L, 4L, "churned"),
      (2L, 15L, 5L, "new")
    ).toDF("k", "us", "id", "status")
    val got = graft.relational.Scd2.scd2Build(ch, Seq("k"), "us", "id",
        Seq("status"))
      .orderBy("k", "version")
      .as[(Long, String, Long, Option[Long], Boolean, Int)].collect().toSeq
    assert(got == Seq(
      (1L, "new", 10L, Some(20L), false, 1),
      (1L, "active", 20L, Some(40L), false, 2), // valid_to SKIPS the collapsed row
      (1L, "churned", 40L, None, true, 3),
      (2L, "new", 15L, None, true, 1)))
  }

  test("scd2Merge: incremental == from-scratch (no-op cross-boundary, new key, stale row)") {
    import graft.relational.Scd2
    val all = Seq(
      // key 1: changes in both halves; batch opens with a RESTATEMENT
      // of the current value (must collapse away cross-boundary)
      (1L, 10L, 1L, "a"), (1L, 20L, 2L, "b"),
      (1L, 35L, 3L, "b"), (1L, 40L, 4L, "c"),
      // key 2: untouched by the batch
      (2L, 12L, 5L, "x"),
      // key 3: new key, only in the batch
      (3L, 50L, 6L, "q"), (3L, 60L, 7L, "r")
    ).toDF("k", "us", "id", "status")
    val first = all.filter(col("us") <= 30)
    val batch = all.filter(col("us") > 30)
      // stale late row for key 1 (ts before current valid_from): dropped
      .unionByName(Seq((1L, 15L, 99L, "z")).toDF("k", "us", "id", "status"))
    val scratch = Scd2.scd2Build(all, Seq("k"), "us", "id", Seq("status"))
    val merged = Scd2.scd2Merge(
      Scd2.scd2Build(first, Seq("k"), "us", "id", Seq("status")),
      batch, Seq("k"), "us", "id", Seq("status"))
    val cols = Seq("k", "status", "valid_from", "valid_to", "is_current", "version")
    def setOf(df: org.apache.spark.sql.DataFrame) =
      df.select(cols.map(col): _*)
        .as[(Long, String, Long, Option[Long], Boolean, Int)].collect().toSet
    assert(setOf(merged) == setOf(scratch))
  }

  test("ntileFromRank == Spark's own ntile for every (n, k) shape") {
    import org.apache.spark.sql.expressions.Window
    for (n <- Seq(1, 4, 5, 7, 10, 13); k <- Seq(1, 3, 5)) {
      val df = spark.range(1, n + 1).select(col("id").as("rank"))
        .withColumn("want",
          ntile(k).over(Window.orderBy(col("rank"))))
        .withColumn("got",
          graft.analyze.Rfm.ntileFromRank(col("rank"), lit(n.toLong), k))
      assert(df.filter(col("want") =!= col("got")).count() == 0,
        s"ntile mismatch at n=$n k=$k")
    }
  }

  test("rfmScores: hand-computed quintiles, recency descending, tiebreaks") {
    // 5 customers, amounts/dates chosen so every axis is a clean
    // permutation: recency best for c5 (latest), worst for c1
    val orders = Seq(
      (1L, "1998-01-01", 10.0), (1L, "1998-02-01", 10.0), // c1: 2 orders, 20
      (2L, "1998-03-01", 50.0),                           // c2: 1 order, 50
      (3L, "1998-04-01", 30.0), (3L, "1998-04-02", 30.0),
      (3L, "1998-04-03", 30.0),                           // c3: 3 orders, 90
      (4L, "1998-05-01", 5.0),                            // c4: 1 order, 5
      (5L, "1998-06-01", 100.0)                           // c5: 1 order, 100
    ).toDF("ck", "d", "amt").withColumn("d", col("d").cast("timestamp"))
    val got = graft.analyze.Rfm.rfmScores(orders, "ck", "d", "amt",
        asOf = lit("1998-07-01").cast("date"), nTiles = 5)
      .orderBy("ck")
      .select("ck", "recency_days", "frequency", "monetary",
        "r_score", "f_score", "m_score", "rfm_code")
      .as[(Long, Long, Long, Double, Int, Int, Int, Int)].collect().toSeq
    assert(got == Seq(
      // recency days: c1=150(worst,r=1) c2=122 c3=89 c4=61 c5=30(best,r=5)
      // frequency asc, ck tiebreak: c2(1),c4(1),c5(1),c1(2),c3(3) -> f = 4,1,5,2,3
      // monetary asc: c4=5,c1=20,c2=50,c3=90,c5=100 -> m = 2,3,4,1,5
      (1L, 150L, 2L, 20.0, 1, 4, 2, 142),
      (2L, 122L, 1L, 50.0, 2, 1, 3, 213),
      (3L, 89L, 3L, 90.0, 3, 5, 4, 354),
      (4L, 61L, 1L, 5.0, 4, 2, 1, 421),
      (5L, 30L, 1L, 100.0, 5, 3, 5, 535)))
  }

  test("purgeKeys: broadcast and bloom paths agree; nulls and dup keys safe") {
    import graft.relational.DeletePropagation
    val table = Seq(Some(1L), Some(2L), Some(3L), Some(4L), None)
      .toDF("id").withColumn("payload", col("id") * 10)
    val keys = Seq(2L, 4L, 4L, 99L).toDF("k") // dup + absent key
    val viaBroadcast = DeletePropagation.purgeKeys(table, keys, "id", "k")
    val viaBloom = DeletePropagation.purgeKeys(table, keys, "id", "k",
      broadcastKeys = false, expectedItems = 100L)
    val want = Set(Some(1L), Some(3L), None) // null key KEPT
    assert(viaBroadcast.select("id").as[Option[Long]].collect().toSet == want)
    assert(viaBloom.select("id").as[Option[Long]].collect().toSet == want)
  }

  test("purgeAudit: per-table certificate counts; dup request keys counted once") {
    import graft.relational.DeletePropagation
    val t1 = Seq(1L, 2L, 2L, 3L).toDF("a")  // key 2 has TWO rows
    val t2 = Seq(2L, 5L).toDF("b")
    val keys = Seq(2L, 2L, 7L).toDF("k")    // dup key + miss
    val got = DeletePropagation.purgeAudit(
        Seq(("t1", t1, "a"), ("t2", t2, "b")), keys, "k")
      .orderBy("table_name")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("t1", 4L, 2L, 2L), ("t2", 2L, 1L, 1L)))
  }

  test("purgeHistory + applyTombstones: erasure, tombstone set, replay guard") {
    import graft.relational.DeletePropagation
    val hist = Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 15L, "x"))
      .toDF("k", "us", "v")
    val keys = Seq(1L, 9L).toDF("kk") // 9 has no rows -> no tombstone
    val (kept, tomb) = DeletePropagation.purgeHistory(hist, keys, "k", "kk",
      deletedAt = lit(50L))
    assert(kept.select("k").as[Long].collect().toSeq == Seq(2L))
    assert(tomb.as[(Long, Long)].collect().toSeq == Seq((1L, 50L)))
    // replay: change at ts<=50 for key 1 dropped; later change passes;
    // untombstoned key passes
    val incoming = Seq((1L, 40L, "late"), (1L, 60L, "rejoin"), (2L, 41L, "ok"))
      .toDF("k", "us", "v")
    val guarded = DeletePropagation.applyTombstones(incoming, tomb, "k", "us")
    assert(guarded.select("v").as[String].collect().toSet ==
      Set("rejoin", "ok"))
  }

  test("resampleLocf: pathological span fails fast at the cap (ADVICE r13)") {
    import graft.relational.Relational
    // 10-year span at 1-second steps = ~3.15e8 grid rows for ONE key
    val obs = Seq((1L, "2010-01-01 00:00:00", 1L, 5.0),
        (1L, "2020-01-01 00:00:00", 2L, 6.0))
      .toDF("k", "ts", "id", "v")
      .withColumn("ts", col("ts").cast("timestamp"))
    val e = intercept[Exception] {
      Relational.resampleLocf(obs, "k", "ts", stepSeconds = 1L,
        tiebreakCol = "id", payload = Seq("v")).count()
    }
    assert(e.getMessage.contains("maxGridRowsPerKey"),
      s"wrong failure: ${e.getMessage}")
    // same span passes with a cap that accommodates it
    val ok = Relational.resampleLocf(obs, "k", "ts", stepSeconds = 86400L * 365,
      tiebreakCol = "id", payload = Seq("v"))
    assert(ok.count() == 11)
  }

  test("topKWithOthers: dim value colliding with otherLabel fails fast (ADVICE r13)") {
    import graft.relational.Relational
    val df = Seq(("g", "(other)", 1), ("g", "b", 2), ("g", "c", 3))
      .toDF("grp", "dim", "x")
    val e = intercept[Exception] {
      Relational.topKWithOthers(df, "grp", "dim", count(lit(1)), k = 2)
        .count()
    }
    assert(e.getMessage.contains("otherLabel"), s"wrong failure: ${e.getMessage}")
    // a custom label restores the report
    val ok = Relational.topKWithOthers(df, "grp", "dim", count(lit(1)),
      k = 2, otherLabel = "(rest)")
    assert(ok.count() == 3)
  }

  test("basket coOccurrence: hand-computed support/confidence/lift, dup rows, prune") {
    import graft.analyze.Basket
    // baskets: 1={a,b,c}, 2={a,b}, 3={a,c}, 4={b} (dup a in basket 1
    // must not double-count); N=4, n_a=3, n_b=3, n_c=2,
    // ab=2, ac=2, bc=1 (pruned at minPairCount=2)
    val facts = Seq((1, "a"), (1, "a"), (1, "b"), (1, "c"),
      (2, "a"), (2, "b"), (3, "a"), (3, "c"), (4, "b"))
      .toDF("bk", "item")
    val got = Basket.coOccurrence(facts, "bk", "item", minPairCount = 2)
      .orderBy("item_a", "item_b")
      .as[(String, String, Long, Long, Long, Long, Double, Double, Double, Double)]
      .collect().toSeq
    assert(got == Seq(
      ("a", "b", 3L, 3L, 2L, 4L, 0.5, 2.0 / 3, 2.0 / 3, 8.0 / 9),
      ("a", "c", 3L, 2L, 2L, 4L, 0.5, 2.0 / 3, 1.0, 8.0 / 6)))
    // minPairCount=1 surfaces the bc pair too
    assert(Basket.coOccurrence(facts, "bk", "item", 1).count() == 3)
  }

  test("audienceOverlap: jaccard from exact counts; zero-overlap pairs absent") {
    import graft.analyze.Basket
    // u1 in {x,y}, u2 in {x,y}, u3 in {x}, u4 in {z}
    val m = Seq((1, "x"), (1, "y"), (2, "x"), (2, "y"), (3, "x"), (4, "z"))
      .toDF("u", "seg")
    val got = Basket.audienceOverlap(m, "u", "seg")
      .as[(String, String, Long, Long, Long, Long, Double)].collect().toSeq
    // x∩y = 2, |x|=3, |y|=2 -> jaccard 2/3; (x,z) and (y,z) never overlap
    assert(got == Seq(("x", "y", 3L, 2L, 2L, 4L, 2.0 / 3)))
  }

  test("streaming scd2Stream == batch scd2Build under in-order 2-batch arrival") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingDedup
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rnd = new scala.util.Random(1414)
    // 6 keys, 200 changes over a small attr alphabet (forces collapses),
    // strictly increasing ts per key -> in-order arrival when split by ts
    val byKey = (0 until 200).map { i =>
      StreamingDedup.Scd2Change(i % 6L, 100L + i, i.toLong,
        s"v${rnd.nextInt(3)}")
    }
    val (b1, b2) = byKey.partition(_.us < 200L)
    val mem = MemoryStream[StreamingDedup.Scd2Change]
    val q = StreamingDedup.scd2Stream(mem.toDS())
      .toDF("key", "attr", "valid_from", "valid_to", "is_current", "version")
      .writeStream.format("memory").queryName("scd2_stream")
      .outputMode("update").start()
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      // last emission per (key, version) is the settled row
      val fin = spark.table("scd2_stream")
        .withColumn("__seq", monotonically_increasing_id())
        .as[(Long, String, Long, Option[Long], Boolean, Int, Long)]
        .collect().groupBy(r => (r._1, r._6))
        .map { case (_, rows) => rows.maxBy(_._7) }
        .map(r => (r._1, r._2, r._3, r._4, r._5, r._6)).toSet
      val batch = graft.relational.Scd2.scd2Build(
          byKey.toDF("key", "us", "id", "attr"),
          Seq("key"), "us", "id", Seq("attr"))
        .select("key", "attr", "valid_from", "valid_to", "is_current", "version")
        .as[(Long, String, Long, Option[Long], Boolean, Int)].collect().toSet
      assert(fin == batch)
    } finally q.stop()
  }

  test("conversionPaths: ordered journeys, frequency rollup, tail collapse") {
    import graft.relational.Attribution
    val ev = Seq(
      // conv 100: view>click ; conv 101: view>click (same path)
      (1L, 10L, "view", 1L), (1L, 20L, "click", 2L), (1L, 30L, "purchase", 100L),
      (2L, 10L, "view", 3L), (2L, 20L, "click", 4L), (2L, 30L, "purchase", 101L),
      // conv 102: 4 touches, maxSteps=3 -> first 3 + collapse marker
      (3L, 10L, "click", 5L), (3L, 11L, "view", 6L), (3L, 12L, "view", 7L),
      (3L, 13L, "click", 8L), (3L, 20L, "purchase", 102L)
    ).map { case (u, t, ty, id) => (u, ts(t), ty, id) }
      .toDF("user_id", "ts", "event_type", "event_id")
    val att = Attribution.attributeTouches(ev, "user_id", "ts",
      "event_type", "event_id", "purchase", Seq("click", "view"), 3600L)
    val got = Attribution.conversionPaths(att, maxSteps = 3)
      .as[(String, Long)].collect().toMap
    assert(got == Map("view>click" -> 2L, "click>view>view>…" -> 1L))
  }

  test("seasonalNaiveBacktest: hand-computed MAE/bias, gap days unscored") {
    import graft.analyze.Timeseries
    // key "x": days 0..3 have counts 10,20,30,40; period=2 ->
    // scored days 2,3 with preds 10,20 -> errs +20,+20 -> mae=20 bias=20
    def rows(day: Int, n: Int, key: String) = (0 until n).map { i =>
      (key, java.sql.Timestamp.valueOf(f"2024-01-${day + 1}%02d 12:00:0${i % 10}"))
    }
    val ev = (rows(0, 10, "x") ++ rows(1, 20, "x") ++ rows(2, 30, "x") ++
      rows(3, 40, "x") ++
      // key "y": observed days 0 and 3 only; period 2 -> nothing scored
      rows(0, 5, "y") ++ rows(3, 7, "y"))
      .toDF("k", "ts")
    // y has no (day, day-2) observed pair -> absent (inner-join score)
    val full = Timeseries.seasonalNaiveBacktest(ev, "k", "ts", periodDays = 2)
      .as[(String, Long, Long, Double, Double)].collect().toSeq
    assert(full == Seq(("x", 4L, 2L, 20.0, 20.0)))
  }

  test("abReadout: hand-computed rates/lift/z; assignVariant determinism + guards") {
    import graft.analyze.Experiment
    // 4 treatment (3 converted), 5 control (2 converted)
    val outcomes = (Seq.fill(3)(("treatment", 1L)) ++ Seq(("treatment", 0L)) ++
      Seq.fill(2)(("control", 1L)) ++ Seq.fill(3)(("control", 0L)))
      .toDF("variant", "converted")
    val r = Experiment.abReadout(outcomes, "variant", "converted")
      .as[(Long, Long, Long, Long, Double, Double, Double, Double, Double)]
      .collect().head
    assert((r._1, r._2, r._3, r._4) == ((4L, 5L, 3L, 2L)))
    assert(r._5 == 0.75 && r._6 == 0.4)
    assert(math.abs(r._7 - 0.35) < 1e-15)
    val pPool = 5.0 / 9
    val se = math.sqrt(pPool * (1 - pPool) * (1.0 / 4 + 1.0 / 5))
    assert(r._9 == (0.75 - 0.4) / se) // identical fixed-shape expression
    // assignment is a pure function of the id
    val ids = spark.range(0, 1000)
      .select(Experiment.assignVariant(col("id"), 20, 0 until 10).as("v"))
    val n = ids.groupBy("v").count().as[(String, Long)].collect().toMap
    assert(n("treatment") + n("control") == 1000L)
    assert(n("treatment") > 350 && n("treatment") < 650) // hash-balanced
    intercept[IllegalArgumentException] {
      Experiment.assignVariant(col("id"), 20, 0 until 20) // improper subset
    }
  }

  test("quality runChecks: violation counts and pass decisions per check") {
    import graft.analyze.Quality
    import graft.analyze.Quality._
    val df = Seq(
      (Some(1L), Some("a"), Some(5.0)),
      (Some(2L), Some("a"), Some(50.0)),  // dup "a", out-of-range 50
      (None, Some("b"), Some(-1.0)),      // null id, out-of-range -1
      (Some(3L), Some("zz"), None)        // out-of-set zz, null value ok
    ).toDF("id", "cat", "v")
    val got = Quality.runChecks(df, Seq(
        NotNull("id"), NotNull("id", maxNullPermille = 300),
        Unique("cat"), InRange("v", 0.0, 40.0),
        InSet("cat", Seq("a", "b")), MinRows(10L)))
      .as[(String, String, Long, Boolean)].collect().toSeq
    assert(got == Seq(
      ("not_null", "id", 1L, false),
      ("not_null", "id", 1L, true),   // 1/4 = 250 permille <= 300
      ("unique", "cat", 1L, false),   // one surplus "a"
      ("in_range", "v", 2L, false),
      ("in_set", "cat", 1L, false),
      ("min_rows", "*", 4L, false)))
    // a clean table passes everything
    val clean = Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "cat", "v")
    assert(Quality.runChecks(clean, Seq(NotNull("id"), Unique("cat"),
        InRange("v", 0.0, 40.0), InSet("cat", Seq("a", "b")), MinRows(2L)))
      .filter(!col("passed")).count() == 0)
  }

  test("streaming attributionStream == batch attributeTouches under in-order 2-batch arrival") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingDedup
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rnd = new scala.util.Random(1441)
    // 5 users, 300 events at distinct seconds; ~20% purchases; lookback
    // 40s so some touches expire unclaimed
    val evs = (0 until 300).map { i =>
      val ty = rnd.nextInt(10) match {
        case 0 | 1 => "purchase"
        case k if k % 2 == 0 => "click"
        case _ => "view"
      }
      StreamingDedup.AttrEvent(i % 5L, (100L + i) * 1000000L, i.toLong, ty)
    }
    val (b1, b2) = evs.partition(_.us < 250L * 1000000L)
    val mem = MemoryStream[StreamingDedup.AttrEvent]
    val q = StreamingDedup.attributionStream(mem.toDS(), "purchase",
        Seq("click", "view"), lookbackSeconds = 40L)
      .writeStream.format("memory").queryName("attr_stream")
      .outputMode("append").start()
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val got = spark.table("attr_stream")
        .as[(Long, Long, String, Int, Int)].collect().toSet
      val batch = graft.relational.Attribution.attributeTouches(
          evs.toDF("user_id", "us", "event_id", "event_type")
            .withColumn("ts", timestamp_micros(col("us"))),
          "user_id", "ts", "event_type", "event_id",
          "purchase", Seq("click", "view"), lookbackSeconds = 40L)
        .select(col("conv_id"), col("touch_id"), col("touch_type"),
          col("position"), col("n_touches").cast("int"))
        .as[(Long, Long, String, Int, Int)].collect().toSet
      assert(got.nonEmpty && got == batch)
    } finally q.stop()
  }

  test("linkage scorePairs: blocked pairs, agreement flags, tiers") {
    import graft.dedup.Linkage, Linkage.LinkRule
    val ppl = Seq(
      (1L, 10, "ann smith", "a", 100.0),
      (2L, 10, "ann smyth", "a", 150.0), // vs 1: name+seg+bal -> 6 match
      (3L, 10, "bob jones", "b", 500.0), // vs 1/2: nothing -> filtered
      (4L, 20, "ann smith", "a", 100.0)  // other block: never paired w/ 1
    ).toDF("id", "blk", "nm", "seg", "bal")
    val got = Linkage.scorePairs(ppl, "id", "blk",
        Seq("nm", "seg", "bal"),
        Seq(LinkRule("name", levenshtein(col("nm_a"), col("nm_b")) <= 2, 3),
          LinkRule("seg", col("seg_a") === col("seg_b"), 2),
          LinkRule("bal", abs(col("bal_a") - col("bal_b")) <= 100, 1)),
        matchMin = 5, possibleMin = 3)
      .as[(Long, Long, Int, Int, Int, Int, String)].collect()
      .map(r => (r._1, r._2) -> ((r._6, r._7))).toMap
    assert(got((1L, 2L)) == ((6, "match")))
    assert(got((1L, 3L)) == ((0, "non_match")))
    assert(got((2L, 3L)) == ((0, "non_match")))
    assert(!got.contains((1L, 4L))) // cross-block pair never forms
    assert(got.size == 3)
  }

  test("cohortLtv: hand-computed weekly/cumulative/per-member curve") {
    import graft.relational.Relational
    // cohort Mon 2024-01-01: users 1,2 (first events that week);
    // user 3 first-seen week of 2024-01-08
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      (1L, t("2024-01-01 10:00:00"), "view", 0.0),
      (2L, t("2024-01-03 10:00:00"), "purchase", 10.0),
      (1L, t("2024-01-09 10:00:00"), "purchase", 20.0),
      (2L, t("2024-01-10 10:00:00"), "purchase", 5.0),
      (3L, t("2024-01-10 11:00:00"), "purchase", 7.0)
    ).toDF("user_id", "ts", "event_type", "value")
    val got = Relational.cohortLtv(ev,
        ev.filter(col("event_type") === "purchase"),
        "user_id", "ts", "value")
      .orderBy("cohort_week", "week_offset")
      .as[(java.sql.Date, Int, Long, Double, Double, Double)]
      .collect().toSeq
    assert(got == Seq(
      (java.sql.Date.valueOf("2024-01-01"), 0, 2L, 10.0, 10.0, 5.0),
      (java.sql.Date.valueOf("2024-01-01"), 1, 2L, 25.0, 35.0, 17.5),
      (java.sql.Date.valueOf("2024-01-08"), 0, 1L, 7.0, 7.0, 7.0)))
  }

  test("stitchIdentities: transitive chains, singletons, popular-identifier star") {
    import graft.dedup.Dedup
    val ids = Seq(
      // chain: 1~e1~2, 2~d1~3 -> one person (min 1)
      (1L, "email", "e1"), (2L, "email", "e1"),
      (2L, "device", "d1"), (3L, "device", "d1"),
      // popular identifier: 10,11,12,13 share corp email -> one person
      (10L, "email", "corp"), (11L, "email", "corp"),
      (12L, "email", "corp"), (13L, "email", "corp"),
      // singleton: unique identifier only
      (20L, "email", "solo"),
      // collision guard: type+value must not concatenate ambiguously
      (30L, "ab", "c"), (31L, "a", "bc"),
      // null identifier rows ignored
      (40L, null, "x"), (40L, "email", null)
    ).toDF("ent", "id_type", "id_value")
    val got = Dedup.stitchIdentities(ids, "ent", "id_type", "id_value")
      .as[(Long, Long)].collect().toMap
    assert(got(1L) == 1L && got(2L) == 1L && got(3L) == 1L)
    assert(Seq(10L, 11L, 12L, 13L).forall(got(_) == 10L))
    assert(got(20L) == 20L)
    assert(got(30L) == 30L && got(31L) == 31L) // no separator collision
    assert(got(40L) == 40L)
    assert(got.size == 11)
  }

  test("lookalikeTopK: centroid direction ranks candidates; ties to smaller id") {
    import graft.analyze.Similarity
    // seeds point +x; candidates: 10 = +x (cos 1), 11 = diag (cos .707…),
    // 12 = +y (cos 0), 13 = +x too (tie with 10 broken by id)
    val emb = Seq(
      (1L, Array(1f, 0f), true), (2L, Array(3f, 0f), true),
      (10L, Array(2f, 0f), false), (13L, Array(5f, 0f), false),
      (11L, Array(1f, 1f), false), (12L, Array(0f, 4f), false)
    ).toDF("vec_id", "embedding", "is_seed")
    val got = Similarity.lookalikeTopK(emb, "vec_id", "embedding",
        seed = col("is_seed"), k = 3)
      .select("vec_id", "rank").as[(Long, Int)].collect().toSeq
    assert(got == Seq((10L, 1), (13L, 2), (11L, 3)))
  }

  test("gainsTable: hand-computed tiles, capture and lift") {
    import graft.analyze.Experiment
    // 10 entities, scores 10..1; converters are the top 3 scores plus
    // one at the bottom -> with 5 tiles of 2: conv per tile 2,1,0,0,1
    val scored = (1 to 10).map { i =>
      (i.toLong, 11 - i, if (i <= 3 || i == 10) 1 else 0)
    }.toDF("id", "score", "conv")
    val got = Experiment.gainsTable(scored, "id", "score", "conv", nTiles = 5)
      .orderBy("tile")
      .as[(Int, Long, Long, Double, Long, Double, Double)].collect().toSeq
    // overall rate 4/10; capture = cum/4; lift = tileRate / 0.4
    assert(got == Seq(
      (1, 2L, 2L, 1.0, 2L, 0.5, 1.0 / 0.4),
      (2, 2L, 1L, 0.5, 3L, 0.75, 0.5 / 0.4),
      (3, 2L, 0L, 0.0, 3L, 0.75, 0.0),
      (4, 2L, 0L, 0.0, 3L, 0.75, 0.0),
      (5, 2L, 1L, 0.5, 4L, 1.0, 0.5 / 0.4)))
  }

  test("frequencyCap: audit counts suppressed sends, enforce does not (divergence pinned)") {
    import graft.relational.Relational
    // user 1 sends at t = 0, 10, 20, 30, 40s; window 25s, cap 2.
    // AUDIT trailing counts: 1,2,3,3,3 -> events 20,30,40 violate.
    // ENFORCE: 0 ok, 10 ok, 20 blocked (2 allowed in window), 30
    // allowed (0 left window; allowed 10,30), 40 blocked (10 left but
    // 30 in window... allowed set at 40: {30} (10 < 15) -> 40 ALLOWED.
    val ev = Seq((1L, 0L, 1L), (1L, 10L, 2L), (1L, 20L, 3L),
        (1L, 30L, 4L), (1L, 40L, 5L))
      .map { case (u, t, id) => (u, ts(t), id) }
      .toDF("user_id", "ts", "event_id")
    val audit = Relational.frequencyCapAudit(ev, "user_id", "ts",
        windowSeconds = 25L, cap = 2)
      .select("event_id", "trailing_count", "violates")
      .as[(Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(audit == Seq((1L, 1L, false), (2L, 2L, false), (3L, 3L, true),
      (4L, 3L, true), (5L, 3L, true)))
    val enforce = Relational.frequencyCapEnforce(ev, "user_id", "ts",
        "event_id", windowSeconds = 25L, cap = 2)
      .select("event_id", "allowed")
      .as[(Long, Boolean)].collect().sortBy(_._1).toSeq
    // suppressed 20 does NOT count -> 30 and 40 both allowed
    assert(enforce == Seq((1L, true), (2L, true), (3L, false),
      (4L, true), (5L, true)))
  }

  test("aggState merge == recompute over random splits with nulls and disjoint keys") {
    import graft.relational.Relational
    val rnd = new scala.util.Random(169)
    val rows = (0 until 500).map { i =>
      (rnd.nextInt(20).toLong,
        if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(1000) / 10.0),
        rnd.nextInt(3)) // split assignment 0/1/2 -> three-way merge
    }.toDF("k", "v", "part")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("k"), col("n"), col("sum_v").cast("string"),
          col("min_v"), col("max_v"))
        .as[(Long, Long, String, Option[Double], Option[Double])]
        .collect().toSet
    val full = Relational.aggState(rows, Seq("k"), "v")
    val merged = (0 until 3).map(p =>
        Relational.aggState(rows.filter(col("part") === p), Seq("k"), "v"))
      .reduce(Relational.mergeAggStates(_, _, Seq("k")))
    assert(canon(merged) == canon(full))
    // all-null key survives with n=0 and null sum/min/max
    val nulls = Seq((99L, None: Option[Double], 0)).toDF("k", "v", "part")
    val st = Relational.aggState(nulls, Seq("k"), "v")
    assert(canon(st) == Set((99L, 0L, null, None, None)))
    assert(canon(Relational.mergeAggStates(st, st, Seq("k"))) ==
      Set((99L, 0L, null, None, None)))
  }

  test("streaming frequencyCapStream == batch enforce under in-order 2-batch arrival") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingDedup
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rnd = new scala.util.Random(168)
    val evs = (0 until 400).map { i =>
      StreamingDedup.CapEvent(i % 4L,
        (100L + i + rnd.nextInt(3)) * 1000000L, i.toLong)
    }.sortBy(e => (e.us, e.id))
    val (b1, b2) = evs.splitAt(200)
    val mem = MemoryStream[StreamingDedup.CapEvent]
    val q = StreamingDedup.frequencyCapStream(mem.toDS(),
        windowSeconds = 20L, cap = 5)
      .toDF("user_id", "event_id", "allowed")
      .writeStream.format("memory").queryName("cap_stream")
      .outputMode("append").start()
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val got = spark.table("cap_stream")
        .as[(Long, Long, Boolean)].collect().map(r => r._2 -> r._3).toMap
      val batch = graft.relational.Relational.frequencyCapEnforce(
          evs.toDF("user_id", "us", "event_id")
            .withColumn("ts", timestamp_micros(col("us"))),
          "user_id", "ts", "event_id", windowSeconds = 20L, cap = 5)
        .select("event_id", "allowed")
        .as[(Long, Boolean)].collect().toMap
      assert(got.size == 400 && got == batch)
      assert(got.values.exists(!_), "fixture should suppress something")
    } finally q.stop()
  }

  test("activeUserLadder: distinct-entity dau/wau/mau and stickiness") {
    import graft.analyze.Timeseries
    def t(s: String) = java.sql.Timestamp.valueOf(s + " 10:00:00")
    // Mon 2024-01-01 week: u1 active Mon+Tue (counted once in WAU),
    // u2 active Mon; next week u1 only; all January -> MAU 2
    val ev = Seq((1L, "2024-01-01"), (1L, "2024-01-01"), (1L, "2024-01-02"),
        (2L, "2024-01-01"), (1L, "2024-01-08"))
      .map { case (u, d) => (u, t(d)) }.toDF("user_id", "ts")
    val got = Timeseries.activeUserLadder(ev, "user_id", "ts")
      .orderBy("day")
      .as[(java.sql.Date, Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      (java.sql.Date.valueOf("2024-01-01"), 2L, 2L, 2L, 1.0),
      (java.sql.Date.valueOf("2024-01-02"), 1L, 2L, 2L, 0.5),
      (java.sql.Date.valueOf("2024-01-08"), 1L, 1L, 2L, 0.5)))
  }

  test("discretePercentiles: rank-ceil picks, duplicates, tiny groups, guards") {
    import graft.analyze.Stats
    // group "a": values 1..10 -> p50 = rank 5 -> 5; p90 -> rank 9; p99 -> rank 10
    // group "b": 3 rows [7,7,9] -> p50 rank ceil(1.5)=2 -> 7; p90 rank 3 -> 9
    val df = ((1 to 10).map(i => ("a", i.toLong, i.toLong)) ++
      Seq(("b", 7L, 101L), ("b", 7L, 102L), ("b", 9L, 103L)))
      .toDF("g", "v", "id")
    val got = Stats.discretePercentiles(df, "g", "v", "id", Seq(50, 90, 99))
      .as[(String, Int, Long)].collect().toSet
    assert(got == Set(("a", 50, 5L), ("a", 90, 9L), ("a", 99, 10L),
      ("b", 50, 7L), ("b", 90, 9L), ("b", 99, 9L)))
    intercept[IllegalArgumentException] {
      Stats.discretePercentiles(df, "g", "v", "id", Seq(0))
    }
  }

  test("cupedReadout: theta/rho2 on a known linear relation; balanced x keeps lift") {
    import graft.analyze.Experiment
    // y = 2x + variant effect: T gets +1. x perfectly balanced across
    // variants -> adj_lift == raw_lift == 1; theta == 2; rho2 < 1
    // (the +1 offsets decorrelate slightly), here y = 2x exactly plus
    // a constant per variant, so pooled cov/var still gives theta 2
    // only if offsets balance — use symmetric design:
    val rows = Seq(
      ("treatment", 1.0, 3.0), ("treatment", 2.0, 5.0),
      ("control", 1.0, 2.0), ("control", 2.0, 4.0))
      .toDF("variant", "x", "y")
    val r = Experiment.cupedReadout(rows, "variant", "y", "x")
      .as[(Long, Long, Double, Double, Double, Double, Double, Double)]
      .collect().head
    assert((r._1, r._2) == ((2L, 2L)))
    assert(r._3 == 4.0 && r._4 == 3.0)     // mean y per variant
    assert(r._5 == 1.0)                     // raw lift
    assert(r._6 == 2.0)                     // theta: y moves 2 per x
    assert(r._7 == 1.0)                     // x balanced -> lift unchanged
    assert(r._8 > 0.5 && r._8 < 1.0)        // substantial but partial rho2
  }

  test("replenishmentDue: median gap projection, overdue flag, <2-purchase exclusion") {
    import graft.analyze.Timeseries
    val us = 1000000L
    // user 1: purchases at 0,10,30,60s -> gaps 10,20,30 -> median 20
    //   -> due = 60+20 = 80s; asOf 100s -> overdue
    // user 2: one purchase -> excluded
    val ev = Seq((1L, 0L, 1L), (1L, 10L, 2L), (1L, 30L, 3L), (1L, 60L, 4L),
        (2L, 5L, 5L))
      .map { case (u, t, id) => (u, ts(t), id) }
      .toDF("user_id", "ts", "event_id")
    val got = Timeseries.replenishmentDue(ev, "user_id", "ts", "event_id",
        asOfUs = 100L * us)
      .select("user_id", "n_purchases", "median_gap_us", "due_us", "overdue")
      .as[(Long, Long, Long, Long, Boolean)].collect().toSeq
    assert(got == Seq((1L, 4L, 20L * us, 80L * us, true)))
  }

  test("budgetPacing: decimal cum vs linear target, month-length aware") {
    import graft.analyze.Timeseries
    def t(s: String) = java.sql.Timestamp.valueOf(s + " 12:00:00")
    // Jan (31 days), budget 310 -> daily target slope 10
    val ev = Seq(("c1", "2024-01-01", 15.0), ("c1", "2024-01-01", 5.0),
        ("c1", "2024-01-02", 10.0), ("c1", "2024-01-31", 280.0),
        // Feb (29 days in 2024), budget 29 -> slope 1
        ("c2", "2024-02-01", 2.0))
      .map { case (k, d, v) => (k, t(d), v) }.toDF("k", "ts", "v")
    val budgets = Seq(("c1", BigDecimal("310.00")), ("c2", BigDecimal("29.00")))
      .toDF("k", "budget")
    val got = Timeseries.budgetPacing(ev, "k", "ts", "v", budgets)
      .orderBy("k", "day")
      .as[(String, java.sql.Date, Double, Double, Double)].collect().toSeq
    assert(got == Seq(
      ("c1", java.sql.Date.valueOf("2024-01-01"), 20.0, 10.0, 2.0),
      ("c1", java.sql.Date.valueOf("2024-01-02"), 30.0, 20.0, 1.5),
      ("c1", java.sql.Date.valueOf("2024-01-31"), 310.0, 310.0, 1.0),
      ("c2", java.sql.Date.valueOf("2024-02-01"), 2.0, 1.0, 2.0)))
  }

  test("journeyTransitions: claimed paths, zero-touch conversions, NULL journeys") {
    import graft.relational.MarkovAttribution
    val ev = Seq(
      // user 1: view -> click -> purchase (claimed journey)
      (1L, 10L, "view", 1L), (1L, 20L, "click", 2L), (1L, 30L, "purchase", 100L),
      // user 2: zero-touch conversion
      (2L, 10L, "purchase", 101L),
      // user 3: trailing unclaimed touches -> NULL journey
      (3L, 10L, "click", 3L), (3L, 20L, "click", 4L)
    ).map { case (u, t, ty, id) => (u, ts(t), ty, id) }
      .toDF("user_id", "ts", "event_type", "event_id")
    val got = MarkovAttribution.journeyTransitions(ev, "user_id", "ts",
        "event_type", "event_id", "purchase", Seq("click", "view"), 3600L)
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got == Map(
      ("START", "view") -> 1L, ("view", "click") -> 1L,
      ("click", "CONV") -> 1L, ("START", "CONV") -> 1L,
      ("START", "click") -> 1L, ("click", "click") -> 1L,
      ("click", "NULL") -> 1L))
  }

  test("removalEffects: exact fixed-point absorption on a hand matrix") {
    import graft.relational.MarkovAttribution
    // START -> a (2), START -> CONV (1), START -> NULL (1);
    // a -> CONV (1), a -> NULL (1).
    // Exact absorption: p(a) = 1/2; p(START) = (2*1/2 + 1)/4 = 1/2.
    // Remove a: p(START) = 1/4.  Effect = 1/4 of scale.
    val tr = Seq(("START", "a", 2L), ("START", "CONV", 1L),
      ("START", "NULL", 1L), ("a", "CONV", 1L), ("a", "NULL", 1L))
      .toDF("src", "dst", "cnt")
    val got = MarkovAttribution.removalEffects(tr, k = 20)
      .as[(String, Long, Long, Long)].collect().toSeq
    val S = 1000000000000L
    assert(got == Seq(("a", S / 2, S / 4, S / 4)))
  }

  test("attribution: random events equal a sequential Scala reference (500 rows, 3 seeds)") {
    for (seed <- Seq(11, 22, 33)) {
      val rnd = new scala.util.Random(seed)
      val evs = (0 until 500).map { i =>
        val ty = rnd.nextInt(10) match {
          case 0 | 1 => "purchase"
          case k if k % 2 == 0 => "click"
          case _ => "view"
        }
        (rnd.nextInt(6).toLong, (100L + rnd.nextInt(400)).toLong, i.toLong, ty)
      }
      val look = 60L
      // reference: per entity, scan desc over (us, kindDesc, idDesc);
      // next conv = last conv seen; claim if within lookback
      val ref = evs.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
        val sorted = rows.sortBy(r => (-r._2, -(if (r._4 == "purchase") 1 else 0), -r._3))
        var conv: Option[(Long, Long)] = None // (id, us)
        val claims = scala.collection.mutable.ArrayBuffer[(Long, Long, String, Long)]()
        sorted.foreach { r =>
          if (r._4 == "purchase") conv = Some((r._3, r._2))
          else conv.foreach { case (cid, cus) =>
            if (cus - r._2 <= look) claims += ((cid, r._3, r._4, r._2))
          }
        }
        claims.groupBy(_._1).toSeq.flatMap { case (cid, ts) =>
          val ordered = ts.sortBy(t => (t._4, t._2))
          ordered.zipWithIndex.map { case (t, i) =>
            (cid, t._2, t._3, i + 1, ordered.size)
          }
        }
      }.toSet
      val got = graft.relational.Attribution.attributeTouches(
          evs.toDF("user_id", "us", "event_id", "event_type")
            .withColumn("ts", timestamp_seconds(col("us"))),
          "user_id", "ts", "event_type", "event_id",
          "purchase", Seq("click", "view"), lookbackSeconds = look)
        .select(col("conv_id"), col("touch_id"), col("touch_type"),
          col("position"), col("n_touches").cast("int"))
        .as[(Long, Long, String, Int, Int)].collect()
        .map(r => (r._1, r._2, r._3, r._4, r._5)).toSet
      assert(got == ref, s"seed $seed: diff ${(got diff ref).take(3)} / ${(ref diff got).take(3)}")
    }
  }

  test("anonymityAudit: k and l violations flagged independently") {
    import graft.relational.DeletePropagation
    val df = Seq(
      // class A: 5 rows, 3 distinct sensitive -> passes both at k=5 l=3
      ("A", "s1"), ("A", "s2"), ("A", "s3"), ("A", "s1"), ("A", "s2"),
      // class B: 5 rows but 1 sensitive -> l violation only
      ("B", "x"), ("B", "x"), ("B", "x"), ("B", "x"), ("B", "x"),
      // class C: 2 rows, 2 sensitive -> k violation AND l violation
      ("C", "p"), ("C", "q")
    ).toDF("quasi", "sens")
    val got = DeletePropagation.anonymityAudit(df, Seq("quasi"), "sens",
        k = 5, l = 3)
      .as[(String, Long, Long, Boolean, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got("A") == ((5L, 3L, false, false)))
    assert(got("B") == ((5L, 1L, false, true)))
    assert(got("C") == ((2L, 2L, true, true)))
  }

  test("sessionize: gap rule, tie order, session stats") {
    // user 1: events at t=0,100,200 (gaps 100 <= 120 -> one session),
    //   then t=400 (gap 200 > 120 -> new session), t=450.
    // user 2: single event -> one 1-event session, duration 0.
    // user 3: two events at the SAME ts -> tiebreak keeps one session
    //   (gap 0), deterministic numbering.
    val ev = Seq(
      (1L, 0L, "view", 1L), (1L, 100L, "click", 2L), (1L, 200L, "view", 3L),
      (1L, 400L, "purchase", 4L), (1L, 450L, "view", 5L),
      (2L, 10L, "view", 6L),
      (3L, 7L, "click", 7L), (3L, 7L, "view", 8L)
    ).map { case (u, t, ty, id) => (u, ts(t), ty, id) }
      .toDF("user_id", "ts", "event_type", "event_id")
    val got = graft.relational.Sessionize.sessionStats(ev, "user_id",
        "ts", "event_id", "event_type", gapSeconds = 120L)
      .orderBy("user_id", "session_seq")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 1L, 0L, 200000000L, 200000000L, 3L, 2L),
      (1L, 2L, 400000000L, 450000000L, 50000000L, 2L, 2L),
      (2L, 1L, 10000000L, 10000000L, 0L, 1L, 1L),
      (3L, 1L, 7000000L, 7000000L, 0L, 2L, 2L)))
    // exactly-at-gap boundary stays in-session (strictly greater starts)
    val edge = Seq((9L, 0L, "a", 1L), (9L, 120L, "b", 2L))
      .map { case (u, t, ty, id) => (u, ts(t), ty, id) }
      .toDF("user_id", "ts", "event_type", "event_id")
    val e = graft.relational.Sessionize.sessionize(edge, "user_id", "ts",
        "event_id", gapSeconds = 120L)
      .agg(max("session_seq")).as[Long].head()
    assert(e == 1L)
    intercept[IllegalArgumentException] {
      graft.relational.Sessionize.sessionize(edge, "user_id", "ts",
        "event_id", gapSeconds = 0L)
    }
    intercept[IllegalArgumentException] {
      graft.relational.Sessionize.sessionize(
        edge.withColumn("session_seq", lit(1)), "user_id", "ts",
        "event_id", gapSeconds = 10L)
    }
  }

  test("abcClassify: exact 80/95 boundaries, tie order, null drop") {
    // totals: d1=50, d2=30, d3=15, d4=5 (grand 100) -> cum 50, 80, 95,
    // 100 -> classes A (<=80 INCLUSIVE), A, B (<=95 inclusive), C.
    // d2's total arrives as two facts; a null-value fact is dropped;
    // d3a/d3b would tie at 15 -> split to 15/5 to keep totals distinct
    // except the boundary we want.
    val facts = Seq(
      ("d1", Some(20.0)), ("d1", Some(30.0)),
      ("d2", Some(10.0)), ("d2", Some(20.0)), ("d2", None),
      ("d3", Some(15.0)), ("d4", Some(5.0))
    ).toDF("dim", "v")
    val got = graft.analyze.Stats.abcClassify(facts, "dim", "v")
      .orderBy("rnk")
      .as[(String, Long, Double, Double, String)].collect().toSeq
    assert(got == Seq(
      ("d1", 1L, 50.0, 0.50, "A"),
      ("d2", 2L, 30.0, 0.80, "A"),
      ("d3", 3L, 15.0, 0.95, "B"),
      ("d4", 4L, 5.0, 1.00, "C")))
    // equal totals tiebreak on the dim key, ascending
    val tied = Seq(("b", 10.0), ("a", 10.0)).toDF("dim", "v")
    val order = graft.analyze.Stats.abcClassify(tied, "dim", "v")
      .orderBy("rnk").select("dim").as[String].collect().toSeq
    assert(order == Seq("a", "b"))
    intercept[IllegalArgumentException] {
      graft.analyze.Stats.abcClassify(facts, "dim", "v", 95, 80)
    }
  }

  test("reachFrequency: exact histogram and f+ curve") {
    // type x: u1 seen 3 times, u2 once, u3 once -> hist {1:2, 3:1},
    //   f+ curve: freq 3 -> 1 user (1/3), freq 1 -> 3 users (3/3).
    // type y: u1 twice -> single row, reach_share 1.0.
    val ev = Seq(
      ("x", 1L), ("x", 1L), ("x", 1L), ("x", 2L), ("x", 3L),
      ("y", 1L), ("y", 1L)
    ).toDF("event_type", "user_id")
    val got = graft.analyze.Reach.reachFrequency(ev, "user_id", "event_type")
      .orderBy("event_type", "freq")
      .as[(String, Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      ("x", 1L, 2L, 3L, 1.0),
      ("x", 3L, 1L, 1L, 1.0 / 3),
      ("y", 2L, 1L, 1L, 1.0)))
  }

  test("cusumShift: closed form equals the max(0,·) recursion, exact flags") {
    // key a: [10,10,10,22,22] -> D=5, N=74, dev=v*5-74 -> S=[0,0,0,36,72];
    // at thr 1/2: flag iff S*2 > 74 -> only the last row.
    // key b: [5,1,9] -> S=[0,0,12]; 12*2 > 15 -> last row flags.
    val s5 = Seq(("a", 1L, 10L), ("a", 2L, 10L), ("a", 3L, 10L),
      ("a", 4L, 22L), ("a", 5L, 22L),
      ("b", 1L, 5L), ("b", 2L, 1L), ("b", 3L, 9L))
      .toDF("k", "d", "n")
    val got = graft.analyze.Timeseries.cusumShift(s5, "k", "d", "n", 1, 2)
      .orderBy("k", "d")
      .as[(String, Long, Long, Long, Boolean)].collect().toSeq
    assert(got == Seq(
      ("a", 1L, 10L, 0L, false), ("a", 2L, 10L, 0L, false),
      ("a", 3L, 10L, 0L, false), ("a", 4L, 22L, 36L, false),
      ("a", 5L, 22L, 72L, true),
      ("b", 1L, 5L, 0L, false), ("b", 2L, 1L, 0L, false),
      ("b", 3L, 9L, 12L, true)))
    // closed form == sequential recursion on a seeded random series
    val rnd = new scala.util.Random(42)
    val vals = Seq.fill(40)(rnd.nextInt(100).toLong)
    val df = vals.zipWithIndex.map { case (v, i) => ("r", i.toLong, v) }
      .toDF("k", "d", "n")
    val gotS = graft.analyze.Timeseries.cusumShift(df, "k", "d", "n", 1, 1)
      .orderBy("d").select("s_scaled").as[Long].collect().toSeq
    val dTot = vals.length.toLong
    val nTot = vals.sum
    val expS = vals.scanLeft(0L)((s, v) =>
      math.max(0L, s + (v * dTot - nTot))).tail
    assert(gotS == expS)
    intercept[IllegalArgumentException] {
      graft.analyze.Timeseries.cusumShift(s5, "k", "d", "n", 0, 2)
    }
  }

  test("survivalHazard: lifetimes, right-censoring, at-risk cumulation") {
    // period 10 s, censor 5 s, corpus end t=30:
    //   u1 last=0 life=0; u2 last=25 life=2 (25 > 25 false -> NOT
    //   censored, the boundary is strict); u3 life=1; u4 last=30
    //   life=1 censored. at_risk desc-cum: life2=1, life1=3, life0=4.
    val ev = Seq((1L, 0L), (2L, 0L), (2L, 25L), (3L, 0L), (3L, 12L),
      (4L, 20L), (4L, 30L))
      .map { case (u, t0) => (u, ts(t0)) }.toDF("user_id", "ts")
    val got = graft.analyze.Survival.survivalHazard(ev, "user_id", "ts",
        periodSeconds = 10L, censorSeconds = 5L)
      .orderBy("period")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      (0L, 4L, 1L, 0.25),
      (1L, 3L, 1L, 1.0 / 3),
      (2L, 1L, 1L, 1.0)))
    intercept[IllegalArgumentException] {
      graft.analyze.Survival.survivalHazard(ev, "user_id", "ts", 0L, 5L)
    }
  }

  test("q185 composite: session entry type, conversion, bounce") {
    // u1 session1: view -> purchase (entry view, converted, not
    // bounce); u1 session2 after the gap: click alone (bounce);
    // u2: purchase alone (entry purchase, converted bounce).
    val ev = Seq(
      (1L, 0L, "view", 1L), (1L, 50L, "purchase", 2L),
      (1L, 1000L, "click", 3L),
      (2L, 10L, "purchase", 4L)
    ).map { case (u, t0, ty, id) => (u, ts(t0), ty, id) }
      .toDF("user_id", "ts", "event_type", "event_id")
    val tagged = graft.relational.Sessionize.sessionize(ev, "user_id",
      "ts", "event_id", gapSeconds = 120L)
    val us = unix_micros(col("ts"))
    val per = tagged.groupBy(col("user_id"), col("session_seq"))
      .agg(min(struct(us.as("u"), col("event_id").as("i"),
          col("event_type").as("t"))).as("e"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("c"),
        count(lit(1)).as("n"))
      .select(col("user_id"), col("session_seq"),
        col("e").getField("t").as("entry"), col("c"), col("n"))
      .orderBy("user_id", "session_seq")
      .as[(Long, Long, String, Long, Long)].collect().toSeq
    assert(per == Seq(
      (1L, 1L, "view", 1L, 2L),
      (1L, 2L, "click", 0L, 1L),
      (2L, 1L, "purchase", 1L, 1L)))
  }

  test("lorenzGini: exact rational coefficient, equality and extremes") {
    // Values are scaled to integer paise (x100) internally; num and den
    // scale by the same 100, so the coefficient is unchanged.
    // group e: perfectly equal values [10,10,10,10] -> G = 0 exactly.
    // group c: [0, 0, 0, 100] (one dim owns everything) -> paise
    //   [0,0,0,10000]: num = 2*(4*10000) - 10000*5 = 30000,
    //   den = 40000 -> 0.75 (= (n-1)/n, the discrete maximum).
    val facts = Seq(
      ("e", "d1", 10.0), ("e", "d2", 10.0), ("e", "d3", 10.0),
      ("e", "d4", 10.0),
      ("c", "d1", 0.0), ("c", "d2", 0.0), ("c", "d3", 0.0),
      ("c", "d4", 100.0)
    ).toDF("g", "dim", "v")
    val got = graft.analyze.Stats.lorenzGini(facts, "g", "dim", "v")
      .orderBy("g")
      .select(col("g"), col("n_dims"), col("gini_num"),
        col("gini_den"), col("gini"))
      .as[(String, Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      ("c", 4L, 30000L, 40000L, 0.75),
      ("e", 4L, 0L, 16000L, 0.0)))
    // the display double (dropped from the gated q186 projection) is
    // the single IEEE division of the exact integers
    assert(got.forall { case (_, _, num, den, g) =>
      g == num.toDouble / den.toDouble })
  }

  test("attribution: rejects overlapping conversion/touch types and bad lookback") {
    val ev = Seq((1L, ts(1), "click", 1L))
      .toDF("user_id", "ts", "event_type", "event_id")
    intercept[IllegalArgumentException] {
      Attribution.attributeTouches(ev, "user_id", "ts", "event_type",
        "event_id", "click", Seq("click"), 10L)
    }
    intercept[IllegalArgumentException] {
      Attribution.attributeTouches(ev, "user_id", "ts", "event_type",
        "event_id", "purchase", Seq("click"), 0L)
    }
  }
}
