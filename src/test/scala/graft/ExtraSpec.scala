package graft

import java.nio.file.Files
import java.time.{ZoneId, ZonedDateTime}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._

import graft.core.AppConfig
import graft.dedup.Dedup
import graft.multimodal.MultiModal
import graft.source.CatalogOps
import graft.streaming.StreamingDedup
import graft.transform.DateMacros

/** Catalog ops, SQL-CTE parity, config/date macros, streaming twin, and
  * multimodal plumbing. */
class ExtraSpec extends SparkSpec {
  import spark.implicits._
  import ExtraSpec.KeyedChange

  test("T12 date macros substitute on the IST clock") {
    val now = ZonedDateTime.of(2024, 3, 10, 1, 5, 0, 0, ZoneId.of("UTC"))
    // 01:05 UTC = 06:35 IST same day
    val got = DateMacros.substitute(
      "from {yesterday} to {today} at {hour}:{min}", now)
    assert(got == "from 2024-03-09 to 2024-03-10 at 06:35")
  }

  test("R16 config load: plain JVM file IO + JSON + macro substitution") {
    val p = Files.createTempFile("graft-conf", ".json")
    Files.writeString(p, """{"job_name":"up","platform":"clevertap","output_path":"/tmp/{today}/x","retries":3}""")
    val conf = AppConfig.load(p.toString)
    assert(conf("job_name") == "up" && conf("retries") == "3")
    assert(!conf("output_path").contains("{today}"))
  }

  test("R1/R2 catalog: USE db + named table scan; bad identifiers rejected") {
    val dir = Files.createTempDirectory("graft-cat").toString
    Seq((1, "a"), (2, "b")).toDF("id", "v").write.parquet(s"$dir/t1")
    CatalogOps.useDatabase(spark, "martech_dev")
    CatalogOps.registerParquet(spark, "profiles", s"$dir/t1")
    assert(CatalogOps.table(spark, "profiles").count() == 2)
    assert(spark.catalog.currentDatabase == "martech_dev")
    intercept[IllegalArgumentException](CatalogOps.useDatabase(spark, "x; drop"))
    spark.catalog.setCurrentDatabase("default")
  }

  test("R7/R8 reference CTE SQL ≡ window form (off ties)") {
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val changes = Seq(
      (1L, ts("2024-01-01 10:00:00"), "a"),
      (1L, ts("2024-01-01 11:00:00"), "b"),
      (2L, ts("2024-01-01 09:00:00"), "c")
    ).toDF("customer_id", "_commit_timestamp", "v")
    val sqlForm = CatalogOps.latestChangesSql(spark, changes, "customer_id", "_commit_timestamp")
      .select("customer_id", "v").collect().toSet
    val winForm = graft.dedup.Dedup.latestPerKey(changes, Seq("customer_id"),
        Seq(col("_commit_timestamp").desc))
      .select("customer_id", "v").collect().toSet
    assert(sqlForm == winForm)
  }

  test("streaming: latest-per-key state emits newest per key") {
    val dir = Files.createTempDirectory("graft-stream").toString
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    Seq(
      KeyedChange(1L, ts("2024-01-01 10:00:00"), "old"),
      KeyedChange(1L, ts("2024-01-01 11:00:00"), "new"),
      KeyedChange(2L, ts("2024-01-01 09:00:00"), "only")
    ).toDS().write.parquet(s"$dir/in")
    val schema = implicitly[org.apache.spark.sql.Encoder[KeyedChange]].schema
    val stream = spark.readStream.schema(schema).parquet(s"$dir/in")
    runToMemory(
      Dedup.latestPerKeyAgg(stream, Seq("key"), Seq("ts")),
      "latest_out", OutputMode.Update())
    val got = spark.table("latest_out")
      .select($"key", $"payload").as[(Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.last._2).toMap
    assert(got == Map(1L -> "new", 2L -> "only"))
  }

  test("streaming state is BOUNDED: key-domain for latest-per-key, watermark-evicted for dedup") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def lastStateRows(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
      q.recentProgress.reverse.find(_.stateOperators.nonEmpty)
        .map(_.stateOperators.head.numRowsTotal).getOrElse(-1L)

    // the latest-per-key aggregation over a LONG stream: 20 micro-batches
    // x 500 events but only 10 distinct keys — state must track the key
    // domain (10 rows), not the stream length (10,000)
    val mem = MemoryStream[KeyedChange]
    val q = Dedup.latestPerKeyAgg(mem.toDF(), Seq("key"), Seq("ts"))
      .writeStream.format("memory").queryName("lpk_bound")
      .outputMode("update").start()
    try {
      for (b <- 0 until 20) {
        mem.addData((0 until 500).map(i => KeyedChange(
          (i % 10).toLong, new java.sql.Timestamp(b * 100000L + i), s"p$b")): _*)
        q.processAllAvailable()
      }
      assert(lastStateRows(q) == 10L, s"state rows = ${lastStateRows(q)}")
    } finally q.stop()

    // watermarked dropDuplicates: rows older than the 10s watermark window
    // are EVICTED as event time advances — state is O(window), not O(history)
    val mem2 = MemoryStream[(Long, java.sql.Timestamp)]
    val dd = mem2.toDF().toDF("key", "ts")
      .withWatermark("ts", "10 seconds").dropDuplicates("key", "ts")
    val q2 = dd.writeStream.format("memory").queryName("dd_bound")
      .outputMode("append").start()
    try {
      def batch(baseSec: Long, n: Int) = (0 until n).map(i =>
        (baseSec + i, new java.sql.Timestamp((baseSec + i) * 1000L)))
      mem2.addData(batch(0L, 100): _*); q2.processAllAvailable()
      mem2.addData(batch(10000000L, 10): _*); q2.processAllAvailable()
      mem2.addData(batch(20000000L, 10): _*); q2.processAllAvailable()
      val rows = lastStateRows(q2)
      assert(rows >= 0 && rows < 50, s"state not watermark-evicted: $rows of 120")
    } finally q2.stop()
  }

  test("streaming: windowed counts with watermark over the events fixture") {
    val dir = Files.createTempDirectory("graft-stream2").toString
    Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select("ts", "event_type").write.parquet(s"$dir/in")
    val schema = StructType(Seq(StructField("ts", TimestampType),
      StructField("event_type", StringType)))
    val stream = spark.readStream.schema(schema).parquet(s"$dir/in")
    runToMemory(
      stream.withWatermark("ts", "10 minutes")
        .groupBy(window($"ts", "1 hour"), $"event_type").agg(count(lit(1)).as("n")),
      "win_out", OutputMode.Append())
    // append mode emits only watermark-closed windows; the fixture spans
    // a month so nearly all windows close — counts must sum to ~all rows
    val total = spark.table("win_out").agg(sum("n")).head.getLong(0)
    assert(total > 900)
  }

  test("asofJoinBackward: ties include equal ts, tiebreak picks greatest, unmatched null") {
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val left = Seq(
      (1L, 10L, ts("2024-01-05 00:00:00")),  // matches order 3 (latest ≤)
      (2L, 10L, ts("2024-01-02 00:00:00")),  // equal-ts order included; tiebreak → key 2
      (3L, 10L, ts("2023-12-31 00:00:00")),  // before all orders → null
      (4L, 99L, ts("2024-01-05 00:00:00"))   // key with no orders → null
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (10L, ts("2024-01-01 00:00:00"), 1L, 100.0),
      (10L, ts("2024-01-02 00:00:00"), 2L, 200.0), // same ts as order 1? no: later ts
      (10L, ts("2024-01-02 00:00:00"), 20L, 250.0), // equal ts, larger key wins tiebreak
      (10L, ts("2024-01-04 00:00:00"), 3L, 300.0)
    ).toDF("user_id", "odate", "okey", "price")
    val rightWithNull = right.union(
      Seq((10L, null.asInstanceOf[java.sql.Timestamp], 99L, 999.0))
        .toDF("user_id", "odate", "okey", "price"))
    val rows = graft.relational.Relational.asofJoinBackward(
        left, rightWithNull, key = "user_id", leftTs = "ts", rightTs = "odate",
        tiebreak = "okey", payload = Seq("okey", "price"))
      .select($"event_id", $"matched_okey", $"matched_price")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(rows(1L) == Some(3L))
    assert(rows(2L) == Some(20L)) // equal timestamp included; larger okey wins
    assert(rows(3L).isEmpty)
    assert(rows(4L).isEmpty)
  }

  test("asofJoinForward: next-at-or-after, tiebreak picks smallest, unmatched null") {
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val left = Seq(
      (1L, 10L, ts("2024-01-03 00:00:00")),  // next order at 2024-01-04 → key 3
      (2L, 10L, ts("2024-01-02 00:00:00")),  // equal-ts orders included; SMALLEST key 2 wins
      (3L, 10L, ts("2024-01-05 00:00:00")),  // after all orders → null
      (4L, 99L, ts("2024-01-01 00:00:00"))   // key with no orders → null
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (10L, ts("2024-01-01 00:00:00"), 1L, 100.0),
      (10L, ts("2024-01-02 00:00:00"), 2L, 200.0),
      (10L, ts("2024-01-02 00:00:00"), 20L, 250.0),
      (10L, ts("2024-01-04 00:00:00"), 3L, 300.0),
      (10L, null.asInstanceOf[java.sql.Timestamp], 99L, 999.0)
    ).toDF("user_id", "odate", "okey", "price")
    val rows = graft.relational.Relational.asofJoinForward(
        left, right, key = "user_id", leftTs = "ts", rightTs = "odate",
        tiebreak = "okey", payload = Seq("okey", "price"))
      .select($"event_id", $"matched_okey")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(rows(1L) == Some(3L))
    assert(rows(2L) == Some(2L)) // equal ts included; smallest okey wins
    assert(rows(3L).isEmpty)
    assert(rows(4L).isEmpty)
  }

  test("asofJoinNearest: closer side wins, exact distance tie prefers past, one-sided falls back") {
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val left = Seq(
      (1L, 10L, ts("2024-01-03 06:00:00")),  // past at -30h, future at +42h → past (key 2)
      (2L, 10L, ts("2024-01-03 12:00:00")),  // past -36h, future +36h: EXACT tie → past (key 2)
      (3L, 10L, ts("2024-01-04 18:00:00")),  // past -66h, future +6h → future (key 3)
      (4L, 10L, ts("2023-12-01 00:00:00")),  // before all → forward fallback (key 1)
      (5L, 10L, ts("2024-06-01 00:00:00")),  // after all → backward fallback (key 3)
      (6L, 99L, ts("2024-01-01 00:00:00"))   // key with no orders → null
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (10L, ts("2024-01-01 00:00:00"), 1L, 100.0),
      (10L, ts("2024-01-02 00:00:00"), 2L, 200.0),
      (10L, ts("2024-01-05 00:00:00"), 3L, 300.0),
      (10L, null.asInstanceOf[java.sql.Timestamp], 99L, 999.0)
    ).toDF("user_id", "odate", "okey", "price")
    val rows = graft.relational.Relational.asofJoinNearest(
        left, right, key = "user_id", leftTs = "ts", rightTs = "odate",
        tiebreak = "okey", payload = Seq("okey", "price"))
      .select($"event_id", $"matched_okey")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(rows(1L) == Some(2L))
    assert(rows(2L) == Some(2L)) // exact tie: past wins
    assert(rows(3L) == Some(3L))
    assert(rows(4L) == Some(1L))
    assert(rows(5L) == Some(3L))
    assert(rows(6L).isEmpty)
  }

  test("bloomSemiJoin: exact result, prefilter passes every true match and prunes") {
    import graft.relational.Relational
    val big = (0L until 20000L).map(i => (i, s"p$i")).toDF("k", "payload")
    val keys = (0L until 20000L by 100L).map(i => Tuple1(i)).toDF("kk") // 200 keys
    val exact = big.join(keys, $"k" === $"kk", "left_semi")
      .select("k").as[Long].collect().toSet
    val pre = Relational.bloomPrefilter(big, keys, "k", "kk",
      expectedItems = 1000L, fpp = 0.01)
    val preKeys = pre.select("k").as[Long].collect().toSet
    assert(exact.subsetOf(preKeys), "bloom prefilter dropped a true match")
    assert(preKeys.size < 20000, "prefilter pruned nothing")
    val viaBloom = Relational.bloomSemiJoin(big, keys, "k", "kk",
      expectedItems = 1000L, fpp = 0.01)
      .select("k").as[Long].collect().toSet
    assert(viaBloom == exact)
  }

  test("rangeBinJoin: interval membership, open upper bin, out-of-range null") {
    val facts = Seq((1L, 5.0), (2L, 10.0), (3L, 250.0), (4L, -1.0))
      .toDF("id", "value")
    val bins = Seq(("low", 0.0, Some(10.0)), ("mid", 10.0, Some(100.0)),
      ("high", 100.0, None)).toDF("tier", "lo", "hi")
      .select($"tier", $"lo", $"hi".cast("double"))
    val got = graft.relational.Relational.rangeBinJoin(facts, bins, "value")
      .select($"id", $"tier").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(got == Map(1L -> Some("low"), 2L -> Some("mid"), // boundary joins upper bin
      3L -> Some("high"), 4L -> None))                      // below all bins → null
  }

  test("streaming: sliding + session windows and stream-static enrichment") {
    val dir = Files.createTempDirectory("graft-stream3").toString
    Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select("ts", "event_type", "user_id").write.parquet(s"$dir/in")
    val schema = StructType(Seq(StructField("ts", TimestampType),
      StructField("event_type", StringType), StructField("user_id", LongType)))
    def stream = spark.readStream.schema(schema).parquet(s"$dir/in")

    runToMemory(
      stream.withWatermark("ts", "10 minutes")
        .groupBy(window($"ts", "1 hour", "30 minutes"), $"event_type").agg(count(lit(1)).as("n")),
      "slide_out", OutputMode.Append())
    val slideTotal = spark.table("slide_out").agg(sum("n")).head.getLong(0)
    val tumbleTotal = {
      runToMemory(
        stream.withWatermark("ts", "10 minutes")
          .groupBy(window($"ts", "1 hour"), $"event_type").agg(count(lit(1)).as("n")),
        "tumble_out2", OutputMode.Append())
      spark.table("tumble_out2").agg(sum("n")).head.getLong(0)
    }
    // 1h windows sliding every 30m ⇒ each event counted ~2× vs tumbling
    assert(slideTotal > tumbleTotal * 3 / 2)

    runToMemory(
      stream.withWatermark("ts", "10 minutes")
        .groupBy(session_window($"ts", "30 minutes"), $"user_id").agg(count(lit(1)).as("n")),
      "sess_out", OutputMode.Append())
    val sess = spark.table("sess_out")
    assert(sess.agg(sum("n")).head.getLong(0) > 0)
    // session windows expose start/end; every session is ≥ one event long
    assert(sess.filter($"session_window.end" < $"session_window.start").count() == 0)

    val dim = Seq(("purchase", 1.0), ("view", 0.1)).toDF("event_type", "weight")
    runToMemory(
      stream.join(broadcast(dim), Seq("event_type"), "left"),
      "enrich_out", OutputMode.Append())
    val enriched = spark.table("enrich_out")
    assert(enriched.count() > 900)
    assert(enriched.columns.contains("weight"))
  }

  test("streaming: watermarked stream-stream interval join (attribution shape)") {
    val dir = Files.createTempDirectory("graft-ssj").toString
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    Seq((1L, ts("2024-01-01 10:00:00"), "purchase"),
        (1L, ts("2024-01-01 12:00:00"), "purchase"),
        (2L, ts("2024-01-01 10:30:00"), "purchase"))
      .toDF("user_id", "p_ts", "p_type").write.parquet(s"$dir/purchases")
    Seq((1L, ts("2024-01-01 09:40:00"), "view"),  // within 1h of 10:00 purchase
        (1L, ts("2024-01-01 08:00:00"), "view"),  // too early for both
        (2L, ts("2024-01-01 10:00:00"), "view"))  // within 1h of 10:30
      .toDF("user_id", "v_ts", "v_type").write.parquet(s"$dir/views")
    val pSchema = StructType(Seq(StructField("user_id", LongType),
      StructField("p_ts", TimestampType), StructField("p_type", StringType)))
    val vSchema = StructType(Seq(StructField("user_id", LongType),
      StructField("v_ts", TimestampType), StructField("v_type", StringType)))
    val joined = StreamingDedup.intervalJoin(
      spark.readStream.schema(pSchema).parquet(s"$dir/purchases"),
      spark.readStream.schema(vSchema).parquet(s"$dir/views"),
      key = "user_id", leftTs = "p_ts", rightTs = "v_ts",
      bound = "1 HOUR", watermark = "10 minutes")
    runToMemory(joined, "ssj_out", OutputMode.Append())
    val got = spark.table("ssj_out")
      .select($"user_id", $"p_ts", $"v_ts").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getTimestamp(2).toString)).toSet
    assert(got == Set(
      (1L, "2024-01-01 10:00:00.0", "2024-01-01 09:40:00.0"),
      (2L, "2024-01-01 10:30:00.0", "2024-01-01 10:00:00.0")))
  }

  test("streaming: foreachBatch egress with epoch-keyed idempotency") {
    val dir = Files.createTempDirectory("graft-stream4").toString
    (1 to 25).map(i => s"""{"i":$i}""").toDF("payload").write.parquet(s"$dir/in")
    val schema = StructType(Seq(StructField("payload", StringType)))
    // send runs on executor tasks (closure is serialized — can't collect
    // through it); each epoch's SinkResults land under the results path.
    val q = StreamingDedup.egressStreamToPath(
        spark.readStream.schema(schema).parquet(s"$dir/in"),
        "payload", batchSize = 10,
        (_, _) => (200, "ok"),
        s"$dir/results", (_, _) => ())
      .option("checkpointLocation", s"$dir/ckpt").start()
    q.processAllAvailable(); q.stop()
    val rs = spark.read.parquet(s"$dir/results").as[graft.sink.SinkResult].collect()
    assert(rs.map(_.records).sum == 25)
    assert(rs.forall(_.records <= 10) && rs.forall(_.ok))
    // content-hashed keys: unique per batch (epoch prefix added in send)
    assert(rs.map(_.idempotencyKey).distinct.length == rs.length)
    assert(rs.forall(_.idempotencyKey.matches("[0-9a-f]{32}")))
  }

  test("streaming: dropDuplicatesWithinWatermark collapses skewed-timestamp duplicates") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    val dd = mem.toDF().toDF("key", "ts")
      .withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark("key")
    val q = dd.writeStream.format("memory").queryName("ddw_out")
      .outputMode("append").start()
    try {
      def t(sec: Long) = new java.sql.Timestamp(sec * 1000L)
      // same key arrives 3x with skewed timestamps inside the watermark
      // delay — dropDuplicates(key, ts) would emit all three
      mem.addData((1L, t(100)), (1L, t(130)), (1L, t(160)), (2L, t(100)))
      q.processAllAvailable()
      val got = spark.table("ddw_out").select($"key").as[Long].collect().sorted
      assert(got.toSeq == Seq(1L, 2L))
    } finally q.stop()
  }

  test("streaming: incremental-ingest dedup (q82 twin) drops in-stream and historical dups") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val history = Seq("fpA", "fpB").toDF("fp")
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val out = StreamingDedup.incrementalDedupStream(
      mem.toDF().toDF("doc_id", "fp", "ts"), "fp", "ts", "10 minutes", history)
    val q = out.writeStream.format("memory").queryName("incdd_out")
      .outputMode("append").start()
    try {
      def t(sec: Long) = new java.sql.Timestamp(sec * 1000L)
      mem.addData(
        (1L, "fpA", t(100)),  // already in history -> dropped
        (2L, "fpC", t(110)),  // novel -> kept
        (3L, "fpC", t(120)),  // in-stream duplicate (skewed ts) -> dropped
        (4L, "fpD", t(130)))  // novel -> kept
      q.processAllAvailable()
      val got = spark.table("incdd_out").select($"doc_id").as[Long].collect().sorted
      assert(got.toSeq == Seq(2L, 4L))
    } finally q.stop()
  }

  test("streaming: span decontamination strips eval leakage per micro-batch (q106 twin)") {
    // stripSpansSharedWith is stateless given the static eval gram set,
    // so it runs unchanged inside foreachBatch — the shape of a
    // continuous-ingest scrubber: each arriving train batch is cleaned
    // against the frozen benchmark set, batch results identical to the
    // batch operator on the same rows.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val eval_ = Seq((1L, "what is the capital of france answer paris"))
      .toDF("doc_id", "text")
    val rows = Seq(
      (2L, "intro what is the capital of france answer paris outro"),
      (4L, "the capital markets report something else entirely here"))
    val mem = MemoryStream[(Long, String)]
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        seen ++= graft.dedup.Dedup
          .stripSpansSharedWith(batch, eval_, "doc_id", "text", k = 5)
          .select($"doc_id", $"n_removed", $"clean_text")
          .as[(Long, Long, String)].collect()
        ()
      }.start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      val expected = graft.dedup.Dedup
        .stripSpansSharedWith(rows.toDF("doc_id", "text"), eval_,
          "doc_id", "text", k = 5)
        .select($"doc_id", $"n_removed", $"clean_text")
        .as[(Long, Long, String)].collect()
      assert(seen.toSet == expected.toSet)
      assert(seen.exists { case (id, nr, _) => id == 2L && nr == 8L })
    } finally q.stop()
  }

  test("streaming: driver-light egress writes per-epoch results, driver sees only totals") {
    val dir = Files.createTempDirectory("graft-stream5").toString
    (1 to 25).map(i => s"""{"i":$i}""").toDF("payload").write.parquet(s"$dir/in")
    val schema = StructType(Seq(StructField("payload", StringType)))
    val epochs = new java.util.concurrent.CopyOnWriteArrayList[(Long, graft.sink.EgressStats)]()
    val q = StreamingDedup.egressStreamToPath(
        spark.readStream.schema(schema).parquet(s"$dir/in"),
        "payload", batchSize = 10,
        (_, _) => (200, "ok"),
        s"$dir/results",
        (e, st) => epochs.add((e, st)))
      .option("checkpointLocation", s"$dir/ckpt").start()
    q.processAllAvailable(); q.stop()
    val stats = epochs.toArray.map(_.asInstanceOf[(Long, graft.sink.EgressStats)])
    assert(stats.map(_._2.records).sum == 25)
    assert(stats.forall { case (_, st) => st.okBatches == st.batches })
    // per-batch audit detail lives under epoch-keyed paths on storage
    val onDisk = spark.read.parquet(s"$dir/results")
    assert(onDisk.agg(sum("records")).head.getLong(0) == 25)
    assert(onDisk.columns.contains("idempotencyKey"))
  }

  test("streaming: job-shaped dedup → egressStreamToPath pipeline; epoch replay is idempotent") {
    // The at-scale egress twin driven through a FULL job shape: changelog
    // source → incremental dedup (in-stream + historical) → JSON payload →
    // path-form egress. Then the failure mode the epoch-keyed design
    // exists for: Structured Streaming re-runs WHOLE epochs after a
    // checkpoint loss, so the same input replays as epoch 0 again — the
    // destination must see the SAME idempotency keys (content-hash,
    // epoch-prefixed) and the results path must overwrite epoch=0, not
    // append a duplicate audit trail. batchSize = 1 keys each payload by
    // its own md5, so the key sets are order-independent.
    val dir = Files.createTempDirectory("graft-stream6").toString
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    Seq(
      (1L, "fpA", t(100)), // in history -> dropped
      (2L, "fpC", t(110)), // novel -> egressed
      (3L, "fpC", t(120)), // in-stream dup (skewed ts) -> dropped
      (4L, "fpD", t(130)), // novel -> egressed
      (5L, "fpE", t(140))) // novel -> egressed
      .toDF("doc_id", "fp", "ts").write.parquet(s"$dir/in")
    val inSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("fp", StringType), StructField("ts", TimestampType)))
    val history = Seq("fpA").toDF("fp")
    // `send` runs inside executor tasks: a closure-captured buffer would
    // be a DESERIALIZED COPY there, so capture through the JVM-static
    // holder below (same JVM in local mode)
    val sentKeys = EgressReplayCapture.keys
    def run(ckpt: String): Unit = {
      val deduped = StreamingDedup.incrementalDedupStream(
        spark.readStream.schema(inSchema).parquet(s"$dir/in"),
        "fp", "ts", "10 minutes", history)
        .select(to_json(struct($"doc_id", $"fp")).as("payload"))
      val q = StreamingDedup.egressStreamToPath(deduped, "payload",
          batchSize = 1,
          (key, _) => { EgressReplayCapture.keys.add(key); (200, "ok") },
          s"$dir/results", (_, _) => ())
        .option("checkpointLocation", ckpt).start()
      q.processAllAvailable(); q.stop()
    }
    def md5(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    def key(id: Long, fp: String) = "0-" + md5(s"""{"doc_id":$id,"fp":"$fp"}""")
    run(s"$dir/ckpt1")
    val firstSent = sentKeys.toArray.map(_.toString).sorted.toSeq
    // dedup held: one fpC carrier (dropDuplicatesWithinWatermark keeps
    // the first PROCESSED row — doc 2 or doc 3, processing order decides,
    // and the replay assertion below pins that the choice is stable),
    // plus fpD, fpE; fpA never egressed (history). Epoch prefix = 0.
    assert(firstSent.size == 3)
    assert(firstSent.count(k => k == key(2, "fpC") || k == key(3, "fpC")) == 1)
    assert(firstSent.contains(key(4, "fpD")) && firstSent.contains(key(5, "fpE")))
    def audit() = spark.read.parquet(s"$dir/results")
      .select($"idempotencyKey", $"records", $"ok")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
      .sortBy(_._1).toSeq
    val firstAudit = audit()
    assert(firstAudit.map(_._2).sum == 3 && firstAudit.forall(_._3))
    // replay: lose the checkpoint, keep the results path — same files
    // re-run as epoch 0
    sentKeys.clear()
    run(s"$dir/ckpt2")
    val replaySent = sentKeys.toArray.map(_.toString).sorted.toSeq
    assert(replaySent == firstSent) // destination can dedupe on the key
    assert(audit() == firstAudit)   // epoch-keyed overwrite: no duplication
  }

  test("multimodal: synthesize → decode → features → resize plan → frames") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val media = MultiModal.synthesizeFromDocs(docs).repartition(4).cache()
    assert(media.schema == MultiModal.mediaSchema)
    val feats = MultiModal.extractImageFeatures(media)
    assert(feats.count() == docs.count())
    val f0 = feats.filter($"media_id" === 0L).head
    assert(f0.getAs[Int]("width") >= 64 &&
      f0.getSeq[Float](f0.fieldIndex("feature")).size == 8)
    val plan = MultiModal.resizePlan(feats, maxSide = 128)
    assert(plan.filter($"target_w" > 128 || $"target_h" > 128).count() == 0)
    val frames = MultiModal.sampleFrames(media, frameBytes = 16, everyK = 2)
    assert(frames.count() == media.count() * 2) // 64-byte payload → chunks 0,2
    media.unpersist()
  }

  test("multimodal: REAL PNG bytes decode through the distributed path") {
    import org.apache.spark.sql.Row
    // real ImageIO-encoded PNGs (zero external assets), mixed with a fake
    // -header blob — decodeImage dispatches per record
    val blobs = Seq(
      (1L, MultiModal.encodePng(37, 21, 0xFF8800)),
      (2L, MultiModal.encodePng(128, 64, 0x0A0B0C)),
      (3L, MultiModal.fakeImageBytes(99, 33, 3, 8)))
    val rows = blobs.map { case (id, b) =>
      Row(id, "image", b, Row("image/png", s"mem://$id", b.length.toLong))
    }
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), MultiModal.mediaSchema)
    val feats = MultiModal.extractImageFeatures(media)
      .select("media_id", "width", "height", "channels")
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3)))).toMap
    assert(feats(1L) == ((37, 21, 3)))
    assert(feats(2L) == ((128, 64, 3)))
    assert(feats(3L) == ((99, 33, 3)))
    // PNG magic must not be mistaken for the fake header
    assert(MultiModal.decodeImage(blobs.head._2) ==
      MultiModal.ImageInfo(37, 21, 3))
  }

  test("multimodal: REAL WAV bytes decode + integer-exact audio features, distributed") {
    import org.apache.spark.sql.Row
    // deterministic square wave: |sample| = 1000 everywhere -> peak 1000,
    // RMS exactly 1000.0 (sum of squares is integer-exact)
    val square = Array.tabulate(8000)(i => (if (i % 2 == 0) 1000 else -1000).toShort)
    val silence = Array.fill[Short](4000)(0)
    val blobs = Seq((1L, MultiModal.encodeWav(8000, square)),
      (2L, MultiModal.encodeWav(16000, silence)))
    val rows = blobs.map { case (id, b) =>
      Row(id, "audio", b, Row("audio/wav", s"mem://$id", b.length.toLong))
    }
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), MultiModal.mediaSchema)
    val feats = MultiModal.extractAudioFeatures(media)
      .collect().map(r => r.getLong(0) -> r).toMap
    val a = feats(1L)
    assert(a.getInt(1) == 8000 && a.getInt(2) == 1 && a.getInt(3) == 16)
    assert(a.getLong(4) == 8000L && a.getDouble(5) == 1.0)
    assert(a.getInt(6) == 1000 && a.getDouble(7) == 1000.0)
    val b = feats(2L)
    assert(b.getLong(4) == 4000L && b.getInt(6) == 0 && b.getDouble(7) == 0.0)
    // header-only decode agrees
    assert(MultiModal.decodeWav(blobs.head._2) ==
      MultiModal.AudioInfo(8000, 1, 16, 8000L))
  }

  test("multimodal: REAL MJPEG/AVI decodes distributed — container parse + per-frame JPEG") {
    import org.apache.spark.sql.Row
    // a genuine 2-frame MJPEG AVI: JPEG-encoded frames in a RIFF
    // container, built and decoded with zero non-JDK deps
    def jpeg(w: Int, h: Int, rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", out)
      out.toByteArray
    }
    val avi = MultiModal.encodeAvi(
      Seq(jpeg(48, 32, 0xFF0000), jpeg(48, 32, 0x00FF00)), 48, 32, fps = 10)
    // odd-sized frame payloads exercise RIFF even-padding
    val odd = MultiModal.fakeImageBytes(20, 10, 3, 1)
    assert(odd.length % 2 == 1)
    val avi2 = MultiModal.encodeAvi(Seq(odd, odd, odd), 20, 10, fps = 25)
    val rows = Seq((1L, avi), (2L, avi2)).map { case (id, b) =>
      Row(id, "video", b, Row("video/x-msvideo", s"mem://$id", b.length.toLong))
    }
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), MultiModal.mediaSchema)
    // header-only parse
    val (info, frames) = MultiModal.decodeAvi(avi)
    assert(info == MultiModal.VideoInfo(48, 32, 100000, 2))
    assert(frames.length == 2)
    // distributed: per-frame JPEG dims decode through the same path
    val feats = MultiModal.extractVideoFeatures(media).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r).toMap
    assert(feats.size == 5)
    assert(feats((1L, 0)).getInt(4) == 48 && feats((1L, 0)).getInt(5) == 32)
    assert(feats((1L, 1)).getInt(2) == 2)    // n_frames
    assert(feats((1L, 1)).getInt(3) == 100000) // us_per_frame
    assert(feats((2L, 2)).getInt(4) == 20 && feats((2L, 2)).getInt(5) == 10)
    // frame explode form: payloads survive the container roundtrip
    val exploded = MultiModal.extractVideoFrames(media)
      .filter($"media_id" === 1L).orderBy("frame_no")
      .select("frame").collect().map(_.getAs[Array[Byte]](0))
    assert(exploded(0).sameElements(jpeg(48, 32, 0xFF0000)))
    assert(exploded(1).sameElements(jpeg(48, 32, 0x00FF00)))
  }

  test("multimodal: decodeAvi rejects negative chunk sizes, tolerates a missing final pad byte") {
    val avi = MultiModal.encodeAvi(
      Seq(MultiModal.fakeImageBytes(20, 10, 3, 1)), 20, 10, fps = 25)
    def chunkHdr(fcc: String, size: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      fcc.getBytes("ISO-8859-1").foreach(bb.put)
      bb.putInt(size)
      bb.array()
    }
    // odd-size FINAL chunk with no RIFF pad byte: a well-formed writer
    // pads, but the decoder must not position() past the buffer
    val odd = avi ++ chunkHdr("JUNK", 3) ++ Array[Byte](1, 2, 3)
    val (_, frames) = MultiModal.decodeAvi(odd)
    assert(frames.length == 1)
    // negative chunk size (corrupt/adversarial): fail fast — the old
    // behavior was an infinite walk() loop (executor hang) or a
    // NegativeArraySizeException on a frame chunk
    val neg = avi ++ chunkHdr("JUNK", -8)
    val e = intercept[IllegalArgumentException](MultiModal.decodeAvi(neg))
    assert(e.getMessage.contains("negative chunk size"))
  }

  test("streaming: curation maps (PII scrub + repetition flag) run on a document stream") {
    // The curation operators are stateless column maps, so the SAME code
    // drives batch tables and readStream micro-batches — streaming ingest
    // gets scrubbing/gating for free. Results must equal the batch twin.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.analyze.TextAnalysis
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Seq(
      (1L, "write to a.b@x.org or 10.0.0.1 about the quick brown fox today"),
      (2L, "spam spam spam spam spam spam"),
      (3L, "a perfectly ordinary diverse document with many distinct words here")
    )
    def curate(df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.repetitionProfile(
        df.withColumn("text", TextAnalysis.scrubPii(col("text"))),
        "doc_id", "text").select("doc_id", "n_tokens", "low_quality")
    val mem = MemoryStream[(Long, String)]
    val q = curate(mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("curated")
      .outputMode("append").start()
    val q2 = mem.toDF().toDF("doc_id", "text")
      .select(col("doc_id"), TextAnalysis.scrubPii(col("text")).as("text"))
      .writeStream.format("memory").queryName("scrubbed_stream")
      .outputMode("append").start()
    try {
      mem.addData(docs: _*)
      q.processAllAvailable(); q2.processAllAvailable()
      val streamed = spark.table("curated")
        .as[(Long, Long, Int)].collect().sortBy(_._1).toSeq
      val batch = curate(docs.toDF("doc_id", "text"))
        .as[(Long, Long, Int)].collect().sortBy(_._1).toSeq
      assert(streamed == batch)
      assert(streamed(1)._3 == 1 && streamed(2)._3 == 0) // spam flagged, prose kept
      val t1 = spark.table("scrubbed_stream").filter($"doc_id" === 1L)
        .select("text").as[String].head()
      assert(t1.contains("<EMAIL>") && t1.contains("<IP>"))
    } finally { q.stop(); q2.stop() }
  }

  test("streaming: Ivf.assign runs unchanged on a vector stream, equal to the batch path") {
    // Incremental ANN maintenance's streaming half: assignment against a
    // FROZEN broadcast centroid matrix is a stateless narrow map, so the
    // SAME Ivf.assign drives micro-batches — a daily-ingest index can
    // route vectors to cells as they arrive (q95/q98's batch cycle, made
    // continuous). Mirrors the q82 batch/stream twin pattern.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.analyze.Ivf
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rnd = new scala.util.Random(23)
    val vecs = (0L until 40L).map(i => i -> Seq.fill(8)(rnd.nextFloat() * 2f - 1f))
    val centroids = (0 until 4)
      .map(c => Array.tabulate(8)(i => if (i == c * 2) 1.0 else 0.0)).toArray
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = Ivf.assign(centroids, mem.toDF().toDF("id", "v"), "id", "v")
      .writeStream.format("memory").queryName("assigned_stream")
      .outputMode("append").start()
    try {
      // two micro-batches: the frozen matrix broadcasts once, every epoch
      // assigns with the same deterministic kernel
      mem.addData(vecs.take(25): _*)
      q.processAllAvailable()
      mem.addData(vecs.drop(25): _*)
      q.processAllAvailable()
      val streamed = spark.table("assigned_stream")
        .select("id", "cell", "n2").as[(Long, Int, Double)]
        .collect().sortBy(_._1).toSeq
      val batch = Ivf.assign(centroids, vecs.toDF("id", "v"), "id", "v")
        .select("id", "cell", "n2").as[(Long, Int, Double)]
        .collect().sortBy(_._1).toSeq
      assert(streamed == batch)          // bitwise: cells AND exact norms
      assert(streamed.map(_._1) == (0L until 40L))
      assert(streamed.map(_._2).distinct.size > 1) // vectors actually spread
    } finally q.stop()
  }

  test("streaming: per-epoch drift reports equal the batch driftReport, written driver-light") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.analyze.Ivf
    import graft.streaming.StreamingDedup
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rnd = new scala.util.Random(31)
    val corpus = (0L until 32L).map(i => i -> Seq.fill(8)(rnd.nextFloat()))
    val batch1 = (100L until 120L).map(i => i -> Seq.fill(8)(rnd.nextFloat()))
    val batch2 = (200L until 210L).map(i => i -> Seq.fill(8)(rnd.nextFloat() + 1f))
    val index = Ivf.buildSampled(corpus.toDF("id", "v"), "id", "v", nlist = 4)
    val dir = java.nio.file.Files.createTempDirectory("drift_stream").toString
    val epochs = scala.collection.mutable.Map.empty[Long, Long]
    val mem = MemoryStream[(Long, Seq[Float])]
    val (_, _, plans) = recordRun {
      val q = StreamingDedup.driftReportStream(index,
          mem.toDF().toDF("id", "v"), "id", "v", dir,
          (e, n) => epochs(e) = n)
        .outputMode("update").start()
      try {
        mem.addData(batch1: _*); q.processAllAvailable()
        mem.addData(batch2: _*); q.processAllAvailable()
      } finally q.stop()
    }
    assert(epochs.values.forall(_ == 4)) // one row per cell, every epoch
    // the per-epoch count is observed on the report write, never re-read
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    val reportScans = plans.flatMap(p => helper.collectWithSubqueries(p) {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s })
      .filter(_.relation.location.rootPaths.exists(_.toString.contains(dir)))
    assert(plans.size >= 2, s"the two report writes were not recorded: $plans")
    assert(reportScans.isEmpty, s"epoch reports read back: $reportScans")
    // each epoch's written report equals the batch twin on the same rows
    for ((epoch, batch) <- Seq((0L, batch1), (1L, batch2))) {
      val streamed = spark.read.parquet(s"$dir/epoch=$epoch")
        .orderBy("cell").collect().toSeq
      val twin = Ivf.driftReport(index, batch.toDF("id", "v"), "id", "v")
        .orderBy("cell").collect().toSeq
      assert(streamed == twin, s"epoch $epoch diverged from batch twin")
    }
  }

  test("streaming: doc chunking runs unchanged on a document stream") {
    // chunkTokens is a stateless map+explode, so the same operator
    // chunks micro-batches; output equals the batch twin.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.analyze.TextAnalysis
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Seq((1L, (1 to 10).map(i => s"t$i").mkString(" ")), (2L, "a b"))
    val mem = MemoryStream[(Long, String)]
    val q = TextAnalysis.chunkTokens(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text", win = 4, stride = 3)
      .writeStream.format("memory").queryName("chunked")
      .outputMode("append").start()
    try {
      mem.addData(docs: _*)
      q.processAllAvailable()
      val streamed = spark.table("chunked")
        .as[(Long, Int, Int, Int, String)].collect().sortBy(c => (c._1, c._2)).toSeq
      val batch = TextAnalysis.chunkTokens(
          docs.toDF("doc_id", "text"), "doc_id", "text", win = 4, stride = 3)
        .as[(Long, Int, Int, Int, String)].collect().sortBy(c => (c._1, c._2)).toSeq
      assert(streamed == batch && streamed.size == 5)
    } finally q.stop()
  }

  test("funnelSteps: strict ordering, skipped prerequisites, tie semantics") {
    import graft.relational.Relational
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val ev = Seq(
      // u1 completes in order
      (1L, ts("2024-01-01 10:00:00"), "view"),
      (1L, ts("2024-01-01 11:00:00"), "click"),
      (1L, ts("2024-01-01 12:00:00"), "purchase"),
      // u2: purchase BEFORE click -> purchase must not count
      (2L, ts("2024-01-02 10:00:00"), "view"),
      (2L, ts("2024-01-02 10:30:00"), "purchase"),
      (2L, ts("2024-01-02 11:00:00"), "click"),
      // u3: click with NO view -> nothing counts
      (3L, ts("2024-01-03 09:00:00"), "click"),
      (3L, ts("2024-01-03 10:00:00"), "purchase"),
      // u4: click at EXACTLY the view timestamp -> strict > rejects it,
      // the later click is the step-2 time
      (4L, ts("2024-01-04 09:00:00"), "view"),
      (4L, ts("2024-01-04 09:00:00"), "click"),
      (4L, ts("2024-01-04 09:05:00"), "click"),
      // u5: earliest view wins even after other events
      (5L, ts("2024-01-05 08:00:00"), "click"),
      (5L, ts("2024-01-05 09:00:00"), "view"),
      (5L, ts("2024-01-05 10:00:00"), "click")
    ).toDF("user_id", "ts", "event_type")
    val got = Relational.funnelSteps(ev, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"))
      .as[(Long, Seq[Option[Timestamp]])].collect().toMap
    assert(got(1L) == Seq(Some(ts("2024-01-01 10:00:00")),
      Some(ts("2024-01-01 11:00:00")), Some(ts("2024-01-01 12:00:00"))))
    assert(got(2L) == Seq(Some(ts("2024-01-02 10:00:00")),
      Some(ts("2024-01-02 11:00:00")), None))
    assert(got(3L) == Seq(None, None, None))
    assert(got(4L) == Seq(Some(ts("2024-01-04 09:00:00")),
      Some(ts("2024-01-04 09:05:00")), None))
    assert(got(5L) == Seq(Some(ts("2024-01-05 09:00:00")),
      Some(ts("2024-01-05 10:00:00")), None))
    val counts = Relational.funnelCounts(ev, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"))
      .orderBy("step").as[(Int, String, Long)].collect().toSeq
    assert(counts == Seq((0, "view", 4L), (1, "click", 4L), (2, "purchase", 1L)))
  }

  test("weeklyRetention: Monday cohorts, exact week offsets, distinct users") {
    import graft.relational.Relational
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    // 2024-01-01 is a Monday. u1 first in wk0, active wk0+wk2 (twice in
    // wk2 -> still one); u2 first in wk1 (via a SUNDAY event -> cohort is
    // that week's Monday 2024-01-08), active wk1 only
    val ev = Seq(
      (1L, ts("2024-01-03 10:00:00")),
      (1L, ts("2024-01-16 10:00:00")),
      (1L, ts("2024-01-17 10:00:00")),
      (2L, ts("2024-01-14 23:59:59"))
    ).toDF("user_id", "ts")
    val got = Relational.weeklyRetention(ev, "user_id", "ts")
      .orderBy("cohort_week", "week_offset")
      .as[(java.sql.Date, Int, Long)].collect().toSeq
    assert(got == Seq(
      (java.sql.Date.valueOf("2024-01-01"), 0, 1L),
      (java.sql.Date.valueOf("2024-01-01"), 2, 1L),
      (java.sql.Date.valueOf("2024-01-08"), 0, 1L)))
  }

  test("streaming: funnel state equals the batch fold on ordered arrivals; bounded state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingDedup
    import graft.streaming.StreamingDedup.FunnelEvent
    import graft.relational.Relational
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val steps = Seq("view", "click", "purchase")
    val batch1 = Seq(
      FunnelEvent(1L, ts("2024-01-01 10:00:00"), "view"),
      FunnelEvent(1L, ts("2024-01-01 11:00:00"), "click"),
      FunnelEvent(2L, ts("2024-01-01 09:00:00"), "view"),
      // u3's click arrives BEFORE its view ever does (next batch): the
      // documented divergence — bounded state can't resurrect it
      FunnelEvent(3L, ts("2024-01-01 08:00:00"), "click"),
      // u4's view and click fall 100 µs apart inside one millisecond:
      // the batch fold orders them by exact micros
      FunnelEvent(4L, ts("2024-01-01 10:00:00.0001"), "view"),
      FunnelEvent(4L, ts("2024-01-01 10:00:00.0002"), "click"))
    val batch2 = Seq(
      FunnelEvent(1L, ts("2024-01-01 12:00:00"), "purchase"),
      FunnelEvent(2L, ts("2024-01-01 09:30:00"), "click"),
      FunnelEvent(3L, ts("2024-01-01 07:00:00"), "view"))
    val mem = MemoryStream[FunnelEvent]
    val q = StreamingDedup.funnelStream(mem.toDS(), steps)
      .writeStream.format("memory").queryName("funnel_state")
      .outputMode("update").start()
    try {
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(batch2: _*); q.processAllAvailable()
      // memory sink in update mode appends every emission; latest per user wins
      val rows = spark.table("funnel_state")
        .as[(Long, Seq[Option[Timestamp]])].collect()
      val latest = rows.zipWithIndex.groupBy(_._1._1)
        .map { case (u, rs) => u -> rs.maxBy(_._2)._1._2 }
      // u1 and u2 arrived in event-time order across batches -> equal to
      // the batch fold over the union
      val all = (batch1 ++ batch2).map(e => (e.user, e.ts, e.etype))
        .toDF("user_id", "ts", "event_type")
      val batchGot = Relational.funnelSteps(all, "user_id", "ts", "event_type", steps)
        .as[(Long, Seq[Option[Timestamp]])].collect().toMap
      assert(latest(1L) == batchGot(1L) && latest(1L).forall(_.isDefined))
      assert(latest(2L) == batchGot(2L))
      assert(latest(2L) == Seq(Some(ts("2024-01-01 09:00:00")),
        Some(ts("2024-01-01 09:30:00")), None))
      assert(latest(4L) == batchGot(4L))
      assert(latest(4L) == Seq(Some(ts("2024-01-01 10:00:00.0001")),
        Some(ts("2024-01-01 10:00:00.0002")), None))
      // u3: batch fold sees view@07 then click@08 -> both steps; the
      // stream processed the click in a batch BEFORE its prerequisite
      // existed, so only the late view lands (documented divergence)
      assert(batchGot(3L) == Seq(Some(ts("2024-01-01 07:00:00")),
        Some(ts("2024-01-01 08:00:00")), None))
      assert(latest(3L) == Seq(Some(ts("2024-01-01 07:00:00")), None, None))
    } finally q.stop()
  }

  test("intervalJoin: matches brute-force overlap on random intervals, each pair once") {
    import spark.implicits._
    val rnd = new scala.util.Random(4242)
    // mixed spans (0-width to 40-long) including negatives and bucket
    // boundary hits; widths far from and equal to interval spans
    val ls = (0 until 300).map { i =>
      val s = rnd.nextInt(800) - 100L; (i.toLong, s, s + rnd.nextInt(40))
    }
    val rs = (0 until 250).map { i =>
      val s = rnd.nextInt(800) - 100L; (i.toLong, s, s + rnd.nextInt(25))
    }
    val expected = (for {
      (li, lsv, lev) <- ls; (ri, rsv, rev) <- rs
      if lsv <= rev && rsv <= lev
    } yield (li, ri)).toSet
    for (w <- Seq(1L, 7L, 16L, 1000L)) {
      val got = graft.relational.Relational.intervalJoin(
          ls.toDF("l_id", "l_s", "l_e"), rs.toDF("r_id", "r_s", "r_e"),
          "l_s", "l_e", "r_s", "r_e", w)
        .select("l_id", "r_id").as[(Long, Long)].collect()
      assert(got.length == got.toSet.size, s"width $w emitted a pair twice")
      assert(got.toSet == expected, s"width $w wrong pair set")
    }
  }

  test("intervalJoinAutoWidth: same pair set as any manual width; empty input safe") {
    import spark.implicits._
    val rnd = new scala.util.Random(77)
    val ls = (0 until 150).map { i =>
      val s = rnd.nextInt(500).toLong; (i.toLong, s, s + rnd.nextInt(30)) }
    val rs = (0 until 150).map { i =>
      val s = rnd.nextInt(500).toLong; (i.toLong, s, s + rnd.nextInt(18)) }
    val manual = graft.relational.Relational.intervalJoin(
        ls.toDF("l_id", "l_s", "l_e"), rs.toDF("r_id", "r_s", "r_e"),
        "l_s", "l_e", "r_s", "r_e", 16L)
      .select("l_id", "r_id").as[(Long, Long)].collect().toSet
    val auto = graft.relational.Relational.intervalJoinAutoWidth(
        ls.toDF("l_id", "l_s", "l_e"), rs.toDF("r_id", "r_s", "r_e"),
        "l_s", "l_e", "r_s", "r_e")
      .select("l_id", "r_id").as[(Long, Long)].collect().toSet
    assert(auto == manual)
    val empty = Seq.empty[(Long, Long, Long)].toDF("l_id", "l_s", "l_e")
    assert(graft.relational.Relational.intervalJoinAutoWidth(
      empty, rs.toDF("r_id", "r_s", "r_e"),
      "l_s", "l_e", "r_s", "r_e").count() >= 0)
    // INT endpoint columns (epoch days from datediff are ints): the
    // width probe must not assume long
    val li = ls.map(t => (t._1, t._2.toInt, t._3.toInt))
      .toDF("l_id", "l_s", "l_e")
    val ri = rs.map(t => (t._1, t._2.toInt, t._3.toInt))
      .toDF("r_id", "r_s", "r_e")
    val autoInt = graft.relational.Relational.intervalJoinAutoWidth(
        li, ri, "l_s", "l_e", "r_s", "r_e")
      .select("l_id", "r_id").as[(Long, Long)].collect().toSet
    assert(autoInt == manual)
    // shared column names across sides are rejected loudly
    intercept[IllegalArgumentException] {
      graft.relational.Relational.intervalJoin(
        ls.toDF("id", "s", "e"), rs.toDF("id", "s", "e"),
        "s", "e", "s", "e", 16L)
    }
  }

  test("intervalJoin: exact at magnitudes where a double cast is lossy") {
    import spark.implicits._
    // 2^60-range epoch-like endpoints: (c - posmod)/w via integral div,
    // never a double — a float path would collapse distinct buckets
    val base = (1L << 60) + 123456789L
    val l = Seq((1L, base, base + 10L), (2L, base + 100L, base + 120L))
    val r = Seq((10L, base + 5L, base + 6L),   // overlaps 1
      (11L, base + 119L, base + 200L),          // overlaps 2
      (12L, base + 30L, base + 40L))            // overlaps none
    val got = graft.relational.Relational.intervalJoin(
        l.toDF("l_id", "l_s", "l_e"), r.toDF("r_id", "r_s", "r_e"),
        "l_s", "l_e", "r_s", "r_e", 16L)
      .select("l_id", "r_id").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 10L), (2L, 11L)))
  }

  test("pageRankFixedPoint: equals the integer reference recurrence; dangling + isolated + multi-edge") {
    import spark.implicits._
    val SCALE = 1000000000000L
    val nodeIds = Seq(0L, 1L, 2L, 3L, 4L)
    // 3 and 4 dangling (no out-edges); (0,1) appears twice -> summed
    val rawEdges = Seq((0L, 1L, 1L), (0L, 1L, 2L), (0L, 2L, 2L),
      (1L, 2L, 1L), (2L, 0L, 3L))
    def reference(iters: Int): Map[Long, Long] = {
      val ew = rawEdges.groupBy(e => (e._1, e._2))
        .map { case (k, es) => (k._1, k._2, es.map(_._3).sum) }.toSeq
      val ow = ew.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
      var rank = nodeIds.map(_ -> SCALE / nodeIds.size).toMap
      for (_ <- 0 until iters) {
        val dang = nodeIds.filterNot(ow.contains).map(rank).sum
        val in = ew.groupBy(_._2).map { case (d, es) =>
          d -> es.map(e => rank(e._1) * e._3 / ow(e._1)).sum
        }
        rank = nodeIds.map(v => v ->
          (15L * SCALE / (100L * nodeIds.size) +
            85L * (in.getOrElse(v, 0L) + dang / nodeIds.size) / 100L)).toMap
      }
      rank
    }
    for (iters <- Seq(0, 1, 5)) {
      val got = graft.analyze.GraphOps.pageRankFixedPoint(
          nodeIds.toDF("node"), rawEdges.toDF("src", "dst", "w"), iters)
        .select("node", "rank_fp").as[(Long, Long)].collect().toMap
      assert(got == reference(iters), s"iters=$iters")
    }
    // truncation drift stays microscopic: total mass within iters*(N+2)
    // units of SCALE after 5 rounds
    val total = reference(5).values.sum
    assert(math.abs(total - SCALE) <= 5L * (nodeIds.size + 2))
    // personalized: teleport on {0, 3} — integer reference with gated
    // base/dangling/init terms
    val seeds = Seq(0L, 3L)
    def pref(iters: Int): Map[Long, Long] = {
      val ew = rawEdges.groupBy(e => (e._1, e._2))
        .map { case (k, es) => (k._1, k._2, es.map(_._3).sum) }.toSeq
      val ow = ew.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
      val tc = seeds.size
      def tf(v: Long) = if (seeds.contains(v)) 1L else 0L
      var rank = nodeIds.map(v => v -> tf(v) * (SCALE / tc)).toMap
      for (_ <- 0 until iters) {
        val dang = nodeIds.filterNot(ow.contains).map(rank).sum
        val in = ew.groupBy(_._2).map { case (d2, es) =>
          d2 -> es.map(e => rank(e._1) * e._3 / ow(e._1)).sum
        }
        rank = nodeIds.map(v => v ->
          (tf(v) * (15L * SCALE / (100L * tc)) +
            85L * (in.getOrElse(v, 0L) + tf(v) * (dang / tc)) / 100L)).toMap
      }
      rank
    }
    val pgot = graft.analyze.GraphOps.personalizedPageRank(
        nodeIds.toDF("node"), rawEdges.toDF("src", "dst", "w"),
        seeds.toDF("node"), 5)
      .select("node", "rank_fp").as[(Long, Long)].collect().toMap
    assert(pgot == pref(5))
    // seeds = all nodes reduces exactly to the uniform form
    val allSeeds = graft.analyze.GraphOps.personalizedPageRank(
        nodeIds.toDF("node"), rawEdges.toDF("src", "dst", "w"),
        nodeIds.toDF("node"), 3)
      .select("node", "rank_fp").as[(Long, Long)].collect().toMap
    assert(allSeeds == reference(3))
  }

  test("triangleCount: known graphs and a random brute-force reference") {
    import spark.implicits._
    def tc(edges: Seq[(Long, Long, Long)]): (Long, Long, Long) =
      graft.analyze.GraphOps.triangleCount(edges.toDF("src", "dst", "w"))
        .as[(Long, Long, Long)].head()
    // one triangle; self-loops and multi/reverse edges ignored
    assert(tc(Seq((0L, 1L, 1L), (1L, 2L, 1L), (2L, 0L, 1L),
      (1L, 0L, 9L), (2L, 2L, 1L))) == ((3L, 3L, 1L)))
    // K4 has 4 triangles
    val k4 = for { i <- 0L to 3L; j <- 0L to 3L if i < j } yield (i, j, 1L)
    assert(tc(k4) == ((4L, 6L, 4L)))
    // square without diagonals: 0
    assert(tc(Seq((0L, 1L, 1L), (1L, 2L, 1L), (2L, 3L, 1L), (3L, 0L, 1L)))
      == ((4L, 4L, 0L)))
    // random graph vs brute force
    val rnd = new scala.util.Random(5)
    val re = (0 until 200).map(_ =>
      (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong, 1L))
    val undSet = re.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).toSet
    val nodes2 = undSet.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    val brute = (for {
      a <- nodes2; b <- nodes2 if a < b; c <- nodes2 if b < c
      if undSet((a, b)) && undSet((b, c)) && undSet((a, c))
    } yield 1).size.toLong
    val got = tc(re)
    assert(got._3 == brute && got._2 == undSet.size.toLong)
  }

  test("labelPropagation: two triangles converge to their min labels; reference equality; isolated node") {
    import spark.implicits._
    // triangles {0,1,2} and {10,11,12} bridged by one weak edge; 99 isolated
    val edges = Seq((0L, 1L, 5L), (1L, 2L, 5L), (0L, 2L, 5L),
      (10L, 11L, 5L), (11L, 12L, 5L), (10L, 12L, 5L), (2L, 10L, 1L))
    val nodeIds = Seq(0L, 1L, 2L, 10L, 11L, 12L, 99L)
    def reference(iters: Int): Map[Long, Long] = {
      val und = (edges ++ edges.map(e => (e._2, e._1, e._3)))
        .groupBy(e => (e._1, e._2)).map { case (k, es) => (k._1, k._2, es.map(_._3).sum) }
      var lab = nodeIds.map(v => v -> v).toMap
      for (_ <- 0 until iters) {
        lab = nodeIds.map { v =>
          val counts = und.filter(_._1 == v)
            .groupBy(e => lab(e._2)).map { case (l, es) => l -> es.map(_._3).sum }
          v -> (if (counts.isEmpty) lab(v)
                else counts.toSeq.minBy { case (l, c) => (-c, l) }._1)
        }.toMap
      }
      lab
    }
    for (iters <- Seq(0, 1, 4)) {
      val got = graft.analyze.GraphOps.labelPropagation(
          nodeIds.toDF("node"), edges.toDF("src", "dst", "w"), iters)
        .as[(Long, Long)].collect().toMap
      assert(got == reference(iters), s"iters=$iters")
    }
    val fin = graft.analyze.GraphOps.labelPropagation(
        nodeIds.toDF("node"), edges.toDF("src", "dst", "w"), 4)
      .as[(Long, Long)].collect().toMap
    assert(Seq(0L, 1L, 2L).map(fin).toSet == Set(0L))
    assert(Seq(10L, 11L, 12L).map(fin).toSet == Set(10L))
    assert(fin(99L) == 99L)
  }

  test("streaming intervalMergeStream == batch intervalMerge under shuffled cross-batch arrival") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rnd = new scala.util.Random(4113)
    val iv = (0 until 300).map { _ =>
      val k = rnd.nextInt(4).toLong
      val s = rnd.nextInt(200).toLong
      StreamingDedup.IvInterval(k, s, s + rnd.nextInt(10))
    }
    val shuffled = rnd.shuffle(iv)
    val (b1, b2) = shuffled.splitAt(150)
    val mem = MemoryStream[StreamingDedup.IvInterval]
    val q = StreamingDedup.intervalMergeStream(mem.toDS())
      .toDF("key", "islands")
      .writeStream.format("memory").queryName("islands_stream")
      .outputMode("update").start()
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      // last emission per key is the final state (memory-sink rows are
      // appended in processing order; pick per key by arrival index)
      val fin = spark.table("islands_stream")
        .withColumn("__seq", monotonically_increasing_id())
        .select("key", "islands", "__seq")
        .as[(Long, Seq[(Long, Long, Long)], Long)].collect()
        .groupBy(_._1).map { case (k, rows) => k -> rows.maxBy(_._3)._2 }
      val batch = graft.relational.Relational.intervalMerge(
          iv.toDF("key", "s", "e"), "key", "s", "e")
        .as[(Long, Long, Long, Long)].collect()
        .groupBy(_._1).map { case (k, rows) =>
          k -> rows.map(r => (r._2, r._3, r._4)).sortBy(i => (i._1, i._2)).toSeq
        }
      assert(fin.keySet == batch.keySet)
      fin.foreach { case (k, islands) =>
        assert(islands == batch(k), s"key $k") }
    } finally q.stop()
  }

  test("intervalMerge: islands equal a sequential reference merge") {
    import spark.implicits._
    val rnd = new scala.util.Random(99)
    val iv = (0 until 500).map { _ =>
      val k = rnd.nextInt(5).toLong
      val s = rnd.nextInt(300).toLong
      (k, s, s + rnd.nextInt(12))
    }
    // sequential reference: sort per key, linear merge (start <= maxEnd)
    val expected = iv.groupBy(_._1).flatMap { case (k, rows) =>
      val sorted = rows.map(r => (r._2, r._3)).sorted
      val islands = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
      for ((s, e) <- sorted) {
        if (islands.nonEmpty && s <= islands.last._2)
          islands(islands.size - 1) = (islands.last._1,
            math.max(islands.last._2, e), islands.last._3 + 1)
        else islands += ((s, e, 1L))
      }
      islands.map(i => (k, i._1, i._2, i._3))
    }.toSet
    val got = graft.relational.Relational.intervalMerge(
        iv.toDF("k", "s", "e"), "k", "s", "e")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == expected)
  }
}

/** JVM-static capture for the egress-replay spec: executor-side `send`
  * callbacks land here (closure capture would write to a deserialized
  * copy of any spec-local buffer). */
object EgressReplayCapture {
  val keys = new java.util.concurrent.CopyOnWriteArrayList[String]()
}

object ExtraSpec {
  /** Row type of the streaming latest-per-key specs. */
  case class KeyedChange(key: Long, ts: java.sql.Timestamp, payload: String)
}
