package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.CopyOnWriteArrayList

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

import graft.jobs.{SampleJob, UserProfileJob, UserProfileMain}
import graft.source.{Bookmarks, ChangelogTableSource}

/** JVM-wide send counter for the single-action spec (see comment at the
  * use site: captured counters get copied into serialized task closures). */
object JobSpecSendCounter {
  val n = new java.util.concurrent.atomic.AtomicInteger()
  val bodies = new CopyOnWriteArrayList[String]()
}

/** End-to-end pipeline tests: the E1-completed UserProfileJob over a
  * file:// changelog with a live HTTP stub, plus the E2 sample job and
  * the bookmark/changefeed protocol. */
class JobSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("SampleJob: range → write → read-back count (E2 smoke)") {
    val dir = Files.createTempDirectory("graft-sample").toString
    assert(SampleJob.run(spark, SampleJob.Conf("parquet", s"$dir/out")) == 1000L)
  }

  test("Bookmarks: absent → None; upsert → roundtrip; per-job isolation") {
    val path = Files.createTempDirectory("graft-bm").toString + "/bookmarks"
    assert(Bookmarks.lookup(spark, path, "job1").isEmpty)
    Bookmarks.upsert(spark, path, "job1", ts("2024-01-10 00:00:00"))
    Bookmarks.upsert(spark, path, "job2", ts("2024-02-01 00:00:00"))
    Bookmarks.upsert(spark, path, "job1", ts("2024-01-15 00:00:00"))
    assert(Bookmarks.lookup(spark, path, "job1").contains(ts("2024-01-15 00:00:00")))
    assert(Bookmarks.lookup(spark, path, "job2").contains(ts("2024-02-01 00:00:00")))
  }

  test("Bookmarks: a crash between the swap's delete and rename loses no bookmark") {
    val path = Files.createTempDirectory("graft-bm-crash").toString + "/bookmarks"
    val live = new java.io.File(path)
    val staging = new java.io.File(path + "__staging")
    Bookmarks.upsert(spark, path, "a", ts("2024-01-10 00:00:00"))
    Bookmarks.upsert(spark, path, "b", ts("2024-02-01 00:00:00"))
    // the post-delete state: the live table is gone, the committed
    // staging copy holds every job's bookmark
    assert(live.renameTo(staging))
    assert(Bookmarks.lookup(spark, path, "a").contains(ts("2024-01-10 00:00:00")))
    Bookmarks.upsert(spark, path, "b", ts("2024-03-01 00:00:00"))
    assert(Bookmarks.lookup(spark, path, "a").contains(ts("2024-01-10 00:00:00")))
    assert(Bookmarks.lookup(spark, path, "b").contains(ts("2024-03-01 00:00:00")))
    // a staging dir without _SUCCESS is an unfinished write: ignored
    assert(live.renameTo(staging))
    assert(new java.io.File(staging, "_SUCCESS").delete())
    assert(Bookmarks.lookup(spark, path, "a").isEmpty)
  }

  test("ChangelogTableSource.since filters strictly after bookmark") {
    val dir = Files.createTempDirectory("graft-cl").toString + "/log"
    Seq((1L, ts("2024-01-01 00:00:00")), (2L, ts("2024-01-02 00:00:00")))
      .toDF("id", "_commit_timestamp").write.parquet(dir)
    val src = new ChangelogTableSource(spark, dir)
    assert(src.since(None).count() == 2)
    assert(src.since(Some(ts("2024-01-01 00:00:00"))).count() == 1)
    assert(src.since(Some(ts("2024-01-02 00:00:00"))).count() == 0)
  }

  test("AutoChangeFeedSource: Delta probe gates the CDF path; convention fallback") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-cdf").toString + "/log"
    Seq((1L, ts("2024-01-01 00:00:00")), (2L, ts("2024-01-02 00:00:00")))
      .toDF("id", "_commit_timestamp").write.parquet(dir)
    // no Delta jar in this environment: the real probe is false, and the
    // source must behave exactly like the changelog-table convention
    assert(!graft.source.DeltaCdf.available)
    val auto = new graft.source.AutoChangeFeedSource(spark, dir)
    assert(auto.since(None).count() == 2)
    assert(auto.since(Some(ts("2024-01-01 00:00:00"))).count() == 1)
    // probe mocked TRUE: the injected CDF reader is used and the strict
    // bookmark filter still applies on top of whatever CDF returns
    val cdfCalls = new CopyOnWriteArrayList[String]()
    val mocked = new graft.source.AutoChangeFeedSource(spark, dir,
      probe = () => true,
      cdfReader = (s, p, bm) => {
        cdfCalls.add(s"$p@$bm")
        Seq((10L, ts("2024-02-01 00:00:00")), (11L, ts("2023-12-01 00:00:00")))
          .toDF("id", "_commit_timestamp")
      })
    val out = mocked.since(Some(ts("2024-01-01 00:00:00")))
      .select("id").as[Long].collect().toSet
    assert(out == Set(10L))          // 11 is before the bookmark → filtered
    assert(cdfCalls.size == 1)
  }

  test("Delta CDF LIVE path: real readChangeFeed end-to-end when delta-spark is on the classpath") {
    import org.apache.spark.sql.functions.col
    // auto-skip without the jar: this environment ships none, so the
    // branch above is probe/mock-tested; on a classpath WITH delta-spark
    // this test exercises the true format("delta") CDF read instead.
    // Resolution was attempted and is IMPOSSIBLE here (verified round 12,
    // do not re-litigate): `find ~/.cache/coursier ~/.ivy2 -iname '*delta*'`
    // and `ls /opt/spark/jars | grep -i delta` both return nothing, and
    // COURSIER_MODE=offline + zero egress means a libraryDependencies
    // entry cannot fetch it. The missing artifact is exactly
    // io.delta:delta-spark_2.13:4.x (+ io.delta:delta-storage). On any
    // classpath that carries those two jars (e.g. Databricks, or sbt with
    // network), this test runs as-is with no code change.
    if (!graft.source.DeltaCdf.available) {
      info("delta-spark not on classpath — live CDF read skipped " +
        "(probe gating and fallback are covered by the previous test)")
      cancel("missing artifact: io.delta:delta-spark_2.13 (+delta-storage) — " +
        "absent from /opt/spark/jars and the offline coursier/ivy caches; " +
        "unfetchable with zero egress. Runs unmodified once those jars are present.")
    }
    val dir = Files.createTempDirectory("graft-delta-live").toString + "/tbl"
    val cdfDefault = "spark.databricks.delta.properties.defaults.enableChangeDataFeed"
    spark.conf.set(cdfDefault, "true") // new tables get CDF from version 0
    try {
      Seq((1L, "a"), (2L, "b")).toDF("id", "v")
        .write.format("delta").save(dir)
      Seq((3L, "c")).toDF("id", "v")
        .write.format("delta").mode("append").save(dir)
      // the REAL branch: probe true → format("delta").option("readChangeFeed")
      val src = new graft.source.AutoChangeFeedSource(spark, dir)
      val all = src.since(None)
      assert(all.columns.contains("_change_type"), all.columns.mkString(","))
      assert(all.filter(col("_change_type") === "insert").count() == 3)
      // strict > bookmark filtering applies on top of the CDF read
      val latest = all.agg(org.apache.spark.sql.functions.max(
        col("_commit_timestamp"))).head.getTimestamp(0)
      assert(src.since(Some(latest)).count() == 0)
    } finally spark.conf.unset(cdfDefault)
  }

  test("UserProfileJob end-to-end: dedup → transforms → egress → bookmark") {
    val root = Files.createTempDirectory("graft-job").toString
    // changelog: two changes for user 1 (latest wins), one for user 2,
    // a delete (filtered), and an empty-identity row (invalid)
    Seq(
      ("1", "9876543210", "50.5", "1985-09-03", "insert", ts("2024-01-01 10:00:00"), 1L),
      ("1", "919876543210", "99.0", "1890-01-05", "update_postimage", ts("2024-01-01 11:00:00"), 2L),
      ("2", "12345", "x", "garbage", "insert", ts("2024-01-01 09:00:00"), 3L),
      ("3", "9999999999", "1.0", "2000-02-29", "delete", ts("2024-01-01 12:00:00"), 4L),
      ("", "8888888888", "2.0", "2001-01-01", "insert", ts("2024-01-01 13:00:00"), 5L)
    ).toDF("customer_id", "mobile", "reward", "dob", "_change_type", "_commit_timestamp", "_commit_version")
      .write.parquet(s"$root/changelog")
    // mapping table: mobile+reward+dob routed to clevertap, dob not to netcore
    Seq(("mobile", true, false), ("reward", true, true), ("dob", true, false),
      ("unused_col", true, true))
      .toDF("property_name", "clevertap", "netcore").write.parquet(s"$root/mapping")

    val bodies = new CopyOnWriteArrayList[String]()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        bodies.add(new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))
        ex.sendResponseHeaders(200, 2); ex.getResponseBody.write("ok".getBytes); ex.close()
      }
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}"
      val client = new graft.sink.ClevertapClient(url, "a", "p")
      val conf = UserProfileJob.Conf(
        jobName = "up_test", changelogPath = s"$root/changelog",
        bookmarkPath = s"$root/bookmarks", keyCol = "customer_id",
        tsCol = "_commit_timestamp", tiebreakCol = "_commit_version",
        platform = "clevertap", mappingPath = s"$root/mapping",
        typeMap = Map("mobile" -> "mobile_sanity", "reward" -> "modify_reward",
          "dob" -> "date"),
        swapKeyMap = Map("customer_id" -> "identity_id"))
      val res = UserProfileJob.run(spark, conf, b => client.uploadProfiles(b))

      assert(res.validRows == 2)   // users 1 and 2 (delete filtered, "" invalid)
      assert(res.invalidRows == 1)
      assert(res.batches > 0 && res.okBatches == res.batches)
      // per-batch audit detail is ON STORAGE, not the driver
      val audit = spark.read.parquet(res.resultsPath)
      assert(audit.count() == res.batches)
      assert(audit.columns.contains("idempotencyKey"))
      assert(res.newBookmark.contains(ts("2024-01-01 13:00:00")))
      val body = bodies.toArray.map(_.toString).mkString
      // user 1: the LATEST change (mobile 91..→ last10, reward 99→9900, dob 1890→1952)
      assert(body.contains(""""identity":"1""""))
      assert(body.contains(""""mobile":"9876543210""""))
      assert(body.contains(""""reward":"9900""""))
      assert(body.contains(""""dob":"1952-01-05""""))
      // user 2: keep-original on failed casts (B7)
      assert(body.contains(""""reward":"""") || body.contains(""""identity":"2""""))

      // incremental re-run: nothing new after the bookmark
      val res2 = UserProfileJob.run(spark, conf, b => client.uploadProfiles(b))
      assert(res2.validRows == 0 && res2.newBookmark == res.newBookmark)
    } finally server.stop(0)
  }

  test("Netcore and Gamooga job twins share the incremental pipeline") {
    val root = Files.createTempDirectory("graft-twin").toString
    Seq(
      ("1", "9876543210", "50.5", "insert", ts("2024-03-01 10:00:00"), 1L),
      ("1", "919876543210", "99.0", "update_postimage", ts("2024-03-01 11:00:00"), 2L),
      ("2", "7777777777", "3.25", "insert", ts("2024-03-01 09:00:00"), 3L),
      ("", "8888888888", "2.0", "insert", ts("2024-03-01 13:00:00"), 5L)
    ).toDF("customer_id", "mobile", "reward", "_change_type", "_commit_timestamp", "_commit_version")
      .write.parquet(s"$root/changelog")
    Seq(("mobile", true), ("reward", true))
      .toDF("property_name", "netcore").write.parquet(s"$root/mapping")

    val notified = new CopyOnWriteArrayList[String]()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        notified.add(ex.getRequestURI.toString + "\n" +
          new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))
        ex.sendResponseHeaders(200, 2); ex.getResponseBody.write("ok".getBytes); ex.close()
      }
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}"
      val conf = UserProfileJob.Conf(
        jobName = "twin_test", changelogPath = s"$root/changelog",
        bookmarkPath = s"$root/bookmarks_nc", keyCol = "customer_id",
        tsCol = "_commit_timestamp", tiebreakCol = "_commit_version",
        platform = "netcore", mappingPath = s"$root/mapping",
        typeMap = Map("mobile" -> "mobile_sanity", "reward" -> "modify_reward"),
        swapKeyMap = Map.empty)

      val nc = graft.jobs.NetcoreUserProfileJob.run(spark, conf,
        new graft.sink.NetcoreClient(url, "key", "me@x.com"),
        "file://" + root + "/staging")
      assert(nc.files > 0 && nc.okFiles == nc.files)
      assert(nc.records == 2) // latest-of-1 + 2; "" invalid
      assert(spark.read.parquet(nc.resultsPath).count() == nc.files)
      assert(nc.invalidRows == 1)
      assert(nc.newBookmark.contains(ts("2024-03-01 13:00:00")))
      assert(notified.toArray.exists(_.toString.contains("bulkupload")))

      val gconf = conf.copy(bookmarkPath = s"$root/bookmarks_gm")
      val gm = graft.jobs.GamoogaUserProfileJob.run(spark, gconf,
        new graft.sink.GamoogaClient(url, "c42", "sec"),
        """{"mobile":"string","reward":"numeric"}""")
      assert(gm.validRows == 2 && gm.invalidRows == 1)
      assert(gm.okBatches == gm.batches && gm.batches > 0)
      val gBody = notified.toArray.map(_.toString).find(_.contains("bulkvpr")).get
      assert(gBody.contains(""""c":"c42"""") && gBody.contains("prop_types"))
      assert(gm.newBookmark.contains(ts("2024-03-01 13:00:00")))
    } finally server.stop(0)
  }

  /** The single-action fixture: 2500 valid rows + 1 invalid → 3 batches
    * at batchSize 1000. Returns the job conf over it. */
  private def oneActionFixture(jobName: String): UserProfileJob.Conf = {
    val root = Files.createTempDirectory("graft-1act").toString
    val rows = (1 to 2500).map(i =>
      (i.toString, s"98765432${"%02d".format(i % 100)}", "insert",
        ts("2024-05-01 10:00:00"), i.toLong)) :+
      (("", "8888888888", "insert", ts("2024-05-01 11:00:00"), 9999L))
    rows.toDF("customer_id", "mobile", "_change_type", "_commit_timestamp", "_commit_version")
      .write.parquet(s"$root/changelog")
    Seq(("mobile", true)).toDF("property_name", "clevertap")
      .write.parquet(s"$root/mapping")
    UserProfileJob.Conf(
      jobName = jobName, changelogPath = s"$root/changelog",
      bookmarkPath = s"$root/bookmarks", keyCol = "customer_id",
      tsCol = "_commit_timestamp", tiebreakCol = "_commit_version",
      platform = "clevertap", mappingPath = s"$root/mapping",
      typeMap = Map.empty, swapKeyMap = Map.empty)
  }

  test("job egress is single-action: no count() pass; one send per batch") {
    val funcNames = new CopyOnWriteArrayList[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        funcNames.add(funcName)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    // static counter: task closures are serialized even in local mode, so
    // a captured AtomicInteger would increment a per-task COPY
    JobSpecSendCounter.n.set(0)
    try {
      val conf = oneActionFixture("one_action")
      val res = UserProfileJob.run(spark, conf,
        b => { JobSpecSendCounter.n.incrementAndGet(); (200, "ok") })
      // drain the async listener bus (stable size for 400ms), THEN
      // snapshot and unregister — the audit read-back below runs its own
      // count() and must not pollute the job's event window
      val deadline = System.currentTimeMillis() + 8000
      var last = -1
      while (System.currentTimeMillis() < deadline &&
        (funcNames.size != last || last == 0)) {
        last = funcNames.size; Thread.sleep(400)
      }
      val jobEvents = funcNames.toArray.map(_.toString).toSeq
      spark.listenerManager.unregister(listener)

      assert(res.validRows == 2500 && res.invalidRows == 1)
      // batching is partition-local: ≥3 batches (2500 rows, ≤1000 each)
      assert(res.batches >= 3 && res.okBatches == res.batches)
      // each batch POSTed exactly once — egress materialized by the one
      // results-write action, never re-run by a counting pass
      assert(JobSpecSendCounter.n.get == res.batches)
      assert(spark.read.parquet(res.resultsPath).count() == res.batches)
      // the invalid counter rode the write as an observed metric; the old
      // shape ran a dedicated Dataset.count() action (listener-visible)
      assert(!jobEvents.contains("count"),
        s"egress ran a count() action: ${jobEvents.mkString(",")}")
    } finally spark.listenerManager.unregister(listener)
  }

  test("UserProfileJob run is one egress action: ≤6 jobs, no cache, no results read-back") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    // bookmark max and sink totals ride the egress write as observations;
    // caching the changelog and reading the results back took 12 jobs
    def assertOneAction(twin: String, jobs: Int, plans: Seq[SparkPlan]): Unit = {
      assert(jobs <= 6, s"$twin: $jobs Spark jobs for one run")
      val cached = plans.flatMap(p => helper.collectWithSubqueries(p) {
        case c: InMemoryTableScanExec => c })
      assert(cached.isEmpty, s"$twin: cached relation in an executed plan: $cached")
      val scanned = plans.flatMap(p => helper.collectWithSubqueries(p) {
        case f: FileSourceScanExec => f.relation.location.rootPaths.map(_.toString) }).flatten
      assert(scanned.exists(_.contains("changelog")), s"$twin: $scanned")
      assert(!scanned.exists(_.contains("_sink_results")), s"$twin: results read back: $scanned")
    }
    val conf = oneActionFixture("one_action_jobs")
    val (res, jobs, plans) =
      recordRun(UserProfileJob.run(spark, conf, _ => (200, "ok")))
    assert(res.validRows == 2500 && res.okBatches == res.batches && res.batches >= 3)
    assert(res.newBookmark.contains(ts("2024-05-01 11:00:00")))
    assertOneAction("CleverTap", jobs, plans)
    // the Netcore and Gamooga twins run the same egress step
    withStub(() => 200) { (url, _) =>
      val ncConf = oneActionFixture("one_action_nc")
      val staging = "file://" + Files.createTempDirectory("graft-1act-staging")
      val (nc, ncJobs, ncPlans) = recordRun(graft.jobs.NetcoreUserProfileJob.run(
        spark, ncConf, new graft.sink.NetcoreClient(url, "k", "e@x.com"), staging))
      assert(nc.records == 2500 && nc.invalidRows == 1 && nc.okFiles == nc.files)
      assertOneAction("Netcore", ncJobs, ncPlans)
      val gmConf = oneActionFixture("one_action_gm")
      val (gm, gmJobs, gmPlans) = recordRun(graft.jobs.GamoogaUserProfileJob.run(
        spark, gmConf, new graft.sink.GamoogaClient(url, "c", "s"), "{}"))
      assert(gm.validRows == 2500 && gm.invalidRows == 1 && gm.okBatches == gm.batches)
      assertOneAction("Gamooga", gmJobs, gmPlans)
    }
  }

  test("a nightly run against an existing bookmark reads it without schema inference") {
    val conf = oneActionFixture("seeded_bookmark_jobs")
    Bookmarks.upsert(spark, conf.bookmarkPath, conf.jobName, ts("2024-05-01 09:00:00"))
    val (res, jobs, _) = recordRun(UserProfileJob.run(spark, conf, _ => (200, "ok")))
    assert(res.validRows == 2500 && res.invalidRows == 1 && res.okBatches == res.batches)
    assert(res.newBookmark.contains(ts("2024-05-01 11:00:00")))
    // the ≤6 of a first run, plus one collect each for the bookmark
    // lookup and the upsert's read-merge; inferring the table's schema
    // on both reads took 10
    assert(jobs <= 8, s"$jobs Spark jobs for a run past a bookmark")
  }

  /** A JDK HTTP stub answering each request with `status()`; `bodies`
    * collects request bodies. */
  private def withStub(status: () => Int)(f: (String, CopyOnWriteArrayList[String]) => Unit): Unit = {
    val bodies = new CopyOnWriteArrayList[String]()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        bodies.add(ex.getRequestURI.toString + "\n" +
          new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))
        ex.sendResponseHeaders(status(), 2); ex.getResponseBody.write("ok".getBytes); ex.close()
      }
    })
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}", bodies)
    finally server.stop(0)
  }

  test("failed batches keep the bookmark and exit nonzero; after recovery a rerun delivers every row") {
    val root = Files.createTempDirectory("graft-guard").toString
    Seq(("1", "9876543210", "insert", ts("2024-09-01 10:00:00"), 1L),
        ("2", "9876543211", "insert", ts("2024-09-01 11:00:00"), 2L),
        ("3", "9876543212", "update_postimage", ts("2024-09-01 12:00:00"), 3L))
      .toDF("customer_id", "mobile", "_change_type", "_commit_timestamp", "_commit_version")
      .write.parquet(s"$root/changelog")
    Seq(("mobile", true, true)).toDF("property_name", "clevertap", "netcore")
      .write.parquet(s"$root/mapping")
    val seeded = ts("2024-08-31 00:00:00")
    Bookmarks.upsert(spark, s"$root/bookmarks", "guard", seeded)
    Bookmarks.upsert(spark, s"$root/bookmarks", "guard_nc", seeded)
    val healthy = new java.util.concurrent.atomic.AtomicBoolean(false)
    withStub(() => if (healthy.get) 200 else 500) { (url, bodies) =>
      val confFile = Files.createTempFile("graft-guardconf", ".json")
      Files.writeString(confFile, s"""{
        "job_name": "guard", "changelog_path": "$root/changelog",
        "bookmark_path": "$root/bookmarks", "key_col": "customer_id",
        "ts_col": "_commit_timestamp", "tiebreak_col": "_commit_version",
        "platform": "clevertap", "mapping_path": "$root/mapping",
        "base_url": "$url", "account_id": "a", "passcode": "p"}""")
      def main(): Int = Console.withOut(new java.io.ByteArrayOutputStream()) {
        graft.jobs.UserProfileMain.run(Array("--conf-file", confFile.toString))
      }
      // destination answers 500: every batch fails, the bookmark stays
      assert(main() == 1)
      assert(Bookmarks.lookup(spark, s"$root/bookmarks", "guard").contains(seeded))
      assert(!bodies.isEmpty)
      // the Netcore twin guards on its staged files the same way
      val ncConf = UserProfileMain.parseConf(Map(
        "job_name" -> "guard_nc", "changelog_path" -> s"$root/changelog",
        "bookmark_path" -> s"$root/bookmarks", "key_col" -> "customer_id",
        "ts_col" -> "_commit_timestamp", "tiebreak_col" -> "_commit_version",
        "platform" -> "netcore", "mapping_path" -> s"$root/mapping"))
      val nc = graft.jobs.NetcoreUserProfileJob.run(spark, ncConf,
        new graft.sink.NetcoreClient(url, "key", "me@x.com"), s"file://$root/staging")
      assert(nc.files > 0 && nc.okFiles == 0 && nc.newBookmark.contains(seeded))
      assert(Bookmarks.lookup(spark, s"$root/bookmarks", "guard_nc").contains(seeded))

      // recovered: the rerun re-sends every valid row and advances
      healthy.set(true)
      bodies.clear()
      assert(main() == 0)
      val sent = bodies.toArray.map(_.toString).mkString
      Seq("1", "2", "3").foreach(id => assert(sent.contains(s""""identity":"$id""""), sent))
      assert(Bookmarks.lookup(spark, s"$root/bookmarks", "guard")
        .contains(ts("2024-09-01 12:00:00")))
    }
  }

  test("a changelog file appended during egress is outside the bookmark; the next run delivers exactly it") {
    val root = Files.createTempDirectory("graft-append").toString
    val cols = Seq("customer_id", "mobile", "_change_type", "_commit_timestamp", "_commit_version")
    (1 to 50).map(i => (i.toString, s"98765432${"%02d".format(i)}", "insert",
        ts("2024-10-01 10:00:00"), i.toLong))
      .toDF(cols: _*).write.parquet(s"$root/changelog")
    Seq(("late", "9876543299", "insert", ts("2024-10-01 12:00:00"), 99L))
      .toDF(cols: _*).coalesce(1).write.parquet(s"$root/late")
    Seq(("mobile", true)).toDF("property_name", "clevertap").write.parquet(s"$root/mapping")
    val lateFile = new java.io.File(s"$root/late").listFiles()
      .find(_.getName.endsWith(".parquet")).get.getPath
    val appended = s"$root/changelog/part-appended.parquet"
    val conf = UserProfileJob.Conf(
      jobName = "append", changelogPath = s"$root/changelog",
      bookmarkPath = s"$root/bookmarks", keyCol = "customer_id",
      tsCol = "_commit_timestamp", tiebreakCol = "_commit_version",
      platform = "clevertap", mappingPath = s"$root/mapping",
      typeMap = Map.empty, swapKeyMap = Map.empty, batchSize = 10)
    // the first POST lands the late file in the changelog mid-egress
    val send: Seq[String] => (Int, String) = b => {
      try Files.copy(java.nio.file.Paths.get(lateFile), java.nio.file.Paths.get(appended))
      catch { case _: java.nio.file.FileAlreadyExistsException => }
      b.foreach(JobSpecSendCounter.bodies.add)
      (200, "ok")
    }
    JobSpecSendCounter.bodies.clear()
    val first = UserProfileJob.run(spark, conf, send)
    assert(new java.io.File(appended).exists())
    assert(first.validRows == 50)
    assert(first.newBookmark.contains(ts("2024-10-01 10:00:00")))
    assert(!JobSpecSendCounter.bodies.toArray.exists(_.toString.contains("\"late\"")))
    JobSpecSendCounter.bodies.clear()
    val second = UserProfileJob.run(spark, conf, send)
    assert(second.validRows == 1)
    val resent = JobSpecSendCounter.bodies.toArray.map(_.toString).toSeq
    assert(resent.size == 1 && resent.head.contains(""""identity":"late""""), resent)
    assert(second.newBookmark.contains(ts("2024-10-01 12:00:00")))
  }

  test("empty delta: nothing past the bookmark observes no max, keeps the bookmark, does not hang") {
    val conf = oneActionFixture("empty_delta")
    val at = ts("2024-05-01 11:00:00") // the fixture's newest change
    Bookmarks.upsert(spark, conf.bookmarkPath, conf.jobName, at)
    import scala.concurrent.ExecutionContext.Implicits.global
    val res = scala.concurrent.Await.result(
      scala.concurrent.Future(UserProfileJob.run(spark, conf, _ => (200, "ok"))),
      scala.concurrent.duration.Duration(120, "s"))
    assert(res.validRows == 0 && res.invalidRows == 0 && res.batches == 0)
    assert(res.newBookmark.contains(at))
    assert(Bookmarks.lookup(spark, conf.bookmarkPath, conf.jobName).contains(at))
  }

  test("crash after egress, before the bookmark upsert: the rerun re-sends and the bookmark never regresses") {
    val root = Files.createTempDirectory("graft-crash").toString
    val cols = Seq("customer_id", "mobile", "_change_type", "_commit_timestamp", "_commit_version")
    val seeded = ts("2024-11-01 00:00:00")
    // "old" is behind the seeded bookmark: an earlier run delivered it
    (("old", "9876543200", "insert", ts("2024-10-31 10:00:00"), 0L) +:
      (1 to 30).map(i => (i.toString, s"98765432${"%02d".format(i)}", "insert",
        ts("2024-11-01 10:00:00"), i.toLong)))
      .toDF(cols: _*).write.parquet(s"$root/changelog")
    Seq(("mobile", true)).toDF("property_name", "clevertap").write.parquet(s"$root/mapping")
    val conf = UserProfileJob.Conf(
      jobName = "crash", changelogPath = s"$root/changelog",
      bookmarkPath = s"$root/bookmarks", keyCol = "customer_id",
      tsCol = "_commit_timestamp", tiebreakCol = "_commit_version",
      platform = "clevertap", mappingPath = s"$root/mapping",
      typeMap = Map.empty, swapKeyMap = Map.empty, batchSize = 10)
    Bookmarks.upsert(spark, conf.bookmarkPath, conf.jobName, seeded)
    val fs = new graft.source.FsOps(spark)
    assert(fs.copy(conf.bookmarkPath, s"$root/bookmarks_prerun"))
    val identity = """"identity":"([^"]*)"""".r
    def sendAll(): (UserProfileJob.Result, Set[String]) = {
      JobSpecSendCounter.bodies.clear()
      val res = UserProfileJob.run(spark, conf,
        b => { b.foreach(JobSpecSendCounter.bodies.add); (200, "ok") })
      (res, JobSpecSendCounter.bodies.toArray.map(_.toString)
        .flatMap(identity.findFirstMatchIn(_).map(_.group(1))).toSet)
    }

    val (first, firstSent) = sendAll()
    // the crash: egress finished, the upsert never ran, so the bookmark
    // dir is what it was before the run
    assert(fs.delete(conf.bookmarkPath))
    assert(fs.copy(s"$root/bookmarks_prerun", conf.bookmarkPath))
    assert(Bookmarks.lookup(spark, conf.bookmarkPath, conf.jobName).contains(seeded))
    // a change that lands before the rerun
    Seq(("late", "9876543299", "insert", ts("2024-11-02 10:00:00"), 99L))
      .toDF(cols: _*).write.mode("append").parquet(s"$root/changelog")
    val (second, secondSent) = sendAll()

    val valid = (1 to 30).map(_.toString).toSet
    assert(valid.subsetOf(firstSent ++ secondSent))
    // at least once: the rerun re-sends the whole un-bookmarked delta
    assert((valid + "late").subsetOf(secondSent), secondSent)
    assert(!(firstSent ++ secondSent).contains("old"))
    val firstBm = first.newBookmark.get
    assert(second.newBookmark.exists(!_.before(firstBm)))
    assert(Bookmarks.lookup(spark, conf.bookmarkPath, conf.jobName) == second.newBookmark)
  }

  test("job's window dedup equals Dedup.latestPerKeyAgg on a skewed changelog") {
    import org.apache.spark.sql.functions.{col, max}
    import graft.transform.Sanity
    val root = Files.createTempDirectory("graft-skew").toString
    // hot key "1": 5000 changes; cold keys 2..40: one change each
    val hot = (1 to 5000).map(v =>
      ("1", s"98765000${"%02d".format(v % 100)}", "insert",
        ts(f"2024-06-01 ${v % 24}%02d:${v % 60}%02d:00"), v.toLong))
    val cold = (2 to 40).map(k =>
      (k.toString, s"97765000${"%02d".format(k % 100)}", "insert",
        ts("2024-06-01 09:00:00"), 100000L + k))
    (hot ++ cold).toDF("customer_id", "mobile", "_change_type",
        "_commit_timestamp", "_commit_version")
      .write.parquet(s"$root/changelog")
    Seq(("mobile", true)).toDF("property_name", "clevertap")
      .write.parquet(s"$root/mapping")

    // static holder: the send closure is serialized per task, so a
    // captured local list would collect into per-task copies
    val conf = UserProfileJob.Conf(
      jobName = "skew", changelogPath = s"$root/changelog",
      bookmarkPath = s"$root/bm", keyCol = "customer_id",
      tsCol = "_commit_timestamp", tiebreakCol = "_commit_version",
      platform = "clevertap", mappingPath = s"$root/mapping",
      typeMap = Map.empty, swapKeyMap = Map.empty)
    JobSpecSendCounter.bodies.clear()
    val res = UserProfileJob.run(spark, conf,
      b => { b.foreach(JobSpecSendCounter.bodies.add); (200, "ok") })
    val sent = JobSpecSendCounter.bodies.toArray.map(_.toString).toSet
    // the aggregate form applied straight to the changelog: same
    // counters, same bookmark, SAME payloads — including the hot key's
    // single surviving (latest) change
    val changes = spark.read.parquet(s"$root/changelog")
    val agg = graft.dedup.Dedup.latestPerKeyAgg(changes, Seq("customer_id"),
      Seq("_commit_timestamp", "_commit_version"))
    val expected = agg.select(Sanity.profileEnvelope(
        Sanity.identity(Seq(col("customer_id"))), Seq("mobile" -> col("mobile"))))
      .as[String].collect().toSet
    assert(res.validRows == 40 && res.validRows == agg.count())
    assert(res.invalidRows == 0)
    assert(res.newBookmark.contains(
      changes.agg(max("_commit_timestamp")).head.getTimestamp(0)))
    assert(sent == expected)
    assert(sent.exists(_.contains(""""identity":"1"""")))
  }

  test("UserProfileMain.parseConf: conf-file contract roundtrip with macros") {
    val conf = java.nio.file.Files.createTempFile("graft-conf", ".json")
    java.nio.file.Files.writeString(conf, """{
      "job_name": "up_{today}",
      "changelog_path": "/data/changelog",
      "bookmark_path": "/data/bookmarks",
      "key_col": "customer_id", "ts_col": "_commit_timestamp",
      "tiebreak_col": "_commit_version", "platform": "clevertap",
      "mapping_path": "/data/mapping",
      "type_map_json": "{\"mobile\":\"mobile_sanity\",\"reward\":\"modify_reward\"}",
      "swap_key_json": "{\"customer_id\":\"identity\"}",
      "base_url": "https://api.example.com", "account_id": "a",
      "passcode": "p", "batch_size": "500"}""")
    val m = graft.core.AppConfig.load(conf.toString)
    val parsed = graft.jobs.UserProfileMain.parseConf(m)
    assert(parsed.jobName.startsWith("up_20")) // {today} macro substituted
    assert(parsed.typeMap == Map("mobile" -> "mobile_sanity", "reward" -> "modify_reward"))
    assert(parsed.swapKeyMap == Map("customer_id" -> "identity"))
    assert(parsed.batchSize == 500)
  }

  test("batch_size outside 1..1000 fails on the driver before any Spark job") {
    val conf = Map(
      "job_name" -> "bs", "changelog_path" -> "/data/changelog",
      "bookmark_path" -> "/data/bookmarks", "key_col" -> "customer_id",
      "ts_col" -> "_commit_timestamp", "tiebreak_col" -> "_commit_version",
      "platform" -> "clevertap", "mapping_path" -> "/data/mapping")
    for (bad <- Seq("0", "1001")) {
      val e = intercept[IllegalArgumentException](
        UserProfileMain.parseConf(conf + ("batch_size" -> bad)))
      assert(e.getMessage.contains(s"got $bad"))
    }
    assert(UserProfileMain.parseConf(conf + ("batch_size" -> "1")).batchSize == 1)
    assert(UserProfileMain.parseConf(conf + ("batch_size" -> "1000")).batchSize == 1000)
    // the sink rejects a non-positive size when the plan is built, not
    // inside every egress task
    intercept[IllegalArgumentException](graft.sink.HttpSink.sendBatches(
      Seq("{}").toDF("payload"), "payload", 0, _ => (200, "")))
  }

  test("UserProfileMain e2e: --conf-file → job → JSON counters on stdout") {
    val root = Files.createTempDirectory("graft-main").toString
    Seq(("1", "9876543210", "insert", ts("2024-07-01 10:00:00"), 1L),
        ("2", "9876543211", "insert", ts("2024-07-01 11:00:00"), 2L))
      .toDF("customer_id", "mobile", "_change_type", "_commit_timestamp", "_commit_version")
      .write.parquet(s"$root/changelog")
    Seq(("mobile", true)).toDF("property_name", "clevertap")
      .write.parquet(s"$root/mapping")
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        ex.getRequestBody.readAllBytes()
        ex.sendResponseHeaders(200, 2); ex.getResponseBody.write("ok".getBytes); ex.close()
      }
    })
    server.start()
    try {
      val conf = java.nio.file.Files.createTempFile("graft-mainconf", ".json")
      java.nio.file.Files.writeString(conf, s"""{
        "job_name": "main_e2e", "changelog_path": "$root/changelog",
        "bookmark_path": "$root/bookmarks", "key_col": "customer_id",
        "ts_col": "_commit_timestamp", "tiebreak_col": "_commit_version",
        "platform": "clevertap", "mapping_path": "$root/mapping",
        "base_url": "http://127.0.0.1:${server.getAddress.getPort}",
        "account_id": "a", "passcode": "p"}""")
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(out)) {
        graft.jobs.UserProfileMain.main(Array("--conf-file", conf.toString))
      }
      val line = out.toString.linesIterator.find(_.startsWith("{")).get
      assert(line.contains(""""valid":2""") && line.contains(""""invalid":0"""), line)
      // the shared test session must have survived (main doesn't own it)
      assert(!spark.sparkContext.isStopped)
    } finally server.stop(0)
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
