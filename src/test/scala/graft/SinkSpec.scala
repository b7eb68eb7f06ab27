package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.CopyOnWriteArrayList

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.functions._

import graft.core.{Connection, ConnectionRegistry, MapSecretProvider, RetryPolicy}
import graft.sink._

/** `stagetest://` paths on the local disk: a filesystem scheme that only a
  * session's Hadoop configuration can register. */
class StageTestFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("stagetest:///")
}

/** What egress `send` closures record. `send` runs inside tasks from a
  * deserialized copy of its closure, so it records through this
  * JVM-static holder (same JVM in local mode), never a captured local. */
object SinkSpecEgress {
  val inflight = new java.util.concurrent.atomic.AtomicInteger()
  val highWater = new java.util.concurrent.atomic.AtomicInteger()
  val threads = new CopyOnWriteArrayList[Thread]()
}

/** Sink contract tests against a real local HTTP stub (SURVEY §5.5):
  * batch size ≤1000, byte-bound packing ≤4.5MB, retry×3 on connection
  * errors, envelope shape, verifiable JWT. */
class SinkSpec extends SparkSpec {

  private def withServer(f: (String, CopyOnWriteArrayList[String]) => Unit): Unit = {
    val bodies = new CopyOnWriteArrayList[String]()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        bodies.add(ex.getRequestURI.toString + "\n" + body)
        val resp = """{"status":"success"}""".getBytes(StandardCharsets.UTF_8)
        ex.sendResponseHeaders(200, resp.length)
        ex.getResponseBody.write(resp)
        ex.close()
      }
    })
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}", bodies)
    finally server.stop(0)
  }

  test("BatchPacker.countBound: ≤N per batch, nothing lost") {
    val batches = BatchPacker.countBound((1 to 2500).iterator, 1000).toSeq
    assert(batches.map(_.size) == Seq(1000, 1000, 500))
    assert(batches.flatten == (1 to 2500))
  }

  test("BatchPacker.byteBound: each batch ≤ cap unless single oversized record") {
    val recs = Seq("a" * 400, "b" * 400, "c" * 400, "d" * 2000, "e" * 10)
    val batches = BatchPacker.byteBound(recs.iterator, maxBytes = 1000).toSeq
    assert(batches.flatten == recs)
    batches.foreach { b =>
      val sz = b.map(_.length).sum + (b.size - 1)
      assert(sz <= 1000 || b.size == 1)
    }
  }

  test("AWS secrets probe: absent SDK → None; mocked probe uses injected fetch; chain falls through") {
    import graft.core.{AwsSecretsProvider, ChainedSecretProvider}
    // no AWS jar in this environment — the real probe must be false and
    // the provider must yield None (never throw)
    assert(!AwsSecretsProvider.available)
    val real = new AwsSecretsProvider()
    assert(real.secret("martech").isEmpty)
    // probe mocked true: the injected fetch is consulted
    val mocked = new AwsSecretsProvider(
      probe = () => true,
      fetch = n => if (n == "martech") Some("""{"ct":{"host":"x"}}""") else None)
    assert(mocked.secret("martech").contains("""{"ct":{"host":"x"}}"""))
    assert(mocked.secret("other").isEmpty)
    // chain: env-style override wins, cloud fallback fills the rest
    val chain = new ChainedSecretProvider(Seq(
      new MapSecretProvider(Map("a" -> "override")),
      mocked))
    assert(chain.secret("a").contains("override"))
    assert(chain.secret("martech").contains("""{"ct":{"host":"x"}}"""))
    assert(chain.secret("missing").isEmpty)
  }

  test("Netcore staging: RFC-4180 encoding round-trips adversarial fields") {
    import spark.implicits._
    withServer { (url, _) =>
      val rows = Seq(
        ("1", "plain", "simple"),
        ("2", "a,b", "comma"),
        ("3", "say \"hi\"", "quote"),
        ("4", "line1\nline2", "newline"),
        ("5", "cr\r\nlf", "crlf"),
        ("6", null, "null-field"),
        ("7", " lead,and \"both\"\n", "mix"))
      val csv = rows.toDF("id", "payload", "tag")
        .select(graft.transform.Sanity.csvLine(Seq($"id", $"payload", $"tag")).as("csv"))
      val dir = java.nio.file.Files.createTempDirectory("graft-rfc").toString
      val header = Seq("id", "payload", "tag")
        .map(graft.transform.Sanity.csvQuoteString).mkString(",")
      val staged = NetcoreSink.stageAndNotify(csv.coalesce(1), "csv", header,
        "file://" + dir, new NetcoreClient(url, "k", "e@x.com")).collect()
      assert(staged.forall(_.ok))
      // decode with Spark's own CSV parser as an independent codec —
      // escape must be set to the quote char for RFC-4180 "" doubling
      val back = spark.read.option("header", "true").option("multiLine", "true")
        .option("escape", "\"").csv("file://" + dir).collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      // null encodes as empty, which the reader hands back as null
      assert(back == rows.toSet)
    }
  }

  test("Netcore byte cap measures the ENCODED line (quotes doubled)") {
    import spark.implicits._
    withServer { (url, _) =>
      // raw 40 chars but encoded ~84 bytes each ("" doubling + wrapping)
      val rows = (1 to 20).map(i => "\"" * 40)
      val csv = rows.toDF("f").select(graft.transform.Sanity.csvLine(Seq($"f")).as("csv"))
      val dir = java.nio.file.Files.createTempDirectory("graft-cap").toString
      val staged = NetcoreSink.stageAndNotify(csv.coalesce(1), "csv", "f",
        "file://" + dir, new NetcoreClient(url, "k", "e@x.com"),
        maxBytes = 300L).collect()
      // cap respected against encoded bytes (header included); no record lost
      assert(staged.forall(f => f.bytes <= 300L || f.records == 1))
      assert(staged.map(_.records).sum == 20)
      val back = spark.read.option("header", "true").option("multiLine", "true")
        .option("escape", "\"").csv("file://" + dir).collect().map(_.getString(0))
      assert(back.length == 20 && back.forall(_ == "\"" * 40))
    }
  }

  test("Netcore staging opens the filesystem through the session's Hadoop conf") {
    import spark.implicits._
    // the scheme is known only to the session's conf, as s3a credentials
    // or an `fs.<scheme>.impl` set via spark.hadoop.* would be
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.stagetest.impl", classOf[StageTestFileSystem].getName)
    hc.set("fs.stagetest.impl.disable.cache", "true")
    try withServer { (url, _) =>
      val dir = java.nio.file.Files.createTempDirectory("graft-scheme").toString
      val staged = NetcoreSink.stageAndNotify(Seq("1,a", "2,b").toDF("csv").coalesce(1),
        "csv", "id,v", s"stagetest://$dir", new NetcoreClient(url, "k", "e@x.com")).collect()
      assert(staged.length == 1 && staged.head.ok)
      assert(staged.head.path == s"stagetest://$dir/user_profile_part_0_0.csv")
      val written = java.nio.file.Files.readString(
        java.nio.file.Paths.get(dir, "user_profile_part_0_0.csv"))
      assert(written == "id,v\n1,a\n2,b" && staged.head.bytes == written.length)
    } finally {
      hc.unset("fs.stagetest.impl")
      hc.unset("fs.stagetest.impl.disable.cache")
    }
  }

  test("HttpSink.sendBatches: distributed POST, {\"d\":[..]} envelope, ≤1000/batch") {
    import spark.implicits._
    withServer { (url, bodies) =>
      val payloads = (1 to 2345)
        .map(i => s"""{"type":"profile","identity":"$i","profileData":{}}""")
        .toDF("payload").repartition(3)
      val client = new ClevertapClient(url, "acct", "pass")
      val res = HttpSink.sendBatches(payloads, "payload", 1000,
        batch => client.uploadProfiles(batch)).collect()
      assert(res.forall(_.ok))
      assert(res.map(_.records).sum == 2345)
      assert(res.forall(_.records <= 1000))
      assert(bodies.size == res.length)
      bodies.forEach { b =>
        val body = b.split("\n", 2)(1)
        assert(body.startsWith("""{"d":["""))
        assert(body.endsWith("]}"))
      }
    }
  }

  test("RetryPolicy: retries connection errors, rethrows after maxAttempts") {
    var calls = 0
    val ex = intercept[java.net.ConnectException] {
      RetryPolicy(maxAttempts = 3, baseDelayMs = 1).run {
        calls += 1
        throw new java.net.ConnectException("nope")
      }
    }
    assert(calls == 3 && ex.getMessage == "nope")
    // non-connection errors are not retried
    calls = 0
    intercept[IllegalArgumentException] {
      RetryPolicy(maxAttempts = 3, baseDelayMs = 1).run {
        calls += 1
        throw new IllegalArgumentException("bad")
      }
    }
    assert(calls == 1)
  }

  test("sendBatches records failures as SinkResult rows (no job crash)") {
    import spark.implicits._
    val payloads = Seq("""{"x":1}""").toDF("payload")
    // closed port → ConnectException after retries → ok=false row
    val client = new ClevertapClient("http://127.0.0.1:1",
      "a", "p", retry = RetryPolicy(maxAttempts = 2, baseDelayMs = 1))
    val res = HttpSink.sendBatches(payloads, "payload", 10,
      b => client.uploadProfiles(b)).collect()
    assert(res.length == 1 && !res.head.ok && res.head.status == -1)
  }

  test("JdkHttpPoster request timeout: a destination that never answers fails the batch, unretried") {
    import spark.implicits._
    val arrived = new java.util.concurrent.atomic.AtomicInteger()
    val release = new java.util.concurrent.CountDownLatch(1)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val handlers = java.util.concurrent.Executors.newCachedThreadPool()
    server.setExecutor(handlers)
    server.createContext("/", new HttpHandler {
      // accept the request, then never answer (until the spec ends)
      def handle(ex: HttpExchange): Unit = {
        arrived.incrementAndGet(); release.await(); ex.close()
      }
    })
    server.start()
    try {
      val client = new ClevertapClient(s"http://127.0.0.1:${server.getAddress.getPort}",
        "a", "p", new JdkHttpPoster(requestTimeoutMs = 300),
        RetryPolicy(maxAttempts = 3, baseDelayMs = 1))
      val t0 = System.nanoTime()
      val res = HttpSink.sendBatches(Seq("""{"x":1}""").toDF("payload"), "payload", 10,
        b => client.uploadProfiles(b)).collect()
      assert((System.nanoTime() - t0) / 1e9 < 30)
      assert(res.length == 1 && !res.head.ok && res.head.status == -1)
      assert(res.head.error.toLowerCase.contains("timed out"), res.head.error)
      // the POST may have landed: a request timeout is never re-sent
      assert(arrived.get == 1)
      assert(!RetryPolicy().shouldRetry(new java.net.http.HttpTimeoutException("t")))
      assert(RetryPolicy().shouldRetry(new java.net.http.HttpConnectTimeoutException("t")))
    } finally { release.countDown(); server.stop(0); handlers.shutdown() }
  }

  test("writeResults: totals observed on the write; firstError is the same whatever the task order") {
    import spark.implicits._
    val rows = Seq(
      SinkResult(0, 1000, 200, ok = true, ""),
      SinkResult(1, 1000, 500, ok = false, "zeta: upstream down"),
      SinkResult(2, 500, 503, ok = false, "alpha: throttled"),
      SinkResult(3, 7, 200, ok = true, ""))
    val dir = java.nio.file.Files.createTempDirectory("graft-results").toString
    // coalesce(1) keeps the input order (an order-dependent `first` reads
    // "zeta" one way and "alpha" the other); repartition spreads it
    val arrangements = Seq[org.apache.spark.sql.Dataset[SinkResult] =>
      org.apache.spark.sql.Dataset[SinkResult]](_.coalesce(1), _.repartition(3))
    val stats = for (order <- Seq(rows, rows.reverse); arrange <- arrangements) yield
      HttpSink.writeResults(arrange(spark.createDataset(order)), s"$dir/r")
    assert(stats.toSet == Set(EgressStats(4, 2, 2507, "alpha: throttled")))
    assert(spark.read.parquet(s"$dir/r").count() == 4)
    val clean = HttpSink.writeResults(spark.createDataset(rows.filter(_.ok)), s"$dir/ok")
    assert(clean == EgressStats(2, 2, 1007, "") && clean.delivered)
  }

  test("Gamooga JWT HS256 is verifiable") {
    val jwt = GamoogaClient.jwtHs256("""{"ev":"x"}""", "secret123")
    val Array(h, p, s) = jwt.split("\\.")
    val mac = javax.crypto.Mac.getInstance("HmacSHA256")
    mac.init(new javax.crypto.spec.SecretKeySpec(
      "secret123".getBytes(StandardCharsets.UTF_8), "HmacSHA256"))
    val expect = java.util.Base64.getUrlEncoder.withoutPadding
      .encodeToString(mac.doFinal(s"$h.$p".getBytes(StandardCharsets.UTF_8)))
    assert(s == expect)
    assert(new String(java.util.Base64.getUrlDecoder.decode(p)) == """{"ev":"x"}""")
  }

  test("sendBatchesKeyed: content-derived idempotency key, stable across runs") {
    import spark.implicits._
    val payloads = (1 to 5).map(i => s"""{"i":$i}""").toDF("payload").coalesce(1)
    def run(): Seq[graft.sink.SinkResult] =
      HttpSink.sendBatchesKeyed(payloads, "payload", 2, (_, _) => (200, "ok"))
        .collect().toSeq.sortBy(_.batchIndex)
    val a = run(); val b = run()
    assert(a.map(_.idempotencyKey) == b.map(_.idempotencyKey)) // retry-stable
    assert(a.map(_.idempotencyKey).distinct.size == a.size)    // per-batch unique
    assert(a.forall(_.idempotencyKey.matches("[0-9a-f]{32}")))
    // the key is EXACTLY md5 over the batch's concatenated UTF-8 payloads —
    // recomputed here independently, so a re-executed task ATTEMPT (retry
    // or speculation) over the same rows derives the same key
    // byte-for-byte, which is what lets a deduping destination drop the
    // duplicate POST
    val md = java.security.MessageDigest.getInstance("MD5")
    Seq("""{"i":1}""", """{"i":2}""")
      .foreach(p => md.update(p.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    assert(a.head.idempotencyKey == md.digest().map("%02x".format(_)).mkString)
  }

  test("egress window: 4 sends in flight per task, results in batch order, same keys") {
    import spark.implicits._
    // 18 payloads in one partition, 2 per batch: 9 batches in one task
    val payloads = (1 to 18).map(i => s"""{"i":$i}""").toDF("payload").coalesce(1)
    SinkSpecEgress.inflight.set(0)
    SinkSpecEgress.highWater.set(0)
    val slow = HttpSink.sendBatchesKeyed(payloads, "payload", 2, (_, batch) => {
      SinkSpecEgress.highWater.accumulateAndGet(
        SinkSpecEgress.inflight.incrementAndGet(), math.max)
      // batch k sleeps 100, 80, 60, 40, 100, ... ms: within a window the
      // later batches answer first, so input order is not arrival order
      val k = (batch.head.filter(_.isDigit).toInt - 1) / 2
      try Thread.sleep(40L + 20L * (3 - k % 4))
      finally SinkSpecEgress.inflight.decrementAndGet()
      (200, "ok")
    }).collect().toSeq
    val fast = HttpSink.sendBatchesKeyed(payloads, "payload", 2, (_, _) => (200, "ok"))
      .collect().toSeq
    // the cap is 4 per task: overlapped (above 1), never above the cap
    assert(SinkSpecEgress.highWater.get == 4)
    assert(slow.map(_.batchIndex) == (0L until 9L))
    assert(slow.map(_.records).sum == 18 && slow.forall(_.ok))
    // the same rows, idempotency keys included, as an unhurried run
    assert(slow == fast)
  }

  test("egress pool threads end with the action, also when the task fails mid-partition") {
    import spark.implicits._
    val send: (String, Seq[String]) => (Int, String) = (_, _) => {
      SinkSpecEgress.threads.add(Thread.currentThread())
      Thread.sleep(200)
      (200, "ok")
    }
    def poolThreads(): Seq[Thread] = {
      val ts = SinkSpecEgress.threads.toArray(Array.empty[Thread]).toSeq.distinct
      assert(ts.nonEmpty && ts.forall(_.getName.startsWith("graft-egress-")),
        ts.map(_.getName))
      ts
    }
    def awaitEnded(ts: Seq[Thread]): Unit = {
      val deadline = System.currentTimeMillis() + 5000
      while (ts.exists(_.isAlive) && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(!ts.exists(_.isAlive), ts.filter(_.isAlive).map(_.getName))
    }
    // one partition, one row per batch
    val rows = spark.range(1, 10, 1, 1)
    SinkSpecEgress.threads.clear()
    val ok = HttpSink.sendBatchesKeyed(rows.select(to_json(struct($"id")).as("payload")),
      "payload", 1, send).collect()
    assert(ok.length == 9 && ok.forall(_.ok))
    awaitEnded(poolThreads())
    // the 5th row raises once its predecessors' sends are in flight
    SinkSpecEgress.threads.clear()
    val bad = rows.select(when($"id" === 5, raise_error(lit("boom at row 5")))
      .otherwise(to_json(struct($"id"))).as("payload"))
    val e = intercept[Exception](
      HttpSink.sendBatchesKeyed(bad, "payload", 1, send).collect())
    assert(e.getMessage.contains("boom at row 5"), e.getMessage)
    awaitEnded(poolThreads())
  }

  test("speculation guard: egress refuses spark.speculation=true, passes on safe configs") {
    // red: a speculating cluster config dies at submit time, not by
    // silently double-POSTing every batch (at-least-once -> guaranteed
    // duplicates when the destination can't dedupe)
    val e = intercept[IllegalStateException] {
      HttpSink.requireNoSpeculation(k =>
        if (k == "spark.speculation") Some("true") else None)
    }
    assert(e.getMessage.contains("speculation"))
    // case/whitespace variants still trip it
    intercept[IllegalStateException](HttpSink.requireNoSpeculation(_ => Some(" TRUE ")))
    // green: absent / false / the live test session (UserProfileJob.
    // withPrepared runs this same guard on every job entry)
    HttpSink.requireNoSpeculation(_ => None)
    HttpSink.requireNoSpeculation(_ => Some("false"))
    HttpSink.requireNoSpeculation(spark)
    assert(!spark.sparkContext.getConf.getBoolean("spark.speculation", false))
  }

  test("Netcore notify URL carries apikey/path; Gamooga events POST jwt") {
    withServer { (url, bodies) =>
      new NetcoreClient(url, "k1", "me@x.com").notifyUpload("https://b.s3/x.csv", Some("7"))
      // a quote and a backslash in the company id must survive as JSON
      val company = "c9\"q\\b"
      val gamooga = new GamoogaClient(url, company, "sec")
      gamooga.uploadEvents("""{"e":1}""")
      gamooga.uploadProfiles("""{"u1":{"n":"a"}}""", """{"n":"str"}""")
      val all = bodies.toArray.map(_.toString)
      // query params are percent-encoded (the staged URL's "://" and "/"
      // would otherwise misparse server-side)
      assert(all.exists(b => b.contains("apikey=k1") && b.contains("listid=7")
        && b.contains("path=https%3A%2F%2Fb.s3%2Fx.csv")))
      val json = new com.fasterxml.jackson.databind.ObjectMapper()
      def body(path: String) = {
        val b = all.find(_.startsWith(path)).get
        json.readTree(b.substring(b.indexOf('\n') + 1))
      }
      val events = body("/bev/")
      assert(events.get("c").asText == company)
      assert(events.get("jwt").asText == GamoogaClient.jwtHs256("""{"e":1}""", "sec"))
      val profiles = body("/bulkvpr/")
      assert(profiles.get("c").asText == company)
      assert(profiles.get("props") == json.readTree("""{"u1":{"n":"a"}}"""))
      assert(profiles.get("prop_types") == json.readTree("""{"n":"str"}"""))
    }
  }

  test("CleverTap delete + events; Netcore multipart event batch") {
    withServer { (url, bodies) =>
      val ct = new ClevertapClient(url, "acct", "pass")
      // backslash, quote and control characters must survive as JSON
      val ids = Seq("u1", "u2", "a\\", "q\"t", "tab\tnl\n" + 1.toChar)
      ct.deleteProfiles(ids, s"$url/1/delete/profiles.json")
      ct.uploadEvents(Seq("""{"type":"event","evtName":"x"}"""))
      new NetcoreClient(url, "k", "e@x.com")
        .uploadEventsBatch("my key", "part_0.csv", "id,v\n1,a")
      val all = bodies.toArray.map(_.toString)
      val del = all.find(_.startsWith("/1/delete/profiles.json")).get
      val parsed = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(del.substring(del.indexOf('\n') + 1)).get("identity")
      assert((0 until parsed.size).map(parsed.get(_).asText) == ids)
      assert(del.contains(""""identity":["u1","u2",""""))
      assert(all.exists(b => b.contains("/1/upload") && b.contains(""""evtName":"x"""")))
      val mp = all.find(_.contains("/v1/activity/batchactivity/my+key")).get
      assert(mp.contains("filename=\"part_0.csv\"") && mp.contains("id,v\n1,a"))
    }
  }

  test("ConnectionRegistry parses the reference secret layout") {
    val secret = """{"clevertap_default":{"host":"api.example.com","login":"acct",
      "password":"pass","schema":"https","port":443,
      "extra":"{\"api_key\":\"k\",\"ip_whitelisted_bucket\":\"b\"}"}}"""
    val reg = new ConnectionRegistry(new MapSecretProvider(Map("martech_dev" -> secret)), "martech_dev")
    val c = reg.get("clevertap_default")
    assert(c.baseUrl == "https://api.example.com:443")
    assert(c.login == "acct" && c.extra("api_key") == "k")
    intercept[NoSuchElementException](reg.get("missing"))
  }
}
