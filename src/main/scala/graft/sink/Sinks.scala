package graft.sink

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.time.Duration
import java.util.concurrent.{Callable, ExecutionException, Executors, Future}
import java.util.concurrent.atomic.AtomicInteger
import javax.crypto.Mac
import javax.crypto.spec.SecretKeySpec

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.util.RawValue

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration

import graft.core.RetryPolicy

/** Sink-side batching + HTTP egress (SURVEY.md §2.3).
  *
  * The reference runs a single-threaded driver loop pulling pandas chunks
  * and POSTing them (`operators/clevertap_user_profile.py:61-91`). Here
  * batching is a partition-local iterator op and the POST happens on
  * executors via `mapPartitions`, returning a `Dataset[SinkResult]` so
  * results are observable (not just logged). HTTP clients are constructed
  * once per partition (≈ once per task), never per record; a cluster run
  * with hundreds of partitions fans the egress out with no driver
  * involvement.
  *
  * Each HTTP egress task keeps several `send` calls in flight at once
  * (see [[InFlight]]), so `send` closures and the HTTP clients they call
  * must be safe under concurrent calls. The clients here are: they hold
  * no mutable state beyond a thread-safe `HttpClient` and Jackson
  * `ObjectMapper`. Netcore staging runs one chunk at a time.
  */

/** Bounded, order-preserving in-flight window for the partition-local
  * HTTP egress loop: up to 4 calls per task at once. The task thread
  * pulls `it` — upstream rows, batch grouping, idempotency keys,
  * `TaskContext` reads all happen there — and only `work` runs on the
  * task's own pool (threads named `graft-egress-<partition>-<n>`).
  * Results come back in input order. The pool shuts down when the
  * iterator is exhausted, and through a task-completion listener when
  * the task fails or is killed (in-flight calls are interrupted then). */
private object InFlight {
  // destination concurrency = egress tasks × Window. A POST's round trip
  // is mostly waiting on the network and the destination, not task CPU,
  // so a few calls in flight overlap those waits; a small fixed cap keeps
  // one task from flooding the destination, whose rate limit is the real
  // bound on egress.
  private val Window = 4

  def mapOrdered[A, B](it: Iterator[A])(work: A => B): Iterator[B] = {
    val ctx = TaskContext.get()
    val prefix = s"graft-egress-${ctx.partitionId()}-"
    val threads = new AtomicInteger()
    val pool = Executors.newFixedThreadPool(Window, (r: Runnable) => {
      val t = new Thread(r, prefix + threads.incrementAndGet())
      t.setDaemon(true)
      t
    })
    ctx.addTaskCompletionListener[Unit](_ => pool.shutdownNow())
    new Iterator[B] {
      private val pending = new java.util.ArrayDeque[Future[B]](Window)
      def hasNext: Boolean = {
        while (pending.size < Window && it.hasNext) {
          val a = it.next()
          pending.add(pool.submit(new Callable[B] { def call(): B = work(a) }))
        }
        if (pending.isEmpty) pool.shutdown()
        !pending.isEmpty
      }
      def next(): B = {
        if (!hasNext) throw new NoSuchElementException("egress window exhausted")
        try pending.poll().get()
        catch { case e: ExecutionException => throw e.getCause }
      }
    }
  }
}

/** Per-batch sink outcome (auditable; replaces the reference's log-only
  * counters TOTAL_RECORD_PROCESSED/SEND/INVALID). `idempotencyKey` is a
  * content hash of the batch — stable across task retries, so destinations
  * that store it can drop duplicate deliveries. */
case class SinkResult(batchIndex: Long, records: Long, status: Int,
                      ok: Boolean, error: String, idempotencyKey: String = "")

object BatchPacker {
  /** R18: count-bound batches (CleverTap/Gamooga ≤1000 records/POST,
    * `operators/clevertap_user_profile.py:29`, `hooks/gamooga.py:42`). */
  def countBound[T](it: Iterator[T], maxRecords: Int): Iterator[Seq[T]] =
    it.grouped(maxRecords).map(_.toSeq)

  /** R19: byte-bound batches (Netcore ≤4.5 MB CSV, `hooks/netcore.py:107`).
    * Greedy packing measuring encoded bytes incrementally — the reference
    * re-serialized the whole frame per probe (O(n log n) temp files); this
    * is one pass. A single record larger than the cap gets its own batch. */
  def byteBound(it: Iterator[String], maxBytes: Long,
                sepBytes: Int = 1): Iterator[Seq[String]] = new Iterator[Seq[String]] {
    private val buf = it.buffered
    def hasNext: Boolean = buf.hasNext
    def next(): Seq[String] = {
      val out = Seq.newBuilder[String]
      var bytes = 0L
      var n = 0
      var full = false
      while (buf.hasNext && !full) {
        val sz = buf.head.getBytes(StandardCharsets.UTF_8).length +
          (if (n == 0) 0 else sepBytes)
        if (n > 0 && bytes + sz > maxBytes) full = true
        else { out += buf.next(); bytes += sz; n += 1 }
      }
      out.result()
    }
  }
}

/** Minimal HTTP POST contract a destination needs; implemented over
  * java.net.http (zero-dep) and easily stubbed in tests. */
trait HttpPoster extends Serializable {
  def post(url: String, body: String, headers: Map[String, String]): (Int, String)
}

/** Real poster: lazily builds one JDK HttpClient per deserialized poster,
  * i.e. one per egress task (the client is a `@transient lazy val`, so
  * each task's copy of the closure builds its own). Concurrent `post`
  * calls from one task's window (see [[InFlight]]) share that one client
  * safely: `HttpClient` is thread-safe and the lazy val is initialized
  * once under a lock. `requestTimeoutMs` bounds each request from send
  * to response headers: a destination that accepts the connection and
  * never answers fails the call with `HttpTimeoutException` (recorded as
  * an ok=false batch by the sinks) instead of pinning the egress task
  * forever. */
class JdkHttpPoster(connectTimeoutMs: Long = 10000,
                    requestTimeoutMs: Long = 60000) extends HttpPoster {
  @transient private lazy val client: HttpClient = HttpClient.newBuilder()
    .connectTimeout(Duration.ofMillis(connectTimeoutMs)).build()
  def post(url: String, body: String, headers: Map[String, String]): (Int, String) = {
    val b = HttpRequest.newBuilder(URI.create(url))
      .timeout(Duration.ofMillis(requestTimeoutMs))
      .POST(HttpRequest.BodyPublishers.ofString(body, StandardCharsets.UTF_8))
    headers.foreach { case (k, v) => b.header(k, v) }
    val resp = client.send(b.build(), HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }
}

/** CleverTap destination (reference `hooks/clevertap.py:10-65`): JSON
  * batches of ≤1000 profiles to `1/upload`; account creds as headers. */
class ClevertapClient(baseUrl: String, accountId: String, passcode: String,
                      poster: HttpPoster = new JdkHttpPoster(),
                      retry: RetryPolicy = RetryPolicy()) extends Serializable {
  private def headers = Map(
    "X-CleverTap-Account-Id" -> accountId,
    "X-CleverTap-Passcode" -> passcode,
    "Content-Type" -> "application/json")

  /** One batch: payloads are already-enveloped profile JSON strings (T11);
    * wrapped as {"d":[...]} (`operators/clevertap_user_profile.py:78`). */
  def uploadProfiles(batch: Seq[String]): (Int, String) = {
    val body = batch.mkString("{\"d\":[", ",", "]}")
    retry.run(poster.post(s"$baseUrl/1/upload", body, headers))
  }

  /** Event upload uses the same `1/upload` endpoint and {"d":[...]}
    * envelope with event-typed payloads (`hooks/clevertap.py:53-65`). */
  def uploadEvents(batch: Seq[String]): (Int, String) = uploadProfiles(batch)

  /** Profile deletion POSTs to an ABSOLUTE regional endpoint, unlike the
    * relative upload paths (`hooks/clevertap.py:36-50`); the URL is a
    * parameter so tests can point it at a stub. The body is encoded by
    * Jackson, so identities with `\`, quotes or control characters stay
    * valid JSON. */
  def deleteProfiles(identities: Seq[String],
      deleteUrl: String = "https://in1.api.clevertap.com/1/delete/profiles.json")
      : (Int, String) = {
    val body = new ObjectMapper().writeValueAsString(
      java.util.Map.of("identity", java.util.List.of(identities: _*)))
    retry.run(poster.post(deleteUrl, body, headers))
  }
}

/** Gamooga destination (reference `hooks/gamooga.py:12-74`): profile bulk
  * upload + JWT-signed (HS256) event batches. JWT is hand-rolled
  * HMAC-SHA256 (zero-dep), verifiable by any standard library. */
class GamoogaClient(baseUrl: String, companyId: String, secret: String,
                    poster: HttpPoster = new JdkHttpPoster(),
                    retry: RetryPolicy = RetryPolicy()) extends Serializable {
  // Bodies are encoded by Jackson, so a company id with `\` or quotes
  // stays valid JSON; the caller's props JSON is embedded verbatim.
  def uploadProfiles(propsJson: String, propTypesJson: String): (Int, String) = {
    val body = GamoogaClient.json.createObjectNode()
      .putRawValue("props", new RawValue(propsJson))
      .put("c", companyId)
      .putRawValue("prop_types", new RawValue(propTypesJson))
    retry.run(poster.post(s"$baseUrl/bulkvpr/",
      GamoogaClient.json.writeValueAsString(body), Map("Content-Type" -> "application/json")))
  }
  def uploadEvents(payloadJson: String): (Int, String) = {
    val body = GamoogaClient.json.createObjectNode()
      .put("jwt", GamoogaClient.jwtHs256(payloadJson, secret))
      .put("c", companyId)
    retry.run(poster.post(s"$baseUrl/bev/",
      GamoogaClient.json.writeValueAsString(body), Map("Content-Type" -> "application/json")))
  }
}
object GamoogaClient {
  private val json = new ObjectMapper()
  private def b64url(bytes: Array[Byte]): String =
    java.util.Base64.getUrlEncoder.withoutPadding.encodeToString(bytes)
  /** Compact JWS: base64url(header).base64url(payload).base64url(hmac). */
  def jwtHs256(payloadJson: String, secret: String): String = {
    val header = b64url("""{"alg":"HS256","typ":"JWT"}""".getBytes(StandardCharsets.UTF_8))
    val payload = b64url(payloadJson.getBytes(StandardCharsets.UTF_8))
    val mac = Mac.getInstance("HmacSHA256")
    mac.init(new SecretKeySpec(secret.getBytes(StandardCharsets.UTF_8), "HmacSHA256"))
    val sig = b64url(mac.doFinal(s"$header.$payload".getBytes(StandardCharsets.UTF_8)))
    s"$header.$payload.$sig"
  }
}

/** Netcore destination (reference `hooks/netcore.py:18-119`): stage CSV
  * chunks (≤4.5 MB) to a filesystem prefix (s3a:// in prod, file:// in
  * tests — same Hadoop FileSystem API), then notify the bulk-upload API
  * per staged file. */
class NetcoreClient(baseUrl: String, apiKey: String, notifyEmail: String,
                    poster: HttpPoster = new JdkHttpPoster(),
                    retry: RetryPolicy = RetryPolicy()) extends Serializable {
  val maxChunkBytes: Long = 4500000L

  def notifyUpload(stagedUrl: String, listId: Option[String] = None): (Int, String) = {
    // Every value is percent-encoded: staged URLs contain "://" and "/",
    // emails may contain "+" — raw interpolation misparses at the server.
    def enc(v: String): String =
      java.net.URLEncoder.encode(v, StandardCharsets.UTF_8)
    val lid = listId.map(l => s"&listid=${enc(l)}").getOrElse("")
    val url = s"$baseUrl/apiv2?type=contact&activity=bulkupload&apikey=${enc(apiKey)}" +
      s"&notifyemail=${enc(notifyEmail)}$lid&path=${enc(stagedUrl)}"
    retry.run(poster.post(url, "", Map.empty))
  }

  /** Event batch activity (`hooks/netcore.py:64-101`): ≤4.5 MB CSV chunk
    * as a multipart/form-data POST to `v1/activity/batchactivity/<key>`.
    * Multipart body is hand-rolled (zero-dep); chunking is the caller's
    * job via BatchPacker.byteBound. */
  def uploadEventsBatch(key: String, filename: String, csv: String): (Int, String) = {
    val boundary = "----graftboundary" +
      java.lang.Long.toHexString(csv.hashCode.toLong & 0xFFFFFFFFL)
    val body = s"--$boundary\r\n" +
      s"""Content-Disposition: form-data; name="file"; filename="$filename"\r\n""" +
      "Content-Type: text/csv\r\n\r\n" + csv + s"\r\n--$boundary--\r\n"
    val enc = java.net.URLEncoder.encode(key, StandardCharsets.UTF_8)
    retry.run(poster.post(s"$baseUrl/v1/activity/batchactivity/$enc",
      body, Map("Content-Type" -> s"multipart/form-data; boundary=$boundary")))
  }
}

object HttpSink {
  /** Distributed egress: payload rows → partition-local ≤`batchSize`
    * batches → one POST per batch with retry → SinkResult rows.
    *
    * Delivery semantics: AT-LEAST-ONCE. Spark task retries and speculative
    * execution re-run whole partitions, so a batch can POST more than once
    * (the reference's single-threaded driver loop only duplicated on
    * whole-job retry). Each batch therefore carries a deterministic
    * content-derived idempotency key (md5 over the batch payloads) —
    * identical across re-executions of the same data — which destinations
    * can use to drop duplicates; it is surfaced in `SinkResult` and passed
    * to `send` in the keyed overload. Disable `spark.speculation` for
    * egress stages when the destination cannot dedupe.
    *
    * `send` runs on executors: it must be serializable and lazily
    * construct any client state (JdkHttpPoster does). Each task calls
    * `send` concurrently, see [[InFlight]], so `send` must be safe under
    * concurrent calls; results still come back in batch order. batchIndex
    * is globally unique (partitionId << 20 | local index). */
  def sendBatches(payloads: DataFrame, payloadCol: String, batchSize: Int,
                  send: Seq[String] => (Int, String)): Dataset[SinkResult] =
    sendBatchesKeyed(payloads, payloadCol, batchSize, (_, batch) => send(batch))

  /** As `sendBatches`, but `send` also receives the batch's idempotency
    * key so the caller can attach it to the request (header or body).
    * Same concurrency contract (see [[InFlight]]); grouping and keys are
    * computed on the task thread. */
  def sendBatchesKeyed(payloads: DataFrame, payloadCol: String, batchSize: Int,
                       send: (String, Seq[String]) => (Int, String)): Dataset[SinkResult] = {
    // on the driver: a bad size would otherwise fail every egress task,
    // after the changelog scan and dedup have already run
    require(batchSize > 0, s"batchSize must be positive, got $batchSize")
    val spark = payloads.sparkSession
    import spark.implicits._
    payloads.select(col(payloadCol).cast("string")).as[String]
      .mapPartitions { it =>
        val pid = TaskContext.getPartitionId().toLong
        val md = java.security.MessageDigest.getInstance("MD5")
        val keyed = BatchPacker.countBound(it, batchSize).zipWithIndex.map { case (batch, i) =>
          md.reset()
          batch.foreach(p => md.update(p.getBytes(StandardCharsets.UTF_8)))
          ((pid << 20) | i.toLong, md.digest().map("%02x".format(_)).mkString, batch)
        }
        InFlight.mapOrdered(keyed) { case (index, key, batch) =>
          try {
            val (status, body) = send(key, batch)
            SinkResult(index, batch.size.toLong, status,
              status >= 200 && status < 400,
              if (status >= 200 && status < 400) "" else body.take(500), key)
          } catch {
            case t: Throwable =>
              SinkResult(index, batch.size.toLong, -1, ok = false,
                String.valueOf(t.getMessage).take(500), key)
          }
        }
      }
  }

  /** Fail fast when `spark.speculation` is enabled: speculative attempts
    * re-run egress partitions, so every batch can POST twice — the
    * at-least-once contract documented on [[sendBatches]] degrades to
    * guaranteed duplicates unless the destination dedupes on the
    * idempotency key, which the reference destinations do not. Jobs call
    * this before their egress action; a config regression then dies at
    * submit time instead of silently double-sending. The conf is read
    * through a getter so specs can exercise the failing config without
    * standing up a second SparkContext. */
  def requireNoSpeculation(getConf: String => Option[String]): Unit = {
    val on = getConf("spark.speculation").exists(_.trim.equalsIgnoreCase("true"))
    if (on) throw new IllegalStateException(
      "spark.speculation is enabled: speculative task attempts re-POST egress " +
        "batches and the destination does not dedupe on the idempotency key. " +
        "Disable speculation for egress jobs, or send through a destination " +
        "that drops duplicate idempotency keys.")
  }

  /** [[requireNoSpeculation]] against a live session's SparkConf. */
  def requireNoSpeculation(spark: org.apache.spark.sql.SparkSession): Unit =
    requireNoSpeculation(k => spark.sparkContext.getConf.getOption(k))

  /** Invalid-record split (R21): rows with null identity are rejected;
    * returns (valid, invalid) without double-scanning semantics changes. */
  def splitInvalid(df: DataFrame, identityCol: String): (DataFrame, DataFrame) =
    (df.filter(col(identityCol).isNotNull), df.filter(col(identityCol).isNull))

  /** R21 metrics (`records_processed`, `records_invalid`) as observed
    * metrics instead of the reference's log-only counters: collected with
    * the egress action and read from `obs` after it, with no listener
    * plumbing and no separate `invalid.count()` pass re-executing the
    * whole upstream pipeline (SURVEY §4). */
  def observeEgress(df: DataFrame, obs: Observation, identityCol: String): DataFrame =
    df.observe(obs,
      count(lit(1)).as("records_processed"),
      count(when(col(identityCol).isNull, 1)).as("records_invalid"))

  /** Materialize egress results EXACTLY ONCE by writing the
    * `Dataset[SinkResult]` to `resultsPath` (parquet, overwrite — the one
    * side-effecting action); the driver-sized summary is observed on that
    * same write, so the results are never read back. One result row per
    * ~1000-record batch means ~10⁸ rows at 100 TB: the audit detail stays
    * on storage, queryable, and only four numbers reach the driver. */
  def writeResults(results: Dataset[SinkResult], resultsPath: String): EgressStats = {
    val m = observedWrite(results, resultsPath,
      count(lit(1)).as("batches"),
      count(when(col("ok"), 1)).as("ok_batches"),
      coalesce(sum(col("records")), lit(0L)).as("records"),
      coalesce(min(when(!col("ok"), col("error"))), lit("")).as("first_error"))
    EgressStats(m("batches").asInstanceOf[Long], m("ok_batches").asInstanceOf[Long],
      m("records").asInstanceOf[Long], m("first_error").asInstanceOf[String])
  }

  /** Writes `results` to `resultsPath` (parquet, overwrite — the one
    * materializing action) and returns `totals`, observed on that write
    * from the tasks that committed it. */
  private[sink] def observedWrite(results: Dataset[_], resultsPath: String,
                                  totals: Column*): Map[String, Any] = {
    val obs = Observation()
    results.observe(obs, totals.head, totals.tail: _*)
      .write.mode(SaveMode.Overwrite).parquet(resultsPath)
    obs.get
  }
}

/** Driver-sized egress summary, observed on the results write (see
  * HttpSink.writeResults) from the tasks that committed it. `firstError`
  * is a sample for logs: the lexicographically smallest failed-batch
  * error (`""` when every batch is ok), so reruns over the same failures
  * report the same sample whatever the task order; the full per-batch
  * detail lives at the results path. */
case class EgressStats(batches: Long, okBatches: Long, records: Long,
                       firstError: String) {
  /** Every batch was accepted by the destination. */
  def delivered: Boolean = okBatches == batches
}

/** Netcore egress (S5): byte-bounded CSV chunks staged to a filesystem
  * prefix (file:// in tests, s3a:// in prod — same API), then the bulk
  * upload API notified once per staged file. Staging happens on
  * executors, one file per packed chunk, part-numbered like the
  * reference's `…_part_<n>.csv` keys. */
object NetcoreSink {
  case class StagedFile(path: String, records: Long, bytes: Long,
                        status: Int, ok: Boolean)

  /** Driver-sized staging summary (see HttpSink.writeResults — same
    * rationale: staged-file rows scale with the data; only the totals
    * belong on the driver, observed on the results write). */
  case class StageStats(files: Long, okFiles: Long, records: Long, bytes: Long) {
    /** Every staged file was acknowledged by the bulk-upload API. */
    def delivered: Boolean = okFiles == files
  }

  /** Write the staged-file results to `resultsPath` (the single
    * materializing action), observing the totals on that write. */
  def writeResults(staged: Dataset[StagedFile], resultsPath: String): StageStats = {
    val m = HttpSink.observedWrite(staged, resultsPath,
      count(lit(1)).as("files"),
      count(when(col("ok"), 1)).as("ok_files"),
      coalesce(sum(col("records")), lit(0L)).as("records"),
      coalesce(sum(col("bytes")), lit(0L)).as("bytes"))
    StageStats(m("files").asInstanceOf[Long], m("ok_files").asInstanceOf[Long],
      m("records").asInstanceOf[Long], m("bytes").asInstanceOf[Long])
  }

  /** Delivery semantics: AT-LEAST-ONCE — a retried/speculated task
    * re-stages and re-notifies its partition. Staged paths are
    * deterministic (`…_part_<pid>_<i>.csv`, overwrite=true), so the file
    * write is idempotent and the path doubles as the notification's
    * idempotency key; the bulk-upload API may still be notified twice for
    * the same path. Disable `spark.speculation` when that matters.
    *
    * Staging opens the filesystem with the session's Hadoop configuration
    * (`spark.hadoop.*` and `sparkContext.hadoopConfiguration`: s3a
    * credentials, `fs.<scheme>.impl`), captured on the driver. */
  def stageAndNotify(rows: DataFrame, csvCol: String, header: String,
                     stagingPrefix: String, client: NetcoreClient,
                     maxBytes: Long = 4500000L): Dataset[StagedFile] = {
    val spark = rows.sparkSession
    import spark.implicits._
    val headerBytes = header.getBytes(StandardCharsets.UTF_8).length + 1
    val hadoopConf = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    rows.select(col(csvCol).cast("string")).as[String].mapPartitions { it =>
      val pid = TaskContext.getPartitionId()
      BatchPacker.byteBound(it, maxBytes - headerBytes).zipWithIndex.map {
        case (chunk, i) =>
          val path = s"$stagingPrefix/user_profile_part_${pid}_$i.csv"
          val bytes = (header +: chunk).mkString("\n").getBytes(StandardCharsets.UTF_8)
          val fs = org.apache.hadoop.fs.FileSystem.get(
            new java.net.URI(path), hadoopConf.value)
          val out = fs.create(new org.apache.hadoop.fs.Path(path), true)
          try out.write(bytes)
          finally out.close()
          val (status, _) =
            try client.notifyUpload(path)
            catch { case t: Throwable => (-1, String.valueOf(t.getMessage)) }
          StagedFile(path, chunk.size.toLong, bytes.length.toLong,
            status, status >= 200 && status < 400)
      }
    }
  }
}
