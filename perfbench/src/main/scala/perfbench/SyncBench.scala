package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.dedup.Dedup
import graft.jobs.{NetcoreUserProfileJob, UserProfileJob}
import graft.sink.{ClevertapClient, HttpSink, NetcoreClient, NetcoreSink}
import graft.source.{Bookmarks, ChangelogTableSource}
import graft.transform.Sanity

/** Netcore client whose bulk-upload notifications are timed, so the
  * traced run can report how long egress waited for the destination. */
final class TimedNetcoreClient(url: String)
    extends NetcoreClient(url, "bench-key", "bench@example.com") {
  override def notifyUpload(stagedUrl: String, listId: Option[String]): (Int, String) = {
    val t0 = System.nanoTime()
    try super.notifyUpload(stagedUrl, listId)
    finally SyncBench.waitNs.addAndGet(System.nanoTime() - t0)
  }
}

object SyncBench {
  /** Time egress tasks spent inside destination calls (local mode: the
    * tasks run in this JVM). */
  val waitNs = new AtomicLong
  /** Untimed job runs between the checked priming run and the timed ones. */
  val WarmupRuns = 2
}

/** Profile-sync workloads: `UserProfileJob.run` (CleverTap JSON POSTs)
  * or `NetcoreUserProfileJob.run` (staged CSV + notifications) against
  * the in-process [[Stub]]. Each repetition runs under a fresh job name
  * and bookmark store, pre-seeded to the spec's bookmark when it has
  * one, so every repetition does identical work.
  *
  * Traced, repetitions alternate between the job entry point and the
  * same pipeline decomposed into its layer calls (bookmark lookup,
  * changelog scan, dedup, sanity transforms, egress, bookmark upsert),
  * each layer's output forced inside its span. */
final class SyncBench(spark: SparkSession, spec: JsonNode, heap: HeapSampler,
                      out: String) {
  private val root = spec.get("root").asText()
  private val platform = spec.get("platform").asText()
  private val seconds = spec.get("seconds").asDouble()
  private val traced = spec.get("trace").asBoolean()
  private val k = spark.sparkContext.defaultParallelism
  private val bookmark: Option[Timestamp] =
    Option(spec.get("bookmark_us")).filterNot(_.isNull).map(n => micros(n.asLong()))
  private val stub = new Stub(spec.get("service_ms").asLong(), k)
  private val jobs = Paths.get(out, "jobs").toAbsolutePath

  private def micros(us: Long): Timestamp = {
    val ts = new Timestamp(Math.floorDiv(us, 1000L))
    ts.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    ts
  }
  private def toMicros(ts: Timestamp): Long =
    ts.getTime / 1000 * 1000000L + ts.getNanos / 1000

  private def dir(i: Int) = jobs.resolve(s"rep$i")
  private def conf(i: Int) = UserProfileJob.Conf(
    jobName = s"profile_sync_$i",
    changelogPath = s"file:$root/changelog",
    bookmarkPath = s"file:${dir(i)}/bookmarks",
    keyCol = "customer_id", tsCol = "_commit_timestamp",
    tiebreakCol = "_commit_version", platform = platform,
    mappingPath = s"file:$root/mapping",
    typeMap = Map("mobile" -> "mobile_sanity", "reward" -> "modify_reward",
      "dob" -> "date"),
    swapKeyMap = Map("customer_id" -> "identity_id"))
  private def staging(i: Int) = s"file:${dir(i)}/staging"

  /** Untimed per-repetition set-up: the pre-seeded bookmark. */
  private def prepare(i: Int): Unit =
    bookmark.foreach(ts => Bookmarks.upsert(spark, conf(i).bookmarkPath, conf(i).jobName, ts))

  private case class Outcome(valid: Long, invalid: Long, batches: Long, ok: Long,
                             bookmark: Option[Timestamp])

  /** One run of the job through its public entry point. */
  private def runJob(i: Int): Outcome = platform match {
    case "clevertap" =>
      val client = new ClevertapClient(stub.url, "bench", "pass")
      val r = UserProfileJob.run(spark, conf(i), b => client.uploadProfiles(b))
      Outcome(r.validRows, r.invalidRows, r.batches, r.okBatches, r.newBookmark)
    case _ =>
      val r = NetcoreUserProfileJob.run(spark, conf(i),
        new NetcoreClient(stub.url, "bench-key", "bench@example.com"), staging(i))
      Outcome(r.records, r.invalidRows, r.files, r.okFiles, r.newBookmark)
  }

  /** The same pipeline as [[runJob]], one span per layer call. */
  private def runTraced(tr: Trace, i: Int): (Outcome, Span, Map[String, Double]) = {
    val c = conf(i)
    SyncBench.waitNs.set(0)
    var m = Map.empty[String, Double]
    val (o, root) = tr.span("job") {
      HttpSink.requireNoSpeculation(spark)
      val (bm, lookup) = tr.span("source.bookmark_lookup")(
        Bookmarks.lookup(spark, c.bookmarkPath, c.jobName))
      val past = Observation()
      val ((changes, nChanges), scan) = tr.span("source.scan") {
        val ch = new ChangelogTableSource(spark, c.changelogPath, c.tsCol).since(bm)
          .observe(past, count(lit(1)).as("rows"))
          .filter(col("_change_type").isin("insert", "update_postimage"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        (ch, ch.count())
      }
      val ((latest, nLatest), dedup) = tr.span("dedup.latest") {
        val l = Dedup.latestPerKey(changes, Seq(c.keyCol),
          Seq(col(c.tsCol).desc, col(c.tiebreakCol).desc))
          .persist(StorageLevel.MEMORY_AND_DISK)
        (l, l.count())
      }
      val (renamed, sanity) = tr.span("transform.sanity") {
        val attrs = spark.read.parquet(c.mappingPath)
          .filter(col(c.platform) === true)
          .select("property_name").collect().map(_.getString(0)).toSeq
          .filter(latest.columns.contains)
        val typed = Sanity.compileTypeMap(
          Sanity.extractAttributes(latest, Seq(c.keyCol) ++ attrs), c.typeMap)
        val r = Sanity.swapKeys(typed, c.swapKeyMap).persist(StorageLevel.MEMORY_AND_DISK)
        r.count()
        r
      }
      val keyOut = c.swapKeyMap.getOrElse(c.keyCol, c.keyCol)
      val obs = Observation()
      val ((batches, ok, files, records, staged), egress) = tr.span("sink.egress")(platform match {
        case "clevertap" =>
          val attrCols = renamed.columns.filter(_ != keyOut).toSeq
          val payloads = HttpSink.observeEgress(renamed.select(
            Sanity.identity(Seq(col(keyOut))).as("identity"),
            Sanity.profileEnvelope(Sanity.identity(Seq(col(keyOut))),
              attrCols.map(a => a -> col(a))).as("payload")), obs, "identity")
          val (valid, _) = HttpSink.splitInvalid(payloads, "identity")
          val client = new ClevertapClient(stub.url, "bench", "pass")
          val send: Seq[String] => (Int, String) = b => {
            val t0 = System.nanoTime()
            try client.uploadProfiles(b)
            finally SyncBench.waitNs.addAndGet(System.nanoTime() - t0)
          }
          val s = HttpSink.writeResults(
            HttpSink.sendBatches(valid, "payload", c.batchSize, send), c.resultsPath)
          (s.batches, s.okBatches, 0L, s.records, 0L)
        case _ =>
          val cols = renamed.columns.toSeq
          val csv = HttpSink.observeEgress(renamed.select(
            Sanity.identity(Seq(col(keyOut))).as("identity"),
            Sanity.csvLine(cols.map(x => col(x).cast("string"))).as("csv")),
            obs, "identity")
          val (valid, _) = HttpSink.splitInvalid(csv, "identity")
          val header = cols.map(Sanity.csvQuoteString).mkString(",")
          val client = new TimedNetcoreClient(stub.url)
          val s = NetcoreSink.writeResults(NetcoreSink.stageAndNotify(valid, "csv",
            header, staging(i), client, client.maxChunkBytes), c.resultsPath)
          (s.files, s.okFiles, s.files, s.records, s.bytes)
      })
      val egressEndMs = System.currentTimeMillis()
      val (newBm, upsert) = tr.span("source.bookmark_upsert") {
        val maxTs = changes.agg(max(col(c.tsCol))).collect().head
        val nb = if (maxTs.isNullAt(0)) bm else Some(maxTs.getTimestamp(0))
        nb.foreach(ts => Bookmarks.upsert(spark, c.bookmarkPath, c.jobName, ts))
        nb
      }
      Seq(renamed, latest, changes).foreach(_.unpersist(blocking = true))
      val invalid = obs.get("records_invalid").asInstanceOf[Long]
      val scanned = scan.work.scanRows.toDouble
      m = Map(
        "source.bookmark_lookup_s" -> lookup.seconds,
        "source.scan_s" -> scan.seconds,
        "source.files_read" -> scan.work.scanFiles.toDouble,
        "source.rows_scanned" -> scanned,
        "source.useful_ratio" ->
          (if (scanned > 0) past.get("rows").asInstanceOf[Long] / scanned else 0.0),
        "source.bookmark_upsert_s" -> upsert.seconds,
        "dedup.latest_s" -> dedup.seconds,
        "dedup.rows_in" -> nChanges.toDouble, "dedup.rows_out" -> nLatest.toDouble,
        "dedup.shuffle_bytes" -> dedup.work.shuffleWrite.toDouble,
        "dedup.spill_bytes" -> dedup.work.spill.toDouble,
        "dedup.task_skew" -> dedup.work.skew,
        "transform.sanity_s" -> sanity.seconds,
        "transform.invalid_rows" -> invalid.toDouble,
        "sink.egress_s" -> egress.seconds,
        "sink.results_s" -> math.max(0L, egressEndMs - egress.work.firstJobEndMs) / 1e3,
        "sink.posts" -> stub.posts.get.toDouble,
        // POST bodies (CleverTap) or staged CSV files (Netcore)
        "sink.bytes_out" -> (stub.bytesIn.get + staged).toDouble,
        "sink.wait_s" -> SyncBench.waitNs.get / 1e9,
        "sink.stub_busy_s" -> stub.busyNs.get / 1e9,
        "sink.inflight_max" -> stub.inflightMax.get.toDouble,
        "sink.staged_files" -> files.toDouble,
        "sink.failed_batches" -> (batches - ok).toDouble,
        "sink.retries" -> math.max(0L, stub.posts.get - batches).toDouble)
      Outcome(records, invalid, batches, ok, newBm)
    }
    val w = root.work
    (o, root, m ++ Map(
      "engine.plan_s" -> w.planNs / 1e9, "engine.exec_s" -> w.execNs / 1e9,
      "engine.jobs" -> w.jobs.toDouble, "engine.stages" -> w.stages.toDouble,
      "engine.tasks" -> w.tasks.toDouble,
      "engine.shuffle_bytes" -> w.shuffleWrite.toDouble,
      "engine.spill_bytes" -> w.spill.toDouble,
      "engine.peak_exec_mem_bytes" -> w.peakMem.toDouble,
      "engine.sched_delay_s" -> w.schedDelayMs / 1e3,
      "engine.busy_ratio" -> w.runMs / (root.seconds * 1e3 * k)))
  }

  private def record(o: Outcome, wall: Double, ledger: Ledger,
                     tracedRep: Boolean): Map[String, Any] = {
    val (records, distinct, digest) = ledger.summary
    Map("wall" -> wall, "valid" -> o.valid, "invalid" -> o.invalid,
      "batches" -> o.batches, "ok" -> o.ok,
      "bookmark_us" -> o.bookmark.map(toMicros), "records" -> records,
      "distinct" -> distinct, "digest" -> digest, "traced" -> tracedRep)
  }

  def run(): Map[String, Any] =
    try body() finally stub.stop()

  private def body(): Map[String, Any] = {
    // cold priming run: keeps the full ledger for run.py's check
    prepare(0)
    val primeLedger = stub.reset(keep = true)
    val prime = runJob(0)
    Files.write(Paths.get(out, "ledger.txt"),
      primeLedger.kept.asScala.map(_ + "\n").mkString.getBytes(UTF_8))
    val primeRec = record(prime, 0.0, primeLedger, tracedRep = false)
    Harness.deleteTree(dir(0))
    // untimed warm-up runs: the timed repetitions start past the steepest
    // part of the JIT warm-up instead of measuring it
    var i = 0
    while (i < SyncBench.WarmupRuns) {
      i += 1
      prepare(i)
      stub.reset(keep = false)
      runJob(i)
      Harness.deleteTree(dir(i))
    }
    System.gc()
    heap.arm()
    val firstRepMs = System.currentTimeMillis()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val trace = if (traced) Some(new Trace(spark)) else None
    val reps = ArrayBuffer.empty[Map[String, Any]]
    val layers = ArrayBuffer.empty[Map[String, Double]]
    do {
      i += 1
      prepare(i)
      val traceThis = trace.isDefined && i % 2 == 0
      val ledger = stub.reset(keep = false)
      val (o, wall) =
        if (traceThis) {
          val tr = trace.get
          tr.newRun()
          val (o, root, m) = runTraced(tr, i)
          layers += m
          (o, root.seconds)
        } else {
          val t0 = System.nanoTime()
          val o = runJob(i)
          (o, (System.nanoTime() - t0) / 1e9)
        }
      reps += record(o, wall, ledger, traceThis)
      Harness.deleteTree(dir(i))
      System.gc()
    } while (System.nanoTime() < deadline || (traced && layers.isEmpty))
    val (heapPeak, heapRetained) = heap.peaksMb
    val layerOut = trace.map { tr =>
      tr.close()
      Files.write(Paths.get(out, "spans.jsonl"),
        (tr.jsonLines.mkString("\n") + "\n").getBytes(UTF_8))
      def walls(t: Boolean) =
        reps.filter(_("traced") == t).map(_("wall").asInstanceOf[Double]).toSeq
      layers.flatMap(_.keys).distinct
        .map(key => key -> Trace.median(layers.map(_(key)).toSeq)).toMap +
        ("trace.overhead_s" -> (Trace.median(walls(true)) - Trace.median(walls(false))))
    }
    Map(
      "first_rep_epoch_ms" -> firstRepMs,
      "prime" -> primeRec,
      "reps" -> reps.toSeq,
      "heap_peak_mb" -> heapPeak,
      "heap_retained_mb" -> heapRetained,
      "layers" -> layerOut)
  }
}
