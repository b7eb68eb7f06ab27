package graft.jobs

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.sink.HttpSink
import graft.source.{Bookmarks, ChangelogTableSource}
import graft.transform.Sanity

/** E2 — the reference's sample job (`tasks/sample/entrypoint.py:4-20`):
  * range → format write → used as the harness smoke test. */
object SampleJob {
  case class Conf(outputFormat: String, outputPath: String)
  def run(spark: SparkSession, conf: Conf): Long = {
    spark.range(0, 1000).write.format(conf.outputFormat)
      .mode(SaveMode.Overwrite).save(conf.outputPath)
    spark.read.format(conf.outputFormat).load(conf.outputPath).count()
  }
}

/** E1 completed (SURVEY §3 E1 step 8): the reference's production job
  * computes latest-change-per-key and the attribute list but never wires
  * them to the sink; this job closes the loop:
  *
  *   changelog since bookmark → latest change per key → attribute
  *   projection (mapping table) → sanity type map → payload envelope →
  *   batched HTTP egress → bookmark upsert.
  *
  * Scale posture: the only shuffle is the dedup window's hash partition
  * on the key; the mapping table is metadata-sized (collected like R5 but
  * only column NAMES, never data rows); transforms are narrow codegen'd
  * expressions; egress is partition-local.
  */
object UserProfileJob {
  case class Conf(
      jobName: String,
      changelogPath: String,
      bookmarkPath: String,
      keyCol: String,
      tsCol: String,
      tiebreakCol: String,
      platform: String,
      mappingPath: String,           // parquet: property_name + per-platform bool cols
      typeMap: Map[String, String],  // T4 per-key tags
      swapKeyMap: Map[String, String],
      batchSize: Int = 1000,
      sinkResultsPath: Option[String] = None,
      /** Drift-tolerant changelog read: treat `changelogPath`'s
        * sub-directories as per-batch parquet with possibly DIFFERENT
        * schemas (union by name, missing-as-null, widened types — the
        * wide-evolving profile table of SURVEY §1.3). The mapping-
        * driven attribute selection downstream already tolerates
        * absent columns, so a drifted batch flows through end-to-end
        * (Round17Spec "UserProfileJob survives a drifted batch"; a first
        * run over a batch missing `tsCol` fails before any egress:
        * Round17Spec "UserProfileJob driftTolerant: FIRST …"). Off by
        * default: the plain single-schema read skips the footer listing. */
      driftTolerant: Boolean = false) {
    /** Where per-batch sink results land (parquet). A sibling of the
      * bookmark store by default — NOT nested inside it, which would
      * corrupt the bookmark parquet directory. */
    def resultsPath: String =
      sinkResultsPath.getOrElse(s"${bookmarkPath}_sink_results/$jobName")
  }

  /** Driver-sized job outcome: counters + the path holding the per-batch
    * audit detail. Per-batch rows scale with the data (~10⁸ at 100 TB) and
    * deliberately never reach the driver — query `resultsPath` for them.
    * `newBookmark` is the bookmark the job left: advanced only when every
    * batch was ok, else the one it started from. */
  case class Result(validRows: Long, invalidRows: Long, batches: Long,
                    okBatches: Long, firstError: String, resultsPath: String,
                    newBookmark: Option[Timestamp])

  /** Steps 1–5, shared by every destination: bookmark lookup, pinned
    * incremental read, latest-per-key dedup, mapping-driven attribute
    * projection, sanity transforms + rename. */
  private[jobs] case class Prepared(renamed: DataFrame, keyOut: String)

  /** Steps 1–8, shared by every destination; a destination supplies only
    * its `payload` column and its `sink` write. Step 6 builds `identity`
    * and `payload` once, counts the rows without an identity (R21) as an
    * observed metric on the egress action instead of a `count()` pass,
    * and hands only the valid rows to `sink`. Returns the sink's outcome,
    * the invalid-row count and the bookmark the job left.
    *
    * The bookmark is upserted to the max `tsCol` observed on the
    * changelog rows that egress action read — only when `delivered(out)`:
    * a failed batch keeps the old bookmark, so the next run re-sends
    * instead of skipping the undelivered rows.
    *
    * `sink` must execute the frame it is given in exactly ONE action: the
    * bookmark and the invalid count are `Observation`s on that action, not
    * a second scan. That is also what pins the bookmark to what was sent.
    * The changelog relation's file listing is fixed when it is resolved,
    * so a file appended during egress is in neither the egressed rows nor
    * the observed max (the next run picks it up); `max` is idempotent, so
    * re-run tasks cannot move it. An empty delta observes null and keeps
    * the old bookmark. */
  private[jobs] def withPrepared[S](spark: SparkSession, conf: Conf)(
      payload: Prepared => Column)(sink: (Prepared, DataFrame) => S)(
      delivered: S => Boolean): (S, Long, Option[Timestamp]) = {
    // 0. egress-safety guard: the destination APIs don't dedupe, so a
    //    speculating cluster would double-POST every batch (see
    //    HttpSink.requireNoSpeculation) — refuse to run
    HttpSink.requireNoSpeculation(spark)
    // 1. bookmark lookup (metadata-sized; absent ⇒ full history)
    val bookmark = Bookmarks.lookup(spark, conf.bookmarkPath, conf.jobName)

    // 2. incremental changelog read — timestamp filter pushed into the
    //    scan; drift-tolerant form unions mixed-schema batch dirs by
    //    name (missing-as-null) so an evolving producer can't fail the
    //    nightly run
    val feed: graft.source.ChangeFeedSource =
      if (conf.driftTolerant)
        // _change_type is required in every batch: the isin filter
        // below would silently drop a whole null-filled batch otherwise.
        // tsCol too (ADVICE r18): the since(bookmark) path only needs it
        // when a bookmark exists, so a FIRST, bookmark-less run over a
        // batch missing tsCol would otherwise egress those rows with
        // null timestamps and exclude them from the new bookmark — the
        // loud failure must fire before the first egress, not the second
        new graft.source.DriftTolerantChangelogSource(
          spark, conf.changelogPath, conf.tsCol,
          requiredCols = Seq("_change_type", conf.tsCol))
      else new ChangelogTableSource(spark, conf.changelogPath, conf.tsCol)
    val processed = Observation()
    val changes = feed.since(bookmark)
      .filter(col("_change_type").isin("insert", "update_postimage"))
      .observe(processed, max(col(conf.tsCol)).as("max_ts"))
    // 3. latest change per key
    val latest = Dedup.latestPerKey(changes, Seq(conf.keyCol),
      Seq(col(conf.tsCol).desc, col(conf.tiebreakCol).desc))

    // 4. attribute selection from the mapping table: collect NAMES only
    //    (the reference collects the same metadata, clevertap.py:56-58)
    val attrs = spark.read.parquet(conf.mappingPath)
      .filter(col(conf.platform) === true)
      .select("property_name").collect().map(_.getString(0)).toSeq

    // 5. sanity transforms (T4 compile) + projection (absent attributes
    //    skipped) + rename
    val typed = Sanity.compileTypeMap(
      Sanity.extractAttributes(latest, Seq(conf.keyCol) ++ attrs), conf.typeMap)
    val renamed = Sanity.swapKeys(typed, conf.swapKeyMap)
    val keyOut = conf.swapKeyMap.getOrElse(conf.keyCol, conf.keyCol)

    val p = Prepared(renamed, keyOut)

    // 6. identity + payload, invalid split (R21)
    val obs = Observation()
    val (valid, _) = HttpSink.splitInvalid(HttpSink.observeEgress(renamed.select(
      Sanity.identity(Seq(col(keyOut))).as("identity"), payload(p).as("payload")),
      obs, "identity"), "identity")
    // 7. distributed egress, materialized once by the sink's results write
    val out = sink(p, valid)
    val nInvalid = obs.get("records_invalid").asInstanceOf[Long]

    // 8. bookmark upsert, only after every batch landed: the max commit
    //    timestamp the egress action read (null when the delta was empty)
    val advanced =
      if (delivered(out)) Option(processed.get("max_ts").asInstanceOf[Timestamp])
      else None
    advanced.foreach(ts => Bookmarks.upsert(spark, conf.bookmarkPath, conf.jobName, ts))
    (out, nInvalid, advanced.orElse(bookmark))
  }

  /** CleverTap-shaped egress (the reference's one wired production job):
    * JSON profile envelopes, ≤1000-record POST batches; the per-batch
    * results go to parquet and the driver receives only the EgressStats
    * summary. */
  def run(spark: SparkSession, conf: Conf,
          send: Seq[String] => (Int, String)): Result = {
    val (stats, nInvalid, newBookmark) = withPrepared(spark, conf) { p =>
      Sanity.profileEnvelope(Sanity.identity(Seq(col(p.keyOut))),
        p.renamed.columns.filter(_ != p.keyOut).toSeq.map(a => a -> col(a)))
    } { (_, valid) =>
      HttpSink.writeResults(
        HttpSink.sendBatches(valid, "payload", conf.batchSize, send), conf.resultsPath)
    }(_.delivered)
    Result(stats.records, nInvalid, stats.batches, stats.okBatches,
      stats.firstError, conf.resultsPath, newBookmark)
  }
}

/** spark-submit entrypoint with the reference's `--conf-file` contract
  * (`tasks/base.py:64-80`, `conf/deployment.json:5-20`): parse the JSON
  * conf (date macros substituted), build the CleverTap client from the
  * conf's `base_url`, `account_id` and `passcode`, run the job, print
  * the result summary.
  *
  *   spark-submit --class graft.jobs.UserProfileMain app.jar \
  *     --conf-file conf/user_profile/clevertap.json
  *
  * Conf keys (flat JSON strings; *_json keys hold nested JSON):
  * job_name, changelog_path, bookmark_path, key_col, ts_col,
  * tiebreak_col, platform, mapping_path, type_map_json, swap_key_json,
  * base_url, account_id, passcode; optional: batch_size (1 to 1000,
  * CleverTap's per-POST cap, default 1000) and sink_results_path
  * (default a sibling of bookmark_path, see `Conf.resultsPath`).
  */
object UserProfileMain {
  def parseConf(m: Map[String, String]): UserProfileJob.Conf = {
    def json2map(s: String): Map[String, String] = {
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(s)
      import scala.jdk.CollectionConverters._
      root.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    }
    // checked before any Spark work: CleverTap takes at most 1000
    // records per POST (reference `operators/clevertap_user_profile.py:29`)
    val batchSize = m.get("batch_size").map(_.toInt).getOrElse(1000)
    require(batchSize >= 1 && batchSize <= 1000,
      s"batch_size must be between 1 and 1000, got $batchSize")
    UserProfileJob.Conf(
      jobName = m("job_name"),
      changelogPath = m("changelog_path"),
      bookmarkPath = m("bookmark_path"),
      keyCol = m("key_col"),
      tsCol = m("ts_col"),
      tiebreakCol = m("tiebreak_col"),
      platform = m("platform"),
      mappingPath = m("mapping_path"),
      typeMap = m.get("type_map_json").map(json2map).getOrElse(Map.empty),
      swapKeyMap = m.get("swap_key_json").map(json2map).getOrElse(Map.empty),
      batchSize = batchSize,
      sinkResultsPath = m.get("sink_results_path"))
  }

  /** Runs the job for a `--conf-file` command line and returns the
    * process exit code: 0 when every batch was delivered, 1 when any
    * failed (the bookmark then stays put, so the next run re-sends). */
  def run(args: Array[String]): Int = {
    val confPath = args.sliding(2).collectFirst {
      case Array("--conf-file", p) => p
    }.getOrElse(sys.error("usage: --conf-file <path>"))
    val m = graft.core.AppConfig.load(confPath)
    val conf = parseConf(m)
    // only stop a session this main itself created — under spark-submit
    // there is none yet; embedded callers (tests, notebooks) keep theirs
    val ownsSession = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession).isEmpty
    val spark = SparkSession.builder().appName(conf.jobName).getOrCreate()
    val client = new graft.sink.ClevertapClient(
      m("base_url"), m("account_id"), m("passcode"))
    val res = UserProfileJob.run(spark, conf, b => client.uploadProfiles(b))
    // counters the reference logs (TOTAL_RECORD_PROCESSED/SEND/INVALID)
    println(s"""{"valid":${res.validRows},"invalid":${res.invalidRows},""" +
      s""""batches":${res.batches},"ok":${res.okBatches}}""")
    if (ownsSession) spark.stop()
    if (res.okBatches < res.batches) 1 else 0
  }

  def main(args: Array[String]): Unit = {
    val code = run(args)
    if (code != 0) sys.exit(code)
  }
}

/** Netcore-shaped job twin (reference `hooks/netcore.py:18-119` never got
  * a production task): same incremental pipeline, egress = CSV rows packed
  * into ≤4.5 MB staged files + one bulk-upload notification per file. */
object NetcoreUserProfileJob {
  import graft.sink.{NetcoreClient, NetcoreSink}

  /** Driver-sized outcome; per-file detail lives at `resultsPath`. */
  case class Result(files: Long, okFiles: Long, records: Long, bytes: Long,
                    invalidRows: Long, resultsPath: String,
                    newBookmark: Option[Timestamp])

  def run(spark: SparkSession, conf: UserProfileJob.Conf,
          client: NetcoreClient, stagingPrefix: String): Result = {
    val (stats, nInvalid, newBookmark) = UserProfileJob.withPrepared(spark, conf) { p =>
      // RFC-4180 CSV line per record: fields with commas, quotes, or
      // newlines are quoted/escaped exactly like the reference's pandas
      // to_csv (hooks/netcore.py:83-90) — free-text attributes survive.
      Sanity.csvLine(p.renamed.columns.toSeq.map(c => col(c).cast("string")))
    } { (p, valid) =>
      val header = p.renamed.columns.map(Sanity.csvQuoteString).mkString(",")
      NetcoreSink.writeResults(
        NetcoreSink.stageAndNotify(valid, "payload", header, stagingPrefix,
          client, client.maxChunkBytes),
        conf.resultsPath)
    }(_.delivered)
    Result(stats.files, stats.okFiles, stats.records, stats.bytes,
      nInvalid, conf.resultsPath, newBookmark)
  }
}

/** Gamooga-shaped job twin (reference `hooks/gamooga.py:12-74`): same
  * incremental pipeline, egress = `{props, c, prop_types}` bulk-profile
  * POSTs, ≤1000 records per batch (the API contract in the docstring). */
object GamoogaUserProfileJob {
  import graft.sink.GamoogaClient

  def run(spark: SparkSession, conf: UserProfileJob.Conf,
          client: GamoogaClient, propTypesJson: String): UserProfileJob.Result = {
    val (stats, nInvalid, newBookmark) = UserProfileJob.withPrepared(spark, conf) { p =>
      // per-record props object {key: id, attr: value, ...}
      to_json(struct(col(p.keyOut) +:
        p.renamed.columns.filter(_ != p.keyOut).toSeq.map(col): _*))
    } { (_, valid) =>
      HttpSink.writeResults(
        HttpSink.sendBatches(valid, "payload", conf.batchSize,
          batch => client.uploadProfiles(batch.mkString("[", ",", "]"), propTypesJson)),
        conf.resultsPath)
    }(_.delivered)
    UserProfileJob.Result(stats.records, nInvalid, stats.batches,
      stats.okBatches, stats.firstError, conf.resultsPath, newBookmark)
  }
}
