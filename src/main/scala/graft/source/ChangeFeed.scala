package graft.source

import java.sql.Timestamp
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental change-feed reading (SURVEY.md §1.4, §2.1 R6).
  *
  * The reference reads a Delta Change Data Feed bookmarked by an
  * application-managed job-run table (`tasks/user_profile/clevertap.py:10-27`).
  * Without the Delta jar we standardize a *changelog table* convention: an
  * append-only table carrying `_change_type` / a commit-timestamp column;
  * the incremental read is a timestamp-range filter, which Catalyst pushes
  * into the parquet scan (partition pruning when the table is
  * date-partitioned — the 100 TB posture).
  */
trait ChangeFeedSource {
  /** All changes strictly after `bookmark` (None ⇒ full history, the
    * reference's startingVersion=0 path). */
  def since(bookmark: Option[Timestamp]): DataFrame
}

/** Changelog-table implementation over any path Spark can read. */
class ChangelogTableSource(spark: SparkSession, path: String,
                           tsCol: String = "_commit_timestamp")
    extends ChangeFeedSource {
  def since(bookmark: Option[Timestamp]): DataFrame = {
    val df = spark.read.parquet(path)
    bookmark match {
      case Some(ts) => df.filter(col(tsCol) > lit(ts))
      case None     => df
    }
  }
}

/** Delta Change Data Feed integration behind a RUNTIME probe — zero
  * compile-time dependency (the Delta jar is absent in this environment;
  * the probe keeps the code path honest instead of hypothetical).
  * `available` reflectively checks for delta-spark; when it is present,
  * `readChangeFeed` issues the real CDF read
  * (`format("delta").option("readChangeFeed", true)`), mirroring the
  * reference's `tasks/user_profile/clevertap.py:19-27`. */
object DeltaCdf {
  /** True iff delta-spark classes are loadable in this JVM. */
  def available: Boolean =
    try { Class.forName("io.delta.tables.DeltaTable"); true }
    catch { case _: Throwable => false }

  /** Real CDF read — call only when `available`. Bookmark None ⇒ full
    * history (startingVersion=0, the reference's first-run path). The
    * strict `> bookmark` filter is applied by the caller, so semantics
    * match ChangelogTableSource exactly regardless of Delta's
    * inclusive startingTimestamp version resolution. */
  private[source] def readChangeFeed(spark: SparkSession, path: String,
                                     bookmark: Option[Timestamp]): DataFrame = {
    val base = spark.read.format("delta").option("readChangeFeed", "true")
    bookmark match {
      case Some(ts) => base.option("startingTimestamp", ts.toString).load(path)
      case None     => base.option("startingVersion", "0").load(path)
    }
  }
}

/** ChangeFeedSource that upgrades itself to the real Delta CDF when the
  * jar is present and falls back to the changelog-table convention
  * otherwise. `probe` and `cdfReader` are injectable for tests (the
  * environment ships no Delta jar). */
class AutoChangeFeedSource(
    spark: SparkSession, path: String, tsCol: String = "_commit_timestamp",
    probe: () => Boolean = () => DeltaCdf.available,
    cdfReader: (SparkSession, String, Option[Timestamp]) => DataFrame =
      DeltaCdf.readChangeFeed)
    extends ChangeFeedSource {
  def since(bookmark: Option[Timestamp]): DataFrame =
    if (probe()) {
      val cdf = cdfReader(spark, path, bookmark)
      bookmark.fold(cdf)(ts => cdf.filter(col(tsCol) > lit(ts)))
    } else new ChangelogTableSource(spark, path, tsCol).since(bookmark)
}

/** Application-managed incremental bookmark, mirroring the reference's
  * `streaming_job_runs(query_name, last_job_run)` table. */
object Bookmarks {
  val table = "streaming_job_runs"

  private def fs(spark: SparkSession, path: String): FileSystem =
    FileSystem.get(new java.net.URI(path), spark.sparkContext.hadoopConfiguration)

  private def staging(bookmarkPath: String): String =
    bookmarkPath.stripSuffix("/") + "__staging"

  /** The directory holding the current bookmark table: `bookmarkPath`,
    * else a COMMITTED (`_SUCCESS`) staging copy — what a crash between
    * `upsert`'s delete and rename leaves — else None. */
  private def current(spark: SparkSession, bookmarkPath: String): Option[String] = {
    val tmp = staging(bookmarkPath)
    if (fs(spark, bookmarkPath).exists(new Path(bookmarkPath))) Some(bookmarkPath)
    else if (fs(spark, tmp).exists(new Path(tmp, "_SUCCESS"))) Some(tmp)
    else None
  }

  /** Look up the bookmark for a job; absent row ⇒ None (full scan). */
  def lookup(spark: SparkSession, bookmarkPath: String, jobName: String): Option[Timestamp] =
    lookupAll(spark, bookmarkPath).collectFirst { case (`jobName`, ts) => ts }

  /** Upsert the bookmark after a successful run (read-merge-write; the
    * table is metadata-sized). The new table is staged to a sibling path
    * and swapped in with delete+rename. A crash before the delete leaves
    * the OLD table in place; a crash between delete and rename leaves
    * only the committed staging copy, which `lookup` reads and the next
    * `upsert` first renames into place — so no job's bookmark is lost
    * and re-running the job re-sends, never skips. A plain overwrite
    * deletes first and a crash then loses every bookmark. Rename is
    * atomic on HDFS/file; on object stores prefer a transactional table
    * for this metadata. */
  def upsert(spark: SparkSession, bookmarkPath: String, jobName: String,
             ts: Timestamp): Unit = {
    import spark.implicits._
    val bfs = fs(spark, bookmarkPath)
    val (dst, tmp) = (new Path(bookmarkPath), staging(bookmarkPath))
    // finish an interrupted swap before the staging dir is overwritten
    if (current(spark, bookmarkPath).contains(tmp)) bfs.rename(new Path(tmp), dst)
    val updated = lookupAll(spark, bookmarkPath)
      .filter(_._1 != jobName) :+ (jobName, ts)
    updated.toDF("query_name", "last_job_run")
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    bfs.delete(dst, true)
    bfs.rename(new Path(tmp), dst)
  }

  /** Every (job, bookmark) row: the one reader of the table. It reads
    * with the schema `upsert` writes, so no footer-inference job runs. */
  private def lookupAll(spark: SparkSession, path: String): Seq[(String, Timestamp)] =
    current(spark, path).toSeq.flatMap { dir =>
      spark.read.schema("query_name STRING, last_job_run TIMESTAMP").parquet(dir)
        .collect() // metadata-sized read; legitimate collect (R5)
        .map(r => (r.getString(0), r.getTimestamp(1))).toSeq
    }
}
