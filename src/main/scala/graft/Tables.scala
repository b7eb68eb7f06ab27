package graft

import java.io.FileNotFoundException

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType}

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  * All queries take a scale-factor directory so the same code runs at
  * sf0.001 (smoke), sf0.01 (correctness) and sf0.1+ (bench) — and, with
  * an s3a:// or hdfs:// prefix, on a real cluster unchanged.
  *
  * Schema inference runs once per session and path. Inferring a parquet
  * schema reads a footer in a one-task Spark job; a session builds its
  * queries over the same ten unchanging tables hundreds of times, so the
  * first load of a path remembers the schema (and any reader option its
  * inference needed) and every later load of it passes that schema to the
  * reader, which then launches no job. The entry is keyed by the path's
  * modification time and length, from one driver-side `getFileStatus`: a
  * table rewritten in place is inferred again. Every load still returns a
  * fresh relation (fresh expression ids) over a fresh file listing. On a
  * store whose directories report no modification time, a directory table
  * rewritten in place keeps its old schema until the session ends.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    if (name == "events") normalizeTs(read(spark, path)(inferEvents(spark, path)))
    else read(spark, path)((spark.read.parquet(path), Map.empty))
  }

  /** A path's inferred schema, the reader options that decode it, and the
    * file status it was inferred from. */
  private[graft] final case class Known(mtime: Long, len: Long,
                                        schema: StructType, options: Map[String, String])

  /** Per session (weakly held, so a dropped session's entries go with
    * it): path → what its last inference found. */
  private[graft] val known =
    new java.util.WeakHashMap[SparkSession, TrieMap[String, Known]]()

  /** `path`'s relation: from the remembered schema when the file is
    * unchanged, else from `infer` (the relation and its reader options). */
  private def read(spark: SparkSession, path: String)(
      infer: => (DataFrame, Map[String, String])): DataFrame = {
    val p = new Path(path)
    val status =
      try Some(p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p))
      catch { case _: FileNotFoundException => None } // the read below raises Spark's own error
    status match {
      case None => infer._1
      case Some(st) =>
        val entries = known.synchronized(known.computeIfAbsent(spark, _ => TrieMap.empty[String, Known]))
        entries.get(path).filter(k => k.mtime == st.getModificationTime && k.len == st.getLen) match {
          case Some(k) => spark.read.options(k.options).schema(k.schema).parquet(path)
          case None =>
            val (df, options) = infer
            entries.put(path, Known(st.getModificationTime, st.getLen, df.schema, options))
            df
        }
    }
  }

  /** The testdata generator has shipped `events.ts` under several parquet
    * encodings over time — TIMESTAMP(NANOS) (rejected by Spark's reader
    * unless read as raw long), TIMESTAMP_NTZ micros, and adjusted-to-UTC
    * TIMESTAMP — so infer the schema actually present rather than assuming
    * one; `normalizeTs` then branches on it. Returns the relation and the
    * reader options it needs.
    */
  private def inferEvents(spark: SparkSession, path: String): (DataFrame, Map[String, String]) =
    try (spark.read.parquet(path), Map.empty)
    catch {
      // ONLY the TIMESTAMP(NANOS) schema-conversion failure gets the
      // nanosAsLong retry — a broad catch would mask unrelated errors
      // (missing path, corrupt footer) behind a pointless second read.
      // The legacy flag must NOT leak into the session (a later read of
      // a DIFFERENT table's genuine NANOS column would silently surface
      // raw longs), but schema inference reads it from the session
      // SQLConf while task-side footer conversion reads it from the
      // scan's hadoop conf built at ACTION time — so: set the conf just
      // for the eager inference read and restore it, and ALSO pass the
      // flag as a per-relation reader option, which merges on top of
      // the (restored) session confs into this scan's hadoop conf and
      // keeps later actions decoding correctly (Spark 4.1's vectorized
      // scan decodes the LongType column without it; the option covers a
      // reader that converts the footer again at action time). A
      // remembered schema skips inference, so later loads pass only the
      // option.
      case e: org.apache.spark.sql.AnalysisException
          if e.getMessage.contains("PARQUET_TYPE_ILLEGAL") ||
            e.getMessage.contains("Illegal Parquet type") =>
        val key = "spark.sql.legacy.parquet.nanosAsLong"
        val prev = spark.conf.getOption(key)
        spark.conf.set(key, "true")
        try (spark.read.option(key, "true").parquet(path), Map(key -> "true"))
        finally prev match {
          case Some(v) => spark.conf.set(key, v)
          case None => spark.conf.unset(key)
        }
    }

  /** All `events.ts` encodings normalize to session-TZ TimestampType
    * (the session TZ is UTC everywhere in this repo, so NTZ ≡ UTC instant
    * and the oracle's naive micros compare equal). */
  private def normalizeTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case LongType => // nanos-as-long: truncate to micros like DuckDB does
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
}
