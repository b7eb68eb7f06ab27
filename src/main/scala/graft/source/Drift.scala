package graft.source

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Schema-drift-tolerant ingestion (SURVEY §1.3 — the reference's
  * profile table is wide & EVOLVING: columns come and go, which is
  * exactly why `tasks/user_profile/clevertap.py:56-58` selects
  * attributes at runtime from a mapping table instead of a frozen
  * schema). At 100 TB drifting producers are the common case, not the
  * edge: a changelog whose batches carry different schemas must union
  * by name with missing-as-null — and report the drift — instead of
  * failing the nightly job or, worse, silently dropping the new
  * column.
  *
  * Everything here is METADATA-scale: schemas come from parquet
  * footers (never a data scan), conforming is a per-batch projection
  * (narrow, codegen'd casts), and the union is a plain multi-scan
  * union whose per-batch filters still push down into each scan.
  */
object SchemaDrift {

  /** Widen two types to the narrowest type that holds both without
    * data loss — the drifting-producer lattice:
    *
    *   integrals  byte < short < int < long   (then decimal if mixed
    *   with one), fractionals float < double, integral+fractional →
    *   double, decimal ∨ decimal → decimal(max-int-digits +
    *   max-scale, capped 38), date ∨ timestamp → timestamp, and any
    *   other disagreement → string (the universal carrier: a type
    *   FLIP — int column re-born as free text — must not lose the
    *   old rows OR the new ones; the report flags it for a human).
    * NullType (an all-null batch column) defers to the other side. */
  private val integralRank: Map[DataType, Int] =
    Map(ByteType -> 1, ShortType -> 2, IntegerType -> 3, LongType -> 4)
  private def isIntegral(t: DataType) = integralRank.contains(t)
  private def isFloating(t: DataType) = t == FloatType || t == DoubleType

  def widen(a: DataType, b: DataType): DataType = (a, b) match {
    case (x, y) if x == y => x
    case (NullType, y)    => y
    case (x, NullType)    => x
    case (x, y) if isIntegral(x) && isIntegral(y) =>
      if (integralRank(x) >= integralRank(y)) x else y
    case (FloatType, DoubleType) | (DoubleType, FloatType) => DoubleType
    // decimal ∨ decimal widens losslessly; an integral mixed with a
    // decimal stays exact too (a long needs 20 integer digits). When
    // the lossless union needs more than 38 digits (e.g. decimal(38,0)
    // ∨ decimal(30,25)), NO decimal can hold both sides — capping the
    // precision would make conform's cast silently null overflowing
    // values, so such pairs fall to the StringType universal carrier
    // like every other lossy disagreement (the report flags it).
    case (x: DecimalType, y: DecimalType) =>
      boundedDecimal(
        math.max(x.precision - x.scale, y.precision - y.scale),
        math.max(x.scale, y.scale))
    case (x, d: DecimalType) if isIntegral(x) =>
      boundedDecimal(math.max(d.precision - d.scale, 20), d.scale)
    case (d: DecimalType, y) if isIntegral(y) =>
      boundedDecimal(math.max(d.precision - d.scale, 20), d.scale)
    // a producer mixing integral and float/double history has chosen
    // floating semantics — double (the report flags it type_changed)
    case (x, y) if isIntegral(x) && isFloating(y) => DoubleType
    case (x, y) if isFloating(x) && isIntegral(y) => DoubleType
    case (DateType, TimestampType) | (TimestampType, DateType) => TimestampType
    case _ => StringType
  }

  /** A decimal wide enough for `intDigits` + `scale` — or the string
    * carrier when that exceeds decimal's 38-digit ceiling (lossless or
    * nothing; see the decimal cases in [[widen]]). */
  private def boundedDecimal(intDigits: Int, scale: Int): DataType =
    if (intDigits + scale <= 38) DecimalType(intDigits + scale, scale)
    else StringType

  /** The evolved target schema over a batch sequence: first-seen
    * column order (new columns append in arrival order — stable,
    * reader-friendly), types widened across every occurrence.
    * Name resolution is case-insensitive (Spark's default analyzer
    * behavior); the first-seen spelling wins. */
  def evolvedSchema(schemas: Seq[StructType]): StructType = {
    require(schemas.nonEmpty, "evolvedSchema needs at least one batch schema")
    val order = collection.mutable.LinkedHashMap.empty[String, StructField]
    schemas.foreach(_.fields.foreach { f =>
      val key = f.name.toLowerCase
      order.get(key) match {
        case None => order(key) = f
        case Some(prev) => order(key) =
          StructField(prev.name, widen(prev.dataType, f.dataType),
            nullable = true)
      }
    })
    // every field nullable: any column can be absent in some batch
    StructType(order.values.map(f => f.copy(nullable = true)).toArray)
  }

  /** Conform one batch to the target schema: present columns cast to
    * the widened type, missing columns added as typed nulls, column
    * order normalized. Pure projection — no shuffle, stays inside
    * whole-stage codegen, and never blocks pushdown of downstream
    * filters on the batch's own columns. */
  def conform(df: DataFrame, target: StructType): DataFrame = {
    val present = df.schema.fields.map(f => f.name.toLowerCase -> f.name).toMap
    df.select(target.fields.map { f =>
      present.get(f.name.toLowerCase) match {
        case Some(orig) => col(s"`$orig`").cast(f.dataType).as(f.name)
        case None       => lit(null).cast(f.dataType).as(f.name)
      }
    }.toIndexedSeq: _*)
  }

  /** Union mixed-schema batches by name, missing-as-null, types
    * widened — the drift-tolerant read. */
  def unionEvolved(batches: Seq[DataFrame]): DataFrame = {
    require(batches.nonEmpty, "unionEvolved needs at least one batch")
    val target = evolvedSchema(batches.map(_.schema))
    batches.map(conform(_, target)).reduce(_.union(_))
  }

  /** One drift observation: what changed for `column` between batch
    * `batchIdx - 1` and batch `batchIdx`. */
  case class DriftChange(batchIdx: Int, column: String, change: String,
                         fromType: String, toType: String)

  /** Per-batch drift report — the snapshotDiff discipline applied to
    * schemas: each batch vs its predecessor, added / removed /
    * type_changed columns. Driver-side over StructTypes (footer
    * metadata); batch 0 is the baseline and reports nothing. */
  def driftChanges(schemas: Seq[StructType]): Seq[DriftChange] =
    schemas.sliding(2).zipWithIndex.flatMap {
      case (Seq(prev, cur), i) =>
        val idx = i + 1
        val p = prev.fields.map(f => f.name.toLowerCase -> f).toMap
        val c = cur.fields.map(f => f.name.toLowerCase -> f).toMap
        val added = cur.fields.filterNot(f => p.contains(f.name.toLowerCase))
          .map(f => DriftChange(idx, f.name, "added", "", f.dataType.simpleString))
        val removed = prev.fields.filterNot(f => c.contains(f.name.toLowerCase))
          .map(f => DriftChange(idx, f.name, "removed", f.dataType.simpleString, ""))
        val changed = cur.fields.flatMap { f =>
          p.get(f.name.toLowerCase).collect {
            case pf if pf.dataType != f.dataType =>
              DriftChange(idx, f.name, "type_changed",
                pf.dataType.simpleString, f.dataType.simpleString)
          }
        }
        (added ++ removed ++ changed).sortBy(d => (d.change, d.column))
      case _ => Seq.empty // single batch: nothing to diff
    }.toSeq

  /** The report as a DataFrame (for persisting next to the unioned
    * output — the audit artifact a schema-registry-less pipeline
    * keeps). */
  def driftReport(spark: SparkSession, schemas: Seq[StructType]): DataFrame = {
    import spark.implicits._
    driftChanges(schemas)
      .toDF("batch_idx", "column", "change", "from_type", "to_type")
  }
}

/** [[ChangeFeedSource]] over a changelog whose batches may DRIFT: the
  * root holds one sub-directory per batch (lexicographic name order =
  * batch order — the `batch=000N` convention); each batch is parquet
  * with its own schema. `since` unions all batches by name
  * (missing-as-null, widened types) and applies the bookmark filter;
  * `batchSchemas` feeds the per-batch drift audit
  * ([[SchemaDrift.driftReport]]). Batch schemas are read from
  * parquet footers only — listing + footers is driver metadata work,
  * the data plan is a union of per-batch scans with pushdown intact. */
class DriftTolerantChangelogSource(spark: SparkSession, rootPath: String,
                                   tsCol: String = "_commit_timestamp",
                                   requiredCols: Seq[String] = Nil)
    extends ChangeFeedSource {
  private val fsOps = new FsOps(spark)

  /** Batch directories in batch order. A root with no sub-directories
    * is a single-batch changelog (the non-drifting common case). */
  def batchPaths: Seq[String] = {
    val subs = fsOps.listPrefixes(rootPath.stripSuffix("/")).sorted
    if (subs.nonEmpty) subs else Seq(rootPath)
  }

  private lazy val batches: Seq[DataFrame] =
    batchPaths.map(spark.read.parquet(_))

  def batchSchemas: Seq[StructType] = batches.map(_.schema)

  /** A batch that DROPPED a filter-bearing column would have its rows
    * null-filled and then silently excluded by the downstream
    * predicate — the exact silent-loss failure mode this source exists
    * to prevent. Fail loudly instead: a changelog batch without its
    * commit timestamps / change types is malformed, not drifted. */
  private def requireInEveryBatch(c: String, why: String): Unit = {
    val missing = batchPaths.zip(batchSchemas).collect {
      case (p, s) if !s.fieldNames.exists(_.equalsIgnoreCase(c)) => p
    }
    require(missing.isEmpty,
      s"changelog batches lack the '$c' column ($why): " +
        missing.mkString(", "))
  }

  def since(bookmark: Option[Timestamp]): DataFrame = {
    // columns the caller filters on downstream (e.g. `_change_type`
    // isin(...)) must exist in EVERY batch, bookmark or not — a batch
    // missing one would have all its rows null-filled then dropped
    requiredCols.foreach(requireInEveryBatch(_,
      "their null-filled rows would silently fail every downstream filter"))
    val unioned = SchemaDrift.unionEvolved(batches)
    bookmark match {
      case Some(ts) =>
        requireInEveryBatch(tsCol,
          "their rows would silently miss every bookmark read")
        unioned.filter(col(tsCol) > lit(ts))
      case None => unioned
    }
  }
}

/** Malformed-record QUARANTINE ingress (the PERMISSIVE /
  * `_corrupt_record` discipline): the reference's CSV ingress is
  * pandas-inferred (`operators/clevertap_user_profile.py:91`) and
  * simply dies — or worse, silently coerces — on malformed rows. At
  * 100 TB malformed rows are guaranteed; they must land in a
  * quarantine table with counts riding the SINGLE egress action (the
  * R21 `observe` idiom), never be silently dropped, and never fail
  * the batch. */
object QuarantinedRead {

  /** Split parse result. `clean` carries the declared schema;
    * `quarantine` carries the raw malformed line in `corruptCol`
    * alongside whatever fields did parse. Both are views over ONE
    * parsed node — when an `Observation` was passed to the read, the
    * clean/quarantined counters ride the FIRST action that executes
    * either side (the R21 idiom: the observe node sits above the
    * split, sees every parsed row once, and costs no second pass).
    *
    * COUNTING: use the observation counters riding a DATA-reading
    * action (the R21 egress shape — a write, a collect, an aggregate
    * over data columns). Any plan whose referenced columns prune down
    * to the corrupt column alone — including a bare `count()` on
    * either split, with or without the observation — is rejected by
    * Spark by design (corrupt-ness is only defined while the data
    * columns are being parsed:
    * UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN). */
  case class Quarantined(clean: DataFrame, quarantine: DataFrame,
                         corruptCol: String)

  private def split(raw: DataFrame, corruptCol: String,
                    obs: Option[org.apache.spark.sql.Observation]): Quarantined = {
    // ANTI-PRUNING GUARD (load-bearing): the CSV/JSON parsers only
    // convert the columns a query references (column pruning), and a
    // record is only marked corrupt if a REQUIRED field fails — so a
    // downstream aggregate that doesn't touch, say, the int column
    // with the untypeable token would see its malformed rows parse
    // "clean" and the quarantine side come back EMPTY. This
    // tautological filter (length of a non-null concat is always
    // ≥ 0, but the optimizer cannot prove it) references every data
    // column, forcing the full-width parse that makes corrupt-ness
    // well-defined regardless of what the consumer selects.
    val dataCols = raw.columns.filterNot(_ == corruptCol)
    val guarded = raw.filter(
      length(concat_ws("", dataCols.map(c => col(s"`$c`").cast("string"))
        .toIndexedSeq: _*)) >= 0)
    val parsed = obs.fold(guarded)(o => guarded.observe(o,
      sum(col(corruptCol).isNull.cast("long")).as("records_clean"),
      sum(col(corruptCol).isNotNull.cast("long")).as("records_quarantined")))
    // NOTE: both sides keep the full column list. Spark (≥2.3)
    // disallows raw-file queries whose referenced columns are ONLY
    // the internal corrupt column — selecting the data columns too
    // keeps both plans legal without a cache.
    Quarantined(
      clean = parsed.filter(col(corruptCol).isNull).drop(corruptCol),
      quarantine = parsed.filter(col(corruptCol).isNotNull),
      corruptCol = corruptCol)
  }

  /** A reader that parses PERMISSIVE against `schema` plus a nullable
    * string `corruptCol` holding each malformed record's raw text. */
  private def readPermissive(spark: SparkSession, schema: StructType,
                             corruptCol: String,
                             options: Map[String, String]): DataFrameReader =
    spark.read
      .options(options)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corruptCol)
      .schema(StructType(schema.fields :+
        StructField(corruptCol, StringType, nullable = true)))

  /** CSV with an EXPLICIT schema + PERMISSIVE parsing: rows that fail
    * to parse (wrong token count, untypeable field) land in
    * `quarantine` with the raw line preserved. Header handling is the
    * reference's read_csv default. */
  def csv(spark: SparkSession, path: String, schema: StructType,
          corruptCol: String = "_corrupt_record",
          options: Map[String, String] = Map("header" -> "true"),
          obs: Option[org.apache.spark.sql.Observation] = None): Quarantined = {
    split(readPermissive(spark, schema, corruptCol, options).csv(path),
      corruptCol, obs)
  }

  /** STREAMING twin of the quarantine contract (the continuous-ingest
    * form): a file-source JSON-lines stream parsed PERMISSIVE; each
    * micro-batch is split ONCE — clean rows land under `cleanPath`,
    * malformed rows (raw line preserved) under `quarantinePath`, each
    * side written into a `batch_id=<id>` partition directory with
    * mode=overwrite. Malformed producers can never fail the stream or
    * silently lose rows; the quarantine table is the replayable audit.
    * Exactly-once across restarts is GENUINE, not dedup-assisted: when
    * foreachBatch re-executes a batch id on recovery (a crash between
    * the two writes, or between the writes and the checkpoint commit),
    * the replay overwrites exactly its own partition on BOTH sides —
    * idempotent, no duplicate clean or quarantined rows, no downstream
    * dedup required. Readers of either root see `batch_id` as a
    * discovered partition column.
    * Schema DRIFT in a stream is handled upstream by the batch-dir
    * convention ([[DriftTolerantChangelogSource]]) — a running stream
    * has a fixed parse schema by construction, so a drifted producer
    * lands its new columns via a new batch directory, not mid-query.
    * Returns the started query; callers own awaitTermination. */
  def jsonStream(spark: SparkSession, srcDir: String, schema: StructType,
                 cleanPath: String, quarantinePath: String,
                 checkpointDir: String,
                 corruptCol: String = "_corrupt_record")
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // Legacy flat-layout guard (ADVICE r18, closed r20): pre-batch_id
    // revisions of this sink wrote parquet files directly under the two
    // roots. Mixing those flat files with batch_id=<id> partition
    // directories breaks both partition discovery (conflicting layouts)
    // and replay idempotency (a replayed batch can no longer overwrite
    // "its own" rows). Detect the stale layout at START — one driver
    // listing per root, never per batch — and fail with the migration:
    // move the flat files into a synthetic batch_id=<n> directory below
    // the smallest batch id the checkpoint will replay (or re-ingest).
    locally {
      val fsOps = new FsOps(spark)
      Seq(cleanPath, quarantinePath).foreach { root =>
        val r = root.stripSuffix("/")
        // flat layouts wrote part-*.parquet FILES at the root; a foreign
        // non-partition directory is equally unreadable — check both
        val stale = (fsOps.listKeys(r) ++ fsOps.listPrefixes(r))
          .map(_.split('/').last)
          .filterNot(n => n.startsWith("batch_id=") || n.startsWith("_") ||
            n.startsWith("."))
        require(stale.isEmpty,
          s"jsonStream: '$root' holds entries outside batch_id= partition " +
            s"directories (${stale.take(3).mkString(", ")}…) — a legacy " +
            "flat-layout sink. Migrate by moving the flat files into a " +
            "synthetic batch_id=<n> directory below the checkpoint's next " +
            "batch id (or re-ingest from source); mixing layouts breaks " +
            "partition discovery and replay idempotency")
      }
    }
    val withCorrupt = StructType(schema.fields :+
      StructField(corruptCol, StringType, nullable = true))
    val parsed = spark.readStream
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corruptCol)
      .schema(withCorrupt)
      .json(srcDir)
    parsed.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val b = batch.persist()
        try {
          // overwrite THIS batch's partition only: a replayed batch id
          // rewrites its own directory — idempotent on both sides
          b.filter(col(corruptCol).isNull).drop(corruptCol)
            .write.mode("overwrite").parquet(s"$cleanPath/batch_id=$batchId")
          b.filter(col(corruptCol).isNotNull)
            .write.mode("overwrite")
            .parquet(s"$quarantinePath/batch_id=$batchId")
        } finally { b.unpersist(); () }
      }
      .start()
  }

  /** JSON lines, same contract. */
  def json(spark: SparkSession, path: String, schema: StructType,
           corruptCol: String = "_corrupt_record",
           options: Map[String, String] = Map.empty,
           obs: Option[org.apache.spark.sql.Observation] = None): Quarantined = {
    split(readPermissive(spark, schema, corruptCol, options).json(path),
      corruptCol, obs)
  }
}
