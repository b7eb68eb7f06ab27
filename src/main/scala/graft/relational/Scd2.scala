package graft.relational

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Slowly-changing-dimension type-2 history — the natural completion of
  * the reference's change-feed story: its prod job keeps only the
  * newest row per key (`tasks/user_profile/clevertap.py:19-53`,
  * latest-per-key); a warehouse also needs the full validity-interval
  * history of every key's attribute changes.
  */
object Scd2 {

  private def attrStruct(attrCols: Seq[String]): Column =
    struct(attrCols.map(col): _*)

  /** Build an SCD2 history from a change log.
    *
    * Input: one row per observed change `(keyCols, tsCol, tiebreakCol,
    * attrCols…)`. Output: one row per VERSION —
    * `(keyCols, attrCols…, valid_from, valid_to, is_current, version)`
    * where `valid_to` is the next version's `valid_from` (null on the
    * open/current version) and `version` numbers 1..k per key in time
    * order. Consecutive changes with identical attributes (null-safe
    * struct compare) merge into one version — re-stating the same value
    * extends the interval instead of splitting it.
    *
    * Determinism: versions order by `(tsCol, tiebreakCol)`; the
    * tiebreak makes equal-timestamp changes a total order instead of a
    * nondeterministic lead() target.
    *
    * Shape: ONE window partition (the key) carries lag-collapse,
    * lead(valid_to), and version numbering — a single hash shuffle on
    * the key, state linear in rows. At 100 TB that shuffle is
    * AQE-splittable and only (key, ts, tiebreak, attrs) ride it —
    * project payload columns off before calling. Never a self-join:
    * the join-form "next change per change" is the quadratic trap this
    * window form exists to avoid. */
  def scd2Build(changes: DataFrame, keyCols: Seq[String], tsCol: String,
                tiebreakCol: String, attrCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty && attrCols.nonEmpty,
      "scd2Build needs key and attribute columns")
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol).asc, col(tiebreakCol).asc)
    val slim = changes.select(
      (keyCols ++ Seq(tsCol, tiebreakCol) ++ attrCols).map(col): _*)
    val kept = slim
      .withColumn("__prev", lag(attrStruct(attrCols), 1).over(w))
      .filter(!(attrStruct(attrCols) <=> col("__prev")))
      .drop("__prev")
    // second window on the COLLAPSED set: lead must skip dropped rows
    val w2 = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol).asc, col(tiebreakCol).asc)
    kept
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w2))
      .withColumn("is_current", col("valid_to").isNull)
      .withColumn("version", row_number().over(w2))
      .select((keyCols ++ attrCols ++
        Seq("valid_from", "valid_to", "is_current", "version")).map(col): _*)
  }

  /** Incrementally merge a batch of new changes into an existing SCD2
    * table — equivalent to rebuilding from the full change log
    * (`Round14Spec` proves the equivalence), but touching only each
    * key's CURRENT version plus the batch:
    * closed versions pass through untouched; each affected key's
    * current version is re-opened as a pseudo-change at its
    * `valid_from` and re-built together with the batch, so a batch
    * change that merely re-states the current attributes collapses
    * away exactly as it would have from scratch.
    *
    * Late data policy: a batch row at `ts <= ` its key's current
    * `valid_from` is DROPPED (it belongs to already-closed history; a
    * true bitemporal correction needs a from-scratch rebuild of that
    * key). Keys new to the batch build from version 1.
    *
    * Shape: one broadcast-able join of the batch against current
    * versions (per-key, not per-version), one scd2Build window over
    * current+batch rows, one per-key closed-count agg for the version
    * offset. The closed history — the bulk of the table at scale — is
    * never shuffled, which is the point of the incremental form. */
  def scd2Merge(existing: DataFrame, batch: DataFrame, keyCols: Seq[String],
                tsCol: String, tiebreakCol: String,
                attrCols: Seq[String]): DataFrame = {
    val cur = existing.filter(col("is_current"))
    val closed = existing.filter(!col("is_current"))
    val tiebreakType = batch.schema(tiebreakCol).dataType
    // stale-batch filter: per-key current valid_from, broadcast-sized
    // (one row per LIVE key of the batch's keyset after the join)
    val curFrom = cur.select(keyCols.map(col) :+
      col("valid_from").as("__cur_from"): _*)
    val fresh = batch.join(curFrom, keyCols, "left")
      .filter(col("__cur_from").isNull || col(tsCol) > col("__cur_from"))
      .select((keyCols ++ Seq(tsCol, tiebreakCol) ++ attrCols).map(col): _*)
    // current version re-opened as a pseudo-change; its tiebreak can
    // never matter (fresh rows are strictly later by the filter above)
    val pseudo = cur.select((keyCols.map(col) ++
      Seq(col("valid_from").as(tsCol),
        lit(null).cast(tiebreakType).as(tiebreakCol)) ++
      attrCols.map(col)): _*)
    val rebuilt = scd2Build(pseudo.unionByName(fresh), keyCols, tsCol,
      tiebreakCol, attrCols)
    val offsets = closed.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).cast("int").as("__n_closed"))
    val reversioned = rebuilt.join(offsets, keyCols, "left")
      .withColumn("version",
        col("version") + coalesce(col("__n_closed"), lit(0)))
      .drop("__n_closed")
    closed.select(reversioned.columns.map(col): _*)
      .unionByName(reversioned)
  }
}
