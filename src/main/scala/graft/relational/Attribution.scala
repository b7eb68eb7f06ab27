package graft.relational

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multi-touch attribution — the martech-core operator implied by the
  * reference's own domain (its one prod job feeds a marketing
  * activation platform, `conf/deployment.json:5-20`): given an
  * (entity, ts, type) event stream, assign each marketing touch to a
  * conversion and split the conversion's credit across its touches
  * under the four standard models (first-touch, last-touch, linear,
  * U-shaped/position).
  */
object Attribution {

  /** Per-(conversion, touch) attribution detail under all four models
    * in ONE pass.
    *
    * Assignment rule: each touch (type ∈ `touchTypes`) credits the
    * NEXT conversion (type == `conversionType`) of the same entity at
    * `convTs >= touchTs` — inclusive, so a same-instant conversion
    * claims the touch — provided `convTs - touchTs <=
    * lookbackSeconds`. Next-conversion assignment (not window-claims)
    * means no touch is ever double-credited across conversions.
    * Conversions whose lookback holds no touch produce no rows
    * (anti-join the output's conv ids to find them).
    *
    * Credit models, per conversion with n touches at position p
    * (1-based by touch time, id tiebreak):
    *   - first_touch:  1 at p==1, else 0
    *   - last_touch:   1 at p==n, else 0
    *   - linear:       1/n
    *   - u_shape:      40/20/40 — p==1 and p==n get 2/5 each, the
    *                   middle splits 1/5 evenly: 1/(5·(n−2));
    *                   degenerate n==1 → 1, n==2 → 1/2 each.
    *   - time_decay (when `halfLifeSeconds` is set): weight 2^(−s)
    *                   with s = (convTs − touchTs) div halfLife,
    *                   normalized per conversion. The weight is an
    *                   EXACT power of two built by integer shift (1.0
    *                   / (1L << s) — never libm pow), and the
    *                   normalizing sum of dyadics is exact because the
    *                   exponent spread is bounded: the constructor
    *                   requires lookback/halfLife ≤ 40 so every weight
    *                   sum and the final single division replay
    *                   bit-for-bit in any engine.
    * Every credit is a SINGLE IEEE division of exact values (or an
    * exact constant), so the doubles are engine-reproducible — no
    * libm, no round→decimal casts (the q145 gate lesson).
    *
    * Shape: tag-and-union + one entity-partitioned descending scan
    * window carrying `last(conv, ignoreNulls)` — the asofJoinForward
    * discipline: ONE shuffle on entity, state linear in rows, never
    * the per-entity touch×conversion pair explosion of a naive
    * join-then-rank. Then one conversion-partitioned window for
    * (position, n). At 100 TB both windows hash-partition on their
    * keys (entity, then conversion id) and AQE splits skew; only
    * (entity, ts, id, type) ride the shuffles — project payload off
    * before calling. Timestamps compare as exact integer micros
    * (unix_micros ≡ DuckDB epoch_us), never seconds-floored.
    */
  def attributeTouches(events: DataFrame, entityCol: String, tsCol: String,
                       typeCol: String, idCol: String,
                       conversionType: String, touchTypes: Seq[String],
                       lookbackSeconds: Long,
                       halfLifeSeconds: Option[Long] = None): DataFrame = {
    val assigned = claimScan(events, entityCol, tsCol, typeCol, idCol,
      conversionType, touchTypes, lookbackSeconds).filter(col("__claimed"))
    halfLifeSeconds.foreach { hl =>
      require(hl > 0, "halfLifeSeconds must be > 0")
      require(lookbackSeconds / hl <= 40L,
        s"time-decay needs lookback/halfLife <= 40 (exact dyadic sums); " +
          s"got ${lookbackSeconds / hl} half-life steps")
    }
    val perConv = Window.partitionBy(col("__conv.cid"))
    val ordered = perConv.orderBy(col("__us").asc, col("__id").asc)
    val full = perConv.orderBy(col("__us").asc, col("__id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val base = assigned
      .withColumn("position", row_number().over(ordered))
      .withColumn("n_touches", count(lit(1)).over(full))
    val withDecay = halfLifeSeconds match {
      case None => base
      case Some(hl) =>
        // age in whole half-lives s (<= 40 by the constructor require).
        // The normalized credit 2^(-s_i) / Σ 2^(-s_j) is computed as
        // the INTEGER ratio 2^(40-s_i) / Σ 2^(40-s_j): numerator and
        // denominator are exact longs (order-free integer sum), the
        // long→double casts are correctly rounded in every engine, and
        // the credit is one IEEE division — deterministic at any
        // touch count, unlike summing the dyadic doubles directly
        // (which would start rounding past ~4096 touches/conversion).
        val steps = call_function("div",
          col("__conv.cus") - col("__us"), lit(hl * 1000000L))
        base
          .withColumn("__iw",
            call_function("shiftleft", lit(1L), (lit(40) - steps).cast("int")))
          .withColumn("credit_decay", col("__iw").cast("double") /
            sum(col("__iw")).over(full).cast("double"))
    }
    attributionSelect(withDecay, entityCol, halfLifeSeconds.isDefined)
  }

  /** The claim scan the attribution family shares: the event rows of
    * `conversionType` or a touch type, projected to (`__ent`, `__us`,
    * `__id`, `__type`, `__kind`: 1 for a conversion), each tagged with
    * `__conv` = (cid, cus), its next conversion, and `__claimed`: a
    * touch whose next conversion lies within `lookbackSeconds`.
    *
    * Descending scan: at each row, the last non-null conversion seen so
    * far is the conversion with the SMALLEST (ts, id) at or after this
    * row — i.e. the next conversion. kind desc puts a same-instant
    * conversion before the touch (inclusive claim); id desc makes the
    * smaller-id conversion win an exact ts tie. */
  private[relational] def claimScan(events: DataFrame, entityCol: String,
                                    tsCol: String, typeCol: String, idCol: String,
                                    conversionType: String, touchTypes: Seq[String],
                                    lookbackSeconds: Long): DataFrame = {
    require(touchTypes.nonEmpty, "attribution needs at least one touch type")
    require(!touchTypes.contains(conversionType),
      s"conversion type '$conversionType' cannot also be a touch type")
    require(lookbackSeconds > 0, "lookbackSeconds must be > 0")
    val slim = events
      .filter(col(typeCol) === conversionType || col(typeCol).isin(touchTypes: _*))
      .select(col(entityCol).as("__ent"),
        unix_micros(col(tsCol)).as("__us"),
        col(idCol).as("__id"), col(typeCol).as("__type"),
        when(col(typeCol) === conversionType, 1).otherwise(0).as("__kind"))
    val scan = Window.partitionBy(col("__ent"))
      .orderBy(col("__us").desc, col("__kind").desc, col("__id").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    slim
      .withColumn("__conv", last(
        when(col("__kind") === 1,
          struct(col("__id").as("cid"), col("__us").as("cus"))),
        ignoreNulls = true).over(scan))
      .withColumn("__claimed", col("__kind") === 0 && col("__conv").isNotNull &&
        col("__conv.cus") - col("__us") <= lookbackSeconds * 1000000L)
  }

  private def attributionSelect(withDecay: DataFrame, entityCol: String,
                                hasDecay: Boolean): DataFrame = {
    val nD = col("n_touches").cast("double")
    val decayCols =
      if (hasDecay) Seq(col("credit_decay")) else Seq.empty
    withDecay
      .select(Seq(col("__ent").as(entityCol),
        col("__conv.cid").as("conv_id"),
        col("__id").as("touch_id"), col("__type").as("touch_type"),
        col("position"), col("n_touches"),
        when(col("position") === 1, 1.0d).otherwise(0.0d).as("credit_first"),
        when(col("position") === col("n_touches"), 1.0d).otherwise(0.0d)
          .as("credit_last"),
        (lit(1.0d) / nD).as("credit_linear"),
        when(col("n_touches") === 1, 1.0d)
          .when(col("n_touches") === 2, 0.5d)
          .when(col("position") === 1 || col("position") === col("n_touches"),
            lit(2.0d) / lit(5.0d))
          .otherwise(lit(1.0d) /
            ((col("n_touches") - 2L) * 5L).cast("double"))
          .as("credit_ushape")) ++ decayCols: _*)
  }

  /** Conversion-path report — "which touch sequences convert, and how
    * often": the ordered touch-type journey of every conversion from
    * [[attributeTouches]] output, rolled up to path frequencies. The
    * path string joins touch types in position order with `>` (the
    * conventional martech rendering, e.g. `view>view>click`), so it is
    * a pure function of the deterministic position order. `maxSteps`
    * caps the rendered journey at the FIRST n touches (long journeys
    * tail-collapse into one `…`-suffixed path) — path cardinality
    * stays bounded like topKWithOthers' report discipline.
    *
    * Shape: one groupBy conversion building the path (sorted struct
    * collect over ≤ maxSteps rows — the window filter prunes
    * map-side), one groupBy path counting — both partial-aggregating;
    * output is path-cardinality, metadata-sized. */
  def conversionPaths(attributed: DataFrame,
                      maxSteps: Int = 10): DataFrame = {
    require(maxSteps >= 1, s"maxSteps must be >= 1; got $maxSteps")
    val paths = attributed
      .filter(col("position") <= maxSteps)
      .groupBy(col("conv_id"))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("position"), col("touch_type")))),
          x => x.getField("touch_type")), ">").as("__path"),
        max(col("n_touches")).as("__n"))
      .select(col("conv_id"),
        when(col("__n") > maxSteps, concat(col("__path"), lit(">…")))
          .otherwise(col("__path")).as("path"))
    paths.groupBy(col("path"))
      .agg(count(lit(1)).as("n_conversions"))
  }
}
