package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnBridge

/** Skew utilities (SURVEY §7 "100 TB posture"). AQE's skew-join handling
  * covers sort-merge joins automatically; explicit salting remains the
  * tool when one side has pathological hot keys and the other side is
  * small enough to replicate `salts` times but too big to broadcast. */
object Skew {

  /** Salted join with a CALLER-SUPPLIED salt expression for the big
    * side. The salt should be uniform over [0, salts) and independent of
    * the join key (a hot key must spread across salts — deriving the
    * salt from the key would put it back on one reducer). Deriving it
    * deterministically from a row identity column, e.g.
    * `hash(col("row_id"))`, keeps re-runs (and task RETRIES — `rand`
    * re-draws per attempt, so a retried partition can change row→salt
    * routing mid-job) bit-identical, which is what lets the rewrite be
    * oracle-verified equal to the plain join.
    *
    * The expression is normalized internally with
    * `coalesce(pmod(_, salts), 0)`: `hash()` is signed, and a raw
    * negative / >= salts value — or a null salt (non-numeric column,
    * null input) — would land outside the replicated small side's
    * [0, salts) range and SILENTLY DROP the row from the inner join.
    * Misuse cannot cause row loss, only (at worst) a skewed salt
    * distribution (null-salt rows all land on salt 0). */
  def saltedJoinBy(big: DataFrame, small: DataFrame, key: String,
                   saltExpr: Column, salts: Int): DataFrame = {
    require(salts >= 1, s"salts must be >= 1; got $salts")
    val saltedBig = big.withColumn("__salt",
      coalesce(pmod(saltExpr.cast("long"), lit(salts.toLong)), lit(0L))
        .cast("int"))
    val saltedSmall = small.withColumn("__salt",
      explode(array((0 until salts).map(lit): _*)))
    saltedBig.join(saltedSmall, Seq(key, "__salt")).drop("__salt")
  }

  /** Skew-spread FULL-output `row_number` — exact global per-key rank
    * attached to EVERY row, with the hot key's sort spread over up to
    * `buckets` tasks.
    *
    * Why it exists: Spark 3.5+'s `InferWindowGroupLimit` already makes the
    * rank-then-`filter(rn <= k)` shape skew-proof (each map task forwards
    * at most k rows per key), so latest-per-key needs no salting there.
    * The regime that still dies on a hot key is a window whose output is
    * needed for every row — no filter, nothing to prune map-side; the
    * whole key's history sorts in ONE reducer (measured on the skew
    * fixture: 7.9 s hot vs 0.9 s uniform at sf0.1×10, one 7.2 s task).
    *
    * A hash salt cannot fix this form — a per-(key, random-salt) rank is
    * not a global rank. A RANGE bucket can: bucket rows by quantile
    * boundaries of the order column (bucket order aligned with sort
    * order), rank locally within (key, bucket), then add the count of all
    * rows in earlier buckets of the same key:
    *
    *   rn(row) = local_rank(key, bucket) + Σ counts(key, earlier buckets)
    *
    * Exact because bucket boundaries partition the order-column RANGE:
    * every row of an earlier bucket precedes every row of a later one, and
    * equal order values land in the same bucket (ties then resolved by
    * `tieBreakers` inside one bucket). Plan shape: one quantile pass
    * (driver holds `buckets-1` doubles), one shuffle on (keys, bucket) —
    * reused by both the local-rank window and the final offset join — plus
    * a counts aggregation that is skew-proof by partial aggregation and an
    * offsets window over ≤ `buckets` rows per key. Largest single-task
    * sort drops from |hot key| to ~|hot key|/buckets.
    *
    * The order is (rangeOn asc/desc) then `tieBreakers`; pass tie-breakers
    * forming a total order for deterministic output (same requirement as
    * any `row_number`). Quantile boundaries adapt to the data, so a 50 %
    * hot key — whose distribution dominates the global quantiles — splits
    * evenly. Nulls in `rangeOn` sort the way Spark windows sort them
    * (asc = nulls first, desc = nulls last) and land in the matching edge
    * bucket. Null values in `keys` form their own group (the offsets
    * join is null-safe), matching `Window.partitionBy` semantics.
    * `out` must not collide with an existing column.
    *
    * Degenerate edge (rows TIED on the range value): a constant order
    * column — or one with a dominant value, or a large/total null mass —
    * would put the tied rows in ONE bucket and silently lose the
    * mitigation. Tied spans are detected from the raw quantile array
    * (a value repeated ≥ max(2, buckets/8) times) and from the counted
    * null mass (≥ 1/buckets of rows), then sub-bucketed by quantiles of
    * the FIRST tie-breaker via one shared grouped-percentile job — a
    * composite (v, tb) boundary stays aligned with the lexicographic
    * sort order, so the rank stays exact (property-tested ≡ the plain
    * window on constant, all-null, and half-null order values). The
    * fallback only engages when the tie-breaker's cast-to-double order
    * provably matches its sort order (numeric/date/timestamp/boolean,
    * default null ordering); otherwise — string tie-breakers, custom
    * NULLS FIRST/LAST — it degrades to the previous single-bucket
    * behavior rather than risk mis-bucketing. Two further cast guards:
    * the range column itself must be a cast-monotone dtype (same list)
    * or bucketing is skipped entirely, and a detected "tied" span whose
    * rows hold >1 DISTINCT typed range value (a lossy-cast collision —
    * int64 beyond 2^53 collapsing to one double — not a true tie) is
    * left un-sub-bucketed, since ordering collided values by tie-breaker
    * would contradict the true (v, tb) order. */
  def saltedRowNumber(df: DataFrame, keys: Seq[String], rangeOn: Column,
                      descending: Boolean, tieBreakers: Seq[Column],
                      buckets: Int, out: String = "rn"): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1; got $buckets")
    val tmp = Seq("__srn_v", "__srn_bkt", "__srn_lrn", "__srn_cnt", "__srn_off",
      "__srn_span", "__srn_tb", "__srn_rv") ++
      (keys :+ "__srn_bkt").map(c => s"__srn_r_$c")
    val clash = (tmp :+ out).filter(df.columns.contains)
    require(clash.isEmpty,
      s"saltedRowNumber: column(s) ${clash.mkString(", ")} already exist in input")
    import org.apache.spark.sql.expressions.Window
    val vcol = rangeOn.cast("double")
    // Bucketing is only sound when cast-to-double is (weakly) MONOTONE
    // w.r.t. the column's sort order — collisions then merely share a
    // bucket, where the local sort keeps ranks exact. A string column
    // fails this ("10" sorts before "9" but casts to 10.0 > 9.0, and
    // non-numeric strings cast to null while sorting non-null), so a
    // non-monotone dtype degrades to the plain single-bucket window
    // rather than risk mis-bucketing.
    val rangeSafe = {
      import org.apache.spark.sql.types._
      df.select(rangeOn).schema.head.dataType match {
        case _: NumericType | DateType | TimestampType | TimestampNTZType |
             BooleanType => true
        case _ => false
      }
    }
    // Stats pass: the same single job the plain quantile pass always was,
    // now also counting rows/nulls (metadata-sized driver result) so the
    // degenerate-edge detection below needs no extra scan. accuracy 100 ≡
    // the previous approxQuantile relativeError 0.01.
    val (rawBounds, totalRows, nonNullRows) =
      if (buckets == 1 || !rangeSafe) (Array.empty[Double], 0L, 0L)
      else {
        val r = df.select(
            percentile_approx(vcol,
              typedLit((1 until buckets).map(_.toDouble / buckets)),
              lit(100)).as("q"),
            count(lit(1)).as("n"), count(vcol).as("nn"))
          .head()
        val bs = Option(r.getSeq[Any](0)).map(_.collect {
          case d: java.lang.Double => d.doubleValue }.toArray)
          .getOrElse(Array.empty[Double])
        (bs, r.getLong(1), r.getLong(2))
      }
    val bounds = rawBounds.distinct.sorted
    // bucket index = #boundaries strictly below v (ascending); null v →
    // 0 → edge bucket matching null-sort order
    val idxAsc = searchIdx(vcol, bounds)
    val idx = if (descending) lit(bounds.length) - idxAsc else idxAsc
    // ---- degenerate-edge fallback: tie-breaker composite bucket key ----
    // A tied span — rows sharing one exact order value, or sharing NULL —
    // sorts in ONE task no matter how the quantile boundaries fall: a
    // constant order column is the extreme (every boundary equal; one
    // bucket), a 50%-null column the sneaky variant (clean boundaries,
    // but the null mass piles into the edge bucket). Rows tied on the
    // range value are totally ordered by the tie-breakers, so a boundary
    // on the FIRST tie-breaker is a composite (v, tb) boundary — still
    // aligned with the window's lexicographic sort order, hence exact.
    // Detection: a boundary value repeated k times in the raw quantile
    // array ties ≥ ~(k-1)/buckets of the rows (threshold ≥ max(2, b/8):
    // sub-bucketing below ~an eighth of the data isn't worth the pass);
    // the null span triggers on the counted null mass directly. All
    // detected spans share ONE grouped percentile job; the normal path
    // (no spans) adds nothing.
    // The fallback only fires when the first tie-breaker's cast-to-double
    // order provably agrees with its sort order (numeric/date/timestamp/
    // boolean) and its null ordering is the direction default — e.g. a
    // STRING tie-breaker sorts "10" < "9" lexicographically but casts to
    // 10.0 > 9.0, which would mis-bucket, so it degrades to the plain
    // single-bucket behavior instead.
    val repeatThreshold = math.max(2, buckets / 8)
    val fatValues: Seq[Double] = rawBounds.groupBy(identity).toSeq.sortBy(_._1)
      .collect { case (v, arr) if arr.length >= repeatThreshold => v }
    val nullRows = totalRows - nonNullRows
    val nullSpan = buckets > 1 && nullRows > 0 &&
      (nullRows >= totalRows / buckets || nonNullRows == 0)
    val tbSafe = tieBreakers.nonEmpty && {
      val (tbCol, _, defaultNulls) = sortChildOf(tieBreakers.head)
      import org.apache.spark.sql.types._
      defaultNulls && (df.select(tbCol).schema.head.dataType match {
        case _: NumericType | DateType | TimestampType | TimestampNTZType |
             BooleanType => true
        case _ => false
      })
    }
    val bkt: Column =
      if ((fatValues.isEmpty && !nullSpan) || !tbSafe) idx
      else {
        val (tbCol, tbDesc, _) = sortChildOf(tieBreakers.head)
        val tbv = tbCol.cast("double")
        // every span gets the full sub-boundary grid (finer than its
        // mass strictly needs is harmless: minor stays < buckets)
        val fracs = (1 to (buckets - 1)).map(_.toDouble / buckets)
        val spanPreds: Seq[(Boolean, Column)] =
          fatValues.map(v => (false, vcol === lit(v))) ++
            (if (nullSpan) Seq((true, vcol.isNull)) else Nil)
        val spanIdx = spanPreds.zipWithIndex
          .foldLeft(lit(null).cast("int")) { case (acc, ((_, p), i)) =>
            when(p, lit(i)).otherwise(acc)
          }
        // ONE grouped percentile job covering every span (driver result:
        // ≤ buckets rows × buckets-1 doubles). The job also counts the
        // DISTINCT TYPED range values inside each span: membership is
        // tested on the double cast (vcol === v), which for a lossy cast
        // (int64 beyond 2^53, wide decimals) can lump several distinct
        // typed values into one "span" — rows the sort orders by (v, tb)
        // but the tb sub-bucketing would interleave. A span whose typed
        // distinct count > 1 is therefore a CAST COLLISION, not a tie,
        // and is excluded below (its rows keep the pre-fallback behavior:
        // one sub-bucket per major, local sort exact). A genuinely tied
        // span aggregates to distinct count 1 map-side, so the check
        // costs nothing on the path it protects.
        val subBounds: Map[Int, (Array[Double], Long)] =
          df.select(spanIdx.as("__srn_span"), tbv.as("__srn_tb"),
              rangeOn.as("__srn_rv"))
            .filter(col("__srn_span").isNotNull)
            .groupBy("__srn_span")
            .agg(percentile_approx(col("__srn_tb"), typedLit(fracs), lit(100)).as("q"),
              count_distinct(col("__srn_rv")).as("nd"))
            .collect()
            .map(r => r.getInt(0) -> (Option(r.getSeq[Any](1))
              .map(_.collect { case d: java.lang.Double => d.doubleValue }
                .toArray.distinct.sorted)
              .getOrElse(Array.empty[Double]), r.getLong(2)))
            .toMap
        // Default minor for rows NOT in a tied span: a fat value's rows
        // are the LAST of their major bucket when the major order is
        // ascending (v = c is the top of its (prev, c] segment) but the
        // FIRST when descending — so same-major non-span rows sit at
        // minor 0 (asc) or the maximum (desc) to keep bucket order
        // aligned with the sort order. Sharing the edge sub-bucket is
        // safe: equal buckets only defer to the local sort.
        val minorDefault = if (descending) lit(buckets - 1) else lit(0)
        val bktFallback = spanPreds.zipWithIndex
          .foldLeft(idx * lit(buckets) + minorDefault) {
            case (acc, ((isNull, p), i))
                // cast-collision span (several typed values under one
                // double): sub-bucketing by tb would contradict the true
                // (v, tb) order — leave its rows on the default path.
                // The null span's distinct count is 0 (countDistinct
                // skips nulls) and is always a true tie.
                if subBounds.get(i).exists(_._2 > 1L) && !isNull =>
              acc
            case (acc, ((isNull, p), i)) =>
              val sb = subBounds.get(i).map(_._1).getOrElse(Array.empty[Double])
              val subAsc = searchIdx(tbv, sb)
              val subOrd = if (tbDesc) lit(sb.length) - subAsc else subAsc
              // the null span needs its OWN major: nulls sort before
              // (asc) / after (desc) every non-null value, but share the
              // edge idx with the lowest/highest non-null segment — an
              // overridden major strictly outside [0, len]·buckets keeps
              // them separated while their minors spread the sort
              val major =
                if (isNull)
                  if (descending) lit((bounds.length + 1) * buckets)
                  else lit(-buckets)
                else idx * lit(buckets)
              when(p, major + subOrd).otherwise(acc)
          }
        // minor ≤ buckets-1 < buckets, so major·buckets + minor preserves
        // lexicographic (major, minor) order in a single int
        bktFallback
      }
    val ord = (if (descending) rangeOn.desc else rangeOn.asc) +: tieBreakers
    val withB = df.withColumn("__srn_bkt", bkt)
    val keyCols = keys.map(col)
    val pb = keyCols :+ col("__srn_bkt")
    val w1 = Window.partitionBy(pb: _*).orderBy(ord: _*)
    // ONE pass over ONE exchange (r20): the bucket count rides the same
    // (keys, bucket) window partition as the local rank — an unbounded
    // count over the partition the rank already sorted. The per-bucket
    // count relation is then the partition's LAST row (local rank =
    // count), a filter over the window output, NOT a second groupBy over
    // `df`: the previous form referenced the un-materialized input twice
    // (window pass + counts aggregation), re-executing the caller's whole
    // upstream pipeline per reference (RFM's fact-table aggregation, the
    // experiment ranks) — both branches now hang off the one hash
    // exchange, which ReuseExchange/AQE stage reuse dedupes, so the
    // upstream executes once.
    val local = withB.withColumn("__srn_lrn", row_number().over(w1))
      .withColumn("__srn_cnt",
        count(lit(1)).over(Window.partitionBy(pb: _*)))
    val counts = local.filter(col("__srn_lrn") === col("__srn_cnt"))
      .select(pb :+ col("__srn_cnt"): _*)
    val wOff = Window.partitionBy(keyCols: _*).orderBy(col("__srn_bkt").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = counts
      .withColumn("__srn_off", coalesce(sum("__srn_cnt").over(wOff), lit(0L)))
      .drop("__srn_cnt")
    // null-safe join: windows/groupBy treat a null key as its own group,
    // so the offsets join must too — a plain USING join would drop every
    // null-key row (null = null is null), breaking the "rank attached to
    // EVERY row" contract for nullable keys
    val joinCols = keys :+ "__srn_bkt"
    val offsR = joinCols.foldLeft(offs)((d, c) =>
      d.withColumnRenamed(c, s"__srn_r_$c"))
    val cond = joinCols.map(c => local(c) <=> offsR(s"__srn_r_$c")).reduce(_ && _)
    local.join(offsR, cond)
      .withColumn(out,
        (col("__srn_lrn").cast("long") + col("__srn_off")).cast("int"))
      .select((df.columns.map(col) :+ col(out)).toIndexedSeq: _*)
  }

  /** #boundaries strictly below v (null v → 0), as a BALANCED
    * binary-search when-tree — depth ⌈log₂ b⌉ comparisons per row. The
    * equivalent linear fold of b chained `when`s measurably fell out of
    * efficient codegen at b=64 (topKWithOffset tuning, SCALE.md
    * pagination notes: ~3.7 s/pass on 8M rows vs near-scan cost for
    * the tree). `bounds` must be distinct and sorted ascending. */
  private[graft] def searchIdx(v: Column, bounds: Array[Double]): Column = {
    def tree(lo: Int, hi: Int): Column =
      if (lo >= hi) lit(lo)
      else {
        val mid = (lo + hi) / 2
        when(v > lit(bounds(mid)), tree(mid + 1, hi)).otherwise(tree(lo, mid))
      }
    if (bounds.isEmpty) lit(0)
    else when(v.isNull, lit(0)).otherwise(tree(0, bounds.length))
  }

  /** A sort column's underlying value column + direction + whether its
    * null ordering is the direction default (ColumnNode unwrap via the
    * bridge; a bare Column defaults to ascending/nulls-first, matching
    * `orderBy` semantics). */
  private def sortChildOf(c: Column): (Column, Boolean, Boolean) =
    ColumnBridge.sortOrder(c)

  /** Hot-key diagnosis: per-key counts above a threshold — run on a
    * sample before choosing between AQE, salting, or broadcast. */
  def hotKeys(df: DataFrame, key: String, minCount: Long): DataFrame =
    df.groupBy(col(key)).agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
      .orderBy(col("n").desc)
}
