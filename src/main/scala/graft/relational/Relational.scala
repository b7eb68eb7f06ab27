package graft.relational

import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operators Spark lacks as built-ins, composed from existing
  * ops (preference (a) of the custom-operator ladder — no custom plan
  * nodes needed because the semantics ARE expressible).
  */
object Relational {

  /** Backward as-of join: for every left row, attach the single right row
    * with the greatest `(rightTs, tiebreak)` such that `rightTs <=
    * leftTs`, matching on `key`. Unmatched left rows keep null payloads
    * (left-outer semantics).
    *
    * Implementation: tag-and-union both sides, one window per key ordered
    * by (ts, side, tiebreak) carrying `last(payload, ignoreNulls)`, keep
    * left rows. ONE shuffle (the window partition) and state linear in
    * rows — never the per-key left×right pair explosion of the naive
    * join-then-rank form, which is the difference between feasible and
    * not when a hot key has 10⁶ rows on each side. Right rows sort
    * before left rows at equal timestamps, so "at or before" includes
    * ties; equal-timestamp right rows resolve by greatest `tiebreak`
    * (deterministic output).
    *
    * At 100 TB: the window shuffle hash-partitions on `key`; AQE splits
    * skewed partitions. The payload struct is the only width added to
    * the shuffle — project `payload` down before calling. */
  def asofJoinBackward(left: DataFrame, right: DataFrame, key: String,
                       leftTs: String, rightTs: String, tiebreak: String,
                       payload: Seq[String]): DataFrame =
    asofJoinImpl(left, right, key, leftTs, rightTs, tiebreak, payload,
      forward = false)

  /** Forward as-of join — the time mirror of asofJoinBackward: for every
    * left row, the single right row with the SMALLEST `(rightTs,
    * tiebreak)` such that `rightTs >= leftTs` (the "next event at or
    * after" shape: next purchase after a view, next reading after a
    * fault). Same single-shuffle union+window plan, scanning the key's
    * timeline in descending time; equal-timestamp right rows resolve to
    * the smallest `tiebreak`. */
  def asofJoinForward(left: DataFrame, right: DataFrame, key: String,
                      leftTs: String, rightTs: String, tiebreak: String,
                      payload: Seq[String]): DataFrame =
    asofJoinImpl(left, right, key, leftTs, rightTs, tiebreak, payload,
      forward = true)

  /** Nearest as-of join — the third variant beside backward (q52) and
    * forward (q71): for every left row, the right row minimizing the
    * absolute time distance to `leftTs`, searching BOTH directions.
    * An exact past/future distance tie resolves to the PAST candidate
    * (prefer known history); equal-timestamp candidates within a
    * direction resolve by `tiebreak` exactly as in the one-direction
    * forms. Distances compare as exact integer MICROSECONDS
    * (`unix_micros`), never floating seconds — at epoch magnitudes a
    * double's resolution (~0.5 µs) could flip a near-tie, and the
    * DuckDB oracle replays the same integer math (`epoch_us`).
    *
    * Plan shape: the same union as the directional forms, with BOTH
    * scans as windows over the SAME hash partitioning — two sorts, ONE
    * exchange; no pair explosion, no self-join. */
  def asofJoinNearest(left: DataFrame, right: DataFrame, key: String,
                      leftTs: String, rightTs: String, tiebreak: String,
                      payload: Seq[String]): DataFrame = {
    // carry the matched timestamp inside the payload struct (as micros)
    // so the final pick can measure both distances without a re-join
    val pStruct = struct(
      (unix_micros(col(rightTs).cast("timestamp")).as("__mus") +:
        payload.map(col)): _*)
    val rPayloadType = right.select(pStruct.as("__p")).schema("__p").dataType
    val lStruct = struct(left.columns.map(col).toIndexedSeq: _*)
    val lStructType = left.select(lStruct.as("__l")).schema("__l").dataType
    val l = left.select(col(key).as("__k"),
      col(leftTs).cast("timestamp").as("__ts"),
      lit(1).as("__side"), lit(0L).as("__tb"),
      lit(null).cast(rPayloadType).as("__p"), lStruct.as("__l"))
    val r = right.filter(col(rightTs).isNotNull)
      .select(col(key).as("__k"), col(rightTs).cast("timestamp").as("__ts"),
        lit(0).as("__side"), col(tiebreak).cast("long").as("__tb"),
        pStruct.as("__p"), lit(null).cast(lStructType).as("__l"))
    val unioned = r.unionByName(l)
    val wB = Window.partitionBy(col("__k"))
      .orderBy(col("__ts").asc_nulls_first, col("__side").asc, col("__tb").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wF = Window.partitionBy(col("__k"))
      .orderBy(col("__ts").desc_nulls_first, col("__side").asc, col("__tb").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = unioned
      .withColumn("__mb", last(col("__p"), ignoreNulls = true).over(wB))
      .withColumn("__mf", last(col("__p"), ignoreNulls = true).over(wF))
      .filter(col("__side") === 1)
    val us = unix_micros(col("__ts"))
    val db = us - col("__mb.__mus")
    val df = col("__mf.__mus") - us
    val pick = when(col("__mb").isNotNull &&
        (col("__mf").isNull || db <= df), col("__mb"))
      .otherwise(col("__mf"))
    val leftOut = left.columns.map(c => col(s"__l.$c").as(c))
    val payloadOut = payload.map(p => col(s"__m.$p").as(s"matched_$p"))
    matched.withColumn("__m", pick)
      .select((leftOut ++ payloadOut).toIndexedSeq: _*)
  }

  private def asofJoinImpl(left: DataFrame, right: DataFrame, key: String,
                           leftTs: String, rightTs: String, tiebreak: String,
                           payload: Seq[String], forward: Boolean): DataFrame = {
    val pStruct = struct(payload.map(col): _*)
    val rPayloadType = right.select(pStruct.as("__p")).schema("__p").dataType
    val lStruct = struct(left.columns.map(col).toIndexedSeq: _*)
    val lStructType = left.select(lStruct.as("__l")).schema("__l").dataType
    val l = left.select(col(key).as("__k"), col(leftTs).as("__ts"),
      lit(1).as("__side"), lit(0L).as("__tb"),
      lit(null).cast(rPayloadType).as("__p"), lStruct.as("__l"))
    // null right timestamps can never satisfy the inequality — drop them
    // here, or they'd sort first in scan order and match spuriously
    val r = right.filter(col(rightTs).isNotNull)
      .select(col(key).as("__k"), col(rightTs).as("__ts"),
        lit(0).as("__side"), col(tiebreak).cast("long").as("__tb"),
        pStruct.as("__p"), lit(null).cast(lStructType).as("__l"))
    val unioned = r.unionByName(l)
    // scan order: time ascending (backward) or descending (forward), with
    // right rows before left at EQUAL timestamps (ties are matches in
    // both directions), null left timestamps first (they can match
    // nothing). Within equal-ts right rows, the tiebreak winner must be
    // scanned LAST so `last()` selects it: greatest for backward,
    // smallest for forward.
    val order =
      if (forward) Seq(col("__ts").desc_nulls_first, col("__side").asc, col("__tb").desc)
      else Seq(col("__ts").asc_nulls_first, col("__side").asc, col("__tb").asc)
    val w = Window.partitionBy(col("__k"))
      .orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = unioned
      .withColumn("__m", last(col("__p"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
    val leftOut = left.columns.map(c => col(s"__l.$c").as(c))
    val payloadOut = payload.map(p => col(s"__m.$p").as(s"matched_$p"))
    matched.select((leftOut ++ payloadOut).toIndexedSeq: _*)
  }

  /** Bloom pre-filter for semi joins: build a bounded Bloom sketch over
    * the key side (`bloom_filter_agg`, one aggregation), ship it via a
    * 1-row broadcast relation (NEVER a plan literal — a 1% / 10⁶-item
    * sketch is ~1.2 MB, and plan compare/hash walks literals), and drop
    * big-side rows that cannot match BEFORE any shuffle. No false
    * negatives (both sides hash with xxhash64); false-positive residue
    * bounded by `fpp`. The 100 TB win is shuffle volume: with a 0.1%-hit
    * semi join, ~99.9% of the big side never leaves its input partition. */
  def bloomPrefilter(big: DataFrame, keys: DataFrame, bigKey: String,
                     keysKey: String, expectedItems: Long = 1000000L,
                     fpp: Double = 0.01): DataFrame = {
    import graft.functions.VectorFunctions
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(expectedItems, fpp)
    val bloomDf = keys.agg(VectorFunctions
      .bloomAgg(xxhash64(col(keysKey)), expectedItems, numBits)
      .as("__graft_bloom"))
    big.crossJoin(broadcast(bloomDf))
      .filter(VectorFunctions.bloomMightContain(
        col("__graft_bloom"), xxhash64(col(bigKey))))
      .drop("__graft_bloom")
  }

  /** Exact semi join with the Bloom pre-filter applied first: the
    * post-filter join removes the fpp residue, so results are identical
    * to a plain left_semi — only the shuffle is smaller. */
  def bloomSemiJoin(big: DataFrame, keys: DataFrame, bigKey: String,
                    keysKey: String, expectedItems: Long = 1000000L,
                    fpp: Double = 0.01): DataFrame = {
    val pre = bloomPrefilter(big, keys, bigKey, keysKey, expectedItems, fpp)
    pre.join(keys.select(col(keysKey).as("__graft_k")).distinct(),
      col(bigKey) === col("__graft_k"), "left_semi")
  }

  /** Range-bin (theta) join: classify each fact row into the bin whose
    * [lo, hi) interval contains `value`; `bins` is a metadata-sized
    * DataFrame(bin, lo, hi) with hi null meaning +inf. Broadcast
    * nested-loop by construction — the correct physical plan for a
    * non-equi join against a small dimension; the fact side never
    * shuffles. */
  def rangeBinJoin(facts: DataFrame, bins: DataFrame, valueCol: String,
                   lo: String = "lo", hi: String = "hi"): DataFrame =
    facts.join(broadcast(bins),
      col(valueCol) >= col(lo) && (col(hi).isNull || col(valueCol) < col(hi)),
      "left")

  /** Per-entity k-step ORDERED funnel timestamps: for each entity, step
    * i's timestamp is the earliest event of `steps(i)` STRICTLY after
    * step i-1's (step 0 = earliest of `steps(0)` overall) — the product
    * analytics "view → click → purchase" chain. Returns one row per
    * entity with a `step_ts` array (null-padded past the last reached
    * step).
    *
    * ONE shuffle: events fold per entity via
    * sort_array(collect_list) + a k-slot `aggregate` accumulator — not
    * k sequential conditional-min aggregations (k shuffles) and not k-1
    * self-joins. Slots fill prefix-wise, so the current step is just the
    * filled-count, and the strict `>` mirrors the SQL min-chain
    * semantics on timestamp ties. Per-entity state is bounded two ways
    * (the fold itself only ever keeps k timestamps):
    *  - events whose type is not a funnel step are dropped BEFORE the
    *    shuffle — they can never fill a slot, so this is exact, and a
    *    bot entity with 10^7 page-pings but 3 step events costs 3 rows
    *    of agg state, not 10^7. Entities with NO step-relevant events
    *    are therefore absent from the output (their row would be
    *    all-null step_ts; `funnelCounts` is unaffected — null slots
    *    never counted).
    *  - `maxEventsPerEntity` (0 = unbounded) caps the retained list at
    *    the EARLIEST n step-relevant events per entity. Truncation
    *    semantics: funnel progress is evaluated on the entity's first n
    *    relevant events by (ts, type) — deterministic, and monotone
    *    truncation (a step reached within the first n events is
    *    reported identically at any larger cap); progress achieved only
    *    after event n is lost, mirroring the streaming twin's bounded
    *    per-key state. */
  def funnelSteps(events: DataFrame, entityCol: String, tsCol: String,
                  typeCol: String, steps: Seq[String],
                  maxEventsPerEntity: Int = 0): DataFrame = {
    val byEntity = funnelGroups(events, entityCol, tsCol, typeCol, steps,
      maxEventsPerEntity)
    val k = steps.size
    val stepArr = array(steps.map(lit): _*)
    val evs = sort_array(collect_list(struct(col(tsCol).as("ts"),
      col(typeCol).as("et"))))
    val folded = aggregate(
      evs,
      array_repeat(lit(null).cast("timestamp"), k),
      (acc, e) => {
        val filled = aggregate(acc, lit(0),
          (c, v) => c + when(v.isNotNull, 1).otherwise(0))
        // greatest(filled, 1): element_at is 1-based and REJECTS index 0
        // outright — SQL booleans don't promise short-circuit, so the
        // filled === 0 alternative can't protect a raw element_at(acc, 0)
        transform(acc, (v, i) =>
          when(i === filled &&
            e.getField("et") === element_at(stepArr, filled + 1) &&
            (filled === 0 ||
              e.getField("ts") > element_at(acc, greatest(filled, lit(1)))),
            e.getField("ts")).otherwise(v))
      })
    byEntity.agg(folded.as("step_ts"))
  }

  /** TIME-CONSTRAINED funnel — [[funnelSteps]] with a per-step
    * deadline: step i+1 must land within `stepWindowSeconds` of the
    * step-i fill or the chain stalls (the product-analytics "completed
    * checkout within an hour of add-to-cart" form; an unconstrained
    * funnel counts a January click converting a December purchase).
    *
    * Semantics = greedy earliest chain, pinned identically in the SQL
    * twin's cascaded argmins: the FIRST step-1 event anchors the
    * chain; each later step fills at its earliest occurrence strictly
    * after the previous fill and within the window. Greedy-anchor is
    * deliberate (and documented): a chain that only completes from a
    * LATER anchor does not count — same as the min-chain convention
    * the unconstrained funnel pins on ties.
    *
    * All comparisons run in exact integer MICROS (`unix_micros`; the
    * q65/q171 discipline — never a timestamp diff through seconds
    * flooring). Same ONE-shuffle shape and the same two state bounds
    * as [[funnelSteps]]; output `step_us: array<long>`. */
  def funnelStepsWindowed(events: DataFrame, entityCol: String,
                          tsCol: String, typeCol: String,
                          steps: Seq[String], stepWindowSeconds: Long,
                          maxEventsPerEntity: Int = 0): DataFrame = {
    val WindowedFunnel(byEntity, k, wUs, stepArr, evs) = windowedFunnel(
      events, entityCol, tsCol, typeCol, steps, stepWindowSeconds,
      maxEventsPerEntity)
    val folded = aggregate(
      evs,
      array_repeat(lit(null).cast("long"), k),
      (acc, e) => {
        val filled = aggregate(acc, lit(0),
          (c, v) => c + when(v.isNotNull, 1).otherwise(0))
        transform(acc, (v, i) =>
          when(i === filled &&
            e.getField("et") === element_at(stepArr, filled + 1) &&
            (filled === 0 ||
              (e.getField("us") >
                  element_at(acc, greatest(filled, lit(1))) &&
                e.getField("us") -
                  element_at(acc, greatest(filled, lit(1))) <= wUs)),
            e.getField("us")).otherwise(v))
      })
    byEntity.agg(folded.as("step_us"))
  }

  /** RE-ANCHORED time-constrained funnel — the product-analytics
    * semantics [[funnelStepsWindowed]] deliberately does not have: an
    * entity reaches step j if the chain from ANY of its step-1 events
    * (anchors) fills slot j, each chain built greedily (every next
    * step = its earliest occurrence strictly after the previous fill
    * and within `stepWindowSeconds` of it — pinned identically by the
    * oracle's per-anchor cascaded argmins). Greedy stalls where a
    * later anchor converts ("click Mon, click Fri 9:00, buy Fri 9:05"
    * with a 1h window: greedy reports depth 1, this reports the
    * conversion) — Amplitude-style funnels re-anchor, so a user
    * comparing against them needs this form.
    *
    * Two pinned conventions, both mirrored in the SQL twin:
    *  - PER ANCHOR the chain is greedy-earliest (not best-possible
    *    subsequence): taking a later in-window step extends the next
    *    step's deadline, so greedy-per-anchor can under-reach a
    *    clairvoyant scheduler — but greedy is what every SQL/product
    *    tool computes, is O(events) per anchor, and is deterministic.
    *  - The reported `step_us` is the chain of MAXIMUM depth, earliest
    *    anchor on ties — so per-step reach counts are monotone and
    *    `element_at(step_us, j)` is non-null iff the entity reached
    *    step j from some anchor.
    *
    * Shape: the [[funnelStepsWindowed]] single shuffle; the per-entity
    * fold is O(anchors × events) on the collected (capped) array —
    * bounded by `maxEventsPerEntity`² when set. Output: entity,
    * `n_anchors: long`, `step_us: array<long>` (all-null when the
    * entity has relevant events but no anchor). */
  def funnelStepsWindowedAnchored(events: DataFrame, entityCol: String,
                                  tsCol: String, typeCol: String,
                                  steps: Seq[String],
                                  stepWindowSeconds: Long,
                                  maxEventsPerEntity: Int = 0): DataFrame = {
    val WindowedFunnel(byEntity, k, wUs, stepArr, evs) = windowedFunnel(
      events, entityCol, tsCol, typeCol, steps, stepWindowSeconds,
      maxEventsPerEntity)
    // greedy chain from one anchor: slot 1 pre-filled, the windowed
    // fold fills the rest (events at/before the anchor fail the
    // strict `>`; filled starts at 1 so the filled===0 arm is dead)
    def chainFor(evsC: Column, anchorUs: Column): Column = aggregate(
      evsC,
      concat(array(anchorUs),
        array_repeat(lit(null).cast("long"), k - 1)),
      (acc, e) => {
        val filled = aggregate(acc, lit(0),
          (c, v) => c + when(v.isNotNull, 1).otherwise(0))
        transform(acc, (v, i) =>
          when(i === filled && filled < k &&
            e.getField("et") === element_at(stepArr, least(filled, lit(k - 1)) + 1) &&
            e.getField("us") > element_at(acc, greatest(least(filled, lit(k - 1)), lit(1))) &&
            e.getField("us") - element_at(acc, greatest(least(filled, lit(k - 1)), lit(1))) <= wUs,
            e.getField("us")).otherwise(v))
      })
    val grouped = byEntity.agg(evs.as("__evs"))
    def depth(c: Column): Column = aggregate(c, lit(0),
      (n, v) => n + when(v.isNotNull, 1).otherwise(0))
    grouped
      .withColumn("__anchors",
        filter(col("__evs"), e => e.getField("et") === lit(steps.head)))
      .withColumn("__chains",
        transform(col("__anchors"),
          a => chainFor(col("__evs"), a.getField("us"))))
      // anchors ascend in us, so keeping the incumbent unless STRICTLY
      // deeper pins the earliest-anchor tiebreak
      .withColumn("__best",
        aggregate(col("__chains"), lit(null).cast("array<bigint>"),
          (b, c) => when(b.isNull || depth(c) > depth(b), c).otherwise(b)))
      .select(col(entityCol),
        size(col("__anchors")).cast("long").as("n_anchors"),
        coalesce(col("__best"),
          array_repeat(lit(null).cast("long"), k)).as("step_us"))
  }

  /** Per-step reach of the RE-ANCHORED windowed funnel —
    * [[funnelCounts]]' shape over [[funnelStepsWindowedAnchored]].
    * Per step j the count is "entities whose best chain reached j":
    * ≥ the greedy [[funnelCountsWindowed]] count at every step. */
  def funnelCountsWindowedAnchored(events: DataFrame, entityCol: String,
                                   tsCol: String, typeCol: String,
                                   steps: Seq[String],
                                   stepWindowSeconds: Long): DataFrame =
    funnelReach(funnelStepsWindowedAnchored(events, entityCol, tsCol,
      typeCol, steps, stepWindowSeconds), "step_us", steps)

  /** Per-step reach of the windowed funnel — [[funnelCounts]]' shape
    * over [[funnelStepsWindowed]]. */
  def funnelCountsWindowed(events: DataFrame, entityCol: String,
                           tsCol: String, typeCol: String,
                           steps: Seq[String],
                           stepWindowSeconds: Long): DataFrame =
    funnelReach(funnelStepsWindowed(events, entityCol, tsCol, typeCol,
      steps, stepWindowSeconds), "step_us", steps)

  /** Funnel conversion summary: how many entities reached each step.
    * One row per step, in order. */
  def funnelCounts(events: DataFrame, entityCol: String, tsCol: String,
                   typeCol: String, steps: Seq[String]): DataFrame =
    funnelReach(funnelSteps(events, entityCol, tsCol, typeCol, steps),
      "step_ts", steps)

  /** What both windowed funnel forms start from: the entity groups
    * ([[funnelGroups]]), the step count `k`, the window in micros, the
    * step names as an array literal, and the aggregate that collects an
    * entity's (us, et) events in time order. */
  private case class WindowedFunnel(byEntity: RelationalGroupedDataset,
                                    k: Int, wUs: Long, stepArr: Column,
                                    evs: Column)

  private def windowedFunnel(events: DataFrame, entityCol: String,
                             tsCol: String, typeCol: String,
                             steps: Seq[String], stepWindowSeconds: Long,
                             maxEventsPerEntity: Int): WindowedFunnel = {
    require(stepWindowSeconds > 0, "step window must be positive")
    WindowedFunnel(
      funnelGroups(events, entityCol, tsCol, typeCol, steps,
        maxEventsPerEntity),
      steps.size,
      stepWindowSeconds * 1000000L,
      array(steps.map(lit): _*),
      sort_array(collect_list(struct(
        unix_micros(col(tsCol)).as("us"), col(typeCol).as("et")))))
  }

  /** The funnel forms' pre-shuffle state bound, grouped by entity:
    * only events whose type is a step, capped at the EARLIEST
    * `maxEventsPerEntity` (0 = unbounded) per entity by (ts, type).
    *
    * The cap is enforced BEFORE the aggregation, not by slicing the
    * collected array — a slice after collect_list would still
    * materialize a pathological entity's full event list in one agg
    * buffer, defeating the bound it claims. The rank-limit window is
    * the same map-side group-limit trick invertedIndex uses: Spark's
    * InferWindowGroupLimit prunes rows past the cap per map task, so
    * both the shuffle and the agg buffer stay ≤ n rows per entity. */
  private def funnelGroups(events: DataFrame, entityCol: String, tsCol: String,
                           typeCol: String, steps: Seq[String],
                           maxEventsPerEntity: Int): RelationalGroupedDataset = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(maxEventsPerEntity >= 0, "maxEventsPerEntity must be >= 0")
    val relevant = events.filter(col(typeCol).isin(steps: _*))
    val capped =
      if (maxEventsPerEntity == 0) relevant
      else {
        val w = Window.partitionBy(col(entityCol))
          .orderBy(col(tsCol).asc, col(typeCol).asc)
        relevant.withColumn("__fs_rn", row_number().over(w))
          .filter(col("__fs_rn") <= maxEventsPerEntity)
          .drop("__fs_rn")
      }
    capped.groupBy(col(entityCol))
  }

  /** Per-step reach: one (step, event_type, n_entities) row per step,
    * in order, counting the entities whose `slotsCol` array filled that
    * step's slot. */
  private def funnelReach(per: DataFrame, slotsCol: String,
                          steps: Seq[String]): DataFrame = {
    val aggs = steps.indices.map(i =>
      count(element_at(col(slotsCol), i + 1)).as(s"n$i"))
    val counts = per.agg(aggs.head, aggs.tail: _*)
    val stepRows = steps.zipWithIndex.map { case (s, i) =>
      struct(lit(i).as("step"), lit(s).as("event_type"),
        col(s"n$i").as("n_entities"))
    }
    counts.select(explode(array(stepRows: _*)).as("r"))
      .select(col("r.step"), col("r.event_type"), col("r.n_entities"))
  }

  /** Exact floor-division of a long column by a positive constant —
    * never routes through double (a cast loses exactness above 2^53,
    * the lossy-cast hazard class the skew fallback guards against).
    * `((c % w) + w) % w` is the positive residue in exact long
    * arithmetic; subtracting it leaves an exact multiple of `w`, so the
    * built-in integral `div` (truncating) equals floor division. */
  private def floorDiv(c: Column, w: Long): Column = {
    val ww = lit(w)
    call_function("div", c - (((c % ww) + ww) % ww), ww)
  }

  /** Grid-blocked interval overlap join: every (left, right) pair whose
    * closed integer intervals `[lStart, lEnd]` × `[rStart, rEnd]`
    * overlap, emitted EXACTLY once. The naive form — a theta join on
    * `lS <= rE AND rS <= lE` — plans as a cartesian product
    * (BroadcastNestedLoopJoin at best), quadratic in rows: the classic
    * 100 TB killer for interval analytics.
    *
    * Here each interval replicates to the grid buckets of width
    * `bucketWidth` it touches (`sequence` + `explode` — narrow, no
    * shuffle yet), the join is an EQUI join on bucket (hash shuffle,
    * AQE-splittable), and the overlap predicate filters within the
    * bucket. If a pair overlaps, `max(lStart, rStart)` lies in both
    * intervals, so both sides replicated into ITS bucket — emitting
    * only where `bucket == floorDiv(greatest(lStart, rStart))`
    * yields each pair exactly once with no distinct pass.
    *
    * Work is Σ_b |L_b|·|R_b| — pick `bucketWidth` near the typical
    * interval span so replication (span/width + 1 copies) and bucket
    * density balance. Endpoints are exact longs throughout (epoch days,
    * seconds, micros — any unit at any magnitude). */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   lStart: String, lEnd: String,
                   rStart: String, rEnd: String,
                   bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    // output is left.* ++ right.*, so shared names would be ambiguous
    // in the join condition AND duplicated in the result — fail loudly
    // (self-joins rename one side first)
    val shared = left.columns.toSet.intersect(right.columns.toSet)
    require(shared.isEmpty,
      s"intervalJoin requires disjoint column names; shared: ${shared.mkString(", ")}")
    def buckets(df: DataFrame, s: String, e: String): DataFrame =
      df.filter(col(s).isNotNull && col(e).isNotNull && col(s) <= col(e))
        .withColumn("__gb",
          explode(sequence(floorDiv(col(s), bucketWidth),
            floorDiv(col(e), bucketWidth))))
    val lb = buckets(left, lStart, lEnd)
    val rb = buckets(right, rStart, rEnd).withColumnRenamed("__gb", "__gb_r")
    lb.join(rb,
        col("__gb") === col("__gb_r") &&
          col(lStart) <= col(rEnd) && col(rStart) <= col(lEnd) &&
          col("__gb") === floorDiv(greatest(col(lStart), col(rStart)), bucketWidth))
      .drop("__gb", "__gb_r")
  }

  /** intervalJoin with the bucket width chosen from the data: the
    * median span of BOTH sides combined (discrete percentile — an
    * actual span value, deterministic), floored at 1. Correctness is
    * width-independent (the spec pins pair-set equality across widths);
    * the width only tunes replication (span/width + 1 copies) against
    * bucket density, and the median span keeps typical replication ≈ 2
    * without the caller having to know the data. The probe pass is one
    * metadata-sized aggregate over the two span columns. */
  def intervalJoinAutoWidth(left: DataFrame, right: DataFrame,
                            lStart: String, lEnd: String,
                            rStart: String, rEnd: String): DataFrame = {
    // cast to long up front: percentile_approx returns its INPUT type,
    // so int start/end columns (epoch days) would otherwise surface an
    // Integer here and break the long extraction
    val spans = left.select((col(lEnd) - col(lStart) + 1).cast("long").as("__span"))
      .unionByName(right.select((col(rEnd) - col(rStart) + 1).cast("long").as("__span")))
      .filter(col("__span") >= 1)
    val medRow = spans
      .agg(percentile_approx(col("__span"), lit(0.5), lit(100000)))
      .head()
    val width = if (medRow.isNullAt(0)) 1L else math.max(1L, medRow.getLong(0))
    intervalJoin(left, right, lStart, lEnd, rStart, rEnd, width)
  }

  /** Merge overlapping closed integer intervals per key into islands
    * (gaps-and-islands): intervals merge when the next start is <= the
    * running max end seen so far (shared endpoints merge; a gap of 1
    * starts a new island). One row per island with its extent and
    * member count. ONE shuffle — the per-key window; the running-max /
    * running-sum pair is the linear-scan merge, never a self-join.
    * Deterministic under (start, end) ties: a tied row always lands in
    * the same island regardless of scan order among its ties. */
  def intervalMerge(df: DataFrame, keyCol: String, startCol: String,
                    endCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(startCol).asc, col(endCol).asc)
    val prevMax = max(col(endCol))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    val isNew = when(prevMax.isNull || col(startCol) > prevMax, 1).otherwise(0)
    df.filter(col(startCol).isNotNull && col(endCol).isNotNull &&
        col(startCol) <= col(endCol))
      .withColumn("__island",
        sum(isNew).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(keyCol), col("__island"))
      .agg(min(col(startCol)).as("island_start"),
        max(col(endCol)).as("island_end"),
        count(lit(1)).as("n_intervals"))
      .drop("__island")
  }

  /** Weekly cohort retention: cohort = ISO week (Monday-truncated) of the
    * entity's FIRST event; one output row per (cohort_week, week_offset)
    * with the distinct entities active that week. Two narrow aggs on the
    * entity hash partitioning (first-event + distinct activity weeks)
    * and one co-partitioned join — no window, no collect. */
  def weeklyRetention(events: DataFrame, entityCol: String,
                      tsCol: String): DataFrame = {
    val firsts = events.groupBy(col(entityCol))
      .agg(to_date(date_trunc("week", min(col(tsCol)))).as("cohort_week"))
    val active = events.select(col(entityCol),
      to_date(date_trunc("week", col(tsCol))).as("active_week")).distinct()
    active.join(firsts, entityCol)
      .select(col("cohort_week"),
        (datediff(col("active_week"), col("cohort_week")) / 7)
          .cast("int").as("week_offset"),
        col(entityCol))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(count(lit(1)).as("n_entities"))
  }

  /** Mergeable per-key aggregate state — incremental view maintenance
    * for the decomposable aggregates (count / decimal-exact sum / min
    * / max): `aggState` builds `(keys…, n, sum_v, min_v, max_v)` from
    * rows, `mergeAggStates` combines two states, and
    * merge(state(A), state(B)) ≡ state(A ∪ B) exactly (PropertySpec-
    * style proof in Round14Spec) because every piece is decomposable —
    * counts add, DECIMAL(12,2) sums add order-free, min/max take
    * least/greatest with null-safe coalesce. The 100 TB point: a daily
    * refresh aggregates ONLY the delta and merges key-cardinality
    * states — the historical fact table is never re-scanned. */
  def aggState(df: DataFrame, keys: Seq[String],
               valueCol: String): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(col(valueCol)).as("n"),
        sum(col(valueCol).cast("decimal(12,2)")).cast("decimal(22,2)")
          .as("sum_v"),
        min(col(valueCol)).as("min_v"),
        max(col(valueCol)).as("max_v"))

  /** Combine two [[aggState]] relations (full outer on the keys; a key
    * absent from one side passes the other side through). */
  def mergeAggStates(a: DataFrame, b: DataFrame,
                     keys: Seq[String]): DataFrame = {
    val bb = b.select(keys.map(col) ++ Seq(col("n").as("__n2"),
      col("sum_v").as("__s2"), col("min_v").as("__mn2"),
      col("max_v").as("__mx2")): _*)
    a.join(bb, keys, "full_outer")
      .select(keys.map(col) ++ Seq(
        (coalesce(col("n"), lit(0L)) + coalesce(col("__n2"), lit(0L)))
          .as("n"),
        when(col("sum_v").isNull, col("__s2"))
          .when(col("__s2").isNull, col("sum_v"))
          .otherwise((col("sum_v") + col("__s2")).cast("decimal(22,2)"))
          .as("sum_v"),
        when(col("min_v").isNull, col("__mn2"))
          .when(col("__mn2").isNull, col("min_v"))
          .otherwise(least(col("min_v"), col("__mn2"))).as("min_v"),
        when(col("max_v").isNull, col("__mx2"))
          .when(col("__mx2").isNull, col("max_v"))
          .otherwise(greatest(col("max_v"), col("__mx2"))).as("max_v")): _*)
  }

  /** Collapse MULTIPLE [[aggState]] rows per key into one — the
    * re-keying companion to [[mergeAggStates]]: when a state table is
    * re-keyed (e.g. cluster labels refreshed by incremental CC merge
    * two old clusters into one), several state rows land on the same
    * new key and must combine. Same decomposable pieces (counts add,
    * exact decimal sums add, min/max fold), so
    * reduce(rekey(state)) ≡ state(rekeyed rows) exactly. */
  def reduceAggState(state: DataFrame, keys: Seq[String]): DataFrame =
    state.groupBy(keys.map(col): _*)
      .agg(sum(col("n")).as("n"),
        sum(col("sum_v")).cast("decimal(22,2)").as("sum_v"),
        min(col("min_v")).as("min_v"),
        max(col("max_v")).as("max_v"))

  /** Frequency-cap AUDIT: for every event, the count of the entity's
    * events in the trailing `windowSeconds` (inclusive, RANGE frame on
    * exact integer micros — equal timestamps are peers and all count),
    * and `violates` = trailing count > cap. This is the POLICY AUDIT
    * ("which sends exceeded contact governance"): a suppressed send
    * still counts toward later windows here. The sequential semantics
    * — suppressed sends don't count — is [[frequencyCapEnforce]];
    * the two differ as soon as anything is suppressed (spec pins a
    * divergence case). ONE entity-partitioned window shuffle. */
  def frequencyCapAudit(events: DataFrame, entityCol: String, tsCol: String,
                        windowSeconds: Long, cap: Int): DataFrame = {
    require(windowSeconds > 0 && cap >= 1, "need windowSeconds > 0, cap >= 1")
    val w = Window.partitionBy(col(entityCol))
      .orderBy(unix_micros(col(tsCol)))
      .rangeBetween(-windowSeconds * 1000000L, 0L)
    events
      .withColumn("trailing_count", count(lit(1)).over(w))
      .withColumn("violates", col("trailing_count") > cap)
  }

  /** Frequency-cap ENFORCEMENT: greedy sequential suppression — an
    * event is allowed iff fewer than `cap` ALLOWED events of the same
    * entity fall in its trailing window; suppressed events never count
    * (the semantics a send-time gate actually implements; inherently
    * sequential per entity, not expressible as one window). Events
    * process in (ts, tiebreak) order.
    *
    * Scale shape: repartition by entity + in-partition sort, then ONE
    * sequential pass per partition holding a deque of the CURRENT
    * entity's last ≤ cap allowed send times inside the window —
    * O(cap) state, not the entity's history; no driver involvement;
    * hot entities cost their row count linearly. */
  def frequencyCapEnforce(events: DataFrame, entityCol: String,
                          tsCol: String, tiebreakCol: String,
                          windowSeconds: Long, cap: Int): DataFrame = {
    require(windowSeconds > 0 && cap >= 1, "need windowSeconds > 0, cap >= 1")
    val winUs = windowSeconds * 1000000L
    val slim = events.select(col(entityCol), col(tiebreakCol),
      unix_micros(col(tsCol)).as("__us"))
    val parts = slim
      .repartition(col(entityCol))
      .sortWithinPartitions(col(entityCol), col("__us"), col(tiebreakCol))
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(parts.schema.fields :+
      StructField("allowed", BooleanType, nullable = false))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    parts.mapPartitions { it =>
      var curEnt: Any = null
      var first = true
      val sent = scala.collection.mutable.ArrayDeque.empty[Long]
      it.map { r =>
        val ent = r.get(0)
        if (first || ent != curEnt) { sent.clear(); curEnt = ent; first = false }
        Row.fromSeq(r.toSeq :+ capAdmit(sent, r.getLong(2), winUs, cap))
      }
    }(enc)
  }

  /** One step of [[frequencyCapEnforce]]'s send gate, shared with its
    * streaming twin: drop the allowed send times older than the window
    * from `sent`, then allow the send at `us` (and remember it) iff
    * fewer than `cap` remain. */
  private[graft] def capAdmit(sent: scala.collection.mutable.ArrayDeque[Long],
                              us: Long, winUs: Long, cap: Int): Boolean = {
    while (sent.nonEmpty && sent.head < us - winUs) sent.removeHead()
    val ok = sent.size < cap
    if (ok) sent.append(us)
    ok
  }

  /** Cohort LTV curve — the revenue companion of [[weeklyRetention]]:
    * per (cohort_week, week_offset), the cohort's revenue that week,
    * the running cumulative, and cumulative revenue per cohort member
    * (the LTV curve marketing reads left to right). Cohort = Monday
    * week of each entity's FIRST event (any type — acquisition),
    * revenue = Σ `valueCol` of the revenue rows (pass a pre-filtered
    * `revenueEvents`, e.g. purchases only).
    *
    * Exactness: week offsets are integer-exact (week-aligned dates);
    * revenue sums are DECIMAL(12,2)-exact (order-free) and stay
    * decimal through the cumulative window; the per-member LTV is one
    * IEEE division of the decimal-exact cumulative by the integer
    * cohort size. Shape: two partial-aggregating groupBys + one
    * co-partitioned join + one cohort-partitioned cumulative window
    * over offset-cardinality rows (weeks, not events). */
  def cohortLtv(events: DataFrame, revenueEvents: DataFrame,
                entityCol: String, tsCol: String,
                valueCol: String): DataFrame = {
    val firsts = events.groupBy(col(entityCol))
      .agg(to_date(date_trunc("week", min(col(tsCol)))).as("cohort_week"))
    val sizes = firsts.groupBy(col("cohort_week"))
      .agg(count(lit(1)).as("cohort_size"))
    val weekly = revenueEvents.select(col(entityCol),
        to_date(date_trunc("week", col(tsCol))).as("active_week"),
        col(valueCol).cast("decimal(12,2)").as("__rev"))
      .join(firsts, entityCol)
      .groupBy(col("cohort_week"),
        (datediff(col("active_week"), col("cohort_week")) / 7)
          .cast("int").as("week_offset"))
      .agg(sum(col("__rev")).as("__wrev"))
    val w = Window.partitionBy(col("cohort_week"))
      .orderBy(col("week_offset").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    weekly
      .withColumn("__crev", sum(col("__wrev")).over(w))
      .join(sizes, Seq("cohort_week"))
      .select(col("cohort_week"), col("week_offset"), col("cohort_size"),
        col("__wrev").cast("double").as("week_revenue"),
        col("__crev").cast("double").as("cum_revenue"),
        (col("__crev").cast("double") / col("cohort_size").cast("double"))
          .as("ltv_per_member"))
  }

  /** Top-k dimension values per group with an "(other)" rollup — the
    * standard cardinality-capped report shape (top 5 referrers per
    * site, everything else one row) that keeps dashboards and
    * downstream joins bounded when the dimension has millions of
    * values. Ranking is by (metric desc, dim asc) so ties are
    * deterministic; the rollup row (dim = `otherLabel`) carries the
    * summed metric of every non-top value and appears only when such
    * values exist.
    *
    * Scale shape: ONE partial-aggregating (group, dim) groupBy collapses
    * the fact table; the rank window then runs on the AGGREGATED
    * relation (group × distinct-dim rows, not facts) with the rn ≤ k
    * filter map-side group-limited; the others rollup re-aggregates
    * only rank > k rows. The fact table shuffles once. */
  def topKWithOthers(df: DataFrame, groupCol: String, dimCol: String,
                     metric: Column, k: Int,
                     otherLabel: String = "(other)"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // ADVICE r13: a genuine dim value equal to otherLabel would be
    // indistinguishable from the rollup row — fail fast at execution
    // instead of emitting an ambiguous report (the check rides the
    // aggregated relation, group-cardinality rows, not the fact scan).
    val agg = df.groupBy(col(groupCol), col(dimCol))
      .agg(metric.as("metric"))
      .withColumn("metric",
        when(col(dimCol).cast("string") === otherLabel,
          raise_error(concat(lit("topKWithOthers: dimension value collides "),
            lit(s"with otherLabel '$otherLabel'; pass a different otherLabel"))))
          .otherwise(col("metric")))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("metric").desc, col(dimCol).asc)
    val ranked = agg.withColumn("__rn", row_number().over(w))
    val top = ranked.filter(col("__rn") <= k)
      .select(col(groupCol), col(dimCol).cast("string").as(dimCol),
        col("metric"), col("__rn").as("rank"))
    val others = ranked.filter(col("__rn") > k)
      .groupBy(col(groupCol))
      .agg(sum(col("metric")).as("metric"))
      .select(col(groupCol), lit(otherLabel).as(dimCol), col("metric"),
        lit(k + 1).as("rank"))
    top.unionByName(others)
  }

  /** Per-key time-grid resampling with last-observation-carried-forward
    * (LOCF): one row per key per `stepSeconds` bucket across the key's
    * observed span, each carrying the latest observation at or before
    * the grid instant — the irregular-events → regular-series step
    * behind rate computation, gap detection, and feature snapshots
    * ("the user's balance at each midnight").
    *
    * Grid buckets are exact integer epoch arithmetic (floored seconds,
    * `div`-based floor division — no doubles); the LOCF lookup IS
    * [[asofJoinBackward]] (same single-shuffle union+window, same
    * greatest-(ts, tiebreak) tie rule), so grid points before a key's
    * first observation carry null payloads (left-outer semantics) and
    * nothing here is a second time-join implementation to keep
    * consistent. Scale shape: the span agg is map-side combinable, the
    * grid explode is narrow (span/step rows per key), and the as-of
    * join is one shuffle on the key. */
  def resampleLocf(obs: DataFrame, keyCol: String, tsCol: String,
                   stepSeconds: Long, tiebreakCol: String,
                   payload: Seq[String],
                   maxGridRowsPerKey: Long = 1000000L): DataFrame = {
    require(stepSeconds > 0, s"stepSeconds must be > 0, got $stepSeconds")
    require(maxGridRowsPerKey > 0,
      s"maxGridRowsPerKey must be > 0, got $maxGridRowsPerKey")
    val sec = unix_timestamp(col(tsCol)) // floors to whole seconds
    val spans = obs.filter(col(tsCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(min(sec).as("__lo"), max(sec).as("__hi"))
    // ADVICE r13 / VERDICT r13 #7: a misconfigured step on a years-long
    // span silently explodes span/step rows PER KEY — fail fast on the
    // metadata-sized span relation (mirrors funnel's maxEventsPerEntity
    // discipline) instead of letting the explode OOM an executor.
    val gridRows = floorDiv(col("__hi"), stepSeconds) -
      floorDiv(col("__lo"), stepSeconds) + 1
    val guarded = spans.withColumn("__lo",
      when(gridRows > maxGridRowsPerKey,
        raise_error(concat(lit("resampleLocf: key "),
          col(keyCol).cast("string"), lit(" spans "),
          gridRows.cast("string"),
          lit(s" grid rows > maxGridRowsPerKey=$maxGridRowsPerKey; " +
            "widen stepSeconds or raise the cap"))))
        .otherwise(col("__lo")))
    val grid = guarded.select(col(keyCol),
        explode(sequence(floorDiv(col("__lo"), stepSeconds),
          floorDiv(col("__hi"), stepSeconds))).as("__b"))
      .select(col(keyCol),
        timestamp_seconds(col("__b") * stepSeconds).as("grid_ts"))
    asofJoinBackward(grid, obs, keyCol, "grid_ts", tsCol, tiebreakCol,
      payload)
  }

  /** Snapshot diff: classify every key across two table versions as
    * `added` / `removed` / `changed` / `unchanged` — the ingest QA pass
    * between corpus snapshots (what did the new crawl actually change?)
    * and the input to incremental downstream recompute (only
    * added ∪ changed need re-processing).
    *
    * Comparison is per-column NULL-SAFE equality (`<=>`) on
    * `compareCols` — no row hash, so there is nothing to keep
    * engine-portable and a null→value transition counts as a change.
    * Keys must be non-null (a null key never matches across sides and
    * would classify as one `removed` + one `added`; that IS full-outer
    * semantics, documented rather than hidden).
    *
    * Scale shape: ONE co-partitioned full-outer join on the key — both
    * sides shuffle once on the same key, no windows, no driver state;
    * project `compareCols` down before calling so the shuffle carries
    * only what the diff inspects. */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame,
                   keyCols: Seq[String],
                   compareCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "snapshotDiff needs at least one key column")
    val clash = (Seq("__in_old", "__in_new", "status") ++
      compareCols.map(c => s"__new_$c"))
      .filter(c => oldDf.columns.contains(c) || newDf.columns.contains(c))
    require(clash.isEmpty,
      s"snapshotDiff: column(s) ${clash.mkString(", ")} already exist in input")
    val o = oldDf.select((keyCols ++ compareCols).map(col): _*)
      .withColumn("__in_old", lit(1))
    val renames = compareCols.map(c => c -> s"__new_$c")
    val n0 = newDf.select((keyCols ++ compareCols).map(col): _*)
      .withColumn("__in_new", lit(1))
    val n = renames.foldLeft(n0) { case (d, (c, r)) => d.withColumnRenamed(c, r) }
    val same = compareCols
      .map(c => col(c) <=> col(s"__new_$c"))
      .reduceOption(_ && _).getOrElse(lit(true))
    o.join(n, keyCols, "full_outer")
      .withColumn("status",
        when(col("__in_old").isNull, lit("added"))
          .when(col("__in_new").isNull, lit("removed"))
          .when(same, lit("unchanged"))
          .otherwise(lit("changed")))
      .drop("__in_old", "__in_new")
  }

  /** Exact global top-k with offset — `ORDER BY … LIMIT k OFFSET m`
    * without the global sort. Spark plans the literal form as a
    * range-partitioned total sort (or, worse, a single-reducer
    * TakeOrdered once m+k grows), which funnels the TABLE through the
    * sort machinery to discard all but k rows: the classic pagination
    * scale-killer at large m. Shallow pages (m+k ≤ `shallowLimit`)
    * delegate to the literal sort-limit — per-partition heaps ARE the
    * best plan when the whole prefix is small. Deep pages:
    *
    *  1. one stats pass buckets the order column by approximate
    *     quantiles (boundary quality affects only pruning, never
    *     correctness),
    *  2. one metadata-sized count-per-bucket aggregation gives EXACT
    *     cumulative offsets per bucket,
    *  3. only the buckets whose cumulative span intersects
    *     `(m, m+k]` are retained — everything else is FILTERED before
    *     any sort — and each survivor sorts locally in its own
    *     partition; global rank = bucket offset (a driver literal) +
    *     local row_number.
    *
    * Rows shuffled/sorted ≈ the intersecting buckets only (~n/buckets
    * per page at any m), not n. `tieBreakers` must totally order rows
    * within equal `orderOn` values for the page to be deterministic
    * (same contract as every rank operator here). Equal order values
    * always share a bucket (bucketing is by strict `>` on boundary
    * values), so ties never split across partitions; the degenerate
    * case — one value holding most of the table — degrades to sorting
    * that one span in one task, the same bound the full sort has on it.
    * Output: the page rows + their exact global rank in `out`.
    *
    * Only cast-monotone order dtypes bucket (numeric/date/timestamp/
    * boolean — same guard as [[graft.core.Skew.saltedRowNumber]]);
    * other types fall back to the single-window exact form. */
  def topKWithOffset(df: DataFrame, orderOn: Column, descending: Boolean,
                     tieBreakers: Seq[Column], k: Int, offset: Long,
                     buckets: Int = 32, out: String = "rn",
                     shallowLimit: Long = 65536L): DataFrame = {
    require(k >= 0, s"k must be >= 0, got $k")
    require(offset >= 0, s"offset must be >= 0, got $offset")
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val tmp = Seq("__tk_bkt", "__tk_rn")
    val clash = (tmp :+ out).filter(df.columns.contains)
    require(clash.isEmpty,
      s"topKWithOffset: column(s) ${clash.mkString(", ")} already exist in input")
    if (k == 0) return df.withColumn(out, lit(0L)).limit(0)
    val ord = (if (descending) orderOn.desc else orderOn.asc) +: tieBreakers
    // SHALLOW fast path: when the whole prefix up to the page end is
    // small, the literal sort-limit plans as TakeOrderedAndProject —
    // per-partition heaps of m+k rows, no shuffle of the table, no stats
    // passes — and a single-partition window over ≤ m+k ≤ 64k rows
    // attaches the exact rank for pennies. The bucketed machinery below
    // exists for the DEEP offsets where an (m+k)-row heap per task stops
    // being "small" (measured: at 8M rows the literal plan reads 0.15 s
    // at m=1000 but 11.6 s at m=n/2, where the bucketed page stays flat).
    // `shallowLimit` tunes the switch point (0 forces the bucketed path).
    // The Int.MaxValue clamp matters: limit() takes an Int, so a caller
    // raising shallowLimit past 2^31 with a deep offset would otherwise
    // hit a silent .toInt wrap (limit(100) → empty page, no error).
    if (offset + k <= math.min(shallowLimit, Int.MaxValue.toLong)) {
      val page = df.sort(ord: _*).limit((offset + k).toInt)
      val w = Window.orderBy(ord: _*)
      return page.withColumn(out, row_number().over(w).cast("long"))
        .filter(col(out) > offset)
    }
    val vcol = orderOn.cast("double")
    val rangeSafe = {
      import org.apache.spark.sql.types._
      df.select(orderOn).schema.head.dataType match {
        case _: NumericType | DateType | TimestampType | TimestampNTZType |
             BooleanType => true
        case _ => false
      }
    }
    def exactFallback(): DataFrame = {
      val w = Window.orderBy(ord: _*)
      df.withColumn(out, row_number().over(w).cast("long"))
        .filter(col(out) > offset && col(out) <= offset + k)
    }
    if (buckets == 1 || !rangeSafe) return exactFallback()
    val bounds = df.select(percentile_approx(vcol,
        typedLit((1 until buckets).map(_.toDouble / buckets)), lit(100)))
      .head().getSeq[Any](0) match {
        case null => Array.empty[Double]
        case s => s.collect { case d: java.lang.Double => d.doubleValue }
          .toArray.distinct.sorted
      }
    // bucket = #boundaries strictly below v (ascending), via the shared
    // balanced binary-search when-tree (Skew.searchIdx — depth ⌈log₂ b⌉,
    // not a b-deep linear fold, which measurably dropped the scan out of
    // efficient codegen at b=64: ~3.7 s/pass on 8M rows). Null v → 0 →
    // the edge bucket on the side nulls sort (first for asc, last for
    // desc after the flip — matching default null ordering).
    val idxAsc = graft.core.Skew.searchIdx(vcol, bounds)
    val idx = if (descending) lit(bounds.length) - idxAsc else idxAsc
    // exact counts per bucket: ≤ buckets rows to the driver
    val counts: Seq[(Int, Long)] = df.groupBy(idx.as("__tk_bkt"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1).toSeq
    var cum = 0L
    val needed: Seq[(Int, Long)] = counts.flatMap { case (b, n) =>
      val lo = cum; cum += n
      if (lo < offset + k && lo + n > offset) Some(b -> lo) else None
    }
    if (needed.isEmpty) return df.withColumn(out, lit(0L)).limit(0)
    // Page scan pruned by a RANGE predicate on the raw order value, not
    // by evaluating the bucket index on every row: the needed buckets
    // are contiguous in rank order, so they map to one closed value
    // interval — two comparisons per row that Parquet min/max pushdown
    // can turn into row-group skips on a real table (the bucket index is
    // then computed only on the surviving ~page-sized slice). In idxAsc
    // space the needed [bLo, bHi] flips under descending.
    val (bLo, bHi) = (needed.map(_._1).min, needed.map(_._1).max)
    val (aLo, aHi) =
      if (descending) (bounds.length - bHi, bounds.length - bLo)
      else (bLo, bHi)
    val lowPred = if (aLo <= 0) lit(true) else vcol > lit(bounds(aLo - 1))
    val highPred =
      if (aHi >= bounds.length) lit(true) else vcol <= lit(bounds(aHi))
    // null order values have idxAsc 0: included iff bucket 0 is needed
    val rowPred =
      if (aLo <= 0) vcol.isNull || (lowPred && highPred)
      else lowPred && highPred
    // Parquet-pushable WIDENED twin of the range predicate: the exact
    // predicate compares cast(col AS double) against double literals —
    // a shape UnwrapCastInBinaryComparison refuses for lossy casts
    // (long→double above 2^53, decimals), so NOTHING reaches
    // PushedFilters and every row group scans (measured: 8M records
    // read on a value-clustered table). A bare-column conjunct implied
    // by the exact predicate restores pruning without changing any
    // result. The widening margin must absorb BOTH double roundings
    // (the boundary's and the value's own cast) — a margin of 1 is
    // wrong beyond 2^53, where ulp(9.2e18) ≈ 2048 (a probe on xxhash64
    // longs caught exactly that), so the margin is 2·ulp(bound)+1.
    // Bounds that would overflow the column's dtype are skipped rather
    // than cast (an overflowed literal casts to null and would DROP
    // rows). Literal-side casts fold; the column stays bare.
    val dt = df.select(orderOn).schema.head.dataType
    val widenedPred: Option[Column] = {
      import org.apache.spark.sql.types._
      val dtRange: Option[(Double, Double)] = dt match {
        case ByteType => Some((Byte.MinValue.toDouble, Byte.MaxValue.toDouble))
        case ShortType => Some((Short.MinValue.toDouble, Short.MaxValue.toDouble))
        case IntegerType => Some((Int.MinValue.toDouble, Int.MaxValue.toDouble))
        case LongType => Some((-9.0e18, 9.0e18)) // inside Long range w/ slop
        case d: DecimalType =>
          val m = math.pow(10, (d.precision - d.scale).toDouble)
          Some((-m, m))
        case _ => None
      }
      dtRange.flatMap { case (dtMin, dtMax) =>
        def inRange(w: Double) = w > dtMin && w < dtMax
        val lo = if (aLo <= 0) None else {
          val b = bounds(aLo - 1)
          val w = math.floor(b - 2 * math.ulp(b)) - 1
          if (inRange(w)) Some(orderOn >= lit(w).cast(dt)) else None
        }
        val hi = if (aHi >= bounds.length) None else {
          val b = bounds(aHi)
          val w = math.ceil(b + 2 * math.ulp(b)) + 1
          if (inRange(w)) Some(orderOn <= lit(w).cast(dt)) else None
        }
        (lo.toSeq ++ hi.toSeq).reduceOption(_ && _)
          .map(c => if (aLo <= 0) orderOn.isNull || c else c)
      }
    }
    val scanPred = widenedPred.map(_ && rowPred).getOrElse(rowPred)
    val offExpr = needed.tail.foldLeft(
      when(col("__tk_bkt") === needed.head._1, lit(needed.head._2))) {
      case (acc, (b, off)) => acc.when(col("__tk_bkt") === b, lit(off))
    }
    val w = Window.partitionBy(col("__tk_bkt")).orderBy(ord: _*)
    df.filter(scanPred)
      .withColumn("__tk_bkt", idx)
      .filter(col("__tk_bkt").isin(needed.map(_._1): _*))
      .withColumn("__tk_rn", row_number().over(w).cast("long") + offExpr)
      .filter(col("__tk_rn") > offset && col("__tk_rn") <= offset + k)
      .withColumn(out, col("__tk_rn"))
      .select((df.columns.map(col) :+ col(out)).toIndexedSeq: _*)
  }
}
