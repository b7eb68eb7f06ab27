package graft.relational

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data-driven (Markov removal-effect) attribution — the model-based
  * successor to [[Attribution]]'s rule-based credits: channels earn
  * credit by how much the corpus conversion probability DROPS when
  * journeys can no longer pass through them (Anderl et al. 2014), not
  * by their position in a journey.
  */
object MarkovAttribution {

  val Start = "START"
  val Conv = "CONV"
  val Null = "NULL"

  /** First-order journey transition counts from the event stream,
    * using [[Attribution.attributeTouches]]' claim semantics:
    *   - each conversion's claimed touches (next-conversion
    *     assignment, lookback) form `START → t₁ → … → tₙ → CONV`;
    *   - conversions whose lookback held no touch contribute
    *     `START → CONV` directly;
    *   - an entity's UNCLAIMED touches (no next conversion, or next
    *     conversion beyond the lookback) form one non-converting
    *     `START → u₁ → … → uₘ → NULL` journey in time order —
    *     the convention documented here, chosen so every touch row
    *     lands in exactly one journey.
    * Returns `(src, dst, cnt)` — state cardinality is the channel
    * set + 3 markers, so the output is metadata-sized however large
    * the event table is. Shape: the same single entity-window scan as
    * attributeTouches plus per-conversion/per-entity lag windows over
    * ids-only rows. */
  def journeyTransitions(events: DataFrame, entityCol: String, tsCol: String,
                         typeCol: String, idCol: String,
                         conversionType: String, touchTypes: Seq[String],
                         lookbackSeconds: Long): DataFrame = {
    val tagged = Attribution.claimScan(events, entityCol, tsCol, typeCol, idCol,
      conversionType, touchTypes, lookbackSeconds)
    val touches = tagged.filter(col("__kind") === 0)
    // claimed journeys: per conversion in position order
    val wConv = Window.partitionBy(col("__conv.cid"))
      .orderBy(col("__us").asc, col("__id").asc)
    val claimed = touches.filter(col("__claimed"))
      .withColumn("__prev", lag(col("__type"), 1).over(wConv))
      .withColumn("__next", lead(col("__type"), 1).over(wConv))
    val claimedSteps = claimed.select(
      coalesce(col("__prev"), lit(Start)).as("src"), col("__type").as("dst"))
    val claimedEnds = claimed.filter(col("__next").isNull)
      .select(col("__type").as("src"), lit(Conv).as("dst"))
    // zero-touch conversions: START -> CONV
    val convIdsWithTouches = touches.filter(col("__claimed"))
      .select(col("__conv.cid").as("__cid")).distinct()
    val zeroTouch = tagged.filter(col("__kind") === 1)
      .join(convIdsWithTouches, col("__id") === col("__cid"), "left_anti")
      .select(lit(Start).as("src"), lit(Conv).as("dst"))
    // non-converting journey: the entity's unclaimed touches in order
    val wEnt = Window.partitionBy(col("__ent"))
      .orderBy(col("__us").asc, col("__id").asc)
    val unclaimed = touches.filter(!col("__claimed"))
      .withColumn("__prev", lag(col("__type"), 1).over(wEnt))
      .withColumn("__next", lead(col("__type"), 1).over(wEnt))
    val nullSteps = unclaimed.select(
      coalesce(col("__prev"), lit(Start)).as("src"), col("__type").as("dst"))
    val nullEnds = unclaimed.filter(col("__next").isNull)
      .select(col("__type").as("src"), lit(Null).as("dst"))
    claimedSteps.unionByName(claimedEnds).unionByName(zeroTouch)
      .unionByName(nullSteps).unionByName(nullEnds)
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Removal effects from a transition-count relation, by EXACT
    * integer fixed-point absorption (the pageRankFixedPoint
    * discipline: integer math is associative, so the result is
    * bit-identical under any partitioning, engine, or summation
    * order — no linear-system solve in doubles to replay):
    *
    * val(CONV) = SCALE (10¹²), val(NULL) = 0, and `k` rounds of
    *   p′(s) = (Σ_t cnt(s→t)·val(t)) div out(s)
    * give the truncated-absorption conversion probability from each
    * state; `p_base = p(START)`. Removing channel c forces
    * val(c) = 0 (journeys entering c are lost — the removal-effect
    * definition). Output per channel:
    * `(channel, p_base_fp, p_removed_fp, removal_effect_fp)` — all
    * exact BIGINT fixed-point (divide by 10¹² for probabilities).
    *
    * The state space is the channel set (metadata-sized by
    * construction), so the iteration runs driver-side in BigInt — the
    * same bookmark-sized-collect class as the IVF codebooks; the
    * DATA-scale work all happened in [[journeyTransitions]]. */
  def removalEffects(transitions: DataFrame, k: Int = 30,
                     maxChannels: Int = 1024): DataFrame = {
    require(k >= 1, s"k must be >= 1; got $k")
    require(maxChannels >= 1, s"maxChannels must be >= 1; got $maxChannels")
    val Scale = BigInt("1000000000000")
    // Driver-solve guard (ADVICE r14 / VERDICT r14 task 5): the state
    // space must be channel-cardinality (metadata-sized) — edges are
    // bounded by (channels+3)². Probe with limit(bound+1) BEFORE the
    // collect so a pathological fact-scale input fails fast instead of
    // OOMing the driver (the .offset-guard pattern from ADVICE r13).
    // The C²·k BigInt fixed point is measured in SCALE.md ("Round-14
    // martech tier", the Markov solve entry): ~10³ states stays
    // sub-minute on one core.
    val maxEdges = (maxChannels.toLong + 3) * (maxChannels.toLong + 3)
    val probe = transitions.select("src", "dst", "cnt")
      .limit((maxEdges + 1).min(Int.MaxValue.toLong).toInt).collect()
    require(probe.length <= maxEdges,
      s"removalEffects: > $maxEdges transition edges — the state space " +
        s"exceeds maxChannels=$maxChannels; this driver-side solve is " +
        "for channel-cardinality chains only. Aggregate states first " +
        "or raise maxChannels consciously.")
    val rows = probe.map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val out = rows.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val states = (rows.map(_._1) ++ rows.map(_._2))
      .filter(s => s != Conv && s != Null).distinct.sorted
    require(states.length <= maxChannels + 1, // channels + START
      s"removalEffects: ${states.length - 1} channels exceed " +
        s"maxChannels=$maxChannels — raise the bound consciously")
    // pre-index edges by source once: the fixed point is then
    // O(k·E) per absorption instead of O(k·C·E)
    val bySrc = rows.groupBy(_._1)
    def absorb(removed: Option[String]): Map[String, BigInt] = {
      var p = states.map(_ -> BigInt(0)).toMap
      for (_ <- 0 until k) {
        def valOf(t: String): BigInt =
          if (t == Conv) Scale
          else if (t == Null) BigInt(0)
          else if (removed.contains(t)) BigInt(0)
          else p.getOrElse(t, BigInt(0))
        p = states.map { s =>
          val num = bySrc.getOrElse(s, Array.empty[(String, String, Long)])
            .map { case (_, t, c) => BigInt(c) * valOf(t) }.sum
          s -> (if (out.getOrElse(s, 0L) == 0L) BigInt(0)
                else num / BigInt(out(s)))
        }.toMap
      }
      p
    }
    val base = absorb(None)
    val pBase = base.getOrElse(Start, BigInt(0))
    val channels = states.filter(_ != Start)
    val result = channels.toSeq.map { c =>
      val pRem = absorb(Some(c)).getOrElse(Start, BigInt(0))
      (c, pBase.toLong, pRem.toLong, (pBase - pRem).toLong)
    }
    val spark = transitions.sparkSession
    import spark.implicits._
    result.toDF("channel", "p_base_fp", "p_removed_fp", "removal_effect_fp")
  }
}
