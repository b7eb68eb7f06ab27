package graft.relational

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Shapley-value attribution — the cooperative-game member of the
  * attribution family ([[Attribution]] rule-based, [[MarkovAttribution]]
  * removal-effect): each conversion's credit is divided among the
  * channels in its claimed touch set by the Shapley value of the
  * coalition game, the standard "data-driven attribution" alternative
  * (Shapley 1953; Zhao et al. 2018, arXiv:1804.05327 for the
  * marketing application). Same martech domain as the reference's one
  * prod job (`conf/deployment.json:5-20`).
  *
  * EXACT closed form, no 2^n enumeration: with the characteristic
  * function v(S) = conversions whose claimed channel set ⊆ S, v
  * decomposes over unanimity games v = Σ_T c_T·u_T (c_T = conversions
  * with set exactly T), and Shapley is linear with φ_i(u_T) = 1/|T|
  * for i ∈ T — so
  *
  *   φ_i = Σ over observed sets T containing i of c_T / |T|.
  *
  * Everything is distributed and integer-exact: credits accumulate as
  * c_T · (L / |T|) with L = lcm(1..12) = 27720 (|T| always divides L),
  * so `shapley_num` is an order-free long sum and the coefficient is
  * ONE display division by the constant L. Σ_i φ_i = total converted
  * journeys with ≥ 1 claimed touch, exactly.
  *
  * Scale shape: the claim scan is [[Attribution.attributeTouches]]'
  * single entity window; the set build is one conversion-grain
  * aggregation (sets are ≤ |touchTypes| elements); credit rows are
  * (channel, long) pairs — no driver solve, no state-space collect,
  * nothing quadratic anywhere. */
object Shapley {

  val MaxChannels = 12
  val Lcm: Long = 27720L // lcm(1..12)

  def shapleyAttribution(events: DataFrame, entityCol: String, tsCol: String,
                         typeCol: String, idCol: String,
                         conversionType: String, touchTypes: Seq[String],
                         lookbackSeconds: Long): DataFrame = {
    require(touchTypes.size <= MaxChannels,
      s"exact-integer Shapley supports <= $MaxChannels channels " +
        s"(L = lcm(1..12)); got ${touchTypes.size}")
    val assigned = Attribution.claimScan(events, entityCol, tsCol, typeCol, idCol,
      conversionType, touchTypes, lookbackSeconds).filter(col("__claimed"))
    // per conversion: its DISTINCT channel set (sorted for a stable key)
    val sets = assigned
      .groupBy(col("__conv.cid").as("__cid"))
      .agg(array_sort(collect_set(col("__type"))).as("__set"))
      .groupBy(col("__set"))
      .agg(count(lit(1)).as("__c"))
    // unanimity-game credit: L/|T| per member, integer-exact
    val w = call_function("div", lit(Lcm), size(col("__set")).cast("long"))
    sets
      .select(explode(col("__set")).as("channel"),
        col("__c"), w.as("__w"))
      .groupBy(col("channel"))
      .agg(sum(col("__c")).as("n_conversions"),
        sum(col("__c") * col("__w")).as("shapley_num"))
      .select(col("channel"), col("n_conversions"), col("shapley_num"),
        // one display division of exact integers by the constant L
        (col("shapley_num").cast("double") /
          lit(Lcm).cast("double")).as("shapley"))
  }
}
