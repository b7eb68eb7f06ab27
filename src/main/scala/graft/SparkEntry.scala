package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.analyze.{Similarity, TextAnalysis => TA}
import graft.dedup.Dedup
import graft.transform.Sanity

/** Driver contract — one entry per implemented operator (SURVEY.md §2),
  * with a DuckDB-equivalent oracle for EVERY query (64/64 hash-match).
  *
  * Determinism policy (so Spark parquet output hash-matches the DuckDB
  * oracle bitwise):
  *  - sums/avgs over doubles go through exact DECIMAL arithmetic and are
  *    cast to double only at the end (order-independent, engine-exact);
  *  - avg = cast(sum_dec as double) / cast(count as double) — identical
  *    IEEE division in both engines;
  *  - every query ends in a total-order sort;
  *  - count-like outputs are pinned to BIGINT on both sides;
  *  - HASH-BASED operators (simhash, winnowing, KMV, LSH, IVF) use
  *    engine-portable hashes — the first 16 md5 hex chars as a 64-bit
  *    value, reproducible in SQL as ('0x'||substr(md5(x),1,16))::UBIGINT
  *    — and APPROXIMATE operators are made deterministic (md5-derived
  *    hyperplanes, sampled centroids), so their oracles implement the
  *    SAME algorithm in SQL and candidate sets match by construction;
  *  - vector math uses the exact-decimal fold (DotExactExpr): each
  *    product rounded to 12 dp exactly like the double→decimal cast,
  *    summed exactly — repartitioning can never change a result.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** decimal(12,2) view of a money/quantity double (TPC-H-scale safe). */
  private def dec2(c: Column): Column = c.cast("decimal(12,2)")
  /** decimal(6,4) view of a rate double (discount/tax in [0,1]). */
  private def dec4(c: Column): Column = c.cast("decimal(6,4)")
  private def dbl(c: Column): Column = c.cast("double")
  /** Exact sum of a double column via decimal(12,2), emitted as double. */
  private def sumd(c: Column): Column = dbl(sum(dec2(c)))

  /** Flagship query on sf0.001 (driver smoke-checks rows > 0): the
    * completed E1 pipeline shape — latest change per key from the events
    * changelog, sanity transforms, CleverTap payload envelope. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val ev = t(spark, dir, "events")
    val latest = Dedup.latestPerKey(ev, Seq("user_id"),
      Seq(col("ts").desc, col("event_id").desc))
    latest.select(
      col("user_id"),
      Sanity.profileEnvelope(
        Sanity.identity(Seq(col("user_id"))),
        Seq("event_type" -> col("event_type"),
            "value" -> col("value").cast("string"))).as("payload"))
  }

  // =====================================================================
  // Relational corpus (SURVEY §2.1 + §2.4 relational completeness)
  // =====================================================================

  private def q01_pricing_summary(s: SparkSession, dir: String): DataFrame = {
    // R: filter + groupBy + multi-agg (TPC-H Q1 shape). Filter pushed to scan.
    val li = t(s, dir, "lineitem")
    li.filter(col("l_shipdate") <= lit("1999-12-31 00:00:00").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sumd(col("l_quantity")).as("sum_qty"),
        sumd(col("l_extendedprice")).as("sum_base_price"),
        // High-scale decimal sums are rounded (HALF_UP, matching DuckDB's
        // round()) to scale 4 before the double cast: with the unscaled
        // value under 2^53 the decimal→double conversion is exactly
        // rounded in BOTH engines (DuckDB's wide-decimal→double cast is
        // off by 1 ulp otherwise, and its decimal→decimal cast truncates).
        round(sum(dec2(col("l_extendedprice")) * (lit(1).cast("decimal(6,4)") - dec4(col("l_discount")))), 4)
          .cast("double").as("sum_disc_price"),
        round(sum(dec2(col("l_extendedprice")) * (lit(1).cast("decimal(6,4)") - dec4(col("l_discount")))
          * (lit(1).cast("decimal(6,4)") + dec4(col("l_tax")))), 4)
          .cast("double").as("sum_charge"),
        (dbl(sum(dec2(col("l_quantity")))) / count(lit(1)).cast("double")).as("avg_qty"),
        (dbl(sum(dec2(col("l_extendedprice")))) / count(lit(1)).cast("double")).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  private def q02_filter_project(s: SparkSession, dir: String): DataFrame =
    // R3/R4/R10: predicate + IN-list filter + projection (pushdown/pruning).
    t(s, dir, "lineitem")
      .filter(col("l_returnflag").isin("A", "R") && col("l_quantity") > 45)
      .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity", "l_extendedprice")
      .orderBy("l_orderkey", "l_linenumber")

  private def q03_join_agg(s: SparkSession, dir: String): DataFrame = {
    // R11: inner equi-join + aggregation over the join result.
    val o = t(s, dir, "orders"); val c = t(s, dir, "customer")
    o.join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"), sumd(col("o_totalprice")).as("total_revenue"))
      .orderBy("c_mktsegment")
  }

  private def q04_join5_region_revenue(s: SparkSession, dir: String): DataFrame = {
    // TPC-H Q5 shape: 5-way join; small dims broadcast (region/nation).
    val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
    val c = t(s, dir, "customer"); val n = t(s, dir, "nation"); val r = t(s, dir, "region")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(round(sum(dec2(col("l_extendedprice")) * (lit(1).cast("decimal(6,4)") - dec4(col("l_discount")))), 4)
        .cast("double").as("revenue"),
        count(lit(1)).as("n_lineitems"))
      .orderBy("r_name", "n_name")
  }

  private def q05_broadcast_join(s: SparkSession, dir: String): DataFrame = {
    // Explicit broadcast of the part dim against the lineitem fact.
    val li = t(s, dir, "lineitem"); val p = t(s, dir, "part")
    li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
      .filter(col("p_size") <= 10)
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_items"), sumd(col("l_quantity")).as("sum_qty"))
      .orderBy("p_brand")
  }

  private def q06_semi_join(s: SparkSession, dir: String): DataFrame = {
    // LEFT SEMI (EXISTS): customers having at least one high-value order.
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders").filter(col("o_totalprice") > 400000)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")
  }

  private def q07_anti_join(s: SparkSession, dir: String): DataFrame = {
    // LEFT ANTI (NOT EXISTS): customers with no orders at all.
    val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  private def q08_left_join(s: SparkSession, dir: String): DataFrame = {
    // LEFT OUTER + aggregate: per-customer order count including zero.
    val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"),
        dbl(coalesce(sum(dec2(col("o_totalprice"))), lit(0).cast("decimal(12,2)"))).as("total_spent"))
      .orderBy("c_custkey")
  }

  private def q09_window_latest_order(s: SparkSession, dir: String): DataFrame = {
    // R9–R12: row_number window, rank=1 filter, deterministic tiebreak.
    val o = t(s, dir, "orders")
    Dedup.latestPerKey(o, Seq("o_custkey"),
        Seq(col("o_orderdate").desc, col("o_orderkey").desc))
      .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
      .orderBy("o_custkey")
  }

  private def q10_window_running(s: SparkSession, dir: String): DataFrame = {
    // Analytic window frame: exact running total per customer.
    val o = t(s, dir, "orders")
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    o.select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        dbl(sum(dec2(col("o_totalprice"))).over(w)).as("running_spend"))
      .orderBy("o_custkey", "o_orderdate", "o_orderkey")
  }

  private def q11_topk(s: SparkSession, dir: String): DataFrame =
    // Global top-k with deterministic tiebreak (sort + limit).
    t(s, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(20)
      .select("o_orderkey", "o_custkey", "o_totalprice")

  private def q12_distinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select("o_orderstatus", "o_orderpriority").distinct()
      .orderBy("o_orderstatus", "o_orderpriority")

  private def q13_set_ops(s: SparkSession, dir: String): DataFrame = {
    // UNION / INTERSECT / EXCEPT over nation keys.
    val cn = t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
    val sn = t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
    val both = cn.intersect(sn).withColumn("side", lit("both"))
    val custOnly = cn.except(sn).withColumn("side", lit("customer_only"))
    both.unionByName(custOnly).select("side", "nationkey").orderBy("side", "nationkey")
  }

  private def q14_rollup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), sumd(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  private def q15_count_distinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_suppkey")).as("n_suppliers"),
        countDistinct(col("l_partkey")).as("n_parts"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag")

  private def q16_having(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_parts"), dbl(max(dec2(col("p_retailprice")))).as("max_price"))
      .filter(col("n_parts") > 5)
      .orderBy("p_brand")

  private def q17_case_when(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .withColumn("price_band",
        when(col("o_totalprice") < 100000, "low")
          .when(col("o_totalprice") < 300000, "mid")
          .otherwise("high"))
      .groupBy(col("price_band"))
      .agg(count(lit(1)).as("n"), sumd(col("o_totalprice")).as("total"))
      .orderBy("price_band")

  private def q18_string_funcs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part").select(
        col("p_partkey"),
        upper(col("p_name")).as("name_upper"),
        length(col("p_name")).cast("long").as("name_len"),
        substring(col("p_name"), 1, 8).as("name_prefix"),
        concat_ws(":", col("p_brand"), col("p_type")).as("brand_type"),
        regexp_replace(col("p_type"), " ", "_").as("type_snake"))
      .orderBy("p_partkey")

  private def q19_date_funcs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(year(col("l_shipdate")).as("ship_year"),
        month(col("l_shipdate")).as("ship_month"))
      .agg(count(lit(1)).as("n"), sumd(col("l_extendedprice")).as("revenue"))
      .orderBy("ship_year", "ship_month")

  private def q20_in_filter(s: SparkSession, dir: String): DataFrame =
    // R10: IN-list on the events stream table.
    t(s, dir, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sumd(col("value")).as("total_value"))
      .orderBy("event_type")

  private def q35_cube(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), sumd(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  private def q36_lag_lead(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    t(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"))
      .orderBy("o_custkey", "o_orderkey")
  }

  private def q37_first_last(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    t(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        first(col("o_totalprice")).over(w).as("first_price"),
        last(col("o_totalprice")).over(w).as("last_price"))
      .orderBy("o_custkey", "o_orderkey")
  }

  private def q38_union_all(s: SparkSession, dir: String): DataFrame = {
    // UNION ALL preserves duplicates (vs q13's set semantics).
    val o = t(s, dir, "orders")
    o.filter(col("o_totalprice") < 100000).select("o_orderstatus")
      .unionAll(o.filter(col("o_orderpriority") === "1-URGENT").select("o_orderstatus"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"))
      .orderBy("o_orderstatus")
  }

  private def q39_scalar_subquery(s: SparkSession, dir: String): DataFrame = {
    // Orders above the (exact) average price; the scalar is computed with
    // the same decimal-exact avg on both sides, so the cut is identical.
    val o = t(s, dir, "orders")
    val avgExact = o.agg((dbl(sum(dec2(col("o_totalprice")))) /
      count(lit(1)).cast("double")).as("avg_price"))
    o.crossJoin(broadcast(avgExact))
      .filter(col("o_totalprice") > col("avg_price"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sumd(col("o_totalprice")).as("total"))
      .orderBy("o_orderpriority")
  }

  // =====================================================================
  // Incremental / changelog pipeline (SURVEY §2.1 R6–R13)
  // =====================================================================

  private def q21_latest_change_per_key(s: SparkSession, dir: String): DataFrame =
    // The reference's core dedup (latest change per customer) in window form.
    Dedup.latestPerKey(t(s, dir, "events"), Seq("user_id"),
        Seq(col("ts").desc, col("event_id").desc))
      .select("user_id", "event_id", "event_type", "value", "ts")
      .orderBy("user_id")

  private def q47_latest_change_agg(s: SparkSession, dir: String): DataFrame =
    // Same semantics as q21 in the skew-resistant aggregate form:
    // max(struct(ts, event_id, …)) per key gets map-side partial
    // aggregation — one candidate per key per partition crosses the
    // shuffle (the 100 TB-preferred form for hot keys).
    Dedup.latestPerKeyAgg(t(s, dir, "events"), Seq("user_id"), Seq("ts", "event_id"))
      .select("user_id", "event_id", "event_type", "value", "ts")
      .orderBy("user_id")

  private def q22_changefeed_since(s: SparkSession, dir: String): DataFrame =
    // R6: bookmarked incremental scan (timestamp-range filter, pushed down).
    t(s, dir, "events")
      .filter(col("ts") > lit("2024-01-15 00:00:00").cast("timestamp"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sumd(col("value")).as("total_value"))
      .orderBy("event_type")

  // =====================================================================
  // Sanity-transform library exercised end-to-end (SURVEY §2.2)
  // =====================================================================

  /** Messy synthetic mobile-number column derived deterministically from
    * events (the testdata has no dirty columns; the oracle derives the
    * identical mess). */
  private def mobileRaw: Column =
    when(col("event_id") % 17 === 0, lit("not-a-number"))
      .when(col("event_id") % 13 === 0,
        concat((lit(9100000000L) + col("event_id")).cast("string"), lit(".0")))
      .when(col("event_id") % 11 === 0, (lit(91000L) + col("event_id")).cast("string"))
      .otherwise((lit(9100000000L) + col("event_id")).cast("string"))

  private def q23_typemap_sanity(s: SparkSession, dir: String): DataFrame =
    // T5 mobile_sanity + T7 modify_reward + T8 unix_epoch.
    t(s, dir, "events").select(
        col("event_id"),
        Sanity.mobileSanity(mobileRaw).as("mobile"),
        Sanity.modifyReward(col("value")).as("reward_paise"),
        Sanity.unixEpoch(date_format(col("ts"), "yyyy-MM-dd")).as("d_epoch"))
      .orderBy("event_id")

  /** Messy DOB column: pre-1900 years, " BC" suffix, datetime format,
    * garbage — each reference quirk (B6) represented. */
  private def dobRaw: Column = {
    val d = make_date(lit(1850) + col("event_id") % 200,
      lit(1) + col("event_id") % 12, lit(1) + col("event_id") % 28)
    val base = date_format(d, "yyyy-MM-dd")
    when(col("event_id") % 19 === 0, lit("garbage"))
      .when(col("event_id") % 17 === 0, concat(base, lit(" BC")))
      .when(col("event_id") % 23 === 0, concat(base, lit(" 10:30:00")))
      .otherwise(base)
  }

  private def q24_fix_dob(s: SparkSession, dir: String): DataFrame =
    // T6 fix_dob (1952 sentinel, B6) + T10 birth date.
    t(s, dir, "events").select(
        col("event_id"),
        dobRaw.as("dob_raw"),
        Sanity.fixDob(dobRaw).as("dob_fixed"),
        Sanity.birthDate(dobRaw).as("birth_day"))
      .orderBy("event_id")

  private def q25_identity(s: SparkSession, dir: String): DataFrame = {
    // T1 identity_field_check with the documented falsy contract.
    val c1 = when(col("user_id") % 10 === 0, lit(""))
      .when(col("user_id") % 7 === 0, lit("0"))
      .when(col("user_id") % 5 === 0, lit(null).cast("string"))
      .otherwise(col("user_id").cast("string"))
    val c2 = when(col("event_id") % 3 === 0, col("event_id").cast("string"))
      .otherwise(lit(null).cast("string"))
    t(s, dir, "events").select(
        col("event_id"),
        Sanity.identity(Seq(c1, c2)).as("identity"))
      .withColumn("is_valid", col("identity").isNotNull)
      .orderBy("event_id")
  }

  private def q26_payload_envelope(s: SparkSession, dir: String): DataFrame =
    // T11: CleverTap profile JSON envelope (all-string fields → identical
    // JSON text across engines).
    t(s, dir, "events").select(
        col("event_id"),
        Sanity.profileEnvelope(
          Sanity.identity(Seq(col("user_id"), col("event_id"))),
          Seq("event_type" -> col("event_type"),
              "user" -> col("user_id").cast("string"))).as("payload"))
      .orderBy("event_id")

  private def q46_json_signals(s: SparkSession, dir: String): DataFrame =
    // T9-shaped JSON signal extraction from the events props column,
    // aggregated per event type.
    t(s, dir, "events")
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        max(col("k")).as("max_k"))
      .orderBy("event_type")

  private def q65_unix_epoch(s: SparkSession, dir: String): DataFrame = {
    // T8 dedicated gate: "$D_<epochSeconds>" CleverTap encoding over a
    // derived date string; unparseable input → NULL (B5). The session
    // time zone is pinned UTC (Verify/Bench/tests), matching DuckDB's
    // naive-timestamp epoch().
    val raw = when(col("event_id") % 7 === 0, lit("not-a-date"))
      .otherwise(date_format(
        date_add(col("ts"), (col("event_id") % 365).cast("int")), "yyyy-MM-dd"))
    t(s, dir, "events").select(
        col("event_id"), raw.as("d_raw"), Sanity.unixEpoch(raw).as("d_epoch"))
      .orderBy("event_id")
  }

  private def q66_birth_date(s: SparkSession, dir: String): DataFrame = {
    // T10 dedicated gate on the leap-day edge q24 never hits: every raw
    // DOB is a Feb-29. Pre-1900 leap years take the sentinel year — 1952
    // is itself a leap year precisely so Feb-29 survives (B6) — and the
    // non-existent 1900-02-29 parses to NULL in both engines.
    val dob = concat((lit(1804) + (col("event_id") % 50) * 4).cast("string"),
      lit("-02-29"))
    t(s, dir, "events").select(
        col("event_id"), dob.as("dob_raw"),
        Sanity.birthDate(dob).as("birth_day"))
      .orderBy("event_id")
  }

  // =====================================================================
  // Text analysis (SURVEY §2.4)
  // =====================================================================

  private def q67_tfidf_topk(s: SparkSession, dir: String): DataFrame =
    // TF-IDF top terms, ratio damping (exact integer inputs + one IEEE
    // division — engine-reproducible; the ln-damped variant is spec-gated
    // because libm transcendentals differ across engines).
    TA.tfidfTopTerms(t(s, dir, "documents"), "doc_id", "text", k = 25)
      .orderBy("rank")

  private def q68_sequence_packing(s: SparkSession, dir: String): DataFrame =
    // Context-window packing: per-shard (lang) exclusive running token
    // count → 2048-token bins; per-bin doc/token totals.
    TA.packSequences(t(s, dir, "documents"), "doc_id", "text",
        tokenBudget = 2048, shardCol = col("lang"))
      .orderBy("shard", "bin")

  private def q69_hash_sample(s: SparkSession, dir: String): DataFrame =
    // Deterministic md5-keyed 15% sample (3 of 20 residues) — the
    // reproducible subset primitive for ablations/eval splits.
    TA.hashSample(t(s, dir, "documents"), "doc_id", modulus = 20, keep = 3)
      .select(col("doc_id"), col("lang"),
        TA.hashSampleKey(col("doc_id")).as("h"))
      .orderBy("doc_id")

  private def q27_text_stats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
        col("doc_id"),
        length(col("text")).cast("long").as("len_chars"),
        TA.tokenCount(col("text")).cast("long").as("n_tokens"),
        TA.bpeishTokenCount(col("text")).cast("long").as("n_bpeish"))
      .orderBy("doc_id")

  private def q28_lang_profile(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text")).cast("long")).as("total_chars"),
        min(length(col("text")).cast("long")).as("min_chars"),
        max(length(col("text")).cast("long")).as("max_chars"),
        (sum(length(col("text")).cast("long")).cast("double") /
          count(lit(1)).cast("double")).as("avg_chars"))
      .orderBy("lang")
  }

  private def q29_quality_score(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
        col("doc_id"),
        TA.stopwordRatio(col("text")).as("stopword_ratio"),
        TA.punctRatio(col("text")).as("punct_ratio"),
        TA.meanWordLength(col("text")).as("mean_word_len"),
        TA.qualityScore(col("text")).as("quality"))
      .orderBy("doc_id")

  private def q30_fingerprint_dedup(s: SparkSession, dir: String): DataFrame =
    // Exact dedup via content fingerprint (md5 of normalized text).
    t(s, dir, "documents")
      .select(col("doc_id"), TA.fingerprint(col("text")).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))
      .orderBy("keep_doc_id")

  private def q31_token_topk(s: SparkSession, dir: String): DataFrame =
    // Token frequency top-k: explode + groupBy + ordered limit.
    t(s, dir, "documents")
      .select(explode(TA.tokens(lower(col("text")))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(30)

  private def q32_exact_dedup_rows(s: SparkSession, dir: String): DataFrame =
    // Exact dedup keeping deterministic representative (min doc_id).
    Dedup.exactDedup(
        t(s, dir, "documents").select(col("doc_id"), col("lang"), col("source")),
        Seq("lang", "source"), col("doc_id"))
      .orderBy("lang", "source")

  // =====================================================================
  // Similarity search (SURVEY §2.4)
  // =====================================================================

  private def q33_cosine_topk(s: SparkSession, dir: String): DataFrame = {
    // Brute-force cosine top-5 for a fixed query set, exact-decimal math.
    cosineTop5(t(s, dir, "embeddings"))
      .select("query_id", "neighbor_id", "cos_sim", "rank")
      .orderBy("query_id", "rank")
  }

  /** Exact cosine top-5 neighbours of vectors 0-7 among `emb`'s
    * (`vec_id`, `embedding`) rows, with `cos_sim` and 1-based `rank`
    * (ties to the smaller neighbour id), exact-decimal dot products. */
  private def cosineTop5(emb: DataFrame): DataFrame = {
    val q = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        Similarity.dotExact(col("embedding"), col("embedding")).as("qn2"))
    val c = Similarity.ensureParallelism(emb)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"),
        Similarity.dotExact(col("embedding"), col("embedding")).as("cn2"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      // norms precomputed once per vector; only the dot is per-pair
      .withColumn("cos_sim",
        when(sqrt(col("qn2")) * sqrt(col("cn2")) > 0,
          Similarity.dotExact(col("qv"), col("cv")) /
            (sqrt(col("qn2")) * sqrt(col("cn2")))).otherwise(lit(0.0)))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
  }

  private def q34_embedding_stats(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
      .withColumn("norm2", Similarity.dotExact(col("embedding"), col("embedding")))
    emb.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vectors"),
        min(size(col("embedding")).cast("long")).as("dim"),
        min(col("norm2")).as("min_norm2"),
        max(col("norm2")).as("max_norm2"))
      .orderBy("label")
  }

  // =====================================================================
  // Rows-only queries (not SQL-expressible in the DuckDB oracle: engine-
  // specific hashing). Correctness covered by ScalaTest specs instead.
  // =====================================================================

  private def q40_minhash_neardups(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashNearDups(t(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, numHashes = 64, bands = 32, threshold = 0.3,
        gramHash = "xxhash64")
      .orderBy("id_a", "id_b")

  private def q41_simhash_neardups(s: SparkSession, dir: String): DataFrame =
    // maxHamming = 8 ⇒ 9 blocking chunks (exact by pigeonhole; see Dedup
    // scaladoc). md5Compat makes the signatures — and so the pair set —
    // reproducible by the DuckDB oracle's SQL simhash.
    Dedup.simhashNearDups(t(s, dir, "documents"), "doc_id", "text",
        maxHamming = 8, md5Compat = true, allowWideRadius = true)
      .orderBy("id_a", "id_b")

  private def q99_simhash_banded(s: SparkSession, dir: String): DataFrame =
    // The measured scale mitigation for the radius-8 regime (SCALE.md
    // round-8 exponents: exact 9-chunk blocking 1.75, banded 4×16 0.97):
    // wider chunks, 2^16 bucket keys, ~77 % recall at d=8. The recall
    // loss is DETERMINISTIC — a pair survives iff at least one 16-bit
    // chunk is error-free — so the oracle replays it as a chunk-equality
    // predicate over the same SQL simhash signatures as q41.
    Dedup.simhashNearDupsBanded(t(s, dir, "documents"), "doc_id", "text",
        maxHamming = 8, nChunks = 4, md5Compat = true)
      .orderBy("id_a", "id_b")

  private def q100_bloom_semi_join(s: SparkSession, dir: String): DataFrame = {
    // q06's semi join through the Bloom pre-filter rewrite: the sketch
    // drops non-matching big-side rows BEFORE the shuffle (the 100 TB
    // shuffle-volume win); the finish join removes the fpp residue, so
    // the result must be bit-identical to the plain left_semi — which is
    // the oracle (same rewrite-equivalence gate as the salted join q91).
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders").filter(col("o_totalprice") > 400000)
      .select(col("o_custkey"))
    graft.relational.Relational.bloomSemiJoin(c, o, "c_custkey", "o_custkey",
        expectedItems = 10000L)
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")
  }

  private def q101_asof_nearest(s: SparkSession, dir: String): DataFrame =
    // Nearest as-of join (third variant beside q52 backward / q71
    // forward): each event picks whichever order — latest at-or-before
    // or earliest at-or-after — sits closer in time, past winning exact
    // ties. Distances compare as exact integer microseconds on both
    // engines (unix_micros / epoch_us); event timestamps are µs-
    // truncated from the parquet nanos identically on both sides.
    graft.relational.Relational.asofJoinNearest(
        t(s, dir, "events").select("event_id", "user_id", "ts"),
        t(s, dir, "orders").select(col("o_custkey").as("user_id"),
          col("o_orderdate"), col("o_orderkey"), col("o_totalprice")),
        key = "user_id", leftTs = "ts", rightTs = "o_orderdate",
        tiebreak = "o_orderkey", payload = Seq("o_orderkey", "o_totalprice"))
      .select(col("event_id"), col("user_id"),
        col("matched_o_orderkey"), col("matched_o_totalprice"))
      .orderBy("event_id")

  private def q42_ngram_jaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, threshold = 0.4, gramHash = "xxhash64")
      .orderBy("id_a", "id_b")

  private def q43_lsh_topk(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.lshTopK(emb, emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 5, bits = 32, bands = 4)
      .orderBy("query_id", "rank")
  }

  private def q44_lang_id(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("toks", TA.tokens(lower(col("text"))))
      .select(col("doc_id"), col("lang"), TA.langIdFromTokens(col("toks")).as("lang_pred"))
      .orderBy("doc_id")

  private def q45_cosine_neardups(s: SparkSession, dir: String): DataFrame =
    Similarity.cosineNearDups(t(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.8, bits = 32, bands = 4)
      .orderBy("id_a", "id_b")

  private def q107_cluster_sample(s: SparkSession, dir: String): DataFrame = {
    // Cluster-balanced sampling: at most 25 vectors per IVF cell by
    // ascending md5 hash key — head clusters stop dominating the
    // sample. Same deterministic assignment as q48, same hash key as
    // the flat/stratified samplers, so the oracle replays both.
    val emb = t(s, dir, "embeddings")
    val index = graft.analyze.Ivf.buildSampled(emb, "vec_id", "embedding", nlist = 16)
    graft.analyze.Ivf.clusterBalancedSample(index, quota = 25)
      .withColumnRenamed("id", "vec_id")
      .orderBy("cell", "rank")
  }

  private def q48_ivf_topk(s: SparkSession, dir: String): DataFrame = {
    // IVF scale path: sampled-centroid cells (deterministic, oracle-
    // verifiable — Ivf.build keeps the k-means alternative), nprobe-
    // bounded search with exact-decimal scoring.
    val emb = t(s, dir, "embeddings")
    val index = graft.analyze.Ivf.buildSampled(emb, "vec_id", "embedding", nlist = 16)
    graft.analyze.Ivf.search(index, emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", k = 5, nprobe = 4)
      .orderBy("query_id", "rank")
  }

  private def q50_grouping_sets(s: SparkSession, dir: String): DataFrame = {
    // Explicit GROUPING SETS (rollup/cube's general form) via the SQL
    // surface — Catalyst expands to one Expand + single aggregation.
    t(s, dir, "orders").createOrReplaceTempView("orders_gs")
    s.sql("""
      SELECT o_orderstatus, o_orderpriority,
             COUNT(*) AS n,
             CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total
      FROM orders_gs
      GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      ORDER BY o_orderstatus, o_orderpriority, n""")
  }

  private def q51_range_join(s: SparkSession, dir: String): DataFrame = {
    // Non-equi range-bin join against a metadata-sized tier table —
    // broadcast nested-loop, fact side never shuffles.
    import s.implicits._
    val bins = Seq(("low", 0.0, Some(10.0)), ("mid", 10.0, Some(100.0)),
      ("high", 100.0, None)).toDF("tier", "lo", "hi")
      .select(col("tier"), col("lo"), col("hi").cast("double"))
    graft.relational.Relational.rangeBinJoin(
        t(s, dir, "events").filter(col("value").isNotNull), bins, "value")
      .groupBy(col("tier"))
      .agg(count(lit(1)).as("n"),
        (round(sum(col("value").cast("decimal(18,6)")), 4)).cast("double").as("sum_value"))
      .orderBy("tier")
  }

  private def q52_asof_join(s: SparkSession, dir: String): DataFrame =
    // Backward as-of join: each event picks the latest order (by
    // o_orderdate, tiebreak o_orderkey) at or before its timestamp —
    // single-shuffle union+window implementation, no pair explosion.
    graft.relational.Relational.asofJoinBackward(
        t(s, dir, "events").select("event_id", "user_id", "ts"),
        t(s, dir, "orders").select(col("o_custkey"), col("o_orderdate"),
          col("o_orderkey"), col("o_totalprice")).withColumnRenamed("o_custkey", "user_id"),
        key = "user_id", leftTs = "ts", rightTs = "o_orderdate",
        tiebreak = "o_orderkey", payload = Seq("o_orderkey", "o_totalprice"))
      .select(col("event_id"), col("user_id"),
        col("matched_o_orderkey"), col("matched_o_totalprice"))
      .orderBy("event_id")

  private def q71_asof_forward(s: SparkSession, dir: String): DataFrame =
    // Forward as-of join (time mirror of q52): each event picks the
    // EARLIEST order at or after its timestamp — next-event attribution.
    graft.relational.Relational.asofJoinForward(
        t(s, dir, "events").select("event_id", "user_id", "ts"),
        t(s, dir, "orders").select(col("o_custkey"), col("o_orderdate"),
          col("o_orderkey"), col("o_totalprice")).withColumnRenamed("o_custkey", "user_id"),
        key = "user_id", leftTs = "ts", rightTs = "o_orderdate",
        tiebreak = "o_orderkey", payload = Seq("o_orderkey", "o_totalprice"))
      .select(col("event_id"), col("user_id"),
        col("matched_o_orderkey"), col("matched_o_totalprice"))
      .orderBy("event_id")

  private def q72_l2_normalize(s: SparkSession, dir: String): DataFrame =
    // L2 normalization, emitted long-form (vec_id, dim, value) so the
    // compare is over scalars; exact-decimal norm + IEEE division.
    t(s, dir, "embeddings")
      .select(col("vec_id"), Similarity.normalizeL2(col("embedding")).as("nv"))
      .select(col("vec_id"), posexplode(col("nv")).as(Seq("i", "x")))
      .orderBy("vec_id", "i")

  private def q73_mean_pool(s: SparkSession, dir: String): DataFrame =
    // Per-dimension mean pooling over residue groups — one
    // partial-aggregating shuffle on (group, dim), exact-decimal sums.
    Similarity.meanPool(t(s, dir, "embeddings"),
        col("vec_id") % 10, col("embedding"))
      .orderBy("grp", "i")

  private def q74_contamination(s: SparkSession, dir: String): DataFrame = {
    // Benchmark decontamination: even doc_ids play the training corpus,
    // odd ones the eval set; report eval docs sharing any 3-gram.
    val docs = t(s, dir, "documents")
    Dedup.contamination(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", n = 3, minShared = 1,
        gramHash = "xxhash64")
      .orderBy("doc_id")
  }

  private def q75_repetition_profile(s: SparkSession, dir: String): DataFrame =
    // Gopher-style repetition/diversity quality metrics, computed
    // per-row with no shuffle (sorted-run fold over the doc's own token
    // array — never an explode of the corpus token stream).
    TA.repetitionProfile(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  private def q76_pii_scrub(s: SparkSession, dir: String): DataFrame = {
    // PII audit + redaction. The corpus is synthetic word soup, so the
    // query plants deterministic PII derived from doc_id (two docs in
    // three get an email + IP + phone appended; the third stays clean)
    // and then audits/scrubs it — both engines build the identical
    // input, so counts and scrubbed text hash-match.
    val id = col("doc_id")
    val planted = concat(col("text"),
      lit(" contact user"), id.cast("string"),
      lit("@mail.example ip 10.2."), (id % 256).cast("string"),
      lit("."), (id % 100).cast("string"),
      lit(" call 555-867-"), lpad((id % 10000).cast("string"), 4, "0"))
    t(s, dir, "documents")
      .withColumn("text", when(id % 3 === 0, col("text")).otherwise(planted))
      .transform(TA.piiProfile(_, "doc_id", "text"))
      .orderBy("doc_id")
  }

  private def q77_semdedup(s: SparkSession, dir: String): DataFrame = {
    // SemDeDup: IVF cells as the blocking unit, within-cell exact-decimal
    // cosine, drop any vector with a lower-id near-neighbor. Survivor
    // set (vec_id, cell), deterministic end to end.
    val emb = t(s, dir, "embeddings")
    val index = graft.analyze.Ivf.buildSampled(emb, "vec_id", "embedding", nlist = 16)
    graft.analyze.Ivf.semDedup(index, threshold = 0.3)
      .select(col("id").as("vec_id"), col("cell"))
      .orderBy("vec_id")
  }

  private def q78_stratified_sample(s: SparkSession, dir: String): DataFrame =
    // Language-rebalancing sample: en down to 25%, de up-weighted to
    // 50%, zh to 10%, everything else 20% — per-row membership is
    // deterministic (md5 residue), so the oracle checks row identity,
    // not just counts.
    TA.stratifiedHashSample(t(s, dir, "documents"), "doc_id", "lang",
        modulus = 100,
        keepByStratum = Map("en" -> 25, "de" -> 50, "zh" -> 10),
        defaultKeep = 20)
      .select(col("doc_id"), col("lang"),
        TA.hashSampleKey(col("doc_id")).as("h"))
      .orderBy("doc_id")

  private def q79_span_dedup(s: SparkSession, dir: String): DataFrame =
    // Repeated 5-token spans shared across >= 2 docs: per-doc duplicated
    // coverage + 20% flag — boilerplate-passage detection, the
    // suffix-array dedup approximation.
    Dedup.duplicatedSpanCoverage(t(s, dir, "documents"), "doc_id", "text",
        k = 5, minDocs = 2)
      .orderBy("doc_id")

  private def q80_crossdup_contamination(s: SparkSession, dir: String): DataFrame = {
    // Near-dup decontamination: eval docs (odd ids) with a MinHash/LSH
    // near-duplicate in the train split (even ids) — q74's exact-overlap
    // check misses paraphrased leakage; this catches it at J >= 0.3.
    val docs = t(s, dir, "documents")
    Dedup.crossNearDups(
        docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", shingleN = 3, numHashes = 64, bands = 32,
        threshold = 0.3)
      .select(col("id_a").as("eval_id"), col("id_b").as("train_id"),
        col("jaccard"))
      .orderBy("eval_id", "train_id")
  }

  private def q81_pq_topk(s: SparkSession, dir: String): DataFrame = {
    // Product quantization: 4×16-dim sampled codebooks, kernel-encoded
    // codes, decimal-exact ADC top-5 for the first 8 query vectors.
    import graft.analyze.Pq
    val emb = t(s, dir, "embeddings")
    val cb = Pq.buildSampled(emb, "vec_id", "embedding", m = 4, ks = 16)
    val codes = Pq.encode(emb, "vec_id", "embedding", cb)
    Pq.adcTopK(codes, emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        cb, k = 5)
      .orderBy("query_id", "rank")
  }

  private def q82_incremental_dedup(s: SparkSession, dir: String): DataFrame = {
    // Incremental-ingest dedup: a new batch (doc_id % 5 == 4) lands
    // against the historical corpus — dedup within the batch (keep
    // lowest id per fingerprint), then anti-join the batch's
    // fingerprints against history. The historical side reduces to
    // DISTINCT fingerprints (16-byte rows, map-side combined) — document
    // text never shuffles, which is what makes daily ingest against a
    // 100 TB archive tractable.
    val docs = t(s, dir, "documents")
      .withColumn("fp", TA.fingerprint(col("text")))
    val hist = docs.filter(col("doc_id") % 5 =!= 4).select("fp").distinct()
    val batch = docs.filter(col("doc_id") % 5 === 4)
    val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
    batch
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .join(hist, Seq("fp"), "left_anti")
      .select(col("doc_id"), col("lang"), col("fp"))
      .orderBy("doc_id")
  }

  private def q83_ivfpq_topk(s: SparkSession, dir: String): DataFrame = {
    // IVFPQ: probe 4 of 16 IVF cells, ADC-score only probed candidates
    // against 4×16 PQ codebooks — the composition of the q48 and q81
    // halves, and the standard billion-vector ANN layout.
    import graft.analyze.{Ivf, Pq}
    val emb = t(s, dir, "embeddings")
    val ivf = Ivf.buildSampled(emb, "vec_id", "embedding", nlist = 16)
    val cb = Pq.buildSampled(emb, "vec_id", "embedding", m = 4, ks = 16)
    val codes = Pq.encode(emb, "vec_id", "embedding", cb)
    Pq.ivfpqTopK(ivf, cb, codes, emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", k = 5, nprobe = 4)
      .orderBy("query_id", "rank")
  }

  private def q84_curation_pipeline(s: SparkSession, dir: String): DataFrame = {
    // Capstone curation composite, every stage an oracle-verified
    // operator: plant deterministic PII (q76's fixture) → scrub →
    // repetition-quality gate on the scrubbed text (q75) → exact dedup
    // by fingerprint (q30) → stratified down-sample (q78) → per-language
    // profile. Stage order matters and the oracle verifies the
    // interactions (e.g. scrubbing changes fingerprints and token
    // counts), not just each stage alone.
    val id = col("doc_id")
    val planted = concat(col("text"),
      lit(" contact user"), id.cast("string"),
      lit("@mail.example ip 10.2."), (id % 256).cast("string"),
      lit("."), (id % 100).cast("string"),
      lit(" call 555-867-"), lpad((id % 10000).cast("string"), 4, "0"))
    val scrubbed = t(s, dir, "documents")
      .withColumn("text",
        TA.scrubPii(when(id % 3 === 0, col("text")).otherwise(planted)))
    val kept = TA.repetitionGate(scrubbed, "text")
    val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
    val deduped = kept.withColumn("fp", TA.fingerprint(col("text")))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
    val sampled = TA.stratifiedHashSample(deduped, "doc_id", "lang",
      modulus = 100, keepByStratum = Map("en" -> 40, "de" -> 60),
      defaultKeep = 50)
    sampled.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text")).cast("long")).as("total_chars"),
        min(col("doc_id")).as("min_doc_id"), max(col("doc_id")).as("max_doc_id"))
      .orderBy("lang")
  }

  private def q53_corpus_prep(s: SparkSession, dir: String): DataFrame = {
    // Flagship training-data composite: quality gate → exact dedup by
    // content fingerprint (keep lowest doc_id) → near-dup removal (drop
    // the higher id of every qualifying Jaccard pair) → language profile
    // of the surviving corpus. Every stage is an operator tested above;
    // this query is their composition, end to end.
    val docs = t(s, dir, "documents")
    val quality = docs.filter(TA.qualityScore(col("text")) >= 0.75)
    // materialized: exactKept feeds the near-dup candidate join AND the
    // survivor anti-join — the quality-kernel scan + fingerprint window
    // would otherwise run once per consumer
    val exactKept = Dedup.exactDedup(
      quality.select(col("doc_id"), col("lang"),
        TA.fingerprint(col("text")).as("fp")),
      Seq("fp"), col("doc_id")).select("doc_id", "lang")
      .localCheckpoint(true)
    // feed near-dup detection from the raw table joined to kept ids:
    // re-deriving the quality frame here would re-run its regexes once
    // per internal reuse of the PPJoin pipeline
    val nearPairs = Dedup.ngramJaccardPairs(
      docs.select("doc_id", "text").join(exactKept.select("doc_id"), Seq("doc_id")),
      "doc_id", "text", shingleN = 3, threshold = 0.4)
    val survivors = exactKept.join(
      nearPairs.select(col("id_b").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")
    survivors.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_doc_id"), max(col("doc_id")).as("max_doc_id"))
      .orderBy("lang")
  }

  private def q54_winnow_pairs(s: SparkSession, dir: String): DataFrame =
    // Winnowing (MOSS) fingerprint overlap: pairs sharing >= 3 window-min
    // gram hashes. md5-based hashes make the whole sketch reproducible by
    // the SQL oracle.
    Dedup.winnowedPairs(t(s, dir, "documents"), "doc_id", "text",
        n = 3, w = 4, minShared = 3)
      .orderBy("id_a", "id_b")

  private def q55_kmv_distinct(s: SparkSession, dir: String): DataFrame = {
    // KMV distinct sketch (custom typed Aggregator, bounded O(k) state,
    // map-side mergeable) next to the exact count it approximates —
    // exact-integer estimate math, verified bit-for-bit by the oracle.
    import graft.analyze.KmvDistinct
    val toks = t(s, dir, "documents")
      .select(col("lang"), explode(TA.tokens(lower(col("text")))).as("tok"))
      .filter(length(col("tok")) > 0)
    toks.select(col("lang"), KmvDistinct.md5Low64(col("tok")).as("h"))
      .groupBy(col("lang"))
      .agg(countDistinct(col("h")).as("exact_distinct"),
        KmvDistinct.udafFor(64)(col("h")).as("kmv_estimate"))
      .orderBy("lang")
  }

  private def q56_percentiles(s: SparkSession, dir: String): DataFrame =
    // Exact interpolated percentiles: Spark's percentile() and DuckDB's
    // quantile_cont use the same (1-g)*a + g*b interpolation — verified
    // bitwise. (percentile_approx is the sketch alternative; it is NOT
    // cross-engine comparable, which is why the exact form is the gate.)
    t(s, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(expr("percentile(o_totalprice, 0.25)").as("p25"),
        expr("percentile(o_totalprice, 0.5)").as("p50"),
        expr("percentile(o_totalprice, 0.9)").as("p90"),
        count(lit(1)).as("n"))
      .orderBy("o_orderstatus")

  private def q57_session_agg(s: SparkSession, dir: String): DataFrame =
    // Batch sessionization with the SAME session_window operator the
    // streaming path uses: sessions extend while events arrive within the
    // gap; session end = last event + gap. Oracle = gaps-and-islands SQL.
    t(s, dir, "events")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))
      .orderBy("user_id", "session_start")

  private def q58_pivot(s: SparkSession, dir: String): DataFrame =
    // Pivot: per-user event-type counts as columns (Spark relational
    // pivot ≡ conditional aggregation — which is exactly the oracle SQL).
    t(s, dir, "events")
      .groupBy(col("user_id"))
      .pivot(col("event_type"), Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("user_id")

  private def q59_media_roundtrip(s: SparkSession, dir: String): DataFrame = {
    // Multimodal plumbing under the oracle gate: synthesize deterministic
    // binary media from doc lengths → decode (stub header parse) →
    // feature/resize plan. The oracle recomputes the dims arithmetically,
    // so a hash match proves the binary encode→decode roundtrip and the
    // partition-local decode pipeline preserve the metadata exactly.
    import graft.multimodal.MultiModal
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))
    val media = MultiModal.synthesizeFromDocs(docs)
    MultiModal.resizePlan(MultiModal.extractImageFeatures(media), maxSide = 256)
      .select(col("media_id"), col("width"), col("height"), col("channels"),
        col("aspect"), col("target_w"), col("target_h"))
      .orderBy("media_id")
  }

  private def q60_range_frame(s: SparkSession, dir: String): DataFrame = {
    // RANGE frame: per user, events and value-sum within the trailing
    // hour (inclusive) — ordered by exact integer MICROSECONDS
    // (unix_micros ≡ DuckDB epoch_us) so both engines frame identically.
    // Epoch SECONDS looked equivalent but was not: unix_timestamp floors
    // to the second while DuckDB's epoch() keeps fractional micros, so a
    // pair exactly 1h + a few µs apart framed differently — invisible at
    // sf0.01, caught by the sf0.1 cross-check (round 11). Value summed
    // decimal-exact per the parity policy.
    val w = Window.partitionBy(col("user_id"))
      .orderBy(unix_micros(col("ts")))
      .rangeBetween(-3600L * 1000000L, 0L)
    t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"),
        count(lit(1)).over(w).as("n_last_hour"),
        round(sum(col("value").cast("decimal(18,6)")).over(w), 4)
          .cast("double").as("value_last_hour"))
      .orderBy("event_id")
  }

  private def q61_column_profile(s: SparkSession, dir: String): DataFrame =
    // Ingest-QA column profile: rows/nulls/distincts per column in ONE
    // aggregation pass + unpivot.
    TA.columnProfile(t(s, dir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority"))
      .orderBy("col_name")

  private def q62_quantized_topk(s: SparkSession, dir: String): DataFrame = {
    // ANN over 8-bit quantized embeddings (the 4x-storage scale path):
    // exact-decimal cosine on the dequantized vectors, top-3 per query.
    // Deterministic quantization arithmetic → fully oracle-verified, so
    // the recall cost of quantization is measurable, not guessed.
    val emb = t(s, dir, "embeddings").filter(col("vec_id") % 10 === 0)
      .select(col("vec_id"),
        Similarity.quantizeDequantize(col("embedding")).as("dq"))
    val q = emb.filter(col("vec_id") < 80)
      .select(col("vec_id").as("query_id"), col("dq").as("qv"),
        Similarity.dotExact(col("dq"), col("dq")).as("qn2"))
    val c = Similarity.ensureParallelism(emb)
      .select(col("vec_id").as("neighbor_id"), col("dq").as("cv"),
        Similarity.dotExact(col("dq"), col("dq")).as("cn2"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", Similarity.cosineFromParts(
        Similarity.dotExact(col("qv"), col("cv")), col("qn2"), col("cn2")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select("query_id", "neighbor_id", "cos", "rank")
      .orderBy("query_id", "rank")
  }

  private def q63_neardup_clusters(s: SparkSession, dir: String): DataFrame = {
    // Near-dup survivorship: exact Jaccard pairs → connected components
    // (min-label clusters) → per-cluster membership. Deterministic labels
    // (min reachable id) make survivorship reproducible and oracle-able
    // (recursive-CTE transitive closure on the DuckDB side).
    val pairs = Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
      shingleN = 3, threshold = 0.4)
    Dedup.connectedComponents(pairs, "id_a", "id_b")
      .select(col("id").as("doc_id"), col("cluster_id"))
      .orderBy("doc_id")
  }

  private def q70_cluster_survivors(s: SparkSession, dir: String): DataFrame = {
    // Transitive near-dup survivorship: one survivor (min id) per
    // connected component of the Jaccard pair graph — the policy real
    // corpus dedup uses (q53's pairwise form keeps transitive dups).
    val docs = t(s, dir, "documents")
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      shingleN = 3, threshold = 0.4)
    Dedup.survivorsByCluster(docs, pairs, "doc_id")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_doc_id"), max(col("doc_id")).as("max_doc_id"))
      .orderBy("lang")
  }

  private def q64_bigram_topk(s: SparkSession, dir: String): DataFrame =
    // n-gram LM statistics: corpus bigram counts (the unigram pass is
    // q31). Bigrams formed by zipping the token array with its own tail —
    // narrow, no per-row regex beyond tokenization.
    t(s, dir, "documents")
      .select(TA.tokens(lower(col("text"))).as("toks"))
      .select(explode(zip_with(
        slice(col("toks"), lit(1), greatest(size(col("toks")) - 1, lit(0))),
        slice(col("toks"), lit(2), greatest(size(col("toks")) - 1, lit(0))),
        (a, b) => concat_ws(" ", a, b))).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram").asc)
      .limit(20)

  private def q49_cosine_pairs_exact(s: SparkSession, dir: String): DataFrame =
    // Exact brute-force cosine-threshold pairs over a 10% id-sample —
    // the positive-yield correctness baseline for the LSH near-dup path
    // (q45's threshold yields no qualifying pairs in this corpus).
    graft.analyze.Similarity.cosinePairsExact(
        t(s, dir, "embeddings").filter(col("vec_id") % 10 === 0),
        "vec_id", "embedding", threshold = 0.3)
      .orderBy("id_a", "id_b")

  private def q85_doc_chunking(s: SparkSession, dir: String): DataFrame = {
    // Overlapping token-window chunking (context-window prep): 32-token
    // windows every 24 tokens — pure map + posexplode, no shuffle.
    TA.chunkTokens(t(s, dir, "documents"), "doc_id", "text",
        win = 32, stride = 24)
      .orderBy("doc_id", "chunk_idx")
  }

  private def q86_ann_recall(s: SparkSession, dir: String): DataFrame = {
    // ANN quality gate: recall@5 of the IVF index (q48's configuration)
    // against exact brute-force top-5 (q33) — the recall/latency curve
    // point a real deployment tunes nprobe on. ids-only join, one final
    // IEEE division.
    val exact = q33_cosine_topk(s, dir)
    val approx = q48_ivf_topk(s, dir)
    Similarity.annRecall(exact, approx, "query_id", "neighbor_id", k = 5)
      .orderBy("query_id")
  }

  private def q87_source_mixture(s: SparkSession, dir: String): DataFrame = {
    // Deterministic source-mixture sampling (the data-mixing step of
    // corpus assembly): weight w(src_i) = i%4 + 1, budget 200 docs,
    // integer-exact keep rates out of 1000 residues, md5-keyed rows.
    val weights = (0 until 20).map(i => s"src$i" -> (i % 4 + 1)).toMap
    TA.mixtureSample(t(s, dir, "documents"), "doc_id", "source",
        weights, budget = 200L, modulus = 1000)
      .select("doc_id", "source", "keep_k")
      .orderBy("doc_id")
  }

  private def q108_bigram_lm(s: SparkSession, dir: String): DataFrame = {
    // Smoothed LM scoring across a train/apply boundary: counts from
    // the even-id split, every document scored — odd docs exercise the
    // unseen-gram smoothing mass (q88 is the unsmoothed in-corpus
    // variant with no train/apply separation).
    val docs = t(s, dir, "documents")
    TA.bigramLmScore(docs, docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text")
      .orderBy("doc_id")
  }

  private def q109_pq_recall_clustered(s: SparkSession, dir: String): DataFrame = {
    // PQ recall on CLUSTERED vectors — the counterpart to the recorded
    // worst case (SCALE.md "ANN family, data-dominated": recall
    // 0.13–0.16 on structure-free hash vectors). Planted-cluster
    // derivative over the embeddings ids:
    // ceil(n/6) clusters (≈6 members each at every sf), md5-keyed integer
    // centers in [-6,6] per dim, per-vector noise < 0.1 — so a query's
    // exact cosine top-5 and the ADC top-5 are both its 5 co-members and
    // recall is 1.0 by geometry, not luck. ks=256 lowest-id codebook
    // rows cover every query's cluster. Oracle replays the identical
    // construction (md5 centers/noise are engine-portable).
    import graft.analyze.Pq
    val nc = (t(s, dir, "embeddings").count() + 5) / 6
    def h(prefix: String, a: Column, b: Column): Column =
      conv(substring(md5(concat(lit(prefix), a.cast("string"), lit("_"),
        b.cast("string"))), 1, 8), 16, 10).cast("long")
    val emb = t(s, dir, "embeddings").select(col("vec_id"),
      transform(sequence(lit(0), lit(63)), i =>
        (((h("q109c_", pmod(col("vec_id"), lit(nc)), i) % 13) - 6)
            .cast("double")
          + (h("q109n_", col("vec_id"), i) % 97).cast("double") / 1000.0)
        .cast("float")).as("embedding"))
      // materialized: the synthesized vectors (128 md5 derivations per
      // row) feed five consumers across separate actions (codebook
      // sample, encode, both exact sides, the ADC query side)
      .localCheckpoint(true)
    val queries = emb.filter(col("vec_id") < 8)
    val cb = Pq.buildSampled(emb, "vec_id", "embedding", m = 4, ks = 256)
    val codes = Pq.encode(emb, "vec_id", "embedding", cb)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding",
      k = 5)
    val approx = Pq.adcTopK(codes, queries, "vec_id", "embedding", cb, k = 5)
    Similarity.annRecall(exact, approx, "query_id", "neighbor_id", k = 5)
      .orderBy("query_id")
  }

  private def q110_ivfpq_rerank(s: SparkSession, dir: String): DataFrame = {
    // ADC-retrieve + exact re-rank (the production ANN tail): q83's
    // IVFPQ retrieves top-20 candidates per query, true vectors re-rank
    // to the final top-5. This is the fix for PQ's within-cluster tie
    // collapse (SCALE.md round 9: ADC finds the right cluster but
    // co-members share codes, so fine ordering needs true vectors);
    // re-rank pays candidate-set cost, never a corpus scan.
    import graft.analyze.{Ivf, Pq}
    val emb = t(s, dir, "embeddings")
    val ivf = Ivf.buildSampled(emb, "vec_id", "embedding", nlist = 16)
    val cb = Pq.buildSampled(emb, "vec_id", "embedding", m = 4, ks = 16)
    val codes = Pq.encode(emb, "vec_id", "embedding", cb)
    val queries = emb.filter(col("vec_id") < 8)
    val cand = Pq.ivfpqTopK(ivf, cb, codes, queries, "vec_id", "embedding",
      k = 20, nprobe = 4)
    Similarity.rerankExact(cand, emb, queries, "vec_id", "embedding", k = 5)
      .orderBy("query_id", "rank")
  }

  private def q111_salted_rank(s: SparkSession, dir: String): DataFrame = {
    // Skew-mitigation rewrite, oracle-verified semantics-preserving (the
    // q91 pattern, window form): the range-bucket salted row_number must
    // assign the EXACT rank a plain per-key window would — the oracle IS
    // that plain window. Spend rank per customer, ties to order id;
    // integer output, so parity needs no decimal policy.
    val o = t(s, dir, "orders")
      .select("o_custkey", "o_orderkey", "o_totalprice")
    graft.core.Skew.saltedRowNumber(o, Seq("o_custkey"),
        col("o_totalprice"), descending = true,
        tieBreakers = Seq(col("o_orderkey").asc), buckets = 8)
      .select("o_custkey", "o_orderkey", "rn")
      .orderBy("o_custkey", "rn")
  }

  private def q112_latest_salted(s: SparkSession, dir: String): DataFrame = {
    // Two-stage salted latest-per-key ≡ the plain q09 window (the
    // oracle): stage 1 ranks within (key, salt), stage 2 ranks the
    // ≤ salts survivors — output must be bit-identical for any
    // deterministic row-identity salt.
    val o = t(s, dir, "orders")
    Dedup.latestPerKeySalted(o, Seq("o_custkey"),
        Seq(col("o_orderdate").desc, col("o_orderkey").desc),
        saltExpr = xxhash64(col("o_orderkey")), salts = 8)
      .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
      .orderBy("o_custkey")
  }

  private def q113_image_neardups(s: SparkSession, dir: String): DataFrame = {
    // Perceptual-hash image dedup under the oracle gate (q96's
    // arithmetic-oracle pattern applied to rasters): synthesize REAL gray
    // PNGs whose dHash group is doc_id % 5 by construction — per-image
    // noise makes every blob's BYTES unique (so byte-exact dedup finds
    // nothing) while never flipping a dHash gradient sign. The expected
    // pair set is therefore pure doc_id arithmetic (same group ⇔ pair,
    // hamming 0), and a hash match proves the PNG encode, ImageIO decode,
    // 9×8 pooling, dHash bit order, and the chunk-blocked Hamming join
    // end-to-end. The census caps at 1000 docs (a no-op at the sf0.01
    // gate): the fixture's pair OUTPUT is quadratic in group size by
    // design — uncapped at sf0.1 the row times 2.5M-pair
    // materialization, not the operator; the family's scale posture is
    // the simhash exponents (SCALE.md), not this gate.
    import graft.multimodal.MultiModal
    val docs = t(s, dir, "documents")
      .filter(col("doc_id") < 1000).select(col("doc_id"))
    val imgs = MultiModal.synthesizeImagesFromDocs(docs, groups = 5)
    Dedup.imageNearDups(imgs, "media_id", "content", maxHamming = 4)
      .orderBy("id_a", "id_b")
  }

  private def q114_audio_neardups(s: SparkSession, dir: String): DataFrame = {
    // q113's construction on the THIRD modality: real WAV blobs whose
    // envelope-hash group is doc_id % 5 by construction (per-sample
    // avalanche noise makes every blob's bytes unique; no envelope
    // gradient sign ever flips). A hash match proves WAV encode, JDK
    // decode, integer frame-mean envelope, hash bit order, and the
    // chunk-blocked Hamming join end-to-end. Same 1000-doc census cap as
    // q113 (quadratic pair output by design; no-op at the sf0.01 gate).
    import graft.multimodal.MultiModal
    val docs = t(s, dir, "documents")
      .filter(col("doc_id") < 1000).select(col("doc_id"))
    val auds = MultiModal.synthesizeAudioFromDocs(docs, groups = 5)
    Dedup.audioNearDups(auds, "media_id", "content", maxHamming = 4)
      .orderBy("id_a", "id_b")
  }

  private def q115_video_neardups(s: SparkSession, dir: String): DataFrame = {
    // q113's construction on the FOURTH modality: real RIFF/AVI blobs of
    // three 9×8 gray-PNG frames whose dHash group is doc_id % 5 by
    // construction at every probe role (per-(doc, frame, pixel) avalanche
    // noise keeps bytes unique; no gradient sign flips; cross-group
    // separation ≥ 32 bits at EVERY role). A hash match proves AVI encode
    // → container parse → per-frame ImageIO decode → pooling → dHash →
    // role-blocked Hamming join end-to-end. Same 1000-doc census cap as
    // q113/q114 (quadratic pair output by design; no-op at the sf0.01
    // gate).
    import graft.multimodal.MultiModal
    val docs = t(s, dir, "documents")
      .filter(col("doc_id") < 1000).select(col("doc_id"))
    val vids = MultiModal.synthesizeVideoDupsFromDocs(docs, groups = 5)
    Dedup.videoNearDups(vids, "media_id", "content", maxHamming = 4)
      .orderBy("id_a", "id_b")
  }

  private def q116_bpe_train(s: SparkSession, dir: String): DataFrame = {
    // BPE TRAINING under the oracle gate — closes the one spec-only gap
    // that CAN be oracled: q94 replays a frozen model; this learns one.
    // batchCap = 1 forces one merge per Spark round, i.e. the exact
    // serial Sennrich algorithm the oracle's 8 chained argmax+rewrite
    // CTE rounds implement. The model is a metadata-sized driver value
    // by design (merge rules ARE the artifact), emitted as rows for the
    // gate. 50 docs bound the corpus so the 8-round chain stays cheap at
    // any sf.
    import s.implicits._
    val docs = t(s, dir, "documents").filter(col("doc_id") < 50)
    val merges = TA.bpeTrain(docs, "text", nMerges = 8, batchCap = 1)
    merges.zipWithIndex
      .map { case ((l, r), i) => (i, l, r) }
      .toDF("merge_rank", "l", "r")
  }

  private def q117_heavy_hitters(s: SparkSession, dir: String): DataFrame = {
    // EXACT trigram heavy hitters at support 1/20000 via the Misra–Gries
    // prefilter + exact-confirm pass (TextAnalysis.heavyHitters). The
    // oracle runs the naive full groupBy with the same integer-exact
    // threshold (cnt * 20000 >= total grams) — a hash match proves the
    // sketch's superset guarantee, the merged-residual prune, and the
    // confirm pass lose nothing. Non-empty at both gate SFs (cnt >= 2 at
    // sf0.01, cnt >= 14 at sf0.1 against a max trigram count of 25). At
    // gate scale the per-partition distinct grams stay under D, so the
    // DECREMENT path never fires here — TextSpec forces it with a small
    // D against a key space larger than the sketch.
    val grams = t(s, dir, "documents")
      .select(explode(TA.gramStrings(col("text"), 3)).as("gram"))
    TA.heavyHitters(grams, col("gram"), 20000)
      .select(col("v").as("gram"), col("cnt"))
      .orderBy("gram")
  }

  private def q118_funnel(s: SparkSession, dir: String): DataFrame = {
    // Ordered view→click→purchase funnel: step i = earliest event of its
    // type STRICTLY after step i-1's timestamp, per user, one shuffle
    // (sorted-fold, Relational.funnelSteps scaladoc). The oracle chains
    // the equivalent min-after-min LEFT JOINs — a hash match pins the
    // fold against the declarative strict-> chain, including the
    // no-earlier-step null propagation.
    graft.relational.Relational.funnelCounts(
      t(s, dir, "events"), "user_id", "ts", "event_type",
      Seq("view", "click", "purchase"))
      .orderBy("step")
  }

  private def q119_retention(s: SparkSession, dir: String): DataFrame = {
    // Weekly cohort retention: Monday-truncated first-event cohort ×
    // week offset × distinct active users. Both engines truncate weeks
    // to Monday and the offsets divide exactly (week-aligned dates), so
    // the comparison is integer-exact.
    graft.relational.Relational.weeklyRetention(
      t(s, dir, "events"), "user_id", "ts")
      .orderBy("cohort_week", "week_offset")
  }

  private def q120_interval_join(s: SparkSession, dir: String): DataFrame = {
    // Grid-blocked interval overlap join: two order-derived busy-window
    // sets; every overlapping pair exactly once via the
    // max-start-bucket trick — an EQUI join on bucket, never the
    // cartesian a naive theta join plans to. Endpoints are exact epoch
    // days (integer datediff), identical arithmetic in the oracle.
    val o = t(s, dir, "orders")
      .withColumn("d0", datediff(to_date(col("o_orderdate")), lit("1970-01-01")).cast("long"))
    val l = o.filter(col("o_orderkey") % 97 === 0)
      .select(col("o_orderkey").as("l_key"), col("d0").as("l_start"),
        (col("d0") + col("o_orderkey") % 20 + 1).as("l_end"))
    val r = o.filter(col("o_orderkey") % 89 === 0)
      .select(col("o_orderkey").as("r_key"), col("d0").as("r_start"),
        (col("d0") + col("o_orderkey") % 15 + 1).as("r_end"))
    graft.relational.Relational.intervalJoin(
        l, r, "l_start", "l_end", "r_start", "r_end", bucketWidth = 16L)
      .select(col("l_key"), col("r_key"),
        (least(col("l_end"), col("r_end")) -
          greatest(col("l_start"), col("r_start")) + 1).as("overlap_days"))
  }

  private def q121_interval_merge(s: SparkSession, dir: String): DataFrame = {
    // Gaps-and-islands: merge overlapping supplier busy windows
    // (shipdate + quantity-derived span) into islands — single
    // window-shuffle linear merge, no self-join.
    val li = t(s, dir, "lineitem").filter(col("l_partkey") % 13 === 0)
      .withColumn("d0", datediff(to_date(col("l_shipdate")), lit("1970-01-01")).cast("long"))
      .select(col("l_suppkey"), col("d0").as("w_start"),
        (col("d0") + (col("l_quantity").cast("long") % 10) + 2).as("w_end"))
    graft.relational.Relational.intervalMerge(li, "l_suppkey", "w_start", "w_end")
  }

  /** The nation-level trade graph that q122, q130, q131 and q132 rank:
    * customer nation -> supplier nation, weighted by lineitem count. */
  private def tradeEdges(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
    val o = t(s, dir, "orders").select("o_orderkey", "o_custkey")
    val c = t(s, dir, "customer").select("c_custkey", "c_nationkey")
    val su = t(s, dir, "supplier").select("s_suppkey", "s_nationkey")
    li
      .join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(su, li("l_suppkey") === su("s_suppkey"))
      .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
      .agg(count(lit(1)).as("w"))
  }

  private def q122_pagerank(s: SparkSession, dir: String): DataFrame = {
    // Link authority over the nation-level trade graph (customer nation
    // -> supplier nation, weighted by lineitem count), 5 fixed-point
    // PageRank steps. Integer fixed-point arithmetic end-to-end makes
    // the iterate bit-exact under any partitioning — the oracle unrolls
    // the identical integer recurrence.
    val edges = tradeEdges(s, dir)
    val nodes = t(s, dir, "nation").select(col("n_nationkey").as("node"))
    graft.analyze.GraphOps.pageRankFixedPoint(nodes, edges, iterations = 5)
  }

  private def q130_trustrank(s: SparkSession, dir: String): DataFrame = {
    // Personalized PageRank: teleport restricted to region-0 nations
    // (trusted seeds); scores measure link-proximity to the seed set.
    val edges = tradeEdges(s, dir)
    val nation = t(s, dir, "nation")
    val nodes = nation.select(col("n_nationkey").as("node"))
    val seeds = nation.filter(col("n_regionkey") === 0)
      .select(col("n_nationkey").as("node"))
    graft.analyze.GraphOps.personalizedPageRank(nodes, edges, seeds,
      iterations = 5)
  }

  private def q131_label_propagation(s: SparkSession, dir: String): DataFrame = {
    // Deterministic synchronous LPA over the trade graph thresholded to
    // its heavier edges (structure survives; the dense graph would
    // collapse to one community in a step). 4 fixed iterations.
    val edges = tradeEdges(s, dir)
    // threshold at 1.2x the mean pair weight (625 possible pairs).
    // (r20 A/B, rejected: folding this count into the main plan as a
    // broadcast 1-row aggregate — the in-plan count subtree measured
    // q132's identical rewrite +0.2 s repeatable; the separate
    // metadata-speed count action is cheaper than the extra broadcast
    // stage on the cached edge pipeline's critical path.)
    val nAll = t(s, dir, "lineitem").count()
    val thr = nAll * 12L / (625L * 10L)
    val nodes = t(s, dir, "nation").select(col("n_nationkey").as("node"))
    graft.analyze.GraphOps.labelPropagation(
      nodes, edges.filter(col("w") >= thr), iterations = 4)
  }

  private def q132_triangles(s: SparkSession, dir: String): DataFrame = {
    // Exact triangle count of the thresholded trade graph via
    // degree-ordered orientation (O(m^1.5) wedge bound).
    val edges = tradeEdges(s, dir)
    // same 1.2x-mean threshold as q131 (r20 A/B kept the separate count
    // action: the in-plan broadcast-aggregate form measured 2.13 → 2.39 s
    // — see the q131 comment)
    val thr = t(s, dir, "lineitem").count() * 12L / 6250L
    graft.analyze.GraphOps.triangleCount(edges.filter(col("w") >= thr))
  }

  private def q133_temperature_mixture(s: SparkSession, dir: String): DataFrame =
    // α=0.5 temperature mixture over languages (rare langs up-weighted),
    // target 150 rows; keep decision a pure function of (doc_id, lang
    // counts) — sqrt-chain weights, decimal-exact total, broadcast rates.
    TA.temperatureSample(
        t(s, dir, "documents").select("doc_id", "lang"),
        "doc_id", "lang", alphaQuarters = 2, targetRows = 150)
      .select("doc_id", "lang")

  private def q134_weighted_median(s: SparkSession, dir: String): DataFrame =
    // Exact discrete weighted median of price, weighted by quantity,
    // per return flag — integer threshold (2·cum ≥ W), no interpolation.
    graft.analyze.Stats.weightedMedian(
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_extendedprice"),
          col("l_quantity").cast("long").as("w"),
          (col("l_orderkey") * 10 + col("l_linenumber")).as("rid")),
      "l_returnflag", "l_extendedprice", "w", "rid")

  private def q135_histogram(s: SparkSession, dir: String): DataFrame =
    // 20-bucket equi-width value histogram per event type over [0, 500)
    // — one fixed-shape bucket expression, boundary-identical in the
    // oracle's replay.
    graft.analyze.Stats.histogram(
        t(s, dir, "events"), "event_type", "value", 0.0, 500.0, 20)
      .orderBy("event_type", "bucket")

  private def q136_gini_diversity(s: SparkSession, dir: String): DataFrame =
    // Language-mix diversity per source: Gini impurity (rational — no
    // libm entropy), exact integer squares, one double division.
    graft.analyze.Stats.giniDiversity(
        t(s, dir, "documents"), "source", "lang")
      .orderBy("source")

  private def q137_mode(s: SparkSession, dir: String): DataFrame =
    // Most frequent event type per user bucket, ties to the smallest
    // type string — integer argmax, fully deterministic.
    graft.analyze.Stats.modePerGroup(
        t(s, dir, "events").withColumn("bucket", col("user_id") % 10),
        "bucket", "event_type")
      .orderBy("bucket")

  private def q138_token_temperature(s: SparkSession, dir: String): DataFrame =
    // Token-budget temperature mixture (α=0.75): stratum mass = Σ token
    // counts, not doc counts — the budget unit real LLM mixtures use.
    // Same sqrt-chain weights / decimal-exact total / md5-key decision
    // as q133, so the keep set is a pure function of (doc_id, masses).
    TA.temperatureSampleByTokens(
        t(s, dir, "documents").select(col("doc_id"), col("lang"),
          TA.tokenCount(col("text")).cast("long").as("n_tok")),
        "doc_id", "lang", "n_tok", alphaQuarters = 3, targetTokens = 8000)
      .select("doc_id", "lang", "n_tok")

  /** Deterministic crawl-style messy URL (q139/q146 fixture generator):
    * mixed-case scheme/host, www. on evens, default+explicit ports,
    * trailing slashes, unordered query params, fragments — every
    * variant axis the canonicalizer must collapse, replayed verbatim
    * by the oracles. */
  private def messyUrl(id: Column, src: Column, lang: Column): Column = concat(
    when(id % 3 === 0, lit("HTTPS://")).when(id % 3 === 1, lit("https://"))
      .otherwise(lit("HTTP://")),
    when(id % 2 === 0, concat(lit("WWW."), upper(src))).otherwise(src),
    lit(".example.org"),
    when(id % 3 === 0, lit(":443")).when(id % 3 === 2, lit(":8080"))
      .otherwise(lit("")),
    lit("/"), lang,
    when(id % 5 === 0, lit("/")).otherwise(lit("")),
    when(id % 2 === 0, lit("?b=2&a=1")).otherwise(lit("?a=1&b=2")),
    when(id % 7 === 0, lit("#frag")).otherwise(lit("")))

  private def q139_host_graph(s: SparkSession, dir: String): DataFrame = {
    // URL canonicalization → host-level link graph: messy crawl-style
    // URLs (mixed-case scheme/host, www., default+explicit ports,
    // trailing slashes, unordered query params, fragments) are built
    // deterministically from documents, each doc "links" to doc_id+7;
    // hostEdges canonicalizes endpoints and aggregates link weight,
    // and n_canon counts DISTINCT fully-normalized source URLs per
    // edge so the whole urlNormalize pipeline (port drop, slash strip,
    // query sort, fragment drop) is oracle-gated, not just the host.
    import graft.functions.UrlFunctions.{urlHost, urlNormalize}
    val d = t(s, dir, "documents").select("doc_id", "source", "lang")
    val url = messyUrl _
    val links = d.alias("a")
      .join(d.alias("b"), col("b.doc_id") === col("a.doc_id") + 7)
      .select(
        url(col("a.doc_id"), col("a.source"), col("a.lang")).as("src_url"),
        url(col("b.doc_id"), col("b.source"), col("b.lang")).as("dst_url"))
    val edges = graft.analyze.GraphOps.hostEdges(links, "src_url", "dst_url")
    val canon = links.select(urlHost(col("src_url")).as("src"),
        urlHost(col("dst_url")).as("dst"),
        urlNormalize(col("src_url")).as("c"))
      .filter(length(col("src")) > 0 && length(col("dst")) > 0 &&
        col("src") =!= col("dst"))
      .groupBy(col("src"), col("dst"))
      .agg(countDistinct(col("c")).as("n_canon"))
    edges.join(canon, Seq("src", "dst")).orderBy("src", "dst")
  }

  private def q140_topk_offset(s: SparkSession, dir: String): DataFrame =
    // Paginated exact global top-k (LIMIT 50 OFFSET 1000 by price desc):
    // quantile buckets + exact per-bucket counts prune to the page's
    // buckets before any sort — no global range sort, no single-reducer
    // funnel at large offsets. shallowLimit = 0 pins the DEEP bucketed
    // path (the default would delegate this small page to TakeOrdered),
    // so the oracle gates the machinery that matters at scale.
    graft.relational.Relational.topKWithOffset(
      t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
      col("o_totalprice"), descending = true,
      tieBreakers = Seq(col("o_orderkey").asc), k = 50, offset = 1000,
      shallowLimit = 0L)

  private def q141_token_drift(s: SparkSession, dir: String): DataFrame = {
    // Corpus drift between the English slice and everything else:
    // rational chi-square contributions (no libm log), exact decimal
    // integers; the per-token term stays a PLAIN DOUBLE on purpose — a
    // decimal cast at these magnitudes diverges cross-engine (see
    // tokenDrift's scaladoc; measured 2-ulp mismatches at 1e8).
    val d = t(s, dir, "documents")
    TA.tokenDrift(d.filter(col("lang") === "en"),
        d.filter(col("lang") =!= "en"), "text")
      .orderBy("token")
  }

  private def q142_inverted_index(s: SparkSession, dir: String): DataFrame =
    // Inverted index with bounded postings (8): doc_freq from a full
    // count agg; posting lists capped BEFORE collection by a rank-limit
    // window (group-limit inferable), rendered as ascending id CSV.
    TA.invertedIndex(t(s, dir, "documents"), "doc_id", "text",
        maxPostings = 8)
      .orderBy("token")

  private def q143_winsorize(s: SparkSession, dir: String): DataFrame =
    // Per-type winsorization of event values at the exact discrete
    // [5th, 95th] percentiles (integer threshold cum·100 ≥ p·n — no
    // interpolation, no sketch convention to match), summarized per
    // type with a decimal-exact sum of the clamped values.
    graft.analyze.Stats.winsorize(
        t(s, dir, "events").select("event_type", "value"),
        "event_type", "value", loPct = 5, hiPct = 95)
      .groupBy(col("event_type"))
      .agg(count(col("value")).as("n"),
        min(col("winsorized")).as("lo_clamped"),
        max(col("winsorized")).as("hi_clamped"),
        sum(col("winsorized").cast("decimal(14,2)")).cast("decimal(38,2)")
          .as("total"))
      .orderBy("event_type")

  private def q144_mrl_recall(s: SparkSession, dir: String): DataFrame = {
    // Matryoshka truncation quality gate: exact cosine top-5 on the
    // FIRST 16 of 64 dims vs full-dim exact top-5 (q33) — the
    // retrieval-cost knob modern embedding stacks tune. Cosine
    // renormalizes implicitly (norms over the truncated dims), so no
    // separate re-normalization pass is needed.
    val emb = t(s, dir, "embeddings")
      .select(col("vec_id"), slice(col("embedding"), 1, 16).as("embedding"))
    val truncated = cosineTop5(emb).select("query_id", "neighbor_id")
    Similarity.annRecall(q33_cosine_topk(s, dir), truncated,
        "query_id", "neighbor_id", k = 5)
      .orderBy("query_id")
  }

  private def q145_rrf_fusion(s: SparkSession, dir: String): DataFrame = {
    // Hybrid-retrieval rank fusion: the dense ranking (q33 cosine
    // top-5) fused with a label-affinity ranking (same-label first,
    // ids tiebreak, top-10) via reciprocal-rank fusion — rank-based,
    // so the two signals' score scales never need calibration; decimal
    // exact reciprocal sums.
    //
    // Gate shape (round 14): the oracle-compared output is
    // (query_id, neighbor_id, rank) ONLY. Round 13's gate carried the
    // DECIMAL(30,12) rrf_score and hash-failed in the driver's DuckDB
    // while four local replicas matched bit-exactly — the engines'
    // round(double,12)->decimal path is version-fragile at the gate
    // boundary. The decimal score itself stays spec-verified
    // (Round13Spec "rrfFuse: hand-computed fusion").
    val emb = t(s, dir, "embeddings")
    val ql = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("label").as("qlab"))
    val cl = emb.select(col("vec_id").as("neighbor_id"), col("label").as("nlab"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("m").desc, col("neighbor_id").asc)
    val byLabel = cl.crossJoin(broadcast(ql))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("m", when(col("nlab") <=> col("qlab"), 1).otherwise(0))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
    Similarity.rrfFuse(Seq(q33_cosine_topk(s, dir), byLabel),
        "query_id", "neighbor_id", "rank", kConst = 60, topK = 10)
      .select("query_id", "neighbor_id", "rank")
      .orderBy("query_id", "rank")
  }

  private def q146_url_dedup(s: SparkSession, dir: String): DataFrame =
    // URL-keyed exact dedup after canonicalization: the q139 messy-URL
    // generator grouped by canonical form — variant axes collapse
    // (case, www., default port, slash, query order, fragment), the
    // smallest doc_id survives with its variant count.
    t(s, dir, "documents").select(col("doc_id"),
        graft.functions.UrlFunctions.urlNormalize(
          messyUrl(col("doc_id"), col("source"), col("lang"))).as("canonical"))
      .groupBy(col("canonical"))
      .agg(min(col("doc_id")).as("survivor_id"),
        count(lit(1)).as("n_variants"))
      .orderBy("canonical")

  private def q147_snapshot_diff(s: SparkSession, dir: String): DataFrame = {
    // Snapshot diff between two deterministic customer versions:
    // %10==0 keys absent from OLD (added), %7==0 absent from NEW
    // (removed), %3==0 acctbal bumped (changed); null-safe per-column
    // compare, one co-partitioned full-outer join.
    val cust = t(s, dir, "customer")
      .select("c_custkey", "c_name", "c_acctbal")
    val oldS = cust.filter(col("c_custkey") % 10 =!= 0)
    val newS = cust.filter(col("c_custkey") % 7 =!= 0)
      .withColumn("c_acctbal",
        when(col("c_custkey") % 3 === 0, col("c_acctbal") + 1)
          .otherwise(col("c_acctbal")))
    graft.relational.Relational.snapshotDiff(oldS, newS,
        Seq("c_custkey"), Seq("c_name", "c_acctbal"))
      .filter(col("status") =!= "unchanged")
      .select("c_custkey", "status")
      .orderBy("c_custkey")
  }

  private def q148_quantile_normalize(s: SparkSession, dir: String): DataFrame =
    // Cross-type score calibration: every event value mapped to the
    // GLOBAL value at its within-type quantile — all-integer midpoint
    // rank mapping, global ranks via the salted (bucketed) machinery,
    // never a single-reducer sort. Deterministic 10% slice keeps the
    // dump small; ranks are computed on the full table.
    graft.analyze.Stats.quantileNormalize(
        t(s, dir, "events").select("event_id", "event_type", "value"),
        "event_type", "value", "event_id")
      .filter(col("event_id") % 10 === 0)
      .select("event_id", "event_type", "value", "normalized")
      .orderBy("event_id")

  private def q149_golden_record(s: SparkSession, dir: String): DataFrame = {
    // Field-level survivorship (golden record): per cluster, each field
    // from the highest-(acctbal, custkey) row that HAS it — fields are
    // nulled on disjoint residue classes so the picks genuinely come
    // from different rows; lexicographic struct-max, one groupBy.
    val c = t(s, dir, "customer").select(
      call_function("div", col("c_custkey"), lit(100L)).as("cluster"),
      col("c_custkey"), col("c_acctbal"),
      when(col("c_custkey") % 7 === 0, lit(null).cast("string"))
        .otherwise(col("c_name")).as("name"),
      when(col("c_custkey") % 3 === 0, lit(null).cast("string"))
        .otherwise(col("c_mktsegment")).as("segment"))
    Dedup.goldenRecord(c, "cluster", "c_acctbal", "c_custkey",
        Seq("name", "segment"))
      .orderBy("cluster")
  }

  private def q150_resample_locf(s: SparkSession, dir: String): DataFrame =
    // Daily LOCF resample of each user's event stream: regular grid
    // over the observed span (integer epoch buckets), each grid point
    // carrying the latest (value, event_id) at or before it via the
    // as-of machinery; leading grid points before the first observation
    // stay null (left-outer). Grid emitted as epoch seconds (BIGINT) so
    // the oracle compare dodges timestamp-rendering differences.
    graft.relational.Relational.resampleLocf(
        t(s, dir, "events").select("user_id", "ts", "value", "event_id")
          .filter(col("user_id") % 5 === 0),
        "user_id", "ts", stepSeconds = 86400L, tiebreakCol = "event_id",
        payload = Seq("value", "event_id"))
      .select(col("user_id"), unix_timestamp(col("grid_ts")).as("grid_sec"),
        col("matched_value"), col("matched_event_id"))
      .orderBy("user_id", "grid_sec")

  private def q151_equidepth_histogram(s: SparkSession, dir: String): DataFrame =
    // Equi-depth value distribution per event type (8 near-equal-count
    // buckets over the (value, event_id) order): the heavy-tail-proof
    // companion to q135's fixed-range equi-width buckets.
    graft.analyze.Stats.equiDepthHistogram(
        t(s, dir, "events").select("event_type", "value", "event_id"),
        "event_type", "value", "event_id", nBuckets = 8)
      .orderBy("event_type", "bucket")

  private def q152_topk_others(s: SparkSession, dir: String): DataFrame =
    // Cardinality-capped report: top-3 user buckets per event type by
    // count, everything else rolled into one "(other)" row — the fact
    // table aggregates once, the rank runs on the aggregated relation.
    graft.relational.Relational.topKWithOthers(
        t(s, dir, "events")
          .withColumn("ubucket", (col("user_id") % 7).cast("string")),
        "event_type", "ubucket", count(lit(1)), k = 3)
      .orderBy("event_type", "rank", "ubucket")

  private def q153_attribution(s: SparkSession, dir: String): DataFrame =
    // Multi-touch attribution over the event stream: every click/view
    // credits its NEXT purchase within a 7-day lookback; all five
    // models in one pass (first/last/linear/U-shaped/time-decay with a
    // 1-day half-life), each credit a single IEEE division of exact
    // integers — no libm, no round->decimal (the q145 gate lesson
    // applied from day one).
    graft.relational.Attribution.attributeTouches(
        t(s, dir, "events"), "user_id", "ts", "event_type", "event_id",
        conversionType = "purchase", touchTypes = Seq("click", "view"),
        lookbackSeconds = 7L * 24 * 3600,
        halfLifeSeconds = Some(24L * 3600))
      .orderBy("conv_id", "position")

  private def q154_scd2_history(s: SparkSession, dir: String): DataFrame =
    // SCD2 dimension history from the event changelog: each user's
    // event_type stream becomes validity intervals — consecutive
    // repeats collapse into one version, valid_to = next version's
    // valid_from (lead), version numbered per key. Intervals emitted
    // as exact integer micros (unix_micros ≡ epoch_us).
    graft.relational.Scd2.scd2Build(
        t(s, dir, "events")
          .select(col("user_id"), unix_micros(col("ts")).as("us"),
            col("event_id"), col("event_type").as("status")),
        keyCols = Seq("user_id"), tsCol = "us", tiebreakCol = "event_id",
        attrCols = Seq("status"))
      .select(col("user_id"), col("status"),
        col("valid_from").as("valid_from_us"),
        col("valid_to").as("valid_to_us"),
        col("is_current"), col("version"))
      .orderBy("user_id", "version")

  private def q155_rfm_segmentation(s: SparkSession, dir: String): DataFrame =
    // RFM audience scores over orders: quintiles per axis (recency
    // ranked descending — most recent = 5), custkey tiebreaks, global
    // ranks via the salted machinery (never a single-reducer ntile),
    // monetary the decimal-exact q01 sum idiom.
    graft.analyze.Rfm.rfmScores(t(s, dir, "orders"), "o_custkey",
        "o_orderdate", "o_totalprice",
        asOf = lit("2002-01-01").cast("date"), nTiles = 5)
      .withColumnRenamed("o_custkey", "custkey")
      .orderBy("custkey")

  private def q156_delete_propagation(s: SparkSession, dir: String): DataFrame = {
    // RTBF cascade audit: one deterministic key set (custkeys % 40 == 0)
    // propagated across three tables keyed three different ways; the
    // audit is the deletion certificate — per-table before/deleted/
    // after counts from one broadcast marker join each.
    val keys = t(s, dir, "customer").filter(col("c_custkey") % 40 === 0)
      .select(col("c_custkey").as("k"))
    graft.relational.DeletePropagation.purgeAudit(
        Seq(("customer", t(s, dir, "customer"), "c_custkey"),
          ("events", t(s, dir, "events"), "user_id"),
          ("orders", t(s, dir, "orders"), "o_custkey")),
        keys, "k")
      .orderBy("table_name")
  }

  private def q157_basket_lift(s: SparkSession, dir: String): DataFrame =
    // Market-basket affinity over lineitems: part pairs co-ordered in
    // >= 2 orders with support/confidence/lift — the 1-count tail
    // (97% of pairs) is pruned BEFORE any join; every ratio one IEEE
    // division of exact integer counts.
    graft.analyze.Basket.coOccurrence(t(s, dir, "lineitem"),
        "l_orderkey", "l_partkey", minPairCount = 2L)
      .orderBy("item_a", "item_b")

  private def q158_audience_overlap(s: SparkSession, dir: String): DataFrame =
    // Segment overlap matrix: users bucketed into behavioral segments
    // (their event types); pairwise overlap counts + exact-integer
    // Jaccard — the audience-planning view of the basket machinery.
    graft.analyze.Basket.audienceOverlap(t(s, dir, "events"),
        "user_id", "event_type")
      .orderBy("segment_a", "segment_b")

  private def q159_conversion_paths(s: SparkSession, dir: String): DataFrame =
    // Path-to-purchase report: ordered touch journeys rolled up to
    // frequencies, long journeys tail-collapsed at 5 steps ("…") so
    // path cardinality stays report-sized.
    graft.relational.Attribution.conversionPaths(
        graft.relational.Attribution.attributeTouches(
          t(s, dir, "events"), "user_id", "ts", "event_type", "event_id",
          conversionType = "purchase", touchTypes = Seq("click", "view"),
          lookbackSeconds = 7L * 24 * 3600),
        maxSteps = 5)
      .orderBy("path")

  private def q160_seasonal_backtest(s: SparkSession, dir: String): DataFrame =
    // Weekly-seasonality forecast baseline per event type: each day's
    // count predicted by the count 7 days back, MAE/bias from exact
    // integer error sums, one IEEE division each.
    graft.analyze.Timeseries.seasonalNaiveBacktest(
        t(s, dir, "events"), "event_type", "ts", periodDays = 7)
      .orderBy("event_type")

  private def q161_ab_readout(s: SparkSession, dir: String): DataFrame = {
    // Campaign holdout readout: users hash-split 50/50 (md5 residues —
    // assignment a pure function of the id), outcome = purchased in
    // the last 3 days of the window (~73% — "any purchase ever"
    // saturates to 100% on this data and zeroes the pooled variance);
    // rates/lift/pooled z in one fixed-shape double expression over
    // four exact counts.
    import graft.analyze.Experiment
    val users = t(s, dir, "events").groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase" &&
          col("ts") >= lit("2024-01-28 00:00:00").cast("timestamp"), 1L)
        .otherwise(0L)).as("converted"))
      .withColumn("variant",
        Experiment.assignVariant(col("user_id"), modulus = 20,
          treatmentResidues = 0 until 10))
    Experiment.abReadout(users, "variant", "converted")
  }

  private def q162_quality_checks(s: SparkSession, dir: String): DataFrame =
    // Declarative ingest contract over events: one aggregation pass ->
    // one report row per check, integer violation counts, integer pass
    // decisions (value range deliberately tight so a violation row is
    // exercised at the gate).
    graft.analyze.Quality.runChecks(t(s, dir, "events"), Seq(
        graft.analyze.Quality.NotNull("user_id"),
        graft.analyze.Quality.Unique("event_id"),
        graft.analyze.Quality.InRange("value", 0.0, 39.0),
        graft.analyze.Quality.InSet("event_type",
          Seq("view", "click", "purchase", "signup", "error")),
        graft.analyze.Quality.MinRows(1000L)))
      .orderBy("check", "column")

  private def q163_record_linkage(s: SparkSession, dir: String): DataFrame = {
    // Multi-field linkage scorecard: nation-blocked customer pairs,
    // integer agreement weights (name levenshtein<=2 -> 3, segment -> 2,
    // balance within 100 in exact decimal -> 1), integer-threshold
    // tiers; the gated dump keeps score >= possible only (the
    // non-match tail is Σ|block|²-sized by construction).
    import graft.dedup.Linkage, Linkage.LinkRule
    Linkage.scorePairs(
        t(s, dir, "customer").filter(col("c_custkey") % 3 === 0),
        "c_custkey", "c_nationkey",
        fields = Seq("c_name", "c_mktsegment", "c_acctbal"),
        rules = Seq(
          LinkRule("name",
            // banded threshold levenshtein (O(k·n) with early exit, vs
            // the full O(n·m) DP); over-threshold returns -1, so >= 0
            // is exactly distance <= 2
            levenshtein(col("c_name_a"), col("c_name_b"), 2) >= 0, 3),
          LinkRule("segment",
            col("c_mktsegment_a") === col("c_mktsegment_b"), 2),
          LinkRule("balance",
            abs(col("c_acctbal_a").cast("decimal(12,2)") -
              col("c_acctbal_b").cast("decimal(12,2)")) <= 100, 1)),
        matchMin = 5, possibleMin = 3)
      .filter(col("score") >= 3)
      .orderBy("id_a", "id_b")
  }

  private def q164_cohort_ltv(s: SparkSession, dir: String): DataFrame =
    // LTV curve per acquisition cohort: weekly purchase revenue,
    // running cumulative (decimal-exact through the window), per-member
    // LTV one IEEE division — the revenue companion of q119 retention.
    graft.relational.Relational.cohortLtv(
        t(s, dir, "events"),
        t(s, dir, "events").filter(col("event_type") === "purchase"),
        "user_id", "ts", "value")
      .orderBy("cohort_week", "week_offset")

  private def q165_identity_stitching(s: SparkSession, dir: String): DataFrame = {
    // Cross-device person resolution: deterministic identifier sets
    // over users — devices shared by id-triples (except %7 holdouts),
    // emails shared by id-pairs on evens — chain into persons via the
    // star-edge construction + connected components.
    val users = t(s, dir, "events").select(col("user_id")).distinct()
    val ids = users.select(col("user_id"), lit("user").as("id_type"),
        col("user_id").cast("string").as("id_value"))
      .unionByName(users.filter(col("user_id") % 7 =!= 0)
        .select(col("user_id"), lit("device").as("id_type"),
          call_function("div", col("user_id"), lit(3L)).cast("string")
            .as("id_value")))
      .unionByName(users.filter(col("user_id") % 2 === 0)
        .select(col("user_id"), lit("email").as("id_type"),
          call_function("div", col("user_id"), lit(5L)).cast("string")
            .as("id_value")))
    graft.dedup.Dedup.stitchIdentities(ids, "user_id", "id_type", "id_value")
      .orderBy("user_id")
  }

  private def q166_lookalike(s: SparkSession, dir: String): DataFrame =
    // Lookalike expansion: label-3 vectors seed a centroid (exact-
    // decimal per-dim means), top-20 non-seed vectors by exact cosine
    // — the martech read of the similarity stack.
    Similarity.lookalikeTopK(t(s, dir, "embeddings"), "vec_id",
        "embedding", seed = col("label") === 3, k = 20)
      .orderBy("rank")

  private def q167_gains_table(s: SparkSession, dir: String): DataFrame = {
    // Propensity-decile gains: engagement score (2*clicks + views,
    // exact integers) deciled by the salted ntile machinery; per
    // decile conversion rate, cumulative capture, lift — all
    // fixed-shape doubles over exact counts.
    val users = t(s, dir, "events").groupBy(col("user_id"))
      .agg((sum(when(col("event_type") === "click", 2L).otherwise(0L)) +
          sum(when(col("event_type") === "view", 1L).otherwise(0L)))
          .as("score"),
        max(when(col("event_type") === "purchase" &&
            col("ts") >= lit("2024-01-28 00:00:00").cast("timestamp"), 1L)
          .otherwise(0L)).as("converted"))
    graft.analyze.Experiment.gainsTable(users, "user_id", "score",
        "converted", nTiles = 10)
      .orderBy("tile")
  }

  private def q168_frequency_cap(s: SparkSession, dir: String): DataFrame =
    // Contact-governance audit: trailing-6h event count per user
    // (inclusive RANGE frame on exact micros), violations beyond 3;
    // dump keeps the violating rows (audit-sized).
    graft.relational.Relational.frequencyCapAudit(
        t(s, dir, "events").select("event_id", "user_id", "ts"),
        "user_id", "ts", windowSeconds = 6L * 3600, cap = 3)
      .filter(col("violates"))
      .select(col("event_id"), col("user_id"), col("trailing_count"))
      .orderBy("event_id")

  private def q169_incremental_agg(s: SparkSession, dir: String): DataFrame = {
    // Incremental view maintenance gated against full recompute: the
    // Spark side MERGES two half-window agg states (only the delta
    // would aggregate in production); the oracle recomputes from
    // scratch — merge ≡ recompute is the hash-gated claim.
    import graft.relational.Relational
    val ev = t(s, dir, "events")
    val cut = lit("2024-01-15 00:00:00").cast("timestamp")
    val merged = Relational.mergeAggStates(
      Relational.aggState(ev.filter(col("ts") < cut), Seq("user_id"), "value"),
      Relational.aggState(ev.filter(col("ts") >= cut), Seq("user_id"), "value"),
      Seq("user_id"))
    merged.select(col("user_id"), col("n"),
        col("sum_v").cast("double").as("sum_v"),
        col("min_v"), col("max_v"))
      .orderBy("user_id")
  }

  private def q170_active_ladder(s: SparkSession, dir: String): DataFrame =
    // DAU/WAU/MAU + stickiness per active day — exact distinct counts
    // from one (entity, day) relation, one IEEE division.
    graft.analyze.Timeseries.activeUserLadder(
        t(s, dir, "events"), "user_id", "ts")
      .orderBy("day")

  private def q171_latency_percentiles(s: SparkSession, dir: String): DataFrame = {
    // SLA report: p50/p90/p99 inter-event gap (exact integer micros)
    // per event type — discrete rank-⌈p·n/100⌉ values, never
    // interpolation.
    val w = Window.partitionBy(col("event_type"))
      .orderBy(unix_micros(col("ts")).asc, col("event_id").asc)
    val gaps = t(s, dir, "events")
      .withColumn("gap_us",
        unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
      .filter(col("gap_us").isNotNull)
    graft.analyze.Stats.discretePercentiles(gaps, "event_type", "gap_us",
        "event_id", ps = Seq(50, 90, 99))
      .orderBy("event_type", "p")
  }

  private def q172_cuped_readout(s: SparkSession, dir: String): DataFrame = {
    // CUPED: pre-period spend (before Jan 15) is the covariate for
    // post-period spend; md5 hash split; every moment decimal-exact,
    // theta/lifts/rho2 fixed-shape doubles.
    import graft.analyze.Experiment
    val cut = lit("2024-01-15 00:00:00").cast("timestamp")
    val zero = lit(0).cast("decimal(12,2)")
    val isP = col("event_type") === "purchase"
    val users = t(s, dir, "events").groupBy(col("user_id"))
      .agg(
        coalesce(sum(when(isP && col("ts") < cut,
          col("value").cast("decimal(12,2)"))), zero).as("x"),
        coalesce(sum(when(isP && col("ts") >= cut,
          col("value").cast("decimal(12,2)"))), zero).as("y"))
      .withColumn("variant",
        Experiment.assignVariant(col("user_id"), 20, 0 until 10))
    Experiment.cupedReadout(users, "variant", "y", "x")
  }

  private def q173_replenishment_due(s: SparkSession, dir: String): DataFrame =
    // Repeat-purchase reminders: per-user discrete median
    // inter-purchase gap projects the next due instant; overdue at
    // Feb 1. All exact integer micros.
    graft.analyze.Timeseries.replenishmentDue(
        t(s, dir, "events").filter(col("event_type") === "purchase"),
        "user_id", "ts", "event_id",
        asOfUs = java.time.Instant.parse("2024-02-01T00:00:00Z")
          .getEpochSecond * 1000000L)
      .orderBy("user_id")

  private def q174_budget_pacing(s: SparkSession, dir: String): DataFrame = {
    // Campaign burn vs linear schedule: per event type, decimal-exact
    // cumulative daily spend against budget*dom/days_in_month.
    import s.implicits._
    val budgets = Seq(("view", "40000.00"), ("click", "42000.00"),
        ("purchase", "41000.00"), ("signup", "43000.00"),
        ("error", "39000.00"))
      .toDF("event_type", "b")
      .select(col("event_type"), col("b").cast("decimal(12,2)").as("budget"))
    graft.analyze.Timeseries.budgetPacing(
        t(s, dir, "events"), "event_type", "ts", "value", budgets)
      .orderBy("event_type", "day")
  }

  private def q175_journey_transitions(s: SparkSession, dir: String): DataFrame =
    // Markov attribution, stage 1: first-order journey transition
    // counts (claimed paths -> CONV, zero-touch conversions, unclaimed
    // trailing journeys -> NULL) — the data-scale pass; the state
    // space is metadata-sized by construction.
    graft.relational.MarkovAttribution.journeyTransitions(
        t(s, dir, "events"), "user_id", "ts", "event_type", "event_id",
        conversionType = "purchase", touchTypes = Seq("click", "view"),
        lookbackSeconds = 7L * 24 * 3600)
      .orderBy("src", "dst")

  private def q176_markov_attribution(s: SparkSession, dir: String): DataFrame =
    // Markov attribution, stage 2: removal effects by EXACT integer
    // fixed-point absorption (k=20 rounds, scale 1e12) — bit-identical
    // in any engine; the oracle replays the identical recurrence
    // unrolled (the q130 discipline).
    graft.relational.MarkovAttribution.removalEffects(
        graft.relational.MarkovAttribution.journeyTransitions(
          t(s, dir, "events"), "user_id", "ts", "event_type", "event_id",
          conversionType = "purchase", touchTypes = Seq("click", "view"),
          lookbackSeconds = 7L * 24 * 3600),
        k = 20)
      .orderBy("channel")

  private def q177_time_to_convert(s: SparkSession, dir: String): DataFrame = {
    // Which entry channel converts fastest: per conversion, the age
    // from its FIRST claimed touch; discrete p50/p90 per entry
    // channel in exact micros.
    val ev = t(s, dir, "events")
    val first = graft.relational.Attribution.attributeTouches(ev,
        "user_id", "ts", "event_type", "event_id",
        "purchase", Seq("click", "view"), 7L * 24 * 3600)
      .filter(col("position") === 1)
      .select(col("conv_id"), col("touch_id"), col("touch_type"))
    val ages = first
      .join(ev.select(col("event_id").as("touch_id"),
        unix_micros(col("ts")).as("touch_us")), Seq("touch_id"))
      .join(ev.select(col("event_id").as("conv_id"),
        unix_micros(col("ts")).as("conv_us")), Seq("conv_id"))
      .withColumn("age_us", col("conv_us") - col("touch_us"))
    graft.analyze.Stats.discretePercentiles(ages, "touch_type", "age_us",
        "conv_id", ps = Seq(50, 90))
      .orderBy("touch_type", "p")
  }

  private def q178_anonymity_audit(s: SparkSession, dir: String): DataFrame =
    // Privacy QA: (nation, segment, acctbal-band) quasi-identifier
    // classes over customers — class sizes, distinct sensitive names,
    // k=5 / l=3 violations; exact integers end to end.
    graft.relational.DeletePropagation.anonymityAudit(
        t(s, dir, "customer")
          // +1000 shifts the TPC-H range nonnegative so integral-div
          // truncation == floor in BOTH engines (negatives diverge:
          // Spark div truncates, DuckDB // floors)
          .withColumn("bal_band",
            call_function("div",
              col("c_acctbal").cast("decimal(12,2)") + 1000,
              lit(java.math.BigDecimal.valueOf(2000))).cast("long")),
        quasiCols = Seq("c_nationkey", "c_mktsegment", "bal_band"),
        sensitiveCol = "c_name", k = 5, l = 3)
      .orderBy("c_nationkey", "c_mktsegment", "bal_band")

  private def q179_campaign_composite(s: SparkSession, dir: String): DataFrame = {
    // Composite (the q84/q53 discipline — gates stage INTERACTIONS):
    // hash split x attribution x channel report. Per (variant, entry
    // channel): first- and last-touch conversion counts (exact
    // integers — the 0/1 credit columns sum to conversion counts) and
    // the variant-relative first-touch share (one IEEE division).
    import graft.analyze.Experiment
    val att = graft.relational.Attribution.attributeTouches(
        t(s, dir, "events"), "user_id", "ts", "event_type", "event_id",
        "purchase", Seq("click", "view"), 7L * 24 * 3600)
      .withColumn("variant",
        Experiment.assignVariant(col("user_id"), 20, 0 until 10))
    val per = att.groupBy(col("variant"), col("touch_type"))
      .agg(sum(col("credit_first").cast("long")).as("n_first"),
        sum(col("credit_last").cast("long")).as("n_last"))
    val tot = per.groupBy(col("variant"))
      .agg(sum(col("n_first")).as("__tf"))
    per.join(tot, Seq("variant"))
      .select(col("variant"), col("touch_type"), col("n_first"),
        col("n_last"),
        (col("n_first").cast("double") / col("__tf").cast("double"))
          .as("share_first"))
      .orderBy("variant", "touch_type")
  }

  private def q180_sessionize(s: SparkSession, dir: String): DataFrame =
    // Gap-based sessionization (6 h inactivity): per-session start/end/
    // duration in exact micros plus event and distinct-type counts.
    // One entity shuffle end-to-end — the rollup's (entity, session)
    // grouping rides the window's HashPartitioning(entity).
    graft.relational.Sessionize.sessionStats(
        t(s, dir, "events"), "user_id", "ts", "event_id", "event_type",
        gapSeconds = 6L * 3600)
      .orderBy("user_id", "session_seq")

  private def q181_abc_classify(s: SparkSession, dir: String): DataFrame =
    // Pareto/ABC: parts classed by cumulative revenue share (80/95).
    // Exact-decimal totals and cross-multiplied integer-percent class
    // boundaries; the global cumsum window runs over the aggregated
    // part rows, never the lineitem facts.
    graft.analyze.Stats.abcClassify(
        t(s, dir, "lineitem"), "l_partkey", "l_extendedprice")
      .withColumnRenamed("l_partkey", "partkey")
      .orderBy("rnk")

  private def q182_reach_frequency(s: SparkSession, dir: String): DataFrame =
    // Reach & frequency: per event type, exact users at each exposure
    // count plus the f+ reach curve. Facts aggregate twice map-side;
    // the cumulation is over histogram rows only.
    graft.analyze.Reach.reachFrequency(
        t(s, dir, "events"), "user_id", "event_type")
      .orderBy(col("event_type"), col("freq"))

  private def q183_cusum_shift(s: SparkSession, dir: String): DataFrame =
    // CUSUM level-shift over per-type daily counts, threshold = half a
    // mean-day of accumulated drift. The max(0, ·) recursion runs as
    // its running-sum-minus-running-min closed form — pure windows,
    // exact integers end-to-end (cross-multiplied mean and threshold).
    graft.analyze.Timeseries.cusumShift(
        t(s, dir, "events")
          .groupBy(col("event_type"),
            // integer `div`, never `/`-then-cast: the double quotient
            // can round UP across a day boundary before truncation
            expr("unix_micros(ts) div 86400000000").as("day"))
          .agg(count(lit(1)).as("n")),
        "event_type", "day", "n", thrNum = 1, thrDen = 2)
      .orderBy("event_type", "day")

  private def q184_survival_hazard(s: SparkSession, dir: String): DataFrame =
    // Discrete KM churn table: daily tenure, 3-day censor margin at
    // the corpus end. at_risk/churned are exact integers; hazard the
    // one display division. Survival product stays caller-side — no
    // cross-engine float product in a gated column.
    graft.analyze.Survival.survivalHazard(
        t(s, dir, "events"), "user_id", "ts",
        periodSeconds = 86400L, censorSeconds = 3L * 86400)
      .orderBy("period")

  private def q185_session_conversion(s: SparkSession, dir: String): DataFrame = {
    // Composite (gates sessionize x aggregation INTERACTIONS): per
    // session entry type — the "landing channel" — session count,
    // purchase-converted count, bounce (1-event) count, one-division
    // conversion rate. Entry pick is an arg-min struct (us, id, type):
    // deterministic, no second window. The per-session rollup rides
    // the sessionize shuffle; only session-cardinality rows re-shuffle
    // to the entry_type report.
    val tagged = graft.relational.Sessionize.sessionize(
      t(s, dir, "events"), "user_id", "ts", "event_id", gapSeconds = 6L * 3600)
    val us = unix_micros(col("ts"))
    val per = tagged.groupBy(col("user_id"), col("session_seq"))
      .agg(
        min(struct(us.as("u"), col("event_id").as("i"),
          col("event_type").as("t"))).as("__entry"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("__conv"),
        count(lit(1)).as("__n"))
    per.groupBy(col("__entry").getField("t").as("entry_type"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("__conv")).as("n_converted"),
        sum(when(col("__n") === 1L, 1L).otherwise(0L)).as("n_bounce"))
      .select(col("entry_type"), col("n_sessions"), col("n_converted"),
        col("n_bounce"),
        (col("n_converted").cast("double") / col("n_sessions").cast("double"))
          .as("conv_rate"))
      .orderBy("entry_type")
  }

  private def q186_lorenz_gini(s: SparkSession, dir: String): DataFrame =
    // Revenue concentration per nation: Gini over supplier totals in
    // exact rational form. Gated INTEGER-ONLY (BIGINT paise num/den,
    // r14 postmortem: the DECIMAL(38,2) form hash-diverged on the gate
    // engine's decimal→string rendering); the IEEE coefficient itself
    // is spec-checked in Round14Spec, not gated.
    graft.analyze.Stats.lorenzGini(
        t(s, dir, "lineitem").join(
          t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey")),
          col("l_suppkey") === col("s_suppkey")),
        "s_nationkey", "l_suppkey", "l_extendedprice")
      .withColumnRenamed("s_nationkey", "nationkey")
      .drop("gini")
      .orderBy("nationkey")

  private def q187_shapley_attribution(s: SparkSession, dir: String): DataFrame =
    // Shapley-value attribution: conversions' credit split by the
    // exact unanimity-game closed form over claimed channel sets —
    // integer credit sums (L = lcm(1..12)), one display division.
    graft.relational.Shapley.shapleyAttribution(
        t(s, dir, "events"), "user_id", "ts", "event_type", "event_id",
        conversionType = "purchase",
        touchTypes = Seq("click", "view", "signup"),
        lookbackSeconds = 7L * 24 * 3600)
      .orderBy("channel")

  private def q188_adstock_regression(s: SparkSession, dir: String): DataFrame =
    // Media-mix read: exact dyadic adstock (half-life 1 day, 12-day
    // carryover window, 2^12 fixed point scaled back by truncating
    // div) of per-channel daily spend, then the grouped min-centered
    // integer regression of daily purchases on adstocked spend —
    // slope/intercept/r2 from int64 moments (hardware double casts).
    graft.analyze.Mmm.adstockRegression(
        t(s, dir, "events"), channelTypes = Seq("click", "view", "signup"),
        conversionType = "purchase", tsCol = "ts", typeCol = "event_type",
        valueCol = "value")
      .orderBy("channel")

  private def q189_qini_uplift(s: SparkSession, dir: String): DataFrame = {
    // Qini uplift-by-decile: q167's engagement score and conversion
    // outcome, q172's md5 hash split; cross-multiplied integer Qini
    // numerator, display divisions only.
    import graft.analyze.Experiment
    val users = t(s, dir, "events").groupBy(col("user_id"))
      .agg((sum(when(col("event_type") === "click", 2L).otherwise(0L)) +
          sum(when(col("event_type") === "view", 1L).otherwise(0L)))
          .as("score"),
        max(when(col("event_type") === "purchase" &&
            col("ts") >= lit("2024-01-28 00:00:00").cast("timestamp"), 1L)
          .otherwise(0L)).as("converted"))
      .withColumn("variant",
        Experiment.assignVariant(col("user_id"), 20, 0 until 10))
    Experiment.qiniTable(users, "user_id", "score", "converted", "variant",
        nTiles = 10)
      .orderBy("tile")
  }

  private def q190_did_readout(s: SparkSession, dir: String): DataFrame = {
    // Difference-in-differences: q172's per-user pre/post purchase
    // spend and md5 split; the 2x2 decimal-exact cell sums and the
    // fixed-shape DiD estimator.
    import graft.analyze.Experiment
    val cut = lit("2024-01-15 00:00:00").cast("timestamp")
    val zero = lit(0).cast("decimal(12,2)")
    val isP = col("event_type") === "purchase"
    val users = t(s, dir, "events").groupBy(col("user_id"))
      .agg(
        coalesce(sum(when(isP && col("ts") < cut,
          col("value").cast("decimal(12,2)"))), zero).as("pre"),
        coalesce(sum(when(isP && col("ts") >= cut,
          col("value").cast("decimal(12,2)"))), zero).as("post"))
      .withColumn("variant",
        Experiment.assignVariant(col("user_id"), 20, 0 until 10))
    Experiment.didReadout(users, "variant", "pre", "post")
  }

  private def q191_dow_seasonality(s: SparkSession, dir: String): DataFrame =
    // Day-of-week seasonality per event type: cross-multiplied integer
    // index over observed days (weekday 0 = Monday, pinned identically
    // in both engines), one display division.
    graft.analyze.Timeseries.dowSeasonality(
        t(s, dir, "events"), "event_type", "ts")
      .orderBy("event_type", "dow")

  private def q193_group_split(s: SparkSession, dir: String): DataFrame =
    // Leakage-safe corpus split: the split key hashes the exact-dup
    // GROUP (md5 of text), so duplicate documents can never straddle
    // train/val/test; per split, docs, distinct groups, char mass.
    graft.analyze.TextAnalysis.groupAwareSplit(
        t(s, dir, "documents").filter(col("text").isNotNull),
        md5(col("text")),
        Seq(("train", 8), ("val", 1), ("test", 1)))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_groups"),
        sum(col("n_chars").cast("long")).as("sum_chars"))
      .orderBy("split")

  private def q192_ewma_backtest(s: SparkSession, dir: String): DataFrame =
    // Dyadic-weight EWMA one-step forecast backtest per event type:
    // dense calendar, 7-day lag chain with 2^j weights, constant
    // denominator 127 — per-day errors exact longs, MAE/bias one
    // display division each.
    graft.analyze.Timeseries.ewmaBacktest(
        t(s, dir, "events"), "event_type", "ts", window = 7)
      .orderBy("event_type")

  private def q194_dow_anomaly(s: SparkSession, dir: String): DataFrame =
    // Day-of-week-adjusted spike/dip flags at +/-5% (21/20): the
    // boundary decision is exact cross-multiplied integers, never a
    // float compare.
    graft.analyze.Timeseries.dowAnomalies(
        t(s, dir, "events"), "event_type", "ts", num = 21, den = 20)
      .orderBy("event_type", "day")

  private def q195_reach_rollup(s: SparkSession, dir: String): DataFrame = {
    // Incremental reach maintenance gated against full recompute: two
    // entity-grain frequency states from event-id-parity shards (each
    // entity appears in BOTH) merge, then finalize to the q182 curve;
    // the oracle recomputes from scratch — merge == recompute is the
    // hash-gated claim.
    import graft.analyze.Reach
    val ev = t(s, dir, "events")
    val a = Reach.reachState(
      ev.filter(col("event_id") % 2 === 0 || col("event_id").isNull),
      "user_id", "event_type")
    val b = Reach.reachState(
      ev.filter(col("event_id") % 2 =!= 0), "user_id", "event_type")
    Reach.reachFrequencyFromState(
        Reach.mergeReachStates(a, b, "user_id", "event_type"),
        "user_id", "event_type")
      .orderBy(col("event_type"), col("freq"))
  }

  private def q196_pacing_rollup(s: SparkSession, dir: String): DataFrame = {
    // Incremental pacing maintenance: two (key, day) decimal spend
    // states from event-id-parity shards (shards cut ACROSS days)
    // merge, then finalize to the q174 report; oracle recomputes from
    // scratch.
    import s.implicits._
    import graft.analyze.Timeseries
    val budgets = Seq(("view", "40000.00"), ("click", "42000.00"),
        ("purchase", "41000.00"), ("signup", "43000.00"),
        ("error", "39000.00"))
      .toDF("event_type", "b")
      .select(col("event_type"), col("b").cast("decimal(12,2)").as("budget"))
    val ev = t(s, dir, "events")
    val a = Timeseries.dailySpendState(
      ev.filter(col("event_id") % 2 === 0 || col("event_id").isNull),
      "event_type", "ts", "value")
    val b = Timeseries.dailySpendState(
      ev.filter(col("event_id") % 2 =!= 0), "event_type", "ts", "value")
    Timeseries.pacingFromDaily(
        Timeseries.mergeDailySpend(a, b, "event_type"), "event_type",
        budgets)
      .orderBy("event_type", "day")
  }

  private def q197_mde_readout(s: SparkSession, dir: String): DataFrame = {
    // Experiment power + integrity guardrails: SRM chi-square decided
    // in cross-multiplied integers, MDE at 80%/5% from pooled-rate
    // fixed-shape IEEE arithmetic (sqrt is correctly rounded), outcome
    // = q189's late-window conversion (unsaturated).
    import graft.analyze.Experiment
    val users = t(s, dir, "events").groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase" &&
          col("ts") >= lit("2024-01-28 00:00:00").cast("timestamp"), 1L)
        .otherwise(0L)).as("converted"))
      .withColumn("variant",
        Experiment.assignVariant(col("user_id"), 20, 0 until 10))
    Experiment.mdeReadout(users, "variant", "converted")
  }

  private def q198_split_leakage(s: SparkSession, dir: String): DataFrame = {
    // Split-leakage audit — q193's reason to exist, measured: the same
    // corpus split by row hash vs by GROUP hash (leak group = source
    // domain), then per method: how many groups straddle splits and
    // how many docs sit in straddling groups. Row-hash splits leak
    // every multi-doc source across train/eval; the group split is
    // structurally leak-free (0 straddling, whatever the data).
    import graft.analyze.TextAnalysis
    val docs = t(s, dir, "documents")
      .filter(col("text").isNotNull && col("source").isNotNull)
    val splits = Seq(("train", 8), ("val", 1), ("test", 1))
    def audit(df: DataFrame, method: String): DataFrame =
      df.groupBy(col("source"))
        .agg(countDistinct(col("split")).as("__k"),
          count(lit(1)).as("__sz"))
        .agg(count(lit(1)).as("n_groups"),
          sum(when(col("__k") > 1, 1L).otherwise(0L)).as("n_straddling"),
          sum(when(col("__k") > 1, col("__sz")).otherwise(0L))
            .as("docs_at_risk"))
        .select(lit(method).as("method"), col("n_groups"),
          col("n_straddling"), col("docs_at_risk"))
    audit(TextAnalysis.groupAwareSplit(docs, col("doc_id"), splits),
        "row_hash")
      .unionByName(
        audit(TextAnalysis.groupAwareSplit(docs, col("source"), splits),
          "group_hash"))
      .orderBy("method")
  }

  private def q199_frequency_response(s: SparkSession, dir: String): DataFrame = {
    // Optimal-frequency read: view exposures per user (capped 10+
    // bucket) vs late-window purchase conversion — exact counts from
    // the reach state grain, one display division.
    import graft.analyze.Reach
    val ev = t(s, dir, "events")
    val exposures = Reach.reachState(
        ev.filter(col("event_type") === "view"), "user_id", "event_type")
      .select(col("user_id"), col("freq"))
    val converters = ev.filter(col("event_type") === "purchase" &&
      col("ts") >= lit("2024-01-28 00:00:00").cast("timestamp"))
    Reach.frequencyResponse(exposures, "user_id", converters, cap = 10)
      .orderBy("freq_bucket")
  }

  private def q200_cluster_split(s: SparkSession, dir: String): DataFrame = {
    // Decontamination-safe corpus split: the split key is the NEAR-DUP
    // cluster label (q63's min-label connected component; singletons
    // key by their own id), so a near-duplicate of a training doc can
    // never score the eval set — q193's group discipline upgraded from
    // exact to near duplicates. Per split: docs, distinct groups, and
    // docs belonging to a multi-doc near-dup cluster.
    val docs = t(s, dir, "documents").filter(col("text").isNotNull)
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      shingleN = 3, threshold = 0.4)
    val comp = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .select(col("id").as("doc_id"), col("cluster_id"))
    val keyed = docs.select(col("doc_id")).join(comp, Seq("doc_id"), "left")
      .withColumn("rep", coalesce(col("cluster_id"), col("doc_id")))
    graft.analyze.TextAnalysis.groupAwareSplit(keyed,
        col("rep").cast("string"),
        Seq(("train", 8), ("val", 1), ("test", 1)))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("rep")).as("n_groups"),
        sum(when(col("cluster_id").isNotNull, 1L).otherwise(0L))
          .as("n_clustered_docs"))
      .orderBy("split")
  }

  private def q201_theilsen_trend(s: SparkSession, dir: String): DataFrame =
    // Theil–Sen robust daily trend per event type: median pairwise
    // slope picked by an exact integer sort key (dy * lcm(1..31)/dx in
    // DECIMAL(34,0) — rationals order without division); gated output
    // is the median pair's plain-integer slope_num/slope_den.
    graft.analyze.Timeseries.theilSenTrend(
        t(s, dir, "events"), "event_type", "ts")
      .orderBy("event_type")

  private def q202_audience_sketch_overlap(s: SparkSession, dir: String): DataFrame =
    // KMV set algebra: pairwise HIGH-VALUE audience overlap (any event
    // of the type with value > 100) across event types from O(k)
    // mergeable sketch states — union kth-min hash, sketch
    // intersection matches, plus exact sizes for evaluation. Gated
    // INTEGER-ONLY (hash bit patterns + counts); the IEEE estimates
    // are dropped here and spec-checked (Round15Spec) against the
    // exact-integer KmvOps.estimate form.
    graft.analyze.KmvAlgebra.audienceOverlap(
        t(s, dir, "events").filter(col("value") > 100.0),
        "user_id", "event_type", k = 64)
      .drop("est_union", "est_intersection", "jaccard_est")
      .orderBy("type_a", "type_b")

  private def q203_mixture_allocation(s: SparkSession, dir: String): DataFrame = {
    // Corpus-budget water-filling: allocate 4/5 of the corpus token
    // mass across sources by md5-derived target weights (1..9), caps
    // binding where a source runs out — the closed-form prefix test
    // decides saturation in exact cross-multiplied DECIMAL(38,0).
    val docs = t(s, dir, "documents")
      .filter(col("text").isNotNull && col("source").isNotNull)
    val avail = docs.groupBy(col("source"))
      .agg(sum(TA.tokenCount(lower(col("text"))).cast("long"))
        .as("avail_tokens"))
      .withColumn("w",
        lit(1L) + pmod(TA.hashSampleKey(col("source")), lit(9L)))
    graft.analyze.TextAnalysis.mixtureAllocation(
        avail, "source", "avail_tokens", "w",
        budgetNum = 4, budgetDen = 5)
      .drop("fill_frac", "budget_share")
      .orderBy("source")
  }

  private def q204_sketch_rollup(s: SparkSession, dir: String): DataFrame = {
    // Incremental KMV maintenance gated against full recompute (the
    // q195/q196 discipline on the SKETCH state itself): per-segment
    // k-min states built from event-id-parity shards, merged by
    // re-inserting the exploded shard states, then the merged state
    // DUMPED ROW-BY-ROW (segment, rank, hash) — the oracle rebuilds
    // the k-mins from scratch, so merge ≡ recompute is hash-gated at
    // state granularity, sharper than any report-level check. The
    // state arrays stay sorted-unsigned by construction (KmvOps
    // invariant), so rank = array position.
    import graft.analyze.KmvDistinct
    val ev = t(s, dir, "events")
      .filter(col("value") > 100.0 && col("event_type").isNotNull &&
        col("user_id").isNotNull)
    def state(shard: DataFrame): DataFrame = shard
      .select(col("event_type"),
        KmvDistinct.md5Low64(col("user_id").cast("string")).as("__h"))
      .groupBy(col("event_type"))
      .agg(KmvDistinct.stateUdaf(64)(col("__h")).as("__st"))
    val a = state(ev.filter(col("event_id") % 2 === 0 ||
      col("event_id").isNull))
    val b = state(ev.filter(col("event_id") % 2 =!= 0))
    val merged = a.unionByName(b)
      .select(col("event_type"), explode(col("__st")).as("__h"))
      .groupBy(col("event_type"))
      .agg(KmvDistinct.stateUdaf(64)(col("__h")).as("__st"))
    merged
      .select(col("event_type"), posexplode(col("__st")))
      .select(col("event_type"), (col("pos") + 1).cast("long").as("rn"),
        col("col").as("h"))
      .orderBy("event_type", "rn")
  }

  private def q205_windowed_funnel(s: SparkSession, dir: String): DataFrame =
    // Time-constrained funnel: click -> view -> purchase with each
    // step due within 24h of the previous fill, greedy earliest-chain
    // semantics pinned by the oracle's cascaded argmins; exact integer
    // micros at every boundary.
    graft.relational.Relational.funnelCountsWindowed(
        t(s, dir, "events").filter(col("ts").isNotNull),
        "user_id", "ts", "event_type",
        Seq("click", "view", "purchase"), stepWindowSeconds = 86400L)
      .orderBy("step")

  private def q206_matched_market(s: SparkSession, dir: String): DataFrame =
    // Geo-lift readout: user_id%10 markets, three treated, each
    // matched to the donor with minimum exact-integer pre-period SSE
    // on the dense daily grid, then matched DiD in plain longs.
    graft.analyze.Experiment.matchedMarketReadout(
        t(s, dir, "events")
          .withColumn("market", concat(lit("m"), pmod(col("user_id"), lit(10)))),
        "market", "ts", treated = Seq("m0", "m3", "m7"),
        cutoff = lit("2024-01-22").cast("date"))
      .orderBy("treated_market")

  private def q207_segment_migration(s: SparkSession, dir: String): DataFrame =
    // RFM segment migration: the q155 scoring on two order periods
    // (pre/post 1996), inner-joined per customer, exact counts per
    // (code_before, code_after) cell — "how many champions slipped" is
    // THE lifecycle-marketing report. r16: ONE conditional-aggregation
    // scan over orders feeds both periods (the order-cardinality
    // stage); only the customer-grain rank stages run twice. Output
    // hash-identical to the two-scan form (the r15 gate).
    graft.analyze.Rfm.rfmMigration(
        t(s, dir, "orders"), "o_custkey", "o_orderdate", "o_totalprice",
        cutoff = lit("1996-01-01").cast("date"),
        asOfA = lit("1996-01-01").cast("date"),
        asOfB = lit("2002-01-01").cast("date"), nTiles = 5)
      .orderBy("code_before", "code_after")

  private def q208_language_mixing(s: SparkSession, dir: String): DataFrame =
    // Code-switching detector: 16-token chunks through the q44 marker
    // scorer, distinct-verdict count ('und' included by convention),
    // dominant by longest sorted run (ties -> smallest code).
    graft.analyze.TextAnalysis.languageMixProfile(
        t(s, dir, "documents"), "doc_id", "text", chunkTokens = 16)
      .orderBy("doc_id")

  private def q210_anchored_funnel(s: SparkSession, dir: String): DataFrame =
    // RE-ANCHORED windowed funnel (the product-analytics semantics):
    // click -> view -> purchase, each step due within 24h of the
    // previous fill, conversion counted when ANY click anchor's greedy
    // chain completes — vs q205's first-anchor-only greedy form. The
    // oracle replays per-anchor cascaded argmins and takes max depth
    // per user.
    graft.relational.Relational.funnelCountsWindowedAnchored(
        t(s, dir, "events").filter(col("ts").isNotNull),
        "user_id", "ts", "event_type",
        Seq("click", "view", "purchase"), stepWindowSeconds = 86400L)
      .orderBy("step")

  private def q211_nb_classifier(s: SparkSession, dir: String): DataFrame = {
    // Trained classifier gate (the FineWeb-Edu/CCNet pattern, zero-dep
    // form): integer-count Naive Bayes over md5-hashed token buckets.
    // The synthetic corpus has no text↔label correlation, so the
    // separable classes are PLANTED: class = doc_id%3, and each doc
    // carries its class marker token with mass proportional to length
    // (1 + len/100 repeats) — the classifier must RECOVER the class on
    // the held-out %10>=8 split from training on %10<8 alone. The
    // decision is an exact cross-multiplied rational argmax — no libm,
    // no float; the oracle replays counts + pairwise NOT EXISTS.
    import graft.analyze.TextAnalysis
    val docs = t(s, dir, "documents")
      .filter(col("text").isNotNull && length(trim(col("text"))) > 0)
    val cls = element_at(
      array(lit("alpha"), lit("beta"), lit("gamma")),
      pmod(col("doc_id"), lit(3)).cast("int") + 1)
    val reps = (call_function("div",
      length(col("text")).cast("long"), lit(100L)) + 1L).cast("int")
    val planted = docs.select(col("doc_id"), cls.as("cls"),
      concat(col("text"), lit(" "),
        repeat(concat(lit("zz"), cls, lit(" ")), reps)).as("ptext"))
    val model = TextAnalysis.nbTrain(
      planted.filter(pmod(col("doc_id"), lit(10)) < 8), "cls", "ptext")
    TextAnalysis.nbScore(
        planted.filter(pmod(col("doc_id"), lit(10)) >= 8), model,
        "doc_id", "ptext")
      .join(planted.select(col("doc_id"), col("cls").as("actual_cls")),
        Seq("doc_id"))
      .select(col("doc_id"), col("n_tokens"),
        col("pred_label").as("pred_cls"), col("s_match"),
        col("actual_cls"),
        (col("pred_label") === col("actual_cls")).as("correct"))
      .orderBy("doc_id")
  }

  private def q212_nb_gate_agreement(s: SparkSession, dir: String): DataFrame = {
    // Composition: does a TRAINED gate agree with the heuristic
    // percentile gate it would replace? q90's per-source top-half
    // verdict labels the corpus, the NB classifier trains on the
    // %10<8 split's labels, scores the held-out split, and the report
    // is the (gate_label, nb_pred) agreement matrix — the q92
    // pairAgreement discipline applied to quality gating. Measured
    // finding this matrix exists to surface: the unigram sum-form
    // classifier tracks the percentile gate only weakly — at sf0.01 it
    // predicts keep everywhere (100% keep recall, 0% drop recall); at
    // sf0.1 it recovers some drops (110/500) but misclassifies 69
    // keeps. The percentile gate keys on length/punct thresholds that
    // unigram match mass cannot fully express, so the trained gate is
    // NOT a drop-in replacement here — that is the measurement, not a
    // defect: the report is how a pipeline decides whether to swap.
    import graft.analyze.TextAnalysis
    val docs = t(s, dir, "documents")
    // materialized: `labeled` feeds BOTH the training split and the
    // scoring split, so the percentile gate (a full quality-kernel pass
    // + per-stratum rank) would otherwise run once per consumer
    val kept = TextAnalysis.stratumQuantileGate(
        docs.withColumn("quality", TA.qualityScore(col("text"))),
        "source", col("quality"), col("doc_id"), keepFrac = 0.5)
      .select(col("doc_id"), lit(1).as("__k"))
      .localCheckpoint(true)
    val labeled = docs.join(kept, Seq("doc_id"), "left")
      .withColumn("gate_label",
        when(col("__k").isNotNull, lit("keep")).otherwise(lit("drop")))
    val model = TextAnalysis.nbTrain(
      labeled.filter(pmod(col("doc_id"), lit(10)) < 8),
      "gate_label", "text")
    TextAnalysis.nbScore(
        labeled.filter(pmod(col("doc_id"), lit(10)) >= 8), model,
        "doc_id", "text")
      .join(labeled.select(col("doc_id"), col("gate_label")), Seq("doc_id"))
      .groupBy(col("gate_label"), col("pred_label").as("nb_pred"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("gate_label", "nb_pred")
  }

  private def q213_language_mixing_nb(s: SparkSession, dir: String): DataFrame = {
    // q208's mixing profile with the chunk scorer RE-POINTED at the
    // trained NB classifier (VERDICT r15 #4): the model trains
    // in-query on the marker corpus (one doc per language — symmetric
    // classes, so the oracle's argmax is exactly match-mass DESC with
    // smallest-code ties), each 16-token chunk gets the exact-rational
    // NB verdict ('und' when no class has match mass), and the
    // dominant/mixed rollup is q208's.
    import graft.analyze.TextAnalysis
    val trainRows = TextAnalysis.languageMarkers.toSeq.sortBy(_._1)
      .map { case (code, ws) => (code, ws.mkString(" ")) }
    import s.implicits._
    val train = trainRows.toDF("code", "mtext")
    val model = TextAnalysis.nbModelCollect(
      TextAnalysis.nbTrain(train, "code", "mtext"))
    TextAnalysis.languageMixProfileNb(
        t(s, dir, "documents"), "doc_id", "text", model)
      .orderBy("doc_id")
  }

  private def q214_theilsen_chunked(s: SparkSession, dir: String): DataFrame = {
    // Monthly-chunked Theil–Sen on a 70-day horizon (events ∪ events
    // shifted +40 days — sf events span ~30 days, so the union crosses
    // three calendar months): per-(type, month) exact integer-sort-key
    // medians, the >31-day read q201's envelope prescribes. dx ≤ 30
    // within a month structurally — no guard, no truncation hazard.
    val e = t(s, dir, "events").select(col("event_type"), col("ts"))
    val shifted = e.union(
      e.select(col("event_type"), (col("ts") + expr("INTERVAL 40 DAYS")).as("ts")))
    graft.analyze.Timeseries.theilSenTrendChunked(shifted, "event_type", "ts")
      .orderBy("event_type", "month")
  }

  private def q215_incremental_components(s: SparkSession, dir: String): DataFrame = {
    // Incremental cluster refresh (the q82/q195/q204 discipline on
    // GRAPHS): q63's pair set splits by hash into an "archived" 80%
    // and a "nightly delta" 20%; stored labels (the archived CC) merge
    // with the delta through incrementalComponents — star edges ∪
    // delta, never the archive — and the result must equal the
    // from-scratch closure over ALL pairs (the q63 oracle, verbatim).
    // materialized: the archive/delta split consumes the SAME pair set
    // twice (the stored CC materializes one filter, the incremental
    // solve's inner CC the other) and the hash split is not computable
    // before pair verification — without the checkpoint the full PPJoin
    // pipeline executes once per consumer. Checkpointing the final
    // two-id-column pair SET (not the kernel's internals) keeps the
    // detector's own broadcast estimates intact (r19's rejected A/B).
    val pairs = Dedup.ngramJaccardPairs(t(s, dir, "documents"),
        "doc_id", "text", shingleN = 3, threshold = 0.4)
      .localCheckpoint(true)
    val isDelta =
      pmod(xxhash64(col("id_a"), col("id_b"), lit("delta")), lit(5)) === 0
    val stored = Dedup.connectedComponents(
      pairs.filter(!isDelta), "id_a", "id_b")
    Dedup.incrementalComponents(stored, pairs.filter(isDelta),
        "id_a", "id_b")
      .select(col("id").as("doc_id"), col("cluster_id"))
      .orderBy("doc_id")
  }

  private def q216_hdr_quantile_rollup(s: SparkSession, dir: String): DataFrame = {
    // Mergeable quantile rollup (the rollup family's quantile member,
    // q195/q204 discipline): q171's positive inter-event gaps build
    // TWO shard HDR states (event_id parity split), the states MERGE
    // (exact count addition), and p50/90/99 read from the merged
    // state — smallest bin reaching rank ⌈p·n/100⌉, reported as the
    // bin lower bound (within 2^-6 relative of the exact discrete
    // percentile; exact below 64 µs). All integer; the oracle replays
    // binning, merge, and read.
    import graft.analyze.Hdr
    val w = Window.partitionBy(col("event_type"))
      .orderBy(unix_micros(col("ts")).asc, col("event_id").asc)
    val gaps = t(s, dir, "events")
      .withColumn("gap_us",
        unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
      .filter(col("gap_us").isNotNull && col("gap_us") > 0)
    val a = Hdr.hdrState(
      gaps.filter(pmod(col("event_id"), lit(2)) === 0), "event_type", "gap_us")
    val b = Hdr.hdrState(
      gaps.filter(pmod(col("event_id"), lit(2)) === 1), "event_type", "gap_us")
    Hdr.hdrQuantiles(Hdr.mergeHdrStates("event_type", a, b),
        "event_type", Seq(50, 90, 99))
      .orderBy("event_type", "p")
  }

  private def q217_containment_pairs(s: SparkSession, dir: String): DataFrame =
    // Asymmetric containment dedup: ordered (contained, container)
    // pairs with |A∩B|/|A| >= 0.6 over distinct 3-gram sets — the
    // subset-duplication class (license blocks, embedded quotes)
    // symmetric Jaccard misses; the one-sided pigeonhole prefix filter
    // blocks, the exact intersect verifies, the oracle is quadratic
    // exact over gram strings (hash-invariant, the q42 discipline).
    graft.dedup.Dedup.containmentPairs(
        t(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, threshold = 0.6)
      .orderBy("id_a", "id_b")

  private def q218_rolling_reach(s: SparkSession, dir: String): DataFrame =
    // Rolling 7-day reach timeline from stored DAILY KMV states — the
    // q202/q204 set algebra composed over a trailing window: each
    // day's sketch reads the window's state rows, never the archive.
    // Gated INTEGER-ONLY (union sketch size, kth-min bit pattern,
    // exact eval count); the IEEE estimate is display-only and
    // spec-checked (q202 discipline).
    graft.analyze.KmvAlgebra.rollingReachFromDaily(
        t(s, dir, "events"), "user_id", "ts", windowDays = 7)
      .drop("est_reach")
      .orderBy("day")

  /** The q219/q220 mixed-schema changelog fixture: three batches carved
    * deterministically from events with DIFFERENT schemas — batch 1
    * ADDS `channel`, batch 2 REMOVES `event_type` and re-types `score`
    * int → string (the wide-evolving profile table of SURVEY §1.3,
    * reproduced as data). */
  private def driftBatches(s: SparkSession, dir: String): Seq[DataFrame] = {
    val ev = t(s, dir, "events")
    val score = (col("event_id") % 100).cast("int")
    val channel = concat(lit("ch_"), (col("event_id") % 5).cast("string"))
    Seq(
      ev.filter(col("event_id") % 3 === 0)
        .select(col("event_id"), col("event_type"), score.as("score")),
      ev.filter(col("event_id") % 3 === 1)
        .select(col("event_id"), col("event_type"), score.as("score"),
          channel.as("channel")),
      ev.filter(col("event_id") % 3 === 2)
        .select(col("event_id"), score.cast("string").as("score"),
          channel.as("channel")))
  }

  private def q219_drift_union(s: SparkSession, dir: String): DataFrame =
    // Schema-drift-tolerant union: align by name, missing-as-null,
    // types widened (score: int ∨ string → string). The gate
    // aggregates over the null-filled result — count(event_type)
    // proves batch-2 rows carry NULL there, the score sum proves the
    // widened column still round-trips integer-exactly.
    graft.source.SchemaDrift.unionEvolved(driftBatches(s, dir))
      .groupBy(coalesce(col("channel"), lit("(none)")).as("channel_g"))
      .agg(count(lit(1)).as("n"),
        count(col("event_type")).as("n_event_type"),
        countDistinct(col("event_type")).as("n_types"),
        sum(col("score").cast("int")).as("score_sum"))
      .orderBy("channel_g")

  private def q220_drift_report(s: SparkSession, dir: String): DataFrame =
    // Per-batch drift audit (snapshotDiff on schemas): batch 1 adds
    // `channel`; batch 2 removes `event_type` and flips `score`
    // int → string. Footer-metadata work only — the report never
    // scans data.
    graft.source.SchemaDrift.driftReport(s, driftBatches(s, dir).map(_.schema))
      .orderBy("batch_idx", "change", "column")

  private def q221_nightly_composite(s: SparkSession, dir: String): DataFrame = {
    // The NIGHTLY INCREMENTAL COMPOSITE — one delta batch drives the
    // whole incremental family IN ONE JOB, with the stages
    // INTERACTING (the q84 discipline applied to incrementality):
    //   1. incremental exact dedup (q82): the delta's exact COPIES of
    //      archived docs are killed against the stored history
    //      fingerprints — without this stage they would flood stage 2
    //      with J=1 pairs;
    //   2. incremental CC (q215): the surviving delta's near-dup
    //      pairs refresh stored cluster labels — star edges ∪ delta;
    //      the delta's BRIDGE docs bind pairs of history docs, so a
    //      delta pair MERGES previously-distinct stored clusters;
    //   3. incremental agg states (q169): stored per-cluster states
    //      RE-KEY under the refreshed labels — merged clusters
    //      COLLIDE and their states combine (reduceAggState), the
    //      interaction no per-stage gate can see — then merge with
    //      the delta's own state;
    //   4. HDR rollup (q216): same re-key + count-table merge, p50
    //      read from the merged state;
    //   5. KMV rollup (q204): same re-key + k-min re-insertion merge.
    // Delta fixture (derived deterministically, both engines):
    // BRIDGES — doc_id 1e6+k, text = normalized text of two
    // n_chars-adjacent real docs (doc_id % 11 = 3, ranked by
    // (n_chars, doc_id), consecutive ranks pair up) joined by one
    // space: Jaccard vs each half ≈ sz₁/(sz₁+sz₂) ≈ 0.45 ≥ the 0.3
    // gate threshold, so each bridge near-dups BOTH endpoints and
    // merges their stored clusters. COPIES — doc_id 2e6+d for every
    // real doc d % 7 = 0, text verbatim (stage-1 fodder). The oracle
    // recomputes EVERYTHING from scratch over the surviving corpus —
    // merge ≡ recompute end-to-end, at output granularity.
    // From-scratch dedup semantics: history takes precedence within a
    // fingerprint (the archive was ingested first), then lowest id.
    val real = t(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("n_chars"), col("source"))
    val docs = real.unionByName(q221Bridges(real)).unionByName(q221Copies(real))
      .withColumn("fp", TA.fingerprint(col("text")))
    nightlyCompositeChain(docs)
  }

  /** q221's BRIDGE fixture over the real documents (doc_id 1e6+k, text =
    * two n_chars-adjacent %11=3 docs' normalized texts joined by one
    * space — near-dups BOTH endpoints, so each bridge merges their
    * stored clusters). Shared by q221, q225 (as json landing lines) and
    * q228 (as the second streaming epoch). */
  private def q221Bridges(real: DataFrame): DataFrame = {
    val ntext = trim(regexp_replace(lower(col("text")), "\\s+", " "))
    val wSz = Window.orderBy(col("n_chars"), col("doc_id"))
    real.filter(pmod(col("doc_id"), lit(11)) === 3)
      .select(col("doc_id"), ntext.as("ntext"), col("n_chars"))
      .withColumn("rn", row_number().over(wSz))
      .withColumn("k", ((col("rn") + 1) / 2).cast("long"))
      .groupBy(col("k"))
      .agg(max(when(col("rn") % 2 === 1, col("ntext"))).as("t1"),
        max(when(col("rn") % 2 === 0, col("ntext"))).as("t2"),
        count(lit(1)).as("c"))
      .filter(col("c") === 2)
      .select((lit(1000000L) + col("k")).as("doc_id"),
        concat(col("t1"), lit(" "), col("t2")).as("text"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("source", lit("bridge"))
  }

  /** q221's exact-COPY fixture (doc_id 2e6+d for d %7 = 0, text
    * verbatim — stage-1 exact-dedup fodder). */
  private def q221Copies(real: DataFrame): DataFrame =
    real.filter(pmod(col("doc_id"), lit(7)) === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"), col("text"),
        col("n_chars"), col("source"))

  private def q228_streaming_refresh(s: SparkSession, dir: String): DataFrame = {
    // The COMPOSED STREAM under the driver's oracle gate (the q225
    // discipline applied to CONTINUOUS ingest): q221's corpus driven
    // through graft.streaming.NightlyRefresh — the production bucketed
    // append-only state layout — as two REAL micro-batch epochs
    // (epoch 0: seed ∪ exact copies, which die in stage 1 and init the
    // stored state; epoch 1: the bridge docs, whose pairs MERGE stored
    // clusters so every state family re-keys across the epoch
    // boundary), then the CURRENT report resolved from the epoch-keyed
    // delta snapshots (latest-epoch-wins + tombstones). The oracle is
    // q221's from-scratch recompute: stream ≡ batch ≡ oracle, with the
    // foreachBatch path — epoch discovery via commit markers, gram-
    // bucket-pruned candidate join, affected-component label refresh,
    // state re-key, merge-on-read resolution — all under the hash gate,
    // not just ScalaTest. Unique temp state root per invocation (the
    // writeCompacted discipline); the stream runs synchronously and
    // stops before the report is read.
    val real = t(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("n_chars"), col("source"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_q228_").toString
    val src = s"$tmp/src"
    q221Copies(real).write.mode("overwrite").parquet(s"$src/f0")
    val st = s"$tmp/state"
    val q = graft.streaming.NightlyRefresh.start(
      s.readStream.schema(real.schema).parquet(s"$src/*"),
      real, st, s"$tmp/ckpt")
    try {
      q.processAllAvailable() // epoch 0: seed init ∪ copies
      q221Bridges(real).write.mode("overwrite").parquet(s"$src/f1")
      q.processAllAvailable() // epoch 1: bridges force cross-epoch merges
    } finally q.stop()
    graft.streaming.NightlyRefresh.currentReport(s, st)
      .orderBy("cluster_id")
  }

  /** The q221/q225 incremental refresh chain over a corpus of
    * `(doc_id, text, n_chars, source, fp)` where delta rows carry
    * `doc_id >= 1e6` (history ids are all below — doc-id order within a
    * fingerprint IS (is_history, doc_id) keep order). Stages 1–5 as
    * documented at [[q221_nightly_composite]]; shared verbatim by the
    * dirty-delta composite (q225), whose delta arrives through the
    * quarantine + schema-drift ingest instead of a trusted union. */
  private def nightlyCompositeChain(docs: DataFrame): DataFrame = {
    import graft.relational.Relational
    import graft.analyze.{Hdr, KmvDistinct}
    // label each eager stage (guide §1.5) so listeners/UI can attribute
    // the chain's ~80 jobs
    def phase[T](name: String)(f: => T): T = {
      val sc = docs.sparkSession.sparkContext
      sc.setJobDescription(s"nightly: $name")
      try f finally sc.setJobDescription(null)
    }
    val isDelta = col("doc_id") >= 1000000L
    val wFp = Window.partitionBy(col("fp")).orderBy(col("doc_id"))

    // stage 1 — incremental exact dedup. keptHist/keptDelta feed four
    // consumers each (pair detection + three state families) and the
    // pair set feeds BOTH CC calls — materialize once (the
    // connectedComponents lineage discipline) so the dedup windows and
    // the candidate detector run once, not per consumer.
    val keptHist = phase("s1 hist dedup")(docs.filter(!isDelta)
      .withColumn("rn", row_number().over(wFp)).filter(col("rn") === 1)
      .drop("rn").localCheckpoint(true))
    val keptDelta = phase("s1 delta dedup")(docs.filter(isDelta)
      .withColumn("rn", row_number().over(wFp)).filter(col("rn") === 1)
      .drop("rn")
      .join(keptHist.select("fp").distinct(), Seq("fp"), "left_anti")
      .localCheckpoint(true))
    val survivors = keptHist.unionByName(keptDelta)

    // stage 2 — incremental CC: the delta's pairs (either endpoint in
    // the batch) merge into stored labels built from archive-only pairs
    // shingle the survivor set ONCE (checkpoint) and run the detector
    // from shingles: the text entry point re-shingles its input once per
    // physical subtree — six times per call — and the survivor union is
    // already an ExistingRDD with no planner stats to lose
    val shingled = phase("s2 shingle")(survivors
      .select(col("doc_id").as("id"),
        Dedup.shingles(col("text"), 3).as("sh"))
      .localCheckpoint(true))
    val pairs = phase("s2 pair detect")(
      Dedup.ngramJaccardPairsFromShingles(shingled, threshold = 0.3)
        .localCheckpoint(true))
    val touchesDelta = col("id_a") >= 1000000L || col("id_b") >= 1000000L
    val stored = phase("s2 stored CC")(
      Dedup.connectedComponents(pairs.filter(!touchesDelta), "id_a", "id_b"))
    val refreshed = phase("s2 incr CC")(Dedup.incrementalComponents(stored,
      pairs.filter(touchesDelta), "id_a", "id_b"))

    // label views: old (stored) key per history doc, the old→new root
    // mapping, and the new key per delta doc.
    // rootMap is restricted to the old roots of DELTA-TOUCHED components
    // (ADVICE r19): `refreshed` has one row per archive pair-participating
    // doc, which at 100 TB outgrows the 8 GB broadcast cap, but the rekey
    // below is a left join + coalesce, so any cid_old absent from the map
    // keeps its key — and an old root untouched by the delta maps to
    // itself. Affected old roots = the delta pairs' history endpoints'
    // stored roots (endpoints not in `stored` were singletons rooted at
    // their own id) — delta-component-sized by construction, like the
    // NightlyRefresh affected-labels path.
    val histEnds = pairs.filter(touchesDelta)
      .select(explode(array(col("id_a"), col("id_b"))).as("id"))
      .filter(col("id") < 1000000L).distinct()
    val affOldRoots = histEnds
      .join(stored.withColumnRenamed("cluster_id", "__c"), Seq("id"), "left")
      .select(coalesce(col("__c"), col("id")).as("cid_old")).distinct()
    val rootMap = refreshed
      .join(broadcast(affOldRoots), col("id") === col("cid_old"))
      .select(col("cid_old"), col("cluster_id").as("cid_new"))
    // stages 3–5 FUSED (r20, VERDICT r19 item 1): the agg / HDR / KMV
    // family states are all decomposable aggregates over the SAME two
    // labeled relations, so they build in ONE multi-aggregate pass at
    // (cluster, hdr-bin) grain plus one cluster-grain rollup, instead
    // of three family trees (two aggregations + a merge each) that
    // re-planned and re-scanned the labels per family. Identities used,
    // each exact: counts/decimal(22,2)-sums add, min/max fold, HDR
    // merge is count addition, KMV union-trim is exact (KmvOps), and
    // state(A ∪ B) ≡ merge(state(A), state(B)) for every family —
    // rekey-then-reduce at state grain equals re-keying the rows
    // through the same broadcast rootMap and aggregating once.
    // histLab/deltaLab checkpoints are gone: each labeled relation now
    // has exactly ONE consumer, so the label joins run once inside the
    // final action with no materialization step.
    val relabeled = keptHist
      .join(stored.select(col("id"), col("cluster_id").as("__c")),
        col("doc_id") === col("id"), "left")
      .select(col("doc_id"),
        coalesce(col("__c"), col("doc_id")).as("cid_old"),
        col("n_chars"), col("source"))
      .join(broadcast(rootMap), Seq("cid_old"), "left")
      .select(coalesce(col("cid_new"), col("cid_old")).as("cluster_id"),
        col("n_chars"), col("source"))
      .unionByName(keptDelta
        .join(refreshed.select(col("id"), col("cluster_id").as("__c")),
          col("doc_id") === col("id"), "left")
        .select(coalesce(col("__c"), col("doc_id")).as("cluster_id"),
          col("n_chars"), col("source")))
    // (cluster, bin) grain: bin = HDR bucket for positive n_chars, null
    // otherwise (hdrState's value filter becomes the null-bin group,
    // excluded from the quantile read); on non-null bins the group's n
    // equals hdrState's cnt because every such row has positive
    // n_chars. Checkpointed: the p50 read and the cluster rollup both
    // consume it, and it replaces the two label-side checkpoints.
    val binned = phase("s3-5 fused states")(relabeled
      .groupBy(col("cluster_id"),
        when(col("n_chars").isNotNull && col("n_chars") > 0,
          Hdr.hdrBin(col("n_chars"), 6)).as("bin"))
      .agg(count(col("n_chars")).as("n"),
        sum(col("n_chars").cast("decimal(12,2)")).cast("decimal(22,2)")
          .as("sum_v"),
        min(col("n_chars")).as("min_v"), max(col("n_chars")).as("max_v"),
        KmvDistinct.stateNullableUdaf(64)(
          when(col("source").isNotNull,
            KmvDistinct.md5Low64(col("source")))).as("__st"))
      .localCheckpoint(true))
    val p50 = Hdr.hdrQuantiles(
        binned.filter(col("bin").isNotNull)
          .select(col("cluster_id"), col("bin"), col("n").as("cnt")),
        "cluster_id", Seq(50))
      .select(col("cluster_id"), col("bin").as("p50_bin"),
        col("q_low").as("p50_low"))
    binned.groupBy(col("cluster_id"))
      .agg(sum(col("n")).as("n"),
        sum(col("sum_v")).cast("decimal(22,2)").as("sum_v"),
        min(col("min_v")).as("min_v"), max(col("max_v")).as("max_v"),
        KmvDistinct.stateMergeUdaf(64)(col("__st")).as("__st"))
      // a cluster with no non-null source has an EMPTY merged KMV state
      // — the pre-fusion kmv relation had no row for it and the inner
      // join dropped it; a cluster with no positive n_chars drops
      // through the p50 inner join exactly as before
      .filter(size(col("__st")) > 0)
      .select(col("cluster_id"), col("n").as("n_docs"),
        col("sum_v").cast("long").as("sum_chars"),
        col("min_v").as("min_chars"), col("max_v").as("max_chars"),
        size(col("__st")).cast("long").as("n_src_sketch"),
        element_at(col("__st"), -1).as("src_kth_min"))
      .join(p50, Seq("cluster_id"))
      .select(col("cluster_id"), col("n_docs"), col("sum_chars"),
        col("min_chars"), col("max_chars"), col("p50_bin"),
        col("p50_low"), col("n_src_sketch"), col("src_kth_min"))
      .orderBy("cluster_id")
  }

  private def q222_sql_twin(s: SparkSession, dir: String): DataFrame = {
    // The PURE-SQL reachability proof: q41 (simhash near-dup pairs,
    // radius 8, md5-compatible signatures) re-written entirely as
    // spark.sql over temp views + the registered kernel functions
    // (GraftExtensions.registerAll on the driver-owned session — the
    // runtime path a notebook/SQL-only consumer uses). Chunk layout
    // replicates hammingPairsFromSigs for nChunks = 9: widths 64/9 = 7
    // with the first chunk taking the remainder bit (8), offsets
    // cumulative. Gated against q41's oracle — the SQL surface must
    // hash-match the Scala API exactly.
    graft.functions.GraftExtensions.registerAll(s)
    t(s, dir, "documents").createOrReplaceTempView("graft_documents")
    s.sql("""
      WITH sigs AS (
        SELECT doc_id,
          simhash64(split(trim(regexp_replace(lower(text), '\\s+', ' ')), ' '),
                    true) AS sig
        FROM graft_documents),
      chunks AS (
        SELECT doc_id, sig, c.i AS i,
          shiftright(sig, c.off) & c.mask AS key
        FROM sigs
        LATERAL VIEW explode(array(
          named_struct('i', 0, 'off',  0, 'mask', 255L),
          named_struct('i', 1, 'off',  8, 'mask', 127L),
          named_struct('i', 2, 'off', 15, 'mask', 127L),
          named_struct('i', 3, 'off', 22, 'mask', 127L),
          named_struct('i', 4, 'off', 29, 'mask', 127L),
          named_struct('i', 5, 'off', 36, 'mask', 127L),
          named_struct('i', 6, 'off', 43, 'mask', 127L),
          named_struct('i', 7, 'off', 50, 'mask', 127L),
          named_struct('i', 8, 'off', 57, 'mask', 127L))) t AS c)
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        bit_count(a.sig ^ b.sig) AS hamming
      FROM chunks a JOIN chunks b
        ON a.i = b.i AND a.key = b.key AND a.doc_id < b.doc_id
      WHERE bit_count(a.sig ^ b.sig) <= 8
      ORDER BY id_a, id_b""")
  }

  private def q226_sql_incremental(s: SparkSession, dir: String): DataFrame = {
    // Second PURE-SQL family twin (the q222 discipline on the exact-
    // dedup family): q82's incremental-ingest dedup re-written entirely
    // as spark.sql over a temp view + the runtime-registered
    // `fingerprint` kernel — batch (doc_id % 5 = 4) deduped within
    // itself by window rank, then NOT EXISTS (planned as a left-anti
    // join on 16-byte fingerprints — document text never shuffles)
    // against DISTINCT history fingerprints. Gated against q82's own
    // oracle: the SQL surface must hash-match the Scala API exactly.
    graft.functions.GraftExtensions.registerAll(s)
    t(s, dir, "documents").createOrReplaceTempView("graft_documents")
    s.sql("""
      WITH fps AS (
        SELECT doc_id, lang, fingerprint(text) AS fp FROM graft_documents),
      hist AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 5 <> 4),
      batch AS (
        SELECT doc_id, lang, fp,
          row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM fps WHERE doc_id % 5 = 4)
      SELECT doc_id, lang, fp FROM batch b
      WHERE rn = 1 AND NOT EXISTS (SELECT 1 FROM hist h WHERE h.fp = b.fp)
      ORDER BY doc_id""")
  }

  private def q227_sql_quality(s: SparkSession, dir: String): DataFrame = {
    // Third PURE-SQL family twin: the q29 text-quality profile through
    // the registered curation kernels (stopword_ratio / punct_ratio /
    // mean_word_length / quality_score) — the corpus-curation family a
    // SQL-only consumer runs daily, gated on q29's own oracle.
    graft.functions.GraftExtensions.registerAll(s)
    t(s, dir, "documents").createOrReplaceTempView("graft_documents")
    s.sql("""
      SELECT doc_id,
        stopword_ratio(text) AS stopword_ratio,
        punct_ratio(text) AS punct_ratio,
        mean_word_length(text) AS mean_word_len,
        quality_score(text) AS quality
      FROM graft_documents
      ORDER BY doc_id""")
  }

  private def q229_sql_ann(s: SparkSession, dir: String): DataFrame = {
    // Fourth PURE-SQL family twin: the ANN stack. q48's IVF top-k
    // re-written entirely as spark.sql over a temp view + the
    // registered ANN kernels — the centroid matrix travels as the
    // IvfModel compact string literal (the nb_classify model-literal
    // discipline: a SQL-only consumer pastes a trained index into the
    // query text; the parsed literal satisfies the kernels'
    // row-constant contract by construction). The Scala wrapper only
    // performs buildSampled's own metadata-sized centroid collect (the
    // nlist lowest-id vectors ARE the index) and interpolates the
    // literal; everything else — assignment, probe selection,
    // exact-decimal cosine, per-query rank — is SQL. Gated against
    // q48's own oracle: the SQL surface must hash-match the Scala API.
    graft.functions.GraftExtensions.registerAll(s)
    val emb = t(s, dir, "embeddings")
    emb.createOrReplaceTempView("graft_embeddings")
    val centroids = emb.select(col("vec_id"), col("embedding"))
      .orderBy(col("vec_id")).limit(16).collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    val model = graft.functions.IvfModel.serialize(centroids)
    s.sql(s"""
      WITH assigned AS (
        SELECT vec_id AS id, embedding AS vec,
               ivf_assign(embedding, '$model') AS cell,
               dot_exact(embedding, embedding) AS n2
        FROM graft_embeddings),
      queries AS (
        SELECT vec_id AS query_id, embedding AS qv,
               dot_exact(embedding, embedding) AS qn2
        FROM graft_embeddings WHERE vec_id < 8),
      probes AS (
        SELECT query_id, explode(ivf_probes(qv, '$model', 4)) AS cell
        FROM queries),
      cand AS (
        SELECT q.query_id, a.id,
               CASE WHEN sqrt(q.qn2) * sqrt(a.n2) > 0
                    THEN dot_exact(q.qv, a.vec) / (sqrt(q.qn2) * sqrt(a.n2))
                    ELSE 0.0 END AS cos
        FROM probes p
        JOIN assigned a ON a.cell = p.cell
        JOIN queries q ON q.query_id = p.query_id
        WHERE a.id <> q.query_id)
      SELECT query_id, id AS neighbor_id, cos, rank
      FROM (SELECT query_id, id, cos,
              row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos DESC, id ASC) AS rank
            FROM cand)
      WHERE rank <= 5
      ORDER BY query_id, rank""")
  }

  private def q223_unigram_segment(s: SparkSession, dir: String): DataFrame = {
    // Unigram-LM (SentencePiece-style) segmentation with a FROZEN
    // vocabulary (UnigramFixture — Viterbi-EM-trained once on
    // sf0.001, shipped as an artifact: the q94 discipline applied to
    // the BPE sibling). Per token, the native UnigramSegmentExpr
    // Viterbi (integer milli-nat costs, combined 16·cost+pieces
    // metric) picks the optimal piece sequence; the gate sums piece
    // counts and exact integer costs per doc, so the oracle's
    // forward-only unrolled DP (same combined metric, generated from
    // the same fixture) must agree with the backtracked segments —
    // a suboptimal backtrack breaks the hash. Narrow map, no shuffle.
    import graft.analyze.UnigramFixture
    val words = filter(TA.tokens(lower(col("text"))), w => length(w) > 0)
    val segsOf: Column => Column = w => graft.functions.TextFunctions
      .unigramSegment(w, UnigramFixture.pieces, UnigramFixture.costs,
        UnigramFixture.unkCost, UnigramFixture.maxPieceLen)
    val costMap = map(UnigramFixture.vocab.flatMap { case (p, _, c) =>
      Seq(lit(p), lit(c)) }: _*)
    t(s, dir, "documents")
      .select(col("doc_id"), words.as("__w"))
      .select(col("doc_id"), size(col("__w")).cast("long").as("n_tokens"),
        flatten(transform(col("__w"), segsOf)).as("__segs"))
      .select(col("doc_id"), col("n_tokens"),
        size(col("__segs")).cast("long").as("n_subwords"),
        aggregate(col("__segs"), lit(0L), (acc, p) => acc +
          coalesce(element_at(costMap, p), lit(UnigramFixture.unkCost)))
          .as("total_cost"))
      .orderBy("doc_id")
  }

  private def q224_quarantine_gate(s: SparkSession, dir: String): DataFrame = {
    // Malformed-record QUARANTINE, oracle-gated (the q219/q220 fixture
    // discipline applied to dirty DATA instead of drifted schemas): a
    // CSV batch is derived deterministically from events — rows with
    // event_id % 13 == 0 get an untypeable score token ("bad<id>"),
    // rows with event_id % 13 == 5 lose their score field entirely
    // (token-count mismatch), the rest are well-formed — written as
    // text, then read back through QuarantinedRead.csv (PERMISSIVE +
    // _corrupt_record). The gate checks BOTH sides of the split:
    // clean rows aggregate per event_type (count + exact score sum —
    // proving no malformed row leaked in and no clean row was lost),
    // quarantined rows aggregate per failure reason with their
    // PARTIALLY-PARSED event_id sum (PERMISSIVE keeps the tokens that
    // did parse) and the total raw-line length (proving the raw line
    // survives byte-exact for replay). The DuckDB twin replays the
    // same planted-corruption rule over events directly.
    // Reference anchor: the pandas-inferred CSV ingress
    // (operators/clevertap_user_profile.py:91) whose malformed-row
    // behavior the reference never defined — here it is a contract.
    import org.apache.spark.sql.types._
    val ev = t(s, dir, "events")
    val id = col("event_id").cast("string")
    val reasonCol = when(pmod(col("event_id"), lit(13)) === 0, lit("untypeable"))
      .when(pmod(col("event_id"), lit(13)) === 5, lit("short"))
      .otherwise(lit("clean"))
    val line = when(reasonCol === "untypeable",
        concat_ws(",", id, col("event_type"), concat(lit("bad"), id)))
      .when(reasonCol === "short", concat_ws(",", id, col("event_type")))
      .otherwise(concat_ws(",", id, col("event_type"),
        pmod(col("event_id"), lit(100)).cast("string")))
    // unique temp dir per invocation (the writeCompacted discipline)
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_q224_").toString
    ev.select(line.as("value")).write.mode("overwrite").text(tmp)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("event_type", StringType),
      StructField("score", IntegerType)))
    val q = graft.source.QuarantinedRead.csv(s, tmp, schema,
      options = Map("header" -> "false"))
    val clean = q.clean
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("event_id")).as("id_sum"),
        sum(col("score").cast("long")).as("detail"))
      .select(concat(lit("clean:"), col("event_type")).as("bucket"),
        col("n"), col("id_sum"), col("detail"))
    val quar = q.quarantine
      .withColumn("reason",
        when(size(split(col(q.corruptCol), ",")) === 2, lit("short"))
          .otherwise(lit("untypeable")))
      .groupBy(col("reason"))
      .agg(count(lit(1)).as("n"),
        sum(col("event_id")).as("id_sum"),
        sum(length(col(q.corruptCol)).cast("long")).as("detail"))
      .select(concat(lit("quarantined:"), col("reason")).as("bucket"),
        col("n"), col("id_sum"), col("detail"))
    clean.unionByName(quar).orderBy("bucket")
  }

  private def q225_dirty_nightly(s: SparkSession, dir: String): DataFrame = {
    // The DIRTY-NIGHTLY COMPOSITE — the q221 incremental chain fed by a
    // delta that arrives the way 100 TB deltas actually arrive: as
    // json-lines landing batches with DRIFTED schemas AND MALFORMED
    // rows. The full messy-data ingest path runs under ONE oracle gate:
    //   a. two landing batches are derived deterministically from
    //      documents — batch 0 (schema doc_id, text, source) carries
    //      NEAR-DUP MUTANTS (id 2e6+d for d % 7 = 0, text + a 3-token
    //      tail: survives exact dedup, near-dups its original, joins
    //      its cluster) and EXACT COPIES (id 3e6+d for d % 11 = 5,
    //      stage-1 fodder); batch 1 (schema doc_id, text — the
    //      `source` column DROPPED by the drifting producer) carries
    //      the q221 BRIDGE docs (id 1e6+k, cluster mergers);
    //   b. planted corruption: mutants of d % 21 = 0 docs carry an
    //      untypeable doc_id token ("bad<id>"), bridges of k % 5 = 2
    //      are truncated mid-string — both must QUARANTINE, so their
    //      docs never enter the corpus (visibly: a quarantined mutant
    //      shrinks its cluster, a quarantined bridge leaves two
    //      history clusters UNMERGED);
    //   c. each batch parses through QuarantinedRead.json (PERMISSIVE,
    //      its own declared schema); the clean survivors land as
    //      parquet batch dirs and are re-read through
    //      DriftTolerantChangelogSource — footer-schema evolution
    //      null-fills the dropped `source`, which the repair step
    //      rebuilds (coalesce → 'bridge') along with n_chars
    //      (length(text)) so the drifted column flows into the KMV
    //      source sketch and the dropped lengths into agg/HDR;
    //   d. the q221 chain runs unchanged on history ∪ clean delta.
    // The oracle recomputes FROM SCRATCH over documents, replaying the
    // mutation/corruption arithmetic in SQL — merge ≡ recompute across
    // the drift + quarantine + incremental family composite.
    import org.apache.spark.sql.types._
    val real = t(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("n_chars"), col("source"))

    // -- batch 0: mutants + exact copies, with untypeable-id corruption
    val mut = real.filter(pmod(col("doc_id"), lit(7)) === 0)
      .withColumn("__bad", pmod(col("doc_id"), lit(21)) === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        concat(col("text"), lit(" qqq zzz qqq")).as("text"),
        col("source"), col("__bad"))
    val cpy = real.filter(pmod(col("doc_id"), lit(11)) === 5)
      .select((col("doc_id") + 3000000L).as("doc_id"), col("text"),
        col("source"), lit(false).as("__bad"))
    val b0 = mut.unionByName(cpy).select(
      when(col("__bad"),
          to_json(struct(concat(lit("bad"), col("doc_id").cast("string"))
            .as("doc_id"), col("text"), col("source"))))
        .otherwise(to_json(struct(col("doc_id"), col("text"), col("source"))))
        .as("value"))

    // -- batch 1: q221's bridges, schema DROPS `source`; pair k % 5 = 2
    //    (doc_id 1e6 + k) lines truncated mid-string (malformed json)
    val b1 = q221Bridges(real).select(
      when(pmod(col("doc_id") - 1000000L, lit(5)) === 2, concat(lit("{\"doc_id\":"),
          col("doc_id").cast("string"), lit(",\"text\":\"trunc")))
        .otherwise(to_json(struct(col("doc_id"), col("text"))))
        .as("value"))

    // -- land, quarantine-split per batch, clean sides → parquet
    //    changelog batches, drift-tolerant union, repair, chain
    val tmp = java.nio.file.Files.createTempDirectory("graft_q225_").toString
    val schema0 = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("source", StringType)))
    val schema1 = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    // the two batch pipelines (land-write → quarantine parse → clean
    // write) are fully independent until the drift-tolerant union reads
    // both — overlap them (guide §2.6): the second chain's tasks
    // back-fill executors freed by the first chain's write tail, and
    // the driver plans the four actions from two threads instead of
    // serializing them. Distinct directories, no shared state
    // (QuarantinedRead is lazy; the writes target disjoint paths).
    graft.streaming.NightlyRefresh.runSiblings(2, Seq(
      () => {
        b0.write.mode("overwrite").text(s"$tmp/land/batch=0000")
        graft.source.QuarantinedRead.json(s, s"$tmp/land/batch=0000", schema0)
          .clean.write.mode("overwrite").parquet(s"$tmp/clean/batch=0000")
      },
      () => {
        b1.write.mode("overwrite").text(s"$tmp/land/batch=0001")
        graft.source.QuarantinedRead.json(s, s"$tmp/land/batch=0001", schema1)
          .clean.write.mode("overwrite").parquet(s"$tmp/clean/batch=0001")
      }))
    val delta = new graft.source.DriftTolerantChangelogSource(s, s"$tmp/clean")
      .since(None)
      .select(col("doc_id"), col("text"),
        length(col("text")).cast("long").as("n_chars"),
        coalesce(col("source"), lit("bridge")).as("source"))

    val docs = real.unionByName(delta)
      .withColumn("fp", TA.fingerprint(col("text")))
    nightlyCompositeChain(docs)
  }

  private def q209_dayn_retention(s: SparkSession, dir: String): DataFrame =
    // Day-N retention curve at N in {1,3,7,14}: cohort bounded by the
    // observed corpus end (no false churn on unfinished offsets),
    // exact epoch-day integers, one distinct (user, day) relation.
    graft.analyze.Timeseries.dayNRetention(
        t(s, dir, "events"), "user_id", "ts", offsets = Seq(1, 3, 7, 14))
      .orderBy("n")

  private def q123_linear_fit(s: SparkSession, dir: String): DataFrame = {
    // Exact regression of token count on char length: integer centered
    // moments (order-free decimal sums), closed form in fixed-shape
    // double arithmetic — the oracle replays identical integers.
    val d = t(s, dir, "documents").filter(col("text").isNotNull)
      .select(length(col("text")).cast("long").as("x"),
        TA.tokenCount(col("text")).cast("long").as("y"))
    graft.analyze.Stats.fitLinearInt(d, "x", "y")
  }

  private def q125_unicode_normalize(s: SparkSession, dir: String): DataFrame = {
    // Native NFC + accent-strip expressions over adversarially
    // decomposed text (every 'a' -> 'a' + COMBINING ACUTE): NFC must
    // recompose (shorter codepoint length), strip must restore the
    // original text (hash equality with md5(text) is implied by
    // construction and checked in the oracle by replaying both).
    import graft.functions.TextFunctions
    val acc = regexp_replace(col("text"), "a", "a\u0301")
    t(s, dir, "documents").filter(col("text").isNotNull)
      .select(col("doc_id"),
        length(acc).cast("long").as("len_acc"),
        length(TextFunctions.nfcNormalize(acc)).cast("long").as("len_nfc"),
        length(TextFunctions.stripAccents(acc)).cast("long").as("len_stripped"),
        md5(TextFunctions.nfcNormalize(acc).cast("binary")).as("h_nfc"),
        md5(TextFunctions.stripAccents(acc).cast("binary")).as("h_stripped"))
  }

  private def q126_editdist_join(s: SparkSession, dir: String): DataFrame =
    // SymSpell-blocked edit-distance self-join over customer names:
    // candidates from deletion-variant hash buckets (ids-only shuffle),
    // exact levenshtein verify — equals the oracle's quadratic filter.
    graft.dedup.Dedup.editDistancePairs(
      t(s, dir, "customer").filter(col("c_custkey") % 3 === 0),
      "c_custkey", "c_name", maxDist = 1)

  private def q127_weighted_sample(s: SparkSession, dir: String): DataFrame =
    // Priority sample weighted by document length: k smallest
    // hash(id)/weight priorities, TakeOrdered plan (no global sort).
    TA.weightedPrioritySample(
        t(s, dir, "documents").select("doc_id", "n_chars"),
        "doc_id", "n_chars", k = 100)
      .orderBy("doc_id")

  private def q128_group_sample(s: SparkSession, dir: String): DataFrame =
    // Per-source length-weighted quota: 10 docs per source by priority
    // (binds at BOTH gate SFs: 25 docs/source at sf0.01, 250 at sf0.1).
    TA.weightedPrioritySamplePerGroup(
      t(s, dir, "documents").select("doc_id", "source", "n_chars"),
      "doc_id", "n_chars", "source", kPerGroup = 10)

  private def q129_corr_matrix(s: SparkSession, dir: String): DataFrame = {
    // Exact Pearson correlations between three integer text features —
    // two passes for all pairs, integer moments, sqrt-exact doubles.
    val feats = t(s, dir, "documents").filter(col("text").isNotNull)
      .select(length(col("text")).cast("long").as("chars"),
        TA.tokenCount(col("text")).cast("long").as("toks"),
        TA.bpeishTokenCount(col("text")).cast("long").as("bpeish"))
    graft.analyze.Stats.corrMatrixInt(feats, Seq("chars", "toks", "bpeish"))
  }

  private def q124_mad_outliers(s: SparkSession, dir: String): DataFrame =
    // Median/MAD robust outlier gate per event type; discrete medians
    // (actual data values) keep the rule bit-exact cross-engine.
    graft.analyze.Stats.madOutliers(
        t(s, dir, "events").filter(col("value").isNotNull),
        "event_type", "value")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("is_outlier"), 1L).otherwise(0L)).as("n_outliers"),
        max(col("med")).as("med"), max(col("mad")).as("mad"))
      .orderBy("event_type")

  private def q88_bigram_fluency(s: SparkSession, dir: String): DataFrame = {
    // Corpus-LM fluency proxy: mean corpus frequency of each document's
    // bigrams (integer-exact LM counts; one final IEEE division) — the
    // distributed stand-in for a perplexity quality filter.
    TA.bigramFluency(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")
  }

  private def q89_vocab_coverage(s: SparkSession, dir: String): DataFrame = {
    // Tokenizer-coverage signal: top-500 corpus vocabulary (broadcast),
    // per-doc OOV occurrence fraction; one IEEE division.
    TA.vocabCoverage(t(s, dir, "documents"), "doc_id", "text", vocabSize = 500)
      .orderBy("doc_id")
  }

  private def q90_quality_gate(s: SparkSession, dir: String): DataFrame = {
    // Per-domain quality thresholding (FineWeb-style): percent_rank of
    // the q29 quality score within each source, keep the top half.
    val docs = t(s, dir, "documents")
      .withColumn("quality", TA.qualityScore(col("text")))
    TA.stratumQuantileGate(docs, "source", col("quality"), col("doc_id"),
        keepFrac = 0.5)
      .select("doc_id", "source", "quality", "pr")
      .orderBy("doc_id")
  }

  private def q97_quality_gate_sketch(s: SparkSession, dir: String): DataFrame = {
    // q90's gate forced through the giant-stratum SKETCH fallback:
    // maxExactStratumRows = 0 sends every stratum down the
    // percentile_approx path (partial-agg sketch, broadcast thresholds,
    // plain filter — no per-stratum sort). With accuracy >> stratum size
    // the sketch retains every sample, and Spark's exact-summary query
    // returns the value at rank ceil(p·n) — bitwise what DuckDB's
    // quantile_disc computes (probed over n×p sweeps), so the fallback's
    // kept set is hash-oracle-able: same rows q90 keeps, minus the rank
    // column the fallback exists to avoid computing.
    // project to the three output columns and materialize BEFORE the
    // gate: the sketch path reads its input three times (stratum sizes,
    // thresholds, filter) and the quality kernel is four regex passes
    // per row — unmaterialized it ran once per consumer over full rows
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        TA.qualityScore(col("text")).as("quality"))
      .localCheckpoint(true)
    TA.stratumQuantileGate(docs, "source", col("quality"), col("doc_id"),
        keepFrac = 0.5, maxExactStratumRows = 0, accuracy = 1000000)
      .select("doc_id", "source", "quality")
      .orderBy("doc_id")
  }

  private def q91_salted_join(s: SparkSession, dir: String): DataFrame = {
    // Skew-mitigation rewrite, oracle-verified semantics-preserving:
    // documents are skewed by lang (en is ~half the corpus); the salted
    // join spreads each hot key across 8 reducers while the small dim
    // replicates 8x. The salt is deterministic (doc_id mod 8) so task
    // retries and re-runs route rows identically; the output must be
    // bit-identical to the plain inner join — which is the oracle.
    val docs = t(s, dir, "documents")
    val dim = docs.select(col("lang")).distinct()
      .withColumn("lang_len", length(col("lang")).cast("long"))
    graft.core.Skew.saltedJoinBy(docs, dim, "lang",
        pmod(col("doc_id"), lit(8)).cast("int"), salts = 8)
      .select(col("doc_id"), col("lang"), col("lang_len"))
      .orderBy("doc_id")
  }

  private def q92_dedup_agreement(s: SparkSession, dir: String): DataFrame = {
    // Sketch-tuning report: how well do SimHash radius-8 pairs (q41's
    // detector) agree with exact 3-gram Jaccard >= 0.3 (q40's ground
    // truth)? One row: counts + precision/recall — the numbers a
    // curation pipeline tunes its radius/threshold on.
    val docs = t(s, dir, "documents")
    val ref = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      shingleN = 3, threshold = 0.3)
    val cand = Dedup.simhashNearDups(docs, "doc_id", "text",
      maxHamming = 8, md5Compat = true, allowWideRadius = true)
    Dedup.pairAgreement(ref, cand, "id_a", "id_b")
  }

  private def q102_dedup_agreement_banded(s: SparkSession, dir: String): DataFrame = {
    // q92's tuning report with the candidate detector swapped for the
    // SCALE-SAFE banded form (q99's detector, exponent 0.97 vs the exact
    // radius-8 path's 1.75): at corpus scale this is the variant of the
    // radius/threshold tuning loop you can actually afford to run.
    // pairAgreement is detector-agnostic, so the swap is pure composition.
    val docs = t(s, dir, "documents")
    val ref = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      shingleN = 3, threshold = 0.3)
    val cand = Dedup.simhashNearDupsBanded(docs, "doc_id", "text",
      maxHamming = 8, nChunks = 4, md5Compat = true)
    Dedup.pairAgreement(ref, cand, "id_a", "id_b")
  }

  private def q103_crossdoc_spans(s: SparkSession, dir: String): DataFrame =
    // Cross-document exact-substring dedup, span form (Lee et al. 2022):
    // maximal runs of 5-gram anchors shared by >= 2 docs — the verbatim
    // boilerplate/license/template substrings, with boundaries, that a
    // removal pass consumes. Where q79 summarizes coverage, this emits
    // the spans themselves.
    Dedup.crossDocSpans(t(s, dir, "documents"), "doc_id", "text",
        k = 5, minDocs = 2, gramHash = "md5")
      .orderBy("doc_id", "span_start")

  private def q105_crossdoc_keepfirst(s: SparkSession, dir: String): DataFrame =
    // The Lee et al. removal POLICY: one occurrence of each duplicated
    // substring survives corpus-wide (the (doc,pos)-minimal one); q104
    // is the remove-all C4 policy over the same anchors.
    Dedup.keepFirstCrossDocSpans(t(s, dir, "documents"), "doc_id", "text",
        k = 5, minDocs = 2, gramHash = "md5")
      .orderBy("doc_id")

  private def q106_span_decontamination(s: SparkSession, dir: String): DataFrame = {
    // Span-level decontamination, the removal form of q74/q80's
    // detection: strip from the TRAIN split (even ids) every token
    // position under a 5-gram that also occurs in the EVAL split (odd
    // ids) — the verbatim-leakage scrub a pre-training pipeline runs
    // after the contamination report comes back nonzero.
    val docs = t(s, dir, "documents")
    Dedup.stripSpansSharedWith(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", k = 5, gramHash = "md5")
      .orderBy("doc_id")
  }

  private def q104_crossdoc_strip(s: SparkSession, dir: String): DataFrame =
    // The removal pass: every token position under a shared 5-gram
    // dropped from the normalized token stream (all occurrences — the
    // C4-style boilerplate strip), surviving tokens re-joined.
    Dedup.stripCrossDocSpans(t(s, dir, "documents"), "doc_id", "text",
        k = 5, minDocs = 2, gramHash = "md5")
      .orderBy("doc_id")

  private def q93_chunk_pack(s: SparkSession, dir: String): DataFrame = {
    // Context-window prep end-to-end: overlapping chunks (q85) stream
    // into per-shard sequence packing (q68) — chunk keys are
    // doc_id*1e6 + chunk_idx (a 1M-chunk headroom: at stride 24 that is
    // ~24M tokens/doc before keys could collide — collisions would make
    // packSequences' ORDER BY id non-total and bin assignment engine-
    // dependent), shard = lang, 256-token bins. Also cross-checks that
    // chunk_text re-tokenizes to exactly n_chunk_tokens (the packer
    // recounts from text).
    val docs = t(s, dir, "documents")
    val chunks = TA.chunkTokens(docs, "doc_id", "text", win = 32, stride = 24)
      .join(docs.select("doc_id", "lang"), Seq("doc_id"))
      .withColumn("chunk_key", col("doc_id") * 1000000L + col("chunk_idx"))
    TA.packSequences(chunks, "chunk_key", "chunk_text",
        tokenBudget = 256, shardCol = col("lang"))
      .orderBy("shard", "bin")
  }

  private def q95_ann_maintenance(s: SparkSession, dir: String): DataFrame = {
    // Incremental ANN maintenance: the index is FROZEN on the even
    // vectors (a shipped artifact, like the BPE model in q94); the odd
    // vectors arrive as the daily batch and are assigned with the same
    // deterministic kernel. The drift report is what decides retraining:
    // per-cell count skew between corpus and batch, and the batch's
    // inertia against the frozen centroids. Exact integer counts, exact-
    // decimal inertia sums, final IEEE divisions — hash-oracle-able.
    import graft.analyze.Ivf
    val emb = t(s, dir, "embeddings")
    val frozen = Ivf.buildSampled(emb.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", nlist = 16)
    Ivf.driftReport(frozen, emb.filter(col("vec_id") % 2 === 1),
        "vec_id", "embedding")
      .orderBy("cell")
  }

  private def q96_video_frames(s: SparkSession, dir: String): DataFrame = {
    // Video under the oracle gate (q59's pattern, one level deeper):
    // deterministic fake-header frames inside a REAL RIFF/AVI container
    // — synthesize → container parse → per-frame decode, all partition-
    // local. The oracle recomputes every decoded feature arithmetically
    // from doc lengths, so a hash match proves the AVI writer, the RIFF
    // walker, and the per-frame decode pipeline preserve frame payloads
    // and metadata exactly. (Real MJPEG — JPEG frames in the same
    // container — is spec-gated in ExtraSpec; JPEG pixel output is not
    // SQL-recomputable.)
    import graft.multimodal.MultiModal
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))
    val vids = MultiModal.synthesizeVideosFromDocs(docs)
    MultiModal.extractVideoFeatures(vids)
      .orderBy("media_id", "frame_no")
  }

  private def q98_ann_recenter(s: SparkSession, dir: String): DataFrame = {
    // The ACTION q95's drift report points at: one k-means update step
    // over the drifted batch against the frozen index — per-cell,
    // per-dimension exact-decimal means of the assigned vectors (one
    // narrow assignment pass + one nlist×dim-key aggregation; nothing
    // retrains, nothing reshuffles the corpus). Same frozen-even /
    // batch-odd split as q95 so the two reports describe one maintenance
    // cycle: q95 says WHICH cells drifted, q98 says where they move.
    import graft.analyze.Ivf
    val emb = t(s, dir, "embeddings")
    val frozen = Ivf.buildSampled(emb.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", nlist = 16)
    Ivf.recenteredCoords(frozen.centroids, emb.filter(col("vec_id") % 2 === 1),
        "vec_id", "embedding")
      .orderBy("cell", "dim")
  }

  private def q94_bpe_segment(s: SparkSession, dir: String): DataFrame = {
    // BPE segmentation with a FROZEN merge table (BpeFixture — trained
    // once on sf0.001, shipped as an artifact, exactly how a tokenizer
    // reaches the 100 TB hot path). Narrow map: nMerges chained
    // regexp_replace kernels per word inside one transform lambda, no
    // shuffle, no UDF. The oracle replays the identical merge list as a
    // per-word replace chain (OracleSql generates it from the same
    // constant), so per-doc subword sequences must hash-match bitwise.
    val docs = t(s, dir, "documents")
    val segs = TA.bpeSegment(col("text"), graft.analyze.BpeFixture.merges)
    docs.select(col("doc_id"), segs.as("__segs"))
      .select(col("doc_id"),
        concat_ws(" ", col("__segs")).as("subwords"),
        size(col("__segs")).cast("long").as("n_subwords"))
      .orderBy("doc_id")
  }

  // =====================================================================

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> (q01_pricing_summary _),
    "q02_filter_project" -> (q02_filter_project _),
    "q03_join_agg" -> (q03_join_agg _),
    "q04_join5_region_revenue" -> (q04_join5_region_revenue _),
    "q05_broadcast_join" -> (q05_broadcast_join _),
    "q06_semi_join" -> (q06_semi_join _),
    "q07_anti_join" -> (q07_anti_join _),
    "q08_left_join" -> (q08_left_join _),
    "q09_window_latest_order" -> (q09_window_latest_order _),
    "q10_window_running" -> (q10_window_running _),
    "q11_topk" -> (q11_topk _),
    "q12_distinct" -> (q12_distinct _),
    "q13_set_ops" -> (q13_set_ops _),
    "q14_rollup" -> (q14_rollup _),
    "q15_count_distinct" -> (q15_count_distinct _),
    "q16_having" -> (q16_having _),
    "q17_case_when" -> (q17_case_when _),
    "q18_string_funcs" -> (q18_string_funcs _),
    "q19_date_funcs" -> (q19_date_funcs _),
    "q20_in_filter" -> (q20_in_filter _),
    "q21_latest_change_per_key" -> (q21_latest_change_per_key _),
    "q22_changefeed_since" -> (q22_changefeed_since _),
    "q23_typemap_sanity" -> (q23_typemap_sanity _),
    "q24_fix_dob" -> (q24_fix_dob _),
    "q25_identity" -> (q25_identity _),
    "q26_payload_envelope" -> (q26_payload_envelope _),
    "q27_text_stats" -> (q27_text_stats _),
    "q28_lang_profile" -> (q28_lang_profile _),
    "q29_quality_score" -> (q29_quality_score _),
    "q30_fingerprint_dedup" -> (q30_fingerprint_dedup _),
    "q31_token_topk" -> (q31_token_topk _),
    "q32_exact_dedup_rows" -> (q32_exact_dedup_rows _),
    "q33_cosine_topk" -> (q33_cosine_topk _),
    "q34_embedding_stats" -> (q34_embedding_stats _),
    "q35_cube" -> (q35_cube _),
    "q36_lag_lead" -> (q36_lag_lead _),
    "q37_first_last" -> (q37_first_last _),
    "q38_union_all" -> (q38_union_all _),
    "q39_scalar_subquery" -> (q39_scalar_subquery _),
    "q46_json_signals" -> (q46_json_signals _),
    "q47_latest_change_agg" -> (q47_latest_change_agg _),
    "q48_ivf_topk" -> (q48_ivf_topk _),
    "q49_cosine_pairs_exact" -> (q49_cosine_pairs_exact _),
    "q50_grouping_sets" -> (q50_grouping_sets _),
    "q51_range_join" -> (q51_range_join _),
    "q52_asof_join" -> (q52_asof_join _),
    "q53_corpus_prep" -> (q53_corpus_prep _),
    "q54_winnow_pairs" -> (q54_winnow_pairs _),
    "q55_kmv_distinct" -> (q55_kmv_distinct _),
    "q56_percentiles" -> (q56_percentiles _),
    "q57_session_agg" -> (q57_session_agg _),
    "q58_pivot" -> (q58_pivot _),
    "q59_media_roundtrip" -> (q59_media_roundtrip _),
    "q60_range_frame" -> (q60_range_frame _),
    "q61_column_profile" -> (q61_column_profile _),
    "q62_quantized_topk" -> (q62_quantized_topk _),
    "q63_neardup_clusters" -> (q63_neardup_clusters _),
    "q64_bigram_topk" -> (q64_bigram_topk _),
    "q40_minhash_neardups" -> (q40_minhash_neardups _),
    "q41_simhash_neardups" -> (q41_simhash_neardups _),
    "q42_ngram_jaccard" -> (q42_ngram_jaccard _),
    "q43_lsh_topk" -> (q43_lsh_topk _),
    "q44_lang_id" -> (q44_lang_id _),
    "q45_cosine_neardups" -> (q45_cosine_neardups _),
    "q65_unix_epoch" -> (q65_unix_epoch _),
    "q66_birth_date" -> (q66_birth_date _),
    "q67_tfidf_topk" -> (q67_tfidf_topk _),
    "q68_sequence_packing" -> (q68_sequence_packing _),
    "q69_hash_sample" -> (q69_hash_sample _),
    "q70_cluster_survivors" -> (q70_cluster_survivors _),
    "q71_asof_forward" -> (q71_asof_forward _),
    "q72_l2_normalize" -> (q72_l2_normalize _),
    "q73_mean_pool" -> (q73_mean_pool _),
    "q74_contamination" -> (q74_contamination _),
    "q75_repetition_profile" -> (q75_repetition_profile _),
    "q76_pii_scrub" -> (q76_pii_scrub _),
    "q77_semdedup" -> (q77_semdedup _),
    "q78_stratified_sample" -> (q78_stratified_sample _),
    "q79_span_dedup" -> (q79_span_dedup _),
    "q80_crossdup_contamination" -> (q80_crossdup_contamination _),
    "q81_pq_topk" -> (q81_pq_topk _),
    "q82_incremental_dedup" -> (q82_incremental_dedup _),
    "q83_ivfpq_topk" -> (q83_ivfpq_topk _),
    "q84_curation_pipeline" -> (q84_curation_pipeline _),
    "q85_doc_chunking" -> (q85_doc_chunking _),
    "q86_ann_recall" -> (q86_ann_recall _),
    "q87_source_mixture" -> (q87_source_mixture _),
    "q88_bigram_fluency" -> (q88_bigram_fluency _),
    "q89_vocab_coverage" -> (q89_vocab_coverage _),
    "q90_quality_gate" -> (q90_quality_gate _),
    "q91_salted_join" -> (q91_salted_join _),
    "q92_dedup_agreement" -> (q92_dedup_agreement _),
    "q93_chunk_pack" -> (q93_chunk_pack _),
    "q94_bpe_segment" -> (q94_bpe_segment _),
    "q95_ann_maintenance" -> (q95_ann_maintenance _),
    "q96_video_frames" -> (q96_video_frames _),
    "q97_quality_gate_sketch" -> (q97_quality_gate_sketch _),
    "q98_ann_recenter" -> (q98_ann_recenter _),
    "q99_simhash_banded" -> (q99_simhash_banded _),
    "q100_bloom_semi_join" -> (q100_bloom_semi_join _),
    "q101_asof_nearest" -> (q101_asof_nearest _),
    "q102_dedup_agreement_banded" -> (q102_dedup_agreement_banded _),
    "q103_crossdoc_spans" -> (q103_crossdoc_spans _),
    "q104_crossdoc_strip" -> (q104_crossdoc_strip _),
    "q105_crossdoc_keepfirst" -> (q105_crossdoc_keepfirst _),
    "q106_span_decontamination" -> (q106_span_decontamination _),
    "q107_cluster_sample" -> (q107_cluster_sample _),
    "q108_bigram_lm" -> (q108_bigram_lm _),
    "q109_pq_recall_clustered" -> (q109_pq_recall_clustered _),
    "q110_ivfpq_rerank" -> (q110_ivfpq_rerank _),
    "q111_salted_rank" -> (q111_salted_rank _),
    "q112_latest_salted" -> (q112_latest_salted _),
    "q113_image_neardups" -> (q113_image_neardups _),
    "q114_audio_neardups" -> (q114_audio_neardups _),
    "q115_video_neardups" -> (q115_video_neardups _),
    "q116_bpe_train" -> (q116_bpe_train _),
    "q117_heavy_hitters" -> (q117_heavy_hitters _),
    "q118_funnel" -> (q118_funnel _),
    "q119_retention" -> (q119_retention _),
    "q120_interval_join" -> (q120_interval_join _),
    "q121_interval_merge" -> (q121_interval_merge _),
    "q122_pagerank" -> (q122_pagerank _),
    "q123_linear_fit" -> (q123_linear_fit _),
    "q124_mad_outliers" -> (q124_mad_outliers _),
    "q125_unicode_normalize" -> (q125_unicode_normalize _),
    "q126_editdist_join" -> (q126_editdist_join _),
    "q127_weighted_sample" -> (q127_weighted_sample _),
    "q128_group_sample" -> (q128_group_sample _),
    "q129_corr_matrix" -> (q129_corr_matrix _),
    "q130_trustrank" -> (q130_trustrank _),
    "q131_label_propagation" -> (q131_label_propagation _),
    "q132_triangles" -> (q132_triangles _),
    "q133_temperature_mixture" -> (q133_temperature_mixture _),
    "q134_weighted_median" -> (q134_weighted_median _),
    "q135_histogram" -> (q135_histogram _),
    "q136_gini_diversity" -> (q136_gini_diversity _),
    "q137_mode" -> (q137_mode _),
    "q138_token_temperature" -> (q138_token_temperature _),
    "q139_host_graph" -> (q139_host_graph _),
    "q140_topk_offset" -> (q140_topk_offset _),
    "q141_token_drift" -> (q141_token_drift _),
    "q142_inverted_index" -> (q142_inverted_index _),
    "q143_winsorize" -> (q143_winsorize _),
    "q144_mrl_recall" -> (q144_mrl_recall _),
    "q145_rrf_fusion" -> (q145_rrf_fusion _),
    "q146_url_dedup" -> (q146_url_dedup _),
    "q147_snapshot_diff" -> (q147_snapshot_diff _),
    "q148_quantile_normalize" -> (q148_quantile_normalize _),
    "q149_golden_record" -> (q149_golden_record _),
    "q150_resample_locf" -> (q150_resample_locf _),
    "q151_equidepth_histogram" -> (q151_equidepth_histogram _),
    "q152_topk_others" -> (q152_topk_others _),
    "q153_attribution" -> (q153_attribution _),
    "q154_scd2_history" -> (q154_scd2_history _),
    "q155_rfm_segmentation" -> (q155_rfm_segmentation _),
    "q156_delete_propagation" -> (q156_delete_propagation _),
    "q157_basket_lift" -> (q157_basket_lift _),
    "q158_audience_overlap" -> (q158_audience_overlap _),
    "q159_conversion_paths" -> (q159_conversion_paths _),
    "q160_seasonal_backtest" -> (q160_seasonal_backtest _),
    "q161_ab_readout" -> (q161_ab_readout _),
    "q162_quality_checks" -> (q162_quality_checks _),
    "q163_record_linkage" -> (q163_record_linkage _),
    "q164_cohort_ltv" -> (q164_cohort_ltv _),
    "q165_identity_stitching" -> (q165_identity_stitching _),
    "q166_lookalike" -> (q166_lookalike _),
    "q167_gains_table" -> (q167_gains_table _),
    "q168_frequency_cap" -> (q168_frequency_cap _),
    "q169_incremental_agg" -> (q169_incremental_agg _),
    "q170_active_ladder" -> (q170_active_ladder _),
    "q171_latency_percentiles" -> (q171_latency_percentiles _),
    "q172_cuped_readout" -> (q172_cuped_readout _),
    "q173_replenishment_due" -> (q173_replenishment_due _),
    "q174_budget_pacing" -> (q174_budget_pacing _),
    "q175_journey_transitions" -> (q175_journey_transitions _),
    "q176_markov_attribution" -> (q176_markov_attribution _),
    "q177_time_to_convert" -> (q177_time_to_convert _),
    "q178_anonymity_audit" -> (q178_anonymity_audit _),
    "q179_campaign_composite" -> (q179_campaign_composite _),
    "q180_sessionize" -> (q180_sessionize _),
    "q181_abc_classify" -> (q181_abc_classify _),
    "q182_reach_frequency" -> (q182_reach_frequency _),
    "q183_cusum_shift" -> (q183_cusum_shift _),
    "q184_survival_hazard" -> (q184_survival_hazard _),
    "q185_session_conversion" -> (q185_session_conversion _),
    "q186_lorenz_gini" -> (q186_lorenz_gini _),
    "q187_shapley_attribution" -> (q187_shapley_attribution _),
    "q188_adstock_regression" -> (q188_adstock_regression _),
    "q189_qini_uplift" -> (q189_qini_uplift _),
    "q190_did_readout" -> (q190_did_readout _),
    "q191_dow_seasonality" -> (q191_dow_seasonality _),
    "q192_ewma_backtest" -> (q192_ewma_backtest _),
    "q193_group_split" -> (q193_group_split _),
    "q194_dow_anomaly" -> (q194_dow_anomaly _),
    "q195_reach_rollup" -> (q195_reach_rollup _),
    "q196_pacing_rollup" -> (q196_pacing_rollup _),
    "q197_mde_readout" -> (q197_mde_readout _),
    "q198_split_leakage" -> (q198_split_leakage _),
    "q199_frequency_response" -> (q199_frequency_response _),
    "q200_cluster_split" -> (q200_cluster_split _),
    "q201_theilsen_trend" -> (q201_theilsen_trend _),
    "q202_audience_sketch_overlap" -> (q202_audience_sketch_overlap _),
    "q203_mixture_allocation" -> (q203_mixture_allocation _),
    "q204_sketch_rollup" -> (q204_sketch_rollup _),
    "q205_windowed_funnel" -> (q205_windowed_funnel _),
    "q210_anchored_funnel" -> (q210_anchored_funnel _),
    "q211_nb_classifier" -> (q211_nb_classifier _),
    "q212_nb_gate_agreement" -> (q212_nb_gate_agreement _),
    "q213_language_mixing_nb" -> (q213_language_mixing_nb _),
    "q214_theilsen_chunked" -> (q214_theilsen_chunked _),
    "q215_incremental_components" -> (q215_incremental_components _),
    "q216_hdr_quantile_rollup" -> (q216_hdr_quantile_rollup _),
    "q217_containment_pairs" -> (q217_containment_pairs _),
    "q218_rolling_reach" -> (q218_rolling_reach _),
    "q219_drift_union" -> (q219_drift_union _),
    "q220_drift_report" -> (q220_drift_report _),
    "q221_nightly_composite" -> (q221_nightly_composite _),
    "q222_sql_twin" -> (q222_sql_twin _),
    "q223_unigram_segment" -> (q223_unigram_segment _),
    "q224_quarantine_gate" -> (q224_quarantine_gate _),
    "q225_dirty_nightly" -> (q225_dirty_nightly _),
    "q226_sql_incremental" -> (q226_sql_incremental _),
    "q227_sql_quality" -> (q227_sql_quality _),
    "q228_streaming_refresh" -> (q228_streaming_refresh _),
    "q229_sql_ann" -> (q229_sql_ann _),
    "q206_matched_market" -> (q206_matched_market _),
    "q207_segment_migration" -> (q207_segment_migration _),
    "q208_language_mixing" -> (q208_language_mixing _),
    "q209_dayn_retention" -> (q209_dayn_retention _),
  )

  def oracleSql: Map[String, String] = OracleSql.all
}
