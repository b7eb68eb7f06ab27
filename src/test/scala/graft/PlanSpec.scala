package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** Plan assertions (SURVEY §4): the 100 TB posture is verified on the
  * physical plan, not by vibes — predicate pushdown reaches the parquet
  * scan, projections prune the read schema, small dims broadcast, and the
  * hot aggregation path stays inside whole-stage codegen. */
class PlanSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.01"

  private def planString(df: DataFrame): String = {
    df.collect() // materialize so AQE finalizes and codegen stages appear
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.toString
      case p: SparkPlan => p.toString
    }
  }
  private def q(name: String): DataFrame = SparkEntry.queries(name)(spark, sf)

  test("q01: shipdate filter pushed to parquet scan; schema pruned") {
    val s = planString(q("q01_pricing_summary"))
    assert(s.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), s)
    val readSchema = s.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_orderkey") && !readSchema.contains("l_suppkey"), readSchema)
    assert(readSchema.contains("l_returnflag") && readSchema.contains("l_quantity"))
  }

  test("q02: IN-list and range predicates pushed; only 5 columns read") {
    val s = planString(q("q02_filter_project"))
    assert(s.contains("In(l_returnflag"), s)
    assert(s.contains("GreaterThan(l_quantity"), s)
    val readSchema = s.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_shipdate") && !readSchema.contains("l_tax"), readSchema)
  }

  test("q04: nation/region dims join via broadcast") {
    val s = planString(q("q04_join5_region_revenue"))
    assert(s.contains("BroadcastHashJoin"), s)
  }

  test("q05: broadcast hint honored for the part dim") {
    val s = planString(q("q05_broadcast_join"))
    assert(s.contains("BroadcastHashJoin"), s)
  }

  test("q01 hot path is whole-stage codegen (partial agg before shuffle)") {
    val s = planString(q("q01_pricing_summary"))
    // "*(n) HashAggregate" markers = the operator runs inside a
    // whole-stage-codegen stage
    assert(s.contains("*(1) HashAggregate") || s.contains("WholeStageCodegen"), s)
    // map-side combine: a partial_ aggregate appears below the exchange
    assert(s.contains("partial_"), s)
  }

  test("changefeed bookmark filter pushes into a parquet scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft-plan-cl").toString + "/log"
    val ts = (x: String) => java.sql.Timestamp.valueOf(x)
    Seq((1L, ts("2024-01-01 00:00:00")), (2L, ts("2024-01-02 00:00:00")))
      .toDF("id", "_commit_timestamp").write.parquet(dir)
    val df = new graft.source.ChangelogTableSource(spark, dir)
      .since(Some(ts("2024-01-01 00:00:00")))
    val s = planString(df)
    assert(s.contains("PushedFilters: [IsNotNull(_commit_timestamp), GreaterThan(_commit_timestamp"), s)
  }

  test("dedup window form plans exactly one exchange (single shuffle)") {
    val df = graft.dedup.Dedup.latestPerKey(
      Tables.load(spark, sf, "orders"), Seq("o_custkey"),
      Seq(col("o_orderdate").desc, col("o_orderkey").desc))
    val s = planString(df)
    val exchanges = s.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("REUSE"))
    assert(exchanges == 1, s)
  }

  test("q52/q71 as-of joins plan a single shuffle (union+window, no pair join)") {
    for (name <- Seq("q52_asof_join", "q71_asof_forward", "q101_asof_nearest")) {
      val s = planString(q(name))
      // exchanges: one hash partition for the window(s) + the final
      // rangepartition for ORDER BY — no join operator at all. The
      // nearest form runs BOTH directional windows over that same
      // exchange (two sorts, one shuffle).
      val hashExchanges = s.linesIterator.count(l =>
        l.contains("Exchange hashpartitioning"))
      assert(hashExchanges == 1, s"$name: expected 1 hash exchange, plan:\n$s")
      assert(!s.contains("SortMergeJoin") && !s.contains("BroadcastHashJoin"), s)
    }
  }

  test("q51 range-bin join broadcasts the bin table (fact side never shuffles)") {
    val s = planString(q("q51_range_join"))
    assert(s.contains("BroadcastNestedLoopJoin"), s)
    // only the final aggregation + orderBy exchange; no fact-side
    // pre-join exchange
    assert(!s.linesIterator.exists(l => l.contains("Exchange hashpartitioning")
      && l.contains("value")), s)
  }

  test("semi/anti joins plan as LeftSemi/LeftAnti (no fallback to inner+distinct)") {
    assert(planString(q("q06_semi_join")).contains("LeftSemi"))
    assert(planString(q("q07_anti_join")).contains("LeftAnti"))
  }

  test("IVF search over cell-partitioned storage prunes to probed cells (DPP)") {
    // SCALE.md's "ANN family, data-dominated" serving claim: with
    // assignments written partitionBy("cell"), the probe join must
    // reach the scan as a partition filter — dynamic partition pruning,
    // since probed cells are only known at runtime — so a search READS
    // nprobe·queries cells, not the corpus. If this regresses the search
    // is silently linear again in I/O (compute would still be
    // candidate-bounded).
    val dir = java.nio.file.Files.createTempDirectory("graft-dpp").toString
    val corpus = spark.range(5000).select(col("id"),
      transform(sequence(lit(0), lit(15)),
        d => (pmod(xxhash64(col("id"), d), lit(1000000L))
          .cast("double") / lit(1000000.0)).cast("float")).as("vec"))
    val built = graft.analyze.Ivf.buildSampled(corpus, "id", "vec", 32)
    built.assigned.repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/assigned")
    val index = graft.analyze.Ivf.Index(built.centroids,
      spark.read.parquet(s"$dir/assigned"))
    val res = graft.analyze.Ivf.search(index,
      corpus.filter(col("id") < 4), "id", "vec", k = 5, nprobe = 4)
    val s = planString(res)
    assert(s.contains("dynamicpruning"), s)
    assert(s.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("cell") &&
        !l.contains("PartitionFilters: []")), s)
  }

  test("q103 span dedup: map-side combine on grams, one window, no pair explosion") {
    // The span family's scale shape: the gram aggregation must partial-
    // aggregate before its exchange (boilerplate grams collapse per
    // input partition), the gaps-and-islands merge must be ONE window
    // whose (doc, grp) aggregation reuses the window partitioning (the
    // plan shows partial_min/max, i.e. combine without a new exchange),
    // and nothing may plan as a cartesian/nested-loop pair join.
    val s = planString(q("q103_crossdoc_spans"))
    assert(!s.contains("CartesianProduct"), s)
    assert(s.contains("partial_count(distinct"), s)
    assert(s.linesIterator.count(_.contains("Window [row_number()")) == 1, s)
    assert(s.contains("partial_min") && s.contains("partial_max"), s)
  }

  test("partitioned layout prunes directories: filter lands in PartitionFilters") {
    val dir = java.nio.file.Files.createTempDirectory("graft-part").toString
    graft.source.Layout.writePartitioned(
      Tables.load(spark, sf, "events").select("event_id", "ts", "event_type", "value"),
      s"$dir/events_p", Seq("event_type"))
    val df = graft.source.Layout.readPartitioned(spark, s"$dir/events_p")
      .filter(col("event_type") === "purchase")
      .select("event_id", "value")
    val s1 = planString(df)
    assert(s1.contains("PartitionFilters") &&
      s1.linesIterator.exists(l => l.contains("PartitionFilters") && l.contains("event_type")), s1)
    // the data filter must NOT appear as a row-level pushed filter — it
    // was satisfied entirely by directory pruning
    assert(!s1.contains("PushedFilters: [IsNotNull(event_type)"), s1)
  }

  test("q67 top-k is distributed (TakeOrderedAndProject), never a global row_number") {
    val s = planString(q("q67_tfidf_topk"))
    assert(s.contains("TakeOrderedAndProject"), s)
    // the rank window exists but runs AFTER the k-row cut — the plan has
    // partial aggregations below every term exchange
    assert(s.contains("partial_count"), s)
  }

  test("q68 packing plans ONE shard exchange for the window") {
    val s = planString(q("q68_sequence_packing"))
    // one hash exchange (window on shard); the groupBy(shard, bin) reuses
    // that partitioning and needs no second hash exchange
    val hashExchanges = s.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("Reused"))
    assert(hashExchanges == 1, s)
  }

  test("q69 hash-sample filter evaluates at the scan with pruned schema") {
    val s = planString(q("q69_hash_sample"))
    val readSchema = s.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("text"), readSchema) // only id+lang read
    // the md5 residue filter is compute-side but sits in DataFilters
    // directly over the scan — no shuffle before it
    assert(s.contains("md5"), s)
  }

  test("bucketed tables co-locate the join: no exchange in the join plan") {
    // The 100 TB pattern for repeated fact-fact joins: bucket both sides
    // on the join key at write time; the sort-merge join then needs no
    // shuffle at read time.
    val o = Tables.load(spark, sf, "orders")
    val c = Tables.load(spark, sf, "customer")
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS customer_b")
    graft.source.Layout.writeBucketed(o, "orders_b", "o_custkey", 8)
    graft.source.Layout.writeBucketed(c, "customer_b", "c_custkey", 8)
    val joined = spark.table("orders_b")
      .join(spark.table("customer_b"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment")).count()
    joined.collect()
    val s = planString(joined)
    // the join itself must not introduce a shuffle on the join key
    assert(!s.contains("Exchange hashpartitioning(o_custkey") &&
      !s.contains("Exchange hashpartitioning(c_custkey"), s)
    assert(s.contains("SortMergeJoin") || s.contains("BroadcastHashJoin"), s)
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS customer_b")
  }

  test("zorderKey interleaves bucket bits into a Morton key (vs software reference)") {
    import spark.implicits._
    def ref(bs: Seq[Long], bits: Int): Long = {
      var k = 0L
      for (j <- bs.indices; i <- 0 until bits)
        k |= ((bs(j) >> i) & 1L) << (i * bs.size + j)
      k
    }
    val rows = Seq((5L, 3L), (0L, 0L), (255L, 1L), (170L, 85L), (63L, 64L))
    val got = rows.toDF("a", "b")
      .select(graft.source.Layout.zorderKey(Seq(col("a"), col("b")), 8).as("z"))
      .as[Long].collect().toSeq
    assert(got == rows.map { case (a, b) => ref(Seq(a, b), 8) })
    // 3 columns x 4 bits also fits and matches
    val got3 = Seq((9L, 6L, 15L)).toDF("a", "b", "c")
      .select(graft.source.Layout.zorderKey(
        Seq(col("a"), col("b"), col("c")), 4).as("z")).as[Long].head()
    assert(got3 == ref(Seq(9L, 6L, 15L), 4))
  }

  test("zorderBucket: equi-depth ranks against boundaries; nulls rank 0") {
    import spark.implicits._
    val bounds = Array(10.0, 20.0, 30.0)
    val got = Seq(Some(5L), Some(10L), Some(11L), Some(25L), Some(35L), None)
      .toDF("v")
      .select(graft.source.Layout.zorderBucket(col("v"), bounds).as("b"))
      .as[Int].collect().toSeq
    // strictly-greater count: 10 stays in bucket 0 (boundary inclusive
    // below), nulls fail every > and land at rank 0
    assert(got == Seq(0, 0, 1, 2, 3, 0))
  }

  test("writeZOrdered: files cover small sub-rectangles; reads are layout-invariant") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-zorder").toString
    val n = 200000L
    val dom = 100000L
    val df = spark.range(n).select(
      col("id"),
      pmod(xxhash64(col("id"), lit("x")), lit(dom)).as("x"),
      pmod(xxhash64(col("id"), lit("y")), lit(dom)).as("y"))
    graft.source.Layout.writeZOrdered(df, s"$dir/z", Seq("x", "y"),
      files = 16, bits = 6)
    val back = spark.read.parquet(s"$dir/z")
    assert(back.count() == n)
    // layout-only: a selective 2-D filter aggregates identically
    def probe(c: org.apache.spark.sql.DataFrame) =
      c.filter(col("x") < dom / 10 && col("y") < dom / 10)
        .agg(count(lit(1)), coalesce(sum(col("id")), lit(0L)))
        .as[(Long, Long)].head()
    assert(probe(back) == probe(df))
    // locality: mean per-file bounding-box area fraction is far below the
    // ~1.0 an unsorted layout shows (each unsorted file spans both domains)
    def meanArea(c: org.apache.spark.sql.DataFrame): Double =
      c.groupBy(input_file_name()).agg(
          (((max("x") - min("x")).cast("double") / dom) *
            ((max("y") - min("y")).cast("double") / dom)).as("a"))
        .agg(avg("a")).as[Double].head()
    val zArea = meanArea(back)
    df.repartition(16).write.mode("overwrite").parquet(s"$dir/u")
    val uArea = meanArea(spark.read.parquet(s"$dir/u"))
    assert(zArea < 0.3, s"z-ordered files not localized: mean area $zArea")
    assert(uArea > 0.8, s"unsorted control unexpectedly localized: $uArea")
  }

  test("repetition/PII curation maps are shuffle-free (no Exchange in the plan)") {
    // Per-document metrics must never shuffle the corpus: the sorted-run
    // fold and the regex scrub are pure maps over the scan (the gate
    // queries only add a presentation ORDER BY on top).
    import graft.analyze.TextAnalysis
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    for ((name, df) <- Seq(
        "repetitionProfile" -> TextAnalysis.repetitionProfile(docs, "doc_id", "text"),
        "piiProfile" -> TextAnalysis.piiProfile(docs, "doc_id", "text"))) {
      val s = planString(df)
      assert(!s.contains("Exchange"), s"$name plans a shuffle:\n$s")
    }
  }

  test("q78 stratified sample joins the rate table as a broadcast") {
    val s = planString(q("q78_stratified_sample"))
    assert(s.contains("BroadcastHashJoin") || s.contains("BroadcastNestedLoopJoin"), s)
    // the fact side must not hash-partition on the stratum key
    assert(!s.contains("Exchange hashpartitioning(lang"), s)
  }

  test("q89 vocab lookup joins as a broadcast (token stream never shuffles for it)") {
    val s = planString(q("q89_vocab_coverage"))
    assert(s.contains("BroadcastHashJoin"), s)
    // the vocabulary cut is a distributed TakeOrdered, not a global sort
    assert(s.contains("TakeOrderedAndProject"), s)
  }

  test("recenteredCoords: one partial-aggregated shuffle, centroid matrix broadcast, no sort") {
    import graft.analyze.Ivf
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val centroids = (0 until 4)
      .map(c => Array.tabulate(8)(i => if (i == c * 2) 1.0 else 0.0)).toArray
    val s = planString(
      Ivf.recenteredCoords(centroids, emb, "vec_id", "embedding"))
    // the (cell, dim) aggregation partial-aggregates map-side...
    assert(s.contains("partial_count") && s.contains("partial_sum"), s)
    // ...over exactly ONE hash-partitioned exchange; the only other
    // exchange allowed is ensureParallelism's round-robin fan-out
    // (data-independent). Nothing sorts.
    val hashEx = s.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 1, s"expected exactly 1 hash exchange, got $hashEx:\n$s")
    assert(!s.contains("SortAggregate") && !s.contains("SortMergeJoin"), s)
    // the frozen centroid matrix rides a 1-row broadcast relation
    assert(s.contains("BroadcastNestedLoopJoin"), s)
  }

  test("chunkTokens is a pure map: no Exchange in the chunk plan") {
    import graft.analyze.TextAnalysis
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val s = planString(TextAnalysis.chunkTokens(docs, "doc_id", "text", 32, 24))
    assert(!s.contains("Exchange"), s"chunking plans a shuffle:\n$s")
  }

  test("stratum gate fallback: oversized strata take the sketch path — one sort total, thresholds broadcast") {
    import graft.analyze.TextAnalysis
    val rows = (1 to 5000).map(i => ("big", i.toDouble, i.toLong)) ++
      (1 to 50).map(i => ("small", i.toDouble, i.toLong))
    val df = rows.toDF("src", "score", "id")
    val s = planString(TextAnalysis.stratumQuantileGate(df, "src",
      col("score"), col("id"), 0.5, maxExactStratumRows = 1000))
    // the oversized branch gates on a mergeable percentile sketch with a
    // map-side partial, never a per-stratum sort
    assert(s.contains("percentile_approx"), s)
    assert(s.contains("partial_percentile_approx"), s)
    // exactly one window (the under-knob branch) and one sort (its
    // window sort) in the whole plan: the giant stratum sorts NOWHERE
    val windows = s.linesIterator.count(_.contains("Window ["))
    assert(windows == 1, s"expected exactly 1 Window, got $windows:\n$s")
    val sorts = s.linesIterator.count(l => l.contains("Sort [") && !l.contains("SortAggregate"))
    assert(sorts == 1, s"expected exactly 1 sort (small-branch window), got $sorts:\n$s")
    // sizes and thresholds ride broadcasts; the fact side never
    // sort-merge-joins
    assert(s.contains("BroadcastHashJoin"), s)
    assert(!s.contains("SortMergeJoin"), s)
  }

  test("q87 mixture sample: computed rates join back as a broadcast, fact never hash-partitions on source") {
    val s = planString(q("q87_source_mixture"))
    assert(s.contains("BroadcastHashJoin"), s)
    // the only hashpartitioning allowed on `source` is the tiny counts
    // aggregation (stratum-sized); the FACT row filter itself must ride
    // a broadcast join. Assert the fact-side sort for the output is the
    // sole non-agg exchange by checking no sort-merge join appears.
    assert(!s.contains("SortMergeJoin"), s)
  }

  test("q163 linkage: stream side pre-split by id; banded levenshtein in the rule stage") {
    val s = planString(q("q163_record_linkage"))
    // the Σ|block|² rule stage runs in the join's stream-side tasks;
    // scorePairs pre-splits that side by id so the quadratic work
    // parallelizes regardless of upstream file layout (r20 §15 — one
    // small parquet split otherwise serializes ~250k levenshteins)
    assert(s.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning(id_a")),
      s"stream side no longer pre-split by id:\n$s")
    assert(s.contains("BroadcastHashJoin"), s)
    // the name rule must stay the banded threshold levenshtein
    // (O(k·n) with early exit); `>= 0` ≡ the old `<= 2` because the
    // banded form returns -1 beyond the threshold
    assert(s.contains("levenshtein") && s.contains("Some(2)"),
      s"name rule no longer banded threshold levenshtein:\n$s")
  }

  test("q111 salted rank: every full-data window is bucket-salted; offsets ride a broadcast") {
    val s = planString(q("q111_salted_rank"))
    // the point of saltedRowNumber: the row_number window over the FULL
    // input partitions by (key, bucket) — never by the key alone, which
    // would put the whole hot key back in one task
    val rnWindows = s.linesIterator
      .filter(_.contains("row_number() windowspecdefinition")).toSeq
    assert(rnWindows.nonEmpty, s)
    assert(rnWindows.forall(_.contains("__srn_bkt")),
      s"row_number window not bucket-salted:\n$s")
    // ONE full-data exchange (r20): the per-bucket count rides the same
    // (key, bucket) window partition as the local rank — the counts
    // relation is the partition's last row, not a second aggregation
    // over the raw input, so the input pipeline executes once and the
    // counts branch reads the rank's shuffle through a ReusedExchange
    assert(s.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && l.contains("__srn_bkt") &&
        !l.contains("ReusedExchange")) == 1,
      s"expected exactly one materialized (key, bucket) exchange:\n$s")
    assert(s.linesIterator.exists(l =>
      l.contains("ReusedExchange") && l.contains("__srn_bkt")),
      s"counts branch no longer reuses the rank's (key, bucket) shuffle:\n$s")
    assert(s.linesIterator.exists(l =>
      l.contains("count(1) windowspecdefinition") && l.contains("__srn_bkt")),
      s"bucket count no longer rides the rank's window partition:\n$s")
    // the offsets relation is ≤ buckets rows per key: its cumulative-sum
    // window runs over the per-bucket counts and joins back as a
    // broadcast, not a second full-data shuffle
    assert(s.contains("sum(__srn_cnt"), s)
    assert(s.contains("BroadcastHashJoin") && s.contains("__srn_r_"), s)
  }

  test("q112 salted latest-per-key: stage-1 shuffles on (key, salt); both stages prune map-side") {
    val s = planString(q("q112_latest_salted"))
    // stage 1's rank window partitions by (key, salt) and its exchange
    // carries the salt — the hot key spreads across `salts` reducers
    assert(s.linesIterator.exists(l =>
      l.contains("row_number() windowspecdefinition") && l.contains("__salt")), s)
    assert(s.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && l.contains("__salt")), s)
    // InferWindowGroupLimit turns rn=1 into top-1 prunes BEFORE each
    // exchange (the reason the scaladoc steers Spark 4 users to the
    // plain form: the engine already de-skews this shape)
    val partials = s.linesIterator.count(l =>
      l.contains("WindowGroupLimit") && l.contains("Partial"))
    assert(partials >= 2, s"expected map-side WindowGroupLimit in both stages:\n$s")
  }

  test("q110 exact re-rank: shortlist joins broadcast, no cartesian, final top-k prunes") {
    val s = planString(q("q110_ivfpq_rerank"))
    // candidate fetch joins the tiny (queries × width) shortlist against
    // the corpus by id — must broadcast the shortlist, never SMJ or
    // cartesian the corpus
    assert(!s.contains("CartesianProduct"), s)
    assert(!s.contains("SortMergeJoin"), s)
    assert(s.contains("BroadcastHashJoin"), s)
    // the exact re-rank's k=5 window carries a WindowGroupLimit prune
    assert(s.contains("row_number(), 5"), s)
    // the only nested-loop joins are the documented 1-row metadata
    // broadcasts (centroid/codebook matrices)
    assert(s.linesIterator
      .filter(_.contains("BroadcastNestedLoopJoin")).forall(_.contains("Cross")), s)
  }

  test("q113/q114 perceptual dedup: blobs decode ONCE — chunk join reuses the signature exchange") {
    // The Hamming chunk join references the (id, sig) table on both
    // sides. If the plans diverged, every image/audio blob would decode
    // and hash TWICE (the signature source is an RDD scan, not a
    // cacheable file scan) — the contract is one Scan ExistingRDD with
    // the second side a ReusedExchange of the first's shuffle.
    for (name <- Seq("q113_image_neardups", "q114_audio_neardups",
                     "q115_video_neardups")) {
      val s = planString(q(name))
      val rddScans = s.linesIterator.count(_.contains("Scan ExistingRDD"))
      assert(rddScans == 1, s"$name: expected the decode+hash RDD scanned once, plan:\n$s")
      assert(s.contains("ReusedExchange"), s"$name: chunk join must reuse the signature exchange:\n$s")
    }
  }

  test("q40/q41/q99 text near-dups: each signature kernel runs once — the band/chunk join reuses one exchange") {
    // The blocking self-join's two sides are one relation under a
    // sort-merge join (Dedup.selfJoin): the second side must be a
    // ReusedExchange of the first, so the scan, shingles and signature
    // run once. Without it the planner broadcasts one side and every
    // kernel runs once per side.
    def sites(s: String, kernel: String): Int = kernel.r.findAllIn(s).size
    def parquetScans(s: String): Int =
      s.linesIterator.count(_.contains("Scan parquet"))
    def reusesJoinKey(s: String, key: String): Boolean =
      s.linesIterator.exists(l => l.contains("ReusedExchange") &&
        l.contains(s"hashpartitioning($key#"))
    val q40 = planString(q("q40_minhash_neardups"))
    assert(reusesJoinKey(q40, "bk"), s"band join must reuse the signature exchange:\n$q40")
    assert(sites(q40, "minhashsigexpr") == 1, s"minhash signature computed more than once:\n$q40")
    // one scan under the signature side, one under the shingle join-back
    assert(parquetScans(q40) == 2, s"documents read more than twice:\n$q40")
    for (name <- Seq("q41_simhash_neardups", "q99_simhash_banded")) {
      val s = planString(q(name))
      assert(reusesJoinKey(s, "ck"), s"$name: chunk join must reuse the signature exchange:\n$s")
      assert(parquetScans(s) == 1, s"$name: the signature side must read documents once:\n$s")
      // the Project's site, plus the inferred isnotnull(simhash64(…))
      // conjunct in the scan-side Filter and again in the FileScan's
      // DataFilters text; 6 when each join side computed its own
      assert(sites(s, "simhash64expr") <= 3, s"$name: simhash computed per join side:\n$s")
    }
  }

  test("q120 interval join plans an EQUI join on the grid bucket, never a nested-loop product") {
    val s = planString(q("q120_interval_join"))
    assert(!s.contains("BroadcastNestedLoopJoin") && !s.contains("CartesianProduct"),
      s"grid join degenerated to a product plan:\n$s")
    assert(s.contains("HashJoin"), s)
  }

  test("q127 priority sample plans TakeOrdered (per-partition heaps), not a global sort") {
    val s = planString(q("q127_weighted_sample"))
    assert(s.contains("TakeOrderedAndProject"), s)
  }

  test("q126 edit-distance join shuffles only hashes and ids, never the strings") {
    val s = planString(q("q126_editdist_join"))
    // every exchange's output column list must avoid the raw string
    // column __s — candidates travel as (__h, __id); strings re-join
    // by id only after the candidate pairs are deduped
    val exchanges = s.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty, s)
    val bad = exchanges.filter(_.contains("__s"))
    assert(bad.isEmpty, s"string column crossed a shuffle:\n${bad.mkString("\n")}")
  }

  test("q153 attribution plans NO join operator — pure window scans (round 14)") {
    val s = planString(q("q153_attribution"))
    assert(!s.contains("Join"), s"attribution must be join-free:\n$s")
    assert(s.contains("Window"), s)
  }

  test("q168 frequency-cap audit plans exactly one hash exchange (round 14)") {
    val df = graft.relational.Relational.frequencyCapAudit(
      Tables.load(spark, sf, "events").select("event_id", "user_id", "ts"),
      "user_id", "ts", windowSeconds = 6L * 3600, cap = 3)
    val s = planString(df)
    val exchanges = s.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("REUSE"))
    assert(exchanges == 1, s)
  }

  test("q156 delete-propagation audit: every per-table join is broadcast (round 14)") {
    val s = planString(q("q156_delete_propagation"))
    assert(s.contains("BroadcastHashJoin"), s)
    assert(!s.contains("SortMergeJoin"),
      s"RTBF key set must broadcast, never sort-merge:\n$s")
  }

  test("q166 lookalike: top-k is TakeOrdered, centroid broadcasts (round 14)") {
    val s = planString(q("q166_lookalike"))
    assert(s.contains("TakeOrderedAndProject"), s)
    assert(s.contains("BroadcastHashJoin"), s)
  }

  test("sessionize + stats plan ONE hash exchange end-to-end (round 14)") {
    // the (entity, session) groupBy must ride the window's
    // HashPartitioning(entity) — a second exchange here would double
    // the shuffle volume of every sessionized pipeline at 100 TB
    val df = graft.relational.Sessionize.sessionStats(
      Tables.load(spark, sf, "events"), "user_id", "ts", "event_id",
      "event_type", gapSeconds = 6L * 3600)
    val s = planString(df)
    val exchanges = s.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("REUSE"))
    assert(exchanges == 1, s"expected 1 hash exchange:\n$s")
  }
}
