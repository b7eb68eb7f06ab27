package graft.analyze

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed graph analytics beyond the connected-components family
  * (`dedup.Dedup.connectedComponents`): link-structure scoring for
  * corpus curation — PageRank-style authority over a host/document link
  * graph is a standard quality signal for web-scale training data
  * (reference corpus-prep context: tasks/segments build flat quality
  * signals; link authority is the graph-shaped one they lack).
  *
  * Determinism policy: ranks are FIXED-POINT longs (units of
  * 1/`scale`), every operation integer — multiply, integral divide,
  * sum. Double-based PageRank is order-dependent (FP addition does not
  * associate), so two runs with different partitionings — or an
  * external replay like the DuckDB oracle — can disagree in the last
  * ulps and cascade across iterations. Integer arithmetic makes the
  * iterate bit-exact under ANY partitioning/order, which is what a
  * 1000-executor rerun needs to be reproducible. Truncating divisions
  * leak ≤1 unit each; with scale=10^12 the drift is ~10^-10 per node
  * per iteration — far below any ranking-relevant difference.
  */
object GraphOps {

  /** Exact integral division (both operands long, positive in all call
    * sites — truncation ≡ floor). Never routes through double. */
  private def idiv(a: Column, b: Column): Column = call_function("div", a, b)

  /** Weighted PageRank with uniform dangling-mass redistribution, run
    * for exactly `iterations` synchronous steps.
    *
    * `nodes`: one column `node` (long) — the full vertex set (isolated
    * vertices rank too). `edges`: `src`, `dst`, `w` (longs, w > 0;
    * multi-edges allowed and summed). Damping is the rational
    * `dampingNum/100` (default 85/100). Requires
    * `scale * max(w) < 2^63 / 1` (documented overflow bound;
    * scale=10^12 leaves room for per-node out-weights up to ~9·10^6).
    *
    * Per iteration (all integer):
    *   in[v]  = Σ_{(u,v,w)} (rank[u] * w) div outW[u]
    *   dang   = Σ_{u: outW[u] undefined} rank[u]        (driver scalar)
    *   rank'[v] = (15·scale) div (100·N)
    *            + (85 · (in[v] + dang div N)) div 100
    *
    * Scale posture: `edges ⋈ outW` is pre-joined ONCE outside the loop
    * and cached — each iteration shuffles only the (node, rank) pairs
    * (16 bytes/vertex) into the edge partitioning plus one narrow agg
    * on `dst`; the edge relation itself never re-shuffles. Each iterate
    * is persisted and materialized so lineage stays O(1) across
    * iterations (the CC operator's same policy). The dangling mass is
    * a metadata-sized driver scalar per iteration, like the CDF
    * bookmark. Returns (node, rank_fp, rank) — `rank_fp` is the exact
    * fixed-point long; `rank` its double rendering (same division in
    * any replaying engine).
    */
  def pageRankFixedPoint(nodes: DataFrame, edges: DataFrame,
                         iterations: Int, dampingNum: Long = 85L,
                         scale: Long = 1000000000000L): DataFrame =
    prImpl(nodes, edges, iterations, dampingNum, scale, None)

  /** Personalized PageRank (TrustRank-shaped): teleport mass lands ONLY
    * on the `seeds` node set — scores measure proximity to trusted
    * sources through the link structure, the standard seed-propagation
    * quality signal for web corpora (curated domains as seeds). Same
    * fixed-point integer iterate; the base term, dangling
    * redistribution, and the initial mass are restricted to seeds
    * (init = scale div |seeds| on seeds, 0 elsewhere). Reduces exactly
    * to [[pageRankFixedPoint]] when seeds = all nodes. */
  def personalizedPageRank(nodes: DataFrame, edges: DataFrame,
                           seeds: DataFrame, iterations: Int,
                           dampingNum: Long = 85L,
                           scale: Long = 1000000000000L): DataFrame =
    prImpl(nodes, edges, iterations, dampingNum, scale, Some(seeds))

  /** Host-level link-graph extraction — the step that PRODUCES the
    * (src, dst, w) edge relation the rank operators above consume from
    * a raw crawl link table: canonicalize both URL endpoints
    * ([[graft.functions.UrlFunctions.urlHost]] — lowercase, `www.`
    * strip, port/path/fragment off), drop rows where either host is
    * missing, drop intra-host self-loops (they carry no cross-site
    * endorsement and would only dilute the teleport signal), and
    * aggregate link multiplicity into the edge weight.
    *
    * Scale posture: canonicalization is a narrow per-row regex map; the
    * ONE shuffle is the (src, dst) groupBy whose map-side partial
    * combine collapses each partition's duplicate host pairs before
    * anything moves — at web scale the shuffle carries host-pair
    * cardinality, not link cardinality. Node ids stay strings here;
    * the rank operators join on them as-is (their integer arithmetic is
    * on the rank column, never the node id). */
  def hostEdges(links: DataFrame, srcUrlCol: String,
                dstUrlCol: String): DataFrame = {
    import graft.functions.UrlFunctions.urlHost
    links.select(urlHost(col(srcUrlCol)).as("src"),
        urlHost(col(dstUrlCol)).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        length(col("src")) > 0 && length(col("dst")) > 0 &&
        col("src") =!= col("dst"))
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("w"))
  }

  /** Synchronous label propagation (community detection): labels start
    * as the node ids; each step every node adopts the label with the
    * greatest total incident edge weight in its (undirected) neighbor
    * set, ties to the SMALLEST label — an integer argmax, so each step
    * is deterministic under any partitioning and the fixed-`iterations`
    * run is oracle-replayable (asynchronous/randomized LPA variants are
    * not). Isolated nodes keep their own label. Self-loops count their
    * own label with weight 2w (both directions of the undirected
    * expansion — the replaying engine mirrors the same convention).
    *
    * Scale posture: the undirected edge list is materialized once; each
    * step is one join of (node,label) pairs into it + two aggs on node
    * — labels are 16 bytes/vertex and the edge relation never
    * re-shuffles; localCheckpoint bounds lineage. Sync LPA can
    * oscillate on bipartite structures — fixed iterations make that a
    * defined (and still deterministic) outcome, exactly like the
    * fixed-iteration PageRank contract. */
  def labelPropagation(nodes: DataFrame, edges: DataFrame,
                       iterations: Int): DataFrame = {
    require(iterations >= 0, "iterations must be >= 0")
    val ew = edges.groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
    val und = ew.select(col("src").as("node"), col("dst").as("nb"), col("w"))
      .unionByName(ew.select(col("dst").as("node"), col("src").as("nb"), col("w")))
      .groupBy(col("node"), col("nb")).agg(sum(col("w")).as("w")).persist()
    // Size the per-iteration scan to the MEASURED edge count (r20): a
    // cached plan keeps its shuffle-partition count (AQE's coalescing is
    // off for cached plans by default), so every iteration otherwise
    // scans `spark.sql.shuffle.partitions` near-empty cached partitions
    // — measured as 32 cores running SLOWER than 8 on iterate frames of
    // a few thousand rows. ~2M 24-byte rows per task ≈ 50 MB; at real
    // scale the coalesce is a no-op (p reaches the cached partition
    // count), locally it collapses the fixed per-task overhead.
    val n = nodes.select(col("node")).distinct().persist()
    // one setup action for both counts (was two sequential .count()s)
    val cRow = und.agg(count(lit(1)).as("__ne"))
      .crossJoin(n.agg(count(lit(1)).as("__nn"))).head()
    val undIter = coalescedView(und, cRow.getLong(0), 2000000L)
    val nIter = coalescedView(n, cRow.getLong(1), 4000000L)
    var labs = n.select(col("node"), col("node").as("lab")).localCheckpoint()
    for (_ <- 0 until iterations) {
      val cand = undIter
        .join(labs.select(col("node").as("nb"), col("lab")), "nb")
        .groupBy(col("node"), col("lab")).agg(sum(col("w")).as("cnt"))
      // argmax (cnt desc, lab asc) via lexicographic struct max — the
      // negated label turns "smallest label" into the max order
      val pick = cand.groupBy(col("node"))
        .agg(max(struct(col("cnt"), (-col("lab")).as("nl"))).as("m"))
        .select(col("node"), (-col("m.nl")).as("lab"))
      labs = nIter.join(pick, Seq("node"), "left")
        .select(nIter("node"), coalesce(col("lab"), nIter("node")).as("lab"))
        .localCheckpoint()
    }
    n.unpersist()
    und.unpersist()
    labs
  }

  /** Narrow-coalesce a CACHED relation to ⌈rows / rowsPerTask⌉ read
    * tasks, capped at its current parallelism — cached plans keep their
    * shuffle-partition count (no AQE coalescing), so iterative loops
    * otherwise pay per-task fixed costs on near-empty partitions every
    * round. Row counts come from actions the callers already run. A
    * no-op when the cache is already at or below the target. */
  private def coalescedView(cached: DataFrame, rows: Long,
                            rowsPerTask: Long): DataFrame = {
    val p = math.max(1L, math.min(
      (rows + rowsPerTask - 1) / rowsPerTask,
      cached.rdd.getNumPartitions.toLong)).toInt
    if (p < cached.rdd.getNumPartitions) cached.coalesce(p) else cached
  }

  /** Exact global triangle count via degree-ordered edge orientation
    * (the MapReduce-classic formulation): undirected-ize + dedupe +
    * drop self-loops, orient every edge from its (degree, id)-smaller
    * endpoint to the larger, then count wedges (u→v, u→w with
    * (dv,v) ≺ (dw,w)) closed by an oriented (v→w) edge. Orientation
    * bounds the wedge join: every node's oriented out-degree is
    * O(√m) on any graph, so the wedge relation is O(m^1.5) worst-case
    * instead of Σd² — the difference between feasible and not on a
    * power-law web graph whose max degree is millions. Degrees ride
    * along as columns (no global rank/window needed). Integer-only,
    * deterministic, join-shaped — replayable in plain SQL. Returns one
    * row: (n_nodes, n_edges, n_triangles). */
  def triangleCount(edges: DataFrame): DataFrame = {
    // persisted: deg, oriented, and the nE count all derive from und —
    // without the cache each would re-scan and re-distinct the raw
    // edge input (the dominant cost at web-graph scale)
    val und = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct().persist()
    val deg = und.select(col("a").as("n"))
      .unionByName(und.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val withDeg = und
      .join(deg.select(col("n").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("d").as("db")), "b")
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = withDeg.select(
        when(aFirst, col("a")).otherwise(col("b")).as("u"),
        when(aFirst, col("b")).otherwise(col("a")).as("v"),
        when(aFirst, col("db")).otherwise(col("da")).as("dv"))
      .persist()
    val x = oriented.select(col("u"), col("v"), col("dv"))
    val y = oriented.select(col("u"), col("v").as("w"), col("dv").as("dw"))
    val wedges = x.join(y, Seq("u"))
      .filter(col("dv") < col("dw") ||
        (col("dv") === col("dw") && col("v") < col("w")))
      .select(col("v"), col("w"))
    // left_semi keeps each wedge ROW (it never dedupes the left side),
    // and the oriented (v,w) edge is unique, so every closed wedge
    // counts exactly once
    val closed = wedges.join(
      oriented.select(col("u").as("v"), col("v").as("w")), Seq("v", "w"),
      "left_semi")
    // Three SEQUENTIAL count actions ON PURPOSE (r20 A/B, rejected
    // fusions): one cross-joined job for all three measured q132
    // 2.15 → 2.90 s (the triangle and degree stages race the
    // un-materialized und cache blocks), and even fusing just the two
    // cache-READING counts (closed + deg) measured 2.15 → 2.34 s —
    // the wedge pipeline's long stages delay the cheap deg count that
    // otherwise returns instantly. und materializes first; the counts
    // that follow read the cache.
    val nE = und.count() // materializes the cache before the joins
    val nT = closed.count()
    val nN = deg.count()
    oriented.unpersist()
    und.unpersist()
    import edges.sparkSession.implicits._
    Seq((nN, nE, nT)).toDF("n_nodes", "n_edges", "n_triangles")
  }

  private def prImpl(nodes: DataFrame, edges: DataFrame,
                     iterations: Int, dampingNum: Long,
                     scale: Long,
                     teleport: Option[DataFrame]): DataFrame = {
    require(iterations >= 0 && dampingNum >= 0 && dampingNum <= 100 &&
      scale > 0, "bad pageRank parameters")
    val n0 = nodes.select(col("node")).distinct()
    val tSet = teleport.map(_.select(col("node")).distinct()).getOrElse(n0)
    val ew = edges.groupBy(col("src"), col("dst"))
      .agg(sum(col("w")).as("w"))
    val outW = ew.groupBy(col("src")).agg(sum(col("w")).as("ow"))
    // edge ⋈ out-weight, resolved once; reused every iteration
    val edgesN = ew.join(outW, "src").persist()
    // teleport flag (__t) and dangling flag (__d) resolved once as 0/1
    // longs, so every downstream term stays integer AND the per-iteration
    // dangling mass can ride the iterate's own materialization as an
    // observed metric (Σ rank_fp·__d) instead of a separate semi-join +
    // collect job per iteration ("seeds" outside the vertex set are
    // ignored; a vertex is dangling iff it has no out-edge)
    val n = n0.join(tSet.withColumn("__t", lit(1L)), Seq("node"), "left")
      .join(edgesN.select(col("src").as("node")).distinct()
        .withColumn("__o", lit(1L)), Seq("node"), "left")
      .select(col("node"), coalesce(col("__t"), lit(0L)).as("__t"),
        when(col("__o").isNull, lit(1L)).otherwise(lit(0L)).as("__d"))
      .persist()
    // ONE setup action (r20, was two): node counts, the overflow guard's
    // max edge weight, and the edge count ride one cross-joined
    // aggregation whose job also materializes both caches. The guard:
    // rank_fp ≤ total mass = scale, so rank_fp * w wraps int64 when
    // w > Long.MaxValue / scale (~9.2e6 at scale=1e12) — enforced at
    // runtime, a silent wrap would corrupt every downstream rank with no
    // error (ADVICE r12).
    val hdr = n.agg(count(lit(1)), coalesce(sum(col("__t")), lit(0L)),
        coalesce(sum(col("__d")), lit(0L)))
      .crossJoin(edgesN.agg(coalesce(max(col("w")), lit(0L)),
        count(lit(1))))
      .head()
    val nCount = hdr.getLong(0)
    require(nCount > 0, "pageRank needs at least one node")
    val nIter = coalescedView(n, nCount, 4000000L)
    val tCount = hdr.getLong(1)
    require(tCount > 0, "pageRank needs at least one teleport/seed node")
    val nDangling = hdr.getLong(2)
    val maxW = hdr.getLong(3)
    require(maxW <= Long.MaxValue / scale,
      s"pageRank integer overflow: max aggregated edge weight $maxW exceeds " +
        s"Long.MaxValue/scale = ${Long.MaxValue / scale}; lower `scale` or " +
        "pre-normalize edge weights")
    // per-iteration edge scans sized to the measured edge count (see
    // coalescedView: cached plans keep shuffle-partition counts)
    val edgesIter = coalescedView(edgesN, hdr.getLong(4), 2000000L)

    val oneMinusD = 100L - dampingNum
    val baseTerm = lit(oneMinusD * scale) // div (100 * |T|) below
    // localCheckpoint each iterate: lineage stays O(1) across the loop
    // and no cache pins outlive the call. The dangling mass of the
    // iterate rides the SAME materialization as an Observation (the CC
    // operator's one-job-per-round policy) — when the graph has no
    // dangling vertices the metric is skipped entirely.
    def observed(df: DataFrame): (DataFrame, () => Long) =
      if (nDangling == 0) (df.localCheckpoint(), () => 0L)
      else {
        val obs = org.apache.spark.sql.Observation()
        val ck = df.observe(obs, coalesce(sum(col("rank_fp") * col("__d")),
          lit(0L)).as("dang")).localCheckpoint()
        (ck, () => obs.get("dang").asInstanceOf[Long])
      }
    var (ranks, dangOf) = observed(n.select(col("node"), col("__d"),
      (col("__t") * idiv(lit(scale), lit(tCount))).as("rank_fp")))
    var iter = 0
    while (iter < iterations) {
      val dangling = dangOf()
      val inSums = ranks.join(edgesIter, ranks("node") === edgesIter("src"))
        .groupBy(col("dst"))
        .agg(sum(idiv(col("rank_fp") * col("w"), col("ow"))).as("in_sum"))
      val next = observed(nIter.join(inSums, nIter("node") === inSums("dst"), "left")
        .select(nIter("node"), nIter("__d"),
          (nIter("__t") * idiv(baseTerm, lit(100L * tCount)) +
            idiv(lit(dampingNum) *
              (coalesce(col("in_sum"), lit(0L)) +
                nIter("__t") * idiv(lit(dangling), lit(tCount))),
              lit(100L))).as("rank_fp")))
      ranks = next._1
      dangOf = next._2
      iter += 1
    }
    val out = ranks.select(col("node"),
      col("rank_fp"),
      (col("rank_fp").cast("double") / lit(scale.toDouble)).as("rank"))
    n.unpersist()
    edgesN.unpersist()
    out
  }
}
