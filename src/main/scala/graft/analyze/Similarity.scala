package graft.analyze

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector-similarity operators over `array<float>` embedding columns
  * (SURVEY.md §2.4): brute-force cosine top-k as the correctness baseline,
  * LSH-bucketed approximate search as the 100 TB scale path.
  *
  * Dot products use `zip_with` + `aggregate` higher-order functions — a
  * narrow, codegen'd per-row fold; no UDF, no Python boundary. Norms are
  * always computed ONCE per vector (a narrow pre-pass) and carried as a
  * column, never recomputed per candidate pair.
  */
object Similarity {

  /** Spread a compute-bound narrow stage across the cluster when the
    * source arrives in too few splits (a small parquet file is ONE input
    * partition — every per-row expression then runs single-threaded no
    * matter how many cores exist). No-op when the input is already
    * parallel enough, so large inputs (which naturally have many splits)
    * never pay an extra shuffle. */
  private[graft] def ensureParallelism(df: DataFrame): DataFrame = {
    // streaming plans can't be probed via .rdd (and micro-batch
    // parallelism is the source's knob) — pass them through, which is
    // what lets Ivf.assign serve as its own streaming twin
    if (df.isStreaming) return df
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 < target) df.repartition(target) else df
  }

  /** Elementwise dot product of two equal-length float arrays, computed in
    * double as a sequential left fold (deterministic order). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** Squared L2 norm. */
  def normSq(a: Column): Column = dot(a, a)

  /** Cosine similarity; 0 for zero-norm vectors. Prefer the
    * (dot, precomputed-norm) form in joins — see cosineFromParts. */
  def cosine(a: Column, b: Column): Column =
    cosineFromParts(dot(a, b), normSq(a), normSq(b))

  /** Cosine from a dot product and per-side squared norms. */
  def cosineFromParts(d: Column, n2a: Column, n2b: Column): Column = {
    val n = sqrt(n2a) * sqrt(n2b)
    when(n > 0, d / n).otherwise(lit(0.0))
  }

  /** Dot product with an exact-decimal accumulator: each elementwise
    * product is computed in double (deterministic), rounded to 12 dp
    * (exactly Spark's double→decimal cast), and summed exactly — so the
    * result is independent of addition order and bitwise-reproducible
    * across engines (the DuckDB oracle computes the identical formula).
    * A native expression (DotExactExpr): the equivalent zip_with +
    * aggregate decimal fold pays per-element Decimal boxing, which
    * dominates at millions of candidate pairs. */
  def dotExact(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.dotExact(a, b)

  /** Distributed per-query top-k rank: two-level, so no single reducer
    * ever receives ALL of one query's candidates. A plain
    * `Window.partitionBy(query)` funnels every candidate row for a query
    * into ONE reducer — with few queries over a large corpus that is a
    * per-query reducer bottleneck (and at billions of candidates an
    * OOM), the classic low-cardinality window skew. Level 1 ranks within
    * (query, input-partition) — `spark_partition_id()` is captured below
    * the exchange, so the shuffle spreads each query over as many
    * reducers as the candidate scan has partitions — and keeps k rows
    * per group; level 2 ranks the surviving ≤ k·partitions rows per
    * query (a tiny shuffle). The result is IDENTICAL to the single
    * global rank: a per-partition top-k preserves the global top-k under
    * any total order — `order` must be total (callers tie-break on id)
    * or neither form is deterministic. Emits `rank` 1..k per query.
    *
    * Where it applies: rankers whose candidate volume is CORPUS-
    * proportional per query (brute force, exhaustive ADC, LSH buckets).
    * Index-bounded rankers (IVF/IVFPQ: nprobe·(n/nlist) ≈ nprobe·√n
    * rows per query at standard sizing) keep the single-level window —
    * their per-query reducer load is capped by the index geometry, and
    * the extra exchange would be pure overhead (measured +0.2–0.6 s per
    * query at bench scale). */
  private[graft] def topKPerQuery(scored: DataFrame, queryCol: String,
                                  order: Seq[Column], k: Int): DataFrame = {
    // fail fast on temp-name collisions (the q90 lesson): a caller
    // column named __pid/__lrank would silently corrupt the grouping
    require(Seq("__pid", "__lrank", "rank").forall(!scored.columns.contains(_)),
      "topKPerQuery: input must not carry columns named __pid/__lrank/rank")
    val local = Window.partitionBy(col(queryCol), col("__pid")).orderBy(order: _*)
    val global = Window.partitionBy(col(queryCol)).orderBy(order: _*)
    scored.withColumn("__pid", spark_partition_id())
      .withColumn("__lrank", row_number().over(local))
      .filter(col("__lrank") <= k)
      .drop("__pid", "__lrank")
      .withColumn("rank", row_number().over(global))
      .filter(col("rank") <= k)
  }

  /** Brute-force top-k cosine neighbors for each query vector.
    *
    * `queries` is expected to be small (it is broadcast); the scan over
    * `corpus` is a single narrow pass per query — the right baseline on a
    * cluster when queries fit in memory. Norms are precomputed per side
    * (once per vector, not once per pair). Excludes self-matches by id.
    * Deterministic: ties broken by corpus id. Ranking is the two-level
    * [[topKPerQuery]] — the candidate volume is n·queries, exactly the
    * shape where a single-level window bottlenecks.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      normSq(col(vecCol)).as("qn2"))
    val c = ensureParallelism(corpus)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
        normSq(col(vecCol)).as("cn2"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos",
        cosineFromParts(dot(col("qv"), col("cv")), col("qn2"), col("cn2")))
    topKPerQuery(scored, "query_id",
        Seq(col("cos").desc, col("neighbor_id").asc), k)
      .select("query_id", "neighbor_id", "cos", "rank")
  }

  /** Exact re-rank of approximate candidates — the standard production
    * tail behind a compressed retriever (retrieve wide with ADC, order
    * fine with true vectors). Takes (query_id, neighbor_id) candidate
    * pairs, fetches both true vectors, scores exact-decimal cosine, and
    * keeps the top `k` per query (ties to neighbor_id).
    *
    * Why it exists (measured, SCALE.md round 9): on strongly clustered
    * corpora PQ/ADC retrieves the RIGHT cluster but cannot order within
    * it — co-members quantize to the same codes, ADC distances tie, and
    * rank falls to the id tie-break, collapsing recall@10 to ~0 against
    * exact ordering even though every hit is a true near neighbor.
    * Re-ranking the retriever's top-k' restores exact order at
    * candidate-set cost (k' vectors per query), never a corpus scan.
    *
    * Scale shape: candidates are ids-only; the corpus joins by neighbor
    * id (hash join ships only candidate vectors), queries broadcast.
    * Candidates per query are bounded by the retriever's k', so the
    * single-level window applies (see [[topKPerQuery]]'s applicability
    * note). */
  def rerankExact(candidates: DataFrame, corpus: DataFrame,
                  queries: DataFrame, idCol: String, vecCol: String,
                  k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1; got $k")
    // exact-decimal dot/norms (the q33 parity policy), so the re-ranked
    // order — and the emitted cos — is bitwise-reproducible and
    // SQL-oracle-verifiable; the plain double fold would drift in the
    // last ulps and flip near-ties
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      dotExact(col(vecCol), col(vecCol)).as("qn2"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      dotExact(col(vecCol), col(vecCol)).as("cn2"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    // distinct: merged candidate sets (two retrievers unioned) repeat
    // (query, neighbor) pairs; without dedup a repeat occupies two top-k
    // slots and silently evicts the k-th real neighbor (same hazard
    // annRecall guards its pair projections against)
    candidates.select("query_id", "neighbor_id").distinct()
      .join(c, Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("cos",
        when(sqrt(col("qn2")) * sqrt(col("cn2")) > 0,
          dotExact(col("qv"), col("cv")) /
            (sqrt(col("qn2")) * sqrt(col("cn2")))).otherwise(lit(0.0)))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cos", "rank")
  }

  /** Random-hyperplane LSH signature (`bits` sign bits) of a `dim`-wide
    * vector — a per-row narrow native expression; weights derived from
    * (bits, dim), never stored in the plan tree. Projections use the
    * exact-decimal sum, so each bit — and the whole signature — is
    * independent of addition order and bitwise-reproducible across
    * engines. */
  def lshSignature(vec: Column, bits: Int, dim: Int): Column =
    graft.functions.VectorFunctions.lshSig(vec, bits, dim)

  /** id, vec, norm², and exploded (band, key) bucket rows for LSH joins.
    * Signature and norm are computed once per input row (narrow). */
  private def bandedWithNorm(df: DataFrame, idCol: String, vecCol: String,
                             idAs: String, vecAs: String, n2As: String,
                             bits: Int, bands: Int, dim: Int): DataFrame = {
    val width = bits / bands
    ensureParallelism(df)
      .select(col(idCol).as(idAs), col(vecCol).as(vecAs),
        dotExact(col(vecCol), col(vecCol)).as(n2As),
        lshSignature(col(vecCol), bits, dim).as("__sig"))
      .select(col(idAs), col(vecAs), col(n2As),
        explode(array((0 until bands).map { b =>
          struct(lit(b).as("band"),
            shiftright(col("__sig"), b * width)
              .bitwiseAND(lit((1L << width) - 1)).as("key"))
        }: _*)).as("bucket"))
  }

  /** LSH-bucketed approximate top-k: bucket corpus and queries by banded
    * signatures, score only same-bucket pairs.
    *
    * Scale path: the corpus is hashed once (narrow), the join is on bucket
    * keys (shuffle proportional to candidates, not n×q). Recall < 1 by
    * construction; more `bands` (of fixed width) raises recall, wider
    * bands (bits/bands) cut candidates. Default 32 bits / 4 bands = 8-bit
    * buckets — 256 buckets per band.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, bits: Int = 32, bands: Int = 4,
              dim: Int = 64): DataFrame = {
    require(bits % bands == 0)
    val c = bandedWithNorm(corpus, idCol, vecCol, "neighbor_id", "cv", "cn2", bits, bands, dim)
    val q = bandedWithNorm(queries, idCol, vecCol, "query_id", "qv", "qn2", bits, bands, dim)
    val cand = c.join(q, Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("cos",
        cosineFromParts(dotExact(col("qv"), col("cv")), col("qn2"), col("cn2")))
    topKPerQuery(cand, "query_id",
        Seq(col("cos").desc, col("neighbor_id").asc), k)
      .select("query_id", "neighbor_id", "cos", "rank")
  }

  /** L2-normalize (native kernel — exact-decimal norm, elementwise IEEE
    * division, zero vectors unchanged). Normalized corpora make cosine a
    * plain dot product downstream. */
  def normalizeL2(vec: Column): Column =
    graft.functions.VectorFunctions.l2Normalize(vec)

  /** Per-dimension mean pooling over groups (centroids of a clustering,
    * class prototypes, …) in LONG form — (group, dim, mean) rows, one
    * partial-aggregating shuffle on (group, dim), never a per-group
    * array materialization on a single node. Exact-decimal sums
    * (engine-reproducible); mean = exact-sum / count in IEEE double.
    * Elements are round(x, 12)-ed BEFORE the decimal cast: a raw float
    * with exactly 13 fractional bits is an exact 12-dp TIE, which Spark's
    * decimal cast breaks HALF_UP and DuckDB's HALF_EVEN — round() is
    * half-away-from-zero in both engines and its result can no longer
    * tie (found by the q73 oracle on a real corpus value,
    * 0.1983642578125). */
  def meanPool(df: DataFrame, groupCol: Column, vecCol: Column): DataFrame =
    df.select(groupCol.as("grp"), posexplode(vecCol).as(Seq("i", "x")))
      .groupBy(col("grp"), col("i"))
      .agg((sum(round(col("x").cast("double"), 12).cast("decimal(30,12)"))
        .cast("double") / count(lit(1)).cast("double")).as("mean"))

  /** Per-vector uniform 8-bit quantize→dequantize: 255 levels across
    * [min, max] of the vector — the storage scale path (4x smaller
    * embeddings) whose recall cost this library can MEASURE because the
    * arithmetic is deterministic and engine-reproducible:
    * q = round((x−mn)/span·255), dq = mn + q·span/255 (exact IEEE ops in
    * a fixed order; round is half-away-from-zero in both engines).
    * Degenerate span keeps the original value. */
  def quantizeDequantize(vec: Column): Column = {
    val mnE = array_min(vec).cast("double")
    val spanE = array_max(vec).cast("double") - mnE
    // bind (mn, span) ONCE via a 1-element array + transform — inside a
    // HOF lambda an outer sub-expression re-evaluates on every access
    // (no CSE across the lambda boundary), so the direct form re-ran
    // array_min/array_max per vector ELEMENT: O(d²) per row (same bug
    // class as gramStrings' re-tokenization, fixed round 12)
    element_at(transform(array(struct(mnE.as("mn"), spanE.as("span"))), s => {
      val mn = s.getField("mn")
      val span = s.getField("span")
      transform(vec, x =>
        when(span > 0,
          mn + (round(((x.cast("double") - mn) / span) * 255.0, 0) * span) / 255.0)
          .otherwise(x.cast("double")))
    }), 1)
  }

  /** Recall@k of an approximate top-k result against the exact one —
    * the standard ANN quality gate run before an index configuration
    * ships (the recall/latency trade is THE tuning axis for IVF/PQ/LSH
    * nprobe/bits choices). Inputs are two (query, neighbor, …) top-k
    * tables; per query the metric is |exact ∩ approx| / k. Queries in
    * `exact` with no approx hits report recall 0.
    *
    * Scale shape: an ids-only semi join + count — the evaluation never
    * touches vectors, so it costs nothing next to the searches
    * themselves and scales with n_queries × k. `recall` is the single
    * final IEEE division (engine-portable). */
  def annRecall(exact: DataFrame, approx: DataFrame,
                queryCol: String, neighborCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1; got $k")
    // distinct() both pair projections: duplicate (query, neighbor) rows
    // in either input would double-count hits and report recall > 1.0.
    // Ids-only, so the dedup is cheap relative to the searches.
    val hits = exact.select(col(queryCol), col(neighborCol)).distinct()
      .join(approx.select(col(queryCol), col(neighborCol)).distinct(),
        Seq(queryCol, neighborCol), "left_semi")
      .groupBy(col(queryCol)).agg(count(lit(1)).as("n_hit"))
    exact.select(col(queryCol)).distinct()
      .join(hits, Seq(queryCol), "left")
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
      .withColumn("recall", col("n_hit").cast("double") / lit(k.toDouble))
  }

  /** Reciprocal-rank fusion of N per-query rankings — the standard
    * hybrid-retrieval combiner (dense + sparse + recency …):
    * score(item) = Σ_lists 1/(kConst + rank_list(item)), missing-list
    * items simply contribute nothing. Rank-based, so the lists'
    * heterogeneous score scales never need calibration — exactly why
    * RRF is the production default.
    *
    * Engine-exact: each reciprocal is one IEEE division rounded to
    * 12 dp and cast to decimal (the meanPool idiom — round first so no
    * exact-tie hits the engines' different decimal rounding modes),
    * summed exactly per (query, item) — fusion order can never change a
    * score. Output keeps the decimal score (a decimal→double cast
    * would hit DuckDB's 1-ulp divergence) plus the fused rank, ties to
    * the smaller item id.
    *
    * Scale shape: inputs are already top-k tables (n_queries × k × N
    * rows — search output, not corpora); one union, one
    * (query, item) partial agg, one per-query rank window. */
  def rrfFuse(rankings: Seq[DataFrame], queryCol: String, itemCol: String,
              rankCol: String, kConst: Int = 60, topK: Int = 10): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(kConst >= 1 && topK >= 1, "kConst and topK must be >= 1")
    val slim = rankings.map(_.select(col(queryCol), col(itemCol),
      round(lit(1.0) / (lit(kConst.toDouble) + col(rankCol).cast("double")), 12)
        .cast("decimal(30,12)").as("__r")))
    val fused = slim.reduce(_ unionByName _)
      .groupBy(col(queryCol), col(itemCol))
      .agg(sum(col("__r")).cast("decimal(30,12)").as("rrf_score"))
    topKPerQuery(fused, queryCol,
        Seq(col("rrf_score").desc, col(itemCol).asc), topK)
      .select(col(queryCol), col(itemCol), col("rrf_score"), col("rank"))
  }

  /** Lookalike audience expansion — the martech use of the similarity
    * stack: centroid of a SEED audience's embeddings (per-dimension
    * exact-decimal means, [[meanPool]] semantics), then the top-k
    * non-seed vectors by exact cosine to that centroid. Deterministic
    * end to end: means and dot/norm sums use the decimal-accumulator
    * idiom (order-free), cosines are fixed-shape divisions, ties break
    * to the smaller id.
    *
    * Scale shape: the centroid is a dim-cardinality relation
    * (broadcast); candidates explode to (id, dim, x) rows for ONE
    * partial-aggregating dot per id — linear in candidate mass, no
    * pair joins; top-k is a TakeOrdered, never a global sort. The IVF
    * path composes when the candidate corpus outgrows brute force
    * (search the centroid as a query). */
  def lookalikeTopK(emb: DataFrame, idCol: String, vecCol: String,
                    seed: Column, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1; got $k")
    val dec = "decimal(30,12)"
    val cent = emb.filter(seed)
      .select(posexplode(col(vecCol)).as(Seq("i", "x")))
      .groupBy(col("i"))
      .agg((sum(col("x").cast("double").cast(dec)).cast("double") /
        count(lit(1)).cast("double")).as("m"))
    val centN2 = cent.agg(
      sum((col("m") * col("m")).cast(dec)).cast("double").as("cn2"))
    val cand = emb.filter(!seed)
    val dots = cand
      .select(col(idCol).as("id"), posexplode(col(vecCol)).as(Seq("i", "x")))
      .join(broadcast(cent), Seq("i"))
      .groupBy(col("id"))
      .agg(sum((col("x").cast("double") * col("m")).cast(dec))
        .cast("double").as("dot"))
    val n2 = cand.select(col(idCol).as("id"),
      dotExact(col(vecCol), col(vecCol)).as("n2"))
    val scored = dots.join(n2, Seq("id")).crossJoin(broadcast(centN2))
      .select(col("id"),
        cosineFromParts(col("dot"), col("cn2"), col("n2")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("id").asc)
      .limit(k)
    scored.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("cos_sim").desc, col("id").asc)))
      .withColumnRenamed("id", idCol)
  }

  /** EXACT cosine-threshold pairs by brute force over all id pairs —
    * the correctness baseline for cosineNearDups. O(n²) in pairs: on a
    * cluster, bound `df` (sample or pre-filter) before calling; for dense
    * embeddings no exact sub-quadratic method exists, which is why the
    * LSH-candidate path is the scale path. Exact-decimal math throughout
    * (oracle-reproducible). */
  def cosinePairsExact(df: DataFrame, idCol: String, vecCol: String,
                       threshold: Double): DataFrame = {
    val src = ensureParallelism(df)
    val l = src.select(col(idCol).as("id_a"), col(vecCol).as("v_a"),
      dotExact(col(vecCol), col(vecCol)).as("n2_a"))
    val r = src.select(col(idCol).as("id_b"), col(vecCol).as("v_b"),
      dotExact(col(vecCol), col(vecCol)).as("n2_b"))
    l.join(broadcast(r), col("id_a") < col("id_b"))
      .withColumn("cos",
        cosineFromParts(dotExact(col("v_a"), col("v_b")), col("n2_a"), col("n2_b")))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** Embedding near-duplicate pairs: cosine >= threshold, candidates from
    * shared LSH buckets (linear-ish), verified exactly. */
  def cosineNearDups(df: DataFrame, idCol: String, vecCol: String,
                     threshold: Double = 0.95, bits: Int = 32,
                     bands: Int = 4, dim: Int = 64): DataFrame = {
    require(bits % bands == 0)
    val banded = bandedWithNorm(df, idCol, vecCol, "id", "v", "n2", bits, bands, dim)
    // Candidate ID pairs first — the bucket self-join and the pair dedup
    // shuffle only (bucket, id) rows; the wide embedding arrays never ride
    // the candidate explosion (same discipline as minhashNearDups).
    val keyed = banded.select(col("bucket"), col("id"))
    val cand = keyed.join(keyed.withColumnRenamed("id", "id_b"), Seq("bucket"))
      .filter(col("id") < col("id_b"))
      .select(col("id").as("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
    // vectors + norms re-derived narrowly (no signature, no explode) for
    // the verify joins; Spark reuses the exchange across the two sides
    val sides = ensureParallelism(df).select(col(idCol).as("id"),
      col(vecCol).as("v"), dotExact(col(vecCol), col(vecCol)).as("n2"))
    cand
      .join(sides.select(col("id").as("id_a"), col("v").as("v_a"), col("n2").as("n2_a")), Seq("id_a"))
      .join(sides.select(col("id").as("id_b"), col("v").as("v_b"), col("n2").as("n2_b")), Seq("id_b"))
      .withColumn("cos",
        cosineFromParts(dotExact(col("v_a"), col("v_b")), col("n2_a"), col("n2_b")))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }
}
