package graft

import org.apache.spark.sql.functions._
import graft.analyze.{Ivf, Similarity}
import graft.core.Skew

class IvfSpec extends SparkSpec {
  import spark.implicits._

  private lazy val vecs: Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(11)
    // 4 well-separated clusters of 20 vectors each
    (0 until 4).flatMap { c =>
      val center = Array.tabulate(8)(i => if (i == c * 2) 10f else 0f)
      (0 until 20).map { j =>
        (c * 20L + j) -> center.map(_ + rnd.nextFloat() * 0.5f)
      }
    }
  }

  test("IVF: probing the right cells recovers the true neighbors") {
    val df = vecs.toDF("id", "v")
    val index = Ivf.build(df, "id", "v", nlist = 4)
    val queries = df.filter($"id".isin(0L, 25L, 45L, 65L))
    val got = Ivf.search(index, queries, "id", "v", k = 3, nprobe = 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val brute = Similarity.bruteForceTopK(df, queries, "id", "v", k = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // clusters are well separated: nprobe=1 must equal brute force
    assert(got == brute)
  }

  test("IVF search distributes over a query TABLE (1200 queries, no driver probes)") {
    // Exhaustive probing (nprobe = nlist) must equal exact top-k computed
    // independently — same exact-decimal cosine, so ranks are bit-stable.
    val rnd = new scala.util.Random(7)
    val data = (0L until 1200L).map(i => i -> Array.fill(8)(rnd.nextFloat() * 2f - 1f))
    val df = data.toDF("id", "v")
    val nlist = 16
    val index = Ivf.buildSampled(df, "id", "v", nlist)
    val got = Ivf.search(index, df, "id", "v", k = 3, nprobe = nlist)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(got.size == 1200 * 3)

    import org.apache.spark.sql.expressions.Window
    val sides = df.select(col("id"), col("v"),
      Similarity.dotExact(col("v"), col("v")).as("n2"))
    val exact = sides.toDF("query_id", "qv", "qn2")
      .crossJoin(sides.toDF("neighbor_id", "cv", "cn2"))
      .filter($"query_id" =!= $"neighbor_id")
      .withColumn("cos", Similarity.cosineFromParts(
        Similarity.dotExact($"qv", $"cv"), $"qn2", $"cn2"))
      .withColumn("rank", row_number().over(
        Window.partitionBy($"query_id").orderBy($"cos".desc, $"neighbor_id".asc)))
      .filter($"rank" <= 3)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(got == exact)
  }

  test("clusterBalancedSample: per-cell quota cap, small cells kept whole, deterministic") {
    val rnd = new scala.util.Random(31)
    val df = (0L until 400L).map(i => i -> Array.fill(8)(rnd.nextFloat()))
      .toDF("id", "v")
    val index = Ivf.buildSampled(df, "id", "v", nlist = 8)
    val cellSizes = index.assigned.groupBy("cell").count()
      .as[(Int, Long)].collect().toMap
    val got = Ivf.clusterBalancedSample(index, quota = 20)
      .as[(Long, Int, Int)].collect()
    val perCell = got.groupBy(_._2).view.mapValues(_.length).toMap
    perCell.foreach { case (cell, n) =>
      assert(n == math.min(20L, cellSizes(cell)), s"cell $cell") }
    // ranks are 1..n within each cell; rerun is bit-identical
    got.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.length)) }
    val again = Ivf.clusterBalancedSample(index, quota = 20)
      .as[(Long, Int, Int)].collect()
    assert(got.toSet == again.toSet)
  }

  test("IVF assignment plans ONE broadcast; plan size independent of nlist") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val rnd = new scala.util.Random(3)
    val df = (0L until 300L).map(i => i -> Array.fill(8)(rnd.nextFloat())).toDF("id", "v")
    def plan(nlist: Int): String = {
      val a = Ivf.buildSampled(df, "id", "v", nlist).assigned
      a.collect()
      a.queryExecution.executedPlan match {
        case ad: AdaptiveSparkPlanExec => ad.executedPlan.toString
        case p => p.toString
      }
    }
    val p16 = plan(16)
    assert(p16.contains("BroadcastNestedLoopJoin"), p16)
    assert(p16.linesIterator.count(l =>
      l.contains("BroadcastExchange") && !l.contains("Reused")) == 1, p16)
    val p128 = plan(128)
    // centroids ride the broadcast, not the plan: 8x the centroids must
    // not grow the plan string (allow trivial jitter from plan ids)
    assert(math.abs(p128.length - p16.length) < 200,
      s"plan grew with nlist: ${p16.length} -> ${p128.length}")
  }

  test("semDedup: near-duplicates fall to the lowest cell-mate; distant vectors survive") {
    // 4 well-separated clusters of 20 jittered copies each (cos within a
    // cluster ~1, across ~0): with nlist=4 sampled centroids each cluster
    // is a cell, so semDedup must keep exactly the minimum id per cluster.
    val df = vecs.toDF("id", "v")
    val index = Ivf.build(df, "id", "v", nlist = 4)
    val kept = Ivf.semDedup(index, threshold = 0.9)
      .select("id").as[Long].collect().toSet
    assert(kept == Set(0L, 20L, 40L, 60L))
    // at an impossible threshold nothing falls
    assert(Ivf.semDedup(index, threshold = 1.1).count() == 80)
    // survivors ∪ dropped partition the corpus (no vector lost or doubled)
    val kept2 = Ivf.semDedup(index, threshold = 0.9)
    assert(kept2.join(df, Seq("id")).count() == kept2.count())
  }

  test("frozen-centroid assign matches the build; drift report balances") {
    val df = vecs.toDF("id", "v")
    // maintenance invariant: re-assigning the SAME corpus against a
    // frozen centroid set is bitwise the build's own assignment
    val sampled = Ivf.buildSampled(df, "id", "v", nlist = 4)
    val re = Ivf.assign(sampled.centroids, df, "id", "v")
      .select("id", "cell").as[(Long, Int)].collect().toSet
    val orig = sampled.assigned
      .select("id", "cell").as[(Long, Int)].collect().toSet
    assert(re == orig)
    // semantic drift checks on an index with the TRUE cluster centers
    // (buildSampled's lowest-id centroids all come from cluster 0 here)
    val centroids = (0 until 4)
      .map(c => Array.tabulate(8)(i => if (i == c * 2) 10.0 else 0.0)).toArray
    val index = Ivf.Index(centroids, Ivf.assign(centroids, df, "id", "v"))
    // batch == corpus → every cell has old_n == new_n, share_delta == 0
    val drift = Ivf.driftReport(index, df, "id", "v").collect()
    assert(drift.length == 4)
    assert(drift.forall(r => r.getAs[Long]("old_n") == r.getAs[Long]("new_n")))
    assert(drift.forall(_.getAs[Double]("share_delta") == 0.0))
    assert(drift.map(_.getAs[Long]("new_n")).sum == vecs.length)
    assert(drift.forall(r => r.getAs[Long]("old_n") == 20L)) // 4 clusters x 20
    // inertia is a mean squared distance: nonnegative everywhere
    assert(drift.forall(_.getAs[Double]("new_inertia") >= 0.0))
    // a DRIFTED batch (every vector pushed along cluster 0's axis) must
    // grow cell 0's share and its inertia vs the balanced report
    val drifted = vecs.map { case (id, v) =>
      (id, v.zipWithIndex.map { case (x, i) => if (i == 0) x + 20f else x }) }
      .toDF("id", "v")
    val d2 = Ivf.driftReport(index, drifted, "id", "v").collect()
      .map(r => r.getAs[Int]("cell") ->
        ((r.getAs[Double]("share_delta"), r.getAs[Double]("new_inertia")))).toMap
    assert(d2(0)._1 > 0.0, s"expected positive drift into cell 0: $d2")
    val balanced0 = drift.find(_.getAs[Int]("cell") == 0).get
      .getAs[Double]("new_inertia")
    assert(d2(0)._2 > balanced0)
  }

  test("recenter: refreshed centroids cut drifted-batch inertia; empty cells stay frozen") {
    val df = vecs.toDF("id", "v")
    val centroids = (0 until 4)
      .map(c => Array.tabulate(8)(i => if (i == c * 2) 10.0 else 0.0)).toArray
    val index = Ivf.Index(centroids, Ivf.assign(centroids, df, "id", "v"))
    // the q95 scenario, closed: every batch vector drifts +20 on dim 0
    val drifted = vecs.map { case (id, v) =>
      (id, v.zipWithIndex.map { case (x, i) => if (i == 0) x + 20f else x }) }
      .toDF("id", "v")
    def totalInertia(cents: Array[Array[Double]]): Double =
      Ivf.driftReport(Ivf.Index(cents, Ivf.assign(cents, df, "id", "v")),
          drifted, "id", "v")
        .agg(sum(col("new_inertia") * col("new_n"))).collect().head.getDouble(0)
    val before = totalInertia(centroids)
    val refreshed = Ivf.recenter(centroids, drifted, "id", "v")
    val after = totalInertia(refreshed)
    // one k-means update step on the batch: summed L2² must drop hard
    // (all drifted vectors land in one frozen cell here, so the step
    // converges to that cell's mixed mean — a 3.5× cut, measured; the
    // residual is the drifted batch's own within-cell spread)
    assert(after < before / 2, s"inertia $before -> $after")
    // refreshed coordinates are exact-decimal means: cell means of a
    // +20 drift sit near (old centroid dim0 + 20) for the populated cell
    val populated = Ivf.recenteredCoords(centroids, drifted, "id", "v")
      .select("cell").distinct().as[Int].collect().toSet
    // every cell its batch slice maps to gets refreshed; the rest frozen
    refreshed.indices.foreach { c =>
      if (!populated.contains(c))
        assert(refreshed(c).sameElements(centroids(c)), s"cell $c moved")
      else assert(!refreshed(c).sameElements(centroids(c)), s"cell $c frozen")
    }
  }

  test("hot keys diagnosed: only the key over minCount") {
    val big = (1 to 1000).map(i => (if (i % 10 == 0) 1L else i.toLong, i)).toDF("k", "v")
    val hot = Skew.hotKeys(big, "k", minCount = 50).as[(Long, Long)].collect()
    assert(hot.map(_._1).toSeq == Seq(1L))
  }

  test("deterministic salted join: equals plain join, spreads hot key, shuffles on (k, salt)") {
    val big = (1 to 1000).map(i => (if (i % 10 == 0) 1L else i.toLong, i)).toDF("k", "v")
    val small = Seq((1L, "hot"), (2L, "a"), (30L, "b")).toDF("k", "name")
    val plain = big.join(small, "k").select("k", "v", "name").collect().toSet
    val salted = Skew.saltedJoinBy(big, small, "k",
      pmod(col("v"), lit(8)).cast("int"), salts = 8)
    assert(salted.select("k", "v", "name").collect().toSet == plain)
    // the hot key's rows really spread over multiple salt values
    val spread = big.filter(col("k") === 1L)
      .select(pmod(col("v"), lit(8)).cast("int").as("s"))
      .distinct().count()
    assert(spread > 1)
    // with broadcast disabled, the join hash-partitions on (k, __salt) —
    // the skew-spreading shuffle shape, not plain (k)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val s2 = Skew.saltedJoinBy(big, small, "k",
        pmod(col("v"), lit(8)).cast("int"), salts = 8)
      val planStr = s2.queryExecution.executedPlan.toString
      assert(planStr.contains("hashpartitioning(k") &&
        planStr.contains("__salt"), planStr)
    } finally spark.conf.set(key, prev)
  }

  test("salted join normalizes out-of-range salt expressions (no silent row loss)") {
    val big = (1 to 200).map(i => (if (i % 5 == 0) 1L else i.toLong, i)).toDF("k", "v")
    val small = Seq((1L, "hot"), (2L, "a"), (30L, "b")).toDF("k", "name")
    val plain = big.join(small, "k").select("k", "v", "name").collect().toSet
    // hash() is signed: without internal pmod normalization, rows whose
    // hash is negative (or >= salts) would silently vanish from the join
    val salted = Skew.saltedJoinBy(big, small, "k",
      hash(col("v")), salts = 8).select("k", "v", "name").collect().toSet
    assert(salted == plain)
    // raw negative literal salt: still lossless after normalization
    val neg = Skew.saltedJoinBy(big, small, "k",
      lit(-3), salts = 8).select("k", "v", "name").collect().toSet
    assert(neg == plain)
    // null salt (non-numeric column / null input casts to null): pmod
    // alone keeps it null and the inner join would still drop the rows —
    // coalesce routes them to salt 0 instead
    val nul = Skew.saltedJoinBy(big, small, "k",
      lit(null), salts = 8).select("k", "v", "name").collect().toSet
    assert(nul == plain)
  }
}
