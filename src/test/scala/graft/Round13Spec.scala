package graft

import org.apache.spark.sql.functions._

import graft.analyze.{GraphOps, TextAnalysis}
import graft.functions.UrlFunctions
import graft.relational.Relational

/** Round-13 operators: URL canonicalization + host graph, paginated
  * exact top-k, bounded funnel state, token-budget temperature
  * mixture. */
class Round13Spec extends SparkSpec {
  import spark.implicits._

  test("urlNormalize: case, www, default ports, slash, query sort, fragment") {
    val cases = Seq(
      // full mess collapses to canonical
      ("HTTPS://WWW.Example.COM:443/a/b/?b=2&a=1#frag",
        "https://example.com/a/b?a=1&b=2"),
      // non-default port survives
      ("http://example.com:8080/x", "http://example.com:8080/x"),
      // http:80 dropped, bare "/" path dropped
      ("http://EXAMPLE.com:80/", "http://example.com"),
      // no path/query/port
      ("https://www.foo.org", "https://foo.org"),
      // empty query params dropped, singleton kept
      ("http://a.b/p?&&x=1&", "http://a.b/p?x=1"),
      // root-dot host
      ("http://example.com./q", "http://example.com/q"),
      // bare hostname (no scheme): host rules only
      ("WWW.Foo.Example.com.", "foo.example.com"),
      // trailing slash run
      ("http://h.io/a///", "http://h.io/a"))
    val got = cases.map(_._1).toDF("u")
      .select(UrlFunctions.urlNormalize(col("u"))).as[String].collect()
    got.zip(cases).foreach { case (g, (in, want)) =>
      assert(g == want, s"urlNormalize($in)") }
    // null in, null out
    val n = Seq[Option[String]](None).toDF("u")
      .select(UrlFunctions.urlNormalize(col("u"))).collect()(0)
    assert(n.isNullAt(0))
    // idempotent: normalizing a canonical URL is identity
    val canon = cases.map(_._2).toDF("u")
      .select(UrlFunctions.urlNormalize(col("u"))).as[String].collect()
    assert(canon.toSeq == cases.map(_._2))
  }

  test("urlHost: canonical host from raw URLs") {
    val cases = Seq(
      ("HTTP://WWW.A.B:8080/c?d#e", "a.b"),
      ("https://Sub.Domain.ORG/", "sub.domain.org"),
      ("ftp://www.files.net:21/x", "files.net"),
      ("plainhost.COM", "plainhost.com"))
    val got = cases.map(_._1).toDF("u")
      .select(UrlFunctions.urlHost(col("u"))).as[String].collect()
    got.zip(cases).foreach { case (g, (in, want)) =>
      assert(g == want, s"urlHost($in)") }
  }

  test("hostEdges: canonicalized endpoints, self-loops dropped, weights summed") {
    val links = Seq(
      ("http://WWW.X.com/a", "https://y.org/p"),   // x.com -> y.org
      ("https://x.COM:443/b?q=1", "http://Y.ORG"), // same hosts, again
      ("http://www.x.com/", "http://X.com/other"), // self-loop (after canon)
      ("http://z.net", "http://x.com")             // z.net -> x.com
    ).toDF("src_url", "dst_url")
    val got = GraphOps.hostEdges(links, "src_url", "dst_url")
      .orderBy("src", "dst").as[(String, String, Long)].collect().toSeq
    assert(got == Seq(("x.com", "y.org", 2L), ("z.net", "x.com", 1L)))
  }

  test("hostEdges -> trustRank composite: string node ids, seeds pull rank") {
    // trusted.org links to good.com; spamA/spamB only link each other.
    val links = Seq(
      ("https://WWW.Trusted.ORG/a", "http://good.com/x"),
      ("https://trusted.org/b?x=1", "http://good.com/y"),
      ("http://good.com/z", "http://trusted.org/"),
      ("http://spamA.biz", "http://spamB.biz"),
      ("http://spamB.biz", "http://spamA.biz")
    ).toDF("src_url", "dst_url")
    val edges = GraphOps.hostEdges(links, "src_url", "dst_url")
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
    val seeds = Seq("trusted.org").toDF("node")
    val ranks = GraphOps.personalizedPageRank(nodes, edges, seeds,
        iterations = 5)
      .select("node", "rank_fp").as[(String, Long)].collect().toMap
    // seed-reachable hosts hold all the mass; spam ring gets none
    assert(ranks("trusted.org") > 0L && ranks("good.com") > 0L)
    assert(ranks("spama.biz") == 0L && ranks("spamb.biz") == 0L)
    assert(ranks("good.com") > ranks("spama.biz"))
  }

  test("topKWithOffset: exact pages vs full sort at many offsets") {
    // deterministic values with duplicates (ties exercise the tiebreak)
    val df = spark.range(0, 2000)
      .select(col("id"), (xxhash64(col("id")) % 97).as("v"))
    val full = df.orderBy(col("v").desc, col("id").asc)
      .select("id").as[Long].collect().toSeq
    // shallowLimit = 0 pins the bucketed DEEP path; the default-path
    // (TakeOrdered delegate) is checked separately below
    for (offset <- Seq(0L, 1L, 500L, 1995L); k <- Seq(1, 7, 50)) {
      val page = Relational.topKWithOffset(df, col("v"), descending = true,
          tieBreakers = Seq(col("id").asc), k = k, offset = offset,
          buckets = 8, shallowLimit = 0L)
        .orderBy("rn").select("id", "rn").as[(Long, Long)].collect().toSeq
      val want = full.slice(offset.toInt,
        math.min(offset.toInt + k, full.length))
      assert(page.map(_._1) == want, s"offset=$offset k=$k")
      // the attached global rank is exact and contiguous
      assert(page.map(_._2) ==
        ((offset + 1) to (offset + page.length)).toSeq)
      // the shallow TakeOrdered delegate returns the identical page
      val shallow = Relational.topKWithOffset(df, col("v"), descending = true,
          tieBreakers = Seq(col("id").asc), k = k, offset = offset)
        .orderBy("rn").select("id", "rn").as[(Long, Long)].collect().toSeq
      assert(shallow == page, s"shallow!=deep at offset=$offset k=$k")
    }
    // offset beyond the table and k=0 are empty, schema intact
    for (shallow <- Seq(0L, 65536L)) {
      assert(Relational.topKWithOffset(df, col("v"), descending = true,
        tieBreakers = Seq(col("id").asc), k = 10, offset = 5000L,
        shallowLimit = shallow).count() == 0L)
      assert(Relational.topKWithOffset(df, col("v"), descending = true,
        tieBreakers = Seq(col("id").asc), k = 0, offset = 0L,
        shallowLimit = shallow).count() == 0L)
    }
  }

  test("topKWithOffset: nulls, all-equal values, both directions vs exact fallback") {
    // nulls in the order column (sort first asc / last desc), heavy
    // ties, and a constant stripe — bucketed pages must equal the
    // single-window exact form at every probed offset in BOTH
    // directions
    val df = spark.range(0, 1200).select(col("id"),
      when(col("id") % 11 === 0, lit(null).cast("long"))
        .when(col("id") < 300, lit(42L)) // constant stripe
        .otherwise(xxhash64(col("id")) % 13).as("v"))
    for (desc <- Seq(true, false); offset <- Seq(0L, 7L, 600L, 1150L)) {
      val deep = Relational.topKWithOffset(df, col("v"), descending = desc,
          tieBreakers = Seq(col("id").asc), k = 23, offset = offset,
          buckets = 8, shallowLimit = 0L)
        .orderBy("rn").select("id", "rn").as[(Long, Long)].collect().toSeq
      val exact = Relational.topKWithOffset(df, col("v"), descending = desc,
          tieBreakers = Seq(col("id").asc), k = 23, offset = offset,
          buckets = 1, shallowLimit = 0L) // buckets=1 = exact fallback
        .orderBy("rn").select("id", "rn").as[(Long, Long)].collect().toSeq
      assert(deep == exact, s"desc=$desc offset=$offset")
    }
  }

  test("topKWithOffset: string order column degrades to the exact fallback") {
    val df = Seq(("b", 1L), ("a", 2L), ("c", 3L), ("a", 4L))
      .toDF("s", "id")
    val got = Relational.topKWithOffset(df, col("s"), descending = false,
        tieBreakers = Seq(col("id").asc), k = 2, offset = 1L,
        shallowLimit = 0L)
      .orderBy("rn").select("s", "id").as[(String, Long)].collect().toSeq
    assert(got == Seq(("a", 4L), ("b", 1L)))
  }

  test("topKWithOffset: no global single-partition sort in the bucketed plan") {
    val df = spark.range(0, 2000)
      .select(col("id"), (xxhash64(col("id")) % 97).as("v"))
    val page = Relational.topKWithOffset(df, col("v"), descending = true,
      tieBreakers = Seq(col("id").asc), k = 10, offset = 1000L, buckets = 8,
      shallowLimit = 0L)
    val plan = page.queryExecution.executedPlan.toString
    // the sort must run inside bucket partitions (window over __tk_bkt),
    // never behind a single-partition or global range exchange
    assert(!plan.contains("SinglePartition"), plan.linesIterator.take(5).mkString("\n"))
    assert(!plan.contains("rangepartitioning"), "global range sort leaked into the paginated plan")
    assert(plan.contains("__tk_bkt"))
  }

  test("funnelSteps: bounded state — irrelevant events never accumulate") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    // one entity with 100k irrelevant events around 3 step events: the
    // pre-shuffle step filter keeps agg state at 3 rows, and the result
    // is identical to the step events alone
    val noise = spark.range(0, 100000).select(
      lit(1L).as("user_id"),
      expr("timestampadd(SECOND, cast(id as int), timestamp'2024-01-01 00:00:00')").as("ts"),
      lit("ping").as("event_type"))
    val steps = Seq(
      (1L, ts("2024-01-03 10:00:00"), "view"),
      (1L, ts("2024-01-03 11:00:00"), "click"),
      (1L, ts("2024-01-03 12:00:00"), "purchase"),
      // entity 2 has ONLY irrelevant events -> absent from output
      (2L, ts("2024-01-01 00:00:00"), "ping")
    ).toDF("user_id", "ts", "event_type")
    val got = Relational.funnelSteps(noise.union(steps), "user_id", "ts",
        "event_type", Seq("view", "click", "purchase"))
      .as[(Long, Seq[Option[Timestamp]])].collect().toMap
    assert(got.keySet == Set(1L))
    assert(got(1L) == Seq(Some(ts("2024-01-03 10:00:00")),
      Some(ts("2024-01-03 11:00:00")), Some(ts("2024-01-03 12:00:00"))))
  }

  test("funnelSteps: maxEventsPerEntity truncates to the earliest n relevant events") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), "view"),
      (1L, ts("2024-01-01 11:00:00"), "click"),
      (1L, ts("2024-01-01 12:00:00"), "purchase")
    ).toDF("user_id", "ts", "event_type")
    val s3 = Seq("view", "click", "purchase")
    // cap 2: purchase (3rd relevant event) is beyond the window -> lost
    val capped = Relational.funnelSteps(ev, "user_id", "ts", "event_type",
        s3, maxEventsPerEntity = 2)
      .as[(Long, Seq[Option[Timestamp]])].collect().toMap
    assert(capped(1L) == Seq(Some(ts("2024-01-01 10:00:00")),
      Some(ts("2024-01-01 11:00:00")), None))
    // cap >= events: identical to unbounded (monotone truncation)
    val wide = Relational.funnelSteps(ev, "user_id", "ts", "event_type",
        s3, maxEventsPerEntity = 10)
      .as[(Long, Seq[Option[Timestamp]])].collect().toMap
    assert(wide(1L).forall(_.isDefined))
    // the windowed form caps the same way: with a window wider than the
    // whole journey it must agree with funnelSteps at both caps
    def us(t: Timestamp) = t.getTime * 1000L
    def windowed(cap: Int) = Relational.funnelStepsWindowed(ev, "user_id",
        "ts", "event_type", s3, stepWindowSeconds = 86400L,
        maxEventsPerEntity = cap)
      .as[(Long, Seq[Option[Long]])].collect().toMap
    assert(windowed(2)(1L) == Seq(Some(us(ts("2024-01-01 10:00:00"))),
      Some(us(ts("2024-01-01 11:00:00"))), None))
    assert(windowed(10)(1L) == wide(1L).map(_.map(us)))
  }

  test("winsorize: exact discrete bounds, nulls pass through, degenerate groups") {
    import graft.analyze.Stats
    // group g: 1..20 -> 5th pct bound = 1 (cum*100 >= 5*20 at row 1),
    // 95th = 19 (cum 19*100 >= 95*20); group h: all equal
    val df = ((1 to 20).map(i => ("g", Some(i.toDouble))) ++
      Seq(("g", None)) ++ (1 to 5).map(_ => ("h", Some(7.0))))
      .toDF("grp", "v")
    val got = Stats.winsorize(df, "grp", "v", 5, 95)
      .select("grp", "v", "winsorized")
      .as[(String, Option[Double], Option[Double])].collect()
    val g = got.filter(_._1 == "g")
    assert(g.flatMap(_._3).min == 1.0 && g.flatMap(_._3).max == 19.0)
    assert(g.count(_._3.contains(19.0)) == 2) // 19 itself + clamped 20
    assert(g.exists(r => r._2.isEmpty && r._3.isEmpty)) // null untouched
    val h = got.filter(_._1 == "h")
    assert(h.forall(_._3.contains(7.0)))
    // [0, 100] never clamps
    val id = Stats.winsorize(df, "grp", "v", 0, 100)
      .filter(col("v").isNotNull)
      .filter(col("v") =!= col("winsorized")).count()
    assert(id == 0L)
  }

  test("tokenDrift: hand-computed chi-square contributions, zero on matched rates") {
    import graft.analyze.TextAnalysis
    val a = Seq("x x y", "x z").toDF("text")   // a: x=3, y=1, z=1 (N1=5)
    val b = Seq("x y y", "w x x").toDF("text") // b: x=3, y=2, w=1 (N2=6)
    val got = TextAnalysis.tokenDrift(a, b, "text")
      .as[(String, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    def contrib(c1: Long, c2: Long): Double = {
      val d = (c1 * 6 - c2 * 5).toDouble; d * d / (c1 + c2).toDouble
    }
    assert(got.keySet == Set("x", "y", "z", "w"))
    for ((tok, (c1, c2, _)) <- got)
      assert(math.abs(got(tok)._3 - contrib(c1, c2)) < 1e-9, tok)
    assert(got("x") == ((3L, 3L, contrib(3, 3)))) // 18-15=3 -> 9/6
    assert(got("z")._1 == 1L && got("z")._2 == 0L &&
      got("z")._3 == contrib(1, 0))
    // identical corpora: every d = 0
    val same = TextAnalysis.tokenDrift(a, a, "text")
      .as[(String, Long, Long, Double)].collect()
    assert(same.forall(_._4 == 0.0))
  }

  test("invertedIndex: postings capped, per-doc dedup, group-limit plan") {
    import graft.analyze.TextAnalysis
    // "the" in all 12 docs (twice in each — per-doc dedup), "rare" in 2
    val docs = (1 to 12).map(i =>
      (i.toLong, "the the common" + (if (i <= 2) " rare" else "")))
      .toDF("doc_id", "text")
    val idx = TextAnalysis.invertedIndex(docs, "doc_id", "text", maxPostings = 8)
    val m = idx.as[(String, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(m("the") == ((12L, "1,2,3,4,5,6,7,8")))  // df full, postings capped
    assert(m("common")._1 == 12L)
    assert(m("rare") == ((2L, "1,2")))
    // the cap is enforced BEFORE collection: map-side group limit in plan
    val plan = idx.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), "rank-limit not map-side pruned")
  }

  test("rrfFuse: hand-computed fusion, missing-list items, tie to smaller id") {
    import graft.analyze.Similarity
    // query 1: list A ranks items 10,20,30; list B ranks 20,10,40
    val a = Seq((1L, 10L, 1), (1L, 20L, 2), (1L, 30L, 3))
      .toDF("q", "item", "rank")
    val b = Seq((1L, 20L, 1), (1L, 10L, 2), (1L, 40L, 3))
      .toDF("q", "item", "rank")
    val got = Similarity.rrfFuse(Seq(a, b), "q", "item", "rank",
        kConst = 60, topK = 10)
      .orderBy("rank").as[(Long, Long, BigDecimal, Int)].collect().toSeq
    def r(k: Int): BigDecimal = BigDecimal(1.0 / (60.0 + k))
      .setScale(12, BigDecimal.RoundingMode.HALF_UP)
    // 10: 1/61+1/62 == 20: 1/62+1/61 -> exact tie, smaller id first
    assert(got.map(_._2) == Seq(10L, 20L, 30L, 40L))
    assert(got.map(_._4) == Seq(1, 2, 3, 4))
    assert(got(0)._3 == r(1) + r(2))
    assert(got(0)._3 == got(1)._3) // bit-exact tie via decimal sums
    assert(got(2)._3 == r(3))      // item only in list A
  }

  test("snapshotDiff: added/removed/changed/unchanged, null-safe compare") {
    import graft.relational.Relational
    val oldDf = Seq(
      (1L, Some("a"), Some(10)), // unchanged
      (2L, Some("b"), Some(20)), // value change
      (3L, None: Option[String], Some(30)), // null -> value change
      (4L, Some("d"), None: Option[Int])    // removed
    ).toDF("k", "s", "v")
    val newDf = Seq(
      (1L, Some("a"), Some(10)),
      (2L, Some("b"), Some(21)),
      (3L, Some("c"), Some(30)),
      (5L, Some("e"), Some(50)) // added
    ).toDF("k", "s", "v")
    val got = Relational.snapshotDiff(oldDf, newDf, Seq("k"), Seq("s", "v"))
      .select("k", "status").as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "unchanged", 2L -> "changed", 3L -> "changed",
      4L -> "removed", 5L -> "added"))
  }

  test("funnelSteps: maxEventsPerEntity cap is a map-side group limit, not a post-agg slice") {
    // enough rows that the optimizer can't prove maxRows <= cap (a
    // 1-row LocalRelation makes the group-limit rewrite a no-op skip)
    val ev = spark.range(0, 50).select(
      (col("id") % 5).as("user_id"),
      expr("timestampadd(SECOND, cast(id as int), timestamp'2024-01-01 00:00:00')").as("ts"),
      when(col("id") % 2 === 0, "view").otherwise("click").as("event_type"))
    val plan = Relational.funnelSteps(ev, "user_id", "ts", "event_type",
        Seq("view", "click"), maxEventsPerEntity = 5)
      .queryExecution.executedPlan.toString
    // the cap must prune BEFORE the aggregation buffer fills — the
    // rank-limit window shape Spark turns into WindowGroupLimit
    assert(plan.contains("WindowGroupLimit"),
      "cap not enforced map-side:\n" + plan.linesIterator.take(12).mkString("\n"))
  }

  test("winsorize: null group keys are clamped like any other group") {
    import graft.analyze.Stats
    val df = ((1 to 20).map(i => (None: Option[String], Some(i.toDouble))) ++
      Seq((Some("g"), Some(5.0))))
      .toDF("grp", "v")
    val nullG = Stats.winsorize(df, "grp", "v", 5, 95)
      .filter(col("grp").isNull).select("winsorized")
      .as[Double].collect()
    // null group = values 1..20 -> clamped to [1, 19]
    assert(nullG.min == 1.0 && nullG.max == 19.0 && nullG.count(_ == 19.0) == 2)
  }

  test("invertedIndex: duplicate doc rows count once (global pair dedup)") {
    import graft.analyze.TextAnalysis
    val docs = Seq((7L, "foo bar"), (7L, "foo baz"), (8L, "foo"))
      .toDF("doc_id", "text")
    val m = TextAnalysis.invertedIndex(docs, "doc_id", "text", maxPostings = 8)
      .as[(String, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(m("foo") == ((2L, "7,8"))) // doc 7 twice in input, once in index
    assert(m("bar") == ((1L, "7")))
  }

  test("new operators fail fast on output-column clashes") {
    import graft.analyze.Stats
    val d1 = Seq(("a", 1.0, "x")).toDF("g", "v", "winsorized")
    intercept[IllegalArgumentException](Stats.winsorize(d1, "g", "v", 5, 95))
    val d2 = Seq(("a", 1.0, 1L, "x")).toDF("g", "v", "id", "normalized")
    intercept[IllegalArgumentException](
      Stats.quantileNormalize(d2, "g", "v", "id"))
    val d3 = Seq((1L, "s")).toDF("k", "status")
    intercept[IllegalArgumentException](
      Relational.snapshotDiff(d3, d3, Seq("k"), Seq("status")))
  }

  test("topKWithOffset: offsets beyond Int range never take the shallow limit path") {
    val df = spark.range(0, 100).select(col("id"), col("id").as("v"))
    // offset + k > Int.MaxValue with a permissive shallowLimit: must
    // route to the bucketed path (limit() takes an Int) and return the
    // correct EMPTY page, not a wrapped limit
    val got = Relational.topKWithOffset(df, col("v"), descending = true,
      tieBreakers = Seq(col("id").asc), k = 10, offset = 3000000000L,
      shallowLimit = Long.MaxValue)
    assert(got.count() == 0L)
  }

  test("goldenRecord: per-field picks from different rows, null fields skipped") {
    import graft.dedup.Dedup
    // cluster 1: highest-priority row (p=9) has a null phone, so phone
    // must come from the NEXT best row (p=5); name from p=9. Priority
    // tie in cluster 2 resolves to the larger id.
    val rows = Seq(
      (1L, 10L, 9.0, Some("best"), None: Option[String]),
      (1L, 11L, 5.0, Some("mid"), Some("555-5")),
      (1L, 12L, 1.0, Some("low"), Some("555-1")),
      (2L, 20L, 3.0, Some("a"), None: Option[String]),
      (2L, 21L, 3.0, Some("b"), None: Option[String])
    ).toDF("cluster", "id", "prio", "name", "phone")
    val got = Dedup.goldenRecord(rows, "cluster", "prio", "id",
        Seq("name", "phone"))
      .as[(Long, Option[String], Option[String])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == ((Some("best"), Some("555-5"))))
    assert(got(2L) == ((Some("b"), None))) // tie -> larger id; all-null -> null
  }

  test("resampleLocf: grid span, LOCF carry, leading nulls, tie rule") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    // key 1: obs on day 1 at 10:00 and day 3 at 05:00 -> daily grid
    // days 1..3; day-1 00:00 grid point precedes the first obs -> null;
    // day-2 and day-3 carry the day-1 obs until day-3's own (which is
    // AFTER the day-3 00:00 grid point -> still day-1's value there)
    val obs = Seq(
      (1L, ts("2024-01-01 10:00:00"), 10.0, 100L),
      (1L, ts("2024-01-03 05:00:00"), 30.0, 300L),
      // key 2: two obs at the SAME timestamp -> larger tiebreak wins
      (2L, ts("2024-01-01 00:00:00"), 1.0, 1L),
      (2L, ts("2024-01-01 00:00:00"), 2.0, 2L)
    ).toDF("k", "ts", "v", "id")
    val got = Relational.resampleLocf(obs, "k", "ts", 86400L, "id",
        Seq("v", "id"))
      .select(col("k"), unix_timestamp(col("grid_ts")).as("g"),
        col("matched_v"), col("matched_id"))
      .as[(Long, Long, Option[Double], Option[Long])].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    val day = 86400L
    val d1 = ts("2024-01-01 00:00:00").getTime / 1000
    assert(got.keySet == Set((1L, d1), (1L, d1 + day), (1L, d1 + 2 * day),
      (2L, d1)))
    assert(got((1L, d1)) == ((None, None)))              // before first obs
    assert(got((1L, d1 + day)) == ((Some(10.0), Some(100L))))   // carried
    assert(got((1L, d1 + 2 * day)) == ((Some(10.0), Some(100L)))) // day-3 obs is at 05:00, after the grid instant
    assert(got((2L, d1)) == ((Some(2.0), Some(2L))))     // equal-ts tie -> larger id
  }

  test("quantileNormalize: hand-computed midpoint rank mapping") {
    import graft.analyze.Stats
    // A = [1,2,3,4] (n=4), B = [100,200] (n=2); global order
    // 1,2,3,4,100,200 (N=6). Midpoint mapping tr = ((2r-1)N + 2n-1)/(2n):
    // A -> ranks 1,3,4,6 -> values 1,3,4,200; B -> ranks 2,5 -> 2,100
    val df = Seq(("A", 1.0, 1L), ("A", 2.0, 2L), ("A", 3.0, 3L),
      ("A", 4.0, 4L), ("B", 100.0, 5L), ("B", 200.0, 6L))
      .toDF("g", "v", "id")
    val got = Stats.quantileNormalize(df, "g", "v", "id")
      .select("id", "normalized").as[(Long, Double)].collect().toMap
    assert(got == Map(1L -> 1.0, 2L -> 3.0, 3L -> 4.0, 4L -> 200.0,
      5L -> 2.0, 6L -> 100.0))
    // a 1-row group lands on the global MEDIAN-side rank, not an extreme
    val df2 = df.union(Seq(("C", 9999.0, 7L)).toDF("g", "v", "id"))
    val c = Stats.quantileNormalize(df2, "g", "v", "id")
      .filter(col("g") === "C").select("normalized").as[Double].head()
    // N=7, r=1, n=1: tr = (7+1)/2 = 4 -> global value 4.0
    assert(c == 4.0)
  }

  test("quantileNormalize: tie-heavy randomized input vs Scala reference") {
    import graft.analyze.Stats
    // duplicate values within and across groups; ids are the only
    // total-order tiebreak — the operator must match a sequential
    // reference under any partitioning
    val rows: Seq[(String, Double, Long)] = (1L to 400L).map { i =>
      (s"g${i % 5}", (i * 7919 % 23).toDouble, i)
    }
    val expected: Map[Long, Double] = {
      val n = rows.size.toLong
      val globalSorted = rows.sortBy(r => (r._2, r._3)).map(_._2)
      rows.groupBy(_._1).flatMap { case (_, g) =>
        val sorted = g.sortBy(r => (r._2, r._3))
        val gn = sorted.size.toLong
        sorted.zipWithIndex.map { case ((_, _, id), i) =>
          val r = i + 1L
          val tr = ((2 * r - 1) * n + 2 * gn - 1) / (2 * gn)
          id -> globalSorted((tr - 1).toInt)
        }
      }
    }
    val got = Stats.quantileNormalize(
        rows.toDF("g", "v", "id").repartition(7), "g", "v", "id")
      .select("id", "normalized").as[(Long, Double)].collect().toMap
    assert(got == expected)
  }

  test("equiDepthHistogram: near-equal buckets, earlier buckets take extras, spans") {
    import graft.analyze.Stats
    // 10 rows into 4 buckets -> sizes 3,3,2,2 (SQL ntile); values 1..10
    val df = (1 to 10).map(i => ("g", i.toDouble, i.toLong))
      .toDF("grp", "v", "id")
    val got = Stats.equiDepthHistogram(df, "grp", "v", "id", 4)
      .orderBy("bucket")
      .select("bucket", "n", "lo", "hi")
      .as[(Int, Long, Double, Double)].collect().toSeq
    assert(got == Seq((1, 3L, 1.0, 3.0), (2, 3L, 4.0, 6.0),
      (3, 2L, 7.0, 8.0), (4, 2L, 9.0, 10.0)))
    // nulls excluded; fewer rows than buckets -> one row per bucket
    val sparse = Seq(("g", Some(5.0), 1L), ("g", None, 2L))
      .toDF("grp", "v", "id")
    val s = Stats.equiDepthHistogram(sparse, "grp", "v", "id", 4).collect()
    assert(s.length == 1)
  }

  test("topKWithOthers: rollup row, tie determinism, no-others group") {
    val ev = Seq(
      ("a", "x"), ("a", "x"), ("a", "y"), ("a", "y"), ("a", "z"), ("a", "w"),
      ("b", "only")) // b has < k dims -> no (other) row
      .toDF("g", "d")
    val got = Relational.topKWithOthers(ev, "g", "d", count(lit(1)), k = 2)
      .orderBy("g", "rank", "d")
      .as[(String, String, Long, Int)].collect().toSeq
    // a: x(2) and y(2) tie at metric 2 -> dim asc picks x rank 1,
    // y rank 2; z+w roll into (other) with metric 2 at rank 3
    assert(got == Seq(
      ("a", "x", 2L, 1), ("a", "y", 2L, 2), ("a", "(other)", 2L, 3),
      ("b", "only", 1L, 1)))
  }

  test("round-13 operators are partition-count independent") {
    import graft.analyze.{Stats, TextAnalysis}
    import graft.dedup.Dedup
    // determinism under ANY partitioning is the replay guarantee every
    // oracle rests on; run each new operator at 1 vs 13 partitions and
    // require identical output sets
    val docs = (1L to 300L)
      .map(i => (i, s"tok${i % 7} tok${i % 31} shared", s"g${i % 4}", i % 9 + 1))
      .toDF("id", "text", "grp", "w")
    def same(f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit = {
      val a = f(docs.repartition(1)).collect().map(_.toString).sorted.toSeq
      val b = f(docs.repartition(13)).collect().map(_.toString).sorted.toSeq
      assert(a == b)
    }
    same(d => TextAnalysis.invertedIndex(d, "id", "text", 4))
    same(d => TextAnalysis.tokenDrift(d.filter(col("id") % 2 === 0),
      d.filter(col("id") % 2 === 1), "text"))
    same(d => TextAnalysis.temperatureSampleByTokens(
      d.withColumn("n_tok", col("id") % 17 + 1), "id", "grp", "n_tok", 3, 500L))
    same(d => Stats.winsorize(d.withColumn("v", (col("id") % 43).cast("double")),
      "grp", "v", 10, 90))
    same(d => Stats.quantileNormalize(
      d.withColumn("v", (col("id") % 43).cast("double")), "grp", "v", "id"))
    same(d => Dedup.goldenRecord(
      d.withColumn("cluster", col("id") % 10)
        .withColumn("nm", when(col("id") % 3 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("n"), col("id")))),
      "cluster", "w", "id", Seq("nm", "grp")))
    same(d => Relational.topKWithOffset(d, col("w"), descending = true,
      tieBreakers = Seq(col("id").asc), k = 20, offset = 100,
      buckets = 8, shallowLimit = 0L))
  }

  test("round-13 operator edges: empty drift side, null URLs, empty compare set") {
    import graft.analyze.TextAnalysis
    // drift vs an EMPTY corpus: every token one-sided, d = c1*0 - 0*N1
    // = 0 -> all contributions 0 (degenerate but defined, no NPE/div0)
    val a = Seq("x y", "x").toDF("text")
    val drift = TextAnalysis.tokenDrift(a, a.limit(0), "text")
      .as[(String, Long, Long, Double)].collect()
    assert(drift.length == 2 && drift.forall(r => r._3 == 0L && r._4 == 0.0))
    // null/blank URLs drop out of the host graph silently
    val links = Seq((Some("http://a.com/x"), Some("http://b.com")),
      (None: Option[String], Some("http://b.com")),
      (Some("http://a.com"), None: Option[String]))
      .toDF("src_url", "dst_url")
    val edges = GraphOps.hostEdges(links, "src_url", "dst_url")
      .as[(String, String, Long)].collect().toSeq
    assert(edges == Seq(("a.com", "b.com", 1L)))
    // snapshotDiff with an EMPTY compare set: only membership changes
    val o = Seq((1L, "x"), (2L, "y")).toDF("k", "v")
    val n = Seq((2L, "CHANGED"), (3L, "z")).toDF("k", "v")
    val st = Relational.snapshotDiff(o, n, Seq("k"), Seq.empty)
      .select("k", "status").as[(Long, String)].collect().toMap
    assert(st == Map(1L -> "removed", 2L -> "unchanged", 3L -> "added"))
  }

  test("temperatureSampleByTokens: exact reference keep-set over token masses") {
    def h32(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16)
    }
    // strata with very different token distributions: "big" = many short
    // docs, "fat" = few huge docs (similar token mass), "rare" = tiny
    val rows = ((1L to 200L).map(i => (i, "big", 10L)) ++
      (201L to 205L).map(i => (i, "fat", 400L)) ++
      (206L to 210L).map(i => (i, "rare", 8L)) ++
      Seq((211L, "big", 0L))) // zero-token row: excluded from mass AND keep
    def reference(q: Int, target: Long): Set[Long] = {
      val live = rows.filter(_._3 > 0)
      val byS = live.groupBy(_._2).map { case (s, rs) => s -> rs.map(_._3).sum }
      def w(m: Long): java.math.BigDecimal = {
        val md = m.toDouble
        val sq = math.sqrt(md); val qq = math.sqrt(sq)
        val v = q match {
          case 0 => 1.0; case 1 => qq; case 2 => sq; case 3 => sq * qq
          case 4 => md
        }
        new java.math.BigDecimal(v).setScale(6, java.math.RoundingMode.HALF_UP)
      }
      val tot = byS.values.map(w).reduce(_.add(_)).doubleValue()
      val p = byS.map { case (s, m) =>
        s -> math.min(1.0, w(m).doubleValue() * target.toDouble / tot / m.toDouble)
      }
      live.filter { case (id, s, _) => h32(id).toDouble / 4294967296.0 < p(s) }
        .map(_._1).toSet
    }
    for (q <- Seq(0, 1, 2, 3, 4); target <- Seq(0L, 1000L, 1000000L)) {
      val got = TextAnalysis.temperatureSampleByTokens(
          rows.toDF("id", "s", "n_tok"), "id", "s", "n_tok", q, target)
        .select("id").as[Long].collect()
      assert(got.length == got.toSet.size)
      assert(got.toSet == reference(q, target), s"q=$q target=$target")
    }
    // token budgeting ≠ doc budgeting: at α=1 "fat" (5 docs, 2000 tokens)
    // carries ~2000/(2000+2000+40) of the budget — the doc-count variant
    // would give those 5 docs ~5/210 instead
    val kept = TextAnalysis.temperatureSampleByTokens(
        rows.toDF("id", "s", "n_tok"), "id", "s", "n_tok", 4, 2000L)
      .groupBy("s").agg(sum("n_tok").as("tok")).as[(String, Long)]
      .collect().toMap
    assert(kept.getOrElse("fat", 0L) > kept.getOrElse("rare", 0L))
    // empty input: empty result, no NPE
    assert(TextAnalysis.temperatureSampleByTokens(
      rows.toDF("id", "s", "n_tok").limit(0), "id", "s", "n_tok", 2, 100L)
      .count() == 0L)
  }
}
