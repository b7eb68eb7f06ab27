package graft

import org.apache.spark.sql.functions._

/** Round-17 specs: the ADVICE r16 fixes — star-CC convergence guard +
  * self-loop-singleton parity, incrementalComponents loud
  * non-convergence, writeCompacted uniform sampling + unique temp
  * path, and the severable exact branch in rollingReachFromDaily
  * (state-only production read path). */
/** JVM-wide capture for the drifted-batch job test: send closures are
  * serialized into task closures even in local mode, so a captured
  * local list would be a per-task COPY (same pattern as
  * [[JobSpecSendCounter]]). */
object Round17SendCapture {
  val bodies = new java.util.concurrent.CopyOnWriteArrayList[String]()
}

class Round17Spec extends SparkSpec {
  import spark.implicits._

  // ---- rolling reach: severable exact branch + state-only read ----

  private def reachEvents = {
    val rows = for {
      d <- 0 until 10
      u <- 0 until (20 + d * 7)
    } yield (s"u${(u * 131 + d * 17) % 90}",
      new java.sql.Timestamp(1704067200000L + d * 86400000L + u * 1000L))
    rows.toDF("user_id", "ts")
  }

  test("rollingReachFromDaily(includeExact=false): sketch columns identical, no exact column") {
    val full = graft.analyze.KmvAlgebra
      .rollingReachFromDaily(reachEvents, "user_id", "ts", windowDays = 3, k = 16)
    val sketchOnly = graft.analyze.KmvAlgebra
      .rollingReachFromDaily(reachEvents, "user_id", "ts", windowDays = 3,
        k = 16, includeExact = false)
    assert(!sketchOnly.columns.contains("exact_reach"))
    val a = full.select("day", "n_sketch", "kth_min", "est_reach")
      .orderBy("day").collect().toSeq
    val b = sketchOnly.select("day", "n_sketch", "kth_min", "est_reach")
      .orderBy("day").collect().toSeq
    assert(a == b, "sketch timeline must be invariant to the exact anchor")
  }

  test("rollingReachFromStates: pure state read — plan never touches the fact relation") {
    val dir = java.nio.file.Files.createTempDirectory("graft-reach").toString
    val factPath = s"$dir/facts"
    val statePath = s"$dir/daily_states"
    reachEvents.write.mode("overwrite").parquet(factPath)
    val facts = spark.read.parquet(factPath)
    // nightly writer: the only fact-scale stage
    graft.analyze.KmvAlgebra.dailyReachStates(facts, "user_id", "ts", k = 16)
      .write.mode("overwrite").parquet(statePath)
    val states = spark.read.parquet(statePath)
    val timeline = graft.analyze.KmvAlgebra
      .rollingReachFromStates(states, windowDays = 3, k = 16)
    // the production read's plan scans ONLY the state table
    val scans = timeline.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
    }
    assert(scans.nonEmpty)
    val planStr = timeline.queryExecution.optimizedPlan.toString
    assert(!planStr.contains("facts"),
      s"state-only read must not reference the fact relation:\n$planStr")
    // and it reproduces the composed form exactly
    val composed = graft.analyze.KmvAlgebra
      .rollingReachFromDaily(facts, "user_id", "ts", windowDays = 3,
        k = 16, includeExact = false)
      .orderBy("day").collect().toSeq
    assert(timeline.orderBy("day").collect().toSeq == composed)
  }

  // ---- CC: self-loop singletons + convergence guard ----

  test("connectedComponents: self-loop-only nodes emitted as singletons") {
    import graft.dedup.Dedup
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 7L), (9L, 9L), (3L, 3L))
      .toDF("a", "b")
    val got = Dedup.connectedComponents(pairs, "a", "b")
      .as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (9L, 9L)),
      s"got=$got")
  }

  test("connectedComponents: non-convergence throws instead of returning split clusters") {
    import graft.dedup.Dedup
    val chain = (1L until 40L).map(i => (i, i + 1)).toDF("a", "b")
    val e = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(chain, "a", "b", maxIter = 1).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("incrementalComponents: component-chaining delta beyond maxIter fails loudly") {
    import graft.dedup.Dedup
    // 12 stored components {10i, 10i+1}; delta daisy-chains all of
    // them — merged diameter ~3*12 hops, far past maxIter=3 rounds
    val stored = (0L until 12L)
      .flatMap(i => Seq((10 * i, 10 * i), (10 * i + 1, 10 * i)))
      .toDF("id", "cluster_id")
    val delta = (0L until 11L).map(i => (10 * i + 1, 10 * (i + 1)))
      .toDF("a", "b")
    val e = intercept[IllegalArgumentException] {
      Dedup.incrementalComponents(stored, delta, "a", "b", maxIter = 3)
        .collect()
    }
    assert(e.getMessage.contains("did not converge"))
    // with enough rounds the same refresh equals the full rebuild
    // (merged diameter ~2 per chained component: needs > default 20)
    val got = Dedup.incrementalComponents(stored, delta, "a", "b",
        maxIter = 60)
      .as[(Long, Long)].collect().toSet
    assert(got.nonEmpty && got.forall(_._2 == 0L),
      s"daisy-chained delta must collapse everything to min id 0: $got")
  }

  // ---- schema drift: widening, union, report, changelog source ----

  test("SchemaDrift.widen: lattice covers integrals, decimals, temporal, flips") {
    import graft.source.SchemaDrift.widen
    import org.apache.spark.sql.types._
    assert(widen(IntegerType, LongType) == LongType)
    assert(widen(ByteType, ShortType) == ShortType)
    assert(widen(FloatType, DoubleType) == DoubleType)
    assert(widen(LongType, DoubleType) == DoubleType)
    assert(widen(DecimalType(10, 2), DecimalType(12, 4)) == DecimalType(12, 4))
    assert(widen(LongType, DecimalType(10, 2)) == DecimalType(22, 2))
    assert(widen(DateType, TimestampType) == TimestampType)
    assert(widen(NullType, IntegerType) == IntegerType)
    assert(widen(IntegerType, StringType) == StringType)   // type flip
    assert(widen(BooleanType, IntegerType) == StringType)  // disagreement
  }

  test("DriftTolerantChangelogSource: mixed-schema batch dirs union by name; bookmark filter; report") {
    val root = java.nio.file.Files.createTempDirectory("graft-drift").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    Seq((1L, "m1", ts("2024-01-01 10:00:00")))
      .toDF("id", "mobile", "_commit_timestamp")
      .write.parquet(s"$root/log/batch=0001")
    Seq((2L, 77, ts("2024-01-02 10:00:00")))
      .toDF("id", "reward", "_commit_timestamp")   // mobile gone, reward new
      .write.parquet(s"$root/log/batch=0002")
    val src = new graft.source.DriftTolerantChangelogSource(spark, s"$root/log")
    val all = src.since(None).orderBy("id")
    assert(all.columns.toSeq == Seq("id", "mobile", "_commit_timestamp", "reward"))
    val rows = all.collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[String]("mobile") == "m1" && rows(0).isNullAt(3))
    assert(rows(1).getAs[Int]("reward") == 77 &&
      rows(1).getAs[String]("mobile") == null)
    assert(src.since(Some(ts("2024-01-01 10:00:00"))).count() == 1)
    val rep = graft.source.SchemaDrift.driftReport(spark, src.batchSchemas)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSet
    assert(rep == Set((1, "reward", "added"), (1, "mobile", "removed")))
    // a batch that DROPPED the commit-ts column: bookmark reads must
    // fail loudly (null-filled rows would silently miss every read)
    Seq((9L, 1)).toDF("id", "x").write.parquet(s"$root/log/batch=0003")
    val src2 = new graft.source.DriftTolerantChangelogSource(spark, s"$root/log")
    assert(src2.since(None).count() == 3) // full read still fine
    val e = intercept[IllegalArgumentException] {
      src2.since(Some(ts("2024-01-01 10:00:00"))).count()
    }
    assert(e.getMessage.contains("_commit_timestamp"))
  }

  test("UserProfileJob survives a drifted batch (driftTolerant=true)") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val root = java.nio.file.Files.createTempDirectory("graft-driftjob").toString
    // batch 1: mobile era; batch 2: the producer dropped mobile and
    // started sending reward — the nightly job must keep running
    Seq(("1", "9876543210", "insert", ts("2024-01-01 10:00:00"), 1L))
      .toDF("customer_id", "mobile", "_change_type", "_commit_timestamp",
        "_commit_version")
      .write.parquet(s"$root/changelog/batch=0001")
    Seq(("2", "50.5", "insert", ts("2024-01-02 10:00:00"), 2L))
      .toDF("customer_id", "reward", "_change_type", "_commit_timestamp",
        "_commit_version")
      .write.parquet(s"$root/changelog/batch=0002")
    Seq(("mobile", true), ("reward", true))
      .toDF("property_name", "clevertap").write.parquet(s"$root/mapping")
    val conf = graft.jobs.UserProfileJob.Conf(
      jobName = "drift_test", changelogPath = s"$root/changelog",
      bookmarkPath = s"$root/bookmarks", keyCol = "customer_id",
      tsCol = "_commit_timestamp", tiebreakCol = "_commit_version",
      platform = "clevertap", mappingPath = s"$root/mapping",
      typeMap = Map("mobile" -> "mobile_sanity", "reward" -> "modify_reward"),
      swapKeyMap = Map("customer_id" -> "identity_id"),
      driftTolerant = true)
    Round17SendCapture.bodies.clear()
    val res = graft.jobs.UserProfileJob.run(spark, conf,
      b => { b.foreach(Round17SendCapture.bodies.add); (200, "ok") })
    assert(res.validRows == 2 && res.invalidRows == 0)
    val body = Round17SendCapture.bodies.toArray.map(_.toString).mkString
    assert(body.contains(""""identity":"1"""") && body.contains(""""mobile":"9876543210""""))
    assert(body.contains(""""identity":"2"""") && body.contains(""""reward":"5050""""))
    // the flag is load-bearing: a PLAIN parquet read of the same
    // mixed-schema root silently LOSES drifted columns (partition
    // discovery plus first-file schema — the failure mode the
    // drift-tolerant read exists to prevent)
    val rigidCols = spark.read.parquet(s"$root/changelog").columns.toSet
    assert(!(rigidCols.contains("mobile") && rigidCols.contains("reward")),
      s"expected the rigid read to drop a drifted column, got $rigidCols")
  }

  test("UserProfileJob driftTolerant: FIRST (bookmark-less) run over a batch missing tsCol fails loudly, before any egress") {
    // ADVICE r18: since(None) needs no tsCol to read, so a first run over
    // a batch lacking it used to egress null-timestamp rows and exclude
    // them from the new bookmark — the failure only fired on run two.
    // requiredCols now carries tsCol: the job must refuse up front.
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val root = java.nio.file.Files.createTempDirectory("graft-driftts").toString
    Seq(("1", "9876543210", "insert", 1L))
      .toDF("customer_id", "mobile", "_change_type", "_commit_version")
      .write.parquet(s"$root/changelog/batch=0001") // no _commit_timestamp
    Seq(("mobile", true))
      .toDF("property_name", "clevertap").write.parquet(s"$root/mapping")
    val conf = graft.jobs.UserProfileJob.Conf(
      jobName = "drift_ts_test", changelogPath = s"$root/changelog",
      bookmarkPath = s"$root/bookmarks", keyCol = "customer_id",
      tsCol = "_commit_timestamp", tiebreakCol = "_commit_version",
      platform = "clevertap", mappingPath = s"$root/mapping",
      typeMap = Map("mobile" -> "mobile_sanity"),
      swapKeyMap = Map("customer_id" -> "identity_id"),
      driftTolerant = true)
    // a send would run in a task, so it records through the JVM-static
    // holder (a captured var is a per-task copy, and not thread-safe)
    Round17SendCapture.bodies.clear()
    val e = intercept[IllegalArgumentException] {
      graft.jobs.UserProfileJob.run(spark, conf,
        b => { b.foreach(Round17SendCapture.bodies.add); (200, "ok") })
    }
    assert(e.getMessage.contains("_commit_timestamp"))
    assert(Round17SendCapture.bodies.isEmpty, "no batch may be egressed before the guard fires")
  }

  // ---- malformed-record quarantine (PERMISSIVE ingress) ----

  test("QuarantinedRead.csv: malformed rows quarantined with raw line; clean rows unaffected; counts ride one action") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft-quar").toString
    val csv = s"$dir/in.csv"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(csv),
      "id,score,name\n" +
        "1,10,alpha\n" +
        "2,notanint,beta\n" +   // untypeable field
        "3,30,gamma\n" +
        "4,40\n")               // token-count mismatch
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("score", IntegerType),
      StructField("name", StringType)))
    val obs = org.apache.spark.sql.Observation()
    val q = graft.source.QuarantinedRead.csv(spark, csv, schema, obs = Some(obs))
    // single egress action: write clean rows; counters ride it
    q.clean.write.mode("overwrite").parquet(s"$dir/clean")
    assert(obs.get("records_clean") == 2L)
    assert(obs.get("records_quarantined") == 2L)
    val clean = spark.read.parquet(s"$dir/clean")
      .orderBy("id").collect()
    assert(clean.map(_.getLong(0)).toSeq == Seq(1L, 3L))
    assert(clean.map(_.getString(2)).toSeq == Seq("alpha", "gamma"))
    // quarantine preserves the raw malformed line — never silently drops
    val quar = q.quarantine.collect()
    assert(quar.length == 2)
    val raws = quar.map(_.getAs[String]("_corrupt_record")).toSet
    assert(raws == Set("2,notanint,beta", "4,40"))
  }

  test("QuarantinedRead.json: invalid lines quarantined; valid parsed") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft-quarj").toString
    val path = s"$dir/in.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      """{"id":1,"name":"a"}""" + "\n" +
        """{nope""" + "\n" +
        """{"id":2,"name":"b"}""" + "\n")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType)))
    val q = graft.source.QuarantinedRead.json(spark, path, schema)
    assert(q.clean.orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
    val bad = q.quarantine.collect()
    assert(bad.length == 1 && bad.head.getAs[String]("_corrupt_record") == "{nope")
  }

  test("jsonStream: continuous quarantine — clean and malformed split per micro-batch, nothing dropped") {
    import org.apache.spark.sql.types._
    val root = java.nio.file.Files.createTempDirectory("graft-qstream").toString
    val src = s"$root/src"; java.nio.file.Files.createDirectory(java.nio.file.Paths.get(src))
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$src/b1.json"),
      """{"id":1,"name":"a"}""" + "\n" + """{broken""" + "\n")
    val q = graft.source.QuarantinedRead.jsonStream(spark, src, schema,
      s"$root/clean", s"$root/quar", s"$root/ckpt")
    try {
      q.processAllAvailable()
      // second micro-batch arrives later: appends, never rewrites
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$src/b2.json"),
        """{"id":2,"name":"b"}""" + "\n" + """also broken""" + "\n")
      q.processAllAvailable()
    } finally q.stop()
    val clean = spark.read.parquet(s"$root/clean").orderBy("id").collect()
    assert(clean.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    // both sides carry the batch id as a discovered partition column
    // (the per-batch overwrite directories that make replays idempotent)
    assert(clean.map(_.getAs[Int]("batch_id")).distinct.length == 2,
      "clean rows must carry their micro-batch id")
    val quar = spark.read.parquet(s"$root/quar").collect()
    assert(quar.map(_.getAs[String]("_corrupt_record")).toSet ==
      Set("{broken", "also broken"))
    assert(quar.map(_.getAs[Int]("batch_id")).distinct.length == 2,
      "malformed rows must carry their micro-batch id")
  }

  test("jsonStream: a legacy flat-layout sink root fails fast with the migration message") {
    import org.apache.spark.sql.types._
    val root = java.nio.file.Files.createTempDirectory("graft-qstream-legacy").toString
    val src = s"$root/src"; java.nio.file.Files.createDirectory(java.nio.file.Paths.get(src))
    val schema = StructType(Seq(StructField("id", LongType)))
    // pre-batch_id revisions wrote parquet files directly under the root
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(s"$root/clean"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/clean/part-00000.parquet"), "stale")
    val e = intercept[IllegalArgumentException] {
      graft.source.QuarantinedRead.jsonStream(spark, src, schema,
        s"$root/clean", s"$root/quar", s"$root/ckpt")
    }
    assert(e.getMessage.contains("legacy"), e.getMessage)
    assert(e.getMessage.contains("batch_id"), e.getMessage)
    // a batch_id-layout root (plus marker files) passes the guard
    val root2 = java.nio.file.Files.createTempDirectory("graft-qstream-ok").toString
    val src2 = s"$root2/src"; java.nio.file.Files.createDirectory(java.nio.file.Paths.get(src2))
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$root2/clean/batch_id=0"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root2/clean/_SUCCESS"), "")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$src2/b1.json"),
      """{"id":1}""" + "\n")
    val q = graft.source.QuarantinedRead.jsonStream(spark, src2, schema,
      s"$root2/clean", s"$root2/quar", s"$root2/ckpt")
    try q.processAllAvailable() finally q.stop()
    assert(spark.read.parquet(s"$root2/clean").count() == 1)
  }

  // ---- nightly composite: re-key collision state merge ----

  test("reduceAggState: collapsing rekeyed state rows equals state over rekeyed rows") {
    import graft.relational.Relational
    val rows = Seq(("a", 10L), ("a", 20L), ("b", 5L), ("c", 7L), ("d", 1L))
      .toDF("k", "v")
    // rekey map merges a,b -> x and keeps c,d apart (the incremental-CC
    // label refresh shape: two old clusters collide on one new label)
    val rekeyMap = Map("a" -> "x", "b" -> "x", "c" -> "y", "d" -> "d")
    val rk = udf((k: String) => rekeyMap(k))
    val viaStates = Relational.reduceAggState(
      Relational.aggState(rows, Seq("k"), "v")
        .withColumn("k2", rk(col("k"))).drop("k")
        .withColumnRenamed("k2", "k"),
      Seq("k"))
    val direct = Relational.aggState(rows.withColumn("k", rk(col("k"))),
      Seq("k"), "v")
    val a = viaStates.orderBy("k").collect().map(_.toSeq).toSeq
    val b = direct.orderBy("k").collect().map(_.toSeq).toSeq
    assert(a == b, s"viaStates=$a direct=$b")
  }

  test("q221 composite fixture exercises every interaction at sf0.001") {
    // the gate passes trivially if the delta never merges stored
    // clusters — pin the fixture's interaction counts so a testdata
    // regeneration that kills them is caught loudly
    val dir = "/root/testdata/sf0.001"
    val docs = graft.Tables.load(spark, dir, "documents")
    import graft.dedup.Dedup
    val ntext = trim(regexp_replace(lower(col("text")), "\\s+", " "))
    val wSz = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_chars"), col("doc_id"))
    val bridges = docs.filter(pmod(col("doc_id"), lit(11)) === 3)
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
    assert(bridges.count() > 0, "no bridges at sf0.001")
    val aug = docs.select(col("doc_id"), col("text")).unionByName(bridges)
    val pairs = Dedup.ngramJaccardPairs(aug, "doc_id", "text",
      shingleN = 3, threshold = 0.3)
    val deltaPairs = pairs.filter(col("id_a") >= 1000000L ||
      col("id_b") >= 1000000L)
    assert(deltaPairs.count() > 0, "bridges bound nothing: no delta pairs")
    // each surviving bridge must bind BOTH its halves — i.e. at least
    // one bridge has >= 2 distinct history neighbors => a cluster merge
    val merges = deltaPairs
      .select(greatest(col("id_a"), col("id_b")).as("bridge"),
        least(col("id_a"), col("id_b")).as("doc"))
      .filter(col("bridge") >= 1000000L && col("doc") < 1000000L)
      .groupBy("bridge").agg(countDistinct(col("doc")).as("nh"))
      .filter(col("nh") >= 2)
    assert(merges.count() > 0,
      "no bridge bound two history docs: cluster-merge interaction dead")
  }

  // ---- unigram-LM tokenizer (q223) ----

  test("unigramTrain: per-round Viterbi cost monotone non-increasing; converges to the frozen fixture") {
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val (vocab, rounds) = graft.analyze.TextAnalysis
      .unigramTrainWithStats(docs, "text", vocabSize = 64,
        maxPieceLen = 4, emRounds = 4)
    // hard-EM monotonicity on PINNED integer milli-nats: E-step
    // minimizes under the current costs, M-step is Gibbs-optimal up to
    // the +-0.5 milli rounding per piece type — on this corpus the
    // sequence is exactly non-increasing (round 1 includes the
    // improper overlapping-substring seed and still dominates)
    rounds.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a, s"Viterbi cost increased: $rounds")
    }
    assert(rounds == Seq(342635053L, 315565464L, 315565464L, 315565464L),
      s"training no longer reproduces the frozen fixture's path: $rounds")
    assert(vocab == graft.analyze.UnigramFixture.vocab,
      "converged vocabulary drifted from UnigramFixture — refreeze or " +
        "fix; the trained vocabulary as UnigramFixture.vocab entries:\n" +
        vocab.map { case (p, c, m) => s"""    ("$p", ${c}L, ${m}L),""" }
          .mkString("\n"))
  }

  test("unigramSegment: frozen-fixture segmentations, UNK fallback, tie-breaks") {
    import graft.analyze.UnigramFixture._
    import graft.functions.TextFunctions.unigramSegment
    def seg(w: String, p: Seq[String] = pieces, c: Seq[Long] = costs,
            u: Long = unkCost): Seq[String] =
      Seq(w).toDF("w")
        .select(unigramSegment(col("w"), p, c, u, maxPieceLen).as("s"))
        .head.getSeq[String](0).toSeq
    // hand-verified optima under the frozen model
    assert(seg("scan") == Seq("scan"))
    assert(seg("window") == Seq("w", "indo", "w"))
    assert(seg("column") == Seq("co", "lumn"))
    assert(seg("merge") == Seq("mer", "g", "e"))
    // 'z' is outside the corpus charset, 'n' was dropped by EM — both
    // ride the UNK single-char fallback, never fail
    assert(seg("zebra") == Seq("z", "e", "b", "r", "a"))
    assert(seg("partition") == Seq("par", "t", "i", "t", "i", "o", "n"))
    assert(seg("") == Seq.empty)
    // tie-break: equal total cost -> fewer pieces wins
    assert(seg("ab", Seq("ab", "a", "b"), Seq(10L, 5L, 5L), 20000L)
      == Seq("ab"))
  }

  test("q223 per-doc totals equal a driver-side Viterbi replay at sf0.001") {
    import graft.analyze.UnigramFixture
    val vocabMap = UnigramFixture.vocab.map(v => v._1 -> v._3).toMap
    def viterbi(w: String): Long = { // combined metric, forward only
      val n = w.length
      val INF = Long.MaxValue / 4
      val best = Array.fill(n + 1)(INF); best(0) = 0L
      for (j <- 1 to n; i <- math.max(0, j - UnigramFixture.maxPieceLen) until j) {
        val p = w.substring(i, j)
        val c = vocabMap.get(p).orElse(
          if (j - i == 1) Some(UnigramFixture.unkCost) else None)
        c.foreach { cc =>
          if (best(i) < INF && best(i) + 16 * cc + 1 < best(j))
            best(j) = best(i) + 16 * cc + 1
        }
      }
      best(n)
    }
    val got = SparkEntry.queries("q223_unigram_segment")(
      spark, "/root/testdata/sf0.001").collect()
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    got.take(50).foreach { r =>
      val words = docs(r.getLong(0)).toLowerCase
        .trim.split("\\s+").filter(_.nonEmpty)
      assert(r.getAs[Long]("total_cost") ==
        words.map(w => viterbi(w) / 16).sum)
      assert(r.getAs[Long]("n_subwords") ==
        words.map(w => viterbi(w) % 16).sum)
      assert(r.getAs[Long]("n_tokens") == words.length.toLong)
    }
  }

  // ---- post-sweep fuzz (test-only): unigram DP + widen lattice ----

  test("unigramSegment fuzz: optimal vs brute-force enumeration across random vocabularies") {
    import graft.functions.TextFunctions.unigramSegment
    val rnd = new scala.util.Random(1742)
    val alphabet = "abcd"
    def allSegs(w: String, pieces: Set[String]): Seq[Seq[String]] =
      if (w.isEmpty) Seq(Seq.empty)
      else (1 to math.min(4, w.length)).flatMap { l =>
        val h = w.take(l)
        if (pieces.contains(h) || l == 1)
          allSegs(w.drop(l), pieces).map(h +: _)
        else Seq.empty
      }
    for (trial <- 0 until 25) {
      // random vocabulary: all single chars sometimes missing (UNK
      // path), a handful of random multi-char pieces
      val singles = alphabet.map(_.toString).filter(_ => rnd.nextBoolean())
      val multis = (0 until 6).map(_ =>
        (0 until (2 + rnd.nextInt(3))).map(_ =>
          alphabet(rnd.nextInt(4))).mkString).distinct
      val pieces = (singles ++ multis).distinct
      val costs = pieces.map(_ => 1000L + rnd.nextInt(9000).toLong)
      val unk = 15000L
      val vocabMap = pieces.zip(costs).toMap
      def segCost(segs: Seq[String]): Long =
        segs.map(p => 16L * vocabMap.getOrElse(p, unk) + 1L).sum
      val words = (0 until 8).map(_ =>
        (0 until (1 + rnd.nextInt(7))).map(_ =>
          alphabet(rnd.nextInt(4))).mkString)
      val got = words.toDF("w")
        .select(col("w"), unigramSegment(col("w"), pieces, costs, unk, 4)
          .as("s"))
        .collect().map(r => r.getString(0) -> r.getSeq[String](1).toSeq)
        .toMap
      words.foreach { w =>
        val segs = got(w)
        // (1) a valid segmentation: concatenates back, every piece in
        // vocab or a single UNK char
        assert(segs.mkString == w, s"trial $trial '$w': $segs")
        segs.foreach(p => assert(vocabMap.contains(p) || p.length == 1))
        // (2) achieves the brute-force optimum of the combined metric
        val best = allSegs(w, vocabMap.keySet).map(segCost).min
        assert(segCost(segs) == best,
          s"trial $trial '$w': got ${segCost(segs)} best $best ($segs)")
      }
    }
  }

  test("SchemaDrift.widen fuzz: commutative, idempotent, null-absorbing, lossless-or-string") {
    import graft.source.SchemaDrift.widen
    import org.apache.spark.sql.types._
    val types: Seq[DataType] = Seq(ByteType, ShortType, IntegerType,
      LongType, FloatType, DoubleType, DecimalType(10, 2),
      DecimalType(22, 4), DecimalType(38, 10), DateType, TimestampType,
      StringType, BooleanType, BinaryType, NullType,
      ArrayType(LongType), ArrayType(StringType))
    for (a <- types; b <- types) {
      val w = widen(a, b)
      assert(w == widen(b, a), s"not commutative: $a, $b")
      assert(widen(a, a) == a, s"not idempotent: $a")
      assert(widen(w, a) == w && widen(w, b) == w,
        s"not absorbing: widen($a,$b)=$w but re-widening moves")
      if (a == NullType) assert(w == b)
      // the carrier rule: a widened type is one of the inputs, a
      // numeric/temporal widening, or the string carrier — never a
      // surprise third family
      val ok = w == a || w == b || w == StringType ||
        (w.isInstanceOf[DecimalType] &&
          (a.isInstanceOf[DecimalType] || b.isInstanceOf[DecimalType])) ||
        w == DoubleType || w == TimestampType
      assert(ok, s"unexpected widen($a, $b) = $w")
    }
  }

  test("unionEvolved fuzz: every source value survives the widened union losslessly") {
    import graft.source.SchemaDrift
    // three frames whose shared columns widen within the exact lattice
    val b0 = Seq((1, 10.toShort, "x")).toDF("id", "v", "s")
    val b1 = Seq((2L, 20, "y")).toDF("id", "v", "s") // id long, v int
    val b2 = Seq((3L, BigDecimal("30.25"))).toDF("id", "v") // s absent
    val u = SchemaDrift.unionEvolved(Seq(b0, b1, b2)).orderBy("id")
    val rows = u.collect()
    assert(u.schema("id").dataType == org.apache.spark.sql.types.LongType)
    assert(u.schema("v").dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType])
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(rows.map(_.getDecimal(1).doubleValue).toSeq == Seq(10.0, 20.0, 30.25))
    assert(rows.map(r => Option(r.getString(2))).toSeq ==
      Seq(Some("x"), Some("y"), None))
  }

  test("model literals: malformed NbModel/UnigramModel strings fail loudly, never misparse") {
    import graft.functions.{NbModel, UnigramModel}
    // missing header, mangled class segment, non-numeric count
    intercept[IllegalArgumentException](NbModel.parse("en:docs=1,toks=2,c="))
    intercept[IllegalArgumentException](NbModel.parse("buckets=64|en=broken"))
    intercept[Exception](NbModel.parse("buckets=64|en:docs=1,toks=x,c="))
    intercept[IllegalArgumentException](UnigramModel.parse("a:1|b:2"))
    intercept[Exception](UnigramModel.parse("maxlen=4,unk=2|noCost"))
    // reserved separators in labels/pieces rejected at serialize time
    intercept[IllegalArgumentException](
      NbModel.serialize(Seq("a|b"), Seq(Map.empty), Seq(1L), Seq(1L), 64))
    intercept[IllegalArgumentException](
      UnigramModel.serialize(Seq("a:b"), Seq(1L), 1L, 4))
  }

  test("QuarantinedRead.csv property: well-formed rows are NEVER quarantined") {
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(99)
    val dir = java.nio.file.Files.createTempDirectory("graft-quarprop").toString
    val rows = (0 until 200).map { i =>
      s"$i,${rnd.nextInt(1000)},${"n" + rnd.alphanumeric.take(1 + rnd.nextInt(8)).mkString}"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/in.csv"),
      ("id,score,name" +: rows).mkString("\n") + "\n")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("score", IntegerType),
      StructField("name", StringType)))
    // counting goes through the observe idiom riding a DATA-reading
    // action (the R21 egress shape): any plan whose referenced
    // columns reduce to the corrupt column alone — including a bare
    // count() over the observed split — is rejected by Spark by
    // design (scaladoc'd on Quarantined)
    val obs = org.apache.spark.sql.Observation()
    val q = graft.source.QuarantinedRead.csv(spark, s"$dir/in.csv", schema,
      obs = Some(obs))
    assert(q.clean.agg(count(col("id"))).head.getLong(0) == 200L)
    assert(obs.get("records_quarantined") == 0L)
    assert(obs.get("records_clean") == 200L)
  }

  test("SchemaDrift.conform fuzz: values survive conform to the evolved schema across random batch schemas") {
    import graft.source.SchemaDrift
    val rnd = new scala.util.Random(7)
    val allCols = Seq("c0", "c1", "c2", "c3")
    for (trial <- 0 until 10) {
      // random subsets/orders of an int-typed column pool per batch
      val schemas = (0 until 3).map { _ =>
        rnd.shuffle(allCols).take(1 + rnd.nextInt(4))
      }
      val frames = schemas.zipWithIndex.map { case (cols, bi) =>
        val row = org.apache.spark.sql.Row.fromSeq(
          cols.indices.map(ci => (bi * 100 + ci).toLong))
        spark.createDataFrame(
          java.util.Arrays.asList(row),
          org.apache.spark.sql.types.StructType(cols.map(c =>
            org.apache.spark.sql.types.StructField(c,
              org.apache.spark.sql.types.LongType))))
      }
      val u = SchemaDrift.unionEvolved(frames)
      assert(u.count() == 3, s"trial $trial")
      // every source value appears under its own column; absent
      // columns are null
      val byBatch = u.collect()
      frames.zip(schemas).zipWithIndex.foreach { case ((_, cols), bi) =>
        val r = byBatch.find(r =>
          cols.indices.exists(ci =>
            !r.isNullAt(r.fieldIndex(cols(ci))) &&
              r.getLong(r.fieldIndex(cols(ci))) == bi * 100 + ci)).get
        cols.zipWithIndex.foreach { case (c, ci) =>
          assert(r.getLong(r.fieldIndex(c)) == bi * 100 + ci,
            s"trial $trial batch $bi col $c")
        }
        (allCols.toSet -- cols).foreach { c =>
          if (u.columns.contains(c))
            assert(r.isNullAt(r.fieldIndex(c)), s"trial $trial batch $bi absent $c")
        }
      }
    }
  }

  // ---- writeCompacted: uniform sizing sample + unique temp path ----

  test("writeCompacted: width-correlated input order no longer skews sizing; no sizing leftovers") {
    import graft.source.Layout
    // rows ordered by a width-correlated column: first rows are ~10 B
    // strings, last rows ~1000 B — limit(n)-sizing would read only the
    // narrow prefix and overshoot file sizes ~devastatingly
    val n = 6000
    val df = spark.range(n.toLong).select(col("id"),
        rpad(lit("x"), (col("id") * 990 / n + 10).cast("int"), lit("y"))
          .as("payload"))
      .orderBy("id")
    val dir = java.nio.file.Files.createTempDirectory("graft-compact").toString
    val out = s"$dir/t"
    val target = 256L * 1024
    val stats = Layout.writeCompacted(df, out, target, sampleRows = 500)
    // sizing temp dir cleaned up; nothing matching the old fixed name
    val leftovers = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("t__sizing"))
    assert(leftovers.isEmpty, leftovers.mkString(","))
    // row set untouched
    val back = spark.read.parquet(out)
    assert(back.count() == n.toLong)
    // uniform-sample sizing keeps mean file size within 2x of target
    // (limit-based sizing on this input lands ~5-50x over)
    val files = new java.io.File(out).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    val mean = files.map(_.length).sum.toDouble / files.length
    assert(mean < 2.0 * target && mean > target / 8.0,
      s"mean file bytes $mean vs target $target (${files.length} files, " +
        s"bytesPerRow=${stats.bytesPerRow})")
  }
}
