package graft

import org.apache.spark.sql.functions._

/** The events loader must adapt to whatever ts encoding the testdata
  * generator ships (it has changed across regenerations — TIMESTAMP(NANOS)
  * through round 9, timestamp[us] NTZ from round 11). These cases pin the
  * two branch behaviors that can be synthesized without a nanos writer:
  * raw-long nanos (what nanosAsLong reading yields) and TIMESTAMP_NTZ,
  * plus the committed NANOS fixture. Every loader branch remembers its
  * inferred schema: a second load of a path infers nothing unless the
  * path was rewritten. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft_tables").toString

  /** Loads `name` from `dir` twice and returns the second load, which
    * must launch no Spark job before its action and read the first load's
    * schema and rows. */
  private def loadTwice(dir: String, name: String)
      : org.apache.spark.sql.DataFrame = {
    val first = Tables.load(spark, dir, name)
    val rows = first.collect().toSeq
    val (second, jobs, _) = recordRun(Tables.load(spark, dir, name))
    assert(jobs == 0, s"$name: the second load ran $jobs Spark jobs")
    assert(second.schema == first.schema)
    assert(second.collect().toSeq == rows)
    second
  }

  test("events loader: raw nanos-long ts converts to micros timestamps") {
    val dir = tmpDir()
    // 2024-01-01 10:00:00 UTC in nanos, plus sub-micro residue that the
    // DIV 1000 truncation must drop (DuckDB's TIMESTAMP_NS read truncates
    // identically, which is what keeps the oracle aligned)
    val nanos = 1704103200L * 1000000000L + 123456789L
    Seq((1L, nanos)).toDF("event_id", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = loadTwice(dir, "events")
    assert(got.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    val ts = got.select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
      .as[String].head()
    assert(ts == "2024-01-01 10:00:00.123456")
  }

  test("events loader: TIMESTAMP_NTZ ts casts to the same UTC instant") {
    val dir = tmpDir()
    Seq(1L).toDF("event_id")
      .withColumn("ts", to_timestamp_ntz(lit("2024-01-01 10:00:00.123456")))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    // confirm the fixture really wrote NTZ (no timezone in the footer)
    assert(spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
    val got = loadTwice(dir, "events")
    assert(got.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    val ts = got.select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
      .as[String].head()
    // session TZ is UTC, so the NTZ wall-clock IS the UTC instant
    assert(ts == "2024-01-01 10:00:00.123456")
  }

  test("events loader: real TIMESTAMP(NANOS) parquet takes the narrowed retry path") {
    // A genuine nanos file (committed fixture — Spark cannot write one):
    // the plain read throws AnalysisException [PARQUET_TYPE_ILLEGAL], the
    // loader retries under nanosAsLong, and the value truncates to micros
    // exactly like DuckDB's TIMESTAMP_NS read. Pins the catch matcher —
    // a message change in a Spark upgrade should fail HERE, not in prod.
    val dir = getClass.getResource("/nanos_events").getPath
    val got = loadTwice(dir, "events")
    assert(got.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    val ts = got.select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
      .as[String].head()
    assert(ts == "2024-01-01 10:00:00.123456")
    // the remembered load decodes with the retry's reader option
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val options = got.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
        l.relation.asInstanceOf[HadoopFsRelation].options
    }
    assert(options.exists(_.get("spark.sql.legacy.parquet.nanosAsLong").contains("true")),
      s"relation options: $options")
    // the retry must NOT leak the legacy flag into the session: the flag
    // rides as a per-relation reader option, so a later read of a
    // different table's genuine NANOS column still fails loudly
    assert(spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
      .forall(_ == "false"),
      "nanosAsLong leaked into the session conf")
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.read.parquet(dir + "/events.parquet").collect()
    }
  }

  test("events loader: unrelated read failures are NOT retried or masked") {
    // missing path: the narrowed catch must let the original error
    // propagate instead of burning a second read and leaking the
    // legacy nanos flag into the session
    val dir = "/tmp/graft_definitely_missing_dir"
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Tables.load(spark, dir, "events").collect()
    }
    assert(!e.getMessage.contains("PARQUET_TYPE_ILLEGAL"), e.getMessage)
    assert(e.getMessage.contains("PATH_NOT_FOUND"), e.getMessage)
    // and a failed load remembers nothing
    assert(Tables.known.synchronized(Option(Tables.known.get(spark)))
      .forall(!_.contains(s"$dir/events.parquet")))
  }

  test("a second load of a plain table runs no Spark job and reads the same rows") {
    val dir = tmpDir()
    Seq((1L, "a"), (2L, "b")).toDF("c_custkey", "c_name")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val got = loadTwice(dir, "customer")
    assert(got.as[(Long, String)].collect().toSeq.sorted == Seq((1L, "a"), (2L, "b")))
  }

  test("a table rewritten in place with a different schema is inferred again") {
    val dir = tmpDir()
    Seq(1L).toDF("p_partkey").write.mode("overwrite").parquet(s"$dir/part.parquet")
    assert(Tables.load(spark, dir, "part").columns.toSeq == Seq("p_partkey"))
    Seq((2L, "x")).toDF("p_partkey", "p_name")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    val (got, jobs, _) = recordRun(Tables.load(spark, dir, "part"))
    assert(jobs >= 1, "the rewritten table was not inferred again")
    assert(got.columns.toSeq == Seq("p_partkey", "p_name"))
    assert(got.as[(Long, String)].collect().toSeq == Seq((2L, "x")))
  }

  test("events loader: already-TIMESTAMP ts passes through unchanged") {
    val dir = tmpDir()
    Seq(1L).toDF("event_id")
      .withColumn("ts", to_timestamp(lit("2024-01-01 10:00:00.123456")))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = loadTwice(dir, "events")
    assert(got.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    val ts = got.select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
      .as[String].head()
    assert(ts == "2024-01-01 10:00:00.123456")
  }
}
