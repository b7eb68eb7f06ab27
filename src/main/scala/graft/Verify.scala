package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session.builder(Session.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // local iteration aid: GRAFT_ONLY=q48_ivf_topk,q63_... runs a subset
    // (the driver never sets it — full dump in the gate)
    val only = sys.env.get("GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    // build each query's DataFrame ONCE (some constructors run real
    // Spark jobs, e.g. IVF codebook training) — the lint reads its
    // schema, the dump loop below writes it
    val built: Seq[(String, Either[Throwable, org.apache.spark.sql.DataFrame])] =
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (name, _) => only.forall(_.contains(name)) }
        .map { case (name, fn) =>
          name -> (try Right(fn(spark, sfDir))
                   catch { case e: Throwable => Left(e) })
        }
    // Gate-fragility lint (VERDICT r14 task 2): abort BEFORE dumping if
    // any selected query gates a fragile double/decimal column — the
    // q145/q186 rendering class fails here, not at the driver.
    GateLint.loadDoubleAllowlist(sys.env.getOrElse(
        "GRAFT_DOUBLE_ALLOWLIST", "tools/gate_double_allowlist.txt")) match {
      case None => System.err.println(
        "[gatelint] WARNING: tools/gate_double_allowlist.txt unreadable " +
          "from cwd — fragility lint SKIPPED")
      case Some(allow) =>
        val flags = built.flatMap {
          case (name, Right(df)) =>
            GateLint.lintSchema(name, df.schema, allow) ++
              SparkEntry.oracleSql.get(name).toSeq
                .flatMap(GateLint.lintOracle(name, _))
          case (_, Left(_)) => Seq.empty // build error surfaces below
        }
        if (flags.nonEmpty) {
          flags.foreach(f => System.err.println(s"[gatelint] FLAG $f"))
          System.err.println(s"[gatelint] ${flags.size} fragile gated " +
            "column(s) — fix or waive before the gate runs")
          spark.stop()
          sys.exit(1)
        }
    }
    built.foreach {
      case (name, Right(df)) =>
        try df.coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      case (name, Left(e)) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
