package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** One session factory: every local entry point builds its SparkSession
  * through [[Session.builder]], so the session Verify checks is the one
  * Bench times and the one the specs run on. The probe entry points only
  * name registered queries. */
class SessionSpec extends SparkSpec {

  private val root = Paths.get("src/main/scala")

  private def scalaFiles(dir: Path): List[Path] = Files.walk(dir).iterator.asScala
    .filter(_.toString.endsWith(".scala")).toList

  /** Source lines of `p` that are not comment lines. */
  private def code(p: Path): Seq[String] = Files.readAllLines(p).asScala.toSeq
    .filterNot { l =>
      val t = l.trim
      t.startsWith("*") || t.startsWith("//") || t.startsWith("/*")
    }

  test("only Session and the spark-submit job main call SparkSession.builder() in src/main") {
    val allowed = Set(root.resolve("graft/Session.scala"),
      root.resolve("graft/jobs/Jobs.scala"))
    val builderCall = """SparkSession\s*\.\s*builder\s*\(""".r
    val files = scalaFiles(root)
    val offenders = files.filterNot(allowed.contains)
      .filter(p => code(p).exists(builderCall.findFirstIn(_).isDefined))
    assert(files.size > 50, s"src/main/scala not found from ${Paths.get("").toAbsolutePath}")
    assert(offenders.isEmpty, offenders.mkString("build through graft.Session: ", ", ", ""))
  }

  test("the jobs write the invalid-record split once: one splitInvalid, one observeEgress") {
    val jobs = scalaFiles(root.resolve("graft/jobs")).flatMap(code)
    assert(jobs.nonEmpty, s"src/main/scala/graft/jobs not found from ${Paths.get("").toAbsolutePath}")
    for (call <- Seq("HttpSink.splitInvalid(", "HttpSink.observeEgress(")) {
      val n = jobs.map(_.sliding(call.length).count(_ == call)).sum
      assert(n == 1, s"$call appears $n times in graft/jobs: build it in UserProfileJob.withPrepared")
    }
  }

  test("the shared test session carries the factory's settings") {
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "5000")
    assert(spark.sparkContext.master == "local[4]")
  }

  test("every ScaleProbe query is a registered SparkEntry query") {
    val missing = ScaleProbe.Queries.filterNot(SparkEntry.queries.contains)
    assert(ScaleProbe.Queries.nonEmpty)
    assert(missing.isEmpty, missing.mkString("not in SparkEntry.queries: ", ", ", ""))
  }
}
