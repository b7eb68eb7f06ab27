package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** Round-19 optimization scratch probe: run one query's body with a
  * job-level listener that attributes wall time to call sites — the
  * "which stage actually costs" step of the measure-first loop when
  * the work happens inside eager foreachBatch/iteration code that
  * explain() cannot see. Not part of the library surface. */
object OptProbe {
  def main(args: Array[String]): Unit = {
    val what = args.headOption.getOrElse("q228")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.builder(Session.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        // properties is null when no local properties are set (ADVICE r19)
        val props = Option(js.properties)
        val site = props.flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(props.flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("?")
        jobs.put(js.jobId, (site, System.nanoTime()))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(jobs.remove(je.jobId)).foreach { case (site, t0) =>
          done.add((site, (System.nanoTime() - t0) / 1e9))
        }
      }
    })

    def run(): Unit = {
      val t0 = System.nanoTime()
      SparkEntry.queries(what match {
        case q if q.startsWith("q") && q.contains("_") => q
        case "q228" => "q228_streaming_refresh"
        case other => other
      })(spark, dir).count()
      println(f"TOTAL ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    run() // cold
    System.gc()
    run() // warm 1 (JIT settles)
    System.gc()
    done.clear()
    run() // warm 2, attributed

    import scala.jdk.CollectionConverters._
    val bySite = done.asScala.toSeq.groupBy(_._1)
      .map { case (s, xs) => (s, xs.size, xs.map(_._2).sum) }
      .toSeq.sortBy(-_._3)
    println(f"${"site"}%-60s ${"n"}%4s ${"sec"}%8s")
    bySite.foreach { case (s, n, sec) =>
      println(f"$s%-60s $n%4d $sec%8.3f")
    }
    println(f"jobs total: ${bySite.map(_._3).sum}%.2f s over ${bySite.map(_._2).sum} jobs")
    spark.stop()
  }
}
