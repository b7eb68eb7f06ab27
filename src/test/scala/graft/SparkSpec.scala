package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one local SparkSession per JVM across all suites. */
object TestSpark {
  // an explicit 4, not Session.cpus: tier-1 exports SPARK_GRAFT_CPUS
  lazy val spark: SparkSession = Session.builder(4)
    .appName("graft-test")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    .getOrCreate()
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** Runs a streaming query on a memory sink named `name` until all
    * available input is processed. */
  protected def runToMemory(df: org.apache.spark.sql.DataFrame, name: String,
                            mode: org.apache.spark.sql.streaming.OutputMode): Unit = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).start()
    q.processAllAvailable()
    q.stop()
  }

  /** Runs `body` and returns its value with the number of Spark jobs it
    * launched and the executed plans of its queries. A marker job drains
    * the listener bus: both listeners sit on the shared queue, so once the
    * marker's start is delivered every earlier event has been too. */
  protected def recordRun[T](body: => T)
      : (T, Int, Seq[org.apache.spark.sql.execution.SparkPlan]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val marker = s"drain-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val plans = new java.util.concurrent.CopyOnWriteArrayList[org.apache.spark.sql.execution.SparkPlan]()
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).map(_.getProperty("spark.jobGroup.id")).contains(marker))
          drained.countDown()
        else jobs.incrementAndGet()
    }
    val planListener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    try {
      val out = body
      spark.sparkContext.setJobGroup(marker, "listener drain")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.clearJobGroup()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
      (out, jobs.get, plans.toArray.map(_.asInstanceOf[org.apache.spark.sql.execution.SparkPlan]).toSeq)
    } finally {
      spark.listenerManager.unregister(planListener)
      spark.sparkContext.removeSparkListener(jobListener)
    }
  }
}
