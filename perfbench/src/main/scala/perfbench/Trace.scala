package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Counts of the Spark work done inside one span. */
final case class Work(jobs: Int = 0, stages: Int = 0, tasks: Int = 0,
                      runMs: Long = 0, schedDelayMs: Long = 0,
                      shuffleWrite: Long = 0, spill: Long = 0, peakMem: Long = 0,
                      planNs: Long = 0, execNs: Long = 0,
                      firstJobEndMs: Long = Long.MaxValue,
                      skew: Double = 0.0,
                      scanFiles: Long = 0, scanRows: Long = 0) {
  def +(o: Work): Work = Work(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    runMs + o.runMs, schedDelayMs + o.schedDelayMs, shuffleWrite + o.shuffleWrite,
    spill + o.spill, math.max(peakMem, o.peakMem), planNs + o.planNs,
    execNs + o.execNs, math.min(firstJobEndMs, o.firstJobEndMs),
    math.max(skew, o.skew), scanFiles + o.scanFiles, scanRows + o.scanRows)
}

final case class Span(run: Int, id: Int, name: String, parent: Int,
                      startNs: Long, endNs: Long, work: Work) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans at the benchmark's calls into each layer, with counts from a
  * [[SparkListener]] and a [[QueryExecutionListener]] registered here.
  * Spans are kept in memory and written out when the run ends. Every
  * span boundary drains the listener bus and gives the events that
  * arrived since the previous boundary to the innermost open span, so a
  * leaf span's counts are exactly those of the actions it ran. */
final class Trace(spark: SparkSession) {
  private case class Task(stage: Int, runMs: Long, durMs: Long, deserMs: Long,
                          resultSerMs: Long, shuffleWrite: Long, shuffleRead: Long,
                          spill: Long, peakMem: Long)
  private case class Qe(planNs: Long, execNs: Long, files: Long, rows: Long)

  private val tasks = new ConcurrentLinkedQueue[Task]
  private val jobEnds = new ConcurrentLinkedQueue[java.lang.Long]
  private val qes = new ConcurrentLinkedQueue[Qe]

  private val listener = new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(Task(e.stageId, m.executorRunTime,
        e.taskInfo.duration, m.executorDeserializeTime, m.resultSerializationTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.add(e.time)
  }
  private val qeListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val plan = qe.tracker.phases.values.map(_.durationMs).sum * 1000000L
      val scans = Trace.scans(qe.executedPlan)
      def metric(k: String) = scans.flatMap(_.metrics.get(k)).map(_.value).sum
      qes.add(Qe(plan, durationNs, metric("numFiles"), metric("numOutputRows")))
    }
    def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }
  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  val spans = ArrayBuffer.empty[Span]
  private var run = 0
  private var nextId = 0
  private var open = List.empty[Int]

  def newRun(): Int = { run += 1; run }

  private val own = scala.collection.mutable.Map.empty[Int, Work]

  /** Times `f` as a span; its work is what its own actions did plus its
    * child spans' work. */
  def span[T](name: String)(f: => T): (T, Span) = {
    flush() // events so far belong to the enclosing span, if any
    nextId += 1
    val id = nextId
    val parent = open.headOption.getOrElse(0)
    open = id :: open
    val start = System.nanoTime()
    val out = try f finally { flush(); open = open.tail }
    val end = System.nanoTime()
    val children = spans.filter(s => s.parent == id && s.run == run).map(_.work)
    val work = (own.remove(id).getOrElse(Work()) +: children).reduce(_ + _)
    val s = Span(run, id, name, parent, start, end, work)
    spans += s
    (out, s)
  }

  private def flush(): Unit = {
    val w = take()
    open.headOption.foreach(p => own(p) = own.getOrElse(p, Work()) + w)
  }

  private def take(): Work = {
    Bus.drain(spark.sparkContext)
    def drainQ[A](q: ConcurrentLinkedQueue[A]): Seq[A] =
      Iterator.continually(q.poll()).takeWhile(_ != null).toSeq
    val ts = drainQ(tasks)
    val js = drainQ(jobEnds)
    val qs = drainQ(qes)
    val shuffled = ts.filter(_.shuffleRead > 0).map(_.runMs.toDouble).sorted
    val skew = if (shuffled.isEmpty) 0.0
      else shuffled.last / math.max(1.0, shuffled(shuffled.size / 2))
    Work(jobs = js.size, stages = ts.map(_.stage).distinct.size, tasks = ts.size,
      runMs = ts.map(_.runMs).sum,
      schedDelayMs = ts.map(t => math.max(0L, t.durMs - t.runMs - t.deserMs -
        t.resultSerMs)).sum,
      shuffleWrite = ts.map(_.shuffleWrite).sum, spill = ts.map(_.spill).sum,
      peakMem = if (ts.isEmpty) 0L else ts.map(_.peakMem).max,
      planNs = qs.map(_.planNs).sum, execNs = qs.map(_.execNs).sum,
      firstJobEndMs = if (js.isEmpty) Long.MaxValue else js.map(_.longValue).min,
      skew = skew, scanFiles = qs.map(_.files).sum, scanRows = qs.map(_.rows).sum)
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def jsonLines: Seq[String] = spans.map { s =>
    Json.obj("run" -> s.run, "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs, "jobs" -> s.work.jobs,
      "tasks" -> s.work.tasks)
  }.toSeq
}

object Trace {
  /** File scans of an executed plan, through adaptive stages and the
    * cached relations it reads. */
  def scans(p: SparkPlan): Seq[SparkPlan] = p match {
    case s if s.nodeName.startsWith("Scan ") && s.metrics.contains("numFiles") => Seq(s)
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case m: InMemoryTableScanExec => scans(m.relation.cachedPlan)
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
