package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** Minimal JSON writer for the result file (numbers, strings, booleans,
  * nested maps and sequences). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n @ (_: Int | _: Long | _: Boolean) => n.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + value(x) }
      .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def obj(kvs: (String, Any)*): String = value(kvs.toMap)
}

/** Heap figures from the collector's own notifications while armed: the
  * most heap in use right before any collection (the peak the heap
  * reached), and the median heap still live right after a full
  * collection (what the program keeps between repetitions). Both benches
  * force a full collection after every repetition. A young collection's
  * "after" also counts old-generation garbage not yet collected, and the
  * largest single value depends on where an odd full collection falls,
  * so neither is steady from run to run. */
final class HeapSampler {
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData

  @volatile private var armed = false
  @volatile private var before = 0L
  private val afterFull = scala.collection.mutable.ArrayBuffer.empty[Long]
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val listener: NotificationListener = (n: Notification, _: Any) =>
    if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val gc = info.getGcInfo
      def used(m: java.util.Map[String, java.lang.management.MemoryUsage]) =
        m.asScala.collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized {
        before = math.max(before, used(gc.getMemoryUsageBeforeGc))
        if (info.getGcAction == "end of major GC") afterFull += used(gc.getMemoryUsageAfterGc)
      }
    }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  emitters.foreach(_.addNotificationListener(listener, null, null))

  def arm(): Unit = synchronized { before = 0; afterFull.clear(); armed = true }
  /** (peak in use, median retained) in MB; disarms. */
  def peaksMb: (Double, Double) = synchronized {
    armed = false
    (before / 1048576.0, Trace.median(afterFull.map(_.toDouble).toSeq) / 1048576.0)
  }
  def stop(): Unit = emitters.foreach(_.removeNotificationListener(listener))
}

/** Entry point: `Harness <spec.json>`. The spec (written by run.py)
  * names a workload, its generated inputs, the run length and whether to
  * trace; it runs in one Spark session, which takes its settings from
  * the `spark.*` system properties run.py passes. It writes
  * `result.json` (and, traced, `spans.jsonl`) into its `out` directory. */
object Harness {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().appName("perfbench").getOrCreate()
    val sessionMs = System.currentTimeMillis()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, sessionMs, args(0)) finally spark.stop()
  }

  private def run(spark: SparkSession, sessionMs: Long, specPath: String): Unit = {
    val spec = new ObjectMapper().readTree(Files.readString(Paths.get(specPath)))
    val out = spec.get("out").asText()
    val heap = new HeapSampler
    val fields =
      try spec.get("workload").asText() match {
        case "sync_backfill" | "sync_nightly" => new SyncBench(spark, spec, heap, out).run()
        case _ => new QueryBench(spark, spec, heap, out).run()
      } finally heap.stop()
    val body = fields ++ Map(
      "k" -> spark.sparkContext.defaultParallelism,
      "session_epoch_ms" -> sessionMs,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / 1048576.0,
      "spark_version" -> spark.version,
      "jvm" -> ManagementFactory.getRuntimeMXBean.getVmVersion)
    Files.writeString(Paths.get(out, "result.json"), Json.value(body), UTF_8)
  }

  /** Runs `f`, returns its wall seconds. */
  def time(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  def texts(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText()).toSeq

  def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) Files.walk(p).iterator().asScala.toSeq.reverse
      .foreach(Files.deleteIfExists)
}
