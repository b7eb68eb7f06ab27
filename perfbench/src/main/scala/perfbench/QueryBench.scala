package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.SparkEntry
import graft.functions.GraftExtensions

object QueryBench {
  /** Untimed passes between the checked priming pass and the timed ones. */
  val WarmupPasses = 4
}

/** Query-suite workloads: a fixed list of `SparkEntry.queries`, each
  * materialized with a `noop` write — the plan `graft.Verify` writes,
  * not one `count()` lets Catalyst prune.
  *
  * The untimed priming pass writes every output to parquet, with the
  * queries' oracle SQL beside them, for run.py's DuckDB check. The timed
  * loop then runs whole passes over the list until the run length is
  * used up. Traced, it alternates untraced and traced passes (the
  * difference is the tracing overhead) and then times the native
  * kernels the queries' plans contain. */
final class QueryBench(spark: SparkSession, spec: JsonNode, heap: HeapSampler,
                       out: String) {
  private val names = Harness.texts(spec.get("queries"))
  private val data = spec.get("data").asText()
  private val seconds = spec.get("seconds").asDouble()
  private val traced = spec.get("trace").asBoolean()
  private val k = spark.sparkContext.defaultParallelism
  private val failures = ArrayBuffer.empty[String]

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** One pass: per-query wall seconds; a failed query counts and reads
    * as absent. */
  private def pass(run: (String, () => Unit) => Unit): Unit =
    names.foreach { n =>
      try run(n, () => noop(SparkEntry.queries(n)(spark, data)))
      catch { case NonFatal(t) => failures += s"$n: ${t.getMessage}" }
    }

  def run(): Map[String, Any] = {
    val kernels = prime()
    // untimed warm-up passes of the timed (noop) plans: pass walls keep
    // falling for about four passes while the JIT compiles the kernels, so
    // the timed passes start past that
    (1 to QueryBench.WarmupPasses).foreach(_ => pass((_, f) => f()))
    System.gc()
    heap.arm()
    val firstRepMs = System.currentTimeMillis()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val passWalls = ArrayBuffer.empty[Double]
    val queryWalls = names.map(_ -> ArrayBuffer.empty[Double]).toMap
    val trace = if (traced) Some(new Trace(spark)) else None
    val tracedWalls = ArrayBuffer.empty[Double]
    val layers = ArrayBuffer.empty[Map[String, Double]]
    var attempted = names.size * QueryBench.WarmupPasses
    do {
      attempted += names.size
      passWalls += Harness.time(pass((n, f) => queryWalls(n) += Harness.time(f())))
      System.gc()
      trace.foreach { tr =>
        attempted += names.size
        tr.newRun()
        var build = 0.0
        val (_, root) = tr.span("pass") {
          pass { (n, _) =>
            tr.span(s"query.$n") {
              val (df, b) = tr.span("SparkEntry.build")(SparkEntry.queries(n)(spark, data))
              build += b.seconds
              tr.span("exec")(noop(df))
            }
          }
        }
        tracedWalls += root.seconds
        val w = root.work
        layers += Map(
          "SparkEntry.build_s" -> build,
          "engine.plan_s" -> w.planNs / 1e9, "engine.exec_s" -> w.execNs / 1e9,
          "engine.jobs" -> w.jobs.toDouble, "engine.stages" -> w.stages.toDouble,
          "engine.tasks" -> w.tasks.toDouble,
          "engine.shuffle_bytes" -> w.shuffleWrite.toDouble,
          "engine.spill_bytes" -> w.spill.toDouble,
          "engine.peak_exec_mem_bytes" -> w.peakMem.toDouble,
          "engine.sched_delay_s" -> w.schedDelayMs / 1e3,
          "engine.busy_ratio" -> w.runMs / (root.seconds * 1e3 * k))
        System.gc()
      }
    } while (System.nanoTime() < deadline)
    val (heapPeak, heapRetained) = heap.peaksMb
    val layerOut = trace.map { tr =>
      val med = layers.flatMap(_.keys).distinct
        .map(key => key -> Trace.median(layers.map(_(key)).toSeq)).toMap
      val fns = timeKernels(tr, kernels.values.flatten.toSeq.distinct.sorted)
      tr.close()
      Files.write(Paths.get(out, "spans.jsonl"),
        (tr.jsonLines.mkString("\n") + "\n").getBytes(UTF_8))
      med ++ fns ++ Map("trace.overhead_s" ->
        (Trace.median(tracedWalls.toSeq) - Trace.median(passWalls.toSeq)))
    }
    Map(
      "first_rep_epoch_ms" -> firstRepMs,
      "op_walls" -> passWalls.toSeq,
      "query_walls" -> queryWalls.map { case (n, w) => n -> w.toSeq },
      "attempted" -> attempted,
      "failures" -> failures.toSeq,
      "heap_peak_mb" -> heapPeak,
      "heap_retained_mb" -> heapRetained,
      "kernels_found" -> kernels,
      "prime_walls" -> primeWalls,
      "layers" -> layerOut)
  }

  /** Untimed priming pass: builds each query, records the native
    * kernels in its optimized plan, and writes its output (one parquet
    * file, as Verify does) with the oracle SQL for the DuckDB check. */
  private def prime(): Map[String, Seq[String]] = {
    val kernelName = GraftExtensions.registrations.map { case (id, info, _) =>
      info.getClassName -> id.funcName }.toMap
    val found = names.map { n =>
      val t0 = System.nanoTime()
      val ks = try {
        val df = SparkEntry.queries(n)(spark, data)
        val exprs = df.queryExecution.optimizedPlan.collect { case p =>
          p.expressions.flatMap(_.collect { case e => e })
        }.flatten
        df.coalesce(1).write.mode("overwrite").parquet(s"$out/outputs/$n")
        (exprs.flatMap(e => kernelName.get(e.getClass.getName)) ++ exprs.collect {
          case l: org.apache.spark.sql.catalyst.expressions.Levenshtein
            if l.threshold.isDefined => "levenshtein_banded"
        }).distinct.sorted
      } catch { case NonFatal(t) => failures += s"$n: ${t.getMessage}"; Nil }
      (n, (ks, (System.nanoTime() - t0) / 1e9))
    }
    primeWalls = found.map { case (n, (_, w)) => n -> w }.toMap
    val oracle = names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap
    Files.writeString(Paths.get(out, "outputs", "oracle_sql.json"), Json.value(oracle), UTF_8)
    found.map { case (n, (ks, _)) => n -> ks }.toMap
  }

  private var primeWalls = Map.empty[String, Double]

  /** Per-row cost of each kernel: a noop write of the kernel over a
    * cached generated column, minus the same plan projecting its input
    * unchanged. Medians of three. A kernel the plans start to use without
    * a recipe here shows in `kernels_found` but gets no timing. */
  private def timeKernels(tr: Trace, kernels: Seq[String]): Map[String, Double] = {
    if (kernels.isEmpty) return Map.empty
    GraftExtensions.registerAll(spark)
    val rows = spec.get("kernel_rows").asLong()
    val words = "a agg batch big column customer data fast filter group hash join key " +
      "line merge order part query row scan slow small sort spark stream table " +
      "the value vector window"
    val input = spark.range(rows).selectExpr(
      s"concat_ws(' ', transform(sequence(0, 8 + cast(id % 60 as int)), " +
        s"i -> element_at(split('$words', ' '), " +
        s"cast(pmod(hash(id, i), ${words.split(' ').length}) as int) + 1))) as text",
      "concat('Customer#', lpad(cast(id % 100000 as string), 9, '0')) as name_a",
      "concat('Customer#', lpad(cast((id * 7 + 3) % 100000 as string), 9, '0')) as name_b")
      .selectExpr("*", "split(text, ' ') as tokens")
      .selectExpr("*", "array_sort(array_distinct(shingle_hashes(tokens, 3))) as grams",
        "array_sort(array_distinct(shingle_hashes(slice(tokens, 2, 1000), 3))) as grams2")
      .persist(StorageLevel.MEMORY_ONLY)
    input.count()
    val recipes = Map(
      "simhash64" -> ("simhash64(tokens, true)", Seq("tokens")),
      "minhash_sig" -> ("minhash_sig(grams, 64)", Seq("grams")),
      "shingle_hashes" -> ("shingle_hashes(tokens, 3)", Seq("tokens")),
      "sorted_intersect_size" -> ("sorted_intersect_size(grams, grams2)", Seq("grams", "grams2")),
      "deletion_neighborhood" -> ("deletion_neighborhood(name_a, 1)", Seq("name_a")),
      "levenshtein_banded" -> ("levenshtein(name_a, name_b, 2)", Seq("name_a", "name_b")))
    tr.newRun()
    val res = kernels.flatMap { fn =>
      recipes.get(fn).map { case (expr, ident) =>
        def med(name: String, cols: Seq[String]): Double = Trace.median((1 to 3).map { _ =>
          tr.span(name)(noop(input.selectExpr(cols: _*)))._2.seconds })
        val withFn = med(s"kernel.$fn", Seq(expr))
        val without = med(s"identity.$fn", ident)
        s"functions.$fn.ns_per_row" -> (withFn - without) / rows * 1e9
      }
    }.toMap
    input.unpersist()
    res
  }
}
