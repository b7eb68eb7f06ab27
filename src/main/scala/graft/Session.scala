package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession configuration: Bench, Verify, the probes
  * and the test suites all build through [[builder]], so the session the
  * oracle gate verifies is the session the bench times. (spark-submit
  * entry points such as `jobs.UserProfileMain` take their master and
  * settings from spark-submit instead.) */
object Session {
  /** `SPARK_GRAFT_CPUS` if set, else every core on the box: the driver
    * contract is local[32] and does not set SPARK_GRAFT_CPUS, so an
    * under-defaulted value here silently benchmarks the compute-bound
    * queries on a fraction of the machine. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def builder(cpus: Int): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // 53 multi-stage queries × 2 runs generate far more than the default
    // 100 cached codegen classes; eviction churn re-compiles warm plans
    .config("spark.sql.codegen.cache.maxEntries", "5000")
    // the app-status stores retain execution/stage/task history (plan
    // descriptions included) even with the UI off — 150+ executions of
    // accumulation measurably drags late-suite queries
    .config("spark.sql.ui.retainedExecutions", "4")
    .config("spark.ui.retainedJobs", "50")
    .config("spark.ui.retainedStages", "50")
    .config("spark.ui.retainedTasks", "500")
}
