package graft

import org.apache.spark.sql.SparkSession

/** The one local session shape every graft main and test runs under
  * (Bench, Verify, the test-scope tools and `TestSpark`), so a
  * setting cannot drift between them. A caller of `SparkEntry.entry`
  * brings its own session, which reaches the engine through
  * `Tables.configure` alone. */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else the host's processor count. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(cpus: Int = cores, logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      // Suite-order-noise guards: even with the UI off, the app status
      // stores retain per-execution plan metrics and per-stage task data
      // for the WHOLE app (defaults: 1000 SQL executions, 1000 stages,
      // 100k tasks). Across a 97-query suite that retained state grows
      // monotonically and its heap/GC pressure taxes LATER queries —
      // an 8× artifact-vs-isolated gap on late queries with near-zero
      // shuffle. Cap retention at "recent history" sizes; nothing in
      // graft reads it.
      .config("spark.sql.ui.retainedExecutions", "5")
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.ui.retainedDeadExecutors", "1")
      .config("spark.sql.session.timeZone", "UTC")
      // Session-state extensions (cosine_sim, FuseCosine,
      // AsOfJoinStrategy) also reach the `newSession()` clones the
      // streaming runners make; `Tables.configure` below installs them
      // on this session only.
      .withExtensions(new plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    Tables.configure(spark)
    spark
  }
}
