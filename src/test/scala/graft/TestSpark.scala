package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for every suite (Test/fork runs them in a
  * single forked JVM, so this is created once). */
object TestSpark {
  lazy val spark: SparkSession = GraftSession(cpus = 4, logLevel = "ERROR")

  /** Jobs started by one run of query `name` over `dir`, counted with a
    * job-start listener around a `noop` write of its output. */
  def jobsOf(name: String, dir: String): Long = {
    val jobs = new AtomicLong(0L)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    org.apache.spark.GraftSpark.drainListeners(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      SparkEntry.queries(name)(spark, dir).write.mode("overwrite").format("noop").save()
      org.apache.spark.GraftSpark.drainListeners(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    jobs.get
  }

  /** Per-run job counts of `name`, run until one starts at most `bound`
    * jobs or three runs are made. AQE picks some join and stage shapes
    * from runtime stage timing, so a run now and then plans a variant
    * (CodegenCacheSpec); a job bound must hold on one of three runs. */
  def jobCountsUntil(name: String, dir: String, bound: Long): List[Long] = {
    var counts = List.empty[Long]
    while (counts.size < 3 && !counts.exists(_ <= bound))
      counts :+= jobsOf(name, dir)
    counts
  }
}
