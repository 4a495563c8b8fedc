package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Manual stage-level profiler: `Test/runMain graft.StageProf qNN [sfDir]`
  * warms the query at sf0.001, runs it once at the target SF, and prints
  * the heaviest stages by executor run time with their shuffle writes —
  * the per-stage view Bench's per-query totals can't give. */
object StageProf {
  def main(args: Array[String]): Unit = {
    val qname = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = GraftSession(logLevel = "ERROR")
    val stages = mutable.ArrayBuffer[(Int, String, Long, Long, Long, Int)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val ms = si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)
        stages += ((si.stageId, si.name.split("\n")(0).take(90), ms,
          si.taskMetrics.executorRunTime,
          si.taskMetrics.shuffleWriteMetrics.bytesWritten, si.numTasks))
      }
    })
    // "entry" profiles the flagship pipeline (not a registered query —
    // Bench times it separately as entry_pipeline_sec).
    val fn: (SparkSession, String) => org.apache.spark.sql.DataFrame =
      if (qname == "entry") (s, d) => pipeline.DailySummary.run(s, d)
      else SparkEntry.queries(qname)
    fn(spark, "/root/testdata/sf0.001").write.mode("overwrite").format("noop").save()
    // Optional extra measured passes (arg 3): pass N>1 to see the
    // steady-state cost once codegen/broadcast warmup has been paid.
    val passes = if (args.length > 2) args(2).toInt else 1
    var total = 0.0
    (1 to passes).foreach { p =>
      org.apache.spark.GraftSpark.drainListeners(spark.sparkContext)
      stages.clear()
      val compiles0 = Tables.codegenCompiles()
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      total = (System.nanoTime() - t0) / 1e9
      val compiles = Tables.codegenCompiles() - compiles0
      org.apache.spark.GraftSpark.drainListeners(spark.sparkContext)
      val wallSum = stages.map(_._3).sum / 1000.0
      val runSum = stages.map(_._4).sum / 1000.0
      println(f"PASS $p TOTAL $total%.2f s over ${stages.size} stages; " +
        f"stage-wall sum $wallSum%.2f s (driver gap ${total - wallSum}%.2f s); " +
        f"taskRun sum $runSum%.2f s; $compiles classes compiled")
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    stages.sortBy(-_._4).take(20).foreach { case (id, name, wall, run, sb, nt) =>
      println(f"stage $id%4d wall=$wall%6dms taskRun=$run%7dms n=$nt%4d shW=${sb / 1024}%8dKB  $name")
    }
    spark.stop()
  }
}
