package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Catalyst phase time of every action, from `QueryExecution.tracker`.
  * Registered through `spark.sql.queryExecutionListeners`, so every
  * session, cloned ones included, gets an instance. */
class PlanListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (PlanListener.enabled) PlanListener.synchronized {
      PlanListener.actions += 1
      PlanListener.planningMs += qe.tracker.phases.values.map(_.durationMs).sum
    }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object PlanListener {
  @volatile var enabled = false
  var actions = 0L
  var planningMs = 0L
  def reset(): Unit = synchronized { actions = 0L; planningMs = 0L }
}

/** Per-op layer counters from the driver's listener bus. Ops run one at
  * a time and the bus is drained at the end of each, so every event seen
  * between `beginOp` and `endOp` belongs to that op, helper-thread jobs
  * (the overlapped branches of q125/q126/q136) included; job tags would
  * miss those. Streaming progress arrives through `onOtherEvent`, which
  * sees the drains the engine runs on cloned sessions. */
final class Tracer(spark: SparkSession) extends SparkListener {
  @volatile var enabled = false
  private val sc = spark.sparkContext
  sc.addSparkListener(this)

  private val c = mutable.Map[String, Double]().withDefaultValue(0.0)
  private val intervals = mutable.ArrayBuffer[(Long, Long)]()
  private val jobStarts = mutable.ArrayBuffer[Long]()

  def beginOp(): Unit = {
    org.apache.spark.GraftSpark.drainListeners(sc)
    synchronized { c.clear(); intervals.clear(); jobStarts.clear() }
    PlanListener.reset()
    PlanListener.enabled = enabled
  }

  private def add(k: String, v: Double): Unit = c(k) = c(k) + v

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (enabled) synchronized { jobStarts += e.time }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled) synchronized {
    val s = e.stageInfo
    for (a <- s.submissionTime; b <- s.completionTime) intervals += ((a, b))
    add("driver.stages", 1)
    add("driver.tasks", s.numTasks)
    val m = s.taskMetrics
    if (m != null) {
      add("stage.task_run_s", m.executorRunTime / 1e3)
      add("stage.task_cpu_s", m.executorCpuTime / 1e9)
      add("stage.task_gc_s", m.jvmGCTime / 1e3)
      add("stage.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
      add("stage.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1048576.0)
      add("stage.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
      add("tables.input_mb", m.inputMetrics.bytesRead / 1048576.0)
      add("tables.input_rows", m.inputMetrics.recordsRead.toDouble)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = if (enabled) e match {
    case _: SparkListenerSQLExecutionStart => synchronized { add("plans.sql_executions", 1) }
    case p: StreamingQueryListener.QueryProgressEvent => synchronized {
      val pr = p.progress
      def dur(k: String): Double = Option(pr.durationMs.get(k)).map(_.doubleValue / 1e3).getOrElse(0.0)
      add("streaming.batches", 1)
      add("streaming.input_rows", pr.numInputRows.toDouble)
      add("streaming.trigger_s", dur("triggerExecution"))
      add("streaming.add_batch_s", dur("addBatch"))
      add("streaming.overhead_s", dur("triggerExecution") - dur("addBatch"))
      pr.stateOperators.foreach { so =>
        add("streaming.state_rows", so.numRowsUpdated.toDouble)
        add("streaming.state_commit_s", so.commitTimeMs / 1e3)
      }
    }
    case _ => ()
  }

  /** Layer counters of the op that just ran, `wall` seconds long, whose
    * final materialization started at `actionStartMs`. */
  def endOp(wall: Double, actionStartMs: Long): Map[String, Double] = {
    val persisted = sc.getRDDStorageInfo
    org.apache.spark.GraftSpark.drainListeners(sc)
    PlanListener.enabled = false
    synchronized {
      val union = Tracer.unionMs(intervals.toSeq) / 1e3
      val jobs = jobStarts.size.toDouble
      val actionJobs = jobStarts.count(_ >= actionStartMs).toDouble
      c.toMap ++ Map(
        "driver.jobs" -> jobs,
        "operators.build_jobs" -> (jobs - actionJobs),
        "operators.action_jobs" -> actionJobs,
        "stage.union_s" -> union,
        "driver.outside_stage_s" -> math.max(0.0, wall - union),
        "materialize.persisted_rdds" -> persisted.length.toDouble,
        "materialize.persisted_mb" ->
          persisted.map(i => i.memSize + i.diskSize).sum / 1048576.0,
        "plans.actions" -> PlanListener.actions.toDouble,
        "plans.planning_s" -> PlanListener.planningMs / 1e3)
    }
  }
}

object Tracer {
  /** Total length of the union of `[start, end]` intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
