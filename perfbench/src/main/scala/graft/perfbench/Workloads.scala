package graft.perfbench

import org.apache.spark.sql.SparkSession

/** What one op did, timed from outside the engine. */
final case class OpRun(wall: Double, build: Double, action: Double, actionStartMs: Long,
    error: Option[String], fingerprint: Map[String, Any], layers: Map[String, Double])

/** A workload: a fixed op list, the artifacts its ops read, and how to
  * run and check one op. */
trait Workload {
  /** Off for the one plain pass of a traced run that prices the output
    * check (`check.overhead_s`). */
  var fingerprinting = true
  def ops: Seq[String]
  def artifacts: Seq[String]
  def runOp(spark: SparkSession, dataDir: String, op: String): OpRun
  def finalChecks(spark: SparkSession, dataDir: String,
      passes: Seq[Harness.PassResult]): Map[String, Any]
}

private object Timed {
  def now(): Double = System.nanoTime() / 1e9
  def describe(e: Throwable): String =
    e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage).replaceAll("\\s+", " ").take(200)
}

/** Registered queries, each materialized through the noop sink, as
  * `graft.Bench.measure` does. `build` is the call into the registered
  * function (eager checkpoints, collects and drains included), `action`
  * the final materialization. */
final class QueryWorkload(val ops: Seq[String], val artifacts: Seq[String]) extends Workload {
  import Timed._

  def runOp(spark: SparkSession, dataDir: String, op: String): OpRun = {
    val fn = graft.SparkEntry.queries(op)
    val t0 = now()
    var tA = t0
    var actionStartMs = System.currentTimeMillis()
    try {
      val df = fn(spark, dataDir)
      tA = now()
      actionStartMs = System.currentTimeMillis()
      val fp =
        if (fingerprinting) Fingerprint.materialize(df)
        else { df.write.mode("overwrite").format("noop").save(); Map.empty[String, Any] }
      val t1 = now()
      OpRun(t1 - t0, tA - t0, t1 - tA, actionStartMs, None, fp, Map.empty)
    } catch {
      case scala.util.control.NonFatal(e) =>
        val t1 = now()
        OpRun(t1 - t0, tA - t0, t1 - tA, actionStartMs, Some(describe(e)), Map.empty, Map.empty)
    }
  }

  /** Every pass must give every op the same row count and row hash. */
  def finalChecks(spark: SparkSession, dataDir: String,
      passes: Seq[Harness.PassResult]): Map[String, Any] = {
    val unstable = ops.filter { op =>
      passes.map(_.ops.find(_.name == op).map(o =>
        o.fingerprint.get("values").map(_.asInstanceOf[Map[String, Any]])
          .map(v => (v.get("n"), v.get("h"))))).distinct.size > 1
    }
    Map("unstable_hash" -> unstable)
  }
}

/** The paper's E1 ingest: one op is one daily-ingest window, the
  * summaries of every day in the month upserted into an in-memory Derby
  * vector store. The store lives for the whole run, so the first window
  * inserts every day and each later window updates them in place. */
final class IngestWorkload(storeName: String) extends Workload {
  import Timed._
  val ops: Seq[String] = Seq("e1_window")
  val artifacts: Seq[String] = Seq.empty
  private val url = graft.sinks.JdbcSink.memoryUrl(storeName)

  def runOp(spark: SparkSession, dataDir: String, op: String): OpRun = {
    val t0 = now()
    var tA = t0
    var actionStartMs = System.currentTimeMillis()
    try {
      val summaries = graft.pipeline.DailySummary.run(spark, dataDir)
      tA = now()
      actionStartMs = System.currentTimeMillis()
      val st = graft.pipeline.VectorStore.store(summaries, url)
      val t1 = now()
      OpRun(t1 - t0, tA - t0, t1 - tA, actionStartMs, None,
        Map("inserted" -> st.inserted, "updated" -> st.updated),
        Map("sinks.upsert_s" -> (t1 - tA), "sinks.rows_inserted" -> st.inserted.toDouble,
          "sinks.rows_updated" -> st.updated.toDouble))
    } catch {
      case scala.util.control.NonFatal(e) =>
        val t1 = now()
        OpRun(t1 - t0, tA - t0, t1 - tA, actionStartMs, Some(describe(e)), Map.empty, Map.empty)
    }
  }

  /** Read-back: the store must hold exactly the last window's summaries. */
  def finalChecks(spark: SparkSession, dataDir: String,
      passes: Seq[Harness.PassResult]): Map[String, Any] = {
    import org.apache.spark.sql.functions.col
    val stored = graft.pipeline.VectorStore.load(spark, url)
      .select(col("vector_id"), col("semantic_sentence"))
    val expected = graft.pipeline.DailySummary.run(spark, dataDir)
      .select(col("vector_id"), col("semantic_sentence"))
    Map("readback_rows" -> stored.count(),
      "readback_ids" -> stored.select("vector_id").collect().map(_.getString(0)).sorted.toSeq,
      "readback_missing" -> expected.exceptAll(stored).count(),
      "readback_extra" -> stored.exceptAll(expected).count())
  }
}

/** The persisted artifacts the measured queries read, each built through
  * its engine `prepared` function. */
object Artifacts {
  def prepare(name: String, spark: SparkSession, dir: String): Unit = name match {
    case "stream_source" => graft.streaming.NormalizedEvents.sourceDir(spark, dir)
    case other => sys.error(s"unknown artifact $other")
  }
}

/** `workloads.json`: the query families (every registered query in
  * exactly one) and, per workload, the ops one run measures, the
  * artifacts they read and how many passes warm the JVM up before timing. */
final case class WorkloadSpec(kind: String, warmPasses: Int, ops: Seq[String],
    artifacts: Seq[String])

final case class Spec(families: Map[String, Seq[String]], workloads: Map[String, WorkloadSpec]) {
  def workload(name: String): Workload = workloads.get(name) match {
    case Some(w) if w.kind == "ingest" =>
      new IngestWorkload(s"perfbench_${ProcessHandle.current().pid()}")
    case Some(w) => new QueryWorkload(w.ops, w.artifacts)
    case None => sys.error(s"unknown workload $name; known: ${workloads.keys.mkString(", ")}")
  }
}

object Workloads {
  def load(path: String): Spec = {
    import org.json4s._
    val js = org.json4s.jackson.JsonMethods.parse(
      new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8"))
    def strings(v: JValue): Seq[String] = v match {
      case JArray(xs) => xs.collect { case JString(s) => s }
      case _ => Seq.empty
    }
    val families = (js \ "families") match {
      case JObject(fs) => fs.map { case (k, v) => k -> strings(v) }.toMap
      case _ => Map.empty[String, Seq[String]]
    }
    val workloads = (js \ "workloads") match {
      case JObject(ws) => ws.map { case (k, v) =>
        val JString(kind) = v \ "kind": @unchecked
        val JInt(warm) = v \ "warm_passes": @unchecked
        k -> WorkloadSpec(kind, warm.toInt, strings(v \ "ops"), strings(v \ "artifacts"))
      }.toMap
      case _ => Map.empty[String, WorkloadSpec]
    }
    Spec(families, workloads)
  }

  /** Empty when the query families cover `registered` exactly once each
    * and every op a query workload measures is registered. */
  def coverageErrors(spec: Spec, registered: Set[String]): Seq[String] = {
    val listed = spec.families.values.flatten.toSeq
    val dup = listed.groupBy(identity).collect { case (q, xs) if xs.size > 1 => s"listed twice: $q" }
    val missing = (registered -- listed).toSeq.sorted.map(q => s"registered but in no family: $q")
    val extra = (listed.toSet -- registered).toSeq.sorted.map(q => s"listed but not registered: $q")
    val stray = spec.workloads.toSeq.flatMap { case (w, s) =>
      if (s.kind == "ingest") Nil
      else s.ops.filterNot(registered).map(q => s"$w measures unregistered $q")
    }
    dup.toSeq.sorted ++ missing ++ extra ++ stray
  }
}
