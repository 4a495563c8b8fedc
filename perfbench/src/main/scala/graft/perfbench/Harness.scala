package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One benchmark run in one JVM: set the engine up, run the workload's
  * warm passes, then timed passes over the workload's fixed op list until
  * `seconds` have passed, then set the engine up again, repeatedly, in
  * the warm JVM. It calls the engine only through its public
  * entry points (registered query functions, `DailySummary.run`,
  * `VectorStore`, the artifacts' `prepared` functions) and times them
  * from outside. The record goes to `--out` as JSON; `run.py` adds the
  * DuckDB output check and prints the result line.
  *
  * Usage: Harness --workload W --workloads FILE --data DIR --work DIR
  *        --seconds S --trace 0|1 --out FILE
  */
object Harness {
  val Cores = 4
  val SetupsMin = 11
  val SetupSeconds = 2.0

  final case class Args(workload: String, workloads: String, data: String,
      work: String, seconds: Double, trace: Boolean, out: String)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("workloads"), m("data"), m("work"), m("seconds").toDouble,
      m("trace") == "1", m("out"))
  }

  /** One operation's outcome in one pass. */
  final case class OpResult(name: String, wall: Double, build: Double, action: Double,
      error: Option[String], fingerprint: Map[String, Any], layers: Map[String, Double])

  /** `cpu`: CPU seconds of the process, `jitCpu` and `gcCpu` those of
    * the JIT compiler and the GC among them; `calNs`: host-speed probe
    * (see [[Calibration]]) taken right after the pass. */
  final case class PassResult(wall: Double, cpu: Double, jitCpu: Double, gcCpu: Double, gc: Double,
      ops: Seq[OpResult], traced: Boolean, calNs: Double, liveHeapMb: Double)

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU seconds of the whole process: every thread, including the ones
    * that end inside a pass (each streaming query's execution thread),
    * GC and the JIT compiler. */
  private def processCpu(): Double = osBean.getProcessCpuTime / 1e9

  /** CPU seconds of the JVM's own threads by kind ("jit": the JIT
    * compiler threads; "gc": the GC and VM threads), read from
    * `/proc/self/task/<tid>/stat` (utime + stime, in 1/100 s); empty where
    * there is no `/proc`. `run.py` starts the JVM with a fixed set of
    * compiler threads, so none ends and takes its count with it. */
  private def vmThreadCpu(): Map[String, Double] = {
    val tasks = Option(new java.io.File("/proc/self/task").listFiles()).getOrElse(Array.empty)
    tasks.toSeq.flatMap { t =>
      try {
        val comm = new String(Files.readAllBytes(t.toPath.resolve("comm")), "UTF-8").trim
        val kind =
          if (comm.contains("CompilerThre")) Some("jit")
          else if (comm.startsWith("GC Thread") || comm.startsWith("G1 ") || comm == "VM Thread") Some("gc")
          else None
        kind.map { k =>
          val stat = new String(Files.readAllBytes(t.toPath.resolve("stat")), "UTF-8")
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
          k -> (f(11).toLong + f(12).toLong) / 100.0
        }
      } catch { case _: java.io.IOException => None }
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }
  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
  private def now(): Double = System.nanoTime() / 1e9

  def main(argv: Array[String]): Unit = {
    val mainEntered = System.currentTimeMillis()
    val args = parse(argv)
    val record = run(args) + ("main_entered_ms" -> mainEntered)
    val json = org.json4s.jackson.Serialization.write(record)(org.json4s.DefaultFormats)
    Files.write(Paths.get(args.out), json.getBytes("UTF-8"))
    // Spark leaves non-daemon threads behind; the record is written.
    System.exit(0)
  }

  def session(work: Path, trace: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      // The same retention caps graft.Bench runs with.
      .config("spark.sql.ui.retainedExecutions", "5")
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.ui.retainedDeadExecutors", "1")
      .withExtensions(new graft.plans.GraftExtensions)
    // Static conf, so sessions the engine clones (streaming.TunedSession)
    // report their plans too.
    if (trace) b.config("spark.sql.queryExecutionListeners", classOf[PlanListener].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Tables.configure(spark)
    spark
  }

  /** Hard-links the generated tables into a fresh directory. Artifacts are
    * keyed on the data directory, so each set-up builds them anew. */
  private def linkData(src: Path, dst: Path): String = {
    Files.createDirectories(dst)
    Files.list(src).iterator().asScala.foreach { p =>
      Files.createLink(dst.resolve(p.getFileName), p)
    }
    dst.toString
  }

  def run(args: Args): Map[String, Any] = {
    val spec = Workloads.load(args.workloads)
    val coverage = Workloads.coverageErrors(spec, graft.SparkEntry.queries.keySet)
    val wl: Workload = spec.workload(args.workload)
    val warmPasses = spec.workloads(args.workload).warmPasses
    val work = Paths.get(args.work)
    val tmpRoot = Paths.get(System.getProperty("java.io.tmpdir"))

    // ---- set-up: session start + every artifact the ops read. Done once
    // cold here, and again at the end in the warm JVM, at least `SetupsMin`
    // times and for at least `SetupSeconds`.
    var spark: SparkSession = null
    var dataDir: String = null
    def setUp(i: Int): Map[String, Double] = {
      val (c0, v0, t0) = (processCpu(), vmThreadCpu(), now())
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      System.setProperty("java.io.tmpdir", Files.createDirectories(tmpRoot.resolve(s"setup$i")).toString)
      spark = session(work, args.trace)
      val tSession = now() - t0
      dataDir = linkData(Paths.get(args.data), work.resolve(s"data$i"))
      val prep = wl.artifacts.map { a =>
        val ta = now()
        Artifacts.prepare(a, spark, dataDir)
        a -> (now() - ta)
      }
      val (c1, v1) = (processCpu(), vmThreadCpu())
      def vm(k: String) = v1.getOrElse(k, 0.0) - v0.getOrElse(k, 0.0)
      Map("wall_s" -> (now() - t0), "cpu_s" -> (c1 - c0 - vm("jit") - vm("gc")),
        "session_s" -> tSession) ++
        prep.map { case (a, s) => s"prepare.${a}_s" -> s }
    }
    val coldSetup = setUp(0)

    val tracer = if (args.trace) Some(new Tracer(spark)) else None
    val heapBean = ManagementFactory.getMemoryMXBean
    def pass(traced: Boolean): PassResult = {
      tracer.foreach(_.enabled = traced)
      val (c0, v0, g0, t0) = (processCpu(), vmThreadCpu(), gcSeconds(), now())
      val ops = wl.ops.map { op =>
        tracer.foreach(_.beginOp())
        val r = wl.runOp(spark, dataDir, op)
        val layers = tracer.filter(_ => traced).map(_.endOp(r.wall, r.actionStartMs)).getOrElse(Map.empty)
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
        OpResult(op, r.wall, r.build, r.action, r.error, r.fingerprint, layers ++ r.layers)
      }
      val (wall, cpu, v1, gc) = (now() - t0, processCpu() - c0, vmThreadCpu(), gcSeconds() - g0)
      def vm(k: String) = v1.getOrElse(k, 0.0) - v0.getOrElse(k, 0.0)
      tracer.foreach(_.enabled = false)
      // Live heap: what survives a full collection at the pass boundary.
      // The first collection lets Spark's ContextCleaner release what the
      // pass's shuffles and broadcasts held; the second frees that memory.
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
      Thread.sleep(100)
      System.gc()
      val live = heapBean.getHeapMemoryUsage.getUsed / 1048576.0
      PassResult(wall, cpu, vm("jit"), vm("gc"), gc, ops, traced, Calibration.sampleNs(), live)
    }

    // Warm-up: a fixed number of passes. The JIT keeps compiling for tens
    // of seconds in a fresh JVM; a fixed count (not a time) puts every run
    // at the same point of that curve when timing starts.
    val warmT0 = now()
    val warm = Seq.fill(warmPasses)(pass(traced = false))
    val warmS = now() - warmT0
    val passes = mutable.ArrayBuffer[PassResult]()
    val deadline = now() + args.seconds
    // A traced run alternates traced and untraced passes, so the tracing
    // overhead is measured in the same JVM; it runs at least one of each.
    while (now() < deadline || (args.trace && passes.size < 2) || passes.isEmpty)
      passes += pass(traced = args.trace && passes.size % 2 == 0)
    val checks = wl.finalChecks(spark, dataDir, (warm ++ passes).toSeq)
    // A traced run ends with one pass without the output fingerprint.
    val plainPassS = if (!args.trace) None else {
      wl.fingerprinting = false
      try Some(pass(traced = false).wall) finally wl.fingerprinting = true
    }
    val oracle = wl.ops.flatMap(op => graft.SparkEntry.oracleSql.get(op).map(op -> _)).toMap

    // ---- set-up, repeated in the warm JVM: a cold set-up is mostly class
    // loading and JIT, whose time varies from run to run far more than
    // the set-up's own work does.
    val setupCalNs = Calibration.sampleNs()
    val setups = mutable.ArrayBuffer[Map[String, Double]]()
    val setupT0 = now()
    while (setups.size < SetupsMin || now() - setupT0 < SetupSeconds) setups += setUp(setups.size + 1)
    val setupMedian = setups.head.keySet.map(k => k -> Stats.median(setups.map(_(k)).toSeq)).toMap
    spark.stop()

    Map(
      "workload" -> args.workload,
      "trace" -> args.trace,
      "ops" -> wl.ops,
      "coverage_errors" -> coverage,
      "cold_setup" -> coldSetup,
      "setups" -> setups.toSeq,
      "setup_median" -> setupMedian,
      "setup_cal_wall_ns" -> setupCalNs,
      "cores" -> Cores,
      "warm_s" -> warmS,
      "plain_pass_s" -> plainPassS,
      "checks" -> checks,
      "oracle_sql" -> oracle,
      "passes" -> (warm ++ passes).toSeq.zipWithIndex.map { case (p, i) =>
        Map("warm" -> (i < warm.size), "traced" -> p.traced, "wall_s" -> p.wall,
          "cpu_s" -> p.cpu, "jit_cpu_s" -> p.jitCpu, "gc_cpu_s" -> p.gcCpu, "gc_s" -> p.gc, "cal_wall_ns" -> p.calNs,
          "live_heap_mb" -> p.liveHeapMb,
          "ops" -> p.ops.map { o =>
            Map("name" -> o.name, "wall_s" -> o.wall, "build_s" -> o.build,
              "action_s" -> o.action, "error" -> o.error.orNull,
              "fingerprint" -> o.fingerprint, "layers" -> o.layers)
          })
      })
  }
}

/** Host-speed probe: the wall time of a fixed single-threaded integer
  * loop (splitmix64, allocation-free, result kept), best of three. Taken
  * before the set-ups and between passes, never inside one; its spread
  * over a run shows how much other tenants slowed the host. */
object Calibration {
  @volatile private var sink = 0L

  private def mix(iters: Long): Long = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0L
    while (i < iters) {
      x ^= x >>> 30; x *= 0xBF58476D1CE4E5B9L
      x ^= x >>> 27; x *= 0x94D049BB133111EBL
      x ^= x >>> 31; i += 1
    }
    x
  }

  def sampleNs(): Double = (1 to 3).map { _ =>
    val t0 = System.nanoTime()
    sink += mix(10000000L)
    (System.nanoTime() - t0).toDouble
  }.min
}

/** Output fingerprint, taken with `Dataset.observe` in the same
  * materialization that is timed. `n` and `h` (an order-insensitive sum
  * of row hashes) must repeat exactly from pass to pass; the per-column
  * aggregates are compared by `run.py` with the same aggregates over the
  * DuckDB oracle's rows. */
object Fingerprint {
  def kind(t: DataType): String = t match {
    case _: NumericType => "num"
    case StringType | VarcharType(_) | CharType(_) => "str"
    case BooleanType => "bool"
    case DateType | TimestampType | TimestampNTZType => "time"
    case _: ArrayType => "arr"
    case _ => "other"
  }

  private def hashable(f: StructField): Column = {
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case a: ArrayType => hasMap(a.elementType)
      case s: StructType => s.fields.exists(x => hasMap(x.dataType))
      case _ => false
    }
    if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name)
  }

  def exprs(schema: StructType): Seq[Column] = {
    val rowHash = if (schema.isEmpty) lit(0L)
      else pmod(xxhash64(schema.fields.map(hashable).toSeq: _*), lit(2147483647L))
    Seq(count(lit(1)).as("n"), sum(rowHash).as("h")) ++
      schema.fields.zipWithIndex.flatMap { case (f, i) =>
        val c = col(s"`${f.name}`")
        val nn = count(c).as(s"c${i}_nn")
        kind(f.dataType) match {
          case "num" => Seq(nn, sum(c.cast("double")).as(s"c${i}_sum"),
            sum(abs(c.cast("double"))).as(s"c${i}_abs"))
          case "str" => Seq(nn, sum(length(c)).as(s"c${i}_len"))
          case "bool" => Seq(nn, sum(c.cast("int")).as(s"c${i}_true"))
          case "time" => Seq(nn, sum(year(c)).as(s"c${i}_year"))
          case "arr" => Seq(nn, sum(when(c.isNull, 0).otherwise(size(c))).as(s"c${i}_size"))
          case _ => Seq(nn)
        }
      }
  }

  /** Materializes `df` through the noop sink and returns its fingerprint. */
  def materialize(df: DataFrame): Map[String, Any] = {
    val obs = Observation()
    val ex = exprs(df.schema)
    df.observe(obs, ex.head, ex.tail: _*).write.mode("overwrite").format("noop").save()
    val m = obs.get
    Map("columns" -> df.schema.fields.map(f =>
        Map("name" -> f.name, "kind" -> kind(f.dataType))).toSeq,
      "values" -> m.map { case (k, v) => k -> (if (v == null) null else v.toString) })
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
