package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Registry of the canonical test tables (TESTDATA.md / FIXTURES.md §B).
  *
  * Roles (SURVEY.md §1/§2): `events` stands in for the reference's SCED
  * telemetry stream (reference: src/main.py:59-93), `embeddings` for the
  * pgvector `document_embeddings` table (reference:
  * src/storage/pgvector_storage.py:89-96), `documents` for the Document
  * model (reference: src/schema/models.py:7-12).
  *
  * At 100 TB these would be partitioned tables (events by date,
  * lineitem/orders by date buckets); here they are single parquet files.
  * All loads go through `spark.read.parquet` so Catalyst predicate
  * pushdown + column pruning apply (SURVEY.md §4).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Session-level settings every entry point must apply once at startup
    * (Verify/Bench mains, the flagship `entry`, test builders) — NOT per
    * table load, so no loader mutates shared session state mid-query.
    * nanosAsLong is best-effort legacy support: older Spark reads parquet
    * TIMESTAMP(NANOS) as raw int64 under it; Spark 4.1+ ignores it and
    * `load` below adapts to whatever type the reader actually produced.
    * Also registers graft's custom SQL functions (cosine_sim) — the
    * FunctionRegistry path a `spark.sql.extensions=graft.plans.
    * GraftExtensions` deployment gets automatically.
    *
    * Sizes Spark's generated-class cache to [[CodegenCacheEntries]].
    * Ordering invariant: `CodeGenerator` reads
    * `spark.sql.codegen.cache.maxEntries` ONCE, when the JVM first
    * generates code, so this must run before the first query; a later
    * call (or a later session) has no effect on the cap. The conf is
    * static, which `RuntimeConfig.set` rejects, hence `sessionState.conf`.
    * The cache is an LRU keyed on (thread context class loader, code
    * text); in `local[N]` the driver and the executor tasks run under
    * different loaders, so every class takes TWO entries. At Spark's
    * default of 100 the working set thrashes: one perfbench `suite` pass
    * needs ~181 entries (q132 141, q91 17, q54 12, q26 11) and, cycled in
    * the same order every pass, an LRU never hits, so each pass
    * recompiled ~180 classes; one 136-query pass needs 2,970 entries, and
    * the second of two sf0.001 passes in one JVM compiled 5,005 classes
    * (317 with the cap, 4 with [[shareCompiledCode]] as well). Janino was
    * 25% of Java CPU samples over 23 q132 runs. Measured cost: ~25 KB
    * heap per cached class.
    *
    * Installs [[graft.streaming.CheckpointFiles]], so local streaming
    * checkpoints rename without forking `readlink`. */
  def configure(spark: SparkSession): Unit = {
    spark.sessionState.conf.setConfString(
      "spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
    shareCompiledCode(spark)
    graft.streaming.CheckpointFiles.install(spark)
    try spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    catch { case scala.util.control.NonFatal(_) => () }
    // AQE coalesce floor: Spark's stock 1 MB. Rejected alternative:
    // a 4kb floor un-serializes CPU-dense tiny-byte stages
    // (q59's CC-contraction rounds ran n=2..7 of 32; at 4kb n=14..32,
    // isolated wall -25%) but IN-SUITE, back-to-back quiet A/B legs
    // read 179.7 s (stock) vs 206.0 s (4kb): the extra tiny tasks'
    // fixed cost across every query's small stages outweighs the
    // per-stage parallelism, and even q59 was +1.3 s in-suite.
    graft.plans.GraftExtensions.install(spark)
  }

  /** Generated-class cache cap: the smallest power of two above one full
    * 136-query pass (2,970 entries) plus what a pass cannot reuse (317
    * classes without [[shareCompiledCode]]). perfbench holds ~200-270. */
  val CodegenCacheEntries = 4096

  /** Session settings under which a repeat of the same plan hits the
    * generated-class cache instead of compiling again; `configure` applies
    * them, and a `newSession()` clone (which starts from Spark's defaults)
    * must apply them again, before its first job (a session reads the
    * isolation setting once, at first use).
    *  - No codegen stage id in the class name. Under AQE a stage's id
    *    varies from run to run, so the same stage got a new name, hence
    *    new code text, on most runs (q132 at sf0.001: 4-10 of its 141
    *    classes per repeat).
    *  - No per-session artifact class loader on the executors. Every
    *    streaming query runs on its own `cloneSession()`, whose new session
    *    id gave its tasks a new loader, so each drain recompiled every
    *    task-side class (q124 52 classes per run, q54 5). graft adds no
    *    session artifacts, so the isolation bought nothing. */
  def shareCompiledCode(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.codegen.useIdInClassName", false)
    spark.conf.set("spark.sql.artifact.isolation.enabled", false)
  }

  /** Classes this JVM has compiled so far (cache hits do not count). */
  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Parquet schemas this JVM has inferred; the key is documented on [[load]]. */
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[SchemaKey, org.apache.spark.sql.types.StructType]()

  private final case class SchemaKey(
      path: String, listing: Seq[String], readerConf: Seq[(String, String)])

  /** `spark.read.parquet(path)` with the schema inferred once per key (see
    * [[load]]). Spark infers a parquet schema with a job of its own
    * (`SchemaMergeUtils.mergeSchemasInParallel`: one stage, one task, a
    * serialized Hadoop conf, no SQL execution id), even for one file with
    * `mergeSchema` off, so every bare read cost one job. A warm load of
    * sf0.01 `documents` took 66-77 ms process CPU (56-61 ms wall) bare
    * and 10 ms (5 ms) with the schema supplied (4 cores, 300 loads, 2
    * runs). The first read of a key still runs Spark's own inference, so
    * no hand-written schema can drift from Spark's; later reads pass its
    * result to `spark.read.schema` and start no job. The inference runs
    * outside the map's lock (get, else infer, then `putIfAbsent`):
    * `Overlap` branches load concurrently, and two first reads of one key
    * at worst infer twice. For stable paths only (the tables, published
    * [[graft.pipeline.PreparedArtifact]]s): a per-run scratch directory
    * never repeats, and caching it would only grow the map. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val readerConf = spark.conf.getAll.toSeq.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    }.sorted
    val key = SchemaKey(path, graft.pipeline.PreparedArtifact.listing(spark, path), readerConf)
    val known = schemas.get(key)
    if (known != null) spark.read.schema(known).parquet(path)
    else {
      val df = spark.read.parquet(path)
      schemas.putIfAbsent(key, df.schema)
      df
    }
  }

  /** Table `name` of `sfDir`, read through [[read]], so its schema is
    * inferred once per JVM and key. Each part of the key rules out a
    * stale schema:
    *  - the path;
    *  - its leaf-file listing (name, length, mtime; the one
    *    [[graft.pipeline.PreparedArtifact.listing]] the artifact
    *    fingerprints use): a table rewritten in place with another
    *    schema is inferred again;
    *  - the session's `spark.sql.parquet.*` and
    *    `spark.sql.legacy.parquet.*` settings, sorted: inference reads
    *    them (how timestamps and binary columns map), so a session that
    *    sets one differently infers for itself. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = name match {
    case "events" =>
      // events.ts must come out timezone-naive micro-precision
      // (timestamp_ntz) regardless of how this Spark version read the
      // file — the writer has shipped TIMESTAMP(NANOS) (older data,
      // read as raw int64 under nanosAsLong) and TIMESTAMP(MICROS,
      // isAdjustedToUTC=false) (read natively as timestamp_ntz), and a
      // session-zone read would surface as TimestampType. Branching on
      // the LOADED dtype instead of hard-coding one era's conversion is
      // what keeps one env/format bump from failing analysis suite-wide
      // (a stale BIGINT path once failed 43 queries).
      import org.apache.spark.sql.functions.{col, expr}
      import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
      val raw = read(spark, s"$sfDir/$name.parquet")
      raw.schema("ts").dataType match {
        case TimestampNTZType => raw
        case LongType =>
          // nanos-as-int64 era: truncate to micros (data is micro-aligned;
          // DuckDB's reader performs the same truncation).
          raw.withColumn("ts",
            expr("timestamp_micros(ts div 1000)").cast("timestamp_ntz"))
        case TimestampType => raw.withColumn("ts", col("ts").cast("timestamp_ntz"))
        case other => sys.error(
          s"events.ts: unexpected parquet-read type $other — extend Tables.load")
      }
    case _ => read(spark, s"$sfDir/$name.parquet")
  }

  /** Round-robin fan-out applied ONLY when the plan currently reads
    * fewer partitions than the session can run in parallel. The test
    * files are single parquet row groups, so every scan starts as ONE
    * task and compute-heavy stages above it serialize; a production
    * many-file layout already provides the parallelism, making this a
    * structural no-op there. Call it AFTER filters/projections so
    * pushdown still reaches the scan. */
  def spread(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    // Estimate the scan's task count from the physical scan nodes with
    // Spark's own split math (FilePartition.maxSplitBytes) instead of
    // probing df.rdd: building the RDD forces a second physical
    // planning pass, and under AQE it can even execute upstream
    // stages. Reading the FileSourceScanExec (sparkPlan — planned once,
    // no AQE stage execution) rather than the logical relation keeps
    // the estimate honest under PARTITION PRUNING: a filter that
    // selects one of many partition directories must count only that
    // directory's files, or the helper would see "plenty of files" and
    // skip the very fan-out the pruned one-file scan needs.
    val conf = spark.sessionState.conf
    val estTasks =
      try {
        val scans = df.queryExecution.sparkPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        }
        if (scans.isEmpty) df.rdd.getNumPartitions // non-file plan: old probe
        else {
          // Estimate PER SCAN and take the minimum: each
          // scan computes its own bytesPerCore from its own files —
          // pooling all scans' sizes into one pot let a large scan
          // inflate a small one's split count — and the LEAST-parallel
          // scan is the one whose serialized compute the fan-out
          // exists to prevent, so it governs the decision.
          scans.map { f =>
            // Dynamic (runtime) pruning filters can't be evaluated at
            // planning time — estimate from the statically-pruned set.
            val static = f.partitionFilters.filterNot(_.exists(
              _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.DynamicPruning]))
            val fileSizes = f.relation.location.listFiles(static, f.dataFilters)
              .flatMap(_.files.map(_.getLen))
            val openCost = conf.filesOpenCostInBytes
            val padded = fileSizes.map(_ + openCost)
            val bytesPerCore = padded.sum / math.max(1, target)
            val maxSplit = math.max(1L, math.min(conf.filesMaxPartitionBytes,
              math.max(openCost, bytesPerCore)))
            // Parquet splits at maxSplit within a file; bin-packing
            // across files only merges, so per-file splits summed bound
            // the count from above.
            fileSizes.map(sz => math.max(1L, (sz + maxSplit - 1) / maxSplit)).sum.toInt
          }.min
        }
      } catch { case scala.util.control.NonFatal(_) => df.rdd.getNumPartitions }
    if (estTasks < target) df.repartition(target) else df
  }

  /** Planted-copy id-headroom guard: many dedup/media
    * queries mint synthetic copies at doc_id + K with the SMALLEST K
    * being 70000 (q95/q96/q112), so base ids must stay strictly below
    * that or a regenerated larger corpus would collide planted ids with
    * real ones — minting phantom dup pairs IDENTICALLY in both engines,
    * invisible to the oracle gate. Called once per entry point
    * (Verify/Bench), not per load: one max() aggregate per run. */
  val PlantIdFloor = 70000L

  /** The vector tier's analog: q100/q119 mint append batches at
    * vec_id + 100000, and the IVF/PQ seed conventions (vec_id < cells /
    * < PqK) assume the seeds are corpus rows — both need base vec_ids
    * strictly below the batch offset. */
  val VecPlantIdFloor = 100000L

  def assertIdHeadroom(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions.{col, max}
    val m = load(spark, sfDir, "documents")
      .agg(max(col("doc_id"))).head().getLong(0)
    require(m < PlantIdFloor,
      s"documents.doc_id max $m >= $PlantIdFloor: planted-copy offsets " +
        s"would collide with real ids — regenerate plants with more headroom")
    val mv = load(spark, sfDir, "embeddings")
      .agg(max(col("vec_id"))).head().getLong(0)
    require(mv < VecPlantIdFloor,
      s"embeddings.vec_id max $mv >= $VecPlantIdFloor: appended-batch ids " +
        s"(q100/q119's +100000) would collide with real vectors")
  }
}
