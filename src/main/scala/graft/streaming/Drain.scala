package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.StructType

/** The one AvailableNow catch-up drain: every streaming query in the
  * engine opens its file stream, starts and waits HERE. The shape is the
  * reference's restartable incremental loop (src/main.py:341-369: fetch
  * a window, transform it, upsert it, resume from a bookmark) — the
  * checkpoint is the bookmark, the trigger drains whatever files exist
  * and stops.
  *
  * `maxFilesPerTrigger` is the source-side throughput ceiling (SURVEY
  * T4): the drain still takes every file, in bounded micro-batches.
  *
  * `statePartitions` sizes a STATEFUL drain. The state store shards by
  * `spark.sql.shuffle.partitions` at first run (the layout is then
  * pinned in the checkpoint) and each shard pays per-batch store
  * open/commit file ops, so the count should track the data, not the
  * session default. A drain given `statePartitions` runs on a CLONED
  * session with that many shards and with no trailing empty
  * micro-batch (`noDataMicroBatches` off); a drain without it runs on
  * the caller's session unchanged. The caller's conf is never touched.
  * The clone starts from Spark's defaults, so it re-applies
  * `Tables.shareCompiledCode`: Spark clones the session again for every
  * streaming query, and without that setting each clone's tasks got a new
  * class loader and recompiled every class (q124 52, q54 5 per run).
  * It re-applies [[CheckpointFiles]] for the same reason: on Spark's
  * default manager every checkpoint file rename forked `readlink`, and
  * q54's state commits took 0.60 s of a traced perfbench `suite` pass
  * against 0.05 s with it (seed 906, 4 cores).
  *
  * Invariant for `statePartitions`: skipping the empty batch is safe
  * only when nothing relies on post-drain eviction output. The
  * watermark never ADVANCES in a no-data batch, so an inner join, a
  * dedup or an update-mode aggregate loses nothing; a left-outer join
  * that finalizes its tail with flush DELIVERIES (q94) gets its
  * eviction scan inside those data batches. A left-outer drain without
  * flush traffic must NOT pass `statePartitions`: its last real batch's
  * watermark gain is applied by exactly that empty batch.
  */
object Drain {

  /** A drain's file source. `stream()` opens a new reader each call, so
    * one drain can read the directory as several independent sources
    * (the interval join's two sides). */
  final class Source private[Drain] (session: SparkSession, dir: String,
      schema: StructType, maxFilesPerTrigger: Option[Int]) {
    def stream(): DataFrame = {
      val reader = session.readStream.schema(schema)
      maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
      reader.parquet(dir)
    }
  }

  /** Drain every unprocessed parquet file under `srcDir` through the
    * writer `sink` builds from the source; returns when the drain ends. */
  def apply(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      checkpointDir: String,
      maxFilesPerTrigger: Option[Int] = None,
      statePartitions: Option[Int] = None)(
      sink: Source => DataStreamWriter[Row]): Unit = {
    val session = statePartitions.fold(spark) { n =>
      val s = spark.newSession()
      graft.Tables.shareCompiledCode(s)
      CheckpointFiles.install(s)
      s.conf.set("spark.sql.shuffle.partitions", n)
      s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", false)
      s
    }
    sink(new Source(session, srcDir, schema, maxFilesPerTrigger))
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
  }

  // The scratch layout of a drain under one TempDirs root.
  def srcDir(root: String): String = s"$root/src"
  def targetDir(root: String): String = s"$root/target"
  def checkpointDir(root: String): String = s"$root/ckpt"
  /** One file per committed micro-batch. */
  def commitsDir(root: String): String = s"${checkpointDir(root)}/commits"

  /** A drain's parquet output directory. The sinks that write it record
    * the schema of the rows they write, so [[read]] passes that schema
    * instead of starting Spark's schema-inference job (one job per
    * read-back). */
  final class Target(val dir: String) {
    @volatile private var written: Option[StructType] = None
    def wrote(schema: StructType): Unit = written = Some(schema)
    def read(spark: SparkSession): DataFrame =
      written.fold(spark.read.parquet(dir))(spark.read.schema(_).parquet(dir))
  }

  /** Split `batch` into `nFiles` parquet files under `srcDir(root)` and
    * drain them one file per micro-batch, so a result that equals the
    * one-shot batch plan is correct ACROSS micro-batch boundaries. */
  def split(root: String, batch: DataFrame, nFiles: Int)(
      sink: Source => DataStreamWriter[Row]): Unit = {
    batch.repartition(nFiles).write.parquet(srcDir(root))
    apply(batch.sparkSession, srcDir(root), batch.schema, checkpointDir(root),
      maxFilesPerTrigger = Some(1))(sink)
  }

  /** Append `out`, a streaming frame, to `target` as parquet files. */
  def toParquet(target: Target)(out: DataFrame): DataStreamWriter[Row] = {
    target.wrote(out.schema)
    out.writeStream.format("parquet").option("path", target.dir)
  }

  /** Stateless per-micro-batch sink: `transform` runs on each micro-batch
    * as an ordinary batch plan and its result appends to `target`.
    * Correct whenever each input row is self-contained (a document
    * carries its whole text); a backlog is just more batches of the same
    * plan. */
  def appendEach(target: Target)(
      transform: DataFrame => DataFrame): Source => DataStreamWriter[Row] =
    _.stream().writeStream.foreachBatch { (b: DataFrame, _: Long) =>
      val out = transform(b)
      target.wrote(out.schema)
      out.write.mode("append").parquet(target.dir)
    }
}
