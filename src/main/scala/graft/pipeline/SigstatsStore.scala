package graft.pipeline

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Bucketed, manifest-versioned layout for the card-maintenance
  * sigstats artifact. q134's streaming card maintenance used to
  * rewrite the FULL corpus-sized sigstats table every micro-batch, so
  * an N-batch backfill paid N full-index scans and the adversarial 10×
  * backlog tail ramped 2.4 → 6.3 s/batch as dup-heavy appends grew the index.
  *
  * This store applies the hash-bucket pattern the engine already
  * proved on [[graft.streaming.StatefulCounter]] (touched-buckets-only
  * rewrite, dormant buckets' files untouched), with the versioned
  * retention q134's replay contract requires:
  *
  *   - sigstats rows live in [[NumBuckets]] hash buckets of `sig`
  *     (md5 hex → first 8 hex digits mod buckets — engine- and
  *     Spark-version-independent, so the layout is stable across
  *     upgrades, unlike `hash()`'s Murmur seed).
  *   - each VERSION is a tiny driver-side MANIFEST mapping bucket →
  *     the directory holding that bucket's current parquet files. A
  *     micro-batch reads ONLY the buckets its own hashes touch, writes
  *     fresh files for exactly those buckets under the NEW version's
  *     directory, and publishes a manifest that re-references every
  *     untouched bucket's existing files where they already sit — the
  *     merge-on-read/LSM shape a production table format (Iceberg,
  *     Delta) provides, reduced to the one operation this artifact
  *     needs. v0 references the published [[CardIndex]] bucket
  *     directories directly, so seeding a maintenance run copies
  *     NOTHING.
  *   - retention keeps manifests/cards for versions {N−1, N} (the
  *     replay base plus the tip) and deletes any bucket directory no
  *     live manifest references — so disk holds ONE logical copy of
  *     the index plus the last batch's touched-bucket pre-images,
  *     strictly less than the previous two-full-copies retention.
  *
  * Replay safety: batch B reads
  * manifest/card v{B} and overwrite-writes v{B+1}; retirement at batch
  * B deletes only data unreferenced by manifests v{B} AND v{B+1}, so a
  * crash mid-write of v{B+1} leaves batch B's true base intact and the
  * overwrite makes the redo safe.
  *
  * SCALE: per micro-batch the index I/O is `touched/NumBuckets` of the
  * corpus — batch-proportional once buckets outnumber a batch's
  * distinct hashes. At 100 TB raise [[NumBuckets]] with the corpus
  * (the StatefulCounter sizing note: buckets ∝ corpus / target file
  * size); the manifest stays a driver-side O(buckets) text file.
  */
object SigstatsStore {

  /** Bucket fan-out. A DEPLOYMENT KNOB like `spark.graft.prefixBuckets`:
    * gate scales use 32 (batch-sized appends touch a strict subset at
    * the tiny-batch tier the survive-law pins); at 100 TB size it to
    * corpus / target-file-bytes. Changing it only re-layouts — bucket
    * membership is re-derived from `sig` on every write. */
  val NumBuckets = 32

  /** sig (md5 hex) → bucket: first 8 hex digits mod [[NumBuckets]].
    * Pure arithmetic on the sig text — identical on any engine or
    * Spark version, so persisted layouts never go stale. */
  def bucketOf(sig: Column): Column =
    pmod(conv(substring(sig, 1, 8), 16, 10).cast(LongType),
      lit(NumBuckets.toLong)).cast("int")

  /** The sigstats row schema (bucket column lives only in directory
    * names, never in files). */
  val Schema: StructType = StructType(Seq(
    StructField("sig", StringType), StructField("cnt", LongType),
    StructField("holder_source", StringType),
    StructField("holder_lang", StringType)))

  private def hfs(spark: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestPath(root: String, version: Int): Path =
    new Path(s"$root/v$version/manifest.tsv")

  /** List the `bucket=k` partition directories under `dir`. */
  private def bucketDirs(spark: SparkSession, dir: String): Map[Int, String] = {
    val fs = hfs(spark, dir)
    val p = new Path(dir)
    if (!fs.exists(p)) Map.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("bucket="))
      .map(s => s.getPath.getName.stripPrefix("bucket=").toInt ->
        s.getPath.toUri.getPath)
      .toMap
  }

  /** Atomic-enough manifest publish: write a temp file, rename over.
    * (foreachBatch replay overwrite-redoes a half-published version,
    * so the rename only has to keep READERS of committed versions from
    * seeing a partial file.) */
  private[graft] def writeManifest(spark: SparkSession, root: String,
      version: Int, entries: Map[Int, String]): Unit = {
    val dst = manifestPath(root, version)
    val fs = hfs(spark, root)
    val tmp = new Path(dst.getParent, s"${dst.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(entries.toSeq.sorted
      .map { case (b, p) => s"$b\t$p" }.mkString("\n").getBytes("UTF-8"))
    finally out.close()
    if (fs.exists(dst)) fs.delete(dst, false)
    require(fs.rename(tmp, dst), s"manifest publish failed: $dst")
  }

  /** bucket → current data directory for `version`. */
  def readManifest(spark: SparkSession, root: String, version: Int): Map[Int, String] = {
    val src = manifestPath(root, version)
    val fs = hfs(spark, root)
    require(fs.exists(src), s"no sigstats manifest at $src")
    val in = fs.open(src)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    text.split("\n").iterator.filter(_.nonEmpty).map { line =>
      val Array(b, p) = line.split("\t", 2)
      b.toInt -> p
    }.toMap
  }

  /** Seed version 0 of a maintenance run from a published bucketed
    * sigstats table (the [[CardIndex]] artifact): the v0 manifest
    * references the published bucket directories in place — no copy.
    * The published artifact is immutable (publish-once), so sharing
    * its files is safe; [[retire]] only ever deletes under `root`. */
  def init(spark: SparkSession, root: String, publishedSigstats: String): Unit = {
    val dirs = bucketDirs(spark, publishedSigstats)
    require(dirs.nonEmpty, s"no bucket dirs under $publishedSigstats")
    writeManifest(spark, root, 0, dirs)
  }

  /** The distinct buckets a batch-feature frame's hashes land in —
    * the batch-sized driver round-trip that makes the pruned probe
    * possible (collect is bounded by [[NumBuckets]] rows). */
  def touchedBuckets(bf: DataFrame): Seq[Int] =
    bf.select(bucketOf(col("sig")).as("b")).distinct()
      .collect().map(_.getInt(0)).sorted.toSeq

  private def emptyFrame(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Schema)

  /** Read ONLY `buckets` of sigstats at `version` — the per-batch probe
    * side. Buckets the manifest has never seen resolve to no files
    * (a batch of brand-new hashes reads nothing). */
  def readBuckets(spark: SparkSession, root: String, version: Int,
      buckets: Seq[Int]): DataFrame = {
    val m = readManifest(spark, root, version)
    val paths = buckets.flatMap(m.get)
    if (paths.isEmpty) emptyFrame(spark)
    else spark.read.schema(Schema).parquet(paths: _*)
  }

  /** Full sigstats at `version` (spec reconciliation / exports). */
  def readAll(spark: SparkSession, root: String, version: Int): DataFrame = {
    val paths = readManifest(spark, root, version).values.toSeq
    if (paths.isEmpty) emptyFrame(spark)
    else spark.read.schema(Schema).parquet(paths: _*)
  }

  /** Publish `version` from the updated TOUCHED-bucket rows: write them
    * bucket-partitioned under this version's own directory (overwrite —
    * replay-safe), then manifest = previous manifest with exactly the
    * buckets that produced files re-pointed here. Untouched buckets'
    * entries — and their FILES — carry over verbatim. */
  def commit(spark: SparkSession, root: String, version: Int,
      updatedTouched: DataFrame): Unit = {
    val dataDir = s"$root/v$version/data"
    updatedTouched
      .withColumn("bucket", bucketOf(col("sig")))
      // Cluster by bucket BEFORE the dynamic-partition write: the
      // incoming frame arrives on ~30 upstream partitions each holding
      // rows of every touched bucket, so the writer otherwise opens
      // tasks × buckets parquet writers (~900 tiny files per commit,
      // ~0.9 s/task of writer init — the bulk of q134's +1.3 s
      // gate-scale constant).
      // One numbered exchange of the touched rows (batch-proportional
      // bytes) caps it at one-two files per bucket.
      .repartition(NumBuckets, col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(dataDir)
    val prev = readManifest(spark, root, version - 1)
    writeManifest(spark, root, version, prev ++ bucketDirs(spark, dataDir))
  }

  /** Retention: keep manifests+cards only for `live` versions (the
    * replay base and the tip), and delete any bucket directory under
    * `root` that NO live manifest references. Data physically shared
    * with the published index (v0's seed) sits outside `root` and is
    * never touched. */
  def retire(spark: SparkSession, root: String, live: Seq[Int]): Unit = {
    val fs = hfs(spark, root)
    val referenced: Set[String] = live
      .filter(v => fs.exists(manifestPath(root, v)))
      .flatMap(v => readManifest(spark, root, v).values).toSet
    val rootPath = new Path(root)
    val versionDirs = fs.listStatus(rootPath).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.matches("v\\d+"))
      .filter(s => !live.contains(s.getPath.getName.drop(1).toInt))
    versionDirs.foreach { vd =>
      val v = vd.getPath
      // Dead version: manifest and card go; data dirs only if orphaned.
      fs.delete(new Path(v, "manifest.tsv"), false)
      fs.delete(new Path(v, "card"), true)
      val data = new Path(v, "data")
      if (fs.exists(data)) {
        fs.listStatus(data).toSeq
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("bucket="))
          .filterNot(s => referenced.contains(s.getPath.toUri.getPath))
          .foreach(s => fs.delete(s.getPath, true))
        // Only writer-marker files left → the whole data dir is dead.
        if (fs.listStatus(data).forall(st => !st.isDirectory))
          fs.delete(data, true)
      }
      if (fs.exists(v) && fs.listStatus(v).isEmpty) fs.delete(v, true)
    }
  }
}
