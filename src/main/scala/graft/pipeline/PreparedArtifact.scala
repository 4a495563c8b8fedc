package graft.pipeline

import org.apache.spark.sql.SparkSession

/** Shared publish-once discipline for memoized on-disk artifacts (the
  * dedup signature index, the ANN assignment index, the normalized
  * stream sources): build into a private temp dir, publish with a
  * rename, survive concurrent builders and crashed partial builds.
  * One implementation so a future fix to the publish rules cannot
  * leave one artifact on older, less-safe logic.
  *
  * Contract for `build`: it must leave a `_SUCCESS` marker at the top
  * of the temp dir it is given (Spark's parquet writer does this;
  * hand-assembled fixtures create one explicitly).
  */
object PreparedArtifact {

  private val preparedPaths =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Cache key = md5 over the source table's file [[listing]] plus the
    * dir path — NOT a hash of the dir string alone: regenerating the
    * testdata changes the key, so a cached artifact can never be served
    * against data it wasn't built from, and distinct dirs can't collide.
    * The listing probe is driver-side listStatus, cheap enough to pay on
    * every call. */
  def fingerprint(spark: SparkSession, sfDir: String, table: String): String = {
    val text = listing(spark, s"$sfDir/$table.parquet").mkString(s"$sfDir\n", "\n", "")
    java.security.MessageDigest.getInstance("MD5")
      .digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Every leaf file under `path` (or `path` itself, when it is a file)
    * as `name|length|mtime`, sorted; a name below a subdirectory keeps its
    * relative path (`bucket=3/part-0.parquet`). A file rewritten, added
    * or removed anywhere below `path` changes the listing. */
  def listing(spark: SparkSession, path: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def leaves(dir: org.apache.hadoop.fs.Path, prefix: String): Seq[String] =
      fs.listStatus(dir).toSeq.flatMap { s =>
        val name = prefix + s.getPath.getName
        if (s.isDirectory) leaves(s.getPath, s"$name/")
        else Seq(s"$name|${s.getLen}|${s.getModificationTime}")
      }
    leaves(root, "").sorted
  }

  /** Memoized within the JVM per `prefix_key`, reused across JVMs via
    * the on-disk `_SUCCESS` marker. Returns the published path
    * `$tmpdir/${prefix}_$key`. */
  def publishOnce(spark: SparkSession, prefix: String, key: String)(
      build: org.apache.hadoop.fs.Path => Unit): String =
    preparedPaths.computeIfAbsent(s"${prefix}_$key", { _ =>
      val path = s"${System.getProperty("java.io.tmpdir")}/${prefix}_$key"
      val finalPath = new org.apache.hadoop.fs.Path(path)
      val fs = finalPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val success = new org.apache.hadoop.fs.Path(path, "_SUCCESS")
      if (!fs.exists(success)) {
        // Build into a private temp dir, then publish with a rename: a
        // concurrent JVM building the same key either wins the publish
        // or discards its copy — readers never see a half-written dir.
        // (Identical key ⇒ identical content, so either copy is valid.)
        val tmp = new org.apache.hadoop.fs.Path(
          s"${path}_build_${java.util.UUID.randomUUID().toString.take(8)}")
        build(tmp)
        if (fs.exists(finalPath) && !fs.exists(success))
          fs.delete(finalPath, true) // clear a crashed partial build
        // Re-check right before publishing: local-FS rename onto an
        // existing dir degrades to copy-INTO-it, so never rename when a
        // winner already published.
        if (fs.exists(success) || !fs.rename(tmp, finalPath))
          fs.delete(tmp, true)
        // The check-then-rename above is still a TOCTOU window: a
        // concurrent JVM publishing between the exists() and the
        // rename() turns our rename into a move INTO the published dir
        // (rename returns true, leaving a stray nested build dir that
        // would pollute later reads). Post-verify and remove it.
        val nested = new org.apache.hadoop.fs.Path(finalPath, tmp.getName)
        if (fs.exists(nested)) fs.delete(nested, true)
      }
      path
    })
}
