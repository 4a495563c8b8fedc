package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, PathFilter}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}

/** The streaming checkpoint file manager graft sessions install: Spark's
  * `FileSystemBasedCheckpointFileManager` for `file:` paths, Spark's
  * default choice for every other scheme.
  *
  * Every offset, commit, state-delta and sink-metadata file a drain
  * writes is written to a temp file and renamed into place. Spark's
  * default manager renames through `FileContext`, whose local
  * `ChecksumFs.renameInternal` asks `RawLocalFileSystem` for the link
  * status of the target, and without the native `libhadoop` that runs
  * `readlink` as a child process: 216 forks per q54 drain at sf0.001
  * in `graft.Bench`, none with this manager (JFR `jdk.ProcessStart`,
  * 4 cores). The FileSystem manager renames a local file with
  * `File.renameTo`, which is atomic on one POSIX file system, so nothing
  * is lost on `file:`. HDFS, S3 and the rest keep Spark's default and
  * its atomic `FileContext.rename`. Either manager still forks `chmod`
  * for each file a drain creates (`RawLocalFileSystem.setPermission`,
  * 79 per q54 drain).
  */
class CheckpointFiles(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  private val underlying = CheckpointFiles.forPath(path, hadoopConf)

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CheckpointFileManager.CancellableFSDataOutputStream =
    underlying.createAtomic(p, overwriteIfPossible)
  override def open(p: Path) = underlying.open(p)
  override def list(p: Path, filter: PathFilter) = underlying.list(p, filter)
  override def list(p: Path) = underlying.list(p)
  override def mkdirs(p: Path): Unit = underlying.mkdirs(p)
  override def exists(p: Path): Boolean = underlying.exists(p)
  override def delete(p: Path): Unit = underlying.delete(p)
  override def isLocal: Boolean = underlying.isLocal
  override def createCheckpointDirectory(): Path = underlying.createCheckpointDirectory()
  override def close(): Unit = underlying.close()
}

object CheckpointFiles {
  /** Spark's setting for the checkpoint file manager class. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Make `spark`'s streaming queries write checkpoints through
    * [[CheckpointFiles]]. A `newSession()` starts from Spark's defaults
    * and needs this again; a streaming query's own clone inherits it. */
  def install(spark: SparkSession): Unit =
    spark.conf.set(ConfKey, classOf[CheckpointFiles].getName)

  /** The manager for `path`: by its scheme, or the default file
    * system's when it has none. */
  private[graft] def forPath(path: Path, conf: Configuration): CheckpointFileManager = {
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    if (scheme == "file") new FileSystemBasedCheckpointFileManager(path, conf)
    else {
      val sparkDefault = new Configuration(conf)
      sparkDefault.unset(ConfKey)
      CheckpointFileManager.create(path, sparkDefault)
    }
  }
}
