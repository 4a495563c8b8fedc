package graft

import graft.streaming.{CheckpointFiles, Drain}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.streaming.checkpointing.{FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.scalatest.funsuite.AnyFunSuite

/** Streaming checkpoints on local paths go through the FileSystem-based
  * manager (renames by `File.renameTo`, no `readlink` fork); any other
  * scheme keeps Spark's default manager. */
class CheckpointFilesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("a file: path resolves to the FileSystem-based manager") {
    val conf = new Configuration()
    Seq("file:/tmp/graft-ckpt", "/tmp/graft-ckpt").foreach { p =>
      assert(CheckpointFiles.forPath(new Path(p), conf)
        .isInstanceOf[FileSystemBasedCheckpointFileManager], p)
    }
  }

  test("a non-file scheme resolves to Spark's default manager") {
    // viewfs is a client-side mount table: it resolves here without a
    // cluster, and Spark's default for it is the FileContext manager.
    val conf = new Configuration()
    conf.set("fs.viewfs.mounttable.graft.link./ckpt", "file:///tmp")
    conf.set(CheckpointFiles.ConfKey, classOf[CheckpointFiles].getName)
    val m = CheckpointFiles.forPath(new Path("viewfs://graft/ckpt/q"), conf)
    assert(m.isInstanceOf[FileContextBasedCheckpointFileManager], m.getClass)
  }

  test("graft sessions and a drain's cloned session install it") {
    assert(spark.conf.get(CheckpointFiles.ConfKey) == classOf[CheckpointFiles].getName)
    import spark.implicits._
    val root = TempDirs.fresh("checkpoint-files-spec")
    Seq(1L, 2L, 2L).toDF("id").write.parquet(Drain.srcDir(root))
    var seen = Option.empty[String]
    Drain(spark, Drain.srcDir(root), spark.read.parquet(Drain.srcDir(root)).schema,
        Drain.checkpointDir(root), statePartitions = Some(2)) { src =>
      val in = src.stream()
      seen = in.sparkSession.conf.getOption(CheckpointFiles.ConfKey)
      in.dropDuplicates("id")
        .writeStream.format("parquet").option("path", Drain.targetDir(root))
    }
    assert(seen.contains(classOf[CheckpointFiles].getName))
    assert(spark.read.parquet(Drain.targetDir(root)).count() == 2L)
  }
}
