package graft

import graft.streaming.StatefulCounter
import java.nio.file.Files
import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite

/** flatMapGroupsWithState lifetime totals must ACCUMULATE across two
  * AvailableNow cycles — proving the state store survives in the
  * checkpoint while each cycle reads only its new files. */
class StatefulCounterSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("per-user state persists across catch-up cycles via the checkpoint") {
    val root = Files.createTempDirectory("graft_state").toFile.getAbsolutePath
    val src = s"$root/src"; val target = s"$root/target"; val ckpt = s"$root/ckpt"

    val batch1 = Seq(
      (ts("2024-01-01 10:00:00"), 1L, 5.0),
      (ts("2024-01-01 11:00:00"), 1L, 7.0),
      (ts("2024-01-01 12:00:00"), 2L, 1.0))
    val batch2 = Seq(
      (ts("2024-01-02 09:00:00"), 1L, 100.0), // user 1 continues counting
      (ts("2024-01-02 10:00:00"), 3L, 9.0))   // user 3 is brand new

    val df1 = batch1.toDF("ts", "user_id", "value")
    df1.write.mode("append").parquet(src)
    StatefulCounter.runAvailableNow(spark, src, df1.schema, target, ckpt)

    val after1 = spark.read.parquet(target)
      .select("user_id", "n", "sum").as[(Long, Long, Double)].collect().toSet
    assert(after1 == Set((1L, 2L, 12.0), (2L, 1L, 1.0)))

    batch2.toDF("ts", "user_id", "value").write.mode("append").parquet(src)
    StatefulCounter.runAvailableNow(spark, src, df1.schema, target, ckpt)

    val after2 = spark.read.parquet(target)
      .select("user_id", "n", "sum").as[(Long, Long, Double)].collect().toSet
    // user 1: 3 lifetime events (2 from cycle one, restored from state);
    // user 2 untouched by cycle two; user 3 new.
    assert(after2 == Set((1L, 3L, 112.0), (2L, 1L, 1.0), (3L, 1L, 9.0)))

    val lastTs = spark.read.parquet(target)
      .filter($"user_id" === 1L).select("last_ts")
      .as[Timestamp].head()
    assert(lastTs == ts("2024-01-02 09:00:00"))
  }

  test("merge rewrites only touched buckets; dormant users' files survive untouched") {
    val root = Files.createTempDirectory("graft_state_bkt").toFile.getAbsolutePath
    val src = s"$root/src"; val target = s"$root/target"; val ckpt = s"$root/ckpt"

    // Cycle 1 writes users 1 and 2 (buckets 1 and 2).
    val df1 = Seq(
      (ts("2024-01-01 10:00:00"), 1L, 5.0),
      (ts("2024-01-01 12:00:00"), 2L, 1.0)).toDF("ts", "user_id", "value")
    df1.write.mode("append").parquet(src)
    StatefulCounter.runAvailableNow(spark, src, df1.schema, target, ckpt)

    def bucketFiles(b: Long): Map[String, Long] = {
      val dir = new java.io.File(s"$target/bucket=$b")
      dir.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val bucket2Before = bucketFiles(2L)
    assert(bucket2Before.nonEmpty)

    // Cycle 2 touches only user 1 — bucket 2's parquet files must be
    // byte-for-byte the SAME files afterwards (no full-table rewrite).
    Seq((ts("2024-01-02 09:00:00"), 1L, 100.0)).toDF("ts", "user_id", "value")
      .write.mode("append").parquet(src)
    StatefulCounter.runAvailableNow(spark, src, df1.schema, target, ckpt)

    assert(bucketFiles(2L) == bucket2Before)
    val after = spark.read.parquet(target)
      .select("user_id", "n", "sum").as[(Long, Long, Double)].collect().toSet
    assert(after == Set((1L, 2L, 105.0), (2L, 1L, 1.0)))
  }
}
