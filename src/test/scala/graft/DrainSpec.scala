package graft

import graft.streaming.Drain
import java.io.File
import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The `Drain` contract: `statePartitions` sizes the state store and
  * skips the trailing empty micro-batch on a CLONED session, leaving the
  * caller's conf alone; without it the caller's session runs unchanged. */
class DrainSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val ConfKeys = Seq("spark.sql.shuffle.partitions",
    "spark.sql.streaming.noDataMicroBatches.enabled")

  private def ts(s: String) = Timestamp.valueOf(s)

  /** Two one-file deliveries with increasing mtimes: the second
    * re-delivers the first and adds a later event, so its batch moves
    * the watermark and an enabled no-data batch would run after it. */
  private def deliver(root: String): Unit = {
    val first = Seq((1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 11:00:00")))
    val second = first :+ ((3L, ts("2024-01-10 00:00:00")))
    val t0 = System.currentTimeMillis() - 3600000L
    Seq(first, second).zipWithIndex.foreach { case (rows, i) =>
      val tmp = s"$root/scratch_$i"
      rows.toDF("event_id", "ts").coalesce(1).write.parquet(tmp)
      val part = new File(tmp).listFiles().find(_.getName.startsWith("part-")).get
      val dest = new File(Drain.srcDir(root), s"delivery-$i.parquet")
      dest.getParentFile.mkdirs()
      Files.move(part.toPath, dest.toPath)
      dest.setLastModified(t0 + i * 60000L)
    }
  }

  /** A watermarked dedup drain, one delivery per micro-batch. */
  private def dedupDrain(root: String, statePartitions: Option[Int]): Unit =
    Drain(spark, Drain.srcDir(root), spark.read.parquet(Drain.srcDir(root)).schema,
        Drain.checkpointDir(root), maxFilesPerTrigger = Some(1), statePartitions) {
      _.stream()
        .withWatermark("ts", "2 days")
        .dropDuplicatesWithinWatermark("event_id")
        .writeStream.format("parquet").option("path", Drain.targetDir(root))
    }

  private def numbered(dir: String): Int =
    Option(new File(dir).listFiles()).getOrElse(Array.empty)
      .count(_.getName.forall(_.isDigit))

  private def stateShards(root: String): Int =
    numbered(s"${Drain.checkpointDir(root)}/state/0")

  test("statePartitions: 3 state shards, no trailing empty batch, caller conf untouched") {
    val root = TempDirs.fresh("drain-spec-tuned")
    deliver(root)
    val before = ConfKeys.map(spark.conf.getOption)
    dedupDrain(root, Some(3))
    assert(ConfKeys.map(spark.conf.getOption) == before)
    assert(stateShards(root) == 3)
    assert(numbered(Drain.commitsDir(root)) == 2,
      "two deliveries at maxFilesPerTrigger = 1 must commit exactly two batches")
    assert(spark.read.parquet(Drain.targetDir(root)).as[(Long, Timestamp)]
      .collect().map(_._1).sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("without statePartitions the caller's session runs: its shards, its empty batch") {
    val root = TempDirs.fresh("drain-spec-plain")
    deliver(root)
    dedupDrain(root, None)
    assert(stateShards(root) == spark.conf.get("spark.sql.shuffle.partitions").toInt)
    assert(numbered(Drain.commitsDir(root)) == 3,
      "the watermark moved in the last data batch, so a no-data batch follows")
  }

  test("q71 enriches across a micro-batch boundary and equals the batch join") {
    val dir = "/root/testdata/sf0.001"
    val streamed = SparkEntry.queries("q71_stream_static_enrich")(spark, dir).collect()
    StreamChecks.assertCrossedBoundary("q71")
    val weights = Seq("click" -> 1.5, "view" -> 0.5, "purchase" -> 5.0,
      "signup" -> 3.0, "error" -> 0.0).toDF("event_type", "weight")
    val batch: DataFrame = Tables.load(spark, dir, "events")
      .join(weights, "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        functions.Exact.dsum(col("value") * col("weight")).as("weighted_value"))
    def rows(df: Array[org.apache.spark.sql.Row]) =
      df.map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n"),
        r.getAs[Any]("weighted_value").toString)).sortBy(_._1).toSeq
    assert(streamed.nonEmpty)
    assert(rows(streamed) == rows(batch.collect()))
  }
}
