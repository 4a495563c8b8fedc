package graft

import graft.streaming.StreamIntervalJoin
import java.nio.file.Files
import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite

/** Stream-stream interval join across TWO AvailableNow cycles: the
  * second cycle's late click must pair with a purchase held in the
  * checkpointed join state from cycle one, and the final table must
  * equal the batch join of everything — emitted exactly once each. */
class StreamIntervalJoinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("late click joins a cycle-one purchase from checkpointed state") {
    val root = Files.createTempDirectory("graft_ssj").toFile.getAbsolutePath
    val src = s"$root/src"; val target = s"$root/target"; val ckpt = s"$root/ckpt"

    val cycle1 = Seq(
      (10L, 1L, "purchase", ts("2024-01-02 10:00:00")),
      (20L, 1L, "click", ts("2024-01-02 09:00:00")),    // in [p-1d, p] → pairs
      (21L, 1L, "click", ts("2024-01-01 08:00:00")),    // before the window
      (22L, 2L, "click", ts("2024-01-02 09:30:00")))    // other user
      .toDF("event_id", "user_id", "event_type", "ts")
    cycle1.write.mode("append").parquet(src)
    StreamIntervalJoin.runAvailableNow(spark, src, cycle1.schema, target, ckpt, "inner")

    val after1 = spark.read.parquet(target)
      .select("p_event_id", "c_event_id").as[(Long, Long)].collect().toSet
    assert(after1 == Set((10L, 20L)))

    // Cycle two: a LATE click inside purchase 10's window, plus a new
    // purchase that must see cycle one's clicks from state.
    Seq(
      (23L, 1L, "click", ts("2024-01-02 09:45:00")),
      (11L, 1L, "purchase", ts("2024-01-02 12:00:00")))
      .toDF("event_id", "user_id", "event_type", "ts")
      .write.mode("append").parquet(src)
    StreamIntervalJoin.runAvailableNow(spark, src, cycle1.schema, target, ckpt, "inner")

    val after2 = spark.read.parquet(target)
      .select("p_event_id", "c_event_id").as[(Long, Long)].collect().toList
    // Exactly-once: no pair may be re-emitted by the second cycle.
    assert(after2.size == after2.toSet.size)
    assert(after2.toSet == Set(
      (10L, 20L), (10L, 23L),            // late click reached old purchase
      (11L, 20L), (11L, 23L)))           // new purchase saw stated clicks
  }

  test("left outer: an unmatched purchase emits a null exactly once, only on watermark proof") {
    val root = Files.createTempDirectory("graft_ssoj").toFile.getAbsolutePath
    val src = s"$root/src"; val target = s"$root/target"; val ckpt = s"$root/ckpt"

    val cycle1 = Seq(
      (10L, 1L, "purchase", ts("2024-01-02 10:00:00")),  // has a click → pair
      (20L, 1L, "click", ts("2024-01-02 09:00:00")),
      (11L, 2L, "purchase", ts("2024-01-02 11:00:00")))  // NO click in window
      .toDF("event_id", "user_id", "event_type", "ts")
    cycle1.write.mode("append").parquet(src)
    StreamIntervalJoin.runAvailableNow(
      spark, src, cycle1.schema, target, ckpt, "left_outer")

    // The unmatched purchase must NOT have emitted yet: the watermark
    // hasn't passed its window, so "no conversion" is still "not yet".
    val after1 = spark.read.parquet(target)
      .select("p_event_id", "c_event_id").as[(Long, Option[Long])].collect().toSet
    assert(after1 == Set((10L, Some(20L))))

    // Far-future traffic advances the watermark (first file) and then
    // triggers the eviction scan (second file). Each side's watermark
    // only moves on its OWN event class and the query watermark is the
    // min of the two, so a flush must carry one of EACH class.
    def flushFile(clickId: Long, purchId: Long, day: String): Unit =
      Seq((clickId, -9L, "click", ts(day)), (purchId, -9L, "purchase", ts(day)))
        .toDF("event_id", "user_id", "event_type", "ts")
        .write.mode("append").parquet(src)
    flushFile(-1L, -2L, "2024-03-01 00:00:00")
    flushFile(-3L, -4L, "2024-03-02 00:00:00")
    StreamIntervalJoin.runAvailableNow(
      spark, src, cycle1.schema, target, ckpt, "left_outer", maxFilesPerTrigger = Some(1))

    val after2 = spark.read.parquet(target)
      .filter($"p_event_id" >= 0) // synthetic flush rows are harness, not data
      .select("p_event_id", "c_event_id").as[(Long, Option[Long])].collect().toList
    assert(after2.size == after2.toSet.size) // exactly once, no re-emission
    assert(after2.toSet == Set((10L, Some(20L)), (11L, None)))
  }

  test("left outer without no-data batches: flush DATA batches carry the eviction (q94 contract)") {
    // q94's exact drain shape: real delivery + flush one share the first
    // micro-batch, flush two lands alone in the second, and the trailing
    // EMPTY batch is disabled. Every real outer null must still emit,
    // because the eviction scan runs inside flush two's data batch with
    // the watermark flush one advanced — the skipped empty batch would
    // only have finalized the flush purchase's own (filtered) null.
    val root = Files.createTempDirectory("graft_ssoj_nd").toFile.getAbsolutePath
    val src = s"$root/src"; val target = s"$root/target"; val ckpt = s"$root/ckpt"

    val delivery = Seq(
      (10L, 1L, "purchase", ts("2024-01-02 10:00:00")),  // has a click → pair
      (20L, 1L, "click", ts("2024-01-02 09:00:00")),
      (11L, 2L, "purchase", ts("2024-01-02 11:00:00")))  // NO click in window
      .toDF("event_id", "user_id", "event_type", "ts")
    def writeDelivery(df: org.apache.spark.sql.DataFrame, name: String, mtime: Long): Unit = {
      val tmp = s"$root/scratch_$name"
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.startsWith("part-")).get
      val dest = new java.io.File(src, s"$name.parquet")
      dest.getParentFile.mkdirs()
      Files.move(part.toPath, dest.toPath)
      dest.setLastModified(mtime)
    }
    def flush(clickId: Long, purchId: Long, day: String) =
      Seq((clickId, -9L, "click", ts(day)), (purchId, -9L, "purchase", ts(day)))
        .toDF("event_id", "user_id", "event_type", "ts")
    val t0 = System.currentTimeMillis() - 3600000L
    writeDelivery(delivery, "delivery-00", t0)
    writeDelivery(flush(-1L, -2L, "2024-03-01 00:00:00"), "flush-01", t0 + 60000L)
    writeDelivery(flush(-3L, -4L, "2024-03-02 00:00:00"), "flush-02", t0 + 120000L)

    StreamIntervalJoin.runAvailableNow(
      spark, src, delivery.schema, target, ckpt, "left_outer",
      statePartitions = Some(4), maxFilesPerTrigger = Some(2))

    val got = spark.read.parquet(target)
      .filter($"p_event_id" >= 0)
      .select("p_event_id", "c_event_id").as[(Long, Option[Long])].collect().toList
    assert(got.size == got.toSet.size)
    assert(got.toSet == Set((10L, Some(20L)), (11L, None)))
  }
}
