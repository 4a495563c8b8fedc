package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

/** Custom arbitrary-state streaming (SURVEY T6 extension; north-star
  * brief: `KeyValueGroupedDataset.flatMapGroupsWithState` for state the
  * built-in windows can't express).
  *
  * Keeps one running accumulator per user — lifetime event count, value
  * sum, last-seen timestamp — across micro-batches AND across separate
  * AvailableNow catch-up cycles: the state store lives in the
  * checkpoint, so a restarted job continues counting where it stopped
  * (the stateful analog of the reference's restartable date-bookmark
  * loop, src/main.py:329,343-369). State is hash-partitioned by user
  * key; at 100 TB the state store shards with the shuffle, and a real
  * deployment would add a GroupStateTimeout eviction policy for
  * dormant keys.
  */
object StatefulCounter {

  final case class EventIn(ts: Timestamp, user_id: Long, value: Double)
  final case class UserState(n: Long, sum: Double, last_ts: Timestamp)
  final case class UserTotals(user_id: Long, n: Long, sum: Double, last_ts: Timestamp)

  /** Fold a micro-batch's events for one user into its running state,
    * emitting the updated totals. */
  private def updateUser(
      userId: Long,
      events: Iterator[EventIn],
      state: org.apache.spark.sql.streaming.GroupState[UserState]): Iterator[UserTotals] = {
    var s = state.getOption.getOrElse(UserState(0L, 0.0, new Timestamp(0L)))
    events.foreach { e =>
      s = UserState(
        n = s.n + 1,
        sum = s.sum + e.value,
        last_ts = if (e.ts.after(s.last_ts)) e.ts else s.last_ts)
    }
    state.update(s)
    Iterator(UserTotals(userId, s.n, s.sum, s.last_ts))
  }

  /** One AvailableNow catch-up cycle: drain unprocessed files, update
    * per-user state, upsert the emitted totals into `targetDir`. */
  def runAvailableNow(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      targetDir: String,
      checkpointDir: String): Unit = {
    import spark.implicits._
    Drain(spark, srcDir, schema, checkpointDir) { src =>
      src.stream().as[EventIn]
        .groupByKey(_.user_id)
        .flatMapGroupsWithState[UserState, UserTotals](
          OutputMode.Update, GroupStateTimeout.NoTimeout)(updateUser)
        .toDF().writeStream
        .outputMode("update")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          mergeTotals(batch, targetDir, batchId)
        }
    }
  }

  /** Hash-bucket fan-out of the totals table: the merge below reads and
    * rewrites ONLY the buckets whose users appear in a micro-batch, so
    * per-batch cost is O(touched buckets), not O(whole key space). A
    * 100 TB deployment raises this to spread buckets across many files;
    * the per-batch rewrite stays proportional to the batch either way. */
  val TotalsBuckets = 16

  /** Keyed MERGE of emitted totals: newest write per user wins.
    * Delegates to [[StreamingUpsert.upsertBatch]] with the hash bucket
    * as the partition column — the same touched-partitions-only
    * dynamic-overwrite path the daily upsert uses. */
  private def mergeTotals(batch: DataFrame, targetDir: String, version: Long): Unit = {
    val bucketed = batch.withColumn("bucket", pmod(col("user_id"), lit(TotalsBuckets.toLong)))
    StreamingUpsert.upsertBatch(bucketed, targetDir, Seq("user_id"), "bucket", version)
  }
}
