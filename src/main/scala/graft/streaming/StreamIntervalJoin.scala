package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** T6, stream-STREAM: the attribution join — every purchase paired with
  * the clicks of the SAME user in the preceding day — as a watermarked
  * interval join (batch analog: the reference's telemetry-to-weather
  * time-window pairing, src/main.py:239-316).
  *
  * Scale contract: the event-time bound on BOTH sides plus the two
  * watermarks let Spark EVICT join state — a click older than
  * (watermark − 1 day) can never match a future purchase, so per-key
  * state is a sliding day of clicks, not the stream's history. Append
  * mode emits a pair exactly once, when the watermark passes the bound.
  *
  * The LEFT OUTER join adds the null-emission semantics: a purchase
  * with no click in its window is held in state until the watermark
  * proves no qualifying click can still arrive, then emits exactly once
  * with a null click id. The proof event is watermark advancement —
  * which only moves when later data flows — so callers draining a
  * finite backlog append a far-future flush batch (or run a later
  * cycle) to finalize the tail.
  */
object StreamIntervalJoin {

  /** One AvailableNow catch-up: drain `srcDir`, join purchases to the
    * same user's clicks with `c_ts ∈ [p_ts − 1 day, p_ts]` (`joinType`
    * "inner" or "left_outer"), append the (p_event_id, c_event_id,
    * user_id) pairs to `targetDir` parquet, and return that target once
    * the drain ends. A left-outer drain passes
    * `statePartitions` only with flush traffic (the [[Drain]]
    * invariant). */
  def runAvailableNow(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      targetDir: String,
      checkpointDir: String,
      joinType: String,
      statePartitions: Option[Int] = None,
      maxFilesPerTrigger: Option[Int] = None): Drain.Target = {
    val target = new Drain.Target(targetDir)
    Drain(spark, srcDir, schema, checkpointDir, maxFilesPerTrigger,
        statePartitions) { src =>
      // Two independent sources over the same directory — each side
      // scans and filters its own event class (at scale these are two
      // topics). Each side's watermark advances only on ITS class (the
      // class filter sits below the watermark node — the optimizer
      // pushes it there even if written above), and the query watermark
      // is the MIN of the two: finalizing outer state therefore needs
      // later traffic in BOTH classes, which is why the flush deliveries
      // carry one event of each.
      def side(eventType: String, prefix: String) =
        src.stream()
          .filter(col("event_type") === eventType)
          .select(col("event_id").as(s"${prefix}_event_id"),
            col("user_id").as(s"${prefix}_user_id"),
            col("ts").as(s"${prefix}_ts"))
          .withWatermark(s"${prefix}_ts", "1 day")
      // Stream-stream joins emit append-only, the file sink's mode.
      Drain.toParquet(target)(side("purchase", "p")
        .join(side("click", "c"),
          expr("p_user_id = c_user_id AND " +
            "c_ts BETWEEN p_ts - INTERVAL 1 DAY AND p_ts"),
          joinType)
        .select(col("p_event_id"), col("c_event_id"),
          col("p_user_id").as("user_id")))
    }
    target
  }
}
