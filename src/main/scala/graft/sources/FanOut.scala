package graft.sources

import graft.Materialize.CheckpointOps
import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import scala.util.control.NonFatal

/** One fan-out's outcome: the flattened row frame plus EXACT loss
  * counters. `skipped` = items that exhausted their retry budget;
  * `emptyOk` = items that responded successfully but produced zero
  * rows (e.g. a station with no valid reading for the date). */
private[sources] final case class FanOutFetch[T](
    frame: Dataset[T], skipped: Long, emptyOk: Long)

/** The shared unit-per-task fan-out discipline behind the live scans
  * (weather cities, climate stations): each `(name, id)` item fetches
  * in its own task under the jittered bounded-backoff retry; an item
  * that exhausts its budget is skipped AND counted; and the frame is
  * MATERIALIZED (Materialize.checkpointed) before returning — a lazy frame
  * would re-run the whole network fan-out on every downstream action.
  *
  * `one` returns an ITERATOR, and the rows stream straight through
  * `flatMap` into the checkpoint's block writer — a year-long bulk CSV
  * per station flows through task memory one row at a time instead of
  * materializing as a Seq inside a single status row. Retry scope
  * under that contract: [[RetryPolicy.withRetry]] guards the CALL of
  * `one` (connect, status line, header validation — everything a
  * client does before returning its iterator). A fault thrown
  * MID-iteration is past the retry budget by construction (bytes may
  * already have streamed through), so it degrades to the same
  * skip-and-count outcome as an exhausted retry: the item's status row
  * flips to failed, iteration stops, and the item's partial rows are
  * dropped from the returned frame. Nothing propagates to the task —
  * under the local master's default `spark.task.maxFailures=1` a
  * propagating fault would fail the whole job, not re-run the task.
  *
  * The loss counters are NOT accumulators, for the same at-least-once
  * reason: Spark only deduplicates accumulator updates inside actions,
  * so a task retry or speculative duplicate during materialization
  * would over-count a transformation-side `add`. Instead each item
  * emits ONE trailing status row, and both counters aggregate from the
  * CHECKPOINTED frame — they reflect exactly the task attempts whose
  * output was committed. Exact-once, retry-safe.
  * One copy of the invariant, two clients on it. */
private[sources] object FanOut {
  def fetch[T](spark: SparkSession, items: Seq[(String, String)],
      retry: RetryConf)(one: (String, String, Int) => Iterator[T])(
      implicit enc: Encoder[(Int, Option[T], Boolean)], encT: Encoder[T]): FanOutFetch[T] = {
    import spark.implicits._
    // Row shape: (item idx, Some(row), true) for data; one trailing
    // (idx, None, ok) status row per item. The idx ties zero-row
    // successes to their status row after flattening.
    val statused = spark.createDataset(items.zipWithIndex)
      .repartition(math.max(1, items.size)) // item-per-task fan-out
      .flatMap { case ((name, id), idx) =>
        val it =
          try RetryPolicy.withRetry(retry) {
            attempt => one(name, id, attempt)
          }
          catch { case NonFatal(_) => null } // skip-and-count
        if (it == null) Iterator((idx, Option.empty[T], false))
        else new scala.collection.AbstractIterator[(Int, Option[T], Boolean)] {
          // Guard BOTH hasNext and next: a lazy client may fault in
          // either. The fault becomes the failed status row.
          private var ended = false
          private var ok = true
          override def hasNext: Boolean = !ended
          override def next(): (Int, Option[T], Boolean) = {
            if (ended) throw new NoSuchElementException("FanOut item drained")
            val more =
              try ok && it.hasNext
              catch { case NonFatal(_) => ok = false; false }
            if (more) {
              try (idx, Option(it.next()), true)
              catch { case NonFatal(_) => ended = true; (idx, Option.empty[T], false) }
            } else { ended = true; (idx, Option.empty[T], ok) }
          }
        }
      }(enc)
      .checkpointed()
    // Per-item rollup off the committed frame (items are few — the
    // group count is the fan-out width).
    val perItem = statused.groupByKey(_._1).mapGroups { (k, rows) =>
      var ok = false
      var n = 0L
      rows.foreach { r => if (r._2.isDefined) n += 1 else ok = r._3 }
      (k, ok, n)
    }.checkpointed()
    // Driver-side set of failed item indexes: bounded by the fan-out
    // width (cities/stations), and it both sizes `skipped` and drops
    // the partial rows a mid-stream fault left in the committed frame.
    val failedIdx = perItem.filter(r => !r._2).map(_._1).collect().toSet
    val emptyOk = perItem.filter(r => r._2 && r._3 == 0L).count()
    val data =
      if (failedIdx.isEmpty) statused.filter(_._2.isDefined)
      else statused.filter(r => r._2.isDefined && !failedIdx.contains(r._1))
    FanOutFetch(data.map(_._2.get)(encT), failedIdx.size.toLong, emptyOk)
  }
}
