package graft.streaming

import graft.pipeline.VectorStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Streaming ingest into the REAL JDBC vector store: the reference's
  * incremental loop (fetch a window → summarize → upsert,
  * main.py:341-369) as a Structured Streaming sink. Each micro-batch
  * carries complete summary rows (a row is an atomic day — the unit the
  * reference recomputes and re-upserts), so ANY batch boundary is safe,
  * and [[VectorStore.store]]'s update-else-insert makes redelivery
  * idempotent: at-least-once processing + idempotent keyed upsert =
  * exactly-once EFFECT on the table, the same contract
  * StreamingUpsert proves on parquet (T2) — here against a live
  * connection.
  */
object StreamingVectorStore {

  /** Drain `srcDir` (parquet summary rows) into the store via
    * AvailableNow micro-batches; `maxFilesPerTrigger` shapes the batch
    * cadence like the reference's per-window increments. */
  def runAvailableNow(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      url: String,
      table: String,
      checkpoint: String,
      maxFilesPerTrigger: Option[Int] = None): Unit =
    Drain(spark, srcDir, schema, checkpoint, maxFilesPerTrigger) {
      _.stream().writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
        VectorStore.store(batch, url, table); ()
      }
    }
}
