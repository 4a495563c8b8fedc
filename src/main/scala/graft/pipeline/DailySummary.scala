package graft.pipeline

import graft.Tables
import graft.functions.SentenceOps
import graft.operators.Upsert
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The flagship E1 pipeline restated Spark-first (SURVEY.md §3 E1):
  *
  * scan(events) → date-window filter → daily metric aggregation →
  * semantic sentence render → deterministic embedding → last-write-wins
  * upsert frame keyed by vector_id (reference: main.py:239-316 +
  * sentence_builder.py:102-156 + pgvector_storage.py:79-116).
  *
  * One QueryExecution. Measured shape (executed plan at sf0.001): three
  * exchanges — the daily groupBy shuffle, the (tiny) weather
  * dimension's, which then arrives at the metrics by broadcast (the J2
  * enrich shape), and the sentence render's single-partition
  * presentation. The stale copy reads that last exchange back as a
  * ReusedExchange, so events is scanned twice per window. The embedding
  * is a projection in the render's codegen stage, and the upsert's
  * window needs no exchange over the single-partition union.
  * The 2-day/1-day-overlap incremental loop (main.py:341-369) makes each
  * day's summary computed twice — the upsert keeps the newest, which is
  * exactly [[Upsert.lastWins]] here.
  */
object DailySummary {

  def run(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.configure(spark) // entry point — session-level parquet settings
    val events = Tables.load(spark, sfDir, "events")
      .filter(col("ts") >= lit("2024-01-01").cast("timestamp") &&
              col("ts") <  lit("2024-02-01").cast("timestamp"))
    // J2 inside the flagship, as the reference runs it: the daily
    // weather dimension is a separate (tiny) frame broadcast-joined
    // into the daily metrics before the sentence render — one
    // BroadcastHashJoin, no extra exchange on the metrics side.
    val weather = SentenceOps.dailyWeatherDim(events)
    val sentences = SentenceOps.dailySentencesWithWeather(events, weather)
    val embedded = Embedder.withEmbedding(sentences, "semantic_sentence")
      .withColumn("updated_at", col("date_str").cast("date"))
    // The overlap loop re-emits each day; model it by unioning a stale
    // copy and letting the upsert pick the newest write per key.
    val stale = embedded.withColumn("updated_at", date_sub(col("updated_at"), 1))
    Upsert.lastWins(stale.unionByName(embedded), Seq("vector_id"), Seq(col("updated_at").desc))
      .select("vector_id", "semantic_sentence", "embedding", "updated_at")
  }
}
