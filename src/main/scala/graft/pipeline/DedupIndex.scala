package graft.pipeline

import graft.Materialize.CheckpointOps
import graft.operators.DedupQueries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted dedup index — the PRODUCTION form of q68's append triage:
  * instead of recomputing the corpus's signatures on every append, they
  * live in a parquet signature table `(doc_id, content_hash, sig)` that
  * each append reads, probes, and extends. Append cost then scales with
  * the BATCH (its signature compute plus two equi-join probes against
  * the index), never with the corpus; the index itself grows only by
  * the accepted docs. Policy: exact and near duplicates are rejected,
  * 'new' docs are appended — so triaging the same batch twice converges
  * (second pass: every formerly-new doc reports exact_dup, nothing is
  * 'new'; DedupIndexSpec asserts this law).
  *
  * At 100 TB the index table is bucketed by a band/hash prefix so the
  * probes are co-located joins (SinkOps.writeBucketed is the layout);
  * the signature build is the same one shuffle keyed on doc_id that
  * q28/q32 run.
  */
object DedupIndex {

  private val HammingThresh = 10

  /** One-time per-corpus index build, memoized per corpus FINGERPRINT
    * (not dir name) within the JVM and reused across JVMs via an
    * on-disk completion marker under the same fingerprint. This
    * is the production precondition of an append: the signature table
    * already EXISTS (written by prior appends / the initial bulk build),
    * so a triage pays only the batch's signature compute plus two
    * equi-join probes — never O(corpus). q68 reads this. */
  /** Cache key + publish discipline live in [[PreparedArtifact]]
    * (fingerprint of the documents table's file listing; build-into-tmp
    * + rename publish, concurrent-builder and TOCTOU safe). */
  def prepared(spark: SparkSession, sfDir: String): String =
    PreparedArtifact.publishOnce(spark, "graft_dedup_index",
        PreparedArtifact.fingerprint(spark, sfDir, "documents")) { tmp =>
      val docs = graft.Tables.load(spark, sfDir, "documents")
        .select(col("doc_id"), col("text"))
      build(docs, tmp.toString)
    }

  /** Signatures for `(doc_id, text)` rows: content md5 + 60-bit SimHash. */
  def signatures(docs: DataFrame): DataFrame =
    DedupQueries.simhashSigs(docs)
      .join(docs.select(col("doc_id"), md5(col("text")).as("content_hash")), "doc_id")
      .select(col("doc_id"), col("content_hash"), col("sig"))

  /** Build (overwrite) the index from a corpus. */
  def build(docs: DataFrame, indexPath: String): Unit =
    signatures(docs).write.mode("overwrite").parquet(indexPath)

  /** Triage a batch against the index: one row per batch doc with
    * verdict ∈ {exact_dup, near_dup, new} and the match count. The
    * passed `batchSigs` must come from [[signatures]] over the batch. */
  def triage(spark: SparkSession, indexPath: String, batchSigs: DataFrame): DataFrame =
    triage(graft.Tables.read(spark, indexPath), batchSigs)

  /** [[triage]] against an index already read (a per-run scratch copy
    * that the schema cache must not hold). */
  def triage(index: DataFrame, batchSigs: DataFrame): DataFrame = {
    val exact = batchSigs.select(col("doc_id"), col("content_hash"))
      .join(index.select(col("content_hash")), "content_hash")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("exact_n"))
    val near = DedupQueries.simhashBands(batchSigs)
      .join(DedupQueries.simhashBands(index).select(col("doc_id").as("idx_id"), col("sig").as("isig"),
        col("band_id"), col("band_val")), Seq("band_id", "band_val"))
      .filter(bit_count(col("sig").bitwiseXOR(col("isig"))).cast("long") <= HammingThresh)
      .groupBy(col("doc_id")).agg(count_distinct(col("idx_id")).as("near_n"))
    batchSigs.select(col("doc_id"))
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(coalesce(col("exact_n"), lit(0L)) > 0, "exact_dup")
          .when(coalesce(col("near_n"), lit(0L)) > 0, "near_dup")
          .otherwise("new").as("verdict"),
        when(coalesce(col("exact_n"), lit(0L)) > 0, col("exact_n"))
          .otherwise(coalesce(col("near_n"), lit(0L))).as("n_matches"))
  }

  /** Triage, then append the accepted ('new') docs' signatures to the
    * index. Returns the triage frame (already materialized — the append
    * must not observe its own writes). */
  def append(spark: SparkSession, indexPath: String, batch: DataFrame): DataFrame = {
    val sigs = signatures(batch).checkpointed() // probe + append read it
    val verdicts = triage(spark, indexPath, sigs).checkpointed()
    sigs.join(verdicts.filter(col("verdict") === "new").select("doc_id"), "doc_id")
      .write.mode("append").parquet(indexPath)
    verdicts
  }
}
