package graft.pipeline

import graft.Materialize.CheckpointOps
import graft.operators.ReleaseQueries
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Persisted data-card index — the production form of q133's
  * card-on-append (the q129 datasheet maintained INCREMENTALLY, the
  * same discipline as [[DedupIndex]]/[[VectorIndex]]): two tables under
  * one fingerprint-keyed publish —
  *
  *   - `sigstats(sig, cnt, holder_source, holder_lang)`: one row per
  *     distinct content hash with its corpus count; the holder columns
  *     name the owning (source, lang) group and are only consulted
  *     when cnt = 1 (the doc that FLIPS from unexposed to exposed when
  *     an append collides with it). HASH-BUCKET partitioned by
  *     [[SigstatsStore.bucketOf]] (directory-level `bucket=k`), so an
  *     append's probe partition-prunes to the buckets its own hashes
  *     touch and the streaming maintainer ([[SigstatsStore]]) rewrites
  *     only touched buckets per micro-batch.
  *   - `card(...)`: q129's ~|source x lang|-row aggregate, verbatim.
  *
  * An append then pays its own feature compute plus ONE probe of the
  * touched sigstats buckets keyed on the batch's hashes — never a
  * corpus rescan, and never a corpus-sized shuffle (the probe side
  * broadcasts).
  */
object CardIndex {

  /** One-time per-corpus build, fingerprint-keyed and publish-once
    * (see [[PreparedArtifact]] for the concurrency discipline). The
    * prefix carries a layout tag (`_b` = bucketed sigstats) so a cache
    * produced by an older layout can never be served to newer code. */
  def prepared(spark: SparkSession, sfDir: String): String =
    PreparedArtifact.publishOnce(spark, "graft_card_index_b",
        PreparedArtifact.fingerprint(spark, sfDir, "documents")) { tmp =>
      val d = graft.Tables.load(spark, sfDir, "documents")
        .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
          col("text"))
      // One feature pass feeds BOTH tables (the sig aggregate and the
      // card): checkpoint so the corpus is featurized once.
      val f = ReleaseQueries.cardFeatures(d).checkpointed()
      f.groupBy(col("sig"))
        .agg(count(lit(1)).as("cnt"),
          // min() is just a determinism tie-break: the holder columns
          // are only ever read at cnt = 1, where they are exact.
          min(col("source")).as("holder_source"),
          min(col("lang")).as("holder_lang"))
        .withColumn("bucket", SigstatsStore.bucketOf(col("sig")))
        .write.partitionBy("bucket").parquet(s"$tmp/sigstats")
      ReleaseQueries.dataCardFromFeatures(f)
        .write.parquet(s"$tmp/card")
      // The publish contract wants the marker at the TOP of the build
      // dir; parquet leaves one per table, so stamp the root explicitly
      // (without it every new JVM silently rebuilt the artifact).
      val fs = tmp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.create(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS"), true).close()
    }
}
