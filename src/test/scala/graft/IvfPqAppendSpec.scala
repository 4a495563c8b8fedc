package graft

import graft.functions.VectorOps
import graft.operators.SimilarityQueries
import graft.pipeline.VectorIndex
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The persisted IVF-PQ composite index's production contract (the
  * q113/q119 pair — mirror of VectorIndexSpec for the codes table):
  *
  *  1. the build is memoized and the published table holds exactly one
  *     code row per (corpus vector, subspace);
  *  2. INCREMENTAL ≡ BULK — encoding a batch against the persisted
  *     artifacts (corpus centroids + seed-recomputed residual codebook)
  *     yields byte-identical codes to a full index rebuild over
  *     corpus ∪ batch, because encoding is row-local given the
  *     centroids and the seed rows (vec_id < IvfCells / < PqK) are
  *     corpus rows in both worlds. This is the law that makes
  *     encode-on-append SOUND, not just cheap: the appended index is
  *     the index a bulk rebuild would have produced;
  *  3. q119's plan reads the corpus codes from the persisted parquet —
  *     the append never re-encodes the corpus.
  */
class IvfPqAppendSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def base: DataFrame =
    Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("ev"))

  private def batch: DataFrame =
    base.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("ev"), x => -x).as("ev"))

  test("prepared() memoizes; the index is one packed code row per vector") {
    val p1 = SimilarityQueries.ivfPqIndexPrepared(spark, dir)
    val p2 = SimilarityQueries.ivfPqIndexPrepared(spark, dir)
    assert(p1 == p2)
    val idx = spark.read.parquet(p1)
    val corpus = base.count()
    assert(idx.count() == corpus, "index rows != corpus (one packed row per vector)")
    assert(idx.filter(size(col("codes")) =!= SimilarityQueries.PqM).count() == 0,
      "a packed row does not carry exactly PqM codes")
  }

  test("incremental encode == bulk rebuild restricted to the batch (append soundness)") {
    val cents = VectorIndex.seedCentroids(base, SimilarityQueries.IvfCells)
    // Incremental: batch-only sub against corpus centroids, codebook
    // recomputed from the PqK corpus seeds — the q119 path.
    val inc = SimilarityQueries.ivfpqCodes(
        SimilarityQueries.ivfpqSub(batch, cents),
        SimilarityQueries.ivfpqCodebook(base, cents))
      .collect().map(_.toSeq).toSet
    // Bulk: full rebuild over corpus ∪ batch (batch ids ≥ 100000, so
    // the vec_id < IvfCells / < PqK seeds are the same corpus rows).
    val union = base.unionAll(batch)
    val bulk = SimilarityQueries.ivfpqIndex(SimilarityQueries.ivfpqSub(union,
        VectorIndex.seedCentroids(union, SimilarityQueries.IvfCells))).codes
      .filter(col("vec_id") >= 100000)
      .collect().map(_.toSeq).toSet
    assert(inc.nonEmpty && inc == bulk,
      s"incremental codes drift from bulk rebuild: ${(inc diff bulk).take(3)} vs ${(bulk diff inc).take(3)}")
  }

  test("q119 reads the persisted codes; output admits every batch vector once") {
    val df = SparkEntry.queries("q119_ivfpq_append")(spark, dir)
    val rows = df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_ivfpq_index"),
      s"append plan does not scan the persisted codes table:\n${plan.take(3000)}")
    val nBatch = batch.count()
    assert(rows.length == nBatch, s"${rows.length} rows for $nBatch batch vectors")
    // Every batch vector finds a nearest existing neighbor (every cell
    // holds at least its own seed) and occupancy counts are positive.
    assert(rows.forall(r => !r.isNullAt(r.fieldIndex("nn_vec_id"))))
    assert(rows.forall(r => r.getAs[Long]("cell_n_index") > 0))
  }

  test("q124 streams the append: >= 2 micro-batches, stream == batch rows") {
    // The oracle gate proves stream ≡ DuckDB; this pins stream ≡ the
    // q119 batch plan directly (the statics are closed over once, so
    // any hidden per-micro-batch dependence would surface as drift).
    def keyed(name: String) = SparkEntry.queries(name)(spark, dir)
      .collect().map(_.toSeq).toSet
    val stream = keyed("q124_stream_ivfpq_append")
    val asBatch = keyed("q119_ivfpq_append")
    assert(stream.nonEmpty && stream == asBatch,
      s"stream rows drift from batch: ${(stream diff asBatch).take(3)} / ${(asBatch diff stream).take(3)}")
    // Boundary discipline, OBSERVED (the shared StreamChecks gate).
    StreamChecks.assertCrossedBoundary("q124")
  }
}
