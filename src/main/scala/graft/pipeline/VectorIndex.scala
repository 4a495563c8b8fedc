package graft.pipeline

import graft.functions.{Exact, VectorOps}
import graft.plans.CollectTopK
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF assignment index — the vector-tier sibling of
  * [[DedupIndex]]: the corpus's cell assignments `(vec_id, cell_id, d)`
  * live in a parquet table written once (by the initial bulk build /
  * prior appends), so an append pays only the BATCH's argmin
  * assignment plus one aggregate over the index for cell occupancy —
  * never a recomputation of the corpus's assignments. This is the
  * production precondition of q100's append triage, exactly as the
  * reference's pgvector table persists embeddings so later runs only
  * upsert the new window (src/storage/pgvector_storage.py:79-116).
  *
  * Centroids are the deterministic seed set (first `cells` vector ids,
  * the same stand-in q42 probes); a trained codebook (q93) drops in by
  * swapping the centroid frame — the index layout is unchanged.
  *
  * At 100 TB the index is bucketed by cell_id (SinkOps.writeBucketed is
  * the layout) and stores per-cell occupancy as a maintained aggregate;
  * here the occupancy aggregate runs over the index scan, which is
  * already O(corpus assignments), not O(corpus vectors × cells).
  */
object VectorIndex {

  /** Argmin cell assignment `(vec_id, cell_id, d)` of `vectors` against
    * broadcast centroids `(cell_id, cv)`, with `d` the 6dp L2 distance:
    * the k = 1, smallest-first [[CollectTopK.ranked]], so ties on `d`
    * break on cell_id — the oracle's
    * `ROW_NUMBER() OVER (… ORDER BY d, cell_id)`. An aggregate, not a
    * ranking window: its map-side partial collapses the cells × vectors
    * cross join to one row per vector before the exchange, where a
    * window would shuffle every scored row into a sort. It plans as
    * ObjectHashAggregate; past
    * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` groups
    * per task (Spark's default 128) that aggregate falls back to
    * sort-based aggregation, so at corpus scale the vec_id-keyed
    * argmin still sorts. Every argmin cell assignment in the engine is
    * this one (q42, q65, q93, q99, q100, the Lloyd rounds). */
  def assign(vectors: DataFrame, cents: DataFrame): DataFrame =
    CollectTopK.ranked(vectors.crossJoin(broadcast(cents))
        .withColumn("d", round(VectorOps.l2(col("ev"), col("cv")), 6))
        .groupBy(col("vec_id")), col("d"), col("cell_id"), 1, "cell_id", "d", smallest = true)
      .select("vec_id", "cell_id", "d")

  /** Seed centroid frame: the first `cells` corpus vectors. */
  def seedCentroids(embeddings: DataFrame, cells: Int): DataFrame =
    embeddings.filter(col("vec_id") < cells)
      .select(col("vec_id").as("cell_id"), col("ev").as("cv"))

  /** One Lloyd update: each cell's new centroid `(cell_id, cv)` is the
    * per-dimension exact-decimal mean of its members' vectors, rounded
    * to 6dp (so the next round's assignment is cross-engine exact) and
    * listed in dimension order. The mean is one (cell, dim)-keyed
    * aggregate: its exchange carries cells × dims partial sums. */
  def lloydMeans(assign: DataFrame, vectors: DataFrame): DataFrame =
    assign.join(vectors, "vec_id")
      .select(col("cell_id"), posexplode(col("ev")).as(Seq("pos", "val")))
      .select(col("cell_id"), (col("pos") + 1).as("dim"), col("val"))
      .groupBy(col("cell_id"), col("dim"))
      .agg(Exact.davgRound(col("val"), 6).as("m"))
      .groupBy(col("cell_id"))
      .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("dm"))
      .select(col("cell_id"), col("dm").getField("m").as("cv"))

  /** One-time per-corpus index build (memoized + published via
    * [[PreparedArtifact]]; `cells` participates in the key so
    * differently-sized codebooks never collide). */
  def prepared(spark: SparkSession, sfDir: String, cells: Int): String =
    PreparedArtifact.publishOnce(spark, "graft_vec_index",
        s"${PreparedArtifact.fingerprint(spark, sfDir, "embeddings")}_$cells") { tmp =>
      val base = graft.Tables.load(spark, sfDir, "embeddings")
        .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("ev"))
      assign(base, seedCentroids(base, cells)).write.parquet(tmp.toString)
    }
}
