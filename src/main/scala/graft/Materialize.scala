package graft

import org.apache.spark.sql.{Dataset, SparkSession}

/** Lineage truncation with a cluster-durability switch.
  *
  * Every multi-consumer intermediate in the dedup/similarity tier is
  * materialized once and read several times (posting lists, shared-entry
  * state, k-means assignments). On `local[N]` an executor-local
  * checkpoint is ideal: no disk round-trip beyond the block manager, and
  * the JVM is the only executor, so "single replica" is not a risk. On a
  * real cluster it is: `localCheckpoint` blocks live on exactly one
  * executor, so one lost executor fails the job instead of recomputing,
  * and dynamic allocation can reap the executor holding them.
  *
  * `checkpointed` keeps the local default and adds the cluster path
  * behind one conf:
  *
  *   - `spark.graft.checkpointDir` unset (default): `localCheckpoint`,
  *     exactly the previous behavior.
  *   - `spark.graft.checkpointDir=<fault-tolerant path>` (HDFS/S3/...):
  *     a reliable `Dataset.checkpoint` into that directory — replicated
  *     storage, survives executor loss, safe under dynamic allocation.
  *
  * Eagerness: the local path forwards it unchanged (the call sites'
  * eager-vs-lazy decisions — e.g. eager before anything feeding a
  * broadcast exchange, whose job runs on its own thread before a lazy
  * checkpoint would materialize — stay in force). The RELIABLE path is
  * always eager: it brackets the checkpoint in persist/unpersist so
  * the checkpoint-write job reads cached blocks instead of recomputing
  * the subtree, and the materializing action must run inside that
  * bracket. Known trade: under a reliable config,
  * `checkpointed(false)` call sites in iterative loops (the CC rounds)
  * each pay their checkpoint job at call time instead of riding the
  * loop's own convergence action, adding one driver round-trip per
  * round. That is durability-mode latency, not extra compute (the
  * persist bracket keeps every subtree single-computation); if a
  * reliable deployment's iteration latency ever matters more than
  * recompute-on-loss, the call site — not this helper — should drop to
  * `ds.checkpoint(eager = false)` explicitly and accept the unbracketed
  * recompute Spark documents.
  */
object Materialize {
  /** Fault-tolerant directory for reliable checkpoints; unset = local. */
  val ConfKey = "spark.graft.checkpointDir"

  // setCheckpointDir appends a random UUID subdirectory, so the applied
  // conf value — not SparkContext.getCheckpointDir — is what we compare
  // against to honor a mid-session conf change.
  @volatile private var appliedDir: Option[String] = None

  private def ensureCheckpointDir(spark: SparkSession, dir: String): Unit =
    synchronized {
      if (!appliedDir.contains(dir)) {
        spark.sparkContext.setCheckpointDir(dir)
        appliedDir = Some(dir)
      }
    }

  implicit final class CheckpointOps[T](private val ds: Dataset[T]) extends AnyVal {
    /** Truncate lineage: reliable checkpoint when
      * `spark.graft.checkpointDir` is set, `localCheckpoint` otherwise. */
    def checkpointed(eager: Boolean = true): Dataset[T] = {
      val spark = ds.sparkSession
      spark.conf.getOption(ConfKey).map(_.trim).filter(_.nonEmpty) match {
        case Some(dir) =>
          ensureCheckpointDir(spark, dir)
          // A reliable RDD checkpoint re-COMPUTES the subtree in the
          // checkpoint-write job that follows the materializing action
          // (Spark's own docs say persist first) — exactly doubling the
          // compute these materialization points exist to pay once.
          // Persist before checkpointing so the write job reads cached
          // blocks, and drop the cache once the checkpoint owns the
          // data. The bracket requires the materializing action to run
          // inside it, so the reliable path is always EAGER — a lazy
          // call site just materializes here instead of under its next
          // consumer (one extra job, same single computation).
          // Guard: if the CALLER already cached this plan, piggyback on
          // their cache and leave it alone — persisting again is a
          // no-op, but the finally-unpersist would evict the caller's
          // deliberately cached data behind their back.
          val alreadyCached =
            ds.storageLevel != org.apache.spark.storage.StorageLevel.NONE
          if (alreadyCached) ds.checkpoint(eager = true)
          else {
            val persisted = ds.persist(
              org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            try persisted.checkpoint(eager = true)
            finally persisted.unpersist(blocking = false)
          }
        case None =>
          ds.localCheckpoint(eager)
      }
    }
  }
}
