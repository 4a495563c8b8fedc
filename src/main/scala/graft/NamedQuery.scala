package graft

import graft.Materialize.CheckpointOps
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named operator-query in the driver contract.
  *
  * @param name   stable key, appears in CORRECTNESS_r{N}.json / BENCH_r{N}.json
  * @param doc    which SURVEY.md §2 operator(s) this exercises
  * @param oracle DuckDB-equivalent ANSI SQL over the same parquet tables;
  *               None for non-SQL-expressible ops (embedder, LSH internals)
  *               → the driver records a weaker rows-only check.
  */
final case class NamedQuery(
    name: String,
    doc: String,
    oracle: Option[String],
    fn: (SparkSession, String) => DataFrame)

object NamedQuery {
  def q(name: String, doc: String, oracle: String)(
      fn: (SparkSession, String) => DataFrame): NamedQuery =
    NamedQuery(name, doc, Some(oracle), fn)

  /** Presentation sort for a BOUNDED final result (aggregates, top-k,
    * verified pairs): one round-robin exchange, then a single-task sort.
    *
    * A trailing global `orderBy` range-partitions, and the range
    * partitioner SAMPLES its child — re-executing everything upstream of
    * the last exchange a second time just to pick split points. For the
    * small result sets these queries end on, that extra pass costs more
    * than the whole sort. Results that stay cluster-sized (raw scans,
    * unbounded row-per-input outputs) should keep `orderBy`'s parallel
    * range sort instead — this helper is only for ORDER-BY-as-display. */
  implicit final class PresentationOps(private val df: DataFrame) extends AnyVal {
    def presented(cols: org.apache.spark.sql.Column*): DataFrame =
      df.repartition(1).sortWithinPartitions(cols: _*)
    def presented(first: String, rest: String*): DataFrame =
      df.repartition(1).sortWithinPartitions(first, rest: _*)

    /** Parallel range sort for an UNBOUNDED output whose child is
      * expensive: the lazy checkpoint lets the range partitioner's
      * sampling pass materialize the child once as row blocks, which
      * the real exchange then reads — instead of re-executing
      * everything upstream of the last boundary a second time. Use for
      * trailing order-by over a verify/join subtree; plain `orderBy`
      * remains right when the child is a cheap scan. (Measured against
      * `persist()`, which also halts the recompute but pays a columnar
      * cache build: the row-block checkpoint is consistently faster.)
      * The checkpoint truncates the inspectable plan, so PlanShapeSpec
      * pins candidate-generation shape on the PRE-SORT helper frames. */
    def rangeSorted(first: String, rest: String*): DataFrame =
      df.checkpointed(false).orderBy(first, rest: _*)
  }
}
