package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries are assembled from per-domain registries; each NamedQuery
  * carries its DuckDB oracle SQL (or None → rows-only check).
  */
object SparkEntry {

  /** All operator queries, in registry order. */
  lazy val registry: Seq[NamedQuery] =
    operators.CoreQueries.all ++
      operators.ScalarQueries.all ++
      operators.DedupQueries.all ++
      operators.SimilarityQueries.all ++
      operators.TextQueries.all ++
      operators.CurationQueries.all ++
      operators.PipelineQueries.all ++
      operators.MediaQueries.all ++
      operators.AdvancedQueries.all ++
      operators.JdbcQueries.all ++
      operators.ReleaseQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The E1 pipeline restated (SURVEY.md §3): daily windowed metrics →
    * semantic sentence → deterministic embedding → upsert frame. */
  def entry(spark: SparkSession): DataFrame =
    pipeline.DailySummary.run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(nq => nq.name -> nq.fn).toMap

  /** The subset of [[queries]] a Bench or Verify run is limited to while
    * iterating: `SPARK_GRAFT_ONLY=q28_minhash_pairs,q32_simhash_bands`
    * (`tools/check_oracle.py --only` passes it through). Unset = all. */
  def only: Option[Set[String]] =
    sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    * Every named CTE carries DuckDB's MATERIALIZED hint ([[OracleSql
    * .materializeCtes]]) — plain CTEs are inlined per reference, which
    * is exponential in the unrolled training chains (q115/q117/q125)
    * and made the gate's DuckDB side its critical path. */
  def oracleSql: Map[String, String] =
    registry.flatMap(nq =>
      nq.oracle.map(nq.name -> OracleSql.materializeCtes(_))).toMap
}
