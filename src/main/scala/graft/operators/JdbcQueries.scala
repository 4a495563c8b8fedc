package graft.operators

import graft.{NamedQuery, Tables}
import graft.NamedQuery.q
import graft.sinks.JdbcSink
import org.apache.spark.sql.functions._

/** Connection-backed sink/source lifecycle over a REAL JDBC engine
  * (embedded Derby — SURVEY.md §2.2 K1/K2 made concrete; the parquet
  * modeling in SinkOps remains the columnar-at-scale story).
  *
  * q80 runs the reference's full storage lifecycle
  * (src/storage/pgvector_storage.py:57-148): DDL → bulk batch insert →
  * ON-CONFLICT-style upsert (update-else-insert, last write wins) →
  * read back. The read-back comes through a PARTITIONED JDBC scan
  * (range splits on the key), and the oracle checks the final table
  * state against plain SQL over the source parquet — so the entire
  * JDBC round trip is hash-verified, not just smoke-tested.
  */
object JdbcQueries {

  val all: Seq[NamedQuery] = Seq(

    // ----- K1/K2 real JDBC round trip. Upsert batch = existing keys
    // (%3: balance bumped +100 — must UPDATE) plus brand-new keys
    // (%50, shifted +1000000, sentinel balance — must INSERT). Final
    // table state ≡ the oracle's CASE/UNION restatement.
    q("q80_jdbc_upsert",
      "K1/K2: JDBC DDL + bulk insert + update-else-insert upsert + partitioned read-back",
      """SELECT c_custkey, c_name,
        |       CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 100 ELSE c_acctbal END AS acctbal
        |FROM customer
        |UNION ALL
        |SELECT c_custkey + 1000000, c_name, -1.0 FROM customer WHERE c_custkey % 50 = 0
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      val cust = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal").as("acctbal"))
      // DB scoped per sf dir: concurrent sweeps at different scales must
      // not share state.
      val url = JdbcSink.memoryUrl("graft_q80_" +
        java.lang.Integer.toHexString(dir.hashCode).replace('-', 'x'))
      JdbcSink.recreateTable(url, "customers",
        "c_custkey BIGINT NOT NULL PRIMARY KEY, c_name VARCHAR(128), acctbal DOUBLE")
      JdbcSink.insert(cust, url, "customers")
      val upserts = cust.filter(col("c_custkey") % 3 === 0)
        .withColumn("acctbal", col("acctbal") + 100.0)
        .unionAll(cust.filter(col("c_custkey") % 50 === 0)
          .select((col("c_custkey") + 1000000L).as("c_custkey"),
            col("c_name"), lit(-1.0).as("acctbal")))
      JdbcSink.upsert(upserts, url, "customers", "c_custkey")
      // Split bounds for the parallel range scan come from the source
      // side (production probes MIN/MAX the same way).
      val hi = cust.agg(max(col("c_custkey"))).head().getLong(0) + 1000000L
      JdbcSink.read(s, url, "customers", "c_custkey", 1L, hi, 8)
        .select(col("C_CUSTKEY").as("c_custkey"), col("C_NAME").as("c_name"),
          col("ACCTBAL").as("acctbal"))
        .orderBy("c_custkey") // row-per-customer: parallel range sort
    }
  )
}
