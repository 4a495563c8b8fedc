package graft

import graft.sources.ErcotPagesSource
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The DSv2 connector contract: partition-per-page parallelism, column
  * pruning reaching the reader, and the settlement_point equality
  * applied inside the partition (pushed, not residual). */
class ErcotPagesSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def feed(pages: Int = 4, pageSize: Int = 50) =
    spark.read.format("ercot-pages")
      .option("pages", pages).option("pageSize", pageSize)
      .option("startDate", "2024-01-01")
      .load()

  test("row count = pages × pageSize; one input partition per page") {
    val df = feed(pages = 7, pageSize = 33)
    assert(df.count() == 7 * 33)
    assert(df.rdd.getNumPartitions == 7)
  }

  test("deterministic generator matches the documented row function") {
    val first = feed(1, 3).orderBy("ts").collect()
    assert(first(0).getAs[String]("settlement_point") == "HB_HUBAVG")
    assert(first(1).getAs[String]("settlement_point") == "HB_NORTH")
    assert(first(0).getAs[Double]("price") == 0.0)
    assert(first(1).getAs[Double]("price") == 3.1) // (1*31 % 1000)/10
    assert(first(1).getAs[java.sql.Timestamp]("ts").toString == "2024-01-01 00:15:00.0")
  }

  test("settlement_point equality is pushed into the scan") {
    val df = feed().filter(col("settlement_point") === "HB_SOUTH")
    // DSv2 surfaces pushed filters through the scan description.
    val scanDesc = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.description()
    }.mkString("\n")
    assert(scanDesc.contains("PushedFilters: [settlement_point = HB_SOUTH]"), scanDesc)
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[String]("settlement_point") == "HB_SOUTH"))
  }

  test("column pruning reaches the reader (scan output shrinks)") {
    val df = feed().select("price")
    // the BatchScan's output column list reflects pruneColumns
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("[price") && !plan.contains("settlement_point"), plan)
    assert(df.agg(sum("price")).head().getDouble(0) > 0)
  }

  test("schema carries the documented column comments") {
    assert(ErcotPagesSource.Schema.fields.forall(_.getComment().isDefined))
  }

  test("a second settlement_point equality stays residual (sp='A' AND sp='B' = 0 rows)") {
    // Regression: claiming every equality but applying only the first
    // silently returned all 'A' rows for a contradictory conjunction.
    val df = feed().filter(col("settlement_point") === "HB_SOUTH" &&
      col("settlement_point") === "HB_NORTH")
    assert(df.count() == 0)
  }

  test("retry backoff: jitter bounded by U(0, jitterMs); zero-delay config never sleeps") {
    import graft.sources.{RetryConf, RetryPolicy, TransientPageError}
    def failTwice(): Int => String = {
      var calls = 0
      attempt => { calls += 1; if (calls <= 2) throw new TransientPageError(0, attempt) else "ok" }
    }
    // deterministic part 10+20=30ms; only the FLOOR is asserted — a
    // wall-clock ceiling would test the OS scheduler, not the policy
    val t0 = System.nanoTime()
    assert(RetryPolicy.withRetry(RetryConf(4, 10, jitterMs = 25))(failTwice()) == "ok")
    val ms = (System.nanoTime() - t0) / 1000000
    assert(ms >= 30, s"backoff floor violated: ${ms}ms")
    // zero-delay, zero-jitter config completes (never sleeps by code path)
    assert(RetryPolicy.withRetry(RetryConf(4, 0))(failTwice()) == "ok")
  }

  test("token lifecycle: cached until T-5 of expiry, then refreshed (singleton reuse)") {
    var now = 0L
    val tp = new graft.sources.TokenProvider(
      ttlMs = 3600000L, refreshAheadMs = 300000L, clock = () => now)
    val t1 = tp.current()
    now = 3600000L - 300001L // 1 ms before the refresh-ahead window opens
    assert(tp.current() == t1, "token must be reused until T-5")
    assert(tp.mintCount == 1)
    now = 3600000L - 300000L // exactly T-5: proactively refresh
    val t2 = tp.current()
    assert(t2 != t1)
    assert(tp.mintCount == 2)
    now = now + 60000L // well inside the new token's lifetime
    assert(tp.current() == t2)
    assert(tp.mintCount == 2)
  }
}
