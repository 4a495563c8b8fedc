package graft

import graft.plans.CollectTopK
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** The custom top-k aggregate, read through its row builder, must agree
  * exactly with the ranking-window formulation (its semantic reference)
  * under any partitioning — that is what licenses the Q·P·k
  * shuffle-reduction in q26. */
class CollectTopKSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def windowTopK(df: org.apache.spark.sql.DataFrame, k: Int, smallest: Boolean) = {
    val w = Window.partitionBy(col("g"))
      .orderBy(if (smallest) col("s") else col("s").desc, col("i"))
    df.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("g"), col("i"), col("s"), col("rn").cast("long").as("rn"))
  }

  private def aggTopK(df: org.apache.spark.sql.DataFrame, k: Int, smallest: Boolean = false) =
    CollectTopK.ranked(df.groupBy(col("g")), col("s"), col("i"), k, "i", "s", smallest)

  test("matches the ranking window exactly on seeded random data, any partitioning") {
    val r = new Random(42)
    val rows = Seq.fill(2000)((r.nextInt(7).toString, r.nextLong() % 1000,
      math.round(r.nextDouble() * 1e6) / 1e6))
    // Smallest-first input: distances on a 0.1 grid, so a group's best
    // five are ties at d = 0 that only the id order separates.
    val dists = rows.map { case (g, i, s) => (g, i, math.floor(s * 10) / 10) }
    // Signed-zero input: every score is -0.0 or 0.0, which SQL orders
    // as equal, so only the id order separates a group's rows.
    val zeros = rows.map { case (g, i, s) => (g, i, if (s < 0.5) -0.0 else 0.0) }
    for ((input, smallest, k) <- Seq((rows, false, 5), (dists, true, 5), (dists, true, 1),
        (zeros, false, 5));
         parts <- Seq(1, 4, 13)) {
      val df = input.toDF("g", "i", "s").repartition(parts)
      val want = windowTopK(df, k, smallest).collect().map(_.toSeq).toSet
      val got = aggTopK(df, k, smallest).collect()
      assert(got.map(_.toSeq).toSet == want, s"parts=$parts smallest=$smallest k=$k")
      // The k = 1 argmin is the (d, id)-keyed min_by it replaces.
      if (k == 1) {
        val argmin = df.groupBy(col("g"))
          .agg(min_by(struct(col("i"), col("s")), struct(col("s"), col("i"))).as("a"))
          .select(col("g"), col("a.i"), col("a.s"), lit(1L))
        assert(got.map(_.toSeq).toSet == argmin.collect().map(_.toSeq).toSet, s"parts=$parts")
      }
      // The sign is restored: a zero distance comes back as +0.0.
      val zeros = got.map(_.getDouble(2)).filter(_ == 0.0)
      if (smallest) assert(zeros.nonEmpty &&
        zeros.forall(java.lang.Double.doubleToRawLongBits(_) == 0L), s"parts=$parts k=$k")
    }
  }

  test("ties on score break on ascending id (the oracle's order)") {
    val df = Seq(("g", 30L, 1.0), ("g", 10L, 1.0), ("g", 20L, 1.0), ("g", 40L, 0.5))
      .toDF("g", "i", "s")
    val got = aggTopK(df, 3).select("i", "rn").as[(Long, Long)].collect().toSeq.sortBy(_._2)
    assert(got == Seq((10L, 1L), (20L, 2L), (30L, 3L)))
  }

  test("groups smaller than k return all their rows, best-first") {
    val df = Seq(("a", 1L, 0.3), ("a", 2L, 0.9)).toDF("g", "i", "s")
    val got = aggTopK(df, 10).select("i", "rn").as[(Long, Long)].collect().toSeq.sortBy(_._2)
    assert(got == Seq((2L, 1L), (1L, 2L)))
  }

  test("null scores are skipped, not ranked") {
    val df = Seq(("a", 1L, Some(0.4)), ("a", 2L, None), ("a", 3L, Some(0.8)))
      .toDF("g", "i", "s")
    val got = aggTopK(df, 5).select("i").as[Long].collect().toSet
    assert(got == Set(1L, 3L))
  }

  test("plans as ObjectHashAggregate with a partial stage (map-side combine)") {
    val df = Seq(("a", 1L, 0.4), ("b", 2L, 0.5)).toDF("g", "i", "s").repartition(2)
    val plan = aggTopK(df, 3).queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(plan.contains("partial_collect_topk") || plan.contains("partial collect_topk")
      || plan.toLowerCase.contains("partial"), plan)
  }
}
