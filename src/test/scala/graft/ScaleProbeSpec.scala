package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Laws of the scale probe's replicator and its min-of-two measurement,
  * at sf0.001 with two copies. */
class ScaleProbeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"
  import ScaleProbe.{Measured, Stride, minOfTwo, replicate}

  private def rows(corpus: String, table: String): Long =
    spark.read.parquet(s"$corpus/$table.parquet").count()

  test("replicas hold copies x base rows with ids disjoint across copies") {
    val clean = replicate(spark, dir, "clean", 2)
    val events = replicate(spark, dir, "events", 2)
    for ((corpus, table, id) <- Seq((clean, "documents", "doc_id"),
        (clean, "embeddings", "vec_id"), (events, "events", "event_id"))) {
      val base = Tables.load(spark, dir, table).count()
      val rep = spark.read.parquet(s"$corpus/$table.parquet")
      assert(rep.count() == 2 * base, table)
      assert(rep.select(id).distinct().count() == 2 * base, s"$table.$id")
    }
  }

  test("the clean sign flip preserves within-copy dot products exactly") {
    val vecs = spark.read.parquet(s"${replicate(spark, dir, "clean", 2)}/embeddings.parquet")
      .filter(col("vec_id") % Stride < 40).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray)
      .toMap
    def dot(a: Long, b: Long): Double = vecs(a).zip(vecs(b)).map { case (x, y) => x * y }.sum
    val ids = vecs.keys.filter(_ < Stride).toSeq.sorted
    assert(ids.size >= 20)
    assert(ids.exists(i => !vecs(i).sameElements(vecs(i + Stride))), "copy 1 must be flipped")
    for (a <- ids; b <- ids) assert(dot(a, b) == dot(a + Stride, b + Stride), s"($a, $b)")
  }

  test("the events stride keeps user_id joins within a copy") {
    def selfJoin(df: org.apache.spark.sql.DataFrame) =
      df.select(col("user_id"), col("event_id").as("l"))
        .join(df.select(col("user_id"), col("event_id").as("r")), "user_id")
    val base = selfJoin(Tables.load(spark, dir, "events")).count()
    val pairs = selfJoin(spark.read.parquet(
      s"${replicate(spark, dir, "events", 2)}/events.parquet"))
    assert(pairs.count() == 2 * base)
    assert(pairs.filter(floor(col("l") / ScaleProbe.EventStride) =!=
      floor(col("r") / ScaleProbe.EventStride)).isEmpty)
  }

  test("a replica is keyed on its base tables, never served stale") {
    val small = replicate(spark, dir, "events", 2)
    val other = replicate(spark, "/root/testdata/sf0.01", "events", 2)
    assert(small != other)
    assert(rows(other, "events") == 2 * Tables.load(spark, "/root/testdata/sf0.01", "events").count())
  }

  /** A scripted `once`: pass k returns outcomes(k). */
  private def scripted(outcomes: (Double, Long, Option[String])*): Measured[Long] = {
    val it = outcomes.iterator
    minOfTwo(() => it.next())
  }

  test("minOfTwo: a failed first pass is not re-run") {
    var calls = 0
    val m = minOfTwo { () => calls += 1; (2.0, -1L, Some("boom")) }
    assert(calls == 1)
    assert(m == Measured(2.0, -1L, Some("boom"), None, None))
  }

  test("minOfTwo: a failed second pass keeps pass 1 and records remeasureError") {
    val m = scripted((2.0, 7L, None), (1.0, -1L, Some("late")))
    assert(m.sec == 2.0 && m.payload == 7L && m.error.isEmpty && m.payload2.isEmpty)
    assert(m.remeasureError.exists(_.endsWith("late")))
  }

  test("minOfTwo: two clean passes take the min wall and pass 1's payload") {
    val m = scripted((2.0, 7L, None), (1.5, 8L, None))
    assert(m == Measured(1.5, 7L, None, None, Some(8L)))
  }
}
