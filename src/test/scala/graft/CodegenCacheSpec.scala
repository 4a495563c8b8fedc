package graft

import org.scalatest.funsuite.AnyFunSuite

/** The generated-class cache holds a whole query's working set:
  * `Tables.configure` sizes it to `Tables.CodegenCacheEntries` and keeps
  * repeat plans' code text and class loaders stable. q132 alone needs
  * ~141 entries (each class is cached under the driver's loader and the
  * executor tasks'), so at Spark's default cap of 100 every repeat
  * recompiled ~132 classes. */
class CodegenCacheSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def compilesOf(name: String): Long = {
    val before = Tables.codegenCompiles()
    SparkEntry.queries(name)(spark, dir).write.mode("overwrite").format("noop").save()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    Tables.codegenCompiles() - before
  }

  test("a repeat run of q132 compiles no class") {
    val q = "q132_curriculum_shards"
    compilesOf(q)
    // AQE picks some join and stage shapes from runtime stage timing, so a
    // repeat now and then plans a variant whose classes are new code (4
    // classes, about 1 run in 10 at sf0.001). A variant compiles once and
    // is then cached like the rest, so a further repeat compiles nothing.
    var counts = List.empty[Long]
    while (counts.size < 3 && !counts.contains(0L)) counts :+= compilesOf(q)
    assert(counts.contains(0L), s"classes compiled per repeat: $counts")
  }
}
