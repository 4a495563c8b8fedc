package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's query families must cover the engine's registry
  * exactly once each, so a newly registered query cannot go unmeasured
  * without someone deciding where it belongs. Run: `cd perfbench && sbt test`. */
class CoverageSpec extends AnyFunSuite {
  private val spec = Workloads.load("workloads.json")

  test("batch and stream families partition SparkEntry.queries") {
    val errors = Workloads.coverageErrors(spec, graft.SparkEntry.queries.keySet)
    assert(errors.isEmpty, errors.mkString("\n", "\n", ""))
  }

  test("the check names a query missing from every family") {
    val errors = Workloads.coverageErrors(spec, graft.SparkEntry.queries.keySet + "q999_new")
    assert(errors == Seq("registered but in no family: q999_new"))
  }

  test("every workload the benchmark declares can be built") {
    spec.workloads.keys.foreach(w => assert(spec.workload(w).ops.nonEmpty, w))
  }

  test("interval union merges overlaps and keeps gaps") {
    assert(Tracer.unionMs(Seq((0L, 10L), (5L, 20L), (30L, 40L))) == 30L)
    assert(Tracer.unionMs(Seq.empty) == 0L)
  }
}
