package graft

import java.util.concurrent.atomic.AtomicBoolean
import org.scalatest.funsuite.AnyFunSuite

/** The `Overlap` contract, without Spark: both results come back; a
  * failing main branch still waits for the side branch and wins over
  * its failure; a failing side branch surfaces when main is clean. */
class OverlapSpec extends AnyFunSuite {

  test("returns both branches' results") {
    assert(Overlap(1 + 1)("main") == ((2, "main")))
  }

  test("a failing main waits for the side branch; its exception wins, the side's is suppressed") {
    val sideDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Overlap[Unit, Unit] {
        Thread.sleep(200)
        sideDone.set(true)
        throw new IllegalArgumentException("side")
      }(throw new IllegalStateException("main"))
    }
    assert(e.getMessage == "main")
    assert(sideDone.get, "the side branch was still running when main's failure escaped")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("side"))
  }

  test("a failing side branch surfaces when main succeeds") {
    val e = intercept[IllegalArgumentException] {
      Overlap[Unit, Int](throw new IllegalArgumentException("side"))(42)
    }
    assert(e.getMessage == "side")
  }
}
