package graft.sources

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** FanOut's loss accounting under every client failure mode — in
  * particular a LAZY client that faults mid-iteration, which must
  * degrade to one skipped item (not a failed job: the local master's
  * default spark.task.maxFailures=1 gives a propagating fault no
  * second attempt). */
class FanOutSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val retry = RetryConf(maxAttempts = 2, baseDelayMs = 1, jitterMs = 0)
  private val items = Seq("a" -> "1", "b" -> "2", "c" -> "3")

  test("clean fan-out: all rows land, zero skipped") {
    val f = FanOut.fetch[(String, Int)](spark, items, retry) { (name, _, _) =>
      Iterator(name -> 1, name -> 2)
    }
    assert(f.frame.collect().toSet == items.map(_._1).flatMap(n => Seq(n -> 1, n -> 2)).toSet)
    assert(f.skipped == 0L && f.emptyOk == 0L)
  }

  test("call-time fault beyond the retry budget: skip-and-count, others unaffected") {
    val f = FanOut.fetch[(String, Int)](spark, items, retry) { (name, _, _) =>
      if (name == "b") throw new RuntimeException("boom")
      Iterator(name -> 1)
    }
    assert(f.frame.collect().toSet == Set("a" -> 1, "c" -> 1))
    assert(f.skipped == 1L && f.emptyOk == 0L)
  }

  test("zero-row success counts emptyOk, not skipped") {
    val f = FanOut.fetch[(String, Int)](spark, items, retry) { (name, _, _) =>
      if (name == "b") Iterator.empty else Iterator(name -> 1)
    }
    assert(f.frame.collect().toSet == Set("a" -> 1, "c" -> 1))
    assert(f.skipped == 0L && f.emptyOk == 1L)
  }

  test("lazy client faulting MID-iteration: item skipped, partial rows dropped, job survives") {
    val f = FanOut.fetch[(String, Int)](spark, items, retry) { (name, _, _) =>
      if (name == "b") Iterator(name -> 1) ++ new Iterator[(String, Int)] {
        override def hasNext: Boolean = throw new RuntimeException("mid-stream fault")
        override def next(): (String, Int) = throw new IllegalStateException
      }
      else Iterator(name -> 1, name -> 2)
    }
    // b's partial row (b -> 1) must NOT leak into the frame.
    assert(f.frame.collect().toSet ==
      Set("a" -> 1, "a" -> 2, "c" -> 1, "c" -> 2))
    assert(f.skipped == 1L && f.emptyOk == 0L)
  }

  test("fault from next() itself also degrades to skip") {
    val f = FanOut.fetch[(String, Int)](spark, items, retry) { (name, _, _) =>
      if (name == "c") new Iterator[(String, Int)] {
        override def hasNext: Boolean = true
        override def next(): (String, Int) = throw new RuntimeException("bad row")
      }
      else Iterator(name -> 7)
    }
    assert(f.frame.collect().toSet == Set("a" -> 7, "b" -> 7))
    assert(f.skipped == 1L && f.emptyOk == 0L)
  }
}
