package graft

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Two independent branches of one query run at once: `side` on a
  * helper thread, `main` on the caller's. Spark job submission is
  * thread-safe, so the side branch's jobs back-fill the executors the
  * main branch's stage tails leave idle, and latency is the max of the
  * two, not their sum.
  *
  * Contract: the side branch runs on `ExecutionContext.global`; it is
  * awaited even when `main` throws, so no side job keeps running past
  * the query's unwind; `main`'s exception is the one the caller sees,
  * with a side failure attached as suppressed. With `main` clean, a
  * side failure is rethrown. */
object Overlap {
  def apply[A, B](side: => A)(main: => B): (A, B) = {
    val f = Future(side)(ExecutionContext.global)
    val b =
      try main
      catch {
        case primary: Throwable =>
          Await.ready(f, Duration.Inf)
          f.value.flatMap(_.failed.toOption).foreach(primary.addSuppressed)
          throw primary
      }
    (Await.result(f, Duration.Inf), b)
  }
}
