package graft

import org.scalatest.Assertions._

/** Shared micro-batch boundary inspection for the queries that drain
  * through `Drain.split` (q71/q118/q120/q123/q124): AvailableNow leaves
  * one commit file per executed micro-batch in the checkpoint, and the
  * source must hold ≥2 non-empty parquet part files drained at
  * maxFilesPerTrigger=1 — together they OBSERVE (not assume) that the
  * stream-≡-batch equality really spanned a boundary. The paths come
  * from `Drain`'s scratch layout.
  */
object StreamChecks {

  /** Assert the just-drained query under TempDirs label `label` ran
    * ≥2 committed micro-batches over ≥2 non-empty source part files. */
  def assertCrossedBoundary(label: String): Unit = {
    val root = TempDirs.current(label).getOrElse(
      fail(s"$label left no scratch root to inspect"))
    val commits = Option(new java.io.File(streaming.Drain.commitsDir(root)).listFiles())
      .getOrElse(Array.empty).count(_.getName.forall(_.isDigit))
    assert(commits >= 2, s"expected >=2 committed micro-batches, saw $commits")
    val srcParts = Option(new java.io.File(streaming.Drain.srcDir(root)).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(srcParts.count(_.length > 0) >= 2,
      s"expected >=2 non-empty source part files, saw ${srcParts.map(_.length).mkString(",")}")
  }
}
