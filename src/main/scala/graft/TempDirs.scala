package graft

import java.nio.file.{Files, Path}

/** Per-invocation scratch roots for the streaming-harness and
  * artifact-publishing queries (q49/q53/q54/q71/q94/q118/q120/q122/...),
  * with the cleanup raw `Files.createTempDirectory` calls lack: each
  * label's PREVIOUS root is purged when a fresh one is requested (bounding in-JVM accumulation to one live root per
  * label across warm + measured + remeasure passes), and whatever is
  * still live is purged by a JVM shutdown hook — so repeated
  * bench/verify runs no longer accumulate corpus-sized garbage in
  * java.io.tmpdir (q122 writes full copies of two persisted artifacts
  * per invocation).
  *
  * Invocation contract: a query's returned DataFrame may lazily read
  * from its scratch root, so the root must outlive the frame's
  * materialization — it does: deletion happens only when the SAME
  * query is invoked again (by which point the harnesses have always
  * materialized the prior frame) or at JVM exit.
  */
object TempDirs {
  private val live = scala.collection.concurrent.TrieMap[String, Path]()

  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      live.values.foreach(deleteRecursively)
      live.clear()
    }))
  }

  private def deleteRecursively(root: Path): Unit =
    try {
      if (Files.exists(root)) {
        val stream = Files.walk(root)
        try {
          stream.sorted(java.util.Comparator.reverseOrder[Path]())
            .forEach(p => { Files.deleteIfExists(p); () })
        } finally stream.close()
      }
    } catch { case scala.util.control.NonFatal(_) => () } // best-effort

  /** Synchronous best-effort recursive delete of a path INSIDE a live
    * scratch root — for callers that retire their own sub-artifacts
    * mid-run (q134's version retention deletes superseded working
    * copies between micro-batches). */
  def purge(path: String): Unit =
    deleteRecursively(java.nio.file.Paths.get(path))

  /** The currently-live root for `label`, if one exists — lets a spec
    * inspect the checkpoint/source layout a query just drained (e.g.
    * count committed micro-batches) without re-deriving the path. */
  def current(label: String): Option[String] =
    live.get(label).map(_.toFile.getAbsolutePath)

  /** A fresh empty scratch root for `label`; the previous root handed
    * out under the same label is deleted on a BACKGROUND daemon thread —
    * callers invoke fresh() inside timed/measured regions (Bench's tail
    * re-measure, the probes' min-of-two second pass), and a synchronous
    * walk-and-unlink of run N−1's corpus-sized tree on the same volume
    * the bench is measuring would bill cleanup to run N's reading. The
    * old path is never reused (createTempDirectory mints unique names),
    * so the deletion races nothing. */
  def fresh(label: String): String = {
    live.remove(label).foreach { old =>
      val t = new Thread(() => deleteRecursively(old), s"graft-tempdir-gc-$label")
      t.setDaemon(true)
      t.start()
    }
    val p = Files.createTempDirectory(s"graft_$label")
    live.put(label, p)
    p.toFile.getAbsolutePath
  }
}
