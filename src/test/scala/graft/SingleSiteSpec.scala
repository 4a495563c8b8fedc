package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Each of these has exactly one home in `src/main/scala`; a second
  * copy elsewhere fails here, so the one-site refactors stay done:
  * streams open, trigger and wait only in `streaming/Drain.scala`,
  * helper threads come only from `Overlap.scala`, sessions are built
  * only in `GraftSession.scala`, and the argmin cell assignment's
  * (d, cell_id) key lives only in `VectorIndex.assign`. */
class SingleSiteSpec extends AnyFunSuite {

  private val mainRoot = Paths.get("src/main/scala")

  private lazy val sources: Seq[(Path, String)] = {
    val walk = Files.walk(mainRoot)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => mainRoot.relativize(p) -> new String(Files.readAllBytes(p), "UTF-8"))
    finally walk.close()
  }

  private val rules = Seq(
    ("readStream|Trigger\\.AvailableNow|awaitTermination", "graft/streaming/Drain.scala"),
    ("scala\\.concurrent\\.(_|Future\\b|\\{[^}]*\\bFuture\\b)|\\bFuture\\s*[({\\[.]",
      "graft/Overlap.scala"),
    ("SparkSession\\.builder", "graft/GraftSession.scala"),
    ("struct\\(col\\(\"d\"\\), col\\(\"cell_id\"\\)\\)", "graft/pipeline/VectorIndex.scala"))

  for ((pattern, owner) <- rules)
    test(s"/$pattern/ appears only in $owner") {
      assert(sources.exists(_._1.toString == owner), s"$owner is missing")
      val regex = pattern.r
      val strays = for {
        (path, text) <- sources if path.toString != owner
        (line, n) <- text.linesIterator.zipWithIndex if regex.findFirstIn(line).nonEmpty
      } yield s"$path:${n + 1}: ${line.trim}"
      assert(strays.isEmpty, strays.mkString("\n", "\n", ""))
      assert(regex.findFirstIn(sources.find(_._1.toString == owner).get._2).nonEmpty,
        s"$owner no longer matches /$pattern/")
    }
}
