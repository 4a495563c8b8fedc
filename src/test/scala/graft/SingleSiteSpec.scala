package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Each of these has exactly one home in `src/main/scala`; a second
  * copy elsewhere fails here, so the one-site refactors stay done:
  * streams open, trigger and wait only in `streaming/Drain.scala`,
  * helper threads come only from `Overlap.scala`, sessions are built
  * only in `GraftSession.scala`, and only `CollectTopK`'s own row
  * builder reads its heap layout. Every argmin and best-of-group pick
  * goes through `CollectTopK.ranked`, so `min_by`/`max_by` appear only
  * in `SimilarityQueries.ivfpqCodes`, whose scaladoc pins the A/B that
  * keeps it. Each folded oracle SQL fragment is spelled on one line. */
class SingleSiteSpec extends AnyFunSuite {

  private val mainRoot = Paths.get("src/main/scala")

  private lazy val sources: Seq[(Path, String)] = {
    val walk = Files.walk(mainRoot)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => mainRoot.relativize(p) -> new String(Files.readAllBytes(p), "UTF-8"))
    finally walk.close()
  }

  /** Lines of `src/main` matching `pattern`, as (path, 1-based line, text). */
  private def matches(pattern: String): Seq[(String, Int, String)] = {
    val regex = pattern.r
    for {
      (path, text) <- sources
      (line, n) <- text.linesIterator.zipWithIndex if regex.findFirstIn(line).nonEmpty
    } yield (path.toString, n + 1, line.trim)
  }

  private def show(lines: Seq[(String, Int, String)]): String =
    lines.map { case (p, n, l) => s"$p:$n: $l" }.mkString("\n", "\n", "")

  private val rules = Seq(
    ("readStream|Trigger\\.AvailableNow|awaitTermination", "graft/streaming/Drain.scala"),
    ("scala\\.concurrent\\.(_|Future\\b|\\{[^}]*\\bFuture\\b)|\\bFuture\\s*[({\\[.]",
      "graft/Overlap.scala"),
    ("SparkSession\\.builder", "graft/GraftSession.scala"),
    ("CollectTopK\\.topk\\(", "graft/plans/CollectTopK.scala"))

  for ((pattern, owner) <- rules)
    test(s"/$pattern/ appears only in $owner") {
      assert(sources.exists(_._1.toString == owner), s"$owner is missing")
      val (home, strays) = matches(pattern).partition(_._1 == owner)
      assert(strays.isEmpty, show(strays))
      assert(home.nonEmpty, s"$owner no longer matches /$pattern/")
    }

  /** Oracle SQL fragments each built by one function (the BPE word,
    * the components walk, the band probe, the containment totals, the
    * survivor rank): every query that needs one calls its builder. */
  private val oracleFragments = Seq(
    """concat(regexp_replace(tok, '(.)', '\\1 ', 'g'), '_')""",
    "walk(id, r) AS (",
    "nearm AS (",
    "totals AS (SELECT eval_id",
    "ORDER BY len(u.text) DESC")

  for (fragment <- oracleFragments)
    test(s"oracle fragment `$fragment` sits on one line of src/main") {
      val hits = matches(java.util.regex.Pattern.quote(fragment))
      assert(hits.size == 1, show(hits))
    }

  test("/min_by\\(|max_by\\(/ appears only in SimilarityQueries.ivfpqCodes") {
    val owner = "graft/operators/SimilarityQueries.scala"
    val lines = sources.find(_._1.toString == owner).get._2.linesIterator.toVector
    val from = lines.indexWhere(_.contains("def ivfpqCodes("))
    val body = (from + 1) to lines.indexWhere(_.trim.isEmpty, from)
    val (home, strays) = matches("min_by\\(|max_by\\(")
      .partition { case (p, n, _) => p == owner && from >= 0 && body.contains(n) }
    assert(strays.isEmpty, show(strays))
    assert(home.size == 1, s"ivfpqCodes no longer calls min_by: drop its exception here${show(home)}")
  }
}
