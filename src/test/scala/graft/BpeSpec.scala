package graft

import graft.operators.TextQueries.bpeReplay
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** q108 BPE-training laws at sf0.001: the distributed trainer must
  * reproduce, merge for merge, a direct sequential implementation of
  * Sennrich et al. 2016 run on the collected word counts — and the
  * rule replay must equal greedy leftmost scanning on planted runs
  * (the case a merge gets wrong first: overlapping matches like
  * 'a a a a') and a sequential fold over random rule lists.
  */
class BpeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  /** `words` with the rules replayed over column `w`. */
  private def replayed(words: DataFrame, rules: (String, String)*): DataFrame =
    words.withColumn("w", bpeReplay(col("w"), rules))

  /** The units of [[randomWords]]. */
  private val alphabet = Vector("a", "b", "ab", "_")

  /** 300 random unit sequences over [[alphabet]], deduplicated. Fixed
    * seed: reproducible. */
  private lazy val randomWords: Vector[Vector[String]] = {
    val rnd = new scala.util.Random(20260814)
    Vector.fill(300)(
      Vector.fill(1 + rnd.nextInt(12))(alphabet(rnd.nextInt(alphabet.size))))
      .distinct
  }

  /** Greedy leftmost non-overlapping application — the reference. */
  private def applySeq(units: Vector[String], l: String, r: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < units.length) {
      if (i + 1 < units.length && units(i) == l && units(i + 1) == r) {
        out += (l + r); i += 2
      } else { out += units(i); i += 1 }
    }
    out.result()
  }

  test("q108 equals a sequential reference BPE trainer, merge for merge") {
    import org.apache.spark.sql.functions._
    // Word counts, collected once (vocab-sized at any SF).
    var words: Map[Vector[String], Long] = Tables.load(spark, dir, "documents")
      .select(explode(graft.functions.TextOps.tokens(col("text"))).as("tok"))
      .groupBy("tok").count()
      .collect()
      .map(r => (r.getString(0).map(_.toString).toVector :+ "_") -> r.getLong(1))
      .toMap
    val expected = (1 to 8).flatMap { step =>
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      words.foreach { case (us, c) =>
        us.sliding(2).foreach {
          case Seq(a, b) => counts((a, b)) = counts.getOrElse((a, b), 0L) + c
          case _ => ()
        }
      }
      if (counts.isEmpty) None
      else {
        val ((l, r), tot) = counts.minBy { case ((a, b), c) => (-c, a, b) }
        words = words.map { case (us, c) => applySeq(us, l, r) -> c }
        Some((step.toLong, l, r, l + r, tot))
      }
    }
    val got = SparkEntry.queries("q108_bpe_train")(spark, dir).collect()
      .sortBy(_.getAs[Long]("step"))
      .map(r => (r.getAs[Long]("step"), r.getAs[String]("lhs"),
        r.getAs[String]("rhs"), r.getAs[String]("merged"),
        r.getAs[Long]("score"))).toSeq
    assert(got == expected)
  }

  test("q109 per-doc unit counts equal the sequential reference segmentation") {
    import org.apache.spark.sql.functions._
    // Sequential trainer → token → final unit count.
    var words: Map[String, Vector[String]] = Tables.load(spark, dir, "documents")
      .select(explode(graft.functions.TextOps.tokens(col("text"))).as("tok"))
      .groupBy("tok").count().collect()
      .map(r => r.getString(0) -> (r.getString(0).map(_.toString).toVector :+ "_"))
      .toMap
    var counts: Map[String, Long] = Tables.load(spark, dir, "documents")
      .select(explode(graft.functions.TextOps.tokens(col("text"))).as("tok"))
      .groupBy("tok").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    (1 to 8).foreach { _ =>
      val pc = scala.collection.mutable.Map.empty[(String, String), Long]
      words.foreach { case (tok, us) =>
        us.sliding(2).foreach {
          case Seq(a, b) => pc((a, b)) = pc.getOrElse((a, b), 0L) + counts(tok)
          case _ => ()
        }
      }
      if (pc.nonEmpty) {
        val ((l, r), _) = pc.minBy { case ((a, b), c) => (-c, a, b) }
        words = words.map { case (tok, us) => tok -> applySeq(us, l, r) }
      }
    }
    val unitCount = words.view.mapValues(_.length.toLong).toMap
    val expected = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), explode(graft.functions.TextOps.tokens(col("text"))).as("tok"))
      .collect()
      .groupBy(_.getAs[Long]("doc_id"))
      .view.mapValues { rs =>
        (rs.length.toLong, rs.map(r => unitCount(r.getAs[String]("tok"))).sum)
      }.toMap
    val got = SparkEntry.queries("q109_bpe_segment")(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_units"))).toMap
    assert(got == expected)
  }

  test("q112: persisted-rule replay equals sequential training + sequential application") {
    import org.apache.spark.sql.functions._
    // Sequential trainer on the TRAINING corpus (as in the q108 law)…
    val counts = Tables.load(spark, dir, "documents")
      .select(explode(graft.functions.TextOps.tokens(col("text"))).as("tok"))
      .groupBy("tok").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    var words: Map[String, Vector[String]] =
      counts.keys.map(t => t -> (t.map(_.toString).toVector :+ "_")).toMap
    val rules = scala.collection.mutable.ArrayBuffer[(String, String)]()
    (1 to 8).foreach { _ =>
      val pc = scala.collection.mutable.Map.empty[(String, String), Long]
      words.foreach { case (tok, us) =>
        us.sliding(2).foreach {
          case Seq(a, b) => pc((a, b)) = pc.getOrElse((a, b), 0L) + counts(tok)
          case _ => ()
        }
      }
      if (pc.nonEmpty) {
        val ((l, r), _) = pc.minBy { case ((a, b), c) => (-c, a, b) }
        rules += ((l, r))
        words = words.map { case (tok, us) => tok -> applySeq(us, l, r) }
      }
    }
    // …then sequential APPLICATION of those rules to the batch —
    // including its OOV marker tokens, which the trainer never saw.
    val batchDocs = Tables.load(spark, dir, "documents")
      .filter(col("doc_id") % 5 === 1)
      .select((col("doc_id") + 70000).as("doc_id"),
        concat(col("text"), lit(" zq"), pmod(col("doc_id"), lit(7)).cast("string"))
          .as("text"))
    val expected = batchDocs
      .select(col("doc_id"), explode(graft.functions.TextOps.tokens(col("text"))).as("tok"))
      .collect()
      .groupBy(_.getAs[Long]("doc_id"))
      .view.mapValues { rs =>
        val units = rs.map { r =>
          val t = r.getAs[String]("tok")
          rules.foldLeft(t.map(_.toString).toVector :+ "_") {
            case (us, (l, r2)) => applySeq(us, l, r2)
          }.length.toLong
        }
        (rs.length.toLong, units.sum)
      }.toMap
    val got = SparkEntry.queries("q112_bpe_apply_persisted")(spark, dir)
      .collect().map { r =>
        r.getAs[Long]("doc_id") -> (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_units"))
      }.toMap
    assert(got == expected)
    // The batch genuinely contains OOV tokens (the whole point).
    val oov = batchDocs
      .select(explode(graft.functions.TextOps.tokens(col("text"))).as("tok"))
      .distinct().collect().map(_.getString(0)).filterNot(counts.contains)
    assert(oov.nonEmpty, "batch should carry out-of-vocabulary tokens")
  }

  test("q108/q109 survive merge exhaustion (degenerate single-token corpus)") {
    // Vocabulary {'a'} exhausts after one merge ('a','_') → 'a_'.
    // The review found the pre-fix oracle EMPTIED its word table here
    // (CROSS JOIN with an empty best_i) while Spark kept it — the CTE
    // now LEFT-JOINs, and these expectations were verified against
    // DuckDB on the same two-row corpus before being pinned.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_bpe_degen")
      .toFile.getAbsolutePath
    Seq((0L, "a a a", "en", "s", 5L), (1L, "a", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val m = SparkEntry.queries("q108_bpe_train")(spark, dir).collect()
    assert(m.map(r => (r.getAs[Long]("step"), r.getAs[String]("lhs"),
      r.getAs[String]("rhs"), r.getAs[String]("merged"),
      r.getAs[Long]("score"))).toSeq == Seq((1L, "a", "_", "a_", 4L)))
    val seg = SparkEntry.queries("q109_bpe_segment")(spark, dir).collect()
    assert(seg.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
      r.getAs[Long]("n_units"))).toSet == Set((0L, 3L, 3L), (1L, 1L, 1L)))
  }

  test("bpeApplyMerge handles overlapping runs greedily leftmost") {
    val cases = Seq(
      // (word, pair, expected) — runs are where every-second-match matters
      ("a a a _", ("a", "a"), "aa a _"),
      ("a a a a _", ("a", "a"), "aa aa _"),
      ("a a a a a _", ("a", "a"), "aa aa a _"),
      ("b a a b _", ("a", "a"), "b aa b _"),
      ("a b a b _", ("a", "b"), "ab ab _"),
      ("x y _", ("a", "b"), "x y _"), // no match → untouched
      ("c s _", ("s", "_"), "c s_"), // end-of-word marker merges too
      // prefilter false positive: "a b" occurs only across a unit
      // boundary ("xa b"), so the rewrite must pass it through intact
      ("xa b _", ("a", "b"), "xa b _"))
    cases.foreach { case (w, (l, r), want) =>
      val in = spark.createDataFrame(Seq((w, 1L))).toDF("w", "cnt")
      val out = replayed(in, l -> r)
        .collect().map(x => (x.getString(0), x.getLong(1)))
      assert(out.toSeq == Seq((want, 1L)), s"'$w' + ($l,$r)")
    }
  }

  test("bpeApplyMerge equals sequential greedy application on randomized words") {
    // 300 random unit sequences over {a, b, ab, _} × all 16 (l, r)
    // pairs — covers runs, EOW merges, multi-char units, and words
    // that COLLIDE post-merge ('a b _' and 'ab _' both → 'ab _'),
    // which is why the comparison is a multiset. (In the pipeline
    // collisions cannot occur — unit concatenation always spells the
    // original token, so distinct tokens keep distinct words — but
    // the helper must not silently rely on that here.)
    val words = randomWords
    val in = spark.createDataFrame(words.map(us => (us.mkString(" "), 1L)))
      .toDF("w", "cnt")
    for (l <- alphabet; r <- alphabet) {
      val expected = words.map(us => applySeq(us, l, r).mkString(" "))
        .groupBy(identity).view.mapValues(_.size).toMap
      val got = replayed(in, l -> r)
        .collect().map(_.getString(0))
        .groupBy(identity).view.mapValues(_.size).toMap
      assert(got == expected, s"pair ($l,$r)")
    }
  }

  test("bpeApplyMerge rewrites rows sharing w but differing in carry independently") {
    // Two rows with the SAME unit string but distinct other columns
    // (e.g. two toks normalizing to one w): the rewrite is row-local,
    // so each row rewrites on its own and keeps its own columns.
    val in = spark.createDataFrame(Seq(
      ("a a a a _", "tokX", 2L), ("a a a a _", "tokY", 5L), ("b a a _", "tokZ", 1L)))
      .toDF("w", "tok", "cnt")
    val out = replayed(in, "a" -> "a")
      .collect().map(x => (x.getString(0), x.getString(1), x.getLong(2))).toSet
    assert(out == Set(
      ("aa aa _", "tokX", 2L), ("aa aa _", "tokY", 5L), ("b aa _", "tokZ", 1L)))
  }

  test("bpeApplyMerge preserves counts and word multiplicity") {
    val in = spark.createDataFrame(Seq(
      ("a b c _", 7L), ("a b a b _", 3L), ("z _", 11L))).toDF("w", "cnt")
    val out = replayed(in, "a" -> "b")
      .collect().map(x => (x.getString(0), x.getLong(1))).toSet
    assert(out == Set(("ab c _", 7L), ("ab ab _", 3L), ("z _", 11L)))
  }

  test("bpeReplay of a rule list equals the sequential fold of its rules") {
    // 36 random rule lists, four of each length 0-8, over the same 300
    // random words. Each rule draws its units from the alphabet plus
    // the earlier rules' merged units, so later rules consume earlier
    // merges and the order of the list matters. Multiset comparison,
    // as in the one-rule law.
    val rnd = new scala.util.Random(20261019)
    val in = spark.createDataFrame(randomWords.map(us => (us.mkString(" "), 1L)))
      .toDF("w", "cnt")
    for (i <- 0 until 36) {
      var pool = alphabet
      val rules = Vector.fill(i % 9) {
        val (l, r) = (pool(rnd.nextInt(pool.size)), pool(rnd.nextInt(pool.size)))
        pool :+= l + r
        (l, r)
      }
      val expected = randomWords
        .map(us => rules.foldLeft(us) { case (u, (l, r)) => applySeq(u, l, r) }.mkString(" "))
        .groupBy(identity).view.mapValues(_.size).toMap
      val got = replayed(in, rules: _*)
        .collect().map(_.getString(0))
        .groupBy(identity).view.mapValues(_.size).toMap
      assert(got == expected, s"rules $rules")
    }
  }

  test("q112 starts at most 9 jobs") {
    // The replay is one projection under the seg broadcast: no
    // checkpoint per rule.
    val counts = TestSpark.jobCountsUntil("q112_bpe_apply_persisted", dir, 9L)
    assert(counts.exists(_ <= 9L), s"jobs per run: $counts")
  }

  test("q123 streams the tokenize: >= 2 micro-batches, stream == batch counts") {
    // The oracle gate proves stream ≡ DuckDB; this pins stream ≡ the
    // q112 batch plan directly (per-micro-batch word tables are SUBSETS
    // of the whole-batch table — replaying the persisted rules on a
    // subset must segment every token identically).
    val dir = "/root/testdata/sf0.001"
    def keyed(name: String) = SparkEntry.queries(name)(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val stream = keyed("q123_stream_tokenize")
    val asBatch = keyed("q112_bpe_apply_persisted")
    assert(stream.nonEmpty && stream == asBatch,
      s"stream counts drift from batch: ${(stream diff asBatch).take(3)} / ${(asBatch diff stream).take(3)}")
    // Boundary discipline, OBSERVED (the shared StreamChecks gate).
    StreamChecks.assertCrossedBoundary("q123")
  }
}
