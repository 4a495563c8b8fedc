package graft

import graft.pipeline.{DailySummary, Embedder}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The deterministic embedder's contract (SURVEY.md §2.10 U1; reference
  * embedding_service.py:50-124: fixed dim, L2-normalized, zero-vector
  * fallback). Determinism is what makes the whole harness reproducible. */
class EmbedderSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def embed(texts: String*): Seq[Seq[Double]] =
    Embedder.withEmbedding(texts.toDF("text"), "text")
      .select("embedding").as[Seq[Double]].collect().toSeq

  test("dimension is fixed at Embedder.Dim") {
    assert(embed("hello world").head.size == Embedder.Dim)
  }

  test("same text → identical vector (determinism across evaluations)") {
    val Seq(a, b) = embed("the quick brown fox", "the quick brown fox")
    assert(a == b)
    val again = embed("the quick brown fox").head
    assert(a == again)
  }

  test("non-empty text → unit L2 norm") {
    for (v <- embed("alpha beta gamma", "x")) {
      val norm = math.sqrt(v.map(x => x * x).sum)
      assert(math.abs(norm - 1.0) < 1e-9)
    }
  }

  test("empty / non-alnum text → zero vector (embedding_service.py:86)") {
    for (v <- embed("", "!!! ---")) {
      assert(v.forall(_ == 0.0))
    }
  }

  test("whitespace normalization: newlines embed like spaces (F3)") {
    val Seq(a, b) = embed("foo\nbar", "foo bar")
    assert(a == b)
  }

  test("different texts diverge (not a constant function)") {
    val Seq(a, b) = embed("completely different words here", "other tokens entirely now")
    assert(a != b)
  }

  test("reference-schema fidelity: full 1536-dim embedding (VECTOR(1536))") {
    val vs = Embedder.withEmbedding(
        Seq("alpha beta gamma", "").toDF("text"), "text", dim = Embedder.RefDim)
      .select("embedding").as[Seq[Double]].collect().toSeq
    assert(Embedder.RefDim == 1536)
    assert(vs.forall(_.size == 1536))
    val norm = math.sqrt(vs.head.map(x => x * x).sum)
    assert(math.abs(norm - 1.0) < 1e-9) // L2-normalized at full width too
    assert(vs(1).forall(_ == 0.0))      // empty text → 1536-wide zero vector
  }

  /** Rows of `df` whose kernel embedding of `textCol` is not `==` to the
    * test-scope HOF reference's, element for element. */
  private def mismatches(df: DataFrame, textCol: String, dim: Int): Seq[String] =
    EmbedderReference.withEmbedding(df.repartition(4), textCol, dim, "r")
      .withColumn("k", Embedder.embed(col(textCol), dim))
      .collect().toSeq.collect {
        case r if r.getAs[Seq[Double]]("k") != r.getAs[Seq[Double]]("r") ||
            (r.getAs[Seq[Double]]("k") != null && r.getAs[Seq[Double]]("k").size != dim) =>
          s"dim $dim: ${r.getAs[String](textCol)}"
      }

  private val Dims = Seq(64, 100, Embedder.RefDim)

  test("kernel == HOF reference, bit for bit: edge-case texts") {
    val texts = Seq(None, Some(""), Some("!!! ---"), Some("foo\n\tbar  baz\r\n"),
      Some("echo echo echo Echo ECHO"), Some("Café naïve — 東京 42"),
      Some("the quick brown fox jumps over the lazy dog 0123456789"))
      .toDF("text")
    for (d <- Dims) assert(mismatches(texts, "text", d).isEmpty)
  }

  test("kernel == HOF reference, bit for bit: every documents.text at sf0.01") {
    val docs = Tables.load(spark, "/root/testdata/sf0.01", "documents").select("text")
    assert(docs.count() == 500)
    for (d <- Dims) assert(mismatches(docs, "text", d).isEmpty)
  }

  test("DailySummary.run at sf0.001: every embedding == the reference of its sentence") {
    val out = EmbedderReference.withEmbedding(DailySummary.run(spark, "/root/testdata/sf0.001"),
        "semantic_sentence", Embedder.Dim, "r")
      .select("embedding", "r").collect()
    assert(out.nonEmpty)
    out.foreach(r => assert(r.getSeq[Double](0) == r.getSeq[Double](1), r))
  }
}
