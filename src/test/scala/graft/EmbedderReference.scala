package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reference formulation of [[graft.pipeline.Embedder.embed]] as a
  * higher-order-function fold over the filtered token array. Test scope only:
  * it evaluates interpreted (CodegenFallback) and exists to pin the
  * native kernel's values bit for bit. */
object EmbedderReference {
  /** sign_i(tok) = +1 if bit (i mod 64) of xxhash64(tok, i/64) is 0,
    * else −1: ONE hash evaluation yields 64 independent sign bits
    * (feature hashing's standard trick), so a token pays ⌈dim/64⌉
    * hashes instead of dim — at Dim=64 exactly one, at RefDim=1536
    * twenty-four instead of 1536. The bits of a 64-bit avalanche hash
    * are pairwise independent coin flips, which is all the ±1
    * projection needs. */
  private def sign(word: Int => Column, i: Int): Column =
    when(shiftright(word(i / 64), i % 64).bitwiseAND(lit(1L)) === 0L,
      lit(1.0)).otherwise(lit(-1.0))

  /** raw(i) = Σ_tok sign_i(tok), computed as ONE fold over the token
    * array — each token contributes a ±1 vector to all Dim
    * accumulators in a single pass. */
  private def rawFold(toks: Column, dim: Int): Column = {
    val zero = array((0 until dim).map(_ => lit(0.0)): _*)
    aggregate(toks, zero, (acc, t) =>
      zip_with(acc, array((0 until dim).map(i =>
        sign(j => xxhash64(t, lit(j)), i)): _*),
        (a, b) => a + b))
  }

  private def toksOf(textCol: Column): Column =
    filter(split(lower(regexp_replace(textCol, "\\s+", " ")), "[^a-z0-9]+"),
      t => t =!= "")

  /** `df` with the reference embedding of `textCol` in column `out`.
    * Staged: the fold and the norm each get their own projection (both
    * are referenced more than once, so the optimizer keeps them apart);
    * the one-expression form would re-run the whole fold once per
    * element inside the normalizing `transform`. */
  def withEmbedding(df: DataFrame, textCol: String, dim: Int, out: String): DataFrame =
    df.withColumn("__raw", rawFold(toksOf(col(textCol)), dim))
      .withColumn("__nrm", sqrt(aggregate(col("__raw"), lit(0.0), (acc, x) => acc + x * x)))
      .withColumn(out, when(col("__nrm") > 0, transform(col("__raw"), x => x / col("__nrm")))
        .otherwise(col("__raw"))) // zero vector on empty text (embedding_service.py:86)
      .drop("__raw", "__nrm")
}
