package graft.pipeline

import graft.plans.HashSignEmbed
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic local text embedder (SURVEY.md §2.10 U1).
  *
  * The reference calls OpenAI `text-embedding-3-small` per batch
  * (src/services/embedding_service.py:50-124, dim 1536, zero-vector on
  * error). Offline + reproducible here: a seeded hash-projection
  * embedding — token t adds sign_i(t) = ±1 to dimension i, where
  * sign_i(t) is bit (i mod 64) of xxhash64(t, i/64), so a token pays
  * ⌈dim/64⌉ hashes instead of dim — then the sum is L2-normalized.
  * Tokens are the non-empty runs of `[a-z0-9]` after lowercasing and
  * newline-flattening (embedding_service.py:67 — the reference's
  * literal-"\\n" bug is fixed here per SURVEY F3). Text with no tokens
  * embeds as the zero vector (embedding_service.py:86), null text as null.
  *
  * Shape: tokenization is Spark's built-in (codegen'd) string
  * expressions; hashing, summing and normalizing is ONE native
  * per-row kernel, [[HashSignEmbed]]. Each row is a pure function of
  * its text, so the embedding adds no exchange or join, nothing
  * depends on partitioning, and no ~KB text is ever shuffled.
  * Duplicate texts are hashed once per occurrence; that is cheaper than
  * the dedup shuffle and join-back it would need.
  *
  * Rejected alternatives (values identical in each; all sums are of
  * ±1.0 terms, exact in double):
  *  - a higher-order-function fold (`aggregate` + `zip_with` over the
  *    token array) evaluates interpreted through CodegenFallback and was
  *    the pipeline's dominant cost;
  *  - the transposed form (one aggregate per dimension) re-tokenizes
  *    the text once per dimension: ~40× slower at corpus scale;
  *  - explode + one 64-wide `sum(CASE WHEN …)` hash aggregate behind a
  *    SHA-256-keyed distinct, joined back twice: every E1 window ran 11
  *    jobs / 17 tasks and spent most of its wall time in driver-side
  *    analysis and planning of the self-joins. Against it the kernel
  *    measured, on a 4-core VM at `local[4]` (perfbench `ingest_e1`,
  *    seed 733, 10 alternating pairs, medians): process CPU per window
  *    1.91 s → 0.69 s, live heap 131 MB → 95 MB, 7 jobs / 7 tasks per
  *    window; 100k documents (sf0.1 ×20) embed in 0.70 s wall / 2.5 s
  *    CPU instead of 1.39 s / 4.8 s, bit-identical.
  *
  * VALUE VERSIONING: [[Version]] names the embedding VALUES. Bump it on
  * any change to them; a store persisted across engine versions (e.g. a
  * pgvector table kept between deployments) stamps it beside its
  * vectors and re-embeds on mismatch rather than mixing schemes.
  */
object Embedder {
  val Dim = 64      // default: matches the testdata embeddings dim
  val RefDim = 1536 // reference schema fidelity: VECTOR(1536), pgvector_storage.py:92
  /** Embedding-scheme version. v2: one hash word carries 64 sign bits;
    * v1: per-dim pmod parity. ADVISORY: the in-repo store (VectorStore)
    * rewrites its vectors every run, so nothing here consumes it — it
    * exists for external persistence layers to stamp and compare. */
  val Version = 2

  /** Embed `textCol` into an `array<double>` column of width `dim`
    * (default [[Dim]]; pass [[RefDim]] for the reference's 1536-wide schema). */
  def embed(textCol: Column, dim: Int = Dim): Column =
    HashSignEmbed(split(lower(regexp_replace(textCol, "\\s+", " ")), "[^a-z0-9]+"), dim)

  /** `df` with an `embedding` column computed from its `textCol`. */
  def withEmbedding(df: DataFrame, textCol: String, dim: Int = Dim): DataFrame =
    df.withColumn("embedding", embed(col(textCol), dim))
}
