package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column algebra (SURVEY.md §2.10 X3/X4 north star).
  *
  * Everything is columnar (HOFs + regexp/string functions), no UDFs, so
  * each op distributes with the scan. Hashes that must agree with the
  * DuckDB oracle are md5-derived (md5 is identical across engines);
  * Spark-only fast paths use xxhash64.
  */
object TextOps {

  /** Lowercased alnum word tokens, empties dropped (order-preserving). */
  def tokens(text: Column): Column =
    filter(split(lower(text), "[^a-z0-9]+"), t => t =!= "")

  /** Word n-gram shingles (space-joined), distinct.
    *
    * Built by folding zip_with over shifted slices of the token array —
    * shingle_i = t_i ⧺ t_(i+1) ⧺ … — instead of
    * transform(sequence(...), i => element_at(...)): the zip form
    * measures ~12× faster at sf0.1 (no per-position sequence
    * materialization / index boxing) and is safe for texts shorter than
    * n tokens (zip_with null-pads the shorter side; concat propagates
    * the nulls; the final filter drops them → empty array). */
  def shingles(text: Column, n: Int): Column = {
    val toks = tokens(text)
    val sz = size(toks)
    val joined = (2 to n).foldLeft(toks) { (acc, k) =>
      zip_with(acc, slice(toks, lit(k), greatest(sz - (k - 1), lit(0))),
        (a, b) => concat(a, lit(" "), b))
    }
    array_distinct(filter(joined, e => e.isNotNull))
  }

  /** 60-bit positive token hash shared with DuckDB:
    * first 15 hex chars of md5 parsed base-16. */
  def hash60(tok: Column): Column =
    conv(substring(md5(tok), 1, 15), 16, 10).cast("long")

  /** DuckDB mirror of [[tokens]] — the ONE copy. Every oracle that
    * tokenizes must build from here: the string is parity-critical
    * with the Spark expression above, and hand-copies in individual
    * query files can drift apart silently. */
  def tokensSql(text: String): String =
    s"list_filter(string_split_regex(lower($text), '[^a-z0-9]+'), x -> x <> '')"

  /** DuckDB mirror of [[hash60]] — the ONE copy (same rationale). */
  def hash60Sql(tok: String): String =
    s"CAST(CONCAT('0x', substr(md5($tok), 1, 15)) AS BIGINT)"

  /** SimHash over a distinct term array (tokens or shingles): 60 bits,
    * bit j set iff the ±1 majority vote of term-hash bit j is positive.
    * Single pass over the term array: fold a 60-long vote vector with
    * zip_with, then collapse votes to bits. All shift amounts are Scala
    * literal Ints so the codegen'd shiftright/shiftleft overloads apply.
    * Pure nested HOF — no explode, no shuffle; distributes with the scan. */
  def simhash(terms: Column): Column = {
    val hs = transform(terms, t => hash60(t))
    val zeroVotes = array((0 until 60).map(_ => lit(0L)): _*)
    val votes = aggregate(hs, zeroVotes, (acc, h) =>
      zip_with(
        acc,
        array((0 until 60).map(j =>
          shiftright(h, j).bitwiseAND(lit(1L)) * 2 - 1): _*),
        (a, b) => a + b))
    aggregate(
      zip_with(
        votes,
        array((0 until 60).map(j => lit(1L << j)): _*),
        (v, w) => when(v > 0, w).otherwise(lit(0L))),
      lit(0L), (a, b) => a + b)
  }

  /** Rolling polynomial fingerprint of the token sequence:
    * fold ((acc*31 + h%1e9) mod 1e9+7) — order-sensitive, exact in both
    * engines (reference analog: document identity for dedup/upsert). */
  def fingerprint(text: Column): Column =
    aggregate(
      transform(tokens(text), t => pmod(hash60(t), lit(1000000000L))),
      lit(0L), (acc, h) => pmod(acc * 31 + h, lit(1000000007L)))

  /** Occurrences of literal `pat` via the replace trick (engine-common). */
  def occurrences(text: Column, pat: String): Column =
    ((length(text) - length(regexp_replace(text, java.util.regex.Pattern.quote(pat), ""))) / pat.length).cast("long")

  /** BPE-ish token count: alpha runs, digit runs, and single symbols. */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).cast("long")
}
