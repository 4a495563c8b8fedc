package graft

/** DuckDB-side cost control for the oracle gate.
  *
  * DuckDB (1.x) INLINES a plain CTE at every reference site. For the
  * unrolled iterative chains our heaviest oracles carry — q115/q125's
  * gradient-descent rounds (`z_r → p_r → g_{r+1} → w_{r+1}`, each
  * referencing `feat` and the previous round's weights) and the BPE
  * merge chains (`best_i` and `w_i` each referencing `w_{i-1}`) — that
  * inlining is EXPONENTIAL in the round count: expanding round r
  * re-expands every upstream round per reference. Measured at sf0.01,
  * the whole 135-oracle suite costs 1233 compare-seconds inlined vs
  * 149 with CTEs materialized (q125 286 s → 1.0 s, q117 172 s → 0.5 s,
  * q115 51 s → 0.1 s), with NO result change on any query — the gate's
  * empty-artifact failure mode (driver rounds 12/13) was this cost.
  *
  * The fix is a syntax-level rewrite applied once at [[SparkEntry
  * .oracleSql]] assembly: every named CTE `name AS (` becomes
  * `name AS MATERIALIZED (`, DuckDB's explicit materialization hint.
  * Semantics are unchanged by construction (a materialized CTE returns
  * the same rows, it just evaluates once); the full-suite A/B above
  * verified row-for-row equality empirically. The rewrite anchors on
  * the token BEFORE the CTE name — `WITH` or the `,` separating CTE
  * definitions — and additionally EXCLUDES every span covered by a
  * named-`WINDOW` clause: `WINDOW w1 AS (...), w2 AS
  * (...)` uses the same `, name AS (` shape as a CTE list, so the
  * comma anchor alone would corrupt the second and later window
  * definitions (DuckDB rejects MATERIALIZED there). The window spans
  * are found by a tiny balanced-paren scan, so ANY number of named
  * windows is safe, not just the single-window oracle (q56) the
  * corpus happens to carry today.
  */
object OracleSql {

  // (WITH | ,) <identifier> AS (  →  ... AS MATERIALIZED (
  // \bWITH\b keeps WITHIN/etc. out; the comma anchor is safe because a
  // comma-preceded `x AS (` outside a WINDOW clause is a CTE
  // definition in every SQL position our oracles use (verified over
  // the full oracle corpus).
  private val CteDef =
    """(?is)((?:\bWITH\b|,)\s*)([A-Za-z_][A-Za-z0-9_]*\s+AS)\s*\(""".r

  private val WindowKw = """(?i)\bWINDOW\b""".r

  /** The [start, end) spans of every named-WINDOW clause — `WINDOW
    * name AS ( ... ) [, name AS ( ... )]*` with balanced parens — so
    * the CTE rewrite can skip them. A `WINDOW` token not followed by
    * that shape (none exist in the corpus) yields no span. */
  private def windowClauseSpans(sql: String): Seq[(Int, Int)] =
    WindowKw.findAllMatchIn(sql).flatMap { kw =>
      var i = kw.end
      var ok = false
      var more = true
      def skipWs(): Unit =
        while (i < sql.length && sql.charAt(i).isWhitespace) i += 1
      while (more) {
        more = false
        skipWs()
        val n0 = i
        while (i < sql.length &&
          (sql.charAt(i).isLetterOrDigit || sql.charAt(i) == '_')) i += 1
        if (i > n0 && { skipWs(); sql.regionMatches(true, i, "AS", 0, 2) }) {
          i += 2; skipWs()
          if (i < sql.length && sql.charAt(i) == '(') {
            var depth = 1; i += 1
            while (i < sql.length && depth > 0) {
              if (sql.charAt(i) == '(') depth += 1
              else if (sql.charAt(i) == ')') depth -= 1
              i += 1
            }
            if (depth == 0) {
              ok = true
              // comma-continuation → another window definition
              val save = i
              skipWs()
              if (i < sql.length && sql.charAt(i) == ',') { i += 1; more = true }
              else i = save
            }
          }
        }
      }
      if (ok) Some((kw.start, i)) else None
    }.toSeq

  def materializeCtes(sql: String): String = {
    val spans = windowClauseSpans(sql)
    CteDef.replaceAllIn(sql, m =>
      java.util.regex.Matcher.quoteReplacement(
        if (spans.exists { case (a, b) => m.start >= a && m.start < b })
          m.matched
        else s"${m.group(1)}${m.group(2)} MATERIALIZED ("))
  }
}
