package graft.operators

import graft.{NamedQuery, Tables}
import graft.Materialize.CheckpointOps
import graft.NamedQuery.{q, PresentationOps}
import graft.functions.{Exact, ExactSql, TextOps}
import graft.streaming.Drain
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis queries over `documents` (SURVEY.md §2.10 X4 north
  * star): the profiling pass a training-data pipeline runs before
  * filtering/dedup. Everything is columnar string/array algebra — no
  * UDFs — so each query is a single scan + one hash-aggregate shuffle
  * (the explode in q35 is the standard token-level re-key; its groupBy
  * does map-side partial aggregation).
  */
object TextQueries {
  import Exact.{davg, dsum}

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** docs() + round-robin fan-out, for the map-heavy per-doc scorers
    * (q33/q34/q36). Under host contention these ran at 4-7 s against a
    * sub-second quiet record — a serialized one-task stage amplifies
    * contention by its full slowdown factor, while a spread stage
    * amortizes it across cores. A contended A/B
    * (splitmix noise threads, one JVM, alternating variants) measured:
    * q33 spread wins in every regime (0.33 vs 0.52 s quiet); q34/q36
    * pay ~0.2 s quiet but save 0.5-1.6 s at 4× oversubscription — the
    * variance-minimizing config. (q45's events scan measured the
    * opposite and stays unspread.) At production file counts this is a
    * structural no-op (Tables.spread only fans out when the scan
    * starts under-parallel). */
  private def docsSpread(s: SparkSession, dir: String): DataFrame =
    Tables.spread(docs(s, dir))

  /** Shared ASCII stopword profiles for the language-ID heuristic.
    * (The corpus is synthetic English-ish word bags under synthetic lang
    * labels, so the interesting output is the confusion matrix, which is
    * deterministic in both engines.) */
  private[operators] val Profiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
    "en" -> Seq("the", "a", "of", "and", "to", "is"),
    "es" -> Seq("el", "la", "los", "y", "es", "que"),
    "fr" -> Seq("le", "la", "les", "et", "est", "que"),
    "zh" -> Seq("shi", "bu", "wo", "ni", "ta", "men"))

  private[operators] val Stopwords: Seq[String] = Profiles.toMap.apply("en")

  /** DuckDB profile-score for language `l` over `textExpr` (q33's
    * per-lang stopword hit count — the ONE copy, shared with the q129
    * data card). */
  private[operators] def langScoreSql(textExpr: String, l: String): String = {
    val set = Profiles.toMap.apply(l).map(w => s"'$w'").mkString("[", ", ", "]")
    s"len(list_filter(${TextOps.tokensSql(textExpr)}, t -> list_contains($set, t)))"
  }

  /** Spark mirror of [[langScoreSql]]. */
  private[operators] def langScore(text: Column, l: String): Column = {
    val ws = Profiles.toMap.apply(l)
    size(filter(TextOps.tokens(text), t => t.isin(ws: _*)))
  }

  /** The language-ID argmax CASE ladder over per-lang scores. Ties
    * break in Profiles order — the parity-critical rule, kept as the
    * ONE copy so q33 and every reuse agree byte-for-byte. `score(l)`
    * names (q33: the s_l column) or inlines the per-lang score. */
  private[operators] def langLadderSql(score: String => String): String = {
    val g = Profiles.map { case (l, _) => score(l) }.mkString("GREATEST(", ", ", ")")
    Profiles.map { case (l, _) => s"WHEN ${score(l)} = $g THEN '$l'" }
      .mkString("CASE ", " ", "END")
  }

  /** Spark mirror of [[langLadderSql]] (same Profiles-order tiebreak). */
  private[operators] def langLadder(score: String => Column): Column = {
    val g = greatest(Profiles.map { case (l, _) => score(l) }: _*)
    Profiles.tail.foldLeft(
      when(score(Profiles.head._1) === g, Profiles.head._1)) {
      case (acc, (l, _)) => acc.when(score(l) === g, l)
    }
  }

  /** Fixed keyword query for the BM25 scorer (corpus-vocabulary terms). */
  private val BmTerms: Seq[String] = Seq("vector", "hash", "merge")

  /** Bigram count floor for PMI mining (drops unstable rare pairs). */
  private val PmiMinCount = 20

  /** q108: number of BPE merge rules learned. */
  private[graft] val BpeMerges = 8

  /** A spaced-unit BPE word (`"c a t _"`) with every rule of `rules`
    * applied in order: the application step of Sennrich et al. 2016's
    * algorithm as one row-local column. A rule `(l, r)` merges each
    * leftmost-greedy, non-overlapping `l r` adjacency into `l⧺r`: the
    * inner fold carries (out, skip) over the unit array, and a fired
    * merge emits l⧺r and skips the next unit — the sequential
    * recurrence sel_i = m_i ∧ ¬sel_{i−1} verbatim. The DuckDB oracle
    * keeps the gaps-and-islands closed form of the same recurrence
    * (within a run of matches every second one fires, [[bpeApplyCte]]),
    * so each hash is an independent check; BpeSpec pins this column
    * against a sequential reference. A word that cannot contain
    * `"l r"` skips the rule's fold; a false positive (the pair text
    * spanning a unit boundary) folds to itself. An empty list returns
    * `w`.
    *
    * The rules ride as a literal array of at most [[BpeMerges]]
    * structs, so a whole replay is one projection: no exchange and no
    * per-rule plan, job or checkpoint, on a vocabulary-sized table at
    * any corpus size. A codegen'd Catalyst class for this was
    * considered and not built: it would add an interpreted and a
    * generated path, and no benchmark workload shows in-stage replay
    * time. Revisit when one runs a BPE query and does. */
  private[graft] def bpeReplay(w: Column, rules: Seq[(String, String)]): Column =
    if (rules.isEmpty) w
    else aggregate(
      array(rules.map { case (l, r) => struct(lit(l).as("l"), lit(r).as("r")) }: _*),
      w,
      (word, rule) => {
        val (l, r) = (rule.getField("l"), rule.getField("r"))
        val units = split(word, " ")
        // Lookahead column: unit i+1, '' past the end (m must be a
        // TOTAL boolean).
        val nxt = concat(
          slice(units, lit(2), greatest(size(units) - 1, lit(0))), array(lit("")))
        val merged = aggregate(
          zip_with(units, nxt, (a, b) => struct(a.as("u"), b.as("n"))),
          struct(typedlit(Seq.empty[String]).as("out"), lit(false).as("skip")),
          (acc, e) => {
            val out = acc.getField("out")
            when(acc.getField("skip"), // right half of a fired merge vanishes
              struct(out.as("out"), lit(false).as("skip")))
              .when(e.getField("u") === l && e.getField("n") === r,
                struct(concat(out, array(concat(l, r))).as("out"),
                  lit(true).as("skip")))
              .otherwise(struct(concat(out, array(e.getField("u"))).as("out"),
                lit(false).as("skip")))
          },
          acc => concat_ws(" ", acc.getField("out")))
        when(word.contains(concat(l, lit(" "), r)), merged).otherwise(word)
      })

  /** The K-round greedy trainer (q108, q109, q125's retrain and the
    * [[bpeMergesPrepared]] artifact) over a materialized
    * [[bpeWords0]] table: per round, count adjacent unit pairs weighted
    * by cnt, collect the (count desc, (u1, u2) asc) argmax — a 1-row
    * collect, q93's Lloyd-round shape — and rewrite the words with that
    * one rule through [[bpeReplay]]. Returns the merge log
    * `(step, lhs, rhs, merged, score)`. Stops early when no pair
    * remains (every word one unit); the DuckDB mirror's LEFT JOIN keeps
    * its word table unchanged through such rounds, so both engines log
    * the same rules. The K-th rewrite is never read, so it is not run.
    *
    * Each round's rewrite is checkpointed because the next round reads
    * it: the checkpoint truncates an iterative lineage. Measured and
    * rejected (4 cores, `graft.Bench`): no per-round checkpoint, round
    * i replaying rules[0..i) over the input instead. The six BPE
    * queries then ran 141 jobs at sf0.001 instead of 162 (q108 27 → 20,
    * q109 30 → 23, q125 62 → 55), but at sf0.01 q109 went 1.42/1.50 →
    * 1.65/1.58 s, and q108 (1.42/1.48 → 1.49/1.47 s) and q125
    * (2.70/2.88 → 2.48/2.86 s) did not fall (2 runs each). Round i
    * repeats the work of i−1 rules, so the rule-row work grows with K²
    * instead of K on a vocabulary of any size. */
  private[graft] def bpeTrain(words0: DataFrame): DataFrame = {
    var words = words0
    val merges = Seq.newBuilder[(Long, String, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= BpeMerges && !exhausted) {
      val us = split(col("w"), " ")
      val top = words
        .select(col("cnt"), explode(zip_with(
          slice(us, lit(1), size(us) - 1), slice(us, lit(2), size(us) - 1),
          (a, b) => struct(a.as("u1"), b.as("u2")))).as("p"))
        .groupBy(col("p.u1").as("u1"), col("p.u2").as("u2"))
        .agg(sum(col("cnt")).as("total"))
        .orderBy(col("total").desc, col("u1"), col("u2"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true // every word is one unit
      else {
        val (l, r) = (top(0).getString(0), top(0).getString(1))
        merges += ((step.toLong, l, r, l + r, top(0).getLong(2)))
        if (step < BpeMerges)
          words = words.withColumn("w", bpeReplay(col("w"), Seq(l -> r))).checkpointed()
        step += 1
      }
    }
    words0.sparkSession.createDataFrame(merges.result())
      .toDF("step", "lhs", "rhs", "merged", "score")
  }

  /** The trainer's input: the corpus collapsed to its vocabulary
    * `(tok, w: spaced units, cnt)`, checkpointed because every training
    * round reads it. One definition shared by q108, q109, the artifact
    * build and q125's retrain-on-takedown, so "the identical trainer
    * over the survivors" holds by sharing, not by keeping copies in
    * sync. */
  private[graft] def bpeWords0(d: DataFrame): DataFrame =
    d.select(explode(TextOps.tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .select(col("tok"), bpeWord(col("tok")).as("w"), col("cnt"))
      .checkpointed()

  /** A token as a spaced-unit BPE word: one unit per character, then
    * the end-of-word marker (`"cat"` → `"c a t _"`). */
  private def bpeWord(tok: Column): Column =
    concat(regexp_replace(tok, "(.)", "$1 "), lit("_"))

  /** A merge log's rules in step order (at most [[BpeMerges]] rows). */
  private[graft] def bpeRules(merges: DataFrame): Seq[(String, String)] =
    merges.collect().toSeq.sortBy(_.getAs[Long]("step"))
      .map(r => (r.getAs[String]("lhs"), r.getAs[String]("rhs")))

  /** The PERSISTED merge log (q112's index side): built once per
    * corpus fingerprint via [[bpeTrain]] and published through the
    * same build-into-tmp + rename discipline as DedupIndex /
    * VectorIndex — the production precondition of tokenize-on-append:
    * the rules already EXIST, a new batch never retrains. */
  private[graft] def bpeMergesPrepared(s: SparkSession, sfDir: String): String =
    graft.pipeline.PreparedArtifact.publishOnce(s, "graft_bpe_merges",
        graft.pipeline.PreparedArtifact.fingerprint(s, sfDir, "documents")) { tmp =>
      bpeTrain(bpeWords0(docs(s, sfDir)))
        .repartition(1).write.mode("overwrite").parquet(tmp.toString)
    }

  /** DuckDB mirror of q108's per-round SQL: the adjacent-pair count +
    * argmax CTEs over word table `src`. `pfx` prefixes the produced CTE
    * names so a second training chain (q125 retrains on the purged
    * corpus beside the full-corpus chain) can coexist in one query. */
  private[graft] def bpePairCte(i: Int, src: String, pfx: String = ""): String =
    s"""${pfx}pr_$i AS (
       |  SELECT u1, u2, CAST(SUM(cnt) AS BIGINT) AS total FROM (
       |    SELECT cnt, unnest(list_slice(us, 1, len(us) - 1)) AS u1,
       |           unnest(list_slice(us, 2, len(us))) AS u2
       |    FROM (SELECT string_split(w, ' ') AS us, cnt FROM $src))
       |  GROUP BY 1, 2),
       |${pfx}best_$i AS (SELECT u1, u2, total FROM ${pfx}pr_$i
       |            ORDER BY total DESC, u1, u2 LIMIT 1)""".stripMargin

  /** DuckDB mirror of one [[bpeReplay]] rule over word table `src`,
    * the round's winning pair from `best_i`, in the islands closed form.
    * `carry` = the non-w columns threaded through unchanged; `out`
    * names the produced CTE (q112 replays the rules onto a batch
    * chain `b_i` beside the training chain `w_i`). */
  private[graft] def bpeApplyCte(i: Int, src: String,
      carry: Seq[String] = Seq("cnt"), out: String = "",
      pfx: String = ""): String = {
    val c = carry.mkString(", ")
    val name = if (out.isEmpty) s"${pfx}w_$i" else out
    s"""$name AS (
       |  SELECT string_agg(nu, ' ' ORDER BY i) AS w, $c FROM (
       |    SELECT ow, $c, i, nu, sel,
       |           lag(sel, 1, false) OVER (PARTITION BY ow ORDER BY i) AS selp
       |    FROM (
       |      SELECT ow, $c, i, u, sel,
       |             CASE WHEN sel THEN u1 || u2 ELSE u END AS nu, u1, u2
       |      FROM (
       |        SELECT ow, $c, i, u, u1, u2, m, rnm,
       |               m AND ((rnm - MIN(rnm) OVER (PARTITION BY ow, grp)) % 2 = 0) AS sel
       |        FROM (
       |          SELECT ow, $c, i, u, u1, u2, m, rnm,
       |                 CASE WHEN m THEN i - rnm END AS grp
       |          FROM (
       |            SELECT ow, $c, i, u, u1, u2, m,
       |                   SUM(CASE WHEN m THEN 1 ELSE 0 END)
       |                     OVER (PARTITION BY ow ORDER BY i) AS rnm
       |            FROM (
       |              SELECT ow, $c, i, u, u1, u2,
       |                     coalesce(u = u1 AND coalesce(lead(u, 1)
       |                        OVER (PARTITION BY ow ORDER BY i), '') = u2,
       |                        false) AS m
       |              FROM (
       |                SELECT w AS ow, $c, unnest(us) AS u,
       |                       unnest(range(1, len(us) + 1)) AS i, u1, u2
       |                FROM (SELECT w, $c, string_split(w, ' ') AS us FROM $src)
       |                LEFT JOIN ${pfx}best_$i ON true)))))))
       |  WHERE NOT selp GROUP BY ow, $c)""".stripMargin
  }


  val all: Seq[NamedQuery] = Seq(

    // ----- X4: corpus stats per (lang, source-bucketed): counts, char
    // and token sums, plus a log2-ish length histogram — the shape
    // `width_bucket` gives you, expressed engine-portably as a CASE
    // ladder on n_chars.
    q("q29_text_stats",
      "X4: per-lang corpus stats + length-bucket histogram",
      s"""SELECT lang,
         |  CASE WHEN n_chars < 64 THEN '0-63' WHEN n_chars < 128 THEN '64-127'
         |       WHEN n_chars < 256 THEN '128-255' WHEN n_chars < 512 THEN '256-511'
         |       ELSE '512+' END AS len_bucket,
         |  COUNT(*) AS n_docs,
         |  COUNT(DISTINCT source) AS n_sources,
         |  ${ExactSql.dsum("n_chars")} AS sum_chars,
         |  ${ExactSql.davg(s"len(${TextOps.tokensSql("text")})")} AS avg_tokens
         |FROM documents
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      val lenBucket = when(col("n_chars") < 64, "0-63")
        .when(col("n_chars") < 128, "64-127")
        .when(col("n_chars") < 256, "128-255")
        .when(col("n_chars") < 512, "256-511")
        .otherwise("512+")
      docs(s, dir)
        .groupBy(col("lang"), lenBucket.as("len_bucket"))
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("source")).as("n_sources"),
          dsum(col("n_chars")).as("sum_chars"),
          davg(size(TextOps.tokens(col("text")))).as("avg_tokens"))
        .presented("lang", "len_bucket")
    },

    // ----- X4: stopword-profile language ID → confusion matrix against
    // the labeled lang. Scores are profile-token counts; argmax with
    // alphabetical tiebreak via an identical CASE ladder in both engines.
    q("q33_langid_confusion",
      "X4: n-gram/stopword language-ID heuristic, confusion counts",
      {
        val scores = Profiles.map { case (l, _) =>
          s"${langScoreSql("text", l)} AS s_$l"
        }.mkString(",\n         ")
        s"""SELECT lang AS actual, ${langLadderSql(l => s"s_$l")} AS predicted, COUNT(*) AS n
           |FROM (SELECT lang, $scores FROM documents)
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
      }) { (s, dir) =>
      val scored = docsSpread(s, dir).select(col("lang") +:
        Profiles.map { case (l, _) =>
          langScore(col("text"), l).as(s"s_$l")
        }: _*)
      val ladder = langLadder(l => col(s"s_$l"))
      scored
        .groupBy(col("lang").as("actual"), ladder.as("predicted"))
        .agg(count(lit(1)).as("n"))
        .presented("actual", "predicted")
    },

    // ----- X4: per-document quality scoring — length, punctuation,
    // digit, and stopword ratios folded into a bounded score, the filter
    // signal a pretraining pipeline thresholds on. The linear combination
    // runs in EXACT decimal arithmetic on the 6dp-rounded ratios (then one
    // cast to double) — a double-precision combo can land on a rounding
    // half-tie and diverge between engines (the same hazard as a
    // format_string over doubles).
    q("q34_quality_score",
      "X4: per-doc quality scoring (length/punct/stopword ratios)",
      s"""$qualityScoredSql
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      qualityFrame(s, dir).orderBy("doc_id")
    },

    // ----- X4: token counting two ways (whitespace words vs a BPE-ish
    // regex lexer) + per-lang vocabulary via explode→distinct. The
    // explode re-keys by (lang, token); countDistinct runs partial
    // (map-side) before the shuffle — the scalable vocab-count plan.
    q("q35_token_counts",
      "X4: whitespace vs BPE-ish token counts + per-lang vocabulary",
      {
        val toks = TextOps.tokensSql("text")
        s"""SELECT d.lang, n_docs, sum_ws_tokens, sum_bpe_tokens, vocab
           |FROM (
           |  SELECT lang, COUNT(*) AS n_docs,
           |    CAST(SUM(len($toks)) AS BIGINT) AS sum_ws_tokens,
           |    CAST(SUM(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))) AS BIGINT) AS sum_bpe_tokens
           |  FROM documents GROUP BY lang) d
           |JOIN (
           |  SELECT lang, CAST(COUNT(DISTINCT tok) AS BIGINT) AS vocab
           |  FROM (SELECT lang, unnest($toks) AS tok FROM documents)
           |  GROUP BY lang) v ON d.lang = v.lang
           |ORDER BY d.lang""".stripMargin
      }) { (s, dir) =>
      // Doc-level sums aggregate the pre-explode frame; only the
      // vocabulary count pays the token-level explode+distinct shuffle.
      val d = docs(s, dir)
      val docAgg = d.groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(size(TextOps.tokens(col("text")))).as("sum_ws_tokens"),
          sum(TextOps.bpeTokenCount(col("text"))).as("sum_bpe_tokens"))
      val vocab = d
        .select(col("lang"), explode(TextOps.tokens(col("text"))).as("tok"))
        .groupBy(col("lang"))
        .agg(countDistinct(col("tok")).as("vocab"))
      docAgg.join(vocab, "lang")
        .select("lang", "n_docs", "sum_ws_tokens", "sum_bpe_tokens", "vocab")
        .presented("lang")
    },

    // ----- RAG chunking: overlapping token windows (W=32, stride 24) —
    // the step between documents and embeddings in a retrieval pipeline
    // (the reference embeds whole daily sentences; real corpora chunk).
    // Pure columnar: windows materialize per row via transform over the
    // start sequence, then one posexplode re-keys to chunk granularity.
    // Short docs yield exactly one whole-doc chunk. The start grid runs
    // to 1 + S·ceil((n−W)/S) — one window PAST the last full-window
    // start whenever tokens remain, so the final (possibly partial)
    // chunk always reaches token n. (A grid that stops at the last FULL
    // window silently drops up to S−1 trailing tokens per doc —
    // unretrievable content in a RAG store; ChunkSampleSpec's
    // reconstruction law pins full coverage.)
    // The grid never emits a chunk fully contained in its predecessor:
    // the last start is ≤ S past the prior one, which still ends ≥ 1
    // new token. MAP-ONLY at scale: tokenize + explode + slice ride
    // the scan; the one exchange is the trailing range sort.
    q("q50_chunking",
      "RAG: overlapping token-window chunking with chunk ids (full tail coverage)",
      {
        val (w, s) = (32, 24)
        val toks = TextOps.tokensSql("text")
        s"""SELECT doc_id, u.cid AS chunk_id,
           |  CAST(len(string_split(u.txt, ' ')) AS BIGINT) AS n_chunk_tokens,
           |  u.txt AS chunk_text
           |FROM (
           |  SELECT doc_id,
           |    unnest([{'cid': (x - 1) // $s + 1, 'txt': array_to_string(list_slice(tk, x, x + ${w - 1}), ' ')}
           |            for x in range(1, 1 + $s * ((greatest(len(tk) - $w, 0) + ${s - 1}) // $s) + 1, $s)]) AS u
           |  FROM (SELECT doc_id, $toks AS tk FROM documents))
           |ORDER BY doc_id, chunk_id""".stripMargin
      }) { (s, dir) =>
      val (w, st) = (32, 24)
      val toks = TextOps.tokens(col("text"))
      docs(s, dir)
        .select(col("doc_id"), toks.as("tk"))
        // last start = 1 + S·ceil(max(n−W,0)/S); integer `div` keeps
        // the grid arithmetic exact in both engines.
        .withColumn("last_start",
          expr(s"1 + $st * ((greatest(size(tk) - $w, 0) + ${st - 1}) div $st)"))
        .select(col("doc_id"), posexplode(transform(
          sequence(lit(1), col("last_start"), lit(st)),
          x => concat_ws(" ", slice(col("tk"), x, lit(w))))).as(Seq("pos", "chunk_text")))
        .select(col("doc_id"),
          (col("pos") + 1).cast("long").as("chunk_id"),
          size(split(col("chunk_text"), " ")).cast("long").as("n_chunk_tokens"),
          col("chunk_text"))
        .orderBy("doc_id", "chunk_id")
    },

    // ----- X4: order-sensitive rolling-hash fingerprint. Planted: every
    // 11th doc re-appears token-REVERSED under id+40000 — same token
    // set, different order → distinct fingerprint (n=1 groups), while
    // every 13th doc re-appears verbatim under id+50000 → shared
    // fingerprint (n=2 groups). Distinguishes content identity from
    // bag-of-words identity.
    q("q36_fingerprint_groups",
      "X4/X3: rolling-hash fingerprint; order-sensitivity vs verbatim dups",
      {
        val toks = TextOps.tokensSql("text")
        s"""WITH u AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT doc_id + 40000,
           |         list_aggregate(list_reverse($toks), 'string_agg', ' ')
           |  FROM documents WHERE doc_id % 11 = 0
           |  UNION ALL
           |  SELECT doc_id + 50000, text FROM documents WHERE doc_id % 13 = 0)
           |SELECT fp, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies FROM (
           |  SELECT doc_id,
           |    list_reduce(list_prepend(0, list_transform($toks,
           |      t -> CAST(CONCAT('0x', substr(md5(t), 1, 15)) AS BIGINT) % 1000000000)),
           |      (acc, h) -> (acc * 31 + h) % 1000000007) AS fp
           |  FROM u)
           |GROUP BY fp ORDER BY keep_id""".stripMargin
      }) { (s, dir) =>
      val base = docsSpread(s, dir).select("doc_id", "text")
      val u = base
        .unionAll(base.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 40000).as("doc_id"),
            concat_ws(" ", reverse(TextOps.tokens(col("text")))).as("text")))
        .unionAll(base.filter(col("doc_id") % 13 === 0)
          .select((col("doc_id") + 50000).as("doc_id"), col("text")))
      u.select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
        .groupBy(col("fp"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy("keep_id")
    },

    // ----- X4 (relevance): BM25 keyword scoring — the ranking function
    // behind lexical retrieval, as pure columnar algebra: one token
    // explode feeding three aggregates (per-doc length, corpus stats,
    // per-(doc,term) frequency), each one hash shuffle; the one-row
    // corpus-stats frame and the per-term document frequencies are
    // broadcast back, so the scoring join adds no exchange. Cross-engine
    // float parity: every non-dyadic literal is an explicit DOUBLE cast
    // in the oracle (DuckDB parses bare numeric literals as DECIMAL,
    // which would route the arithmetic through exact decimal and drift
    // a ulp from Spark's double path), the idf log is rounded to 6dp
    // before use (libm last-ulp differences), and per-term weights are
    // rounded then summed as exact decimals (Exact.dsum,
    // order-independence). At 100 TB the top-k presentation over these
    // scores is CollectTopK (q26); the scoring itself is shuffle-minimal.
    q("q60_bm25",
      "X4: BM25 keyword relevance scoring (k1=1.2, b=0.75)",
      {
        val terms = BmTerms.map(t => s"'$t'").mkString(", ")
        s"""WITH toks AS (SELECT doc_id, unnest(${TextOps.tokensSql("text")}) AS tok FROM documents),
           |  dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
           |  stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
           |  tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks
           |         WHERE tok IN ($terms) GROUP BY 1, 2),
           |  dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
           |  w AS (SELECT t.doc_id,
           |          ROUND(ROUND(ln(CAST(1 AS DOUBLE) +
           |              (s.n_docs - d.df + CAST(0.5 AS DOUBLE)) / (d.df + CAST(0.5 AS DOUBLE))), 6)
           |            * (t.tf * CAST(2.2 AS DOUBLE) /
           |               (t.tf + CAST(1.2 AS DOUBLE) *
           |                (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * l.dl / s.avgdl))), 6) AS wt
           |        FROM tf t JOIN dl l USING (doc_id) JOIN dfreq d ON d.tok = t.tok
           |        CROSS JOIN stats s)
           |SELECT doc_id, ${ExactSql.dsum("wt")} AS bm25
           |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin
      }) { (s, dir) =>
      val toks = docs(s, dir).select(col("doc_id"),
          explode(split(lower(col("text")), "[^a-z0-9]+")).as("tok"))
        .filter(col("tok") =!= "")
      val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
      val stats = dl.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
      val tf = toks.filter(col("tok").isin(BmTerms: _*))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val idf = round(log(lit(1.0) +
        (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))), 6)
      val tfPart = col("tf") * lit(2.2) /
        (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
      tf.join(dl, "doc_id")
        .join(broadcast(dfreq), "tok")
        .crossJoin(broadcast(stats))
        .select(col("doc_id"), round(idf * tfPart, 6).as("wt"))
        .groupBy(col("doc_id")).agg(dsum(col("wt")).as("bm25"))
        .orderBy("doc_id")
    },

    // ----- X4 (vocabulary statistics): PMI bigram collocations — the
    // corpus statistic behind tokenizer-merge and phrase-vocabulary
    // decisions: pmi(a,b) = ln(p(ab) / (p(a)·p(b))). Two explodes
    // (tokens, adjacent pairs via a per-doc lead window), three hash
    // aggregates, and two one-row total frames broadcast back — every
    // count reduces map-side, so the corpus is read once and the
    // exchange carries vocabulary-sized aggregates. Adjacency is taken
    // over the EMPTY-FILTERED token sequence in both engines (the lead
    // window runs after the filter; the oracle slices the filtered
    // list). ln is applied to identical doubles (ratios of exact
    // counts) and rounded to 6dp — the libm-parity recipe.
    q("q69_pmi_bigrams",
      "X4: PMI bigram collocation mining (min-count floor)",
      s"""WITH ts AS (SELECT doc_id, ${TextOps.tokensSql("text")} AS ts FROM documents),
         |  tok AS (SELECT unnest(ts) AS t FROM ts),
         |  uni AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY 1),
         |  ntok AS (SELECT COUNT(*) AS n FROM tok),
         |  big AS (SELECT unnest(list_slice(ts, 1, len(ts) - 1)) AS w1,
         |                 unnest(list_slice(ts, 2, len(ts))) AS w2 FROM ts),
         |  bc AS (SELECT w1, w2, COUNT(*) AS n_ab FROM big
         |         GROUP BY 1, 2 HAVING COUNT(*) >= $PmiMinCount),
         |  nbi AS (SELECT COUNT(*) AS n FROM big)
         |SELECT w1, w2, n_ab,
         |  ROUND(ln((CAST(n_ab AS DOUBLE) / nbi.n) /
         |    ((CAST(a.c AS DOUBLE) / ntok.n) * (CAST(b.c AS DOUBLE) / ntok.n))), 6) AS pmi
         |FROM bc JOIN uni a ON a.t = bc.w1 JOIN uni b ON b.t = bc.w2
         |CROSS JOIN ntok CROSS JOIN nbi
         |ORDER BY w1, w2""".stripMargin) { (s, dir) =>
      val toks = docs(s, dir).select(col("doc_id"),
          posexplode(split(lower(col("text")), "[^a-z0-9]+")).as(Seq("pos", "tok")))
        .filter(col("tok") =!= "")
      val uni = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("pos")
      val big = toks
        .select(col("tok").as("w1"), lead(col("tok"), 1).over(w).as("w2"))
        .filter(col("w2").isNotNull)
      val bc = big.groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= PmiMinCount)
      val totals = toks.agg(count(lit(1)).as("ntok"))
        .crossJoin(big.agg(count(lit(1)).as("nbi")))
      bc.join(broadcast(uni.select(col("tok").as("w1"), col("c").as("ca"))), "w1")
        .join(broadcast(uni.select(col("tok").as("w2"), col("c").as("cb"))), "w2")
        .crossJoin(broadcast(totals))
        .select(col("w1"), col("w2"), col("n_ab"),
          round(log((col("n_ab").cast("double") / col("nbi")) /
            ((col("ca").cast("double") / col("ntok")) *
              (col("cb").cast("double") / col("ntok")))), 6).as("pmi"))
        .orderBy("w1", "w2")
    },

    // ----- X4 (salience): top-3 TF-IDF terms per document — the
    // keyword-extraction pass behind corpus tagging and retrieval-index
    // enrichment. Two vocabulary-sized aggregates (tf, df) + one
    // broadcast scalar (N); ranking is per-doc (partition count scales
    // with the corpus, each group is one doc's vocabulary — no global
    // window). Rank order is INTEGER-deterministic (tf desc, df asc,
    // tok asc): the float score is display output, never the sort key,
    // so libm ULP differences cannot reorder engines; ln runs on
    // identical count ratios and rounds to 6dp (the q60/q69 recipe).
    q("q82_tfidf_terms",
      "X4: per-doc top-3 TF-IDF salient terms (integer-deterministic rank)",
      s"""WITH toks AS (SELECT doc_id, unnest(${TextOps.tokensSql("text")}) AS tok FROM documents),
         |  tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
         |  dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
         |  nd AS (SELECT COUNT(*) AS n_docs FROM documents),
         |  scored AS (SELECT doc_id, tok, tf, df,
         |               ROUND(tf * ROUND(ln(CAST(n_docs AS DOUBLE) / df), 6), 6) AS tfidf,
         |               ROW_NUMBER() OVER (PARTITION BY doc_id
         |                 ORDER BY tf DESC, df ASC, tok ASC) AS rnk
         |             FROM tf JOIN dfreq USING (tok) CROSS JOIN nd)
         |SELECT doc_id, rnk, tok, tf, df, tfidf FROM scored
         |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin) { (s, dir) =>
      val toks = docs(s, dir).select(col("doc_id"),
          explode(split(lower(col("text")), "[^a-z0-9]+")).as("tok"))
        .filter(col("tok") =!= "")
      val tf = toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val nd = docs(s, dir).agg(count(lit(1)).as("n_docs"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("tf").desc, col("df").asc, col("tok").asc)
      tf.join(broadcast(dfreq), "tok")
        .crossJoin(broadcast(nd))
        .select(col("doc_id"), col("tok"), col("tf"), col("df"),
          round(col("tf") * round(log(col("n_docs").cast("double") / col("df")), 6), 6)
            .as("tfidf"))
        .withColumn("rnk", row_number().over(w).cast("long")) // DuckDB ROW_NUMBER is BIGINT
        .filter(col("rnk") <= 3)
        .select("doc_id", "rnk", "tok", "tf", "df", "tfidf")
        .orderBy("doc_id", "rnk") // row-per-doc output: parallel range sort
    },

    // ----- X4 (index build): impact-ordered posting lists — the
    // materialized retrieval-index artifact behind q60's BM25 scoring,
    // with static index pruning: only each term's top-8 highest-tf
    // postings ship (the classic impact-ordered truncation). The top-k
    // per term runs through CollectTopK (map-side k-heaps — the shuffle
    // carries ≤ vocab·k candidate pairs), NOT a ranking window: at
    // 100 TB a stopword's posting list is the size of the corpus, and a
    // per-term sort of that list is exactly the skewed-window tail this
    // engine avoids everywhere else. df/total_tf aggregate beside the
    // heap in the same exchange.
    q("q85_posting_lists",
      "X4: impact-ordered posting lists w/ top-8 static pruning (CollectTopK)",
      s"""WITH toks AS (SELECT doc_id, unnest(${TextOps.tokensSql("text")}) AS tok FROM documents),
         |  tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
         |  stats AS (SELECT tok, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS total_tf
         |            FROM tf GROUP BY 1),
         |  ranked AS (SELECT tok, doc_id, tf,
         |               ROW_NUMBER() OVER (PARTITION BY tok
         |                 ORDER BY tf DESC, doc_id ASC) AS rnk
         |             FROM tf)
         |SELECT r.tok, s.df, s.total_tf, r.rnk, r.doc_id, r.tf
         |FROM ranked r JOIN stats s USING (tok)
         |WHERE r.rnk <= 8 ORDER BY tok, rnk""".stripMargin) { (s, dir) =>
      import graft.plans.CollectTopK
      // Spread before tokenizing: the single-file test scan is one
      // task, and the explode+lower map side of the tf exchange is the
      // query's dominant compute (a many-file production layout makes
      // this a structural no-op — see Tables.spread).
      val toks = Tables.spread(docs(s, dir)).select(col("doc_id"),
          explode(split(lower(col("text")), "[^a-z0-9]+")).as("tok"))
        .filter(col("tok") =!= "")
      val tf = toks.groupBy(col("tok"), col("doc_id")).agg(count(lit(1)).as("tf"))
      // One exchange keyed by term: the pruned heap and the full-list
      // stats aggregate together (the heap's best-first order is
      // exactly (tf desc, doc_id asc), matching the oracle's window).
      CollectTopK.ranked(tf.groupBy(col("tok")), col("tf").cast("double"), col("doc_id"), 8,
          "doc_id", "tf", aggs = Seq(count(lit(1)).as("df"), sum(col("tf")).as("total_tf")))
        .select(col("tok"), col("df"), col("total_tf"), col("rn").as("rnk"),
          col("doc_id"), col("tf").cast("long").as("tf"))
        .orderBy("tok", "rnk") // row-per-(term,posting): parallel range sort
    },

    // ----- X4 (model-based filtering): LM-perplexity scoring, the
    // CCNet/Wikipedia-LM quality filter — train an add-k-smoothed
    // BIGRAM language model on the corpus itself (deterministic,
    // self-contained: p(w2|w1) = (c(w1w2)+0.5)/(c(w1·)+0.5·V)), score
    // every document's per-token cross-entropy H = −(1/N)·Σ log2 p,
    // and bucket the corpus into CCNet's head/middle/tail TERCILES of
    // the H distribution (the split CCNet trains on). H (bits/token)
    // ships instead of 2^H: the perplexity exponentiation is a
    // monotone presentation step whose libm pow() is not cross-engine
    // reproducible, while H itself is — per-bigram log2 rounded to 6dp
    // (the q60 idf trick), per-doc sums decimal-exact (Exact.dsum,
    // order-independent), and the tercile cuts are ORDER STATISTICS of
    // those already-rounded doubles — t1 = the ceil(N/3)-th smallest
    // h_bits, t2 = the ceil(2N/3)-th: a cut snapped to an actual
    // corpus value involves NO interpolation arithmetic at all, so the
    // boundary comparison is an exact-equality question both engines
    // answer identically (a 6dp-rounded interpolated percentile keeps a
    // half-ulp boundary risk when the interpolated value straddles a
    // rounding boundary).
    // 100 TB plan: ONE bigram explode feeds both model aggregates
    // (counts keyed by bigram and by left-token — map-side combined)
    // and, checkpointed, the scoring join; the model table joins back
    // keyed by the bigram (AQE broadcasts it at test scale; at corpus
    // scale it is a plain shuffle join co-keyed with the bigram rows —
    // never a per-doc loop, never a driver-side model). Vocabulary
    // size and the two tercile cuts cross as one-row broadcasts like
    // q82's corpus stats; at 100 TB the exact percentile becomes
    // approx_percentile — the cut choice is a policy knob, not a law.
    q("q103_lm_perplexity",
      "X4: bigram-LM cross-entropy scoring + CCNet head/middle/tail terciles",
      {
        s"""WITH $lmScoredCtes,
           |  th AS (SELECT MIN(CASE WHEN rn = (n + 2) // 3 THEN h_bits END) AS t1,
           |                MIN(CASE WHEN rn = (2 * n + 2) // 3 THEN h_bits END) AS t2
           |         FROM (SELECT h_bits, ROW_NUMBER() OVER (ORDER BY h_bits) AS rn,
           |                      COUNT(*) OVER () AS n FROM scored))
           |SELECT doc_id, n_bigrams, h_bits,
           |       CASE WHEN h_bits <= t1 THEN 'head'
           |            WHEN h_bits <= t2 THEN 'middle'
           |            ELSE 'tail' END AS bucket
           |FROM scored CROSS JOIN th
           |ORDER BY doc_id""".stripMargin
      }) { (s, dir) =>
      // Scored frame is read twice (tercile aggregate + bucket assign):
      // eager checkpoint, the tercile frame feeds a broadcast build.
      val scored = lmScoredFrame(s, dir).checkpointed()
      // Tercile cuts SNAPPED to actual h_bits order statistics: t1/t2
      // are corpus VALUES at ranks ceil(N/3)/ceil(2N/3),
      // picked by integer rank arithmetic — no interpolation, so no
      // cross-engine float form exists to disagree (ties under
      // row_number pick a rank arbitrarily, but the VALUE at a rank is
      // tie-invariant under a sort by that value). The single-task
      // global ranking window runs over one double column of the
      // already-aggregated per-doc frame — at 100 TB this cut
      // computation is the policy knob the scaladoc names
      // (approx_percentile), not a law.
      val rankW = org.apache.spark.sql.expressions.Window.orderBy("h_bits")
      val th = scored.select(col("h_bits"))
        .withColumn("rn", row_number().over(rankW))
        .withColumn("n", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy()))
        .agg(
          min(when(col("rn") === expr("(n + 2) div 3"), col("h_bits"))).as("t1"),
          min(when(col("rn") === expr("(2 * n + 2) div 3"), col("h_bits"))).as("t2"))
      scored.crossJoin(broadcast(th))
        .select(col("doc_id"), col("n_bigrams"), col("h_bits"),
          when(col("h_bits") <= col("t1"), "head")
            .when(col("h_bits") <= col("t2"), "middle")
            .otherwise("tail").as("bucket"))
        .orderBy("doc_id") // row-per-doc output: parallel range sort
    },

    // ----- X4+/LLM: BPE VOCABULARY TRAINING (Sennrich, Haddow &
    // Birch, "Neural Machine Translation of Rare Words with Subword
    // Units", ACL 2016) — learn the first K merge rules of a byte-pair
    // encoding over the corpus. The tokenizer-training step every LLM
    // data pipeline runs before it can count a single training token.
    // SCALE SHAPE: the corpus is read ONCE and collapses to a
    // VOCAB-sized word-frequency table (token explode + one
    // hash-aggregate); all K rounds then iterate that small table —
    // per round, one vocab-sized adjacent-pair aggregate (map-side
    // combined), a 1-row argmax collect (the same driver-loop shape
    // as q93's Lloyd centroids), and a rewrite of only the words that
    // can contain the winning pair ([[bpeReplay]]'s prefilter).
    // At 100 TB the corpus pass dominates and parallelizes as a scan;
    // the rounds cost vocab-size, independent of corpus size.
    // Determinism: tie-breaks on ascending (u1, u2) — all-ASCII units
    // under binary collation in both engines; counts are exact longs.
    q("q108_bpe_train",
      "X4+/LLM: BPE merge-rule training (K greedy rounds over the vocab-sized word table)",
      {
        val chain = new StringBuilder
        chain.append(
          s"""WITH w_0 AS (
             |  SELECT concat(regexp_replace(tok, '(.)', '\\1 ', 'g'), '_') AS w,
             |         CAST(COUNT(*) AS BIGINT) AS cnt
             |  FROM (SELECT unnest(${TextOps.tokensSql("text")}) AS tok FROM documents)
             |  GROUP BY 1)""".stripMargin)
        for (i <- 1 to BpeMerges) {
          chain.append(",\n").append(bpePairCte(i, s"w_${i - 1}"))
          if (i < BpeMerges) // the last round's rewrite is never read
            chain.append(",\n").append(bpeApplyCte(i, s"w_${i - 1}"))
        }
        chain.append("\nSELECT * FROM (\n")
        chain.append((1 to BpeMerges).map { i =>
          s"""  SELECT CAST($i AS BIGINT) AS step, u1 AS lhs, u2 AS rhs,
             |         u1 || u2 AS merged, total AS score FROM best_$i""".stripMargin
        }.mkString("\n  UNION ALL\n"))
        chain.append(")\nORDER BY step")
        chain.toString
      }) { (s, dir) =>
      bpeTrain(bpeWords0(docs(s, dir))).presented("step")
    },

    // ----- X4+/LLM: BPE SEGMENTATION — q108's other half: train the
    // same K merge rules, then TOKENIZE the corpus with them,
    // reporting per-doc whitespace-token and BPE-unit counts (the
    // numbers a token-budgeted data pipeline actually bills by).
    // Together q108+q109 are a complete learned subword tokenizer.
    // SCALE SHAPE: the segmentation lookup is the post-merge
    // VOCAB-sized word table itself (token → its unit count) — it
    // broadcasts to the corpus token stream, so tokenizing 100 TB is
    // one map-side join over the scan; only the per-doc count
    // aggregate shuffles (map-side combined, doc-keyed). The learned
    // rules replay over the trainer's own input table, so segmentation
    // adds one projection and no second pass over the corpus tokens.
    q("q109_bpe_segment",
      "X4+/LLM: corpus segmentation with the learned BPE merges (per-doc token/unit counts)",
      {
        val chain = new StringBuilder
        val carry = Seq("tok", "cnt")
        chain.append(
          s"""WITH w_0 AS (
             |  SELECT tok, concat(regexp_replace(tok, '(.)', '\\1 ', 'g'), '_') AS w,
             |         CAST(COUNT(*) AS BIGINT) AS cnt
             |  FROM (SELECT unnest(${TextOps.tokensSql("text")}) AS tok FROM documents)
             |  GROUP BY 1, 2)""".stripMargin)
        for (i <- 1 to BpeMerges) {
          chain.append(",\n").append(bpePairCte(i, s"w_${i - 1}"))
          chain.append(",\n").append(bpeApplyCte(i, s"w_${i - 1}", carry))
        }
        chain.append(
          s""",
             |seg AS (SELECT tok, CAST(len(string_split(w, ' ')) AS BIGINT) AS units
             |        FROM w_$BpeMerges)
             |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             |       CAST(SUM(units) AS BIGINT) AS n_units
             |FROM (SELECT doc_id, unnest(${TextOps.tokensSql("text")}) AS tok FROM documents)
             |JOIN seg USING (tok)
             |GROUP BY 1 ORDER BY doc_id""".stripMargin)
        chain.toString
      }) { (s, dir) =>
      val words0 = bpeWords0(docs(s, dir))
      val rules = bpeRules(bpeTrain(words0))
      val seg = words0.select(col("tok"),
        size(split(bpeReplay(col("w"), rules), " ")).cast("long").as("units"))
      docs(s, dir)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
        .join(broadcast(seg), "tok")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"), sum(col("units")).as("n_units"))
        .orderBy("doc_id") // row-per-doc output: parallel range sort
    },

    // ----- X4+/LLM (incremental): TOKENIZE-ON-APPEND — the q68/q100
    // pattern applied to the tokenizer: the merge rules are a
    // PERSISTED artifact (built once per corpus fingerprint by
    // [[bpeMergesPrepared]], the same publish discipline as
    // DedupIndex), and an incoming batch — here every 5th doc with an
    // appended out-of-vocabulary marker token — is segmented by
    // REPLAYING the 8 persisted rules over the batch's own vocab-sized
    // word table, never retraining and never touching the training
    // corpus. OOV tokens are the point: a fixed tokenizer applies its
    // rules to unseen words wherever they match (the replay needs no
    // counts at all, only the token). Append cost scales with the
    // BATCH vocabulary: one projection over a tiny table + one
    // broadcast seg join over the batch stream. The oracle
    // re-derives the same rules from the training corpus (the q68
    // convention: persisted index vs oracle recompute) and replays
    // them on a parallel batch CTE chain.
    q("q112_bpe_apply_persisted",
      "X4+/LLM: batch tokenization via persisted BPE merges (no retrain, OOV-safe)",
      bpeApplyPersistedOracleSql) { (s, dir) =>
      bpeSegmentWith(bpeMergesOf(s, dir), bpeAppendBatch(s, dir))
        .orderBy("doc_id") // row-per-doc output: parallel range sort
    },

    // ----- T6 + X4+/LLM (the append family's streaming column):
    // STREAMING tokenize-on-append — q112's replay
    // drained as an AvailableNow stream (the q118/q120 harness): the
    // append batch lands as parquet files, maxFilesPerTrigger=1 forces
    // ≥2 micro-batches, and foreachBatch replays the PERSISTED 8 merge
    // rules over each micro-batch's own vocab-sized word table before
    // the broadcast seg join — the identical [[bpeSegmentWith]] plan
    // q112 runs over the whole batch. NO streaming state: a token's
    // segmentation is a pure function of (token, persisted rules), so
    // each doc's (n_tokens, n_units) derives from its own text plus
    // the artifact, rows are self-contained, and micro-batch
    // boundaries cannot change any count (per-micro-batch word tables
    // are SUBSETS of the whole-batch table; the replay visits each
    // distinct token identically wherever it appears). The oracle is
    // q112's verbatim: stream ≡ batch IS the hash gate, and
    // BpeSpec pins in-engine stream-vs-batch equality plus
    // the observed ≥2-micro-batch discipline. At 100 TB this is the
    // tokenizer in the ingest path: catch-up over any backlog is just
    // more batches, each paying one projection over its OWN tiny
    // vocabulary + one broadcast join over its doc stream.
    q("q123_stream_tokenize",
      "T6+X4+/LLM: streaming tokenize-on-append via persisted BPE merges (foreachBatch, stateless)",
      bpeApplyPersistedOracleSql) { (s, dir) =>
      bpeStreamDrain(s, dir, nFiles = 2)
    },

  )

  /** q123's drain, file-count parameterized (each file is one
    * micro-batch under maxFilesPerTrigger=1; the registered query runs
    * 2; the `backlog` family of the test-scope scale probe drains a
    * 10-file backlog to measure the per-micro-batch marginal cost). */
  private[graft] def bpeStreamDrain(s: SparkSession, dir: String,
      nFiles: Int): DataFrame = {
    val rules = bpeMergesOf(s, dir)
    val batch = bpeAppendBatch(s, dir)
    val root = graft.TempDirs.fresh("q123")
    val target = new Drain.Target(Drain.targetDir(root))
    Drain.split(root, batch, nFiles)(Drain.appendEach(target)(bpeSegmentWith(rules, _)))
    target.read(s).orderBy("doc_id")
  }

  /** q112's (and q123's) oracle: re-derive the 8 rules from the
    * training corpus in an unrolled CTE chain (the q68 convention:
    * persisted index vs oracle recompute), then replay them on a
    * parallel batch chain. ONE text shared by the batch and streaming
    * registrations so the two gates can never drift. */
  private[graft] def bpeApplyPersistedOracleSql: String = {
    val chain = new StringBuilder
    chain.append(
      s"""WITH w_0 AS (
         |  SELECT concat(regexp_replace(tok, '(.)', '\\1 ', 'g'), '_') AS w,
         |         CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM (SELECT unnest(${TextOps.tokensSql("text")}) AS tok FROM documents)
         |  GROUP BY 1)""".stripMargin)
    for (i <- 1 to BpeMerges) {
      chain.append(",\n").append(bpePairCte(i, s"w_${i - 1}"))
      if (i < BpeMerges)
        chain.append(",\n").append(bpeApplyCte(i, s"w_${i - 1}"))
    }
    chain.append(
      s""",
         |batch AS (SELECT doc_id + 70000 AS doc_id, text FROM (
         |            SELECT doc_id,
         |              concat(text, ' zq', CAST(doc_id % 7 AS VARCHAR)) AS text
         |            FROM documents WHERE doc_id % 5 = 1)),
         |b_0 AS (
         |  SELECT DISTINCT tok,
         |         concat(regexp_replace(tok, '(.)', '\\1 ', 'g'), '_') AS w
         |  FROM (SELECT unnest(${TextOps.tokensSql("text")}) AS tok FROM batch))""".stripMargin)
    for (i <- 1 to BpeMerges)
      chain.append(",\n")
        .append(bpeApplyCte(i, s"b_${i - 1}", Seq("tok"), out = s"b_$i"))
    chain.append(
      s""",
         |seg AS (SELECT tok, CAST(len(string_split(w, ' ')) AS BIGINT) AS units
         |        FROM b_$BpeMerges)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |       CAST(SUM(units) AS BIGINT) AS n_units
         |FROM (SELECT doc_id, unnest(${TextOps.tokensSql("text")}) AS tok FROM batch)
         |JOIN seg USING (tok)
         |GROUP BY 1 ORDER BY doc_id""".stripMargin)
    chain.toString
  }

  /** The persisted merge rules, read once (8 tiny rows → closure). */
  private[graft] def bpeMergesOf(s: SparkSession, dir: String): Seq[(String, String)] =
    bpeRules(Tables.read(s, bpeMergesPrepared(s, dir)))

  /** q112's planted append batch: every 5th doc, id-shifted +70000
    * (under the Tables.PlantIdFloor headroom guard), an OOV marker
    * token appended — the fixed-tokenizer-on-unseen-text case. */
  private[graft] def bpeAppendBatch(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).filter(col("doc_id") % 5 === 1)
      .select((col("doc_id") + 70000).as("doc_id"),
        concat(col("text"), lit(" zq"), pmod(col("doc_id"), lit(7)).cast("string"))
          .as("text"))

  /** Segment `b`'s docs `(doc_id, text)` with the merge `rules`: the
    * rules replay ([[bpeReplay]]) over b's own distinct tokens as one
    * projection, and that vocabulary-sized seg table broadcasts onto
    * b's token stream; only the doc-keyed count aggregate shuffles.
    * Cost scales with b, never the training corpus. Nothing is
    * checkpointed: the seg table is computed once, under the
    * broadcast. Unordered: q112 and q117 sort their output; q123 runs
    * this per micro-batch and sorts the drained target. */
  private[graft] def bpeSegmentWith(
      rules: Seq[(String, String)], b: DataFrame): DataFrame = {
    val toks = explode(TextOps.tokens(col("text"))).as("tok")
    val seg = b.select(toks).distinct()
      .select(col("tok"),
        size(split(bpeReplay(bpeWord(col("tok")), rules), " ")).cast("long").as("units"))
    b.select(col("doc_id"), toks)
      .join(broadcast(seg), "tok")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("units")).as("n_units"))
  }

  /** q34's DuckDB quality-score SELECT `(doc_id, n_tokens, punct_ratio,
    * digit_ratio, stop_ratio, quality)` over `documents` — factored so
    * the q128 ensemble reuses the SAME formula text (the decimal combo
    * is half-tie-sensitive; a drifted copy would diverge silently). */
  private[operators] def qualityScoredSql: String = {
    val toks = TextOps.tokensSql("text")
    val set = Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""SELECT doc_id, n_tokens, punct_ratio, digit_ratio, stop_ratio,
       |  CAST(0.4 * (CASE WHEN n_tokens >= 50 THEN CAST(1 AS DECIMAL(8,6))
       |              ELSE CAST(n_tokens * 0.02 AS DECIMAL(8,6)) END)
       |     + 0.3 * (CAST(1 AS DECIMAL(8,6)) - CAST(punct_ratio AS DECIMAL(18,6)))
       |     + 0.3 * (CASE WHEN CAST(stop_ratio AS DECIMAL(18,6)) * 5 >= 1 THEN CAST(1 AS DECIMAL(18,6))
       |              ELSE CAST(stop_ratio AS DECIMAL(18,6)) * 5 END) AS DOUBLE) AS quality
       |FROM (
       |  SELECT doc_id,
       |    CAST(len($toks) AS BIGINT) AS n_tokens,
       |    ROUND(CAST(len(text) - len(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
       |          / NULLIF(len(text), 0), 6) AS punct_ratio,
       |    ROUND(CAST(len(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
       |          / NULLIF(len(text), 0), 6) AS digit_ratio,
       |    ROUND(CAST(len(list_filter($toks, t -> list_contains($set, t))) AS DOUBLE)
       |          / NULLIF(len($toks), 0), 6) AS stop_ratio
       |  FROM documents)""".stripMargin
  }

  /** Spark mirror of [[qualityScoredSql]] — q34's scored frame, shared
    * with the q128 ensemble. Map-only; distributes with the scan. */
  private[operators] def qualityFrame(s: SparkSession, dir: String): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    val ratios = docsSpread(s, dir).select(
      col("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      round((length(col("text")) -
        length(regexp_replace(col("text"), "[a-z0-9 ]", ""))).cast("double") /
        nullif(length(col("text")), lit(0)), 6).as("punct_ratio"),
      round(length(regexp_replace(col("text"), "[^0-9]", "")).cast("double") /
        nullif(length(col("text")), lit(0)), 6).as("digit_ratio"),
      round(size(filter(toks, t => t.isin(Stopwords: _*))).cast("double") /
        nullif(size(toks), lit(0)), 6).as("stop_ratio"))
    val one = expr("CAST(1 AS DECIMAL(8,6))")
    val pd = col("punct_ratio").cast(org.apache.spark.sql.types.DecimalType(18, 6))
    val sd = col("stop_ratio").cast(org.apache.spark.sql.types.DecimalType(18, 6))
    val lenScore = when(col("n_tokens") >= 50, one)
      .otherwise((col("n_tokens") * expr("CAST(0.02 AS DECIMAL(3,2))"))
        .cast(org.apache.spark.sql.types.DecimalType(8, 6)))
    val stopScore = when(sd * 5 >= 1, expr("CAST(1 AS DECIMAL(18,6))")).otherwise(sd * 5)
    ratios.withColumn("quality",
      (expr("CAST(0.4 AS DECIMAL(2,1))") * lenScore +
        expr("CAST(0.3 AS DECIMAL(2,1))") * (one - pd) +
        expr("CAST(0.3 AS DECIMAL(2,1))") * stopScore).cast("double"))
  }

  /** q103's DuckDB CTE chain up through `scored(doc_id, n_bigrams,
    * h_bits)` — the bigram-LM train + score block, factored so the
    * q128 ensemble's oracle reuses the SAME model text (formula drift
    * between two hand copies would silently skew one consumer). */
  private[operators] def lmScoredCtes: String = {
    val toks = TextOps.tokensSql("text")
    s"""toks AS (SELECT doc_id, $toks AS t FROM documents),
       |  bgw AS (SELECT doc_id, b, split_part(b, ' ', 1) AS w1 FROM (
       |            SELECT doc_id,
       |              unnest([list_aggregate(list_slice(t, i, i + 1), 'string_agg', ' ')
       |                      for i in range(1, len(t))]) AS b
       |            FROM toks)),
       |  bgc AS (SELECT b, w1, COUNT(*) AS cbg FROM bgw GROUP BY 1, 2),
       |  ugc AS (SELECT w1, COUNT(*) AS cug FROM bgw GROUP BY 1),
       |  vf AS (SELECT COUNT(DISTINCT tok) AS v
       |         FROM (SELECT unnest(t) AS tok FROM toks)),
       |  lp AS (SELECT b,
       |           ROUND(LOG2((cbg + CAST(0.5 AS DOUBLE)) /
       |                      (cug + CAST(0.5 AS DOUBLE) * v)), 6) AS logp
       |         FROM bgc JOIN ugc USING (w1) CROSS JOIN vf),
       |  scored AS (SELECT doc_id, COUNT(*) AS n_bigrams,
       |               ROUND(-(${ExactSql.dsum("logp")}) / COUNT(*), 6) AS h_bits,
       |               -(${ExactSql.dsum("logp")}) / COUNT(*) AS hb_raw
       |             FROM bgw JOIN lp USING (b) GROUP BY doc_id)""".stripMargin
  }

  /** q103's model-train + scoring frame `(doc_id, n_bigrams, h_bits)`,
    * BEFORE its checkpoint — the registered query's exact input, kept
    * separately callable because the checkpoint truncates the
    * registered plan to an RDD scan and this is where the
    * load-bearing shape lives (PlanShapeSpec pins the shuffle-hash
    * scoring join here). */
  private[graft] def lmScoredFrame(s: SparkSession, dir: String): DataFrame = {
    // Raw (per-occurrence) bigram rows; w1 = the conditioning token.
    // Checkpointed eagerly: THREE consumers (both model aggregates
    // and the scoring join) whose per-branch column pruning defeats
    // exchange reuse, and the model side feeds a broadcast build.
    val bgw = DedupQueries.shingleRowsOf(
        docsSpread(s, dir).select("doc_id", "text"), 2)
      .select(col("doc_id"), col("t").as("b"),
        substring_index(col("t"), " ", 1).as("w1"))
      .checkpointed()
    val bgc = bgw.groupBy(col("b"), col("w1")).agg(count(lit(1)).as("cbg"))
    val ugc = bgw.groupBy(col("w1")).agg(count(lit(1)).as("cug"))
    // Vocabulary size: one row, broadcast (includes doc-final tokens
    // that never condition a bigram — V is the token vocabulary, not
    // the context vocabulary; the oracle counts the same set).
    val vf = docs(s, dir).select(
        explode(split(lower(col("text")), "[^a-z0-9]+")).as("tok"))
      .filter(col("tok") =!= "")
      .agg(countDistinct(col("tok")).as("v"))
    val lp = bgc.join(ugc, "w1").crossJoin(broadcast(vf))
      .select(col("b"), round(log2(
        (col("cbg") + lit(0.5)) / (col("cug") + lit(0.5) * col("v"))), 6)
        .as("logp"))
    // The scoring join is PINNED as a shuffle-hash join with the
    // MODEL as the build side: a checkpoint scan reports no
    // statistics, and the optimizer's default broadcast the 6M-row
    // bigram side while streaming the 21k-row model on one task
    // (profiled: the dominant 5-7 s serialized stage on the hostile
    // 10× corpus). shuffle_hash is also the only shape that survives
    // 100 TB, where the model table outgrows any broadcast; the
    // NUMBERED repartition keeps the probe side at full parallelism
    // (AQE would coalesce the ~tens-of-MB exchange).
    bgw.repartition(s.sparkContext.defaultParallelism, col("b"))
      .join(lp.hint("shuffle_hash"), "b")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(-dsum(col("logp")) / count(lit(1)), 6).as("h_bits"),
        // Unrounded twin for the q128/q131 micro tier: the exact
        // decimal sum cast to double, one IEEE division — bit-identical
        // cross-engine, where ROUND(·, 6) can half-tie (count=2 docs
        // put the quotient exactly on a 7th-digit half).
        (-dsum(col("logp")) / count(lit(1))).as("hb_raw"))
  }
}
