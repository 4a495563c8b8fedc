package graft.operators

import graft.Materialize.CheckpointOps
import graft.{NamedQuery, Tables}
import graft.NamedQuery.{q, PresentationOps}
import graft.functions.TextOps
import graft.streaming.Drain
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document-deduplication queries (SURVEY.md §2.10 X3 north star).
  *
  * The reference dedups by upsert key (`ON CONFLICT (vector_id)`,
  * src/storage/pgvector_storage.py:102-105); an LLM training pipeline
  * needs content-level dedup. Three tiers, all bucketed — candidate
  * generation is always an equi-join on a hash key, NEVER an all-pairs
  * cross product, so each scales as one shuffle of the corpus:
  *
  *  - q27 exact: group by md5(text), keep the lowest id (hash-groupBy —
  *    the Spark analog of `dropDuplicates`, with provenance counts).
  *  - q28 MinHash: word-3-shingles → k independent min-hashes → band
  *    buckets → candidate pairs → exact Jaccard verify ≥ τ.
  *  - q32 SimHash: 60-bit majority-vote signature over 3-gram shingle
  *    features (shingles, not raw tokens: the corpus shares a tiny word
  *    vocabulary, so token-level signatures cluster and band buckets go
  *    quadratic; shingles are near-unique per doc) → 4×15-bit band
  *    buckets → candidate pairs → Hamming-distance verify ≤ d.
  *
  * The synthetic corpus has no natural duplicates (500 distinct texts at
  * sf0.01), so each query PLANTS deterministic dups: a union with copies
  * (exact for q27; first-token-dropped for q28/q32) under shifted ids.
  * The operator must find exactly the planted overlap — that is the
  * correctness check, mirrored in the DuckDB oracle.
  */
object DedupQueries {

  /** Documents ∪ deterministic planted copies: every `mod`-th doc again
    * under id+`shift`, with `perturb` applied to the text. */
  private def withPlanted(base: DataFrame, mod: Int, shift: Int,
                          perturb: Column => Column): DataFrame =
    base.unionAll(
      base.filter(col("doc_id") % mod === 0)
        .select((col("doc_id") + shift).as("doc_id"),
          perturb(col("text")).as("text")))

  private def plantedSql(mod: Int, shift: Int, perturbSql: String): String =
    s"""SELECT doc_id, text FROM documents
       |UNION ALL
       |SELECT doc_id + $shift, $perturbSql FROM documents WHERE doc_id % $mod = 0""".stripMargin

  /** Drop the first word — a near-duplicate, not an exact one. */
  private val dropFirstTok: Column => Column =
    t => regexp_replace(t, "^[a-z0-9]+ ", "")
  private val dropFirstTokSql = "regexp_replace(text, '^[a-z0-9]+ ', '')"

  /** Pre-sort frames for the heavy dedup queries: EXACTLY each registered
    * query's frame minus the trailing `rangeSorted` materialize (whose
    * lazy checkpoint truncates the inspectable plan to an RDD scan).
    * The query bodies and `PlanShapeSpec`'s laws both build from here,
    * so the pinned plan shape is the benched shape — same planted-copy
    * union and doc_id spread — minus only the sort. */
  private[graft] val preSortFrames: Map[String, DataFrame => DataFrame] = {
    // EXPLICIT partition count: a column-only repartition is
    // REPARTITION_BY_COL, which AQE freely coalesces — and ~10 MB of
    // text coalesces to ONE partition, serializing the tokenize/
    // shingle/hash compute the spread exists to parallelize (profiled:
    // the q28 signature stage ran wall ≈ sum(taskRun)). A numbered
    // repartition is REPARTITION_BY_NUM, which AQE must preserve, and
    // it still satisfies the downstream groupBy(doc_id) distribution,
    // so no second exchange appears.
    def planted(mod: Int, shift: Int)(base: DataFrame): DataFrame =
      withPlanted(base, mod, shift, dropFirstTok)
        .repartition(base.sparkSession.sparkContext.defaultParallelism, col("doc_id"))
    Map(
      "q28_minhash_pairs" -> (b => minhashPairs(planted(10, 10000)(b))),
      "q32_simhash_bands" -> (b => simhashPairs(planted(9, 30000)(b))),
      "q81_ngram_jaccard" -> (b =>
        jaccardSelfJoin(planted(11, 50000)(b), JaccardThresh, JaccardDfCap)),
      "q58_contamination" -> (b => {
        val evalDocs = b.filter(col("doc_id") % 50 === 0)
        val train = b.unionAll(
          evalDocs.select((col("doc_id") + 40000).as("doc_id"),
            dropFirstTok(col("text")).as("text")))
        // Distinct word-8-grams on the eval side; RAW gram rows on the
        // train side — the engine's eval-gram semi-join dedups only the
        // matching slice, so the full train stream never pays a
        // distinct exchange. Numbered repartition spreads the train
        // shingling (AQE coalesces the window exchange to ~3
        // partitions at this size, serializing the dominant compute).
        val eg = shingleRows(evalDocs, 8)
          .select(col("doc_id").as("eval_id"), col("t").as("g"))
        val tg = shingleRows(train.repartition(
            b.sparkSession.sparkContext.defaultParallelism, col("doc_id")), 8,
            dedup = false)
          .select(col("doc_id").as("train_id"), col("t").as("g"))
        containmentJoin(eg, tg, ContamThresh)
      }),
      "q84_bloom_decontam" -> (b => {
        val evalDocs = b.filter(col("doc_id") % 40 === 0)
        bloomDecontamPairs(evalDocs, b.unionAll(
          evalDocs.select((col("doc_id") + 60000).as("doc_id"),
            dropFirstTok(col("text")).as("text"))))
      }),
      "q95_dup_spans" -> (b => dupSpans(planted(7, 70000)(b), DupSpanW)),
      "q98_novelty_score" -> (b => noveltyScores(planted(9, 45000)(b))))
  }

  /** DISTINCT word n-gram shingles as ROWS `(doc_id, t)` — the row form
    * of [[TextOps.shingles]]. Higher-order functions are CodegenFallback
    * (interpreted eval), and at sf0.1 the interpreted shingle fold is
    * the dominant cost of both near-dup queries; posexplode + lead()
    * windows + concat_ws stay inside WholeStageCodegen. The window and
    * BOTH dedup/signature aggregates reuse the incoming hash
    * distribution on doc_id, so the whole shingle stage is one exchange. */
  private def shingleRows(u: DataFrame, n: Int, dedup: Boolean = true): DataFrame = {
    val toks = u.select(col("doc_id"),
        posexplode(split(lower(col("text")), "[^a-z0-9]+")).as(Seq("pos", "tok")))
      .filter(col("tok") =!= "") // empties from leading/trailing delimiters
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val withNext = (1 until n).foldLeft(toks) { (df, k) =>
      df.withColumn(s"t$k", lead(col("tok"), k).over(w))
    }
    val rows = withNext.filter(col(s"t${n - 1}").isNotNull) // short tails shingle nothing
      .select(col("doc_id"),
        concat_ws(" ", col("tok") +: (1 until n).map(k => col(s"t$k")): _*).as("t"))
    // per-doc distinct, like the HOF's array_distinct — skippable when the
    // consumer's aggregates are duplicate-insensitive anyway (q28: min
    // permutations + collect_set both are)
    if (dedup) rows.distinct() else rows
  }

  /** Raw (non-distinct) word n-gram rows — shared with CurationQueries. */
  private[operators] def shingleRowsOf(u: DataFrame, n: Int): DataFrame =
    shingleRows(u, n, dedup = false)

  /** 60-bit SimHash signatures `(doc_id, sig)` for `(doc_id, text)`
    * rows, via explode + a 61-column codegen'd hash aggregate
    * (partial+final combine) instead of the per-row HOF fold in
    * [[TextOps.simhash]]: semantically identical, but the vote sums
    * run inside WholeStageCodegen (~30× faster at sf0.1) and scale as
    * one shuffle keyed by doc_id. Shingle-less docs fall out of the
    * explode; the left join restores them with sig=0 (the HOF value). */
  private[graft] def simhashSigs(u: DataFrame): DataFrame = {
    val exploded = shingleRows(u, 3)
      .withColumn("h", TextOps.hash60(col("t")))
    val bitSums = (0 until 60).map(j =>
      sum(shiftright(col("h"), j).bitwiseAND(lit(1L))).as(s"b$j"))
    val votes = exploded.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("cnt"), bitSums: _*)
    val sigExpr = (0 until 60).map(j =>
      when(col(s"b$j") * 2 > col("cnt"), lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    u.select(col("doc_id")).join(votes, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(sigExpr, lit(0L)).as("sig"))
  }

  /** The SimHash LSH bands of `(doc_id, sig)` rows: four 15-bit slices
    * of the 60-bit signature, one `(doc_id, sig, band_id, band_val)` row
    * each. Two signatures within Hamming 3 share at least one band. */
  private[graft] def simhashBands(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), col("sig"), explode(array(
        (0 until 4).map(b => struct(lit(b).as("band_id"),
          shiftright(col("sig"), b * 15).bitwiseAND(lit(32767L)).as("band_val"))): _*)).as("bv"))
      .select(col("doc_id"), col("sig"),
        col("bv.band_id").as("band_id"), col("bv.band_val").as("band_val"))

  /** DuckDB mirror of [[TextOps.shingles]] (word 3-grams, distinct). */
  private def shinglesSql(toks: String): String =
    s"list_distinct([list_aggregate(list_slice($toks, i, i + 2), 'string_agg', ' ') for i in range(1, len($toks) - 1)])"

  /** DuckDB word n-grams, distinct, for arbitrary n. */
  private def ngramsSql(toks: String, n: Int): String =
    s"list_distinct([list_aggregate(list_slice($toks, i, i + ${n - 1}), 'string_agg', ' ') for i in range(1, len($toks) - ${n - 2})])"

  /** DuckDB mirror of [[TextOps.simhash]] over a token-hash list column. */
  private def simhashSql(hs: String): String =
    (0 until 60).map { j =>
      s"(CASE WHEN list_sum(list_transform($hs, h -> CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString("(", " +\n ", ")")

  /** Two-CTE simhash signature over `(doc_id, text)` rows of `src`:
    * the shingle-hash LIST is computed once in `{out}_hs`, then the 60
    * per-bit reductions read that column. Passing the list expression
    * straight into [[simhashSql]] instead re-derives the whole
    * tokenize→shingle→md5 chain PER BIT — 60× the hashing work, which
    * made the four simhash oracles (q32/q68/q120/q122) the gate's cost
    * tail once the training chains were materialized. `carry` prefixes
    * extra projected columns (e.g. `"side, "`). */
  private def simhashCtesSql(src: String, carry: String, out: String): String = {
    val hs =
      s"list_transform(${shinglesSql(TextOps.tokensSql("text"))}, t -> ${TextOps.hash60Sql("t")})"
    s"""${out}_hs AS (SELECT $carry doc_id, $hs AS hs FROM $src),
       |  $out AS (SELECT $carry doc_id, ${simhashSql("hs")} AS sig FROM ${out}_hs)""".stripMargin
  }

  private val JaccardThresh = 0.6
  private val DupSpanW = 8 // q95 rolling-window length, in tokens
  private val HammingThresh = 10
  private val ContamThresh = 0.5

  /** q81's df cap: posting lists longer than this never explode into
    * candidate pairs (pair work from one list is df², so the cap bounds
    * per-shingle candidate cost at dfCap² regardless of how many docs
    * share a stop-shingle). Pairs whose EVERY shared shingle is hotter
    * than the cap are recovered losslessly by the prefix tier — see
    * [[jaccardSelfJoin]]. (private[graft]: PlanShapeSpec pins the cap
    * filter's presence beneath the pair explode.) */
  private[graft] val JaccardDfCap = 64

  /** Exact n-gram Jaccard self-join with the 100 TB guard: PPJoin
    * positional-prefix candidate generation over a df-split inverted
    * index, then exact per-candidate verification. Returns
    * `(id_a, id_b, n_shared, jaccard)` for pairs with
    * `round(jaccard, 6) >= tau` — bit-identical to the uncapped
    * inverted-index join for ANY `dfCap >= 1`:
    *
    *  - PREFIX bound (the standard positional-prefix-filter argument):
    *    order all shingles globally by `(df, h)` ascending. A pair with
    *    J >= tau shares >= ceil(tau·|A|) shingles, so if none of A's
    *    first |A| − ceil(tau·|A|) + 1 shingles in that order were
    *    shared, the <= ceil(tau·|A|) − 1 remaining slots could not hold
    *    them all — contradiction. The same holds for B, and running the
    *    argument on the pair's globally-RAREST shared shingle shows it
    *    sits inside BOTH docs' prefixes. Hence indexing ONLY
    *    prefix-resident (doc, shingle) entries is lossless, and every
    *    tier below works on that sub-index (exploding the FULL cold
    *    posting lists is correct, but most of its pair shuffle is
    *    candidates the prefix bound already refutes).
    *  - COLD tier: prefix entries of shingles with `1 < df <= dfCap`
    *    re-aggregate into posting lists and explode into candidate
    *    pairs (pair cost per list bounded by min(df, prefix-residency)²
    *    <= dfCap²). A qualifying pair whose rarest shared shingle is
    *    cold is generated here.
    *  - HOT tier: prefix entries of shingles hotter than the cap
    *    self-join on the shingle. Prefix postings for a stop-shingle
    *    are tiny: the shingle lands in a doc's prefix only when it is
    *    among that doc's rarest — essentially never for boilerplate,
    *    and when a corpus degenerates to mostly-boilerplate docs the
    *    output itself is quadratic, so no candidate generator could do
    *    better.
    *  - EXACT verification: n_shared = |A ∩ B| via array_intersect
    *    over per-doc SHARED-shingle arrays (every element of A ∩ B has
    *    df >= 2 by definition, so singleton shingles can be dropped
    *    from the verification sets; only the denominator needs the full
    *    |A|, which the totals aggregate provides). Columnar, no
    *    re-verification explode; the candidate side is small relative
    *    to the corpus, so AQE broadcasts it and the array frame never
    *    shuffles. The tau filter runs on the exact rounded Jaccard —
    *    no approximation anywhere.
    *
    * The singleton trick also keeps the RANKING off the full corpus:
    * df = 1 entries sort strictly first under (df, h)-ascending, so the
    * i-th shared entry of a doc occupies full-set position n₁ + i, and
    * "position <= n − floor(tauGen·n) + 1" becomes
    * "i <= |shared| − floor(tauGen·n) + 1". The per-doc sort therefore
    * runs on the exploded POSTING LISTS (shared entries only, typically
    * a small fraction of the corpus) and singletons are never joined,
    * ranked, or shuffled past their first aggregation.
    *
    * Prefix-length computation uses `tau − 1e-6`: the output filter
    * compares ROUND(j, 6) >= tau, so a pair at j = tau − 5e-7 must
    * still be a candidate. floor(tauGen·n) instead of ceil(tau·n) − 1
    * keeps the prefix a token longer than the bound needs, absorbing
    * float error on the safe side. */
  private[graft] def jaccardSelfJoin(u: DataFrame, tau: Double, dfCap: Int): DataFrame = {
    val tauGen = tau - 1e-6 // candidate recall must survive ROUND(j, 6)
    // dedup = false + one distinct on the HASHES: string-level distinct
    // then hash then hash-level distinct (the oracle's two list_distinct
    // calls) yields the same set as hashing duplicates and distincting
    // once — so the string-level shuffle is dropped entirely.
    val sh = shingleRows(u, 3, dedup = false)
      .select(col("doc_id"), TextOps.hash60(col("t")).as("h"))
      .distinct() // (doc_id, h): per-doc set semantics + hash-fold safety
      // EAGER: totals and postings read it, and totals feeds a broadcast
      // exchange — broadcast jobs run on their own threads BEFORE a lazy
      // checkpoint has materialized, silently recomputing the whole
      // tokenize+shingle+md5 subtree (profiled: ~2× the query's compute).
      .checkpointed()
    // |A| per doc: count-only aggregate — partial (map-side) combine
    // makes its shuffle rows-per-doc, not rows-per-entry.
    val totals = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    // Posting-list pre-aggregation: one shuffle keyed by h; singleton
    // postings (the overwhelming majority) die here and never reappear.
    val postings = sh.groupBy(col("h"))
      .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .withColumn("df", size(col("ids")))
    // Per-doc shared-entry state, one small shuffle (shared entries
    // only): the (df, h)-sorted struct array ranks the doc's shared
    // shingles for the prefix bound, and its h-projection is the exact
    // verification set.
    val shared = postings
      .select(col("df"), col("h"), explode(col("ids")).as("doc_id"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("h")))).as("s"))
      .join(totals, "doc_id")
      .checkpointed() // eager: both verification sides join it broadcast-side
    // PPJoin prefix: keep shared entries whose full-set position
    // n₁ + i is within n − floor(tauGen·n) + 1, i.e. the first
    // size(s) − floor(tauGen·n) + 1 entries of the sorted struct array.
    // posexplode carries each entry's FULL-set position
    // pos = n₁ + i = (n − size(s)) + (p + 1) for the positional filter.
    val prefix = shared
      .select(col("doc_id"), col("n"), size(col("s")).as("ns"), posexplode(expr(
        s"slice(s, 1, cast(greatest(0L, size(s) - floor($tauGen * n) + 1) as int))")).as(Seq("p", "e")))
      .select(col("doc_id"), col("e.h").as("h"), col("e.df").as("df"),
        (col("n") - col("ns") + col("p") + 1).as("pos"), col("n"))
      .checkpointed(false) // cold re-agg + hot self-join both read it
    // POSITIONAL filter (exact, applied per generating entry before the
    // pair distinct): for the pair's globally-RAREST generating shingle
    // t*, every other shared shingle is less rare, hence sits after t*
    // in BOTH docs' orders — overlap <= 1 + min(n_a − pos_a, n_b − pos_b).
    // A qualifying pair has overlap >= (n_a+n_b)·tauGen/(1+tauGen)
    // (from j >= tauGen), so its t* row always passes and recall is
    // exact; rows where the bound can't be met (late-prefix junk — the
    // dominant candidate class) die before touching the verification
    // arrays. Applied to every generating row: non-minimal rows may
    // over-accept (their bound is not tight), never over-reject.
    val fr = tauGen / (1.0 + tauGen)
    def positionalKeep(pa: Column, na: Column, pb: Column, nb: Column): Column =
      (lit(1) + least(na - pa, nb - pb)).cast("double") >=
        (na + nb).cast("double") * lit(fr) - lit(1e-9)
    // COLD tier: prefix-resident entries of capped shingles re-aggregate
    // into (now prefix-filtered) posting lists and explode into pairs.
    val coldPairs = prefix.filter(col("df") <= dfCap)
      .groupBy(col("h"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("pos"), col("n")))).as("xs"))
      .filter(size(col("xs")) > 1)
      .select(explode(col("xs")).as("ea"), col("xs"))
      .select(col("ea"), explode(col("xs")).as("eb"))
      .filter(col("ea.doc_id") < col("eb.doc_id"))
      .filter(positionalKeep(col("ea.pos"), col("ea.n"), col("eb.pos"), col("eb.n")))
      .select(col("ea.doc_id").as("id_a"), col("eb.doc_id").as("id_b"))
    // HOT tier: prefix entries of above-cap shingles self-join.
    val hotPrefix = prefix.filter(col("df") > dfCap)
      .select("doc_id", "h", "pos", "n")
      .checkpointed(false) // both sides of the self-join
    val hotPairs = hotPrefix.select(col("h"), col("doc_id").as("id_a"),
        col("pos").as("pa"), col("n").as("na"))
      .join(hotPrefix.select(col("h"), col("doc_id").as("id_b"),
        col("pos").as("pb"), col("n").as("nb")), "h")
      .filter(col("id_a") < col("id_b"))
      .filter(positionalKeep(col("pa"), col("na"), col("pb"), col("nb")))
      .select("id_a", "id_b")
    val cand = coldPairs.union(hotPairs).distinct()
    // EXACT verification over the shared-entry arrays. Join direction:
    // broadcast the CANDIDATE PAIRS (tiny — the tiers already pruned
    // them) and stream the array frame, so the intersect stage runs on
    // the array side's partitions and only ONE array broadcast (the
    // id_b probe) is built instead of two. The arrays are h-SORTED once
    // per doc (amortized across every candidate pair the doc appears
    // in) so the per-pair intersect is the codegen'd two-pointer merge
    // — array_intersect rebuilds a boxed hash set per ROW, which
    // profiled as the dominant stage (860 s taskRun) on the
    // adversarial 10× corpus's dense candidate set.
    val vside = shared.select(col("doc_id"),
      expr("array_sort(transform(s, x -> x.h))").as("arr"), col("n"))
    vside.select(col("doc_id").as("id_a"),
        col("arr").as("arr_a"), col("n").as("n_a"))
      .join(broadcast(cand), "id_a")
      .join(vside.select(col("doc_id").as("id_b"),
        col("arr").as("arr_b"), col("n").as("n_b")), "id_b")
      .withColumn("n_shared",
        graft.plans.SortedIntersectSize(col("arr_a"), col("arr_b")).cast("long"))
      .withColumn("jaccard",
        round(col("n_shared").cast("double") /
          (col("n_a") + col("n_b") - col("n_shared")), 6))
      .filter(col("jaccard") >= tau)
      .select("id_a", "id_b", "n_shared", "jaccard")
  }

  /** q58/q84's shared containment engine with the 100 TB hot-gram
    * guard: one-sided n-gram containment
    * `|E ∩ T| / |E| >= tau` between a SMALL eval corpus and a large
    * train corpus, bit-identical to the naive gram equi-join
    * (`eg ⋈ tg` then count per pair) the DuckDB oracle runs, but with
    * candidate-pair cost guarded against hot boilerplate grams on both
    * sides — the df² trap that collapsed q28's old r=1 banding.
    *
    * Inputs: `eg` = `(eval_id, g)` DISTINCT per-doc gram rows;
    * `tg` = `(train_id, g)` gram rows, NOT necessarily distinct, and
    * allowed to be a superset-filtered stream (q84 passes its
    * bloom-prefiltered rows — false positives are harmless everywhere
    * below: they rank nothing, match no prefix, and `array_intersect`
    * drops them from verification).
    *
    *  - EVAL-GRAM SEMI-JOIN: the train gram stream is semi-joined
    *    (broadcast — the eval corpus is the small side by the
    *    operator's CONTRACT, and the explicit `broadcast()` hint is
    *    honored regardless of autoBroadcastJoinThreshold up to Spark's
    *    hard 8 GB / 512M-row broadcast limits, so an eval side past
    *    those limits FAILS the job rather than degrading; a deployment
    *    whose "eval" side can outgrow a broadcast must drop the hint at
    *    this one join — the guard itself is hint-independent, since
    *    ranking, prefix and verification all key off the same frames)
    *    against the distinct eval gram set. Only grams that can possibly be shared
    *    survive, so the FULL train stream is read once and never
    *    shuffled; everything downstream — df ranking, candidates,
    *    verification arrays — reads this small frame.
    *  - PREFIX bound (one-sided positional filter): rank each eval
    *    doc's grams by (train-df ascending, gram) — rarest-in-train
    *    first; absent-from-train grams rank df = 0 and cost nothing. A
    *    pair with round(c, 6) >= tau shares >= ceil((tau−1e-6)·n)
    *    grams, so its rarest-in-train shared gram sits among E's first
    *    n − floor(tauGen·n) + 1 ranked grams (floor keeps the prefix a
    *    gram longer than the bound needs — float slack on the safe
    *    side). Indexing ONLY prefix-resident eval entries is lossless.
    *    This is what kills the adversarial corpus: a boilerplate gram
    *    hot on both sides ranks LAST in every eval doc that has enough
    *    rarer content, lands in no prefix, and generates ZERO
    *    candidates — it enters E's prefix only when >= floor(tauGen·n)
    *    of E's grams are at least as hot, i.e. E itself is
    *    tau-fraction boilerplate, in which case E genuinely contains-
    *    matches those train docs and the output is the cost.
    *  - CANDIDATES: train entries probe the broadcast prefix; pair
    *    cost per gram is df_e(prefix-resident) × df_t, not df².
    *  - EXACT verification: `n_shared = |E ∩ T|` via array_intersect
    *    of per-doc gram arrays — train arrays built ONLY for candidate
    *    train docs (broadcast semi-join on the pruned candidate ids),
    *    eval arrays are the ranked arrays already built. The tau
    *    filter runs on the exact rounded containment; no approximation
    *    anywhere. */
  private[graft] def containmentJoin(eg: DataFrame, tg0: DataFrame,
      tau: Double): DataFrame = {
    val tauGen = tau - 1e-6 // candidate recall must survive ROUND(c, 6)
    // `eg` is read twice (the evalGrams broadcast and the ranked join)
    // WITHOUT a materialization bracket: the eval corpus is the small
    // side by contract, so recomputing its gram rows costs less than an
    // extra checkpoint job. A caller whose eval side is expensive
    // passes a checkpointed frame (q84 does — its bloom build already
    // needs one).
    val evalGrams = eg.select(col("g")).distinct()
    // distinct AFTER the semi-join: only matching grams pay the
    // dedup exchange, never the full train stream. CHECKPOINTED, like
    // every multi-consumer frame in this file: per-branch column
    // pruning makes the three consumers' exchanges canonicalize
    // differently, so AQE exchange reuse does NOT fire (profiled: the
    // checkpoint-free plan recomputed the train shingling 4×,
    // 12+8+5+7 s of taskRun for one 12 s subtree).
    val tgE = tg0.join(broadcast(evalGrams), "g")
      .distinct()
      .checkpointed() // eager: df, candidates, and verify arrays read it
    // Train-side df per shared gram — the guard's ranking key. Any
    // fixed total order on grams keeps the prefix bound exact; ranking
    // by train-df makes it CHEAP (hottest grams excluded first).
    val dfT = tgE.groupBy(col("g")).agg(count(lit(1)).as("df"))
    val ranked = eg.join(dfT, Seq("g"), "left")
      .select(col("eval_id"),
        struct(coalesce(col("df"), lit(0L)).as("df"), col("g").as("g")).as("e"))
      .groupBy(col("eval_id"))
      .agg(sort_array(collect_list(col("e"))).as("s"))
      .withColumn("n", size(col("s")).cast("long"))
      // Eager, like cand below: a one-JVM interleaved A/B (6
      // alternating pairs at sf0.1) measured lazy variants of BOTH
      // trailing checkpoints as a wash (eager mean 4.63 s vs lazy
      // 4.60 s for q58+q84 combined) — the broadcast threads recompute
      // what the eager job pays once, and neither wins. The barrier's
      // premium is its stage-count floor, not eagerness.
      .checkpointed() // the prefix broadcast reads it
    val prefix = ranked
      .select(col("eval_id"), explode(expr(
        s"slice(s, 1, cast(size(s) - floor($tauGen * size(s)) + 1 as int))")).as("e"))
      .filter(col("e.df") > 0) // absent-from-train grams join nothing
      .select(col("eval_id"), col("e.g").as("g"))
    val cand = tgE.join(broadcast(prefix), "g")
      .filter(col("eval_id") =!= col("train_id"))
      .select(col("eval_id"), col("train_id")).distinct()
      .checkpointed() // eager: broadcast twice below (ids + pairs)
    // Verify arrays: only candidate train docs aggregate; duplicates
    // can't arise (tgE is distinct, cand ids are distinct). Hash-keyed
    // callers (q84) get g-sorted arrays + the codegen'd two-pointer
    // merge (one sort per doc amortized across its candidate pairs);
    // string-gram callers (q58) keep array_intersect.
    val hashKeyed = eg.schema("g").dataType == org.apache.spark.sql.types.LongType
    val trainArr = tgE
      .join(broadcast(cand.select(col("train_id")).distinct()), "train_id")
      .groupBy(col("train_id")).agg(
        (if (hashKeyed) sort_array(collect_list(col("g")))
         else collect_list(col("g"))).as("ta"))
    val evalArr = ranked.select(col("eval_id"),
      (if (hashKeyed) expr("array_sort(transform(s, x -> x.g))")
       else expr("transform(s, x -> x.g)")).as("ea"), col("n").as("n_eval"))
    // evalArr is BROADCAST: the eval side is small by the same
    // contract that already broadcasts its full gram set above, and
    // broadcasting the per-eval-doc arrays means the candidate-pair
    // stream — the side that grows with corpus density — never
    // reshuffles after its train_id aggregation (A/B'd vs the shuffle
    // join: mean 4.18 s vs 4.45 s for q58+q84 combined at sf0.1).
    trainArr.join(broadcast(cand), "train_id")
      .join(broadcast(evalArr), "eval_id")
      .withColumn("n_shared",
        (if (hashKeyed) graft.plans.SortedIntersectSize(col("ta"), col("ea")).cast("long")
         else size(array_intersect(col("ta"), col("ea"))).cast("long")))
      .withColumn("containment",
        round(col("n_shared").cast("double") / col("n_eval"), 6))
      .filter(col("containment") >= tau)
      .select("eval_id", "train_id", "n_shared", "containment")
  }

  /** q28's MinHash near-dup join, pre-sort (PlanShapeSpec pins its
    * candidate-generation shape here — the trailing rangeSorted
    * checkpoint hides it from the registered query's plan):
    * hashed-shingle space end to end (one md5 per shingle; verify runs
    * on compact int arrays, not strings), ONE signature aggregate
    * (distinct-hash set + all k permuted minhashes — min is
    * duplicate-insensitive), r-row band buckets ([[MinhashR]] ×
    * [[MinhashB]] — see the parameter scaladoc for why r = 1 is a
    * corpus²-shaped trap) by PRE-AGGREGATION rather than a self-join
    * (singleton buckets die before any pair materializes), then the
    * exact Jaccard size bound (J <= min(n_a,n_b)/max(n_a,n_b) — never
    * rejects a qualifying pair) on two int columns before the array
    * verify.
    * The signature checkpoint is EAGER: the verify join-backs read it
    * from broadcast-exchange threads, which run before a lazy
    * checkpoint materializes and would recompute the shingle+md5
    * subtree once each. */
  private[graft] def minhashPairs(u: DataFrame): DataFrame = {
    val shr = shingleRows(u, 3, dedup = false) // sig aggs are dup-insensitive
      .withColumn("h31", TextOps.hash60(col("t")).bitwiseAND(lit(2147483647L)))
    val sig = shr.groupBy(col("doc_id"))
      // sort_array: the verify below runs the codegen'd two-pointer
      // merge over each candidate pair, so each doc's set is sorted
      // once here instead of hashed per pair there.
      .agg(sort_array(collect_set(col("h31"))).as("h31s"),
        MinhashParams.zipWithIndex.map { case ((a, b), j) =>
          min((lit(a) * col("h31") + lit(b)) % MinhashP).as(s"m$j")
        }: _*)
      .checkpointed()
    val mh = sig.select(col("doc_id"), explode(array(
        (0 until MinhashB).map(i =>
          struct(lit(i).as("seed"), array((0 until MinhashR).map(t =>
            col(s"m${i * MinhashR + t}")): _*).as("minhash"))): _*)).as("sm"))
      .select(col("doc_id"), col("sm.seed").as("seed"), col("sm.minhash").as("minhash"))
    val cand = mh.groupBy(col("seed"), col("minhash"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val sizes = sig.select(col("doc_id"), size(col("h31s")).as("n"))
    val candSized = cand
      .join(sizes.select(col("doc_id").as("id_a"), col("n").as("n_a")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("n").as("n_b")), "id_b")
      .filter(least(col("n_a"), col("n_b")).cast("double") >=
        greatest(col("n_a"), col("n_b")) * lit(JaccardThresh - 1e-6))
      .select("id_a", "id_b")
    // Broadcast the size-bounded CANDIDATES and stream the signature
    // arrays (same direction flip as jaccardSelfJoin's verify): the
    // full h31s sets are the big side, so this builds one array
    // broadcast instead of two and runs the intersect/union stage on
    // the signature checkpoint's partitions.
    sig.select(col("doc_id").as("id_a"), col("h31s").as("sh_a"))
      .join(broadcast(candSized), "id_a")
      .join(sig.select(col("doc_id").as("id_b"), col("h31s").as("sh_b")), "id_b")
      // |A ∪ B| = |A| + |B| − |A ∩ B| on the distinct sets, so ONE
      // sorted merge replaces both the intersect and union hash builds.
      .withColumn("ni",
        graft.plans.SortedIntersectSize(col("sh_a"), col("sh_b")))
      .withColumn("jaccard",
        round(col("ni").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("ni")), 6))
      .filter(col("jaccard") >= JaccardThresh)
      .select("id_a", "id_b", "jaccard")
  }

  /** q32's SimHash near-dup join, pre-sort (PlanShapeSpec pins shape
    * here, as with [[minhashPairs]]): 60-bit signatures via the
    * codegen'd vote aggregate, 4×15-bit band buckets, Hamming verify.
    * The signature frame is checkpointed because BOTH sides of the
    * band self-join read it and the aliased projections defeat
    * exchange reuse — without it the shingle+vote subtree (the
    * dominant cost) computes twice. */
  private[graft] def simhashPairs(u: DataFrame): DataFrame = {
    val banded = simhashBands(simhashSigs(u).checkpointed(false))
    val cand = banded.select(col("band_id"), col("band_val"),
        col("doc_id").as("id_a"), col("sig").as("sig_a"))
      .join(banded.select(col("band_id"), col("band_val"),
        col("doc_id").as("id_b"), col("sig").as("sig_b")),
        Seq("band_id", "band_val"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "sig_a", "id_b", "sig_b").distinct()
    cand
      .withColumn("hamming",
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long"))
      .filter(col("hamming") <= HammingThresh)
      .select("id_a", "id_b", "hamming")
  }

  /** q84's bloom-prefiltered decontamination, pre-sort (PlanShapeSpec
    * reads the shape here — the trailing rangeSorted
    * checkpoint hides it from the registered query's plan): distinct
    * hashed eval 6-grams feed one driver-side binary sketch; the TRAIN
    * side is probed with might_contain BEFORE its dedup exchange, so
    * the sketch kills non-candidate grams map-side and only survivors
    * cross the wire; the exact join then restores bit-identical
    * containment results. The containment itself runs through
    * [[containmentJoin]] (the hot-gram-guarded engine): the bloom is
    * the map-side prefilter that kills the cold bulk of the raw train
    * gram stream BEFORE any exchange; the engine's exact eval-gram
    * semi-join + prefix guard handles everything that survives,
    * including the bloom's false positives. */
  private[graft] def bloomDecontamPairs(evalDocs: DataFrame, train: DataFrame): DataFrame = {
    import graft.functions.BloomOps
    // Distinct hashed 6-grams, eval side (join key = the compact long).
    // Lazy checkpoint: the bloom build below is an action and
    // materializes it — one job instead of two; every later consumer
    // (including broadcast threads) reads the then-materialized blocks.
    val eg = shingleRows(evalDocs, 6)
      .select(col("doc_id").as("eval_id"), TextOps.hash60(col("t")).as("g"))
      .distinct()
      .checkpointed(false)
    // One binary sketch row crosses the driver; the corpus does not.
    val bloom = BloomOps.build(eg, "g", estimatedItems = 1 << 18)
    // Numbered repartition: AQE would coalesce a column-only one back
    // to ~1 partition at this data size, serializing the shingling.
    val tg = shingleRows(train.repartition(
        train.sparkSession.sparkContext.defaultParallelism, col("doc_id")), 6, dedup = false)
      .select(col("doc_id").as("train_id"), TextOps.hash60(col("t")).as("g"))
      .filter(BloomOps.mightContain(bloom, col("g")))
    containmentJoin(eg, tg, ContamThresh)
  }

  /** Blocking edges: two normalization keys per doc (content md5 and
    * md5 minus the leading token — a drop-a-token chain collides on
    * adjacent keys), bucket pre-aggregation (identical plan shape to
    * q28's band buckets — singleton buckets die before any pair
    * exists), pairs only within a bucket. Checkpointed: the CC loop
    * re-reads the edge list every round. private[graft]: q114's
    * cross-modal manifest unions these text edges with q104's phash
    * edges over one id space. */
  /** One `(item, n)` audit row: the takedown family's shared count-row
    * shape (q122 here, q125 in CurationQueries) — ONE definition so the
    * two audit frames can never diverge in naming or typing. */
  private[graft] def auditItem(name: String, df: DataFrame): DataFrame =
    df.agg(count(lit(1)).as("n")).select(lit(name).as("item"), col("n"))

  private[graft] def blockingEdges(u: DataFrame): DataFrame =
    u.select(col("doc_id"), explode(array(
        md5(col("text")), md5(dropFirstTok(col("text"))))).as("k"))
      .groupBy(col("k"))
      .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(col("ids")).as("a"), col("ids"))
      .select(col("a"), explode(col("ids")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .checkpointed()

  /** Distributed connected components over `(a, b)` edges by
    * alternating large-star / small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC 2014): each
    * round hangs every node's neighborhood off its minimum, halving
    * component depth, so rounds grow ~log(n) — NOT with component
    * diameter like min-label propagation, whose per-hop
    * propagation made a long drop-a-token dup chain exceed any fixed
    * round cap. Both star steps are equi-joins + min-aggregates keyed
    * on the vertex id; no step ever materializes a component as one
    * row. Per-round checkpoints truncate the iterative lineage and give
    * the convergence check an action to ride on.
    *
    *  - LARGE-STAR (on the symmetrized edge set): for each u with
    *    m = min(N(u) ∪ {u}), re-hang every neighbor v > u onto m, and
    *    keep (u, m) so u itself stays attached. Every new edge links
    *    two nodes of u's component, and for any old edge (u, v) both
    *    endpoints still reach m — connectivity is exactly preserved.
    *  - SMALL-STAR (on the larger→smaller orientation): for each u,
    *    re-hang its smaller neighbors (and u) onto m = min of them.
    *    Same preservation argument.
    *  - Fixpoint: every component is a star oriented child → minimum;
    *    detected as an unchanged oriented edge set (one signed
    *    symmetric-difference aggregate per round, which doubles as the
    *    round's checkpoint-materialization job — the driver-latency-
    *    sensitive part of an iterative algorithm is the job count, so
    *    each round makes exactly one round-trip). A graph that has not
    *    converged inside the cap FAILS loudly (a partially-contracted
    *    labeling would silently diverge from the recursive-CTE oracle).
    *
    * Returns `(id, lbl)` for every vertex of `edges`, lbl = component
    * minimum. */
  private[graft] def connectedComponents(edges: DataFrame, maxRounds: Int = 50,
      tag: String): DataFrame = {
    // Read once at the end — no checkpoint job of its own (its lineage
    // is the caller's already-checkpointed edge frame).
    val verts = edges.select(col("a").as("id"))
      .union(edges.select(col("b").as("id"))).distinct()
    // Canonical orientation (larger, smaller), self-loops dropped.
    // Lazy checkpoint: materializes under the first round's count job.
    // CALLER CONTRACT: `edges` must not be a multi-child Union plan —
    // checkpoint a union of edge sets first (q114 does). Spark 4.1's
    // Dataset.checkpoint computes the plan's constraints up front, and
    // a Union input's constraint set flows into the round plans where
    // the self-union's rewrite throws "key not found: u#…" on an
    // attribute the deduplicated second branch no longer outputs; an
    // RDD-scan edge frame (what every caller passes) never trips it.
    var cur = edges
      .select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .checkpointed(false)
    var rounds = 0
    var done = cur.count() == 0L // also materializes the lazy checkpoint
    while (!done && rounds < maxRounds) {
      // Intermediate edge frames are NOT distinct'd: every consumer is
      // either a min-aggregate (duplicate-insensitive) or feeds the
      // round's final distinct, so the two extra per-round shuffles a
      // canonical form would cost buy nothing. Only `next` must be
      // canonical — the convergence compare needs set equality.
      val sym = cur.union(cur.select(col("v").as("u"), col("u").as("v")))
      val mL = sym.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val ls = sym.join(mL, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(mL.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
      val lsSym = ls.union(ls.select(col("v").as("u"), col("u").as("v")))
      val low = lsSym.filter(col("v") < col("u"))
      val mS = low.groupBy("u").agg(min("v").as("m"))
      val next = low.join(mS, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .union(mS.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v")).distinct() // (u, v) with v < u by construction
        .checkpointed(false) // materialized by the convergence job below
      rounds += 1
      // ONE driver round-trip per CHECK: the symmetric-difference
      // aggregate's map side scans every partition of `next` (fully
      // materializing its — and, on a skipped round, its predecessor's
      // — lazy checkpoint) AND of `cur`, and its result is the
      // convergence test — replacing the count-then-confirming-
      // anti-join pair. Both inputs are distinct sets, so a per-(u,v)
      // signed sum is 0 exactly when the edge sets are equal; map-side
      // partial aggregation keeps the exchange at edge-count rows.
      // The check runs every SECOND round (and at the cap): the
      // driver-latency-sensitive part of an iterative algorithm is the
      // job count, and star contraction converges in ~log n rounds, so
      // a graph converging at an odd round pays one extra cheap
      // contraction of an already-star graph instead of every graph
      // paying a check job per round. Comparing next to its IMMEDIATE
      // predecessor stays the correct fixpoint test either way.
      if (rounds % 2 == 0 || rounds == maxRounds) {
        done = next.select(col("u"), col("v"), lit(1L).as("w"))
          .unionAll(cur.select(col("u"), col("v"), lit(-1L).as("w")))
          .groupBy("u", "v").agg(sum(col("w")).as("s"))
          .filter(col("s") =!= 0L)
          .isEmpty
      }
      cur = next
    }
    if (!done)
      throw new IllegalStateException(
        s"$tag: star contraction did not converge in $maxRounds rounds " +
          "— raise the round cap")
    // Stars: each non-root has exactly one edge to its root; roots and
    // isolated vertices label themselves.
    verts
      .join(cur.groupBy("u").agg(min("v").as("root"))
        .select(col("u").as("id"), col("root")), Seq("id"), "left")
      .select(col("id"), coalesce(col("root"), col("id")).as("lbl"))
  }

  /** Universal-hash permutation constants for MinHash: minhash_j =
    * (a_j·h31 + b_j) mod p over h31 = hash60(t) & (2^31−1). One md5 per
    * shingle total (not per seed) — the k permutations are integer ops.
    * a_j < 2^21 keeps a·h31 < 2^52, overflow-safe in both engines. */
  private val MinhashP = 2147483647L

  /** Banded MinHash-LSH shape: `MinhashB` bands of `MinhashR` rows —
    * a candidate pair must match on ALL `MinhashR` minhashes of some
    * band, so P(candidate) = 1 − (1 − J^r)^b: ≈ 1 for the planted
    * near-dups (J ≈ 0.92 → miss ≈ 2e−5) and ≈ 0 for dissimilar docs.
    * r = 1 (any shared minhash) is NOT scale-safe on template-heavy
    * corpora: one frequent shingle whose permuted hash lands globally
    * small becomes the argmin of every doc containing it, and the
    * 10× probe measured a 3,927-doc bucket → 7.7M candidate pairs →
    * 406× shuffle growth on 10× input.
    * With r = 5 the same corpus yields a 173-doc max bucket and 169k
    * candidates — sublinear vs 75k at 1×. Parameters follow the
    * production MinHash-LSH convention (e.g. Leskovec et al., Mining
    * of Massive Datasets §3.4). */
  private[graft] val MinhashR = 5
  private[graft] val MinhashB = 10

  /** 50 affine permutations (a·h + b) mod p: a = consecutive primes
    * ≥ 1000003 (a < 2^21 keeps a·h31 < 2^52, overflow-safe in both
    * engines), b = 7 + 131·j. */
  private val MinhashParams: Seq[(Long, Long)] = Seq(
    (1000003L, 7L), (1000033L, 138L), (1000037L, 269L), (1000039L, 400L), (1000081L, 531L),
    (1000099L, 662L), (1000117L, 793L), (1000121L, 924L), (1000133L, 1055L), (1000151L, 1186L),
    (1000159L, 1317L), (1000171L, 1448L), (1000183L, 1579L), (1000187L, 1710L), (1000193L, 1841L),
    (1000199L, 1972L), (1000211L, 2103L), (1000213L, 2234L), (1000231L, 2365L), (1000249L, 2496L),
    (1000253L, 2627L), (1000273L, 2758L), (1000289L, 2889L), (1000291L, 3020L), (1000303L, 3151L),
    (1000313L, 3282L), (1000333L, 3413L), (1000357L, 3544L), (1000367L, 3675L), (1000381L, 3806L),
    (1000393L, 3937L), (1000397L, 4068L), (1000403L, 4199L), (1000409L, 4330L), (1000423L, 4461L),
    (1000427L, 4592L), (1000429L, 4723L), (1000453L, 4854L), (1000457L, 4985L), (1000507L, 5116L),
    (1000537L, 5247L), (1000541L, 5378L), (1000547L, 5509L), (1000577L, 5640L), (1000579L, 5771L),
    (1000589L, 5902L), (1000609L, 6033L), (1000619L, 6164L), (1000621L, 6295L), (1000639L, 6426L))

  /** q68/q120's shared append batch: every 4th doc — verbatim (%12),
    * first token dropped (%8), or token-reversed (reversal destroys
    * every shingle, so those must come out 'new'). */
  private def appendTriageBatch(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(s, dir, "documents").select("doc_id", "text")
    base.filter(col("doc_id") % 4 === 0)
      .select((col("doc_id") + 90000).as("doc_id"),
        when(col("doc_id") % 12 === 0, col("text"))
          .when(col("doc_id") % 8 === 0, dropFirstTok(col("text")))
          .otherwise(concat_ws(" ", reverse(TextOps.tokens(col("text")))))
          .as("text"))
  }

  /** q68's oracle, shared VERBATIM by q120 (the same triage drained as
    * an AvailableNow stream): stream ≡ batch is q120's hash gate. */
  private def appendTriageOracleSql: String = {
    val toks = TextOps.tokensSql("text")
    s"""WITH batch AS (SELECT doc_id + 90000 AS doc_id,
       |         CASE WHEN doc_id % 12 = 0 THEN text
       |              WHEN doc_id % 8 = 0 THEN $dropFirstTokSql
       |              ELSE list_aggregate(list_reverse($toks), 'string_agg', ' ') END AS text
       |       FROM documents WHERE doc_id % 4 = 0),
       |  ex AS (SELECT bh.doc_id, COUNT(*) AS exact_n
       |         FROM (SELECT doc_id, md5(text) AS h FROM batch) bh
       |         JOIN (SELECT md5(text) AS h FROM documents) ih USING (h)
       |         GROUP BY 1),
       |  u AS (SELECT 'idx' AS side, doc_id, text FROM documents
       |        UNION ALL SELECT 'new', doc_id, text FROM batch),
       |  ${simhashCtesSql("u", "side, ", "sg")},
       |  bands AS (SELECT side, doc_id, sig, b.band_id,
       |              (sig >> (b.band_id * 15)) & 32767 AS band_val
       |            FROM sg, (SELECT unnest(range(0, 4)) AS band_id) b),
       |  nearm AS (SELECT n.doc_id, COUNT(DISTINCT i.doc_id) AS near_n
       |            FROM bands n JOIN bands i
       |              ON n.band_id = i.band_id AND n.band_val = i.band_val
       |            WHERE n.side = 'new' AND i.side = 'idx'
       |              AND CAST(bit_count(xor(n.sig, i.sig)) AS BIGINT) <= $HammingThresh
       |            GROUP BY 1)
       |SELECT b.doc_id,
       |  CASE WHEN COALESCE(ex.exact_n, 0) > 0 THEN 'exact_dup'
       |       WHEN COALESCE(nm.near_n, 0) > 0 THEN 'near_dup'
       |       ELSE 'new' END AS verdict,
       |  CASE WHEN COALESCE(ex.exact_n, 0) > 0 THEN ex.exact_n
       |       ELSE COALESCE(nm.near_n, 0) END AS n_matches
       |FROM batch b
       |LEFT JOIN ex ON ex.doc_id = b.doc_id
       |LEFT JOIN nearm nm ON nm.doc_id = b.doc_id
       |ORDER BY b.doc_id""".stripMargin
  }

  val all: Seq[NamedQuery] = Seq(

    // ----- X3 exact: hash-groupBy dedup with provenance. Planted: every
    // 7th doc duplicated verbatim under id+20000 — those groups must show
    // n_copies=2 and keep the original (lowest) id.
    q("q27_exact_dedup",
      "X3: exact dedup by content hash, keep-lowest-id, copy counts",
      s"""WITH u AS (${plantedSql(7, 20000, "text")})
         |SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id,
         |       COUNT(*) AS n_copies
         |FROM u GROUP BY 1 ORDER BY keep_id""".stripMargin) { (s, dir) =>
      val base = Tables.load(s, dir, "documents").select("doc_id", "text")
      withPlanted(base, 7, 20000, identity)
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .rangeSorted("keep_id") // md5 groupBy child runs once, not twice
    },

    // ----- X3 MinHash: shingle → minhash → banded-bucket join →
    // Jaccard verify. Bands are MinhashR-minhash tuples (r=5, b=10 —
    // the production LSH shape; see MinhashR's scaladoc for the probe
    // evidence that r=1 buckets 70% of a template-heavy corpus);
    // candidates are DISTINCT (id_a, id_b) pairs sharing a FULL band —
    // the shuffle key is (band, r-tuple), so work scales with genuine
    // similarity collisions, not with corpus².
    q("q28_minhash_pairs",
      "X3: MinHash banded-LSH candidates (r=5, b=10) + exact Jaccard verify",
      {
        val ms = MinhashParams.zipWithIndex.map { case ((a, b), j) =>
          s"list_min(list_transform(h31s, h -> ($a * h + $b) % $MinhashP)) AS m$j"
        }.mkString(",\n           |              ")
        val bands = (0 until MinhashB).map { i =>
          val key = (0 until MinhashR).map(t => s"m${i * MinhashR + t}").mkString(", ")
          s"SELECT $i AS band, [$key] AS key, doc_id FROM mh"
        }.mkString("\n           |              UNION ALL ")
        s"""WITH u AS (${plantedSql(10, 10000, dropFirstTokSql)}),
           |     sh AS (SELECT doc_id,
           |              list_transform(${shinglesSql(TextOps.tokensSql("text"))},
           |                t -> ${TextOps.hash60Sql("t")} & 2147483647) AS h31s
           |            FROM u),
           |     mh AS (SELECT doc_id,
           |              $ms
           |            FROM sh),
           |     bands AS ($bands),
           |     cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |              FROM bands a JOIN bands b
           |                ON a.band = b.band AND a.key = b.key
           |                 AND a.doc_id < b.doc_id)
           |SELECT id_a, id_b, jaccard FROM (
           |  SELECT id_a, id_b,
           |    ROUND(CAST(len(list_intersect(sa.h31s, sb.h31s)) AS DOUBLE) /
           |          len(list_distinct(list_concat(sa.h31s, sb.h31s))), 6) AS jaccard
           |  FROM cand
           |  JOIN sh sa ON sa.doc_id = id_a
           |  JOIN sh sb ON sb.doc_id = id_b)
           |WHERE jaccard >= $JaccardThresh
           |ORDER BY id_a, id_b""".stripMargin
      }) { (s, dir) =>
      val base = Tables.load(s, dir, "documents").select("doc_id", "text")
      // The corpus lands as ONE parquet row group → one partition; the
      // md5-per-shingle stage is the query's dominant compute, so the
      // shared frame spreads it across the cluster first (at real scale
      // the file layout provides the parallelism, the exchange is free).
      preSortFrames("q28_minhash_pairs")(base)
        .rangeSorted("id_a", "id_b") // verify child runs once, not twice
    },

    // ----- X3 SimHash: 60-bit signature, 4×15-bit bands for candidate
    // buckets, Hamming verify. Near-identical docs differ in a few bits,
    // so at least one 15-bit band collides (pigeonhole for d<4 flips;
    // planted single-token drops flip well under 15 bits).
    q("q32_simhash_bands",
      "X3: SimHash band-bucket candidates + Hamming-distance verify",
      s"""WITH u AS (${plantedSql(9, 30000, dropFirstTokSql)}),
         |     ${simhashCtesSql("u", "", "sg")},
         |     bands AS (SELECT doc_id, sig, b.band_id,
         |                 (sig >> (b.band_id * 15)) & 32767 AS band_val
         |               FROM sg, (SELECT unnest(range(0, 4)) AS band_id) b),
         |     cand AS (SELECT DISTINCT a.doc_id AS id_a, a.sig AS sig_a,
         |                              b.doc_id AS id_b, b.sig AS sig_b
         |              FROM bands a JOIN bands b
         |                ON a.band_id = b.band_id AND a.band_val = b.band_val
         |                 AND a.doc_id < b.doc_id)
         |SELECT id_a, id_b, hamming FROM (
         |  SELECT id_a, id_b, CAST(bit_count(xor(sig_a, sig_b)) AS BIGINT) AS hamming FROM cand)
         |WHERE hamming <= $HammingThresh
         |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      val base = Tables.load(s, dir, "documents").select("doc_id", "text")
      preSortFrames("q32_simhash_bands")(base)
        .rangeSorted("id_a", "id_b") // band-join child runs once, not twice
    },

    // ----- X3 (cross-corpus): train/eval CONTAMINATION detection — the
    // decontamination sweep every training-data pipeline runs before a
    // corpus ships. Every 50th doc plays the eval set; the train corpus
    // is the base plus PLANTED near-copies of eval docs (first token
    // dropped, id+40000). A train doc is contaminated when it contains
    // ≥ half of an eval doc's distinct word-8-grams (the industry-usual
    // n-gram containment test). Runs through the hot-gram-guarded
    // [[containmentJoin]] engine — the eval gram set broadcasts
    // (eval corpora are small by contract), the train stream is read
    // once and never shuffled, and boilerplate grams hot on BOTH sides
    // generate zero candidates via the train-df prefix bound. At
    // 100 TB the join key becomes the n-gram HASH; same plan shape.
    q("q58_contamination",
      "X3: train/eval 8-gram containment (decontamination sweep)",
      s"""WITH ev AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0),
         |     train AS (SELECT doc_id, text FROM documents
         |               UNION ALL
         |               SELECT doc_id + 40000, $dropFirstTokSql FROM documents
         |               WHERE doc_id % 50 = 0),
         |     eg AS (SELECT doc_id AS eval_id, unnest(${ngramsSql(TextOps.tokensSql("text"), 8)}) AS t FROM ev),
         |     tg AS (SELECT doc_id AS train_id, unnest(${ngramsSql(TextOps.tokensSql("text"), 8)}) AS t FROM train),
         |     shared AS (SELECT eval_id, train_id, COUNT(*) AS n_shared
         |                FROM eg JOIN tg USING (t)
         |                WHERE eval_id <> train_id
         |                GROUP BY 1, 2),
         |     totals AS (SELECT eval_id, COUNT(*) AS n_eval FROM eg GROUP BY 1)
         |SELECT s.eval_id, s.train_id, s.n_shared,
         |       ROUND(CAST(s.n_shared AS DOUBLE) / t.n_eval, 6) AS containment
         |FROM shared s JOIN totals t USING (eval_id)
         |WHERE ROUND(CAST(s.n_shared AS DOUBLE) / t.n_eval, 6) >= $ContamThresh
         |ORDER BY eval_id, train_id""".stripMargin) { (s, dir) =>
      val base = Tables.load(s, dir, "documents").select("doc_id", "text")
      preSortFrames("q58_contamination")(base)
        .rangeSorted("eval_id", "train_id") // containment child runs once
    },

    // ----- X3 (cluster resolution): near-dup PAIRS are not the end of a
    // dedup pipeline — transitive copies (A≈B, B≈C but A,C share no key)
    // must land in ONE cluster so exactly one canonical doc survives.
    // Candidate edges come from multi-key normalization blocking (md5 of
    // the text and of the text minus its leading token — a drop-a-token
    // chain collides on adjacent keys), then distributed CONNECTED
    // COMPONENTS by iterative min-label propagation: each round is one
    // equi-join + one min-aggregate, both keyed on the vertex id, and the
    // round count grows with component DIAMETER, not corpus size — the
    // driver loop is the same shape GraphX Pregel runs. At 100 TB the
    // edge list shuffles once per round and dup components stay tiny, so
    // rounds ≈ 2-3; star-contraction variants cut worst cases to log n.
    // Planted: every 25th doc re-appears minus its first token
    // (id+40000), every 50th additionally minus two tokens (id+80000) —
    // the {A,B,C} chains are grouped only by the transitive closure.
    q("q59_dup_clusters",
      "X3: multi-key blocking + connected-components dup clusters",
      s"""WITH RECURSIVE
         |  u AS (SELECT doc_id, text FROM documents
         |        UNION ALL
         |        SELECT doc_id + 40000, $dropFirstTokSql FROM documents WHERE doc_id % 25 = 0
         |        UNION ALL
         |        SELECT doc_id + 80000, ${dropFirstTokSql.replace("text", dropFirstTokSql)}
         |        FROM documents WHERE doc_id % 50 = 0),
         |  keys AS (SELECT doc_id, unnest([md5(text), md5($dropFirstTokSql)]) AS k FROM u),
         |  e AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
         |        FROM keys a JOIN keys b USING (k) WHERE a.doc_id <> b.doc_id),
         |  walk(id, r) AS (
         |    SELECT DISTINCT a, a FROM e
         |    UNION
         |    SELECT e.b, w.r FROM walk w JOIN e ON e.a = w.id),
         |  comp AS (SELECT id, MIN(r) AS cluster_id FROM walk GROUP BY id),
         |  sizes AS (SELECT cluster_id, COUNT(*) AS n_members FROM comp GROUP BY 1)
         |SELECT c.cluster_id, c.id AS doc_id, s.n_members
         |FROM comp c JOIN sizes s USING (cluster_id)
         |ORDER BY cluster_id, doc_id""".stripMargin) { (s, dir) =>
      val base = Tables.load(s, dir, "documents").select("doc_id", "text")
      val u = base
        .unionAll(base.filter(col("doc_id") % 25 === 0)
          .select((col("doc_id") + 40000).as("doc_id"),
            dropFirstTok(col("text")).as("text")))
        .unionAll(base.filter(col("doc_id") % 50 === 0)
          .select((col("doc_id") + 80000).as("doc_id"),
            dropFirstTok(dropFirstTok(col("text"))).as("text")))
      val edges = blockingEdges(u)
      val labels = connectedComponents(edges, tag = "q59")
      val sizes = labels.groupBy(col("lbl")).agg(count(lit(1)).as("n_members"))
      labels.join(sizes, "lbl")
        .select(col("lbl").as("cluster_id"), col("id").as("doc_id"),
          col("n_members"))
        .orderBy("cluster_id", "doc_id")
    },

    // ----- X3 (incremental): dedup-on-APPEND — the standing-corpus
    // operation: an incoming batch is triaged against the existing
    // index as exact_dup (content hash), near_dup (SimHash band
    // candidates + Hamming verify, batch-vs-index only — never
    // index-vs-index), or new. In production the index side's md5s and
    // signatures are a PERSISTED table maintained by earlier appends
    // (the plan shape below simply reads it); only the batch pays the
    // signature compute, and both probes are equi-joins keyed by hash /
    // (band, band_val), so the append cost scales with the batch, not
    // the corpus. Batch: every 4th doc — verbatim (%12), first token
    // dropped (%8), or token-reversed (reversal destroys every shingle,
    // so those must come out 'new').
    q("q68_incremental_dedup",
      "X3: batch-vs-index append triage (exact / near / new)",
      appendTriageOracleSql) { (s, dir) =>
      val indexPath = graft.pipeline.DedupIndex.prepared(s, dir)
      val batchSigs = graft.pipeline.DedupIndex.signatures(appendTriageBatch(s, dir))
        .checkpointed(false) // exact probe, band probe, and verdict all read it
      graft.pipeline.DedupIndex.triage(s, indexPath, batchSigs)
        .orderBy("doc_id") // triage child is index-scan joins: cheap resample
    },

    // ----- T6 + X3 (streaming): STREAMING dedup-on-append — q68's
    // batch-vs-index triage drained as an AvailableNow stream: the
    // append batch lands as parquet files, maxFilesPerTrigger=1 forces
    // ≥2 micro-batches, and foreachBatch runs the IDENTICAL triage
    // (batch signatures → exact-hash probe + SimHash band probe against
    // the persisted index) on each micro-batch as an ordinary batch
    // plan. NO streaming state: the triage compares batch docs against
    // the PERSISTED index only — never batch-vs-batch — so each doc's
    // verdict derives from its own text plus the index, rows are
    // self-contained, and micro-batch boundaries cannot change any
    // verdict (the q118 stateless-ingest argument applied to X3). The
    // oracle is q68's, verbatim: stream ≡ batch IS the hash gate. At
    // 100 TB this is the admission filter in front of the corpus store:
    // catch-up over any backlog is just more batches, each paying
    // O(its own docs) signature compute + index-keyed equi-join probes.
    q("q120_stream_triage",
      "T6+X3: streaming dedup-on-append (q68's triage via foreachBatch, stateless)",
      appendTriageOracleSql) { (s, dir) =>
      val indexPath = graft.pipeline.DedupIndex.prepared(s, dir)
      val batch = appendTriageBatch(s, dir)
      val root = graft.TempDirs.fresh("q120")
      val target = new Drain.Target(Drain.targetDir(root))
      val sink = Drain.appendEach(target) { b =>
        graft.pipeline.DedupIndex.triage(s, indexPath,
          graft.pipeline.DedupIndex.signatures(b).checkpointed(false))
      }
      // Two files → two micro-batches.
      Drain.split(root, batch, 2)(sink)
      target.read(s).orderBy("doc_id")
    },

    // ----- X3/X4+ GOVERNANCE: TAKEDOWN — purge a removal list from the
    // PERSISTED artifacts, the pass a production corpus store runs for
    // takedown requests / right-to-be-forgotten: every derived artifact
    // that carries a removed doc's signature must drop it, and the
    // store must afterwards treat re-submitted content as if it had
    // never been seen. Removal list: doc_id % 37 = 0 (and the paired
    // vectors, vec_id % 37 = 0). Three outputs in one audit frame:
    //  1. dedup-index rewrite audit (rows before / removed / after) —
    //     the engine counts the PERSISTED table's actual rows, the
    //     oracle counts the corpus, so the gate doubles as the
    //     one-row-per-doc artifact-shape proof;
    //  2. the same for the IVF-PQ packed codes (one row per vector);
    //  3. the RE-ADMISSION proof: the post-takedown index is published
    //     (anti-join rewrite, written like production would) and the
    //     removed docs' texts re-triage against it — per-verdict
    //     counts. 'new' = truly forgotten; 'exact/near_dup' = a
    //     surviving doc carries the same or near content (takedown of
    //     one copy does not forget content that other docs still
    //     carry — the honest semantics, counted not hidden).
    // SCALE: the rewrite is one anti-join/filter over each artifact
    // (never touches raw text), audits are count aggregates, and the
    // re-triage pays O(removal list) — q68's append shape with the
    // batch being the removed docs.
    q("q122_takedown",
      "X3/X4+ governance: takedown — purge a removal list from the persisted artifacts, audit the rewrite, prove re-admission",
      {
        s"""WITH u AS (SELECT 'idx' AS side, doc_id, text FROM documents
           |             WHERE doc_id % 37 <> 0
           |           UNION ALL
           |           SELECT 'new', doc_id, text FROM documents
           |             WHERE doc_id % 37 = 0),
           |  ex AS (SELECT bh.doc_id, COUNT(*) AS exact_n
           |         FROM (SELECT doc_id, md5(text) AS h FROM u WHERE side = 'new') bh
           |         JOIN (SELECT md5(text) AS h FROM u WHERE side = 'idx') ih USING (h)
           |         GROUP BY 1),
           |  ${simhashCtesSql("u", "side, ", "sg")},
           |  bands AS (SELECT side, doc_id, sig, b.band_id,
           |              (sig >> (b.band_id * 15)) & 32767 AS band_val
           |            FROM sg, (SELECT unnest(range(0, 4)) AS band_id) b),
           |  nearm AS (SELECT n.doc_id, COUNT(DISTINCT i.doc_id) AS near_n
           |            FROM bands n JOIN bands i
           |              ON n.band_id = i.band_id AND n.band_val = i.band_val
           |            WHERE n.side = 'new' AND i.side = 'idx'
           |              AND CAST(bit_count(xor(n.sig, i.sig)) AS BIGINT) <= $HammingThresh
           |            GROUP BY 1),
           |  verd AS (SELECT b.doc_id,
           |             CASE WHEN COALESCE(ex.exact_n, 0) > 0 THEN 'exact_dup'
           |                  WHEN COALESCE(nm.near_n, 0) > 0 THEN 'near_dup'
           |                  ELSE 'new' END AS verdict
           |           FROM (SELECT doc_id FROM u WHERE side = 'new') b
           |           LEFT JOIN ex ON ex.doc_id = b.doc_id
           |           LEFT JOIN nearm nm ON nm.doc_id = b.doc_id),
           |  vcounts AS (SELECT 'retriage_' || verdict AS item, COUNT(*) AS n
           |              FROM verd GROUP BY 1),
           |  audit AS (
           |    SELECT 'dedup_index_before' AS item, COUNT(*) AS n FROM documents
           |    UNION ALL SELECT 'dedup_index_removed', COUNT(*)
           |      FROM documents WHERE doc_id % 37 = 0
           |    UNION ALL SELECT 'dedup_index_after', COUNT(*)
           |      FROM documents WHERE doc_id % 37 <> 0
           |    UNION ALL SELECT 'ivfpq_codes_before', COUNT(*) FROM embeddings
           |    UNION ALL SELECT 'ivfpq_codes_removed', COUNT(*)
           |      FROM embeddings WHERE vec_id % 37 = 0
           |    UNION ALL SELECT 'ivfpq_codes_after', COUNT(*)
           |      FROM embeddings WHERE vec_id % 37 <> 0)
           |SELECT item, n FROM (SELECT * FROM audit UNION ALL SELECT * FROM vcounts)
           |ORDER BY item""".stripMargin
      }) { (s, dir) =>
      val idx = Tables.read(s, graft.pipeline.DedupIndex.prepared(s, dir))
      val pq = Tables.read(s,
        graft.operators.SimilarityQueries.ivfPqIndexPrepared(s, dir))
      // Publish the post-takedown state of BOTH artifacts (production
      // rewrites them; readers must never see purged rows), then audit
      // with the 'after' row MEASURED from the published table — the
      // reconciliation before == removed + after is a real check of
      // the anti-join rewrite, not re-derived arithmetic.
      val root = graft.TempDirs.fresh("q122")
      idx.filter(col("doc_id") % 37 =!= 0).write.parquet(s"$root/index")
      pq.filter(col("vec_id") % 37 =!= 0).write.parquet(s"$root/codes")
      def item(name: String, df: DataFrame): DataFrame = auditItem(name, df)
      def audit(name: String, before: DataFrame, isRm: Column,
          published: String): DataFrame =
        item(s"${name}_before", before)
          .unionAll(item(s"${name}_removed", before.filter(isRm)))
          .unionAll(item(s"${name}_after",
            s.read.schema(before.schema).parquet(published)))
      // Re-admission proof: the removed docs' texts re-triage against
      // the PUBLISHED post-takedown index.
      val removed = Tables.load(s, dir, "documents")
        .select("doc_id", "text").filter(col("doc_id") % 37 === 0)
      val verdicts = graft.pipeline.DedupIndex
        .triage(s.read.schema(idx.schema).parquet(s"$root/index"),
          graft.pipeline.DedupIndex.signatures(removed).checkpointed(false))
        .groupBy(col("verdict")).agg(count(lit(1)).as("n"))
        .select(concat(lit("retriage_"), col("verdict")).as("item"), col("n"))
      audit("dedup_index", idx, col("doc_id") % 37 === 0, s"$root/index")
        .unionAll(audit("ivfpq_codes", pq, col("vec_id") % 37 === 0, s"$root/codes"))
        .unionAll(verdicts)
        .presented("item")
    },

    // ----- X3 exact n-gram Jaccard: the DETERMINISTIC near-dup tier —
    // no MinHash approximation, guaranteed recall at the τ threshold.
    // Inverted index on the hashed shingle (one shuffle keyed by h),
    // bucket pre-aggregation kills singleton postings before any pair
    // exists. Uncapped, candidate work scales with Σ df(h)² — a single
    // stop-shingle shared by 10⁵ docs would mint 5·10⁹ pairs from one
    // posting list. The guard is [[jaccardSelfJoin]]'s df cap + prefix
    // rescue: hot posting lists never explode, escaped pairs come back
    // through the positional-prefix tier, and per-candidate exact
    // verification keeps the result bit-identical to the uncapped join
    // (DedupLawsSpec proves both laws on a planted hot stop-shingle).
    q("q81_ngram_jaccard",
      "X3: exact n-gram Jaccard near-dup join (inverted index, no approximation)",
      s"""WITH u AS (${plantedSql(11, 50000, dropFirstTokSql)}),
         |     sh AS (SELECT doc_id,
         |              unnest(list_distinct(list_transform(
         |                ${shinglesSql(TextOps.tokensSql("text"))}, t -> ${TextOps.hash60Sql("t")}))) AS h
         |            FROM u),
         |     n AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
         |     pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
         |               FROM sh a JOIN sh b USING (h)
         |               WHERE a.doc_id < b.doc_id
         |               GROUP BY 1, 2)
         |SELECT id_a, id_b, n_shared,
         |       ROUND(CAST(n_shared AS DOUBLE) / (na.n + nb.n - n_shared), 6) AS jaccard
         |FROM pairs
         |JOIN n na ON na.doc_id = id_a
         |JOIN n nb ON nb.doc_id = id_b
         |WHERE ROUND(CAST(n_shared AS DOUBLE) / (na.n + nb.n - n_shared), 6) >= $JaccardThresh
         |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      val base = Tables.load(s, dir, "documents").select("doc_id", "text")
      preSortFrames("q81_ngram_jaccard")(base)
        .rangeSorted("id_a", "id_b") // verify child runs once, not twice
    },

    // ----- X3 (cross-corpus, bloom-accelerated): the SCALE form of the
    // q58 decontamination sweep. The eval side's distinct 6-gram hashes
    // are sketched into a native Bloom filter (one tiny binary row,
    // inlined as a literal — the explicit form of a materialized runtime
    // filter), and might_contain() drops non-matching TRAIN grams
    // map-side BEFORE the join exchange. At 100 TB that pre-filter is
    // the difference between shuffling the full train gram stream and
    // shuffling only grams that can possibly matter. Bloom filters have
    // NO false negatives and the exact equi-join removes the false
    // positives, so the result is bit-identical to the unfiltered sweep
    // — which is exactly what the (bloom-free) oracle checks.
    q("q84_bloom_decontam",
      "X3: bloom-prefiltered 6-gram containment decontamination (exact result)",
      s"""WITH ev AS (SELECT doc_id, text FROM documents WHERE doc_id % 40 = 0),
         |     train AS (SELECT doc_id, text FROM documents
         |               UNION ALL
         |               SELECT doc_id + 60000, $dropFirstTokSql FROM documents
         |               WHERE doc_id % 40 = 0),
         |     eg AS (SELECT doc_id AS eval_id,
         |              unnest(list_distinct(list_transform(
         |                ${ngramsSql(TextOps.tokensSql("text"), 6)}, t -> ${TextOps.hash60Sql("t")}))) AS h
         |            FROM ev),
         |     tg AS (SELECT doc_id AS train_id,
         |              unnest(list_distinct(list_transform(
         |                ${ngramsSql(TextOps.tokensSql("text"), 6)}, t -> ${TextOps.hash60Sql("t")}))) AS h
         |            FROM train),
         |     shared AS (SELECT eval_id, train_id, COUNT(*) AS n_shared
         |                FROM eg JOIN tg USING (h)
         |                WHERE eval_id <> train_id
         |                GROUP BY 1, 2),
         |     totals AS (SELECT eval_id, COUNT(*) AS n_eval FROM eg GROUP BY 1)
         |SELECT s.eval_id, s.train_id, s.n_shared,
         |       ROUND(CAST(s.n_shared AS DOUBLE) / t.n_eval, 6) AS containment
         |FROM shared s JOIN totals t USING (eval_id)
         |WHERE ROUND(CAST(s.n_shared AS DOUBLE) / t.n_eval, 6) >= $ContamThresh
         |ORDER BY eval_id, train_id""".stripMargin) { (s, dir) =>
      val base = Tables.load(s, dir, "documents").select("doc_id", "text")
      preSortFrames("q84_bloom_decontam")(base)
        .rangeSorted("eval_id", "train_id") // containment child runs once
    },

    // ----- X3 (cluster resolution, step 2): CANONICAL SURVIVOR
    // selection — after transitive clusters exist (q59's machinery,
    // shared via connectedComponents), exactly one doc per cluster
    // ships and the rest drop. The survivor rule is INTEGER-
    // deterministic (longest text, then lowest id), so every engine and
    // every retry picks the same winner. Selection is a per-cluster
    // window over the clustered docs only (cluster-sized partitions —
    // dup clusters stay tiny at any corpus scale). Planted: every 20th
    // doc minus one token (id+40000), every 60th additionally minus two
    // (id+80000) — the originals are longest, so they must all survive.
    q("q86_canonical_pick",
      "X3: canonical survivor per dup cluster (longest text, lowest id)",
      s"""WITH RECURSIVE
         |  u AS (SELECT doc_id, text FROM documents
         |        UNION ALL
         |        SELECT doc_id + 40000, $dropFirstTokSql FROM documents WHERE doc_id % 20 = 0
         |        UNION ALL
         |        SELECT doc_id + 80000, ${dropFirstTokSql.replace("text", dropFirstTokSql)}
         |        FROM documents WHERE doc_id % 60 = 0),
         |  keys AS (SELECT doc_id, unnest([md5(text), md5($dropFirstTokSql)]) AS k FROM u),
         |  e AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
         |        FROM keys a JOIN keys b USING (k) WHERE a.doc_id <> b.doc_id),
         |  walk(id, r) AS (
         |    SELECT DISTINCT a, a FROM e
         |    UNION
         |    SELECT e.b, w.r FROM walk w JOIN e ON e.a = w.id),
         |  comp AS (SELECT id, MIN(r) AS cluster_id FROM walk GROUP BY id),
         |  ranked AS (SELECT c.cluster_id, c.id, len(u.text) AS n_chars,
         |               ROW_NUMBER() OVER (PARTITION BY c.cluster_id
         |                 ORDER BY len(u.text) DESC, c.id ASC) AS rnk,
         |               COUNT(*) OVER (PARTITION BY c.cluster_id) AS n_members
         |             FROM comp c JOIN u ON u.doc_id = c.id)
         |SELECT cluster_id, id AS keep_id, CAST(n_chars AS BIGINT) AS keep_chars,
         |       n_members
         |FROM ranked WHERE rnk = 1 ORDER BY cluster_id""".stripMargin) { (s, dir) =>
      val base = Tables.load(s, dir, "documents").select("doc_id", "text")
      val u = base
        .unionAll(base.filter(col("doc_id") % 20 === 0)
          .select((col("doc_id") + 40000).as("doc_id"),
            dropFirstTok(col("text")).as("text")))
        .unionAll(base.filter(col("doc_id") % 60 === 0)
          .select((col("doc_id") + 80000).as("doc_id"),
            dropFirstTok(dropFirstTok(col("text"))).as("text")))
      val labels = connectedComponents(blockingEdges(u), tag = "q86")
      val withLen = labels
        .join(u.select(col("doc_id").as("id"), length(col("text")).cast("long").as("n_chars")), "id")
      val w = Window.partitionBy("lbl")
      val ranked = withLen
        .withColumn("rnk", row_number().over(
          w.orderBy(col("n_chars").desc, col("id").asc)))
        .withColumn("n_members", count(lit(1)).over(w))
      ranked.filter(col("rnk") === 1)
        .select(col("lbl").as("cluster_id"), col("id").as("keep_id"),
          col("n_chars").as("keep_chars"), col("n_members"))
        .orderBy("cluster_id")
    },

    // ----- X3, SPAN granularity: duplicated-SUBSTRING detection — the
    // tier document-level dedup can't see. A doc that copies a long
    // passage from another (planted here: every 7th doc re-emitted
    // minus its first word) is not a doc-level duplicate, but training
    // on it still memorizes the shared span. Method: one rolling
    // 8-token window per position (positional, NOT distinct), windows
    // hashed to longs; a window whose hash occurs in ≥2 distinct docs
    // is flagged; adjacent flagged positions merge into maximal spans
    // with the islands trick (pos − row_number is constant within a
    // run). Scale shape: doc rows shuffle once (doc_id) for the lead()
    // window build; (h, doc_id, pos) window rows shuffle twice on the
    // 60-bit hash (share-count aggregate, then the flag equi-join
    // against the duplicated-hash set — which is small, the duplicated
    // fraction only); flagged positions (small) shuffle once more for
    // the islands ranking. No pair of documents is ever joined — cost
    // is linear in corpus tokens, never quadratic in docs. Span output
    // is row-per-span → parallel orderBy.
    q("q95_dup_spans",
      "X3: duplicated-substring spans (rolling 8-token windows, cross-doc share, islands merge)", {
      val W = DupSpanW
      s"""WITH u AS (${plantedSql(7, 70000, dropFirstTokSql)}),
         |  tkl AS (SELECT doc_id, ${TextOps.tokensSql("text")} AS tk FROM u),
         |  wins AS (SELECT doc_id, x - 1 AS pos,
         |             ${TextOps.hash60Sql(s"array_to_string(list_slice(tk, x, x + ${W - 1}), ' ')")} AS h
         |           FROM tkl, unnest(range(1, len(tk) - ${W - 2})) t(x)),
         |  shared AS (SELECT h FROM wins GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
         |  fl AS (SELECT doc_id, pos FROM wins JOIN shared USING (h)),
         |  isl AS (SELECT doc_id, pos,
         |            pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |          FROM fl)
         |SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + ${W - 1} AS span_end,
         |       COUNT(*) AS n_windows
         |FROM isl GROUP BY doc_id, grp ORDER BY doc_id, span_start""".stripMargin
    }) { (s, dir) =>
      val base = Tables.load(s, dir, "documents").select("doc_id", "text")
      preSortFrames("q95_dup_spans")(base)
        .rangeSorted("doc_id", "span_start") // row-per-span; spans built once
    },

    // ----- X3/X4: first-occurrence NOVELTY scoring — the data-valuation
    // signal dedup-aware pruning ranks by: per doc, the fraction of its
    // distinct shingles whose global FIRST carrier (min doc_id over all
    // carriers) is the doc itself. A verbatim or near copy of an earlier
    // doc scores ~0 (every shingle already seen); the planted mod-9
    // copies exhibit exactly that. Scale shape: the first-carrier table
    // is a min aggregate keyed on the shingle hash — two longs of
    // map-side-combinable state per key, hot-shingle safe like q95's
    // share test — then one per-doc fold; one shuffle on h, one on
    // doc_id, no pair of documents ever joined.
    q("q98_novelty_score",
      "X3/X4: first-occurrence novelty scoring (content-contribution valuation)",
      s"""WITH u AS (${plantedSql(9, 45000, dropFirstTokSql)}),
         |     sh AS (SELECT doc_id,
         |              unnest(list_distinct(list_transform(
         |                ${shinglesSql(TextOps.tokensSql("text"))}, t -> ${TextOps.hash60Sql("t")}))) AS h
         |            FROM u),
         |     fo AS (SELECT h, MIN(doc_id) AS first_id FROM sh GROUP BY 1)
         |SELECT doc_id, COUNT(*) AS n_shingles,
         |       COUNT(CASE WHEN first_id = doc_id THEN 1 END) AS n_novel,
         |       ROUND(CAST(COUNT(CASE WHEN first_id = doc_id THEN 1 END) AS DOUBLE)
         |             / COUNT(*), 6) AS novelty
         |FROM sh JOIN fo USING (h)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val base = Tables.load(s, dir, "documents").select("doc_id", "text")
      preSortFrames("q98_novelty_score")(base)
        .rangeSorted("doc_id") // row-per-doc; fold child runs once
    }
  )

  /** q98's core: per-doc first-occurrence novelty over distinct word
    * 3-shingles. Returns `(doc_id, n_shingles, n_novel, novelty)`. */
  private[graft] def noveltyScores(u: DataFrame): DataFrame = {
    val sh = shingleRows(u, 3)
      .select(col("doc_id"), TextOps.hash60(col("t")).as("h"))
      .distinct()
      .checkpointed(false) // totals + first-carrier agg both read it
    // A doc's novel count is an aggregate OF the first-carrier table
    // keyed by the carrier — the entry stream never joins anything.
    // (The earlier sh⋈first formulation re-shuffled the full entry
    // stream through the join and the per-doc fold; it read linear at
    // sf0.1 only because AQE broadcast the small first-carrier side — a
    // plan that phase-transitions to 2 extra corpus shuffles the moment
    // the carrier table outgrows the broadcast threshold, measured as a
    // 26.5× shuffle ratio on the 10× probe. Both per-doc frames here
    // are map-side-combined counts: rows-per-doc, not rows-per-entry.)
    val novel = sh.groupBy(col("h")).agg(min(col("doc_id")).as("first_id"))
      .groupBy(col("first_id")).agg(count(lit(1)).as("n_novel"))
    val totals = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
    totals.join(novel, totals("doc_id") === novel("first_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .withColumn("novelty",
        round(col("n_novel").cast("double") / col("n_shingles"), 6))
      .select("doc_id", "n_shingles", "n_novel", "novelty")
  }

  /** q95's core: duplicated-substring spans over rolling `w`-token
    * windows. Returns `(doc_id, span_start, span_end, n_windows)`. */
  private[graft] def dupSpans(u: DataFrame, w: Int): DataFrame = {
    val toks = u.select(col("doc_id"),
        posexplode(split(lower(col("text")), "[^a-z0-9]+")).as(Seq("p0", "tok")))
      .filter(col("tok") =!= "")
    val wd = Window.partitionBy("doc_id").orderBy("p0")
    // Clean consecutive position over the FILTERED token sequence
    // (posexplode indices have gaps where empties fell out).
    val posd = toks.withColumn("pos", (row_number().over(wd) - 1).cast("long"))
    val withNext = (1 until w).foldLeft(posd) { (df, k) =>
      df.withColumn(s"t$k", lead(col("tok"), k).over(wd))
    }
    val wins = withNext.filter(col(s"t${w - 1}").isNotNull)
      .select(col("doc_id"), col("pos"),
        TextOps.hash60(concat_ws(" ",
          col("tok") +: (1 until w).map(k => col(s"t$k")): _*)).as("h"))
      .checkpointed(false) // share test and flag join both read it
    // Hot-span guard: the cross-doc test is "≥ 2 distinct docs", which
    // is exactly min(doc_id) < max(doc_id) — two longs of fully
    // map-side-combinable aggregate state per hash instead of a
    // distinct-id set. A corpus-wide boilerplate span (one h shared by
    // millions of rows — q81's hot-key blowup one level down) costs the
    // reducer two longs, not a set of every carrier's id. Same
    // predicate, no cap, no approximation (DedupLawsSpec plants a
    // corpus-wide banner and checks spans against brute force).
    val shared = wins.groupBy(col("h"))
      .agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
      .filter(col("lo") < col("hi"))
      .select("h")
    val w2 = Window.partitionBy("doc_id").orderBy("pos")
    wins.join(shared, "h")
      .withColumn("grp", col("pos") - row_number().over(w2))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (w - 1)).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_start"), col("span_end"), col("n_windows"))
  }
}
