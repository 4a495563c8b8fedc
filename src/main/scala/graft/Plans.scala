package graft

import java.io.{File, PrintWriter}
import org.apache.spark.sql.SparkSession

/** Plan-evidence dump: `.explain("formatted")` for the headline queries,
  * written to PLANS.md so the scale claims in SURVEY §8 are checkable
  * against the ACTUAL physical plans — pushed filters and pruned schemas
  * on scans, broadcast sides on joins, partial hash aggregates before
  * exchanges, single-exchange shingle stages, no ranking windows in the
  * ANN assignment path.
  *
  * Usage: java ... graft.Plans <sfDir> [outFile]
  */
object Plans {

  /** Queries whose plans carry the load-bearing scale claims. */
  val Headline: Seq[(String, String)] = Seq(
    "q01_pricing_summary" -> "pushed date filter + pruned 7-col scan; partial decimal aggs before one exchange",
    "q04_eq_range_pred" -> "equality+range predicates pushed to the parquet scan (PushedFilters)",
    "q09_multiway_join" -> "small dims broadcast; fact side never shuffles for the join",
    "q26_knn_topk" -> "CollectTopK map-side k-heaps; queries broadcast; one exchange of Q*P*k rows",
    "q28_minhash_pairs" -> "codegen shingle window + one wide signature agg; r=5 banded buckets (hot-shingle-safe, SCALE_r08) pre-aggregated before pairs; exact size bound kills mismatched candidates before the sorted-merge verify (sorted_intersect_size, r9)",
    "q42_ivf_knn" -> "min_by assignment aggregate (no ranking window); centroids broadcast",
    "q52_asof_enrich" -> "custom AsOfJoinExec with co-clustered+sorted children via EnsureRequirements",
    "q59_dup_clusters" -> "blocking-key bucket agg; alternating large-star/small-star contraction (~log n rounds), each round equi-joins + min-aggs keyed on the vertex id",
    "q60_bm25" -> "token explode; three aggregates; dfreq+stats broadcast back — no corpus re-shuffle",
    "q70_sequence_packing" -> "running-sum window then interval explode; integer math only",
    "q76_heavy_hitters" -> "frequent_items sketch reduces map-side (partial ObjectHashAggregate); exact top-k beside it",
    "q68_incremental_dedup" -> "persisted signature index SCANNED, not recomputed; batch-vs-index equi-joins only",
    "q81_ngram_jaccard" -> "PPJoin: posting-list pre-agg kills singletons; both df-split tiers index only prefix-resident entries; positional filter bounds overlap at the rarest generating shingle; exact sorted-merge verify (r9)",
    "q58_contamination" -> "containment guard (r9): broadcast eval-gram semi-join — the train stream is read once, never shuffled; train-df prefix ranking keeps hot grams out of candidate generation; exact array verify on candidates only",
    "q84_bloom_decontam" -> "might_contain literal-sketch probe filters train grams before the dedup exchange; then the same containment guard as q58, hash-keyed with the sorted-merge verify",
    "q89_pq_adc" -> "distance-table lookup join + decimal sum; both top-k sides are CollectTopK heaps",
    "q91_rag_context" -> "CollectTopK retrieve, id-list doc fetch join, columnar block render",
    "q93_kmeans_train" -> "3 chained assign+mean rounds; centroids broadcast each round, vectors never shuffle",
    "q95_dup_spans" -> "positional window hashes; min/max share test (no distinct-set state) + flag join on the hash; islands ranking — no doc-pair join",
    "q98_novelty_score" -> "first-carrier table is a map-side-combinable min agg on the shingle hash; one per-doc fold; no doc-pair join",
    "q99_semantic_prune" -> "centroids broadcast; argmin assignment is a min_by aggregate; pairs only within a cell (equi-join on cell_id)",
    "q103_lm_perplexity" -> "one bigram explode feeds both model aggregates (map-side combined); scoring is a PINNED shuffle-hash join co-keyed by the bigram with the model as build side (a stats-less checkpoint scan let the optimizer broadcast the corpus side); vocab + tercile cuts cross as one-row broadcasts",
    "q104_media_phash_dedup" -> "codegen'd phash64 rides the scan; 4x16-bit band buckets PRE-AGGREGATED (singletons die before any pair); Hamming verify on fingerprints already in hand — no join-back; threshold < bands = lossless vs the all-pairs oracle (r10)",
    "q105_mmr_context" -> "one CollectTopK corpus pass; candidate vectors via broadcast semi join-back; QxM^2 pair-cosine table checkpointed once; each greedy step is broadcast joins + max_by aggregates — no corpus re-scan, no cartesian (r10)",
    "q50_chunking" -> "MAP-ONLY chunking: tokenize + start-grid explode + slice ride the scan at input-split parallelism (full tail coverage, r10); the only exchange is the trailing range sort",
    "q107_priority_sample" -> "priority sampling: exact integer priorities computed in the scan project; per-stratum top-(k+1) via CollectTopK map-side k-heaps (exchange = langs*partitions*(k+1) rows); winner set broadcast-joins back for weights (r10)",
    "q108_bpe_train" -> "BPE training: corpus collapses to a VOCAB-sized word table once (token explode + hash agg, map-side combined, checkpointed); each round aggregates vocab-sized pairs, collects a 1-row argmax (q93's centroid shape), and rewrites only pair-containing words in one row-local projection (substring prefilter), checkpointed for the next round — round cost independent of corpus size",
    "q109_bpe_segment" -> "BPE segmentation: the learned rules replay over the trainer's own checkpointed vocab table in one projection, and that seg table IS the tokenizer — it broadcasts onto the corpus token stream (map-side join over the scan); only the doc-keyed count aggregate shuffles, map-side combined",
    "q110_media_resize" -> "MAP-ONLY resize: per-row 48-element nearest-neighbor byte sampling rides the scan; the only exchange is the presentation sort (r10)",
    "q111_media_frame_sample" -> "MAP-ONLY frame sampling: explode(4) + a W-element fold per row ride the scan; the only exchange is the presentation sort (r10)",
    "q112_bpe_apply_persisted" -> "tokenize-on-append: PERSISTED merge rules (built once per corpus fingerprint) replay over the BATCH's distinct tokens as one projection under the seg broadcast — no retrain, no training-corpus touch, no per-rule checkpoint; the batch stream pays one broadcast seg join",
    "q100_ivf_append" -> "persisted assignment index SCANNED for occupancy; only the batch is scored (one broadcast centroid join)",
    "q113_ivfpq_search" -> "IVF-PQ encode is MAP-ONLY: one broadcast centroid array row + broadcast residual codebook, per-row argmin in place — no exchange ever carries a vector; corpus-sized exchanges move (vec_id, cell, m, code) longs only (r11)",
    "q115_quality_classifier" -> "distributed-LR round (the MLlib GradientDescent shape): weights ship in the task closure — parameter application plans NO join (the broadcast joins BELOW the window are the one-time feature/label build, paid once then checkpointed); z is a doc-keyed window sum; the gradient is one bucket-keyed partial hash aggregate collapsing the corpus to <=66 rows (r11)",
    "q116_score_persisted" -> "score-on-append: the PERSISTED model (<=66 rows, read once) ships in the task closure — inference is tokenize + per-(doc,b) reduce + a doc-keyed window sum; NO join against the corpus, no training-data touch; cost scales with the batch alone (r11)",
    "q119_ivfpq_append" -> "encode-on-append: the PERSISTED packed codes table SCANNED, never re-encoded (the batch-side encode lives below the checkpoint — q113's map-only shape); the insert check is ONE cell_id equi-join between packed-row frames with the ADC distance computed IN-ROW (flat 16-entry table lookup + exact-decimal 4-term sum) — no pair-level exchange exists; nearest-neighbor pick is a map-side min_by (r11)",
    "q121_ivfpq_trained" -> "trained-centroid IVF-PQ: q93's Lloyd rounds (centroids broadcast, vectors never shuffle) feed q113's layout through the SHARED search helper — the post-training plan is q113's verbatim; the dump shows the search side over the trained checkpoint (r11)",
    "q125_takedown_artifacts" -> "takedown completion: the assignment-index purge is one pushed NOT-filter rewrite published to parquet; each audit row is a count aggregate over a published scan; the artifact diffs are full-outer equi-joins on 8-row/66-row frames; the retrains themselves are q108's and q115's proven shapes fed the survivor filter (r12)",
    "q126_ivfpq_nprobe_curve" -> "nprobe curve: ONE map-only encode per variant (q113's shape, below the checkpoint); cell ranking + distance tables are tiny broadcasts; the sweep is a candidates-x-nprobe window partitioned by (query, nprobe) + a shortlist-sized exact re-rank join — query-sized, the corpus is never re-encoded per point (r12)",
    "q133_card_on_append" -> "card-on-append: the PERSISTED sigstats/card tables arrive by parquet scan; the batch features are map-only; the sigstats probe is PARTITION-PRUNED to the hash buckets the batch touches (bucket=k directory pruning visible in the FileScan, r15) and probes the BROADCAST batch-hash frame (result <= batch-sized, then re-broadcast); every later join/aggregate is batch- or card-sized; shares/means recompute from exact integer sums (r12)",
    "q134_stream_card_maintain" -> "streaming card maintenance: q133's cardUpdate per micro-batch with artifact WRITE-BACK through the SigstatsStore manifest layout (r15): each micro-batch reads and rewrites ONLY the sig-hash buckets its batch touches, the new version's manifest re-references untouched buckets' files in place (merge-on-read/LSM shape) — no corpus rescan, no corpus shuffle; the commit clusters the touched rows by bucket before the dynamic-partition write so the writer opens one file per bucket, not tasks x buckets (r16, plans/r16/sigstats_commit_write_*.txt); the dump shows the registered drain's final card read (the stream side is foreachBatch, outside the plan) (r12)",
    "q127_train_order" -> "curriculum manifest: one 5-row lang-counts agg feeds a 15-row threshold broadcast; the corpus side is epoch-explode + broadcast-hash join + per-row hash keep — MAP-ONLY selection (no window, no per-stratum rank); the only corpus exchange is the trailing range sort of the manifest itself (r12)",
    "q128_quality_ensemble" -> "quality ensemble: three SHARED doc-keyed signal frames (q34 rule, q64 trigram ratio, q103 bigram-LM) join on doc_id; the six min/max bounds are OBSERVED on the joined frame's own checkpoint job (Dataset.observe) and enter the normalize pass as literals — no bounds aggregate, no join back (min-max beats rank normalization at scale: no global sort exists anywhere); bins are fixed-width floor() — map-side (r12)",
    "q129_data_card" -> "data card: every per-doc feature (token count, md5 sig, the SHARED q33 language ladder) rides ONE corpus scan; the only corpus-sized exchange is the sig-keyed duplicate window (the q27 key); then a source-x-lang group agg + 1-row total broadcast (r12)",
    "q130_shard_plan" -> "shard plan: textbook distributed prefix sum — 256 FIXED hash buckets aggregate to a constant-size offset table (the single-task windows — offsets and the grand total — are 256 rows at ANY corpus), within-bucket cumsums run partitioned by bucket, shard cut is all-integer floor division against a target computed per row from the total; spec pins two-phase == global cumsum (r12)",
    "q131_quality_curriculum" -> "quality-annealed curriculum: the per-doc ensemble (q128's SHARED chain, checkpointed once) is the one corpus-heavy stage; epoch floors filter in the scan (integer micro-score compare — the round-free tier), then q127's map-only rate-keep: per-(epoch,lang) counts agg -> ONE window by epoch (count total + exact-decimal weight sum) -> 15-row threshold broadcast (r12)",
    "q132_curriculum_shards" -> "curriculum shard packing: the manifest (q131's SHARED frame) checkpoints once; the per-epoch prefix sum is the SHARED exclusivePrefix two-phase form with CONTIGUOUS pos-range buckets (<=256 offset rows per epoch at ANY corpus — ordering by (bucket,pos,doc_id) IS the stream order), each epoch's total rides the offset table as a second window, so the shard target is a per-row column; the ORACLE computes the same packing with one global window per epoch, so two-phase == global IS the hash gate (r12)",
    "q137_ivfpq_refine_curve" -> "refine-depth curve (base fanned out to defaultParallelism before its checkpoint — r16, plans/r16/curve_base_spread_*.txt — so the 256-codebook encode and ADC chains run wide instead of one-task): ONE map-only encode (q113's shape, below the checkpoint) + one full-corpus ADC; the (nprobe, rr_short) grid is two nested slices of the shared candidate frame — nprobe by home-cell rank, rr_short by ADC rank — with the exact re-rank distance computed ONCE per candidate at the max depth and every grid point a re-window of that checkpointed frame; re-rank joins are shortlist-sized (rr x queries rows), the corpus is never re-encoded or re-scored per point (r14)")

  /** Queries whose registered frame ends in `rangeSorted` — its lazy
    * checkpoint truncates the inspectable plan to an RDD scan, so the
    * dump uses the shared PRE-SORT frame instead: the registered query's
    * exact frame (same planted-copy union + doc_id spread) minus only
    * the trailing sort. */
  private def preSort(spark: SparkSession, sfDir: String)
      : Map[String, org.apache.spark.sql.DataFrame] = {
    val docs = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    operators.DedupQueries.preSortFrames.map { case (n, f) => n -> f(docs) } +
      // q103's load-bearing shape (bigram explode, model aggregates,
      // pinned shuffle-hash scoring join) lives BELOW the registered
      // frame's eager checkpoint; dump the pre-checkpoint scored frame
      // like the rangeSorted queries dump their pre-sort frames.
      ("q103_lm_perplexity" ->
        operators.TextQueries.lmScoredFrame(spark, sfDir)) +
      // q104's banded candidate generation + Hamming verify, pre-sort
      // (same rangeSorted truncation as the dedup tier), over the
      // registered query's exact planted-copy union.
      ("q104_media_phash_dedup" ->
        operators.MediaQueries.phashPairs(
          operators.MediaQueries.phashPlantedUnion(docs))) +
      // q113's load-bearing claim is the ENCODE path, which lives below
      // the registered frame's eager checkpoints: dump the map-only
      // encode projection itself (same frame PlanShapeSpec pins).
      ("q113_ivfpq_search" -> {
        import org.apache.spark.sql.functions.col
        val base = Tables.load(spark, sfDir, "embeddings")
          .select(col("vec_id"),
            functions.VectorOps.asDouble(col("embedding")).as("ev"))
        val sub = operators.SimilarityQueries.ivfpqSub(base)
        val cb = sub.filter(col("vec_id") < operators.SimilarityQueries.PqK)
          .select(col("m"), col("vec_id").as("code"), col("sv").as("cvr"))
        operators.SimilarityQueries.ivfpqCodes(sub, cb)
      }) +
      // q115's training round, pre-checkpoint: closure-shipped weights
      // (no join), doc-keyed window z, 6dp sigmoid, bucket-keyed
      // gradient aggregate (the per-round shape the registered query's
      // checkpoint truncates).
      ("q115_quality_classifier" ->
        operators.CurationQueries.qcGradient(
          operators.CurationQueries.qcScored(
            operators.CurationQueries.qcFeatures(spark, sfDir),
            operators.CurationQueries.qcZeroWeights))) +
      // q128's three-frame signal join lives below the registered
      // frame's checkpoint; dump the pre-checkpoint joined frame.
      ("q128_quality_ensemble" ->
        operators.ReleaseQueries.ensembleJoined(spark, sfDir))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("PLANS.md")
    val spark = GraftSession(logLevel = "ERROR")

    // Explicit UTF-8: PrintWriter(File) uses the platform default
    // charset, which mangles non-ASCII in the claims on POSIX-locale
    // hosts ("—" became "?").
    val pw = new PrintWriter(new File(out), "UTF-8")
    pw.println("# Physical-plan evidence (generated by `graft.Plans`)")
    pw.println()
    pw.println(s"`explain(\"formatted\")` on $sfDir — regenerate with:")
    pw.println("`java ... graft.Plans <sfDir> PLANS.md`. Streaming queries")
    pw.println("(q49/q53/q54/q71, and the foreachBatch drains q118/q120/q123/q124) execute")
    pw.println("jobs rather than return a plan and are excluded; their physical")
    pw.println("shape is spec-asserted instead.")
    val pre = preSort(spark, sfDir)
    Headline.foreach { case (name, claim) =>
      val df = pre.getOrElse(name, SparkEntry.queries(name)(spark, sfDir))
      pw.println()
      pw.println(s"## $name")
      pw.println()
      if (name == "q103_lm_perplexity")
        pw.println("(pre-checkpoint scored frame — the registered query " +
          "adds the tercile bucketing on top)")
      else if (name == "q113_ivfpq_search")
        pw.println("(pre-checkpoint encode frame — the registered query " +
          "adds the query-side nprobe/ADC search and recall audit on top)")
      else if (name == "q115_quality_classifier")
        pw.println("(pre-checkpoint round-0 sigmoid frame — the registered " +
          "query chains the gradient updates and eval trace on top)")
      else if (pre.contains(name))
        pw.println("(pre-sort frame — the registered query adds a " +
          "materialize-once range sort on top)")
      pw.println()
      pw.println(s"**Claim:** $claim")
      pw.println()
      pw.println("```")
      // queryExecution.explainString mirrors df.explain("formatted")
      pw.println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      pw.println("```")
    }
    pw.close()
    println(s"[plans] wrote $out")
    spark.stop()
  }
}
