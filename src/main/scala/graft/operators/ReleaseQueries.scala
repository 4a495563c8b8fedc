package graft.operators

import graft.Materialize.CheckpointOps
import graft.{NamedQuery, Overlap, Tables}
import graft.NamedQuery.{q, PresentationOps}
import graft.functions.{Exact, ExactSql, TextOps}
import graft.streaming.Drain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Release-engineering queries over `documents` — the passes that turn a
  * CURATED corpus into a SHIPPED training run: a reproducible multi-epoch
  * training order (q127), a calibrated multi-signal quality ensemble
  * (q128), the release datasheet / data card (q129), and a size-balanced
  * output shard plan (q130).
  *
  * The family's shared discipline is the one CurationQueries establishes:
  * nothing is random — ordering, sampling, and shard cuts all key off the
  * md5-derived [[TextOps.hash60]] so any executor (and the DuckDB oracle)
  * can re-derive any row's assignment independently. That determinism
  * makes each operator a LAW rather than a draw: a doc's membership is a
  * pure function of its own key and the per-(epoch, lang) rate
  * thresholds. The thresholds DO depend on per-lang counts, so a corpus
  * increment or removal can flip docs sitting within the threshold shift
  * of the 2^20 keep boundary — O(thr_shift · n / 2^20) docs, a handful
  * per removed doc — while every doc away from the boundary is exactly
  * invariant (ReleaseSpec's drop-one-doc law asserts precisely this
  * bounded symmetric difference, not total invariance).
  */
object ReleaseQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** Keep-rate denominator: thresholds live in [0, 2^20]. */
  private val USize = 1048576L

  /** q130/q132's shard count. */
  private val NShards = 32L

  /** q130/q132's shard target, ceil(total / NShards), from
    * [[exclusivePrefix]]'s part total. */
  private def shardTarget =
    expr(s"(_ptot + ${NShards - 1}) div $NShards")

  /** The prefix-sum bucket fan-out — a DEPLOYMENT KNOB like the IVF
    * `cells ∝ corpus` rule, read from `spark.graft.prefixBuckets`
    * (power of two; default 256). Buckets are CONTIGUOUS ranges of
    * the global order (hash60 div width — monotone), so the computed
    * prefix sums — and therefore the query hashes — are IDENTICAL at
    * any setting (ReleaseSpec pins it); only the task granularity
    * moves. Sizing rule: at gate scales 256 buckets keep the offset
    * table one tiny task; at 100 TB set buckets ∝ corpus/target-task
    * -bytes (e.g. ~400k buckets caps a within-bucket cumsum task near
    * 256 MB) — the offset table is still offset-window-cheap at ~10^5
    * rows, while a FIXED 256 would put ~400 GB in one cumsum task. */
  private[graft] def nBuckets(s: SparkSession): Long = {
    val n = s.conf.get("spark.graft.prefixBuckets", "256").toLong
    require(n > 0 && (n & (n - 1)) == 0 && n <= (1L << 52),
      s"spark.graft.prefixBuckets must be a power of two in [1, 2^52]: $n")
    n
  }

  /** Bucket width over the hash60/pos key space [0, 2^60): contiguous,
    * monotone ranges — (bucket, key) order IS key order. */
  private def bucketWidth(s: SparkSession): Long = (1L << 60) / nBuckets(s)

  val all: Seq[NamedQuery] = Seq(

    // ----- Reproducible multi-epoch training order (curriculum
    // annealing). Epoch e draws a half-corpus budget with language
    // weights n^tau_e for tau = 1, 1/2, 1/4 — the standard
    // temperature anneal from natural mixture toward uniform (tau
    // powers are sqrt chains, NOT pow(): IEEE sqrt is correctly
    // rounded in both engines, exp/ln-based pow is not guaranteed).
    // Selection is RATE-based, not rank-based: lang l keeps doc d in
    // epoch e iff hash(e:d) % 2^20 < floor(share*budget/n_l * 2^20).
    // That makes the whole query map-only after one tiny counts
    // aggregate — no window, no sort, no per-stratum rank — which is
    // the 100 TB answer (exact-quota ranking needs a per-stratum
    // global order; rate-keep trades <=0.1% mixture error for a scan).
    // The manifest's order IS the output: (epoch, pos) with
    // pos = hash(e:doc_id) is the seeded global shuffle a trainer
    // streams — reshuffled per epoch, reproducible from the seed, and
    // writable at scale as a range-partitioned sort, never a
    // "shuffle 100 TB in place".
    q("q127_train_order",
      "X4+/LLM: reproducible multi-epoch curriculum order (temperature-annealed mixture, rate-kept, hash-ordered)",
      {
        val h = TextOps.hash60Sql("CAST(t.e AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR)")
        s"""WITH cnt AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY 1),
           |  tot AS (SELECT CAST(SUM(n) AS BIGINT) // 2 AS b FROM cnt),
           |  ep AS (SELECT unnest([1, 2, 3]) AS e),
           |  w AS (SELECT e, lang, n, ${tauWSql("e", "n")} AS w
           |        FROM cnt CROSS JOIN ep),
           |  ws AS (SELECT e, ${ExactSql.dsum("w")} AS wsum FROM w GROUP BY 1),
           |  thr AS (SELECT w.e, w.lang,
           |            LEAST(CAST(FLOOR(w.w / ws.wsum * t.b / w.n * $USize) AS BIGINT), $USize) AS thr
           |          FROM w JOIN ws USING (e) CROSS JOIN tot t),
           |  sel AS (SELECT CAST(t.e AS BIGINT) AS epoch, $h AS pos, d.doc_id, d.lang
           |          FROM documents d JOIN thr t ON d.lang = t.lang
           |          WHERE $h % $USize < t.thr)
           |SELECT epoch, pos, doc_id, lang FROM sel
           |ORDER BY epoch, pos, doc_id""".stripMargin
      }) { (s, dir) =>
      import s.implicits._
      val d = docs(s, dir)
      // THREE consumers (tot, w, and transitively thr) of a 5-row agg:
      // checkpoint so the threshold build scans the corpus once, not
      // once per consumer.
      val cnt = d.groupBy(col("lang")).agg(count(lit(1)).as("n")).checkpointed()
      val tot = cnt.agg(sum(col("n")).as("nd")).select(expr("nd div 2").as("b"))
      val ep = Seq(1, 2, 3).toDF("e")
      val w = cnt.crossJoin(ep).select(col("e"), col("lang"), col("n"),
        tauW(col("e"), col("n")).as("w"))
      val ws = w.groupBy(col("e")).agg(Exact.dsum(col("w")).as("wsum"))
      val thr = w.join(ws, "e").crossJoin(tot)
        .select(col("e"), col("lang"),
          least(floor(col("w") / col("wsum") * col("b") / col("n") * lit(USize)),
            lit(USize)).as("thr"))
      // Corpus side: explode the 3 epochs in place (map-side — no join
      // against an epoch table), broadcast the 15-row threshold frame.
      val h = TextOps.hash60(
        concat(col("e").cast("string"), lit(":"), col("doc_id").cast("string")))
      d.select(col("doc_id"), col("lang"))
        .withColumn("e", explode(lit(Array(1, 2, 3))))
        .join(broadcast(thr), Seq("e", "lang"))
        .withColumn("pos", h)
        .filter(col("pos") % USize < col("thr"))
        .select(col("e").cast("long").as("epoch"), col("pos"),
          col("doc_id"), col("lang"))
        .orderBy("epoch", "pos", "doc_id") // row-per-doc: parallel range sort
    },

    // ----- Calibrated quality-signal ensemble: the release gate rarely
    // trusts ONE filter — it min-max-normalizes the rule score (q34),
    // the repeated-trigram ratio (q64's signal), and the bigram-LM
    // cross-entropy (q103's h_bits) into a combined score, then audits
    // decile bins for signal agreement (a bin where the three signals
    // spread > 0.5 after orientation is where the hand rule and the
    // statistical models disagree — the docs a curator actually reads).
    // Every signal helper is the SHARED one (qualityFrame /
    // shingleRowsOf / lmScoredFrame + their SQL twins) so the ensemble
    // can never drift from its member queries. Shape: three doc-keyed
    // frames join on doc_id, the min/max bounds are observed on the
    // joined frame's checkpoint job (min-max needs no global sort — the
    // reason it beats rank normalization at 100 TB), bins are
    // fixed-width (map-side).
    // PARITY: the whole output is the ROUND-FREE integer
    // micro tier — bin = ens_micro div 100000, per-bin means as
    // integer division of exact micro sums, disagreement compared on
    // raw IEEE doubles. A 6dp-ROUND path would bin per-doc rounded
    // signals, and ROUND(x, 6) genuinely half-ties
    // cross-engine on exact 7-decimal values (q34's quality — see
    // ensembleScored's note): one tied extremum shifts every
    // normalized signal and can flip a doc's bin as the corpus grows.
    q("q128_quality_ensemble",
      "X4+/LLM: min-max ensemble of rule/repetition/LM quality signals with per-bin agreement audit",
      {
        s"""WITH $ensembleCtesSql
           |SELECT LEAST(GREATEST(ens_micro // 100000, 0), 9) AS bin,
           |  COUNT(*) AS n_docs,
           |  CAST(SUM(ens_micro) AS BIGINT) // COUNT(*) AS mean_ens_micro,
           |  CAST(SUM(rq_micro) AS BIGINT) // COUNT(*) AS mean_quality_micro,
           |  CAST(SUM(rr_micro) AS BIGINT) // COUNT(*) AS mean_rep_micro,
           |  CAST(SUM(hb_micro) AS BIGINT) // COUNT(*) AS mean_hbits_micro,
           |  CAST(SUM(CASE WHEN disagree THEN 1 ELSE 0 END) AS BIGINT) AS n_disagree
           |FROM en GROUP BY 1 ORDER BY bin""".stripMargin
      }) { (s, dir) =>
      val en = ensembleScored(s, dir)
      en.groupBy(least(greatest(expr("ens_micro div 100000"), lit(0L)),
          lit(9L)).as("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ens_micro")).as("s_ens"),
          sum(col("rq_micro")).as("s_q"),
          sum(col("rr_micro")).as("s_r"),
          sum(col("hb_micro")).as("s_h"),
          sum(when(col("disagree"), 1L).otherwise(0L)).as("n_disagree"))
        .select(col("bin"), col("n_docs"),
          expr("s_ens div n_docs").as("mean_ens_micro"),
          expr("s_q div n_docs").as("mean_quality_micro"),
          expr("s_r div n_docs").as("mean_rep_micro"),
          expr("s_h div n_docs").as("mean_hbits_micro"),
          col("n_disagree"))
        .presented("bin")
    },

    // ----- Release data card: the per-(source, lang) datasheet a
    // corpus ships with — sizes, token mass, exact-duplicate exposure,
    // and label/language-ID disagreement, in one frame. One corpus
    // scan computes every per-doc feature (tokens, md5 signature, the
    // SHARED q33 language ladder); the only corpus-sized exchange is
    // the md5-keyed duplicate window (the q27 key), then a 100-group
    // aggregate. Card semantics, not profiling: n_dup_docs counts docs
    // EXPOSED to duplication (cluster members, not cluster excess) and
    // n_langid_flag counts docs whose heuristic language disagrees
    // with the label — both are "what would a release reviewer ask".
    q("q129_data_card",
      "X4+/LLM: per-(source, lang) release data card — sizes, tokens, dup exposure, lang-ID flags",
      s"""WITH ${dataCardCtesSql("documents")}
         |$dataCardSelectSql""".stripMargin) { (s, dir) =>
      dataCardFrame(docs(s, dir)
          .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
            col("text")))
        .presented("source", "lang")
    },

    // ----- Size-balanced output shard plan: assign every doc a shard
    // by its BYTE OFFSET in the deterministic hash write order —
    // shard = floor(global_prefix_bytes / target) with target =
    // ceil(total/32). All-integer arithmetic: no float boundary can
    // disagree between engines, and shard sizes are provably within
    // one max-doc of target. The prefix sum is the textbook
    // distributed form: contiguous hash-range buckets (h div width —
    // the count is the spark.graft.prefixBuckets knob, see nBuckets;
    // default 256) aggregate to a bucket-count-row offset table (the
    // only single-task window), within-bucket cumsums run partitioned
    // by bucket, and start = bucket_offset + within_cum. Because the
    // buckets are CONTIGUOUS in h, the global order is (h, doc_id)
    // regardless of the knob — the oracle computes the same quantity
    // as ONE global window with no bucket anywhere, so the hash gate
    // itself certifies knob-independence, and the spec pins two-phase
    // ≡ global — the law that makes the plan trustworthy at scales
    // where the global window cannot run.
    q("q130_shard_plan",
      "X4+/LLM: size-balanced shard assignment via distributed prefix-sum over hash write order",
      s"""WITH a AS (SELECT doc_id, n_chars,
         |         ${TextOps.hash60Sql("CAST(doc_id AS VARCHAR)")} AS h FROM documents),
         |  t AS (SELECT (CAST(SUM(n_chars) AS BIGINT) + ${NShards - 1}) // $NShards AS tgt FROM a),
         |  c AS (SELECT n_chars,
         |          CAST(SUM(n_chars) OVER (ORDER BY h, doc_id
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_chars AS BIGINT) AS strt
         |        FROM a),
         |  sh AS (SELECT strt // t.tgt AS shard_id, n_chars, t.tgt FROM c CROSS JOIN t)
         |SELECT shard_id, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS shard_chars,
         |       tgt AS target_chars
         |FROM sh GROUP BY shard_id, tgt ORDER BY shard_id""".stripMargin) { (s, dir) =>
      shardPrefix(s, dir)
        .withColumn("tgt", shardTarget)
        .select(expr("strt div tgt").as("shard_id"), col("n_chars"), col("tgt"))
        .groupBy(col("shard_id"), col("tgt"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("shard_chars"))
        .select(col("shard_id"), col("n_docs"),
          col("shard_chars").cast("long").as("shard_chars"),
          col("tgt").as("target_chars"))
        .presented("shard_id")
    },

    // ----- Quality-annealed curriculum: q127's order conditioned on
    // q128's SIGNAL — the phase schedule modern pretraining runs
    // (broad early epochs, a quality-gated anneal at the end): epoch 1
    // admits every scoreable doc, epochs 2/3 raise an ensemble floor
    // (0.30, 0.45 — compared and OUTPUT in the tie-free integer micro
    // units, see ensembleScored's ens_micro note) BEFORE the
    // temperature-annealed mixture draw, so late epochs are
    // simultaneously flatter across languages and higher-quality.
    // Composition is by the SHARED pieces only — the ensemble CTE
    // chain and the tau-weight expression are the same single copies
    // q128/q127 run, so the capstone cannot drift from its parts.
    // Shape: the per-doc ensemble is the one corpus-heavy
    // stage (checkpointed inside ensembleScored); everything after is
    // q127's map-only selection with per-epoch eligible counts —
    // fifteen threshold rows broadcast, rate-keep in the scan.
    q("q131_quality_curriculum",
      "X4+/LLM: quality-annealed curriculum — ensemble floors per epoch feeding the temperature-mixed rate-keep",
      s"""WITH $curriculumCtesSql
         |SELECT epoch, pos, doc_id, lang, ens_micro FROM sel2
         |ORDER BY epoch, pos, doc_id""".stripMargin) { (s, dir) =>
      curriculumFrame(s, dir)
        .select(col("epoch"), col("pos"), col("doc_id"), col("lang"),
          col("ens_micro"))
        .orderBy("epoch", "pos", "doc_id")
    },

    // ----- Curriculum shard packing: the trainer-facing PHYSICAL
    // layout of the quality-annealed run — every epoch's admitted docs,
    // in the epoch's curriculum order (pos, doc_id), packed into 32
    // size-balanced shards by byte offset (q130's semantics applied
    // per epoch). This is the artifact a streaming data loader mounts:
    // "epoch e, shard k" is a contiguous byte range of the epoch's
    // stream, so any worker can fetch its slice without scanning the
    // manifest. Composition is by SHARED pieces only: the curriculum
    // CTE chain / frame (q131's verbatim) and the two-phase exclusive
    // prefix sum (q130's machinery, factored this round into
    // exclusivePrefix and consumed by BOTH queries). The buckets here
    // are CONTIGUOUS pos RANGES (pos div width — monotone in pos, so
    // ordering by (bucket, pos, doc_id) IS the stream order; the
    // count is the spark.graft.prefixBuckets knob, default 256), so
    // the offset table stays bucket-count rows per epoch at any
    // corpus. The ORACLE computes the same packing with one global
    // window per epoch — so two-phase ≡ global is not just a spec law
    // here, it IS the hash gate.
    q("q132_curriculum_shards",
      "X4+/LLM: per-epoch size-balanced shard packing of the curriculum order (two-phase prefix sum ≡ oracle's global window)",
      s"""WITH $curriculumCtesSql,
         |  t3 AS (SELECT epoch, (CAST(SUM(n_chars) AS BIGINT) + ${NShards - 1}) // $NShards AS tgt
         |         FROM sel2 GROUP BY 1),
         |  c3 AS (SELECT epoch, n_chars,
         |           CAST(SUM(n_chars) OVER (PARTITION BY epoch ORDER BY pos, doc_id
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_chars AS BIGINT) AS strt
         |         FROM sel2),
         |  sh AS (SELECT c3.epoch, strt // t.tgt AS shard_id, n_chars, t.tgt
         |         FROM c3 JOIN t3 t USING (epoch))
         |SELECT epoch, shard_id, COUNT(*) AS n_docs,
         |       CAST(SUM(n_chars) AS BIGINT) AS shard_chars, tgt AS target_chars
         |FROM sh GROUP BY epoch, shard_id, tgt
         |ORDER BY epoch, shard_id""".stripMargin) { (s, dir) =>
      curriculumPrefix(s, dir)
        .withColumn("tgt", shardTarget)
        .select(col("epoch"), expr("strt div tgt").as("shard_id"),
          col("n_chars"), col("tgt"))
        .groupBy(col("epoch"), col("shard_id"), col("tgt"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("shard_chars"))
        .select(col("epoch"), col("shard_id"), col("n_docs"),
          col("shard_chars").cast("long").as("shard_chars"),
          col("tgt").as("target_chars"))
        .presented("epoch", "shard_id")
    },

    // ----- Data-card-on-append: the release datasheet (q129) maintained
    // INCREMENTALLY — the append-family pattern (q68 dedup / q100 ANN /
    // q112 tokenize / q116 score) applied to governance reporting. The
    // persisted CardIndex holds the corpus's sig-count table and its
    // card; an append batch updates every column with BATCH-KEYED work:
    // counts/chars/tokens/lang-ID flags are sum-decomposable (one batch
    // aggregate), and duplicate EXPOSURE — the one non-decomposable
    // column — splits exactly into (a) batch docs whose hash repeats
    // in-batch or exists in the index, and (b) index docs that FLIP
    // from unexposed to exposed because their previously-unique hash
    // was hit (attributed to the holder group sigstats recorded at
    // build). Shape: batch feature compute + ONE scan of sigstats
    // probing the broadcast batch-hash frame — no corpus re-featurize,
    // no corpus shuffle; everything downstream is card-sized. The
    // oracle recomputes q129's formula from scratch over the union —
    // incremental ≡ recompute IS the hash gate.
    q("q133_card_on_append",
      "X4+/LLM: data-card-on-append — persisted sigstats+card updated by batch-keyed deltas (incremental ≡ recompute)",
      cardAppendOracleSql) { (s, dir) =>
      val idx = graft.pipeline.CardIndex.prepared(s, dir)
      val bf = cardFeatures(cardBatch(s, dir)).checkpointed()
      // Partition-pruned probe: the index is bucketed
      // by sig hash, so the one corpus-sized read narrows to the
      // buckets the batch's own hashes touch — directory-level pruning
      // the FileScan shows as a partition filter.
      val touched = graft.pipeline.SigstatsStore.touchedBuckets(bf)
      val sig = Tables.read(s, s"$idx/sigstats")
        .where(col("bucket").isin(touched: _*)).drop("bucket")
      val (card, _) = cardUpdate(sig, Tables.read(s, s"$idx/card"), bf)
      card.presented("source", "lang")
    },

    // ----- T6 + X4+ (streaming): STREAMING card maintenance — the
    // q133 update drained as an AvailableNow stream where EVERY
    // micro-batch reads the current artifacts, applies the exact
    // delta, and WRITES THEM BACK (versioned working copies — the
    // published index is never mutated, q122's discipline). Unlike
    // q118/q120/q123/q124, whose per-micro-batch work is stateless,
    // this is the genuinely STATEFUL append: micro-batch 2's duplicate
    // exposure depends on micro-batch 1's docs (an internal pair split
    // across micro-batches surfaces as an index hit + a FLIP whose
    // holder group micro-batch 1's write-back recorded) — so the drain
    // proves the artifact-EXTENSION path that q133 (read-only) cannot.
    // stream ≡ batch is the hash gate: the oracle is q133's verbatim,
    // i.e. the two-micro-batch composition must land on the SAME card
    // as the one-shot update, which holds because the delta math is
    // exact for ANY base/batch split (the ReleaseSpec q133 law applied
    // inductively). SCALE: each micro-batch pays
    // batch-keyed compute plus a broadcast-probed scan and rewrite of
    // ONLY the sigstats hash buckets its own sigs touch — the
    // SigstatsStore manifest layout re-references untouched buckets'
    // files in place (the merge-on-read/LSM shape), so per-batch index
    // I/O is touched/NumBuckets of the corpus instead of the full
    // previous version, which is what flattens the adversarial
    // backlog tail (2.4 → 6.3 s/batch under a full rescan).
    q("q134_stream_card_maintain",
      "T6+X4+: streaming card maintenance — foreachBatch applies the exact delta AND writes the artifacts back (stream ≡ batch)",
      cardAppendOracleSql) { (s, dir) =>
      val (root, v) = cardMaintainDrain(s, dir, nFiles = 2)
      // Every version's card is written in the published card's schema.
      val published = Tables.read(s, s"${graft.pipeline.CardIndex.prepared(s, dir)}/card")
      s.read.schema(published.schema).parquet(s"$root/v$v/card")
        .presented("source", "lang")
    },

    // ----- X4+ GOVERNANCE: CardIndex takedown — the
    // fourth persisted artifact class joins the q122/q125 purge
    // discipline, so every artifact under pipeline/ is now named in
    // exactly one takedown path (DedupIndex + VectorIndex codes →
    // q122; VectorIndex assignments + BPE merges + qc model → q125;
    // CardIndex sigstats + card → here). The scenario is the
    // composition a production store actually faces: the corpus was
    // APPENDED (q133's update — base ∪ batch, where the dup structure
    // lives), then a removal list (the q122 convention, doc_id % 37 =
    // 0 over the union) demands erasure. sigstats rows are per-hash
    // derivatives with holder groups — exactly what a right-to-be-
    // forgotten request targets — so they are decremented row-wise
    // (rows at cnt 0 deleted), and the card is decremented by the
    // exact BACKWARD delta of q133's math: per-group counts/chars/
    // tokens/flags are sum-decomposable (one removed-docs aggregate),
    // removed docs subtract their own exposure (sig cnt >= 2), and
    // sigs dropping from >= 2 carriers to exactly 1 FLIP their one
    // surviving carrier back to unexposed — attributed to the
    // SURVIVOR's group read from a survivors scan, because the
    // recorded holder may itself be among the removed. SCALE: one
    // map-only removed-docs feature pass, one sigstats scan probing
    // the broadcast removal-hash frame, one map-only survivors md5
    // scan probing the broadcast affected-sig set (paid only on
    // takedown; affected-sized exchanges after) — no corpus shuffle.
    // Oracle = q129's formula recomputed over the survivors of the
    // union, so "purge ≡ rebuild-from-survivors" IS the hash gate;
    // ReleaseSpec additionally reconciles the purged sigstats against
    // a from-scratch rebuild.
    q("q135_takedown_card",
      "X4+ governance: CardIndex takedown — purge sigstats row-wise, decrement the card by the exact backward delta",
      s"""WITH $appendUnionCtesSql,
         |  surv AS (SELECT doc_id, source, lang, n_chars, text FROM u
         |           WHERE doc_id % 37 <> 0),
         |  ${dataCardCtesSql("surv")}
         |$dataCardSelectSql""".stripMargin) { (s, dir) =>
      val idx = graft.pipeline.CardIndex.prepared(s, dir)
      val root = graft.TempDirs.fresh("q135")
      // The post-append artifacts (q133's update, shared cardUpdate) —
      // the index state a production store would have published before
      // the removal list arrived. Materialized: the takedown reads the
      // artifacts as tables, not as lineage into the append math.
      // Both artifact pairs below are independent writes over inputs
      // cardUpdate/cardTakedown already checkpointed — overlap each
      // pair, publish latency = max, not sum.
      def writeBoth(a: DataFrame, ap: String, b: DataFrame, bp: String): Unit =
        Overlap(a.write.parquet(ap))(b.write.parquet(bp))
      val bf = cardFeatures(cardBatch(s, dir)).checkpointed()
      val (card1, sig1) = cardUpdate(
        Tables.read(s, s"$idx/sigstats").drop("bucket"),
        Tables.read(s, s"$idx/card"), bf)
      writeBoth(sig1, s"$root/appended/sigstats", card1, s"$root/appended/card")
      val union = docs(s, dir)
        .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
          col("text"))
        .unionByName(cardBatch(s, dir).select(col("doc_id"), col("source"),
          col("lang"), col("n_chars"), col("text")))
      val (card2, sig2) = cardTakedown(s,
        s.read.schema(sig1.schema).parquet(s"$root/appended/sigstats"),
        s.read.schema(card1.schema).parquet(s"$root/appended/card"),
        union.filter(col("doc_id") % 37 === 0),
        union.filter(col("doc_id") % 37 =!= 0))
      writeBoth(sig2, s"$root/sigstats", // published post-takedown index
        card2, s"$root/card")
      s.read.schema(card2.schema).parquet(s"$root/card").presented("source", "lang")
    })

  /** One exact card-takedown step — [[cardUpdate]]'s backward twin,
    * shared by q135 and ReleaseSpec's reconciliation law: given the
    * current artifacts, the removed docs, and the surviving docs
    * (both as `(doc_id, source, lang, n_chars, text)` frames), returns
    * (updated card, updated sigstats), both unevaluated.
    *
    * Exactness: counts/chars/tokens/flags subtract the removed-docs
    * aggregate; duplicate exposure subtracts removed docs whose sig
    * had cnt >= 2 PLUS the backward flips (cnt >= 2 → exactly 1 —
    * the survivor's group, read from the survivors scan since the
    * recorded holder may be removed); shares/means recompute from the
    * exact integer sums — so the card is bit-identical to a
    * from-scratch q129 over the survivors. Updated sigstats:
    * decrement by the removal-hash counts, drop zeroed rows, and
    * REPAIR the holder columns of affected surviving sigs to the
    * survivors' min group (untouched sigs keep theirs, which already
    * equals the survivors' min — no carrier of theirs was removed),
    * so the purged table equals the rebuild on every column the
    * holder contract reads (exact at cnt = 1, tie-break above).
    *
    * SCALE: the removed-docs feature pass is map-only and removal-
    * sized; the ONE corpus-sized reads are the sigstats scan probing
    * the broadcast removal-hash frame and the survivors md5 scan
    * probing the broadcast affected-sig set (md5 + two columns — no
    * tokenize, no lang ladder); every exchange after is removal- or
    * affected-sized. */
  private[graft] def cardTakedown(s: SparkSession, S: DataFrame,
      C: DataFrame, removedDocs: DataFrame, survivorDocs: DataFrame)
      : (DataFrame, DataFrame) = {
    val rf = cardFeatures(removedDocs).checkpointed()
    val rsH = rf.groupBy(col("sig")).agg(count(lit(1)).as("rcnt"))
      .checkpointed()
    // Corpus-sized read #1: sigstats probed by the broadcast
    // removal-hash frame — result is removal-sized.
    val hit = S.join(broadcast(rsH), "sig")
      .select(col("sig"), col("cnt"), col("rcnt"))
      .checkpointed()
    // Corpus-sized read #2: the surviving carriers of AFFECTED sigs
    // (cnt outlives the removal) — md5 + group columns only, probed by
    // the broadcast affected-sig set; feeds flip attribution AND
    // holder repair. Affected-sized after the aggregate.
    val affected = hit.filter(col("cnt") > col("rcnt")).select(col("sig"))
    val survCarriers = survivorDocs
      .select(md5(col("text")).as("sig"), col("source"), col("lang"))
      .join(broadcast(affected), "sig")
      .groupBy(col("sig"))
      .agg(min(col("source")).as("n_src"), min(col("lang")).as("n_lang"))
      .checkpointed()
    // Removed docs' per-group deltas; a removed doc was EXPOSED iff its
    // sig carried >= 2 docs before the takedown.
    val rAgg = rf.join(broadcast(hit.select(col("sig"), col("cnt"))), "sig")
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("r_docs"),
        sum(col("n_chars")).as("r_chars"),
        sum(col("n_toks")).as("r_toks"),
        sum(when(col("pred") =!= col("lang"), 1L).otherwise(0L)).as("r_flags"),
        sum(when(col("cnt") >= 2, 1L).otherwise(0L)).as("r_dup"))
    // Backward flips: >= 2 carriers before, exactly 1 after — the
    // survivor loses its exposure, in ITS group.
    val flips = hit.filter(col("cnt") >= 2 && col("cnt") - col("rcnt") === 1)
      .join(broadcast(survCarriers), "sig")
      .select(col("n_src").as("source"), col("n_lang").as("lang"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("f_dup"))
    val merged = C.select(col("source"), col("lang"), col("n_docs"),
        col("sum_chars"), col("sum_tokens"), col("n_dup_docs"),
        col("n_langid_flag"))
      .join(rAgg, Seq("source", "lang"), "left")
      .join(flips, Seq("source", "lang"), "left")
      .select(col("source"), col("lang"),
        (col("n_docs") - coalesce(col("r_docs"), lit(0L))).as("n_docs"),
        (col("sum_chars") - coalesce(col("r_chars"), lit(0L))).as("sum_chars"),
        (col("sum_tokens") - coalesce(col("r_toks"), lit(0L))).as("sum_tokens"),
        (col("n_dup_docs") - coalesce(col("r_dup"), lit(0L)) -
          coalesce(col("f_dup"), lit(0L))).as("n_dup_docs"),
        (col("n_langid_flag") - coalesce(col("r_flags"), lit(0L)))
          .as("n_langid_flag"))
      .filter(col("n_docs") > 0) // a fully-erased group leaves the card
      .checkpointed()
    val card = cardProjection(merged, merged.agg(sum(col("n_docs")).as("nd")))
    // Updated sigstats: decrement by the broadcast removal counts, drop
    // zeroed rows, repair affected survivors' holder group.
    val sig = S.join(broadcast(rsH), Seq("sig"), "left")
      .select(col("sig"),
        (col("cnt") - coalesce(col("rcnt"), lit(0L))).as("cnt"),
        col("holder_source"), col("holder_lang"))
      .filter(col("cnt") > 0)
      .join(broadcast(survCarriers), Seq("sig"), "left")
      .select(col("sig"), col("cnt"),
        coalesce(col("n_src"), col("holder_source")).as("holder_source"),
        coalesce(col("n_lang"), col("holder_lang")).as("holder_lang"))
    (card, sig)
  }

  /** q134's drain, parameterized by source-file count (each file is
    * one micro-batch under maxFilesPerTrigger=1; the registered query
    * uses 2, ReleaseSpec re-drains at 3 to pin composition across a
    * different split). Returns (scratch root, final version) — the
    * spec asserts the final version EQUALS the file count, i.e. every
    * forced micro-batch actually committed (without it the test would
    * be vacuously green if AvailableNow coalesced to one batch).
    * Version RETENTION: each micro-batch writes a
    * full versioned working copy of sigstats+card; only vN and vN−1
    * stay live — vN−2 is deleted the moment vN commits, so a real
    * backlog holds ≤2 corpus-sized copies instead of corpus × N.
    * RECOVERY: the version is derived from the
    * micro-batch id, NOT an in-memory counter — batch B reads v{B} and
    * overwrite-writes v{B+1}, so when the process dies mid-write of
    * v{B+1} the checkpoint's replay of batch B finds its true base
    * v{B} still on disk (retirement after batch B keeps everything
    * manifests v{B} and v{B+1} reference) and the overwrite mode makes
    * the half-written v{B+1} safe to redo. An in-memory counter would
    * restart at 0 and read a purged version; the batch-id keying is
    * what makes the replay claim real.
    * BUCKETED I/O: sigstats lives in the
    * [[graft.pipeline.SigstatsStore]] manifest layout — each
    * micro-batch reads ONLY the hash buckets its own sigs touch and
    * writes back ONLY those buckets; untouched buckets' files are
    * re-referenced by the new version's manifest without being read or
    * rewritten (ReleaseSpec pins file-identity survival). Re-scanning
    * and rewriting the FULL corpus-sized sigstats every micro-batch
    * ramps the adversarial-backlog tail (measured 2.4 → 6.3 s/batch);
    * per-batch index I/O is touched/NumBuckets of the corpus. v0 references the
    * published index's bucket files in place — seeding copies only the
    * card (card-sized). */
  private[graft] def cardMaintainDrain(s: SparkSession, dir: String,
      nFiles: Int): (String, Int) = {
    import graft.pipeline.SigstatsStore
    val idx = graft.pipeline.CardIndex.prepared(s, dir)
    val root = graft.TempDirs.fresh("q134")
    SigstatsStore.init(s, root, s"$idx/sigstats")
    val card0 = Tables.read(s, s"$idx/card")
    card0.write.parquet(s"$root/v0/card")
    val committed = new java.util.concurrent.atomic.AtomicInteger(0)
    Drain.split(root, cardBatch(s, dir), nFiles) {
      _.stream().writeStream.foreachBatch { (b: DataFrame, batchId: Long) =>
        val v = batchId.toInt // replay-stable: the id IS the base version
        val bf = cardFeatures(b).checkpointed()
        val touched = SigstatsStore.touchedBuckets(bf)
        val (card, sig) = cardUpdate(
          SigstatsStore.readBuckets(s, root, v, touched),
          s.read.schema(card0.schema).parquet(s"$root/v$v/card"), bf)
        // The two artifact write-backs are independent (disjoint paths,
        // shared inputs already checkpointed by cardUpdate): overlap
        // them so the card write's job back-fills the sigstats commit's
        // stage tail — the batch's publish latency is the max of the two
        // writes, not their sum. The manifest publish inside commit()
        // still happens before this batch returns, so the replay
        // contract (v+1 fully published or redone) holds; a commit
        // failure waits for the card write, so the replay's overwrite
        // finds no stale job holding the target.
        Overlap(card.write.mode("overwrite").parquet(s"$root/v${v + 1}/card"))(
          SigstatsStore.commit(s, root, v + 1, sig))
        committed.updateAndGet(m => math.max(m, v + 1))
        if (v >= 1) SigstatsStore.retire(s, root, Seq(v, v + 1))
      }
    }
    (root, committed.get())
  }

  /** The `batch` + `u` (documents ∪ append batch) CTE prefix shared by
    * the q133/q134 oracle and q135's survivor filter. */
  private def appendUnionCtesSql: String = {
    val bt = "CASE WHEN doc_id % 15 = 0 THEN text " +
      "ELSE text || ' v2-' || CAST(doc_id AS VARCHAR) END"
    val bl = "CASE WHEN doc_id % 25 = 0 THEN 'de' ELSE lang END"
    s"""mx AS (SELECT MAX(doc_id) + 1 AS m FROM documents),
       |  batch AS (
       |    SELECT doc_id + 2 * mx.m AS doc_id, source, $bl AS lang, $bt AS text
       |    FROM documents CROSS JOIN mx WHERE doc_id % 5 = 0
       |    UNION ALL
       |    SELECT doc_id + 4 * mx.m, source, $bl, $bt
       |    FROM documents CROSS JOIN mx WHERE doc_id % 20 = 0),
       |  u AS (SELECT doc_id, source, lang, n_chars, text FROM documents
       |        UNION ALL
       |        SELECT doc_id, source, lang, CAST(len(text) AS BIGINT), text
       |        FROM batch)""".stripMargin
  }

  /** q133/q134's shared oracle: q129's formula recomputed FROM SCRATCH
    * over documents ∪ the append batch — incremental ≡ recompute (and,
    * for q134, stream ≡ batch) is the hash gate. */
  private def cardAppendOracleSql: String =
    s"""WITH $appendUnionCtesSql,
       |  ${dataCardCtesSql("u")}
       |$dataCardSelectSql""".stripMargin

  /** One exact card-maintenance step, shared by q133 (one-shot), q134
    * (per micro-batch, with write-back), and the CardIndex append path:
    * given the current artifacts and a batch FEATURE frame, returns
    * (updated card, updated sigstats) — both unevaluated. The batch
    * feature frame must be checkpointed by the caller (three consumers
    * here). Exactness note: duplicate exposure splits into batch docs
    * exposed (in-batch repeat OR index hit) plus index docs that FLIP
    * from unexposed to exposed (cnt = 1 hash hit, attributed to the
    * holder group recorded at build/previous append); shares and means
    * recompute from the exact integer sums, so the output doubles are
    * bit-identical to a from-scratch recompute over the union — for
    * ANY split of the appends, which is what makes the q134 drain
    * composable. SCALE: the one corpus-sized operation per step is the
    * sigstats scan probing the BROADCAST batch-hash frame; the updated
    * sigstats is the same scan map-side-merged with the broadcast
    * delta (new hashes arrive by a tiny union) — no corpus shuffle
    * anywhere. */
  private[graft] def cardUpdate(S: DataFrame, C: DataFrame, bf: DataFrame)
      : (DataFrame, DataFrame) = {
    // Batch hash profile: count + the (deterministic) holder-candidate
    // group for hashes the index has never seen. Tiny; checkpointed
    // (four consumers).
    val bsH = bf.groupBy(col("sig"))
      .agg(count(lit(1)).as("bcnt"),
        min(col("source")).as("b_src"), min(col("lang")).as("b_lang"))
      .checkpointed()
    // The ONE corpus-sized read: scan sigstats probing the broadcast
    // batch-hash frame — result is <= batch-sized.
    val hit = S.join(broadcast(bsH.select(col("sig"))), "sig")
      .select(col("sig"), col("cnt"), col("holder_source"),
        col("holder_lang"))
      .checkpointed()
    val expo = bf
      .join(broadcast(bsH.select(col("sig"), col("bcnt"))), "sig")
      .join(broadcast(hit.select(col("sig"), col("cnt"))), Seq("sig"), "left")
      .select(col("source"), col("lang"), col("n_chars"), col("n_toks"),
        col("pred"),
        (col("bcnt") >= 2 || coalesce(col("cnt"), lit(0L)) >= 1)
          .as("exposed"))
    val bAgg = expo.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("b_docs"),
        sum(col("n_chars")).as("b_chars"),
        sum(col("n_toks")).as("b_toks"),
        sum(when(col("pred") =!= col("lang"), 1L).otherwise(0L)).as("b_flags"),
        sum(when(col("exposed"), 1L).otherwise(0L)).as("b_dup"))
    val flips = hit.filter(col("cnt") === 1)
      .groupBy(col("holder_source").as("source"),
        col("holder_lang").as("lang"))
      .agg(count(lit(1)).as("f_dup"))
    // Merge the card-sized frames; shares/means recompute from the
    // exact integer sums.
    val merged = C.select(col("source"), col("lang"), col("n_docs"),
        col("sum_chars"), col("sum_tokens"), col("n_dup_docs"),
        col("n_langid_flag"))
      .join(bAgg, Seq("source", "lang"), "full_outer")
      .join(flips, Seq("source", "lang"), "full_outer")
      .select(col("source"), col("lang"),
        (coalesce(col("n_docs"), lit(0L)) +
          coalesce(col("b_docs"), lit(0L))).as("n_docs"),
        (coalesce(col("sum_chars"), lit(0L)) +
          coalesce(col("b_chars"), lit(0L))).as("sum_chars"),
        (coalesce(col("sum_tokens"), lit(0L)) +
          coalesce(col("b_toks"), lit(0L))).as("sum_tokens"),
        (coalesce(col("n_dup_docs"), lit(0L)) +
          coalesce(col("b_dup"), lit(0L)) +
          coalesce(col("f_dup"), lit(0L))).as("n_dup_docs"),
        (coalesce(col("n_langid_flag"), lit(0L)) +
          coalesce(col("b_flags"), lit(0L))).as("n_langid_flag"))
      .checkpointed()
    val card = cardProjection(merged, merged.agg(sum(col("n_docs")).as("nd")))
    // Updated sigstats: existing rows merged with the broadcast delta
    // (one map-side scan of S), new hashes appended by a tiny union;
    // holder columns keep the original owner, or adopt the batch's
    // deterministic candidate for never-seen hashes.
    val updatedExisting = S
      .join(broadcast(bsH.select(col("sig"), col("bcnt"))), Seq("sig"), "left")
      .select(col("sig"),
        (col("cnt") + coalesce(col("bcnt"), lit(0L))).as("cnt"),
        col("holder_source"), col("holder_lang"))
    val newRows = bsH.join(broadcast(hit.select(col("sig"))), Seq("sig"),
        "left_anti")
      .select(col("sig"), col("bcnt").as("cnt"),
        col("b_src").as("holder_source"), col("b_lang").as("holder_lang"))
    (card, updatedExisting.unionByName(newRows))
  }

  /** q127/q131's shared temperature-weight expression: n^tau for
    * tau = 1, 1/2, 1/4 as sqrt CHAINS (IEEE sqrt is correctly rounded
    * in both engines; exp/ln-based pow is not), 6dp-rounded so the
    * per-epoch weight sums can run decimal-exact. */
  private def tauWSql(e: String, n: String): String =
    s"""CASE $e WHEN 1 THEN CAST($n AS DOUBLE)
       |                 WHEN 2 THEN ROUND(sqrt(CAST($n AS DOUBLE)), 6)
       |                 ELSE ROUND(sqrt(sqrt(CAST($n AS DOUBLE))), 6) END""".stripMargin

  private def tauW(e: org.apache.spark.sql.Column,
      n: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(e === 1, n.cast("double"))
      .when(e === 2, round(sqrt(n.cast("double")), 6))
      .otherwise(round(sqrt(sqrt(n.cast("double"))), 6))

  /** q129/q133's shared DuckDB data-card CTE chain over relation `rel`
    * (must expose doc_id, source, lang, n_chars, text), through
    * `a(source, lang, n_docs, sum_chars, sum_tokens, n_dup_docs,
    * n_langid_flag)` + `tot(nd)` — factored so the card-on-append
    * oracle recomputes the IDENTICAL formula over the union. */
  private def dataCardCtesSql(rel: String): String = {
    val scores = TextQueries.Profiles.map { case (l, _) =>
      s"${TextQueries.langScoreSql("text", l)} AS s_$l"
    }.mkString(",\n       ")
    s"""f AS (SELECT doc_id, source, lang, n_chars,
       |         CAST(len(${TextOps.tokensSql("text")}) AS BIGINT) AS n_toks,
       |         md5(text) AS sig,
       |         $scores
       |       FROM $rel),
       |  p AS (SELECT *, ${TextQueries.langLadderSql(l => s"s_$l")} AS pred FROM f),
       |  f2 AS (SELECT *, COUNT(*) OVER (PARTITION BY sig) AS nsig FROM p),
       |  a AS (SELECT source, lang, COUNT(*) AS n_docs,
       |          CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       |          CAST(SUM(n_toks) AS BIGINT) AS sum_tokens,
       |          CAST(SUM(CASE WHEN nsig > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
       |          CAST(SUM(CASE WHEN pred <> lang THEN 1 ELSE 0 END) AS BIGINT) AS n_langid_flag
       |        FROM f2 GROUP BY 1, 2),
       |  tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM $rel)""".stripMargin
  }

  /** The card's shared final projection (shares/means recomputed from
    * the exact integer sums — which is what lets the incremental form
    * land on bit-identical doubles). */
  private def dataCardSelectSql: String =
    s"""SELECT source, lang, n_docs,
       |  ROUND(CAST(n_docs AS DOUBLE) / nd, 6) AS share_docs,
       |  sum_chars, sum_tokens,
       |  ROUND(CAST(sum_chars AS DOUBLE) / n_docs, 6) AS mean_chars,
       |  n_dup_docs, n_langid_flag
       |FROM a CROSS JOIN tot
       |ORDER BY source, lang""".stripMargin

  /** Per-doc card features `(doc_id, source, lang, n_chars, n_toks,
    * sig, pred)` — the Spark mirror of the `f`/`p` CTEs, shared by
    * q129, the persisted CardIndex build, and q133's batch side
    * (train/serve feature parity made structural). Map-only. */
  private[graft] def cardFeatures(d: DataFrame): DataFrame = {
    val base = Seq(col("doc_id"), col("source"), col("lang"), col("n_chars"),
      size(TextOps.tokens(col("text"))).cast("long").as("n_toks"),
      md5(col("text")).as("sig"))
    val scores = TextQueries.Profiles.map { case (l, _) =>
      TextQueries.langScore(col("text"), l).as(s"s_$l")
    }
    d.select(base ++ scores: _*)
      .withColumn("pred", TextQueries.langLadder(l => col(s"s_$l")))
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
        col("n_toks"), col("sig"), col("pred"))
  }

  /** The card aggregate from a [[cardFeatures]] frame: sig-keyed dup
    * window, (source, lang) group aggregate, 1-row total broadcast. */
  private[graft] def dataCardFromFeatures(f: DataFrame): DataFrame = {
    val f2 = f.withColumn("nsig", count(lit(1)).over(Window.partitionBy("sig")))
    val a = f2.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(col("n_toks")).as("sum_tokens"),
        sum(when(col("nsig") > 1, 1L).otherwise(0L)).as("n_dup_docs"),
        sum(when(col("pred") =!= col("lang"), 1L).otherwise(0L)).as("n_langid_flag"))
    cardProjection(a, f.agg(count(lit(1)).as("nd")))
  }

  /** The card's final projection over per-group sums `a` and the one-row
    * total `tot(nd)`, the engine side of [[dataCardSelectSql]]: shares
    * and means recompute from the exact integer sums, so the full and
    * incremental cards land on bit-identical doubles. */
  private def cardProjection(a: DataFrame, tot: DataFrame): DataFrame =
    a.crossJoin(broadcast(tot))
      .select(col("source"), col("lang"), col("n_docs"),
        round(col("n_docs").cast("double") / col("nd"), 6).as("share_docs"),
        col("sum_chars").cast("long").as("sum_chars"),
        col("sum_tokens").cast("long").as("sum_tokens"),
        round(col("sum_chars").cast("double") / col("n_docs"), 6).as("mean_chars"),
        col("n_dup_docs"), col("n_langid_flag"))

  /** q129's full card over a `(doc_id, source, lang, n_chars, text)`
    * frame — the from-scratch form the spec compares q133 against. */
  private[graft] def dataCardFrame(d: DataFrame): DataFrame =
    dataCardFromFeatures(cardFeatures(d))

  /** q133's append batch: every 5th doc re-enters shifted by 2·mx
    * (mx = max base doc_id + 1) — verbatim when 15 | id (an exact dup
    * of its base doc), otherwise with a doc-unique ' v2-<id>' suffix
    * (new text); every 20th doc ALSO lands at 4·mx + id with the SAME
    * transform, so those pairs are batch-INTERNAL duplicates the index
    * has never seen. Docs with 25 | id are relabeled 'de' to move the
    * lang-ID flag counts. The shifts are CORPUS-DERIVED so the three id
    * ranges — base [0, mx), b1 [2mx, 3mx), b2 [4mx, 5mx) — are disjoint
    * at ANY corpus, including the 10× probe replicas whose ids reach
    * ~9·Stride (fixed +110000/+120000 or +200000/+400000 shifts
    * collide on probe corpora). The transform keys (%5/%15/%20/%25) use the BASE id, so
    * batch TEXTS — and therefore the q133/q134 cards — are unchanged
    * by the shift rule; only q135's %37 removal membership reads the
    * shifted ids, mirrored exactly in the oracle. */
  private[graft] def cardBatch(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("source"), col("lang"),
      col("text"))
    val mx = d.agg((max(col("doc_id")) + lit(1L)).as("m"))
    def bt = when(col("doc_id") % 15 === 0, col("text"))
      .otherwise(concat(col("text"), lit(" v2-"), col("doc_id").cast("string")))
    def bl = when(col("doc_id") % 25 === 0, lit("de")).otherwise(col("lang"))
    val b1 = d.filter(col("doc_id") % 5 === 0).crossJoin(broadcast(mx))
      .select((col("doc_id") + col("m") * 2).as("doc_id"), col("source"),
        bl.as("lang"), bt.as("text"))
    val b2 = d.filter(col("doc_id") % 20 === 0).crossJoin(broadcast(mx))
      .select((col("doc_id") + col("m") * 4).as("doc_id"), col("source"),
        bl.as("lang"), bt.as("text"))
    b1.unionByName(b2).withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** q131/q132's shared DuckDB chain through `sel2(epoch, pos, doc_id,
    * lang, ens_micro, n_chars)` — the quality-annealed curriculum
    * manifest: the ensemble chain, per-epoch floor eligibility, and
    * q127's rate-keep selection re-derived over the gated populations.
    * Factored so the shard-packing capstone consumes the IDENTICAL
    * manifest text. */
  private def curriculumCtesSql: String = {
    val h = TextOps.hash60Sql(
      "'c' || CAST(el.e AS VARCHAR) || ':' || CAST(el.doc_id AS VARCHAR)")
    s"""$ensembleCtesSql,
       |  el0 AS (SELECT en.doc_id, d.lang, d.n_chars, en.ens_micro, ep.e,
       |            CASE ep.e WHEN 1 THEN CAST(0 AS BIGINT)
       |                      WHEN 2 THEN CAST(300000 AS BIGINT)
       |                      ELSE CAST(450000 AS BIGINT) END AS qfloor
       |          FROM en JOIN documents d ON en.doc_id = d.doc_id
       |          CROSS JOIN (SELECT unnest([1, 2, 3]) AS e) ep),
       |  el AS (SELECT * FROM el0 WHERE ens_micro >= qfloor),
       |  cnt2 AS (SELECT e, lang, CAST(COUNT(*) AS BIGINT) AS n FROM el GROUP BY 1, 2),
       |  tot2 AS (SELECT e, CAST(SUM(n) AS BIGINT) // 2 AS b FROM cnt2 GROUP BY 1),
       |  w2 AS (SELECT e, lang, n, ${tauWSql("e", "n")} AS w FROM cnt2),
       |  ws2 AS (SELECT e, ${ExactSql.dsum("w")} AS wsum FROM w2 GROUP BY 1),
       |  thr2 AS (SELECT w2.e, w2.lang,
       |             LEAST(CAST(FLOOR(w2.w / ws2.wsum * t.b / w2.n * $USize) AS BIGINT), $USize) AS thr
       |           FROM w2 JOIN ws2 USING (e) JOIN tot2 t USING (e)),
       |  sel2 AS (SELECT CAST(el.e AS BIGINT) AS epoch, $h AS pos,
       |             el.doc_id, el.lang, el.ens_micro, el.n_chars
       |           FROM el JOIN thr2 ON el.e = thr2.e AND el.lang = thr2.lang
       |           WHERE $h % $USize < thr2.thr)""".stripMargin
  }

  /** Spark mirror of [[curriculumCtesSql]]'s `sel2`: the pre-sort
    * quality-annealed manifest `(epoch, pos, doc_id, lang, ens_micro,
    * n_chars)`. Eligible (doc, epoch) pairs checkpoint once (two
    * consumers: the counts frame and the selection scan of the
    * ensemble-heavy subtree); after that everything is q127's
    * map-only shape with a 15-row threshold broadcast. The thresholds
    * come from the per-(e, lang) counts in one aggregate and ONE window
    * partitioned by `e` (Σn and the exact-decimal Σw side by side), not
    * from the oracle's tot2/ws2 aggregates joined back: those cost q132
    * a checkpoint, three exchanges and two joins over 15 rows. */
  private[graft] def curriculumFrame(s: SparkSession, dir: String): DataFrame = {
    val en = ensembleScored(s, dir).select(col("doc_id"), col("ens_micro"))
    val meta = docs(s, dir).select(col("doc_id"), col("lang"), col("n_chars"))
    val el = en.join(meta, "doc_id")
      .withColumn("e", explode(lit(Array(1, 2, 3))))
      .withColumn("qfloor",
        when(col("e") === 1, lit(0L)).when(col("e") === 2, lit(300000L))
          .otherwise(lit(450000L)))
      .filter(col("ens_micro") >= col("qfloor"))
      .checkpointed()
    val byE = Window.partitionBy("e")
    val thr2 = el.groupBy(col("e"), col("lang")).agg(count(lit(1)).as("n"))
      .withColumn("w", tauW(col("e"), col("n")))
      .select(col("e"), col("lang"), col("n"), col("w"),
        Exact.dsumOver(col("w"), byE).as("wsum"),
        sum(col("n")).over(byE).as("nd"))
      .withColumn("b", expr("nd div 2"))
      .select(col("e"), col("lang"),
        least(floor(col("w") / col("wsum") * col("b") / col("n") * lit(USize)),
          lit(USize)).as("thr"))
    val h = TextOps.hash60(concat(lit("c"), col("e").cast("string"),
      lit(":"), col("doc_id").cast("string")))
    el.join(broadcast(thr2), Seq("e", "lang"))
      .withColumn("pos", h)
      .filter(col("pos") % USize < col("thr"))
      .select(col("e").cast("long").as("epoch"), col("pos"),
        col("doc_id"), col("lang"), col("ens_micro"), col("n_chars"))
  }


  /** q130's prefix sum: every doc with `strt`, its byte offset in the
    * hash write order, and the corpus total `_ptot`. The two-phase
    * prefix sum is the SHARED [[exclusivePrefix]] (q132 packs the
    * curriculum with the same machinery): the bucket-count-row
    * bucket-total frame checkpoints inside it and windows into BOTH the
    * offsets and the grand total, so the corpus contributes one
    * aggregate scan + one cumsum scan. */
  private[graft] def shardPrefix(s: SparkSession, dir: String): DataFrame = {
    val b = docs(s, dir).select(col("doc_id"), col("n_chars"),
        TextOps.hash60(col("doc_id").cast("string")).as("h"))
      .withColumn("bk", expr(s"h div ${bucketWidth(s)}"))
    exclusivePrefix(b, Seq.empty, "bk", Seq("h", "doc_id"), "n_chars")
  }

  /** q132's prefix sum: every admitted (epoch, doc) with `strt`, its
    * byte offset in the epoch's curriculum order, and the epoch total
    * `_ptot`. The manifest is the expensive subtree (ensemble +
    * selection): it checkpoints once for its two consumers inside the
    * prefix sum (bucket totals, within-bucket cumsum). */
  private[graft] def curriculumPrefix(s: SparkSession, dir: String): DataFrame = {
    val m = curriculumFrame(s, dir)
      .select(col("epoch"), col("pos"), col("doc_id"), col("n_chars"))
      .withColumn("bk", expr(s"pos div ${bucketWidth(s)}"))
      .checkpointed()
    exclusivePrefix(m, Seq("epoch"), "bk", Seq("pos", "doc_id"), "n_chars")
  }

  /** The q130/q132 shared two-phase distributed EXCLUSIVE prefix sum
    * of `value` in (part*, bucket, order*) order: per-(part, bucket)
    * totals aggregate (checkpointed — constant-sized at any corpus),
    * the offset table windows per part over the bucket index (≤
    * #buckets rows per part — the only single-task window), and
    * within-bucket cumsums run fully partitioned. Returns the input
    * plus `strt` and the part's total `_ptot`: a second window over the
    * same bounded bucket-totals frame, so a caller's shard target is a
    * column, not a separate total aggregate broadcast back (that cost
    * q132 a stage, a broadcast and a join per run; with the window
    * thresholds of [[curriculumFrame]] and the observed bounds of
    * [[ensembleScored]], a q132 run starts 31 jobs, not 40, in a traced
    * perfbench `suite` pass on 4 cores). The caller
    * guarantees `bucket` is monotone in the intended global order (hash
    * order for q130, pos ranges for q132) and that `df` is cheap to
    * scan twice or checkpointed. */
  private def exclusivePrefix(df: DataFrame, part: Seq[String],
      bucket: String, order: Seq[String], value: String): DataFrame = {
    val pb = (part :+ bucket).map(col)
    val byPart = Window.partitionBy(part.map(col): _*)
    val off = df.groupBy(pb: _*).agg(sum(col(value)).as("_btot"))
      .checkpointed()
      .select(pb ++ Seq(
        coalesce(sum(col("_btot")).over(byPart.orderBy(bucket)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("_off"),
        sum(col("_btot")).over(byPart).as("_ptot")): _*)
    val cum = df.withColumn("_cum",
      sum(col(value)).over(
        Window.partitionBy(pb: _*).orderBy(order.map(col): _*)))
    cum.join(broadcast(off), part :+ bucket)
      .withColumn("strt", col("_off") + col("_cum") - col(value))
      .drop("_off", "_cum")
  }

  /** The q128 ensemble's full DuckDB CTE chain, through
    * `en(doc_id, ens_micro, rq_micro, rr_micro, hb_micro, disagree)` —
    * factored so q131's quality-annealed curriculum consumes the
    * IDENTICAL ensemble text. Every column is the round-free tier:
    * raw signals (exact decimals / IEEE quotients — bit-identical
    * doubles in both engines), raw min-max normalization, FLOOR micro
    * integers, and a raw-double spread comparison. */
  private def ensembleCtesSql: String = {
    val toks = TextOps.tokensSql("text")
    s"""${TextQueries.lmScoredCtes},
       |  qs AS (${TextQueries.qualityScoredSql}),
       |  g AS (SELECT doc_id, unnest([list_aggregate(list_slice(ts, i, i + 2), 'string_agg', ' ')
       |                               for i in range(1, len(ts) - 1)]) AS t3
       |        FROM (SELECT doc_id, $toks AS ts FROM documents)),
       |  rep AS (SELECT doc_id,
       |            CAST(1 AS DOUBLE) - CAST(COUNT(DISTINCT t3) AS DOUBLE) / COUNT(*) AS rr_raw
       |          FROM g GROUP BY 1),
       |  j AS (SELECT doc_id, qs.quality AS rq_raw, rep.rr_raw, scored.hb_raw
       |        FROM qs JOIN rep USING (doc_id) JOIN scored USING (doc_id)
       |        WHERE qs.n_tokens >= 3),
       |  st AS (SELECT MIN(rq_raw) AS mnq_r, MAX(rq_raw) AS mxq_r,
       |                MIN(rr_raw) AS mnr_r, MAX(rr_raw) AS mxr_r,
       |                MIN(hb_raw) AS mnh_r, MAX(hb_raw) AS mxh_r FROM j),
       |  nz AS (SELECT doc_id, rq_raw, rr_raw, hb_raw,
       |           COALESCE((rq_raw - mnq_r) / NULLIF(mxq_r - mnq_r, 0), CAST(0.5 AS DOUBLE)) AS gq_raw,
       |           CAST(1 AS DOUBLE) - COALESCE((rr_raw - mnr_r) / NULLIF(mxr_r - mnr_r, 0), CAST(0.5 AS DOUBLE)) AS gr_raw,
       |           CAST(1 AS DOUBLE) - COALESCE((hb_raw - mnh_r) / NULLIF(mxh_r - mnh_r, 0), CAST(0.5 AS DOUBLE)) AS gh_raw
       |         FROM j CROSS JOIN st),
       |  en AS (SELECT doc_id,
       |           CAST(FLOOR(((gq_raw + gr_raw) + gh_raw) / 3 * 1000000) AS BIGINT) AS ens_micro,
       |           CAST(FLOOR(rq_raw * 1000000) AS BIGINT) AS rq_micro,
       |           CAST(FLOOR(rr_raw * 1000000) AS BIGINT) AS rr_micro,
       |           CAST(FLOOR(hb_raw * 1000000) AS BIGINT) AS hb_micro,
       |           (GREATEST(gq_raw, gr_raw, gh_raw) - LEAST(gq_raw, gr_raw, gh_raw))
       |             > CAST(0.5 AS DOUBLE) AS disagree
       |         FROM nz)""".stripMargin
  }

  /** Spark mirror of [[ensembleCtesSql]]'s `en`: the per-doc scored
    * ensemble `(doc_id, ens_micro, rq_micro, rr_micro, hb_micro,
    * disagree)`. The joined signal frame is checkpointed inside, and
    * the six min/max values the normalization needs ride that same
    * checkpoint job as a `Dataset.observe` (see [[signalBounds]]); they
    * enter the normalize pass as literals. The oracle's 1-row `st`
    * aggregate broadcast back onto the frame cost q128/q131/q132 an
    * exchange, a broadcast nested-loop join and a job per run (q128 22
    * jobs, now 20, in `graft.Bench`'s second sf0.001 pass).
    *
    * Everything here is the TIE-FREE integer micro tier. A 6dp ROUND
    * path cannot be used per-doc: ROUND(x, 6) genuinely half-ties
    * cross-engine — `quality` is an EXACT 7-decimal value by
    * construction (decimal arithmetic), so docs land precisely on
    * x.xxxxxx5 and the engines' decimal-round implementations split
    * (observed: 23 docs at sf0.001 quality 0.518421 vs 0.51842);
    * hb/rr quotients with tiny denominators hit the same halves. The
    * micro path therefore never decimal-rounds ANYWHERE: raw signals
    * (exact-decimal casts and IEEE divisions — bit-identical doubles
    * in both engines), raw min-max, raw quotients, FLOOR of identical
    * doubles, and raw-double comparisons — all deterministic. This
    * covers ens_micro (q131's per-doc output) and q128's bins, means
    * and spread alike. */
  private[graft] def ensembleScored(s: SparkSession, dir: String): DataFrame = {
    val (j, st) = signalBounds(ensembleJoined(s, dir))
    def v(name: String) = lit(st(name)).cast("double")
    def normRaw(x: String, mn: String, mx: String) =
      coalesce((col(x) - v(mn)) / nullif(v(mx) - v(mn), lit(0)), lit(0.5))
    val nz = j.select(
      col("doc_id"), col("rq_raw"), col("rr_raw"), col("hb_raw"),
      normRaw("rq_raw", "mnq_r", "mxq_r").as("gq_raw"),
      (lit(1.0) - normRaw("rr_raw", "mnr_r", "mxr_r")).as("gr_raw"),
      (lit(1.0) - normRaw("hb_raw", "mnh_r", "mxh_r")).as("gh_raw"))
    nz.select(col("doc_id"),
      floor((col("gq_raw") + col("gr_raw") + col("gh_raw")) / 3 * 1000000)
        .cast("long").as("ens_micro"),
      floor(col("rq_raw") * 1000000).cast("long").as("rq_micro"),
      floor(col("rr_raw") * 1000000).cast("long").as("rr_micro"),
      floor(col("hb_raw") * 1000000).cast("long").as("hb_micro"),
      (greatest(col("gq_raw"), col("gr_raw"), col("gh_raw")) -
        least(col("gq_raw"), col("gr_raw"), col("gh_raw")) > 0.5).as("disagree"))
  }

  /** Checkpoint the joined signal frame and observe its six min/max
    * values (`mnq_r`, `mxq_r`, `mnr_r`, `mxr_r`, `mnh_r`, `mxh_r`;
    * null for an empty frame, as the aggregate gives) on the
    * checkpoint's own job. Both [[graft.Materialize]] paths checkpoint
    * eagerly through the observed frame's own query execution (the
    * reliable one from its cache, whose plan holds the observation), so
    * its metrics are final when the checkpoint returns. They are read
    * from that execution directly: an `Observation` waits for a
    * listener-bus event with no timeout. */
  private[graft] def signalBounds(joined: DataFrame)
      : (DataFrame, Map[String, Any]) = {
    val bounds = Seq("q" -> "rq_raw", "r" -> "rr_raw", "h" -> "hb_raw")
      .flatMap { case (k, c) =>
        Seq(min(col(c)).as(s"mn${k}_r"), max(col(c)).as(s"mx${k}_r"))
      }
    val observed = joined.observe("signal_bounds", bounds.head, bounds.tail: _*)
    val j = observed.checkpointed()
    val row = observed.queryExecution.observedMetrics("signal_bounds")
    (j, row.getValuesMap[Any](row.schema.fieldNames.toSeq))
  }

  /** q128's joined signal frame `(doc_id, rq_raw, rr_raw, hb_raw)`,
    * BEFORE its checkpoint — kept separately callable because the
    * checkpoint truncates the registered plan to an RDD scan and this
    * is where the load-bearing shape lives (three SHARED doc-keyed
    * signal frames equi-joined on doc_id; PlanShapeSpec pins it). */
  private[graft] def ensembleJoined(s: SparkSession, dir: String): DataFrame = {
    val qf = TextQueries.qualityFrame(s, dir)
      .filter(col("n_tokens") >= 3)
      .select(col("doc_id"), col("quality").as("rq_raw"))
    val rep = DedupQueries.shingleRowsOf(
        docs(s, dir).select(col("doc_id"), col("text")), 3)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), count_distinct(col("t")).as("n_distinct"))
      .select(col("doc_id"),
        (lit(1.0) - col("n_distinct").cast("double") / col("n_grams")).as("rr_raw"))
    val scored = TextQueries.lmScoredFrame(s, dir)
      .select(col("doc_id"), col("hb_raw"))
    qf.join(rep, "doc_id").join(scored, "doc_id")
  }
}
