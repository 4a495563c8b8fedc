package graft.operators

import graft.Materialize.CheckpointOps
import graft.{NamedQuery, Overlap, Tables}
import graft.NamedQuery.{q, PresentationOps}
import graft.functions.{Exact, ExactSql, TextOps}
import graft.plans.CollectTopK
import graft.streaming.Drain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation queries over `documents` (SURVEY.md §2.10 X3/X4
  * umbrella): the assignment/selection passes a training-data pipeline
  * runs between profiling (q29/q33-q35) and shipping — deterministic
  * holdout splits and domain-mixture rebalancing. Nothing here is
  * random: every selection keys off a stable md5-derived hash of the
  * document id ([[TextOps.hash60]] — identical in DuckDB), so re-runs,
  * retries, and incremental extensions of the corpus never reshuffle
  * past assignments. That determinism is the operator; rand()-based
  * sampling cannot be re-derived or oracle-checked.
  */
object CurationQueries {
  import TextQueries.{appendBatch, docs}

  /** Stable per-doc hash, DuckDB-mirrorable. */
  private val hashSql =
    "CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)"

  /** Target mixture for q62 (must sum to 1 over the corpus langs). */
  private val Mixture: Seq[(String, Double)] = Seq(
    "de" -> 0.15, "en" -> 0.4, "es" -> 0.15, "fr" -> 0.15, "zh" -> 0.15)

  /** Tokens per packed training context (q70). */
  private val PackLen = 512

  /** q107 priority-sampling knobs: k docs per language stratum; the
    * hash-uniform denominator (2^20) and the priority scale (2^32).
    * Scale / denominator = 2^12 = 4096 converts weights into priority
    * units; all are powers of two so every priority and threshold is
    * an exact integer below 2^53 (doubles round-trip through the
    * CollectTopK heap losslessly). WCap (2^21 − 1) ENFORCES that bound
    * rather than assuming it: an uncapped multi-megabyte document's
    * weight times 2^32 would cross 2^53, where the Spark heap's double
    * rounds while DuckDB compares exact BIGINTs — divergent samples at
    * the rank-k boundary. Capping is a policy choice priority sampling
    * admits (any positive weight is valid); both engines cap
    * identically so the gate still hash-matches. */
  private val SampleK = 100
  private[operators] val USize = 1048576L // 2^20
  private val PriScale = 4294967296L // 2^32
  private val WScale = PriScale / USize // 2^12
  private val WCap = 2097151L // 2^21 - 1: max weight with pri < 2^53

  /** q115 quality-classifier knobs: hashed-unigram feature buckets
    * b ∈ [0,64), plus b=64 (capped-length feature) and b=65 (bias);
    * QcRounds full-batch gradient updates traced by QcRounds+1 eval
    * rows; lr = 4.0 is the largest rate with a monotone loss
    * trajectory at all three registered SFs (8.0 diverges); the label
    * threshold 0.46 sits at the corpus quality median (pos fraction
    * 0.49–0.54 across SFs). */
  private[graft] val QcBuckets = 64
  private val QcRounds = 5
  private val QcLr = "4.0"
  private val QcThSql = "CAST(0.46 AS DECIMAL(8,6))"

  private val QcDec = org.apache.spark.sql.types.DecimalType(18, 6)

  /** One sigmoid pass of q115's trainer: the ≤66-entry weight vector
    * ships INSIDE the task closure as a map literal (the MLlib
    * GradientDescent shape — parameters to data; a model too big for a
    * literal would `broadcast()` instead, same plan class), so applying
    * the parameters is a per-row map lookup, NO join at all; z is an
    * exact-decimal window sum over the doc's feature rows (one
    * doc-keyed exchange), p the 6dp-rounded sigmoid cast back to
    * decimal. Exposed for PlanShapeSpec's no-join pin. */
  private[graft] def qcScored(
      featY: DataFrame, w: Map[Int, java.math.BigDecimal]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wv = element_at(typedlit(w), col("b")).cast(QcDec)
    featY
      .withColumn("z", sum(col("x") * wv).over(Window.partitionBy("doc_id")))
      .withColumn("p",
        round(lit(1) / (lit(1) + exp(-col("z").cast("double"))), 6).cast(QcDec))
  }

  /** q115's gradient allreduce: one hash aggregate keyed on the bucket,
    * collapsing the corpus to ≤66 partial-summed rows (which then ride
    * to the driver — the treeAggregate step of distributed LR). */
  private[graft] def qcGradient(scored: DataFrame): DataFrame =
    scored.groupBy(col("b")).agg(sum((col("p") - col("y")) * col("x")).as("g"))

  /** q115's labeled feature frame over any `(doc_id, text)` frame:
    * per-(doc, bucket) normalized hashed-unigram counts ∪ the
    * capped-length feature (b = QcBuckets) ∪ bias (b = QcBuckets+1),
    * joined with the exact-decimal rule label y = [q34 quality ≥ 0.46].
    * One tokenize pass; everything downstream of it is reduced. q116
    * featurizes an append BATCH with the identical pipeline the model
    * was trained on (train/serve feature parity is the whole point of
    * sharing this).
    *
    * SINGLE-PASS REWRITE MEASURED AND REJECTED (do not re-try
    * without a fresh in-suite A/B): a one-scan shape (posexplode_outer
    * carrying a pos-0-guarded label → (doc,bucket) count aggregate →
    * doc-keyed collect_list → codegen'd feature explode, zero joins)
    * cut taskRun ~25% (q115 33.3→24-29 s) but LOST wall in-suite:
    * isolated min-of-4 q115 3.37→3.53 s, q125 5.16→5.97 s; subset
    * bench (matched controls) touched-family +2.0-2.4 s, q125
    * +1.2-1.3 s. Mechanism: at sf0.1 every scan is one row-group, and
    * this 5-branch plan's three heavy single-task branches (hf/nt/lab)
    * run CONCURRENTLY — and overlap with q125's helper-thread BPE retrain —
    * while the fused chain serializes its critical path. Two interim
    * variants were worse still: referencing the bucket md5 inside 64
    * conditional sums re-evaluated it per sum (q115 → 40 s); an
    * unguarded pre-explode label projection was CollapseProject'd
    * above the Generate and ran the interpreted-HOF quality CASE per
    * TOKEN row (q115 → 54 s); a `transform`-built feature array
    * (interpreted HOF) cost +0.3-1.3 s per consumer; a numbered
    * doc-spread before the chain regressed the whole subset. At
    * 100 TB the fused shape's 1-scan/2-small-exchange profile wins on
    * total work — revisit only with a multi-file layout where branch
    * concurrency is free anyway. */
  private[graft] def qcFeaturesOf(d: DataFrame): DataFrame = {
    val B = QcBuckets
    val toksC = TextOps.tokens(col("text"))
    // q34's exact-decimal quality, compared AS DECIMAL to the 0.46
    // threshold (never the cast double).
    val ratios = d.select(col("doc_id"),
      size(toksC).cast("long").as("n_tokens"),
      round((length(col("text")) -
        length(regexp_replace(col("text"), "[a-z0-9 ]", ""))).cast("double") /
        nullif(length(col("text")), lit(0)), 6).as("punct_ratio"),
      round(size(filter(toksC, t => t.isin(TextQueries.Stopwords: _*))).cast("double") /
        nullif(size(toksC), lit(0)), 6).as("stop_ratio"))
    val one8 = expr("CAST(1 AS DECIMAL(8,6))")
    val pd = col("punct_ratio").cast(QcDec)
    val sd = col("stop_ratio").cast(QcDec)
    val lenScore = when(col("n_tokens") >= 50, one8)
      .otherwise((col("n_tokens") * expr("CAST(0.02 AS DECIMAL(3,2))"))
        .cast(org.apache.spark.sql.types.DecimalType(8, 6)))
    val stopScore = when(sd * 5 >= 1, expr("CAST(1 AS DECIMAL(18,6))")).otherwise(sd * 5)
    val quality = expr("CAST(0.4 AS DECIMAL(2,1))") * lenScore +
      expr("CAST(0.3 AS DECIMAL(2,1))") * (one8 - pd) +
      expr("CAST(0.3 AS DECIMAL(2,1))") * stopScore
    val lab = ratios.select(col("doc_id"),
      when(quality >= expr(QcThSql), 1).otherwise(0).as("y"))
    val tok = d.select(col("doc_id"), explode(toksC).as("t"))
    val nt = tok.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val hf = tok
      .select(col("doc_id"), (TextOps.hash60(col("t")) % B).cast("int").as("b"))
      .groupBy("doc_id", "b").agg(count(lit(1)).as("c"))
    hf.join(nt, "doc_id")
      .select(col("doc_id"), col("b"),
        round(col("c").cast("double") / col("n"), 6).cast(QcDec).as("x"))
      .unionByName(nt.select(col("doc_id"), lit(B).cast("int").as("b"),
        round(least(col("n"), lit(50)).cast("double") / lit(50), 6).cast(QcDec).as("x")))
      .unionByName(d.select(col("doc_id"), lit(B + 1).cast("int").as("b"),
        lit(1).cast(QcDec).as("x")))
      .join(lab, "doc_id")
  }

  /** All-zero initial weights over the full bucket range (hashed ∪
    * length ∪ bias), for plan dumps and round-0 scoring. */
  private[graft] def qcZeroWeights: Map[Int, java.math.BigDecimal] =
    (0 to QcBuckets + 1)
      .map(_ -> java.math.BigDecimal.ZERO.setScale(6)).toMap

  /** q115's full training loop (see the q115 scaladoc for the plan and
    * exactness arguments): returns the final 6dp weight vector and the
    * per-eval trace rows (iter, loss, n_correct, w_l1, w_nnz). Shared
    * by the q115 query (which ships the trace) and [[qcModelPrepared]]
    * (which persists the weights). */
  private[graft] def qcTrain(s: SparkSession, dir: String)
      : (Map[Int, java.math.BigDecimal], Seq[(Int, Double, Long, Double, Long)]) =
    qcTrainOf(s, docs(s, dir))

  /** Same, over any `(doc_id, text)` frame — q125 RETRAINS on the
    * post-takedown corpus with the identical loop (retrain-on-takedown:
    * an aggregate artifact trained on removed docs is rebuilt from the
    * survivors, not patched). */
  private[graft] def qcTrainOf(s: SparkSession, d: DataFrame)
      : (Map[Int, java.math.BigDecimal], Seq[(Int, Double, Long, Double, Long)]) = {
    import java.math.{BigDecimal => JDec, RoundingMode}
    // Spark's round(double, s) is valueOf → setScale(HALF_UP); the
    // driver-side update mirrors it bit-for-bit (same op chain the
    // DuckDB oracle's ROUND/CAST agrees with everywhere else).
    def round6(x: Double): Double =
      JDec.valueOf(x).setScale(6, RoundingMode.HALF_UP).doubleValue
    // ONE corpus materialization, CO-PARTITIONED on the window's key:
    // a cached (not checkpointed) frame keeps its outputPartitioning,
    // so every round's doc-keyed window runs exchange-free — the only
    // per-round exchange left is the 66-partial gradient combine.
    // Materialized by round 0's gradient job; unpersisted before
    // return (the trace is a local relation), so the query leaves no
    // block-manager debt behind.
    val featY = qcFeaturesOf(d).repartition(col("doc_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Round-0 weights: the full-range zero map stands in for the bucket
    // census (saving the census's own full pass over featY, a
    // `select(b).distinct().collect()` job). Equivalence: every
    // feature row's bucket is present in both maps with value 0.000000,
    // so round 0's z ≡ 0 either way, and the TRUE census (distinct b of
    // featY) comes back for free as round-0's gradient keyset — w is
    // re-keyed to it before the first update, so the returned weight
    // table (and q125's audited row count) is bucket-for-bucket what
    // the census built.
    var w: Map[Int, JDec] = qcZeroWeights
    val isDoc = col("b") === QcBuckets + 1 // bias row: exactly one per doc
    val pcC = least(greatest(col("p").cast("double"), lit(0.000001)), lit(0.999999))
    val ceC = round(-(col("y") * log(pcC) + (lit(1) - col("y")) * log(lit(1) - pcC)), 6)
    val trace = Seq.newBuilder[(Int, Double, Long, Double, Long)]
    for (r <- 0 to QcRounds) {
      // ONE job per round: the bucket-keyed gradient collect, with the
      // eval metrics (exact-decimal ce sum, doc count, correct count)
      // riding the same materialization via observe — no second pass.
      val obs = org.apache.spark.sql.Observation(s"qc-eval-$r")
      val g = qcGradient(qcScored(featY, w)
        .observe(obs,
          sum(when(isDoc, ceC).cast(Exact.Dec)).as("ce_sum"),
          count(when(isDoc, lit(1))).as("n_docs"),
          sum(when(isDoc &&
              ((col("p") >= lit(0.5).cast(QcDec)) === (col("y") === 1)), 1L)
            .otherwise(0L)).as("n_correct")))
        .collect().map(row => row.getInt(0) -> row.getDecimal(1)).toMap
      // The gradient's keyset IS the bucket census (groupBy(b) over
      // featY): re-key w to it at round 0 so every later round — and
      // the returned table — carries exactly the censused buckets.
      if (r == 0) w = g.map { case (b, _) => b -> JDec.ZERO.setScale(6) }
      val m = obs.get
      val nDocs = m("n_docs").asInstanceOf[Long]
      // ExactSql.davgRound mirrored on the observed exact-decimal sum:
      // CAST(SUM(DECIMAL) AS DOUBLE) / COUNT, rounded 6dp.
      val loss = round6(m("ce_sum").asInstanceOf[JDec].doubleValue / nDocs)
      // Weight census in exact driver decimals (≡ SQL's
      // CAST(SUM(ABS(w)) AS DOUBLE) over the same bucket set).
      val wL1 = w.valuesIterator
        .foldLeft(JDec.ZERO)((a, v) => a.add(v.abs)).doubleValue
      val wNnz = w.valuesIterator.count(_.signum != 0).toLong
      trace += ((r, loss, m("n_correct").asInstanceOf[Long], wL1, wNnz))
      // The parameter-server step of distributed LR (what MLlib's
      // GradientDescent runs): the ≤66-row gradient landed on the
      // driver; update mirrors the oracle's double expression
      // w − (lr·g)/n exactly, then re-quantizes to DECIMAL(18,6).
      if (r < QcRounds)
        w = w.map { case (b, wb) =>
          val gb = g.getOrElse(b, JDec.ZERO)
          b -> JDec.valueOf(round6(
              wb.doubleValue - QcLr.toDouble * gb.doubleValue / nDocs))
            .setScale(6, RoundingMode.HALF_UP)
        }
    }
    featY.unpersist(blocking = false)
    (w, trace.result())
  }

  /** The PERSISTED trained model (q116's index side): built once per
    * corpus fingerprint via [[qcTrain]] and published through the same
    * build-into-tmp + rename discipline as DedupIndex / the BPE merge
    * table — the production precondition of score-on-append: the model
    * already EXISTS, a new batch never retrains. Weights ship as
    * (bucket, plain-string decimal) so the artifact is engine-agnostic
    * text with no parquet-decimal round-trip to reason about. */
  private[graft] def qcModelPrepared(s: SparkSession, sfDir: String): String =
    graft.pipeline.PreparedArtifact.publishOnce(s, "graft_qc_model",
        graft.pipeline.PreparedArtifact.fingerprint(s, sfDir, "documents")) { tmp =>
      qcModelRows(s, qcTrain(s, sfDir)._1).write.mode("overwrite").parquet(tmp.toString)
    }

  /** A weight vector as the persisted model's rows, in one partition. */
  private def qcModelRows(s: SparkSession, w: Map[Int, java.math.BigDecimal]): DataFrame = {
    import s.implicits._
    w.toSeq.sortBy(_._1).map { case (b, v) => (b, v.toPlainString) }
      .toDF("b", "w").repartition(1)
  }

  /** q118's drain, file-count parameterized (each file is one
    * micro-batch under maxFilesPerTrigger=1; the registered query runs
    * 2; the `backlog` family of the test-scope scale probe drains a
    * 10-file backlog to measure the per-micro-batch marginal cost). */
  private[graft] def qcStreamDrain(s: SparkSession, dir: String,
      nFiles: Int): DataFrame = {
    val w = qcModelWeights(s, dir)
    val root = graft.TempDirs.fresh("q118")
    val target = new Drain.Target(Drain.targetDir(root))
    Drain.split(root, appendBatch(s, dir, 4, 11), nFiles)(
      Drain.appendEach(target)(qcAdmission(_, w)))
    target.read(s).orderBy("doc_id")
  }

  /** The persisted model's ≤66 (bucket, weight) rows, read once. */
  private def qcModelWeights(s: SparkSession, dir: String): Map[Int, java.math.BigDecimal] =
    Tables.read(s, qcModelPrepared(s, dir)).collect()
      .map(r => r.getAs[Int]("b") -> new java.math.BigDecimal(r.getAs[String]("w")))
      .toMap

  /** Score `(doc_id, text)` docs with weights `w` in the task closure:
    * `(doc_id, y, p, admitted)`, admitted = p ≥ 0.5 (q116, q117's gate,
    * each q118 micro-batch). */
  private def qcAdmission(b: DataFrame, w: Map[Int, java.math.BigDecimal]): DataFrame =
    qcScored(qcFeaturesOf(b), w)
      .filter(col("b") === QcBuckets + 1) // bias row: one per doc
      .select(col("doc_id"), col("y"),
        col("p").cast("double").as("p"),
        (col("p") >= lit(0.5).cast(QcDec)).as("admitted"))

  /** DuckDB mirror of scoring `{pfx}feat` with the trained `w{QcRounds}`:
    * `{pfx}z` (logit) and `{pfx}p` (6dp sigmoid) per doc. */
  private def qcScoreCtesSql(pfx: String): String =
    s"""${pfx}z AS (SELECT f.doc_id, SUM(f.x * w.w) AS z
       |    FROM ${pfx}feat f JOIN w$QcRounds w USING (b) GROUP BY 1),
       |  ${pfx}p AS (SELECT doc_id,
       |      CAST(ROUND(1 / (1 + EXP(-CAST(z AS DOUBLE))), 6) AS DECIMAL(18,6)) AS p
       |    FROM ${pfx}z)""".stripMargin

  /** q116/q118's oracle: retrain the model in the unrolled chain, then
    * score [[TextQueries.appendBatch]]`(rem, m)` through the same feature CTEs. */
  private def qcAppendScoreSql(rem: Int, m: Int): String =
    s"""WITH ${qcFeatureCtesSql("documents", "")},
       |  ${qcTrainCtesSql(withEval = false)},
       |  batch AS (SELECT doc_id + 70000 AS doc_id,
       |      concat(text, ' zq', CAST(doc_id % $m AS VARCHAR)) AS text
       |    FROM documents WHERE doc_id % 5 = $rem),
       |  ${qcFeatureCtesSql("batch", "b")},
       |  ${qcScoreCtesSql("b")}
       |SELECT bp.doc_id, blab.y, CAST(p AS DOUBLE) AS p,
       |  (p >= CAST(0.5 AS DECIMAL(18,6))) AS admitted
       |FROM bp JOIN blab USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** q75/q117's exact-dedup stage: every 7th doc planted verbatim under
    * id+20000, then the lowest id per content hash survives. */
  private def shipSurvivors(base: DataFrame): DataFrame = {
    val u = DedupQueries.withPlanted(base, (7, 20000, identity))
    u.join(u.groupBy(md5(col("text"))).agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id"), "doc_id")
  }

  /** DuckDB mirror of [[shipSurvivors]]: `u`, then `keep(doc_id)`. */
  private def shipDedupCtesSql: String =
    s"""u AS (${DedupQueries.plantedSql(7, 20000, "text", " " * 5)}),
       |  keep AS (SELECT MIN(doc_id) AS doc_id FROM u GROUP BY md5(text))""".stripMargin

  /** q78/q96's two corpus versions, full-outer joined on the key:
    * `(doc_id, h1, h2, in1, in2)`, h = md5(text). v2 deletes every 9th
    * doc, rewrites every 5th survivor (first token dropped) and adds
    * re-keyed copies of every 10th doc at id+70000. */
  private def snapshotDiff(docs: DataFrame): DataFrame = {
    val v2 = docs.filter(col("doc_id") % 9 =!= 0)
      .select(col("doc_id").as("id2"), md5(when(col("doc_id") % 5 === 0,
        DedupQueries.dropFirstTok(col("text"))).otherwise(col("text"))).as("h2"))
      .unionAll(docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 70000).as("id2"), md5(col("text")).as("h2")))
    docs.select(col("doc_id").as("id1"), md5(col("text")).as("h1"))
      .join(v2, col("id1") === col("id2"), "full_outer")
      .select(coalesce(col("id1"), col("id2")).as("doc_id"), col("h1"), col("h2"),
        col("id1").isNotNull.as("in1"), col("id2").isNotNull.as("in2"))
  }

  /** DuckDB mirror of [[snapshotDiff]]'s versions: `v1`, `v2`. */
  private def snapshotCtesSql: String =
    s"""v1 AS (SELECT doc_id, md5(text) AS h FROM documents),
       |  v2 AS (SELECT doc_id,
       |           md5(CASE WHEN doc_id % 5 = 0
       |               THEN ${DedupQueries.dropFirstTokSql} ELSE text END) AS h
       |         FROM documents WHERE doc_id % 9 <> 0
       |         UNION ALL
       |         SELECT doc_id + 70000, md5(text) FROM documents WHERE doc_id % 10 = 0)""".stripMargin

  /** q115/q116 shared oracle SQL: the labeled-feature CTEs over source
    * relation `src`, CTE names prefixed `pfx` (q116 featurizes the
    * append batch beside the training chain with pfx = "b" — identical
    * construction, the train/serve feature-parity requirement made
    * literal by sharing the generator). */
  private def qcFeatureCtesSql(src: String, pfx: String): String = {
    val toks = TextOps.tokensSql("text")
    val h = TextOps.hash60Sql("t")
    val set = TextQueries.Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    val B = QcBuckets
    s"""${pfx}tok AS (SELECT doc_id, unnest($toks) AS t FROM $src),
       |  ${pfx}rat AS (SELECT doc_id,
       |      CAST(len($toks) AS BIGINT) AS n_tokens,
       |      ROUND(CAST(len(text) - len(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
       |            / NULLIF(len(text), 0), 6) AS punct_ratio,
       |      ROUND(CAST(len(list_filter($toks, t -> list_contains($set, t))) AS DOUBLE)
       |            / NULLIF(len($toks), 0), 6) AS stop_ratio
       |    FROM $src),
       |  ${pfx}lab AS (SELECT doc_id, CASE WHEN
       |        0.4 * (CASE WHEN n_tokens >= 50 THEN CAST(1 AS DECIMAL(8,6))
       |               ELSE CAST(n_tokens * 0.02 AS DECIMAL(8,6)) END)
       |      + 0.3 * (CAST(1 AS DECIMAL(8,6)) - CAST(punct_ratio AS DECIMAL(18,6)))
       |      + 0.3 * (CASE WHEN CAST(stop_ratio AS DECIMAL(18,6)) * 5 >= 1
       |               THEN CAST(1 AS DECIMAL(18,6))
       |               ELSE CAST(stop_ratio AS DECIMAL(18,6)) * 5 END)
       |        >= $QcThSql THEN 1 ELSE 0 END AS y
       |    FROM ${pfx}rat),
       |  ${pfx}nt AS (SELECT doc_id, COUNT(*) AS n FROM ${pfx}tok GROUP BY 1),
       |  ${pfx}hf AS (SELECT doc_id, CAST($h % $B AS INT) AS b, COUNT(*) AS c
       |    FROM ${pfx}tok GROUP BY 1, 2),
       |  ${pfx}feat AS (
       |    SELECT hf.doc_id, hf.b,
       |      CAST(ROUND(CAST(c AS DOUBLE) / n, 6) AS DECIMAL(18,6)) AS x
       |    FROM ${pfx}hf hf JOIN ${pfx}nt USING (doc_id)
       |    UNION ALL
       |    SELECT doc_id, $B AS b,
       |      CAST(ROUND(CAST(LEAST(n, 50) AS DOUBLE) / 50, 6) AS DECIMAL(18,6))
       |    FROM ${pfx}nt
       |    UNION ALL
       |    SELECT doc_id, ${B + 1} AS b, CAST(1 AS DECIMAL(18,6)) FROM $src)""".stripMargin
  }

  /** The unrolled-rounds training chain through `{pfx}w{QcRounds}` (the
    * trained weight table); `withEval` adds the per-round ws/e trace
    * CTEs q115's output unions. Assumes [[qcFeatureCtesSql]]'s CTEs
    * with the SAME `pfx` precede it; `src` is the corpus relation the
    * doc count divides by (q125 trains a second chain over the purged
    * corpus beside the full-corpus one). */
  private def qcTrainCtesSql(withEval: Boolean,
      src: String = "documents", pfx: String = ""): String = {
    def zp(r: Int): String =
      s"""${pfx}z$r AS (SELECT f.doc_id, SUM(f.x * w.w) AS z
         |    FROM ${pfx}feat f JOIN ${pfx}w$r w USING (b) GROUP BY 1),
         |  ${pfx}p$r AS (SELECT lab.doc_id, lab.y,
         |      CAST(ROUND(1 / (1 + EXP(-CAST(z AS DOUBLE))), 6) AS DECIMAL(18,6)) AS p
         |    FROM ${pfx}lab lab JOIN ${pfx}z$r USING (doc_id))""".stripMargin
    def update(r: Int): String =
      s"""${pfx}g${r + 1} AS (SELECT f.b, SUM((p.p - p.y) * f.x) AS g
         |    FROM ${pfx}feat f JOIN ${pfx}p$r p USING (doc_id) GROUP BY 1),
         |  ${pfx}w${r + 1} AS (SELECT w.b,
         |      CAST(ROUND(CAST(w.w AS DOUBLE)
         |        - $QcLr * CAST(g.g AS DOUBLE) / CAST(n.n AS DOUBLE), 6)
         |        AS DECIMAL(18,6)) AS w
         |    FROM ${pfx}w$r w JOIN ${pfx}g${r + 1} g USING (b) CROSS JOIN ${pfx}n n)""".stripMargin
    def eval(r: Int): String =
      s"""${pfx}ws$r AS (SELECT CAST(SUM(ABS(w)) AS DOUBLE) AS w_l1,
         |    CAST(SUM(CASE WHEN w <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS w_nnz FROM ${pfx}w$r),
         |  ${pfx}e$r AS (SELECT $r AS iter, loss, n_correct, w_l1, w_nnz FROM (
         |      SELECT ${ExactSql.davgRound("ce", 6)} AS loss,
         |        CAST(SUM(CASE WHEN (p >= CAST(0.5 AS DECIMAL(18,6))) = (y = 1)
         |                 THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
         |      FROM (SELECT y, p, ROUND(-(y * LN(pc) + (1 - y) * LN(1 - pc)), 6) AS ce
         |            FROM (SELECT y, p,
         |                LEAST(GREATEST(CAST(p AS DOUBLE), 0.000001), 0.999999) AS pc
         |              FROM ${pfx}p$r)))
         |    CROSS JOIN ${pfx}ws$r)""".stripMargin
    val rounds = (0 to QcRounds).flatMap { r =>
      val needZp = withEval || r < QcRounds
      Seq(
        if (needZp) Some(zp(r)) else None,
        if (withEval) Some(eval(r)) else None,
        if (r < QcRounds) Some(update(r)) else None
      ).flatten
    }.mkString(",\n  ")
    s"""${pfx}n AS (SELECT COUNT(*) AS n FROM $src),
       |  ${pfx}w0 AS (SELECT DISTINCT b, CAST(0 AS DECIMAL(18,6)) AS w FROM ${pfx}feat),
       |  $rounds""".stripMargin
  }

  val all: Seq[NamedQuery] = Seq(

    // ----- Deterministic stratified train/val/test split: bucket each
    // doc by hash(doc_id) % 100 (80/10/10), report per-(lang, split)
    // counts and within-stratum shares. One scan + one hash-aggregate;
    // the share window runs over the tiny aggregate, not the corpus.
    // Hash-of-key assignment is the 100 TB answer: no global order, no
    // state, any executor can re-derive any row's split independently.
    q("q61_stratified_split",
      "X4: deterministic 80/10/10 stratified split by key hash",
      s"""WITH a AS (SELECT lang, $hashSql % 100 AS b FROM documents),
         |  s AS (SELECT lang,
         |          CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
         |               ELSE 'test' END AS split
         |        FROM a)
         |SELECT lang, split, COUNT(*) AS n_docs,
         |  ROUND(CAST(COUNT(*) AS DOUBLE) /
         |        SUM(COUNT(*)) OVER (PARTITION BY lang), 6) AS share
         |FROM s GROUP BY 1, 2 ORDER BY lang, split""".stripMargin) { (s, dir) =>
      val b = TextOps.hash60(col("doc_id").cast("string")) % 100
      docs(s, dir)
        .select(col("lang"),
          when(b < 80, "train").when(b < 90, "val").otherwise("test").as("split"))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("share", round(col("n_docs").cast("double") /
          sum(col("n_docs")).over(Window.partitionBy("lang")), 6))
        .presented("lang", "split")
    },

    // ----- Domain-mixture rebalance: given target lang proportions,
    // keep the LARGEST corpus whose mixture hits them exactly —
    // M = min_l(n_l / t_l) total, k_l = floor(t_l · M) per lang — then
    // select each stratum's k_l docs deterministically (smallest doc
    // hashes first). The per-stratum row_number is the exact-k
    // selection; at 100 TB strata outgrow a single sort task, so the
    // scale path is the same two-phase selection CollectTopK (q26) runs
    // for kNN — per-partition k-heaps on (-h), merge k per stratum —
    // or rate-based keep (h % R < r) when ±0.1% mixture error is fine.
    // The one-row M frame and the 5-row quota frame stay broadcast.
    q("q62_mixture_rebalance",
      "X4: exact-quota domain-mixture rebalance, hash-deterministic",
      {
        val vals = Mixture.map { case (l, t) =>
          s"('$l', CAST($t AS DOUBLE))"
        }.mkString(", ")
        s"""WITH t(lang, tgt) AS (VALUES $vals),
           |  a AS (SELECT doc_id, lang, $hashSql AS h FROM documents),
           |  cnt AS (SELECT lang, COUNT(*) AS n FROM a GROUP BY 1),
           |  m AS (SELECT MIN(CAST(n AS DOUBLE) / tgt) AS m
           |        FROM cnt JOIN t USING (lang)),
           |  k AS (SELECT lang, tgt, CAST(FLOOR(tgt * m) AS BIGINT) AS k
           |        FROM t CROSS JOIN m),
           |  r AS (SELECT lang, ROW_NUMBER() OVER
           |          (PARTITION BY lang ORDER BY h, doc_id) AS rn
           |        FROM a),
           |  kc AS (SELECT r.lang, COUNT(*) AS n_kept
           |         FROM r JOIN k USING (lang) WHERE rn <= k GROUP BY 1),
           |  tot AS (SELECT SUM(n_kept) AS total_kept FROM kc)
           |SELECT c.lang, c.n AS n_before, kc.n_kept, t.tgt AS target_share,
           |  ROUND(CAST(kc.n_kept AS DOUBLE) / tot.total_kept, 6) AS achieved_share
           |FROM cnt c JOIN kc USING (lang) JOIN t USING (lang) CROSS JOIN tot
           |ORDER BY lang""".stripMargin
      }) { (s, dir) =>
      import s.implicits._
      val tgt = Mixture.toDF("lang", "tgt")
      val a = docs(s, dir).select(col("doc_id"), col("lang"),
        TextOps.hash60(col("doc_id").cast("string")).as("h"))
      val cnt = a.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      val m = cnt.join(broadcast(tgt), "lang")
        .agg(min(col("n").cast("double") / col("tgt")).as("m"))
      val quotas = tgt.crossJoin(broadcast(m))
        .select(col("lang"), col("tgt"), floor(col("tgt") * col("m")).as("k"))
      val ranked = a.withColumn("rn",
        row_number().over(Window.partitionBy("lang").orderBy("h", "doc_id")))
      val keptCnt = ranked.join(broadcast(quotas), "lang")
        .filter(col("rn") <= col("k"))
        .groupBy(col("lang")).agg(count(lit(1)).as("n_kept"))
      val total = keptCnt.agg(sum(col("n_kept")).as("total_kept"))
      cnt.join(keptCnt, "lang")
        .join(broadcast(tgt), "lang")
        .crossJoin(broadcast(total))
        .select(col("lang"), col("n").as("n_before"), col("n_kept"),
          col("tgt").as("target_share"),
          round(col("n_kept").cast("double") / col("total_kept"), 6)
            .as("achieved_share"))
        .presented("lang")
    },

    // ----- PII scrub: detect and redact structured PII (emails, phone
    // numbers) before a corpus ships. The synthetic docs are clean, so
    // PII is PLANTED in place (every 6th doc gains a derived email,
    // every 8th a derived phone number) and the operator must find
    // exactly those. Pure columnar regexp algebra — count, then redact
    // with placeholder tags — so the scrub distributes with the scan;
    // the output carries md5(redacted) rather than the redacted text
    // (hash equality proves byte-identical redaction, and keeps the
    // result narrow). Patterns stay in the RE2 ∩ java.util.regex
    // dialect ([0-9], no lookaround) so both engines agree.
    q("q63_pii_scrub",
      "X4: regex PII detection + redaction with audit counts",
      s"""WITH u AS (SELECT doc_id, text
         |    || CASE WHEN doc_id % 6 = 0
         |            THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.com'
         |            ELSE '' END
         |    || CASE WHEN doc_id % 8 = 0
         |            THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-0199'
         |            ELSE '' END AS text
         |  FROM documents)
         |SELECT doc_id,
         |  len(regexp_extract_all(text, '[a-z0-9]+@[a-z]+\\.[a-z]+')) AS n_email,
         |  len(regexp_extract_all(text, '555-[0-9]{3}-[0-9]{4}')) AS n_phone,
         |  length(regexp_replace(regexp_replace(text, '[a-z0-9]+@[a-z]+\\.[a-z]+', '<EMAIL>', 'g'),
         |         '555-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS n_chars_clean,
         |  md5(regexp_replace(regexp_replace(text, '[a-z0-9]+@[a-z]+\\.[a-z]+', '<EMAIL>', 'g'),
         |      '555-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS clean_hash
         |FROM u ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val emailPat = "[a-z0-9]+@[a-z]+\\.[a-z]+"
      val phonePat = "555-[0-9]{3}-[0-9]{4}"
      val planted = concat(col("text"),
        when(col("doc_id") % 6 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"), lit("@mail.com")))
          .otherwise(""),
        when(col("doc_id") % 8 === 0,
          concat(lit(" call 555-"),
            lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-0199")))
          .otherwise(""))
      val clean = regexp_replace(
        regexp_replace(col("text"), emailPat, "<EMAIL>"), phonePat, "<PHONE>")
      docs(s, dir).select(col("doc_id"), planted.as("text"))
        .select(col("doc_id"),
          regexp_count(col("text"), lit(emailPat)).cast("long").as("n_email"),
          regexp_count(col("text"), lit(phonePat)).cast("long").as("n_phone"),
          length(clean).cast("long").as("n_chars_clean"),
          md5(clean).as("clean_hash"))
        .orderBy("doc_id")
    },

    // ----- Repetition filter: the Gopher-style quality gate that drops
    // boilerplate/spammy docs by their repeated-n-gram mass. Planted:
    // every 10th doc is replaced by its own first 5 tokens repeated 12
    // times (id+60000) — those must fail the gate; originals pass or
    // fail on their own merits. rep_ratio = 1 − distinct/total word
    // trigrams. One posexplode + two per-doc aggregates, all reusing
    // the doc_id distribution — one exchange end to end at any scale.
    q("q64_repetition_filter",
      "X4: repeated-trigram ratio quality gate (boilerplate filter)",
      {
        val toks = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"
        s"""WITH u AS (SELECT doc_id, text FROM documents
           |     UNION ALL
           |     SELECT doc_id + 60000,
           |            repeat(list_aggregate(list_slice($toks, 1, 5), 'string_agg', ' ') || ' ', 12)
           |     FROM documents WHERE doc_id % 10 = 0),
           |  g AS (SELECT doc_id, unnest([list_aggregate(list_slice(ts, i, i + 2), 'string_agg', ' ')
           |                               for i in range(1, len(ts) - 1)]) AS t
           |        FROM (SELECT doc_id, $toks AS ts FROM u)),
           |  r AS (SELECT doc_id, COUNT(*) AS n_grams, COUNT(DISTINCT t) AS n_distinct
           |        FROM g GROUP BY 1)
           |SELECT doc_id,
           |  ROUND(CAST(1 AS DOUBLE) - CAST(n_distinct AS DOUBLE) / n_grams, 6) AS rep_ratio,
           |  (CAST(1 AS DOUBLE) - CAST(n_distinct AS DOUBLE) / n_grams > CAST(0.2 AS DOUBLE)) AS fails
           |FROM r ORDER BY doc_id""".stripMargin
      }) { (s, dir) =>
      val base = docs(s, dir).select(col("doc_id"), col("text"))
      val head5 = concat_ws(" ", slice(TextOps.tokens(col("text")), 1, 5))
      val u = base.unionAll(
        base.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 60000).as("doc_id"),
            concat_ws(" ", (1 to 12).map(_ => head5): _*).as("text")))
      // Raw (non-distinct) trigram rows; both aggregates ride the same
      // doc_id hash distribution as the shingle window itself.
      val grams = DedupQueries.shingleRowsOf(u, 3)
      grams.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          count_distinct(col("t")).as("n_distinct"))
        .select(col("doc_id"),
          round(lit(1.0) - col("n_distinct").cast("double") / col("n_grams"), 6)
            .as("rep_ratio"),
          (lit(1.0) - col("n_distinct").cast("double") / col("n_grams") > lit(0.2))
            .as("fails"))
        .orderBy("doc_id")
    },

    // ----- Sequence packing: lay the corpus out as fixed-length
    // training contexts (GPT-style concat-and-chop at L tokens) and
    // report the per-bin layout — docs touching each bin and tokens
    // landing in it — the numbers that size a pre-training epoch. Doc
    // offsets are a corpus-wide prefix sum in doc_id order, computed as
    // the scalable two-level form: a partition-LOCAL running sum inside
    // deterministic doc_id buckets, plus an exclusive per-bucket offset
    // (one row per bucket — cluster-metadata scale, not data scale)
    // broadcast back. No corpus-sized single-partition window anywhere
    // (PlanShapeSpec pins this). Each doc then explodes into only the
    // bins it overlaps (integer interval math, no float anywhere). All
    // bins must fill to exactly L except the last (CurationSpec).
    q("q70_sequence_packing",
      "X4: fixed-length context packing layout (concat-and-chop)",
      s"""WITH d AS (SELECT doc_id, len(${"list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"}) AS n
         |       FROM documents),
         |  o AS (SELECT doc_id, n,
         |          CAST(SUM(n) OVER (ORDER BY doc_id
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fin
         |        FROM d WHERE n > 0),
         |  b AS (SELECT doc_id, n, fin - n AS start, fin,
         |          unnest(range((fin - n) // $PackLen, (fin - 1) // $PackLen + 1)) AS bin_id
         |        FROM o)
         |SELECT bin_id, COUNT(*) AS n_docs,
         |  CAST(SUM(LEAST(fin, (bin_id + 1) * $PackLen)
         |         - GREATEST(start, bin_id * $PackLen)) AS BIGINT) AS n_tokens
         |FROM b GROUP BY 1 ORDER BY bin_id""".stripMargin) { (s, dir) =>
      val d = docs(s, dir).select(col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("n"))
        .filter(col("n") > 0)
        // Deterministic coarse buckets (monotone in doc_id): at 100 TB
        // raise the divisor so bucket count stays ~1e5 — the offset
        // table is one row per bucket either way.
        .withColumn("bkt", floor(col("doc_id") / 64).cast("long"))
      val wLocal = Window.partitionBy("bkt").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // Exclusive bucket offsets: the only ordered window runs over the
      // bucket TOTALS (tiny), never the docs.
      val offsets = d.groupBy("bkt").agg(sum(col("n")).as("bn"))
        .withColumn("off", coalesce(
          sum(col("bn")).over(Window.orderBy("bkt")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("bkt", "off")
      val o = d
        .withColumn("lfin", sum(col("n")).over(wLocal))
        .join(broadcast(offsets), "bkt")
        .withColumn("fin", col("off") + col("lfin"))
        .withColumn("start", col("fin") - col("n"))
      val b = o.select(col("start"), col("fin"),
        explode(sequence(
          floor(col("start") / PackLen).cast("long"),
          floor((col("fin") - 1) / PackLen).cast("long"))).as("bin_id"))
      b.groupBy(col("bin_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(least(col("fin"), (col("bin_id") + 1) * PackLen) -
            greatest(col("start"), col("bin_id") * PackLen)).as("n_tokens"))
        .orderBy("bin_id")
    },

    // ----- Capstone SHIP MANIFEST: the composition the whole curation
    // family exists for — exact dedup (keep the lowest id per content
    // hash), a token-length quality gate, then the deterministic split
    // assignment, emitting the final (doc_id, split) training list.
    // Planted: every 7th doc re-appears verbatim under id+20000; every
    // copy must be excluded by the dedup stage while its original
    // ships. Each stage is one hash-keyed aggregate/join composed on
    // the SAME corpus scan; because every stage is deterministic, the
    // manifest is re-derivable from scratch on any cluster — the
    // lineage story a 100 TB corpus release needs.
    q("q75_ship_manifest",
      "X3+X4 composition: dedup → quality gate → split = ship list",
      s"""WITH $shipDedupCtesSql,
         |  gated AS (SELECT u.doc_id, u.text FROM u JOIN keep USING (doc_id)
         |            WHERE len(${"list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"})
         |                  BETWEEN 20 AND 200)
         |SELECT doc_id,
         |  CASE WHEN $hashSql % 100 < 80 THEN 'train'
         |       WHEN $hashSql % 100 < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM gated ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val nToks = size(TextOps.tokens(col("text")))
      val b = TextOps.hash60(col("doc_id").cast("string")) % 100
      shipSurvivors(docs(s, dir).select(col("doc_id"), col("text")))
        .filter(nToks.between(20, 200))
        .select(col("doc_id"),
          when(b < 80, "train").when(b < 90, "val").otherwise("test").as("split"))
        .orderBy("doc_id")
    },

    // ----- Distribution DRIFT monitoring: Population Stability Index
    // between two corpus snapshots — the alarm a standing pipeline
    // raises when "today's crawl" stops looking like yesterday's. The
    // comparison snapshot deterministically truncates every 3rd doc to
    // its first 40 tokens (a real drift: mass moves to shorter bins);
    // PSI = Σ (pᵢ−qᵢ)·ln(pᵢ/qᵢ) over a 4-bin token-length histogram.
    // Two scans + two 4-row aggregates, joined on bin — drift checks
    // cost two histogram passes at any scale. Parity: shares are ratios
    // of exact counts (identical doubles), each bin term is rounded to
    // 6dp before the exact-decimal total (libm-ln recipe).
    q("q77_drift_psi",
      "X4: PSI drift between corpus snapshots (token-length histogram)",
      {
        val toks = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"
        def binSql(n: String) =
          s"CASE WHEN $n < 25 THEN 'a_lt25' WHEN $n < 50 THEN 'b_25_49' WHEN $n < 75 THEN 'c_50_74' ELSE 'd_ge75' END"
        s"""WITH pb AS (SELECT ${binSql(s"len($toks)")} AS bin, COUNT(*) AS n_base
           |            FROM documents GROUP BY 1),
           |  snap AS (SELECT CASE WHEN doc_id % 3 = 0
           |             THEN list_aggregate(list_slice($toks, 1, 40), 'string_agg', ' ')
           |             ELSE text END AS text
           |           FROM documents),
           |  qb AS (SELECT ${binSql(s"len($toks)")} AS bin, COUNT(*) AS n_new
           |         FROM snap GROUP BY 1),
           |  tot AS (SELECT (SELECT SUM(n_base) FROM pb) AS tb,
           |                 (SELECT SUM(n_new) FROM qb) AS tn),
           |  terms AS (SELECT bin, n_base, n_new,
           |              ROUND(CAST(n_base AS DOUBLE) / tb, 6) AS p_share,
           |              ROUND(CAST(n_new AS DOUBLE) / tn, 6) AS q_share,
           |              ROUND((CAST(n_base AS DOUBLE) / tb - CAST(n_new AS DOUBLE) / tn)
           |                * ln((CAST(n_base AS DOUBLE) / tb) / (CAST(n_new AS DOUBLE) / tn)), 6) AS psi_term
           |            FROM pb JOIN qb USING (bin) CROSS JOIN tot)
           |SELECT bin, n_base, n_new, p_share, q_share, psi_term FROM terms
           |UNION ALL
           |SELECT 'e_total', CAST(SUM(n_base) AS BIGINT), CAST(SUM(n_new) AS BIGINT),
           |  CAST(1.0 AS DOUBLE), CAST(1.0 AS DOUBLE), ${ExactSql.dsum("psi_term")}
           |FROM terms
           |ORDER BY bin""".stripMargin
      }) { (s, dir) =>
      val toks = TextOps.tokens(col("text"))
      def bin(n: org.apache.spark.sql.Column) =
        when(n < 25, "a_lt25").when(n < 50, "b_25_49")
          .when(n < 75, "c_50_74").otherwise("d_ge75")
      val base = docs(s, dir)
      val pb = base.select(bin(size(toks)).as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("n_base"))
      val snap = base.select(
        when(col("doc_id") % 3 === 0, concat_ws(" ", slice(toks, 1, 40)))
          .otherwise(col("text")).as("text"))
      val qb = snap.select(bin(size(toks)).as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("n_new"))
      val tot = pb.agg(sum(col("n_base")).as("tb"))
        .crossJoin(qb.agg(sum(col("n_new")).as("tn")))
      val p = col("n_base").cast("double") / col("tb")
      val qq = col("n_new").cast("double") / col("tn")
      val terms = pb.join(qb, "bin").crossJoin(broadcast(tot))
        .select(col("bin"), col("n_base"), col("n_new"),
          round(p, 6).as("p_share"), round(qq, 6).as("q_share"),
          round((p - qq) * log(p / qq), 6).as("psi_term"))
      terms.unionAll(
        terms.agg(sum(col("n_base")).as("n_base"), sum(col("n_new")).as("n_new"),
          graft.functions.Exact.dsum(col("psi_term")).as("psi"))
          .select(lit("e_total").as("bin"), col("n_base"), col("n_new"),
            lit(1.0).as("p_share"), lit(1.0).as("q_share"),
            col("psi").as("psi_term")))
        .presented("bin")
    },

    // ----- Snapshot DIFF (CDC summary): classify every key across two
    // dataset versions as added / deleted / changed / unchanged — the
    // regression check run before promoting a rebuilt corpus (did the
    // pipeline change touch only what it should?). v2 deterministically
    // deletes every 9th doc, rewrites every 5th surviving doc, and adds
    // re-keyed docs. One full-outer join on the key with md5 content
    // compare — at any scale this is a single co-partitioned shuffle on
    // the key, and with both versions bucketed on doc_id
    // (SinkOps.writeBucketed) it plans with no exchange at all.
    q("q78_snapshot_diff",
      "X3/A6: two-version CDC diff (added/deleted/changed/unchanged)",
      s"""WITH $snapshotCtesSql,
         |  d AS (SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
         |          CASE WHEN v1.doc_id IS NULL THEN 'added'
         |               WHEN v2.doc_id IS NULL THEN 'deleted'
         |               WHEN v1.h <> v2.h THEN 'changed'
         |               ELSE 'unchanged' END AS change_type
         |        FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
         |SELECT change_type, COUNT(*) AS n_docs,
         |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
         |FROM d GROUP BY 1 ORDER BY change_type""".stripMargin) { (s, dir) =>
      snapshotDiff(docs(s, dir))
        .select(col("doc_id"),
          when(!col("in1"), "added")
            .when(!col("in2"), "deleted")
            .when(col("h1") =!= col("h2"), "changed")
            .otherwise("unchanged").as("change_type"))
        .groupBy(col("change_type"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .presented("change_type")
    },

    // ----- Deterministic per-domain DOWNSAMPLING: the rate-based
    // sibling of q62's exact-quota mixture — each language keeps a
    // fixed Bernoulli fraction, decided by hash(doc_id) % 100 < rate.
    // Re-derivable anywhere (no state, no rand()): appending new docs
    // or re-running a failed stage never reshuffles past keep/drop
    // decisions, which is what makes rate-sampling safe in an
    // incremental 100 TB pipeline. One scan, no shuffle at all until
    // the presentation sort — the filter is embarrassingly parallel.
    q("q83_domain_sample",
      "X4: deterministic per-lang Bernoulli downsampling by key hash",
      s"""SELECT doc_id, lang, source, ($hashSql % 100) AS bucket
         |FROM documents
         |WHERE ($hashSql % 100) <
         |  CASE lang WHEN 'en' THEN 90 WHEN 'de' THEN 60 WHEN 'es' THEN 40
         |            WHEN 'fr' THEN 25 ELSE 10 END
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val bucket = TextOps.hash60(col("doc_id").cast("string")) % 100
      val rate = when(col("lang") === "en", 90).when(col("lang") === "de", 60)
        .when(col("lang") === "es", 40).when(col("lang") === "fr", 25)
        .otherwise(10)
      docs(s, dir)
        .select(col("doc_id"), col("lang"), col("source"), bucket.as("bucket"), rate.as("rate"))
        .filter(col("bucket") < col("rate"))
        .select("doc_id", "lang", "source", "bucket")
        .orderBy("doc_id") // row-per-kept-doc output: parallel range sort
    },

    // ----- Equi-DEPTH length binning: quartile edges of n_chars (exact
    // interpolated percentiles, the q57 cross-engine recipe) broadcast
    // back as bin boundaries — the distribution-aware sibling of q29's
    // fixed power-of-two buckets. This is how a curation pipeline builds
    // balanced length strata for mixture/packing decisions: bin
    // populations stay ~N/4 regardless of how skewed the length
    // distribution is. One percentile aggregate (a few rows) + one
    // stateless CASE over the corpus — no sort of the data itself; at
    // 100 TB the edges come from approx_percentile with the same plan.
    q("q90_equidepth_bins",
      "A8/X4: equi-depth quartile binning by interpolated n_chars edges",
      """WITH e AS (SELECT ROUND(quantile_cont(CAST(n_chars AS DOUBLE), 0.25), 6) AS p25,
        |                  ROUND(quantile_cont(CAST(n_chars AS DOUBLE), 0.50), 6) AS p50,
        |                  ROUND(quantile_cont(CAST(n_chars AS DOUBLE), 0.75), 6) AS p75
        |           FROM documents),
        |  b AS (SELECT d.n_chars,
        |          CASE WHEN d.n_chars <= e.p25 THEN 'q1'
        |               WHEN d.n_chars <= e.p50 THEN 'q2'
        |               WHEN d.n_chars <= e.p75 THEN 'q3'
        |               ELSE 'q4' END AS bucket,
        |          e.p25, e.p50, e.p75
        |        FROM documents d CROSS JOIN e)
        |SELECT bucket, COUNT(*) AS n_docs,
        |       MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
        |       MIN(p25) AS p25, MIN(p50) AS p50, MIN(p75) AS p75
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin) { (s, dir) =>
      val edges = docs(s, dir).agg(
        round(expr("percentile(CAST(n_chars AS DOUBLE), 0.25)"), 6).as("p25"),
        round(expr("percentile(CAST(n_chars AS DOUBLE), 0.50)"), 6).as("p50"),
        round(expr("percentile(CAST(n_chars AS DOUBLE), 0.75)"), 6).as("p75"))
      docs(s, dir).crossJoin(broadcast(edges))
        .select(col("n_chars"),
          when(col("n_chars") <= col("p25"), "q1")
            .when(col("n_chars") <= col("p50"), "q2")
            .when(col("n_chars") <= col("p75"), "q3")
            .otherwise("q4").as("bucket"),
          col("p25"), col("p50"), col("p75"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_chars")).as("min_chars"), max(col("n_chars")).as("max_chars"),
          min(col("p25")).as("p25"), min(col("p50")).as("p50"), min(col("p75")).as("p75"))
        .presented("bucket")
    },

    // ----- SCD TYPE 2 history maintenance: q78 classifies the diff
    // between two corpus versions; this APPLIES it — every key carries
    // its full version history as immutable validity intervals.
    // A v1 row whose content survives v2 stays open (is_current);
    // deleted or changed keys get their interval CLOSED at version 2;
    // changed and added keys OPEN a new current row. Per batch the
    // maintenance is ONE co-partitioned full-outer join between the
    // current slice and the new snapshot (the q78 shape — exchange-free
    // when both sides are bucketed on the key); closed rows are never
    // rewritten, so the history table is append-only — the property
    // that makes SCD2 viable on a 100 TB dimension. Output is
    // row-per-(key, version) → parallel orderBy.
    q("q96_scd2_history",
      "X4+/K1: SCD Type-2 history from a two-version snapshot diff (validity intervals)",
      s"""WITH $snapshotCtesSql,
         |  j AS (SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
         |          v1.h AS h1, v2.h AS h2,
         |          v1.doc_id IS NOT NULL AS in1, v2.doc_id IS NOT NULL AS in2
         |        FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
         |SELECT doc_id, h1 AS h, 1 AS valid_from,
         |       CASE WHEN NOT in2 OR h1 <> h2 THEN 2 END AS valid_to,
         |       (in2 AND h1 = h2) AS is_current
         |FROM j WHERE in1
         |UNION ALL
         |SELECT doc_id, h2, 2, NULL, TRUE
         |FROM j WHERE in2 AND (NOT in1 OR h1 <> h2)
         |ORDER BY doc_id, valid_from""".stripMargin) { (s, dir) =>
      val j = snapshotDiff(docs(s, dir))
        .checkpointed(false) // both history branches read it
      val closedOrOpen = j.filter(col("in1"))
        .select(col("doc_id"), col("h1").as("h"), lit(1).as("valid_from"),
          when(!col("in2") || col("h1") =!= col("h2"), lit(2)).as("valid_to"),
          (col("in2") && col("h1") === col("h2")).as("is_current"))
      val opened = j.filter(col("in2") && (!col("in1") || col("h1") =!= col("h2")))
        .select(col("doc_id"), col("h2").as("h"), lit(2).as("valid_from"),
          lit(null).cast("int").as("valid_to"), lit(true).as("is_current"))
      closedOrOpen.unionByName(opened)
        .orderBy("doc_id", "valid_from") // row-per-(key, version): parallel sort
    },

    // ----- X4+ (data selection): DSIR-style importance selection —
    // rank raw-corpus docs by how target-like their hashed-unigram
    // distribution is (Xie et al. 2023, "Data Selection for Language
    // Models via Importance Resampling": per-doc log-likelihood ratio
    // between target and raw bag-of-hashed-ngrams models). Target =
    // the 'en' slice; every other doc is raw. DETERMINISTIC variant:
    // the selection takes the top-k by length-normalized log ratio
    // (resampling noise can't be oracle-checked; thresholding is the
    // production mode anyway).
    //
    // Float parity with the oracle is by construction: each bucket's
    // log ratio is rounded to 6dp and cast DECIMAL(18,6), so the
    // per-doc Σ count·lr is an EXACT decimal in both engines (ln may
    // differ in the last ulp between libms, but never by the 5e-7 a
    // 6dp rounding boundary needs); the final division divides the
    // identical decimal-cast double by the identical integer.
    //
    // Scale shape: one tokenize pass reduces straight to per-(doc,
    // lang, bucket) COUNTS — the corpus's only corpus-sized shuffle —
    // and that reduced frame is eager-checkpointed for its four
    // consumers (two histograms, the totals, the per-doc weights; the
    // histogram side feeds a broadcast build thread). The histograms
    // and totals collapse to ≤ NumBuckets rows, the 4096-row log-ratio
    // table broadcasts back to the per-doc counts, and the ranking is
    // a top-k (TakeOrdered), never a global sort of the corpus.
    q("q102_dsir_select",
      "X4+: DSIR hashed-ngram importance selection (deterministic top-k, target = lang 'en')",
      {
        val toks = TextOps.tokensSql("text")
        val h = TextOps.hash60Sql("t")
        s"""WITH tok AS (SELECT doc_id, lang, unnest($toks) AS t FROM documents),
           |  bk AS (SELECT doc_id, lang, $h % 4096 AS b FROM tok),
           |  tgt AS (SELECT b, COUNT(*) AS n_t FROM bk WHERE lang = 'en' GROUP BY 1),
           |  rawh AS (SELECT b, COUNT(*) AS n_r FROM bk WHERE lang <> 'en' GROUP BY 1),
           |  tot AS (SELECT SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS nt,
           |                 SUM(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS nr FROM bk),
           |  lr AS (SELECT rawh.b,
           |           CAST(ROUND(
           |             LN(CAST(COALESCE(n_t, 0) + 1 AS DOUBLE) / CAST(nt + 4096 AS DOUBLE))
           |           - LN(CAST(n_r + 1 AS DOUBLE) / CAST(nr + 4096 AS DOUBLE)), 6)
           |           AS DECIMAL(18,6)) AS lr
           |         FROM rawh LEFT JOIN tgt USING (b) CROSS JOIN tot),
           |  pd AS (SELECT doc_id, lang, b, COUNT(*) AS c FROM bk
           |         WHERE lang <> 'en' GROUP BY 1, 2, 3),
           |  w AS (SELECT doc_id, lang, CAST(SUM(c) AS BIGINT) AS n_tok,
           |               SUM(c * lr) AS w
           |        FROM pd JOIN lr USING (b) GROUP BY 1, 2)
           |SELECT doc_id, lang, n_tok,
           |       ROUND(CAST(w AS DOUBLE) / n_tok, 6) AS avg_lr
           |FROM w ORDER BY avg_lr DESC, doc_id LIMIT 50""".stripMargin
      }) { (s, dir) =>
      val B = 4096
      // The checkpoint holds the REDUCED per-(doc, lang, bucket) counts
      // — one row per distinct bucket per doc, not one per token
      // occurrence — so its four consumers (two histograms, the totals,
      // the per-doc weights) re-read the smallest frame that still
      // carries everything they need. Eager: the lr side feeds a
      // broadcast build thread.
      val cnt = docs(s, dir)
        .select(col("doc_id"), col("lang"),
          explode(TextOps.tokens(col("text"))).as("t"))
        .select(col("doc_id"), col("lang"),
          (TextOps.hash60(col("t")) % B).as("b"))
        .groupBy(col("doc_id"), col("lang"), col("b")).agg(count(lit(1)).as("c"))
        .checkpointed()
      val tgt = cnt.filter(col("lang") === "en")
        .groupBy(col("b")).agg(sum(col("c")).as("n_t"))
      val rawHist = cnt.filter(col("lang") =!= "en")
        .groupBy(col("b")).agg(sum(col("c")).as("n_r"))
      val totals = cnt.groupBy().agg(
        sum(when(col("lang") === "en", col("c")).otherwise(0L)).as("nt"),
        sum(when(col("lang") =!= "en", col("c")).otherwise(0L)).as("nr"))
      val lr = rawHist.join(tgt, Seq("b"), "left_outer")
        .na.fill(0L, Seq("n_t"))
        .crossJoin(broadcast(totals))
        .select(col("b"), round(
            log((col("n_t") + lit(1)).cast("double") / (col("nt") + lit(B)).cast("double")) -
            log((col("n_r") + lit(1)).cast("double") / (col("nr") + lit(B)).cast("double")), 6)
          .cast(org.apache.spark.sql.types.DecimalType(18, 6)).as("lr"))
      cnt.filter(col("lang") =!= "en")
        .join(broadcast(lr), "b")
        .groupBy(col("doc_id"), col("lang"))
        .agg(sum(col("c") * col("lr")).as("w"), sum(col("c")).as("n_tok"))
        .select(col("doc_id"), col("lang"), col("n_tok"),
          round(col("w").cast("double") / col("n_tok"), 6).as("avg_lr"))
        .orderBy(col("avg_lr").desc, col("doc_id")) // + limit → TakeOrdered top-k
        .limit(50)
    },

    // ----- X4+/selection: PRIORITY SAMPLING (Duffield, Lund & Thorup,
    // "Priority sampling for estimation of arbitrary subset sums",
    // JACM 2007) — weighted WITHOUT-replacement k-sample per language
    // stratum, weight = n_chars (the "sample long docs
    // proportionally" knob; any positive per-doc quality weight slots
    // in). Each doc draws priority w/u from a hash-uniform
    // u ∈ (0,1]; the k highest priorities are the sample and the
    // (k+1)-th is the threshold τ, giving the unbiased subset-sum
    // estimator ŵ = max(w, τ) stamped per row. Everything is INTEGER:
    // u as a 2^20-grid hash draw, priority as (w·2^32) div u — exact
    // in both engines, no ln/pow parity risk (the q103-tercile lesson
    // applied from the start), and < 2^53 so the heap's double
    // round-trips losslessly. SCALE: one scan; per-stratum top-(k+1)
    // via CollectTopK map-side k-heaps, so the exchange carries
    // langs·partitions·(k+1) tiny rows — never a corpus sort, and no
    // rand(): re-runs and corpus extensions never reshuffle selection.
    // The k-row winner set broadcast-joins back for its weights.
    q("q107_priority_sample",
      "X4+/selection: per-stratum weighted k-sample (priority sampling, exact integer priorities)",
      {
        val h = TextOps.hash60Sql("CONCAT(CAST(doc_id AS VARCHAR), ':ps')")
        s"""WITH d AS (SELECT doc_id, lang,
           |      LEAST(CAST(n_chars AS BIGINT), $WCap) AS w,
           |      ($h % $USize) + 1 AS u FROM documents),
           |p AS (SELECT *, (w * $PriScale) // u AS pri FROM d),
           |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
           |        ORDER BY pri DESC, doc_id) AS rn FROM p),
           |tau AS (SELECT lang, pri AS tau FROM r WHERE rn = ${SampleK + 1})
           |SELECT r.lang, CAST(rn AS BIGINT) AS rank, doc_id, w, u, pri,
           |  COALESCE(tau.tau, 0) AS tau,
           |  GREATEST(w * $WScale, COALESCE(tau.tau, 0)) AS w_est_scaled
           |FROM r LEFT JOIN tau USING (lang) WHERE rn <= $SampleK
           |ORDER BY lang, rank""".stripMargin
      }) { (s, dir) =>
      val d = docs(s, dir)
        .select(col("doc_id"), col("lang"),
          least(col("n_chars"), lit(WCap)).as("w"))
        .withColumn("u", pmod(TextOps.hash60(
          concat(col("doc_id").cast("string"), lit(":ps"))), lit(USize)) + 1)
        .withColumn("pri", expr(s"(w * ${PriScale}L) div u"))
      val pri = col("pri").cast("double")
      // τ = the (k+1)-th priority; a stratum smaller than k+1 has no
      // threshold (every doc is sampled, ŵ = w exactly) → 0.
      val tau = coalesce(CollectTopK.kth(pri, col("doc_id"), SampleK + 1), lit(0.0))
        .cast("long").as("tau")
      val sel = CollectTopK.ranked(d.groupBy(col("lang")), pri, col("doc_id"), SampleK + 1,
          "doc_id", "pri", aggs = Seq(tau))
        .filter(col("rn") <= SampleK)
        .select(col("doc_id"), col("rn").as("rank"), col("tau"))
      d.join(broadcast(sel), "doc_id")
        .select(col("lang"), col("rank"), col("doc_id"), col("w"), col("u"),
          col("pri"), col("tau"),
          greatest(col("w") * lit(WScale), col("tau")).as("w_est_scaled"))
        .presented("lang", "rank")
    },

    // ----- X4+ (selection model): TRAINED quality
    // classifier — the standard pipeline step between q34's hand rule
    // and q102's DSIR reweighting is a fastText-style linear model
    // (Joulin et al. 2017, "Bag of Tricks for Efficient Text
    // Classification"): hashed-unigram bag features + a capped-length
    // feature + bias, logistic regression trained by FULL-BATCH
    // gradient descent for a fixed QcRounds updates. Labels are
    // deterministic: y = [q34's exact-decimal quality ≥ 0.46], i.e.
    // the model DISTILLS the hand rule into learned weights (the
    // label comparison runs on the exact decimal, never the cast
    // double, so no engine can disagree at the threshold). Output is
    // the training trace — per-eval loss, accuracy, and weight-vector
    // census (L1, nnz) — the falling-loss curve that says training
    // converges, with every number pinned by the unrolled-rounds
    // DuckDB oracle.
    //
    // EXACTNESS: features x = round(count/n, 6) and weights live as
    // DECIMAL(18,6); z = Σx·w and g = Σ(p−y)·x are exact decimal sums
    // (order-independent in both engines); the only transcendentals
    // (sigmoid's EXP, the loss's LN) run on identical doubles and are
    // 6dp-rounded straight back to decimal — the q102 ulp-absorption
    // argument. Every decimal→double cast stays under 2^53 in scaled
    // units (|g| ≤ N docs → exact through sf0.1's 5000 and two more
    // orders of magnitude; the 10× probe regime never hash-compares).
    //
    // SCALE SHAPE: the distributed-LR plan MLlib's GradientDescent
    // runs — parameters ship TO the data (the ≤66-entry weight vector
    // rides in the task closure as a map literal; a model too big for
    // a literal would `broadcast()`, same plan class), applying them
    // is a per-row lookup with NO join; z is an exact-decimal window
    // sum keyed by doc; the gradient is one map-side-combined hash
    // aggregate collapsing the corpus to ≤66 rows, which treeAggregate-
    // style land on the driver for the update (collecting the GRADIENT,
    // never the data, is the one sanctioned driver touch in distributed
    // training). ONE job per round — eval metrics (loss / accuracy)
    // ride the gradient job via `observe`, costing zero extra scans —
    // over the per-(doc,b) reduced feature frame, built once and
    // checkpointed. Per round the exchanges carry |feat| window rows
    // and 66 gradient partials; nothing corpus-sized beyond the one
    // tokenize pass.
    q("q115_quality_classifier",
      "X4+ (selection model): fastText-style logistic quality classifier — hashed features, fixed exact GD rounds, falling-loss trace",
      {
        val union = (0 to QcRounds).map(r => s"SELECT * FROM e$r").mkString(" UNION ALL ")
        s"""WITH ${qcFeatureCtesSql("documents", "")},
           |  ${qcTrainCtesSql(withEval = true)}
           |SELECT iter, loss, n_correct, w_l1, w_nnz FROM ($union)
           |ORDER BY iter""".stripMargin
      }) { (s, dir) =>
      // The loop lives in [[qcTrain]] (q116's artifact builder shares
      // it); this query ships the training trace.
      val (_, trace) = qcTrain(s, dir)
      import s.implicits._
      trace.toDF("iter", "loss", "n_correct", "w_l1", "w_nnz")
        .orderBy("iter")
    },

    // ----- X4+/LLM (incremental): SCORE-ON-APPEND — the q112 pattern
    // applied to the classifier: the trained model is a PERSISTED
    // artifact (built once per corpus fingerprint by
    // [[qcModelPrepared]], same publish discipline as the BPE merge
    // table), and an incoming batch — every 5th doc, id-shifted +70000
    // (under the Tables.PlantIdFloor headroom guard), text perturbed
    // with an OOV marker token — is scored WITHOUT retraining: the
    // model already exists, inference is featurize + closure-shipped
    // weights + sigmoid. The batch runs through the SAME feature
    // pipeline the model was trained on ([[qcFeaturesOf]] /
    // [[qcFeatureCtesSql]] shared verbatim) — train/serve feature
    // parity made structural, not aspirational. OOV tokens hash into
    // whatever buckets they hit; buckets the training corpus never
    // populated contribute zero (engine: null-skipped lookup; oracle:
    // inner join against w5 — same semantics, spec-pinned by the hash
    // gate). Output: per-doc probability, the p ≥ 0.5 admission
    // decision, and the rule label for the admission audit. The oracle
    // re-derives the weights via the unrolled training chain (the q68/
    // q112 convention: persisted index vs oracle recompute) and scores
    // a parallel batch CTE chain. SCALE: scoring N docs is one
    // tokenize + per-(doc,b) reduce + a doc-keyed window — no join
    // against the corpus, no training-data touch; the model rides in
    // the closure exactly as in q115's rounds.
    q("q116_score_persisted",
      "X4+/LLM: batch quality scoring via the persisted trained model (no retrain, OOV-safe)",
      qcAppendScoreSql(2, 9)) { (s, dir) =>
      qcAdmission(appendBatch(s, dir, 2, 9), qcModelWeights(s, dir))
        .orderBy("doc_id") // row-per-doc output: parallel range sort
    },

    // ----- Capstone v2: the LEARNED release pipeline — q75's manifest
    // with every hand rule replaced by the tier's trained, persisted
    // artifacts: exact dedup (one content-hash aggregate; planted
    // verbatim copies at id+20000 must die while their originals
    // ship), then the PERSISTED quality classifier gates admission
    // (q116's scoring path: weights in the task closure, p ≥ 0.5 —
    // no hand-tuned length window), then the PERSISTED BPE merges
    // bill each admitted doc in subword units (q112's replay over the
    // admitted set's vocab-sized word table + one broadcast seg
    // join — the numbers a token-budgeted training run is provisioned
    // by), and finally the deterministic hash split. The manifest is
    // re-derivable from scratch on any cluster AND incrementally
    // extensible: both learned stages read corpus-fingerprinted
    // artifacts, so an append batch flows through the same gates the
    // shipped corpus passed (q68/q112/q116's discipline). SCALE: no
    // corpus pair join anywhere — dedup is one hash-keyed aggregate,
    // gating plans NO join (closure weights), billing exchanges are
    // vocab-sized, the split is map-only; every corpus-sized exchange
    // is doc-keyed. The oracle re-derives both artifacts (unrolled
    // training chain + unrolled merge chain) and replays them over a
    // parallel CTE pipeline — one query certifying dedup, learned
    // gate, learned billing, and split agree end to end.
    q("q117_learned_manifest",
      "X3+X4+/LLM capstone: dedup -> persisted-model gate -> persisted-BPE billing -> split",
      {
        val toks = TextOps.tokensSql("text")
        val chain = new StringBuilder
        chain.append(
          s"""WITH ${qcFeatureCtesSql("documents", "")},
             |  ${qcTrainCtesSql(withEval = false)},
             |  $shipDedupCtesSql,
             |  surv AS (SELECT u.doc_id, u.text FROM u JOIN keep USING (doc_id)),
             |  ${qcFeatureCtesSql("surv", "s")},
             |  ${qcScoreCtesSql("s")},
             |  adm AS (SELECT surv.doc_id, surv.text, CAST(sp.p AS DOUBLE) AS p
             |    FROM surv JOIN sp USING (doc_id)
             |    WHERE sp.p >= CAST(0.5 AS DECIMAL(18,6))),
             |  ${TextQueries.bpeWordsCte("w_0", "documents", "  ")}""".stripMargin)
        chain.append(",\n").append(TextQueries.bpeTrainCtesSql())
        chain.append(
          s""",
             |  ${TextQueries.bpeTokWordsCte("a_0", "adm", "  ")}""".stripMargin)
        chain.append(",\n").append(TextQueries.bpeReplayCtesSql("a"))
        chain.append(
          s""",
             |  seg AS (SELECT tok, CAST(len(string_split(w, ' ')) AS BIGINT) AS units
             |          FROM a_${TextQueries.BpeMerges}),
             |  bill AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             |             CAST(SUM(units) AS BIGINT) AS n_units
             |           FROM (SELECT doc_id, unnest($toks) AS tok FROM adm)
             |           JOIN seg USING (tok)
             |           GROUP BY 1)
             |SELECT doc_id,
             |  CASE WHEN $hashSql % 100 < 80 THEN 'train'
             |       WHEN $hashSql % 100 < 90 THEN 'val'
             |       ELSE 'test' END AS split,
             |  p,
             |  COALESCE(bill.n_tokens, 0) AS n_tokens,
             |  COALESCE(bill.n_units, 0) AS n_units
             |FROM adm LEFT JOIN bill USING (doc_id)
             |ORDER BY doc_id""".stripMargin)
        chain.toString
      }) { (s, dir) =>
      // Stage 1: q75's exact dedup over the planted union.
      val surv = shipSurvivors(docs(s, dir).select(col("doc_id"), col("text")))
      // Stage 2: the persisted model gates admission (q116's path —
      // weights in the closure, no join). Checkpointed: three
      // downstream consumers (vocab build, billing stream, manifest).
      val gate = qcAdmission(surv, qcModelWeights(s, dir))
        .filter(col("admitted")).select(col("doc_id"), col("p"))
      val adm = surv.join(gate, "doc_id")
        .select(col("doc_id"), col("text"), col("p"))
        .checkpointed()
      // Stage 3: the persisted BPE merges bill the admitted docs
      // (q112's segmentation over the admitted set).
      val bill = TextQueries.bpeSegmentWith(TextQueries.bpeMergesOf(s, dir), adm)
      // Stage 4: deterministic split; LEFT join so a token-free doc
      // still ships (billed zero) — a manifest must list every
      // admitted doc.
      val h = TextOps.hash60(col("doc_id").cast("string")) % 100
      adm.join(bill, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(h < 80, "train").when(h < 90, "val").otherwise("test").as("split"),
          col("p"),
          coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
          coalesce(col("n_units"), lit(0L)).as("n_units"))
        .orderBy("doc_id") // row-per-doc output: parallel range sort
    },

    // ----- T6 + X4+/LLM: STREAMING score-on-append — q116's scoring
    // run as a stream: the append batch arrives as parquet files, an
    // AvailableNow query drains it in per-file micro-batches
    // (maxFilesPerTrigger=1, so correctness must hold ACROSS batch
    // boundaries), and foreachBatch applies the identical scoring
    // pipeline (qcFeaturesOf → closure-shipped persisted weights →
    // sigmoid) to each micro-batch as an ordinary batch plan. NO
    // streaming state: a document's score derives from its own text
    // alone, so rows are self-contained and the operator is stateless
    // — no watermark, no state store, catch-up over any backlog is
    // just more batches of the same plan (the q71 stream-static
    // argument, extended from a broadcast join to a full
    // explode+aggregate+window scoring pipeline, which foreachBatch
    // makes expressible). The oracle is the BATCH computation over the
    // same planted append set: stream ≡ batch is the hash gate itself,
    // and CurationSpec additionally pins in-engine stream-vs-batch
    // equality plus the ≥2-micro-batch discipline.
    q("q118_stream_score",
      "T6+X4+/LLM: streaming quality scoring via the persisted model (foreachBatch, stateless)",
      qcAppendScoreSql(4, 11)) { (s, dir) =>
      qcStreamDrain(s, dir, nFiles = 2)
    },

    // ----- X3/X4+ GOVERNANCE (completing q122's takedown):
    // RETRAIN-ON-TAKEDOWN — the takedown pass extended to EVERY
    // remaining persisted artifact (q122 already purges the dedup
    // signatures and the IVF-PQ packed codes). Removal list: the q122
    // convention (doc_id % 37 = 0, vec_id % 37 = 0). Three artifact
    // classes, three disciplines, one audit frame:
    //  1. the q100 VectorIndex (per-vector cell assignments) is
    //     ROW-IDENTIFYING — purged row-wise like the codes: anti-join
    //     rewrite, published, 'after' and the leak check COUNTED from
    //     the published table (before == removed + after, leak == 0);
    //  2. the BPE merge table and 3. the qc model weights are AGGREGATE
    //     artifacts — no row maps to a doc, but both were TRAINED on
    //     removed content, so the honest remedy is retraining on the
    //     survivors: both trainers rerun ([[graft.operators.TextQueries
    //     .bpeTrain]] / [[qcTrainOf]] — the IDENTICAL loops that built
    //     the persisted artifacts, fed the purged corpus), the new
    //     artifacts are published, and the audit reports their shape
    //     (rule/weight row counts) plus how many entries actually
    //     changed vs the persisted full-corpus artifacts — the record a
    //     governance review reads to see the removed docs' influence
    //     leave the models. The oracle re-derives BOTH sides of each
    //     comparison (full-corpus chain AND purged-corpus chain — two
    //     unrolled BPE trainings, two unrolled LR trainings in one
    //     query), so retrained-vs-persisted deltas are cross-engine
    //     exact, not a self-check. SCALE: the purge is one anti-join;
    //     each retrain costs exactly its original build (q108/q115
    //     shapes — vocab-sized pair rounds, ≤66-row gradient rounds),
    //     paid only when the removal list is non-empty; nothing here
    //     adds a new exchange class.
    q("q125_takedown_artifacts",
      "X3/X4+ governance: takedown completion — purge the assignment index, retrain the aggregate artifacts, audit all",
      {
        val B = TextQueries.BpeMerges
        val chain = new StringBuilder
        chain.append(
          s"""WITH ${qcFeatureCtesSql("documents", "")},
             |  ${qcTrainCtesSql(withEval = false)},
             |  purged AS (SELECT doc_id, text FROM documents WHERE doc_id % 37 <> 0),
             |  ${qcFeatureCtesSql("purged", "r")},
             |  ${qcTrainCtesSql(withEval = false, src = "purged", pfx = "r")},
             |  ${TextQueries.bpeWordsCte("w_0", "documents", "  ")},
             |  ${TextQueries.bpeWordsCte("v_0", "purged", "  ")}""".stripMargin)
        chain.append(",\n").append(TextQueries.bpeTrainCtesSql())
        chain.append(",\n").append(TextQueries.bpeTrainCtesSql("v", "p"))
        def rules(pfx: String) = (1 to B)
          .map(i => s"SELECT $i AS step, u1, u2 FROM ${pfx}best_$i")
          .mkString(" UNION ALL ")
        chain.append(
          s""",
             |  frules AS (${rules("")}),
             |  prules AS (${rules("p")}),
             |  audit AS (
             |    SELECT 'vec_index_before' AS item, COUNT(*) AS n FROM embeddings
             |    UNION ALL SELECT 'vec_index_removed', COUNT(*)
             |      FROM embeddings WHERE vec_id % 37 = 0
             |    UNION ALL SELECT 'vec_index_after', COUNT(*)
             |      FROM embeddings WHERE vec_id % 37 <> 0
             |    UNION ALL SELECT 'vec_index_leak', 0
             |    UNION ALL SELECT 'bpe_rules_n', COUNT(*) FROM prules
             |    UNION ALL SELECT 'bpe_rules_changed', COUNT(*)
             |      FROM frules f FULL JOIN prules p USING (step)
             |      WHERE (f.u1 IS DISTINCT FROM p.u1) OR (f.u2 IS DISTINCT FROM p.u2)
             |    UNION ALL SELECT 'qc_w_rows', COUNT(*) FROM rw$QcRounds
             |    UNION ALL SELECT 'qc_weights_changed', COUNT(*)
             |      FROM w$QcRounds w FULL JOIN rw$QcRounds r USING (b)
             |      WHERE w.w IS DISTINCT FROM r.w)
             |SELECT item, CAST(n AS BIGINT) AS n FROM audit ORDER BY item""".stripMargin)
        chain.toString
      }) { (s, dir) =>
      val root = graft.TempDirs.fresh("q125")
      def item(name: String, df: DataFrame): DataFrame =
        DedupQueries.auditItem(name, df) // shared with q122 — one audit-row shape
      val purged = docs(s, dir).select(col("doc_id"), col("text"))
        .filter(col("doc_id") % 37 =!= 0)
      // Stages 1 (index purge) and 2 (BPE retrain) are INDEPENDENT of
      // stage 3 (qc retrain): run them on a helper thread so their jobs
      // back-fill executors the qc retrain's stage tails leave idle (the
      // BPE retrain is driver-round-trip bound — 8 argmax collects over
      // vocab-sized frames — so it hides almost entirely under the
      // compute-bound qc feature/gradient stages). The two threads write
      // disjoint artifacts. Measured: q125 isolated wall 9.6 s → ~7 s,
      // the BPE segment's serialized latency gone.
      Overlap {
        // 1. The assignment index: row-wise anti-join purge, published,
        // audited from the PUBLISHED table (q122's discipline — the
        // reconciliation checks the rewrite, not re-derived arithmetic;
        // the leak check proves no removed vec_id survived).
        Tables.read(s, graft.pipeline.VectorIndex.prepared(
            s, dir, SimilarityQueries.IvfCells))
          .filter(col("vec_id") % 37 =!= 0).write.parquet(s"$root/vec_index")
        // 2. The BPE merge table: RETRAIN on the survivors with the
        // identical trainer that built the persisted artifact, publish,
        // diff against the persisted rules step by step.
        // IDENTICAL trainer input as the persisted build, by sharing.
        TextQueries.bpeTrain(TextQueries.bpeWords0(purged))
          .repartition(1).write.parquet(s"$root/bpe_merges")
      } {
        // 3. The qc model: same retrain discipline via the shared loop —
        // runs on THIS thread while the helper thread drives stages 1-2.
        qcModelRows(s, qcTrainOf(s, purged)._1).write.parquet(s"$root/qc_model")
      }
      // Audits read the PUBLISHED artifacts both threads wrote.
      val vidx = Tables.read(s, graft.pipeline.VectorIndex.prepared(
        s, dir, SimilarityQueries.IvfCells))
      // The published tables were written in the persisted artifacts'
      // schemas (the purge filters rows; the retrains share the
      // artifacts' writers), so each read-back passes that schema.
      val vpub = s.read.schema(vidx.schema).parquet(s"$root/vec_index")
      val vecAudit = item("vec_index_before", vidx)
        .unionAll(item("vec_index_removed", vidx.filter(col("vec_id") % 37 === 0)))
        .unionAll(item("vec_index_after", vpub))
        .unionAll(item("vec_index_leak", vpub.filter(col("vec_id") % 37 === 0)))
      val rules = Tables.read(s, TextQueries.bpeMergesPrepared(s, dir))
      val oldRules = rules
        .select(col("step"), col("lhs").as("olhs"), col("rhs").as("orhs"))
      val newRules = s.read.schema(rules.schema).parquet(s"$root/bpe_merges")
      val bpeChanged = newRules.select(col("step"), col("lhs"), col("rhs"))
        .join(oldRules, Seq("step"), "full_outer")
        .filter(!(col("lhs") <=> col("olhs")) || !(col("rhs") <=> col("orhs")))
      val bpeAudit = item("bpe_rules_n", newRules)
        .unionAll(item("bpe_rules_changed", bpeChanged))
      val model = Tables.read(s, qcModelPrepared(s, dir))
      val oldW = model.select(col("b"), col("w").cast(QcDec).as("ow"))
      val newW = s.read.schema(model.schema).parquet(s"$root/qc_model")
      val wChanged = newW.select(col("b"), col("w").cast(QcDec).as("nw"))
        .join(oldW, Seq("b"), "full_outer")
        .filter(!(col("nw") <=> col("ow")))
      val qcAudit = item("qc_w_rows", newW)
        .unionAll(item("qc_weights_changed", wChanged))
      vecAudit.unionAll(bpeAudit).unionAll(qcAudit).presented("item")
    }
  )
}