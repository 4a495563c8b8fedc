package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite

/** The load-bearing plan-shape claims, asserted on the ACTUAL physical
  * plans (PLANS.md is the human-readable dump; this pins them in CI):
  * ANN assignment runs as aggregates, not ranking windows; dedup
  * candidate generation never degenerates to a nested-loop/cartesian
  * product; small sides the scaladocs claim are broadcast really are.
  */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): SparkPlan =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan

  /** Collect over the plan INCLUDING inside AQE wrappers, materialized
    * query stages (a ReusedExchange lives inside a ShuffleQueryStage,
    * which `collect` treats as a leaf), and cached relations (the
    * rangeSorted persist wraps each heavy tail in an InMemoryTableScan
    * whose child plan carries the candidate-generation shape). */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val self = p.collect { case n => n }
    self.flatMap {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        qs +: nodes(qs.plan)
      case im: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        im +: nodes(im.relation.cachedPlan)
      case n => Seq(n)
    }
  }

  test("q42/q65/q88: ANN cell assignment plans with NO ranking window") {
    Seq("q42_ivf_knn", "q65_kmeans_step", "q88_pq_encode", "q89_pq_adc",
      "q93_kmeans_train", "q99_semantic_prune").foreach { q =>
      assert(!nodes(plan(q)).exists(_.isInstanceOf[WindowExec]),
        s"$q plans a Window — assignment must be an aggregate")
    }
  }

  /** q99's hot-cell guard (VERDICT r5 #1), pinned structurally: the
    * within-cell pair join must key on the salt-grid columns (ga, gb)
    * in ADDITION to cell_id — the join that bounds per-task pair work
    * at SemCellCap² — and the best-partner pick must be the
    * collect_topk aggregate, not a pair-row-shuffling ranking window
    * (the window absence is asserted above). */
  test("q99 pair join carries the salt-grid keys") {
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    val ns = nodes(plan("q99_semantic_prune"))
    val gridJoins = ns.collect {
      case j: SortMergeJoinExec
        if j.leftKeys.exists(_.toString.contains("ga")) &&
           j.leftKeys.exists(_.toString.contains("gb")) => j
      case j: ShuffledHashJoinExec
        if j.leftKeys.exists(_.toString.contains("ga")) &&
           j.leftKeys.exists(_.toString.contains("gb")) => j
    }
    assert(gridJoins.nonEmpty,
      s"q99's pair join lost its salt-grid keys (ga, gb):\n${ns.mkString("\n")}")
    assert(ns.exists(_.toString.contains("collect_topk")),
      "q99's best-partner pick is not the collect_topk aggregate")
    // The only nested-loop join allowed in q99 is the broadcast centroid
    // crossJoin inside VectorIndex.assign; pair generation itself must
    // never plan a CartesianProduct.
    assert(!ns.exists(_.isInstanceOf[CartesianProductExec]),
      "q99 plans a CartesianProduct")
  }

  test("dedup/similarity candidate generation never plans a cross product") {
    // Queries whose registered plan ends in rangeSorted are pinned on
    // their pre-sort helper frame instead — the trailing checkpoint
    // truncates the registered plan to an RDD scan, which would make
    // this assertion vacuous. Plan shape is data-independent, so the
    // helpers run on the raw corpus.
    val docs = Tables.load(spark, dir, "documents").select("doc_id", "text")
    val preSort: Seq[(String, org.apache.spark.sql.DataFrame)] =
      Seq("q28_minhash_pairs", "q32_simhash_bands", "q58_contamination",
        "q81_ngram_jaccard", "q84_bloom_decontam", "q95_dup_spans",
        "q98_novelty_score")
        .map(n => n -> operators.DedupQueries.preSortFrames(n)(docs)) :+
        ("q104_media_phash_dedup" -> operators.MediaQueries.phashPairs(
          operators.MediaQueries.phashPlantedUnion(docs)))
    val plans = preSort.map { case (n, df) => n -> df.queryExecution.executedPlan } ++
      Seq("q31_embedding_neardup", "q59_dup_clusters", "q68_incremental_dedup",
        "q86_canonical_pick").map(q => q -> plan(q))
    plans.foreach { case (q, p) =>
      val ns = nodes(p)
      assert(!ns.exists(_.isInstanceOf[CartesianProductExec]),
        s"$q plans a CartesianProduct")
      assert(!ns.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
        s"$q plans a BroadcastNestedLoopJoin")
    }
  }

  /** The candidate-generation contract of the two hot-key-guarded dedup
    * queries, pinned so future edits can't silently regress it:
    * q81's pair explode only ever runs behind the df-cap filter, and
    * q95's cross-doc share test stays a plain min/max aggregate (never
    * a distinct-set build on the window hash). */
  test("q81 pair explode is df-capped; q95 share test plans no distinct agg") {
    import org.apache.spark.sql.execution.{FilterExec, GenerateExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    // Pre-sort helper frames (the registered plans end in rangeSorted,
    // whose checkpoint truncates them — see the cross-product test).
    val docs81 = Tables.load(spark, dir, "documents").select("doc_id", "text")
    val ns81 = nodes(operators.DedupQueries.preSortFrames("q81_ngram_jaccard")(docs81)
      .queryExecution.executedPlan)
    // Pair-minting Generates are the ones that explode the per-shingle
    // (doc_id, pos, n) entry structs into the two pair sides.
    val pairGens = ns81.collect {
      case g: GenerateExec
        if g.generatorOutput.exists(a => a.name == "ea" || a.name == "eb") => g
    }
    assert(pairGens.nonEmpty, "q81 lost its posting-list pair explode")
    pairGens.foreach { g =>
      val conds = nodes(g).collect { case f: FilterExec => f.condition.toString }
      assert(conds.exists(c =>
          c.contains(s"<= ${operators.DedupQueries.JaccardDfCap}")),
        s"q81 pair explode runs uncapped — no df <= cap filter beneath it:\n$conds")
    }
    val ns95 = nodes(operators.DedupQueries.preSortFrames("q95_dup_spans")(docs81)
      .queryExecution.executedPlan)
    val distinctAggs = ns95.collect {
      case a: BaseAggregateExec
        if a.aggregateExpressions.exists(_.isDistinct) => a
    }
    assert(distinctAggs.isEmpty,
      s"q95 share test plans a distinct aggregate (hot-key set build): $distinctAggs")
  }

  /** The r9 containment guard's load-bearing claim: the train gram
    * stream is consumed through BROADCAST joins (eval-gram semi-join,
    * prefix probe, candidate-id semi-join) — candidate generation never
    * shuffles the train side on the gram key. Pinned on the pre-sort
    * frame (the registered plan ends in rangeSorted). */
  test("q58/q84 containment: train side flows through broadcast joins only") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
      ShuffledHashJoinExec, SortMergeJoinExec}
    val docs = Tables.load(spark, dir, "documents").select("doc_id", "text")
    Seq("q58_contamination", "q84_bloom_decontam").foreach { q =>
      val ns = nodes(operators.DedupQueries.preSortFrames(q)(docs)
        .queryExecution.executedPlan)
      val bhj = ns.count(_.isInstanceOf[BroadcastHashJoinExec])
      assert(bhj >= 2,
        s"$q: expected the guard's broadcast joins (semi + prefix/cand), found $bhj")
      // And the NEGATIVE half (ADVICE r9 #3): no shuffled join keyed on
      // the gram column may appear anywhere in candidate generation — a
      // regression that re-introduces a train-side gram shuffle ALONGSIDE
      // the broadcasts would otherwise still satisfy the count above.
      def gramKeyed(keys: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =
        keys.exists(_.references.exists(_.name == "g"))
      val shuffledOnGram = ns.collect {
        case j: SortMergeJoinExec if gramKeyed(j.leftKeys) || gramKeyed(j.rightKeys) => j
        case j: ShuffledHashJoinExec if gramKeyed(j.leftKeys) || gramKeyed(j.rightKeys) => j
      }
      assert(shuffledOnGram.isEmpty,
        s"$q: candidate generation plans a SHUFFLED join on the gram key:\n$shuffledOnGram")
    }
  }

  /** q103's scoring join must stay a SHUFFLE-hash join with the model
    * as build side: the stats-less checkpoint scan once let the
    * optimizer broadcast the 6M-row bigram side and stream the model
    * on one task. Pinned on the pre-checkpoint scored frame. */
  test("q103 scoring is a shuffle-hash join keyed on the bigram") {
    import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
    val ns = nodes(operators.TextQueries.lmScoredFrame(spark, dir)
      .queryExecution.executedPlan)
    val shj = ns.collect {
      case j: ShuffledHashJoinExec if j.leftKeys.exists(_.toString.contains("b#")) ||
        j.rightKeys.exists(_.toString.contains("b#")) => j
    }
    assert(shj.nonEmpty,
      s"q103's scoring join is not a ShuffledHashJoin on the bigram key:\n${ns.mkString("\n")}")
    // The BUILD side must be the MODEL (right) side — building over the
    // corpus side is the per-task memory hazard the pin exists for.
    shj.foreach { j =>
      assert(j.buildSide == org.apache.spark.sql.catalyst.optimizer.BuildRight,
        s"q103's scoring join builds over the corpus side: $j")
    }
  }

  /** q113's two load-bearing scale laws, pinned on the
    * UNtruncated encode plan (the registered query's checkpoints hide
    * it): (a) no cartesian product anywhere — the centroid/codebook
    * cross joins must stay broadcast; (b) NO shuffle exchange carries
    * an array column — assignment, residual, and subspace split are
    * map-only, so the raw vectors never cross the wire; only (vec_id,
    * cell_id, m, code) longs do. */
  test("q113 IVF-PQ encode: no cartesian product, vectors never shuffle") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.ArrayType
    val base = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), functions.VectorOps.asDouble(col("embedding")).as("ev"))
    val cents = pipeline.VectorIndex.seedCentroids(base, operators.SimilarityQueries.IvfCells)
    val ns = nodes(operators.SimilarityQueries.ivfpqIndex(
      operators.SimilarityQueries.ivfpqSub(base, cents)).codes.queryExecution.executedPlan)
    assert(!ns.exists(_.isInstanceOf[CartesianProductExec]),
      "q113 encode plans a CartesianProduct")
    val vecShuffles = ns.collect {
      case e: ShuffleExchangeExec
        if e.child.output.exists(_.dataType.isInstanceOf[ArrayType]) => e
    }
    assert(vecShuffles.isEmpty,
      s"q113 encode shuffles an array column (vectors must never cross the wire):\n$vecShuffles")
  }

  test("q115 training round: no join for parameter application, gradient is one keyed hash aggregate") {
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import spark.implicits._
    // Shape-equivalent feature frame (the query's featY schema): the
    // pins hold regardless of row counts — the weights are a closure
    // literal, so no statistics can change the plan class.
    val featY = Seq((1L, 0, BigDecimal("0.25"), 1), (1L, 65, BigDecimal("1"), 1),
      (2L, 0, BigDecimal("0.5"), 0), (2L, 65, BigDecimal("1"), 0))
      .toDF("doc_id", "b", "x", "y")
    val scored = operators.CurationQueries.qcScored(featY,
      operators.CurationQueries.qcZeroWeights)
    val sPlan = nodes(scored.queryExecution.executedPlan)
    // Parameters ship in the task closure (the MLlib weights-broadcast
    // shape): applying them must plan NO join of any kind.
    assert(!sPlan.exists(_.isInstanceOf[BaseJoinExec]),
      "q115 sigmoid pass plans a join — weights must ship in the closure")
    assert(sPlan.exists(_.isInstanceOf[WindowExec]),
      "q115 z must be the doc-keyed window sum")
    val gPlan = nodes(operators.CurationQueries.qcGradient(scored)
      .queryExecution.executedPlan)
    assert(gPlan.exists {
      case h: HashAggregateExec => h.groupingExpressions.exists(_.toString.contains("b"))
      case _ => false
    }, "q115 gradient must be a bucket-keyed hash aggregate")
    assert(!gPlan.exists(n => n.isInstanceOf[CartesianProductExec] ||
      n.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "q115 gradient plans an unkeyed join")
  }

  test("claimed broadcasts are real: q60 stats/dfreq, q26 query side, q99 centroids, q105 steps") {
    Seq("q60_bm25", "q26_knn_topk", "q99_semantic_prune", "q105_mmr_context").foreach { q =>
      assert(nodes(plan(q)).exists(_.isInstanceOf[BroadcastExchangeExec]),
        s"$q plans no broadcast exchange")
    }
    // q105's greedy steps must stay broadcast/aggregate-shaped: after
    // the one CollectTopK corpus pass, nothing may plan a cartesian
    // product over candidates.
    assert(!nodes(plan("q105_mmr_context")).exists(_.isInstanceOf[CartesianProductExec]),
      "q105 plans a CartesianProduct")
  }

  test("the flagship pipeline broadcast-joins its weather dimension (J2)") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val p = pipeline.DailySummary.run(spark, dir).queryExecution.executedPlan
    assert(nodes(p).exists(_.isInstanceOf[BroadcastHashJoinExec]),
      s"flagship plans no BroadcastHashJoin for the weather dim:\n$p")
  }

  /** The E1 embedding is one native per-row kernel: no explode, no
    * wide sort/object aggregate, no exchange or join keyed on the
    * sentence text or anything computed from it (the former shape
    * shuffled on a digest of the text and joined back on it), and the
    * kernel runs fused inside WholeStageCodegen. */
  test("the flagship embeds per row: one fused kernel, no exchange or join on the text") {
    import graft.plans.HashSignEmbed
    import org.apache.spark.sql.catalyst.expressions.{ExprId, Expression, NamedExpression}
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    import org.apache.spark.sql.execution.{GenerateExec, InputAdapter, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.aggregate.{ObjectHashAggregateExec, SortAggregateExec}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val df = pipeline.DailySummary.run(spark, dir)
    df.collect() // the final adaptive plan
    val p = df.queryExecution.executedPlan
    val ns = nodes(p)
    assert(!ns.exists(n => n.isInstanceOf[GenerateExec] ||
      n.isInstanceOf[SortAggregateExec] || n.isInstanceOf[ObjectHashAggregateExec]), p)
    // Every attribute computed from the sentence text, to a fixpoint.
    var fromText: Set[ExprId] = ns.flatMap(_.output)
      .filter(_.name == "semantic_sentence").map(_.exprId).toSet
    var grown = true
    while (grown) {
      val next = fromText ++ ns.flatMap(_.expressions).collect {
        case e: NamedExpression if e.references.exists(a => fromText(a.exprId)) => e.exprId
      }
      grown = next.size > fromText.size
      fromText = next
    }
    val keyedOnText = ns.filter {
      case j: BaseJoinExec => j.references.exists(a => fromText(a.exprId))
      case e: ShuffleExchangeExec => e.outputPartitioning match {
        case k: Expression => k.references.exists(a => fromText(a.exprId))
        case _ => false
      }
      case _ => false
    }
    assert(keyedOnText.isEmpty, s"exchange or join keyed on the text:\n$p")
    def fusedIn(n: SparkPlan): Seq[SparkPlan] = n match {
      case _: InputAdapter => Nil
      case _ => n +: n.children.flatMap(fusedIn)
    }
    val fused = ns.collect { case w: WholeStageCodegenExec => fusedIn(w.child) }.flatten
    val kernels = ns.flatMap(n => n.expressions.flatMap(_.collect {
      case k: HashSignEmbed => n -> k
    }))
    assert(kernels.nonEmpty, p)
    kernels.foreach { case (n, k) =>
      assert(fused.exists(_ eq n), s"HashSignEmbed runs outside WholeStageCodegen:\n$p")
      assert(!k.exists(_.isInstanceOf[CodegenFallback]), k)
    }
  }

  /** Walk the unary presentation chain from the root (sorts, projects,
    * limits, AQE wrappers) to the first exchange: that is the exchange
    * the final result funnels through. Deeper single-partition exchanges
    * (global scalar aggregates) are legitimate — they carry a handful of
    * rows, not the output. */
  private def resultFunnel(p: SparkPlan): Option[ShuffleExchangeExec] = p match {
    case a: AdaptiveSparkPlanExec => resultFunnel(a.executedPlan)
    case e: ShuffleExchangeExec => Some(e)
    case n if n.children.size == 1 => resultFunnel(n.children.head)
    case _ => None // hit a join/agg/scan first — no presentation funnel
  }

  test("a diamond plan reuses its exchange instead of recomputing the subtree") {
    // Self-join over one aggregate: the shuffle is paid once and the
    // second consumer reads a ReusedExchange — the engine-level dedup
    // that makes shared CTE subtrees affordable at scale.
    import org.apache.spark.sql.functions._
    val ev = Tables.load(spark, dir, "events")
    val agg = ev.groupBy(col("event_type")).agg(sum(col("value")).as("s"))
    val joined = agg.join(
      agg.select(col("event_type"), (col("s") * 2).as("s2")), "event_type")
    joined.collect() // AQE finalizes reuse at execution
    val ns = nodes(joined.queryExecution.executedPlan)
    assert(ns.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.exchange.ReusedExchangeExec]),
      "no ReusedExchangeExec in the diamond plan:\n" +
        joined.queryExecution.executedPlan)
  }

  test("q127 selection is map-only: thresholds broadcast, no window, no per-stratum rank") {
    val ps = nodes(plan("q127_train_order"))
    assert(!ps.exists(_.isInstanceOf[WindowExec]),
      "q127 plans a window — rate-based keep must not rank strata")
    assert(ps.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      "q127's threshold frame is not broadcast onto the corpus")
    // The 1-row budget frame crosses as a broadcast nested loop by
    // design (q62's tiny-side pattern); only a true unbroadcast
    // cartesian is forbidden.
    assert(!ps.exists(_.isInstanceOf[CartesianProductExec]))
  }

  test("q130 cumsum windows: corpus side is bucket-partitioned; only the constant offset window is global") {
    val ws = nodes(plan("q130_shard_plan")).collect { case w: WindowExec => w }
    val (global, parted) = ws.partition(_.partitionSpec.isEmpty)
    assert(parted.nonEmpty, "no bucket-partitioned within-bucket cumsum window")
    // Any unpartitioned window must sit over the 256-row bucket-total
    // frame (a checkpoint scan), never over the corpus scan.
    global.foreach { w =>
      assert(!w.collectLeaves().exists(_.nodeName.contains("Scan parquet")),
        s"global window runs over a corpus scan: $w")
    }
  }

  test("unbounded (row-per-input) outputs never funnel through one partition") {
    // Every query whose output scales with its input: the trailing sort
    // must be a parallel range sort (or top-k), never repartition(1).
    // Streaming-harness queries (q49/q53/q54) are excluded here only for
    // test cost; their returned frames are parquet scans + orderBy.
    val unbounded = Seq(
      "q04_eq_range_pred", "q10_semi_join", "q11_anti_join",
      "q15_upsert_last_wins", "q19_set_ops", "q20_first_per_group",
      "q25_flatten_project", "q27_exact_dedup", "q28_minhash_pairs",
      "q31_embedding_neardup", "q32_simhash_bands", "q34_quality_score",
      "q36_fingerprint_groups", "q39_media_features", "q43_session_window",
      "q50_chunking", "q52_asof_enrich", "q58_contamination",
      "q59_dup_clusters", "q60_bm25", "q63_pii_scrub",
      "q64_repetition_filter", "q67_sq8_quantize", "q68_incremental_dedup",
      "q69_pmi_bigrams", "q70_sequence_packing", "q75_ship_manifest",
      "q80_jdbc_upsert", "q81_ngram_jaccard", "q82_tfidf_terms",
      "q83_domain_sample", "q84_bloom_decontam", "q85_posting_lists",
      "q86_canonical_pick", "q87_gap_interpolate", "q88_pq_encode",
      "q98_novelty_score", "q99_semantic_prune", "q100_ivf_append",
      "q103_lm_perplexity", "q109_bpe_segment", "q127_train_order")
    unbounded.foreach { q =>
      resultFunnel(plan(q)).foreach { e =>
        assert(e.outputPartitioning.numPartitions > 1,
          s"$q funnels its full output through a single-partition exchange: $e")
      }
    }
  }
}
