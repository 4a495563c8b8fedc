package graft

import scala.collection.mutable
import scala.reflect.ClassTag
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{ExprId, Expression, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{Partial, PartialMerge, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildSide}
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, HashAggregateExec => HashAgg,
  ObjectHashAggregateExec => ObjectHashAgg, SortAggregateExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins._
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, DataType, StructType}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** The scale design's plan laws. Each row of [[laws]] names a frame — a
  * registered query, or a helper frame where a checkpoint truncates the
  * registered plan — and the predicates its FINAL adaptive plan must
  * satisfy after a noop write at sf0.001. The walk descends into AQE
  * stages, query stages and cached relations; `initially` reads the
  * plan AQE started from. Run one frame's law with
  * `sbt "testOnly graft.PlanShapeSpec -- -z q113"`.
  */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  /** One predicate of a law, over the executed plan's root. */
  private case class P(label: String, holds: SparkPlan => Boolean) {
    def unary_! : P = P(s"not $label", r => !holds(r))
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p.collect { case n => n }.flatMap {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case qs: QueryStageExec => qs +: nodes(qs.plan)
    case im: InMemoryTableScanExec => im +: nodes(im.relation.cachedPlan)
    case n => Seq(n)
  }

  private def all[T: ClassTag](r: SparkPlan): Seq[T] = nodes(r).collect { case t: T => t }
  private def named(e: Expression, c: String) = e.references.exists(_.name == c)
  private def arrays(t: DataType): Boolean = t match {
    case _: ArrayType => true
    case s: StructType => s.fields.exists(f => arrays(f.dataType))
    case _ => false
  }

  // ---- The vocabulary ----
  private def has[T: ClassTag](n: Int = 1) =
    P(s">= $n ${implicitly[ClassTag[T]].runtimeClass.getSimpleName}", all[T](_).size >= n)
  private def no[T: ClassTag] = !has[T]()
  private val noCross = Seq(no[CartesianProductExec], no[BroadcastNestedLoopJoinExec])
  private def exchanges(max: Int) = P(s"<= $max shuffle exchanges", all[ShuffleExchangeExec](_).size <= max)
  private def calls(fn: String, n: Int = 1) = P(s">= $n nodes calling $fn",
    nodes(_).count(_.expressions.exists(_.exists(_.prettyName == fn))) >= n)
  private def reads(path: String) = P(s"scans $path", all[FileSourceScanExec](_)
    .exists(_.relation.location.rootPaths.exists(_.toString.contains(path))))
  private def pushed(c: String) = P(s"pushes a filter on $c", all[FileSourceScanExec](_)
    .exists(_.metadata.get("PushedFilters").exists(_.contains(s"($c,"))))
  private def groups[A <: BaseAggregateExec: ClassTag](keys: String*) =
    P(s"${implicitly[ClassTag[A]].runtimeClass.getSimpleName} by ${keys.mkString(",")}",
      all[A](_).exists(a => keys.forall(k => a.groupingExpressions.exists(named(_, k)))))
  /** Some `J` join keyed on every one of `keys` whose build side outputs every `build` column. */
  private def joins[J <: BaseJoinExec: ClassTag](keys: String*)(build: String*) = {
    def side(j: BaseJoinExec): Option[BuildSide] = j match {
      case h: HashJoin => Some(h.buildSide)
      case b: BroadcastNestedLoopJoinExec => Some(b.buildSide)
      case _ => None
    }
    val name = implicitly[ClassTag[J]].runtimeClass.getSimpleName
    P(s"$name on ${keys.mkString(",")} building ${build.mkString(",")}",
      all[J](_).exists { j =>
        keys.forall(k => (j.leftKeys ++ j.rightKeys).exists(named(_, k))) && (build.isEmpty ||
          side(j).map(s => if (s == BuildLeft) j.left else j.right)
            .exists(b => build.forall(c => b.output.exists(_.name == c))))
      })
  }
  /** No shuffle exchange outputs an array column. */
  private val noArrayExchanged = P("no shuffle exchange outputs an array",
    all[ShuffleExchangeExec](_).forall(!_.child.output.exists(a => arrays(a.dataType))))
  /** No map-side aggregate ships an array in its buffer (a typed buffer holds its inputs and result). */
  private val noArrayBuffer = P("no map-side aggregate buffers an array", all[BaseAggregateExec](_).forall(
    _.aggregateExpressions.filter(e => e.mode == Partial || e.mode == PartialMerge).forall { e =>
      val f = e.aggregateFunction
      !(f.aggBufferAttributes.exists(a => arrays(a.dataType)) || (f match {
        case t: TypedImperativeAggregate[_] => (t.dataType +: t.children.map(_.dataType)).exists(arrays)
        case _ => false
      }))
    }))
  /** The exchange the result funnels through (the first one below the
    * root's unary chain) is not one partition. */
  private val noFunnel = {
    def funnel(p: SparkPlan): Option[ShuffleExchangeExec] = p match {
      case a: AdaptiveSparkPlanExec => funnel(a.executedPlan)
      case qs: QueryStageExec => funnel(qs.plan)
      case e: ShuffleExchangeExec => Some(e)
      case n if n.children.size == 1 => funnel(n.children.head)
      case _ => None
    }
    P("no single-partition result funnel", funnel(_).forall(_.outputPartitioning.numPartitions > 1))
  }
  /** `p` on the plan AQE started from. */
  private def initially(p: P) =
    P(s"initially ${p.label}", r => p.holds(r.transform { case a: AdaptiveSparkPlanExec => a.initialPlan }))
  /** No exchange or join keyed on column `c` or anything computed from it, to a fixpoint. */
  private def notKeyedOn(c: String) = P(s"no exchange or join keyed on $c", { r =>
    val ns = nodes(r)
    var taint: Set[ExprId] = ns.flatMap(_.output).filter(_.name == c).map(_.exprId).toSet
    var grown = true
    while (grown) {
      val next = taint ++ ns.flatMap(_.expressions).collect {
        case e: NamedExpression if e.references.exists(a => taint(a.exprId)) => e.exprId
      }
      grown = next.size > taint.size
      taint = next
    }
    !ns.exists {
      case j: BaseJoinExec => j.references.exists(a => taint(a.exprId))
      case e: ShuffleExchangeExec => e.outputPartitioning match {
        case k: Expression => k.references.exists(a => taint(a.exprId))
        case _ => false
      }
      case _ => false
    }
  })
  /** Every node calling `fn` runs inside whole-stage codegen, with no interpreted fallback. */
  private def fused(fn: String) = P(s"$fn fused in codegen", { r =>
    def in(n: SparkPlan): Seq[SparkPlan] = n match {
      case _: InputAdapter => Nil
      case _ => n +: n.children.flatMap(in)
    }
    val ns = nodes(r)
    val stage = ns.collect { case w: WholeStageCodegenExec => in(w.child) }.flatten
    val callers = ns.filter(_.expressions.exists(_.exists(_.prettyName == fn)))
    callers.nonEmpty && callers.forall(n => stage.exists(_ eq n) &&
      !n.expressions.exists(_.exists(e => e.prettyName == fn && e.exists(_.isInstanceOf[CodegenFallback]))))
  })

  // ---- Frames the registered plans truncate (checkpoints, the rangeSorted sort) ----
  private lazy val docs = Tables.load(spark, dir, "documents").select("doc_id", "text")
  private lazy val helpers: Map[String, () => DataFrame] =
    operators.DedupQueries.preSortFrames.map { case (q, f) => s"$q/pre-sort" -> (() => f(docs)) } ++ Map(
      "q104_media_phash_dedup/pre-sort" -> (() => operators.MediaQueries.phashPairs(
        operators.MediaQueries.phashPlantedUnion(docs))),
      "q103_lm_perplexity/scored" -> (() => operators.TextQueries.lmScoredFrame(spark, dir)),
      "q113_ivfpq_search/encode" -> (() => {
        val base = Tables.load(spark, dir, "embeddings")
          .select(col("vec_id"), functions.VectorOps.asDouble(col("embedding")).as("ev"))
        val cents = pipeline.VectorIndex.seedCentroids(base, operators.SimilarityQueries.IvfCells)
        operators.SimilarityQueries.ivfpqIndex(operators.SimilarityQueries.ivfpqSub(base, cents)).codes
      }),
      // A shape-equivalent feature frame: the weights are a closure literal,
      // so no statistics can change the plan class.
      "q115_quality_classifier/sigmoid" -> (() => qcSigmoid),
      "q115_quality_classifier/gradient" -> (() => operators.CurationQueries.qcGradient(qcSigmoid)),
      "q128_quality_ensemble/joined" -> (() => operators.ReleaseQueries.ensembleJoined(spark, dir)),
      "flagship" -> (() => pipeline.DailySummary.run(spark, dir)),
      // Self-join over one aggregate: the second consumer reads a ReusedExchange.
      "diamond" -> (() => {
        import org.apache.spark.sql.functions.sum
        val agg = Tables.load(spark, dir, "events").groupBy(col("event_type")).agg(sum(col("value")).as("s"))
        agg.join(agg.select(col("event_type"), (col("s") * 2).as("s2")), "event_type")
      }))
  private def qcSigmoid: DataFrame = {
    import spark.implicits._
    operators.CurationQueries.qcScored(Seq((1L, 0, BigDecimal("0.25"), 1), (1L, 65, BigDecimal("1"), 1),
      (2L, 0, BigDecimal("0.5"), 0), (2L, 65, BigDecimal("1"), 0)).toDF("doc_id", "b", "x", "y"),
      operators.CurationQueries.qcZeroWeights)
  }

  private val finals = mutable.Map.empty[String, SparkPlan]
  /** The final plan of a noop write of frame `key`, run once per spec. */
  private def finalPlan(key: String): SparkPlan = finals.getOrElseUpdate(key, {
    var qe: QueryExecution = null
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, q: QueryExecution, d: Long): Unit = qe = q
      def onFailure(f: String, q: QueryExecution, e: Exception): Unit = ()
    }
    val df = helpers.get(key).map(_()).getOrElse(SparkEntry.queries(key)(spark, dir))
    spark.listenerManager.register(listener)
    try {
      df.write.mode("overwrite").format("noop").save()
      org.apache.spark.GraftSpark.drainListeners(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    qe.executedPlan
  })

  // ---- The laws ----
  private val dfCapped = P("every pair explode runs behind the df-cap filter", { r =>
    val pairGens = all[GenerateExec](r).filter(_.generatorOutput.exists(a => a.name == "ea" || a.name == "eb"))
    pairGens.nonEmpty && pairGens.forall(g => all[FilterExec](g)
      .exists(_.condition.toString.contains(s"<= ${operators.DedupQueries.JaccardDfCap}")))
  })
  private val noDistinctAgg = P("no distinct aggregate",
    all[BaseAggregateExec](_).forall(!_.aggregateExpressions.exists(_.isDistinct)))
  private val containment = Seq(has[BroadcastHashJoinExec](2), !joins[ShuffledJoin]("g")()) ++ noCross
  private val bucketWindows = P("cumsum windows are bucket-partitioned; global ones read no file", { r =>
    val (global, parted) = all[WindowExec](r).partition(_.partitionSpec.isEmpty)
    parted.nonEmpty && global.forall(w => all[FileSourceScanExec](w).isEmpty)
  })

  private val laws: Seq[(String, Seq[P])] = Seq(
    "q01_pricing_summary" -> Seq(pushed("l_shipdate"), groups[HashAgg]("l_returnflag", "l_linestatus"),
      has[HashAgg](2), exchanges(3)),
    "q04_eq_range_pred" -> Seq(pushed("event_type"), pushed("value"), exchanges(1), noFunnel),
    "q09_multiway_join" -> Seq(no[ShuffledJoin], has[BroadcastHashJoinExec](3),
      joins[BroadcastHashJoinExec]("n_nationkey")("n_name")),
    "q26_knn_topk" -> Seq(calls("collect_topk"), joins[BroadcastNestedLoopJoinExec]()("qv"),
      has[BroadcastExchangeExec](), exchanges(2)),
    "q28_minhash_pairs/pre-sort" -> (Seq(calls("collect_list"), joins[HashJoin]("id_b")("n_b"),
      calls("sorted_intersect_size")) ++ noCross),
    "q31_embedding_neardup" -> (noFunnel +: noCross),
    "q32_simhash_bands/pre-sort" -> (joins[HashJoin]("band_id", "band_val")() +: noCross),
    "q42_ivf_knn" -> Seq(no[WindowExec], calls("collect_topk"), no[SortAggregateExec],
      joins[BroadcastNestedLoopJoinExec]()("cv")),
    "q52_asof_enrich" -> Seq(has[plans.AsOfJoinExec](), has[SortExec](3), noFunnel),
    "q58_contamination/pre-sort" -> containment,
    "q59_dup_clusters" -> (Seq(groups[HashAgg]("u"), joins[HashJoin]("id")(), noFunnel) ++ noCross),
    "q60_bm25" -> Seq(has[BroadcastExchangeExec](), joins[BroadcastHashJoinExec]("tok")("df"),
      joins[BroadcastNestedLoopJoinExec]()("avgdl"), noFunnel),
    "q65_kmeans_step" -> Seq(no[WindowExec]),
    "q68_incremental_dedup" -> (Seq(reads("dedup_index"), joins[HashJoin]("content_hash")(),
      joins[HashJoin]("band_id", "band_val")(), noFunnel) ++ noCross),
    "q70_sequence_packing" -> Seq(has[WindowExec](), has[GenerateExec](), noFunnel),
    "q76_heavy_hitters" -> Seq(calls("frequent_items", 2), has[TakeOrderedAndProjectExec]()),
    "q81_ngram_jaccard/pre-sort" ->
      (Seq(dfCapped, calls("collect_list"), calls("sorted_intersect_size")) ++ noCross),
    "q84_bloom_decontam/pre-sort" -> containment,
    "q86_canonical_pick" -> (noFunnel +: noCross),
    "q88_pq_encode" -> Seq(no[WindowExec], noFunnel),
    "q89_pq_adc" -> Seq(no[WindowExec], calls("collect_topk", 4), joins[BroadcastHashJoinExec]("m", "code")()),
    "q91_rag_context" -> Seq(calls("collect_topk"), joins[BroadcastHashJoinExec]("doc_id")("text")),
    "q93_kmeans_train" ->
      Seq(no[WindowExec], groups[HashAgg]("cell_id"), noArrayExchanged, noArrayBuffer),
    "q95_dup_spans/pre-sort" -> (Seq(noDistinctAgg, groups[HashAgg]("h"), joins[HashJoin]("h")(),
      has[WindowExec]()) ++ noCross),
    "q98_novelty_score/pre-sort" -> (Seq(groups[HashAgg]("h"), groups[HashAgg]("doc_id")) ++ noCross),
    "q99_semantic_prune" -> Seq(initially(joins[ShuffledJoin]("ga", "gb")()),
      joins[HashJoin]("cell_id", "ga", "gb")(),
      calls("collect_topk"), no[WindowExec], no[CartesianProductExec], has[BroadcastExchangeExec](), noFunnel),
    "q100_ivf_append" -> Seq(reads("vec_index"), joins[BroadcastNestedLoopJoinExec]()("cv"), noFunnel),
    "q103_lm_perplexity/scored" -> Seq(joins[ShuffledHashJoinExec]("b")("logp"),
      !joins[ShuffledHashJoinExec]("b")("doc_id"), joins[BroadcastNestedLoopJoinExec]()("v")),
    "q104_media_phash_dedup/pre-sort" -> (Seq(calls("phash64"), groups[ObjectHashAgg]("band_id", "band_val"),
      no[BaseJoinExec], exchanges(2)) ++ noCross),
    "q105_mmr_context" -> Seq(calls("collect_topk"), joins[BroadcastHashJoinExec]("query_id", "doc_id")(),
      has[BroadcastExchangeExec](),
      no[CartesianProductExec]),
    "q50_chunking" -> Seq(exchanges(1), noFunnel),
    "q107_priority_sample" ->
      Seq(calls("collect_topk"), joins[BroadcastHashJoinExec]("doc_id")("tau"), exchanges(2)),
    // The trainer returns its rule list as a local relation; BpeSpec pins the rounds.
    "q108_bpe_train" -> Seq(no[FileSourceScanExec], exchanges(1)),
    "q109_bpe_segment" -> Seq(joins[BroadcastHashJoinExec]("tok")("units"), groups[HashAgg]("doc_id"),
      exchanges(2), noFunnel),
    "q110_media_resize" -> Seq(calls("thumb8x6"), exchanges(1)),
    "q111_media_frame_sample" -> Seq(calls("byte_slice_sum"), exchanges(1)),
    "q112_bpe_apply_persisted" -> Seq(joins[BroadcastHashJoinExec]("tok")("units"), exchanges(3)),
    // The seed centroids' and codebook's collect_list buffers cross a
    // single-partition exchange, so noArrayBuffer fails here (ROADMAP D7).
    "q113_ivfpq_search/encode" -> Seq(noArrayExchanged, no[CartesianProductExec], calls("min_by"),
      joins[BroadcastHashJoinExec]("m")("cvr")),
    "q115_quality_classifier/sigmoid" -> Seq(no[BaseJoinExec], has[WindowExec]()),
    "q115_quality_classifier/gradient" -> (groups[HashAgg]("b") +: noCross),
    "q116_score_persisted" -> Seq(has[WindowExec](), !joins[BaseJoinExec]("b")(), noFunnel),
    "q119_ivfpq_append" -> Seq(reads("ivfpq_index"), joins[HashJoin]("cell_id")(), calls("min_by"),
      calls("collect_topk")),
    "q121_ivfpq_trained" -> Seq(calls("collect_topk"), joins[BroadcastHashJoinExec]("cell_id", "m", "code")(),
      joins[SortMergeJoinExec]("query_id")()),
    "q125_takedown_artifacts" -> Seq(reads("vec_index"), joins[SortMergeJoinExec]("step")(),
      joins[SortMergeJoinExec]("b")()),
    "q126_ivfpq_nprobe_curve" -> Seq(no[WindowExec], calls("collect_topk"),
      joins[BroadcastHashJoinExec]("query_id", "vec_id")(), joins[BroadcastHashJoinExec]("vec_id")()),
    "q127_train_order" -> Seq(no[WindowExec], joins[BroadcastHashJoinExec]("e", "lang")(),
      no[CartesianProductExec], noFunnel),
    "q128_quality_ensemble/joined" ->
      Seq(joins[HashJoin]("doc_id")("rq_raw"), joins[HashJoin]("doc_id")("rq_raw", "rr_raw")),
    "q129_data_card" -> Seq(has[WindowExec](), exchanges(4)),
    "q130_shard_plan" -> Seq(bucketWindows, joins[BroadcastHashJoinExec]("bk")()),
    "q131_quality_curriculum" -> Seq(joins[BroadcastHashJoinExec]("e", "lang")(), has[WindowExec]()),
    "q132_curriculum_shards" -> Seq(joins[BroadcastHashJoinExec]("epoch", "bk")(), has[WindowExec](3)),
    "q133_card_on_append" -> Seq(no[FileSourceScanExec], no[ShuffledJoin]),
    "q134_stream_card_maintain" -> Seq(reads("card")),
    "q137_ivfpq_refine_curve" -> Seq(no[WindowExec], calls("collect_topk"),
      joins[BroadcastHashJoinExec]("query_id", "vec_id")()),
    "flagship" -> Seq(joins[BroadcastHashJoinExec]("d")("temp_c"), no[GenerateExec], no[SortAggregateExec],
      no[ObjectHashAgg], notKeyedOn("semantic_sentence"), fused("hash_sign_embed")),
    "diamond" -> Seq(has[ReusedExchangeExec]())
  ) ++ Seq("q10_semi_join", "q11_anti_join", "q15_upsert_last_wins", "q19_set_ops", "q20_first_per_group",
    "q25_flatten_project", "q27_exact_dedup", "q28_minhash_pairs", "q32_simhash_bands", "q34_quality_score",
    "q36_fingerprint_groups", "q39_media_features", "q43_session_window", "q58_contamination",
    "q63_pii_scrub", "q64_repetition_filter", "q67_sq8_quantize", "q69_pmi_bigrams", "q75_ship_manifest",
    "q80_jdbc_upsert", "q81_ngram_jaccard", "q82_tfidf_terms", "q83_domain_sample", "q84_bloom_decontam",
    "q85_posting_lists", "q87_gap_interpolate", "q98_novelty_score", "q103_lm_perplexity"
  ).map(_ -> Seq(noFunnel))

  test("every law names a query or helper frame once and has a predicate") {
    val keys = laws.map(_._1)
    assert(keys.diff(keys.distinct).isEmpty, "duplicate law keys")
    assert(keys.filterNot(k => SparkEntry.queries.contains(k) || helpers.contains(k)).isEmpty)
    assert(laws.forall(_._2.nonEmpty))
  }

  private val lawOf = laws.toMap
  private def check(key: String): Unit = {
    val p = finalPlan(key)
    val broken = lawOf(key).filterNot(_.holds(p)).map(_.label)
    assert(broken.isEmpty, s"$key breaks: ${broken.mkString("; ")}\n$p")
  }
  laws.foreach { case (key, _) => test(s"law $key")(check(key)) }

  /** The hand-written plan checks this table replaced, each carried by the laws of the frames it named. */
  private val carried: Seq[(String, Seq[String])] = Seq(
    "q42/q65/q88: ANN cell assignment plans with NO ranking window" -> Seq("q42_ivf_knn",
      "q65_kmeans_step", "q88_pq_encode", "q89_pq_adc", "q93_kmeans_train", "q99_semantic_prune"),
    "q99 pair join carries the salt-grid keys" -> Seq("q99_semantic_prune"),
    "dedup/similarity candidate generation never plans a cross product" ->
      (Seq("q28_minhash_pairs", "q32_simhash_bands", "q58_contamination", "q81_ngram_jaccard",
        "q84_bloom_decontam", "q95_dup_spans", "q98_novelty_score", "q104_media_phash_dedup")
        .map(_ + "/pre-sort") ++
        Seq("q31_embedding_neardup", "q59_dup_clusters", "q68_incremental_dedup", "q86_canonical_pick")),
    "q81 pair explode is df-capped; q95 share test plans no distinct agg" ->
      Seq("q81_ngram_jaccard/pre-sort", "q95_dup_spans/pre-sort"),
    "q58/q84 containment: train side flows through broadcast joins only" ->
      Seq("q58_contamination/pre-sort", "q84_bloom_decontam/pre-sort"),
    "q103 scoring is a shuffle-hash join keyed on the bigram" -> Seq("q103_lm_perplexity/scored"),
    "q113 IVF-PQ encode: no cartesian product, vectors never shuffle" -> Seq("q113_ivfpq_search/encode"),
    "q115 training round: no join for parameter application, gradient is one keyed hash aggregate" ->
      Seq("q115_quality_classifier/sigmoid", "q115_quality_classifier/gradient"),
    "claimed broadcasts are real: q60 stats/dfreq, q26 query side, q99 centroids, q105 steps" ->
      Seq("q60_bm25", "q26_knn_topk", "q99_semantic_prune", "q105_mmr_context"),
    "the flagship pipeline broadcast-joins its weather dimension (J2)" -> Seq("flagship"),
    "the flagship embeds per row: one fused kernel, no exchange or join on the text" -> Seq("flagship"),
    "a diamond plan reuses its exchange instead of recomputing the subtree" -> Seq("diamond"),
    "q127 selection is map-only: thresholds broadcast, no window, no per-stratum rank" ->
      Seq("q127_train_order"),
    "q130 cumsum windows: corpus side is bucket-partitioned; only the constant offset window is global" ->
      Seq("q130_shard_plan"),
    "unbounded (row-per-input) outputs never funnel through one partition" ->
      laws.collect { case (k, ps) if ps.contains(noFunnel) => k })
  carried.foreach { case (name, keys) => test(name)(keys.foreach(check)) }

  /** Each predicate kind fails on a plan known to break it. */
  test("every predicate kind fails on a known-bad plan") {
    val bad: Seq[(P, String)] = Seq(
      no[SortAggregateExec] -> "q113_ivfpq_search/encode", noArrayBuffer -> "q113_ivfpq_search/encode",
      no[BroadcastNestedLoopJoinExec] -> "q26_knn_topk", exchanges(1) -> "q01_pricing_summary",
      calls("collect_topk") -> "q01_pricing_summary", reads("dedup_index") -> "q01_pricing_summary",
      pushed("l_shipdate") -> "q09_multiway_join", groups[HashAgg]("cell_id") -> "q01_pricing_summary",
      joins[BroadcastHashJoinExec]("n_nationkey")("l_discount") -> "q09_multiway_join",
      noArrayExchanged -> "q28_minhash_pairs/pre-sort", noFunnel -> "q01_pricing_summary",
      initially(no[ShuffledJoin]) -> "q99_semantic_prune", notKeyedOn("doc_id") -> "q98_novelty_score/pre-sort",
      fused("collect_list") -> "q81_ngram_jaccard/pre-sort", dfCapped -> "q28_minhash_pairs/pre-sort",
      noDistinctAgg -> "q68_incremental_dedup", bucketWindows -> "q70_sequence_packing",
      !joins[SortMergeJoinExec]("query_id")() -> "q89_pq_adc")
    bad.foreach { case (p, key) => assert(!p.holds(finalPlan(key)), s"${p.label} holds on $key") }
  }
}
