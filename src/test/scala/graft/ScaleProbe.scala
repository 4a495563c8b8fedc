package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.GraftSpark
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import graft.operators.{CurationQueries, ReleaseQueries, SimilarityQueries, TextQueries}
import graft.pipeline.{CardIndex, PreparedArtifact, VectorIndex}

/** 10× scale probes: does each plan's cost grow ~linearly with the
  * corpus, or only on the benched SF? Every family measures its queries
  * on a base corpus and on a `Copies`-replica of it, min wall of two
  * passes with pass 1's payload canonical (`minOfTwo`).
  *
  *  - `heavy`: the dedup/ANN/text tier. Payload = shuffle MB; law
  *    (documented, not asserted): shuffle_ratio ≤ ~copies for hash-keyed
  *    plans, ≤ ~chars_ratio for text-carrying ones. Extra rows probe
  *    knobs ∝ corpus (q99 IVF cells, q130/q132 prefix buckets) and
  *    hostile corpora (a 50-word vocabulary, a no-repeat vocabulary,
  *    pHash grids scattered by a 7·i-byte prefix per copy).
  *  - `learned`: the persisted-model / append family, with every
  *    artifact built before measurement (an append never trains). The
  *    ANN appends run cells ∝ corpus at 10× in clean mode, the fixed
  *    registered cell count kept as `fixed_cells_control`.
  *  - `stream`: the four streaming restatements over a 10× events
  *    corpus. Asserted: output rows come out exactly copies × (q49: the
  *    same key set) and repeat across passes.
  *  - `backlog`: the streaming appends drain a 2-file and an N-file
  *    backlog (one micro-batch per file) at both scales, per-batch
  *    trigger ms from progress events, against a harness floor (an
  *    identity drain of one-row files). Asserted: marginal flatness —
  *    max(batch 2..N) ≤ 4 × median(batch 2..N) at both scales — and
  *    that every wall feeding a floor-adjusted ratio exceeds 2 × floor.
  *
  * Corpus modes: CLEAN replicas suffix every token per copy inside one
  * token (`the` → `thezq3`), so each copy reproduces the base's
  * dup/near-dup structure and cross-copy shingle sets are disjoint; the
  * embeddings get a per-(copy, dim) ±1 sign flip, preserving within-copy
  * inner products exactly while cross-copy cosines decorrelate.
  * ADVERSARIAL replicas (both scales synthesized, so ratios compare like
  * with like) prepend a 16-token banner hot on every side of every join,
  * use a copy marker that SPLITS under the `[a-z0-9]+` tokenizer
  * (`the_c3`: stop-shingles in the thousands per copy), and skew 99% of
  * docs to one language.
  *
  * Exit: 3 on any measurement error (either pass, either scale, a failed
  * artifact build, a floor-dominated backlog wall); else 2 on a violated
  * asserted law; else 0. The JSON is written first either way.
  *
  * Usage: Test/runMain graft.ScaleProbe <heavy|learned|stream|backlog>
  *   [baseDir] [outJson] [clean|adversarial] [nBatches]
  * Corpora are published through `PreparedArtifact`, keyed on the base
  * tables' fingerprint, the variant and the copy count.
  */
object ScaleProbe {

  val Copies = 10
  /** Id stride per replica — clears sf0.1's max doc_id (4999) plus the
    * largest planted-copy shift any query uses (+90000, q104's
    * perturbed-copy plant; margin 5001 ids). A new plant must stay
    * under Stride − 5000 or cross-copy ids collide in the probe corpus
    * and mint phantom duplicate pairs. */
  val Stride = 100000L
  /** Events strides: shifted user_ids keep every join within its copy,
    * so stream output cardinality must scale exactly linearly. */
  val EventStride = 10000000L
  val UserStride = 1000000L
  private val Banner: String = "this document is provided as is without warranty " +
    "of any kind either express or implied"
  private val WarmDir = "/root/testdata/sf0.001"

  // ---- corpora ---------------------------------------------------------

  /** One replicated table: copy `i` is `select(copy(i))` of the base
    * table, and the union is written as `files` files (a many-file
    * layout: scans start parallel, as in prod). */
  private final case class Replica(table: String, files: Int, copy: Int => Seq[Column])

  private def docs(text: Int => Column, lang: Column = col("lang")): Replica =
    Replica("documents", 32, i => Seq((col("doc_id") + i * Stride).as("doc_id"),
      text(i).as("text"), lang.as("lang"), col("source"),
      length(text(i)).cast("long").as("n_chars")))
  private def suffixed(sfx: String): Column =
    array_join(transform(split(col("text"), " "), t => concat(t, lit(sfx))), " ")
  /** Every adversarial copy is marked, copy 0 included: the 1-copy base
    * must carry the same per-doc hostile structure as the replicas. */
  private def advText(i: Int): Column = concat(lit(Banner + " "), suffixed(s"_c$i"))
  /** Copy i prefixed by 7·i bytes: every pHash cell boundary shifts by
    * more than a cell per copy, so cross-copy fingerprints scatter (the
    * shared transforms alone keep replicas byte-level near-dups, whose
    * cross-copy media pairs grow quadratically by construction). */
  private def shifted(i: Int, text: Column): Column =
    if (i == 0) text else concat(lit("z" * (7 * i) + " "), text)
  private val skewedLang = when(pmod(col("doc_id"), lit(100)) === 0, col("lang"))
    .otherwise(lit("en"))
  /** TextOps.tokens' split, empty tokens dropped as it does. */
  private def tokens: Column =
    filter(split(lower(col("text")), "[^a-z0-9]+"), t => t =!= "")
  private val signFlip = Replica("embeddings", 8, i => Seq(
    (col("vec_id") + i * Stride).as("vec_id"),
    (if (i == 0) col("embedding")
     else transform(col("embedding"), (x, j) =>
       when(pmod(xxhash64(j * lit(31) + lit(i)), lit(2)) === 0, x).otherwise(-x)))
      .cast("array<float>").as("embedding"),
    col("label")))

  private val Variants: Map[String, Seq[Replica]] = Map(
    "clean" -> Seq(docs(i => if (i == 0) col("text") else suffixed(s"zq$i")), signFlip),
    "adversarial" -> Seq(docs(advText, skewedLang), signFlip),
    // Every token remapped onto 50 words: the bigram model collapses
    // while the stream keeps its row count (q103's broadcast trap), and
    // BPE merge rounds stay vocab-sized (q108 wall near-flat).
    "tinyvocab" -> Seq(docs(_ => array_join(transform(tokens,
      t => concat(lit("w"), pmod(xxhash64(t), lit(50)))), " "))),
    // Every token position globally unique: vocab ≈ corpus, so BPE
    // rounds must degrade linearly, never quadratically.
    "uniqvocab" -> Seq(docs(i => array_join(transform(tokens, (t, j) =>
      concat(t, lit("u"), (col("doc_id") + i * Stride).cast("string"), lit("x"),
        j.cast("string"))), " "))),
    "adv114" -> Seq(docs(i => shifted(i, advText(i)), skewedLang)),
    "phash" -> Seq(docs(i => shifted(i, col("text")))),
    "events" -> Seq(Replica("events", 32, i => Seq(
      (col("event_id") + i * EventStride).as("event_id"),
      (col("user_id") + i * UserStride).as("user_id"),
      col("event_type"), col("value"), col("ts")))))

  /** Publish `copies` replicas of `variant` built from `baseDir`; returns
    * a directory holding one `<table>.parquet` per replicated table. */
  def replicate(spark: SparkSession, baseDir: String, variant: String,
      copies: Int): String = {
    val tables = Variants(variant)
    val key = tables.map(t => PreparedArtifact.fingerprint(spark, baseDir, t.table))
      .mkString("_")
    PreparedArtifact.publishOnce(spark, s"graft_scaleprobe_${variant}_x$copies", key) { tmp =>
      tables.foreach { t =>
        val base = Tables.load(spark, baseDir, t.table)
        (0 until copies).map(i => base.select(t.copy(i): _*)).reduce(_ unionAll _)
          .repartition(t.files).write.parquet(s"$tmp/${t.table}.parquet")
      }
      tmp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .create(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS")).close()
    }
  }

  /** (base, 10×) directories: the raw base where the replica of copy 0 is
    * the base itself, else a synthesized 1-copy base. */
  private def scalePair(spark: SparkSession, baseDir: String, variant: String): (String, String) =
    (if (variant == "clean" || variant == "events") baseDir
     else replicate(spark, baseDir, variant, 1),
      replicate(spark, baseDir, variant, Copies))

  // ---- measurement -----------------------------------------------------

  /** Pass 1's payload is canonical; a pass-2 failure keeps pass 1's
    * timing under `remeasureError`, never `error`, and a pass-2 payload
    * is kept so a probe can flag one that differs. */
  final case class Measured[P](sec: Double, payload: P,
      error: Option[String], remeasureError: Option[String],
      payload2: Option[P]) {
    def errors: Seq[String] = error.toSeq ++ remeasureError
  }

  /** Min-of-two wall around `once` (seconds, payload, error); a failed
    * pass 1 is not re-run. */
  def minOfTwo[P](once: () => (Double, P, Option[String])): Measured[P] = {
    val (t1, p1, e1) = once()
    if (e1.isDefined) Measured(t1, p1, e1, None, None)
    else {
      val (t2, p2, e2) = once()
      Measured(if (e2.isEmpty) math.min(t1, t2) else t1, p1, None,
        e2.map("second pass failed (first pass timing kept): " + _),
        if (e2.isEmpty) Some(p2) else None)
    }
  }

  private def errMsg(e: Throwable): String =
    e.getClass.getSimpleName + ": " +
      String.valueOf(e.getMessage).replaceAll("\\s+", " ").take(160)

  private def timed[P](failed: P)(body: => P): (Double, P, Option[String]) = {
    val t0 = System.nanoTime()
    val (p, err) = try (body, None) catch { case NonFatal(e) => (failed, Some(errMsg(e))) }
    ((System.nanoTime() - t0) / 1e9, p, err)
  }

  private def unpersistAll(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))

  /** Min-of-two measurements: shuffle MB written by a noop write of the
    * frame, or its row count. */
  private final class Meter(spark: SparkSession) {
    private val bytes = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        bytes.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
    })
    def shuffle(frame: => DataFrame): Measured[Double] = {
      val m = minOfTwo { () =>
        GraftSpark.drainListeners(spark.sparkContext)
        val s0 = bytes.get()
        val (sec, _, err) = timed(())(frame.write.mode("overwrite").format("noop").save())
        GraftSpark.drainListeners(spark.sparkContext)
        val mb = (bytes.get() - s0) / 1048576.0
        unpersistAll(spark)
        (sec, mb, err)
      }
      System.gc()
      m
    }
    def rows(frame: => DataFrame): Measured[Long] = minOfTwo(() => timed(-1L)(frame.count()))
  }

  /** A streaming drain: wall, per-batch [batchId, trigger ms, input rows]. */
  private final case class Drain(wall: Double, batches: Seq[Seq[Long]], outRows: Long,
      error: Option[String]) {
    def marginal: Seq[Long] = batches.filter(_(2) > 0).map(_(1))
    /** Batch 1 carries plan/codegen; the law reads batches 2..N. */
    def flat: Boolean = {
      val tail = marginal.drop(1)
      tail.size < 2 || tail.max <= 4.0 * median(tail)
    }
  }

  private def median(xs: Seq[Long]): Double =
    if (xs.isEmpty) -1.0 else xs.sorted.apply(xs.size / 2).toDouble

  private final class DrainMeter(spark: SparkSession) {
    private val captured = new ConcurrentLinkedQueue[Seq[Long]]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val ms = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(-1L)
        captured.add(Seq(p.batchId, ms, p.numInputRows))
      }
    })
    /** Progress events are async: wait for ~300 ms of silence, then take
      * them — also the quiesce step between drains, so one drain's late
      * events never land in the next one's rows. */
    def collect(): Seq[Seq[Long]] = {
      var last = -1; var stable = 0
      while (stable < 3) {
        val n = captured.size
        if (n == last) stable += 1 else { stable = 0; last = n }
        Thread.sleep(100)
      }
      val rows = captured.iterator.asScala.toSeq.sortBy(_.head)
      captured.clear()
      rows
    }
    def run(body: => DataFrame): Drain = {
      captured.clear()
      val (sec, n, err) = timed(-1L)(body.count())
      Drain(sec, collect(), n, err)
    }
    /** Identity drain of `nFiles` one-row files through the same runner. */
    def floor(nFiles: Int): Double = {
      val root = TempDirs.fresh("backlog_floor")
      val batch = spark.range(nFiles.toLong).toDF("doc_id")
      batch.repartition(nFiles).write.parquet(streaming.Drain.srcDir(root))
      val t0 = System.nanoTime()
      streaming.Drain(spark, streaming.Drain.srcDir(root), batch.schema,
        streaming.Drain.checkpointDir(root), maxFilesPerTrigger = Some(1))(
        streaming.Drain.appendEach(
          new streaming.Drain.Target(streaming.Drain.targetDir(root)))(b => b))
      val sec = (System.nanoTime() - t0) / 1e9
      collect()
      sec
    }
  }

  // ---- records ---------------------------------------------------------

  private type Fields = Seq[(String, Any)]

  /** A JSON object in field order: None fields dropped, Some unwrapped,
    * doubles rounded to 3 decimals. */
  private def obj(fields: Fields): ListMap[String, Any] = ListMap(fields.collect {
    case (k, Some(v)) => k -> round(v)
    case (k, v) if v != None => k -> round(v)
  }: _*)
  private def round(v: Any): Any = v match {
    case d: Double if !d.isNaN && !d.isInfinite =>
      BigDecimal(d).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble
    case other => other
  }
  private def toJson(fields: Fields): String =
    org.json4s.jackson.Serialization.write(obj(fields))(org.json4s.DefaultFormats)

  /** One JSON row plus its measurement errors (exit 3) and violated laws
    * (exit 2). */
  private final case class Rec(fields: Fields, errors: Seq[String] = Nil,
      violations: Seq[String] = Nil)

  /** A named row, printed as soon as it is measured. */
  private def row(name: String, r: Rec): (String, Rec) = {
    println(s"[probe] $name ${toJson(r.fields)}")
    name -> r
  }

  /** Both scales' failures, labeled. */
  private def joined(s: Seq[String], l: Seq[String]): Option[String] =
    (s.map("base: " + _) ++ l.map("10x: " + _)).reduceOption(_ + "; " + _)

  private def ratio(a: Double, b: Double, min: Double): Double = if (b > min) a / b else -1.0

  /** A base-vs-10× row: `keys` name the (base sec, base payload, big sec,
    * big payload) fields; `ratios` picks wall_ratio / shuffle_ratio. */
  private def pair[P](name: String, mS: Measured[P], mL: Measured[P], ratios: Seq[String],
      head: Fields = Nil, tail: Fields = Nil,
      keys: Seq[String] = Seq("base_sec", "base_shuffle_mb", "big_sec", "big_shuffle_mb")
      ): (String, Rec) = {
    def mb(m: Measured[P]) = m.payload match { case d: Double => d; case _ => 0.0 }
    val r = Map("wall_ratio" -> ratio(mL.sec, mS.sec, 0),
      "shuffle_ratio" -> ratio(mb(mL), mb(mS), 0.005))
    row(name, Rec(head ++ keys.zip(Seq(mS.sec, mS.payload, mL.sec, mL.payload)) ++
      ratios.map(k => k -> r(k)) ++ tail ++ Seq(
        "error" -> joined(mS.error.toSeq, mL.error.toSeq),
        "remeasure_error" -> joined(mS.remeasureError.toSeq, mL.remeasureError.toSeq)),
      mS.errors ++ mL.errors))
  }

  /** A 10×-only row (a knob turned ∝ corpus). */
  private def single[P](name: String, m: Measured[P], payloadKey: String,
      head: Fields, tail: Fields = Nil): (String, Rec) =
    row(name, Rec(head ++ Seq("sec" -> m.sec, payloadKey -> m.payload) ++ tail ++
      Seq("error" -> m.error, "remeasure_error" -> m.remeasureError), m.errors))

  // ---- families --------------------------------------------------------

  private final class Ctx(val spark: SparkSession, val baseDir: String,
      val adversarial: Boolean, val nBatches: Int, val small: String,
      val big: String, val queries: Seq[String]) {
    lazy val meter = new Meter(spark)
    def mode: String = byMode(adversarial)
    def q(name: String, dir: String): DataFrame = SparkEntry.queries(name)(spark, dir)
    def shufflePair(name: String): (String, Rec) =
      pair(name, meter.shuffle(q(name, small)), meter.shuffle(q(name, big)),
        Seq("wall_ratio", "shuffle_ratio"))
    def charsRatio: Double = {
      def chars(dir: String): Long = Tables.load(spark, dir, "documents")
        .agg(sum(col("n_chars"))).head().getLong(0)
      chars(big).toDouble / chars(small)
    }
    def versions: Fields = Seq("spark_version" -> spark.version,
      "scala_version" -> scala.util.Properties.versionNumberString,
      "java_version" -> System.getProperty("java.version"))
  }

  /** A family's record: header fields, one row per query, extra rows. */
  private type Record = (Fields, Seq[(String, Rec)], Seq[(String, Rec)])

  /** One probe family: corpus variant by mode, the queries it measures
    * (by mode; each is also warmed at the smallest SF, with
    * `warmExtra`), the artifacts a measured run must find already built
    * (`(ctx, dir, isBig)`), the frame warmed per query, and the
    * measurement. */
  private final case class Family(
      variant: Boolean => String,
      queries: Boolean => Seq[String],
      warmExtra: Seq[String],
      artifacts: (Ctx, String, Boolean) => Unit,
      warmFrame: (Ctx, String, String) => DataFrame,
      measure: Ctx => Record)

  private val scaledCells = SimilarityQueries.IvfCells * Copies
  private def byMode(adversarial: Boolean): String =
    if (adversarial) "adversarial" else "clean"

  private val Heavy: Seq[String] = Seq(
    "q28_minhash_pairs", "q32_simhash_bands", "q58_contamination",
    "q59_dup_clusters", "q64_repetition_filter", "q69_pmi_bigrams",
    "q81_ngram_jaccard", "q84_bloom_decontam", "q86_canonical_pick",
    "q95_dup_spans", "q98_novelty_score", "q99_semantic_prune",
    "q102_dsir_select", "q103_lm_perplexity", "q114_crossmodal_manifest",
    "q115_quality_classifier", "q117_learned_manifest",
    "q127_train_order", "q128_quality_ensemble", "q129_data_card",
    "q130_shard_plan", "q131_quality_curriculum", "q132_curriculum_shards")

  private def heavy(c: Ctx): Record = {
    val rows = c.queries.map(c.shufflePair)
    val m = c.meter
    def onPair(tag: String, variant: String, name: String, ratios: Seq[String],
        head: Fields, tail: Fields = Nil): (String, Rec) = {
      val (s, b) = scalePair(c.spark, c.baseDir, variant)
      pair(tag, m.shuffle(c.q(name, s)), m.shuffle(c.q(name, b)), ratios, head, tail)
    }
    val bucketLaw = "output identical at any bucket count (contiguous ranges of the write order — ReleaseSpec pin); cost ~flat vs the fixed-256 10x row, so buckets ∝ corpus caps within-bucket task size for free"
    val uniq = "vocab" -> "~corpus (every position unique)"
    val both = Seq("wall_ratio", "shuffle_ratio")
    val clean = if (c.adversarial) Nil else {
      import Materialize.CheckpointOps
      // The checkpointed base is rebuilt inside the measured thunk: each
      // pass unpersists all persistent RDDs.
      val cells = single("q99_scaled_cells_sf1", m.shuffle(SimilarityQueries.semanticPrune(
        Tables.load(c.spark, c.big, "embeddings").select(col("vec_id"),
          functions.VectorOps.asDouble(col("embedding")).as("ev")).checkpointed(),
        64 * Copies, SimilarityQueries.SemCellCap)), "shuffle_mb", Seq("cells" -> 64 * Copies))
      c.spark.conf.set("spark.graft.prefixBuckets", "2048")
      val buckets = try Seq("q130_shard_plan", "q132_curriculum_shards").map { n =>
        single(s"${n.take(4)}_scaled_buckets_sf1", m.shuffle(c.q(n, c.big)),
          "shuffle_mb", Seq("buckets" -> 2048), Seq("law" -> bucketLaw))
      } finally c.spark.conf.unset("spark.graft.prefixBuckets")
      cells +: buckets
    }
    val hostile = if (!c.adversarial) Nil else Seq(
      onPair("q103_tiny_vocab", "tinyvocab", "q103_lm_perplexity",
        Seq("shuffle_ratio"), Seq("vocab" -> 50)),
      onPair("q108_tiny_vocab", "tinyvocab", "q108_bpe_train", Seq("wall_ratio"),
        Seq("vocab" -> 50), Seq("law" -> "wall near-flat at 10x rows (merge rounds are vocab-sized)")),
      onPair("q108_uniq_vocab", "uniqvocab", "q108_bpe_train", both, Seq(uniq),
        Seq("law" -> "shuffle ~<= copies x: corpus-sized word table, rounds stay hash-keyed, never quadratic")),
      onPair("q109_uniq_vocab", "uniqvocab", "q109_bpe_segment", both, Seq(uniq),
        Seq("law" -> "shuffle ~<= copies x: apply side stays one keyed join; rule table fixed at K rows")),
      onPair("q114_shifted_adversarial", "adv114", "q114_crossmodal_manifest",
        Seq("shuffle_ratio"), Seq("prefix_bytes_per_copy" -> 7),
        Seq("law" -> "shuffle ~<= copies x once the pHash grid scatters; the main q114 row's higher ratio is corpus-constructed cross-copy media edges (same-length markers + shared banner = real byte near-dups), not plan shape — the q104_shifted_copies rationale")))
    val phash = onPair("q104_shifted_copies", "phash", "q104_media_phash_dedup",
      Seq("shuffle_ratio"), Seq("prefix_bytes_per_copy" -> 7))
    (Seq("probe" -> s"heavy-tier 10x scale (${c.mode})", "copies" -> Copies,
      "base" -> c.small) ++ c.versions ++ Seq("chars_ratio" -> c.charsRatio,
      "law" -> "shuffle_ratio ~<= copies (hash-keyed) / chars_ratio (text-carrying); wall_ratio documented per query"),
      rows, clean ++ hostile :+ phash)
  }

  /** The ANN appends, cell-count parameterized: measured at cells ∝
    * corpus at 10× in clean mode (the knob bounding per-cell occupancy,
    * so triage pair work scales with the batch). */
  private val AnnAppend: Map[String, (SparkSession, String, Int) => DataFrame] = Map(
    "q100_ivf_append" -> SimilarityQueries.ivfAppendAssign,
    "q119_ivfpq_append" -> SimilarityQueries.ivfpqAppend,
    "q124_stream_ivfpq_append" -> ((s, d, n) => SimilarityQueries.ivfpqAppendStream(s, d, n)))

  private def learnedRow(c: Ctx, name: String): (String, Rec) =
    if (c.adversarial || !AnnAppend.contains(name)) c.shufflePair(name)
    else {
      val m = c.meter
      val mS = m.shuffle(c.q(name, c.small))
      val mL = m.shuffle(AnnAppend(name)(c.spark, c.big, scaledCells))
      val ctrl = m.shuffle(c.q(name, c.big))
      val (_, r) = pair(name, mS, mL, Seq("wall_ratio", "shuffle_ratio"), tail = Seq(
        "cells_10x" -> scaledCells,
        "fixed_cells_control" -> obj(Seq("cells" -> SimilarityQueries.IvfCells,
          "sec" -> ctrl.sec, "shuffle_mb" -> ctrl.payload,
          "wall_ratio" -> ratio(ctrl.sec, mS.sec, 0), "error" -> ctrl.error))))
      name -> r.copy(errors = r.errors ++ ctrl.errors)
    }

  private def learned(c: Ctx): Record = {
    val rows = c.queries.map(learnedRow(c, _))
    (Seq("probe" -> s"persisted-model scoring 10x scale (${c.mode})",
      "copies" -> Copies, "base" -> c.small,
      "artifacts" -> ("classifier weights + BPE merges + IVF-PQ codes + assignment index + card index persisted at both scales before measurement" +
        (if (c.adversarial) "" else " (vector indexes additionally at cells-x-copies for the scaled-primary ANN append rows)"))) ++
      c.versions ++ Seq("chars_ratio" -> c.charsRatio,
        "law" -> "shuffle_ratio ~<= chars_ratio (batch/corpus both scale with the corpus here); q118/q124 add fixed per-micro-batch streaming overhead; ANN append rows (q100/q119/q124) are PRIMARILY measured at cells ∝ corpus — the deployment knob bounding per-cell occupancy so triage pair work scales with the batch — with the fixed-cell configuration in fixed_cells_control (clean mode only)"),
      rows, Nil)
  }

  private val streamDrains: Map[String, (SparkSession, String, Int, Int) => DataFrame] = Map(
    "q118_stream_score" -> ((s, d, _, n) => CurationQueries.qcStreamDrain(s, d, n)),
    "q123_stream_tokenize" -> ((s, d, _, n) => TextQueries.bpeStreamDrain(s, d, n)),
    "q124_stream_ivfpq_append" -> ((s, d, cells, n) =>
      SimilarityQueries.ivfpqAppendStream(s, d, cells, n)),
    // Its marginal includes the by-design per-batch versioned write-back
    // of sigstats + card.
    "q134_card_maintain" -> { (s, d, _, n) =>
      val (root, v) = ReleaseQueries.cardMaintainDrain(s, d, n)
      s.read.parquet(s"$root/v$v/card")
    })

  private def backlog(c: Ctx): Record = {
    val d = new DrainMeter(c.spark)
    d.collect()
    // Min of two: the floor is a subtrahend, so an inflated floor
    // flatters the adjusted ratios.
    d.floor(2)
    val floor2 = math.min(d.floor(2), d.floor(2))
    val floorN = math.min(d.floor(c.nBatches), d.floor(c.nBatches))
    val rows = c.queries.map { name =>
      def run(dir: String, n: Int) = d.run(streamDrains(name)(c.spark, dir,
        if (dir == c.big) scaledCells else SimilarityQueries.IvfCells, n))
      val runs = Seq(("small_2", run(c.small, 2), floor2), ("big_2", run(c.big, 2), floor2),
        ("small_N", run(c.small, c.nBatches), floorN), ("big_N", run(c.big, c.nBatches), floorN))
      val Seq(s2, b2, sN, bN) = runs.map(_._2)
      val floorDominated = runs.collect { case (k, r, fl) if r.wall < 2.0 * fl =>
        f"$name.$k wall ${r.wall}%.3fs < 2x floor $fl%.3fs floor-dominated" }
      row(name, Rec(runs.map { case (k, r, _) => k -> obj(Seq("wall_sec" -> r.wall,
        "out_rows" -> r.outRows, "batch_ms" -> r.batches, "error" -> r.error)) } ++ Seq(
        "headline_ratio_2batch" -> b2.wall / math.max(0.001, s2.wall),
        "floor_adjusted_ratio_2batch" -> (b2.wall - floor2) / math.max(0.001, s2.wall - floor2),
        "floor_adjusted_ratio_Nbatch" -> (bN.wall - floorN) / math.max(0.001, sN.wall - floorN),
        "bigN_marginal_median_ms" -> median(bN.marginal.drop(1)),
        "bigN_first_batch_ms" -> bN.marginal.headOption.getOrElse(-1L),
        "marginal_flat_small" -> sN.flat, "marginal_flat_big" -> bN.flat),
        runs.flatMap(_._2.error) ++ floorDominated,
        Seq(sN -> "small", bN -> "big").collect { case (r, k) if !r.flat => s"$name: $k marginal not flat" }))
    }
    (Seq("mode" -> c.mode, "copies" -> Copies, "n_batches" -> c.nBatches,
      "floor_2batch_sec" -> floor2, "floor_Nbatch_sec" -> floorN,
      "spark_version" -> c.spark.version,
      "note" -> "batch_ms rows are [batchId, triggerExecution ms, input rows] from streaming progress events; floor = identity drain of near-empty files through the same runner; q124 runs cells-proportional-to-corpus at 10x; q134 marginal includes its per-batch versioned sigstats+card write-back (by design)"),
      rows, Nil)
  }

  private def stream(c: Ctx): Record = {
    val rows = c.queries.map { name =>
      val mS = c.meter.rows(c.q(name, c.small))
      val mL = c.meter.rows(c.q(name, c.big))
      // Laws are evaluated on clean measurements only: the -1 error
      // sentinel must neither satisfy a law nor read as a violation.
      val measured = mS.error.isEmpty && mL.error.isEmpty
      val lawOk = mL.payload == (if (name == "q49_streaming_daily") 1 else Copies) * mS.payload
      val stable = mS.payload2.forall(_ == mS.payload) && mL.payload2.forall(_ == mL.payload)
      def flag(b: Boolean): Any = if (measured) b else null
      val (_, r) = pair(name, mS, mL, Seq("wall_ratio"),
        tail = Seq("cardinality_law_ok" -> flag(lawOk), "rows_stable_across_passes" -> flag(stable)),
        keys = Seq("sf01_sec", "sf01_rows", "sf1_sec", "sf1_rows"))
      name -> r.copy(violations = if (!measured) Nil else
        Seq(lawOk -> "cardinality law", stable -> "rows unstable across passes")
          .collect { case (false, v) => s"$name: $v" })
    }
    // The state-partition knob at 10×: q53's join with stores ∝ corpus.
    val src = streaming.NormalizedEvents.sourceDir(c.spark, c.big)
    val knob = c.meter.rows {
      val root = TempDirs.fresh("sprobe53")
      streaming.StreamIntervalJoin.runAvailableNow(c.spark, src,
        streaming.NormalizedEvents.schema, s"$root/t", s"$root/c", "inner",
        statePartitions = Some(4 * Copies))
      c.spark.read.parquet(s"$root/t")
    }
    (("copies" -> Copies) +: c.versions, rows,
      Seq(single("q53_scaled_stores_sf1", knob, "rows", Seq("state_partitions" -> 4 * Copies))))
  }

  private val StreamQueries = Seq("q49_streaming_daily", "q53_stream_interval_join",
    "q54_stream_dedup", "q94_stream_outer_join")

  private val Learned = Seq("q116_score_persisted", "q117_learned_manifest",
    "q118_stream_score", "q119_ivfpq_append", "q123_stream_tokenize",
    "q124_stream_ivfpq_append", "q125_takedown_artifacts", "q133_card_on_append",
    "q135_takedown_card", "q137_ivfpq_refine_curve")

  private val Families: Map[String, Family] = Map(
    "heavy" -> Family(byMode, _ => Heavy,
      Seq("q104_media_phash_dedup", "q108_bpe_train", "q109_bpe_segment"),
      (c, dir, _) => {
        TextQueries.bpeMergesPrepared(c.spark, dir)
        CurationQueries.qcModelPrepared(c.spark, dir)
      }, _.q(_, _), heavy),
    "learned" -> Family(byMode,
      adv => if (adv) Learned else "q100_ivf_append" +: Learned, Nil,
      (c, dir, big) => {
        CurationQueries.qcModelPrepared(c.spark, dir)
        TextQueries.bpeMergesPrepared(c.spark, dir)
        SimilarityQueries.ivfPqIndexPrepared(c.spark, dir)
        VectorIndex.prepared(c.spark, dir, SimilarityQueries.IvfCells)
        CardIndex.prepared(c.spark, dir)
        if (big && !c.adversarial) {
          SimilarityQueries.ivfPqIndexPrepared(c.spark, dir, scaledCells)
          VectorIndex.prepared(c.spark, dir, scaledCells)
        }
      }, _.q(_, _), learned),
    "stream" -> Family(_ => "events", _ => StreamQueries, Nil,
      (c, dir, _) => {
        streaming.NormalizedEvents.sourceDir(c.spark, dir)
        streaming.NormalizedEvents.outerJoinFixture(c.spark, dir)
      }, _.q(_, _), stream),
    "backlog" -> Family(byMode,
      _ => streamDrains.keys.toSeq.sorted, Nil,
      (c, dir, big) => {
        CurationQueries.qcModelPrepared(c.spark, dir)
        TextQueries.bpeMergesPrepared(c.spark, dir)
        CardIndex.prepared(c.spark, dir)
        if (big) SimilarityQueries.ivfPqIndexPrepared(c.spark, dir, scaledCells)
        else SimilarityQueries.ivfPqIndexPrepared(c.spark, dir)
      }, (c, name, dir) => streamDrains(name)(c.spark, dir, SimilarityQueries.IvfCells, 2),
      backlog))

  def main(args: Array[String]): Unit = {
    val family = Families.getOrElse(args.headOption.getOrElse(""), sys.error(
      s"usage: ScaleProbe <${Families.keys.toSeq.sorted.mkString("|")}> " +
        "[baseDir] [outJson] [clean|adversarial] [nBatches]"))
    val baseDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val outFile = args.lift(2).getOrElse(s"SCALE_${args(0)}.json")
    val adversarial = args.lift(3).contains("adversarial")
    val spark = GraftSession(logLevel = "ERROR")
    val (small, big) = scalePair(spark, baseDir, family.variant(adversarial))
    val c = new Ctx(spark, baseDir, adversarial, args.lift(4).map(_.toInt).getOrElse(10),
      small, big, family.queries(adversarial))
    // Artifacts at both scales BEFORE measurement — the production
    // precondition (they exist before any run reads them); without it
    // the first measured pass would absorb one-time training.
    val prepErrors = Seq(small -> false, big -> true).flatMap { case (dir, isBig) =>
      try { family.artifacts(c, dir, isBig); None }
      catch { case NonFatal(e) => Some(s"artifacts $dir: ${errMsg(e)}") }
    }
    // Codegen warm pass: every measured query once at the smallest SF,
    // so measured numbers are data cost, not JIT.
    if (new java.io.File(WarmDir).isDirectory) {
      try family.artifacts(c, WarmDir, false) catch { case NonFatal(_) => () }
      (c.queries ++ family.warmExtra).foreach { name =>
        try family.warmFrame(c, name, WarmDir).write.mode("overwrite").format("noop").save()
        catch { case NonFatal(_) => () }
        unpersistAll(spark)
      }
    }
    val (header, rows, extras) = family.measure(c)
    val json = toJson(header ++ Seq("queries" -> obj(rows.map { case (n, r) => n -> obj(r.fields) })) ++
      extras.map { case (n, r) => n -> obj(r.fields) })
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), json + "\n")
    println(json)
    spark.stop()
    val errors = prepErrors ++ (rows ++ extras).flatMap(_._2.errors)
    val violations = (rows ++ extras).flatMap(_._2.violations)
    (errors ++ violations).foreach(e => System.err.println(s"[probe] FAIL $e"))
    if (errors.nonEmpty) sys.exit(3)
    if (violations.nonEmpty) sys.exit(2)
  }
}
