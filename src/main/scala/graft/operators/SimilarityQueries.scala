package graft.operators

import graft.Materialize.CheckpointOps
import graft.{NamedQuery, Overlap, Tables}
import graft.NamedQuery.{q, PresentationOps}
import graft.functions.{Exact, ExactSql, VectorOps}
import graft.pipeline.{Embedder, VectorIndex}
import graft.plans.CollectTopK
import graft.streaming.Drain
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Vector-similarity search queries (SURVEY.md §2.10 X1/X2 north star).
  *
  * The reference stores pgvector rows precisely so a sibling RAG service
  * can run cosine retrieval over them (reference:
  * src/storage/pgvector_storage.py:89-96, README.md:25-28). These queries
  * are that retrieval surface, Spark-native:
  *
  *  - q26: exact brute-force top-k — the correctness baseline. Query side
  *    is broadcast (it is always small); candidate scoring distributes
  *    with the embeddings scan; top-k is two-phase (local rank, then a
  *    tiny final rank) so the only per-query exchange carries Q·P·k rows,
  *    not the full N·Q score matrix.
  *  - q30: LSH-bucketed ANN — the 100 TB path. Sign-bit signatures over
  *    leading dimensions form 2^b buckets; a query only scores its own
  *    bucket, so the join is an equi-join on bucket (shuffle/broadcast by
  *    bucket key), never an all-pairs cross product. Recall is traded via
  *    b (more bits → fewer candidates); production would multi-probe
  *    neighboring buckets or union several hash tables — same plan shape.
  *  - q31: near-duplicate pair mining within buckets (a.id < b.id), the
  *    embedding-space analog of MinHash dedup: candidate generation is
  *    the bucket equi-join, verification is the exact cosine.
  *
  * All vector math is [[VectorOps]] HOFs over `ArrayType(Double)`
  * (float→double cast is SURVEY F14) — codegen-friendly, no UDFs.
  */
object SimilarityQueries {

  /** Embeddings with the float array cast to double (F14) once, up front.
    *
    * Deliberately NOT `Tables.spread` (rejected by A/B): the one-file scan does
    * start single-task, and isolated cold runs improve 10-35% when fanned
    * out — but in-suite (warm JIT, min-of-passes) the fan-out exchange
    * plus 32-task fixed overhead through the checkpointed encode chains
    * REGRESSED 16 of 22 similarity queries (+4.8 s family total, quiet
    * windows, untouched-query sign test flat): the heavy stages are
    * seconds-scale only when cold, and the tier's many small frames pay
    * the extra exchange every time. At 100 TB the many-file layout
    * provides scan parallelism without any exchange, so nothing is left
    * on the table at scale by keeping the map-only single-scan shape. */
  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("ev"))

  /** The CURVE queries' checkpointed base (q126/q136/q137 only): emb
    * fanned out to defaultParallelism before the eager checkpoint, so
    * the 50-70 downstream single-task stages (two 256-codebook encodes,
    * residual/ADC chains, Lloyd rounds — profiled: q136 ran 60
    * sequential n=1 stages, taskRun ≈ wall ≈ 9-11 s on one core)
    * inherit 32-way parallelism from the checkpoint blocks. This is
    * deliberately NOT the tier-wide `Tables.spread` the A/B above
    * rejected: that fan-out taxed 22 similarity queries' small warm
    * frames with an exchange each (+4.8 s family); here the exchange
    * is paid only inside the three queries whose chains are seconds-
    * scale even warm. Results are partitioning-independent (decimal-
    * exact aggregates, totally-ordered rankings). */
  private[graft] def embSpread(s: SparkSession, dir: String): DataFrame =
    emb(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))

  /** Sign-bit LSH bucket: bit j set iff dimension j+1 is positive.
    * Axis-aligned random-hyperplane LSH — deterministic and exactly
    * mirrored in the DuckDB oracle. */
  private def signBucket(v: Column, bits: Int): Column =
    (0 until bits).map(j => when(element_at(v, j + 1) > 0, lit(1 << j)).otherwise(lit(0)))
      .reduce(_ + _).cast("int")

  private def signBucketSql(v: String, bits: Int): String =
    (0 until bits).map(j => s"(CASE WHEN $v[${j + 1}] > 0 THEN ${1 << j} ELSE 0 END)")
      .mkString("(", " + ", ")")

  /** Cross-engine-stable cosine: round(dot/(|a|·|b|), 6); ties in top-k
    * ranking are broken on vec_id so ordering is total in both engines. */
  private val cosineSql =
    "ROUND(list_inner_product(ev, qv) / NULLIF(sqrt(list_inner_product(ev, ev)) * sqrt(list_inner_product(qv, qv)), 0), 6)"

  /** q48's embedding-dump root: the query writes its deterministic
    * embeddings under a (count, Σ n_chars)-keyed subdir here so the
    * static oracle SQL can select the current corpus's dump by
    * re-deriving the same key from the `documents` view. /tmp because
    * the oracle (DuckDB, driver-side) reads it in the same gate run
    * that wrote it. */
  private val Q48EmbDumpRoot = "/tmp/graft_q48_emb"

  private val NQueries = 5   // q26 query-set size (first ids — deterministic)
  private val TopK = 10
  private val AnnQueries = 20
  private val AnnBits = 6    // 64 buckets for the single-probe baseline
  private val AnnK = 5
  // Multi-probe config: MORE bits (smaller buckets) probed at the home
  // bucket plus its Hamming-1 ring — 11 probes of 1024 buckets score
  // FEWER candidates than 1 probe of 64 (11/1024 < 1/64 of the corpus)
  // yet recall@k improves, because a near neighbor that disagrees on one
  // leading sign bit is recovered instead of lost. Measured on the
  // testdata: sf0.01 candidates 143→131 with recall 0.26→0.28; sf0.1
  // 661→408 with 0.21→0.27 (q41 reports both sides per query).
  private val MpBits = 10
  private val MpMasks: Seq[Int] = 0 +: (0 until MpBits).map(1 << _)
  private def mpMasksSql: String = MpMasks.map(m => s"($m)").mkString(", ")
  private val NdBits = 4     // 16 buckets for pair mining (wider candidates)
  private val NdThresh = 0.3 // near-dup cosine threshold (testdata is random
  // coarse centroids (first ids, a k-means stand-in); private[graft] so
  // Bench can pre-build q100's persisted index at the same cell count
  private[graft] val IvfCells = 16
  private[graft] val PqM = 4 // PQ subspaces (64 dims → 4×16)
  // private[graft]: PlanShapeSpec rebuilds q113's residual codebook to
  // pin the encode path's no-vector-shuffle law on the untruncated plan.
  private[graft] val PqK = 4 // PQ codes per subspace (seed centroids)
  // q136's codebook-size knob point: the FAISS 8-bit default (256
  // codes/subspace — 4 bytes/vector at M=4). Same chain, one param.
  private[graft] val Pq8K = 256
  private val IvfProbes = 2  // cells probed per query
  private val IvfK = 5
  /** q126's exact-re-rank shortlist size (3·K — the FAISS `refine`
    * convention of a small constant multiple of k): the ADC top-RrShort
    * is re-ranked with exact distances before taking the final top-k,
    * decoupling recall from the coarse PqK=4 quantizer's ranking
    * error. */
  private val RrShort = 3 * IvfK
  private val SemCells = 64  // q99 blocking cells: within-cell pair cost
                             // is Σ cell², so more cells = the guard
  private val KmIters = 3    // q93 training-loop iterations
  // q121: Lloyd updates applied before the IVF-PQ build — 2 updates =
  // the centroid state q93's third-round assignment runs against.
  private[graft] val KmTrainedUpdates = 2
  // q105 MMR: K picks from M relevance candidates; λ·rel − μ·redundancy.
  // μ is its OWN literal, not 1−λ: `1 - 0.7` is 0.30000000000000004 in
  // doubles, and the oracle writes 0.3 — the constants must be the
  // numbers both engines parse.
  private val MmrK = 3
  private val MmrM = 8
  private val MmrLambda = 0.7
  private val MmrMu = 0.3

  /** PQ encode recipe, shared by q88 (emits the codes) and q89 (consumes
    * them for ADC): split each vector into M contiguous subspaces. */
  private def pqSplit(base: DataFrame): DataFrame = {
    val S = Embedder.Dim / PqM
    base.select(col("vec_id"), explode(sequence(lit(0), lit(PqM - 1))).as("m"), col("ev"))
      .select(col("vec_id"), col("m"),
        slice(col("ev"), col("m") * S + 1, lit(S)).as("sv"))
  }

  /** Per-subspace codebook: the first PqK vectors' slices (seed
    * centroids — deterministic, mirrored in the oracle). 16 rows. */
  private def pqCodebook(sub: DataFrame): DataFrame =
    sub.filter(col("vec_id") < PqK)
      .select(col("m"), col("vec_id").as("code"), col("sv").as("cv"))

  /** min_by code assignment with the cross-engine (d, code) tie-break;
    * keeps the residual distance d for the q88 output. */
  private def pqAssign(sub: DataFrame, cents: DataFrame): DataFrame =
    sub.join(broadcast(cents), "m")
      .withColumn("d", round(VectorOps.l2(col("sv"), col("cv")), 6))
      .groupBy(col("vec_id"), col("m"))
      .agg(min_by(struct(col("code"), col("d")),
        struct(col("d"), col("code"))).as("a"))
      .select(col("vec_id"), col("m"), col("a.code").as("code"), col("a.d").as("d"))

  /** Per-task pair-work bound for q99: no task ever evaluates more than
    * ~SemCellCap² candidate pairs, no matter how skewed the cell sizes
    * are. 4096² ≈ 16.8M cosine evaluations per task — minutes of CPU,
    * never hours. private[graft] so the mega-cell spec can force a tiny
    * cap and prove the guarded path bit-identical. */
  private[graft] val SemCellCap = 4096

  /** The q99 engine, hot-cell-safe:
    * exact SemDeDup within-cell pairing whose per-TASK work is bounded
    * even when argmin assignment puts a huge fraction of the corpus in
    * one cell (seeded, untrained centroids make that a real risk — the
    * q81 hot-shingle blowup one level up).
    *
    * Two mechanisms, both result-preserving (the DuckDB oracle is the
    * UNguarded formulation and stays hash-green; SemanticPruneSpec
    * additionally plants a mega-cell and proves capped ≡ uncapped):
    *
    *  1. SALT-GRID the within-cell join. Each cell gets a grid width
    *     g = ceil(n / cap) from a 1-row-per-cell occupancy aggregate
    *     (broadcast). Side A keys by its own salt ga = id_a mod g and
    *     replicates across gb ∈ [0, g); side B mirrors (replicates ga,
    *     keys gb = id_b mod g). Every (a, b) pair meets EXACTLY once —
    *     in the (ga, gb) grid task — and each task holds ~n/g ≤ cap
    *     rows per side, so per-task pair work is ≤ cap². A mega-cell
    *     becomes g² parallel tasks instead of one n²/2 straggler; cells
    *     already under the cap get g = 1 and the exact plan they had
    *     before (zero replication — the common case pays nothing).
    *     Replication cost is g copies of a hot cell's vectors, i.e.
    *     n²/cap shuffled rows for an n-row mega-cell: the price of
    *     EXACT all-pairs with bounded task time, paid only where the
    *     skew is. (The sub-quadratic alternative — recursively
    *     re-splitting hot cells — changes which pairs are compared;
    *     this guard keeps the query's exact within-cell contract.)
    *  2. AGGREGATE the best-partner pick. The old ranking window
    *     shuffled every surviving pair row partitioned by id_b; a
    *     groupBy(id_b) + CollectTopK(k=1) has the same (sim DESC,
    *     id_a ASC) determinism contract but reduces map-side, so the
    *     exchange carries at most one tiny row per (id_b, partition)
    *     and the O(cell²) pair stream is consumed where it is produced.
    */
  private[graft] def semanticPrune(base: DataFrame, cells: Int, cap: Int): DataFrame = {
    require(cap > 0, "semanticPrune requires a positive cell cap")
    // Same argmin-assignment contract as q42/q100 (rounding and
    // tie-break are oracle-pinned) — shared, not re-implemented.
    // EAGER checkpoint on the argmin assignment — the query's dominant
    // compute, read three ways: the grid aggregate (inside a BROADCAST
    // thread, which runs before any lazy checkpoint materializes) and
    // both salt-grid sides (whose differing projections defeat exchange
    // reuse). Without it the assignment ran once per reader (profiled:
    // twin ~1s stages at sf0.1).
    val assign = VectorIndex
      .assign(base, VectorIndex.seedCentroids(base, cells))
      .select("vec_id", "cell_id")
      .checkpointed()
    // Cell occupancy → salt-grid width. One row per cell: broadcast.
    val grid = assign.groupBy(col("cell_id"))
      .agg(ceil(count(lit(1)) / lit(cap.toDouble)).cast("int").as("g"))
    val withCell = base.join(assign, "vec_id").join(broadcast(grid), "cell_id")
    val a = withCell.select(col("cell_id"),
      col("vec_id").as("id_a"), col("ev").as("av"),
      pmod(col("vec_id"), col("g")).cast("int").as("ga"),
      explode(sequence(lit(0), col("g") - 1)).as("gb"))
    val b = withCell.select(col("cell_id"),
      col("vec_id").as("id_b"), col("ev").as("bv"),
      explode(sequence(lit(0), col("g") - 1)).as("ga"),
      pmod(col("vec_id"), col("g")).cast("int").as("gb"))
    val pairs = a.join(b, Seq("cell_id", "ga", "gb"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim", VectorOps.cosine6(col("av"), col("bv")))
      .filter(col("sim") >= NdThresh)
    CollectTopK.ranked(pairs.groupBy(col("id_b"), col("cell_id")), col("sim"), col("id_a"), 1,
        "keep_id", "sim")
      .select(col("id_b").as("drop_id"), col("keep_id"), col("cell_id"), col("sim"))
      .orderBy("drop_id") // row-per-dropped-doc: parallel range sort
  }

  /** The IVF-PQ encode: assign each of `vectors` to its cell among the
    * centroid frame `cents` `(cell_id, cv)`, take the residual
    * (vector − centroid) and split it into PqM subspace slices
    * `(vec_id, cell_id, m, sv)` — ONE map-only projection over the scan.
    * q113/q121 and the curves encode the corpus against its own
    * centroids; the append path (q119) encodes a batch against the
    * CORPUS's. Given the centroids, encoding is row-local, so
    * incremental ≡ bulk per row (IvfPqAppendSpec pins the law).
    *
    * The argmin deliberately does NOT reuse [[VectorIndex.assign]]'s
    * crossJoin + min_by shape: that shape needs a join-back by vec_id
    * to recover the vector for the residual, and with corpus-sized both
    * sides that join SHUFFLES THE VECTORS — at 100 TB the raw embedding
    * bytes are the one thing that must never cross the wire. Instead
    * the cells-row centroid table collapses to a single array row
    * (broadcast), and each scan row computes its own argmin cell,
    * residual, and subspace slices in place: no exchange carries a
    * corpus vector up to the tiny code rows (PlanShapeSpec pins it on
    * the untruncated plan). The centroid array itself is a
    * `collect_list` whose buffer crosses one single-partition exchange
    * holding every centroid vector (ROADMAP D7). The argmin fold is an interpreted HOF over
    * cells×dims elements per row — the engine's usual explode+agg
    * rewrite is exactly what would reintroduce the vector exchange
    * (l2Hof is law-pinned equal to the codegen'd L2Dist in L2DistSpec,
    * so the 6dp parity contract holds). */
  private[graft] def ivfpqSub(vectors: DataFrame, cents: DataFrame): DataFrame = {
    val S = Embedder.Dim / PqM
    val centArr = cents.groupBy()
      .agg(collect_list(struct(col("cell_id"), col("cv"))).as("cents"))
    vectors.crossJoin(broadcast(centArr))
      // argmin over the in-row centroid array: struct(d, cell_id, cv)
      // compares lexicographically — the (d ASC, cell_id ASC) contract
      // the oracle's ROW_NUMBER expresses; cv rides along for the
      // residual and never reaches comparison (cell_id is unique).
      .withColumn("best", array_min(transform(col("cents"), c =>
        struct(round(VectorOps.l2Hof(col("ev"), c.getField("cv")), 6).as("d"),
          c.getField("cell_id").as("cell_id"), c.getField("cv").as("cv")))))
      .select(col("vec_id"), col("best.cell_id").as("cell_id"),
        zip_with(col("ev"), col("best.cv"), (x, y) => x - y).as("rv"))
      .select(col("vec_id"), col("cell_id"),
        explode(sequence(lit(0), lit(PqM - 1))).as("m"), col("rv"))
      .select(col("vec_id"), col("cell_id"), col("m"),
        slice(col("rv"), col("m") * S + 1, lit(S)).as("sv"))
  }

  /** A residual index: its codebook `(m, code, cvr)` and its
    * per-(vector, subspace) codes `(vec_id, cell_id, m, code)`. */
  private[graft] final case class IvfPqIndex(cb: DataFrame, codes: DataFrame)

  /** The residual index over an encoded frame `sub` ([[ivfpqSub]]):
    * codebook = the first `pqK` vectors' residual slices (the seed
    * convention of q88's raw-vector codebook), codes = [[ivfpqCodes]].
    * The registered queries pass `sub` EAGERLY checkpointed: the
    * codebook filter feeds a broadcast build thread AND the encode
    * reads it, and without the barrier the whole map-only encode
    * projection computes twice in parallel. */
  private[graft] def ivfpqIndex(sub: DataFrame, pqK: Int = PqK): IvfPqIndex = {
    val cb = sub.filter(col("vec_id") < pqK)
      .select(col("m"), col("vec_id").as("code"), col("sv").as("cvr"))
    IvfPqIndex(cb, ivfpqCodes(sub, cb))
  }

  /** PQ encode of `sub` against the residual codebook: the min_by
    * aggregate whose exchange carries only (vec_id, cell_id, m) + a
    * (code, d) buffer — never a slice.
    *
    * An in-row argmin over a one-row broadcast codebook array (the
    * [[ivfpqSub]] cell-assignment shape) measured 3.6× SLOWER at the
    * 256-entry codebook (q136 8.1 → 29.0 s, q137 4.1 → 15.2 s
    * in-suite): the interpreted HOF lambda (boxed per-element structs,
    * no whole-stage codegen) loses to the codegen'd broadcast-join
    * probe + L2Dist + min_by aggregate even at 250× the row count
    * (that aggregate plans as a SortAggregate on both sides of its
    * exchange, not a hash partial; ROADMAP D6). At 16 entries (cells) the in-row argmin wins by avoiding an
    * exchange; at 256 (codes) the codegen'd operator pipeline wins. */
  private[graft] def ivfpqCodes(sub: DataFrame, cb: DataFrame): DataFrame =
    sub.join(broadcast(cb), "m")
      .withColumn("d", round(VectorOps.l2(col("sv"), col("cvr")), 6))
      .groupBy(col("vec_id"), col("cell_id"), col("m"))
      .agg(min_by(col("code"), struct(col("d"), col("code"))).as("code"))

  /** The residual codebook recomputed from the corpus seeds — byte-equal
    * to the bulk build's because encoding is row-local given the
    * centroids, but costs PqK rows instead of a corpus pass. The append
    * path (q119) rides on this: centroids and codebook are
    * seed-deterministic, so only the CODES table needs persistence. */
  private[graft] def ivfpqCodebook(base: DataFrame, cents: DataFrame): DataFrame =
    ivfpqIndex(ivfpqSub(base.filter(col("vec_id") < PqK), cents)).cb

  /** Per-vector PACKED code rows `(vec_id, cell_id, codes[PqM])` from
    * the per-(vector, subspace) code stream — the deployed FAISS-style
    * layout: one row per vector, codes ordered by subspace, so ADC can
    * read a candidate's whole code word without a per-m join. */
  private[graft] def ivfpqPacked(codes: DataFrame): DataFrame =
    codes.groupBy(col("vec_id"), col("cell_id"))
      .agg(transform(array_sort(collect_list(struct(col("m"), col("code")))),
        t => t.getField("code")).as("codes"))

  /** One-time persisted IVF-PQ codes table `(vec_id, cell_id,
    * codes[PqM])` — the composite-index sibling of [[VectorIndex
    * .prepared]] (q100's assignment index): written once per corpus
    * fingerprint, so an append (q119) pays only the batch's map-only
    * encode plus index-sized aggregates, never a corpus re-encode. At
    * 100 TB this table IS the deployed index (clustered by cell_id);
    * the raw vectors are cold storage it never rescans. */
  private[graft] def ivfPqIndexPrepared(s: SparkSession, sfDir: String,
      cells: Int = IvfCells): String =
    graft.pipeline.PreparedArtifact.publishOnce(s, "graft_ivfpq_index",
        s"${graft.pipeline.PreparedArtifact.fingerprint(s, sfDir, "embeddings")}_${cells}_${PqM}_$PqK") { tmp =>
      val base = emb(s, sfDir)
      val idx = ivfpqIndex(ivfpqSub(base, VectorIndex.seedCentroids(base, cells)).checkpointed())
      ivfpqPacked(idx.codes).write.parquet(tmp.toString)
    }

  /** q119's append pipeline with the cell count as the explicit scale
    * knob — the registered query runs `cells = IvfCells`; the 10×
    * probe runs `cells ∝ corpus` (the q99_scaled_cells convention),
    * the configuration that bounds per-cell occupancy and with it the
    * in-task ADC pair work. */
  private[graft] def ivfpqAppend(s: SparkSession, dir: String, cells: Int): DataFrame =
    ivfpqTriage(ivfpqAppendStatics(s, dir, cells), ivfpqAppendBatch(s, dir))
      .orderBy("vec_id") // row-per-batch-vector: parallel range sort

  /** The INDEX side of the append triage — persisted packed codes, their
    * per-cell occupancy, the seed centroids, and the residual codebook —
    * built once and closed over by every batch (q119 runs one batch;
    * q124 drains micro-batches against the same statics). */
  private[graft] final case class IvfPqStatics(
      idx: DataFrame, occ: DataFrame, cents: DataFrame, cb: DataFrame)

  private[graft] def ivfpqAppendStatics(
      s: SparkSession, dir: String, cells: Int): IvfPqStatics = {
    val idx = Tables.read(s, ivfPqIndexPrepared(s, dir, cells))
    val occ = idx.groupBy(col("cell_id")).agg(count(lit(1)).as("cell_n_index"))
    val base = emb(s, dir)
    val cents = VectorIndex.seedCentroids(base, cells)
    IvfPqStatics(idx, occ, cents, ivfpqCodebook(base, cents))
  }

  /** q100's append, cell-count parameterized (same probe rationale as
    * [[ivfpqAppendStream]]): batch-only assignment against the
    * persisted index at `cells`. */
  private[graft] def ivfAppendAssign(s: SparkSession, dir: String,
      cells: Int): DataFrame = {
    val indexPath = VectorIndex.prepared(s, dir, cells)
    val occ = Tables.read(s, indexPath)
      .groupBy(col("cell_id")).agg(count(lit(1)).as("cell_n_index"))
    val base = emb(s, dir)
    val cents = VectorIndex.seedCentroids(base, cells)
    // The append batch: every 5th vector re-arrives negated under a
    // shifted id — deterministic, mirrored exactly in the oracle.
    val batch = base.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("ev"), x => -x).as("ev"))
    VectorIndex.assign(batch, cents)
      .join(occ, Seq("cell_id"), "left")
      .na.fill(0, Seq("cell_n_index"))
      .select("vec_id", "cell_id", "d", "cell_n_index")
      .orderBy("vec_id") // row-per-batch-vector: parallel range sort
  }

  /** q124's drain, cell-count parameterized (the registered query runs
    * the fixed IvfCells; the scale probe's `learned` and `backlog`
    * families run cells ∝ corpus at 10× — the deployment knob). */
  private[graft] def ivfpqAppendStream(s: SparkSession, dir: String,
      cells: Int, nFiles: Int = 2): DataFrame = {
    val st0 = ivfpqAppendStatics(s, dir, cells)
    // Statics checkpoint EAGERLY once: idx/occ/cb otherwise re-derive
    // inside every micro-batch's plan (cb's subtree also lands in a
    // broadcast build thread — the q99/q113 lesson).
    val st = IvfPqStatics(st0.idx.checkpointed(), st0.occ.checkpointed(),
      st0.cents.checkpointed(), st0.cb.checkpointed())
    val batch = ivfpqAppendBatch(s, dir)
    val root = graft.TempDirs.fresh("q124")
    val target = new Drain.Target(Drain.targetDir(root))
    Drain.split(root, batch, nFiles)(Drain.appendEach(target)(ivfpqTriage(st, _)))
    target.read(s).orderBy("vec_id")
  }

  /** q119's planted append batch: every 5th vector negated under a
    * +100000 id shift (q100's convention). */
  private[graft] def ivfpqAppendBatch(s: SparkSession, dir: String): DataFrame =
    emb(s, dir).filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("ev"), x => -x).as("ev"))

  /** Encode `batch` against the statics and ADC-check each vector's
    * home cell vs the persisted codes — the production insert triage.
    * Unordered: q119 adds the range sort; q124 runs this per
    * micro-batch and sorts the drained target instead. */
  private[graft] def ivfpqTriage(st: IvfPqStatics, batch: DataFrame): DataFrame = {
    import st.{idx, occ, cents, cb}
    // EAGER checkpoint: bsub feeds the encode AND the distance-table
    // side, and the codebook subtree above it lands in a broadcast
    // build thread (the q99/q113 lesson) — without the barrier the
    // map-only encode projection computes twice in parallel.
    val bsub = ivfpqSub(batch, cents).checkpointed()
    val barr = ivfpqPacked(ivfpqCodes(bsub, cb))
    // The batch's flat ADC table: one 16-double array per vector,
    // entry (m, code) at index m·PqK + code + 1 — complete because cb
    // carries every (m, code) pair, so array_sort by (m, code) IS the
    // flat layout.
    val dt16 = bsub.join(broadcast(cb), "m")
      .withColumn("t", round(VectorOps.l2(col("sv"), col("cvr")), 6))
      .withColumn("d2", round(col("t") * col("t"), 6))
      .groupBy(col("vec_id"), col("cell_id"))
      .agg(transform(array_sort(collect_list(
          struct(col("m"), col("code"), col("d2")))),
        t => t.getField("d2")).as("dt16"))
      .select(col("vec_id").as("query_id"), col("cell_id"), col("dt16"))
    // The insert check: ONE equi-join on cell_id; the ADC distance is
    // computed in-row (exact-decimal 4-term sum of the looked-up 6dp
    // entries) — no per-pair exchange exists in this plan.
    val adSum = (0 until PqM).map(m =>
      element_at(col("dt16"),
        (lit(m * PqK) + element_at(col("codes"), m + 1) + 1).cast("int"))
        .cast(Exact.Dec)).reduce(_ + _)
    val adc = idx.join(dt16, Seq("cell_id"))
      .select(col("query_id"), col("vec_id"),
        round(sqrt(adSum.cast("double")), 6).as("ad"))
    val nn = adc.groupBy(col("query_id"))
      .agg(min_by(struct(col("vec_id"), col("ad")),
        struct(col("ad"), col("vec_id"))).as("n"))
      .select(col("query_id").as("vec_id"),
        col("n.vec_id").as("nn_vec_id"), col("n.ad").as("nn_ad"))
    barr.join(occ, Seq("cell_id"), "left_outer")
      .na.fill(0L, Seq("cell_n_index"))
      .join(nn, Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("cell_id"),
        element_at(col("codes"), 1).as("c0"),
        element_at(col("codes"), 2).as("c1"),
        element_at(col("codes"), 3).as("c2"),
        element_at(col("codes"), 4).as("c3"),
        col("cell_n_index"), col("nn_vec_id"), col("nn_ad"))
  }

  private val esCteSql =
    "es AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings)"

  /** The seed-centroid body q113/q119 build on; q121 swaps in the
    * Lloyd-trained frame ([[trainedCentsBodySql]]) — the layout is
    * unchanged, which is the whole point of the composition. */
  private def seedCentsBodySql =
    s"SELECT vec_id AS cell_id, ev AS cv FROM es WHERE vec_id < $IvfCells"

  private def trainedCentsBodySql = s"SELECT cell_id, cv FROM kcents$KmTrainedUpdates"

  /** `es`, `dims` and the Lloyd chain up to the trained centroids — the
    * head of every trained-centroid oracle (q121, q126, q136, q137). */
  private def trainedPreludeSql: String =
    s"""$esCteSql,
       |  dims AS (SELECT unnest(range(1, ${Embedder.Dim + 1})) AS dim),
       |  ${kmCentsSql(KmTrainedUpdates)}""".stripMargin

  /** The query set and its exact L2 top-IvfK, the recall ground truth
    * of the IVF-PQ search and the curves ([[querySet]]/[[exactTopK]]). */
  private def qsSql =
    s"qs AS (SELECT vec_id AS query_id, ev AS qv FROM es WHERE vec_id < $NQueries)"

  private def topxSql: String =
    s"""topx AS (SELECT query_id, vec_id FROM (
       |    SELECT q.query_id, e.vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
       |        ROUND(list_distance(e.ev, q.qv), 6) ASC, e.vec_id) AS rn
       |    FROM es e CROSS JOIN qs q) WHERE rn <= $IvfK)""".stripMargin

  /** The index half of the IVF-PQ oracle chain (es → cents → assign →
    * res → sub → cb → codes), shared verbatim by q113 and q119 so the
    * two oracles can never drift on the encode semantics. */
  private def ivfpqIndexCtesSql: String =
    s"""$esCteSql,
       |  ${ivfpqChainSqlFrom(seedCentsBodySql)}""".stripMargin

  /** assign → res → sub for an arbitrary vector-source CTE, CTE names
    * prefixed by `p` — ONE text for the corpus encode (src="es", p="")
    * and q119's batch encode (src="batch", p="b"), so the two can
    * never drift on the encode semantics (tie-break, ROUND placement,
    * slice arithmetic). */
  private def ivfpqSubSqlFrom(src: String, p: String,
      centsCte: String = "cents"): String = {
    val S = Embedder.Dim / PqM
    s"""${p}assign AS (SELECT vec_id, cell_id FROM (
       |    SELECT $src.vec_id, cents.cell_id,
       |      ROW_NUMBER() OVER (PARTITION BY $src.vec_id ORDER BY
       |        ROUND(list_distance($src.ev, cv), 6) ASC, cents.cell_id) AS rn
       |    FROM $src, $centsCte cents) WHERE rn = 1),
       |  ${p}res AS (SELECT a.vec_id, a.cell_id,
       |            [$src.ev[i] - c.cv[i] for i in range(1, len($src.ev) + 1)] AS rv
       |          FROM ${p}assign a JOIN $src USING (vec_id) JOIN $centsCte c USING (cell_id)),
       |  ${p}sub AS (SELECT vec_id, cell_id, m.m,
       |            list_slice(rv, m.m * $S + 1, m.m * $S + $S) AS sv
       |          FROM ${p}res CROSS JOIN (SELECT unnest(range(0, $PqM)) AS m) m)""".stripMargin
  }

  /** min_by PQ encode of a prefixed `sub` CTE against the `cbCte`
    * codebook — same single-text discipline as [[ivfpqSubSqlFrom]]. */
  private def ivfpqCodesSqlFrom(p: String, cbCte: String = "cb"): String =
    s"""${p}codes AS (SELECT vec_id, cell_id, m, code FROM (
       |    SELECT s.vec_id, s.cell_id, s.m, c.code,
       |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m ORDER BY
       |        ROUND(list_distance(s.sv, c.cvr), 6) ASC, c.code) AS rn
       |    FROM ${p}sub s JOIN $cbCte c USING (m)) WHERE rn = 1)""".stripMargin

  /** The chain below `es`, parameterized by the centroid source (q121
    * points it at the trained `kcents` CTE), by a CTE-name prefix
    * (q126 runs the seed AND trained chains side by side in one
    * query), and by the codebook size (q136 sweeps the PqK knob —
    * K = 256 is the FAISS 8-bit default; everything else is the SAME
    * text, which is the point of the knob). */
  private def ivfpqChainSqlFrom(centsBody: String, pfx: String = "",
      pqK: Int = PqK): String =
    s"""${pfx}cents AS ($centsBody),
       |  ${ivfpqSubSqlFrom("es", pfx, s"${pfx}cents")},
       |  ${pfx}cb AS (SELECT m, vec_id AS code, sv AS cvr FROM ${pfx}sub WHERE vec_id < $pqK),
       |  ${ivfpqCodesSqlFrom(pfx, s"${pfx}cb")}""".stripMargin

  /** The search half (qs → probes → qres → ADC → top-k → recall audit),
    * shared verbatim by q113 and q121: the index layout is identical,
    * so the consumer SQL must be too. Includes the final SELECT. */
  private def ivfpqSearchSql: String = {
    val S = Embedder.Dim / PqM
    s"""$qsSql,
       |  probes AS (SELECT query_id, cell_id FROM (
       |    SELECT qs.query_id, cents.cell_id,
       |      ROW_NUMBER() OVER (PARTITION BY qs.query_id ORDER BY
       |        ROUND(list_distance(qv, cv), 6) ASC, cents.cell_id) AS rn
       |    FROM qs, cents) WHERE rn <= $IvfProbes),
       |  qres AS (SELECT p.query_id, p.cell_id,
       |             [q.qv[i] - c.cv[i] for i in range(1, len(q.qv) + 1)] AS qr
       |           FROM probes p JOIN qs q USING (query_id) JOIN cents c USING (cell_id)),
       |  dts AS (SELECT query_id, qres.cell_id, cb.m, cb.code,
       |            ROUND(list_distance(list_slice(qr, cb.m * $S + 1, cb.m * $S + $S), cb.cvr), 6) AS t
       |          FROM qres CROSS JOIN cb),
       |  dt AS (SELECT query_id, cell_id, m, code, ROUND(t * t, 6) AS d2 FROM dts),
       |  adc AS (SELECT d.query_id, e.vec_id, ROUND(sqrt(${ExactSql.dsum("d.d2")}), 6) AS ad
       |          FROM codes e JOIN dt d USING (cell_id, m, code)
       |          GROUP BY 1, 2),
       |  sel AS (SELECT query_id, CAST(rn AS BIGINT) AS rn, vec_id, ad FROM (
       |    SELECT query_id, vec_id, ad,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY ad ASC, vec_id) AS rn
       |    FROM adc) WHERE rn <= $IvfK),
       |  $topxSql,
       |  hit AS (SELECT s.query_id, COUNT(*) AS n_overlap
       |          FROM sel s JOIN topx x USING (query_id, vec_id) GROUP BY 1)
       |SELECT s.query_id, s.rn, s.vec_id, s.ad,
       |  COALESCE(h.n_overlap, 0) AS n_overlap,
       |  ROUND(CAST(COALESCE(h.n_overlap, 0) AS DOUBLE) / $IvfK, 6) AS recall
       |FROM sel s LEFT JOIN hit h USING (query_id)
       |ORDER BY query_id, rn""".stripMargin
  }

  /** q119's (and q124's) oracle: re-derive the packed index from the
    * corpus (the q68 convention: persisted artifact vs oracle
    * recompute), encode the planted batch on a parallel CTE chain, and
    * run the per-cell ADC insert check. ONE text shared by the batch
    * and streaming registrations so the two gates can never drift. */
  private def ivfpqAppendOracleSql: String = {
    val dt16Sql = (0 until PqM).flatMap(m => (0 until PqK).map(k =>
      s"MAX(CASE WHEN m = $m AND code = $k THEN d2 END)"))
      .mkString("[", ", ", "]")
    val packSql = (0 until PqM).map(m =>
      s"MAX(CASE WHEN m = $m THEN code END)").mkString("[", ", ", "]")
    val adSql = (0 until PqM).map(m =>
      s"CAST(d.dt16[${m * PqK} + e.codes[${m + 1}] + 1] AS DECIMAL(28,6))")
      .mkString(" + ")
    s"""WITH $ivfpqIndexCtesSql,
       |  idxa AS (SELECT vec_id, cell_id, $packSql AS codes
       |           FROM codes GROUP BY 1, 2),
       |  occ AS (SELECT cell_id, COUNT(*) AS cell_n_index
       |          FROM idxa GROUP BY 1),
       |  batch AS (SELECT vec_id + 100000 AS vec_id,
       |              list_transform(ev, x -> -x) AS ev
       |            FROM es WHERE vec_id % 5 = 0),
       |  ${ivfpqSubSqlFrom("batch", "b")},
       |  ${ivfpqCodesSqlFrom("b")},
       |  barr AS (SELECT vec_id, cell_id, $packSql AS codes
       |           FROM bcodes GROUP BY 1, 2),
       |  bdts AS (SELECT s.vec_id AS query_id, s.cell_id, c.m, c.code,
       |             ROUND(list_distance(s.sv, c.cvr), 6) AS t
       |           FROM bsub s JOIN cb c USING (m)),
       |  bdt AS (SELECT query_id, cell_id, m, code, ROUND(t * t, 6) AS d2
       |          FROM bdts),
       |  dt16 AS (SELECT query_id, cell_id, $dt16Sql AS dt16
       |           FROM bdt GROUP BY 1, 2),
       |  adc AS (SELECT d.query_id, e.vec_id,
       |            ROUND(sqrt(CAST($adSql AS DOUBLE)), 6) AS ad
       |          FROM idxa e JOIN dt16 d USING (cell_id)),
       |  nn AS (SELECT query_id, vec_id AS nn_vec_id, ad AS nn_ad FROM (
       |    SELECT query_id, vec_id, ad,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY ad ASC, vec_id) AS rn
       |    FROM adc) WHERE rn = 1)
       |SELECT b.vec_id, b.cell_id,
       |  b.codes[1] AS c0, b.codes[2] AS c1, b.codes[3] AS c2, b.codes[4] AS c3,
       |  COALESCE(occ.cell_n_index, 0) AS cell_n_index,
       |  nn.nn_vec_id, nn.nn_ad
       |FROM barr b LEFT JOIN occ USING (cell_id)
       |LEFT JOIN nn ON nn.query_id = b.vec_id
       |ORDER BY vec_id""".stripMargin
  }

  /** One variant's recall-vs-nprobe curve CTEs (q126), over the chain
    * CTEs produced by [[ivfpqChainSqlFrom]] with the same prefix `cp`
    * plus the shared `qs`/`topx`: rank ALL cells per query, ADC the
    * full corpus once (each candidate carries its home cell's rank),
    * then slice the candidate set at every nprobe — one encode and one
    * distance-table pass serve all IvfCells curve points. */
  private def ivfpqCurveSql(cp: String): String = {
    val S = Embedder.Dim / PqM
    s"""${cp}ccrank AS (SELECT qs.query_id, c.cell_id,
       |    ROW_NUMBER() OVER (PARTITION BY qs.query_id ORDER BY
       |      ROUND(list_distance(qv, cv), 6) ASC, c.cell_id) AS crank
       |  FROM qs, ${cp}cents c),
       |  ${cp}cqres AS (SELECT r.query_id, r.cell_id, r.crank,
       |      [q.qv[i] - c.cv[i] for i in range(1, len(q.qv) + 1)] AS qr
       |    FROM ${cp}ccrank r JOIN qs q USING (query_id)
       |    JOIN ${cp}cents c USING (cell_id)),
       |  ${cp}cdts AS (SELECT query_id, qres.cell_id, crank, cb.m, cb.code,
       |      ROUND(list_distance(list_slice(qr, cb.m * $S + 1, cb.m * $S + $S), cb.cvr), 6) AS t
       |    FROM ${cp}cqres qres CROSS JOIN ${cp}cb cb),
       |  ${cp}cdt AS (SELECT query_id, cell_id, crank, m, code,
       |      ROUND(t * t, 6) AS d2 FROM ${cp}cdts),
       |  ${cp}cadc AS (SELECT d.query_id, e.vec_id, MIN(d.crank) AS crank,
       |      ROUND(sqrt(${ExactSql.dsum("d.d2")}), 6) AS ad
       |    FROM ${cp}codes e JOIN ${cp}cdt d USING (cell_id, m, code)
       |    GROUP BY 1, 2),
       |  ${cp}ccand AS (SELECT a.query_id, a.vec_id, a.ad, np.nprobe
       |    FROM ${cp}cadc a
       |    JOIN (SELECT unnest(range(1, ${IvfCells + 1})) AS nprobe) np
       |      ON a.crank <= np.nprobe),
       |  ${cp}cshort AS (SELECT query_id, nprobe, vec_id, rn FROM (
       |      SELECT query_id, nprobe, vec_id,
       |        ROW_NUMBER() OVER (PARTITION BY query_id, nprobe
       |          ORDER BY ad ASC, vec_id) AS rn
       |      FROM ${cp}ccand) WHERE rn <= $RrShort),
       |  ${cp}cqrec AS (SELECT s.nprobe, s.query_id,
       |      ROUND(CAST(COUNT(x.query_id) AS DOUBLE) / $IvfK, 6) AS recall
       |    FROM (SELECT * FROM ${cp}cshort WHERE rn <= $IvfK) s
       |    LEFT JOIN topx x
       |      ON x.query_id = s.query_id AND x.vec_id = s.vec_id
       |    GROUP BY 1, 2),
       |  ${cp}crr AS (SELECT query_id, nprobe, vec_id FROM (
       |      SELECT s.query_id, s.nprobe, s.vec_id,
       |        ROW_NUMBER() OVER (PARTITION BY s.query_id, s.nprobe ORDER BY
       |          ROUND(list_distance(e.ev, q.qv), 6) ASC, s.vec_id) AS rn2
       |      FROM ${cp}cshort s JOIN es e ON e.vec_id = s.vec_id
       |      JOIN qs q ON q.query_id = s.query_id) WHERE rn2 <= $IvfK),
       |  ${cp}crrrec AS (SELECT s.nprobe, s.query_id,
       |      ROUND(CAST(COUNT(x.query_id) AS DOUBLE) / $IvfK, 6) AS recall_rr
       |    FROM ${cp}crr s LEFT JOIN topx x
       |      ON x.query_id = s.query_id AND x.vec_id = s.vec_id
       |    GROUP BY 1, 2),
       |  ${cp}ccurve AS (SELECT a.nprobe, a.mean_recall, r.mean_recall_rr FROM
       |    (SELECT nprobe, ${ExactSql.davgRound("recall", 6)} AS mean_recall
       |     FROM ${cp}cqrec GROUP BY 1) a
       |    JOIN (SELECT nprobe, ${ExactSql.davgRound("recall_rr", 6)} AS mean_recall_rr
       |          FROM ${cp}crrrec GROUP BY 1) r USING (nprobe))""".stripMargin
  }

  /** q126/q136's oracle: the seed and trained chains at codebook size
    * `pqK`, each with its [[ivfpqCurveSql]], in one output frame. */
  private def nprobeCurvesSql(pqK: Int): String =
    s"""WITH $trainedPreludeSql,
       |  ${ivfpqChainSqlFrom(seedCentsBodySql, "", pqK)},
       |  ${ivfpqChainSqlFrom(trainedCentsBodySql, "t", pqK)},
       |  $qsSql,
       |  $topxSql,
       |  ${ivfpqCurveSql("")},
       |  ${ivfpqCurveSql("t")}
       |SELECT variant, nprobe, mean_recall, mean_recall_rr FROM (
       |  SELECT 'seed' AS variant, nprobe, mean_recall, mean_recall_rr FROM ccurve
       |  UNION ALL
       |  SELECT 'trained' AS variant, nprobe, mean_recall, mean_recall_rr FROM tccurve)
       |ORDER BY variant, nprobe""".stripMargin

  /** q137's refine-depth curve CTEs: the re-rank shortlist as the
    * SWEPT knob over the [[RrPoints]] × [[NprobePoints]] grid. Same
    * one-encode discipline as [[ivfpqCurveSql]]: rank all cells, ADC
    * the corpus once, then every (nprobe, rr_short) point is a SLICE of
    * the shared candidate frame — the exact re-rank distance is
    * computed ONCE per candidate row (at the max swept depth) and each
    * rr point re-windows it. Requires the chain CTEs with prefix `cp`
    * plus `qs`/`topx`. */
  private def ivfpqRefineCurveSql(cp: String): String = {
    val S = Embedder.Dim / PqM
    s"""${cp}rcrank AS (SELECT qs.query_id, c.cell_id,
       |    ROW_NUMBER() OVER (PARTITION BY qs.query_id ORDER BY
       |      ROUND(list_distance(qv, cv), 6) ASC, c.cell_id) AS crank
       |  FROM qs, ${cp}cents c),
       |  ${cp}rqres AS (SELECT r.query_id, r.cell_id, r.crank,
       |      [q.qv[i] - c.cv[i] for i in range(1, len(q.qv) + 1)] AS qr
       |    FROM ${cp}rcrank r JOIN qs q USING (query_id)
       |    JOIN ${cp}cents c USING (cell_id)),
       |  ${cp}rdt AS (SELECT query_id, qres.cell_id, crank, cb.m, cb.code,
       |      ROUND(ROUND(list_distance(list_slice(qr, cb.m * $S + 1, cb.m * $S + $S), cb.cvr), 6)
       |        * ROUND(list_distance(list_slice(qr, cb.m * $S + 1, cb.m * $S + $S), cb.cvr), 6), 6) AS d2
       |    FROM ${cp}rqres qres CROSS JOIN ${cp}cb cb),
       |  ${cp}radc AS (SELECT d.query_id, e.vec_id, MIN(d.crank) AS crank,
       |      ROUND(sqrt(${ExactSql.dsum("d.d2")}), 6) AS ad
       |    FROM ${cp}codes e JOIN ${cp}rdt d USING (cell_id, m, code)
       |    GROUP BY 1, 2),
       |  ${cp}rcand AS (SELECT a.query_id, a.vec_id, a.ad, np.nprobe
       |    FROM ${cp}radc a
       |    JOIN (SELECT unnest(${NprobePoints.mkString("[", ",", "]")}) AS nprobe) np
       |      ON a.crank <= np.nprobe),
       |  ${cp}rshort AS (SELECT query_id, nprobe, vec_id, rn FROM (
       |      SELECT query_id, nprobe, vec_id,
       |        ROW_NUMBER() OVER (PARTITION BY query_id, nprobe
       |          ORDER BY ad ASC, vec_id) AS rn
       |      FROM ${cp}rcand) WHERE rn <= ${RrPoints.max}),
       |  ${cp}rxd AS (SELECT s.query_id, s.nprobe, s.vec_id, s.rn,
       |      ROUND(list_distance(e.ev, q.qv), 6) AS xd
       |    FROM ${cp}rshort s JOIN es e ON e.vec_id = s.vec_id
       |    JOIN qs q ON q.query_id = s.query_id),
       |  ${cp}rsel AS (SELECT query_id, nprobe, rr_short, vec_id FROM (
       |      SELECT x.query_id, x.nprobe, rp.rr_short, x.vec_id,
       |        ROW_NUMBER() OVER (PARTITION BY x.query_id, x.nprobe, rp.rr_short
       |          ORDER BY x.xd ASC, x.vec_id) AS rn2
       |      FROM ${cp}rxd x
       |      JOIN (SELECT unnest(${RrPoints.mkString("[", ",", "]")}) AS rr_short) rp
       |        ON x.rn <= rp.rr_short) WHERE rn2 <= $IvfK),
       |  ${cp}rrec AS (SELECT s.nprobe, s.rr_short, s.query_id,
       |      ROUND(CAST(COUNT(x.query_id) AS DOUBLE) / $IvfK, 6) AS recall_rr
       |    FROM ${cp}rsel s LEFT JOIN topx x
       |      ON x.query_id = s.query_id AND x.vec_id = s.vec_id
       |    GROUP BY 1, 2, 3),
       |  ${cp}rcurve AS (SELECT rr_short, nprobe,
       |      ${ExactSql.davgRound("recall_rr", 6)} AS mean_recall_rr
       |    FROM ${cp}rrec GROUP BY 1, 2)""".stripMargin
  }

  // q137's sweep grid: refine depth as multiples of k (3k = q126's
  // fixed RrShort, then 12k, 48k) × nprobe from single-cell to
  // exhaustive. Small enough that every point is a slice, wide enough
  // to show where the ≥0.9 operating point lives at each SF.
  private val RrPoints = Seq(3 * IvfK, 12 * IvfK, 48 * IvfK)
  private val NprobePoints = Seq(1, 2, 4, 8, IvfCells)

  /** q93's Lloyd update chain, lean (no stats CTEs): kcents0 = seeds,
    * kcents$i = exact-decimal per-(cell, dim) means of kassign$i — the
    * same davgRound(6) recipe q93's oracle runs, so the trained frame
    * is cross-engine exact. Requires `es` and `dims` CTEs upstream. */
  private def kmCentsSql(updates: Int): String = {
    val rounds = (1 to updates).map { i =>
      s"""kassign$i AS (SELECT vec_id, cell_id FROM (
         |    SELECT es.vec_id, c.cell_id,
         |      ROW_NUMBER() OVER (PARTITION BY es.vec_id ORDER BY
         |        ROUND(list_distance(es.ev, c.cv), 6) ASC, c.cell_id) AS rn
         |    FROM es, kcents${i - 1} c) WHERE rn = 1),
         |  kmem$i AS (SELECT a.cell_id, dm.dim, es.ev[dm.dim] AS val
         |            FROM kassign$i a JOIN es USING (vec_id) CROSS JOIN dims dm),
         |  kmeans$i AS (SELECT cell_id, dim, ${ExactSql.davgRound("val", 6)} AS m
         |               FROM kmem$i GROUP BY 1, 2),
         |  kcents$i AS (SELECT cell_id, list(m ORDER BY dim) AS cv
         |               FROM kmeans$i GROUP BY 1)""".stripMargin
    }.mkString(",\n  ")
    s"""kcents0 AS ($seedCentsBodySql),
       |  $rounds""".stripMargin
  }

  /** Lloyd-trained centroids, the engine side of [[kmCentsSql]]: q93's
    * rounds ([[VectorIndex.assign]], then [[VectorIndex.lloydMeans]])
    * from the seed frame, so q121 and the curves can feed a TRAINED
    * frame into the unchanged IVF-PQ layout. */
  private[graft] def kmTrainedCents(base: DataFrame, updates: Int): DataFrame =
    (1 to updates).foldLeft(VectorIndex.seedCentroids(base, IvfCells))((cents, _) =>
      VectorIndex.lloydMeans(VectorIndex.assign(base, cents), base))

  /** The first NQueries corpus vectors as the query set `(query_id, qv)`. */
  private def querySet(base: DataFrame): DataFrame =
    base.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("ev").as("qv"))

  /** Brute-force kNN: every `corpus` row scored against every row of
    * the broadcast `queries` set, then each `key` group's k best `id`s as
    * ranked rows `(key, id, scoreAs, rn)` ([[CollectTopK.ranked]]). The
    * heaps reduce map-side, so the one exchange carries Q·P·k rows, never
    * the N·Q score matrix a ranking window would move. `smallest` ranks a
    * distance; `excludeSelf` drops the `id = key` pairs before scoring. */
  private def knn(corpus: DataFrame, queries: DataFrame, key: String, id: String,
      score: Column, scoreAs: String, k: Int, smallest: Boolean = false,
      excludeSelf: Boolean = false): DataFrame = {
    val pairs = corpus.crossJoin(broadcast(queries))
    val scored = (if (excludeSelf) pairs.filter(col(id) =!= col(key)) else pairs)
      .withColumn(scoreAs, score)
    CollectTopK.ranked(scored.groupBy(col(key)), col(scoreAs), col(id), k, id, scoreAs, smallest)
  }

  /** Each query's exact L2 top-IvfK `(query_id, vec_id)`, the ground
    * truth of the recall audits, in the oracle's (d ASC, vec_id ASC)
    * order. */
  private def exactTopK(base: DataFrame, qs: DataFrame): DataFrame =
    knn(base, qs, "query_id", "vec_id", round(VectorOps.l2(col("ev"), col("qv")), 6),
      "xd", IvfK, smallest = true).select("query_id", "vec_id")

  /** ADC candidates `(query_id, vec_id, ad, extras…)` of the probed
    * cells, shared by q113/q121's search and the curves. `probes` is
    * `(query_id, cell_id, extras…)`, one row per (query, probed cell).
    * Each probe gets the query's residual in that cell and from it the
    * M·K distance table (per-cell, because the residual differs per
    * probed centroid); a candidate's approximate distance is a table
    * lookup per subspace plus one exact-decimal sum (the q89 recipe),
    * and each extra probe column is carried as its per-candidate min.
    *
    * The join + `Exact.dsum` form is measured: a packed-codes +
    * flat-LUT in-row ADC (q119's element_at shape) read q126 4.2 →
    * 5.0 s and q137 4.1 → 4.9 s. The aggregate is already map-side
    * combined to candidate-count rows and the table join is broadcast,
    * so no exchange went away, while the packing added an interpreted
    * collect_list/array_sort aggregate. */
  private def adcCandidates(probes: DataFrame, qs: DataFrame,
      cents: DataFrame, idx: IvfPqIndex): DataFrame = {
    val S = Embedder.Dim / PqM
    val keys = probes.columns.toSeq.map(col)
    val extras = probes.columns.toSeq.filterNot(Set("query_id", "cell_id"))
    val qres = probes.join(broadcast(qs), "query_id")
      .join(broadcast(cents), "cell_id")
      .select(keys :+ zip_with(col("qv"), col("cv"), (x, y) => x - y).as("qr"): _*)
    val dt = qres.crossJoin(broadcast(idx.cb))
      .withColumn("t", round(VectorOps.l2(
        slice(col("qr"), col("m") * S + 1, lit(S)), col("cvr")), 6))
      .select(keys ++ Seq(col("m"), col("code"),
        round(col("t") * col("t"), 6).as("d2")): _*)
    idx.codes.join(broadcast(dt), Seq("cell_id", "m", "code"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(round(sqrt(Exact.dsum(col("d2"))), 6).as("ad"),
        extras.map(c => min(col(c)).as(c)): _*)
  }

  /** Each query's IvfProbes nearest cells `(query_id, cell_id)` (q42,
    * q113, q121), in the oracle's (d ASC, cell_id ASC) ranking. */
  private def probedCells(qs: DataFrame, cents: DataFrame): DataFrame =
    knn(qs, cents, "query_id", "cell_id", round(VectorOps.l2(col("qv"), col("cv")), 6),
      "d", IvfProbes, smallest = true).select("query_id", "cell_id")

  /** q113/q121's search over the index encoded against `cents` (seed
    * for q113, Lloyd-trained for q121): each query probes its
    * [[probedCells]], a CollectTopK picks the ADC top-k there, and the
    * exact top-k audits recall. Every frame after the encode is
    * query-count-sized. */
  private def ivfpqSearch(base: DataFrame, cents: DataFrame): DataFrame = {
    val idx = ivfpqIndex(ivfpqSub(base, cents).checkpointed())
    val qs = querySet(base)
    val sel = CollectTopK.ranked(adcCandidates(probedCells(qs, cents), qs, cents, idx)
      .groupBy(col("query_id")), col("ad"), col("vec_id"), IvfK, "vec_id", "ad", smallest = true)
    val hit = sel.select("query_id", "vec_id")
      .join(exactTopK(base, qs), Seq("query_id", "vec_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_overlap"))
    sel.join(hit, Seq("query_id"), "left_outer")
      .select(col("query_id"), col("rn"), col("vec_id"), col("ad"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        round(coalesce(col("n_overlap"), lit(0L)).cast("double") / IvfK, 6)
          .as("recall"))
      .presented("query_id", "rn")
  }

  /** The curves' candidate frame, beside its query set: one encode
    * against `cents` at codebook size `pqK`, EVERY cell ranked per
    * query (`crank`), and the full-corpus ADC with each candidate
    * carrying its home cell's rank — so an nprobe point is the slice
    * `crank <= nprobe` of this one frame, never a re-encode. */
  private def rankedCandidates(base: DataFrame, cents: DataFrame,
      pqK: Int): (DataFrame, DataFrame) = {
    val idx = ivfpqIndex(ivfpqSub(base, cents).checkpointed(), pqK)
    val qs = querySet(base)
    val crank = qs.crossJoin(broadcast(cents))
      .withColumn("d", round(VectorOps.l2(col("qv"), col("cv")), 6))
      .withColumn("crank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("d"), col("cell_id"))))
      .select(col("query_id"), col("cell_id"), col("crank"))
    (qs, adcCandidates(crank, qs, cents, idx))
  }

  /** One variant's recall-vs-nprobe curve (the engine side of
    * [[ivfpqCurveSql]]): every nprobe point 1..IvfCells is a slice of
    * [[rankedCandidates]]. The exchanges are the q113 classes (code
    * rows, tiny broadcast tables) plus one window over
    * candidates×nprobe rows — query-sized, never corpus-shuffling. */
  private def ivfpqNprobeCurve(base: DataFrame, cents: DataFrame,
      topx: DataFrame, variant: String, pqK: Int): DataFrame = {
    val (qs, adc) = rankedCandidates(base, cents, pqK)
    val cand = adc.select(col("query_id"), col("vec_id"), col("ad"), col("crank"),
        explode(sequence(lit(1), lit(IvfCells))).as("nprobe"))
      .filter(col("crank") <= col("nprobe"))
    // ADC shortlist (top-RrShort per point); the plain column takes its
    // first K, the re-rank column re-orders the WHOLE shortlist by
    // exact distance first — one keyed join against the raw vectors,
    // shortlist-sized, the production `refine` step.
    val short = cand.withColumn("rn", row_number().over(
        Window.partitionBy(col("query_id"), col("nprobe"))
          .orderBy(col("ad"), col("vec_id"))))
      .filter(col("rn") <= RrShort)
      .checkpointed(false) // two consumers: plain top-k + re-rank
    def recallOf(selected: DataFrame, out: String): DataFrame = selected
      .join(topx.withColumn("hitmark", lit(1)),
        Seq("query_id", "vec_id"), "left_outer")
      .groupBy(col("query_id"), col("nprobe"))
      .agg(round(count(col("hitmark")).cast("double") / IvfK, 6).as(out))
    val qrec = recallOf(short.filter(col("rn") <= IvfK), "recall")
    val rr = short.join(base.select(col("vec_id"), col("ev")), "vec_id")
      .join(broadcast(qs), "query_id")
      .withColumn("xd", round(VectorOps.l2(col("ev"), col("qv")), 6))
      .withColumn("rn2", row_number().over(
        Window.partitionBy(col("query_id"), col("nprobe"))
          .orderBy(col("xd"), col("vec_id"))))
      .filter(col("rn2") <= IvfK)
    val rrqrec = recallOf(rr.select("query_id", "nprobe", "vec_id"), "recall_rr")
    qrec.groupBy(col("nprobe"))
      .agg(Exact.davgRound(col("recall"), 6).as("mean_recall"))
      .join(rrqrec.groupBy(col("nprobe"))
        .agg(Exact.davgRound(col("recall_rr"), 6).as("mean_recall_rr")),
        Seq("nprobe"))
      .select(lit(variant).as("variant"),
        col("nprobe").cast("long").as("nprobe"),
        col("mean_recall"), col("mean_recall_rr"))
  }

  /** q126/q136's body: the seed and Lloyd-trained curves at codebook
    * size `pqK` against one exact top-k (lazy checkpoint: two
    * consumers). The seed variant's eager sub-checkpoint does not
    * depend on the training, so that branch runs on a helper thread and
    * its job overlaps the Lloyd rounds (the q125 pattern). Only `base`
    * (already eagerly checkpointed) is shared with the helper; topx's
    * lazy checkpoint sees its first action in the final union job, on
    * one thread. */
  private def nprobeCurves(base: DataFrame, pqK: Int): DataFrame = {
    val seedCents = VectorIndex.seedCentroids(base, IvfCells)
    val topx = exactTopK(base, querySet(base)).checkpointed(false)
    val (seed, trained) = Overlap(ivfpqNprobeCurve(base, seedCents, topx, "seed", pqK))(
      ivfpqNprobeCurve(base, kmTrainedCents(base, KmTrainedUpdates).checkpointed(),
        topx, "trained", pqK))
    seed.unionAll(trained).presented("variant", "nprobe")
  }

  /** q137's body: the Lloyd-trained Pq8K chain with the refine depth
    * swept instead of fixed — candidates sliced per (nprobe, rr_short)
    * over [[rankedCandidates]], the exact distance computed once per
    * shortlist row at the max depth, every point a re-window. */
  private def ivfpqRefineCurve(base: DataFrame): DataFrame = {
    val cents = kmTrainedCents(base, KmTrainedUpdates).checkpointed()
    val topx = exactTopK(base, querySet(base)).checkpointed(false)
    val (qs, adc) = rankedCandidates(base, cents, Pq8K)
    val cand = adc.select(col("query_id"), col("vec_id"), col("ad"), col("crank"),
        explode(typedlit(NprobePoints)).as("nprobe"))
      .filter(col("crank") <= col("nprobe"))
    val short = cand.withColumn("rn", row_number().over(
        Window.partitionBy(col("query_id"), col("nprobe"))
          .orderBy(col("ad"), col("vec_id"))))
      .filter(col("rn") <= RrPoints.max)
    val xd = short.join(base.select(col("vec_id"), col("ev")), "vec_id")
      .join(broadcast(qs), "query_id")
      .withColumn("xd", round(VectorOps.l2(col("ev"), col("qv")), 6))
      .select(col("query_id"), col("nprobe"), col("vec_id"), col("rn"), col("xd"))
      .checkpointed(false) // every rr point re-windows this one frame
    val sel = xd.withColumn("rr_short", explode(typedlit(RrPoints)))
      .filter(col("rn") <= col("rr_short"))
      .withColumn("rn2", row_number().over(
        Window.partitionBy(col("query_id"), col("nprobe"), col("rr_short"))
          .orderBy(col("xd"), col("vec_id"))))
      .filter(col("rn2") <= IvfK)
    sel.join(topx.withColumn("hitmark", lit(1)),
        Seq("query_id", "vec_id"), "left_outer")
      .groupBy(col("query_id"), col("nprobe"), col("rr_short"))
      .agg(round(count(col("hitmark")).cast("double") / IvfK, 6).as("recall_rr"))
      .groupBy(col("rr_short"), col("nprobe"))
      .agg(Exact.davgRound(col("recall_rr"), 6).as("mean_recall_rr"))
      .select(col("rr_short").cast("long").as("rr_short"),
        col("nprobe").cast("long").as("nprobe"), col("mean_recall_rr"))
      .presented("rr_short", "nprobe")
  }

  val all: Seq[NamedQuery] = Seq(

    // ----- X1/X2/F14: exact brute-force kNN, broadcast query side,
    // top-k via the custom CollectTopK TypedImperativeAggregate: map-side
    // partial aggregation reduces every partition to one k-heap per
    // query BEFORE the exchange, so only Q·P·k rows shuffle — a ranking
    // window would move the whole N·Q score matrix.
    q("q26_knn_topk",
      "X1/X2/F14: brute-force cosine top-k via CollectTopK partial agg",
      s"""WITH qs AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
         |            FROM embeddings WHERE vec_id < $NQueries),
         |     es AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
         |     scored AS (SELECT query_id, vec_id, $cosineSql AS sim FROM es, qs)
         |SELECT query_id, vec_id, sim, rn FROM (
         |  SELECT query_id, vec_id, sim,
         |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rn
         |  FROM scored)
         |WHERE rn <= $TopK ORDER BY query_id, rn""".stripMargin) { (s, dir) =>
      val base = emb(s, dir)
      knn(base, querySet(base), "query_id", "vec_id",
          VectorOps.cosine6(col("ev"), col("qv")), "sim", TopK)
        .presented("query_id", "rn")
    },

    // ----- X2 (scale path): MULTI-PROBE sign-LSH ANN — each query probes
    // its home bucket plus the Hamming-1 ring of single-bit flips. Every
    // probe is still an equi-join key (the probe table is queries × 11
    // masks — tiny, broadcast), so the plan shape is unchanged from
    // single-probe: never all-pairs, work scales with bucket occupancy.
    q("q30_ann_lsh_bucket",
      "X2: multi-probe sign-LSH ANN top-k (Hamming-1 ring, equi-join per probe)",
      s"""WITH es AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev,
         |                   ${signBucketSql("CAST(embedding AS DOUBLE[])", MpBits)} AS bucket
         |            FROM embeddings),
         |     qs AS (SELECT vec_id AS query_id, ev AS qv, bucket FROM es WHERE vec_id < $AnnQueries),
         |     pr AS (SELECT query_id, qv, xor(bucket, m.m) AS bucket
         |            FROM qs, (VALUES $mpMasksSql) m(m)),
         |     scored AS (SELECT pr.query_id, es.vec_id, es.bucket, $cosineSql AS sim
         |                FROM es JOIN pr USING (bucket))
         |SELECT query_id, vec_id, bucket, sim, rn FROM (
         |  SELECT query_id, vec_id, bucket, sim,
         |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rn
         |  FROM scored)
         |WHERE rn <= $AnnK ORDER BY query_id, rn""".stripMargin) { (s, dir) =>
      val base = emb(s, dir).withColumn("bucket", signBucket(col("ev"), MpBits))
      val queries = base.filter(col("vec_id") < AnnQueries)
        .select(col("vec_id").as("query_id"), col("ev").as("qv"), col("bucket"))
      // The probe ring: one row per (query, probed bucket). A candidate
      // lives in exactly one bucket, so probes can't duplicate it.
      val probes = queries.select(col("query_id"), col("qv"),
        explode(array(MpMasks.map(m => col("bucket").bitwiseXOR(lit(m))): _*)).as("bucket"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("sim").desc, col("vec_id"))
      base.join(broadcast(probes), "bucket")
        .withColumn("sim", VectorOps.cosine6(col("ev"), col("qv")))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= AnnK)
        .select("query_id", "vec_id", "bucket", "sim", "rn")
        .presented("query_id", "rn")
    },

    // ----- X2 (the other scale path): IVF — a coarse quantizer assigns
    // every vector to its nearest centroid cell (here: the first
    // IvfCells vectors stand in for trained k-means centroids —
    // deterministic; a real build would train them offline); a query
    // scores only its IvfProbes nearest cells. All stages are
    // equi-joins/windows: assignment = argmin over a broadcast centroid
    // table, probing = cell-key equi-join. At 100 TB the inverted lists
    // are the partition layout (cluster by cell_id), so a probe touches
    // IvfProbes partitions, not the corpus.
    q("q42_ivf_knn",
      "X2: IVF coarse-quantizer ANN — argmin cell assign, nprobe=2, top-k",
      s"""WITH es AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
         |     cents AS (SELECT vec_id AS cell_id, ev AS cv FROM es WHERE vec_id < $IvfCells),
         |     assign AS (SELECT vec_id, cell_id FROM (
         |       SELECT es.vec_id, cents.cell_id,
         |         ROW_NUMBER() OVER (PARTITION BY es.vec_id ORDER BY
         |           ROUND(list_distance(ev, cv), 6) ASC, cents.cell_id) AS rn
         |       FROM es, cents) WHERE rn = 1),
         |     qs AS (SELECT vec_id AS query_id, ev AS qv FROM es WHERE vec_id < $AnnQueries),
         |     probes AS (SELECT query_id, cell_id FROM (
         |       SELECT qs.query_id, cents.cell_id,
         |         ROW_NUMBER() OVER (PARTITION BY qs.query_id ORDER BY
         |           ROUND(list_distance(qv, cv), 6) ASC, cents.cell_id) AS rn
         |       FROM qs, cents) WHERE rn <= $IvfProbes),
         |     cand AS (SELECT p.query_id, a.vec_id
         |              FROM probes p JOIN assign a ON p.cell_id = a.cell_id)
         |SELECT query_id, vec_id, sim, rn FROM (
         |  SELECT c.query_id, c.vec_id,
         |    ROUND(list_inner_product(es.ev, qs.qv) /
         |          NULLIF(sqrt(list_inner_product(es.ev, es.ev)) * sqrt(list_inner_product(qs.qv, qs.qv)), 0), 6) AS sim,
         |    ROW_NUMBER() OVER (PARTITION BY c.query_id ORDER BY
         |      ROUND(list_inner_product(es.ev, qs.qv) /
         |            NULLIF(sqrt(list_inner_product(es.ev, es.ev)) * sqrt(list_inner_product(qs.qv, qs.qv)), 0), 6) DESC,
         |      c.vec_id) AS rn
         |  FROM cand c
         |  JOIN es ON es.vec_id = c.vec_id
         |  JOIN qs ON qs.query_id = c.query_id)
         |WHERE rn <= $IvfK ORDER BY query_id, rn""".stripMargin) { (s, dir) =>
      val base = emb(s, dir)
      val cents = VectorIndex.seedCentroids(base, IvfCells)
      val assign = VectorIndex.assign(base, cents)
      val queries = base.filter(col("vec_id") < AnnQueries)
        .select(col("vec_id").as("query_id"), col("ev").as("qv"))
      val cand = broadcast(probedCells(queries, cents)).join(assign, "cell_id")
        .select("query_id", "vec_id")
      val scored = cand
        .join(base, "vec_id")
        .join(broadcast(queries), "query_id")
        .withColumn("sim", VectorOps.cosine6(col("ev"), col("qv")))
      CollectTopK.ranked(scored.groupBy(col("query_id")), col("sim"), col("vec_id"), IvfK,
          "vec_id", "sim")
        .presented("query_id", "rn")
    },

    // ----- X2 quality metric: recall@k of single-probe vs multi-probe
    // LSH against the exact top-k, per query, WITH the candidate budget
    // each spent — the two numbers that govern the bits/probes tradeoff
    // when tuning the approximate path at scale. Multi-probe must win on
    // both axes here (fewer candidates scored, higher recall); the
    // MultiProbeLshSpec asserts that uplift.
    q("q41_ann_recall",
      "X2: recall@k + candidate budget, single-probe vs multi-probe LSH",
      s"""WITH es AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev,
         |                   ${signBucketSql("CAST(embedding AS DOUBLE[])", AnnBits)} AS b1,
         |                   ${signBucketSql("CAST(embedding AS DOUBLE[])", MpBits)} AS bm
         |            FROM embeddings),
         |     qs AS (SELECT vec_id AS query_id, ev AS qv, b1, bm FROM es WHERE vec_id < $AnnQueries),
         |     exact AS (SELECT query_id, vec_id FROM (
         |       SELECT qs.query_id, es.vec_id,
         |         ROW_NUMBER() OVER (PARTITION BY qs.query_id
         |                            ORDER BY $cosineSql DESC, es.vec_id) AS rn
         |       FROM es, qs) WHERE rn <= $AnnK),
         |     cs AS (SELECT qs.query_id, es.vec_id, $cosineSql AS sim
         |            FROM es JOIN qs ON es.b1 = qs.b1),
         |     pr AS (SELECT query_id, qv, xor(bm, m.m) AS bm
         |            FROM qs, (VALUES $mpMasksSql) m(m)),
         |     cm AS (SELECT pr.query_id, es.vec_id, $cosineSql AS sim
         |            FROM es JOIN pr USING (bm)),
         |     ts AS (SELECT query_id, vec_id FROM (
         |       SELECT query_id, vec_id,
         |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rn
         |       FROM cs) WHERE rn <= $AnnK),
         |     tm AS (SELECT query_id, vec_id FROM (
         |       SELECT query_id, vec_id,
         |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rn
         |       FROM cm) WHERE rn <= $AnnK)
         |SELECT e.query_id,
         |  (SELECT COUNT(*) FROM cs WHERE cs.query_id = e.query_id) AS n_cand_single,
         |  COUNT(ts.vec_id) AS n_hits_single,
         |  CAST(COUNT(ts.vec_id) AS DOUBLE) / $AnnK AS recall_single,
         |  (SELECT COUNT(*) FROM cm WHERE cm.query_id = e.query_id) AS n_cand_multi,
         |  COUNT(tm.vec_id) AS n_hits_multi,
         |  CAST(COUNT(tm.vec_id) AS DOUBLE) / $AnnK AS recall_multi
         |FROM exact e
         |LEFT JOIN ts ON e.query_id = ts.query_id AND e.vec_id = ts.vec_id
         |LEFT JOIN tm ON e.query_id = tm.query_id AND e.vec_id = tm.vec_id
         |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin) { (s, dir) =>
      val base = emb(s, dir)
        .withColumn("b1", signBucket(col("ev"), AnnBits))
        .withColumn("bm", signBucket(col("ev"), MpBits))
      val queries = base.filter(col("vec_id") < AnnQueries)
        .select(col("vec_id").as("query_id"), col("ev").as("qv"), col("b1"), col("bm"))
      val exact = knn(base, queries.select("query_id", "qv"), "query_id", "vec_id",
          VectorOps.cosine6(col("ev"), col("qv")), "sim", AnnK)
        .select("query_id", "vec_id")
      // One aggregate per flavor produces BOTH the candidate budget and
      // the top-k; the budget is read off each query's first-ranked row.
      def measure(scored: DataFrame, pfx: String): DataFrame = {
        val top = CollectTopK.ranked(scored.groupBy(col("query_id")), col("sim"), col("vec_id"),
          AnnK, "vec_id", "sim", aggs = Seq(count(lit(1)).as(s"n_cand_$pfx")))
        val hits = exact
          .join(top.select(col("query_id"), col("vec_id"))
            .withColumn("hit", lit(1)), Seq("query_id", "vec_id"), "left_outer")
          .groupBy(col("query_id"))
          .agg(count(col("hit")).as(s"n_hits_$pfx"))
        top.filter(col("rn") === 1).select(col("query_id"), col(s"n_cand_$pfx"))
          .join(hits, "query_id")
          .withColumn(s"recall_$pfx", col(s"n_hits_$pfx").cast("double") / AnnK)
      }
      val single = measure(base.join(broadcast(queries.select(
          col("query_id"), col("qv"), col("b1"))), "b1")
        .withColumn("sim", VectorOps.cosine6(col("ev"), col("qv"))), "single")
      val probes = queries.select(col("query_id"), col("qv"),
        explode(array(MpMasks.map(m => col("bm").bitwiseXOR(lit(m))): _*)).as("bm"))
      val multi = measure(base.join(broadcast(probes), "bm")
        .withColumn("sim", VectorOps.cosine6(col("ev"), col("qv"))), "multi")
      single.join(multi, "query_id")
        .select(col("query_id"),
          col("n_cand_single"), col("n_hits_single"), col("recall_single"),
          col("n_cand_multi"), col("n_hits_multi"), col("recall_multi"))
        .presented("query_id")
    },

    // ----- U1+X2 end-to-end: the RAG retrieval loop with OUR embedder —
    // embed the documents, retrieve top-3 neighbors for the first 5 docs
    // by cosine. The hash-projection EMBEDDER is not SQL-expressible
    // (Spark-seeded xxhash64; EmbedderSpec + EmbedRetrievalSpec own it),
    // but the RETRIEVAL stage is: the query materializes the
    // deterministic embeddings to a parquet dump and the oracle computes
    // the same cosine top-k from the same bytes in DuckDB. The dump dir
    // is keyed by (doc count, Σ n_chars) — two corpus aggregates the
    // static oracle SQL re-derives from the `documents` view to select
    // THIS scale factor's dump (sf0.001 and sf0.01 share a count, so
    // count alone is not a key).
    q("q48_embed_retrieval",
      "U1/X2: deterministic embedder + cosine top-k self-retrieval (retrieval oracle over the dumped embeddings)",
      s"""WITH e AS (
         |  SELECT doc_id, embedding FROM '${Q48EmbDumpRoot}/*/*.parquet'
         |  WHERE n_docs = (SELECT COUNT(*) FROM documents)
         |    AND sum_chars = (SELECT SUM(n_chars) FROM documents)),
         |q AS (SELECT doc_id AS query_id, embedding AS qv FROM e WHERE doc_id < 5),
         |scored AS (
         |  SELECT q.query_id, e.doc_id,
         |         ROUND(list_inner_product(e.embedding, q.qv) /
         |               NULLIF(sqrt(list_inner_product(e.embedding, e.embedding)) *
         |                      sqrt(list_inner_product(q.qv, q.qv)), 0), 6) AS sim
         |  FROM e CROSS JOIN q),
         |ranked AS (
         |  SELECT query_id, doc_id, sim,
         |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, doc_id) AS rn
         |  FROM scored WHERE sim IS NOT NULL)
         |SELECT query_id, doc_id, sim, rn FROM ranked WHERE rn <= 3
         |ORDER BY query_id, rn""".stripMargin) { (s, dir) =>
      // The corpus arrives as one file → one partition; spread the
      // embed work across the cluster first (at real scale the file
      // layout provides this parallelism and the repartition is free).
      // Numbered repartition: AQE coalesces a column-only one back to
      // ~1 partition at this byte size, serializing the embed compute.
      val docs = Tables.load(s, dir, "documents")
        .select("doc_id", "text")
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      // Corpus key for the dump dir — computed from the cheap source
      // scan (count + one long sum), not the embedded frame.
      val key = Tables.load(s, dir, "documents")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("c")).head()
      val (nDocs, sumChars) = (key.getLong(0), key.getLong(1))
      val dump = s"$Q48EmbDumpRoot/n${nDocs}_c$sumChars"
      val dumped = Embedder.withEmbedding(docs, "text")
        .select(col("doc_id"), col("embedding"),
          lit(nDocs).as("n_docs"), lit(sumChars).as("sum_chars"))
      dumped.write.mode("overwrite").parquet(dump)
      // Score from the DUMP, not the in-flight frame: both engines then
      // rank the exact same parquet doubles, and the dump doubles as the
      // embed stage's materialization point (read twice below).
      val embedded = s.read.schema(dumped.schema).parquet(dump)
        .select("doc_id", "embedding")
      val queries = embedded.filter(col("doc_id") < 5)
        .select(col("doc_id").as("query_id"), col("embedding").as("qv"))
      knn(embedded, queries, "query_id", "doc_id",
          VectorOps.cosine6(col("embedding"), col("qv")), "sim", 3)
        .presented("query_id", "rn")
    },

    // ----- X3 (embedding flavor): near-duplicate pairs — candidates from
    // the bucket equi-self-join (a < b), verified by exact cosine ≥ τ.
    q("q31_embedding_neardup",
      "X1/X3: bucketed near-dup pair mining, cosine threshold verify",
      s"""WITH es AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev,
         |                   ${signBucketSql("CAST(embedding AS DOUBLE[])", NdBits)} AS bucket
         |            FROM embeddings)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.bucket AS bucket,
         |       ROUND(list_inner_product(a.ev, b.ev) /
         |             NULLIF(sqrt(list_inner_product(a.ev, a.ev)) * sqrt(list_inner_product(b.ev, b.ev)), 0), 6) AS sim
         |FROM es a JOIN es b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |WHERE ROUND(list_inner_product(a.ev, b.ev) /
         |            NULLIF(sqrt(list_inner_product(a.ev, a.ev)) * sqrt(list_inner_product(b.ev, b.ev)), 0), 6) >= $NdThresh
         |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      val base = emb(s, dir).withColumn("bucket", signBucket(col("ev"), NdBits))
      val a = base.select(col("vec_id").as("id_a"), col("ev").as("av"), col("bucket"))
      val b = base.select(col("vec_id").as("id_b"), col("ev").as("bv"), col("bucket"))
      a.join(b, Seq("bucket"))
        .filter(col("id_a") < col("id_b"))
        .withColumn("sim", VectorOps.cosine6(col("av"), col("bv")))
        .filter(col("sim") >= NdThresh)
        .select("id_a", "id_b", "bucket", "sim")
        .orderBy("id_a", "id_b")
    },

    // ----- X2 (index training): one k-means Lloyd iteration — the step
    // that turns q42's "first-k stand-in" centroids into trained IVF
    // cells. Assign = the same min_by argmin aggregate q42 uses (no
    // ranking window, map-side combine). Recompute = per-(cell, dim)
    // means via posexplode + ONE hash aggregate — the classic
    // distributed-k-means shape: everything reduces map-side, the
    // exchange carries cells×dims partial sums, never vectors. Float
    // parity: per-dim means are exact-decimal (Exact.davg), squared
    // shifts are rounded before the exact-decimal sum, so the reported
    // centroid movement and inertia are partitioning-invariant.
    q("q65_kmeans_step",
      "X2: one Lloyd k-means iteration (assign + exact recompute)",
      s"""WITH es AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
         |  cents AS (SELECT vec_id AS cell_id, ev AS cv FROM es WHERE vec_id < $IvfCells),
         |  assign AS (SELECT vec_id, cell_id, d FROM (
         |    SELECT es.vec_id, cents.cell_id, ROUND(list_distance(ev, cv), 6) AS d,
         |      ROW_NUMBER() OVER (PARTITION BY es.vec_id ORDER BY
         |        ROUND(list_distance(ev, cv), 6) ASC, cents.cell_id) AS rn
         |    FROM es, cents) WHERE rn = 1),
         |  stats AS (SELECT cell_id, COUNT(*) AS n_members,
         |              ${ExactSql.davgRound("d", 6)} AS inertia
         |            FROM assign GROUP BY 1),
         |  dims AS (SELECT unnest(range(1, ${Embedder.Dim + 1})) AS dim),
         |  mem AS (SELECT a.cell_id, dm.dim, es.ev[dm.dim] AS val
         |          FROM assign a JOIN es USING (vec_id) CROSS JOIN dims dm),
         |  means AS (SELECT cell_id, dim, ${ExactSql.davg("val")} AS m
         |            FROM mem GROUP BY 1, 2),
         |  old AS (SELECT cell_id, dm.dim, cv[dm.dim] AS ov
         |          FROM cents CROSS JOIN dims dm),
         |  sh AS (SELECT cell_id,
         |           ROUND(sqrt(${ExactSql.dsum("ROUND((m - ov) * (m - ov), 6)")}), 6) AS shift
         |         FROM means JOIN old USING (cell_id, dim) GROUP BY 1)
         |SELECT s.cell_id, s.n_members, sh.shift, s.inertia
         |FROM stats s JOIN sh USING (cell_id) ORDER BY cell_id""".stripMargin) { (s, dir) =>
      val base = emb(s, dir)
      val cents = VectorIndex.seedCentroids(base, IvfCells)
      val assign = VectorIndex.assign(base, cents)
      val stats = assign.groupBy(col("cell_id"))
        .agg(count(lit(1)).as("n_members"),
          Exact.davgRound(col("d"), 6).as("inertia"))
      val memDims = assign.join(base, "vec_id")
        .select(col("cell_id"), posexplode(col("ev")).as(Seq("pos", "val")))
        .select(col("cell_id"), (col("pos") + 1).as("dim"), col("val"))
      val means = memDims.groupBy(col("cell_id"), col("dim"))
        .agg(Exact.davg(col("val")).as("m"))
      val oldDims = cents
        .select(col("cell_id"), posexplode(col("cv")).as(Seq("pos", "ov")))
        .select(col("cell_id"), (col("pos") + 1).as("dim"), col("ov"))
      val shift = means.join(oldDims, Seq("cell_id", "dim"))
        .withColumn("d2", round((col("m") - col("ov")) * (col("m") - col("ov")), 6))
        .groupBy(col("cell_id"))
        .agg(round(sqrt(Exact.dsum(col("d2"))), 6).as("shift"))
      stats.join(shift, "cell_id")
        .select(col("cell_id"), col("n_members"), col("shift"), col("inertia"))
        .presented("cell_id")
    },

    // ----- X2 (index compression): SQ8 scalar quantization — the
    // 4×-smaller storage path a 100 TB vector index actually ships
    // (float32 → uint8 codes against per-dimension corpus min/max).
    // Train = one aggregate for the 64-row codebook (broadcast back);
    // encode/decode/error = pure per-element arithmetic riding the
    // posexplode rows, reduced per vector map-side. Reported per
    // vector: reconstruction MSE and worst per-dim absolute error —
    // the quantities that decide whether SQ8 recall loss is
    // acceptable before rolling it out. Float parity: codes are exact
    // small ints in both engines (ROUND of identical doubles), errors
    // are rounded before the exact-decimal per-vector sum.
    q("q67_sq8_quantize",
      "X2: SQ8 scalar quantization + reconstruction-error audit",
      s"""WITH es AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
         |  dims AS (SELECT unnest(range(1, ${Embedder.Dim + 1})) AS dim),
         |  el AS (SELECT vec_id, dm.dim, ev[dm.dim] AS val FROM es CROSS JOIN dims dm),
         |  cb AS (SELECT dim, MIN(val) AS lo, MAX(val) AS hi FROM el GROUP BY 1),
         |  enc AS (SELECT vec_id, el.dim, val, lo, hi,
         |            ROUND((val - lo) / NULLIF(hi - lo, CAST(0 AS DOUBLE)) * 255) AS code
         |          FROM el JOIN cb USING (dim)),
         |  err AS (SELECT vec_id,
         |            ROUND((val - (lo + code / CAST(255 AS DOUBLE) * (hi - lo)))
         |              * (val - (lo + code / CAST(255 AS DOUBLE) * (hi - lo))), 9) AS se,
         |            ROUND(ABS(val - (lo + code / CAST(255 AS DOUBLE) * (hi - lo))), 6) AS ae
         |          FROM enc)
         |SELECT vec_id,
         |  CAST(SUM(CAST(se AS DECIMAL(28,9))) AS DOUBLE) / ${Embedder.Dim} AS mse,
         |  MAX(ae) AS max_abs_err
         |FROM err GROUP BY vec_id ORDER BY vec_id""".stripMargin) { (s, dir) =>
      val el = emb(s, dir)
        .select(col("vec_id"), posexplode(col("ev")).as(Seq("pos", "val")))
        .select(col("vec_id"), (col("pos") + 1).as("dim"), col("val"))
      val codebook = el.groupBy(col("dim"))
        .agg(min(col("val")).as("lo"), max(col("val")).as("hi"))
      val deq = col("lo") + col("code") / lit(255.0) * (col("hi") - col("lo"))
      el.join(broadcast(codebook), "dim")
        .withColumn("code",
          round((col("val") - col("lo")) /
            nullif(col("hi") - col("lo"), lit(0.0)) * 255))
        // (v-deq)*(v-deq), NOT pow(v-deq, 2): libm pow is allowed 1 ulp
        // and Java's and C's disagree on ~1e-5 of inputs, while IEEE
        // multiplication is exact in both engines (bit-identical). The
        // sf0.1 sweep caught pow flipping the 9th decimal on 5 of 320k.
        .select(col("vec_id"),
          round((col("val") - deq) * (col("val") - deq), 9).as("se"),
          round(abs(col("val") - deq), 6).as("ae"))
        .groupBy(col("vec_id"))
        // No final round: the 9dp-exact decimal sum divided by Dim is
        // already bit-identical cross-engine, while ROUND(·, 9) of it
        // lands on an EXACT 9th-decimal tie whenever the summed integer
        // is ≡ Dim/2 (mod Dim) — ~1/64 of vectors — and the engines
        // resolve near-tie doubles differently (sf0.1 sweep, 5 flips).
        .agg(
          (sum(col("se").cast(org.apache.spark.sql.types.DecimalType(28, 9)))
            .cast("double") / Embedder.Dim).as("mse"),
          max(col("ae")).as("max_abs_err"))
        .orderBy("vec_id")
    },

    // ----- X1/X2 (training data): HARD-NEGATIVE mining for contrastive
    // embedding training — per anchor, the most-similar OTHER vector in
    // its LSH bucket (the near-miss that actually teaches the model;
    // random negatives are trivially separable). Pure reuse of the ANN
    // machinery: bucket equi-join for candidates, CollectTopK(k=1) for
    // the argmax — map-side partials, no ranking window, never
    // all-pairs. The positive is the planted near-copy convention
    // (id+40000, the q28/q58 perturbation contract). Anchors whose
    // bucket holds no other vector yield no triplet — at 100 TB
    // multi-probe (q30) fills those gaps with the same plan shape.
    q("q79_hard_negatives",
      "X1/X2: contrastive triplets — bucket-mined hardest negative",
      s"""WITH es AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev,
         |                   ${signBucketSql("CAST(embedding AS DOUBLE[])", NdBits)} AS bucket
         |            FROM embeddings),
         |  anc AS (SELECT vec_id AS anchor_id, ev AS av, bucket FROM es
         |          WHERE vec_id % 10 = 0),
         |  cand AS (SELECT anchor_id, es.vec_id AS neg_id,
         |             ROUND(list_inner_product(av, ev) /
         |               NULLIF(sqrt(list_inner_product(av, av)) * sqrt(list_inner_product(ev, ev)), 0), 6) AS neg_sim
         |           FROM anc JOIN es USING (bucket) WHERE es.vec_id <> anchor_id),
         |  best AS (SELECT anchor_id, neg_id, neg_sim,
         |             ROW_NUMBER() OVER (PARTITION BY anchor_id
         |               ORDER BY neg_sim DESC, neg_id) AS rn
         |           FROM cand)
         |SELECT anchor_id, anchor_id + 40000 AS pos_id, neg_id, neg_sim
         |FROM best WHERE rn = 1 ORDER BY anchor_id""".stripMargin) { (s, dir) =>
      val base = emb(s, dir).withColumn("bucket", signBucket(col("ev"), NdBits))
      val anchors = base.filter(col("vec_id") % 10 === 0)
        .select(col("vec_id").as("anchor_id"), col("ev").as("av"), col("bucket"))
      val cand = base.join(anchors, "bucket")
        .filter(col("vec_id") =!= col("anchor_id"))
        .withColumn("neg_sim", VectorOps.cosine6(col("av"), col("ev")))
      CollectTopK.ranked(cand.groupBy(col("anchor_id")), col("neg_sim"), col("vec_id"), 1,
          "neg_id", "neg_sim")
        .select(col("anchor_id"), (col("anchor_id") + 40000).as("pos_id"),
          col("neg_id"), col("neg_sim"))
        .presented("anchor_id")
    },

    // ----- X2 (index compression, vector-quantized): PRODUCT
    // quantization encode — the M·log2(K)-bit-per-vector storage path
    // (vs SQ8's byte-per-dim, q67): split each vector into M=4
    // subvectors of 16 dims, one tiny per-subspace codebook (K=4 seed
    // centroids — first ids, the k-means stand-in q42/q65 also use),
    // assign every subvector to its nearest code by exact L2. Plan
    // shape: subvectors ride a 4-row explode of the corpus scan, the
    // 16-row codebook broadcasts, assignment is one min_by aggregate
    // keyed (vec_id, m) — no ranking window, no corpus self-join; the
    // residual d is the per-subspace quantization error a PQ recall
    // model consumes. Ties broken by code id in both engines.
    q("q88_pq_encode",
      "X2: product-quantization encode (M=4 subspaces, K=4 codes, min_by assign)",
      {
        val S = Embedder.Dim / PqM
        s"""WITH es AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
           |  sub AS (SELECT vec_id, m.m,
           |            list_slice(ev, m.m * $S + 1, m.m * $S + $S) AS sv
           |          FROM es CROSS JOIN (SELECT unnest(range(0, $PqM)) AS m) m),
           |  cents AS (SELECT m, vec_id AS code, sv AS cv FROM sub WHERE vec_id < $PqK),
           |  assign AS (SELECT vec_id, m, code, d FROM (
           |    SELECT s.vec_id, s.m, c.code,
           |      ROUND(list_distance(s.sv, c.cv), 6) AS d,
           |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m ORDER BY
           |        ROUND(list_distance(s.sv, c.cv), 6) ASC, c.code) AS rn
           |    FROM sub s JOIN cents c USING (m)) WHERE rn = 1)
           |SELECT vec_id, m, code, d FROM assign ORDER BY vec_id, m""".stripMargin
      }) { (s, dir) =>
      val sub = pqSplit(emb(s, dir))
      pqAssign(sub, pqCodebook(sub))
        .select(col("vec_id"), col("m").cast("long").as("m"), // DuckDB range is BIGINT
          col("code"), col("d"))
        .orderBy("vec_id", "m") // row-per-(vec,subspace): parallel range sort
    },

    // ----- X2 (PQ retrieval): ASYMMETRIC-DISTANCE (ADC) approximate
    // kNN over the q88 codes, audited by recall@k against exact L2 —
    // the query-time half of product quantization. The query computes a
    // distance TABLE (M·K = 16 rounded entries per query — tiny,
    // broadcast); every database vector's approximate distance is then
    // a table LOOKUP join on its (m, code) pairs plus one exact-decimal
    // sum — the corpus is never rescanned against raw query floats.
    // Per-subspace terms are rounded before the order-independent
    // decimal sum (the q65 recipe), so the ADC ranking is
    // partitioning-invariant; both top-k sides run through CollectTopK
    // heaps (score = −distance), never a ranking window.
    q("q89_pq_adc",
      "X2: PQ asymmetric-distance kNN + recall@k vs exact (distance-table lookup)",
      {
        val S = Embedder.Dim / PqM
        s"""WITH es AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
           |  sub AS (SELECT vec_id, m.m,
           |            list_slice(ev, m.m * $S + 1, m.m * $S + $S) AS sv
           |          FROM es CROSS JOIN (SELECT unnest(range(0, $PqM)) AS m) m),
           |  cents AS (SELECT m, vec_id AS code, sv AS cv FROM sub WHERE vec_id < $PqK),
           |  assign AS (SELECT vec_id, m, code FROM (
           |    SELECT s.vec_id, s.m, c.code,
           |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m ORDER BY
           |        ROUND(list_distance(s.sv, c.cv), 6) ASC, c.code) AS rn
           |    FROM sub s JOIN cents c USING (m)) WHERE rn = 1),
           |  qs AS (SELECT vec_id AS query_id, ev AS qv FROM es WHERE vec_id < $NQueries),
           |  dts AS (SELECT q.query_id, c.m, c.code,
           |            ROUND(list_distance(list_slice(q.qv, c.m * $S + 1, c.m * $S + $S), c.cv), 6) AS t
           |          FROM qs q CROSS JOIN cents c),
           |  dt AS (SELECT query_id, m, code, ROUND(t * t, 6) AS d2 FROM dts),
           |  adc AS (SELECT d.query_id, a.vec_id,
           |            ROUND(sqrt(${ExactSql.dsum("d.d2")}), 6) AS ad
           |          FROM assign a JOIN dt d USING (m, code)
           |          GROUP BY 1, 2),
           |  topa AS (SELECT query_id, vec_id FROM (
           |    SELECT query_id, vec_id, ROW_NUMBER() OVER (PARTITION BY query_id
           |      ORDER BY ad ASC, vec_id) AS rn FROM adc) WHERE rn <= $IvfK),
           |  topx AS (SELECT query_id, vec_id FROM (
           |    SELECT q.query_id, e.vec_id, ROW_NUMBER() OVER (PARTITION BY q.query_id
           |      ORDER BY ROUND(list_distance(e.ev, q.qv), 6) ASC, e.vec_id) AS rn
           |    FROM es e CROSS JOIN qs q) WHERE rn <= $IvfK),
           |  hit AS (SELECT x.query_id, COUNT(*) AS n_overlap
           |          FROM topx x JOIN topa a USING (query_id, vec_id) GROUP BY 1)
           |SELECT q.query_id, COALESCE(h.n_overlap, 0) AS n_overlap,
           |       ROUND(CAST(COALESCE(h.n_overlap, 0) AS DOUBLE) / $IvfK, 6) AS recall
           |FROM qs q LEFT JOIN hit h USING (query_id)
           |ORDER BY query_id""".stripMargin
      }) { (s, dir) =>
      val S = Embedder.Dim / PqM
      val base = emb(s, dir)
      val sub = pqSplit(base)
        .checkpointed(false) // codebook, assignment, and queries read it
      val cents = pqCodebook(sub)
      val assign = pqAssign(sub, cents).select(col("vec_id"), col("m"), col("code"))
      val qs = querySet(base)
      // 16-entry distance table per query, rounded per term then squared.
      val dt = qs.crossJoin(broadcast(cents))
        .withColumn("t", round(VectorOps.l2(
          slice(col("qv"), col("m") * S + 1, lit(S)), col("cv")), 6))
        .select(col("query_id"), col("m"), col("code"), round(col("t") * col("t"), 6).as("d2"))
      val adc = assign.join(broadcast(dt), Seq("m", "code"))
        .groupBy(col("query_id"), col("vec_id"))
        .agg(round(sqrt(Exact.dsum(col("d2"))), 6).as("ad"))
      val topa = CollectTopK.ranked(adc.groupBy(col("query_id")), col("ad"), col("vec_id"), IvfK,
          "vec_id", "ad", smallest = true)
        .select("query_id", "vec_id")
      val hit = exactTopK(base, qs).join(topa, Seq("query_id", "vec_id"))
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_overlap"))
      qs.select(col("query_id")).join(hit, Seq("query_id"), "left_outer")
        .select(col("query_id"),
          coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
          round(coalesce(col("n_overlap"), lit(0L)).cast("double") / IvfK, 6).as("recall"))
        .presented("query_id")
    },

    // ----- X1/X2 capstone: RAG CONTEXT ASSEMBLY — the reference's
    // actual downstream use (its pgvector rows exist so a sibling RAG
    // service can retrieve them, README.md:25-28): per query, cosine
    // top-3 OTHER documents, their text fetched by id and rendered as
    // one numbered context block in rank order. Retrieval is the q26
    // CollectTopK path (map-side k-heaps, broadcast queries); the doc
    // fetch is an equi-join of Q·k ids against the documents table
    // (broadcastable side is the id list, NOT the corpus); the block
    // render is sort_array over a k-sized array — columnar end to end,
    // no UDFs. Line truncation is the reference's own log-trunc idiom
    // (O3, main.py:114).
    q("q91_rag_context",
      "X1/X2: RAG context assembly — top-3 retrieve, doc fetch, ordered block render",
      s"""WITH es AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
         |  qs AS (SELECT vec_id AS query_id, ev AS qv FROM es WHERE vec_id < $NQueries),
         |  scored AS (SELECT query_id, vec_id, $cosineSql AS sim
         |             FROM es CROSS JOIN qs WHERE vec_id <> query_id),
         |  topk AS (SELECT query_id, vec_id, sim, rn FROM (
         |    SELECT query_id, vec_id, sim,
         |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rn
         |    FROM scored) WHERE rn <= 3),
         |  lines AS (SELECT t.query_id, t.rn,
         |              '[' || CAST(t.rn AS VARCHAR) || '] ' || substring(d.text, 1, 80) AS line
         |            FROM topk t JOIN documents d ON d.doc_id = t.vec_id)
         |SELECT query_id, CAST(COUNT(*) AS BIGINT) AS k,
         |       string_agg(line, chr(10) ORDER BY rn) AS context
         |FROM lines GROUP BY query_id ORDER BY query_id""".stripMargin) { (s, dir) =>
      val base = emb(s, dir)
      val topk = knn(base, querySet(base), "query_id", "vec_id",
          VectorOps.cosine6(col("ev"), col("qv")), "sim", 3, excludeSelf = true)
        .select(col("query_id"), col("rn"), col("vec_id").as("doc_id"))
      val docsT = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
      topk.join(docsT, "doc_id")
        .select(col("query_id"), col("rn"),
          concat(lit("["), col("rn").cast("string"), lit("] "),
            substring(col("text"), 1, 80)).as("line"))
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("k"),
          array_join(sort_array(collect_list(struct(col("rn"), col("line"))))
            .getField("line"), "\n").as("context"))
        .presented("query_id")
    },

    // ----- X2 (training loop): MULTI-ITERATION Lloyd k-means — q65 is
    // one step; this is the driver loop a real IVF index build runs.
    // Three fixed iterations, each = one broadcast-join assignment (the
    // 16-row centroid table ships to the data, never the reverse) and
    // one (cell, dim)-keyed mean: per iteration the exchanges carry
    // |corpus| assignment rows and cells×dims partial sums — the raw
    // vectors cross the wire ZERO times, and nothing ever lands on the
    // driver. New centroids are rounded 6dp before feeding the next
    // assignment, so the trajectory is bit-identical cross-engine (the
    // q65 recipe, chained). Output: per-iteration cluster census with
    // inertia — the falling-inertia trace that says training converges.
    q("q93_kmeans_train", {
      "X2: 3-iteration k-means training loop (inertia trajectory, exact means)"
    }, {
      val iterSql = (1 to KmIters).map { i =>
        s"""assign$i AS (SELECT vec_id, cell_id, d FROM (
           |    SELECT es.vec_id, c.cell_id, ROUND(list_distance(es.ev, c.cv), 6) AS d,
           |      ROW_NUMBER() OVER (PARTITION BY es.vec_id ORDER BY
           |        ROUND(list_distance(es.ev, c.cv), 6) ASC, c.cell_id) AS rn
           |    FROM es, cents${i - 1} c) WHERE rn = 1),
           |  stats$i AS (SELECT $i AS iter, cell_id, COUNT(*) AS n_members,
           |                ${ExactSql.davgRound("d", 6)} AS inertia
           |              FROM assign$i GROUP BY 1, 2),
           |  mem$i AS (SELECT a.cell_id, dm.dim, es.ev[dm.dim] AS val
           |            FROM assign$i a JOIN es USING (vec_id) CROSS JOIN dims dm),
           |  means$i AS (SELECT cell_id, dim, ${ExactSql.davgRound("val", 6)} AS m
           |              FROM mem$i GROUP BY 1, 2),
           |  cents$i AS (SELECT cell_id, list(m ORDER BY dim) AS cv
           |              FROM means$i GROUP BY 1)""".stripMargin
      }.mkString(",\n  ")
      val unionSql = (1 to KmIters).map(i => s"SELECT * FROM stats$i")
        .mkString(" UNION ALL ")
      s"""WITH es AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
         |  cents0 AS (SELECT vec_id AS cell_id, ev AS cv FROM es WHERE vec_id < $IvfCells),
         |  dims AS (SELECT unnest(range(1, ${Embedder.Dim + 1})) AS dim),
         |  $iterSql
         |SELECT iter, cell_id, n_members, inertia FROM ($unionSql)
         |ORDER BY iter, cell_id""".stripMargin
    }) { (s, dir) =>
      val base = emb(s, dir).checkpointed(false) // read twice per iteration
      var cents = VectorIndex.seedCentroids(base, IvfCells)
      var statsAll: Option[DataFrame] = None
      for (i <- 1 to KmIters) {
        val assign = VectorIndex.assign(base, cents)
          .checkpointed(false) // census and the new means both read it
        val stats = assign.groupBy(col("cell_id"))
          .agg(count(lit(1)).as("n_members"), Exact.davgRound(col("d"), 6).as("inertia"))
          .select(lit(i).as("iter"), col("cell_id"), col("n_members"), col("inertia"))
        statsAll = Some(statsAll.fold(stats)(_.unionByName(stats)))
        if (i < KmIters) cents = VectorIndex.lloydMeans(assign, base)
      }
      statsAll.get.presented("iter", "cell_id")
    },

    // ----- X2+X3 composite: SEMANTIC pruning (the SemDeDup shape) —
    // embedding-space dedup where candidate generation is IVF-CELL
    // blocking instead of sign buckets: every vector argmin-assigns to
    // its nearest of $SemCells seed centroids (the q42 min_by aggregate
    // — map-side combine, no ranking window), pairs form only WITHIN a
    // cell (equi-join on cell_id, never all-pairs), and the exact
    // cosine verifies. Each doc matched at tau to a LOWER id is
    // dropped, recording its best-evidence partner (max sim, ties to
    // the lowest id). Survivors are the docs never dropped; the
    // partner is evidence, not necessarily itself a survivor —
    // transitive chains terminate at an undropped doc, exactly q59's
    // min-label argument one hop at a time. Scale shape: see
    // [[semanticPrune]] — centroids broadcast, one corpus shuffle keyed
    // by (cell, salt grid), per-task pair work capped at SemCellCap²
    // even under a skewed mega-cell, and the best-partner pick is a
    // CollectTopK partial aggregate so pair rows never shuffle.
    q("q99_semantic_prune",
      "X2/X3: SemDeDup-style semantic pruning (IVF-cell blocking + cosine verify + canonical drop)",
      s"""WITH es AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
         |  cents AS (SELECT vec_id AS cell_id, ev AS cv FROM es WHERE vec_id < $SemCells),
         |  assign AS (SELECT vec_id, cell_id FROM (
         |    SELECT es.vec_id, cents.cell_id,
         |      ROW_NUMBER() OVER (PARTITION BY es.vec_id ORDER BY
         |        ROUND(list_distance(ev, cv), 6) ASC, cents.cell_id) AS rn
         |    FROM es, cents) WHERE rn = 1),
         |  wc AS (SELECT es.vec_id, es.ev, a.cell_id FROM es JOIN assign a USING (vec_id)),
         |  pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.cell_id,
         |       ROUND(list_inner_product(a.ev, b.ev) /
         |             NULLIF(sqrt(list_inner_product(a.ev, a.ev)) * sqrt(list_inner_product(b.ev, b.ev)), 0), 6) AS sim
         |     FROM wc a JOIN wc b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
         |     WHERE ROUND(list_inner_product(a.ev, b.ev) /
         |             NULLIF(sqrt(list_inner_product(a.ev, a.ev)) * sqrt(list_inner_product(b.ev, b.ev)), 0), 6) >= $NdThresh)
         |SELECT id_b AS drop_id, id_a AS keep_id, cell_id, sim FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY id_b ORDER BY sim DESC, id_a) AS rn
         |  FROM pairs) WHERE rn = 1
         |ORDER BY drop_id""".stripMargin) { (s, dir) =>
      // EAGER checkpoint: semanticPrune's centroid subtree feeds a
      // broadcast exchange, whose thread runs before a lazy checkpoint
      // materializes — the embedding scan+cast was computing twice in
      // parallel (profiled: twin ~1s stages at sf0.1).
      semanticPrune(emb(s, dir).checkpointed(), SemCells, SemCellCap)
    },

    // ----- X2 (incremental): ANN index APPEND against the PERSISTED
    // assignment index — the vector-tier form of q68's dedup-on-append.
    // The corpus's cell assignments live in VectorIndex's parquet
    // (written by the initial bulk build / prior appends); an append
    // pays only the BATCH's argmin assignment (centroids broadcast,
    // min_by aggregate) plus one aggregate over the INDEX SCAN for cell
    // occupancy — the corpus's vectors are never re-scored. Cost scales
    // with the batch, never the corpus; VectorIndexSpec pins that the
    // plan recomputes exactly one assignment (the batch's) and reads
    // the index parquet for the rest.
    q("q100_ivf_append",
      "X2: incremental ANN index append (batch-only assignment vs the persisted index)",
      s"""WITH es AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
         |  cents AS (SELECT vec_id AS cell_id, ev AS cv FROM es WHERE vec_id < $IvfCells),
         |  assign AS (SELECT vec_id, cell_id FROM (
         |    SELECT es.vec_id, cents.cell_id,
         |      ROW_NUMBER() OVER (PARTITION BY es.vec_id ORDER BY
         |        ROUND(list_distance(ev, cv), 6) ASC, cents.cell_id) AS rn
         |    FROM es, cents) WHERE rn = 1),
         |  occ AS (SELECT cell_id, COUNT(*) AS cell_n_index FROM assign GROUP BY 1),
         |  batch AS (SELECT vec_id + 100000 AS vec_id, list_transform(ev, x -> -x) AS ev
         |            FROM es WHERE vec_id % 5 = 0),
         |  ab AS (SELECT vec_id, cell_id, d FROM (
         |    SELECT batch.vec_id, cents.cell_id,
         |      ROUND(list_distance(batch.ev, cv), 6) AS d,
         |      ROW_NUMBER() OVER (PARTITION BY batch.vec_id ORDER BY
         |        ROUND(list_distance(batch.ev, cv), 6) ASC, cents.cell_id) AS rn
         |    FROM batch, cents) WHERE rn = 1)
         |SELECT ab.vec_id, ab.cell_id, ab.d, COALESCE(occ.cell_n_index, 0) AS cell_n_index
         |FROM ab LEFT JOIN occ USING (cell_id)
         |ORDER BY vec_id""".stripMargin) { (s, dir) =>
      ivfAppendAssign(s, dir, IvfCells)
    },

    // ----- X2 (context assembly): MMR diversity-aware selection,
    // extending q91's plain top-k: pick MmrK contexts
    // from the MmrM most-relevant candidates by maximal marginal
    // relevance, score = λ·rel − μ·max_{s∈S} sim(cand, s). The greedy
    // argmax is inherently sequential in K, so the loop is a DRIVER
    // loop like q93's Lloyd rounds — K small and fixed by contract —
    // and every per-step frame is query-count-sized:
    //  - candidates: ONE CollectTopK pass over the corpus (map-side
    //    k-heaps — the only corpus-wide work, identical to q91's);
    //  - candidate vectors: semi-broadcast join-back (Q·M ids into the
    //    embeddings scan), then the Q·M² pairwise-cosine table is built
    //    ONCE and checkpointed — each greedy step reads it instead of
    //    re-touching any vector;
    //  - each step: redundancy = max over ≤K selected via a join on
    //    the pair table, pick = max_by((mmr, −doc_id)) — broadcast-only
    //    joins, never all-pairs, nothing corpus-sized after stage one.
    // Float parity: rel/psim are cosine6 values; mmr rounds the
    // λ/μ-weighted sum to 6dp (q60 recipe); ties break on doc_id via
    // the negated-id max_by key ≡ the oracle's ROW_NUMBER order.
    // Oracle: the K-step greedy unrolled as a CTE chain.
    q("q105_mmr_context", {
      "X2: MMR diversity-aware context selection (greedy λ·rel − μ·maxsim, K unrolled)"
    }, {
      val prevU = (k: Int) => (1 until k).map(i => s"SELECT * FROM sel$i")
        .mkString(" UNION ALL ")
      val pairCosSql = "ROUND(list_inner_product(a.ev, b.ev) / NULLIF(sqrt(list_inner_product(a.ev, a.ev)) * sqrt(list_inner_product(b.ev, b.ev)), 0), 6)"
      val steps = (2 to MmrK).map { k =>
        s"""sel$k AS (SELECT query_id, CAST($k AS BIGINT) AS step, doc_id, rel, mmr FROM (
           |    SELECT x.query_id, x.doc_id, x.rel, x.mmr,
           |      ROW_NUMBER() OVER (PARTITION BY x.query_id ORDER BY x.mmr DESC, x.doc_id) AS rn
           |    FROM (
           |      SELECT c.query_id, c.doc_id, c.rel,
           |        ROUND(CAST($MmrLambda AS DOUBLE) * c.rel - CAST($MmrMu AS DOUBLE) * MAX(p.psim), 6) AS mmr
           |      FROM cand c
           |      JOIN pairs p ON p.query_id = c.query_id AND p.ca = c.doc_id
           |      JOIN (${prevU(k)}) s ON s.query_id = p.query_id AND s.doc_id = p.cb
           |      WHERE NOT EXISTS (SELECT 1 FROM (${prevU(k)}) s2
           |                        WHERE s2.query_id = c.query_id AND s2.doc_id = c.doc_id)
           |      GROUP BY c.query_id, c.doc_id, c.rel) x) WHERE rn = 1)""".stripMargin
      }.mkString(",\n  ")
      val allSel = (1 to MmrK).map(i => s"SELECT * FROM sel$i").mkString(" UNION ALL ")
      s"""WITH es AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
         |  qs AS (SELECT vec_id AS query_id, ev AS qv FROM es WHERE vec_id < $NQueries),
         |  scored AS (SELECT query_id, vec_id, $cosineSql AS rel
         |             FROM es CROSS JOIN qs WHERE vec_id <> query_id),
         |  cand AS (SELECT query_id, vec_id AS doc_id, rel FROM (
         |    SELECT query_id, vec_id, rel,
         |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rel DESC, vec_id) AS rn
         |    FROM scored) WHERE rn <= $MmrM),
         |  cv AS (SELECT c.query_id, c.doc_id, es.ev FROM cand c JOIN es ON es.vec_id = c.doc_id),
         |  pairs AS (SELECT a.query_id, a.doc_id AS ca, b.doc_id AS cb, $pairCosSql AS psim
         |            FROM cv a JOIN cv b USING (query_id) WHERE a.doc_id <> b.doc_id),
         |  sel1 AS (SELECT query_id, CAST(1 AS BIGINT) AS step, doc_id, rel, rel AS mmr FROM (
         |    SELECT query_id, doc_id, rel,
         |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rel DESC, doc_id) AS rn
         |    FROM cand) WHERE rn = 1),
         |  $steps
         |SELECT query_id, step, doc_id, rel, mmr FROM ($allSel)
         |ORDER BY query_id, step""".stripMargin
    }) { (s, dir) =>
      val base = emb(s, dir)
      val qs = querySet(base)
      // Stage one — the only corpus-wide pass: top-M relevance per
      // query through the map-side k-heap aggregate (0-shuffle-MB
      // candidate generation, as in q26/q91).
      val cand = knn(base, qs, "query_id", "vec_id",
          VectorOps.cosine6(col("ev"), col("qv")), "rel", MmrM, excludeSelf = true)
        .select(col("query_id"), col("vec_id").as("doc_id"), col("rel"))
        .checkpointed() // read every greedy step + two broadcasts below
      // Candidate vectors ride a broadcast semi into the embeddings
      // scan (Q·M ids); the Q·M² pair-cosine table is built once —
      // the greedy steps never touch a vector again.
      val cv = base.join(broadcast(cand.select(col("doc_id").as("vec_id")).distinct()),
          Seq("vec_id"), "left_semi")
      val cvJ = cand.select(col("query_id"), col("doc_id"))
        .join(broadcast(cv), col("doc_id") === col("vec_id"))
        .select(col("query_id"), col("doc_id"), col("ev"))
      val pairs = cvJ.select(col("query_id"), col("doc_id").as("ca"), col("ev").as("eva"))
        .join(cvJ.select(col("query_id"), col("doc_id").as("cb"), col("ev").as("evb")),
          Seq("query_id"))
        .filter(col("ca") =!= col("cb"))
        .withColumn("psim", VectorOps.cosine6(col("eva"), col("evb")))
        .select("query_id", "ca", "cb", "psim")
        .checkpointed() // read once per greedy step
      val pickKey = struct(col("mmr"), (-col("doc_id")).as("nid"))
      var selected = cand.withColumn("mmr", col("rel"))
        .groupBy(col("query_id"))
        .agg(max_by(struct(col("doc_id"), col("rel"), col("mmr")), pickKey).as("p"))
        .select(col("query_id"), lit(1L).as("step"),
          col("p.doc_id").as("doc_id"), col("p.rel").as("rel"), col("p.mmr").as("mmr"))
      for (k <- 2 to MmrK) {
        val selNow = selected
        val rem = cand.join(selNow.select("query_id", "doc_id"),
          Seq("query_id", "doc_id"), "left_anti")
        val red = pairs.join(
            broadcast(selNow.select(col("query_id"), col("doc_id").as("cb"))),
            Seq("query_id", "cb"))
          .groupBy(col("query_id"), col("ca")).agg(max(col("psim")).as("mr"))
        val pick = rem.join(red.withColumnRenamed("ca", "doc_id"),
            Seq("query_id", "doc_id"))
          .withColumn("mmr",
            round(lit(MmrLambda) * col("rel") - lit(MmrMu) * col("mr"), 6))
          .groupBy(col("query_id"))
          .agg(max_by(struct(col("doc_id"), col("rel"), col("mmr")), pickKey).as("p"))
          .select(col("query_id"), lit(k.toLong).as("step"),
            col("p.doc_id").as("doc_id"), col("p.rel").as("rel"), col("p.mmr").as("mmr"))
        selected = selected.unionAll(pick)
      }
      selected.presented("query_id", "step")
    },

    // ----- X2 capstone: the PRODUCTION ANN layout —
    // IVF-PQ RESIDUAL index (the FAISS IVFPQ composition of q42's IVF
    // cells, q88's PQ encode, and q89's ADC search, which until now were
    // separate demonstrations). Index build: every vector argmin-assigns
    // to its IVF cell, the RESIDUAL (vector − centroid) is PQ-encoded in
    // M=4 subspaces against a residual codebook — residual encoding is
    // what makes the composition worth running: residuals are centered
    // near zero, so a tiny codebook quantizes them far better than raw
    // vectors. Search: each query probes its nprobe=2 nearest cells,
    // builds ONE M·K distance table per probed cell from ITS OWN
    // residual in that cell (the asymmetric-distance trick, per-cell
    // because the query's residual differs per probed centroid), and
    // every candidate's approximate distance is a table lookup + one
    // exact-decimal sum — raw floats are never rescanned. Recall is
    // audited against q26-style exact L2 top-k in the same output.
    //
    // SCALE SHAPE (the point of the composition): the whole encode path
    // — assignment, residual, subspace split — is a single MAP-ONLY
    // projection over the scan ([[ivfpqSub]]: centroids collapse to one
    // broadcast array row, each row computes its own argmin in place),
    // so NO exchange anywhere in the plan ever carries a vector; the
    // only corpus-sized exchanges move (vec_id, cell_id, m, code)
    // longs. At 100 TB the code table IS the index (cluster by
    // cell_id), a probe touches nprobe partitions, and the per-query
    // broadcast is 160 rounded doubles. PlanShapeSpec pins both laws
    // (no cartesian product; no shuffle carries an array column).
    q("q113_ivfpq_search", {
      "X2 composite: IVF-PQ residual index — map-only encode, nprobe ADC search, recall audit"
    }, {
      s"""WITH $ivfpqIndexCtesSql,
         |  $ivfpqSearchSql""".stripMargin
    }) { (s, dir) =>
      // EAGER: base feeds the centroid subtree (a broadcast thread —
      // the q99 lesson) plus the exact-recall side and the query set.
      val base = emb(s, dir).checkpointed()
      ivfpqSearch(base, VectorIndex.seedCentroids(base, IvfCells))
    },

    // ----- X2/LLM (incremental): IVF-PQ ENCODE-ON-APPEND — the q112/q116 pattern applied
    // to the composite index. The corpus's packed codes table is a
    // PERSISTED artifact ([[ivfPqIndexPrepared]], same publish
    // discipline as the dedup/ANN/BPE/classifier artifacts); an
    // incoming batch (every 5th vector negated under a +100000 id
    // shift — q100's convention) is encoded WITHOUT re-touching the
    // corpus: centroids and the residual codebook are seed-
    // deterministic ([[ivfpqCodebook]] recomputes them from PqK rows),
    // so the batch pays one map-only assign + residual + PQ encode.
    // The query then runs the production INSERT path: each batch
    // vector ADC-checks its HOME cell against the persisted codes (the
    // near-dup-on-insert triage a 100 TB vector store runs before
    // admitting a vector) and reports the nearest existing neighbor.
    //
    // SCALE SHAPE — every exchange linear, the quadratic stays in-task:
    // batch encode is exchange-free up to the tiny code rows
    // (ivfpqSub's map-only law, pinned in PlanShapeSpec); the batch's
    // M·K distance-table entries collapse to ONE flat 16-double array
    // per vector (indexed m·K+code — q89's lookup table as a row
    // value); the insert check is then a single equi-join on cell_id
    // between two packed-row frames (persisted codes ∥ batch tables),
    // and each joined row computes its ADC distance IN PLACE — an
    // exact-decimal 4-term sum of the looked-up 6dp entries, no per-
    // pair shuffle anywhere (the pair-level groupBy that a per-m join
    // would need is exactly what turns quadratic candidate volume into
    // quadratic SHUFFLE; here pair volume is in-task CPU, bounded by
    // cell occupancy, which production holds constant by growing cells
    // ∝ corpus — the q99/q113 contract). The final per-query min is a
    // min_by whose map-side partial leaves one row per (query,
    // partition). Output per batch vector: home cell, its PqM codes,
    // the cell's persisted occupancy, nearest existing neighbor + ADC
    // distance.
    q("q119_ivfpq_append", {
      "X2/LLM incremental: IVF-PQ encode-on-append + per-cell in-row ADC insert check vs the persisted codes"
    }, ivfpqAppendOracleSql) { (s, dir) =>
      ivfpqAppend(s, dir, IvfCells) // body shared with the scaled-cells probe
    },

    // ----- T6 + X2/LLM: STREAMING IVF-PQ encode-on-append — q119's
    // triage drained as an AvailableNow stream (the q118/q120/q123
    // harness): the append batch lands as parquet files (vector arrays
    // stream through the parquet source schema unchanged),
    // maxFilesPerTrigger=1 forces ≥2 micro-batches, and foreachBatch
    // runs the IDENTICAL [[ivfpqTriage]] — map-only assign + residual +
    // PQ encode, flat per-vector ADC table, ONE cell_id equi-join
    // against the persisted codes — on each micro-batch as an ordinary
    // batch plan. The INDEX side ([[ivfpqAppendStatics]]: persisted
    // packed codes, occupancy, centroids, codebook) is built ONCE and
    // closed over, eagerly checkpointed so no micro-batch re-derives it
    // — exactly how a production ingest holds its index constant across
    // a catch-up. NO streaming state: a vector's cell, codes, and
    // nearest-existing-neighbor derive from its own values plus the
    // statics — never from other batch vectors — so rows are
    // self-contained and micro-batch boundaries cannot change any
    // output (the q120 stateless-ingest argument applied to X2). The
    // oracle is q119's verbatim: stream ≡ batch IS the hash gate, and
    // IvfPqAppendSpec pins in-engine stream-vs-batch equality plus the
    // observed ≥2-micro-batch discipline. At 100 TB this is the vector
    // store's admission path: each arriving shard pays its own map-only
    // encode + occupancy-bounded in-task ADC, nothing ever rescans the
    // corpus.
    q("q124_stream_ivfpq_append", {
      "T6+X2/LLM: streaming IVF-PQ encode-on-append vs the persisted codes (foreachBatch, stateless)"
    }, ivfpqAppendOracleSql) { (s, dir) =>
      ivfpqAppendStream(s, dir, IvfCells)
    },

    // ----- X2 composite: IVF-PQ over LLOYD-TRAINED centroids — q93's
    // training loop feeds q113's unchanged index layout. Two exact
    // Lloyd updates ([[kmTrainedCents]]: argmin assign, per-(cell, dim)
    // 6dp exact-decimal means — the identical recipe q93's oracle
    // unrolls) replace the seed centroid frame; the encode chain, the
    // residual codebook convention, the nprobe/ADC search, and the
    // recall audit are [[ivfpqChainSqlFrom]]/[[ivfpqSearch]] VERBATIM.
    // Training tightens cells around the data, so residuals shrink and
    // the same 4×4 codebook quantizes better — measured in the output's
    // own recall column against the exact top-k (vs q113's seed index;
    // IvfPqTrainedSpec pins trained-mean-recall ≥ seed-mean-recall at
    // the gate SFs). SCALE: training is q93's shape (centroids
    // broadcast per round, vectors never shuffle, 2 rounds fixed);
    // everything after is exactly q113's map-only encode + query-sized
    // search — composing the pieces adds NO new exchange class.
    q("q121_ivfpq_trained", {
      "X2 composite: IVF-PQ over Lloyd-trained centroids — q93's training feeding q113's layout, recall audited"
    }, {
      s"""WITH $trainedPreludeSql,
         |  ${ivfpqChainSqlFrom(trainedCentsBodySql)},
         |  $ivfpqSearchSql""".stripMargin
    }) { (s, dir) =>
      val base = emb(s, dir).checkpointed()
      // Trained centroid frame — cells×dims rows of exact decimal
      // means; EAGER checkpoint: it feeds ivfpqSub's broadcast thread,
      // the probe side, and the qres join.
      ivfpqSearch(base, kmTrainedCents(base, KmTrainedUpdates).checkpointed())
    },

    // ----- X2 composite (the index's ACCURACY/COST KNOBS):
    // RECALL-vs-NPROBE OPERATING CURVE — q113/q121 audit recall at the
    // fixed nprobe=2 operating point; this query sweeps nprobe across
    // the full range (1..cells) for BOTH centroid variants (seed and
    // Lloyd-trained), each at TWO pipelines (plain ADC top-k, and ADC
    // shortlist → exact re-rank → top-k, the FAISS `refine` step), in
    // one output frame — the surface a deployment tunes against.
    // Mechanics: ONE map-only encode per variant; every query ranks ALL
    // cells (not just the top-2), the full-corpus ADC is computed ONCE
    // with each candidate carrying its home cell's rank, and each
    // nprobe point is then a pure SLICE (crank <= nprobe) + top-k —
    // sweeping the knob costs one search, not sixteen; nprobe=cells
    // degenerates to exhaustive ADC. What the curve HONESTLY shows at
    // these corpora (and the reason it reports two columns): with the
    // coarse 4×4 quantizer, the QUANTIZER is the binding constraint,
    // not nprobe — the plain-ADC column is flat-to-rippling in nprobe
    // (extra probed cells contribute impostors whose underestimated ADC
    // distances displace true neighbors from the top-k: recall can
    // DECREASE with nprobe, the documented IVF-PQ behavior), while
    // exact re-ranking of the 3k-deep shortlist lifts recall ~1.9×
    // (0.32→0.60 seed, 0.40→0.76 trained at the operating point) —
    // i.e. the productive knobs are training and the refine depth, and
    // the curve is the artifact that PROVES where the recall budget
    // actually goes. Laws pinned in IvfPqTrainedSpec: re-rank ≥ plain
    // row-wise (a theorem — every true neighbor in the shortlist
    // survives an exact re-rank), trained ≥ seed at the registered
    // nprobe=2 operating point, full shape (2 variants × cells rows,
    // recalls in [0,1]). SCALE: the sweep is an OFFLINE tuning pass —
    // at 100 TB it runs on a sampled corpus slice; every exchange is a
    // q113 class (code rows, tiny broadcasts) plus one
    // candidates×nprobe window and one shortlist-sized re-rank join,
    // query-sized by construction.
    q("q126_ivfpq_nprobe_curve", {
      "X2 composite: recall-vs-nprobe operating curve, seed vs Lloyd-trained, one encode per variant"
    }, nprobeCurvesSql(PqK)) { (s, dir) =>
      // EAGER: base feeds both variants' centroid subtrees (broadcast
      // threads), the exact-recall side, and the query set. NOT
      // embSpread: q126's PqK=4 encode is cheap, and A/B pairs showed
      // the fan-out costs it ~+1.0 s while the PqK=256 curves
      // (q136/q137) win — the codebook size is the discriminator.
      nprobeCurves(emb(s, dir).checkpointed(), PqK)
    },

    // ----- X2 composite: the PqK CODEBOOK knob — q126 proved the
    // 4-entry (2-bit) product quantizer, not nprobe, binds recall; this
    // is the same curve at the FAISS-default PqK = 256 (8-bit codebook,
    // 4 bytes/vector at M=4). Everything is q126's curve with ONE
    // parameter moved (the pqK of nprobeCurves/nprobeCurvesSql) — the
    // knob is a codebook size, not a different index. The curve pairs with
    // q126's rows to show the quantization tradeoff a deployment
    // actually tunes: code bits × recall at fixed nprobe
    // (IvfPqTrainedSpec pins pq256 ≥ pq4 row-wise at the operating
    // point, and the ≥0.9 re-rank point the composite index ships
    // with). SCALE: identical exchange classes as q126 — the codebook
    // broadcast grows 4 → 256 rows, the encode's min_by aggregate
    // combines 256 candidates per (vec, m) map-side, codes stay
    // (vec_id, cell, m, code) longs.
    q("q136_ivfpq_pq8_curve", {
      "X2 composite: the PqK codebook knob — 8-bit (K=256) recall-vs-nprobe curve, seed vs Lloyd-trained"
    }, nprobeCurvesSql(Pq8K)) { (s, dir) =>
      nprobeCurves(embSpread(s, dir).checkpointed(), Pq8K)
    },

    // ----- X2 composite: the REFINE-DEPTH knob —
    // q136 showed the PqK=256 codebook reaches 0.96 recall@5 at
    // sf0.001 but caps at ~0.56 at sf0.1, and honestly attributed the
    // cap to the FIXED 3k-deep re-rank shortlist (RrShort = 15): as
    // the corpus grows at fixed code bits, more impostors' ADC
    // distances underestimate below the true neighbors', pushing true
    // neighbors past any fixed shortlist depth — so the production
    // knob is RrShort ∝ the impostor density, i.e. scaled with corpus
    // per code budget, NOT a constant multiple of k. This query
    // MEASURES that: the Lloyd-trained PqK=256 chain (the shipped
    // configuration) swept over refine depth {3k, 12k, 48k} × nprobe
    // {1, 2, 4, 8, 16}, mean exact recall@5 per point. One encode, one
    // full-corpus ADC; the exact re-rank distance is computed ONCE per
    // candidate at the max depth, and every grid point is a re-window
    // of that one frame — sweeping 15 points costs one search plus a
    // shortlist-sized exact join (the q126 slice discipline). What it
    // shows: recall_rr is monotone nondecreasing in rr_short row-wise
    // (a theorem: a deeper shortlist is a superset, and exact re-rank
    // of a superset can only add true neighbors to the top-k —
    // IvfPqTrainedSpec pins it), and the deep-refine column reaches
    // the ≥0.9 operating point at BOTH gate SFs (0.96+ at sf0.001;
    // sf0.1 recovers it at rr = 48k with enough probes, where q136's
    // fixed 3k sat at ~0.56). OPERATING GUIDANCE:
    // recall is NOT monotone in nprobe at a FIXED rr_short (measured
    // at sf0.1: rr=60 drops 0.88 → 0.76 going nprobe 2 → 4) — this is
    // SHORTLIST CROWDING, not a bug: each extra probed cell adds
    // candidates ranked only by their QUANTIZED (ADC) distance, and
    // impostors whose codes underestimate can displace true neighbors
    // past the fixed shortlist cutoff before the exact re-rank ever
    // sees them. The knobs therefore move TOGETHER: raising nprobe
    // without deepening rr_short can lose recall; at the deepest rr
    // the crowding disappears (the shortlist stops truncating, so
    // probed candidate sets nest and recall is monotone in nprobe
    // again — the companion law IvfPqTrainedSpec pins). SCALE: the
    // refine step is the same keyed join at every depth — rr_short × queries rows against the
    // raw vectors; at 100 TB the rr knob trades exactly those exact
    // lookups (cold-storage point reads) for recall, which is why the
    // curve — not any single point — is the deployable artifact.
    q("q137_ivfpq_refine_curve", {
      "X2 composite: the refine-depth knob — recall@5 vs (rr_short, nprobe) at PqK=256, Lloyd-trained"
    }, {
      s"""WITH $trainedPreludeSql,
         |  ${ivfpqChainSqlFrom(trainedCentsBodySql, "t", Pq8K)},
         |  $qsSql,
         |  $topxSql,
         |  ${ivfpqRefineCurveSql("t")}
         |SELECT CAST(rr_short AS BIGINT) AS rr_short,
         |  CAST(nprobe AS BIGINT) AS nprobe, mean_recall_rr FROM trcurve
         |ORDER BY rr_short, nprobe""".stripMargin
    }) { (s, dir) =>
      ivfpqRefineCurve(embSpread(s, dir).checkpointed())
    }
  )
}
