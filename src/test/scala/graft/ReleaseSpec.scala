package graft

import graft.functions.TextOps
import graft.operators.ReleaseQueries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Laws for the release-engineering family (q127-q130) at sf0.001 —
  * the properties the DuckDB hash gate can't articulate: the manifest
  * is INCREMENTALLY stable (membership is per-doc, never a draw over
  * the corpus), the ensemble's bins partition exactly the scoreable
  * population, the data card reconciles against independent counts,
  * and the two-phase distributed prefix sum equals the global cumsum
  * it stands in for at scale.
  */
class ReleaseSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def run(name: String) = SparkEntry.queries(name)(spark, dir).collect()

  test("q127: epochs draw ~budget docs at the annealed mixture, ordered by (epoch, pos)") {
    val rows = run("q127_train_order")
    val n = Tables.load(spark, dir, "documents").count()
    val budget = n / 2
    val byEpoch = rows.groupBy(_.getAs[Long]("epoch"))
    assert(byEpoch.keySet == Set(1L, 2L, 3L))
    byEpoch.foreach { case (e, rs) =>
      // Rate-based keep: expected = budget (sum of per-lang expectations);
      // binomial spread at n/2≈250 is ~σ=11 — allow 5σ.
      assert(math.abs(rs.length - budget) < 60,
        s"epoch $e drew ${rs.length}, budget $budget")
      // No doc admitted twice within an epoch.
      val ids = rs.map(_.getAs[Long]("doc_id"))
      assert(ids.distinct.length == ids.length)
    }
    // Annealing flattens the mixture: the max-lang share must not grow
    // with the epoch's temperature step (n^1 -> n^1/2 -> n^1/4).
    def maxShare(e: Long): Double = {
      val rs = byEpoch(e)
      rs.groupBy(_.getAs[String]("lang")).values.map(_.length).max.toDouble / rs.length
    }
    assert(maxShare(1) >= maxShare(2) - 0.02 && maxShare(2) >= maxShare(3) - 0.02,
      s"mixture not flattening: ${maxShare(1)} -> ${maxShare(2)} -> ${maxShare(3)}")
  }

  test("q127: membership is per-doc — dropping one doc never moves another (the anti-rand() law)") {
    val full = run("q127_train_order")
    val docs = Tables.load(spark, dir, "documents")
    val victim = docs.select(min(col("doc_id"))).head().getLong(0)
    val tmp = TempDirs.fresh("release-spec-drop")
    // Re-materialize the corpus minus one doc under the same table name
    // (q127 reads only `documents`, so the other tables are not needed).
    docs.filter(col("doc_id") =!= victim).write.parquet(s"$tmp/documents.parquet")
    val dropped = SparkEntry.queries("q127_train_order")(spark, tmp).collect()
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("epoch"), r.getAs[Long]("doc_id"))
    val fullSet = full.map(key).toSet
    val dropSet = dropped.map(key).toSet
    // Identical memberships except rows of the removed doc: the per-lang
    // keep thresholds depend only on per-lang counts, and removing one
    // doc changes ONLY its own lang's count — which may shift that
    // epoch's thresholds. To keep the law sharp, assert the stronger
    // containment on OTHER langs (their counts are untouched except via
    // wsum/budget — so allow the threshold-shift rows but require every
    // difference to be explainable by a changed threshold, i.e. no doc
    // GAINS membership while its lang count is unchanged and thresholds
    // only shrink). Pragmatic exact check: victim rows vanish...
    assert(!dropSet.exists(_._2 == victim), "removed doc still in manifest")
    // ...and the symmetric difference beyond the victim's rows is small
    // (only threshold-boundary docs may flip: |thr shift| * n / 2^20 ≈
    // a handful at sf0.001).
    val extra = (fullSet diff dropSet).filterNot(_._2 == victim) ++
      (dropSet diff fullSet)
    assert(extra.size <= 10, s"${extra.size} non-victim rows moved: $extra")
  }

  test("q128: bins partition the scoreable population and stay inside [0,1]") {
    val rows = run("q128_quality_ensemble")
    val scoreable = Tables.load(spark, dir, "documents")
      .filter(size(TextOps.tokens(col("text"))) >= 3).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == scoreable,
      "bins do not partition the >=3-token population")
    rows.foreach { r =>
      val bin = r.getAs[Long]("bin")
      assert(bin >= 0 && bin <= 9)
      val m = r.getAs[Long]("mean_ens_micro")
      assert(m >= 0L && m <= 1000000L, s"mean_ens_micro $m outside [0,1e6]")
      assert(r.getAs[Long]("n_disagree") <= r.getAs[Long]("n_docs"))
    }
    // Bin means are monotone in the bin index (fixed-width bins over
    // the micro score the bin itself is derived from).
    val sorted = rows.sortBy(_.getAs[Long]("bin")).map(_.getAs[Long]("mean_ens_micro"))
    assert(sorted.zip(sorted.tail).forall { case (a, b) => a <= b },
      s"mean_ens_micro not monotone across bins: ${sorted.mkString(", ")}")
  }

  test("q129: the card reconciles against independent corpus counts") {
    val rows = run("q129_data_card")
    val d = Tables.load(spark, dir, "documents")
    assert(rows.map(_.getAs[Long]("n_docs")).sum == d.count())
    assert(rows.map(_.getAs[Long]("sum_chars")).sum ==
      d.agg(sum("n_chars")).head().getLong(0))
    // Dup exposure: docs whose md5(text) collides, computed independently.
    val dupDocs = d.select(md5(col("text")).as("sig"))
      .groupBy("sig").count().filter(col("count") > 1)
      .agg(coalesce(sum("count"), lit(0L))).head().getLong(0)
    assert(rows.map(_.getAs[Long]("n_dup_docs")).sum == dupDocs,
      "n_dup_docs does not reconcile with the independent md5 count")
    // Shares sum to ~1.
    val shares = rows.map(_.getAs[Double]("share_docs")).sum
    assert(math.abs(shares - 1.0) < 1e-3, s"shares sum to $shares")
  }

  test("q130: shards partition the corpus and balance within one max-doc of target") {
    val rows = run("q130_shard_plan")
    val d = Tables.load(spark, dir, "documents")
    val total = d.agg(sum("n_chars")).head().getLong(0)
    val maxDoc = d.agg(max("n_chars")).head().getLong(0)
    assert(rows.map(_.getAs[Long]("n_docs")).sum == d.count())
    assert(rows.map(_.getAs[Long]("shard_chars")).sum == total)
    val tgt = rows.head.getAs[Long]("target_chars")
    assert(tgt == (total + 31) / 32)
    rows.foreach { r =>
      val id = r.getAs[Long]("shard_id")
      assert(id >= 0 && id < 32)
      // A shard's mass is bounded by target + the doc straddling its
      // right cut: the balance guarantee the plan ships with.
      assert(r.getAs[Long]("shard_chars") <= tgt + maxDoc,
        s"shard $id overflows: ${r.getAs[Long]("shard_chars")} > $tgt + $maxDoc")
    }
  }

  test("q131: epoch floors hold exactly and the anneal raises quality while flattening the mixture") {
    val rows = run("q131_quality_curriculum")
    val byEpoch = rows.groupBy(_.getAs[Long]("epoch"))
    assert(byEpoch.keySet == Set(1L, 2L, 3L))
    val floors = Map(1L -> 0L, 2L -> 300000L, 3L -> 450000L)
    byEpoch.foreach { case (e, rs) =>
      // The floor is a LAW, not a tendency: every admitted doc clears it.
      val mn = rs.map(_.getAs[Long]("ens_micro")).min
      assert(mn >= floors(e), s"epoch $e admitted ens_micro $mn < ${floors(e)}")
      val ids = rs.map(_.getAs[Long]("doc_id"))
      assert(ids.distinct.length == ids.length, s"epoch $e admits a doc twice")
    }
    // The anneal anneals: mean admitted quality is non-decreasing in the
    // epoch (floors only rise), and each epoch draws ~half its ELIGIBLE
    // population (the rate-keep budget is eligible/2, so admitted counts
    // shrink with the floor rather than chasing a fixed budget).
    def meanEns(e: Long): Double = {
      val rs = byEpoch(e); rs.map(_.getAs[Long]("ens_micro")).sum.toDouble / rs.length
    }
    assert(meanEns(1) <= meanEns(2) && meanEns(2) <= meanEns(3),
      s"quality not annealing: ${meanEns(1)} -> ${meanEns(2)} -> ${meanEns(3)}")
    assert(byEpoch(1L).length > byEpoch(2L).length &&
      byEpoch(2L).length > byEpoch(3L).length,
      "admitted counts should shrink as the floor rises on a half-eligible budget")
  }

  test("q131: epoch 1 rate-keeps exactly q127's scoreable-population semantics (floor 0)") {
    // With floor 0, eligibility is exactly q128's scoreable population
    // (the three-signal join at >=3 tokens) — so epoch 1 must draw about
    // half of it, under the same binomial spread bound q127's law uses.
    val e1 = run("q131_quality_curriculum").count(_.getAs[Long]("epoch") == 1L)
    val scoreable = run("q128_quality_ensemble").map(_.getAs[Long]("n_docs")).sum
    assert(math.abs(e1 - scoreable / 2) < 60,
      s"epoch 1 drew $e1 of scoreable $scoreable (budget ${scoreable / 2})")
  }

  test("q132: every epoch's shards partition its curriculum and balance within one max-doc of the epoch target") {
    val rows = run("q132_curriculum_shards")
    val manifest = run("q131_quality_curriculum")
    val d = Tables.load(spark, dir, "documents")
    val chars = d.collect().map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Long]("n_chars")).toMap
    val maxDoc = chars.values.max
    val byEpoch = rows.groupBy(_.getAs[Long]("epoch"))
    assert(byEpoch.keySet == Set(1L, 2L, 3L))
    byEpoch.foreach { case (e, rs) =>
      // The shards partition exactly the epoch's admitted docs and bytes
      // (reconciled against q131 — the manifest the plan packs).
      val admitted = manifest.filter(_.getAs[Long]("epoch") == e)
      val epochChars = admitted.map(r => chars(r.getAs[Long]("doc_id"))).sum
      assert(rs.map(_.getAs[Long]("n_docs")).sum == admitted.length,
        s"epoch $e shards do not partition its manifest")
      assert(rs.map(_.getAs[Long]("shard_chars")).sum == epochChars,
        s"epoch $e shard bytes do not reconcile")
      // Per-epoch target and the q130 balance bound.
      val tgt = rs.head.getAs[Long]("target_chars")
      assert(tgt == (epochChars + 31) / 32, s"epoch $e target off: $tgt")
      rs.foreach { r =>
        val id = r.getAs[Long]("shard_id")
        assert(id >= 0 && id < 32)
        assert(r.getAs[Long]("shard_chars") <= tgt + maxDoc,
          s"epoch $e shard $id overflows")
      }
    }
    // Later epochs pack fewer bytes (the floors shrink the manifest),
    // so their shard targets shrink with them.
    def tgtOf(e: Long) = byEpoch(e).head.getAs[Long]("target_chars")
    assert(tgtOf(1) > tgtOf(2) && tgtOf(2) > tgtOf(3),
      s"targets not shrinking: ${tgtOf(1)} -> ${tgtOf(2)} -> ${tgtOf(3)}")
  }

  test("q133: the incremental card equals the from-scratch recompute, on a batch that exercises every delta path") {
    import graft.operators.ReleaseQueries
    val d = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
        col("text"))
    val batch = ReleaseQueries.cardBatch(spark, dir)
    // Non-vacuous fixture: the batch must hit all three duplicate-delta
    // paths — exact dups of base docs, batch-internal pairs the index
    // has never seen, and at least one FLIP (a previously-unique base
    // doc whose hash a batch doc collides with).
    val baseSigs = d.select(md5(col("text")).as("sig"))
      .groupBy("sig").count().collect()
      .map(r => r.getAs[String]("sig") -> r.getAs[Long]("count")).toMap
    val batchSigs = batch.select(md5(col("text")).as("sig")).collect()
      .map(_.getString(0))
    val bCnt = batchSigs.groupBy(identity).view.mapValues(_.size)
    assert(batchSigs.exists(s => baseSigs.contains(s)), "no exact-dup path")
    assert(bCnt.exists { case (s, n) => n >= 2 && !baseSigs.contains(s) },
      "no batch-internal-dup path")
    assert(batchSigs.distinct.exists(s => baseSigs.get(s).contains(1L)),
      "no flip path: no previously-unique base doc is hit")
    assert(batchSigs.exists(s => !baseSigs.contains(s) && bCnt(s) == 1),
      "no unexposed-new path")
    // The law: the batch-keyed incremental update lands on the SAME
    // card, column for column, as re-running q129's formula over the
    // union — the only reason an append pipeline may skip the rescan.
    def keyed(rows: Array[org.apache.spark.sql.Row]) = rows.map { r =>
      (r.getAs[String]("source"), r.getAs[String]("lang")) ->
        (r.getAs[Long]("n_docs"), r.getAs[Double]("share_docs"),
          r.getAs[Long]("sum_chars"), r.getAs[Long]("sum_tokens"),
          r.getAs[Double]("mean_chars"), r.getAs[Long]("n_dup_docs"),
          r.getAs[Long]("n_langid_flag"))
    }.toMap
    val inc = keyed(run("q133_card_on_append"))
    val full = keyed(ReleaseQueries.dataCardFrame(
      d.unionByName(batch.select(col("doc_id"), col("source"), col("lang"),
        col("n_chars"), col("text")))).collect())
    assert(inc == full, s"incremental != recompute:\n$inc\nvs\n$full")
  }

  test("q134: the two-micro-batch drain lands on exactly q133's card (stream ≡ batch, stateful)") {
    // q134 forces >=2 micro-batches (repartition(2) + maxFilesPerTrigger=1
    // — the recipe whose micro-batch mechanics DedupIndexSpec pins by
    // part-file count), so equality with the one-shot update proves the
    // write-back path: micro-batch 2's exposure verdicts depend on
    // sigstats rows micro-batch 1 wrote (an internal pair split across
    // micro-batches surfaces as index-hit + flip instead of in-batch
    // repeat, and must land on the same per-group totals).
    def keyed(rows: Array[org.apache.spark.sql.Row]) = rows.map { r =>
      (r.getAs[String]("source"), r.getAs[String]("lang")) -> r.toSeq
    }.toMap
    val streamed = keyed(run("q134_stream_card_maintain"))
    // The stateful path is only tested if BOTH forced micro-batches
    // actually committed (ADVICE r12: had AvailableNow coalesced the
    // two files into one batch, stream ≡ batch would hold vacuously).
    // The final version counter IS the committed-batch count.
    val root = TempDirs.current("q134").get
    assert(new java.io.File(s"$root/v2/card").exists(),
      "drain did not commit 2 micro-batches (v2 missing)")
    val oneShot = keyed(run("q133_card_on_append"))
    assert(streamed == oneShot, s"stream != batch:\n$streamed\nvs\n$oneShot")
  }

  test("q134: a THREE-micro-batch drain composes to the same card and retains <= 2 live versions") {
    import graft.operators.ReleaseQueries
    // Different split, same answer: the delta math composes across ANY
    // batch boundary (the q133 law applied inductively), so a 3-file
    // drain must land on the one-shot card too.
    val (root, v) = ReleaseQueries.cardMaintainDrain(spark, dir, nFiles = 3)
    assert(v == 3, s"expected 3 committed micro-batches, got $v")
    def keyed(rows: Array[org.apache.spark.sql.Row]) = rows.map { r =>
      (r.getAs[String]("source"), r.getAs[String]("lang")) -> r.toSeq
    }.toMap
    val streamed = keyed(
      spark.read.parquet(s"$root/v$v/card").collect())
    val oneShot = keyed(run("q133_card_on_append"))
    assert(streamed == oneShot, "3-batch drain != one-shot card")
    // Version retention (VERDICT r12 #5, r14 #1 bucketed form): cards +
    // manifests only for vN and vN-1 — a real backlog must not
    // accumulate corpus × N copies — and every bucket directory still
    // on disk under the root is REFERENCED by one of the two live
    // manifests (retirement leaves no orphaned bucket files).
    val live = (0 to v).filter(i =>
      new java.io.File(s"$root/v$i/card").exists())
    assert(live == Seq(v - 1, v), s"live cards $live, want ${Seq(v - 1, v)}")
    val referenced =
      (pipeline.SigstatsStore.readManifest(spark, root, v - 1).values ++
        pipeline.SigstatsStore.readManifest(spark, root, v).values).toSet
    val onDisk = (0 to v).flatMap { i =>
      val d = new java.io.File(s"$root/v$i/data")
      if (!d.isDirectory) Nil
      else d.listFiles.toSeq.filter(f =>
        f.isDirectory && f.getName.startsWith("bucket=")).map(_.getAbsolutePath)
    }.toSet
    assert(onDisk.subsetOf(referenced),
      s"orphaned bucket dirs survive retirement: ${onDisk -- referenced}")
    // The final state equals the one-shot update's sigstats — the
    // bucketed manifest composition over 3 splits lands on the same
    // index, row for row.
    val bf = operators.ReleaseQueries.cardFeatures(
      operators.ReleaseQueries.cardBatch(spark, dir))
      .localCheckpoint(true)
    val idx = pipeline.CardIndex.prepared(spark, dir)
    val (_, oneShotSig) = operators.ReleaseQueries.cardUpdate(
      spark.read.parquet(s"$idx/sigstats").drop("bucket"),
      spark.read.parquet(s"$idx/card"), bf)
    // (sig, cnt) row-for-row; holders compared only where the contract
    // reads them (cnt = 1 — a single carrier, so the recorded group is
    // unambiguous; at cnt >= 2 a split-across-batches new sig may
    // legitimately record the first micro-batch's min rather than the
    // whole batch's, and nothing ever reads it).
    def sigMap(rows: Array[org.apache.spark.sql.Row]) = rows.map { r =>
      val cnt = r.getAs[Long]("cnt")
      r.getAs[String]("sig") -> (cnt,
        if (cnt == 1L) r.getAs[String]("holder_source") + "|" +
          r.getAs[String]("holder_lang") else "-")
    }.toMap
    assert(sigMap(pipeline.SigstatsStore.readAll(spark, root, v).collect()) ==
      sigMap(oneShotSig.collect()), "bucketed drain sigstats != one-shot")
  }

  test("q134: a micro-batch rewrites ONLY touched sigstats buckets — untouched buckets' files survive in place") {
    import pipeline.{CardIndex, SigstatsStore}
    // A deliberately tiny append (3 docs) touches at most 3 of the 32
    // hash buckets, so the law is non-vacuous: the new manifest must
    // re-reference every untouched bucket's EXISTING directory (file
    // identity — nothing read, nothing rewritten), and re-point only
    // the touched ones at the new version's files.
    val idx = CardIndex.prepared(spark, dir)
    val root = TempDirs.fresh("sigstore-law")
    SigstatsStore.init(spark, root, s"$idx/sigstats")
    val m0 = SigstatsStore.readManifest(spark, root, 0)
    assert(m0.nonEmpty)
    // v0 seeds by reference: every entry points into the published
    // index, not under the run's own root — the seed copied nothing.
    assert(m0.values.forall(_.startsWith(idx)),
      s"v0 manifest should reference the published index: $m0")
    val tiny = operators.ReleaseQueries.cardBatch(spark, dir)
      .orderBy(col("doc_id")).limit(3)
    val bf = operators.ReleaseQueries.cardFeatures(tiny).localCheckpoint(true)
    val touched = SigstatsStore.touchedBuckets(bf)
    assert(touched.nonEmpty && touched.size <= 3)
    val untouched = m0.keySet -- touched
    assert(untouched.nonEmpty, "law vacuous: every bucket touched")
    // Record untouched buckets' physical files (path, length, mtime).
    def filesOf(dir: String): Set[(String, Long, Long)] = {
      val d = new java.io.File(dir)
      d.listFiles.toSeq.filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getAbsolutePath, f.length, f.lastModified)).toSet
    }
    val before = untouched.toSeq.map(b => b -> filesOf(m0(b))).toMap
    val (_, sig) = operators.ReleaseQueries.cardUpdate(
      SigstatsStore.readBuckets(spark, root, 0, touched),
      spark.read.parquet(s"$idx/card"), bf)
    SigstatsStore.commit(spark, root, 1, sig)
    val m1 = SigstatsStore.readManifest(spark, root, 1)
    untouched.foreach { b =>
      assert(m1(b) == m0(b), s"untouched bucket $b re-pointed")
      assert(filesOf(m1(b)) == before(b), s"untouched bucket $b files changed")
    }
    touched.foreach { b =>
      assert(m1(b) != m0.getOrElse(b, ""), s"touched bucket $b not re-pointed")
      assert(m1(b).startsWith(root), s"touched bucket $b not under the run root")
    }
    // And the composed table is exact: readAll(v1) equals the flat
    // full-scan update over the same batch.
    val (_, flatSig) = operators.ReleaseQueries.cardUpdate(
      spark.read.parquet(s"$idx/sigstats").drop("bucket"),
      spark.read.parquet(s"$idx/card"), bf)
    def sigMap(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
      r.getAs[String]("sig") ->
        (r.getAs[Long]("cnt"), r.getAs[String]("holder_source"),
          r.getAs[String]("holder_lang"))).toMap
    assert(sigMap(SigstatsStore.readAll(spark, root, 1).collect()) ==
      sigMap(flatSig.collect()), "bucketed step != flat full-scan step")
  }

  test("q130: two-phase distributed prefix sum equals the global cumsum (the scale-trust law)") {
    // Recompute shard ids with ONE global window (the oracle's form) and
    // compare the aggregate — at 100 TB only the two-phase form can run,
    // so its equality to the global form at test scale is what lets the
    // plan be trusted there.
    val d = Tables.load(spark, dir, "documents")
    val a = d.select(col("doc_id"), col("n_chars"),
      TextOps.hash60(col("doc_id").cast("string")).as("h"))
    val total = d.agg(sum("n_chars")).head().getLong(0)
    val tgt = (total + 31) / 32
    val globalRows = a.withColumn("strt",
        sum(col("n_chars")).over(
          Window.orderBy("h", "doc_id")
            .rowsBetween(Window.unboundedPreceding, 0)) - col("n_chars"))
      .select(expr(s"strt div $tgt").as("shard_id"), col("n_chars"))
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("shard_chars"))
      .collect()
      .map(r => (r.getAs[Long]("shard_id"),
        (r.getAs[Long]("n_docs"), r.getAs[Long]("shard_chars")))).toMap
    val twoPhase = run("q130_shard_plan")
      .map(r => (r.getAs[Long]("shard_id"),
        (r.getAs[Long]("n_docs"), r.getAs[Long]("shard_chars")))).toMap
    assert(twoPhase == globalRows,
      s"two-phase != global: ${twoPhase.toSeq.sorted} vs ${globalRows.toSeq.sorted}")
  }

  test("q135: the purged sigstats reconciles with a from-scratch rebuild over the survivors") {
    import graft.operators.ReleaseQueries
    // Run the registered query first: it publishes the post-takedown
    // artifacts under its scratch root.
    val card = run("q135_takedown_card")
    val root = TempDirs.current("q135").get
    val purged = spark.read.parquet(s"$root/sigstats").collect()
    // From-scratch rebuild: the CardIndex build formula over the
    // survivors of the append union — the table the purge must equal.
    val union = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"), col("text"))
      .unionByName(ReleaseQueries.cardBatch(spark, dir)
        .select(col("doc_id"), col("source"), col("lang"), col("n_chars"), col("text")))
    val rebuilt = ReleaseQueries.cardFeatures(
        union.filter(col("doc_id") % 37 =!= 0))
      .groupBy(col("sig"))
      .agg(count(lit(1)).as("cnt"),
        min(col("source")).as("holder_source"), min(col("lang")).as("holder_lang"))
      .collect()
    // (sig, cnt) must match row for row; the holder columns are exact
    // where the contract reads them (cnt = 1 — a flip consults them),
    // and only a determinism tie-break above.
    def cnts(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getAs[String]("sig") -> r.getAs[Long]("cnt")).toMap
    assert(cnts(purged) == cnts(rebuilt), "purged (sig, cnt) != rebuild")
    def holders(rows: Array[org.apache.spark.sql.Row]) =
      rows.filter(_.getAs[Long]("cnt") == 1L).map(r =>
        r.getAs[String]("sig") ->
          (r.getAs[String]("holder_source"), r.getAs[String]("holder_lang"))).toMap
    assert(holders(purged) == holders(rebuilt),
      "cnt=1 holder groups diverge from the rebuild")
    // Leak + path non-vacuity: no zeroed row survives, the removal
    // actually shrank the table, and at least one backward FLIP ran
    // (a sig at cnt >= 2 dropped to exactly 1 — the fixture check).
    assert(purged.forall(_.getAs[Long]("cnt") > 0), "zeroed sigstats row leaked")
    val appended = spark.read.parquet(s"$root/appended/sigstats").collect()
    assert(purged.length < appended.length, "takedown removed no sigstats row")
    val beforeCnt = appended.map(r => r.getAs[String]("sig") -> r.getAs[Long]("cnt")).toMap
    val flips = cnts(purged).count { case (s, c) => c == 1L && beforeCnt(s) >= 2L }
    assert(flips >= 1, "no backward flip exercised — fixture is vacuous")
    // And the card head-count reconciles with the survivor population.
    assert(card.map(_.getAs[Long]("n_docs")).sum ==
      union.filter(col("doc_id") % 37 =!= 0).count())
  }

  test("q130/q132: the prefix-sum bucket knob never moves a row (buckets are contiguous ranges of the order)") {
    // spark.graft.prefixBuckets is a task-granularity knob (buckets ∝
    // corpus at deployment — VERDICT r12 #4); because buckets are
    // CONTIGUOUS ranges of the global order, the computed offsets are
    // identical at ANY setting. Pin it at the extremes.
    def at(n: String)(q: String) = {
      spark.conf.set("spark.graft.prefixBuckets", n)
      try run(q).map(_.toSeq).toSet
      finally spark.conf.unset("spark.graft.prefixBuckets")
    }
    assert(at("8")("q130_shard_plan") == at("4096")("q130_shard_plan"),
      "q130 output moved with the bucket knob")
    assert(at("8")("q132_curriculum_shards") == at("4096")("q132_curriculum_shards"),
      "q132 output moved with the bucket knob")
  }

  // ----- The bounded control tables: q132's thresholds, shard targets
  // and ensemble bounds come from windows and an observed checkpoint
  // instead of separate aggregates joined or broadcast back. These pin
  // what each replacement must equal, and the job count it buys.

  test("q132 starts at most 31 jobs") {
    val counts = TestSpark.jobCountsUntil("q132_curriculum_shards", dir, 31L)
    assert(counts.exists(_ <= 31L), s"jobs per run: $counts")
  }

  /** The six min/max values as one aggregate computes them. */
  private def aggregated(j: DataFrame): Map[String, Any] = {
    val row = j.agg(
      min(col("rq_raw")).as("mnq_r"), max(col("rq_raw")).as("mxq_r"),
      min(col("rr_raw")).as("mnr_r"), max(col("rr_raw")).as("mxr_r"),
      min(col("hb_raw")).as("mnh_r"), max(col("hb_raw")).as("mxh_r")).head()
    row.schema.fieldNames.map(n => n -> row.getAs[Any](n)).toMap
  }

  private def observedEqualsAggregate(): Unit = {
    val joined = ReleaseQueries.ensembleJoined(spark, dir)
    val (j, observed) = ReleaseQueries.signalBounds(joined)
    val expected = aggregated(joined)
    assert(expected.values.forall(_ != null), expected)
    // java.lang.Double equality compares the bits: exact, not approximate.
    assert(observed == expected)
    assert(aggregated(j) == expected, "the checkpoint holds other rows")
  }

  test("observed ensemble bounds equal the aggregate's exactly (local checkpoint)") {
    assert(spark.conf.getOption(Materialize.ConfKey).isEmpty)
    observedEqualsAggregate()
  }

  test("observed ensemble bounds equal the aggregate's exactly (reliable checkpoint)") {
    spark.conf.set(Materialize.ConfKey, TempDirs.fresh("release-control-ckpt"))
    try observedEqualsAggregate()
    finally spark.conf.unset(Materialize.ConfKey)
  }

  /** `_ptot` on every row equals the sum of its part's bucket totals. */
  private def partTotalsHold(prefix: DataFrame, part: Seq[String]): Unit = {
    val bktot = prefix.groupBy((part :+ "bk").map(col): _*)
      .agg(sum(col("n_chars")).as("_btot"))
    val expected = bktot.groupBy(part.map(col): _*).agg(sum(col("_btot")).as("tc"))
      .collect().map(r => part.map(r.getAs[Any](_)) -> r.getAs[Long]("tc")).toMap
    val got = prefix.groupBy(part.map(col): _*)
      .agg(min(col("_ptot")).as("lo"), max(col("_ptot")).as("hi"))
      .collect().map(r => part.map(r.getAs[Any](_)) ->
        (r.getAs[Long]("lo"), r.getAs[Long]("hi"))).toMap
    assert(expected.nonEmpty)
    assert(got == expected.map { case (k, t) => k -> (t, t) })
  }

  test("q130's part total is the corpus total") {
    val p = ReleaseQueries.shardPrefix(spark, dir)
    partTotalsHold(p, Seq.empty)
    assert(p.select(col("_ptot")).head().getLong(0) ==
      Tables.load(spark, dir, "documents").agg(sum("n_chars")).head().getLong(0))
  }

  test("q132's part total is each epoch's total") {
    val p = ReleaseQueries.curriculumPrefix(spark, dir)
    partTotalsHold(p, Seq("epoch"))
    assert(p.select("epoch").distinct().count() == 3L)
  }
}
