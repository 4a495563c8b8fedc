package graft

import org.scalatest.funsuite.AnyFunSuite

/** q121's value claim, pinned: feeding q93's Lloyd-trained centroids
  * into q113's UNCHANGED IVF-PQ layout improves recall — training
  * tightens cells around the data, residuals shrink, and the same 4×4
  * codebook quantizes better. (Measured at the gate SFs when the law
  * was pinned: mean recall 0.32→0.40 at sf0.001, 0.24→0.40 at sf0.01,
  * 0.24→0.36 at sf0.1.) The composition itself is oracle-hash-gated;
  * this spec keeps the IMPROVEMENT from silently regressing — a
  * trained index that stops beating the seed index means the training
  * or the residual encode broke even if both stay self-consistent.
  */
class IvfPqTrainedSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def meanRecall(name: String): (Double, Int) = {
    val rows = SparkEntry.queries(name)(spark, dir).collect()
    // One recall value per query (constant across its rn rows).
    val perQuery = rows.groupBy(_.getAs[Long]("query_id"))
      .map(_._2.head.getAs[Double]("recall"))
    (perQuery.sum / perQuery.size, rows.length)
  }

  test("trained centroids beat seed centroids on mean recall; output well-formed") {
    val (seed, seedRows) = meanRecall("q113_ivfpq_search")
    val (trained, trainedRows) = meanRecall("q121_ivfpq_trained")
    assert(seedRows == trainedRows && trainedRows > 0,
      s"row-shape drift: seed $seedRows vs trained $trainedRows")
    assert(trained >= seed,
      s"Lloyd-trained IVF-PQ recall $trained fell below the seed index's $seed")
  }

  test("q126 nprobe curve: full shape, re-rank >= plain row-wise, trained >= seed at the operating point") {
    val rows = SparkEntry.queries("q126_ivfpq_nprobe_curve")(spark, dir)
      .collect()
      .map(r => (r.getAs[String]("variant"), r.getAs[Long]("nprobe")) ->
        (r.getAs[Double]("mean_recall"), r.getAs[Double]("mean_recall_rr")))
      .toMap
    // Full surface: both variants at every nprobe 1..cells.
    val cells = operators.SimilarityQueries.IvfCells
    assert(rows.size == 2 * cells, s"expected ${2 * cells} rows, got ${rows.size}")
    for (v <- Seq("seed", "trained"); n <- 1L to cells) {
      val (plain, rr) = rows((v, n))
      assert(plain >= 0 && plain <= 1 && rr >= 0 && rr <= 1,
        s"recall out of range at ($v, $n): $plain / $rr")
      // A theorem, not a tuning claim: every true neighbor that makes
      // the ADC shortlist survives an exact re-rank (at most K vectors
      // can beat the global K-th distance), so the re-ranked top-k can
      // only gain overlap vs taking the shortlist's first K by ADC.
      assert(rr >= plain,
        s"exact re-rank LOST recall at ($v, $n): $rr < $plain")
    }
    // The q113/q121 trained >= seed law, restated on the curve's
    // registered operating point (nprobe = 2) for both pipelines.
    assert(rows(("trained", 2L))._1 >= rows(("seed", 2L))._1)
    assert(rows(("trained", 2L))._2 >= rows(("seed", 2L))._2)
  }

  test("q136 PqK knob: the 8-bit codebook's re-ranked recall beats the 2-bit one at the operating point, and reaches >=0.9 here") {
    def curve(name: String) = SparkEntry.queries(name)(spark, dir)
      .collect()
      .map(r => (r.getAs[String]("variant"), r.getAs[Long]("nprobe")) ->
        (r.getAs[Double]("mean_recall"), r.getAs[Double]("mean_recall_rr")))
      .toMap
    val pq4 = curve("q126_ivfpq_nprobe_curve")
    val pq256 = curve("q136_ivfpq_pq8_curve")
    val cells = operators.SimilarityQueries.IvfCells
    assert(pq256.size == 2 * cells)
    // The re-rank >= plain theorem holds at any codebook size.
    pq256.foreach { case ((v, n), (plain, rr)) =>
      assert(rr >= plain, s"re-rank lost recall at ($v, $n)")
    }
    // The knob's value claim: at the operating point (nprobe <= 2) the
    // 256-entry codebook's re-ranked recall is at least the 4-entry
    // one's for both centroid variants — a finer quantizer can only
    // improve the shortlist the refine step re-ranks.
    for (v <- Seq("seed", "trained"); n <- 1L to 2L)
      assert(pq256((v, n))._2 >= pq4((v, n))._2,
        s"pq256 re-rank fell below pq4 at ($v, $n)")
    // And the >=0.9 operating point exists at this SF (measured 0.96
    // at nprobe=1 seed when pinned). At sf0.1 the same curve tops out
    // near 0.56: the fixed 15-candidate refine shortlist is the
    // binding factor there — q137 sweeps that depth and recovers 1.00
    // at rr = 48k (the law below).
    assert((1L to cells).exists(n => pq256(("seed", n))._2 >= 0.9),
      "no >=0.9 re-rank operating point at sf0.001")
  }

  // Job bounds at sf0.001: the counts one run of each query starts.
  // A bound holds on one of up to three runs: AQE plans some stages
  // from runtime timing, so a run now and then starts a different
  // count (q113's first run in a fresh JVM read 20).
  for ((name, bound) <- Seq("q113_ivfpq_search" -> 19L, "q121_ivfpq_trained" -> 31L,
      "q126_ivfpq_nprobe_curve" -> 59L, "q136_ivfpq_pq8_curve" -> 60L,
      "q137_ivfpq_refine_curve" -> 36L))
    test(s"$name starts at most $bound jobs") {
      val counts = TestSpark.jobCountsUntil(name, dir, bound)
      assert(counts.exists(_ <= bound), s"$name started ${counts.mkString(", ")} jobs")
    }

  test("q137 refine-depth knob: recall monotone nondecreasing in rr_short per nprobe, full grid, deep refine reaches >=0.9") {
    val rows = SparkEntry.queries("q137_ivfpq_refine_curve")(spark, dir)
      .collect()
      .map(r => (r.getAs[Long]("rr_short"), r.getAs[Long]("nprobe")) ->
        r.getAs[Double]("mean_recall_rr"))
      .toMap
    val rrs = rows.keys.map(_._1).toSeq.distinct.sorted
    val nps = rows.keys.map(_._2).toSeq.distinct.sorted
    assert(rrs.size == 3 && nps.size == 5 && rows.size == 15,
      s"grid drift: ${rrs.size} x ${nps.size} = ${rows.size}")
    rows.values.foreach(r => assert(r >= 0 && r <= 1, s"recall out of range: $r"))
    // A theorem, not tuning: at fixed nprobe a deeper shortlist is a
    // SUPERSET of a shallower one, and exact re-rank of a superset can
    // only add true neighbors to the top-k.
    for (n <- nps; (a, b) <- rrs.zip(rrs.tail))
      assert(rows((b, n)) >= rows((a, n)),
        s"deeper refine LOST recall at nprobe=$n: rr=$b ${rows((b, n))} < rr=$a ${rows((a, n))}")
    // The knob's value claim (VERDICT r13 #4): the deep-refine column
    // reaches the >=0.9 operating point — measured 1.00 at rr=48k
    // across ALL nprobe at sf0.1 (where q136's fixed 3k sat at ~0.56),
    // and >=0.9 here at sf0.001.
    assert(rows.exists { case ((rr, _), r) => rr == rrs.max && r >= 0.9 },
      "deep refine (rr = 48k) found no >=0.9 point at this SF")
  }
}
