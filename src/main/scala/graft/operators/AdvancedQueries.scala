package graft.operators

import graft.{NamedQuery, Tables}
import graft.NamedQuery.{q, PresentationOps}
import graft.functions.{Exact, ExactSql}
import graft.streaming.Drain
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-technique queries: session windows, salted aggregation for
  * skew, and sketch-based distinct counting — the "free family" Spark
  * primitives the reference never needed but a 100 TB deployment leans
  * on daily (SURVEY.md §2.6 W2 / §2.5 A8 / §4 skew notes).
  */
object AdvancedQueries {
  import Exact.dsum

  private val SessionGap = "30 minutes"
  private val SaltBuckets = 8
  private val CompactMinDelta = 5.0 // q97 change-point threshold

  val all: Seq[NamedQuery] = Seq(

    // ----- T6/W2: sessionization — Spark's session_window in a BATCH
    // query (same operator Structured Streaming uses with state). The
    // oracle restates it as the classic gaps-and-islands window chain.
    q("q43_session_window",
      "W2/T6: session_window sessionization (gaps-and-islands oracle)",
      s"""WITH flagged AS (
         |  SELECT user_id, ts, value,
         |    CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
         |              <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS new_sess
         |  FROM events),
         |sess AS (
         |  SELECT user_id, ts, value,
         |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         |  FROM flagged)
         |SELECT user_id, MIN(ts) AS session_start,
         |       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
         |       COUNT(*) AS n_events, ${ExactSql.dsum("value")} AS sum_value
         |FROM sess GROUP BY user_id, sid
         |ORDER BY user_id, session_start""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "events")
        .groupBy(session_window(col("ts"), SessionGap), col("user_id"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
        .select(col("user_id"),
          col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"),
          col("n_events"), col("sum_value"))
        .orderBy("user_id", "session_start")
    },

    // ----- A1 at skew: two-phase SALTED aggregation. Phase 1 fans each
    // hot key across SaltBuckets sub-keys (deterministic salt from the
    // row id) for parallel partial aggregation; phase 2 folds the salts
    // away. Result must equal the direct groupBy exactly — which is what
    // the oracle checks (it aggregates directly). The decimal-exact sums
    // make the equality bitwise, independent of the extra combine step.
    q("q44_salted_agg",
      "A1/skew: two-phase salted aggregation ≡ direct groupBy",
      s"""SELECT event_type, COUNT(*) AS n,
         |  ${ExactSql.dsum("value")} AS sum_value,
         |  ${ExactSql.dsum("value")} / COUNT(value) AS avg_value
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      val salted = Tables.load(s, dir, "events")
        .withColumn("salt", pmod(xxhash64(col("event_id")), lit(SaltBuckets)))
      val phase1 = salted
        .groupBy(col("event_type"), col("salt"))
        .agg(
          count(lit(1)).as("n1"),
          sum(col("value").cast(Exact.Dec)).as("sum1"),
          count(col("value")).as("nv1"))
      phase1
        .groupBy(col("event_type"))
        .agg(
          sum(col("n1")).as("n"),
          sum(col("sum1")).cast("double").as("sum_value"),
          (sum(col("sum1")).cast("double") / sum(col("nv1"))).as("avg_value"))
        .presented("event_type")
    },

    // ----- T1/T2/T6 oracle-checked end to end: RUN the Structured
    // Streaming restatement (AvailableNow drain → watermark → 1-day
    // window agg → foreachBatch last-write-wins MERGE into
    // date-partitioned parquet) and return the resulting table, which
    // must equal the batch daily aggregate computed by DuckDB. This is
    // the reference driver loop (main.py:343-369) with its convergence
    // property actually asserted by the gate.
    // FLOOR (r9 stage profile): ~1.6 s in-suite = ~0.9 s AvailableNow
    // harness (query start/stop, offset+commit logs, batch planning)
    // + ~0.7 s genuine work (source scan + state agg ~0.5 s wall, the
    // 31-date-partition merge write ~0.2-0.6 s). The harness share is
    // fixed per RUN, not per event — it amortizes to noise on a real
    // backlog (the scale probe's `stream` family: 1.05× wall at 10×
    // the events).
    q("q49_streaming_daily",
      "T1/T2/T6: streaming catch-up restatement ≡ batch daily aggregate",
      s"""SELECT CAST(ts AS DATE) AS d, event_type, COUNT(*) AS n,
         |  ${ExactSql.dsum("value")} AS sum_value
         |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      val root = graft.TempDirs.fresh("q49")
      // The shared pre-normalized source (NANOS→micros once per SF dir,
      // memoized — a parquet file stream cannot apply the legacy-nanos
      // rewrite itself). Watermarks require TIMESTAMP (LTZ); the session
      // TZ is pinned UTC so the NTZ→LTZ cast is instant-preserving.
      // Checkpoints stay per-run, so the read-only source is shareable.
      import graft.streaming.NormalizedEvents
      val src = NormalizedEvents.sourceDir(s, dir)
      graft.streaming.StreamingUpsert.runAvailableNow(s, src,
        NormalizedEvents.schema, Drain.targetDir(root), Drain.checkpointDir(root),
        statePartitions = Some(1)) // ~40 (day, type) keys: 1 store, not 32
        .read(s)
        .select(col("d").cast("date").as("d"), col("event_type"),
          col("n"), col("sum_value"))
        .presented("d", "event_type")
    },

    // ----- J2/A1 at skew, the AQE way: join a 90%-hot fact key to a dim
    // WITHOUT salting and let adaptive execution split the skewed
    // partition at runtime (spark.sql.adaptive.skewJoin, on by default).
    // Contrast with q44, which handles the same shape by hand. The merge
    // hints force a shuffle join — a broadcast would dodge the skew and
    // prove nothing. Correctness never depends on the split (the oracle
    // aggregates directly); AqeSkewJoinSpec asserts the split actually
    // fires under production-shaped thresholds.
    q("q51_aqe_skew_join",
      "J2/skew: unsalted hot-key join, AQE skew-split mitigation",
      s"""WITH fact AS (SELECT CASE WHEN event_id % 10 < 9 THEN 0
         |                          ELSE event_id % 1000 END AS k, value
         |              FROM events),
         |     dim AS (SELECT r AS k, 'grp_' || CAST(r AS VARCHAR) AS label
         |             FROM range(0, 1000) t(r))
         |SELECT label, COUNT(*) AS n, ${ExactSql.dsum("value")} AS sum_value
         |FROM fact JOIN dim USING (k)
         |GROUP BY label ORDER BY label""".stripMargin) { (s, dir) =>
      // The single-row-group test file scans as ONE map task, and AQE can
      // only split a skewed reduce partition at MAPPER boundaries — so
      // spread the fact like the many-file scan a real deployment has
      // (there the file layout provides this and the exchange vanishes).
      val fact = Tables.load(s, dir, "events").select(
        when(pmod(col("event_id"), lit(10)) < 9, lit(0L))
          .otherwise(pmod(col("event_id"), lit(1000))).as("k"),
        col("value"))
        .repartition(16)
      val dim = s.range(0, 1000)
        .select(col("id").as("k"), concat(lit("grp_"), col("id")).as("label"))
      fact.hint("merge").join(dim.hint("merge"), "k")
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .presented("label")
    },

    // ----- Extension tier (c), whole operator: AS-OF JOIN — enrich each
    // event with the most recent completed daily summary of its type
    // (day D's summary becomes effective at D+1 00:00; events of the
    // first day enrich NULL). Planned by graft's own
    // LogicalPlan/Strategy/SparkPlan (plans/AsOfJoin.scala): one
    // exchange per side, then a forward-only per-partition merge — no
    // window, no union. Oracle: DuckDB's native ASOF LEFT JOIN.
    q("q52_asof_enrich",
      "J+/ext: as-of join via custom Strategy/SparkPlan (prior-day enrich)",
      s"""WITH summaries AS (
         |  SELECT event_type,
         |         CAST(CAST(ts AS DATE) + INTERVAL 1 DAY AS TIMESTAMP) AS effective_ts,
         |         COUNT(*) AS prev_n, ${ExactSql.dsum("value")} AS prev_sum
         |  FROM events GROUP BY 1, 2)
         |SELECT l.event_id, l.event_type, l.value, r.prev_n, r.prev_sum
         |FROM events l ASOF LEFT JOIN summaries r
         |  ON l.event_type = r.event_type AND l.ts >= r.effective_ts
         |ORDER BY event_id""".stripMargin) { (s, dir) =>
      val ev = Tables.load(s, dir, "events")
      val summaries = ev
        .groupBy(col("event_type"),
          date_add(to_date(col("ts")), 1).cast("timestamp_ntz").as("effective_ts"))
        .agg(count(lit(1)).as("prev_n"), dsum(col("value")).as("prev_sum"))
      graft.plans.AsOf.join(
          ev.select("event_id", "event_type", "value", "ts"), summaries,
          on = Seq("event_type"), leftTsCol = "ts", rightTsCol = "effective_ts")
        .select("event_id", "event_type", "value", "prev_n", "prev_sum")
        .orderBy("event_id")
    },

    // ----- T6 stream-STREAM: run the watermarked interval join
    // (purchases × same-user clicks of the preceding day) as an
    // AvailableNow job and return the written pairs — which must equal
    // the batch time-bound join DuckDB computes. Complements q49
    // (stream-batch upsert) and q43 (session windows): with it, every
    // streaming operator family is oracle-checked end to end.
    // FLOOR (r9 stage profile): ~1.6 s in-suite = ~1.0 s harness +
    // ~1.3 s stage wall (both sides' scans 0.55 s, the 4-store stateful
    // join 0.73 s) overlapping the harness; per-event cost amortizes
    // (probe: 1.45× wall at 10× events).
    q("q53_stream_interval_join",
      "T6: stream-stream watermarked interval join ≡ batch time-bound join",
      """SELECT p.event_id AS p_event_id, c.event_id AS c_event_id, p.user_id
        |FROM events p JOIN events c ON p.user_id = c.user_id
        |  AND p.event_type = 'purchase' AND c.event_type = 'click'
        |  AND c.ts BETWEEN p.ts - INTERVAL 1 DAY AND p.ts
        |ORDER BY p_event_id, c_event_id""".stripMargin) { (s, dir) =>
      val root = graft.TempDirs.fresh("q53")
      // Shared normalized source (see q49) — this query never mutates
      // its source dir, so it streams the memoized copy directly.
      import graft.streaming.NormalizedEvents
      val src = NormalizedEvents.sourceDir(s, dir)
      graft.streaming.StreamIntervalJoin.runAvailableNow(s, src,
        NormalizedEvents.schema, Drain.targetDir(root), Drain.checkpointDir(root), "inner",
        statePartitions = Some(4)) // state = the events themselves (~80k rows/side): parallel inserts
        .read(s)
        .select("p_event_id", "c_event_id", "user_id")
        .orderBy("p_event_id", "c_event_id")
    },

    // ----- T6+X3: streaming DEDUP-AT-INGEST. The whole source is
    // delivered TWICE (two identical files) and drained one file per
    // micro-batch, so the re-delivery lands in a LATER batch and
    // dropDuplicatesWithinWatermark must recognize it from keyed state —
    // the written table must equal the plain distinct source.
    // FLOOR (r9 stage profile): TWO micro-batch cycles are semantic
    // (the re-delivery MUST arrive after the first batch's state
    // commit, like q94's flush cycles) — ~1.5 s in-suite = 2 × ~0.45 s
    // batch harness + ~0.9 s first-batch scan/state-insert wall.
    q("q54_stream_dedup",
      "T6/X3: dropDuplicatesWithinWatermark across re-delivered batches",
      """SELECT event_id, user_id, event_type, value
        |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
      val root = graft.TempDirs.fresh("q54")
      val src = Drain.srcDir(root); val target = Drain.targetDir(root)
      // Two deliveries = two filesystem copies of the shared sharded
      // source, delivery-level mtimes + a delivery-sized trigger, so the
      // re-delivery lands in the LATER micro-batch deterministically.
      import graft.streaming.NormalizedEvents
      NormalizedEvents.deliverCopies(s, dir, src, copies = 2)
      Drain(s, src, NormalizedEvents.schema, Drain.checkpointDir(root),
          maxFilesPerTrigger = Some(NormalizedEvents.SourceFiles),
          statePartitions = Some(4)) { // state = one entry per event_id (~200k)
        // The watermark evicts dedup state past the 2-day lateness
        // horizon; a row behind it drops as late — the at-most-once-per-
        // key contract re-deliveries need. First-seen rows emit in the
        // data batch that carries them.
        _.stream()
          .withWatermark("ts", "2 days")
          .dropDuplicatesWithinWatermark("event_id")
          .writeStream.format("parquet").option("path", target)
      }
      // The drain wrote NormalizedEvents.schema: supplying it skips the
      // schema-inference job a fresh directory would otherwise cost.
      s.read.schema(NormalizedEvents.schema).parquet(target)
        .select("event_id", "user_id", "event_type", "value")
        .orderBy("event_id")
    },

    // ----- T6, stream-stream LEFT OUTER: q53's join with null-emission
    // semantics — a purchase with no click in its preceding day is NOT
    // dropped; it waits in state until the watermark PROVES no
    // qualifying click can still arrive, then emits once with a null
    // click id. The proof requires watermark movement, which requires
    // later data: two far-future flush deliveries (synthetic ids < 0,
    // filtered from the result) are drained one file per micro-batch,
    // so the first advances the watermark past every real purchase and
    // the second triggers the eviction scan — the streamed table then
    // equals DuckDB's batch LEFT JOIN exactly. At scale this is how an
    // attribution feed distinguishes "no conversion" from "not yet":
    // state per key stays one sliding day, finality is watermark-driven.
    q("q94_stream_outer_join",
      "T6: stream-stream left-outer interval join ≡ batch left join (watermark-finalized nulls)",
      """SELECT p.event_id AS p_event_id, c.event_id AS c_event_id, p.user_id
        |FROM events p LEFT JOIN events c ON p.user_id = c.user_id
        |  AND c.event_type = 'click' AND c.ts BETWEEN p.ts - INTERVAL 1 DAY AND p.ts
        |WHERE p.event_type = 'purchase'
        |ORDER BY p_event_id, c_event_id""".stripMargin) { (s, dir) =>
      val root = graft.TempDirs.fresh("q94")
      val src = Drain.srcDir(root); val target = Drain.targetDir(root)
      // Private source dir assembled by FILESYSTEM COPY from the
      // memoized per-corpus fixture: the one-file real delivery, then
      // the two far-future flush deliveries, with STRICTLY INCREASING
      // mtimes (FileStreamSource orders unseen files by mtime; a
      // coarse-granularity tie that drained a flush file FIRST would
      // jump the watermark ahead and silently drop every real event as
      // late). maxFilesPerTrigger = 2 groups {real delivery, flush one}
      // into the first micro-batch — the watermark DURING a batch is
      // computed from the PRIOR batch, so batch one still processes
      // every real event against the initial watermark while flush one
      // advances it past every purchase's window for the NEXT cycle;
      // flush two then lands alone in the later batch whose eviction
      // scan emits the outer nulls. Two state-transition cycles (join
      // state built → watermark-driven eviction across a batch
      // boundary), one fewer micro-batch of pure harness cost than the
      // per-file draining this replaced.
      import graft.streaming.NormalizedEvents
      NormalizedEvents.deliverOuterJoinFixture(s, dir, src)
      // statePartitions skips the trailing empty batch: every REAL outer
      // null is emitted by flush two's DATA batch (watermark advanced
      // past all real purchases by flush one); the skipped batch would
      // only emit the flush purchase's own null row, which the filter
      // below drops anyway.
      graft.streaming.StreamIntervalJoin.runAvailableNow(s, src,
        NormalizedEvents.schema, target, Drain.checkpointDir(root), "left_outer",
        statePartitions = Some(4), maxFilesPerTrigger = Some(2))
        .read(s)
        .filter(col("p_event_id") >= 0) // synthetic flush rows are harness, not data
        .select("p_event_id", "c_event_id", "user_id")
        .orderBy("p_event_id", "c_event_id")
    },

    // ----- A8 completion: CUBE — all four grouping sets of two dims in
    // one pass (one Expand, one hash aggregate; same Catalyst machinery
    // as q21's ROLLUP but the full lattice).
    q("q55_cube",
      "A8: cube over (event_type, user bucket) with grouping() flags",
      s"""SELECT event_type, user_id % 10 AS user_bucket,
         |  CAST(GROUPING(event_type) AS INT) AS g_type,
         |  CAST(GROUPING(user_id % 10) AS INT) AS g_u,
         |  COUNT(*) AS n, ${ExactSql.dsum("value")} AS sum_value
         |FROM events
         |GROUP BY CUBE (event_type, user_id % 10)
         |ORDER BY g_type, g_u, event_type NULLS FIRST, user_bucket NULLS FIRST""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "events")
        .withColumn("user_bucket", pmod(col("user_id"), lit(10)))
        .cube(col("event_type"), col("user_bucket"))
        .agg(
          grouping(col("event_type")).cast("int").as("g_type"),
          grouping(col("user_bucket")).cast("int").as("g_u"),
          count(lit(1)).as("n"),
          dsum(col("value")).as("sum_value"))
        .select("event_type", "user_bucket", "g_type", "g_u", "n", "sum_value")
        .presented(col("g_type"), col("g_u"),
          col("event_type").asc_nulls_first, col("user_bucket").asc_nulls_first)
    },

    // ----- W2 completion: the distribution-rank analytic family —
    // dense_rank / ntile / percent_rank / cume_dist over daily totals,
    // totally ordered (sum desc, then date) so both engines agree on
    // every tie.
    q("q56_rank_family",
      "W2: dense_rank + ntile + percent_rank + cume_dist per group",
      s"""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
         |                      ${ExactSql.dsum("value")} AS sum_value
         |               FROM events GROUP BY 1, 2)
         |SELECT event_type, d, sum_value,
         |  CAST(DENSE_RANK() OVER w AS BIGINT) AS drnk,
         |  CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
         |  PERCENT_RANK() OVER w AS pct_rank,
         |  CUME_DIST() OVER w AS cume
         |FROM daily
         |WINDOW w AS (PARTITION BY event_type ORDER BY sum_value DESC, d)
         |ORDER BY event_type, d""".stripMargin) { (s, dir) =>
      val daily = Tables.load(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(dsum(col("value")).as("sum_value"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type"))
        .orderBy(col("sum_value").desc, col("d"))
      daily
        .withColumn("drnk", dense_rank().over(w).cast("long"))
        .withColumn("quartile", ntile(4).over(w).cast("long"))
        .withColumn("pct_rank", percent_rank().over(w))
        .withColumn("cume", cume_dist().over(w))
        .presented("event_type", "d")
    },

    // ----- A8 (quantiles): exact interpolated percentiles per group —
    // both engines define quantile_cont/percentile as linear
    // interpolation, so the values hash-match after 6dp rounding — plus
    // the approx_percentile sketch bounded against them (the number a
    // 100 TB job actually computes; the exact form needs a full sort).
    q("q57_percentiles",
      "A8: exact interpolated quartiles + bounded approx sketch per group",
      """SELECT event_type,
        |  ROUND(quantile_cont(value, 0.25), 6) AS p25,
        |  ROUND(quantile_cont(value, 0.50), 6) AS p50,
        |  ROUND(quantile_cont(value, 0.75), 6) AS p75,
        |  TRUE AS approx_within_tol
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(
          round(expr("percentile(value, 0.25)"), 6).as("p25"),
          round(expr("percentile(value, 0.50)"), 6).as("p50"),
          round(expr("percentile(value, 0.75)"), 6).as("p75"),
          expr("approx_percentile(value, 0.50, 1000)").as("approx_p50"),
          expr("min(value)").as("lo"), expr("max(value)").as("hi"))
        .select(col("event_type"), col("p25"), col("p50"), col("p75"),
          // the sketch must land within 2% of the value range of the median
          (abs(col("approx_p50") - col("p50")) <=
            (col("hi") - col("lo")) * 0.02).as("approx_within_tol"))
        .presented("event_type")
    },

    // ----- A8: sketch-based distinct (HLL++) next to the exact count.
    // The sketch value itself is engine-specific, so the contract under
    // oracle is the exact count plus the bounded-error assertion — at
    // rsd=0.01 on ~1k-cardinality groups the 5% bound never trips.
    q("q45_approx_distinct",
      "A8: approx_count_distinct within 5% of exact, per group",
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_users,
        |       TRUE AS approx_within_5pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      // The two distinct flavors run as SEPARATE aggregates joined on the
      // 5-row result: fused in one agg, the distinct rewrite expands to
      // (event_type, user_id) groups and every one drags a full
      // high-precision HLL buffer (~16 KB at rsd 0.01) through partial
      // aggregation — per-KEY sketch churn instead of per-GROUP. Split,
      // the sketch count equals the group count in both phases.
      // Deliberately NOT spread: the r9 contended A/B (16- and
      // 128-thread noise, one JVM, alternating variants) measured the
      // added raw-row exchange losing in BOTH regimes (quiet 0.74 s →
      // 1.55 s, oversubscribed 3.5 s → 5.6 s) — the heavy work here is
      // the distinct exchange itself, which is already parallel.
      val ev = Tables.load(s, dir, "events")
      val exact = ev.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"))
      val approx = ev.groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id"), 0.01).as("approx"))
      exact.join(approx, Seq("event_type"))
        .select(col("event_type"), col("n_users"),
          (abs(col("approx") - col("n_users")) <=
            col("n_users").cast("double") * 0.05).as("approx_within_5pct"))
        .presented("event_type")
    },

    // ----- W2/A: funnel analysis — strictly-SEQUENCED stage conversion
    // (view, then a click after that view, then a purchase after that
    // click), not mere event presence. Each stage is one filter + one
    // min-aggregate keyed on user_id, reusing the previous stage's
    // timestamps through an equi-join on the same key — so the whole
    // funnel is hash-partitioned by user once and every stage reduces
    // map-side; no windows over the event stream, no self-cross. The
    // 4-row stage summary then takes its step rates from a lag window
    // over the tiny aggregate.
    q("q66_funnel",
      "W2/A6: strict-sequence funnel (view → click → purchase) conversion",
      s"""WITH v AS (SELECT user_id, MIN(ts) AS t1 FROM events
         |           WHERE event_type = 'view' GROUP BY 1),
         |  c AS (SELECT e.user_id, MIN(ts) AS t2 FROM events e JOIN v USING (user_id)
         |        WHERE event_type = 'click' AND ts > t1 GROUP BY 1),
         |  p AS (SELECT e.user_id, MIN(ts) AS t3 FROM events e JOIN c USING (user_id)
         |        WHERE event_type = 'purchase' AND ts > t2 GROUP BY 1),
         |  stages AS (
         |    SELECT '0_any' AS stage, COUNT(DISTINCT user_id) AS n_users FROM events
         |    UNION ALL SELECT '1_view', COUNT(*) FROM v
         |    UNION ALL SELECT '2_click', COUNT(*) FROM c
         |    UNION ALL SELECT '3_purchase', COUNT(*) FROM p)
         |SELECT stage, n_users,
         |  COALESCE(ROUND(CAST(n_users AS DOUBLE) /
         |    NULLIF(lag(n_users) OVER (ORDER BY stage), 0), 6), CAST(1 AS DOUBLE)) AS conv_rate
         |FROM stages ORDER BY stage""".stripMargin) { (s, dir) =>
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
      val c = ev.join(v, "user_id")
        .filter(col("event_type") === "click" && col("ts") > col("t1"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
      val p = ev.join(c, "user_id")
        .filter(col("event_type") === "purchase" && col("ts") > col("t2"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
      val stages = ev.agg(count_distinct(col("user_id")).as("n_users"))
        .select(lit("0_any").as("stage"), col("n_users"))
        .unionAll(v.agg(count(lit(1)).as("n")).select(lit("1_view").as("stage"), col("n")))
        .unionAll(c.agg(count(lit(1)).as("n")).select(lit("2_click").as("stage"), col("n")))
        .unionAll(p.agg(count(lit(1)).as("n")).select(lit("3_purchase").as("stage"), col("n")))
      val w = org.apache.spark.sql.expressions.Window.orderBy("stage")
      stages.select(col("stage"), col("n_users"),
          coalesce(
            round(col("n_users").cast("double") /
              nullif(lag(col("n_users"), 1).over(w), lit(0L)), 6),
            lit(1.0)).as("conv_rate"))
        .presented("stage")
    },

    // ----- T6/J2: STREAM-STATIC broadcast enrich — reference data
    // decorating events as they arrive. Stateless per micro-batch (no
    // watermark, no state store): each batch plans an ordinary
    // broadcast-hash join, so the stream side never shuffles. Run as
    // two bounded micro-batches (maxFilesPerTrigger=1) to prove the
    // enrich holds across batch boundaries; the oracle is the same
    // join+aggregate in batch — stream-static enrich must be
    // indistinguishable from its batch counterpart.
    q("q71_stream_static_enrich",
      "T6/J2: stream-static broadcast join enrich (AvailableNow)",
      s"""WITH w(event_type, weight) AS (VALUES
         |    ('click', CAST(1.5 AS DOUBLE)), ('view', CAST(0.5 AS DOUBLE)),
         |    ('purchase', CAST(5.0 AS DOUBLE)), ('signup', CAST(3.0 AS DOUBLE)),
         |    ('error', CAST(0.0 AS DOUBLE)))
         |SELECT e.event_type, COUNT(*) AS n,
         |  ${ExactSql.dsum("e.value * w.weight")} AS weighted_value
         |FROM events e JOIN w USING (event_type)
         |GROUP BY 1 ORDER BY event_type""".stripMargin) { (s, dir) =>
      import s.implicits._
      val weights = Seq("click" -> 1.5, "view" -> 0.5, "purchase" -> 5.0,
        "signup" -> 3.0, "error" -> 0.0).toDF("event_type", "weight")
      val root = graft.TempDirs.fresh("q71")
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      // Two files → two micro-batches; each plans a broadcast-hash join.
      val target = new Drain.Target(Drain.targetDir(root))
      Drain.split(root, ev, 2) { src =>
        Drain.toParquet(target)(src.stream().join(broadcast(weights), "event_type")
          .selectExpr("event_type", "value", "value * weight AS weighted"))
      }
      target.read(s)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("weighted")).as("weighted_value"))
        .presented("event_type")
    },

    // ----- A1+/X4: grouped z-score outlier detection with ORDER-
    // INDEPENDENT variance. stddev_samp over doubles is accumulation-
    // order-dependent (different partitionings give different last
    // ulps); Exact.dvar accumulates both moments as exact decimals, so
    // the 3σ flags are partitioning-invariant — the same rows flag on
    // any cluster layout, which is what makes an outlier quarantine
    // reproducible. Two passes over the fact (stats, then flag), stats
    // broadcast back; both aggregates reduce map-side.
    q("q73_zscore_outliers",
      "A1/X4: per-group 3-sigma outliers via exact two-moment variance",
      s"""WITH st AS (SELECT event_type, COUNT(*) AS n,
         |              ${ExactSql.davg("value")} AS mu,
         |              ${ExactSql.dstd("value")} AS sd
         |            FROM events GROUP BY 1),
         |  fl AS (SELECT e.event_type, COUNT(*) AS n_outliers
         |         FROM events e JOIN st USING (event_type)
         |         WHERE ABS(e.value - st.mu) > CAST(3 AS DOUBLE) * st.sd
         |         GROUP BY 1)
         |SELECT st.event_type, st.n, ROUND(st.mu, 6) AS mean,
         |  ROUND(st.sd, 6) AS std, COALESCE(fl.n_outliers, 0) AS n_outliers
         |FROM st LEFT JOIN fl USING (event_type)
         |ORDER BY event_type""".stripMargin) { (s, dir) =>
      val ev = Tables.load(s, dir, "events").select(col("event_type"), col("value"))
      val stats = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), Exact.davg(col("value")).as("mu"),
          Exact.dstd(col("value")).as("sd"))
      val flagged = ev.join(broadcast(stats), "event_type")
        .filter(abs(col("value") - col("mu")) > lit(3.0) * col("sd"))
        .groupBy(col("event_type")).agg(count(lit(1)).as("n_outliers"))
      stats.join(flagged, Seq("event_type"), "left")
        .select(col("event_type"), col("n"), round(col("mu"), 6).as("mean"),
          round(col("sd"), 6).as("std"),
          coalesce(col("n_outliers"), lit(0L)).as("n_outliers"))
        .presented("event_type")
    },

    // ----- Data-quality expectations: the contract gate a pipeline runs
    // before promoting a batch — referential integrity (anti-join orphan
    // counts), domain membership, range and shape invariants — emitted
    // as one row per check so a scheduler can fail the run on any
    // violations > 0. Each check is one scan + one aggregate (the FK
    // checks anti-join against the dimension's key set); checks over
    // different tables are independent jobs that parallelize trivially.
    q("q74_data_quality",
      "A6/P7: expectations suite — FK orphans, domains, ranges, shapes",
      s"""SELECT check_name, n_checked, n_violations,
         |       n_violations = 0 AS pass FROM (
         |  SELECT 'orders_custkey_fk' AS check_name,
         |    (SELECT COUNT(*) FROM orders) AS n_checked,
         |    (SELECT COUNT(*) FROM orders o
         |     WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS n_violations
         |  UNION ALL
         |  SELECT 'lineitem_orderkey_fk',
         |    (SELECT COUNT(*) FROM lineitem),
         |    (SELECT COUNT(*) FROM lineitem l
         |     WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
         |  UNION ALL
         |  SELECT 'events_type_domain',
         |    (SELECT COUNT(*) FROM events),
         |    (SELECT COUNT(*) FROM events
         |     WHERE event_type NOT IN ('click', 'error', 'purchase', 'signup', 'view'))
         |  UNION ALL
         |  SELECT 'events_value_nonneg',
         |    (SELECT COUNT(*) FROM events),
         |    (SELECT COUNT(*) FROM events WHERE value < 0)
         |  UNION ALL
         |  SELECT 'documents_text_nonempty',
         |    (SELECT COUNT(*) FROM documents),
         |    (SELECT COUNT(*) FROM documents WHERE text IS NULL OR length(text) = 0)
         |  UNION ALL
         |  SELECT 'embeddings_dim_64',
         |    (SELECT COUNT(*) FROM embeddings),
         |    (SELECT COUNT(*) FROM embeddings WHERE len(embedding) <> 64))
         |ORDER BY check_name""".stripMargin) { (s, dir) =>
      def one(name: String, checked: DataFrame, violations: DataFrame): DataFrame =
        checked.agg(count(lit(1)).as("n_checked"))
          .crossJoin(violations.agg(count(lit(1)).as("n_violations")))
          .select(lit(name).as("check_name"), col("n_checked"), col("n_violations"))
      val orders = Tables.load(s, dir, "orders")
      val customer = Tables.load(s, dir, "customer")
      val lineitem = Tables.load(s, dir, "lineitem")
      val events = Tables.load(s, dir, "events")
      val documents = Tables.load(s, dir, "documents")
      val embeddings = Tables.load(s, dir, "embeddings")
      Seq(
        one("orders_custkey_fk", orders,
          orders.join(customer,
            orders("o_custkey") === customer("c_custkey"), "left_anti")),
        one("lineitem_orderkey_fk", lineitem,
          lineitem.join(orders,
            lineitem("l_orderkey") === orders("o_orderkey"), "left_anti")),
        one("events_type_domain", events,
          events.filter(!col("event_type").isin(
            "click", "error", "purchase", "signup", "view"))),
        one("events_value_nonneg", events, events.filter(col("value") < 0)),
        one("documents_text_nonempty", documents,
          documents.filter(col("text").isNull || length(col("text")) === 0)),
        one("embeddings_dim_64", embeddings,
          embeddings.filter(size(col("embedding")) =!= 64)))
        .reduce(_ unionAll _)
        .withColumn("pass", col("n_violations") === 0)
        .presented("check_name")
    },

    // ----- A8+: Misra-Gries FREQUENT-ITEMS sketch (second custom
    // TypedImperativeAggregate, plans/FrequentItems.scala) against the
    // exact answer on a 90%-hot key. The sketch holds ≤ m counters no
    // matter the cardinality — the bounded-memory heavy-hitters pass a
    // 100 TB key census starts with. MG's guarantee is one-sided: every
    // key with frequency > N/(m+1) IS in the final sketch (any merge
    // order); below the line membership is order-dependent — so the
    // oracle-checked claim is exactly the guarantee: sketch_ok =
    // (¬guaranteed ∨ found), which must be uniformly TRUE. The exact
    // top-5 counts hash-check as usual; the estimate bounds are
    // property-tested across partitionings in FrequentItemsSpec.
    q("q76_heavy_hitters",
      "A8: Misra-Gries sketch vs exact top-k on a skewed key",
      s"""WITH fact AS (SELECT CASE WHEN event_id % 10 < 9 THEN 0
         |                         ELSE event_id % 1000 END AS k FROM events),
         |  cnt AS (SELECT k, COUNT(*) AS n FROM fact GROUP BY 1),
         |  tot AS (SELECT COUNT(*) AS total FROM fact),
         |  top5 AS (SELECT k, n FROM cnt ORDER BY n DESC, k LIMIT 5)
         |SELECT k, n, (n > CAST(total AS DOUBLE) / 9) AS guaranteed,
         |       TRUE AS sketch_ok
         |FROM top5 CROSS JOIN tot ORDER BY n DESC, k""".stripMargin) { (s, dir) =>
      val fact = Tables.load(s, dir, "events").select(
        when(pmod(col("event_id"), lit(10)) < 9, lit(0L))
          .otherwise(pmod(col("event_id"), lit(1000))).as("k"))
      val top5 = fact.groupBy(col("k")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("k")).limit(5)
      val sk = fact.agg(
        graft.plans.FrequentItems.sketch(col("k").cast("string"), 8).as("sk"),
        count(lit(1)).as("total"))
      top5.crossJoin(broadcast(sk))
        .withColumn("guaranteed", col("n") > col("total").cast("double") / 9)
        .withColumn("found",
          array_contains(col("sk")("item"), col("k").cast("string")))
        .select(col("k"), col("n"), col("guaranteed"),
          (!col("guaranteed") || col("found")).as("sketch_ok"))
        .presented("k")
    },

    // ----- W2/F4 (time-series repair): date-spine GAP FILLING with
    // linear interpolation — the sensor-feed cleanup the reference's
    // weather path needs the moment a station skips a day (meteostat
    // returns NaN days, meteostat_weather.py:46-50 just skips them).
    // Gaps are PLANTED deterministically (drop ~30% of (type, day)
    // observations by key hash). Interior gaps interpolate between the
    // nearest observed neighbors via running last/first-non-null
    // windows; spine days before a type's first / after its last
    // observation stay NULL and are flagged 'edge' (no extrapolation).
    // Scale shape: per-type windows over the date spine — partitions
    // scale with the type count, each one is #days long, and the spine
    // join is a broadcast of days × types. The interpolation weight is
    // integer day arithmetic; doubles enter only at the final blend,
    // rounded 6dp (the libm-parity recipe).
    q("q87_gap_interpolate",
      "W2/F4: date-spine gap fill + linear interpolation (planted gaps)",
      s"""WITH spine AS (SELECT CAST(gs AS DATE) AS d
         |               FROM generate_series(DATE '2024-01-01', DATE '2024-01-30',
         |                                    INTERVAL 1 DAY) t(gs)),
         |  obs AS (SELECT event_type, CAST(ts AS DATE) AS d,
         |            ${ExactSql.davg("value")} AS v
         |          FROM events GROUP BY 1, 2),
         |  kept AS (SELECT * FROM obs
         |           WHERE CAST(CONCAT('0x', substr(md5(CONCAT(event_type, CAST(d AS VARCHAR))), 1, 15)) AS BIGINT) % 10 < 7),
         |  grid AS (SELECT et.event_type, s.d, k.v
         |           FROM spine s
         |           CROSS JOIN (SELECT DISTINCT event_type FROM events) et
         |           LEFT JOIN kept k ON k.event_type = et.event_type AND k.d = s.d),
         |  walled AS (SELECT event_type, d, v,
         |    LAST_VALUE(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY d
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         |    LAST_VALUE(CASE WHEN v IS NOT NULL THEN d END IGNORE NULLS)
         |      OVER (PARTITION BY event_type ORDER BY d
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
         |    FIRST_VALUE(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY d
         |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         |    FIRST_VALUE(CASE WHEN v IS NOT NULL THEN d END IGNORE NULLS)
         |      OVER (PARTITION BY event_type ORDER BY d
         |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
         |    FROM grid)
         |SELECT event_type, d,
         |  CASE WHEN v IS NOT NULL THEN ROUND(CAST(v AS DOUBLE), 6)
         |       WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
         |         ROUND(CAST(pv AS DOUBLE) + (CAST(nv AS DOUBLE) - CAST(pv AS DOUBLE)) *
         |           CAST(date_diff('day', pd, d) AS DOUBLE) / date_diff('day', pd, nd), 6)
         |       ELSE NULL END AS value,
         |  CASE WHEN v IS NOT NULL THEN 'observed'
         |       WHEN pv IS NOT NULL AND nv IS NOT NULL THEN 'interpolated'
         |       ELSE 'edge' END AS status
         |FROM walled ORDER BY event_type, d""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val events = Tables.load(s, dir, "events")
      val obs = events
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(Exact.davg(col("value")).as("v"))
      val kept = obs.filter(
        graft.functions.TextOps.hash60(
          concat(col("event_type"), col("d").cast("string"))) % 10 < 7)
      val spine = s.range(1).select(explode(sequence(
        to_date(lit("2024-01-01")), to_date(lit("2024-01-30")))).as("d"))
      val types = events.select(col("event_type")).distinct()
      val grid = spine.crossJoin(broadcast(types))
        .join(kept, Seq("event_type", "d"), "left_outer")
      val w = Window.partitionBy("event_type").orderBy("d")
      val back = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val fwd = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val walled = grid
        .withColumn("pv", last(col("v"), ignoreNulls = true).over(back))
        .withColumn("pd", last(when(col("v").isNotNull, col("d")), ignoreNulls = true).over(back))
        .withColumn("nv", first(col("v"), ignoreNulls = true).over(fwd))
        .withColumn("nd", first(when(col("v").isNotNull, col("d")), ignoreNulls = true).over(fwd))
      val interp = col("pv").cast("double") +
        (col("nv").cast("double") - col("pv").cast("double")) *
          datediff(col("d"), col("pd")).cast("double") / datediff(col("nd"), col("pd"))
      walled.select(col("event_type"), col("d"),
          when(col("v").isNotNull, round(col("v").cast("double"), 6))
            .when(col("pv").isNotNull && col("nv").isNotNull, round(interp, 6))
            .otherwise(lit(null).cast("double")).as("value"),
          when(col("v").isNotNull, "observed")
            .when(col("pv").isNotNull && col("nv").isNotNull, "interpolated")
            .otherwise("edge").as("status"))
        .orderBy("event_type", "d") // row-per-(type,day): parallel range sort
    },

    // ----- Incremental aggregate maintenance: MERGE mergeable partial
    // states instead of recomputing from raw data — the only viable way
    // to keep a daily metrics table current over a 100 TB fact history.
    // A maintained BASE of per-(type, day) partials (count, decimal sum,
    // min, max) absorbs a DELTA batch's partials with one key-wise merge
    // (sum the counts and decimal sums, min/max the bounds); avg derives
    // at read time from merged sum/count. Decimal addition is
    // associative, so merged == full recompute EXACTLY — the oracle IS
    // the one-pass recompute over everything, proving the maintenance
    // path loses nothing. Per refresh the cluster touches only the delta
    // scan + one partial-state shuffle (state rows = |keys|, not |facts|);
    // the base raw data is never rescanned. The delta here is a
    // deterministic slice of events standing in for "yesterday's batch".
    q("q92_partial_agg_merge",
      "T1/A8: incremental aggregate maintenance — partial-state merge ≡ full recompute",
      s"""SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS n,
         |  ROUND(${ExactSql.dsum("value")}, 6) AS sum_value,
         |  ROUND(${ExactSql.davg("value")}, 6) AS avg_value,
         |  MIN(value) AS min_value, MAX(value) AS max_value
         |FROM events GROUP BY 1, 2 ORDER BY event_type, d""".stripMargin) { (s, dir) =>
      val ev = Tables.load(s, dir, "events")
        .select(col("event_type"), to_date(col("ts")).as("d"), col("value"),
          (col("event_id") % 8 === 0).as("is_delta"))
      // Partial state: everything needed to merge later — no avg here
      // (avg is not mergeable; sum and count are).
      def partials(df: DataFrame): DataFrame =
        df.groupBy(col("event_type"), col("d"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast(Exact.Dec)).as("psum"), // decimal: exact merge
            min(col("value")).as("pmin"), max(col("value")).as("pmax"))
      val base = partials(ev.filter(!col("is_delta")))
      val delta = partials(ev.filter(col("is_delta")))
      base.unionByName(delta)
        .groupBy(col("event_type"), col("d"))
        .agg(sum(col("n")).as("n"),
          sum(col("psum")).as("msum"),
          min(col("pmin")).as("min_value"), max(col("pmax")).as("max_value"))
        .select(col("event_type"), col("d"), col("n"),
          round(col("msum").cast("double"), 6).as("sum_value"),
          round(col("msum").cast("double") / col("n"), 6).as("avg_value"),
          col("min_value"), col("max_value"))
        .presented("event_type", "d")
    },

    // ----- Telemetry DELTA COMPACTION: store change points only — a
    // reading is kept iff it is the first of its stream or moved at
    // least MinDelta from the PREVIOUS KEPT... approximated here by the
    // previous RAW reading (the one-lag form both engines express
    // identically; the exact carry-forward form is a stateful stream,
    // StatefulCounter's shape). On a 15-minute telemetry feed where
    // most readings repeat, this is the ingest-side storage reduction
    // that keeps a 100 TB history queryable — downstream consumers
    // reconstruct the full series with a last-non-null window (q87's
    // machinery). One window over (event_type, ts, event_id) — the
    // unique id breaks timestamp ties so the lag is total-ordered and
    // cross-engine deterministic; cost is one exchange keyed on the
    // stream id. Output is row-per-kept-reading → parallel orderBy.
    q("q97_delta_compaction",
      "O/F + T1: change-point compaction of a telemetry stream (lag filter, total-ordered)",
      s"""WITH lagged AS (SELECT event_id, event_type, ts, value,
         |    LAG(value) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS pv
         |  FROM events)
         |SELECT event_id, event_type, value
         |FROM lagged
         |WHERE pv IS NULL OR ABS(value - pv) >= $CompactMinDelta
         |ORDER BY event_type, event_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("ts"), col("value"))
      val w = Window.partitionBy("event_type").orderBy("ts", "event_id")
      ev.withColumn("pv", lag(col("value"), 1).over(w))
        .filter(col("pv").isNull ||
          abs(col("value") - col("pv")) >= CompactMinDelta)
        .select(col("event_id"), col("event_type"), col("value"))
        .orderBy("event_type", "event_id") // row-per-kept: parallel range sort
    }
  )
}
