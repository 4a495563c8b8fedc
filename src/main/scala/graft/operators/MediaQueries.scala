package graft.operators

import graft.{NamedQuery, Tables}
import graft.Materialize.CheckpointOps
import graft.NamedQuery.{q, PresentationOps}
import graft.pipeline.MediaOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multimodal-column queries (north-star brief: binary payloads with
  * typed metadata, decode as a batched partition-local kernel).
  *
  * q39 is pure columnar binary algebra and oracle-checked (the DuckDB
  * mirror computes on the source text, which is byte-identical to the
  * UTF-8 payload for this ASCII corpus). q40 exercises the typed
  * mapPartitions decode path and is hash-checked too — values
  * roll up q101's oracled per-asset features, and the batch surface is
  * pinned as a boolean invariant rather than exact runtime sizes.
  */
object MediaQueries {

  /** q104's Hamming verify threshold. MUST stay < [[PHashBands]]: with
    * d < k bands, a qualifying pair's d flipped bits leave at least one
    * band untouched (pigeonhole), so exact band-bucket candidate
    * generation is LOSSLESS — which is why the oracle can be the naive
    * all-pairs join and the hash gate doubles as the losslessness
    * proof. */
  private[graft] val PHashHamming = 3
  private[graft] val PHashBands = 4 // × 16 bits = the 64-bit fingerprint

  /** q104's planted-copy union — the registered query's exact input
    * (exact copies at +80000, one-char-perturbed copies at +90000),
    * shared with PlanShapeSpec so its law reads the frame the bench
    * actually executes, not a union-less stand-in. */
  private[graft] def phashPlantedUnion(base: DataFrame): DataFrame =
    DedupQueries.withPlanted(base, phashPlants: _*)

  private val phashPlants: Seq[DedupQueries.Plant] = Seq(
    (10, 80000, identity),
    (6, 90000, t => concat(t.substr(lit(1), length(t) - 1), lit("q"))))

  /** DuckDB mirror of [[phashPlants]]: the two UNION ALL branches q104
    * and q114 append to their base relation, continuation lines
    * indented `pad`. */
  private def phashPlantsSql(pad: String): String =
    s"""UNION ALL
       |${pad}SELECT doc_id + 80000, text FROM documents WHERE doc_id % 10 = 0
       |${pad}UNION ALL
       |${pad}SELECT doc_id + 90000, concat(substring(text, 1, length(text) - 1), 'q')
       |${pad}FROM documents WHERE doc_id % 6 = 0""".stripMargin

  /** q104's banded perceptual-hash near-dup join, pre-sort
    * (PlanShapeSpec pins no-cross-product here — the registered query's
    * trailing rangeSorted checkpoint truncates the inspectable plan).
    * Input: `(media_id, payload)` media rows. Same candidate discipline
    * as q28/q32: band buckets PRE-AGGREGATE (collect_list keyed by the
    * 16-bit band value — singleton buckets die before any pair row
    * exists), pairs explode only within a bucket, Hamming verify is
    * exact on the fingerprints already in hand (no join-back — the
    * 8-byte signature travels with its id, unlike q28's arrays).
    *
    * 100 TB: one shuffle keyed by (band_id, band_val) — ≤ 4 rows of
    * (long, long) per asset — then pair work bounded by per-bucket
    * occupancy. A degenerate corpus (millions of FLAT payloads hashing
    * to the same fingerprint) makes a bucket quadratic, but an
    * equal-fingerprint class IS pairwise-duplicate output — quadratic
    * in the result, not the plan; a deployment that wants cluster-
    * rather than pair-shaped output for such classes runs the q59-style
    * connected-components pass over these edges. */

  /** The DuckDB mirror of [[graft.plans.PHash64]] as a reusable CTE
    * chain over a `(media_id, text)` relation named `src` — the ONE
    * copy (q104 and q114 both verify against it; hand-copies would
    * drift): pure integer arithmetic (block sums × counts, no floats),
    * producing `ph(media_id, phash)`. */
  private def phashOracleCtes(src: String): String = {
    val cell = "(b//8)*9+(b%8)" // left cell of bit b, 0-based
    s"""cells AS (SELECT media_id,
       |  [coalesce(list_sum(list_transform(range(CAST((c*length(text))//72 AS INT)+1,
       |                                          CAST(((c+1)*length(text))//72 AS INT)+1),
       |                                    i -> unicode(text[i]))), 0) for c in range(0,72)] AS s,
       |  [CAST(((c+1)*length(text))//72 - (c*length(text))//72 AS BIGINT) for c in range(0,72)] AS w
       |  FROM $src),
       |bits AS (SELECT media_id,
       |  [CASE WHEN w[$cell+1] > 0 AND w[$cell+2] > 0
       |         AND s[$cell+1]*w[$cell+2] > s[$cell+2]*w[$cell+1]
       |    THEN 1 ELSE 0 END for b in range(0,64)] AS bit
       |  FROM cells),
       |ph AS (SELECT media_id,
       |  CAST(CASE WHEN bit[64] = 1 THEN -9223372036854775807 - 1 ELSE 0 END
       |   + list_sum(list_transform(range(0,63),
       |       b -> CASE WHEN bit[b+1] = 1 THEN 1::BIGINT << b ELSE 0::BIGINT END)) AS BIGINT) AS phash
       |  FROM bits)""".stripMargin
  }

  private[graft] def phashPairs(u: DataFrame): DataFrame = {
    val media = MediaOps.mediaTable(u)
    val ph = media.select(col("media_id"),
      graft.plans.PHash64(col("payload")).as("phash"))
    val banded = ph.select(col("media_id"), col("phash"), explode(array(
        (0 until PHashBands).map(b => struct(lit(b).as("band_id"),
          shiftright(col("phash"), b * 16).bitwiseAND(lit(65535L))
            .as("band_val"))): _*)).as("bv"))
      .select(col("media_id"), col("phash"),
        col("bv.band_id").as("band_id"), col("bv.band_val").as("band_val"))
    banded.groupBy(col("band_id"), col("band_val"))
      .agg(sort_array(collect_list(struct(col("media_id"), col("phash")))).as("ms"))
      .filter(size(col("ms")) > 1)
      .select(explode(col("ms")).as("a"), col("ms"))
      .select(col("a.media_id").as("id_a"), col("a.phash").as("ph_a"),
        explode(col("ms")).as("b"))
      .filter(col("id_a") < col("b.media_id"))
      .select(col("id_a"), col("ph_a"),
        col("b.media_id").as("id_b"), col("b.phash").as("ph_b"))
      .distinct() // a pair can collide in several bands
      .withColumn("hamming",
        bit_count(col("ph_a").bitwiseXOR(col("ph_b"))).cast("long"))
      .filter(col("hamming") <= PHashHamming)
      .select("id_a", "id_b", "hamming")
  }

  val all: Seq[NamedQuery] = Seq(

    // ----- binary columns, metadata, header sniff, strided frame sample:
    // all columnar, pushed projections, no shuffle except the final sort.
    q("q39_media_features",
      "multimodal: binary payload stats + header/frame-sample hex slices",
      """SELECT media_id, kind, width, height,
        |  octet_length(encode(text)) AS n_bytes,
        |  md5(text) AS content_hash,
        |  hex(encode(substring(text, 1, 8))) AS header_hex,
        |  hex(encode(substring(text, 33, 4))) AS frame1_hex,
        |  hex(encode(substring(text, 65, 4))) AS frame2_hex
        |FROM (
        |  SELECT doc_id AS media_id,
        |    ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INT)] AS kind,
        |    64 + (doc_id % 8) * 16 AS width,
        |    48 + (doc_id % 4) * 16 AS height,
        |    text
        |  FROM documents)
        |ORDER BY media_id""".stripMargin) { (s, dir) =>
      val media = MediaOps.mediaTable(Tables.load(s, dir, "documents"))
      media.select(
          col("media_id"), col("kind"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          length(col("payload")).cast("long").as("n_bytes"),
          md5(col("payload")).as("content_hash"),
          hex(substring(col("payload"), 1, 8)).as("header_hex"),
          hex(substring(col("payload"), 33, 4)).as("frame1_hex"),
          hex(substring(col("payload"), 65, 4)).as("frame2_hex"))
        .orderBy("media_id")
    },

    // ----- the batched kernel's PER-ASSET outputs are deterministic
    // functions of the payload (stub: brightness = mean of the first 64
    // bytes, header = hex of the first 4), so this half of the decode
    // path gets a REAL oracle: DuckDB recomputes the same features from
    // the source text (byte-identical to the UTF-8 payload — the q39
    // ASCII identity). brightness ships as micro-units (×1e6, BIGINT) so
    // the compare is integer-exact rather than ULP-sensitive. Only q40's
    // batch_size — a runtime partition-slicing artifact, the genuinely
    // non-SQL surface — stays rows-only.
    q("q101_media_decode_values",
      "multimodal: per-asset decoded features through the batched mapPartitions kernel",
      """SELECT doc_id AS media_id,
        |  ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INT)] AS kind,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  CAST(ROUND(CASE WHEN length(text) = 0 THEN 0.0
        |        ELSE list_avg(list_transform(range(1, least(64, length(text)) + 1),
        |                                     i -> unicode(text[i]))) END * 1e6, 0) AS BIGINT)
        |    AS brightness_micro,
        |  hex(encode(substring(text, 1, 4))) AS header
        |FROM documents ORDER BY media_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val media = MediaOps.mediaTable(Tables.load(s, dir, "documents"))
        .as[MediaOps.MediaRow]
      MediaOps.decodeFeatures(media)
        .select(col("media_id"), col("kind"), col("n_bytes"),
          rint(col("brightness") * 1e6).cast("long").as("brightness_micro"),
          col("header"))
        .presented("media_id")
    },

    // ----- the batched kernel path: typed Dataset boundary →
    // mapPartitions decode stub → per-kind rollup. Hash-checked:
    // the VALUE columns roll up the same per-asset
    // kernel outputs q101 oracles (micro-unit longs, so the sums are
    // integer-exact and order-independent), and the genuinely non-SQL
    // batch surface ships as an INVARIANT — batches_ok must read true,
    // which the oracle states as a literal, so a kernel whose batch
    // slicing breaks its 1..BatchSize contract flips the column and
    // fails the hash. Exact per-partition batch sizes remain runtime
    // artifacts by design; their LAW is what the gate now pins.
    q("q40_media_decode_stub",
      "multimodal: batched mapPartitions decode (stubbed kernel) + rollup",
      s"""SELECT kind, COUNT(*) AS n_assets,
         |  CAST(SUM(n_bytes) AS BIGINT) AS sum_bytes,
         |  CAST(SUM(brightness_micro) AS BIGINT) AS sum_brightness_micro,
         |  TRUE AS batches_ok
         |FROM (
         |  SELECT ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INT)] AS kind,
         |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         |    CAST(ROUND(CASE WHEN length(text) = 0 THEN 0.0
         |          ELSE list_avg(list_transform(range(1, least(64, length(text)) + 1),
         |                                       i -> unicode(text[i]))) END * 1e6, 0) AS BIGINT)
         |      AS brightness_micro
         |  FROM documents)
         |GROUP BY kind ORDER BY kind""".stripMargin) { (s, dir) =>
      import s.implicits._
      val media = MediaOps.mediaTable(Tables.load(s, dir, "documents"))
        .as[MediaOps.MediaRow]
      MediaOps.decodeFeatures(media)
        .groupBy(col("kind"))
        .agg(
          count(lit(1)).as("n_assets"),
          sum(col("n_bytes")).as("sum_bytes"),
          sum(rint(col("brightness") * 1e6).cast("long")).as("sum_brightness_micro"),
          expr(s"bool_and(batch_size >= 1 AND batch_size <= ${MediaOps.BatchSize})")
            .as("batches_ok"))
        .presented("kind")
    },

    // ----- perceptual-hash near-dup dedup for the media tier:
    // dHash-style 64-bit fingerprints ([[graft.plans
    // .PHash64]], codegen'd byte arithmetic — no UDF), 4×16-bit band
    // buckets for candidates, exact Hamming verify ≤ 3. The corpus
    // plants EXACT payload copies (every 10th asset, id+80000) and
    // LAST-BYTE-PERTURBED copies (every 6th, id+90000): a single byte
    // edit touches one grid cell, so only the one bit comparing that
    // cell to its left neighbor can flip — planted near-dups sit at
    // Hamming ≤ 1 by the expression's locality law (PHashSpec).
    // ORACLE = the NAIVE ALL-PAIRS join over the same fingerprints:
    // with threshold 3 < 4 bands the banding is lossless (pigeonhole —
    // see [[PHashHamming]]), so hash-matching the quadratic reference
    // PROVES the banded plan drops nothing. The oracle recomputes the
    // fingerprint from the source text (byte-identical to the UTF-8
    // payload — the q39 ASCII identity) with pure integer arithmetic,
    // so parity is exact, not float-lucky.
    q("q104_media_phash_dedup",
      "multimodal/X3: banded 64-bit perceptual-hash near-dup + Hamming verify",
      {
        s"""WITH u AS (
           |  SELECT doc_id AS media_id, text FROM documents
           |  ${phashPlantsSql("  ")}),
           |${phashOracleCtes("u")}
           |SELECT a.media_id AS id_a, b.media_id AS id_b,
           |  CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
           |FROM ph a JOIN ph b ON a.media_id < b.media_id
           |WHERE bit_count(xor(a.phash, b.phash)) <= $PHashHamming
           |ORDER BY id_a, id_b""".stripMargin
      }) { (s, dir) =>
      val base = Tables.load(s, dir, "documents").select("doc_id", "text")
      phashPairs(phashPlantedUnion(base)).rangeSorted("id_a", "id_b")
    },

    // ----- multimodal RESIZE (north-star brief's third media op):
    // nearest-neighbor 8×6 thumbnail over the payload byte grid —
    // out[y][x] = byte[(y·H div 6)·W + (x·W div 8)], the exact integer
    // index arithmetic every image resampler starts from, computed on
    // the raw bytes (the ASCII identity of q39/q101/q104: byte ==
    // codepoint, so both engines sample the same grid without a
    // decoder). The payload is treated as a W-wide row-major image
    // with H = n_bytes div W complete rows. MAP-ONLY: a per-row
    // 48-element transform riding the scan; resizing 100 TB of
    // thumbnails is embarrassingly parallel with zero shuffle beyond
    // the presentation sort. Swapping the byte-sampler for a real
    // pixel kernel (JNI decoder) changes no plan shape — exactly the
    // decodeStub contract one level up.
    q("q110_media_resize",
      "multimodal: nearest-neighbor 8x6 thumbnail resize (exact columnar byte sampling)",
      """WITH m AS (
        |  SELECT doc_id AS media_id, 64 + (doc_id % 8) * 16 AS w, text,
        |         length(text) // (64 + (doc_id % 8) * 16) AS h_eff
        |  FROM documents WHERE doc_id % 3 = 0),
        |t AS (
        |  SELECT media_id, CAST(w AS BIGINT) AS w, CAST(h_eff AS BIGINT) AS h_eff,
        |    [unicode(text[CAST((((i // 8) * h_eff) // 6) * w + (((i % 8) * w) // 8) + 1 AS INT)])
        |     for i in range(0, 48)] AS thumb_arr
        |  FROM m WHERE h_eff >= 1)
        |SELECT media_id, w, h_eff,
        |  array_to_string([CAST(x AS VARCHAR) for x in thumb_arr], ',') AS thumb,
        |  CAST(list_sum(thumb_arr) AS BIGINT) AS thumb_sum
        |FROM t ORDER BY media_id""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "documents")
        .filter(col("doc_id") % 3 === 0)
        .select(col("doc_id").as("media_id"),
          (lit(64) + (col("doc_id") % 8) * 16).as("w"), col("text"))
        .withColumn("h_eff", expr("length(text) div w"))
        .filter(col("h_eff") >= 1)
        // One codegen'd pass over the byte grid (graft.plans.Thumb8x6)
        // instead of the former 48-element transform + array_join +
        // aggregate HOF chain — same samples (ASCII identity: byte ==
        // codepoint), three interpreted lambda walks per row retired.
        .withColumn("t", graft.plans.MediaSample.thumb8x6(
          col("text").cast("binary"), col("w").cast("long"),
          col("h_eff").cast("long")))
        .select(col("media_id"),
          col("w").cast("long").as("w"),
          col("h_eff").cast("long").as("h_eff"),
          col("t.thumb").as("thumb"),
          col("t.thumb_sum").as("thumb_sum"))
        .orderBy("media_id")
    },

    // ----- multimodal FRAME-SAMPLE (the brief's fourth media op):
    // uniform-stride sampling of k=4 frames from a 'video' payload of
    // F = n_bytes div W complete W-byte frames — frame j samples
    // index (j·F) div 4 (duplicates when F < k are the uniform-stride
    // contract, kept deterministically). Per-frame statistic is the
    // exact integer byte sum, the stand-in for a decoded frame
    // feature. MAP-ONLY like q110: explode(4) + a W-element fold per
    // row, no shuffle beyond the sort — the shape under which
    // frame-sampling petabytes of video is a pass-through scan stage.
    q("q111_media_frame_sample",
      "multimodal: uniform-stride k-frame sampling with exact per-frame byte sums",
      """WITH m AS (
        |  SELECT doc_id AS media_id, CAST(64 + (doc_id % 8) * 16 AS BIGINT) AS w, text,
        |         CAST(length(text) // (64 + (doc_id % 8) * 16) AS BIGINT) AS f
        |  FROM documents WHERE doc_id % 3 = 2),
        |s AS (
        |  SELECT media_id, w, f, text, unnest(range(0, 4)) AS frame_no
        |  FROM m WHERE f >= 1)
        |SELECT media_id, w, f AS n_frames, CAST(frame_no AS BIGINT) AS frame_no,
        |  CAST((frame_no * f) // 4 AS BIGINT) AS frame_idx,
        |  CAST(list_sum([unicode(text[CAST((frame_no * f) // 4 * w + p AS INT)])
        |                 for p in range(1, CAST(w AS INT) + 1)]) AS BIGINT) AS frame_sum
        |FROM s ORDER BY media_id, frame_no""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "documents")
        .filter(col("doc_id") % 3 === 2)
        .select(col("doc_id").as("media_id"),
          (lit(64) + (col("doc_id") % 8) * 16).as("w"), col("text"))
        .withColumn("f", expr("length(text) div w"))
        .filter(col("f") >= 1)
        .select(col("media_id"), col("w"), col("f"), col("text"),
          explode(sequence(lit(0), lit(3))).as("frame_no"))
        .select(col("media_id"),
          col("w").cast("long").as("w"),
          col("f").cast("long").as("n_frames"),
          col("frame_no").cast("long").as("frame_no"),
          expr("(frame_no * f) div 4").cast("long").as("frame_idx"),
          // Codegen'd W-byte fold (graft.plans.ByteSliceSum) at the
          // frame's 0-based byte offset — replaces the interpreted
          // transform + aggregate pair over a per-row index sequence.
          graft.plans.MediaSample.byteSliceSum(
            col("text").cast("binary"),
            expr("((frame_no * f) div 4) * w").cast("long"),
            col("w").cast("long")).as("frame_sum"))
        .orderBy("media_id", "frame_no")
    },

    // ----- X3 composite: CROSS-MODAL dedup manifest
    // — text near-dup edges (q59's normalization-key blocking) and media
    // perceptual-hash edges (q104's banded pHash) resolved JOINTLY over
    // one id space, the step a real multimodal pipeline runs before
    // survivorship: a transitive chain text-A ≈ text-B, media-B ≈
    // media-C must land in ONE cluster even though no single modality
    // connects A to C. Planted to exercise exactly that: every 25th doc
    // re-appears minus its first token (+40000 — a TEXT-only edge: the
    // byte shift scrambles the phash grid), every 10th as an exact copy
    // (+80000 — BOTH modalities fire), every 6th with its last byte
    // perturbed (+90000 — a MEDIA-only edge: md5 keys miss, Hamming ≤ 1
    // by PHash64's locality law). Union edges → the shared log-rounds
    // star-contraction CC → canonical survivor (longest text, lowest
    // id) + a per-cluster edge census by modality; cross_modal flags
    // clusters whose evidence spans both. SCALE: both edge generators
    // are the proven hash-key equi-joins (one shuffle each), CC is the
    // q59/q86 machinery (log-rounds over edge-count rows), the census
    // is one narrow aggregate per modality — nothing quadratic, nothing
    // new. ORACLE: recursive-CTE closure over the UNION of both edge
    // sets, text keys + the shared integer phash mirror.
    q("q114_crossmodal_manifest",
      "X3 composite: joint text+media dedup manifest (union edges, shared CC, modality census)",
      s"""WITH RECURSIVE
         |  u AS (SELECT doc_id, text FROM documents
         |        UNION ALL
         |        SELECT doc_id + 40000, ${DedupQueries.dropFirstTokSql}
         |        FROM documents WHERE doc_id % 25 = 0
         |        ${phashPlantsSql(" " * 8)}),
         |  keys AS (SELECT doc_id, unnest([md5(text),
         |             md5(${DedupQueries.dropFirstTokSql})]) AS k FROM u),
         |  te AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
         |         FROM keys a JOIN keys b USING (k) WHERE a.doc_id < b.doc_id),
         |  mu AS (SELECT doc_id AS media_id, text FROM u),
         |  ${phashOracleCtes("mu")},
         |  me AS (SELECT a.media_id AS a, b.media_id AS b
         |         FROM ph a JOIN ph b ON a.media_id < b.media_id
         |         WHERE bit_count(xor(a.phash, b.phash)) <= $PHashHamming),
         |  e0 AS (SELECT a, b FROM te UNION SELECT a, b FROM me),
         |  e AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
         |  ${DedupQueries.componentsCtesSql},
         |  ${DedupQueries.survivorRankSql},
         |  tec AS (SELECT c.cluster_id, COUNT(*) AS n_text_edges
         |          FROM te JOIN comp c ON c.id = te.a GROUP BY 1),
         |  mec AS (SELECT c.cluster_id, COUNT(*) AS n_media_edges
         |          FROM me JOIN comp c ON c.id = me.a GROUP BY 1)
         |SELECT r.cluster_id, r.id AS keep_id, CAST(r.n_chars AS BIGINT) AS keep_chars,
         |  r.n_members,
         |  COALESCE(t.n_text_edges, 0) AS n_text_edges,
         |  COALESCE(m.n_media_edges, 0) AS n_media_edges,
         |  (COALESCE(t.n_text_edges, 0) > 0 AND COALESCE(m.n_media_edges, 0) > 0)
         |    AS cross_modal
         |FROM ranked r LEFT JOIN tec t USING (cluster_id)
         |LEFT JOIN mec m USING (cluster_id)
         |WHERE rnk = 1 ORDER BY cluster_id""".stripMargin) { (s, dir) =>
      val base = Tables.load(s, dir, "documents").select("doc_id", "text")
      val u = DedupQueries.withPlanted(base, (25, 40000, DedupQueries.dropFirstTok) +: phashPlants: _*)
        .checkpointed(false) // text edges, media edges, and the length join
      val te = DedupQueries.blockingEdges(u) // symmetric, distinct, checkpointed
      // EAGER: the CC rounds (via the union below) and the census both
      // read it, and the census side feeds broadcast-eligible joins.
      val me = phashPairs(u)
        .select(col("id_a").as("a"), col("id_b").as("b"))
        .checkpointed()
      // The union is checkpointed down to an RDD scan before entering
      // CC — connectedComponents' documented caller contract: a Union
      // plan's constraint set poisons the round self-unions in Spark
      // 4.1 ("key not found: u#…" from Union.rewriteConstraints inside
      // Dataset.checkpoint). One extra materialization of an edge-count
      // frame — trivial at any scale (edges ∝ dup density, not corpus).
      val labels = DedupQueries.connectedComponents(
        te.unionByName(me).checkpointed(), tag = "q114")
      // Per-cluster edge census by modality: label each UNORDERED edge
      // by its a-endpoint's cluster (both endpoints share one by
      // construction). te is symmetric → a < b picks each pair once.
      def census(e: DataFrame, cname: String): DataFrame =
        e.join(labels.withColumnRenamed("id", "a"), "a")
          .groupBy(col("lbl")).agg(count(lit(1)).as(cname))
      val tec = census(te.filter(col("a") < col("b")), "n_text_edges")
      val mec = census(me, "n_media_edges")
      DedupQueries.survivors(labels, u)
        .join(tec, Seq("lbl"), "left_outer")
        .join(mec, Seq("lbl"), "left_outer")
        .select(col("lbl").as("cluster_id"), col("id").as("keep_id"),
          col("n_chars").as("keep_chars"), col("n_members"),
          coalesce(col("n_text_edges"), lit(0L)).as("n_text_edges"),
          coalesce(col("n_media_edges"), lit(0L)).as("n_media_edges"),
          (coalesce(col("n_text_edges"), lit(0L)) > 0 &&
            coalesce(col("n_media_edges"), lit(0L)) > 0).as("cross_modal"))
        .orderBy("cluster_id")
    }
  )
}
