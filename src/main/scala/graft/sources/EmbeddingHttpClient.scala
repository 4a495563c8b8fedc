package graft.sources

import graft.Materialize.CheckpointOps
import com.fasterxml.jackson.databind.ObjectMapper
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connection settings for the LIVE embedding transport — the last of
  * the reference's wire protocols to gain a live analog (reference:
  * embedding_service.py:50-124, the OpenAI `/v1/embeddings` POST).
  * `toString` redacts the API key so the conf can sit inside plan
  * descriptions and logs, like [[HttpConf]]. */
final case class EmbeddingConf(
    endpoint: String,
    apiKey: String,
    model: String = "text-embedding-3-small",
    dimensions: Int = 1536,
    batchSize: Int = 128,
    retry: RetryConf = RetryConf(maxAttempts = 3, baseDelayMs = 0)) {
  override def toString: String =
    s"EmbeddingConf($endpoint, model=$model, dim=$dimensions, " +
      s"batch=$batchSize, apiKey=***)"
}

/** A retryable embedding-service failure: 429 / 5xx, the taxonomy the
  * reference's client retries (and [[RetryPolicy]] already drives for
  * the report pages). */
final class TransientEmbedError(status: Int, attempt: Int)
  extends RuntimeException(s"transient embedding fault: HTTP $status (attempt $attempt)")
  with TransientFault

/** A 200 whose payload cannot be trusted — unparseable JSON, a count
  * mismatch, or a short/non-finite vector. NOT transient (a server bug
  * does not resolve by retrying) and NOT fatal: the batch rides the
  * reference's zero-vector-on-error path (embedding_service.py:86,124),
  * counted, with a bounded blast radius of one batch. */
final class MalformedEmbedding(msg: String) extends IllegalStateException(msg)

object EmbeddingHttpClient {
  def apply(conf: EmbeddingConf): EmbeddingHttpClient =
    new EmbeddingHttpClient(conf, HttpPageClient.pooled)
}

/** Live batched-POST embedding client (reference:
  * embedding_service.py:91-124 `generate_embeddings_batch`): one
  * authenticated POST per batch of texts, `{"input":[…],"model":…,
  * "dimensions":…}`, Bearer auth, embeddings returned positionally.
  *
  *  - Newlines are flattened to spaces BEFORE the wire — real `\n`
  *    characters, fixing the reference's literal-`"\\n"` replace bug
  *    (embedding_service.py:67; SURVEY §2.8 F3) the same way the
  *    deterministic [[graft.pipeline.Embedder]] does.
  *  - 429 / 5xx → [[TransientEmbedError]]: the caller's
  *    [[RetryPolicy.withRetry]] drives bounded exponential backoff with
  *    jitter, the same de-synchronizer every other live client uses.
  *  - A malformed 200 (bad JSON, wrong count, short or non-finite
  *    vector) → [[MalformedEmbedding]] → the batch takes ZERO vectors,
  *    the reference's error contract — but counted via the `ok` flag
  *    instead of vanishing into a log line.
  *  - Auth/config 4xx (401, 403…) FAIL the read. This deliberately
  *    diverges from the reference, which zero-fills even on a bad API
  *    key: at corpus scale that silently poisons every embedding, the
  *    same unbounded-blast-radius class the weather scan's validation
  *    closed. A config error never resolves by zeroing harder.
  *
  * All requests are timeout-bounded on the JVM's shared pooled client. */
final class EmbeddingHttpClient private[sources] (conf: EmbeddingConf,
    http: HttpClient) {
  private val mapper = new ObjectMapper()

  /** One batched POST; embeddings in input order. Throws per the
    * taxonomy above — callers wanting reference semantics use
    * [[embedBatchOrZero]]. */
  def embedBatch(texts: Seq[String], attempt: Int): IndexedSeq[Array[Double]] = {
    val root = mapper.createObjectNode()
    val arr = root.putArray("input")
    texts.foreach(t => arr.add(t.replace('\n', ' ')))
    root.put("model", conf.model)
    // the `dimensions` param is a text-embedding-3 feature
    // (embedding_service.py:72-74)
    if (conf.model.startsWith("text-embedding-3"))
      root.put("dimensions", conf.dimensions)
    val req = HttpRequest.newBuilder(URI.create(conf.endpoint))
      .timeout(HttpPageClient.RequestTimeout)
      .header("Authorization", s"Bearer ${conf.apiKey}")
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(mapper.writeValueAsString(root)))
      .build()
    val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
    resp.statusCode() match {
      case 200 => parse(resp.body(), texts.size)
      case s @ (429 | 500 | 502 | 503 | 504) =>
        throw new TransientEmbedError(s, attempt)
      case other =>
        throw new IllegalStateException(
          s"HTTP $other from ${conf.endpoint}: ${resp.body().take(200)}")
    }
  }

  /** Reference semantics with exact accounting: retry transient faults;
    * when the budget is exhausted or the payload is malformed, the whole
    * batch takes zero vectors of the configured dimension
    * (embedding_service.py:124) and `ok = false` so the caller can
    * aggregate a loss count. Auth/config failures propagate. */
  def embedBatchOrZero(texts: Seq[String]): (IndexedSeq[Array[Double]], Boolean) =
    try {
      (RetryPolicy.withRetry(conf.retry)(embedBatch(texts, _)), true)
    } catch {
      case _: TransientFault | _: MalformedEmbedding =>
        (IndexedSeq.fill(texts.size)(Array.fill(conf.dimensions)(0.0)), false)
    }

  private def parse(body: String, expected: Int): IndexedSeq[Array[Double]] = {
    val j =
      try mapper.readTree(body)
      catch { case e: Exception =>
        throw new MalformedEmbedding(s"unparseable embedding payload: ${e.getMessage}") }
    val data = j.get("data")
    if (data == null || !data.isArray || data.size() != expected)
      throw new MalformedEmbedding(
        s"expected $expected embeddings, payload has ${if (data == null) "none" else data.size()}")
    // the wire carries an explicit index per entry; order by it rather
    // than trusting array order (the reference relies on the client
    // library doing the same)
    val out = new Array[Array[Double]](expected)
    (0 until data.size()).foreach { k =>
      val e = data.get(k)
      val idx = e.path("index").asInt(k)
      val emb = e.get("embedding")
      if (emb == null || !emb.isArray || emb.size() != conf.dimensions)
        throw new MalformedEmbedding(
          s"embedding $idx has ${if (emb == null) "no" else emb.size().toString} " +
            s"values, expected ${conf.dimensions}")
      val v = new Array[Double](conf.dimensions)
      (0 until conf.dimensions).foreach { i =>
        v(i) = emb.get(i).asDouble()
        if (v(i).isNaN || v(i).isInfinite)
          throw new MalformedEmbedding(s"non-finite value in embedding $idx")
      }
      if (idx < 0 || idx >= expected || out(idx) != null)
        throw new MalformedEmbedding(s"bad or duplicate embedding index $idx")
      out(idx) = v
    }
    out.toIndexedSeq
  }
}

/** Spark-side integration: the live analog of
  * [[graft.pipeline.Embedder.withEmbedding]]. The deterministic
  * embedder stays the oracle/bench default; this path exists for
  * parity with the reference's production wiring.
  *
  * Scale design: DISTINCT texts only — each distinct text is a paid
  * network call, so repeats embed once and join back (the dedup the
  * reference gets per-batch, globally here; the local kernel is a
  * cheap per-row function and does not deduplicate);
  * batches of `conf.batchSize` per POST amortize round trips;
  * partition-parallel fan-out with one pooled connection per executor
  * JVM; and the result frame is MATERIALIZED before returning so a
  * downstream action never re-runs the network fan-out (the FanOut
  * discipline). Loss accounting is exact for the same reason FanOut's
  * is: `embedding_ok` is a status column aggregated AFTER
  * materialization, not a transformation-side accumulator. */
object EmbeddingHttp {
  /** Attach `embedding` (array&lt;double&gt;) and `embedding_ok` to
    * `df` by calling the live service per batch of distinct non-null
    * `textCol` values. Null texts keep a null embedding, like the
    * deterministic path. */
  def withEmbedding(df: DataFrame, textCol: String, conf: EmbeddingConf): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val texts = df.select(col(textCol).cast("string").as("__text"))
      .na.drop().distinct().as[String]
    val embedded = texts.mapPartitions { it =>
      val client = EmbeddingHttpClient(conf)
      it.grouped(conf.batchSize).flatMap { batch =>
        val (vecs, ok) = client.embedBatchOrZero(batch)
        batch.iterator.zip(vecs.iterator).map { case (t, v) => (t, v, ok) }
      }
    }.toDF("__text", "embedding", "embedding_ok")
      .checkpointed()
    df.join(embedded.withColumnRenamed("__text", textCol), Seq(textCol), "left")
  }
}
