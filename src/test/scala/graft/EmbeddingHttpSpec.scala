package graft

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.sources.{EmbeddingConf, EmbeddingHttp, EmbeddingHttpClient, RetryConf}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.concurrent.TrieMap

/** The LIVE embedding transport end to end over a real socket: an
  * in-process server speaks the reference embedding API's wire shape —
  * Bearer auth, `{"input":[…],"model":…,"dimensions":…}` POST,
  * per-entry `index` + `embedding` response (embedding_service.py:
  * 50-124) — and [[EmbeddingHttp.withEmbedding]] consumes it through
  * the same batched client a production pipeline would. Faults are
  * injected server-side (429 storms, malformed 200s, short vectors,
  * bad key) so the retry / zero-vector / fail-fast taxonomy is
  * exercised against real HTTP responses. */
class EmbeddingHttpSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark

  private val Dim = 8
  private val mapper = new ObjectMapper()

  private var server: HttpServer = _
  private var base: String = _
  private val posts = new AtomicInteger(0)
  private val batchAttempts = TrieMap.empty[String, Int] // first text → POSTs
  @volatile private var rateLimit429s = 0 // every batch 429s its first N POSTs
  @volatile private var mode = "ok"       // ok | nodata | short
  private val seenInputs = TrieMap.empty[String, Int] // wire text → times seen

  /** The server's deterministic embedding of a (wire) text. */
  private def vec(text: String): IndexedSeq[Double] =
    (0 until Dim).map(i => ((math.abs((text + "#" + i).hashCode) % 2000) - 1000) / 1000.0)

  override def beforeAll(): Unit = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/v1/embeddings", (x: HttpExchange) => {
      val auth = Option(x.getRequestHeaders.getFirst("Authorization")).getOrElse("")
      if (auth != "Bearer key-1")
        TestHttp.respond(x, 401, """{"error":{"message":"bad api key"}}""")
      else {
        posts.incrementAndGet()
        val body = mapper.readTree(new String(x.getRequestBody.readAllBytes(), UTF_8))
        val input = body.get("input")
        val texts = (0 until input.size()).map(input.get(_).asText())
        texts.foreach(t => seenInputs.updateWith(t)(c => Some(c.getOrElse(0) + 1)))
        val n = batchAttempts.updateWith(texts.head)(c => Some(c.getOrElse(0) + 1)).get
        if (n <= rateLimit429s)
          TestHttp.respond(x, 429, """{"error":{"message":"rate limited"}}""")
        else mode match {
          case "nodata" => TestHttp.respond(x, 200, """{"object":"list"}""")
          case _ =>
            // entries deliberately in REVERSE order: the client must
            // order by the wire `index`, not array position
            val entries = texts.indices.reverse.map { k =>
              val dims = if (mode == "short" && k == 0) Dim - 1 else Dim
              s"""{"object":"embedding","index":$k,"embedding":[${
                vec(texts(k)).take(dims).mkString(",")}]}"""
            }.mkString(",")
            TestHttp.respond(x, 200,
              s"""{"object":"list","data":[$entries],"model":"${
                body.path("model").asText()}","usage":{"total_tokens":0}}""")
        }
      }
    })
    server.start()
    base = s"http://127.0.0.1:${server.getAddress.getPort}"
  }

  override def afterAll(): Unit = if (server != null) server.stop(0)

  private def reset(): Unit = {
    posts.set(0); batchAttempts.clear(); seenInputs.clear()
    rateLimit429s = 0; mode = "ok"
  }

  private def conf(maxAttempts: Int = 3, apiKey: String = "key-1") =
    EmbeddingConf(endpoint = s"$base/v1/embeddings", apiKey = apiKey,
      dimensions = Dim, batchSize = 3,
      retry = RetryConf(maxAttempts, baseDelayMs = 0))

  import spark.implicits._

  private def docs = Seq(
    "alpha report", "beta\nsummary", "gamma digest",
    "alpha report", // duplicate: must embed ONCE
    "delta brief", "epsilon note").toDF("semantic_sentence")

  test("batched POST embeds each distinct text once; newline-flattened; index-ordered decode") {
    reset()
    val out = EmbeddingHttp.withEmbedding(docs, "semantic_sentence", conf())
    val rows = out.collect()
    assert(rows.length == 6 && rows.forall(_.getAs[Boolean]("embedding_ok")))
    // values match the server's function of the WIRE text (newlines → spaces),
    // attached back to the ORIGINAL text — and survive the reversed wire order
    rows.foreach { r =>
      val wire = r.getAs[String]("semantic_sentence").replace('\n', ' ')
      assert(r.getSeq[Double](r.fieldIndex("embedding")) == vec(wire), s"text: $wire")
    }
    assert(seenInputs.keys.forall(!_.contains("\n")), "newlines must not reach the wire")
    assert(seenInputs.values.forall(_ == 1),
      s"every distinct text embeds exactly once, saw: $seenInputs")
    assert(seenInputs.size == 5, "5 distinct texts after dedup")
  }

  test("429 storm rides the bounded retry to success") {
    reset(); rateLimit429s = 2
    val out = EmbeddingHttp.withEmbedding(docs, "semantic_sentence", conf(maxAttempts = 3))
    assert(out.collect().forall(_.getAs[Boolean]("embedding_ok")))
    assert(batchAttempts.values.forall(_ >= 3), s"attempts: $batchAttempts")
  }

  test("exhausted retry budget → zero vectors, counted, the job survives") {
    reset(); rateLimit429s = 2
    val out = EmbeddingHttp.withEmbedding(docs, "semantic_sentence", conf(maxAttempts = 2))
    val rows = out.collect()
    assert(rows.length == 6 && rows.forall(r => !r.getAs[Boolean]("embedding_ok")))
    assert(rows.forall(r => r.getSeq[Double](r.fieldIndex("embedding")).forall(_ == 0.0)))
  }

  test("malformed 200 → zero vectors WITHOUT burning the retry budget") {
    reset(); mode = "nodata"
    val out = EmbeddingHttp.withEmbedding(docs, "semantic_sentence", conf())
    assert(out.collect().forall(r => !r.getAs[Boolean]("embedding_ok")))
    assert(batchAttempts.values.forall(_ == 1),
      s"a server bug must not be retried, saw: $batchAttempts")
  }

  test("short vector in an otherwise-healthy payload zeroes the batch") {
    reset(); mode = "short"
    val out = EmbeddingHttp.withEmbedding(docs, "semantic_sentence", conf())
    val rows = out.collect()
    assert(rows.forall(r => !r.getAs[Boolean]("embedding_ok")))
    assert(rows.forall(r => r.getSeq[Double](r.fieldIndex("embedding")).length == Dim),
      "zero vectors still carry the configured dimension")
  }

  test("bad api key fails the read (no silent corpus-wide zero-fill)") {
    reset()
    val e = intercept[org.apache.spark.SparkException] {
      EmbeddingHttp.withEmbedding(docs, "semantic_sentence",
        conf(apiKey = "WRONG")).collect()
    }
    def httpErr(t: Throwable): Boolean =
      t != null && (t.getMessage.contains("HTTP 401") || httpErr(t.getCause))
    assert(httpErr(e))
  }

  test("null texts keep a null embedding, like the deterministic path") {
    reset()
    val withNull = docs.union(Seq.empty[String].toDF("semantic_sentence")
      .union(spark.sql("SELECT CAST(NULL AS STRING) AS semantic_sentence")))
    val out = EmbeddingHttp.withEmbedding(withNull, "semantic_sentence", conf())
    val nulls = out.filter(col("semantic_sentence").isNull).collect()
    assert(nulls.length == 1 && nulls.head.isNullAt(nulls.head.fieldIndex("embedding")))
  }
}
