package graft

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.functions.Exact
import graft.pipeline.{Embedder, VectorStore}
import graft.sinks.JdbcSink
import java.net.InetSocketAddress
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** CAPSTONE: the reference's E1 lifecycle composed over LIVE wires end
  * to end — authenticated HTTP feed → daily aggregate → semantic
  * sentence → deterministic embedding → JDBC vector-store upsert →
  * partitioned read-back — with the overlap re-run updating in place
  * (main.py:341-369). Every hop uses the production code path: the
  * DSv2 live transport on a real socket, the codegen'd embedder, and
  * the transactional update-else-insert against embedded Derby. */
class LivePipelineSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark

  private val PageSize = 96 // one day of 15-min intervals per page
  private val Days = 4
  private var server: HttpServer = _
  private var base: String = _
  private val mints = new AtomicInteger(0)
  private val StartDays = java.time.LocalDate.parse("2024-01-01").toEpochDay

  private val EmbedDim = 8

  /** The embedding server's deterministic vector for a wire text. */
  private def srvVec(text: String): IndexedSeq[Double] =
    (0 until EmbedDim).map(i =>
      ((math.abs((text + "#" + i).hashCode) % 2000) - 1000) / 1000.0)

  override def beforeAll(): Unit = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/token", (x: HttpExchange) =>
      TestHttp.respond(x, 200,
        s"""{"access_token":"cap-tok-${mints.incrementAndGet()}","expires_in":"3600"}"""))
    server.createContext("/reports/sced", (x: HttpExchange) => {
      val p = TestHttp.queryParams(x)
      TestHttp.respond(x, 200, TestHttp.ercotPageJson(p("page").toInt,
        p("size").toInt, Days.toLong * PageSize, StartDays,
        p.get("settlementPoint")))
    })
    server.createContext("/v1/embeddings", (x: HttpExchange) => {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val body = mapper.readTree(new String(x.getRequestBody.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8))
      val input = body.get("input")
      val entries = (0 until input.size()).map { k =>
        s"""{"index":$k,"embedding":[${srvVec(input.get(k).asText()).mkString(",")}]}"""
      }.mkString(",")
      TestHttp.respond(x, 200, s"""{"object":"list","data":[$entries]}""")
    })
    server.start()
    base = s"http://127.0.0.1:${server.getAddress.getPort}"
  }

  override def afterAll(): Unit = if (server != null) server.stop(0)

  private def sentences() = {
    val feed = spark.read.format("ercot-pages")
      .option("endpoint", s"$base/reports/sced")
      .option("tokenUrl", s"$base/token")
      .option("username", "ops@example.com").option("password", "pw")
      .option("clientId", "client-1").option("subscriptionKey", "sub")
      .option("pageSize", PageSize).option("retryDelayMs", 0)
      .load() // page count comes from the _meta probe
    val daily = feed.groupBy(to_date(col("ts")).as("d"))
      .agg(Exact.davg(col("price")).as("avg_price"), max(col("mw")).as("peak_mw"))
    daily.select(
      concat(lit("ercot_daily_"), date_format(col("d"), "yyyyMMdd")).as("vector_id"),
      format_string("On %s average price was %.2f USD/MWh with peak output %.1f MW.",
        date_format(col("d"), "yyyy-MM-dd"), col("avg_price"), col("peak_mw"))
        .as("semantic_sentence"),
      col("d").as("updated_at"))
  }

  private def pipeline() =
    Embedder.withEmbedding(sentences(), "semantic_sentence")
      .select("vector_id", "embedding", "semantic_sentence", "updated_at")
      .localCheckpoint()

  /** The same chain with the LIVE embedding transport in the embed
    * slot — the reference's actual production wiring (feed → sentence
    * → OpenAI-shaped POST → vector store), every hop over a socket. */
  private def httpPipeline() =
    graft.sources.EmbeddingHttp.withEmbedding(sentences(), "semantic_sentence",
      graft.sources.EmbeddingConf(endpoint = s"$base/v1/embeddings",
        apiKey = "key-1", dimensions = EmbedDim, batchSize = 2,
        retry = graft.sources.RetryConf(3, 0)))
      .select("vector_id", "embedding", "semantic_sentence", "updated_at")
      .localCheckpoint()

  test("live feed -> aggregate -> sentence -> embed -> upsert -> read-back, idempotent under re-run") {
    val url = JdbcSink.memoryUrl("graft_live_capstone")
    val summaries = pipeline()
    assert(summaries.count() == Days)

    val first = VectorStore.store(summaries, url)
    assert(first == JdbcSink.UpsertStats(updated = 0, inserted = Days))
    // the overlap re-run (same window refetched over the wire): all
    // updates in place, never duplicates
    val second = VectorStore.store(pipeline(), url)
    assert(second == JdbcSink.UpsertStats(updated = Days, inserted = 0))

    val back = VectorStore.load(spark, url)
    assert(back.count() == Days)
    val rows = back.orderBy("vector_id").collect()
    assert(rows.head.getAs[String]("vector_id") == "ercot_daily_20240101")
    assert(rows.head.getAs[String]("semantic_sentence")
      .startsWith("On 2024-01-01 average price was "))
    // the stored embedding is the pgvector text literal of the
    // deterministic embedder's output for that very sentence
    val reparsed = back.select(
      split(regexp_replace(col("embedding"), "^\\[|\\]$", ""), ",")
        .cast("array<double>").as("stored_vec"),
      col("semantic_sentence"))
    val recomputed = Embedder.withEmbedding(
      reparsed.select("semantic_sentence"), "semantic_sentence")
    assert(reparsed.select(col("stored_vec"))
      .exceptAll(recomputed.select(col("embedding").cast("array<double>"))).count() == 0)
  }

  test("the LIVE embedding transport slots into the capstone, idempotent under re-run") {
    val url = JdbcSink.memoryUrl("graft_live_capstone_http")
    val first = VectorStore.store(httpPipeline(), url)
    assert(first == JdbcSink.UpsertStats(updated = 0, inserted = Days))
    // the overlap re-run re-embeds the same sentences over the wire;
    // the service is deterministic, so every row updates in place
    val second = VectorStore.store(httpPipeline(), url)
    assert(second == JdbcSink.UpsertStats(updated = Days, inserted = 0))

    val back = VectorStore.load(spark, url)
    assert(back.count() == Days)
    // stored vectors are the SERVICE's embeddings of the wire sentences
    val rows = back.orderBy("vector_id").collect()
    rows.foreach { r =>
      val expect = srvVec(r.getAs[String]("semantic_sentence"))
      val stored = r.getAs[String]("embedding")
        .stripPrefix("[").stripSuffix("]").split(",").map(_.toDouble).toIndexedSeq
      assert(stored == expect, s"vector for ${r.getAs[String]("vector_id")}")
    }
  }
}
