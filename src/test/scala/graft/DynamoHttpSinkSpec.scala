package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.sinks.{AwsSigV4, DynamoConf, DynamoHttpClient, SinkOps}
import graft.sources.RetryConf
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.concurrent.TrieMap

/** The live key-value sink, end to end over a real socket: an
  * in-process server speaks DynamoDB's published wire protocol —
  * SigV4-VERIFIED `application/x-amz-json-1.0` POSTs, typed
  * AttributeValue items, `ConditionalCheckFailedException`,
  * throttling, and `UnprocessedItems` echoes — and the DataFrame-level
  * drivers push testdata rows through it with the same stats contract
  * the modeled sink (SinkOpsSpec) pins. */
class DynamoHttpSinkSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark
  private val mapper = new ObjectMapper()

  private var server: HttpServer = _
  private var conf: DynamoConf = _
  private val Secret = "test-secret-key"
  private val table = TrieMap.empty[String, JsonNode] // item_id → Item
  private val calls = new AtomicInteger(0)
  @volatile private var throttleFirstN = 0 // first N POSTs → throttled
  @volatile private var shedPerBatch = 0   // echo this many items unprocessed, first call only
  @volatile private var shedOnce = false
  @volatile private var shedForever = 0    // ALWAYS echo the last N items unprocessed

  private def respond(x: HttpExchange, code: Int, body: String): Unit =
    TestHttp.respond(x, code, body, contentType = "application/x-amz-json-1.0")

  private def err(x: HttpExchange, code: Int, typ: String): Unit =
    respond(x, code,
      s"""{"__type":"com.amazonaws.dynamodb.v20120810#$typ","message":"$typ"}""")

  private def keyOf(item: JsonNode): String = item.get("item_id").get("S").asText()

  override def beforeAll(): Unit = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (x: HttpExchange) => {
      val body = new String(x.getRequestBody.readAllBytes(), UTF_8)
      val target = Option(x.getRequestHeaders.getFirst("X-Amz-Target")).getOrElse("")
      val amzDate = Option(x.getRequestHeaders.getFirst("X-Amz-Date")).getOrElse("")
      val host = Option(x.getRequestHeaders.getFirst("Host")).getOrElse("")
      // The server holds the same secret and RECOMPUTES the signature
      // over the REQUEST'S OWN path — a wrong key, a tampered payload,
      // or a signature that ignores the URI path must not authenticate.
      val want = AwsSigV4.authorization(conf.copy(secretKey = Secret),
        amzDate, host, target, body,
        path = x.getRequestURI.getPath,
        query = Option(x.getRequestURI.getQuery).getOrElse(""))
      if (Option(x.getRequestHeaders.getFirst("Authorization")).getOrElse("") != want)
        err(x, 403, "UnrecognizedClientException")
      else if (throttleFirstN > 0 && calls.incrementAndGet() <= throttleFirstN)
        err(x, 400, "ProvisionedThroughputExceededException")
      else target match {
        case "DynamoDB_20120810.PutItem" =>
          val req = mapper.readTree(body)
          val item = req.get("Item")
          val cond = Option(req.get("ConditionExpression")).map(_.asText())
          if (cond.contains("attribute_not_exists(item_id)") &&
            table.contains(keyOf(item))) err(x, 400, "ConditionalCheckFailedException")
          else { table.put(keyOf(item), item); respond(x, 200, "{}") }
        case "DynamoDB_20120810.BatchWriteItem" =>
          val req = mapper.readTree(body)
          val tbl = req.get("RequestItems").fields().next()
          val puts = tbl.getValue
          val n = puts.size()
          val shed =
            if (shedForever > 0) math.min(shedForever, n)
            else if (shedOnce) { shedOnce = false; math.min(shedPerBatch, n) }
            else 0
          (0 until (n - shed)).foreach { i =>
            val item = puts.get(i).get("PutRequest").get("Item")
            table.put(keyOf(item), item)
          }
          // echo the shed PutRequests verbatim, exactly as the service does
          val unproc = if (shed == 0) "{}" else {
            val arr = mapper.createArrayNode()
            (n - shed until n).foreach(i => arr.add(puts.get(i)))
            s"""{"${tbl.getKey}":${mapper.writeValueAsString(arr)}}"""
          }
          respond(x, 200, s"""{"UnprocessedItems":$unproc}""")
        case t => err(x, 400, s"UnknownOperationException:$t")
      }
    })
    server.start()
    conf = DynamoConf(s"http://127.0.0.1:${server.getAddress.getPort}/",
      region = "us-east-1", accessKey = "AKIATEST", secretKey = Secret)
  }

  override def afterAll(): Unit = if (server != null) server.stop(0)

  private def reset(): Unit = {
    table.clear(); calls.set(0); throttleFirstN = 0; shedPerBatch = 0
    shedOnce = false; shedForever = 0
  }

  private val retry = RetryConf(maxAttempts = 3, baseDelayMs = 0)

  /** The K3 flatten shape: typed Decimal + raw_json, from real testdata. */
  private def frame(n: Int) = {
    val df = Tables.load(spark, "/root/testdata/sf0.001", "orders")
      .select(
        concat(lit("ord-"), col("o_orderkey")).as("item_id"),
        col("o_orderstatus").as("description"),
        col("o_totalprice").cast("decimal(12,2)").as("efficiency"),
        to_json(struct(col("o_orderkey"), col("o_orderdate"))).as("raw_json"))
      .orderBy("item_id").limit(n) // deterministic prefix: tests overlap batches
    df.localCheckpoint()
  }

  test("batch store pushes typed items over the signed wire; decimals survive digit-exact") {
    reset()
    val df = frame(60) // 3 BatchWriteItem pages of 25/25/10
    val stats = DynamoHttpClient.batchStore(df, "energy_data", conf, retry)
    assert(stats == SinkOps.PutStats(attempted = 60, stored = 60, failed = 0))
    assert(table.size == 60)
    // Decimal fidelity: the N string equals the source decimal's text.
    val want = df.collect().map(r => "ord-" + r.getString(0).stripPrefix("ord-") ->
      r.getDecimal(2).stripTrailingZeros.toPlainString).toMap
    want.foreach { case (id, dec) =>
      assert(table(id).get("efficiency").get("N").asText() == dec,
        s"decimal drift for $id")
    }
    assert(table.values.forall(_.get("raw_json").get("S").asText().startsWith("{")))
  }

  test("conditional put: existing keys are CondFailed, fresh keys stored") {
    reset()
    val first = frame(20)
    DynamoHttpClient.batchStore(first, "energy_data", conf, retry)
    val second = frame(30) // 20 overlap + 10 fresh
    val stats = DynamoHttpClient.putConditional(second, "energy_data", conf,
      "attribute_not_exists(item_id)", retry)
    assert(stats == SinkOps.CondPutStats(attempted = 30, stored = 10,
      condFailed = 20, failed = 0))
    assert(table.size == 30)
  }

  test("throttling is retried under the bounded backoff; budget exhaustion fails the batch") {
    reset()
    throttleFirstN = 2 // first two POSTs throttle, then the server recovers
    val stats = DynamoHttpClient.batchStore(frame(10), "energy_data", conf, retry)
    assert(stats.stored == 10, s"stats: $stats")

    reset()
    throttleFirstN = 1000 // never recovers
    val s2 = DynamoHttpClient.batchStore(frame(10), "energy_data", conf, retry)
    assert(s2 == SinkOps.PutStats(attempted = 10, stored = 0, failed = 10))
  }

  test("UnprocessedItems echoes are re-driven until the page drains") {
    reset()
    shedPerBatch = 7; shedOnce = true // first page: 7 of 25 come back unprocessed
    val stats = DynamoHttpClient.batchStore(frame(25), "energy_data", conf, retry)
    assert(stats == SinkOps.PutStats(attempted = 25, stored = 25, failed = 0))
    assert(table.size == 25, "shed items must be re-driven to the store")
  }

  test("a never-draining item fails ALONE: rows stored in earlier rounds stay counted") {
    reset()
    shedForever = 1 // the last item of every page comes back unprocessed, always
    val stats = DynamoHttpClient.batchStore(frame(25), "energy_data", conf, retry)
    // round 1 stores 24 and echoes 1; the re-drive budget exhausts on
    // that one item — the 24 accepted rows must NOT be swept into the
    // batch's failure count (they ARE in the store).
    assert(stats == SinkOps.PutStats(attempted = 25, stored = 24, failed = 1),
      s"stats: $stats")
    assert(table.size == 24)
  }

  test("SigV4 canonicalization follows the published algorithm") {
    // Query params sort by encoded name and percent-encode outside the
    // RFC 3986 unreserved set; bare keys sign as `k=`; path segments
    // encode with slashes preserved.
    assert(AwsSigV4.canonicalQuery("b=2&a=1") == "a=1&b=2")
    assert(AwsSigV4.canonicalQuery("a=b c&x=~") == "a=b%20c&x=~")
    assert(AwsSigV4.canonicalQuery("flag") == "flag=")
    assert(AwsSigV4.canonicalQuery("") == "")
    assert(AwsSigV4.canonicalPath("/dynamodb local/v1") == "/dynamodb%20local/v1")
    assert(AwsSigV4.canonicalPath("") == "/")
  }

  test("an endpoint with a query string signs its normalized form end-to-end") {
    reset()
    // decoded on both sides (URI.getQuery / exchange getQuery), the
    // canonical request must still agree after sort+encode
    val queried = conf.copy(endpoint = conf.endpoint + "?tenant=local%20dev&a=1")
    val stats = DynamoHttpClient.batchStore(frame(5), "energy_data", queried, retry)
    assert(stats == SinkOps.PutStats(attempted = 5, stored = 5, failed = 0))
  }

  test("an endpoint behind a URI path signs what it sends (proxy/emulator shape)") {
    reset()
    // same server, non-root path: the canonical request must cover it
    val pathed = conf.copy(endpoint = conf.endpoint + "dynamodb/local")
    val stats = DynamoHttpClient.batchStore(frame(5), "energy_data", pathed, retry)
    assert(stats == SinkOps.PutStats(attempted = 5, stored = 5, failed = 0))
    assert(table.size == 5)
  }

  test("a wrong secret never authenticates (server-side signature verification)") {
    reset()
    val bad = conf.copy(secretKey = "WRONG")
    val stats = DynamoHttpClient.batchStore(frame(5), "energy_data", bad, retry)
    assert(stats == SinkOps.PutStats(attempted = 5, stored = 0, failed = 5))
    assert(table.isEmpty)
  }
}
