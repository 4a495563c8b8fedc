package graft.sinks

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.sources.{RetryConf, RetryPolicy, TransientFault}
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.time.ZoneOffset.UTC
import java.time.format.DateTimeFormatter
import javax.crypto.Mac
import javax.crypto.spec.SecretKeySpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import scala.util.control.NonFatal

/** Connection settings for the live key-value store transport. The
  * reference reaches DynamoDB through boto3 (dynamodb.py:40-52, with an
  * optional `endpoint_url` override — the same knob this conf exposes,
  * which is how its own tests point at DynamoDB Local); this client
  * speaks the service's public wire protocol directly. `toString`
  * redacts the secret. */
final case class DynamoConf(
    endpoint: String,
    region: String,
    accessKey: String,
    secretKey: String) {
  override def toString: String =
    s"DynamoConf($endpoint, region=$region, accessKey=$accessKey, secretKey=***)"
}

/** Store-side throttling (`ProvisionedThroughputExceededException`) —
  * retryable by contract, unlike a conditional-check failure. */
final class DynamoThrottled(attempt: Int)
  extends RuntimeException(s"throughput exceeded (attempt $attempt)")
  with TransientFault

/** AWS Signature Version 4 — the published request-signing algorithm
  * (public AWS documentation; no SDK involved). Implemented here so the
  * wire client is self-contained and the spec's server can VERIFY the
  * signature with the shared secret. */
object AwsSigV4 {
  private val AmzDateFmt = DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmss'Z'").withZone(UTC)

  private def hmac(key: Array[Byte], data: String): Array[Byte] = {
    val mac = Mac.getInstance("HmacSHA256")
    mac.init(new SecretKeySpec(key, "HmacSHA256"))
    mac.doFinal(data.getBytes(UTF_8))
  }

  private def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString

  private def sha256Hex(s: String): String =
    hex(MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8)))

  def amzDate(epochMillis: Long): String =
    AmzDateFmt.format(java.time.Instant.ofEpochMilli(epochMillis))

  /** The spec's `UriEncode`: RFC 3986 unreserved set stays literal,
    * everything else percent-encodes UPPERCASE byte-wise; `/` is kept
    * only when encoding a path. */
  private[graft] def uriEncode(s: String, keepSlash: Boolean): String = {
    val sb = new StringBuilder
    s.getBytes(UTF_8).foreach { b =>
      val c = (b & 0xff).toChar
      if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
          (c >= '0' && c <= '9') || c == '-' || c == '_' || c == '.' || c == '~' ||
          (c == '/' && keepSlash)) sb.append(c)
      else sb.append(f"%%${b & 0xff}%02X")
    }
    sb.toString
  }

  /** Canonical URI: each (already-decoded) path segment URI-encoded,
    * slashes preserved, empty path → "/". */
  private[graft] def canonicalPath(path: String): String =
    if (path == null || path.isEmpty) "/" else uriEncode(path, keepSlash = true)

  /** Canonical query string: `k=v` pairs (already-decoded) URI-encoded
    * and sorted by encoded name, then encoded value — the RFC-required
    * normalization a real verifier recomputes. A bare `k` signs as
    * `k=`. */
  private[graft] def canonicalQuery(query: String): String =
    if (query == null || query.isEmpty) ""
    else query.split("&").iterator.filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      val (k, v) = if (i < 0) (kv, "") else (kv.substring(0, i), kv.substring(i + 1))
      (uriEncode(k, keepSlash = false), uriEncode(v, keepSlash = false))
    }.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString("&")

  /** Compute the `Authorization` header for a POST to `path`/`query`
    * (both in DECODED form — `URI.getPath`/`getQuery`) with the given
    * signed headers. Deterministic in its inputs, so a server holding
    * the same secret recomputes and compares. The canonical URI/query
    * are normalized per the published algorithm (segments encoded,
    * params sorted) — an endpoint behind a path or query (a proxy, a
    * local emulator) must canonicalize identically or a real verifier
    * rejects every request. */
  def authorization(conf: DynamoConf, amzDate: String, host: String,
      target: String, payload: String, path: String = "/",
      query: String = ""): String = {
    val service = "dynamodb"
    val date = amzDate.substring(0, 8)
    val signedHeaders = "content-type;host;x-amz-date;x-amz-target"
    val canonical = List(
      "POST", canonicalPath(path), canonicalQuery(query),
      s"content-type:application/x-amz-json-1.0",
      s"host:$host",
      s"x-amz-date:$amzDate",
      s"x-amz-target:$target",
      "",
      signedHeaders,
      sha256Hex(payload)).mkString("\n")
    val scope = s"$date/${conf.region}/$service/aws4_request"
    val stringToSign = List("AWS4-HMAC-SHA256", amzDate, scope,
      sha256Hex(canonical)).mkString("\n")
    val kSigning = hmac(hmac(hmac(hmac(
      s"AWS4${conf.secretKey}".getBytes(UTF_8), date),
      conf.region), service), "aws4_request")
    val signature = hex(hmac(kSigning, stringToSign))
    s"AWS4-HMAC-SHA256 Credential=${conf.accessKey}/$scope, " +
      s"SignedHeaders=$signedHeaders, Signature=$signature"
  }
}

/** Spark row → DynamoDB AttributeValue JSON (the service's typed wire
  * encoding). Numbers travel as the `N` STRING form — the wire-level
  * fact behind the reference wrapping every float in `Decimal`
  * (dynamodb.py:84-96): the service parses the decimal text, so
  * Spark-side DecimalType survives digit-exact with no float round
  * trip. */
object DynamoJson {
  def item(mapper: ObjectMapper, schema: StructType, row: Row): ObjectNode = {
    val item = mapper.createObjectNode()
    schema.fields.zipWithIndex.foreach { case (f, i) =>
      val av = mapper.createObjectNode()
      if (row.isNullAt(i)) av.put("NULL", true)
      else f.dataType match {
        case StringType => av.put("S", row.getString(i))
        case BooleanType => av.put("BOOL", row.getBoolean(i))
        case _: DecimalType => av.put("N", row.getDecimal(i).stripTrailingZeros.toPlainString)
        case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType =>
          av.put("N", String.valueOf(row.get(i))) // every numeric is an N
        // Calendar types render timezone-independently (Timestamp
        // .toString would shift with the executor's default TZ).
        case DateType => av.put("S", row.getDate(i).toLocalDate.toString)
        case TimestampType => av.put("S", row.getTimestamp(i).toInstant.toString)
        case _ => av.put("S", String.valueOf(row.get(i))) // raw_json-style fallback
      }
      item.set[ObjectNode](f.name, av)
    }
    item
  }
}

object DynamoHttpClient {
  /** Bounded waits, same rationale as [[graft.sources.HttpPageClient]]:
    * a silent remote must fail a task, not hang it. */
  private val ConnectTimeout = java.time.Duration.ofSeconds(10)
  private[sinks] val RequestTimeout = java.time.Duration.ofSeconds(60)

  /** One pooled HTTP client per JVM (all task slots share it). */
  private lazy val sharedHttp: HttpClient =
    HttpClient.newBuilder().connectTimeout(ConnectTimeout).build()

  /** Memoized per conf: the per-row/per-batch `apply` in the drivers
    * reuses one client (and its ObjectMapper) instead of allocating on
    * the hot put path. */
  private val clientCache = new java.util.concurrent.ConcurrentHashMap[DynamoConf, DynamoHttpClient]()

  def apply(conf: DynamoConf): DynamoHttpClient =
    clientCache.computeIfAbsent(conf, c => new DynamoHttpClient(c, sharedHttp))

  /** 400-level `__type`s the service contract marks retryable — beyond
    * per-table throughput, on-demand tables throttle as
    * ThrottlingException and account limits as RequestLimitExceeded. */
  private val RetryableErrors = Set(
    "ProvisionedThroughputExceededException",
    "ThrottlingException",
    "RequestLimitExceeded")

  /** Outcome of a conditional put: stored, or rejected by the
    * condition (dynamodb.py:155-165 counts these apart from errors). */
  sealed trait PutOutcome
  case object Stored extends PutOutcome
  case object CondFailed extends PutOutcome

  // ---- DataFrame-level drivers (one client per partition) ----------

  /** K4 conditional flavor over the REAL wire: per-item `PutItem` with
    * a ConditionExpression, batched per partition through
    * [[SinkOps.putBatchedIf]] so the accounting contract is shared with
    * the modeled sink. */
  def putConditional(df: DataFrame, table: String, conf: DynamoConf,
      condition: String, retry: RetryConf): SinkOps.CondPutStats = {
    val schema = df.schema
    SinkOps.putBatchedIf(df, batchSize = 25) { row =>
      val client = DynamoHttpClient(conf)
      RetryPolicy.withRetry(retry) { attempt =>
        client.putItem(table, schema, row, Some(condition), attempt) == Stored
      }
    }
  }

  /** K4 batch flavor over the REAL wire: 25-item `BatchWriteItem`
    * pages (the service limit the reference batches to,
    * dynamodb.py:192-194), re-driving `UnprocessedItems` under the
    * shared bounded backoff until the page drains. */
  def batchStore(df: DataFrame, table: String, conf: DynamoConf,
      retry: RetryConf): SinkOps.PutStats = {
    val schema = df.schema
    SinkOps.putBatched(df, batchSize = 25) { batch =>
      val client = DynamoHttpClient(conf)
      var pending = batch
      var round = 0
      // Rows that left `pending` in an earlier round were ACCEPTED by
      // the service; if the drain later gives up, they must be
      // accounted as stored, not swept into the batch's failure.
      def drained = batch.size - pending.size
      while (pending.nonEmpty) {
        round += 1
        if (round > retry.maxAttempts)
          throw new SinkOps.PartialBatchFailure(drained,
            s"${pending.size} items still unprocessed after ${retry.maxAttempts} rounds " +
              s"($drained of ${batch.size} stored)")
        // same jittered ladder as the transient-retry path: shed pages
        // hit whole fleets at once, and deterministic re-drive delays
        // would re-synchronize the herd every round
        if (round > 1) RetryPolicy.pause(retry, round - 1)
        pending =
          try RetryPolicy.withRetry(retry) {
            attempt => client.batchWrite(table, schema, pending, attempt)
          } catch {
            case NonFatal(e) if drained > 0 => throw new SinkOps.PartialBatchFailure(
              drained, s"batch drain failed with $drained of ${batch.size} stored", e)
          }
      }
    }
  }
}

/** Live DynamoDB wire client: SigV4-signed `application/x-amz-json-1.0`
  * POSTs carrying the service's published JSON protocol. Semantics
  * mirror the reference's boto3 usage (dynamodb.py:143-228):
  * conditional-check failures are a counted outcome, throttling is
  * retryable, `BatchWriteItem` may return `UnprocessedItems` the caller
  * must re-drive, and every other error fails the item. */
final class DynamoHttpClient private (conf: DynamoConf, http: HttpClient) {
  import DynamoHttpClient._
  private val mapper = new ObjectMapper()

  private def post(target: String, payload: String, attempt: Int): JsonNode = {
    val date = AwsSigV4.amzDate(System.currentTimeMillis())
    val uri = URI.create(conf.endpoint)
    val req = HttpRequest.newBuilder(uri)
      .timeout(DynamoHttpClient.RequestTimeout)
      .POST(HttpRequest.BodyPublishers.ofString(payload))
      .header("Content-Type", "application/x-amz-json-1.0")
      .header("X-Amz-Date", date)
      .header("X-Amz-Target", target)
      .header("Authorization",
        AwsSigV4.authorization(conf, date, uri.getAuthority, target, payload,
          path = Option(uri.getPath).getOrElse("/"),
          query = Option(uri.getQuery).getOrElse("")))
      .build()
    val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
    resp.statusCode() match {
      case 200 => mapper.readTree(resp.body())
      case 400 =>
        val t = Option(mapper.readTree(resp.body()).get("__type"))
          .map(_.asText()).getOrElse("")
        if (DynamoHttpClient.RetryableErrors.exists(t.endsWith))
          throw new DynamoThrottled(attempt)
        else throw new DynamoClientError(t, resp.body())
      case 500 | 503 => throw new DynamoThrottled(attempt) // service fault: retryable
      case other => throw new IllegalStateException(
        s"HTTP $other from ${conf.endpoint}: ${resp.body().take(200)}")
    }
  }

  def putItem(table: String, schema: StructType, row: Row,
      conditionExpression: Option[String], attempt: Int): PutOutcome = {
    val body = mapper.createObjectNode()
    body.put("TableName", table)
    body.set[ObjectNode]("Item", DynamoJson.item(mapper, schema, row))
    conditionExpression.foreach(body.put("ConditionExpression", _))
    try { post("DynamoDB_20120810.PutItem", mapper.writeValueAsString(body), attempt); Stored }
    catch {
      case e: DynamoClientError if e.errorType.endsWith("ConditionalCheckFailedException") =>
        CondFailed
    }
  }

  /** One `BatchWriteItem` page; returns the rows the service left
    * unprocessed (throughput shedding), for the caller to re-drive.
    * The service echoes unprocessed PutRequests verbatim; rows are
    * recovered by matching the echoed AttributeValue items against the
    * ones we built (JsonNode equality is field-order-insensitive, so a
    * reordering service still matches). */
  def batchWrite(table: String, schema: StructType, batch: Seq[Row],
      attempt: Int): Seq[Row] = {
    val items: Seq[(Row, ObjectNode)] =
      batch.map(r => r -> DynamoJson.item(mapper, schema, r))
    val body = mapper.createObjectNode()
    val reqItems = mapper.createObjectNode()
    val arr = mapper.createArrayNode()
    items.foreach { case (_, item) =>
      val put = mapper.createObjectNode()
      val pr = mapper.createObjectNode()
      pr.set[ObjectNode]("Item", item)
      put.set[ObjectNode]("PutRequest", pr)
      arr.add(put)
    }
    reqItems.set[com.fasterxml.jackson.databind.node.ArrayNode](table, arr)
    body.set[ObjectNode]("RequestItems", reqItems)
    val resp = post("DynamoDB_20120810.BatchWriteItem",
      mapper.writeValueAsString(body), attempt)
    val echoed: Seq[JsonNode] = Option(resp.get("UnprocessedItems"))
      .flatMap(u => Option(u.get(table))).toSeq.flatMap { a =>
        (0 until a.size()).map(i => a.get(i).get("PutRequest").get("Item"))
      }
    if (echoed.isEmpty) Nil
    else {
      // Consume echoes as a MULTISET: k duplicate rows with one shed
      // copy must re-drive one row, not all k (an exists-match would
      // keep re-driving rows the service already stored).
      val remaining = scala.collection.mutable.Buffer.from(echoed)
      items.flatMap { case (row, item) =>
        val ix = remaining.indexOf(item)
        if (ix < 0) None else { remaining.remove(ix); Some(row) }
      }
    }
  }
}

/** Non-retryable 400 from the store, carrying the service error type
  * (e.g. ConditionalCheckFailedException). */
final class DynamoClientError(val errorType: String, body: String)
  extends RuntimeException(s"$errorType: ${body.take(200)}")
