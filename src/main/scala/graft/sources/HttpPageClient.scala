package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.net.{URI, URLEncoder}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.LocalDateTime
import java.time.ZoneOffset.UTC
import java.util.concurrent.ConcurrentHashMap

/** Connection settings for the LIVE paginated-report transport — the
  * piece earlier rounds modeled with injectable faults. Field-for-field
  * this is the reference client's configuration surface: the report
  * endpoint + subscription key header (client.py:41-58), the B2C ROPC
  * token URL with username/password/clientId (auth.py:26-29,61-78), and
  * the 60-min/T−5 token timing (auth.py:95-101).
  *
  * `toString` redacts the password so the conf can sit inside plan
  * descriptions and logs. */
final case class HttpConf(
    endpoint: String,
    tokenUrl: String,
    username: String,
    password: String,
    clientId: String,
    subscriptionKey: String,
    tokenTtlMs: Long,
    refreshAheadMs: Long) {
  override def toString: String =
    s"HttpConf($endpoint, tokenUrl=$tokenUrl, user=$username, password=***, " +
      s"clientId=$clientId, subscriptionKey=***)"
}

/** One decoded report page: the positional `data` rows plus the
  * `fields`-derived name→ordinal map (the reference decodes payloads
  * positionally through exactly this mapping, main.py:59-74) and the
  * `_meta` record count a planner probe reads to size the scan. */
final case class PagePayload(fieldIndex: Map[String, Int],
    rows: IndexedSeq[IndexedSeq[JsonNode]], totalRecords: Long)

object HttpPageClient {
  /** Every live call is bounded: a remote that accepts the connection
    * and never answers must surface as a retryable failure, not a hung
    * task (the mint even runs under the TokenProvider lock, so an
    * unbounded wait there would stall every reader in the JVM). */
  private[sources] val ConnectTimeout = java.time.Duration.ofSeconds(10)
  private[sources] val RequestTimeout = java.time.Duration.ofSeconds(60)

  /** One pooled client per JVM: every task slot in a local run (or in
    * one executor) shares connections instead of re-handshaking. */
  private lazy val sharedHttp: HttpClient =
    HttpClient.newBuilder().connectTimeout(ConnectTimeout).build()

  /** The JVM's shared pool, for the sibling live clients. */
  private[sources] def pooled: HttpClient = sharedHttp

  /** One auto-refreshing token per full conf per JVM — the
    * executor-side analog of the reference's module-level auth
    * singleton (auth.py:169-180). Keyed by the WHOLE conf (not just
    * url+user): a re-read with corrected credentials or timing must
    * mint through the new settings, not a provider whose closure
    * captured the old ones. */
  private val tokenCache = new ConcurrentHashMap[HttpConf, TokenProvider]()

  /** Test hook: force re-auth between scenarios. */
  private[graft] def clearTokenCache(): Unit = tokenCache.clear()

  def apply(conf: HttpConf): HttpPageClient = {
    val tokens = tokenCache.computeIfAbsent(conf,
      c => new TokenProvider(c.tokenTtlMs, c.refreshAheadMs,
        () => System.currentTimeMillis(), mintViaPost(c, sharedHttp)))
    new HttpPageClient(conf, sharedHttp, tokens)
  }

  private[sources] def enc(s: String): String = URLEncoder.encode(s, UTF_8)

  /** ISO-8601 local timestamp (the report wire format,
    * e.g. `2024-01-01T00:15:00`) → epoch micros, UTC. */
  def isoToMicros(s: String): Long =
    LocalDateTime.parse(s).toEpochSecond(UTC) * 1000000L

  /** Spark column → wire field name. The wire side speaks the
    * reference API's camelCase (queries.py:69-73,260). */
  val WireNames: Map[String, String] = Map(
    "ts" -> "SCEDTimestamp",
    "settlement_point" -> "settlementPoint",
    "price" -> "price",
    "mw" -> "mw")

  /** The reference's B2C ROPC password grant — params in the URL
    * exactly as auth.py:72-78 builds it; `expires_in` may arrive as a
    * string and is coerced (auth.py:96-97). Mint failures are NOT
    * transient page errors: bad credentials must fail the read, not
    * burn the retry budget. */
  private def mintViaPost(conf: HttpConf, http: HttpClient): Int => (String, Long) = { _ =>
    val uri = URI.create(s"${conf.tokenUrl}?username=${enc(conf.username)}" +
      s"&password=${enc(conf.password)}&grant_type=password" +
      s"&scope=openid+${conf.clientId}+offline_access" +
      s"&client_id=${conf.clientId}&response_type=id_token")
    val resp = http.send(
      HttpRequest.newBuilder(uri).timeout(RequestTimeout)
        .POST(HttpRequest.BodyPublishers.noBody()).build(),
      HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() != 200)
      throw new IllegalStateException(
        s"token mint failed: HTTP ${resp.statusCode()} from ${conf.tokenUrl}")
    val j = new ObjectMapper().readTree(resp.body())
    val token = j.path("access_token").asText("")
    if (token.isEmpty)
      throw new IllegalStateException(
        s"token mint failed: no access_token in response from ${conf.tokenUrl}")
    // expires_in is OPTIONAL (RFC 6749 §4.2.2) and may be a string —
    // path() (never null) + asText default cover both.
    val expiresInSec = j.path("expires_in").asText("3600").toLong
    (token, expiresInSec * 1000L)
  }
}

/** Live HTTP page fetcher behind [[ErcotPagesSource]]'s page interface
  * (reference: client.py:41-87). One `fetchPage` = one authenticated
  * GET with `page`/`size` (+ any server-side filter params, e.g. the
  * pushed `settlementPoint` equality, queries.py:260):
  *
  *  - 200 → positional `fields`+`data` payload, decoded once per page;
  *  - 401 → the cached token died early: invalidate it (exact-match, so
  *    concurrent readers can't discard a fresh sibling mint) and signal
  *    transient — the retry re-enters [[TokenProvider.current]] which
  *    mints at most once across all racing readers;
  *  - 429 / 5xx → transient, [[RetryPolicy.withRetry]]'s bounded
  *    exponential backoff drives the re-fetch (client.py:60-84's
  *    5·2^k s ladder, delay configurable);
  *  - other 4xx → fail fast with the body head (a malformed request
  *    never resolves by retrying).
  *
  * The caller wraps `fetchPage` in `RetryPolicy.withRetry`, keeping one
  * retry policy for the fake and live transports alike. */
final class HttpPageClient private[sources] (conf: HttpConf, http: HttpClient,
    tokens: TokenProvider) {
  private val mapper = new ObjectMapper()

  def mintCount: Int = tokens.mintCount

  def fetchPage(page1: Int, size: Int, params: Map[String, String],
      attempt: Int): PagePayload = {
    val tok = tokens.current()
    val qs = (params ++ Map("page" -> page1.toString, "size" -> size.toString))
      .map { case (k, v) => s"${HttpPageClient.enc(k)}=${HttpPageClient.enc(v)}" }
      .mkString("&")
    val req = HttpRequest.newBuilder(URI.create(s"${conf.endpoint}?$qs"))
      .timeout(HttpPageClient.RequestTimeout).GET()
      .header("Authorization", s"Bearer $tok")
      .header("Ocp-Apim-Subscription-Key", conf.subscriptionKey)
      .header("Accept", "application/json")
      .build()
    val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
    resp.statusCode() match {
      case 200 => parse(resp.body())
      case 401 =>
        tokens.invalidate(tok)
        throw new TransientPageError(page1, attempt)
      case 429 | 500 | 502 | 503 | 504 =>
        throw new TransientPageError(page1, attempt)
      case other =>
        throw new IllegalStateException(
          s"HTTP $other from ${conf.endpoint}: ${resp.body().take(200)}")
    }
  }

  /** Driver-side planning probe: fetch a 1-record page purely for
    * `_meta.totalRecords`, so `planInputPartitions` can size the
    * partition-per-page scan without the caller knowing the page count
    * up front. */
  def totalRecords(params: Map[String, String], retry: RetryConf): Long =
    RetryPolicy.withRetry(retry) { attempt =>
      fetchPage(1, 1, params, attempt).totalRecords
    }

  private def parse(body: String): PagePayload = {
    val j = mapper.readTree(body)
    val fields = j.get("fields")
    val idx = (0 until fields.size())
      .map(i => fields.get(i).get("name").asText() -> i).toMap
    val data = j.get("data")
    val rows = (0 until data.size()).map { r =>
      val row = data.get(r)
      (0 until row.size()).map(row.get): IndexedSeq[JsonNode]
    }
    val total = Option(j.get("_meta")).flatMap(m => Option(m.get("totalRecords")))
      .map(_.asLong()).getOrElse(rows.size.toLong)
    PagePayload(idx, rows, total)
  }
}
