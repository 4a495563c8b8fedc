package graft.sources

import java.util
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** DataSourceV2 stand-in for the reference's paginated ERCOT REST scan
  * (SURVEY.md §2.1 S1; reference: client.py:27-87 + page/size=100
  * pagination, queries.py:41-42): `spark.read.format("ercot-pages")`.
  *
  * - **Partition-per-page**: each REST page becomes one InputPartition,
  *   so a 1000-page endpoint scans with 1000-way parallelism — the scale
  *   design the single-threaded reference loop cannot express.
  * - **Column pruning** (SupportsPushDownRequiredColumns): only
  *   requested fields are materialized, mirroring the reference's
  *   name→ordinal projection (main.py:66-74).
  * - **Filter pushdown** (SupportsPushDownFilters): an equality on
  *   `settlement_point` is accepted and applied inside the partition
  *   reader — the analog of the reference encoding `settlementPoint` as
  *   a request param so filtering happens server-side (queries.py:260).
  *
  * Rows are a deterministic function of the global row index (no
  * network, no randomness), so results are exactly reproducible and
  * DuckDB can mirror the generator for the oracle: 15-minute SCED
  * intervals, 5 hub names, integer-derived price/mw.
  */
class ErcotPagesSource extends TableProvider
  with org.apache.spark.sql.sources.DataSourceRegister {

  override def shortName(): String = "ercot-pages"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ErcotPagesSource.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    // properties arrive with the caller's original key case
    val opts = new CaseInsensitiveStringMap(properties)
    val pageSize = Option(opts.get("pageSize")).map(_.toInt).getOrElse(100)
    val retry = RetryConf(
      maxAttempts = Option(opts.get("maxRetries")).map(_.toInt).getOrElse(3),
      baseDelayMs = Option(opts.get("retryDelayMs")).map(_.toLong).getOrElse(0L),
      jitterMs = Option(opts.get("retryJitterMs")).map(_.toLong).getOrElse(0L))
    // `endpoint` switches the scan from the deterministic generator to
    // the LIVE HTTP transport (HttpPageClient); everything else —
    // partition-per-page planning, pushdown, pruning, retry, the token
    // lifecycle — is shared between the two paths.
    val httpConf = Option(opts.get("endpoint")).map { ep =>
      HttpConf(
        endpoint = ep,
        tokenUrl = Option(opts.get("tokenUrl"))
          .getOrElse(ErcotPagesSource.DefaultAuthUrl),
        username = Option(opts.get("username")).getOrElse(""),
        password = Option(opts.get("password")).getOrElse(""),
        clientId = Option(opts.get("clientId"))
          .getOrElse(ErcotPagesSource.DefaultClientId),
        subscriptionKey = Option(opts.get("subscriptionKey")).getOrElse(""),
        tokenTtlMs = Option(opts.get("tokenTtlMs")).map(_.toLong).getOrElse(3600000L),
        refreshAheadMs = Option(opts.get("refreshAheadMs")).map(_.toLong).getOrElse(300000L))
    }
    new ErcotPagesTable(
      explicitPages = Option(opts.get("pages")).map(_.toInt),
      pageSize = pageSize,
      startDateDays = Option(opts.get("startDate"))
        .map(java.time.LocalDate.parse(_).toEpochDay).getOrElse(19723L), // 2024-01-01
      retry = retry,
      httpConf = httpConf,
      pagesPerTrigger = Option(opts.get("pagesPerTrigger")).map(_.toInt)
        .getOrElse(Int.MaxValue))
  }
}

/** Per-page fetch resilience knobs (SURVEY §2.9 T5 + reference
  * client.py:60-84): `maxAttempts` tries with exponential backoff from
  * `baseDelayMs` plus U(0, `jitterMs`) de-synchronization (the
  * reference's `random.uniform(0, 2)` seconds — set ~2000 against a
  * live API, 0 for deterministic tests). */
final case class RetryConf(maxAttempts: Int, baseDelayMs: Long, jitterMs: Long = 0L)

/** Marker for failures worth retrying — transient HTTP 5xx/429/timeout
  * faults ([[TransientPageError]]) and store-side throttling
  * ([[graft.sinks.DynamoThrottled]]). [[RetryPolicy]] retries exactly
  * these; everything else propagates immediately. */
trait TransientFault extends Throwable

/** A retryable page fetch: [[HttpPageClient]]'s 401/429/5xx, the
  * transient faults the reference client retries. */
final class TransientPageError(page: Int, attempt: Int)
  extends RuntimeException(s"transient fault fetching page $page (attempt $attempt)")
  with TransientFault

object RetryPolicy {
  /** Run `f(attempt)` up to `retry.maxAttempts` times, with a [[pause]]
    * between tries — the reference's bounded exponential backoff WITH
    * jitter (client.py:64-65: `base_delay * 2**attempt +
    * random.uniform(0, 2)`). Non-transient errors propagate immediately. */
  def withRetry[T](retry: RetryConf)(f: Int => T): T = {
    var attempt = 1
    while (attempt < retry.maxAttempts) {
      try return f(attempt)
      catch {
        case _: TransientFault =>
          pause(retry, attempt)
          attempt += 1
      }
    }
    f(attempt) // last attempt: let any failure propagate
  }

  /** Sleep before retry `n` (1-based): baseDelayMs·2^(n−1) + U(0,
    * jitterMs). The jitter matters precisely at fleet scale: when
    * hundreds of tasks hit the same 429 in the same instant,
    * deterministic delays re-synchronize the herd on every retry; the
    * uniform term spreads the wave. Zero-delay configs (tests) never
    * sleep. */
  def pause(retry: RetryConf, n: Int): Unit = {
    val jitter =
      if (retry.jitterMs > 0) java.util.concurrent.ThreadLocalRandom.current().nextLong(retry.jitterMs)
      else 0L
    val delay = (if (retry.baseDelayMs > 0) retry.baseDelayMs << (n - 1) else 0L) + jitter
    if (delay > 0) Thread.sleep(delay)
  }
}

/** Auth-token lifecycle (reference auth.py:47-166): tokens live as long
  * as `mint` says; a fetch within `refreshAheadMs` of expiry mints a
  * fresh token (the reference's T−5-minute refresh timer); otherwise
  * the cached one is reused. One instance per JVM
  * ([[TokenProvider.default]]) mirrors the reference's module-level
  * singleton — executors each hold their own, which is exactly how
  * per-worker REST credentials behave.
  *
  * `mint(n)` returns `(token, lifetimeMs)`; the default mints synthetic
  * `token-n` values, [[HttpPageClient]] plugs in the real ROPC POST so
  * the live transport runs the SAME spec-proven lifecycle. Minting runs
  * under the provider's lock on purpose: when 32 local partitions (or
  * one executor's task slots) race an expired token, exactly one
  * network mint happens and the rest reuse it. */
final class TokenProvider(ttlMs: Long, refreshAheadMs: Long, clock: () => Long,
    mint: Int => (String, Long)) {
  def this(ttlMs: Long, refreshAheadMs: Long, clock: () => Long) =
    this(ttlMs, refreshAheadMs, clock, n => (s"token-$n", ttlMs))

  private var tok: Option[(String, Long)] = None // (token, expiresAtMs)
  private var minted = 0

  def mintCount: Int = synchronized(minted)

  /** Drop `bad` if it is still the cached token — a server-side 401
    * before our T−5 refresh (revocation, clock skew). Guarding on the
    * exact token keeps concurrent readers from discarding a GOOD
    * replacement a sibling already minted. */
  def invalidate(bad: String): Unit = synchronized {
    if (tok.exists(_._1 == bad)) tok = None
  }

  def current(): String = synchronized {
    val now = clock()
    tok match {
      case Some((t, exp)) if now < exp - refreshAheadMs => t
      case _ =>
        val (t, lifeMs) = mint(minted + 1)
        minted += 1
        tok = Some((t, now + lifeMs))
        t
    }
  }
}

object TokenProvider {
  /** 60-minute tokens, refreshed 5 minutes ahead (auth.py:52-58). */
  lazy val default: TokenProvider =
    new TokenProvider(3600000L, 300000L, () => System.currentTimeMillis())
}

object ErcotPagesSource {
  /** The reference's PUBLIC auth constants (auth.py:26-29): the B2C
    * ROPC token endpoint and the ERCOT Public API client id. Callers
    * override via `tokenUrl` / `clientId` options (the spec points them
    * at a local server). */
  val DefaultAuthUrl: String =
    "https://ercotb2c.b2clogin.com/ercotb2c.onmicrosoft.com/B2C_1_PUBAPI-ROPC-FLOW/oauth2/v2.0/token"
  val DefaultClientId: String = "fec253ea-0d06-4272-a5e6-b478baeecd70"

  val Schema: StructType = StructType(Seq(
    StructField("ts", TimestampType, nullable = false)
      .withComment("SCED 15-minute interval timestamp"),
    StructField("settlement_point", StringType, nullable = false)
      .withComment("Hub name (5 values)"),
    StructField("price", DoubleType, nullable = false)
      .withComment("Deterministic USD/MWh"),
    StructField("mw", DoubleType, nullable = false)
      .withComment("Deterministic megawatts")))

  val Hubs: IndexedSeq[String] =
    IndexedSeq("HB_HUBAVG", "HB_NORTH", "HB_SOUTH", "HB_WEST", "HB_HOUSTON")

  /** Row i of the deterministic feed (mirrored by the DuckDB oracle). */
  def tsMicros(startDateDays: Long, i: Long): Long =
    (startDateDays * 86400L + (i / 96) * 86400L + (i % 96) * 900L) * 1000000L
  def hub(i: Long): String = Hubs((i % 5).toInt)
  def price(i: Long): Double = (i * 31 % 1000) / 10.0
  def mw(i: Long): Double = (i * 17 % 5000) / 10.0
}

class ErcotPagesTable(explicitPages: Option[Int], pageSize: Int,
    startDateDays: Long, retry: RetryConf, httpConf: Option[HttpConf] = None,
    pagesPerTrigger: Int = Int.MaxValue)
  extends Table with SupportsRead {
  // never pay a probing round trip just to print a name
  override def name(): String =
    if (httpConf.isDefined) s"ercot_pages(live x $pageSize)"
    else s"ercot_pages(${explicitPages.getOrElse(10)} x $pageSize)"
  override def schema(): StructType = ErcotPagesSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ErcotPagesScanBuilder(explicitPages, pageSize, startDateDays, retry,
      httpConf, pagesPerTrigger)
}

class ErcotPagesScanBuilder(explicitPages: Option[Int], pageSize: Int,
    startDateDays: Long, retry: RetryConf, httpConf: Option[HttpConf],
    pagesPerTrigger: Int)
  extends ScanBuilder
  with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var required: StructType = ErcotPagesSource.Schema
  private var hubFilter: Option[String] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // Claim exactly ONE settlement_point equality — the reader can only
    // encode one request param. Any further predicate (even another
    // settlement_point equality, e.g. sp='A' AND sp='B') must remain a
    // Spark-side residual or it would never be evaluated anywhere.
    val claimed = filters.collectFirst { case f @ EqualTo("settlement_point", _: String) => f }
    hubFilter = claimed.map { case EqualTo(_, v) => v.asInstanceOf[String] }
    filters.filterNot(f => claimed.contains(f))
  }
  override def pushedFilters(): Array[Filter] =
    hubFilter.map(v => EqualTo("settlement_point", v): Filter).toArray

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = {
    // The page count resolves HERE — after pushdown — so the live
    // 1-record `_meta.totalRecords` probe carries the pushed
    // settlementPoint param. The server filters before paginating, so
    // a filtered scan plans ceil(filteredTotal/pageSize) partitions
    // instead of paying wasted authenticated round trips for pages the
    // probe-without-filter would have over-planned. Memoized and LAZY:
    // only batch planning forces it — a live STREAMING read re-probes
    // per trigger itself (publishedPages) and must not pay a planning
    // round trip at build time.
    lazy val resolved: Int = explicitPages.getOrElse {
      httpConf match {
        case Some(hc) =>
          val total = HttpPageClient(hc).totalRecords(
            hubFilter.map("settlementPoint" -> _).toMap, retry)
          math.max(1, ((total + pageSize - 1) / pageSize).toInt)
        case None => 10
      }
    }
    new ErcotPagesScan(() => resolved, pageSize, startDateDays, required,
      hubFilter, retry, httpConf, pagesPerTrigger)
  }
}

class ErcotPagesScan(pages: () => Int, pageSize: Int, startDateDays: Long,
    required: StructType, hubFilter: Option[String], retry: RetryConf,
    httpConf: Option[HttpConf], pagesPerTrigger: Int = Int.MaxValue)
  extends Scan with Batch {
  override def readSchema(): StructType = required
  override def description(): String =
    s"ercot-pages ${if (httpConf.isDefined) "live" else s"pages=${pages()}"} " +
      s"pageSize=$pageSize " +
      s"PushedFilters: [${hubFilter.map(v => s"settlement_point = $v").getOrElse("")}]"
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    (0 until pages()).map(p => ErcotPage(p): InputPartition).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new ErcotPagesReaderFactory(pageSize, startDateDays,
      required.fieldNames, hubFilter, retry, httpConf)
  override def toMicroBatchStream(checkpointLocation: String): streaming.MicroBatchStream =
    new ErcotPagesMicroBatchStream(pages, pagesPerTrigger, pageSize,
      startDateDays, required.fieldNames, hubFilter, retry, httpConf)
}

/** Stream offset: the number of feed pages fully consumed. */
case class PagesOffset(pages: Int) extends streaming.Offset {
  override def json(): String = s"""{"pages":$pages}"""
}

/** T1/T2 as a FIRST-CLASS streaming source: a stream read of
  * format "ercot-pages" polls the paginated feed incrementally —
  * the Spark-native restatement of the reference's scheduled
  * windowed-ingest driver loop (main.py:341-369), with exactly-once
  * delivery falling out of checkpointed page offsets instead of
  * hand-rolled overlap reprocessing.
  *
  *  - Offsets are page counts; each micro-batch plans partition-per-
  *    page over `[start, end)`, reusing the batch reader factory
  *    (pushdown, pruning, retry, live-vs-generator switch included).
  *  - Admission control ([[SupportsAdmissionControl]]): at most
  *    `pagesPerTrigger` pages per batch, computed FROM the restored
  *    start offset, so a restart resumes exactly where the checkpoint
  *    says regardless of this object's in-memory state.
  *  - The LIVE path re-probes `_meta.totalRecords` each trigger and
  *    exposes only COMPLETE pages: a page is consumed once, when it
  *    can no longer grow, which is what makes the page offset an
  *    exactly-once cursor over an append-only feed.
  *  - [[SupportsTriggerAvailableNow]] pins the bound once at prepare
  *    time, so an AvailableNow trigger drains what existed at start and
  *    stops even while the remote keeps appending. */
class ErcotPagesMicroBatchStream(totalPages: () => Int, pagesPerTrigger: Int,
    pageSize: Int, startDateDays: Long, fields: Array[String],
    hubFilter: Option[String], retry: RetryConf, httpConf: Option[HttpConf])
  extends streaming.MicroBatchStream with streaming.SupportsAdmissionControl
  with streaming.SupportsTriggerAvailableNow {

  @volatile private var availableNowBound: Option[Int] = None

  /** Pages the feed has published so far: the whole static feed, or
    * the live endpoint's complete pages as of this probe (the static
    * thunk is never forced on the live path — no wasted planning
    * round trip). */
  private def publishedPages(): Int = httpConf match {
    case Some(hc) =>
      val total = HttpPageClient(hc).totalRecords(
        hubFilter.map("settlementPoint" -> _).toMap, retry)
      (total / pageSize).toInt // complete pages only: a page never re-reads
    case None => totalPages()
  }

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowBound = Some(publishedPages())

  override def initialOffset(): streaming.Offset = PagesOffset(0)

  override def latestOffset(): streaming.Offset =
    throw new UnsupportedOperationException(
      "admission-controlled source: latestOffset(start, limit) is the entry point")

  override def latestOffset(start: streaming.Offset,
      limit: streaming.ReadLimit): streaming.Offset = {
    val from = start.asInstanceOf[PagesOffset].pages
    val avail = availableNowBound.getOrElse(publishedPages())
    // Long arithmetic: the default (unbounded) trigger step is
    // Int.MaxValue, and from + step must not wrap.
    val capped = math.min(avail.toLong, from.toLong + math.max(1, pagesPerTrigger))
    PagesOffset(math.max(from, capped.toInt))
  }

  override def planInputPartitions(start: streaming.Offset,
      end: streaming.Offset): Array[InputPartition] =
    (start.asInstanceOf[PagesOffset].pages until end.asInstanceOf[PagesOffset].pages)
      .map(p => ErcotPage(p): InputPartition).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new ErcotPagesReaderFactory(pageSize, startDateDays, fields, hubFilter,
      retry, httpConf)

  override def deserializeOffset(json: String): streaming.Offset =
    PagesOffset("""\d+""".r.findFirstIn(json).getOrElse("0").toInt)

  override def commit(end: streaming.Offset): Unit = ()
  override def stop(): Unit = ()
}

case class ErcotPage(page: Int) extends InputPartition

class ErcotPagesReaderFactory(pageSize: Int, startDateDays: Long,
    fields: Array[String], hubFilter: Option[String], retry: RetryConf,
    httpConf: Option[HttpConf] = None)
  extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val page = partition.asInstanceOf[ErcotPage].page
    httpConf match {
      case Some(hc) => httpReader(page, hc)
      case None => generatedReader(page)
    }
  }

  /** LIVE path: one authenticated GET per page through
    * [[HttpPageClient]], the pushed settlement_point equality encoded
    * as the server-side `settlementPoint` request param
    * (queries.py:260) — filtering happens where the data lives, and
    * the reader keeps a defensive re-check. The whole fetch sits under
    * the same RetryPolicy as the modeled path, so 429/5xx/401 faults
    * ride the bounded exponential backoff. */
  private def httpReader(page: Int, hc: HttpConf): PartitionReader[InternalRow] = {
    val client = HttpPageClient(hc)
    val params = hubFilter.map("settlementPoint" -> _).toMap
    val payload = RetryPolicy.withRetry(retry) {
      attempt => client.fetchPage(page + 1, pageSize, params, attempt)
    }
    val idx = fields.map(f => payload.fieldIndex(HttpPageClient.WireNames(f)))
    val spOrd = payload.fieldIndex(HttpPageClient.WireNames("settlement_point"))
    new PartitionReader[InternalRow] {
      private var r = -1
      override def next(): Boolean = {
        r += 1
        while (r < payload.rows.size &&
          hubFilter.exists(_ != payload.rows(r)(spOrd).asText())) r += 1
        r < payload.rows.size
      }
      override def get(): InternalRow = {
        val row = payload.rows(r)
        val values = fields.indices.map { f =>
          fields(f) match {
            case "ts" => HttpPageClient.isoToMicros(row(idx(f)).asText())
            case "settlement_point" => UTF8String.fromString(row(idx(f)).asText())
            case "price" | "mw" => row(idx(f)).asDouble()
          }
        }
        InternalRow.fromSeq(values)
      }
      override def close(): Unit = ()
    }
  }

  /** Deterministic generator path (the oracle-checked stand-in). */
  private def generatedReader(page: Int): PartitionReader[InternalRow] = {
    // "Fetch" the page: acquiring the (cached, auto-refreshing) auth
    // token stands in for the authenticated GET the reference performs
    // per page (auth.py:47-166). Only a real GET can fail transiently,
    // so only httpReader runs under RetryPolicy.
    TokenProvider.default.current()
    new PartitionReader[InternalRow] {
      private var i = page.toLong * pageSize - 1
      private val end = (page + 1).toLong * pageSize
      override def next(): Boolean = {
        i += 1
        // pushed equality applied "server-side": skip non-matching rows
        while (i < end && hubFilter.exists(_ != ErcotPagesSource.hub(i))) i += 1
        i < end
      }
      override def get(): InternalRow = {
        val values = fields.map {
          case "ts" => ErcotPagesSource.tsMicros(startDateDays, i)
          case "settlement_point" => UTF8String.fromString(ErcotPagesSource.hub(i))
          case "price" => ErcotPagesSource.price(i)
          case "mw" => ErcotPagesSource.mw(i)
        }
        InternalRow.fromSeq(values.toIndexedSeq)
      }
      override def close(): Unit = ()
    }
  }
}
