package graft

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.sources.{MeteostatConf, MeteostatHttpClient, RetryConf}
import java.io.ByteArrayOutputStream
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.GZIPOutputStream
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.concurrent.TrieMap

/** The live daily-climate scan over a real socket: an in-process
  * server serves Meteostat's bulk wire format — one GZIPPED daily CSV
  * per station — and the fan-out client reproduces the reference's
  * first-non-NaN-tavg-then-mean semantics (meteostat_weather.py:38-58)
  * with the silent loss paths surfaced as counters: a station with no
  * valid reading contributes nothing (counted), a station that fails
  * after retries is skipped (counted), and the mean shrinks
  * accordingly — exactly the reference's behavior, now observable. */
class MeteostatHttpSourceSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark

  private val Date = "2024-01-15"
  private val Stations = Seq("Houston" -> "72243", "Dallas" -> "72258", "Austin" -> "72254")

  private var server: HttpServer = _
  private var conf: MeteostatConf = _
  private val stationAttempts = TrieMap.empty[String, Int]
  @volatile private var flaky500s = Map.empty[String, Int]
  @volatile private var blankTavg = Set.empty[String] // stations reporting no tavg
  @volatile private var nanTavg = Set.empty[String] // stations reporting literal NaN

  /** Bulk daily CSV for one station: a day before, the target date,
    * a day after — tavg in column 1, trailing columns present. The
    * neighbor rows carry VALID tavg values, so a broken date filter
    * would pick them up and shift the mean (the rows exist to catch
    * exactly that). */
  private def csv(stationId: String): String = {
    val t = stationId.takeRight(2).toDouble / 4 // deterministic per station
    val target = if (blankTavg(stationId)) ""
    else if (nanTavg(stationId)) "NaN" else t.toString
    s"""2024-01-14,${t + 9},1.0,20.0,,,,,,
       |$Date,$target,2.0,21.0,,,,,,
       |2024-01-16,${t + 7},3.0,22.0,,,,,,""".stripMargin
  }

  private def gz(s: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val g = new GZIPOutputStream(bos)
    g.write(s.getBytes(UTF_8)); g.close()
    bos.toByteArray
  }

  override def beforeAll(): Unit = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/v2/daily", (x: HttpExchange) => {
      val stationId = x.getRequestURI.getPath
        .stripPrefix("/v2/daily/").stripSuffix(".csv.gz")
      val n = stationAttempts.updateWith(stationId)(c => Some(c.getOrElse(0) + 1)).get
      if (n <= flaky500s.getOrElse(stationId, 0)) {
        TestHttp.respond(x, 503, "unavailable", contentType = "text/plain")
      } else if (!Stations.exists(_._2 == stationId)) {
        TestHttp.respond(x, 404, "not found", contentType = "text/plain")
      } else {
        val b = gz(csv(stationId))
        x.getResponseHeaders.set("Content-Type", "application/gzip")
        x.sendResponseHeaders(200, b.length)
        x.getResponseBody.write(b)
        x.close()
      }
    })
    server.start()
    conf = MeteostatConf(s"http://127.0.0.1:${server.getAddress.getPort}/v2/daily")
  }

  override def afterAll(): Unit = if (server != null) server.stop(0)

  private val retry = RetryConf(maxAttempts = 3, baseDelayMs = 0)

  private def reset(): Unit = {
    stationAttempts.clear(); flaky500s = Map.empty
    blankTavg = Set.empty; nanTavg = Set.empty
  }

  test("per-station gzip CSV decode: first non-NaN tavg on the target date, mean rounded to 2") {
    reset()
    // station temps: 72243→10.75, 72258→14.5, 72254→13.5; mean=12.9166→12.92
    val avg = MeteostatHttpClient.avgTemperature(spark, conf, Date, Stations, retry)
    assert(avg.contains(12.92), s"got $avg")
  }

  test("a station with no valid reading shrinks the mean and is COUNTED, not silently lost") {
    reset()
    blankTavg = Set("72258")
    val fetch = MeteostatHttpClient.fetchDailyTavg(spark, conf, Date, Stations, retry)
    val rows = fetch.frame.collect()
    assert(rows.length == 2 && !rows.exists(_.city == "Dallas"))
    assert(fetch.noDataCities == 1)
    assert(fetch.skippedCities == 0)
    // mean over the remaining two: (10.75 + 13.5)/2 = 12.125 → 12.12 (HALF_EVEN)
    val avg = MeteostatHttpClient.avgTemperature(spark, conf, Date, Stations, retry)
    assert(avg.contains(12.12), s"got $avg")

    // a literal NaN cell parses as a Double but must count as no-data,
    // never poison the mean into a NumberFormatException
    reset()
    nanTavg = Set("72258")
    val poisoned = MeteostatHttpClient.fetchDailyTavg(spark, conf, Date, Stations, retry)
    assert(poisoned.frame.count() == 2)
    assert(poisoned.noDataCities == 1)
    assert(MeteostatHttpClient.avgTemperature(spark, conf, Date, Stations, retry)
      .contains(12.12))
  }

  test("transient 503 retried; an unknown station 404s hard and is skipped after one attempt") {
    reset()
    flaky500s = Map("72243" -> 2) // recovers within budget
    val ok = MeteostatHttpClient.fetchDailyTavg(spark, conf, Date, Stations, retry)
    assert(ok.frame.count() == 3)
    assert(stationAttempts("72243") == 3)

    reset()
    val withBogus = Stations :+ ("Nowhere" -> "99999")
    val part = MeteostatHttpClient.fetchDailyTavg(spark, conf, Date, withBogus, retry)
    assert(part.frame.count() == 3)
    assert(part.skippedCities == 1)
    assert(stationAttempts("99999") == 1, "404 must not burn the retry budget")
  }

  test("every city empty -> None, matching the reference's no-data contract") {
    reset()
    blankTavg = Stations.map(_._2).toSet
    assert(MeteostatHttpClient.avgTemperature(spark, conf, Date, Stations, retry).isEmpty)
  }
}
