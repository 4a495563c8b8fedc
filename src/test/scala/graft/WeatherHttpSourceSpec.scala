package graft

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.sources.{RetryConf, WeatherConf, WeatherHttpClient}
import java.net.InetSocketAddress
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.concurrent.TrieMap

/** The live hourly-weather scan over a real socket: an in-process
  * server speaks the reference API's wire shape (`?key&q&dt` →
  * `forecast.forecastday[0].hour[].{time,temp_c}`, weather.py:60-74)
  * and the fan-out client consumes it city-per-task. Fault semantics
  * mirror the reference: transient 5xx retried, a city that never
  * recovers is skipped AND counted while the rest of the frame lands.
  * The fetched long frame then runs the spec-proven E2 lifecycle
  * (pivot → null-skipping row mean, the q12/q47 shape). */
class WeatherHttpSourceSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark

  private var server: HttpServer = _
  private var conf: WeatherConf = _
  private val cityAttempts = TrieMap.empty[String, Int]
  @volatile private var flaky500s = Map.empty[String, Int] // city → first-N 500s
  @volatile private var poisonedCity: Option[String] = None // hour 7 gets temp_c:null
  private val Date = "2024-01-15"

  /** Deterministic temp for (city index, hour). */
  private def temp(ci: Int, h: Int): Double = ci * 10.0 + h * 0.5

  private val Cities = Seq("Downtown" -> "Houston", "North" -> "Dallas", "West" -> "Austin")

  import TestHttp.respond

  override def beforeAll(): Unit = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/v1/history.json", (x: HttpExchange) => {
      val params = TestHttp.queryParams(x)
      if (!params.get("key").contains("k-123")) respond(x, 401, """{"error":{"code":2006}}""")
      else {
        val city = params("q")
        val n = cityAttempts.updateWith(city)(c => Some(c.getOrElse(0) + 1)).get
        if (n <= flaky500s.getOrElse(city, 0)) respond(x, 500, """{"error":"boom"}""")
        else {
          val ci = Cities.indexWhere(_._2 == city)
          val hours = (0 until 24).map { h =>
            val t = if (poisonedCity.contains(city) && h == 7) "null"
                    else temp(ci, h).toString
            s"""{"time":"$Date ${f"$h%02d"}:00","temp_c":$t}"""
          }.mkString(",")
          respond(x, 200,
            s"""{"forecast":{"forecastday":[{"date":"$Date","hour":[$hours]}]}}""")
        }
      }
    })
    server.start()
    conf = WeatherConf(
      s"http://127.0.0.1:${server.getAddress.getPort}/v1/history.json", "k-123")
  }

  override def afterAll(): Unit = if (server != null) server.stop(0)

  private val retry = RetryConf(maxAttempts = 3, baseDelayMs = 0)

  private def reset(): Unit = {
    cityAttempts.clear(); flaky500s = Map.empty; poisonedCity = None
  }

  test("city-per-task fan-out fetches the long frame; values decode exactly") {
    reset()
    val fetch = WeatherHttpClient.fetchHourly(spark, conf, Date, Cities, retry)
    assert(fetch.frame.rdd.getNumPartitions == Cities.size)
    val rows = fetch.frame.collect()
    assert(rows.length == 24 * Cities.size)
    assert(fetch.skippedCities == 0)
    val byKey = rows.map(r => (r.city, r.time) -> r.temp_c).toMap
    assert(byKey(("Downtown", s"$Date 00:00")) == 0.0)
    assert(byKey(("North", s"$Date 13:00")) == 16.5) // 10 + 13*0.5
    assert(byKey(("West", s"$Date 23:00")) == 31.5) // 20 + 23*0.5
  }

  test("the fetched frame runs the E2 pivot + null-skipping row mean unchanged") {
    reset()
    val long = WeatherHttpClient.fetchHourly(spark, conf, Date, Cities, retry).frame
    val names = Cities.map(_._1)
    val wide = long.groupBy(col("time")).pivot("city", names).agg(first(col("temp_c")))
    val sumParts = names.map(c => coalesce(col(c), lit(0.0))).reduce(_ + _)
    val cntParts = names.map(c => when(col(c).isNotNull, 1).otherwise(0)).reduce(_ + _)
    val out = wide.withColumn("avg_temp", sumParts / nullif(cntParts, lit(0)))
      .withColumn("avg_temp_f", col("avg_temp") * 9.0 / 5.0 + 32.0)
      .orderBy("time").collect()
    assert(out.length == 24)
    // hour h: mean(0+h/2, 10+h/2, 20+h/2) = 10 + h/2
    out.zipWithIndex.foreach { case (r, h) =>
      assert(r.getAs[Double]("avg_temp") == 10.0 + h * 0.5)
      assert(r.getAs[Double]("avg_temp_f") == (10.0 + h * 0.5) * 9.0 / 5.0 + 32.0)
    }
  }

  test("a transient 500 is retried; a city that never recovers is skipped and counted") {
    reset()
    flaky500s = Map("Dallas" -> 2) // recovers within the 3-attempt budget
    val ok = WeatherHttpClient.fetchHourly(spark, conf, Date, Cities, retry)
    assert(ok.frame.count() == 24 * Cities.size)
    assert(ok.skippedCities == 0)
    assert(cityAttempts("Dallas") == 3)

    reset()
    flaky500s = Map("Austin" -> 1000) // never recovers
    val part = WeatherHttpClient.fetchHourly(spark, conf, Date, Cities, retry)
    val rows = part.frame.collect()
    assert(rows.length == 24 * 2, "the two healthy cities must land")
    assert(!rows.exists(_.city == "West"))
    assert(part.skippedCities == 1)
  }

  test("a null temp_c skips the whole city instead of injecting 0°C into the mean") {
    // The reference raises KeyError on a malformed hour and skips the
    // city (weather.py:79-89); asDouble() would silently decode 0.0.
    reset()
    poisonedCity = Some("Dallas")
    val fetch = WeatherHttpClient.fetchHourly(spark, conf, Date, Cities, retry)
    val rows = fetch.frame.collect()
    assert(rows.length == 24 * 2, "the two healthy cities must land in full")
    assert(!rows.exists(_.city == "North"), "no partial rows from the poisoned city")
    assert(fetch.skippedCities == 1)
  }

  test("a bad API key fails hard per city (non-retryable), frame is empty, all counted") {
    reset()
    val bad = conf.copy(apiKey = "WRONG")
    val fetch = WeatherHttpClient.fetchHourly(spark, bad, Date, Cities, retry)
    assert(fetch.frame.count() == 0)
    assert(fetch.skippedCities == Cities.size)
    // 401 is not transient: one attempt per city, no retry burn
    assert(cityAttempts.values.forall(_ == 1), cityAttempts.toString)
  }
}
