package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.scalatest.funsuite.AnyFunSuite

import graft.api.{HttpQueryServer, WeatherQueries}

/** The query-plane front door end-to-end: replays the reference client's
  * six-request round (KillrWeatherClientApp.scala:108-123 — current,
  * annual precip, top-k precip, daily temperature, monthly hi/low,
  * station) over HTTP against the same corpus the in-process facade
  * reads, and checks every body against the facade's own answer. Plus the
  * contract guards: 404 for the NoDataAvailable null object, 400 for
  * malformed parameters, 405 for non-GET.
  */
class HttpQuerySpec extends AnyFunSuite {
  private lazy val spark = GraftTestSpark.spark
  private val sf = GraftTestSpark.sf

  private def get(port: Int, pathAndQuery: String): HttpResponse[String] =
    HttpClient.newHttpClient.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$pathAndQuery"))
        .GET().build(),
      HttpResponse.BodyHandlers.ofString())

  test("the reference's six-query round over HTTP matches the in-process facade") {
    val wq = new WeatherQueries(spark, sf)
    val door = new HttpQueryServer(spark, sf)
    val port = door.start()
    try {
      // sample key, derived from the data like the reference client's
      // file-sourced Day sample
      val r0 = wq.topKDays(1).head
      val st = r0.stationId
      val (y, m, d) = {
        val c = java.util.Calendar.getInstance(
          java.util.TimeZone.getTimeZone("UTC"))
        c.setTime(r0.day)
        (c.get(java.util.Calendar.YEAR), c.get(java.util.Calendar.MONTH) + 1,
          c.get(java.util.Calendar.DAY_OF_MONTH))
      }

      // 1. GetCurrentWeather
      val cur = get(port, s"/weather/current?station=$st")
      val curWant = wq.currentReading(st).get
      assert(cur.statusCode() == 200, cur.body())
      assert(cur.body().contains(s""""eventId":${curWant.eventId}""") &&
        cur.body().contains(s""""value":${curWant.value}"""), cur.body())

      // 2. GetPrecipitation (annual)
      val ann = get(port, s"/weather/precip/annual?station=$st&year=$y")
      val annWant = wq.annualSum(st, y).get
      assert(ann.statusCode() == 200 &&
        ann.body().contains(s""""total":${annWant.total}""") &&
        ann.body().contains(s""""count":${annWant.count}"""), ann.body())

      // 3. GetTopKPrecipitation
      val topk = get(port, "/weather/precip/topk?k=10")
      val topkWant = wq.topKDays(10)
      assert(topk.statusCode() == 200, topk.body())
      assert(topkWant.size == topk.body().split("\\{").length - 1)
      topkWant.foreach { sd =>
        assert(topk.body().contains(s""""stationId":${sd.stationId},"day":"${sd.day}","total":${sd.total}"""),
          s"$sd missing in ${topk.body().take(500)}")
      }

      // 4. GetDailyTemperature
      val daily = get(port, s"/weather/daily?station=$st&year=$y&month=$m&day=$d")
      val dailyWant = wq.dailyStats(st, y, m, d).get
      assert(daily.statusCode() == 200 &&
        daily.body().contains(s""""high":${dailyWant.high}""") &&
        daily.body().contains(s""""mean":${dailyWant.mean}""") &&
        daily.body().contains(s""""stdev":${dailyWant.stdev}"""), daily.body())

      // 5. GetMonthlyHiLowTemperature
      val mon = get(port, s"/weather/monthly?station=$st&year=$y&month=$m")
      val monWant = wq.monthlyHiLow(st, y, m).get
      assert(mon.statusCode() == 200 &&
        mon.body().contains(s""""hi":${monWant.hi}""") &&
        mon.body().contains(s""""lo":${monWant.lo}"""), mon.body())

      // 6. GetWeatherStation
      val sta = get(port, s"/weather/station?id=$st")
      val staWant = wq.station(st).get
      assert(sta.statusCode() == 200 &&
        sta.body().contains(s""""nation":"${staWant.nation}"""") &&
        sta.body().contains(s""""region":"${staWant.region}""""), sta.body())

      // contract guards
      assert(get(port, "/weather/current?station=999999999").statusCode() == 404,
        "NoDataAvailable must map to 404")
      assert(get(port, "/weather/daily?station=abc&year=1&month=1&day=1")
        .statusCode() == 400)
      assert(get(port, "/weather/monthly?station=1").statusCode() == 400,
        "missing parameter must be 400")
      assert(get(port, "/weather/precip/topk?k=0").statusCode() == 400)
      assert(get(port, "/weather/nosuch").statusCode() == 404)
      val post = HttpClient.newHttpClient.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/weather/current?station=1"))
          .POST(HttpRequest.BodyPublishers.ofString("x")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(post.statusCode() == 405)
    } finally door.stop()
  }

  test("identical concurrent GETs coalesce onto one Spark job (A10 over HTTP)") {
    val door = new HttpQueryServer(spark, sf)
    val port = door.start()
    try {
      val sc = spark.sparkContext
      val before = sc.statusTracker.getJobIdsForGroup(null).length
      // burst of identical requests; the Async facade's in-flight map
      // should collapse them to (approximately) one underlying job chain.
      // The count assertion is deliberately loose — collect() runs 1-2
      // jobs — but 16 uncoalesced top-k scans would run >= 16.
      val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
      val tasks = (1 to 16).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = get(port, "/weather/precip/topk?k=5").statusCode()
        })
      }
      assert(tasks.map(_.get()).forall(_ == 200))
      pool.shutdown()
      val after = sc.statusTracker.getJobIdsForGroup(null).length
      assert(after - before < 16,
        s"16 identical GETs ran ${after - before} Spark jobs — coalescing broken")
    } finally door.stop()
  }

  test("saturation: 12 concurrent DISTINCT queries can't starve the query pool (156b47c anti-regression)") {
    // The round-12 deadlock shape: handler threads BLOCK awaiting query
    // futures, so with a single shared 8-thread pool, >8 concurrent
    // DISTINCT requests (distinct keys → zero coalescing; each runs a real
    // Spark job) would park every pool thread on a future that can never
    // be scheduled, and all of them would ride the 120 s await timeout.
    // With the two-pool split they must ALL complete far under it — the
    // wall-clock bound is the regression detector, generous enough for a
    // loaded CI host yet an order of magnitude under the deadlock's floor.
    val door = new HttpQueryServer(spark, sf)
    val port = door.start()
    try {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(12)
      val t0 = System.nanoTime()
      val tasks = (1 to 12).map { i =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = get(port, s"/weather/current?station=$i").statusCode()
        })
      }
      val codes = tasks.map(_.get())
      pool.shutdown()
      val wall = (System.nanoTime() - t0) / 1e9
      assert(codes.forall(c => c == 200 || c == 404),
        s"unexpected status in $codes")
      assert(codes.contains(200), "at least one station must resolve")
      assert(wall < 90.0,
        f"12 distinct concurrent GETs took $wall%.1f s — handler/query pool starvation?")
    } finally door.stop()
  }

  test("back-to-back keep-alive requests do not wait for a delayed ACK, on both doors") {
    // the JDK server writes headers and body apart; with Nagle on, the body
    // waits ~40 ms for the client's delayed ACK on every reused connection
    def medianMs(requests: Seq[HttpRequest]): Double = {
      val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
      client.send(requests.head, HttpResponse.BodyHandlers.ofString()) // open the connection
      val ms = requests.map { r =>
        val t0 = System.nanoTime()
        client.send(r, HttpResponse.BodyHandlers.ofString())
        (System.nanoTime() - t0) / 1e6
      }.sorted
      ms(ms.size / 2)
    }
    val door = new HttpQueryServer(spark, sf)
    val spool = java.nio.file.Files.createTempDirectory("nodelay-spool").toFile
    val ingest = new graft.streaming.HttpIngest(spool.toString)
    val (qPort, iPort) = (door.start(), ingest.start())
    try {
      val notFound = HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$qPort/weather/no-such-route")).GET().build()
      val emptyFeed = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$iPort/weather/data"))
        .POST(HttpRequest.BodyPublishers.ofString("")).build()
      val q = medianMs(Seq.fill(20)(notFound))
      val i = medianMs(Seq.fill(20)(emptyFeed))
      assert(q < 10.0 && i < 10.0, f"median GET $q%.1f ms, POST $i%.1f ms")
    } finally {
      door.stop(); ingest.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(spool)
    }
  }
}
