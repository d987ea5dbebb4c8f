package graft.api

import java.nio.charset.StandardCharsets

import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.SparkSession

import graft.LoopbackServer

/** The QUERY-plane front door — the mirror of [[graft.streaming.HttpIngest]]
  * (S16's ingest door) closing the reference's last architectural
  * asymmetry: the reference serves its six query types over Akka remote
  * from a separate client JVM (NodeGuardian.scala:70-75 routing;
  * KillrWeatherClientApp.scala:108-123 issues the six-request round), while
  * this engine's [[WeatherQueries]] facade was in-process only. One GET
  * route per request message, same JDK `com.sun.net.httpserver` plumbing as
  * the ingest door (zero dependencies, loopback-only demo binding).
  *
  * | reference message (WeatherEvent.scala:36-48) | route |
  * |---|---|
  * | GetCurrentWeather          | GET /weather/current?station=ID |
  * | GetDailyTemperature        | GET /weather/daily?station=ID&year=Y&month=M&day=D |
  * | GetMonthlyHiLowTemperature | GET /weather/monthly?station=ID&year=Y&month=M |
  * | GetPrecipitation           | GET /weather/precip/annual?station=ID&year=Y |
  * | GetTopKPrecipitation       | GET /weather/precip/topk?k=K |
  * | GetWeatherStation          | GET /weather/station?id=ID |
  *
  * Requests run through [[WeatherQueries.async]] — so identical concurrent
  * GETs coalesce onto one Spark job (A10; the reference client's `queried`
  * dedup set, KillrWeatherClientApp.scala:95-99) — on a bounded pool; the
  * handler thread awaits the future (an HTTP response must block on its
  * result; the NON-blocking surface is the Spark side, where concurrent
  * queries interleave through the scheduler). `None` results — the
  * reference's `NoDataAvailable` null object (Weather.scala:118) — map to
  * 404; malformed parameters to 400.
  *
  * The server is made by [[graft.LoopbackServer]], which turns TCP
  * no-delay on (a JVM-wide property): without it each response's body
  * waits for the client's delayed ACK of its headers, ~40 ms on every
  * back-to-back GET of a keep-alive connection.
  *
  * Scale note: this is a DRIVER-side serving door. Each request is a small
  * pushed-down Spark job (key predicates reach the scan), so the cluster
  * does the work; the door itself only routes and renders. A production
  * deployment would put N of these behind a load balancer, each owning a
  * SparkSession (or sharing one with FAIR pools) — the door carries no
  * state beyond the in-flight coalescing map.
  */
final class HttpQueryServer(spark: SparkSession, dir: String) {
  import WeatherQueries._

  private val wq = new WeatherQueries(spark, dir)
  private def daemonPool(name: String, n: Int) =
    java.util.concurrent.Executors.newFixedThreadPool(
      n,
      (r: Runnable) => {
        val t = new Thread(r, name)
        t.setDaemon(true)
        t
      })
  // TWO pools, deliberately: handler threads BLOCK awaiting query futures,
  // so if handlers and futures shared one executor, pool-many concurrent
  // requests would all block on futures that can never get a thread — a
  // deadlock that holds every request until the await timeout. Handlers
  // park on httpPool; the Spark jobs always have queryPool to run on.
  private val httpPool = daemonPool("graft-query-door-http", 8)
  private val queryPool = daemonPool("graft-query-door-spark", 8)
  private implicit val ec: ExecutionContext =
    ExecutionContext.fromExecutor(queryPool)
  private val async = wq.async

  @volatile private var server: HttpServer = _

  /** Start on an ephemeral (or given) loopback port; returns the bound port. */
  def start(port: Int = 0): Int = synchronized {
    require(server == null, "already started")
    server = LoopbackServer.create(port)
    // requests dispatch on the handler pool, not the accept thread, so a
    // slow Spark job can't head-of-line-block the listener
    server.setExecutor(httpPool)
    server.createContext("/weather", new HttpHandler {
      override def handle(x: HttpExchange): Unit =
        try route(x)
        catch {
          case _: NumberFormatException =>
            respond(x, 400, """{"error":"malformed numeric parameter"}""")
          case e: java.util.concurrent.TimeoutException =>
            respond(x, 503, s"""{"error":"query timed out: ${e.getMessage}"}""")
          case e: Throwable =>
            respond(x, 500, s"""{"error":${jstr(e.getClass.getSimpleName)}}""")
        }
        finally x.close()
    })
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = synchronized {
    if (server != null) { server.stop(0); server = null }
    // Drain the HANDLER pool before touching the query pool: a handler
    // inside route() that hasn't yet submitted its Future would hit a
    // shut-down queryPool with a RejectedExecutionException (or a
    // rejected continuation that leaves its Await riding the full 120 s).
    // The drain is bounded at 10 s — a handler stuck past that (a query
    // slower than the bound, in a stop() race) can still observe the
    // rejection; that residual is logged here instead of silently
    // claimed away. (daemon pools, so a stuck query can't wedge JVM
    // exit either way)
    httpPool.shutdown()
    val drained =
      httpPool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
    if (!drained)
      System.err.println("[http-query] stop(): handlers still running " +
        "after 10s drain — late submissions may see a rejected execution")
    queryPool.shutdown()
    queryPool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
  }

  private def route(x: HttpExchange): Unit = {
    if (x.getRequestMethod != "GET") {
      respond(x, 405, """{"error":"GET only"}"""); return
    }
    val params = parseQuery(Option(x.getRequestURI.getRawQuery))
    def p(name: String): Long = params.get(name) match {
      case Some(v) => v.toLong
      case None =>
        throw new NumberFormatException(s"missing parameter $name")
    }
    def await[T](f: Future[T]): T = Await.result(f, 120.seconds)
    x.getRequestURI.getPath match {
      case "/weather/current" =>
        reply(x, await(async.currentReading(p("station"))).map(readingJson))
      case "/weather/daily" =>
        reply(x, await(async.dailyStats(p("station"), p("year").toInt,
          p("month").toInt, p("day").toInt)).map(dailyJson))
      case "/weather/monthly" =>
        reply(x, await(async.monthlyHiLow(p("station"), p("year").toInt,
          p("month").toInt)).map(monthlyJson))
      case "/weather/precip/annual" =>
        reply(x, await(async.annualSum(p("station"), p("year").toInt))
          .map(annualJson))
      case "/weather/precip/topk" =>
        val k = p("k").toInt
        if (k <= 0 || k > 10000) { // result is rendered in one response body
          respond(x, 400, """{"error":"k out of range [1, 10000]"}"""); return
        }
        respond(x, 200,
          await(async.topKDays(k)).map(stationDayJson).mkString("[", ",", "]"))
      case "/weather/station" =>
        reply(x, await(async.station(p("id"))).map(stationJson))
      case other =>
        respond(x, 404, s"""{"error":"no route ${other.replace('"', ' ')}"}""")
    }
  }

  /** None — the reference's NoDataAvailable (Weather.scala:118) — is 404. */
  private def reply(x: HttpExchange, body: Option[String]): Unit = body match {
    case Some(b) => respond(x, 200, b)
    case None => respond(x, 404, """{"error":"no data available"}""")
  }

  private def parseQuery(raw: Option[String]): Map[String, String] =
    raw.getOrElse("").split('&').iterator.filter(_.nonEmpty).flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => Some(
          java.net.URLDecoder.decode(k, StandardCharsets.UTF_8) ->
            java.net.URLDecoder.decode(v, StandardCharsets.UTF_8))
        case _ => None
      }
    }.toMap

  private def respond(x: HttpExchange, code: Int, body: String): Unit = {
    val b = (body + "\n").getBytes(StandardCharsets.UTF_8)
    x.getResponseHeaders.set("Content-Type", "application/json")
    x.sendResponseHeaders(code, b.length)
    x.getResponseBody.write(b)
  }

  // --- JSON rendering (hand-rolled like Verify's escaper: zero deps) ---

  private def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def readingJson(r: Reading): String =
    s"""{"stationId":${r.stationId},"eventId":${r.eventId},"kind":${jstr(r.kind)},"value":${r.value}}"""

  private def dailyJson(d: DailyStats): String =
    s"""{"stationId":${d.stationId},"year":${d.year},"month":${d.month},"day":${d.day},""" +
      s""""high":${d.high},"low":${d.low},"mean":${d.mean},"variance":${d.variance},"stdev":${d.stdev}}"""

  private def monthlyJson(m: MonthlyHiLow): String =
    s"""{"stationId":${m.stationId},"year":${m.year},"month":${m.month},"hi":${m.hi},"lo":${m.lo}}"""

  private def annualJson(a: AnnualSum): String =
    s"""{"stationId":${a.stationId},"year":${a.year},"total":${a.total},"count":${a.count}}"""

  private def stationDayJson(s: StationDay): String =
    s"""{"stationId":${s.stationId},"day":${jstr(s.day.toString)},"total":${s.total}}"""

  private def stationJson(s: Station): String =
    s"""{"id":${s.id},"name":${jstr(s.name)},"nation":${jstr(s.nation)},"region":${jstr(s.region)}}"""
}
