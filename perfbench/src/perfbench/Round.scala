package perfbench

import java.time.{LocalDate, ZoneOffset}
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

/** The reference client's six-query round (one GET per request message)
  * and the answer key every reply is checked against.
  *
  * The key is computed in plain Scala from the generator's own copy of the
  * `events`, `customer`, `nation` and `region` rows: full-table aggregates
  * made without Spark, the query door or the facade, valid for any seed. */
object Round {
  val Routes: Seq[String] = Seq("current", "daily", "monthly", "annual", "topk", "station")
  val TopK = 10
  /** Rounds start every 2 s and spread their six GETs across it. */
  val PeriodMs = 2000L

  final case class Key(station: Int, day: Int)

  def path(route: String, k: Key): String = route match {
    case "current" => s"/weather/current?station=${k.station}"
    case "daily" => s"/weather/daily?station=${k.station}&year=${Corpus.Year}&month=${Corpus.Month}&day=${k.day}"
    case "monthly" => s"/weather/monthly?station=${k.station}&year=${Corpus.Year}&month=${Corpus.Month}"
    case "annual" => s"/weather/precip/annual?station=${k.station}&year=${Corpus.Year}"
    case "topk" => s"/weather/precip/topk?k=$TopK"
    case "station" => s"/weather/station?id=${k.station}"
  }

  /** `n` round keys: stations Zipf-skewed (exponent 1), days uniform over
    * the month. The sequence of Zipf ranks is the same for every seed, so
    * every run repeats keys (and reuses cached work) in the same pattern;
    * the seed picks which station holds each rank, and the days. */
  def keys(seed: Long, n: Int): IndexedSeq[Key] = {
    val r = new SplittableRandom(seed ^ 0x5e7eL)
    val station = (0 until Corpus.Stations).toArray
    for (i <- station.indices.reverse) { // Fisher-Yates
      val j = r.nextInt(i + 1); val t = station(i); station(i) = station(j); station(j) = t
    }
    val w = Array.tabulate(Corpus.Stations)(i => 1.0 / (i + 1))
    val cdf = w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
    val ranks = new SplittableRandom(0x2a9fL)
    IndexedSeq.fill(n) {
      val i = java.util.Arrays.binarySearch(cdf, ranks.nextDouble()) match {
        case x if x >= 0 => x
        case x => -x - 1
      }
      Key(station(math.min(i, Corpus.Stations - 1)), 1 + r.nextInt(Corpus.Days))
    }
  }

  /** Open-loop GET operations for `rounds` rounds starting at `t0`. */
  def ops(base: String, keys: IndexedSeq[Key], t0: Long, answers: AnswerKey,
      timeoutMs: Int, spans: Spans): Seq[OpenLoop.Op] =
    for {
      (k, r) <- keys.zipWithIndex
      (route, i) <- Routes.zipWithIndex
    } yield OpenLoop.Op(t0 + (r * PeriodMs + i * PeriodMs / Routes.size) * 1000000L,
      "get", route, () => spans.time("query_door", route) {
        answers.check(route, k, Http.get(base + path(route, k), timeoutMs))
      })
}

final class AnswerKey(d: Corpus.Data) {
  import Corpus.Event
  /** Replies that were the right 404 (`NoDataAvailable`). */
  val notFound = new java.util.concurrent.atomic.AtomicLong()
  private val monthStartSec =
    LocalDate.of(Corpus.Year, Corpus.Month, 1).atStartOfDay().toEpochSecond(ZoneOffset.UTC)
  private def dayOf(e: Event): Int = ((e.micros / 1000000L - monthStartSec) / 86400L).toInt + 1
  private def centi(v: Double): Long = math.floor(v * 100 + 0.5).toLong
  private def fround(x: Double, k: Int): Double = {
    val p = math.pow(10, k); math.floor(x * p + 0.5) / p
  }

  private val byStation = d.events.groupBy(_.station)
  private val latest: Map[Int, Event] = byStation.map { case (s, es) => s -> es.maxBy(_.id) }
  private val byDay: Map[(Int, Int), Array[Event]] = d.events.groupBy(e => (e.station, dayOf(e)))
  private val purchases = d.events.filter(_.kind == "purchase")
  val topK: Seq[(Int, Int, Long)] = purchases.groupBy(e => (e.station, dayOf(e))).toSeq
    .map { case ((s, day), es) => (s, day, es.map(e => centi(e.value)).sum) }
    .sortBy { case (s, day, c) => (-c, s, day) }.take(Round.TopK)

  /** The expected JSON fields of a reply; None for the 404 of
    * `NoDataAvailable`. Topk is checked separately (an array). */
  def expected(route: String, k: Round.Key): Option[Map[String, Any]] = route match {
    case "current" => latest.get(k.station).map(e =>
      Map("stationId" -> k.station, "eventId" -> e.id, "kind" -> e.kind, "value" -> e.value))
    case "daily" => byDay.get((k.station, k.day)).map { es =>
      val n = es.length.toLong
      val s1 = es.map(e => centi(e.value)).sum
      val s2 = es.map(e => centi(e.value) * centi(e.value)).sum
      val varScaled = (s2.toDouble - s1.toDouble * s1.toDouble / n.toDouble) / n.toDouble
      Map("stationId" -> k.station, "year" -> Corpus.Year, "month" -> Corpus.Month,
        "day" -> k.day, "high" -> es.map(_.value).max, "low" -> es.map(_.value).min,
        "mean" -> fround(s1.toDouble / n / 100.0, 4),
        "variance" -> fround(varScaled / 10000.0, 4),
        "stdev" -> fround(math.sqrt(varScaled) / 100.0, 4))
    }
    case "monthly" => byStation.get(k.station).map(es =>
      Map("stationId" -> k.station, "year" -> Corpus.Year, "month" -> Corpus.Month,
        "hi" -> es.map(_.value).max, "lo" -> es.map(_.value).min))
    case "annual" =>
      val ps = byStation.getOrElse(k.station, Array.empty[Event]).filter(_.kind == "purchase")
      if (ps.isEmpty) None
      else Some(Map("stationId" -> k.station, "year" -> Corpus.Year,
        "total" -> ps.map(e => centi(e.value)).sum / 100.0, "count" -> ps.length))
    case "station" => d.customers.lift(k.station).map { c =>
      Map("id" -> c.key, "name" -> c.name, "nation" -> d.nationNames(c.nation),
        "region" -> d.regionNames(d.nationRegion(c.nation)))
    }
  }

  /** None if the reply is the right answer, else what is wrong with it. */
  def check(route: String, k: Round.Key, r: Http.Reply): Option[String] =
    if (route == "topk") {
      if (r.code != 200) Some(s"topk: HTTP ${r.code}")
      else {
        val got = Json.read(r.body).elements().asScala.map(Json.fields).toSeq
        val want = topK.map { case (s, day, c) =>
          Map[String, Any]("stationId" -> s,
            "day" -> LocalDate.of(Corpus.Year, Corpus.Month, day).toString, "total" -> c / 100.0)
        }
        if (got.size != want.size) Some(s"topk: ${got.size} rows, want ${want.size}")
        else got.zip(want).collectFirst(Function.unlift { case (g, w) => AnswerKey.diff(g, w) })
          .map(e => s"topk: $e")
      }
    } else expected(route, k) match {
      case None =>
        if (r.code == 404) { notFound.incrementAndGet(); None }
        else Some(s"$route $k: HTTP ${r.code}, want 404")
      case Some(w) =>
        if (r.code != 200) Some(s"$route $k: HTTP ${r.code}, want 200")
        else AnswerKey.diff(Json.fields(Json.read(r.body)), w).map(e => s"$route $k: $e")
    }
}

object AnswerKey {
  /** None if every wanted field is in `got` with the wanted value. */
  def diff(got: Map[String, String], want: Map[String, Any]): Option[String] =
    want.collectFirst(Function.unlift { case (f, v) =>
      got.get(f) match {
        case None => Some(s"missing $f")
        case Some(g) => v match {
          case x: Double =>
            val ok = try math.abs(g.toDouble - x) <= 1e-9 * math.max(1.0, math.abs(x))
            catch { case _: NumberFormatException => false }
            if (ok) None else Some(s"$f=$g, want $x")
          case x => if (g == x.toString) None else Some(s"$f=$g, want $x")
        }
      }
    })
}
