package graft.api

import scala.concurrent.{ExecutionContext, Future}

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, GraftPlanDoor, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Literal, Unevaluable}
import org.apache.spark.sql.catalyst.plans.logical.{Limit, LogicalPlan}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}

import graft.Tables
import graft.functions.GraftFunctions.{centi, fround}

/** Typed query facade — the engine's equivalent of the reference's actor
  * query API (WeatherEvent.scala:36-59 request messages; NodeGuardian.scala:
  * 70-75 routing). One method per request type, returning typed Datasets or
  * Options (the `NoDataAvailable` null-object of Weather.scala:118 becomes
  * None — SURVEY §7.0's mapping).
  *
  * Every method pushes its key predicates into the scan (Catalyst turns the
  * filters into parquet predicate pushdown + partition pruning on a
  * partitioned layout) and aggregates distributively — the reference
  * collected values to the driver and folded (TemperatureActor.scala:59-60),
  * which this deliberately does not reproduce.
  *
  * Prepared plans: each of the six routes is analyzed once per instance,
  * the first time it is called, with a `Slot` leaf where the station,
  * year, month and day go. A call replaces the slots with `Literal`s in
  * one expression transform and wraps the bound plan in a typed Dataset,
  * so a GET re-analyzes a resolved plan instead of building it from the
  * DataFrame API. The optimizer sees plain literals: the key
  * still reaches the scan's `PushedFilters`, and `LiftFilterLiterals` still
  * keeps it out of generated code. Top-k caches its plan below the limit,
  * because `Limit` needs a foldable expression at analysis; a call adds the
  * limit with its `k`. Building a route reads `Tables.events`, so that
  * table's UTC-session guard fires on a route's first call, not on every
  * call. The analyzed plan keeps the file listing it was built with, as
  * the `Tables` cache under it already does: these routes serve the static
  * corpus.
  *
  * One stage over a one-split input: where the `events` scan plans to one
  * input partition, [[graft.Tables.narrow]] marks the key-filtered frame as
  * one partition, so daily, monthly, annual and top-k each run as one job
  * of one stage and one task, without the shuffle into
  * `spark.sql.shuffle.partitions` that a few hundred rows do not need. On a
  * table of more splits the mark is the identity and the distributed plan
  * runs; the scale note is on `narrow`. `currentReading` already runs as
  * one stage, and `station` as one scan of `customer`, enriched from
  * `nation` and `region` collected once per instance.
  */
object WeatherQueries {
  final case class Reading(stationId: Long, eventId: Long, kind: String, value: Double)
  final case class DailyStats(stationId: Long, year: Int, month: Int, day: Int,
      high: Double, low: Double, mean: Double, variance: Double, stdev: Double)
  final case class MonthlyHiLow(stationId: Long, year: Int, month: Int, hi: Double, lo: Double)
  final case class AnnualSum(stationId: Long, year: Int, total: Double, count: Long)
  final case class StationDay(stationId: Long, day: java.sql.Date, total: Double)
  final case class Station(id: Long, name: String, nation: String, region: String)

  /** A request key's place in a prepared plan. It is resolved with its type
    * at analysis, so the analyzer coerces around it as around a literal of
    * that type, and it cannot be evaluated: every call binds it to a
    * `Literal` before the plan is optimized. */
  private[api] final case class Slot(name: String, dataType: DataType)
      extends LeafExpression with Unevaluable {
    override def nullable: Boolean = false
  }

  private val StationKey = Slot("station", LongType)
  private val YearKey = Slot("year", IntegerType)
  private val MonthKey = Slot("month", IntegerType)
  private val DayKey = Slot("day", IntegerType)
}

final class WeatherQueries(spark: SparkSession, dir: String) {
  import WeatherQueries._
  import spark.implicits._

  private def events = Tables.events(spark, dir)
  private def key(s: Slot): Column = GraftPlanDoor.column(s)

  /** The one-split gate of `events`, counted on the first route built. */
  private lazy val narrowEvents = Tables.narrow(spark, events)
  /** `events` filtered by `cond`, marked one partition if it is one split. */
  private def keyed(cond: Column): DataFrame = narrowEvents(events.filter(cond))

  /** The route's analyzed plan with every slot bound to its value. */
  private def bind[T: Encoder](plan: LogicalPlan, keys: (Slot, Any)*): Dataset[T] = {
    val values = keys.toMap
    GraftPlanDoor.dataset[T](spark, plan.transformAllExpressions {
      case s: Slot => Literal(values(s), s.dataType)
    })
  }

  private lazy val currentPlan = events.filter(col("user_id") === key(StationKey))
    .orderBy(desc("event_id")).limit(1)
    .select(col("user_id").as("stationId"), col("event_id").as("eventId"),
      col("event_type").as("kind"), col("value"))
    .queryExecution.analyzed

  /** GetCurrentWeather (WeatherStationActor.scala:43-48): newest reading.
    * The reference leaned on storage DESC order; ordering here is explicit. */
  def currentReading(stationId: Long): Option[Reading] =
    bind[Reading](currentPlan, StationKey -> stationId).collect().headOption

  /** GetDailyTemperature (TemperatureActor.scala:55-60): one station-day's
    * stats, population variance per StatCounter semantics. The full
    * (station, y, m, d) key is pushed into the SCAN as Column predicates —
    * the reference pushed the same key to storage (TemperatureActor.scala:
    * 57-58); filtering after aggregation would scan the station's entire
    * history to answer one day. */
  def dailyStats(stationId: Long, year: Int, month: Int, day: Int): Option[DailyStats] =
    dailyStatsPlan(stationId, year, month, day).collect().headOption

  private lazy val dailyPlan = dailyRollup(keyed(col("user_id") === key(StationKey) &&
      year(col("ts")) === key(YearKey) && month(col("ts")) === key(MonthKey) &&
      dayofmonth(col("ts")) === key(DayKey)))
    .queryExecution.analyzed

  /** The one-station-day plan, bound to its key (exposed so tests can
    * assert the pushed predicates on `queryExecution`). */
  def dailyStatsPlan(stationId: Long, yr: Int, mon: Int, day: Int): Dataset[DailyStats] =
    bind[DailyStats](dailyPlan,
      StationKey -> stationId, YearKey -> yr, MonthKey -> mon, DayKey -> day)

  /** Full daily rollup (optionally one station) as a typed Dataset. */
  def dailyStatsDs(stationId: Option[Long] = None): Dataset[DailyStats] =
    dailyRollup(stationId.fold(events)(id => events.filter(col("user_id") === id)))

  private def dailyRollup(base: DataFrame): Dataset[DailyStats] = {
    val varScaled = (col("s2").cast("double") - col("s1").cast("double") * col("s1") / col("n")) / col("n")
    base.withColumn("iv", centi(col("value")))
      .groupBy(col("user_id").as("stationId"), year(col("ts")).as("year"),
        month(col("ts")).as("month"), dayofmonth(col("ts")).as("day"))
      .agg(max("value").as("high"), min("value").as("low"),
        count(lit(1)).as("n"), sum("iv").as("s1"), sum(col("iv") * col("iv")).as("s2"))
      .select(col("stationId"), col("year"), col("month"), col("day"),
        col("high"), col("low"),
        fround(col("s1").cast("double") / col("n") / 100.0, 4).as("mean"),
        fround(varScaled / 10000.0, 4).as("variance"),
        fround(sqrt(varScaled) / 100.0, 4).as("stdev"))
      .as[DailyStats]
  }

  /** GetMonthlyTemperature (TemperatureActor.scala:65-69): hi/lo over the
    * daily rollup — the reference's aggregation-of-aggregates cascade. The
    * (station, y, m) key filters the scan, and the rollup-of-rollup is a
    * relational `groupBy.agg` (partial aggregation map-side) — a `mapGroups`
    * here would ship every daily row through the shuffle whole. */
  def monthlyHiLow(stationId: Long, year: Int, month: Int): Option[MonthlyHiLow] =
    monthlyHiLowPlan(stationId, year, month).collect().headOption

  private lazy val monthlyPlan = dailyRollup(keyed(col("user_id") === key(StationKey) &&
      year(col("ts")) === key(YearKey) && month(col("ts")) === key(MonthKey)))
    .groupBy(col("stationId"), col("year"), col("month"))
    .agg(max("high").as("hi"), min("low").as("lo"))
    .queryExecution.analyzed

  /** The one-station-month plan, bound to its key (exposed for plan
    * assertions in tests). */
  def monthlyHiLowPlan(stationId: Long, yr: Int, mon: Int): Dataset[MonthlyHiLow] =
    bind[MonthlyHiLow](monthlyPlan, StationKey -> stationId, YearKey -> yr, MonthKey -> mon)

  private lazy val annualPlan = keyed(col("user_id") === key(StationKey) &&
      col("event_type") === "purchase" && year(col("ts")) === key(YearKey))
    .groupBy(col("user_id").as("stationId"))
    .agg(fround(sum("value"), 2).as("total"), count(lit(1)).as("count"))
    .select(col("stationId"), key(YearKey).as("year"), col("total"), col("count"))
    .queryExecution.analyzed

  /** GetPrecipitation (PrecipitationActor.scala:39-44): annual total. */
  def annualSum(stationId: Long, year: Int): Option[AnnualSum] =
    bind[AnnualSum](annualPlan, StationKey -> stationId, YearKey -> year)
      .collect().headOption

  private lazy val topKOrdered = keyed(col("event_type") === "purchase")
    .groupBy(col("user_id").as("stationId"), to_date(col("ts")).as("day"))
    .agg(fround(sum("value"), 2).as("total"))
    .orderBy(desc("total"), col("stationId"), col("day"))
    .queryExecution.analyzed

  /** GetTopKPrecipitation (PrecipitationActor.scala:47-55): k largest
    * station-days — TakeOrderedAndProject, the distributed RDD.top(k). */
  def topKDays(k: Int): Seq[StationDay] =
    bind[StationDay](Limit(Literal(k), topKOrdered)).collect().toSeq

  /** nation ⋈ region, collected once: a nation key's (nation, region).
    * Both are static dimensions of a few dozen rows. */
  private lazy val stationDims: Map[Int, (String, String)] =
    Tables.nation(spark, dir)
      .join(Tables.region(spark, dir), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"), col("r_name"))
      .as[(Int, String, String)].collect()
      .map { case (k, nation, region) => k -> ((nation, region)) }.toMap

  private lazy val stationPlan =
    Tables.customer(spark, dir).filter(col("c_custkey") === key(StationKey))
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
      .queryExecution.analyzed

  /** GetWeatherStation (WeatherStationActor.scala:55-58): dimension lookup
    * in one scan job; the customer row is enriched on the driver from the
    * collected nation and region. As in an inner join, a customer whose
    * nation or region is missing has no answer. */
  def station(id: Long): Option[Station] =
    bind[(Long, String, Option[Int])](stationPlan, StationKey -> id).collect().iterator
      .flatMap { case (custkey, name, nationKey) =>
        nationKey.flatMap(stationDims.get).map { case (nation, region) =>
          Station(custkey, name, nation, region)
        }
      }.nextOption()

  /** The write-back cascade (TemperatureActor.scala:76-77 + 65-69): persist
    * the daily rollup, serve monthly queries from it. */
  def materializeDaily(outDir: String): Unit =
    dailyStatsDs(None).write.mode("overwrite").parquet(outDir)

  def monthlyFromRollup(rollupDir: String): Dataset[MonthlyHiLow] =
    spark.read.parquet(rollupDir)
      .groupBy(col("stationId"), col("year"), col("month"))
      .agg(max("high").as("hi"), min("low").as("lo"))
      .as[MonthlyHiLow]

  /** Non-blocking facade — the reference's query plane never blocked an
    * actor on a Spark job (`collectAsync` piped to the requester,
    * TemperatureActor.scala:59-60, syntax/FutureSyntax.scala:12-22). Each
    * method runs the same plan on the caller's ExecutionContext and
    * completes a Future. Spark's scheduler is thread-safe, so concurrent
    * queries from different threads interleave (pair with FAIR scheduler
    * pools when sharing a cluster). */
  final class Async(implicit ec: ExecutionContext) {
    private val sync = WeatherQueries.this

    /** A10 — request coalescing: identical CONCURRENT requests share one
      * running Future (the reference's client kept a `queried` set so the
      * same query was never issued twice, KillrWeatherClientApp.scala:
      * 95-99). Completed entries evict themselves, so a later identical
      * request re-executes against fresh data — this coalesces in-flight
      * duplicates (a thundering-herd guard), it is NOT a result cache.
      * The holder + putIfAbsent dance makes the side effect (starting the
      * job) happen exactly once per key even under a race — same pattern
      * as [[graft.PersistCache]]. */
    private final class Holder[T](run: () => T, done: Holder[T] => Unit) {
      lazy val fut: Future[T] = {
        val f = Future(run())
        f.onComplete(_ => done(this))
        f
      }
    }
    private val inflight =
      scala.collection.concurrent.TrieMap.empty[Any, Holder[_]]
    private def coalesced[T](key: Any)(run: => T): Future[T] = {
      val h = new Holder[T](() => run, me => inflight.remove(key, me))
      inflight.putIfAbsent(key, h).getOrElse(h)
        .asInstanceOf[Holder[T]].fut
    }

    def currentReading(stationId: Long): Future[Option[Reading]] =
      coalesced(("currentReading", stationId))(sync.currentReading(stationId))
    def dailyStats(stationId: Long, year: Int, month: Int, day: Int): Future[Option[DailyStats]] =
      coalesced(("dailyStats", stationId, year, month, day))(
        sync.dailyStats(stationId, year, month, day))
    def monthlyHiLow(stationId: Long, year: Int, month: Int): Future[Option[MonthlyHiLow]] =
      coalesced(("monthlyHiLow", stationId, year, month))(
        sync.monthlyHiLow(stationId, year, month))
    def annualSum(stationId: Long, year: Int): Future[Option[AnnualSum]] =
      coalesced(("annualSum", stationId, year))(sync.annualSum(stationId, year))
    def topKDays(k: Int): Future[Seq[StationDay]] =
      coalesced(("topKDays", k))(sync.topKDays(k))
    def station(id: Long): Future[Option[Station]] =
      coalesced(("station", id))(sync.station(id))
  }
  /** One Async per ExecutionContext, cached: the coalescing guard only
    * works when all callers share the `inflight` map, so `wq.async` must
    * hand two callers on the same EC the SAME instance (a fresh Async per
    * call would silently disable coalescing). */
  private val asyncPerEc =
    scala.collection.concurrent.TrieMap.empty[ExecutionContext, Async]
  def async(implicit ec: ExecutionContext): Async =
    asyncPerEc.getOrElseUpdate(ec, new Async)
}
