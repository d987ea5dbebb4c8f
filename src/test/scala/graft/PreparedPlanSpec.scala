package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.api.WeatherQueries
import graft.api.WeatherQueries._
import graft.functions.GraftFunctions.{centi, fround}

/** The query door's prepared plans: each route is analyzed once and bound
  * to its key per call, and over the one-split test corpus the keyed
  * aggregates run as one stage. The answers are checked against plans
  * built per call the way the facade built them before it prepared its
  * routes; the sf0.001 events cover January 2024 only. */
class PreparedPlanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import PreparedPlanSpec.Shape
  private lazy val spark = GraftTestSpark.spark
  private val sf = GraftTestSpark.sf
  private lazy val wq = new WeatherQueries(spark, sf)
  private def events = Tables.events(spark, sf)

  // --- the per-call plans the routes are checked against ---------------

  private def freshDailyRollup(base: DataFrame): DataFrame = {
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
  }

  private object Fresh {
    import spark.implicits._
    def current(st: Long): Option[Reading] =
      events.filter(col("user_id") === st).orderBy(desc("event_id")).limit(1)
        .select(col("user_id").as("stationId"), col("event_id").as("eventId"),
          col("event_type").as("kind"), col("value"))
        .as[Reading].collect().headOption
    def daily(st: Long, y: Int, m: Int, d: Int): Option[DailyStats] =
      freshDailyRollup(events.filter(col("user_id") === st && year(col("ts")) === y &&
        month(col("ts")) === m && dayofmonth(col("ts")) === d))
        .as[DailyStats].collect().headOption
    def monthly(st: Long, y: Int, m: Int): Option[MonthlyHiLow] =
      freshDailyRollup(events.filter(col("user_id") === st && year(col("ts")) === y &&
        month(col("ts")) === m))
        .groupBy(col("stationId"), col("year"), col("month"))
        .agg(max("high").as("hi"), min("low").as("lo"))
        .as[MonthlyHiLow].collect().headOption
    def annual(st: Long, y: Int): Option[AnnualSum] =
      events.filter(col("user_id") === st && col("event_type") === "purchase" &&
          year(col("ts")) === y)
        .groupBy(col("user_id").as("stationId"))
        .agg(fround(sum("value"), 2).as("total"), count(lit(1)).as("count"))
        .withColumn("year", lit(y))
        .select(col("stationId"), col("year"), col("total"), col("count"))
        .as[AnnualSum].collect().headOption
    def topK(k: Int): Seq[StationDay] =
      events.filter(col("event_type") === "purchase")
        .groupBy(col("user_id").as("stationId"), to_date(col("ts")).as("day"))
        .agg(fround(sum("value"), 2).as("total"))
        .orderBy(desc("total"), col("stationId"), col("day"))
        .limit(k).as[StationDay].collect().toSeq
    def station(id: Long): Option[Station] =
      Tables.customer(spark, sf).filter(col("c_custkey") === id)
        .join(broadcast(Tables.nation(spark, sf)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(spark, sf)), col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey").as("id"), col("c_name").as("name"),
          col("n_name").as("nation"), col("r_name").as("region"))
        .as[Station].collect().headOption
  }

  /** 50 (station, year, month, day) keys: stations of the corpus, absent
    * ones and a negative id; days past the data and a month without it. */
  private lazy val keys: Seq[(Long, Int, Int, Int)] = {
    val rnd = new scala.util.Random(7)
    val stations = events.select("user_id").distinct().collect().map(_.getLong(0)).sorted
    val known = Seq.fill(38)((stations(rnd.nextInt(stations.length)), 2024, 1, 1 + rnd.nextInt(31)))
    val absent = Seq((-1L, 2024, 1, 1), (-42L, 2024, 1, 5), (999999L, 2024, 1, 1),
      (stations.max + 1, 2024, 1, 3), (Long.MinValue, 2024, 1, 2))
    val offData = Seq((stations.head, 2024, 1, 0), (stations.head, 2024, 2, 1),
      (stations.last, 2023, 1, 1), (stations(1), 2024, 12, 31), (stations(2), 2025, 1, 9),
      (stations(3), 2024, 1, 32), (stations(4), -1, 1, 1))
    known ++ absent ++ offData
  }

  test("bound plans answer like per-call plans for 50 keys per route, 404 keys included") {
    assert(keys.size == 50)
    var misses = 0
    keys.foreach { case (st, y, m, d) =>
      val pairs = Seq(
        "current" -> (wq.currentReading(st), Fresh.current(st)),
        "daily" -> (wq.dailyStats(st, y, m, d), Fresh.daily(st, y, m, d)),
        "monthly" -> (wq.monthlyHiLow(st, y, m), Fresh.monthly(st, y, m)),
        "annual" -> (wq.annualSum(st, y), Fresh.annual(st, y)),
        "station" -> (wq.station(st), Fresh.station(st)))
      pairs.foreach { case (route, (bound, fresh)) =>
        assert(bound == fresh, s"$route at ($st, $y, $m, $d)")
        if (fresh.isEmpty) misses += 1
      }
    }
    (1 to 50).foreach(k => assert(wq.topKDays(k) == Fresh.topK(k), s"topk k=$k"))
    // the 404 keys ran: every route answered None for some key
    assert(misses >= 5 * 5, s"only $misses empty answers")
  }

  /** Jobs, stages and tasks of the Spark jobs `body` starts on this thread,
    * with the executed plans of its actions. */
  private def shapeOf(body: => Unit): Shape = {
    val sc = spark.sparkContext
    val group = s"prepared-plan-spec-${System.nanoTime()}"
    val started = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val ended = new ConcurrentLinkedQueue[Int]()
    val ran = new ConcurrentLinkedQueue[QueryExecution]()
    val jobs = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          started.add(e)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId)
    }
    // plan ids grow: a plan built before `body` (an earlier call whose
    // event is still on the listener bus) is not `body`'s
    val before = spark.range(0).queryExecution.id
    val plans = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.id > before) ran.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    sc.addSparkListener(jobs)
    spark.listenerManager.register(plans)
    try {
      sc.setJobGroup(group, "prepared plan shape")
      try body finally sc.clearJobGroup()
      // listener events arrive on the bus thread: wait until every job of
      // the group has ended and the action's plan has been reported
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      def settled = !started.isEmpty && !ran.isEmpty &&
        started.asScala.forall(s => ended.contains(s.jobId))
      while (!settled && System.nanoTime() < deadline) Thread.sleep(20)
      assert(settled, "listener events did not arrive")
    } finally {
      spark.listenerManager.unregister(plans)
      sc.removeSparkListener(jobs)
    }
    val js = started.asScala.toSeq
    Shape(js.size, js.map(_.stageInfos.size).sum,
      js.flatMap(_.stageInfos).map(_.numTasks).sum, ran.asScala.toSeq)
  }

  private def exchanges(qe: QueryExecution): Seq[Exchange] =
    collect(qe.executedPlan) { case e: Exchange => e }

  test("over the one-split corpus, daily, monthly, annual and topk run as one stage, no exchange") {
    val routes: Seq[(String, () => Any)] = Seq(
      "daily" -> (() => wq.dailyStats(0L, 2024, 1, 1)),
      "monthly" -> (() => wq.monthlyHiLow(0L, 2024, 1)),
      "annual" -> (() => wq.annualSum(0L, 2024)),
      "topk" -> (() => wq.topKDays(5)))
    routes.foreach { case (_, call) => call() } // build the prepared plans
    // the test session runs AQE; the latency profile the door serves from
    // (Sessions) turns it off
    for (aqe <- Seq("true", "false"); (route, call) <- routes) {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      val shape = try shapeOf(call()) finally spark.conf.unset("spark.sql.adaptive.enabled")
      assert(shape.plans.size == 1, s"$route, AQE $aqe: ${shape.plans.size} actions")
      val plan = shape.plans.head
      assert(exchanges(plan).isEmpty, s"$route, AQE $aqe:\n${plan.executedPlan}")
      assert((shape.jobs, shape.stages, shape.tasks) == ((1, 1, 1)), s"$route, AQE $aqe: $shape")
    }
  }

  test("on a table of several splits the gate is the identity: exchanges stay, answers match") {
    val copy = java.nio.file.Files.createTempDirectory("prepared-multisplit").toString
    events.repartition(4).write.parquet(s"$copy/events.parquet")
    try {
      val split = new WeatherQueries(spark, copy)
      split.annualSum(0L, 2024) // build the prepared plan outside the measured call
      val daily = split.dailyStatsPlan(0L, 2024, 1, 1)
      assert(daily.collect().headOption == wq.dailyStats(0L, 2024, 1, 1))
      assert(exchanges(daily.queryExecution).nonEmpty, daily.queryExecution.executedPlan.toString)
      val monthly = split.monthlyHiLowPlan(7L, 2024, 1)
      assert(monthly.collect().headOption == wq.monthlyHiLow(7L, 2024, 1))
      assert(exchanges(monthly.queryExecution).nonEmpty, monthly.queryExecution.executedPlan.toString)
      val shape = shapeOf(split.annualSum(5L, 2024))
      assert(exchanges(shape.plans.head).nonEmpty && shape.stages > 1 && shape.tasks > 1, shape)
      Seq((0L, 1), (7L, 9), (5L, 12), (-1L, 3)).foreach { case (st, d) =>
        assert(split.dailyStats(st, 2024, 1, d) == wq.dailyStats(st, 2024, 1, d))
        assert(split.monthlyHiLow(st, 2024, 1) == wq.monthlyHiLow(st, 2024, 1))
        assert(split.annualSum(st, 2024) == wq.annualSum(st, 2024))
        assert(split.currentReading(st) == wq.currentReading(st))
      }
      assert(split.topKDays(10) == wq.topKDays(10))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(copy))
  }
}

object PreparedPlanSpec {
  final case class Shape(jobs: Int, stages: Int, tasks: Int, plans: Seq[QueryExecution])
}
