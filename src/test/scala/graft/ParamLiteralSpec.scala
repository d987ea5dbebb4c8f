package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.api.WeatherQueries
import graft.api.WeatherQueries._
import graft.functions.GraftFunctions.fround
import graft.plans.ParamLiteral

/** LiftFilterLiterals (installed by GraftExtensions): a request key reaches
  * whole-stage generated code as a field, so query-door calls that differ
  * only in station and day share one compiled class, and each still answers
  * for its own key. The sf0.001 events cover January 2024 only, so the day
  * and the station are the keys that vary.
  */
class ParamLiteralSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSpark.spark
  private lazy val wq = new WeatherQueries(spark, GraftTestSpark.sf)
  private def events = Tables.events(spark, GraftTestSpark.sf)

  /** The five keyed routes for one (station, day) key. */
  private def routes(station: Long, day: Int): Seq[(String, () => Option[Product])] = Seq(
    "currentReading" -> (() => wq.currentReading(station)),
    "dailyStats" -> (() => wq.dailyStats(station, 2024, 1, day)),
    "monthlyHiLow" -> (() => wq.monthlyHiLow(station, 2024, 1)),
    "annualSum" -> (() => wq.annualSum(station, 2024)),
    "station" -> (() => wq.station(station)))

  /** The same answers from plans with no station or day filter. */
  private def expected(station: Long, day: Int): Seq[Option[Product]] = {
    val newest = events.filter(col("user_id") === station).collect()
      .maxBy(_.getAs[Long]("event_id"))
    val days = wq.dailyStatsDs(None).collect()
      .filter(d => d.stationId == station && d.year == 2024 && d.month == 1)
    val annual = events.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(fround(sum("value"), 2).as("total"), count(lit(1)).as("count"))
      .collect().find(_.getLong(0) == station).get
    val stations = Tables.customer(spark, GraftTestSpark.sf)
      .join(Tables.nation(spark, GraftTestSpark.sf), col("c_nationkey") === col("n_nationkey"))
      .join(Tables.region(spark, GraftTestSpark.sf), col("n_regionkey") === col("r_regionkey"))
      .collect()
    val st = stations.find(_.getAs[Long]("c_custkey") == station).get
    Seq(
      Some(Reading(station, newest.getAs[Long]("event_id"),
        newest.getAs[String]("event_type"), newest.getAs[Double]("value"))),
      days.find(_.day == day),
      Some(MonthlyHiLow(station, 2024, 1, days.map(_.high).max, days.map(_.low).min)),
      Some(AnnualSum(station, 2024, annual.getDouble(1), annual.getLong(2))),
      Some(Station(station, st.getAs[String]("c_name"), st.getAs[String]("n_name"),
        st.getAs[String]("r_name"))))
  }

  private def compiled(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private object Aqe extends AdaptiveSparkPlanHelper
  /** Runs `ds` and returns the Filter conditions of the plan that ran (the
    * test session has AQE on, so that is the final adaptive plan). */
  private def ranConditions(ds: Dataset[_]): Seq[Expression] = {
    ds.collect()
    Aqe.collect(ds.queryExecution.executedPlan) { case f: FilterExec => f.condition }
  }
  private def lifted(conditions: Seq[Expression]): Boolean =
    conditions.exists(_.exists(_.isInstanceOf[ParamLiteral]))

  private def withConfs[T](confs: (String, String)*)(body: => T): T = {
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally confs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("a new station and day compiles no class on the five keyed routes") {
    routes(0L, 1).foreach { case (_, call) => call() }
    val answers = routes(7L, 9).map { case (name, call) =>
      val before = compiled()
      val answer = call()
      assert(compiled() - before == 0L, s"$name compiled classes for a new key")
      answer
    }
    assert(answers == expected(7L, 9))
  }

  test("pushed scan filters and the Filter text are unchanged") {
    val ds = wq.dailyStatsPlan(0L, 2024, 1, 1)
    val ran = ranConditions(ds)
    val physical = ds.queryExecution.executedPlan.toString
    assert(physical.contains("PushedFilters") && physical.contains("EqualTo(user_id,0)"),
      physical)
    assert(lifted(ran), physical)
    val planned = ds.queryExecution.sparkPlan.collect { case f: FilterExec => f.condition }
    assert(ran.map(_.toString) == planned.map(_.toString))
  }

  test("branches that differ only in a filter constant are not reused as one") {
    // a key filter on `events` is also in the scan's DataFilters, so those
    // branches never look alike; a threshold above the per-station shuffle
    // leaves the constant as the only difference between the two branches.
    // AQE checks stage reuse before the rule runs; without AQE (the latency
    // profile) exchange reuse compares the lifted plans.
    val perStation = events.groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    def above(k: Long) = perStation.filter(col("n") > k)
      .agg(count(lit(1)).as("stations"), sum("n").as("events"))
    val got = withConfs("spark.sql.adaptive.enabled" -> "false") {
      above(60L).union(above(70L)).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    val counts = perStation.collect().map(_.getLong(1))
    val want = Seq(60L, 70L).map(k => counts.filter(_ > k))
      .map(c => (c.length.toLong, c.sum))
    assert(want.distinct.size == 2 && got == want)
  }

  test("the interpreted path returns the same answers") {
    val keys = Seq((0L, 1), (7L, 9), (5L, 12))
    val generated = keys.map { case (s, d) => routes(s, d).map(_._2()) }
    withConfs("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      assert(lifted(ranConditions(wq.dailyStatsPlan(7L, 2024, 1, 9))))
      assert(keys.map { case (s, d) => routes(s, d).map(_._2()) } == generated)
    }
  }
}
