package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Batch analytics through the registry (`SparkEntry.queries`): interleaved
  * passes over a fixed set of paper-parity rows, each result forced by a
  * `noop` write, in a seed-shuffled order per pass. Each query is split into
  * build (the registry fn call), plan (forcing the executed plan) and
  * execution (the write). */
object Registry {
  /** The weather rows and TPC-H shapes timed per pass. Every one is
    * hash-green against its DuckDB oracle; see `goldens.json`. */
  val Rows: Seq[String] = Seq(
    "w_daily_stats", "w_monthly_hilo", "w_topk_precip", "w_station_info",
    "q1_pricing", "q3_shipping", "q9_type_profit", "q21_waiting_supp")

  /** Timed passes: a fixed count, so every run leaves the same plans and
    * blocks behind for `heap_live_mb`. */
  val Passes = 2

  /** Row count and an order-independent hash of a result. */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val h = xxhash64(df.columns.map(c => df.col(s"`$c`")): _*)
    val r = df.agg(count(lit(1)), coalesce(sum(h.bitwiseAND(lit(0xffffffffL))), lit(0L)))
      .collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  def goldens(benchDir: String): Map[String, (Long, Long)] =
    Json.mapper.readTree(new java.io.File(benchDir, "goldens.json")).fields().asScala
      .map(e => e.getKey -> (e.getValue.get("rows").asLong, e.getValue.get("hash").asLong)).toMap

  /** The unmeasured pass: every result's row count and hash against its
    * golden (DuckDB-verified when the goldens were made). */
  def check(ctx: Ctx, res: Result, rnd: scala.util.Random): Unit = {
    val gold = goldens(ctx.benchDir)
    for (name <- rnd.shuffle(Rows)) res.op(try {
      val got = fingerprint(graft.SparkEntry.queries(name)(ctx.spark, ctx.corpusDir))
      if (gold.get(name).contains(got)) None else Some(s"$name: rows/hash $got, golden ${gold.get(name)}")
    } catch { case e: Throwable => Some(s"$name: $e") })
  }

  /** The timed passes; `work_s` is the registry total, the sum over the
    * rows of each row's fastest pass. The floor, as in graft.Bench, because
    * two passes are too few for a median to shed a host stall that lands on
    * one of them. */
  def measure(ctx: Ctx, res: Result, rnd: scala.util.Random): Unit = {
    val spark = ctx.spark
    val fns = graft.SparkEntry.queries
    val from = Clock.now
    val times = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[(Double, Double, Double)]]
    for (_ <- 1 to Passes; name <- rnd.shuffle(Rows)) res.op(try ctx.spans.time("registry", name, spark) {
      val t0 = Clock.now
      val df = ctx.spans.time("registry.build", name, spark)(fns(name)(spark, ctx.corpusDir))
      val t1 = Clock.now
      ctx.spans.time("registry.plan", name, spark)(df.queryExecution.executedPlan)
      val t2 = Clock.now
      ctx.spans.time("registry.exec", name, spark)(df.write.format("noop").mode("overwrite").save())
      val t3 = Clock.now
      times.getOrElseUpdate(name, mutable.ArrayBuffer.empty) +=
        (((t1 - t0) / 1e6, (t2 - t1) / 1e6, (t3 - t2) / 1e6))
      None
    } catch { case e: Throwable => Some(s"$name: $e") })
    val to = Clock.now
    val perQuery = times.map { case (n, xs) => n -> xs.map(t => t._1 + t._2 + t._3).min }
    res.e2e("work_s") = perQuery.values.sum / 1000.0

    if (ctx.traced) {
      val all = times.values.flatten
      res.layer("registry.build_ms") = Stats.median(all.map(_._1))
      res.layer("registry.plan_ms") = Stats.median(all.map(_._2))
      res.layer("registry.exec_ms") = Stats.median(all.map(_._3))
      val js = ctx.jobs.between(from, to)
      val runs = all.size.toDouble
      res.layer("registry.jobs") = js.size / runs
      res.layer("registry.stages") = js.map(_.stages.size).sum / runs
      res.layer("registry.tasks") = js.map(_.tasks).sum / runs
      perQuery.foreach { case (n, t) => res.layer(s"registry.$n.ms") = t }
    }
  }
}
