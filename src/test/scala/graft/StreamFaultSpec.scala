package graft

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.WeatherCsv
import graft.streaming.{KeyedTable, WeatherIngest}

object StreamFaultSpec {
  /** Armed by the test, consumed (exactly once) by the injected task —
    * a static so the executor-side closure and the test share one flag
    * (local mode is one JVM; the object also survives closure
    * serialization). */
  val fire = new AtomicBoolean(false)
  /** The poisoned line: lives in the second staged file, so the injected
    * failure lands in batch 1, after batch 0 committed in every sink. It
    * lives in the companion (with `fire`) so the executor closure
    * references ONLY statics — an instance member would drag the whole
    * non-serializable suite into the task closure. */
  val Poison = "725030:14732,2008,01,03,07,3.0,-2.0,1011.1,200,4.6,4,0.75,0.0"
}

/** Exactly-once through the ingest fan-out under a MID-BATCH task failure.
  * `WeatherIngest` writes its four sinks (raw, quarantine, the daily and
  * year counter tables) as concurrent jobs over one persisted batch. The
  * first job to compute the batch's partition meets the poisoned line and
  * dies; its siblings compute the partition again, the fault spent, and
  * publish the batch. So the batch is in some sinks and not in others when
  * the query fails, the state a crash mid-fan-out leaves. The restart must
  * replay the batch from the checkpoint, and each sink must skip it or
  * write it once: every sink converges to the lines' twin.
  *
  * The case runs with AQE off, as perfbench's session does. With AQE on
  * (this suite's default, and `Sessions.Scale`, which BenchStream uses),
  * the persisted batch is materialized by a job of its own that every
  * sink's job depends on, so a fault in it aborts all four jobs and no
  * sink publishes the batch.
  */
class StreamFaultSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSpark.spark
  private def tmp(prefix: String) = Files.createTempDirectory(prefix)

  private def readings(wsid: String, day: Int, precip: String): Seq[String] =
    (0 until 6).map(h => f"$wsid,2008,01,$day%02d,$h%02d,3.0,-2.0,1011.1,200,4.6,4,$precip,0.0")

  private val file1 = readings("724940:23234", 1, "0.5") ++ readings("725030:14732", 1, "0.25") :+
    "garbage one"
  private val file2 = readings("724940:23234", 2, "1.0") ++ readings("725030:14732", 3, "") ++ Seq(
    StreamFaultSpec.Poison, "garbage two", ",2008,01,02,00,3.0,-2.0,1011.1,200,4.6,4,9.0,0.0")

  /** The two line files in a watched directory, file 1 the older, so that
    * maxFilesPerTrigger=1 makes them batches 0 and 1. */
  private def stage(): Path = {
    val src = tmp("fault-src")
    val t0 = System.currentTimeMillis() - 60000
    Seq(file1, file2).zipWithIndex.foreach { case (ls, i) =>
      val f = src.resolve(s"lines$i.csv")
      Files.write(f, ls.mkString("\n").getBytes("UTF-8"))
      Files.setLastModifiedTime(f, FileTime.fromMillis(t0 + i * 30000))
    }
    src
  }

  /** The staged lines with the fault injected as a mapPartitions pass: the
    * first task to reach the poisoned line while the flag is armed throws
    * mid-iteration, mid-batch. */
  private def flakyLines(src: Path): DataFrame =
    spark.readStream.format("text").option("maxFilesPerTrigger", 1).load(src.toString)
      .as(Encoders.STRING)
      .mapPartitions(_.map { l =>
        if (l == StreamFaultSpec.Poison && StreamFaultSpec.fire.compareAndSet(true, false))
          throw new RuntimeException("graft: injected mid-batch task failure")
        l
      })(Encoders.STRING)
      .toDF("value")

  private def causeChain(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10)
      .map(t => Option(t.getMessage).getOrElse("")).toSeq

  private def snapshot(t: KeyedTable, keys: Seq[String]): Map[Seq[Any], (Double, Long)] =
    t.read(spark).collect().map(r =>
      keys.map(r.getAs[Any]) -> ((r.getAs[Double]("precipitation"), r.getAs[Long]("cnt")))).toMap

  test("one sink job killed mid-batch: restart converges all four sinks") {
    val src = stage()
    val rawOut = tmp("fault-raw")
    val qOut = tmp("fault-quar")
    val ckpt = tmp("fault-ckpt").toString
    val tables = tmp("fault-tables")
    def start() = WeatherIngest.start(flakyLines(src), rawOut.toString, qOut.toString, ckpt,
      tables.toString)
    val aqe = "spark.sql.adaptive.enabled"
    val savedAqe = spark.conf.get(aqe)
    spark.conf.set(aqe, "false")
    StreamFaultSpec.fire.set(true)
    try {
      val e = intercept[StreamingQueryException](start().awaitAll())
      assert(causeChain(e).exists(_.contains("injected mid-batch task failure")),
        s"query must die on the INJECTED fault, got: ${causeChain(e)}")
      assert(!StreamFaultSpec.fire.get(), "the fault must actually have fired")
    } finally {
      StreamFaultSpec.fire.set(false)
      spark.conf.set(aqe, savedAqe)
    }

    // batch 1 is published in at least one sink and missing from another
    val published = Map(
      "raw" -> rawOut.resolve("_spark_metadata/1"),
      "quarantine" -> qOut.resolve("_spark_metadata/1"),
      "daily" -> tables.resolve("daily_precip/deltas/batch=1"),
      "year" -> tables.resolve("year_precip/deltas/batch=1")).map { case (n, p) => n -> Files.exists(p) }
    assert(published.values.toSet == Set(true, false), s"batch 1 per sink: $published")

    val run = start()
    run.awaitAll()

    // every sink equals the twin of all the lines
    val all = file1 ++ file2
    val parsed = WeatherCsv.parseLines(spark.createDataset(all)(Encoders.STRING))
    val valid = WeatherCsv.valid(parsed)
    def rows(df: DataFrame) = df.select(valid.columns.map(org.apache.spark.sql.functions.col): _*)
      .collect().map(_.toSeq).toSeq.sortBy(_.toString)
    assert(rows(spark.read.parquet(rawOut.toString)) == rows(valid))
    assert(spark.read.parquet(qOut.toString).collect().map(_.getString(0)).toSeq.sorted ==
      Seq("garbage one", "garbage two", ",2008,01,02,00,3.0,-2.0,1011.1,200,4.6,4,9.0,0.0").sorted)
    val measured = WeatherCsv.withPrecipDefaults(valid).collect()
    def want(keys: Seq[String]) = measured.groupBy((r: Row) => keys.map(r.getAs[Any])).map {
      case (k, rs) => k -> ((rs.map(_.getAs[Double]("one_hour_precip")).sum, rs.length.toLong))
    }
    val daily = Seq("wsid", "year", "month", "day")
    val year = Seq("wsid", "year")
    assert(snapshot(run.dailySink, daily) == want(daily))
    assert(snapshot(run.yearSink, year) == want(year))
  }
}
