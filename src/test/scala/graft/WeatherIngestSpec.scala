package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{KeyedTable, WeatherIngest}

/** End-to-end §3.1 ingest on the real wire format: line files → parse →
  * one query → four sinks. Mirrors the reference's KafkaStreamingActorSpec assertions
  * (raw count, counter table populated) but value-exact, against DURABLE
  * counter tables (daily + A6 year-cumulative). */
class WeatherIngestSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSpark.spark

  /** Lines with an empty key field: they parse with no corrupt record, and
    * raw drops them, so quarantine must keep them. */
  private val keyless = Seq(
    ",2008,01,01,00,5.0,-1.0,1010.0,100,3.0,2,9.0,0.0",
    "724940:23234,,01,01,00,5.0,-1.0,1010.0,100,3.0,2,9.0,0.0")

  // 2 stations × 2 days × 3 hours + 1 corrupt line + the keyless lines;
  // precip 0.5/hour on station A day 1, zero elsewhere, one missing-precip
  // field (defaults 0)
  private val lines: Seq[String] = {
    val a = for (d <- 1 to 2; h <- 0 until 3) yield
      f"724940:23234,2008,01,$d%02d,$h%02d,11.7,-0.6,1023.8,50,7.2,2,${if (d == 1) "0.5" else "0.0"},0.0"
    val b = for (d <- 1 to 2; h <- 0 until 3) yield
      f"725030:14732,2008,01,$d%02d,$h%02d,3.0,-2.0,1011.1,200,4.6,4,${if (d == 2 && h == 0) "" else "0.0"},0.0"
    a ++ b ++ Seq("garbage") ++ keyless
  }

  private def dailySnapshot(sink: KeyedTable) =
    sink.read(spark).collect()
      .map(r => (r.getAs[String]("wsid"), r.getAs[Int]("year"), r.getAs[Int]("month"),
        r.getAs[Int]("day")) -> (r.getAs[Double]("precipitation"), r.getAs[Long]("cnt")))
      .toMap

  private def yearSnapshot(sink: KeyedTable) =
    sink.read(spark).collect()
      .map(r => (r.getAs[String]("wsid"), r.getAs[Int]("year")) ->
        (r.getAs[Double]("precipitation"), r.getAs[Long]("cnt")))
      .toMap

  test("ingest fan-out: raw append + daily/year counters + quarantine, value-exact") {
    val src = Files.createTempDirectory("wire-src")
    Files.write(src.resolve("batch1.csv"), lines.mkString("\n").getBytes("UTF-8"))
    val rawOut = Files.createTempDirectory("wire-raw").toString
    val qOut = Files.createTempDirectory("wire-quar").toString
    val ckpt = Files.createTempDirectory("wire-ckpt").toString
    val tables = Files.createTempDirectory("wire-tables").toString

    val stream = spark.readStream.format("text").load(src.toString)
    val run = WeatherIngest.start(stream, rawOut, qOut, ckpt, tables)
    run.awaitAll()

    // raw sink: 12 valid rows, schema-complete
    val raw = spark.read.parquet(rawOut)
    assert(raw.count() == 12)
    assert(raw.columns.toSet == graft.sources.WeatherCsv.schema.fieldNames.toSet)

    // daily counter table: 4 station-days with exact sums
    val c = dailySnapshot(run.dailySink)
    assert(c.size == 4)
    assert(c(("724940:23234", 2008, 1, 1)) == ((1.5, 3L)))
    assert(c(("724940:23234", 2008, 1, 2)) == ((0.0, 3L)))
    assert(c(("725030:14732", 2008, 1, 2)) == ((0.0, 3L))) // missing precip -> 0.0

    // A6 year-cumulative counter table: 2 station-years
    val y = yearSnapshot(run.yearSink)
    assert(y == Map(("724940:23234", 2008) -> ((1.5, 6L)),
      ("725030:14732", 2008) -> ((0.0, 6L))))

    // quarantine: exactly the garbage line and the keyless lines, as sent
    val quar = spark.read.parquet(qOut).collect().map(_.getString(0))
    assert(quar.toSeq.sorted == (keyless :+ "garbage").sorted)
  }

  test("kafka source builder: option plumbing matches the production wire-up") {
    val opts = WeatherIngest.kafkaOptions("broker1:9092,broker2:9092", "raw_weather",
      startingOffsets = "latest", maxOffsetsPerTrigger = Some(10000L))
    assert(opts("kafka.bootstrap.servers") == "broker1:9092,broker2:9092")
    assert(opts("subscribe") == "raw_weather")
    assert(opts("startingOffsets") == "latest")
    assert(opts("failOnDataLoss") == "false") // at-least-once: gaps surface, not kill
    assert(opts("maxOffsetsPerTrigger") == "10000")
    assert(!WeatherIngest.kafkaOptions("b:9092", "t").contains("maxOffsetsPerTrigger"))
  }

  test("kafka source builder: reaches Spark's kafka source resolution (connector absent here)") {
    // zero-egress container has no spark-sql-kafka jar: the builder must
    // fail at SOURCE RESOLUTION (proving format("kafka") is genuinely
    // wired), not at option construction or anywhere earlier
    val e = intercept[Exception] {
      WeatherIngest.kafkaLines(spark, "localhost:9092", "raw_weather")
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.toLowerCase.contains("kafka")), msgs(e).mkString(" | "))
  }

  test("counters resume across restarts: second batch adds into existing keys") {
    val src = Files.createTempDirectory("wire-src2")
    Files.write(src.resolve("b1.csv"),
      "724940:23234,2008,01,01,00,11.7,-0.6,1023.8,50,7.2,2,0.5,0.0".getBytes)
    val rawOut = Files.createTempDirectory("wire-raw2").toString
    val qOut = Files.createTempDirectory("wire-quar2").toString
    val ckpt = Files.createTempDirectory("wire-ckpt2").toString
    val tables = Files.createTempDirectory("wire-tables2").toString

    val run1 = WeatherIngest.start(
      spark.readStream.format("text").load(src.toString), rawOut, qOut, ckpt, tables)
    run1.awaitAll()
    assert(dailySnapshot(run1.dailySink)(("724940:23234", 2008, 1, 1)) == ((0.5, 1L)))

    // new file lands; restart the pipeline from the same checkpoint — the
    // counter tables hold the running sums, and the restart adds into them
    Files.write(src.resolve("b2.csv"),
      "724940:23234,2008,01,01,01,11.9,-0.6,1023.8,50,7.2,2,0.25,0.0".getBytes)
    val run2 = WeatherIngest.start(
      spark.readStream.format("text").load(src.toString), rawOut, qOut, ckpt, tables)
    run2.awaitAll()
    assert(dailySnapshot(run2.dailySink)(("724940:23234", 2008, 1, 1)) == ((0.75, 2L)))
    assert(yearSnapshot(run2.yearSink)(("724940:23234", 2008)) == ((0.75, 2L)))
    assert(spark.read.parquet(rawOut).count() == 2)
  }

  test("crash before the batch commit: restart replays it, every sink matches the lines") {
    import scala.jdk.CollectionConverters._
    val src = Files.createTempDirectory("wire-src3")
    Files.write(src.resolve("b1.csv"), lines.mkString("\n").getBytes("UTF-8"))
    val rawOut = Files.createTempDirectory("wire-raw3").toString
    val qOut = Files.createTempDirectory("wire-quar3").toString
    val ckpt = Files.createTempDirectory("wire-ckpt3")
    val tables = Files.createTempDirectory("wire-tables3").toString
    def stream() = spark.readStream.format("text").load(src.toString)

    WeatherIngest.start(stream(), rawOut, qOut, ckpt.toString, tables).awaitAll()
    // the sinks hold batch 0; drop its commit as if the driver died first
    val commits = ckpt.resolve("fan/commits")
    val last = Files.list(commits).iterator().asScala.toSeq
      .filter(p => !p.getFileName.toString.startsWith("."))
      .maxBy(_.getFileName.toString.toLong)
    Files.delete(last)
    Files.deleteIfExists(commits.resolve("." + last.getFileName.toString + ".crc"))
    val more = Seq(
      "724940:23234,2008,01,03,00,11.7,-0.6,1023.8,50,7.2,2,0.25,0.0",
      "725030:14732,2008,01,01,05,3.0,-2.0,1011.1,200,4.6,4,2.0,0.0",
      "short,line")
    Files.write(src.resolve("b2.csv"), more.mkString("\n").getBytes("UTF-8"))

    // restart on a live trigger: the replayed batch and the new file, one query
    val before = spark.streams.active.map(_.id).toSet
    val run = WeatherIngest.start(stream(), rawOut, qOut, ckpt.toString, tables,
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(200))
    try {
      assert(spark.streams.active.count(q => !before(q.id)) == 1)
      assert(Set(run.raw, run.quarantine, run.counter, run.yearCounter).map(_.id).size == 1)
      run.raw.processAllAvailable()
    } finally run.raw.stop()

    val all = lines ++ more
    val parsed = graft.sources.WeatherCsv.parseLines(spark.createDataset(all)(
      org.apache.spark.sql.Encoders.STRING))
    val valid = graft.sources.WeatherCsv.valid(parsed)
    val rawWant = valid.collect().map(_.toSeq).toSeq.sortBy(_.toString)
    val rawGot = spark.read.parquet(rawOut).select(valid.columns.map(org.apache.spark.sql.functions.col): _*)
      .collect().map(_.toSeq).toSeq.sortBy(_.toString)
    assert(rawGot == rawWant)
    assert(spark.read.parquet(qOut).collect().map(_.getString(0)).toSeq.sorted ==
      (keyless ++ Seq("garbage", "short,line")).sorted)
    val measured = graft.sources.WeatherCsv.withPrecipDefaults(valid).collect()
    def want[K](key: org.apache.spark.sql.Row => K) = measured.groupBy(key).map { case (k, rs) =>
      k -> ((rs.map(_.getAs[Double]("one_hour_precip")).sum, rs.length.toLong))
    }
    assert(dailySnapshot(run.dailySink) == want(r => (r.getAs[String]("wsid"),
      r.getAs[Int]("year"), r.getAs[Int]("month"), r.getAs[Int]("day"))))
    assert(yearSnapshot(run.yearSink) == want(r => (r.getAs[String]("wsid"), r.getAs[Int]("year"))))
  }

  test("start refuses a checkpoint root left by the four-query layout") {
    val ckpt = Files.createTempDirectory("wire-ckpt-old")
    Files.createDirectories(ckpt.resolve("counter/commits"))
    val src = Files.createTempDirectory("wire-src-old")
    val before = spark.streams.active.length
    val e = intercept[IllegalStateException] {
      WeatherIngest.start(spark.readStream.format("text").load(src.toString),
        Files.createTempDirectory("wire-raw-old").toString,
        Files.createTempDirectory("wire-quar-old").toString, ckpt.toString,
        Files.createTempDirectory("wire-tables-old").toString)
    }
    assert(e.getMessage.contains(ckpt.toString) && e.getMessage.contains("counter"))
    assert(spark.streams.active.length == before)
  }
}
