package graft.streaming

import java.util.concurrent.{ExecutionException, LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}

import scala.util.{Failure, Try}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{classic, DataFrame}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.streaming.sinks.FileStreamSink
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sources.WeatherCsv

/** The reference's flagship continuous-ingest pipeline (SURVEY §3.1;
  * KafkaStreamingActor.scala:39-66) end-to-end on the REAL wire format:
  *
  *   text lines (Kafka topic stand-in: any line source)
  *     → honest 13-column decode (WeatherCsv.parseLines; S2)
  *     → fan-out:
  *         (a) raw append sink — the raw_weather_data table (S7)
  *         (b) per-(wsid, y, m, d) one_hour_precip sum and count added into
  *             the daily_aggregate_precip COUNTER table (S8/A5)
  *         (c) per-(wsid, y) sum and count added into the
  *             year_cumulative_precip COUNTER table (A6,
  *             create-timeseries.cql:86-91; present in the reference's
  *             schema though its app never writes it)
  *         (d) quarantine — every line that is corrupt or whose key did
  *             not parse, as it arrived; the reference had no answer for
  *             bad lines (its parser threw mid-batch, Weather.scala:93)
  *
  * One checkpointed streaming query (`$checkpointRoot/fan`) lists the
  * source and parses each line once per trigger, as the reference parses
  * one Kafka DStream once and hands it to both tables. Its `foreachBatch`
  * pins the parsed batch and writes the four sinks concurrently; the batch
  * commits only after every sink has it. Exactly-once comes from the
  * replayable source plus sinks keyed by batch id (Structured Streaming,
  * SIGMOD 2018): raw and quarantine are Spark's own `FileStreamSink`, whose
  * `_spark_metadata` log skips a batch id it already holds, and the counter
  * tables are `Sum` [[KeyedTable]]s, which publish each batch's increments by
  * one directory rename under its batch id and skip a replayed id. The
  * stream holds no state: the counter tables are the only copy of the
  * running sums, where the reference keeps them in Cassandra counters,
  * which double-count replayed increments.
  *
  * Scale notes: the parse is stateless and shuffle-free; only the counter
  * deltas shuffle, and a batch's delta is bounded by the station-days it
  * touches. A trigger appends its deltas and rewrites no table; every few
  * triggers one of them also folds the deltas into a new base (see
  * [[KeyedTable]]).
  */
object WeatherIngest {

  /** Reader options for the production Kafka form of the line source
    * (KafkaStreamingActor.scala:39-40: the reference subscribes one topic
    * from a bootstrap list and treats each record value as a raw CSV line).
    * Pure so the plumbing is unit-testable in a zero-egress environment.
    *
    * `failOnDataLoss=false` mirrors the reference's at-least-once stance:
    * a compacted/expired offset should surface as a gap, not kill the
    * query — the durable counter sinks converge under replay anyway. */
  def kafkaOptions(
      bootstrap: String,
      topic: String,
      startingOffsets: String = "earliest",
      maxOffsetsPerTrigger: Option[Long] = None): Map[String, String] =
    Map(
      "kafka.bootstrap.servers" -> bootstrap,
      "subscribe" -> topic,
      "startingOffsets" -> startingOffsets,
      "failOnDataLoss" -> "false") ++
      maxOffsetsPerTrigger.map("maxOffsetsPerTrigger" -> _.toString)

  /** The `format("kafka")` streaming frame behind the same parse/fan-out as
    * [[start]]: record value → `value: String` line column, exactly what
    * `WeatherCsv.parseLines` consumes. Requires the spark-sql-kafka
    * connector on the classpath at runtime (absent here — zero egress — so
    * specs assert the option plumbing and that this path reaches Spark's
    * source resolution; the file/memory sources are the tested stand-in). */
  def kafkaLines(
      s: org.apache.spark.sql.SparkSession,
      bootstrap: String,
      topic: String,
      startingOffsets: String = "earliest",
      maxOffsetsPerTrigger: Option[Long] = None): DataFrame =
    s.readStream
      .format("kafka")
      .options(kafkaOptions(bootstrap, topic, startingOffsets, maxOffsetsPerTrigger))
      .load()
      .selectExpr("CAST(value AS STRING) AS value")

  /** The running fan-out: its one streaming query under each sink's name,
    * and the two counter tables. */
  final case class Running(raw: StreamingQuery, quarantine: StreamingQuery,
      counter: StreamingQuery, yearCounter: StreamingQuery,
      dailySink: KeyedTable, yearSink: KeyedTable) {
    def awaitAll(): Unit = raw.awaitTermination()
  }

  /** Checkpoint directories of the four-query layout this fan-out replaced. */
  private val OldCheckpoints = Seq("raw", "quarantine", "counter", "year_counter")

  /** Declare all four sinks over one line source and start the one query
    * that feeds them, checkpointed at `$checkpointRoot/fan`.
    * `tableRoot` holds the two durable counter tables
    * (`$tableRoot/daily_precip`, `$tableRoot/year_precip`).
    * `trigger` defaults to AvailableNow (drain-and-stop, the batch-bench
    * and test shape); a live feed passes a ProcessingTime trigger so the
    * fan-out keeps polling its spool at a fixed cadence instead of
    * terminating at the current file set.
    *
    * Refuses a `checkpointRoot` left by the four-query layout (a fresh
    * `fan` query restarts at batch 0: the raw sink's log would skip its
    * batches and the counters would add the whole spool again). */
  def start(
      lines: DataFrame, // streaming DataFrame with a `value: String` column
      rawOut: String,
      quarantineOut: String,
      checkpointRoot: String,
      tableRoot: String,
      trigger: Trigger = Trigger.AvailableNow()): Running = {
    val spark = lines.sparkSession
    import spark.implicits._
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val ckpt = new Path(checkpointRoot)
    val ckptFs = ckpt.getFileSystem(hadoopConf)
    if (!ckptFs.exists(new Path(ckpt, "fan"))) {
      val old = OldCheckpoints.filter(d => ckptFs.exists(new Path(ckpt, d)))
      if (old.nonEmpty) throw new IllegalStateException(
        s"WeatherIngest: checkpoint root $checkpointRoot holds the four-query " +
          s"layout (${old.mkString("/, ")}/) and no fan/; a fresh fan-out would " +
          "restart at batch 0, skip raw batches and re-add the spool to the " +
          "counters. Start from an empty checkpoint root and empty sinks.")
    }

    // the same file sink and `_spark_metadata` log that format("parquet")
    // keeps, written from the batch; its path must be qualified
    def fileSink(dir: String) = {
      val p = new Path(dir)
      val qualified = p.getFileSystem(hadoopConf).makeQualified(p).toString
      new FileStreamSink(spark, qualified, new ParquetFileFormat, Nil, Map("path" -> qualified))
    }
    val rawSink = fileSink(rawOut)
    val quarantineSink = fileSink(quarantineOut)
    val dailySink = new KeyedTable(s"$tableRoot/daily_precip",
      Seq("wsid", "year", "month", "day"), KeyedTable.Sum)
    val yearSink = new KeyedTable(s"$tableRoot/year_precip", Seq("wsid", "year"), KeyedTable.Sum)
    // one thread per sink; idle threads exit, so a stopped query leaves none
    val pool = new ThreadPoolExecutor(4, 4, 30L, TimeUnit.SECONDS,
      new LinkedBlockingQueue[Runnable](), (r: Runnable) => {
        val t = new Thread(r, "weather-ingest-sink")
        t.setDaemon(true)
        t
      })
    pool.allowCoreThreadTimeOut(true)

    val q = WeatherCsv.parseLines(lines.as[String]).writeStream
      .option("checkpointLocation", s"$checkpointRoot/fan")
      .foreachBatch { (parsed: DataFrame, batchId: Long) =>
        parsed.persist()
        try {
          val valid = WeatherCsv.valid(parsed)
          val measured = WeatherCsv.withPrecipDefaults(valid)
          def counts(keys: String*) = measured.groupBy(keys.map(col): _*)
            .agg(sum("one_hour_precip").as("precipitation"), count(lit(1)).as("cnt"))
          val writes: Seq[() => Unit] = Seq(
            () => rawSink.addBatch(batchId, valid),
            () => quarantineSink.addBatch(batchId, WeatherCsv.rejected(parsed)),
            () => dailySink.add(counts("wsid", "year", "month", "day"), batchId),
            () => yearSink.add(counts("wsid", "year"), batchId))
          // each write runs with the batch's job group and SQL execution, so
          // stopping the query cancels them; the batch commits only after
          // all four have returned
          val session = parsed.sparkSession.asInstanceOf[classic.SparkSession]
          val done = writes.map(w => SQLExecution.withThreadLocalCaptured(session, pool)(w()))
            .map(f => Try(f.get()))
          done.collectFirst { case Failure(e) => e }.foreach {
            case e: ExecutionException if e.getCause != null => throw e.getCause
            case e => throw e
          }
        } finally parsed.unpersist()
      }
      .trigger(trigger)
      .start()

    Running(q, q, q, q, dailySink, yearSink)
  }
}
