package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured-Streaming plane: the reference's continuous-ingest pipeline
  * (KafkaStreamingActor.scala:39-66) re-expressed as streaming DataFrames.
  *
  * Reference semantics being reproduced:
  *  - S7: raw append sink (`kafkaStream.saveToCassandra(raw)`)
  *  - S8/A5: per-(station, day) running sum delegated to a Cassandra
  *    `counter` column (create-timeseries.cql:76-83). Here: update-mode
  *    streaming aggregation into a [[KeyedTable]] whose `Latest` rule keeps
  *    each key's row from the newest batch.
  *  - fan-out: one source feeding two sinks (KafkaStreamingActor.scala:45,62)
  *
  * Improvement over the reference (SURVEY §2.9): Cassandra counters
  * double-count on replay (at-least-once, non-idempotent increments).
  * Update-mode aggregation emits the FULL recomputed aggregate per key per
  * batch, so the newest batch's row per key is the whole answer, and the
  * table skips a replayed batch id.
  *
  * Scale notes: the aggregation state is keyed by (user_id, day) and lives in
  * the state store (RocksDB/HDFS-backed on a cluster). Key cardinality grows
  * with time — [[dailyCounter]]'s `stateTtl` turns on watermark-based
  * eviction so state for closed days is dropped (StreamingSpec pins both
  * the eviction and the late-row boundary); the sink is a durable keyed
  * table that publishes each batch by one directory rename and merges on
  * read ([[KeyedTable]]), so the counter table survives a driver restart
  * and converges under batch replay.
  */
object CounterStream {

  /** The stream schema = events.parquet with ts at µs (see Tables.events). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** S8/A5 counter pipeline: streaming groupBy(user, day).sum in update
    * mode, foreachBatch adding the full updated aggregates under the batch
    * id to a durable `Latest` table (executor-side — no driver collect;
    * restartable — the table outlives the query and the JVM).
    *
    * `stateTtl` is the 100 TB honesty knob (SURVEY §7.3): the (user, day)
    * key space grows without bound over time, and with `stateTtl = None`
    * the state store keeps every day forever — fine for a bounded replay,
    * wrong for a year-long stream. With `stateTtl = Some("7 days")` the
    * aggregation keys on the event-time WINDOW under a watermark, so
    * Spark finalizes and EVICTS state for days older than
    * max(event_time) − ttl. Semantics at the boundary: a late row within
    * the watermark still merges (its day's state is alive, the sink
    * receives the full re-aggregate); a row older than the watermark is
    * DROPPED before aggregation — the durable table's closed day keeps
    * its finalized value rather than being overwritten by a
    * fresh-state partial recount (which is exactly why eviction without
    * the late-row drop would corrupt a newest-row-wins table). The
    * trade — bounded state for a declared late-arrival tolerance — is
    * the same one the reference implicitly makes by keying Cassandra
    * counters on ingest-time calendar fields.
    *
    * TIMEZONE CONTRACT: the `stateTtl` path REQUIRES
    * `spark.sql.session.timeZone = UTC` (asserted, fail-fast). Its day
    * buckets come from `window(ts, "1 day").start`, and Spark's tumbling
    * windows align to epoch — i.e. UTC midnights — while the
    * `stateTtl = None` path's `to_date(ts)` uses the SESSION timezone.
    * Only under UTC do the two paths produce identical `dy` keys for the
    * same event; in e.g. `America/New_York` every row between local
    * midnight and 05:00 would land on a different day per path. A
    * session-local eviction-capable bucketing is not expressible without
    * giving up fixed-width windows (DST days are 23/25 h), so the
    * library pins the contract instead of silently diverging. */
  def dailyCounter(events: DataFrame, tableDir: String,
      checkpoint: String, stateTtl: Option[String] = None)
      : (StreamingQuery, KeyedTable) = {
    val sink = new KeyedTable(tableDir, Seq("user_id", "dy"), KeyedTable.Latest)
    val agg = stateTtl match {
      case Some(ttl) =>
        // day buckets via window() so the watermark can evict closed
        // days (eviction needs the event-time column, or a window over
        // it, in the grouping key); see the TIMEZONE CONTRACT above for
        // why this path is UTC-only
        val tz = events.sparkSession.conf.get("spark.sql.session.timeZone")
        require(tz == "UTC" || tz == "Etc/UTC" || tz == "GMT",
          s"dailyCounter(stateTtl=...) requires spark.sql.session.timeZone=UTC " +
            s"(got '$tz'): window(ts,'1 day') buckets align to UTC midnights " +
            "and would disagree with the non-TTL path's session-local to_date(ts)")
        events.withWatermark("ts", ttl)
          .groupBy(col("user_id"), window(col("ts"), "1 day").as("w"))
          .agg(sum("value").as("total"), count(lit(1)).as("cnt"))
          .select(col("user_id"), to_date(col("w.start")).as("dy"),
            col("total"), col("cnt"))
      case None =>
        events
          .groupBy(col("user_id"), to_date(col("ts")).as("dy"))
          .agg(sum("value").as("total"), count(lit(1)).as("cnt"))
    }
    val q = agg.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      // update mode emits only keys changed in this batch, each carrying
      // the full recomputed aggregate -> the newest row per key wins
      .foreachBatch { (batch: DataFrame, id: Long) => sink.add(batch, id) }
      .trigger(Trigger.AvailableNow())
      .start()
    (q, sink)
  }

  /** A6 year-cumulative counter (the reference's `year_cumulative_precip`
    * table, create-timeseries.cql:86-91 — present in its schema though its
    * app never writes it): the same update-mode + `Latest` table machinery
    * as [[dailyCounter]] at year grain, over the same rows the batch
    * `w_annual_precip` query aggregates (purchase events). */
  def yearCounter(events: DataFrame, tableDir: String,
      checkpoint: String): (StreamingQuery, KeyedTable) = {
    val sink = new KeyedTable(tableDir, Seq("user_id", "yr"), KeyedTable.Latest)
    val q = events
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), year(col("ts")).as("yr"))
      .agg(sum("value").as("total"), count(lit(1)).as("cnt"))
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) => sink.add(batch, id) }
      .trigger(Trigger.AvailableNow())
      .start()
    (q, sink)
  }

  /** S7 raw append sink: micro-batch append of parsed rows to a parquet
    * table (the reference's raw_weather_data append). */
  def rawAppend(events: DataFrame, outDir: String, checkpoint: String): StreamingQuery =
    events.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()

  /** §2.9 parity extra: watermarked tumbling-window aggregation — the
    * event-time windowing the reference lacks (it keys on calendar fields).
    * The 2-day watermark bounds state: windows older than max(event_time)-2d
    * are finalized and evicted. */
  def windowedSum(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 days")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(sum("value").as("total"), count(lit(1)).as("cnt"))

  /** File-based stream source over a directory of parquet (the zero-egress
    * stand-in for the Kafka topic: S1). */
  def fileSource(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(dir)
}
