package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.KeyedTable

/** The kappa-architecture monitoring pipeline: STREAM the raw events into a
  * durable daily-count rollup (update-mode agg → `Latest` keyed table),
  * then run the SAME batch z-score analytics over the sinked table — and
  * get row-identical output to running evt_zscore_anomaly over the raw
  * batch. One continuous rollup feeds the whole analytics surface; no
  * separate batch re-aggregation layer. */
class StreamZscoreSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSpark.spark
  private val sf = GraftTestSpark.sf

  test("streamed daily rollup + batch z-score == batch evt_zscore_anomaly") {
    val batch = SparkEntry.queries("evt_zscore_anomaly")(spark, sf)
      .collect().map(_.toString).sorted

    val table = Files.createTempDirectory("zs-table").resolve("daily").toString
    val ckpt = Files.createTempDirectory("zs-ckpt").toString
    // the one shared events stream recipe (schema + nanos handling)
    val raw = graft.streaming.EventStreamSource.staged(spark, sf)

    val sink = new KeyedTable(table, Seq("event_type", "day"), KeyedTable.Latest)
    val q = raw
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) => sink.add(b, id) }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val streamed = graft.operators.AnalyticsOps.zscoreOverDaily(sink.read(spark))
      .collect().map(_.toString).sorted
    assert(streamed.toSeq == batch.toSeq,
      "z-score over the streamed rollup must equal the batch query")
  }
}
