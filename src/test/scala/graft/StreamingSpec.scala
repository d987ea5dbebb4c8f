package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming state beyond the ingest fan-out (which holds none; see
  * WeatherIngestSpec and StreamFaultSpec): a mergeable sketch as streaming
  * aggregate state across micro-batches, and custom flatMapGroupsWithState
  * state that survives a restart from the checkpoint (the reference's
  * lifecycle, NodeGuardian.scala:61-67) on both state-store providers.
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSpark.spark
  private val sf = GraftTestSpark.sf

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  test("streaming Misra-Gries vocabulary: O(k) state, bounds hold across micro-batches") {
    import graft.streaming.VocabSketchStream
    // three deliveries forced into separate micro-batches: the custom
    // TypedImperativeAggregate's serialized buffer must round-trip the
    // state store between them (mergeable sketch as streaming state)
    import spark.implicits._
    val corpus = Tables.documents(spark, sf).select("doc_id", "text")
    val src = Files.createTempDirectory("mg-src")
    def stageChunk(i: Int, df: org.apache.spark.sql.DataFrame): Unit = {
      df.coalesce(1).write.parquet(s"$src/d$i")
      val part = Files.list(Paths.get(s"$src/d$i"))
        .filter(p => p.getFileName.toString.startsWith("part-"))
        .findFirst().get()
      Files.move(part, Paths.get(s"$src/chunk$i.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    (0 until 3).foreach(i => stageChunk(i, corpus.filter(col("doc_id") % 3 === i)))
    // the real corpus is near-uniform (every token far below the n/(k+1)
    // presence threshold — the FreqSketchSpec caveat), so the presence
    // guarantee needs a genuinely heavy token: a fourth delivery carries
    // one, putting its count well above n/(k+1) of the combined stream
    stageChunk(3, (0 until 150)
      .map(i => (1000000L + i, Seq.fill(100)("zzhot").mkString(" ")))
      .toDF("doc_id", "text"))
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1") // one delivery per micro-batch
      .parquet(src.toString)
    val q = VocabSketchStream.run(stream, k = 16, top = 10,
      tmp("mg-ckpt"), "mg_stream_sketch")
    q.awaitTermination()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 4,
      "the four deliveries must arrive as separate micro-batches")
    val got = spark.table("mg_stream_sketch").collect()
      .map(r => r.getAs[String]("token") ->
        (r.getAs[Long]("est_cnt"), r.getAs[Long]("max_undercount"),
          r.getAs[Long]("n_tokens"))).toMap
    assert(got.nonEmpty && got.size <= 10) // top is a MAX: near-uniform
    // input can leave fewer than 10 surviving counters
    // exact truth over everything staged (batch read of the same files)
    val exact = spark.read.parquet(src.toString)
      .select(explode(graft.functions.GraftFunctions.tokens(col("text"))).as("tok"))
      .groupBy("tok").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    got.foreach { case (tok, (est, under, nTok)) =>
      assert(nTok == n, s"token-count census drifted: $nTok != $n")
      val truth = exact(tok)
      assert(est <= truth && truth <= est + under,
        s"$tok: est=$est under=$under truth=$truth — MG bound broken across batches")
      assert(under <= n / 17 + 1, s"$tok: undercount $under exceeds n/(k+1)")
    }
    // the presence guarantee survives streaming state-chain merges: the
    // above-threshold token must be in the sketch regardless of merge order
    assert(exact("zzhot") > n / 17 + 1, "test setup: hot token must exceed n/(k+1)")
    assert(got.contains("zzhot"), s"heavy hitter missing from the stream sketch: $got")
  }

  test("streaming top-k leaderboard equals the batch heap operator across restart") {
    topkRestartCase()
  }

  /** Body of the flatMapGroupsWithState restart case, shared with the
    * RocksDB-provider run (custom state encoders must round-trip the
    * alternate store's serialization, not just the in-memory map's). */
  private def topkRestartCase(): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.streaming.TopKStream
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val base = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("value"))
    val src = Files.createTempDirectory("topk-src")
    def stage(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val d = s"$src/_$name"
      df.coalesce(1).write.parquet(d)
      val part = Files.list(Paths.get(d))
        .filter(p => p.getFileName.toString.startsWith("part-"))
        .findFirst().get()
      Files.move(part, Paths.get(s"$src/$name.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    stage("d1", base.filter(col("event_id") % 2 === 0))
    stage("d2", base.filter(col("event_id") % 2 === 1))
    def srcStream() = spark.readStream
      .schema("user_id LONG, event_id LONG, value DOUBLE")
      .option("maxFilesPerTrigger", "1")
      .parquet(src.toString).as[TopKStream.Ev]
    val tableDir = tmp("topk-tbl") + "/board"
    val ckpt = tmp("topk-ckpt")
    val (q1, _) = TopKStream.run(srcStream(), 3, tableDir, ckpt)
    q1.awaitTermination()
    // restart from the same checkpoint with a third delivery: big values
    // that MUST displace existing leaders (state recovery + re-rank)
    stage("d3", (0 until 50)
      .map(i => (i.toLong % 10, 90000000L + i, 1e6 + i))
      .toDF("user_id", "event_id", "value"))
    val (q2, sink) = TopKStream.run(srcStream(), 3, tableDir, ckpt)
    q2.awaitTermination()
    val got = sink.read(spark)
      .select("user_id", "rk", "event_id", "value").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val w = Window.partitionBy("user_id").orderBy(desc("value"), col("event_id"))
    val want = spark.read.parquet(src.toString)
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
      .select("user_id", "rk", "event_id", "value").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == want,
      s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    q2
  }

  test("RocksDB state store: top-k restart holds on the production provider") {
    // the top-k restart case above runs on the default in-memory
    // (HDFS-backed) provider; a 1000-executor deployment runs RocksDB.
    // Re-drive the flatMapGroupsWithState custom-state restart with
    // RocksDBStateStoreProvider, catching any state-encoder serialization
    // gap here rather than at deploy. The case stages fresh checkpoint
    // dirs, so provider state formats never mix.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val provider =
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, provider)
    try {
      val q = topkRestartCase()
      // prove the provider actually took effect: RocksDB publishes its
      // own custom state metrics on every progress
      import scala.jdk.CollectionConverters._
      val metricKeys = q.lastProgress.stateOperators.apply(0)
        .customMetrics.keySet().asScala
      assert(metricKeys.exists(_.toLowerCase.contains("rocksdb")),
        s"query ran without the RocksDB provider; state metrics: $metricKeys")
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
