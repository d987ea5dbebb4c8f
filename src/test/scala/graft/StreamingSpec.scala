package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{CounterStream, KeyedParquetSink}

/** Streaming parity: the counter pipeline must equal the batch groupBy on
  * the same data (the property the reference delegates to Cassandra counter
  * columns — KafkaStreamingActor.scala:55-64), the durable MERGE sink must
  * be idempotent under replay AND survive a crash-restart from the
  * checkpoint (the reference's lifecycle, NodeGuardian.scala:61-67), and
  * fan-out (one source, two sinks) must work.
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSpark.spark
  private val sf = GraftTestSpark.sf

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  /** Stream the sf0.001 events table through a file source (ns->µs handled
    * the same way Tables.events does it for batch). FileStreamSource needs a
    * directory, so the table file is staged into a temp dir once. */
  private lazy val streamDir: String = {
    val dir = Files.createTempDirectory("events-stream")
    Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    dir.toString
  }

  private def eventStream(dir: String = streamDir) =
    graft.streaming.EventStreamSource.fromDir(spark, dir)

  private def batchDailyAgg() = Tables.events(spark, sf)
    .groupBy(col("user_id"), to_date(col("ts")).as("dy"))
    .agg(sum("value").as("total"), count(lit(1)).as("cnt"))
    .collect()
    .map(r => (r.getLong(0), r.getDate(1)) -> (r.getDouble(2), r.getLong(3)))
    .toMap

  private def sinkSnapshot(sink: KeyedParquetSink) =
    sink.read(spark).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[java.sql.Date]("dy")) ->
        (r.getAs[Double]("total"), r.getAs[Long]("cnt")))
      .toMap

  test("streaming daily counter equals batch groupBy.sum (durable table)") {
    val (q, sink) = CounterStream.dailyCounter(eventStream(),
      tmp("counter-tbl") + "/daily", tmp("ckpt-counter"))
    q.awaitTermination()
    val batch = batchDailyAgg()
    val got = sinkSnapshot(sink)
    assert(got.size == batch.size)
    batch.foreach { case (k, (total, cnt)) =>
      val (gt, gc) = got(k)
      assert(gc == cnt && math.abs(gt - total) < 1e-6, s"key $k")
    }
  }

  test("durable MERGE upsert is idempotent under batch replay and merges new keys") {
    import spark.implicits._
    val sink = new KeyedParquetSink(tmp("upsert-tbl") + "/t", Seq("k"), numBuckets = 4)
    val b1 = Seq(("a", 10.5, 3L), ("b", 4.0, 1L)).toDF("k", "total", "cnt")
    sink.upsert(b1)
    sink.upsert(b1) // replayed batch (same recomputed aggregates)
    val once = sink.read(spark).collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(once == Map("a" -> ((10.5, 3L)), "b" -> ((4.0, 1L))))
    // next batch updates one key, adds one; untouched key must survive
    val b2 = Seq(("b", 9.0, 2L), ("c", 1.0, 1L)).toDF("k", "total", "cnt")
    sink.upsert(b2)
    val after = sink.read(spark).collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(after == Map("a" -> ((10.5, 3L)), "b" -> ((9.0, 2L)), "c" -> ((1.0, 1L))))
  }

  test("upsert rewrites touched buckets in place: one file per bucket, others untouched") {
    import spark.implicits._
    val dir = tmp("layout-tbl") + "/t"
    val sink = new KeyedParquetSink(dir, Seq("k"), numBuckets = 4)
    // the key is not the first column: read must keep the batch's order
    def batch(rows: Seq[(Double, String, Long)]) = rows.toDF("total", "k", "cnt")
    def snapshot() = sink.read(spark).collect()
      .map(r => r.getAs[String]("k") -> (r.getAs[Double]("total"), r.getAs[Long]("cnt"))).toMap
    /** bucket dir -> its parquet files as (name, length) */
    def layout(): Map[String, Seq[(String, Long)]] = {
      import scala.jdk.CollectionConverters._
      Files.list(Paths.get(dir)).iterator().asScala.filter(Files.isDirectory(_))
        .map(d => d.getFileName.toString -> Files.list(d).iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .map(f => f.getFileName.toString -> Files.size(f)).toSeq.sorted)
        .toMap
    }
    sink.upsert(batch((1 to 40).map(i => (i.toDouble, s"k$i", 1L))))
    sink.upsert(batch((1 to 40 by 3).map(i => (i * 2.0, s"k$i", 2L))))
    sink.upsert(batch(Seq((0.5, "k41", 1L))))
    val before = layout()
    assert(before.keySet == (0 until 4).map(b => s"kb=$b").toSet)
    assert(before.values.forall(_.size == 1), s"one parquet file per bucket: $before")
    assert(sink.read(spark).columns.toSeq == Seq("total", "k", "cnt"))

    val one = batch(Seq((99.0, "k1", 5L))) // touches exactly one bucket
    sink.upsert(one)
    val after = layout()
    assert(after.values.forall(_.size == 1), s"one parquet file per bucket: $after")
    assert(after.keySet == before.keySet && after.count { case (b, fs) => fs != before(b) } == 1,
      s"only the touched bucket may be rewritten:\n$before\n$after")
    assert(!Files.exists(Paths.get(dir + ".staging")))

    val want = (1 to 40).map(i => s"k$i" ->
      (if (i == 1) (99.0, 5L) else if (i % 3 == 1) (i * 2.0, 2L) else (i.toDouble, 1L))).toMap +
      ("k41" -> ((0.5, 1L)))
    assert(snapshot() == want)
    sink.upsert(one) // replay
    assert(snapshot() == want)
    assert(layout().values.forall(_.size == 1))
  }

  test("upsert fails fast past maxBatchKeys (missing-watermark guard), table intact") {
    import spark.implicits._
    val sink = new KeyedParquetSink(tmp("cap-tbl") + "/t", Seq("k"),
      numBuckets = 4, maxBatchKeys = 8)
    val ok = (1 to 8).map(i => (s"k$i", 1.0, 1L)).toDF("k", "total", "cnt")
    sink.upsert(ok)
    assert(sink.read(spark).count() == 8)
    // a synthetic wide-key batch — what an unwatermarked aggregation's
    // ever-growing update-mode output looks like — must be rejected
    // before any table rewrite, leaving the durable state untouched
    val wide = (1 to 9).map(i => (s"w$i", 1.0, 1L)).toDF("k", "total", "cnt")
    val e = intercept[IllegalStateException] { sink.upsert(wide) }
    assert(e.getMessage.contains("watermark"))
    assert(sink.read(spark).count() == 8)
  }

  test("crash recovery: restart from checkpoint replays the uncommitted batch, converges") {
    // two half-files delivered across a simulated crash
    val src = Files.createTempDirectory("crash-src")
    def stage(name: String, filter: org.apache.spark.sql.Column): Unit = {
      val outTmp = Files.createTempDirectory(s"stage-$name")
      Tables.events(spark, sf).filter(filter).coalesce(1)
        .write.mode("overwrite").parquet(outTmp.toString)
      val part = Files.list(outTmp).filter(p => p.getFileName.toString.startsWith("part-"))
        .findFirst().get()
      Files.copy(part, src.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
    }
    val tableDir = tmp("crash-tbl") + "/daily"
    val ckpt = tmp("crash-ckpt")

    stage("half1", col("event_id") <= 500)
    // staged files already carry a proper TimestampType ts column
    def stagedStream() = spark.readStream
      .schema("event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING")
      .parquet(src.toString)

    val (q1, sink1) = CounterStream.dailyCounter(stagedStream(), tableDir, ckpt)
    q1.awaitTermination()
    assert(sinkSnapshot(sink1).nonEmpty)

    // simulate a crash AFTER the sink ran but BEFORE the batch committed:
    // drop the newest commit marker so restart re-executes (replays) it
    import scala.jdk.CollectionConverters._
    val commits = Paths.get(ckpt, "commits")
    val newest = Files.list(commits).iterator().asScala.toSeq
      .filter(p => !p.getFileName.toString.startsWith("."))
      .maxBy(_.getFileName.toString)
    Files.delete(newest)
    // the local ChecksumFileSystem keeps a hidden .N.crc sibling; remove it
    // too or the replayed commit's rename collides with the stale checksum
    Files.deleteIfExists(commits.resolve("." + newest.getFileName.toString + ".crc"))

    stage("half2", col("event_id") > 500)
    val (q2, sink2) = CounterStream.dailyCounter(stagedStream(), tableDir, ckpt)
    q2.awaitTermination()

    // replayed batch + new batch must converge to exactly the batch answer
    val batch = batchDailyAgg()
    val got = sinkSnapshot(sink2)
    assert(got.size == batch.size)
    batch.foreach { case (k, (total, cnt)) =>
      val (gt, gc) = got(k)
      assert(gc == cnt && math.abs(gt - total) < 1e-6, s"key $k")
    }
  }

  test("A6 year-cumulative streaming counter equals w_annual_precip batch grouping") {
    val (q, sink) = CounterStream.yearCounter(eventStream(),
      tmp("year-tbl") + "/year", tmp("ckpt-year"))
    q.awaitTermination()
    val batch = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), year(col("ts")).as("yr"))
      .agg(sum("value").as("total"), count(lit(1)).as("cnt"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getDouble(2), r.getLong(3)))
      .toMap
    val got = sink.read(spark).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Int]("yr")) ->
        (r.getAs[Double]("total"), r.getAs[Long]("cnt")))
      .toMap
    assert(got.size == batch.size)
    batch.foreach { case (k, (total, cnt)) =>
      val (gt, gc) = got(k)
      assert(gc == cnt && math.abs(gt - total) < 1e-6, s"key $k")
    }
  }

  test("fan-out: raw append sink + counter sink from the same source") {
    val outDir = tmp("raw-out")
    val q1 = CounterStream.rawAppend(eventStream(), outDir, tmp("ckpt-raw"))
    val (q2, sink) = CounterStream.dailyCounter(eventStream(),
      tmp("counter-tbl2") + "/daily", tmp("ckpt-counter2"))
    q1.awaitTermination(); q2.awaitTermination()
    assert(spark.read.parquet(outDir).count() == 1000L)
    assert(sink.read(spark).count() > 0)
  }

  test("watermarked tumbling-window agg equals batch window agg") {
    val agg = CounterStream.windowedSum(eventStream())
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("win_out")
      .option("checkpointLocation", tmp("ckpt-win"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("win_out")
      .select(col("window.start").as("ws"), col("event_type"), col("total"), col("cnt"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> (r.getDouble(2), r.getLong(3))).toMap
    val batch = Tables.events(spark, sf)
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(sum("value").as("total"), count(lit(1)).as("cnt"))
      .select(col("window.start").as("ws"), col("event_type"), col("total"), col("cnt"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> (r.getDouble(2), r.getLong(3))).toMap
    // Append mode emits only FINALIZED windows: those older than
    // max(event_time) - 2d watermark. Later windows are correctly withheld
    // at stream end (they'd be emitted once more data advances the clock).
    val maxTs = Tables.events(spark, sf)
      .agg(max("ts")).collect().head.getTimestamp(0).toInstant
    val horizon = maxTs.minus(java.time.Duration.ofDays(2))
    assert(streamed.keySet.subsetOf(batch.keySet))
    batch.foreach { case (k @ (ws, _), (t, c)) =>
      val windowEnd = ws.toInstant.plus(java.time.Duration.ofDays(1))
      if (!windowEnd.isAfter(horizon)) {
        val (st, sc) = streamed(k)
        assert(sc == c && math.abs(st - t) < 1e-6, s"finalized window $k")
      } else {
        assert(!streamed.contains(k), s"non-finalized window $k must be withheld")
      }
    }
  }

  test("stateTtl: closed-day state is evicted; late-but-in-watermark rows still merge") {
    ttlEvictionCase()
  }

  /** Body of the TTL-eviction case, shared with the RocksDB-provider run
    * below (fresh temp dirs per invocation, so the two providers never
    * read each other's state format). Returns the final query for
    * provider-level assertions. */
  private def ttlEvictionCase(): org.apache.spark.sql.streaming.StreamingQuery = {
    import java.sql.Timestamp
    // synthetic flow under driver control: one parquet file per "delivery",
    // staged into the source dir between runs (same ckpt => watermark and
    // state persist across restarts, like the crash-recovery case)
    val src = Files.createTempDirectory("ttl-src")
    def stage(name: String, rows: Seq[(Long, String, Long, Double)]): Unit = {
      import spark.implicits._
      val outTmp = Files.createTempDirectory(s"ttl-stage-$name")
      rows.toDF("event_id", "tss", "user_id", "value")
        .select(col("event_id"), to_timestamp(col("tss"), "yyyy-MM-dd HH:mm:ss").as("ts"),
          col("user_id"), lit("click").as("event_type"), col("value"),
          lit("{}").as("props"))
        .coalesce(1).write.mode("overwrite").parquet(outTmp.toString)
      val part = Files.list(outTmp).filter(p => p.getFileName.toString.startsWith("part-"))
        .findFirst().get()
      Files.copy(part, src.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
    }
    def srcStream() = spark.readStream
      .schema("event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING")
      .parquet(src.toString)
    val tableDir = tmp("ttl-tbl") + "/daily"
    val ckpt = tmp("ttl-ckpt")
    val ttl = Some("7 days")

    // delivery 1: five early days
    stage("d1", (1 to 5).map(d => (d.toLong, f"2024-01-0$d%01d 10:00:00", 1L, 1.0)))
    val (q1, sink1) = CounterStream.dailyCounter(srcStream(), tableDir, ckpt, ttl)
    q1.awaitTermination()
    assert(sink1.read(spark).count() == 5)

    // delivery 2: the stream clock jumps to Feb 1 -> watermark Jan 25;
    // the five January-early-days' state must be EVICTED at batch end
    stage("d2", Seq((10L, "2024-02-01 10:00:00", 1L, 2.0)))
    val (q2, _) = CounterStream.dailyCounter(srcStream(), tableDir, ckpt, ttl)
    q2.awaitTermination()
    val stateAfterJump = q2.lastProgress.stateOperators.apply(0).numRowsTotal
    assert(stateAfterJump <= 2,
      s"closed-day state must be evicted, still holding $stateAfterJump rows")

    // delivery 3: one row older than the watermark (Jan 3, DROPPED before
    // aggregation -- the durable closed day must keep its finalized value,
    // not be overwritten by a fresh-state partial recount) and one late
    // row inside the watermark (Jan 30, must merge as a normal update)
    stage("d3", Seq(
      (20L, "2024-01-03 12:00:00", 1L, 100.0),
      (21L, "2024-01-30 12:00:00", 1L, 3.0)))
    val (q3, sink3) = CounterStream.dailyCounter(srcStream(), tableDir, ckpt, ttl)
    q3.awaitTermination()
    val rows = sink3.read(spark).collect()
      .map(r => r.getAs[java.sql.Date]("dy").toString ->
        (r.getAs[Double]("total"), r.getAs[Long]("cnt"))).toMap
    assert(rows("2024-01-03") == ((1.0, 1L)),
      "too-late row must be dropped; the closed day keeps its finalized value")
    assert(rows("2024-01-30") == ((3.0, 1L)),
      "late-but-in-watermark row must merge")
    assert(rows("2024-02-01") == ((2.0, 1L)))
    assert(rows.size == 7)
    val finalOp = q3.lastProgress.stateOperators.apply(0)
    assert(finalOp.numRowsTotal <= 3,
      s"state must stay bounded by the ttl horizon, got ${finalOp.numRowsTotal} rows")
    assert(finalOp.numRowsDroppedByWatermark >= 1,
      "the below-watermark row must be dropped by the watermark filter")
    q3
  }

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

  test("RocksDB state store: TTL eviction + top-k restart hold on the production provider") {
    // the O(k)/TTL state claims are proven above on the default in-memory
    // (HDFS-backed) provider; a 1000-executor deployment runs RocksDB.
    // Re-drive the two state-heavy cases — watermark eviction and the
    // flatMapGroupsWithState custom-state restart — with
    // RocksDBStateStoreProvider, catching any state-encoder serialization
    // gap here rather than at deploy. Each case stages fresh checkpoint
    // dirs, so provider state formats never mix.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val provider =
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, provider)
    try {
      for (q <- Seq(ttlEvictionCase(), topkRestartCase())) {
        // prove the provider actually took effect: RocksDB publishes its
        // own custom state metrics on every progress
        import scala.jdk.CollectionConverters._
        val metricKeys = q.lastProgress.stateOperators.apply(0)
          .customMetrics.keySet().asScala
        assert(metricKeys.exists(_.toLowerCase.contains("rocksdb")),
          s"query ran without the RocksDB provider; state metrics: $metricKeys")
      }
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
