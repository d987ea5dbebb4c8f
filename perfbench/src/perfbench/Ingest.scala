package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom
import java.util.zip.GZIPOutputStream

import scala.collection.mutable

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

import graft.api.HttpQueryServer
import graft.streaming.{HttpIngest, WeatherIngest}

/** Wire-format readings in the reference's 13-column CSV, generated from the
  * seed, with the sums and counts the counter tables must end up holding. */
final class Feed(seed: Long, stations: Int) {
  private val r = new SplittableRandom(seed ^ 0xfeedL)
  def wsid(i: Int): String = f"${720000 + 7 * i}%06d:${20000 + 13 * i}%05d"
  private val t0 = java.time.LocalDateTime.of(2008, 1, 1, 0, 0)

  var lines = 0L
  var garbled = 0L
  var nonNumeric = 0L
  var late = 0L
  /** (wsid, year, month, day) -> (one_hour_precip sum, line count). */
  val daily = mutable.HashMap.empty[(String, Int, Int, Int), (Double, Long)]
  /** (wsid, year) -> (one_hour_precip sum, line count). */
  val yearly = mutable.HashMap.empty[(String, Int), (Double, Long)]

  /** One reading; about 0.5% garbled (the key's hour is not a number, so
    * the line goes to quarantine only), 0.5% with a non-numeric
    * temperature (kept with a null field), and — from the second simulated
    * day on, when `lateOk` — 2% re-dated to an earlier day. */
  private def line(station: Int, hourIndex: Long, lateOk: Boolean): String = {
    var t = t0.plusHours(hourIndex)
    if (lateOk && hourIndex >= 24 && r.nextInt(50) == 0) {
      t = t0.plusDays(r.nextLong(hourIndex / 24)).plusHours(r.nextInt(24).toLong)
      late += 1
    }
    val precip = if (r.nextInt(5) == 0) (1 + r.nextInt(50)) / 10.0 else 0.0
    val u = r.nextInt(200)
    val hour = if (u == 0) "xx" else f"${t.getHour}%02d"
    val temp = if (u == 1) "n/a" else f"${-10 + r.nextInt(450) / 10.0}%.1f"
    lines += 1
    if (u == 0) garbled += 1
    else {
      if (u == 1) nonNumeric += 1
      val w = wsid(station)
      val dk = (w, t.getYear, t.getMonthValue, t.getDayOfMonth)
      val (ds, dc) = daily.getOrElse(dk, (0.0, 0L))
      daily(dk) = (ds + precip, dc + 1)
      val yk = (w, t.getYear)
      val (ys, yc) = yearly.getOrElse(yk, (0.0, 0L))
      yearly(yk) = (ys + precip, yc + 1)
    }
    f"${wsid(station)},${t.getYear},${t.getMonthValue}%02d,${t.getDayOfMonth}%02d,$hour,$temp," +
      f"${-15 + r.nextInt(400) / 10.0}%.1f,${980 + r.nextInt(600) / 10.0}%.1f,${r.nextInt(360)}," +
      f"${r.nextInt(200) / 10.0}%.1f,${r.nextInt(20)},$precip%.1f,${precip * 2}%.1f"
  }

  /** The next simulated hour for every live station. */
  def hour(h: Long): String =
    (0 until stations).map(s => line(s, h, lateOk = true)).mkString("", "\n", "\n")

  /** A whole station-year of hourly readings (8,784 lines for leap 2008)
    * for a station outside the live set. */
  def stationYear(station: Int): String =
    (0L until 366L * 24L).map(h => line(station, h, lateOk = false)).mkString("", "\n", "\n")
}

object Feed {
  def gzip(s: String): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(out)
    gz.write(s.getBytes(StandardCharsets.UTF_8)); gz.close()
    out.toByteArray
  }
}

/** One reader beside the feed (traced runs only): the query round's GETs
  * back to back (closed loop) until told to stop. Under the feed a GET takes
  * seconds, so an open-loop round at the reference client's cadence would
  * only measure the client's own queue. */
final class Reader(base: String, keys: IndexedSeq[Round.Key], answers: AnswerKey, spans: Spans)
    extends Thread("perfbench-reader") {
  setDaemon(true)
  @volatile private var stopping = false
  private val out = mutable.ArrayBuffer.empty[OpenLoop.Done]
  private val notFoundAt = mutable.ArrayBuffer.empty[Long]
  override def run(): Unit = {
    var i = 0
    while (!stopping) {
      val k = keys(i / Round.Routes.size % keys.size)
      val route = Round.Routes(i % Round.Routes.size)
      val t0 = Clock.now
      val err = try spans.time("query_door", route) {
        val r = Http.get(base + Round.path(route, k), Ingest.TimeoutMs)
        if (r.code == 404) notFoundAt.synchronized(notFoundAt += t0)
        answers.check(route, k, r)
      } catch { case e: Throwable => Some(e.toString) }
      out.synchronized(out += OpenLoop.Done(OpenLoop.Op(t0, "get", route, () => None), t0, Clock.now, err))
      i += 1
    }
  }
  /** GETs issued from `from` on that were the right 404. */
  def notFound(from: Long): Int = notFoundAt.synchronized(notFoundAt.count(_ >= from))
  /** Stop after the GET in flight; every GET issued. */
  def finish(): Seq[OpenLoop.Done] = { stopping = true; join(); out.synchronized(out.toSeq) }
}

/** The write path: the feed POSTed into the ingest door and streamed into
  * the raw, quarantine and two counter tables, then a bulk load of gzip
  * station-year files.
  *
  * The timed phases run no reader. A reader beside the feed competes with
  * the counter sinks for the same four cores, and a counter trigger then
  * took 4 to 8.5 s depending on which GETs overlapped it. Over ten seeds
  * the middle half of the freshness figures spread by up to 26% of their
  * median with a closed-loop reader; over four seeds their range was 12%
  * with one GET a second and 3% with no reader. Reads beside writes are a
  * traced run's extra phase, after the timed ones: the query door's
  * per-layer figures under the feed come from there. */
object Ingest extends Workload {
  /** Live feed: one POST of the next simulated hour every 250 ms. */
  val StationsPerPost = 100
  val PostEveryMs = 250L
  val TriggerMs = 1000L
  /** The unmeasured warm leg: this many POSTs on the live schedule (10 s
    * of feed), drained before timing starts. A shorter leg leaves the live
    * phase on the counter sinks' warm-up curve, where a trigger still
    * shrinks from about 7 s towards 4 s. */
  val WarmPosts = 40
  /** Bulk phase: one gzip station-year file per wave; the median wave is
    * reported. */
  val BulkWaves = 3
  val DrainTimeoutMs = 90000L
  val TimeoutMs = 20000

  private val queries = Layers.StreamQueries

  /** One POST body and the feed's line count through it. */
  private final case class Body(bytes: Array[Byte], through: Long)

  def run(ctx: Ctx, res: Result): Unit = {
    val spark = ctx.spark
    val answers = new AnswerKey(Corpus.load(spark, ctx.corpusDir, write = false))
    val root = s"${ctx.work}/ingest"
    // every input exists before the program starts
    val feed = new Feed(ctx.seed, StationsPerPost)
    var hour = 0L
    def bodies(n: Int): Seq[Body] = (0 until n).map { _ =>
      val b = feed.hour(hour).getBytes(StandardCharsets.UTF_8)
      hour += 1
      Body(b, feed.lines)
    }
    val warmBodies = bodies(WarmPosts)
    val liveBodies = bodies((ctx.seconds * 1000L / PostEveryMs).toInt)
    val bulkFiles = (0 until BulkWaves).map { i =>
      val station = StationsPerPost + i
      (s"${feed.wsid(station).replace(':', '-')}-2008.csv.gz",
        Body(Feed.gzip(feed.stationYear(station)), feed.lines))
    }
    // traced runs only: the feed beside the reader, after the timed phases
    val mixedBodies = if (ctx.traced) bodies((ctx.seconds * 1000L / PostEveryMs).toInt) else Nil
    val readKeys = Round.keys(ctx.seed, 64)
    val heap0 = Workload.heapBase()

    val log = new StreamLog
    spark.streams.addListener(log)
    val ingest = new HttpIngest(s"$root/spool")
    val door = new HttpQueryServer(spark, ctx.corpusDir)
    val ingestUrl = s"http://127.0.0.1:${ingest.start()}/weather/data"
    val doorUrl = s"http://127.0.0.1:${door.start()}"
    val lines = spark.readStream.text(s"$root/spool")
    val fan = WeatherIngest.start(lines, s"$root/raw", s"$root/quarantine", s"$root/checkpoints",
      s"$root/tables", Trigger.ProcessingTime(TriggerMs))
    Seq("raw" -> fan.raw, "quarantine" -> fan.quarantine, "daily" -> fan.counter,
      "year" -> fan.yearCounter).foreach { case (n, q) => log.name(n, q.id) }
    val posts = OpenLoop.pool("perfbench-post", 1)
    val pools = Map("post" -> posts)

    // every POST: the line count through it, and when it was acknowledged
    val through = mutable.HashMap.empty[OpenLoop.Op, Long]
    val acked = new java.util.concurrent.ConcurrentHashMap[OpenLoop.Op, java.lang.Long]()
    def postOps(t0: Long, bs: Seq[Body]): Seq[OpenLoop.Op] =
      bs.zipWithIndex.map { case (body, i) =>
        lazy val op: OpenLoop.Op = OpenLoop.Op(t0 + i * PostEveryMs * 1000000L, "post", "post", () => {
          val rep = ctx.spans.time("http_ingest", "post")(Http.post(ingestUrl, Map.empty, body.bytes, TimeoutMs))
          acked.put(op, Clock.now)
          if (rep.code == 200) None else Some(s"POST: HTTP ${rep.code} ${rep.body.trim}")
        })
        through(op) = body.through
        op
      }
    def drain(total: Long): Boolean = {
      val deadline = Clock.now + DrainTimeoutMs * 1000000L
      while (queries.exists(log.cumulative(_) < total) && Clock.now < deadline) Thread.sleep(20)
      !queries.exists(log.cumulative(_) < total)
    }
    def freshness(done: Seq[OpenLoop.Done]): Seq[Double] =
      done.map { d =>
        if (!d.ok) d.latencyMs
        else queries.map(q => log.covering(q, through(d.op)).map(b => (b.seen - d.op.due) / 1e6)
          .getOrElse(OpenLoop.Failed)).max
      }

    try {
      val w0 = Clock.now
      val warm = OpenLoop.run(postOps(w0 + 100000000L, warmBodies), pools, DrainTimeoutMs)
      res.op(if (drain(warmBodies.last.through)) None else Some("warm leg did not drain"))
      res.info("setup_warm_leg_s") = (Clock.now - w0) / 1e9

      // the live phase
      res.measuredFrom = Clock.now
      val done = OpenLoop.run(postOps(res.measuredFrom, liveBodies), pools, DrainTimeoutMs)
      res.op(if (drain(liveBodies.last.through)) None else Some("live phase did not drain"))
      val liveTo = Clock.now
      (warm ++ done).foreach(d => res.op(d.error))
      Workload.lateness(res, done)
      Workload.latency(res, freshness(done).map("fresh" -> _))
      // what freshness is made of: each query's micro-batches in the live phase
      for (q <- queries) {
        val bs = log.batches(q).filter(b => b.triggerStart >= res.measuredFrom && b.triggerStart < liveTo)
        res.info(s"live_${q}_batches") = bs.size
        res.info(s"live_${q}_trigger_ms_p50") = Stats.median(bs.map(_.durations.getOrElse("triggerExecution", 0L).toDouble))
      }

      // bulk phase: gzip station-year files, one per wave
      val waves = bulkFiles.map { case (name, body) => bulk(ingestUrl, name, body, res, ctx.spans, log, drain) }
      val bulkS = Stats.median(waves)
      val timedTo = Clock.now
      res.e2e("work_s") = bulkS
      waves.zipWithIndex.foreach { case (s, i) => res.info(s"bulk_wave_${i}_s") = s }
      res.info("bulk_rows_per_s") = 366 * 24 / bulkS
      res.info("lines") = feed.lines
      res.info("garbled_lines") = feed.garbled
      res.info("late_lines") = feed.late

      if (ctx.traced) {
        // reads beside writes: the feed again, with the query round's reader
        val reader = new Reader(doorUrl, readKeys, answers, ctx.spans)
        reader.start()
        val mixedFrom = Clock.now
        val mixed = OpenLoop.run(postOps(mixedFrom, mixedBodies), pools, DrainTimeoutMs)
        val reads = reader.finish()
        res.op(if (drain(mixedBodies.last.through)) None else Some("mixed phase did not drain"))
        val mixedTo = Clock.now
        (mixed ++ reads).foreach(d => res.op(d.error))

        for (q <- queries; b <- log.batches(q)) {
          ctx.spans.streamLayers.put(log.id(q), s"stream.$q")
          ctx.spans.add(0L, s"stream.$q", s"batch ${b.batchId}", b.triggerStart,
            b.triggerStart + b.durations.getOrElse("triggerExecution", 0L) * 1000000L)
        }
        ingestLayers(ctx, res, log, done, acked, through, ingest, fan, timedTo)
        Query.doorLayers(res, reads)
        val js = ctx.jobs.between(mixedFrom, mixedTo).filter(_.streamQuery == null)
        val nGets = reads.size.toDouble
        res.layer("query_door.not_found") = reader.notFound(mixedFrom)
        res.layer("query_door.jobs_per_get") = js.size / nGets
        res.layer("query_door.tasks_per_get") = js.map(_.tasks).sum / nGets
        Layers.spark(ctx, res, res.measuredFrom, liveTo)
      }
      // heap once the fan-out has stopped: a running micro-batch would add
      // whatever it holds at that instant
      fan.raw.stop(); fan.quarantine.stop(); fan.counter.stop(); fan.yearCounter.stop()
      Workload.heapLive(res, heap0)
      check(ctx, res, feed, fan)
    } finally {
      Seq(fan.raw, fan.quarantine, fan.counter, fan.yearCounter).foreach(q =>
        try q.stop() catch { case _: Throwable => () })
      posts.shutdownNow()
      ingest.stop(); door.stop()
    }
  }

  /** POST one bulk file and wait until all four sinks have committed it;
    * seconds from the POST to the last commit. A ProcessingTime trigger
    * only looks for new files on its schedule, so the idle time between
    * the POST's answer and the first trigger that picks the file up is left
    * out: it is the schedule's, 0 to TriggerMs at random. */
  private def bulk(url: String, name: String, body: Body, res: Result, spans: Spans,
      log: StreamLog, drain: Long => Boolean): Double = {
    val t0 = Clock.now
    val rep = spans.time("http_ingest", "bulk")(Http.post(url, Map("X-DATA-FEED" -> name),
      body.bytes, TimeoutMs))
    val answered = Clock.now
    res.op(if (rep.code == 200) None else Some(s"bulk POST: HTTP ${rep.code}"))
    res.op(if (drain(body.through)) None else Some("bulk phase did not drain"))
    val bs = queries.flatMap(log.covering(_, body.through))
    if (bs.size < queries.size) Double.NaN
    else {
      val idle = math.max(0L, bs.map(_.triggerStart).min - answered)
      (bs.map(_.seen).max - t0 - idle) / 1e9
    }
  }

  /** Raw and quarantine rows against the lines POSTed; both counter tables,
    * key by key, against the generator's sums and counts. */
  private def check(ctx: Ctx, res: Result, feed: Feed, fan: WeatherIngest.Running): Unit = {
    val spark = ctx.spark
    val root = s"${ctx.work}/ingest"
    val raw = spark.read.parquet(s"$root/raw")
    val rawRows = raw.count()
    val nullTemp = raw.filter(col("temperature").isNull).count()
    val quarantined = spark.read.parquet(s"$root/quarantine").count()
    res.op(if (rawRows == feed.lines - feed.garbled) None
      else Some(s"raw rows $rawRows, want ${feed.lines - feed.garbled}"))
    res.op(if (nullTemp == feed.nonNumeric) None
      else Some(s"raw rows with a null temperature $nullTemp, want ${feed.nonNumeric}"))
    // a garbled line and the audit copy of a non-numeric one
    res.op(if (quarantined == feed.garbled + feed.nonNumeric) None
      else Some(s"quarantine rows $quarantined, want ${feed.garbled + feed.nonNumeric}"))
    def table[K](name: String, rows: Seq[(K, (Double, Long))], want: collection.Map[K, (Double, Long)]): Unit = {
      val got = rows.toMap
      val bad = want.collectFirst(Function.unlift { case (k, (s, n)) =>
        got.get(k) match {
          case Some((gs, gn)) if gn == n && math.abs(gs - s) <= 1e-6 => None
          case g => Some(s"$name $k: got $g, want ${(s, n)}")
        }
      }).orElse(if (got.size != want.size) Some(s"$name: ${got.size} keys, want ${want.size}") else None)
      res.op(bad)
    }
    table("daily_precip", fan.dailySink.read(spark).collect().toSeq.map(r =>
      (r.getAs[String]("wsid"), r.getAs[Int]("year"), r.getAs[Int]("month"), r.getAs[Int]("day")) ->
        (r.getAs[Double]("precipitation"), r.getAs[Long]("cnt"))), feed.daily)
    table("year_precip", fan.yearSink.read(spark).collect().toSeq.map(r =>
      (r.getAs[String]("wsid"), r.getAs[Int]("year")) ->
        (r.getAs[Double]("precipitation"), r.getAs[Long]("cnt"))), feed.yearly)
  }

  private def ingestLayers(ctx: Ctx, res: Result, log: StreamLog, live: Seq[OpenLoop.Done],
      acked: java.util.concurrent.ConcurrentHashMap[OpenLoop.Op, java.lang.Long],
      through: collection.Map[OpenLoop.Op, Long], ingest: HttpIngest,
      fan: WeatherIngest.Running, timedTo: Long): Unit = {
    val postDone = live.filter(_.op.kind == "post")
    val postMs = postDone.map(d => (d.end - d.sent) / 1e6)
    res.layer("http_ingest.post_ms_p50") = Stats.median(postMs)
    res.layer("http_ingest.post_ms_p95") = Stats.pct(postMs, 95)
    res.layer("http_ingest.lines_accepted") = ingest.acceptedLines
    res.layer("http_ingest.posts_rejected") = postDone.count(!_.ok)
    val from = res.measuredFrom
    // the timed phases' micro-batches, without the traced run's extra phase
    def timedBatches(q: String) =
      log.batches(q).filter(b => b.triggerStart >= from && b.triggerStart < timedTo && b.rows > 0)
    for (q <- queries) {
      val bs = timedBatches(q)
      def p50(k: String*) = Stats.median(bs.map(b => k.map(b.durations.getOrElse(_, 0L)).sum.toDouble))
      res.layer(s"stream.$q.batches") = bs.size
      res.layer(s"stream.$q.trigger_ms_p50") = p50("triggerExecution")
      res.layer(s"stream.$q.add_batch_ms_p50") = p50("addBatch")
      res.layer(s"stream.$q.plan_ms_p50") = p50("queryPlanning")
      res.layer(s"stream.$q.offsets_ms_p50") = p50("latestOffset", "getBatch")
      res.layer(s"stream.$q.log_ms_p50") = p50("walCommit", "commitOffsets")
      res.layer(s"stream.$q.rows_per_batch_p50") = Stats.median(bs.map(_.rows.toDouble))
    }
    res.layer("stream.pickup_ms_p50") = Stats.median(postDone.flatMap(d =>
      Option(acked.get(d.op)).flatMap(a => log.covering("raw", through(d.op)).map(b => (b.triggerStart - a) / 1e6))))
    val spark = ctx.spark
    for ((q, sink) <- Seq("daily" -> fan.dailySink, "year" -> fan.yearSink)) {
      val bs = timedBatches(q)
      res.layer(s"stream.$q.state_rows") = log.batches(q).lastOption.map(_.stateRows.toDouble).getOrElse(0.0)
      res.layer(s"stream.$q.state_mem_bytes") = log.batches(q).lastOption.map(_.stateMem.toDouble).getOrElse(0.0)
      res.layer(s"stream.$q.state_commit_ms_p50") = Stats.median(bs.map(_.stateCommitMs.toDouble))
      val id = log.id(q)
      val live = ctx.jobs.between(from, timedTo).filter(_.streamQuery == id)
      val n = math.max(1, bs.size).toDouble
      res.layer(s"sink.$q.jobs_per_batch") = live.size / n
      res.layer(s"sink.$q.tasks_per_batch") = live.map(_.tasks).sum / n
      res.layer(s"sink.$q.bytes_written_per_batch") = live.map(_.bytesOut).sum / n
      val fs = new org.apache.hadoop.fs.Path(sink.tableDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val files = fs.listFiles(new org.apache.hadoop.fs.Path(sink.tableDir), true)
      var nFiles = 0L; var bytes = 0L
      while (files.hasNext) {
        val f = files.next()
        if (f.getPath.getName.endsWith(".parquet")) { nFiles += 1; bytes += f.getLen }
      }
      res.layer(s"sink.$q.table_files") = nFiles
      res.layer(s"sink.$q.table_bytes") = bytes
      res.layer(s"sink.$q.rewrite_ratio") =
        ctx.jobs.snapshot.filter(_.streamQuery == id).map(_.bytesOut).sum / math.max(1.0, bytes.toDouble)
    }
  }
}
