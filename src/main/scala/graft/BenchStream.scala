package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Streaming-throughput benchmark main — the published number behind the
  * reference's integration-test floors (BASELINE.md; the reference asserts
  * ≥ 8,000 rows Kafka→Spark→Cassandra within 60 s and > 500 daily-precip
  * counter rows in the same minute, KafkaStreamingActorSpec.scala:59-69).
  *
  * Protocol: synthesize a sized spool of the reference's 13-column CSV
  * wire format (deterministic values; ~0.5% corrupt lines so the
  * quarantine leg does real work), then run the COMPLETE §3.1 fan-out —
  * raw append + quarantine + daily counter MERGE + year counter MERGE,
  * four checkpointed streaming queries over one file source — with
  * `AvailableNow` and a bounded `maxFilesPerTrigger`, so the run executes
  * several real micro-batches (state lookup + durable MERGE per trigger),
  * not one mega-batch. Wall time spans start→all-terminated; rows/s is
  * lines/wall across the whole fan-out (each line is written to the raw
  * table AND folded into both counters — the honest per-line cost, not a
  * cheapest-leg number).
  *
  * The fan-out runs `SPARK_GRAFT_STREAM_REPS` times per state-store
  * provider (default HDFS-backed, then RocksDB — the backend a 100 TB
  * deployment would pick for its state size) and publishes each
  * provider's best run — the floors protocol, because a single-shot rate
  * swung 3x across one day of host drift — after one unmeasured
  * mini-spool warmup that absorbs the fresh JVM's JIT/codegen/state-store
  * init (measured cold it halved the first leg).
  * Batch accounting comes from a StreamingQueryListener, not
  * `recentProgress` (a ring buffer capped at 100 entries that would
  * under-report long runs — ADVICE r12), and the listener's per-batch
  * durations yield the second latency axis next to throughput: p50/p95
  * trigger-to-durable-commit wall time across the fan-out's non-empty
  * micro-batches (the latency the reference's 1 s batch interval implies).
  *
  * Prints ONE JSON line and writes it to BENCH_STREAM.json: headline
  * fields from the default-provider run (rows/s, micro-batch count,
  * batch_p50_ms/batch_p95_ms, per-table row counts, margins over the
  * reference floors) plus a `providers` map with the same measurements per
  * provider, plus a `steady` block (round 14): a fixed-arrival-rate leg —
  * a feeder thread drips files at a constant cadence under a
  * ProcessingTime trigger for ~60 triggers — whose p50/p95/p99 reflect
  * EQUILIBRIUM commit latency, not the burst legs' warm-up/catch-up mix. Consistency is asserted per run, not assumed: raw+quarantine
  * must account for every spooled line and the counter tables must carry
  * the exact station-day/station-year key counts, so the artifact can't
  * publish a rate for a run that silently dropped rows.
  */
object BenchStream {
  def main(args: Array[String]): Unit = {
    val cpus = Sessions.cores
    // floors protocol, streaming edition: one fan-out per rep per
    // provider, best rate published — a single-shot rate swung 2,890 →
    // 12,864 rows/s across one day of host drift, which is noise, not
    // engine change (the batch bench learned the same lesson in r12)
    // clamp like Bench's reps: 0/negative would run the full spool write
    // + warmups and then crash on an empty maxBy, minutes in
    val streamReps =
      math.max(1, sys.env.getOrElse("SPARK_GRAFT_STREAM_REPS", "2").toInt)
    val nStations = sys.env.getOrElse("SPARK_GRAFT_STREAM_STATIONS", "200").toInt
    val nDays = sys.env.getOrElse("SPARK_GRAFT_STREAM_DAYS", "50").toInt
    val filesN = sys.env.getOrElse("SPARK_GRAFT_STREAM_FILES", "40").toInt
    val filesPerTrigger = sys.env.getOrElse("SPARK_GRAFT_STREAM_FPT", "8").toInt
    val spark = Sessions.start(Sessions.Scale)

    // --- sized spool: stations × days × 24 hourly readings --------------
    // Deterministic pseudo-measurements; every 200th line is corrupt
    // (short key) to keep the quarantine leg honest. Floats format under
    // Locale.ROOT — the default-locale f-interpolator would emit comma
    // decimals on e.g. a de_DE JVM, corrupting the 13-column wire format
    // and tripping this run's own quarantine accounting (ADVICE r12).
    def writeSpool(dir: java.nio.file.Path, stations: Int, days: Int,
        files: Int): (Long, Long) = {
      val linesPerFile = math.max(1, stations * days * 24 / files)
      var written = 0L
      var corrupt = 0L
      var buf = new java.lang.StringBuilder(1 << 20)
      var fileNo = 0
      def flush(): Unit = if (buf.length() > 0) {
        Files.write(dir.resolve(f"lines-$fileNo%05d.csv"),
          buf.toString.getBytes(StandardCharsets.UTF_8))
        fileNo += 1
        buf = new java.lang.StringBuilder(1 << 20)
      }
      var inFile = 0
      for (st <- 0 until stations; d <- 0 until days; h <- 0 until 24) {
        val day = d % 28 + 1
        val month = d / 28 + 1
        if (written % 200 == 199) {
          buf.append("garbled,line\n"); corrupt += 1
        } else {
          val t = (st * 31 + d * 7 + h) % 400 / 10.0 - 10.0
          val p = if ((st + d + h) % 3 == 0) (h % 10) / 10.0 else 0.0
          buf.append("7249%03d:23234,2008,%02d,%02d,%02d,%.1f,-0.6,1023.8,50,7.2,2,%.2f,0.0\n"
            .formatLocal(java.util.Locale.ROOT, st, month, day, h, t, p))
        }
        written += 1
        inFile += 1
        if (inFile >= linesPerFile) { flush(); inFile = 0 }
      }
      flush()
      (written, corrupt)
    }
    val spool = Files.createTempDirectory("stream-bench-spool")
    val (written, corrupt) = writeSpool(spool, nStations, nDays, filesN)

    def pct(sorted: IndexedSeq[Long], p: Double): Long =
      if (sorted.isEmpty) 0L
      else sorted(math.max(0, math.min(sorted.size - 1,
        math.ceil(p * sorted.size).toInt - 1)))

    final case class RunStats(wall: Double, rps: Double, batches: Int,
        p50Ms: Long, p95Ms: Long, rawRows: Long, qRows: Long,
        dailyRows: Long, yearRows: Long)

    // --- the full §3.1 fan-out over a spool, several micro-batches ------
    def runOnce(provider: String, src: java.nio.file.Path, expLines: Long,
        expCorrupt: Long, expStations: Int): RunStats = {
      val out = Files.createTempDirectory(s"stream-bench-out-$provider").toString
      if (provider == "rocksdb")
        spark.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      else
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      // (queryId, inputRows, batchDuration ms) per progress event; batch
      // counts and latency percentiles derive from this, uncapped. The
      // latch keys off the FOUR termination events — the listener bus is
      // FIFO per emitter, so once all four have terminated every progress
      // event is guaranteed delivered (no sleep-and-hope drain).
      val progresses = new ConcurrentLinkedQueue[(java.util.UUID, Long, Long)]()
      val done = new CountDownLatch(4)
      val listener = new StreamingQueryListener {
        override def onQueryStarted(
            e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(
            e: StreamingQueryListener.QueryProgressEvent): Unit =
          progresses.add((e.progress.id, e.progress.numInputRows,
            e.progress.batchDuration))
        override def onQueryTerminated(
            e: StreamingQueryListener.QueryTerminatedEvent): Unit =
          done.countDown()
      }
      spark.streams.addListener(listener)
      try {
        val lines = spark.readStream
          .option("maxFilesPerTrigger", filesPerTrigger)
          .text(src.toString)
        val t0 = System.nanoTime()
        val run = graft.streaming.WeatherIngest.start(lines,
          s"$out/raw", s"$out/quarantine", s"$out/ckpt", s"$out/tables")
        run.awaitAll()
        val wall = (System.nanoTime() - t0) / 1e9
        require(done.await(60, TimeUnit.SECONDS),
          "listener never saw all four query terminations")

        // --- account for every line; then publish the rate --------------
        val rawRows = spark.read.parquet(s"$out/raw").count()
        val qRows = spark.read.parquet(s"$out/quarantine").count()
        val dailyRows = run.dailySink.read(spark).count()
        val yearRows = run.yearSink.read(spark).count()
        val ps = progresses.asScala.toVector
        val rawId = run.raw.id
        val microBatches = ps.count { case (id, rows, _) => id == rawId && rows > 0 }
        val durs = ps.collect { case (_, rows, d) if rows > 0 => d }.sorted
        val expectDaily = // distinct (wsid, y, m, d) among VALID lines
          spark.read.parquet(s"$out/raw").select("wsid", "year", "month", "day")
            .distinct().count()
        require(rawRows + qRows == expLines,
          s"lost lines: raw=$rawRows + quarantine=$qRows != spooled=$expLines")
        require(qRows == expCorrupt, s"quarantine=$qRows != corrupt=$expCorrupt")
        require(dailyRows == expectDaily,
          s"daily counter rows=$dailyRows != distinct station-days=$expectDaily")
        require(yearRows == expStations,
          s"year counter rows=$yearRows != $expStations")
        RunStats(wall, expLines / wall, microBatches,
          pct(durs, 0.5), pct(durs, 0.95), rawRows, qRows, dailyRows, yearRows)
      } finally spark.streams.removeListener(listener)
    }

    // Unmeasured WARMUP fan-out over a mini spool, run PER PROVIDER: the
    // first streaming run of a fresh JVM pays JIT + codegen + state-store
    // init that no published number should carry (it halved the first
    // leg's rate when measured cold) — and the RocksDB leg additionally
    // pays JNI library load + store creation on ITS first run, so a
    // single hdfs-only warmup would systematically bias the provider
    // comparison toward hdfs.
    val mini = Files.createTempDirectory("stream-bench-warmup")
    val (wLines, wCorrupt) = writeSpool(mini, 20, 2, 4)

    val byProvider = Seq("hdfs", "rocksdb").map { pr =>
      runOnce(pr, mini, wLines, wCorrupt, 20) // provider-local warmup
      val st = (1 to streamReps)
        .map(_ => runOnce(pr, spool, written, corrupt, nStations))
        .maxBy(_.rps)
      System.err.println(f"[bench-stream] $pr%-8s best-of-$streamReps ${st.rps}%8.1f rows/s over ${st.batches} micro-batches, p50=${st.p50Ms} ms p95=${st.p95Ms} ms")
      pr -> st
    }
    val head = byProvider.head._2 // hdfs: the headline (back-compat) fields

    // --- STEADY-STATE latency leg (round 14): the burst legs above feed
    // a pre-written spool through AvailableNow — their p50/p95 mixes
    // warm-up and catch-up batches and says nothing about equilibrium.
    // Here a feeder thread writes one file at a FIXED cadence (default
    // 2,000 lines every 500 ms = 4,000 rows/s, well under the measured
    // ~16k rows/s fan-out capacity — latency under saturation is queueing,
    // not engine) for SPARK_GRAFT_STREAM_STEADY_FILES triggers while the
    // full fan-out polls on a ProcessingTime trigger; files land via
    // write-to-temp + atomic move so the source never lists a partial
    // file. Published: observed non-empty raw triggers, the offered rate,
    // and p50/p95/p99 trigger-to-durable-commit across all four queries'
    // non-empty batches at equilibrium.
    val steadyFiles = sys.env.getOrElse("SPARK_GRAFT_STREAM_STEADY_FILES", "60").toInt
    val steadyLinesPerFile = sys.env.getOrElse("SPARK_GRAFT_STREAM_STEADY_LPF", "2000").toInt
    val steadyIntervalMs = sys.env.getOrElse("SPARK_GRAFT_STREAM_STEADY_MS", "500").toLong
    /** One fixed-arrival-rate leg: feeder drips `files` files of `lpf`
      * lines every `intervalMs` under a ProcessingTime trigger; returns
      * (non-empty raw triggers, per-batch durations, drain ms — the wall
      * time between the LAST fed file and full durable accounting, i.e.
      * the backlog left when the offered load stopped). */
    def steadyLeg(provider: String, lpf: Int, files: Int): (Int, Vector[Long], Long) = {
      val src = Files.createTempDirectory("stream-bench-steady")
      val out = Files.createTempDirectory("stream-bench-steady-out").toString
      if (provider == "rocksdb")
        spark.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      else
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      val progresses = new ConcurrentLinkedQueue[(java.util.UUID, Long, Long)]()
      val done = new CountDownLatch(4)
      val listener = new StreamingQueryListener {
        override def onQueryStarted(
            e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(
            e: StreamingQueryListener.QueryProgressEvent): Unit =
          progresses.add((e.progress.id, e.progress.numInputRows,
            e.progress.batchDuration))
        override def onQueryTerminated(
            e: StreamingQueryListener.QueryTerminatedEvent): Unit =
          done.countDown()
      }
      spark.streams.addListener(listener)
      try {
        // a zero/negative trigger count would make the seed wait below
        // spin forever (the feeder loop runs no iterations) — fail fast
        require(files >= 1 && lpf >= 1,
          s"steady leg needs >=1 file of >=1 line (got files=$files, " +
            s"lines/file=$lpf)")
        @volatile var fed = 0L
        val feeder = new Thread(() => {
          var written = 0L
          for (f <- 0 until files) {
            val buf = new java.lang.StringBuilder(1 << 20)
            for (i <- 0 until lpf) {
              if (written % 200 == 199) buf.append("garbled,line\n")
              else {
                val st = (written % nStations).toInt
                val h = (written / nStations % 24).toInt
                val d = (written / nStations / 24 % 28).toInt
                buf.append("7249%03d:23234,2008,%02d,%02d,%02d,%.1f,-0.6,1023.8,50,7.2,2,%.2f,0.0\n"
                  .formatLocal(java.util.Locale.ROOT, st, d / 28 + 1, d % 28 + 1, h,
                    (st * 31 + d * 7 + h) % 400 / 10.0 - 10.0,
                    if ((st + d + h) % 3 == 0) (h % 10) / 10.0 else 0.0))
              }
              written += 1
            }
            val tmp = src.resolve(f".tmp-$f")
            Files.write(tmp, buf.toString.getBytes(StandardCharsets.UTF_8))
            Files.move(tmp, src.resolve(f"steady-$f%05d.csv"),
              java.nio.file.StandardCopyOption.ATOMIC_MOVE)
            fed = written
            Thread.sleep(steadyIntervalMs)
          }
        }, "steady-feeder")
        // seed one file BEFORE start: the file source requires the path to
        // exist and an immediately-empty listing would log-spam; the first
        // file also absorbs the fan-out's stream-start cost. The wait is
        // BOUNDED and watches feeder liveness — a feeder that dies on an
        // I/O error must fail this run loudly, not hang it forever.
        feeder.start()
        val seedDeadline = System.nanoTime() + 60L * 1000000000L
        while (fed == 0L && feeder.isAlive && System.nanoTime() < seedDeadline)
          Thread.sleep(10)
        require(fed > 0L,
          if (feeder.isAlive) "steady feeder produced no file within 60 s"
          else "steady feeder died before its first file (see its stack trace)")
        val lines = spark.readStream
          .option("maxFilesPerTrigger", 4)
          .text(src.toString)
        val run = graft.streaming.WeatherIngest.start(lines,
          s"$out/raw", s"$out/quarantine", s"$out/ckpt", s"$out/tables",
          trigger = org.apache.spark.sql.streaming.Trigger
            .ProcessingTime(steadyIntervalMs))
        feeder.join()
        val expected = fed
        val tFeedEnd = System.nanoTime()
        // drain: wait until every fed line is durably accounted for, then
        // stop the four queries (ProcessingTime never self-terminates).
        // The drain time IS the backlog receipt: a pipeline that kept up
        // has at most one trigger's worth of files left when the feeder
        // stops, so drain ≈ one trigger interval; a saturated one spends
        // the queue it grew.
        val deadline = System.nanoTime() + 300L * 1000000000L
        def accounted(): Long =
          try spark.read.parquet(s"$out/raw").count() +
            spark.read.parquet(s"$out/quarantine").count()
          catch { case _: Throwable => 0L }
        while (accounted() < expected && System.nanoTime() < deadline)
          Thread.sleep(100)
        require(accounted() == expected,
          s"steady leg lost lines: accounted=${accounted()} fed=$expected")
        val drainMs = (System.nanoTime() - tFeedEnd) / 1000000L
        Seq(run.raw, run.quarantine, run.counter, run.yearCounter).foreach(_.stop())
        require(done.await(60, TimeUnit.SECONDS),
          "steady leg: listener never saw all four query terminations")
        val ps = progresses.asScala.toVector
        val rawTriggers = ps.count { case (id, rows, _) => id == run.raw.id && rows > 0 }
        val durs = ps.collect { case (_, rows, d) if rows > 0 => d }.sorted
        (rawTriggers, durs, drainMs)
      } finally spark.streams.removeListener(listener)
    }
    // --- RATE SWEEP (round 15): the r14 steady leg ran at/over capacity
    // (51/60 triggers observed, p95 5.7x the interval) — its percentiles
    // described a backlogged regime. Sweep the offered rate per provider
    // and publish the max SUSTAINABLE rate, criterion stated in the
    // artifact: p95 batch duration under the trigger interval AND no
    // backlog left when the feeder stops (drain <= 2 intervals).
    val sweepRates = sys.env.getOrElse("SPARK_GRAFT_STREAM_SWEEP",
        "1000,2000,4000,8000")
      .split(',').map(_.trim).filter(_.nonEmpty).map(_.toInt).toSeq
    final case class SweepLeg(rate: Int, triggers: Int, durs: Vector[Long],
        drainMs: Long) {
      def p(q: Double): Long = pct(durs, q)
      def sustainable: Boolean =
        p(0.95) < steadyIntervalMs && drainMs <= 2 * steadyIntervalMs
    }
    val sweep = Seq("hdfs", "rocksdb").map { pr =>
      pr -> sweepRates.map { rate =>
        val lpf = math.max(1, (rate * steadyIntervalMs / 1000).toInt)
        val (tr, durs, drain) = steadyLeg(pr, lpf, steadyFiles)
        val leg = SweepLeg(rate, tr, durs, drain)
        System.err.println(f"[bench-stream] sweep $pr%-8s ${rate}%6d rows/s: $tr triggers p50=${leg.p(0.5)} p95=${leg.p(0.95)} p99=${leg.p(0.99)} ms drain=${drain} ms sustainable=${leg.sustainable}")
        leg
      }
    }
    val maxSustainable = sweep.map { case (pr, legs) =>
      pr -> legs.filter(_.sustainable).map(_.rate).maxOption.getOrElse(0)
    }
    // headline steady block (back-compat): the hdfs leg at the r14 default
    // offered rate, taken from the sweep (same protocol, one run)
    val headlineRate = (steadyLinesPerFile * 1000L / steadyIntervalMs).toInt
    val headLeg = sweep.head._2.find(_.rate == headlineRate)
      .getOrElse(sweep.head._2.last)
    val (steadyTriggers, steadyDurs) = (headLeg.triggers, headLeg.durs)
    val steadyRate = headLeg.rate.toDouble
    System.err.println(f"[bench-stream] steady   $steadyTriggers triggers at ${steadyRate}%8.1f rows/s offered, p50=${pct(steadyDurs, 0.5)} ms p95=${pct(steadyDurs, 0.95)} ms p99=${pct(steadyDurs, 0.99)} ms; max sustainable ${maxSustainable.toMap}")

    def r1(v: Double): String = "%.1f".formatLocal(java.util.Locale.ROOT, v)
    def provJson(st: RunStats): String =
      s"""{"value":${r1(st.rps)},"wall_sec":${r1(st.wall)},"micro_batches":${st.batches},"batch_p50_ms":${st.p50Ms},"batch_p95_ms":${st.p95Ms}}"""
    val line =
      s"""{"metric":"stream_rows_per_sec","value":${r1(head.rps)},"unit":"rows/sec","reps":$streamReps,"lines":$written,"wall_sec":${r1(head.wall)},"micro_batches":${head.batches},"batch_p50_ms":${head.p50Ms},"batch_p95_ms":${head.p95Ms},"raw_rows":${head.rawRows},"quarantine_rows":${head.qRows},"daily_counter_rows":${head.dailyRows},"year_counter_rows":${head.yearRows},"ref_floor_ingest_rows_60s":8000,"ref_floor_counter_rows_60s":500,"ingest_floor_margin_x":${r1(head.rps * 60 / 8000)},"counter_floor_margin_x":${r1(head.dailyRows * math.min(1.0, 60.0 / head.wall) / 500)},"providers":${byProvider.map { case (p, st) => s""""$p":${provJson(st)}""" }.mkString("{", ",", "}")},"steady":{"provider":"hdfs","planned_files":$steadyFiles,"observed_raw_triggers":$steadyTriggers,"input_rows_per_sec":${r1(steadyRate)},"interval_ms":$steadyIntervalMs,"batch_p50_ms":${pct(steadyDurs, 0.5)},"batch_p95_ms":${pct(steadyDurs, 0.95)},"batch_p99_ms":${pct(steadyDurs, 0.99)},"batches":${steadyDurs.size},"sweep":{"criterion":"sustainable iff batch_p95_ms < interval_ms AND drain_ms <= 2*interval_ms (no backlog left when the feeder stops)","interval_ms":$steadyIntervalMs,"files_per_leg":$steadyFiles,"legs":${sweep.map { case (pr, legs) =>
        s""""$pr":${legs.map(l => s""""${l.rate}":{"observed_raw_triggers":${l.triggers},"batch_p50_ms":${l.p(0.5)},"batch_p95_ms":${l.p(0.95)},"batch_p99_ms":${l.p(0.99)},"drain_ms":${l.drainMs},"sustainable":${l.sustainable}}""").mkString("{", ",", "}")}"""
      }.mkString("{", ",", "}")},"max_sustainable_rows_per_sec":${maxSustainable.map { case (pr, r) => s""""$pr":$r""" }.mkString("{", ",", "}")}}},"cpus":$cpus}"""
    try Files.write(Paths.get("BENCH_STREAM.json"),
      (line + "\n").getBytes(StandardCharsets.UTF_8))
    catch { case e: Throwable =>
      System.err.println(s"[bench-stream] artifact write failed: ${e.getMessage}")
    }
    println(line)
    spark.stop()
  }
}
