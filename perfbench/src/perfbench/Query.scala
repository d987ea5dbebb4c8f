package perfbench

import graft.api.{HttpQueryServer, WeatherQueries}

/** The query plane over the static corpus, with no ingest running: the
  * reference client's six-query round through the query door (the door and
  * the facade in isolation), then batch analytics through the registry.
  * The GETs take the measured seconds; the registry's fixed passes follow. */
object Query extends Workload {
  val TimeoutMs = 10000
  /** Unmeasured rounds, issued back to back after the checking registry
    * pass: enough to take GET latency past its JIT warm-up trend. */
  val WarmRounds = 2

  def run(ctx: Ctx, res: Result): Unit = {
    val t0 = Clock.now
    val answers = new AnswerKey(Corpus.load(ctx.spark, ctx.corpusDir, write = false))
    res.info("setup_answers_s") = (Clock.now - t0) / 1e9
    val rnd = new scala.util.Random(ctx.seed)
    val rounds = math.max(1, (ctx.seconds * 1000L / Round.PeriodMs).toInt)
    val keys = Round.keys(ctx.seed, rounds)
    val warmKeys = Round.keys(ctx.seed + 1, WarmRounds)
    val heap0 = Workload.heapBase()
    val door = new HttpQueryServer(ctx.spark, ctx.corpusDir)
    val base = s"http://127.0.0.1:${door.start()}"
    val pool = OpenLoop.pool("perfbench-get", math.max(1, ctx.cores - 1))
    try {
      // unmeasured: the checking registry pass, then the warm rounds
      val t1 = Clock.now
      Registry.check(ctx, res, rnd)
      val t2 = Clock.now
      warmKeys.foreach(k => warmRound(base, k, answers, res))
      res.info("setup_registry_s") = (t2 - t1) / 1e9
      res.info("setup_rounds_s") = (Clock.now - t2) / 1e9

      res.measuredFrom = Clock.now
      val nf0 = answers.notFound.get
      val done = OpenLoop.run(
        Round.ops(base, keys, res.measuredFrom, answers, TimeoutMs, ctx.spans),
        Map("get" -> pool), waitMs = 60000)
      val notFound = answers.notFound.get - nf0
      Registry.measure(ctx, res, rnd)
      val measuredTo = Clock.now
      Workload.heapLive(res, heap0)
      done.foreach(d => res.op(d.error))
      Workload.lateness(res, done)
      Workload.latency(res, done.map(d => d.op.route -> d.latencyMs))

      if (ctx.traced) {
        doorLayers(res, done)
        res.layer("query_door.not_found") = notFound
        Layers.spark(ctx, res, res.measuredFrom, measuredTo)
        replayDoor(ctx, base, keys, answers, res)
        replayFacade(ctx, keys, answers, res)
      }
    } finally {
      pool.shutdownNow()
      door.stop()
    }
  }

  def warmRound(base: String, k: Round.Key, answers: AnswerKey, res: Result): Unit =
    Round.Routes.foreach(r => res.op(answers.check(r, k, Http.get(base + Round.path(r, k), TimeoutMs))))

  def doorLayers(res: Result, done: Seq[OpenLoop.Done]): Unit = {
    res.layer("query_door.get_ms_p50") = Stats.median(done.map(_.latencyMs))
    res.layer("query_door.get_ms_p95") = Stats.pct(done.map(_.latencyMs), 95)
    Round.Routes.foreach(r =>
      res.layer(s"query_door.$r.get_ms_p50") = Stats.median(done.filter(_.op.route == r).map(_.latencyMs)))
  }

  /** Closed loop, one caller: every job in a GET's window is that GET's. */
  def replayDoor(ctx: Ctx, base: String, keys: Seq[Round.Key], answers: AnswerKey,
      res: Result): Unit = {
    val from = Clock.now
    for (k <- keys; r <- Round.Routes)
      res.op(answers.check(r, k, ctx.spans.time("query_door.replay", r)(
        Http.get(base + Round.path(r, k), TimeoutMs))))
    val js = ctx.jobs.between(from, Clock.now).filter(_.streamQuery == null)
    val gets = keys.size * Round.Routes.size.toDouble
    res.layer("query_door.jobs_per_get") = js.size / gets
    res.layer("query_door.tasks_per_get") = js.map(_.tasks).sum / gets
  }

  /** The same schedule called in-process on the facade; door overhead is a
    * door GET minus the facade call. */
  def replayFacade(ctx: Ctx, keys: Seq[Round.Key], answers: AnswerKey, res: Result): Unit = {
    val wq = new WeatherQueries(ctx.spark, ctx.corpusDir)
    val calls = scala.collection.mutable.HashMap.empty[String, scala.collection.mutable.ArrayBuffer[Double]]
    def rec(name: String, t0: Long): Unit =
      calls.getOrElseUpdate(name, scala.collection.mutable.ArrayBuffer.empty) += (Clock.now - t0) / 1e6
    def fields(p: Product): Map[String, String] =
      p.productElementNames.zip(p.productIterator.map(_.toString)).toMap
    def one(route: String, k: Round.Key, got: Option[Product]): Option[String] =
      (answers.expected(route, k), got) match {
        case (None, None) => None
        case (Some(w), Some(g)) => AnswerKey.diff(fields(g), w).map(e => s"facade $route $k: $e")
        case (w, g) => Some(s"facade $route $k: got $g, want $w")
      }
    def phased[T](route: String, build: => org.apache.spark.sql.Dataset[T]): Option[T] = {
      val t0 = Clock.now
      val ds = ctx.spans.time("facade.build", route, ctx.spark)(build)
      rec(s"$route.build", t0)
      val t1 = Clock.now
      ctx.spans.time("facade.plan", route, ctx.spark)(ds.queryExecution.executedPlan)
      rec(s"$route.plan", t1)
      val t2 = Clock.now
      val out = ctx.spans.time("facade.exec", route, ctx.spark)(ds.collect().headOption)
      rec(s"$route.exec", t2)
      out
    }
    for (k <- keys; r <- Round.Routes) {
      val t0 = Clock.now
      val err = ctx.spans.time("facade", r, ctx.spark) {
        r match {
          case "current" => one(r, k, wq.currentReading(k.station))
          case "daily" => one(r, k, phased(r,
            wq.dailyStatsPlan(k.station, Corpus.Year, Corpus.Month, k.day)).map(_.asInstanceOf[Product]))
          case "monthly" => one(r, k, phased(r,
            wq.monthlyHiLowPlan(k.station, Corpus.Year, Corpus.Month)).map(_.asInstanceOf[Product]))
          case "annual" => one(r, k, wq.annualSum(k.station, Corpus.Year))
          case "topk" =>
            val got = wq.topKDays(Round.TopK).map(s => (s.stationId.toInt, s.day.toLocalDate.getDayOfMonth,
              math.round(s.total * 100)))
            if (got == answers.topK) None else Some(s"facade topk: $got, want ${answers.topK}")
          case "station" => one(r, k, wq.station(k.station))
        }
      }
      rec(r, t0)
      res.op(err)
    }
    Round.Routes.foreach(r => res.layer(s"facade.$r.call_ms_p50") = Stats.median(calls(r)))
    for (r <- Seq("daily", "monthly"); p <- Seq("build", "plan", "exec"))
      res.layer(s"facade.$r.${p}_ms_p50") = Stats.median(calls(s"$r.$p"))
  }
}
