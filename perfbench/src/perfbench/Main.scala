package perfbench

import java.lang.management.ManagementFactory

import com.fasterxml.jackson.databind.JsonNode

/** One benchmark run: `--workload <query|ingest> --seed <n>
  * --seconds <s> --trace <0|1> --work <dir> --bench-dir <dir> --cores <n>`.
  *
  * Prints the effective session conf, then, as its last line, one JSON
  * object: `correct`, `attempted`, `failed` and `metrics` (the end-to-end
  * metrics untraced, the per-layer metrics traced). A traced run also
  * writes its spans and layer self-times to `<work>/trace-<workload>.json`.
  */
object Main {
  val Workloads: Map[String, Workload] =
    Map("query" -> Query, "ingest" -> Ingest)

  /** End-to-end metrics, with units, every untraced run reports. */
  val EndToEnd: Seq[(String, String)] = Seq("op_p50_ms" -> "ms", "work_s" -> "s",
    "setup_s" -> "s", "heap_live_mb" -> "MB")

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workloads(a("workload"))
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    val jvmStart = Clock.fromWall(ManagementFactory.getRuntimeMXBean.getStartTime)

    val spark = Session.start(cores, a("work"))
    val sessionUp = Clock.now
    val jobs = if (traced) new JobLog else null
    if (traced) spark.sparkContext.addSparkListener(jobs)
    val ctx = Ctx(spark, cores, a("seed").toLong, a("seconds").toInt, traced, a("work"),
      a("bench-dir"), new Spans(traced), jobs)
    val conf = Json.obj()
    conf.put("cores", cores)
    val effective = conf.putObject("conf")
    Session.confs(cores, ctx.work).foreach { case (k, _) => effective.put(k, spark.conf.get(k)) }
    println(Json.write(conf))

    val res = new Result
    var crash: Option[Throwable] = None
    try workload.run(ctx, res)
    catch { case e: Throwable => crash = Some(e); e.printStackTrace() }
    res.e2e("setup_s") = (res.measuredFrom - jvmStart) / 1e9
    res.info("setup_session_s") = (sessionUp - jvmStart) / 1e9
    try spark.stop() catch { case _: Throwable => () }

    // a layer the workload leaves idle reads 0; an end-to-end metric must
    // have been measured
    val metrics = if (traced) Layers.names else EndToEnd
    val values = metrics.map { case (n, _) =>
      val v = (if (traced) res.layer else res.e2e).getOrElse(n, Double.NaN)
      n -> (if (traced && v.isNaN) 0.0 else v)
    }
    val measured = values.forall { case (_, v) => !v.isNaN && !v.isInfinite && (traced || v > 0) }
    val correct = crash.isEmpty && res.failed == 0 && res.attempted > 0 && measured
    res.errors.foreach(e => System.err.println(s"[perfbench] failed: $e"))
    crash.foreach(e => System.err.println(s"[perfbench] crashed: $e"))
    if (res.info.nonEmpty) println(Json.write(Json.nums(res.info)))
    if (traced) writeTrace(ctx, a("workload"), values, res)
    val out = Json.obj()
    out.put("correct", correct)
    out.put("attempted", math.max(1L, res.attempted))
    out.put("failed", res.failed + (if (crash.isDefined) 1 else 0))
    val ms = out.putObject("metrics")
    metrics.zip(values).foreach { case ((n, unit), (_, v)) =>
      ms.set[JsonNode](n, Json.nums(Seq("value" -> v)).put("unit", unit))
    }
    println(Json.write(out))
    System.out.flush()
    // Spark leaves non-daemon threads behind; the run is over
    Runtime.getRuntime.halt(0)
  }

  private def writeTrace(ctx: Ctx, workload: String, values: Seq[(String, Double)],
      res: Result): Unit = {
    ctx.spans.addJobs(ctx.jobs)
    val spans = ctx.spans.spans
    val t0 = if (spans.isEmpty) 0L else spans.head.start
    val json = Json.obj()
    json.put("workload", workload).put("seed", ctx.seed)
    json.set[JsonNode]("layer_self_ms", Json.nums(ctx.spans.selfMs.toSeq.sortBy(_._1)))
    json.set[JsonNode]("per_layer", Json.nums(values))
    json.set[JsonNode]("end_to_end", Json.nums(res.e2e))
    val arr = json.putArray("spans")
    spans.foreach(s => arr.addObject().put("id", s.id).put("parent", s.parent)
      .put("layer", s.layer).put("name", s.name)
      .put("start_ms", (s.start - t0) / 1e6).put("dur_ms", s.durMs))
    Json.mapper.writeValue(new java.io.File(ctx.work, s"trace-$workload.json"), json)
  }
}
