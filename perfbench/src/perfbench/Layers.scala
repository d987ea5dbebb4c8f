package perfbench

/** The per-layer metrics of a traced run: every name, in a fixed order,
  * reported by every traced workload (0 where the workload leaves the layer
  * idle). */
object Layers {
  val StreamQueries: Seq[String] = Seq("raw", "quarantine", "daily", "year")
  val Sinks: Seq[String] = Seq("daily", "year")

  val names: Seq[(String, String)] = {
    val b = Seq.newBuilder[(String, String)]
    def add(n: String, unit: String): Unit = b += n -> unit
    add("client.late_ms_p95", "ms"); add("client.late_ms_max", "ms")
    // HttpIngest
    add("http_ingest.post_ms_p50", "ms"); add("http_ingest.post_ms_p95", "ms")
    add("http_ingest.lines_accepted", "count"); add("http_ingest.posts_rejected", "count")
    // WeatherIngest + WeatherCsv: the four-query fan-out
    for (q <- StreamQueries) {
      add(s"stream.$q.batches", "count")
      Seq("trigger", "add_batch", "plan", "offsets", "log").foreach(p => add(s"stream.$q.${p}_ms_p50", "ms"))
      add(s"stream.$q.rows_per_batch_p50", "count")
    }
    add("stream.pickup_ms_p50", "ms")
    for (q <- Sinks) {
      add(s"stream.$q.state_rows", "count"); add(s"stream.$q.state_mem_bytes", "bytes")
      add(s"stream.$q.state_commit_ms_p50", "ms")
    }
    // KeyedParquetSink
    for (q <- Sinks) {
      add(s"sink.$q.jobs_per_batch", "count"); add(s"sink.$q.tasks_per_batch", "count")
      add(s"sink.$q.bytes_written_per_batch", "bytes"); add(s"sink.$q.rewrite_ratio", "ratio")
      add(s"sink.$q.table_files", "count"); add(s"sink.$q.table_bytes", "bytes")
    }
    // HttpQueryServer
    add("query_door.get_ms_p50", "ms"); add("query_door.get_ms_p95", "ms")
    Round.Routes.foreach(r => add(s"query_door.$r.get_ms_p50", "ms"))
    add("query_door.not_found", "count"); add("query_door.jobs_per_get", "count")
    add("query_door.tasks_per_get", "count")
    // WeatherQueries
    Round.Routes.foreach(r => add(s"facade.$r.call_ms_p50", "ms"))
    for (r <- Seq("daily", "monthly"); p <- Seq("build", "plan", "exec")) add(s"facade.$r.${p}_ms_p50", "ms")
    // the shared session
    add("spark.jobs", "count"); add("spark.stages", "count"); add("spark.tasks", "count")
    add("spark.task_busy_ratio", "ratio"); add("spark.gc_ms", "ms")
    add("spark.shuffle_write_bytes", "bytes"); add("spark.shuffle_read_bytes", "bytes")
    // SparkEntry / graft.operators
    Seq("build_ms", "plan_ms", "exec_ms").foreach(m => add(s"registry.$m", "ms"))
    Seq("jobs", "stages", "tasks").foreach(m => add(s"registry.$m", "count"))
    Registry.Rows.foreach(q => add(s"registry.$q.ms", "ms"))
    b.result()
  }

  /** Session-wide job, task and GC totals over [from, to). */
  def spark(ctx: Ctx, res: Result, from: Long, to: Long): Unit = {
    val js = ctx.jobs.between(from, to)
    res.layer("spark.jobs") = js.size
    res.layer("spark.stages") = js.map(_.stages.size).sum
    res.layer("spark.tasks") = js.map(_.tasks).sum
    res.layer("spark.task_busy_ratio") = js.map(_.runMs).sum / (ctx.cores * (to - from) / 1e6)
    res.layer("spark.gc_ms") = js.map(_.gcMs).sum
    res.layer("spark.shuffle_write_bytes") = js.map(_.shWrite).sum
    res.layer("spark.shuffle_read_bytes") = js.map(_.shRead).sum
  }
}
