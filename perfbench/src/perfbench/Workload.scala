package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What every workload gets: the session, the run's parameters, and the
  * tracing hooks (inert in untraced runs). */
final case class Ctx(spark: SparkSession, cores: Int, seed: Long, seconds: Int,
    traced: Boolean, work: String, benchDir: String, spans: Spans, jobs: JobLog) {
  def corpusDir: String = s"$work/corpus"
}

/** What a run reports. Operations count toward `attempted`; a wrong answer,
  * an error or a timeout also counts toward `failed`. */
final class Result {
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  /** Extra, non-metric facts printed with the result (lateness, sizes). */
  val info = mutable.LinkedHashMap.empty[String, Double]
  /** Clock time at which set-up ended and the measured phase began. */
  var measuredFrom = 0L

  def op(error: Option[String]): Unit = {
    attempted += 1
    error.foreach { e => failed += 1; if (errors.size < 20) errors += e }
  }
}

trait Workload {
  def run(ctx: Ctx, res: Result): Unit
}

object Workload {
  /** Heap in use after a full collection, in MB. Spark's ContextCleaner
    * frees broadcast and cached blocks only after a collection has found
    * their handles unreachable, so collect a few times with a pause for
    * the cleaner and report the smallest reading. The JVM runs with
    * -XX:+ExplicitGCInvokesConcurrent, under which System.gc() is only a
    * concurrent cycle; a heap inspection is always a full, compacting one. */
  def heapLiveMb(collections: Int = 3): Double = {
    val dcmd = new javax.management.ObjectName("com.sun.management:type=DiagnosticCommand")
    val server = ManagementFactory.getPlatformMBeanServer
    (1 to collections).map { _ =>
      server.invoke(dcmd, "gcClassHistogram", Array[AnyRef](Array.empty[String]),
        Array(classOf[Array[String]].getName))
      Thread.sleep(150)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  /** `heap_live_mb`: the live heap at the end of the measured phase less
    * `base`, the live heap read once the benchmark's own data (corpus copy,
    * answer key, feed) was built and before the program started. Nothing
    * has used Spark by then, so one collection reads `base`. */
  def heapBase(): Double = heapLiveMb(collections = 1)

  def heapLive(res: Result, base: Double): Unit = {
    res.info("heap_base_mb") = base
    res.e2e("heap_live_mb") = heapLiveMb() - base
  }

  /** The workload's operation latencies, grouped by kind (the GET route;
    * one kind for freshness). `op_p50_ms` is the mean over the kinds of
    * each kind's median. The six routes differ threefold in latency, so the
    * median of all GETs falls in a sparse gap between them and moves with
    * the few GETs near it; each route's median does not. Only medians are
    * end-to-end metrics: at the 36 (query) to 48 (ingest) operations a run
    * times, no tail percentile repeats within the bound on a shared 4-core
    * host, so the 75th is printed beside it with the sample count. */
  def latency(res: Result, ms: Seq[(String, Double)]): Unit = {
    val kinds = ms.groupBy(_._1).values.map(k => Stats.median(k.map(_._2)))
    res.e2e("op_p50_ms") = kinds.sum / kinds.size
    res.info("op_p75_ms") = Stats.pct(ms.map(_._2), 75)
    res.info("op_samples") = ms.size
  }

  /** Open-loop lateness: how far behind its schedule the generator sent. */
  def lateness(res: Result, done: Seq[OpenLoop.Done]): Unit = {
    val late = done.map(_.lateMs)
    res.info("late_ms_p95") = Stats.pct(late, 95)
    res.info("late_ms_max") = if (late.isEmpty) 0.0 else late.max
    res.layer("client.late_ms_p95") = Stats.pct(late, 95)
    res.layer("client.late_ms_max") = if (late.isEmpty) 0.0 else late.max
  }
}
