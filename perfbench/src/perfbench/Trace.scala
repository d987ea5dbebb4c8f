package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timeline for everything the benchmark observes, in `System.nanoTime`
  * units. Spark's listener events carry wall-clock milliseconds; `fromWall`
  * maps them onto the same line. */
object Clock {
  private val wallAtZero = System.currentTimeMillis()
  private val nanoAtZero = System.nanoTime()
  def now: Long = System.nanoTime()
  def fromWall(ms: Long): Long = nanoAtZero + (ms - wallAtZero) * 1000000L
}

/** A timed interval of one layer. `parent` is 0 for a root span. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
    start: Long, end: Long) {
  def durMs: Double = (end - start) / 1e6
}

/** In-memory span store; written out once, when the run ends. Disabled in
  * untraced runs, where `time` only runs its body. */
final class Spans(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val all = new ConcurrentLinkedQueue[Span]()
  /** Span id of the call the current thread is inside (for job parents). */
  val current = new ThreadLocal[java.lang.Long] { override def initialValue = 0L }

  /** Streaming query id -> the layer its trigger spans belong to. */
  val streamLayers = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Record an interval observed from outside (a trigger, a job). */
  def add(parent: Long, layer: String, name: String, start: Long, end: Long): Long =
    if (!enabled) 0L
    else { val id = ids.incrementAndGet(); all.add(Span(id, parent, layer, name, start, end)); id }

  /** One span per Spark job, under the call that launched it: the span named
    * in its job properties, else the trigger of its streaming query, else
    * the latest query-door GET that was open when it started. */
  def addJobs(jobs: JobLog): Unit = {
    val ss = spans
    def containing(p: Span => Boolean, t: Long) =
      ss.filter(s => p(s) && s.start <= t && t <= s.end).lastOption.map(_.id).getOrElse(0L)
    jobs.snapshot.filter(_.end > 0).foreach { j =>
      val parent =
        if (j.span != 0L) j.span
        else if (j.streamQuery != null)
          containing(_.layer == streamLayers.getOrDefault(j.streamQuery, ""), j.start)
        else containing(_.layer.startsWith("query_door"), j.start)
      add(parent, "spark", s"job ${j.id}", j.start, j.end)
    }
  }

  /** Run `f` as a span of `layer`; jobs it submits from this thread carry
    * the span id as their parent. */
  def time[T](layer: String, name: String, spark: SparkSession = null)(f: => T): T = {
    if (!enabled) return f
    val id = ids.incrementAndGet()
    val parent = current.get
    current.set(id)
    if (spark != null) spark.sparkContext.setLocalProperty(Spans.Prop, id.toString)
    val t0 = Clock.now
    try f
    finally {
      all.add(Span(id, parent, layer, name, t0, Clock.now))
      current.set(parent)
      if (spark != null)
        spark.sparkContext.setLocalProperty(Spans.Prop, if (parent == 0L) null else parent.toString)
    }
  }

  def spans: Seq[Span] = all.asScala.toSeq.sortBy(_.start)

  /** Per-layer self time: each span's duration minus the union of its
    * children's intervals. */
  def selfMs: Map[String, Double] = {
    val ss = spans
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.layer).map { case (layer, xs) =>
      layer -> xs.map { s =>
        val cs = kids.getOrElse(s.id, Nil).map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter(c => c._2 > c._1).sortBy(_._1)
        var covered = 0L; var hi = Long.MinValue
        cs.foreach { case (a, b) =>
          if (a > hi) { covered += b - a; hi = b }
          else if (b > hi) { covered += b - hi; hi = b }
        }
        (s.end - s.start - covered) / 1e6
      }.sum
    }
  }
}

object Spans { val Prop = "perfbench.span" }

/** Job, stage and task accounting from a SparkListener (traced runs only). */
final class JobLog extends SparkListener {
  final class Job(val id: Int, val start: Long, val streamQuery: String, val span: Long,
      val stages: Seq[Int]) {
    @volatile var end: Long = 0L
    var tasks = 0; var runMs = 0L; var gcMs = 0L; var shWrite = 0L; var shRead = 0L
    var bytesOut = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Job]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = e.properties
    def prop(k: String) = if (p == null) null else p.getProperty(k)
    val j = new Job(e.jobId, Clock.fromWall(e.time), prop("sql.streaming.queryId"),
      Option(prop(Spans.Prop)).map(_.toLong).getOrElse(0L), e.stageIds)
    jobs(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = Clock.fromWall(e.time))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime; j.gcMs += m.jvmGCTime
        j.shWrite += m.shuffleWriteMetrics.bytesWritten
        j.shRead += m.shuffleReadMetrics.totalBytesRead
        j.bytesOut += m.outputMetrics.bytesWritten
      }
    }
  }
  def snapshot: Seq[Job] = synchronized(jobs.values.toSeq)
  /** Jobs that started inside [from, to). */
  def between(from: Long, to: Long): Seq[Job] = snapshot.filter(j => j.start >= from && j.start < to)
}

/** Progress of the ingest fan-out's four streaming queries: the one
  * listener untraced runs carry, because freshness needs it. Batches are
  * kept by query id; `name` maps the fan-out's names onto the ids. */
final class StreamLog extends StreamingQueryListener {
  import StreamLog.Batch
  private val ids = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val byId = mutable.HashMap.empty[String, mutable.ArrayBuffer[Batch]]

  def name(q: String, id: java.util.UUID): Unit = ids.put(q, id.toString)
  def id(q: String): String = ids.get(q)

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val seen = Clock.now
    val p = e.progress
    val start = Clock.fromWall(java.time.Instant.parse(p.timestamp).toEpochMilli)
    val st = p.stateOperators.headOption
    synchronized {
      val bs = byId.getOrElseUpdate(p.id.toString, mutable.ArrayBuffer.empty)
      val cum = bs.lastOption.map(_.cumRows).getOrElse(0L) + p.numInputRows
      bs += Batch(p.batchId, p.numInputRows, cum, start, seen,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        st.map(_.numRowsTotal).getOrElse(0L), st.map(_.memoryUsedBytes).getOrElse(0L),
        st.map(_.commitTimeMs).getOrElse(0L))
    }
  }

  def batches(q: String): Seq[Batch] =
    synchronized(byId.get(id(q)).map(_.toSeq).getOrElse(Nil))
  def cumulative(q: String): Long = batches(q).lastOption.map(_.cumRows).getOrElse(0L)
  /** The micro-batch of `q` that brought its input to `rows` lines (the
    * listener fires once that batch has committed). */
  def covering(q: String, rows: Long): Option[Batch] = batches(q).find(_.cumRows >= rows)
}

object StreamLog {
  /** One committed micro-batch; `seen` is when its progress event arrived. */
  final case class Batch(batchId: Long, rows: Long, cumRows: Long, triggerStart: Long,
      seen: Long, durations: Map[String, Long], stateRows: Long, stateMem: Long,
      stateCommitMs: Long)
}
