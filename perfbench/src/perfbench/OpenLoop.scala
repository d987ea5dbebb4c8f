package perfbench

import java.util.concurrent.{Callable, ExecutorService, Executors, Future, TimeUnit}

/** An open-loop load generator: every operation has a due time fixed in
  * advance, and its latency is counted from that due time, so a slow
  * system cannot slow the arrivals down and hide its own queueing.
  *
  * The calling thread is the scheduler; operations run on small fixed
  * pools, one per kind of operation. */
object OpenLoop {
  /** `run` returns None on success or the reason for a failure. */
  final case class Op(due: Long, kind: String, route: String, run: () => Option[String])
  final case class Done(op: Op, sent: Long, end: Long, error: Option[String]) {
    def ok: Boolean = error.isEmpty
    /** Latency from due time; a failure ranks above every success. */
    def latencyMs: Double = (end - op.due) / 1e6 + (if (ok) 0.0 else Failed)
    def lateMs: Double = (sent - op.due) / 1e6
  }
  /** Added to a failed operation's latency: above any successful one. */
  val Failed = 1e6

  def pool(name: String, n: Int): ExecutorService =
    Executors.newFixedThreadPool(n, (r: Runnable) => {
      val t = new Thread(r, name); t.setDaemon(true); t
    })

  /** Issue `ops` (any order) at their due times; wait for all of them. */
  def run(ops: Seq[Op], pools: Map[String, ExecutorService], waitMs: Long): Seq[Done] = {
    val sorted = ops.sortBy(_.due)
    val futures = sorted.map { op =>
      val wait = op.due - Clock.now
      if (wait > 0) TimeUnit.NANOSECONDS.sleep(wait)
      pools(op.kind).submit(new Callable[Done] {
        def call(): Done = {
          val sent = Clock.now
          val err = try op.run() catch { case e: Throwable => Some(e.toString) }
          Done(op, sent, Clock.now, err)
        }
      }): Future[Done]
    }
    val deadline = Clock.now + waitMs * 1000000L
    futures.zip(sorted).map { case (f, op) =>
      try f.get(math.max(1L, deadline - Clock.now), TimeUnit.NANOSECONDS)
      catch { case e: Exception => Done(op, op.due, Clock.now, Some(s"no answer: $e")) }
    }
  }
}
