package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode, StreamingQuery, Trigger}

/** STREAMING per-key top-k — the streaming twin of the batch
  * [[graft.plans.TopKPerKey]] heap operator, as custom state
  * (flatMapGroupsWithState, SURVEY §2.10's arbitrary-state class):
  * the state per key is exactly the operator's invariant — the k best
  * (value DESC, event_id ASC) entries — so state is O(k) per key
  * forever, and folding each micro-batch into it is the same
  * merge-idempotent top-k merge the batch operator's partial pass
  * performs (top-k of top-k ∪ delta = global top-k).
  *
  * Emission is UPDATE-mode: a key emits its refreshed 1..k leaderboard
  * rows only when the batch actually changed it. Downstream the rows
  * feed a durable `Latest` [[KeyedTable]] keyed on (user_id, rk) — a rank
  * row's content changes over time but ranks only ever fill in up to k,
  * so the newest row per (key, rank) converges to the batch answer. A
  * replayed batch id is skipped by the table, and the entry set is
  * deduped, so re-folding a replayed batch into state is a no-op.
  */
object TopKStream {
  final case class Ev(user_id: Long, event_id: Long, value: Double)
  final case class Ranked(user_id: Long, rk: Int, event_id: Long, value: Double)

  private val ord: Ordering[(Double, Long)] =
    Ordering.Tuple2(Ordering[Double].reverse, Ordering[Long])

  /** Update-mode stream of refreshed per-key leaderboards. */
  def topkUpdates(events: Dataset[Ev], k: Int): Dataset[Ranked] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[Ev], state: GroupState[Seq[(Double, Long)]]) =>
          val prev = state.getOption.getOrElse(Seq.empty)
          // distinct: a replayed micro-batch re-folds entries already in
          // state — dedupe makes the merge idempotent, not just correct
          val merged = (prev ++ it.map(e => (e.value, e.event_id)))
            .distinct.sorted(ord).take(k)
          if (merged == prev) Iterator.empty
          else {
            state.update(merged)
            merged.iterator.zipWithIndex.map { case ((v, id), i) =>
              Ranked(uid, i + 1, id, v)
            }
          }
      }
  }

  /** Drain available input into a durable leaderboard table at
    * `tableDir`, newest row per (user_id, rk) — the counter-table pattern
    * applied to rankings. Restartable from `checkpoint`. */
  def run(events: Dataset[Ev], k: Int, tableDir: String,
      checkpoint: String): (StreamingQuery, KeyedTable) = {
    val sink = new KeyedTable(tableDir, Seq("user_id", "rk"), KeyedTable.Latest)
    val q = topkUpdates(events, k).toDF().writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch((batch: DataFrame, id: Long) => sink.add(batch, id))
      .trigger(Trigger.AvailableNow())
      .start()
    (q, sink)
  }
}
