package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Streaming Markov transition counting — the continuous form of
  * [[graft.queries.PatternQueries.q118_transition_matrix]]: per user, the
  * (previous event type → current event type) pairs emitted AS EVENTS
  * ARRIVE, with the cross-batch bridge carried in state (the last event of
  * batch N is the `from` of batch N+1's first event).
  *
  * Within a batch, a user's events are ordered by the (ts_ms, event_id)
  * pair — the batch twin's window order. Across batches the state keeps
  * only that last (ts_ms, event_id, event_type) triple per user (O(1)
  * state per user, TTL-evicted by [[KeyedFold]]); a
  * redelivered or stale event — (ts_ms, event_id) at or before the
  * remembered last triple — is DROPPED before chaining, so at-least-once
  * delivery (the repo's own CDC model, q04) is idempotent here too: a
  * replayed batch emits nothing, and a late-but-within-watermark stale
  * event can never produce a time-reversed transition.
  * TransitionStreamSpec pins stream == batch on a two-batch split and
  * redelivery-is-a-no-op on a replayed batch.
  *
  * The downstream matrix is a `groupBy(from_type, to_type).count` over
  * this append stream — an incremental aggregate in Update mode, or the
  * batch q118 over the sink table.
  */
object TransitionStream {

  case class Ev(user_id: Long, ts_ms: Long, event_id: Long, event_type: String)
  case class LastEv(ts_ms: Long, event_id: Long, event_type: String)
  case class Transition(user_id: Long, from_type: String, to_type: String,
      ts_ms: Long, event_id: Long)

  private def updateUser(
      userId: Long,
      events: Iterator[Ev],
      prev: Option[LastEv]): (Option[(LastEv, Long)], Iterator[Transition]) = {
    val incoming = events.toSeq
      .filter(e => prev.forall(p =>
        e.ts_ms > p.ts_ms || (e.ts_ms == p.ts_ms && e.event_id > p.event_id)))
      .sortBy(e => (e.ts_ms, e.event_id))
    if (incoming.isEmpty) return (None, Iterator.empty)
    val chain = prev.map(p => Ev(userId, p.ts_ms, p.event_id, p.event_type)).toSeq ++ incoming
    val out = chain.zip(chain.tail).map { case (a, b) =>
      Transition(userId, a.event_type, b.event_type, b.ts_ms, b.event_id)
    }
    val last = chain.last
    (Some(LastEv(last.ts_ms, last.event_id, last.event_type) -> last.ts_ms), out.iterator)
  }

  /** `events` needs (user_id, ts_ms, event_id, event_type). Returns the
    * append-mode transition stream. */
  def transitions(events: DataFrame): Dataset[Transition] = {
    val spark = events.sparkSession
    import spark.implicits._
    KeyedFold(
      events.select(col("user_id"), col("ts_ms"), col("event_id"), col("event_type")),
      "user_id", "ts_ms", OutputMode.Append)(updateUser)
  }
}
