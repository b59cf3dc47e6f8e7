package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Continuous temporal-motif counting — the streaming form of
  * [[graft.queries.MotifQueries.q292_temporal_motifs]] (X331): as each
  * event arrives, every ordered chain a→b→c it CLOSES (a, b earlier
  * events of the same user, c − a within the span) is emitted once.
  *
  * State per user is the span-bounded suffix of their history: after
  * processing an event at time t, everything older than t − span is
  * evicted — no future event can close a chain through it (a future
  * c has ts ≥ t, so its chains need a.ts ≥ t − span). State is
  * therefore O(activity-per-span), not O(history); [[KeyedFold]]'s TTL
  * evicts idle users entirely.
  *
  * At-least-once delivery is idempotent by the [[TransitionStream]]
  * discipline: an incoming event at or before the remembered last
  * (ts, id) is dropped before chaining, so a replayed batch emits
  * nothing and a stale event can never close a time-reversed chain.
  * Chains are keyed by the (a, b, c) event-id triple — downstream
  * counting is a plain `groupBy(ta, tb, tc).count` in update mode.
  *
  * MotifStreamSpec pins stream ≡ batch triple-join over arbitrary batch
  * splits, replay idempotence, and the span eviction bound.
  */
object MotifStream {

  case class Ev(user_id: Long, ts_ms: Long, event_id: Long, event_type: String)
  case class Buf(evs: List[Ev])
  case class Motif(user_id: Long, ta: String, tb: String, tc: String,
      a_id: Long, b_id: Long, c_id: Long, c_ts_ms: Long)

  val SpanMs: Long = graft.queries.MotifQueries.MotifSpanMs

  private def ordered(a: Ev, b: Ev): Boolean =
    a.ts_ms < b.ts_ms || (a.ts_ms == b.ts_ms && a.event_id < b.event_id)

  private def updateUser(
      userId: Long,
      events: Iterator[Ev],
      state: Option[Buf]): (Option[(Buf, Long)], Iterator[Motif]) = {
    var buf = state.map(_.evs).getOrElse(Nil)
    val last = buf.lastOption
    val incoming = events.toSeq
      .filter(e => last.forall(p => ordered(p, e)))
      .sortBy(e => (e.ts_ms, e.event_id))
    if (incoming.isEmpty) return (None, Iterator.empty)
    val out = scala.collection.mutable.ArrayBuffer.empty[Motif]
    incoming.foreach { c =>
      // chains closed by c: ordered pairs (a, b) in the live buffer with
      // c within span of a (buffer events all precede c by construction)
      val live = buf.filter(a => c.ts_ms - a.ts_ms <= SpanMs)
      for {
        (a, i) <- live.zipWithIndex
        b <- live.drop(i + 1)
      } out += Motif(userId, a.event_type, b.event_type, c.event_type,
        a.event_id, b.event_id, c.event_id, c.ts_ms)
      buf = (buf :+ c).filter(e => c.ts_ms - e.ts_ms <= SpanMs)
    }
    (Some(Buf(buf) -> buf.last.ts_ms), out.iterator)
  }

  /** `events` needs (user_id, ts_ms, event_id, event_type). Returns the
    * append-mode motif stream (one row per closed chain). */
  def motifs(events: DataFrame): Dataset[Motif] = {
    val spark = events.sparkSession
    import spark.implicits._
    KeyedFold(
      events.select(col("user_id"), col("ts_ms"), col("event_id"), col("event_type")),
      "user_id", "ts_ms", OutputMode.Append)(updateUser)
  }
}
