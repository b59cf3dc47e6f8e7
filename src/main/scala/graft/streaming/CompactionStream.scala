package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Streaming changelog compaction — the continuous form of
  * [[graft.queries.FlowQueries.q130_changelog_compaction]]: per user,
  * emit only the events whose type CHANGED from the previous event
  * ("collapse heartbeats, keep edges"), as events arrive, with the
  * cross-batch bridge in O(1) state per user (the last emitted type and
  * the running change count).
  *
  * Same redelivery contract as [[TransitionStream]]: state keeps the
  * last SEEN (ts_ms, event_id) alongside the last emitted type, and any
  * incoming event at or before that point is dropped before compacting —
  * at-least-once redelivery is idempotent and a stale event can never
  * re-open a change edge. Within a batch events sort by
  * (ts_ms, event_id). State is TTL-evicted by [[KeyedFold]]; a user
  * returning after eviction restarts the change sequence (documented
  * trade — the alternative is unbounded state).
  * CompactionStreamSpec pins stream == batch q130 over batches split
  * mid-user. */
object CompactionStream {

  case class Ev(user_id: Long, ts_ms: Long, event_id: Long, event_type: String)
  case class Last(ts_ms: Long, event_id: Long, event_type: String, changes: Long)
  case class Change(user_id: Long, ts_ms: Long, event_id: Long,
      event_type: String, change_seq: Long)

  private def updateUser(
      userId: Long,
      events: Iterator[Ev],
      prev: Option[Last]): (Option[(Last, Long)], Iterator[Change]) = {
    val incoming = events.toSeq
      .filter(e => prev.forall(p =>
        e.ts_ms > p.ts_ms || (e.ts_ms == p.ts_ms && e.event_id > p.event_id)))
      .sortBy(e => (e.ts_ms, e.event_id))
    if (incoming.isEmpty) return (None, Iterator.empty)
    var last = prev.map(_.event_type).orNull
    var seq = prev.map(_.changes).getOrElse(0L)
    val out = scala.collection.mutable.ArrayBuffer.empty[Change]
    incoming.foreach { e =>
      if (last == null || last != e.event_type) {
        seq += 1
        out += Change(userId, e.ts_ms, e.event_id, e.event_type, seq)
        last = e.event_type
      }
    }
    val seen = incoming.last
    (Some(Last(seen.ts_ms, seen.event_id, last, seq) -> seen.ts_ms), out.iterator)
  }

  /** `events` needs (user_id, ts_ms, event_id, event_type). Returns the
    * append-mode compacted change stream. */
  def changes(events: DataFrame): Dataset[Change] = {
    val spark = events.sparkSession
    import spark.implicits._
    KeyedFold(
      events.select(col("user_id"), col("ts_ms"), col("event_id"), col("event_type")),
      "user_id", "ts_ms", OutputMode.Append)(updateUser)
  }
}
