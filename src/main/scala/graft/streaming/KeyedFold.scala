package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.functions.{col, lit, pmod, timestamp_millis}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The keyed event-time TTL fold the keyed streams share (all but
  * [[AsOfStream]], whose scaladoc says why): the analogue of the
  * reference's per-key idempotency guard with a TTL plus its
  * last-write-wins view with a bounded resume window (BASELINE.md).
  *
  * [[apply]] puts the watermark on the hour-quantized event time of the
  * caller's ts column, groups by the caller's key column (a column, not a
  * key function: a function adds an `AppendColumns` step that deserializes
  * every row just to serialize its key) and runs `flatMapGroupsWithState`
  * with `EventTimeTimeout`. A key whose timer fires is removed; otherwise
  * the caller's step folds the key's rows onto its state. A step that
  * returns `(Some((s, lastTsMs)), out)` stores `s` and sets the one timer
  * rule, `max(lastTsMs + StateTtlMs, watermark + 1)`: the key is evicted
  * once the watermark passes its last event by [[StateTtlMs]]. A step
  * that returns `None` leaves the state and its timer as they are.
  *
  * Upgrade rule: a checkpoint written before a stream moved onto this
  * fold (state keyed by a `value` column) is not resumable. Spark's
  * state-schema check refuses it at the first batch after the restart,
  * so no query resumes on state read under the wrong key; restart such a
  * stream from a fresh checkpoint and replay its source.
  */
object KeyedFold {

  /** State eviction horizon past the event-time watermark (mirrors the
    * reference's 3-day resume-token TTL envelope, BASELINE.md). Event-time
    * timeout (not processing-time) is deliberate: with processing-time
    * timeouts Spark schedules continuous empty micro-batches to re-check
    * timers — a busy-loop on an idle stream; event-time timers only fire
    * when the watermark advances, i.e. when data actually flows.
    *
    * The watermark moves in whole-hour steps ([[WatermarkQuantumMs]]), so
    * a key is evicted within one event-time hour of when a
    * raw-millisecond watermark would have evicted it. */
  val StateTtlMs: Long = 3L * 24 * 3600 * 1000

  /** Allowed out-of-orderness for the watermark. Deliberately WIDE: the
    * watermark's only job here is to drive state-TTL timers — it must NOT
    * drop late events, because the reference's ladder accepts arbitrarily
    * late enrichment updates (`TransactionViewUpsertService.kt:201-211`).
    * 30 days comfortably covers the reference's 3-day replay envelope;
    * anything later is dropped, which matches "the resume token TTL'd
    * out" in the reference's ops model. */
  val WatermarkDelay: String = "30 days"

  /** Event time is quantized to this step before it feeds the watermark:
    * each event counts at the end of its hour (its ts floored to the hour,
    * plus one hour). With `EventTimeTimeout`, every watermark advance
    * makes Spark run an extra no-data micro-batch that sweeps all state
    * for timeouts and commits every state partition; a raw-millisecond
    * watermark advances after nearly every data batch. The watermark only
    * drives the 3-day TTL, so an hour of resolution costs nothing.
    * Quantizing is monotone and commutes with subtracting
    * [[WatermarkDelay]] (a whole number of hours): an event is dropped
    * only if its hour starts a full delay or more before the newest
    * event's hour, so nothing under 30 days minus one hour late is
    * dropped, and a key is evicted at most one hour of event time early.
    * The end of the hour, not its start, keeps events of the epoch's
    * first hour above Spark's initial watermark of 0 (rows at or below
    * the watermark are dropped). Computed on epoch ms, not `date_trunc`,
    * so it does not depend on the session time zone or DST. */
  val WatermarkQuantumMs: Long = 3600L * 1000

  /** Fold the rows of `rows`, read as `V`, per value of their `key`
    * column; `ts` names their epoch-ms event-time column. */
  def apply[K: Encoder, V: Encoder, S: Encoder, U: Encoder](
      rows: Dataset[_], key: String, ts: String, mode: OutputMode)(
      step: (K, Iterator[V], Option[S]) => (Option[(S, Long)], Iterator[U])): Dataset[U] =
    rows
      .withColumn("eventTime",
        timestamp_millis(col(ts) - pmod(col(ts), lit(WatermarkQuantumMs)) + lit(WatermarkQuantumMs)))
      .withWatermark("eventTime", WatermarkDelay)
      .groupBy(col(key)).as[K, V]
      .flatMapGroupsWithState(mode, GroupStateTimeout.EventTimeTimeout) {
        (k: K, values: Iterator[V], state: GroupState[S]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val (next, out) = step(k, values, state.getOption)
            next.foreach { case (s, lastTsMs) =>
              state.update(s)
              state.setTimeoutTimestamp(
                math.max(lastTsMs + StateTtlMs, state.getCurrentWatermarkMs() + 1))
            }
            out
          }
      }
}
