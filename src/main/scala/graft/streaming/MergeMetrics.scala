package graft.streaming

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.util.AccumulatorV2
import graft.cdc.ReferenceFold

/** Per-(eventCode, outcome) merge counters — the metrics form of the
  * reference's per-event tracing span (`ViewUpdateTracingUtils.kt:23-37`
  * emits eventCode/txId/outcome per upsert) plus the O14 sanity counter
  * SURVEY §2.1 prescribes for the racing-conflict path: Spark's per-key
  * shuffle serializes writers so the `CdcQueryMatchException` retry ladder
  * can't fire, but the RATE of stale-status/no-op merges it would have
  * retried is still the operational signal worth watching.
  *
  * Implemented as a Spark `AccumulatorV2` (task-side adds, driver-side
  * read): counters survive any operator shape — including
  * `flatMapGroupsWithState` and cogroup, where `observe()` columns can't
  * reach inside the state function.
  */
class OutcomeCountsAccumulator extends AccumulatorV2[String, Map[String, Long]] {
  private val counts = TrieMap.empty[String, Long]
  override def isZero: Boolean = counts.isEmpty
  override def copy(): OutcomeCountsAccumulator = {
    val a = new OutcomeCountsAccumulator
    counts.foreach { case (k, v) => a.counts.put(k, v) }
    a
  }
  override def reset(): Unit = counts.clear()
  override def add(k: String): Unit =
    counts.updateWith(k) { o => Some(o.getOrElse(0L) + 1) }
  override def merge(other: AccumulatorV2[String, Map[String, Long]]): Unit =
    other.value.foreach { case (k, v) =>
      counts.updateWith(k) { o => Some(o.getOrElse(0L) + v) }
    }
  override def value: Map[String, Long] = counts.readOnlySnapshot().toMap
}

object MergeMetrics {

  /** Outcomes, mirroring the reference span's attribute vocabulary:
    *  - OkFull: status (conditional) update applied — view absent or event
    *    newer than the stored watermark;
    *  - OkEnrich: event stale, enrichment-only (unconditional) update;
    *  - NoopStale: event stale AND its handler has no data update — the
    *    reference's CdcQueryMatchException-then-no-op path (O14 counter);
    *  - DupDropped: duplicate delivery dropped by the id window (the
    *    reference's Redis SET NX miss). */
  val OkFull = "ok_full"
  val OkEnrich = "ok_enrich"
  val NoopStale = "noop_stale"
  val DupDropped = "dup_dropped"

  def key(eventCode: String, outcome: String): String = s"$eventCode|$outcome"

  /** Create + register an accumulator on the session. */
  def register(spark: SparkSession, name: String = "graft.merge.outcomes"): OutcomeCountsAccumulator = {
    val a = new OutcomeCountsAccumulator
    spark.sparkContext.register(a, name)
    a
  }

  /** The outcome of the rung [[ReferenceFold.step]] reports. */
  def outcome(rung: ReferenceFold.Rung): String = rung match {
    case ReferenceFold.Full => OkFull
    case ReferenceFold.Enrich => OkEnrich
    case ReferenceFold.Noop => NoopStale
  }

  /** Sum of one outcome across all event codes. */
  def totalOf(value: Map[String, Long], outcome: String): Long =
    value.collect { case (k, v) if k.endsWith("|" + outcome) => v }.sum
}
