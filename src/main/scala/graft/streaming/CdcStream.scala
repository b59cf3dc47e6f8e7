package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod, timestamp_millis}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.cdc.{CdcEvent, ReferenceFold, TransactionView}

/** Structured-Streaming form of the CDC pipeline — the streaming twin of
  * [[graft.cdc.ViewReplay]], replacing the reference's hand-rolled
  * change-stream plumbing with Spark's machinery:
  *
  *  - source/offsets: `readStream` + `checkpointLocation` subsume the Redis
  *    resume token (O2/O17, `RedisResumePolicyService.kt:37-72`);
  *  - dedup/locking: the hash shuffle of `groupByKey(transactionId)` gives
  *    per-key serial execution, so the Redis `SET NX` lock (O7,
  *    `CdcLockService.kt:40-50`) reduces to per-key duplicate-id tracking
  *    in state;
  *  - merge ladder: [[ReferenceFold.processOne]] — the SAME pure function
  *    the batch fold uses — applied per event in arrival order via
  *    `flatMapGroupsWithState` (O10–O13).
  *
  * Scale notes: state is one small view row + the seen-event-id set per
  * live transaction. The id set is NOT pruned within a transaction's
  * lifetime — it grows one entry per distinct event of that transaction
  * and is only reclaimed when the state row TTLs out; that is bounded in
  * practice because transaction lifecycles are short (tens of events over
  * days, per the reference's domain), not by any windowing here. State is
  * evicted via event-time timeout (mirrors the reference's 10-min lock
  * TTL / 3-day resume-window envelope, BASELINE.md).
  */
object CdcStream {

  /** Per-key state: the materialized view + recently seen event ids
    * (duplicate-delivery guard). */
  case class KeyState(view: TransactionView, seenIds: Set[String])

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
    * each event counts at the end of its hour (`tsMs` floored to the hour,
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

  /** O3 op-filter → O5 ttl anti-filter applied before keying; O6 decode
    * errors are expected to be dropped upstream (PERMISSIVE parse). */
  def preFilter(events: Dataset[CdcEvent]): Dataset[CdcEvent] =
    // Column predicates, not typed lambdas: Catalyst evaluates them on the
    // decoded columns, so dropped rows are never deserialized. A null in
    // any tested field drops the row, as the lambdas did.
    events
      .filter(col("operationType").isin("insert", "update", "replace"))
      .filter(col("ttl").isNull)
      // unknown event types are skipped, mirroring the reference's
      // non-retriable-error-then-drop path (ReferenceFold.processOne
      // would throw, killing the query)
      .filter(col("eventCode").isin(graft.cdc.EventCodes.all: _*))

  /** The per-key stateful merge. Emits the updated view once per key per
    * micro-batch (update-mode semantics). */
  def updateKey(
      txId: String,
      events: Iterator[CdcEvent],
      state: GroupState[KeyState]): Iterator[TransactionView] =
    updateKeyInstrumented(None)(txId, events, state)

  /** [[updateKey]] with optional O14/span-parity counters (task-side
    * accumulator adds; `observe()` can't see inside the state function). */
  def updateKeyInstrumented(metrics: Option[OutcomeCountsAccumulator])(
      txId: String,
      events: Iterator[CdcEvent],
      state: GroupState[KeyState]): Iterator[TransactionView] = {
    if (state.hasTimedOut) {
      state.remove()
      return Iterator.empty
    }
    val initial = state.getOption
    var view = initial.map(_.view)
    var seen = initial.map(_.seenIds).getOrElse(Set.empty[String])
    var changed = false
    // within a micro-batch we impose (tsMs, id) order — deterministic where
    // the reference's arrival order is racy (its comment diagram,
    // TransactionViewUpsertService.kt:83-103); across batches it's the
    // ladder's arrival-order compare-and-set
    events.toSeq.sortBy(e => (e.tsMs, e.id)).foreach { e =>
      if (seen.contains(e.id))
        metrics.foreach(_.add(MergeMetrics.key(e.eventCode, MergeMetrics.DupDropped)))
      else {
        metrics.foreach(_.add(MergeMetrics.key(e.eventCode, MergeMetrics.classify(view, e))))
        seen += e.id
        view = Some(ReferenceFold.processOne(view, e))
        changed = true
      }
    }
    view match {
      case Some(v) if changed =>
        state.update(KeyState(v, seen))
        // evict when the watermark passes lastProcessedEventAt + TTL
        state.setTimeoutTimestamp(
          math.max(v.lastProcessedEventAt.getOrElse(0L) + StateTtlMs,
            state.getCurrentWatermarkMs() + 1))
        Iterator.single(v)
      case _ => Iterator.empty
    }
  }

  /** Wire a streaming Dataset of events into a stream of view updates.
    * The watermark on the hour-quantized event-time column drives both
    * late-data accounting and state-TTL timers. */
  def viewUpdates(
      events: Dataset[CdcEvent],
      metrics: Option[OutcomeCountsAccumulator] = None): Dataset[TransactionView] = {
    import events.sparkSession.implicits._
    preFilter(events)
      .withColumn("eventTime",
        timestamp_millis(
          col("tsMs") - pmod(col("tsMs"), lit(WatermarkQuantumMs)) + lit(WatermarkQuantumMs)))
      .withWatermark("eventTime", WatermarkDelay)
      .as[CdcEvent]
      .groupByKey(_.transactionId)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.EventTimeTimeout)(
        updateKeyInstrumented(metrics))
  }

  /** One row of the view's OWN change feed (see `changelog` below): the
    * before/after image of a key the batch touched — `op` is "c" (created)
    * or "u" (updated). The reference CONSUMES a change stream; a view
    * maintainer in a pipeline must also PRODUCE one for its downstream
    * (the outbox/CDC-relay pattern). */
  case class ViewChange(
      transactionId: String,
      op: String,
      beforeStatus: Option[String],
      afterStatus: Option[String],
      beforeTs: Option[Long],
      afterTs: Option[Long],
      batchId: Long)

  // not private: the codegen'd encoder (SpecificSafeProjection) must be
  // able to access the class from generated code
  case class MergedRow(view: TransactionView, change: Option[ViewChange])

  /** The accumulated change feed (every batch's before/after images), or
    * None if no changelog was ever emitted. */
  def readChangelog(spark: SparkSession, viewPath: String): Option[Dataset[ViewChange]] = {
    import spark.implicits._
    val dir = java.nio.file.Paths.get(viewPath, "_changelog")
    if (!java.nio.file.Files.isDirectory(dir)) None
    else Some(spark.read.parquet(s"$viewPath/_changelog/*").as[ViewChange])
  }

  /** foreachBatch alternative: merge each micro-batch into the bucketed
    * [[ViewStore]] view (plain-parquet MERGE stand-in — no transactional
    * table format is guaranteed on the classpath, SURVEY.md §7; on
    * Delta/Iceberg this collapses to one `MERGE INTO`). Fully
    * distributed: a cogroup on the key folds each key's batch events onto
    * its stored view row — exactly the ladder, one shuffle, no
    * driver-side state. Only buckets containing batch keys are re-read
    * and rewritten; replayed batchIds are skipped (the ladder itself is
    * replay-idempotent, the skip just saves the I/O). The pre-filtered
    * batch is persisted for the call, so it is decoded once for both the
    * touched-bucket scan and the cogroup. */
  def mergeBatchIntoParquet(
      spark: SparkSession,
      batch: Dataset[CdcEvent],
      viewPath: String,
      batchId: Long,
      metrics: Option[OutcomeCountsAccumulator] = None,
      trace: Option[TraceLog.Emitter] = None,
      changelog: Boolean = false): Unit = {
    if (ViewStore.alreadyApplied(spark, viewPath, batchId)) return
    val filtered = preFilter(batch).persist()
    try mergeFiltered(spark, filtered, viewPath, batchId, metrics, changelog)
    finally filtered.unpersist()
    // span-parity structured records: one JSON line per (eventCode,
    // outcome) delta this batch (TraceLog scaladoc for the design)
    trace.foreach(_.emit(batchId))
  }

  private def mergeFiltered(
      spark: SparkSession,
      filtered: Dataset[CdcEvent],
      viewPath: String,
      batchId: Long,
      metrics: Option[OutcomeCountsAccumulator],
      changelog: Boolean): Unit = {
    import spark.implicits._
    val touched = ViewStore.touchedBuckets(filtered.toDF(), "transactionId")
    // a throw on a transient read error fails the batch (checkpoint
    // retries); untouched buckets are never read, let alone rewritten
    val existing: Dataset[TransactionView] =
      ViewStore.readBuckets(spark, viewPath, touched)
        .map(_.as[TransactionView])
        .getOrElse(spark.emptyDataset[TransactionView])
    val merged = existing
      .groupByKey(_.transactionId)
      .cogroup(filtered.groupByKey(_.transactionId)) { (_, views, events) =>
        val v0 = views.toSeq.headOption
        val raw = events.toSeq
        val evs = raw.distinctBy(_.id).sortBy(e => (e.tsMs, e.id))
        metrics.foreach { m =>
          raw.diff(evs).foreach(e => m.add(MergeMetrics.key(e.eventCode, MergeMetrics.DupDropped)))
        }
        if (evs.isEmpty) v0.map(MergedRow(_, None)).iterator
        else {
          val after = evs.foldLeft(v0) { (v, e) =>
            metrics.foreach(_.add(MergeMetrics.key(e.eventCode, MergeMetrics.classify(v, e))))
            Some(ReferenceFold.processOne(v, e))
          }.get
          Iterator.single(MergedRow(after, Some(ViewChange(
            after.transactionId,
            if (v0.isEmpty) "c" else "u",
            v0.flatMap(_.status), after.status,
            v0.flatMap(_.lastProcessedEventAt), after.lastProcessedEventAt,
            batchId))))
        }
      }
    // with changelog on, the cogroup feeds two actions (view + feed) —
    // persist so the merge ladder and bucket reads run once, not twice
    if (changelog) merged.persist()
    try {
      ViewStore.commit(spark, viewPath,
        merged.map(_.view).toDF()
          .withColumn("__bucket", ViewStore.bucketOf(col("transactionId"))),
        touched, batchId)
      if (changelog)
        // per-batch dir, overwrite mode: a batch retry after a commit
        // failure rewrites the same dir — the feed stays exactly-once
        merged.flatMap(_.change.toSeq).write.mode("overwrite")
          .parquet(f"$viewPath/_changelog/batch-$batchId%020d")
    } finally if (changelog) merged.unpersist()
  }
}
