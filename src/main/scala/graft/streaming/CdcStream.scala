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
  *  - dedup/locking: the hash shuffle on `transactionId` gives
  *    per-key serial execution, so the Redis `SET NX` lock (O7,
  *    `CdcLockService.kt:40-50`) reduces to per-key duplicate-id tracking
  *    in state;
  *  - merge ladder: [[ReferenceFold.processOne]] — the SAME pure function
  *    the batch fold uses — applied per event in arrival order via
  *    `flatMapGroupsWithState` (O10–O13).
  *
  * Scale notes: state is one small view row + the seen-event-id list per
  * live transaction, kept as one length-prefixed string ([[KeyState]]).
  * The id list is NOT pruned within a transaction's lifetime — it grows
  * one entry per distinct event of that transaction and is only reclaimed
  * when the state row TTLs out; that is bounded in practice because
  * transaction lifecycles are short (tens of events over days, per the
  * reference's domain), not by any windowing here. State is evicted via
  * event-time timeout (mirrors the reference's 10-min lock TTL / 3-day
  * resume-window envelope, BASELINE.md).
  *
  * Once a JVM has run a query's first batches, neither later batches nor
  * later queries compile generated code, except one late-event filter per
  * new watermark value (Spark writes the watermark into it as a literal;
  * one per event-time hour here). The state holds no collection: a
  * collection field is deserialized through `MapObjects`, whose lambda
  * variable takes a new global id each time Spark re-resolves the state
  * encoder, so its ~40k-character deserializer was recompiled every
  * batch. The stream is keyed by its `transactionId` column, not by a key
  * function, so no `AppendColumns` step deserializes each event to
  * serialize its key. `CdcCodegenReuseSpec` pins both, together with the
  * session's shared codegen cache (`spark.sql.artifact.isolation.enabled`,
  * see [[graft.Sessions]]).
  */
object CdcStream {

  /** Per-key state: the materialized view + the ids of the events already
    * applied (duplicate-delivery guard), as one string written by
    * [[encodeIds]]: each id as its length in chars, a `:`, then the id.
    * A string, not a `Set[String]`, because the encoder of a collection
    * field generates a new deserializer source on every batch (see the
    * scale notes above).
    *
    * Upgrade rule: a checkpoint written before this encoding (seenIds as
    * an array of strings, keyed by a `value` column) is not resumable.
    * Spark's state-schema check refuses it at the first batch after the
    * restart, so no query resumes with the seen ids dropped; restart such
    * a stream from a fresh checkpoint and replay its source. */
  case class KeyState(view: TransactionView, seenIds: String)

  /** The [[KeyState.seenIds]] string of a set of ids. */
  private[streaming] def encodeIds(ids: Iterable[String]): String = {
    val sb = new java.lang.StringBuilder
    ids.foreach(id => sb.append(id.length).append(':').append(id))
    sb.toString
  }

  /** The ids of a [[KeyState.seenIds]] string. */
  private[streaming] def decodeIds(encoded: String): Set[String] = {
    val ids = Set.newBuilder[String]
    var at = 0
    while (at < encoded.length) {
      val colon = encoded.indexOf(':', at)
      val end = colon + 1 + Integer.parseInt(encoded, at, colon, 10)
      ids += encoded.substring(colon + 1, end)
      at = end
    }
    ids.result()
  }

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

  /** One ladder step, shared by the stateful and the foreachBatch path: a
    * key's batch events fold onto `view` in (tsMs, id) order through
    * [[ReferenceFold.processOne]]; an id already in `seen`, or repeated
    * in the batch, is dropped and counted as DupDropped, so the copy with
    * the earliest tsMs is the one applied. Returns the new view and the
    * ids seen after the batch. */
  private def ladder(
      view: Option[TransactionView],
      seen: Set[String],
      events: Iterator[CdcEvent],
      metrics: Option[OutcomeCountsAccumulator]): (Option[TransactionView], Set[String]) =
    // within a micro-batch we impose (tsMs, id) order — deterministic where
    // the reference's arrival order is racy (its comment diagram,
    // TransactionViewUpsertService.kt:83-103); across batches it's the
    // ladder's arrival-order compare-and-set
    events.toSeq.sortBy(e => (e.tsMs, e.id)).foldLeft((view, seen)) { case ((v, ids), e) =>
      if (ids.contains(e.id)) {
        metrics.foreach(_.add(MergeMetrics.key(e.eventCode, MergeMetrics.DupDropped)))
        (v, ids)
      } else {
        metrics.foreach(_.add(MergeMetrics.key(e.eventCode, MergeMetrics.classify(v, e))))
        (Some(ReferenceFold.processOne(v, e)), ids + e.id)
      }
    }

  /** The per-key stateful merge. Emits the updated view once per key per
    * micro-batch (update-mode semantics), with optional O14/span-parity
    * counters (task-side accumulator adds; `observe()` can't see inside
    * the state function). */
  def updateKeyInstrumented(metrics: Option[OutcomeCountsAccumulator])(
      txId: String,
      events: Iterator[CdcEvent],
      state: GroupState[KeyState]): Iterator[TransactionView] = {
    if (state.hasTimedOut) {
      state.remove()
      return Iterator.empty
    }
    val initial = state.getOption
    val seen = initial.map(s => decodeIds(s.seenIds)).getOrElse(Set.empty[String])
    val (view, seenAfter) = ladder(initial.map(_.view), seen, events, metrics)
    view match {
      case Some(v) if seenAfter.size > seen.size =>
        state.update(KeyState(v, encodeIds(seenAfter)))
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
      // keyed by the column: a key function would add an AppendColumns
      // step that deserializes every event just to serialize its key
      .groupBy(col("transactionId")).as[String, CdcEvent]
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
    * [[ViewStore]] view through [[ViewStore.mergeKeyed]] (plain-parquet
    * MERGE stand-in — no transactional table format is guaranteed on the
    * classpath, SURVEY.md §7; on Delta/Iceberg this collapses to one
    * `MERGE INTO`). Fully distributed: a cogroup on the key folds each
    * key's batch events onto its stored view row — exactly the ladder,
    * one shuffle, no driver-side state. Replayed batchIds are skipped
    * (the ladder itself is replay-idempotent, the skip just saves the
    * I/O). `mergeKeyed` persists the pre-filtered batch for the call, so
    * it is decoded once for both the touched-bucket scan and the cogroup.
    *
    * With `changelog`, the batch's change feed is written to
    * `_changelog/batch-<batchId>` inside the combine step, so before the
    * manifest flip records the batch: a crash in between leaves the batch
    * unapplied, and its re-delivery overwrites the same feed dir — the
    * feed stays exactly-once. */
  def mergeBatchIntoParquet(
      spark: SparkSession,
      batch: Dataset[CdcEvent],
      viewPath: String,
      batchId: Long,
      metrics: Option[OutcomeCountsAccumulator] = None,
      changelog: Boolean = false): Unit = {
    import spark.implicits._
    val filtered = preFilter(batch)
    // with changelog on, the cogroup feeds two actions (feed + view) —
    // persisted so the merge ladder and bucket reads run once, not twice
    var cached: Option[Dataset[MergedRow]] = None
    try ViewStore.mergeKeyed(spark, viewPath, batchId, filtered.toDF(), "transactionId") { existing =>
      val rows = existing.map(_.as[TransactionView]).getOrElse(spark.emptyDataset[TransactionView])
        .groupByKey(_.transactionId)
        .cogroup(filtered.groupByKey(_.transactionId)) { (_, views, events) =>
          val v0 = views.toSeq.headOption
          ladder(v0, Set.empty, events, metrics) match {
            case (Some(after), applied) if applied.nonEmpty =>
              Iterator.single(MergedRow(after, Some(ViewChange(
                after.transactionId,
                if (v0.isEmpty) "c" else "u",
                v0.flatMap(_.status), after.status,
                v0.flatMap(_.lastProcessedEventAt), after.lastProcessedEventAt,
                batchId))))
            case _ => v0.map(MergedRow(_, None)).iterator
          }
        }
      if (changelog) {
        cached = Some(rows.persist())
        // per-batch dir, overwrite mode: a re-delivery rewrites the same dir
        rows.flatMap(_.change.toSeq).write.mode("overwrite")
          .parquet(f"$viewPath/_changelog/batch-$batchId%020d")
      }
      rows.map(_.view).toDF()
    } finally cached.foreach(_.unpersist())
  }
}
