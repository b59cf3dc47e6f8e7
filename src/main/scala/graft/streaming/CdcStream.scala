package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode
import graft.cdc.{Admission, CdcEvent, ReferenceFold, TransactionView}

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
  *  - merge ladder: [[ReferenceFold.step]] — the SAME pure function
  *    the batch fold uses — applied per event in arrival order via
  *    [[KeyedFold]] (O10–O13).
  *
  * Scale notes: state is one small view row + the seen-event-id list per
  * live transaction, kept as one length-prefixed string ([[KeyState]]).
  * The id list is NOT pruned within a transaction's lifetime — it grows
  * one entry per distinct event of that transaction and is only reclaimed
  * when the state row TTLs out; that is bounded in practice because
  * transaction lifecycles are short (tens of events over days, per the
  * reference's domain), not by any windowing here. State is evicted by
  * [[KeyedFold]]'s event-time TTL (mirrors the reference's 10-min lock
  * TTL / 3-day resume-window envelope, BASELINE.md).
  *
  * Once a JVM has run a query's first batches, neither later batches nor
  * later queries compile generated code, except one late-event filter per
  * new watermark value (Spark writes the watermark into it as a literal;
  * one per event-time hour here). The state holds no collection: a
  * collection field is deserialized through `MapObjects`, whose lambda
  * variable takes a new global id each time Spark re-resolves the state
  * encoder, so its ~40k-character deserializer was recompiled every
  * batch. [[KeyedFold]] keys the stream by its `transactionId` column, so
  * no `AppendColumns` step deserializes each event to serialize its key.
  * `CdcCodegenReuseSpec` pins both, together with the
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

  /** Admits the events the ladder folds: [[graft.cdc.Admission.rule]]
    * (op filter, ttl anti-filter, unknown codes skipped), applied before
    * keying. */
  def preFilter(events: Dataset[CdcEvent]): Dataset[CdcEvent] =
    events.filter(Admission.rule)

  /** One ladder step, shared by the stateful and the foreachBatch path: a
    * key's batch events fold onto `view` in (tsMs, id) order through
    * [[ReferenceFold.step]], each counted under the rung it reports; an
    * id already in `seen`, or repeated in the batch, is dropped and
    * counted as DupDropped, so the copy with the earliest tsMs is the one
    * applied. Returns the new view and the ids seen after the batch. */
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
        val (after, rung) = ReferenceFold.step(v, e)
        metrics.foreach(_.add(MergeMetrics.key(e.eventCode, MergeMetrics.outcome(rung))))
        (Some(after), ids + e.id)
      }
    }

  /** The per-key stateful merge, one [[KeyedFold]] step: folds the key's
    * batch events onto its state and emits the updated view once per key
    * per micro-batch (update-mode semantics), with optional O14/span-parity
    * counters (task-side accumulator adds; `observe()` can't see inside
    * the state function). A batch that applies no new event leaves the
    * state and its timer alone. */
  private def updateKey(metrics: Option[OutcomeCountsAccumulator])(
      txId: String,
      events: Iterator[CdcEvent],
      state: Option[KeyState]): (Option[(KeyState, Long)], Iterator[TransactionView]) = {
    val seen = state.map(s => decodeIds(s.seenIds)).getOrElse(Set.empty[String])
    val (view, seenAfter) = ladder(state.map(_.view), seen, events, metrics)
    view match {
      case Some(v) if seenAfter.size > seen.size =>
        (Some(KeyState(v, encodeIds(seenAfter)) -> v.lastProcessedEventAt.getOrElse(0L)),
          Iterator.single(v))
      case _ => (None, Iterator.empty)
    }
  }

  /** Wire a streaming Dataset of events into a stream of view updates,
    * keyed by `transactionId` through [[KeyedFold]] on `tsMs`. */
  def viewUpdates(
      events: Dataset[CdcEvent],
      metrics: Option[OutcomeCountsAccumulator] = None): Dataset[TransactionView] = {
    import events.sparkSession.implicits._
    KeyedFold(preFilter(events), "transactionId", "tsMs", OutputMode.Update)(updateKey(metrics))
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
    val dir = new Path(viewPath, "_changelog")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir) || !fs.getFileStatus(dir).isDirectory) None
    else Some(spark.read.parquet(s"$viewPath/_changelog/*").as[ViewChange])
  }

  /** foreachBatch alternative: merge each micro-batch into the bucketed
    * [[ViewStore]] view through [[ViewStore.mergeKeyed]] (plain-parquet
    * MERGE stand-in — no transactional table format is guaranteed on the
    * classpath, SURVEY.md §7; on Delta/Iceberg this collapses to one
    * `MERGE INTO`). Fully distributed: a cogroup on the key folds each
    * key's batch events onto its stored view row — exactly the ladder,
    * one shuffle, no driver-side state. Replayed batchIds are skipped,
    * and the skip is load-bearing: the ladder is not replay-idempotent.
    * Folding `[Closed(t1), ClosureRetried(t2, closureErrorJson = X)]`
    * onto an absent view leaves `closureErrorJson` = X; applied again,
    * both events are stale, Closed's data update unsets the field and
    * ClosureRetried, which has no data update, does not set it back.
    * Duplicate ids are dropped within a batch only (no seen-id set is
    * stored), as in [[EventsView]]. The cogroup builds on the batch
    * `mergeKeyed` persists, so the
    * pre-filtered events are decoded once for both the touched-bucket
    * scan and the cogroup. Both sides are grouped by the `transactionId`
    * column ([[ViewStore.groupedByKey]]) and the view and feed are
    * projected out of [[MergedRow]] by column, so no per-task
    * deserializer derives a key or unwraps a row.
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
    // with changelog on, the cogroup feeds two actions (feed + view) —
    // persisted so the merge ladder and bucket reads run once, not twice
    var cached: Option[Dataset[MergedRow]] = None
    try ViewStore.mergeKeyed(spark, viewPath, batchId, preFilter(batch).toDF(), "transactionId") {
      (existing, admitted) =>
        val rows = ViewStore.groupedByKey(existing.getOrElse(spark.emptyDataset[TransactionView].toDF()),
            "transactionId").as[String, TransactionView]
          .cogroup(ViewStore.groupedByKey(admitted, "transactionId").as[String, CdcEvent]) { (_, views, events) =>
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
          rows.where(col("change").isNotNull).select("change.*").write.mode("overwrite")
            .parquet(f"$viewPath/_changelog/batch-$batchId%020d")
        }
        rows.select("view.*")
    } finally cached.foreach(_.unpersist())
  }
}
