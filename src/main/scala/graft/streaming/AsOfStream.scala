package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming AS-OF enrichment — the continuous form of the native as-of
  * join ([[graft.plans.AsOfJoinStrategy]]): each left event is attached to
  * the latest right event of its key with `right.ts <= left.ts` (ties →
  * highest right id), EXACTLY, under out-of-order arrival on both sides.
  *
  * Why emission must wait for the watermark: a right event that qualifies
  * a left (rts <= lts) can arrive AFTER the left. A left row is final only
  * once the watermark passes its timestamp — from then on every late
  * arrival is either dropped by the watermark filter or has rts > lts. So
  * the state buffers pending lefts until maturity and emits each exactly
  * once (append mode). A stream-stream interval join cannot express this:
  * it emits ALL rights in the window, not the latest, and "latest" is not
  * a join predicate.
  *
  * State is bounded two ways: pending lefts live only until the watermark
  * passes them (horizon = the watermark delay), and the right buffer
  * collapses everything at-or-below the watermark to ONE row — the best
  * already-final match candidate (any future left has lts > watermark, so
  * among rights with rts <= watermark only the latest can ever win). An
  * idle key's leftovers are evicted after the same [[KeyedFold.StateTtlMs]],
  * via the timeout that otherwise flushes matured lefts.
  *
  * Wired by hand, not through [[KeyedFold]]: its timer fires when a
  * pending left matures (the strict `lts < watermark` test), not at a
  * TTL past the key's last event, and that test needs the raw-millisecond
  * watermark. On [[KeyedFold]]'s hour-quantized one a left would have to
  * wait for the end of its event-time hour, which delays every match.
  */
object AsOfStream {

  case class AsOfEvent(key: Long, ts_ms: Long, id: Long, is_left: Boolean, value: Long)
  case class AsOfBuf(lefts: Seq[(Long, Long)], rights: Seq[(Long, Long, Long)])
  case class AsOfMatch(key: Long, ts_ms: Long, id: Long,
      match_ts: Option[Long], match_id: Option[Long], match_value: Option[Long])

  val StateTtlMs: Long = KeyedFold.StateTtlMs
  val WatermarkDelay: String = KeyedFold.WatermarkDelay

  /** Latest right at-or-before `lts`: max (rts, tie) among rts <= lts —
    * the same contract as AsOfJoinExec's merge walk. */
  def bestMatch(rights: Seq[(Long, Long, Long)], lts: Long): Option[(Long, Long, Long)] = {
    val q = rights.filter(_._1 <= lts)
    if (q.isEmpty) None else Some(q.maxBy(r => (r._1, r._2)))
  }

  /** Emit matured lefts and collapse final rights. Maturity is STRICT
    * (`lts < watermark`): Spark's late filter keeps rows AT the watermark,
    * so a right with rts == lts == watermark could still arrive — only
    * below the watermark is the left's match set provably closed. */
  def flush(buf: AsOfBuf, watermarkMs: Long): (Seq[(Long, Long, Option[(Long, Long, Long)])], AsOfBuf) = {
    val (matured, pending) = buf.lefts.partition(_._1 < watermarkMs)
    val emitted = matured.sorted.map { case (lts, lid) =>
      (lts, lid, bestMatch(buf.rights, lts))
    }
    // rights below the watermark: only the latest can ever serve a future
    // left (whose lts is at least the watermark) — keep one
    val (finalR, liveR) = buf.rights.partition(_._1 < watermarkMs)
    val keptFinal = if (finalR.isEmpty) Seq.empty else Seq(finalR.maxBy(r => (r._1, r._2)))
    (emitted, AsOfBuf(pending, keptFinal ++ liveR))
  }

  def updateKey(
      key: Long,
      events: Iterator[AsOfEvent],
      state: GroupState[AsOfBuf]): Iterator[AsOfMatch] = {
    val watermark = state.getCurrentWatermarkMs()
    val prev = state.getOption.getOrElse(AsOfBuf(Seq.empty, Seq.empty))
    val merged = if (state.hasTimedOut) prev else {
      val incoming = events.toSeq
      AsOfBuf(
        (prev.lefts ++ incoming.filter(_.is_left).map(e => (e.ts_ms, e.id))).distinct,
        (prev.rights ++ incoming.filterNot(_.is_left)
          .map(e => (e.ts_ms, e.id, e.value))).distinct)
    }
    val (emitted, next) = flush(merged, watermark)
    val maxSeen = (next.lefts.map(_._1) ++ next.rights.map(_._1)).maxOption.getOrElse(watermark)
    val ttlExpired = next.lefts.isEmpty && watermark >= maxSeen + StateTtlMs
    if ((next.lefts.isEmpty && next.rights.isEmpty) || ttlExpired) {
      // fully drained, or only a final right candidate older than the TTL
      // horizon is left — evict (the KeyedFold TTL contract)
      state.remove()
    } else {
      state.update(next)
      // pending lefts: wake exactly when the first matures; otherwise hold
      // the (possibly useful) final right candidate until its TTL instant —
      // NOT watermark+1, which would re-fire the timer every micro-batch
      val t = next.lefts.map(_._1).minOption
        .getOrElse(maxSeen + StateTtlMs)
      state.setTimeoutTimestamp(math.max(t, watermark + 1))
    }
    emitted.iterator.map { case (lts, lid, m) =>
      AsOfMatch(key, lts, lid, m.map(_._1), m.map(_._2), m.map(_._3))
    }
  }

  /** Wire left (key, ts_ms, id) and right (key, ts_ms, id, value) streams
    * into exact as-of matches, one APPEND row per left event once the
    * watermark passes it. The two inputs are union-tagged so one watermark
    * (the min of both streams' progress) gates emission — the same
    * single-frontier rule Spark applies to stream-stream joins. */
  def asofUpdates(left: DataFrame, right: DataFrame): Dataset[AsOfMatch] = {
    import left.sparkSession.implicits._
    val l = left.select(col("key").cast("long"), col("ts_ms").cast("long"),
      col("id").cast("long"), lit(true).as("is_left"), lit(0L).as("value"))
    val r = right.select(col("key").cast("long"), col("ts_ms").cast("long"),
      col("id").cast("long"), lit(false).as("is_left"), col("value").cast("long"))
    l.unionByName(r)
      .withColumn("eventTime", timestamp_millis(col("ts_ms")))
      .withWatermark("eventTime", WatermarkDelay)
      .as[AsOfEvent]
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        updateKey)
  }
}
