package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Streaming conversion funnel — the continuous form of
  * [[graft.ops.Relational.funnel]]: per user, the first time each stage
  * was reached where stage i counts only at-or-after stage i-1's first
  * reach, maintained AS EVENTS ARRIVE and correct under out-of-order
  * delivery.
  *
  * Why state must buffer: a late-arriving stage-0 event can
  * retroactively qualify an already-seen stage-1 event (the view at t=5
  * arriving after the click at t=10 makes that click count), so earlier
  * stages' reach times only ever DECREASE and later stages can re-qualify
  * backwards. The state therefore keeps, per stage, the sorted distinct
  * event keys seen (stage 0 collapses to its min — nothing upstream of
  * it changes), and recomputes the funnel chain per batch: c_0 = min
  * stage-0 key; c_i = min stage-i key strictly after c_(i-1). Within one
  * user the chain walk is O(total buffered events); state is bounded by
  * [[KeyedFold]]'s event-time TTL.
  *
  * Ordering contract — identical to the batch twin: events are ordered by
  * the (ts, event_id) pair, and stage i qualifies only when it sorts
  * STRICTLY after stage i-1's first qualified event. Buffering the pair
  * (not the bare ts) is what makes the streaming result converge to
  * [[graft.ops.Relational.funnel]] even on cross-stage exact-timestamp
  * ties, which production millisecond data does hit.
  */
object FunnelStream {

  case class FunnelEvent(user_id: Long, ts_ms: Long, event_id: Long, stage: Int)
  case class FunnelBuf(stageTs: Seq[Seq[(Long, Long)]])
  case class FunnelRow(user_id: Long, reach_ms: Seq[Option[Long]])

  private val keyOrd = implicitly[Ordering[(Long, Long)]]

  /** Chain walk over per-stage sorted (ts, event_id) lists: the first
    * qualified key per stage, where qualified = strictly after the
    * previous stage's first qualified key in (ts, event_id) order — the
    * same precedence the batch window's ORDER BY (orderCol, tieCol)
    * inclusive frame induces. */
  def funnelOf(stageTs: Seq[Seq[(Long, Long)]]): Seq[Option[Long]] = {
    val chain = stageTs.foldLeft(Seq.empty[Option[(Long, Long)]]) { (acc, keys) =>
      val c = acc.lastOption match {
        case None          => keys.headOption            // stage 0: min key
        case Some(None)    => None                       // chain already broken
        case Some(Some(p)) => keys.find(k => keyOrd.gt(k, p))
      }
      acc :+ c
    }
    chain.map(_.map(_._1))
  }

  private def updateUser(nStages: Int)(
      userId: Long,
      events: Iterator[FunnelEvent],
      state: Option[FunnelBuf]): (Option[(FunnelBuf, Long)], Iterator[FunnelRow]) = {
    val prev = state.map(_.stageTs)
      .getOrElse(Seq.fill(nStages)(Seq.empty[(Long, Long)]))
    val incoming = events.toSeq.filter(e => e.stage >= 0 && e.stage < nStages)
    if (incoming.isEmpty) return (None, Iterator.empty)
    val merged = prev.zipWithIndex.map { case (keys, i) =>
      val add = incoming.filter(_.stage == i).map(e => (e.ts_ms, e.event_id))
      val all = (keys ++ add).distinct.sorted
      // stage 0 only ever needs its min; later stages keep the buffer
      if (i == 0) all.take(1) else all
    }
    (Some(FunnelBuf(merged) -> incoming.map(_.ts_ms).max),
      Iterator.single(FunnelRow(userId, funnelOf(merged))))
  }

  /** Wire a stream of (user_id, ts_ms, event_id, event_type) into per-user
    * funnel updates, one row per user per batch it appears in (update
    * mode). `event_id` is the tie-break for cross-stage exact-ts ties —
    * pass the same column the batch funnel uses as `tieCol`. */
  def funnelUpdates(
      events: DataFrame,
      stages: Seq[String]): Dataset[FunnelRow] = {
    import events.sparkSession.implicits._
    val stageIdx = stages.zipWithIndex.toMap
    val idxCol = stages.foldLeft(lit(-1)) { case (acc, s) =>
      when(col("event_type") === s, lit(stageIdx(s))).otherwise(acc)
    }
    val narrowed = events
      .withColumn("stage", idxCol)
      .filter(col("stage") >= 0)
      .select(col("user_id").cast("long").as("user_id"),
        col("ts_ms").cast("long").as("ts_ms"),
        col("event_id").cast("long").as("event_id"), col("stage"))
    KeyedFold(narrowed, "user_id", "ts_ms", OutputMode.Update)(updateUser(stages.size))
  }
}
