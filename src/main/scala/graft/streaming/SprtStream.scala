package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.queries.IsotonicQueries

/** X394 — continuous SPRT maintenance (streaming X393): the daily
  * (trials, successes) table folds by per-day ADDITION as event
  * micro-batches arrive — work per batch is O(batch) + O(|days|),
  * never a history re-scan — and any moment's snapshot yields the
  * full Wald llr walk with the same frozen ×10⁶ literals as the batch
  * q362. A sequential test is exactly the monitor one WANTS
  * continuous: the decision is legitimate the instant the boundary is
  * crossed, so the stream form is the production shape and the batch
  * form is its audit.
  *
  * Committed through [[ViewStore.maintainSnapshot]]: per-day addition is
  * NOT idempotent, so its batchId guard is load-bearing (spec-pinned).
  */
object SprtStream {

  /** Current per-day (n_trials, n_succ) state (empty frame if none). */
  def daysSnapshot(spark: SparkSession, statePath: String): DataFrame =
    ViewStore.readSnapshot(spark, statePath).getOrElse {
      import spark.implicits._
      Seq.empty[(Long, Long, Long)].toDF("day", "n_trials", "n_succ")
    }

  /** The llr walk + decisions over a (day, n_trials, n_succ) frame —
    * shared by the stream snapshot and the batch-equivalence spec. */
  def walk(days: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    days
      .withColumn("llr_day_x1m", expr(
        s"n_succ * ${IsotonicQueries.SprtSuccX1m}L " +
          s"+ (n_trials - n_succ) * (${IsotonicQueries.SprtFailX1m}L)"))
      .withColumn("llr_cum_x1m", sum("llr_day_x1m").over(w))
      .withColumn("decision", expr(
        s"""CASE WHEN llr_cum_x1m >= ${IsotonicQueries.SprtBoundX1m}L THEN 'accept_h1'
           |     WHEN llr_cum_x1m <= ${-IsotonicQueries.SprtBoundX1m}L THEN 'accept_h0'
           |     ELSE 'continue' END""".stripMargin))
      .select("day", "n_trials", "n_succ", "llr_day_x1m", "llr_cum_x1m", "decision")
      .orderBy("day")
  }

  /** Maintain the day table at `statePath` from a STREAMING frame with
    * `day` (BIGINT) and `is_succ` (0/1) columns — one trial per row. */
  def maintain(
      events: DataFrame,
      statePath: String,
      checkpoint: String): StreamingQuery =
    ViewStore.maintainSnapshot(events, statePath, checkpoint) { batch =>
      val spark = batch.sparkSession
      val delta = batch.groupBy("day")
        .agg(count(lit(1)).as("n_trials"), sum("is_succ").as("n_succ"))
      val next = daysSnapshot(spark, statePath)
        .unionByName(delta)
        .groupBy("day")
        .agg(sum("n_trials").as("n_trials"), sum("n_succ").as("n_succ"))
      Map(ViewStore.Snapshot -> next)
    }
}
