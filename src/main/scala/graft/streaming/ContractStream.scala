package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** X415 — continuous temporal-integrity monitoring (streaming X412):
  * the ship-after-order contract audited AS ROWS ARRIVE — per-group
  * (priority) violation/line counts and the worst lag fold additively
  * (counts) and by MIN (worst lag) per micro-batch, so the monitor
  * holds the exact q379 census over everything ingested with
  * O(batch) + O(|groups|) work per batch. A data contract is the
  * canonical thing to watch continuously: by the time a batch audit
  * runs, the poisoned rows have already joined.
  *
  * Committed through [[ViewStore.maintainSnapshot]]; counts are additive (NOT
  * idempotent), so its batchId guard is load-bearing, while the MIN
  * component would be idempotent on its own — the guard protects the
  * pair.
  */
object ContractStream {

  /** Current per-group (n_lines, n_violations, min_lag) state. */
  def snapshot(spark: SparkSession, statePath: String): DataFrame =
    ViewStore.readSnapshot(spark, statePath).getOrElse {
      import spark.implicits._
      Seq.empty[(String, Long, Long, Long)]
        .toDF("g", "n_lines", "n_violations", "min_lag_days")
    }

  /** The q379-shaped report off a state snapshot. */
  def report(state: DataFrame): DataFrame =
    state
      .withColumn("violation_x10k", expr(
        "CASE WHEN n_lines = 0 THEN 0L ELSE (10000 * n_violations) div n_lines END"))
      .select("g", "n_lines", "n_violations", "violation_x10k", "min_lag_days")
      .orderBy("g")

  /** Maintain contract state from a STREAMING frame with `g` (group)
    * and `lag_days` (BIGINT; negative = violation) columns. */
  def maintain(
      rows: DataFrame,
      statePath: String,
      checkpoint: String): StreamingQuery =
    ViewStore.maintainSnapshot(rows, statePath, checkpoint) { batch =>
      val spark = batch.sparkSession
      val delta = batch.groupBy("g")
        .agg(count(lit(1)).as("n_lines"),
          sum(when(col("lag_days") < 0, 1L).otherwise(0L)).as("n_violations"),
          min("lag_days").as("min_lag_days"))
      val next = snapshot(spark, statePath).unionByName(delta)
        .groupBy("g")
        .agg(sum("n_lines").as("n_lines"),
          sum("n_violations").as("n_violations"),
          min("min_lag_days").as("min_lag_days"))
      Map(ViewStore.Snapshot -> next)
    }
}
