package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** X409 — continuous KMV (bottom-k) distinct maintenance (streaming
  * X403): the per-group k-smallest-hash state folds per micro-batch by
  * union → re-bottom-k — bottom-k sketches are MERGEABLE and the merge
  * is IDEMPOTENT (re-delivering the same hashes cannot change a set
  * minimum), so unlike [[SprtStream]]'s additive fold the batchId guard
  * of [[ViewStore.maintainSnapshot]], which commits it, only saves the
  * rewrite of an exact replay. State is ≤ k rows per group at any corpus
  * size, and any moment's snapshot yields the exact q371 estimator
  * (k−1)·2⁶⁰ div h₍ₖ₎.
  */
object KmvStream {

  /** Current (group, h) bottom-k state (empty frame if none). */
  def snapshot(spark: SparkSession, statePath: String): DataFrame =
    ViewStore.readSnapshot(spark, statePath).getOrElse {
      import spark.implicits._
      Seq.empty[(String, Long)].toDF("g", "h")
    }

  /** Bottom-k of a (g, h) frame — distinct hashes, k smallest per g. */
  def bottomK(df: DataFrame, k: Int): DataFrame =
    graft.ops.Relational.topKPerGroup(
        df.select(col("g"), col("h")).distinct().withColumn("negh", -col("h")),
        Seq("g"), "negh", "h", k)
      .select(col("g"), col("h"))

  /** KMV estimates off a bottom-k state: per group, n_kept and the
    * (k−1)·2⁶⁰ div h₍ₖ₎ estimate (exact count when n_kept < k). */
  def estimates(state: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // state is <= k rows per group — the rank window is bounded
    val ranked = state.withColumn("rn",
      row_number().over(Window.partitionBy("g").orderBy(col("h").asc)))
    val kept = state.groupBy("g").agg(count(lit(1)).as("n_kept"))
    val kth = ranked.filter(col("rn") === k).select(col("g"), col("h").as("h_k"))
    kept.join(kth, Seq("g"), "left")
      .select(col("g"), col("n_kept"),
        expr(s"""CASE WHEN h_k IS NULL THEN n_kept
                |ELSE CAST((CAST(${k - 1} AS DECIMAL(38,0)) * 1152921504606846976)
                |     div h_k AS BIGINT) END""".stripMargin).as("n_est"))
  }

  /** Maintain bottom-k state at `statePath` from a STREAMING frame with
    * `g` (group) and `h` (60-bit hash, BIGINT) columns. */
  def maintain(
      hashes: DataFrame,
      statePath: String,
      checkpoint: String,
      k: Int): StreamingQuery =
    ViewStore.maintainSnapshot(hashes, statePath, checkpoint) { batch =>
      val spark = batch.sparkSession
      val next = bottomK(
        snapshot(spark, statePath).unionByName(batch.select("g", "h")), k)
      Map(ViewStore.Snapshot -> next)
    }
}
