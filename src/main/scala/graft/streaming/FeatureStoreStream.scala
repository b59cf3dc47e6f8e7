package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** X254 — continuous feature-store maintenance (the streaming
  * substrate of q225's leak-safe snapshot): per-user raw activity
  * counters — event count, first/last active day — fold per
  * micro-batch with the MERGEABLE combination (sum / min / max), so
  * any moment's snapshot answers feature derivations (recency,
  * tenure, volume) over everything ingested without a history
  * re-scan. A batch feature snapshot (q225) then derives its
  * cutoff-relative features from THIS table's semantics at corpus
  * scale.
  *
  * Committed through [[ViewStore.maintainSnapshot]]: sum-folding is NOT
  * idempotent, so its batchId guard is load-bearing (spec-pinned).
  */
object FeatureStoreStream {

  /** Current per-user counters (empty, correctly-shaped if none). */
  def snapshot(spark: SparkSession, statePath: String): DataFrame =
    ViewStore.readSnapshot(spark, statePath).getOrElse {
      import spark.implicits._
      Seq.empty[(Long, Long, Long, Long)]
        .toDF("user_id", "n_events", "first_day", "last_day")
    }

  /** One batch's per-user delta from a (user_id, day) frame. */
  private[streaming] def delta(ev: DataFrame): DataFrame =
    ev.groupBy("user_id").agg(
      count(lit(1)).as("n_events"),
      min("day").as("first_day"),
      max("day").as("last_day"))

  /** Merge two counter tables (the mergeable fold — associative and
    * commutative per column, which is what makes any batch split
    * converge to the same snapshot). */
  private[streaming] def merge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy("user_id")
      .agg(sum("n_events").as("n_events"),
        min("first_day").as("first_day"),
        max("last_day").as("last_day"))

  /** Maintain the counters from a STREAMING (user_id, day) frame. */
  def maintain(ev: DataFrame, statePath: String, checkpoint: String): StreamingQuery =
    ViewStore.maintainSnapshot(ev, statePath, checkpoint) { batch =>
      val spark = batch.sparkSession
      val next = merge(snapshot(spark, statePath), delta(batch))
      Map(ViewStore.Snapshot -> next)
    }
}
