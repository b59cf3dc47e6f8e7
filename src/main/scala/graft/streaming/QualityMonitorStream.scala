package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** X207 — continuous model-quality monitor (streaming q184): labeled
  * prediction pairs (`true_label`, `pred_label`) fold into a running
  * per-label confusion summary — n_true, tp, n_pred — by per-batch
  * map-side delta + per-cell ADDITION merge (the [[RetractStream]] /
  * [[SketchStream]] mergeable-aggregate discipline), so any moment's
  * snapshot yields the per-class precision/recall/F1 of EVERYTHING
  * scored so far in O(|labels|), never a re-scan. This is the
  * "quality-gate drift" pager line a production curation pipeline
  * (q52's gate, q97's classifier, q108's vote) runs next to its
  * throughput metrics: accuracy sliding off means the upstream corpus
  * moved, not that Spark broke.
  *
  * Committed through [[ViewStore.maintainSnapshot]]: addition is NOT
  * idempotent, so its batchId guard is load-bearing, and the merge is
  * commutative ⇒ counts are invariant to how the stream was batched
  * (spec-pinned).
  */
object QualityMonitorStream {

  /** Current (label, n_true, tp, n_pred) counts — empty if none. The
    * label is STRING in the persisted state (see [[confusionDelta]]'s
    * explicit cast), so the state schema is identical whether or not
    * the first batch was empty and for any incoming label type. */
  def snapshot(spark: SparkSession, statePath: String): DataFrame =
    ViewStore.readSnapshot(spark, statePath).getOrElse {
      import spark.implicits._
      Seq.empty[(String, Long, Long, Long)].toDF("label", "n_true", "tp", "n_pred")
    }

  /** The per-batch confusion delta of a (true_label, pred_label) frame —
    * two |labels|-row aggregates full-outer-merged (q184's shape). The
    * label is cast to STRING explicitly (the RetractStream key
    * discipline): without it the persisted state type would depend on
    * the first non-empty batch's label type vs the empty-state stub —
    * fragile for downstream readers of the state table. */
  private[streaming] def confusionDelta(pairs: DataFrame): DataFrame = {
    val byTrue = pairs.groupBy(col("true_label").cast("string").as("label"))
      .agg(count(lit(1)).as("n_true"),
        sum((col("true_label") === col("pred_label")).cast("long")).as("tp"))
    val byPred = pairs.groupBy(col("pred_label").cast("string").as("label"))
      .agg(count(lit(1)).as("n_pred"))
    byTrue.join(byPred, Seq("label"), "full")
      .select(col("label"),
        coalesce(col("n_true"), lit(0L)).as("n_true"),
        coalesce(col("tp"), lit(0L)).as("tp"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"))
  }

  /** Maintain the running confusion counts from a STREAMING frame with
    * (`true_label`, `pred_label`) columns. */
  def maintain(pairs: DataFrame, statePath: String, checkpoint: String): StreamingQuery =
    ViewStore.maintainSnapshot(pairs, statePath, checkpoint) { batch =>
      val spark = batch.sparkSession
      val next = snapshot(spark, statePath)
        .unionByName(confusionDelta(batch))
        .groupBy("label")
        .agg(sum("n_true").as("n_true"), sum("tp").as("tp"),
          sum("n_pred").as("n_pred"))
      Map(ViewStore.Snapshot -> next)
    }

  /** Per-class P/R/F1 ×10⁴ (q184's integer arithmetic) of everything
    * scored so far, from the snapshot alone. */
  def report(spark: SparkSession, statePath: String): DataFrame =
    snapshot(spark, statePath)
      .withColumn("prec_x10k",
        expr("CASE WHEN n_pred = 0 THEN 0 ELSE (10000 * tp) div n_pred END"))
      .withColumn("rec_x10k",
        expr("CASE WHEN n_true = 0 THEN 0 ELSE (10000 * tp) div n_true END"))
      .withColumn("f1_x10k",
        expr("""CASE WHEN prec_x10k + rec_x10k = 0 THEN 0
               |ELSE (2 * prec_x10k * rec_x10k) div (prec_x10k + rec_x10k)
               |END""".stripMargin))
      .orderBy("label")
}
