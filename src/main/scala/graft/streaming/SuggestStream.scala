package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.functions.TextFunctions._

/** X229 — continuous autocomplete index maintenance (streaming q201):
  * the vocabulary frequency table folds from the document stream per
  * micro-batch — batch token counts partial-aggregate map-side, then
  * merge into the stored table by per-token ADDITION (the
  * [[SketchStream]]/[[QualityMonitorStream]] mergeable-aggregate
  * discipline) — and `suggest` derives the top-k-per-prefix table from
  * the CURRENT snapshot in vocabulary-bounded work. The suggest index
  * every search box reads is thus never rebuilt from the corpus: state
  * is |vocab| rows regardless of how many documents streamed through.
  *
  * Committed through [[ViewStore.maintainSnapshot]]. Addition is NOT
  * idempotent ⇒ its batchId guard is load-bearing; the merge is commutative
  * ⇒ counts are invariant to batching (spec-pinned, the X207 contract).
  */
object SuggestStream {

  /** Current (token, freq) vocabulary — empty if none. */
  def snapshot(spark: SparkSession, statePath: String): DataFrame =
    ViewStore.readSnapshot(spark, statePath).getOrElse {
      import spark.implicits._
      Seq.empty[(String, Long)].toDF("token", "freq")
    }

  /** Maintain the vocabulary from a STREAMING frame with a `text`
    * column. */
  def maintain(docs: DataFrame, statePath: String, checkpoint: String): StreamingQuery =
    ViewStore.maintainSnapshot(docs, statePath, checkpoint) { batch =>
      val spark = batch.sparkSession
      val delta = batch
        .select(explode(wsTokens(normalizeText(col("text")))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("freq"))
      val next = snapshot(spark, statePath).unionByName(delta)
        .groupBy("token").agg(sum("freq").as("freq"))
      Map(ViewStore.Snapshot -> next)
    }

  /** The q201 suggest table (top `k` completions per prefix of length
    * 1..`maxPrefix`) derived from the current snapshot. */
  def suggest(spark: SparkSession, statePath: String,
      maxPrefix: Int = 4, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    snapshot(spark, statePath)
      .withColumn("plen", explode(sequence(lit(1),
        least(length(col("token")), lit(maxPrefix)))))
      .select(col("token").substr(lit(1), col("plen")).as("prefix"),
        col("token"), col("freq"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("prefix").orderBy(col("freq").desc, col("token")))
          .cast("long"))
      .filter(col("rank") <= k)
      .select("prefix", "rank", "token", "freq")
      .orderBy("prefix", "rank")
  }
}
