package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** X246 — continuous blocklist screening (streaming q214): a document
  * stream is screened per micro-batch against the broadcast policy
  * lists (terms map-side, 2-token phrases via the prefiltered
  * positional equijoin — the exact q214 plan on the batch), and the
  * running per-category totals (docs hit, term hits, phrase hits,
  * flagged docs) fold by ADDITION into the persisted state — the
  * compliance dashboard's counters over everything ingested.
  *
  * Committed through [[ViewStore.maintainSnapshot]]: addition is NOT
  * idempotent, so its batchId guard is load-bearing (spec-pinned).
  */
object BlocklistStream {

  /** Running totals (empty, correctly-shaped frame if none). */
  def snapshot(spark: SparkSession, statePath: String): DataFrame =
    ViewStore.readSnapshot(spark, statePath).getOrElse {
      import spark.implicits._
      Seq.empty[(String, Long, Long, Long, Long)]
        .toDF("category", "n_docs_hit", "n_term_hits", "n_phrase_hits", "n_flagged")
    }

  /** One batch's per-category screen delta — q214's plan over the
    * batch, reduced to category totals. */
  private[streaming] def screenDelta(docs: DataFrame): DataFrame = {
    val perDoc = graft.queries.TextOpsQueries.screenDocs(docs)
    perDoc.groupBy("category").agg(
      count(lit(1)).as("n_docs_hit"),
      sum("n_term_hits").as("n_term_hits"),
      sum("n_phrase_hits").as("n_phrase_hits"),
      sum(col("flagged").cast("long")).as("n_flagged"))
  }

  /** Maintain the running screen totals from a STREAMING (doc_id, text)
    * frame. */
  def maintain(docs: DataFrame, statePath: String, checkpoint: String): StreamingQuery =
    ViewStore.maintainSnapshot(docs, statePath, checkpoint) { batch =>
      val spark = batch.sparkSession
      val next = snapshot(spark, statePath)
        .unionByName(screenDelta(batch))
        .groupBy("category")
        .agg(sum("n_docs_hit").as("n_docs_hit"),
          sum("n_term_hits").as("n_term_hits"),
          sum("n_phrase_hits").as("n_phrase_hits"),
          sum("n_flagged").as("n_flagged"))
      Map(ViewStore.Snapshot -> next)
    }
}
