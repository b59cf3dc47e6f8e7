package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.functions.TextFunctions._

/** Continuous corpus curation — the streaming composition of the batch
  * curation pipeline (q52): quality gate → duplicate screen → durable
  * per-document decision, maintained as documents ARRIVE.
  *
  * Shape decisions, each load-bearing at scale:
  *
  *  - '''Quality first, stateless''': the metric gate (token count,
  *    stopword share, mean token length — q26's exact thresholds) is a
  *    pure projection, so it runs before any state and bounds what the
  *    stateful screen must remember.
  *  - '''One stateful operator''': the MinHash band screen
  *    ([[NearDupStream]]) subsumes exact dedup — an identical text yields
  *    identical band keys, so exact duplicates are flagged by the same
  *    first-claimant state that catches near-duplicates. Chaining a
  *    separate `dropDuplicatesWithinWatermark` in front would be a second
  *    stateful operator (unsupported upstream of flatMapGroupsWithState)
  *    and redundant.
  *  - '''Decisions, not payloads''': the sink is a curation LEDGER —
  *    (doc_id, ts_ms, is_near_dup) per surviving-quality document — in a
  *    [[ViewStore]] (bucketed rewrite, batchId replay idempotence).
  *    Downstream consumers anti-join the raw corpus against the ledger's
  *    flagged ids; shipping text through the screen would bloat state and
  *    the shuffle for no decision-relevant information.
  */
object CurationStream {

  /** q26's keep predicate as a reusable Column — built from the SAME
    * `qualityMetrics` expressions as the batch quality filter, so stream
    * and batch gate identically. */
  def qualityKeep(text: Column): Column = {
    val m = qualityMetrics(text).toMap
    m("n_tokens") >= 10 && m("n_tokens") <= 500 &&
      m("stop_per_10k") <= 3000 &&
      m("mean_tok_len_x100") >= 200 && m("mean_tok_len_x100") <= 800
  }

  /** Start the curation ledger: `docs` is a streaming frame with
    * (doc_id, ts_ms, text). Every quality-surviving document lands in the
    * ledger exactly once with its duplicate verdict; re-delivered batches
    * are skipped by the store's batchId bookkeeping. */
  def run(docs: DataFrame, ledgerPath: String, checkpoint: String): StreamingQuery = {
    val verdicts = NearDupStream.bandVerdicts(docs.filter(qualityKeep(col("text"))))
    verdicts.toDF().writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // per-doc verdict: near-dup iff every band key was already claimed
        // (all of a doc's bands arrive in this batch — see NearDupStream)
        val flags = batch.groupBy("doc_id")
          .agg(min("ts_ms").as("ts_ms"),
            (count(lit(1)) === sum(when(col("known"), 1L).otherwise(0L)))
              .cast("int").as("is_near_dup"))
        // ledger merge: union new decisions into the touched buckets
        // (insert-only by contract — doc ids are unique; keep-first
        // makes a replayed doc row idempotent)
        ViewStore.mergeKeyed(batch.sparkSession, ledgerPath, batchId, flags, "doc_id") {
          case (Some(cur), incoming) => cur.unionByName(incoming)
            .withColumn("__rn", row_number().over(
              org.apache.spark.sql.expressions.Window
                .partitionBy("doc_id").orderBy(col("ts_ms"), col("is_near_dup"))))
            .filter(col("__rn") === 1).drop("__rn")
          case (None, incoming) => incoming
        }
      }
      .start()
  }
}
