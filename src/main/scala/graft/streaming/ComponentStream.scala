package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** X161 — continuous connected-components maintenance: a stream of
  * near-dup pair edges (the output of X51's band screen or X104's delta
  * screen) folds into a persisted `(id, component_id)` assignment via
  * [[graft.ops.Graph.incrementalComponents]] — per batch the work is
  * O(arriving edges) plus ONE relabel pass over the assignment, never a
  * recompute over the standing edge set (q33's batch form).
  *
  * Committed through [[GenState]]. At-least-once safety: foreachBatch
  * can re-deliver a batch after its generation committed. Re-folding
  * already-reflected edges collapses them to self-loops inside
  * `incrementalComponents` (a no-op), so replay converges to the same
  * assignment; GenState's batchId guard also skips an exact re-delivery
  * without reading the edges at all.
  */
object ComponentStream {

  /** Read the current assignment snapshot (empty frame if none yet). */
  def assignment(spark: SparkSession, statePath: String): DataFrame =
    GenState.read(spark, statePath) {
      import spark.implicits._
      Seq.empty[(Long, Long)].toDF("id", "component_id")
    }

  /** Start maintaining the assignment at `statePath` from a STREAMING
    * frame of edges (`srcCol`, `dstCol`). */
  def maintain(
      edges: DataFrame,
      statePath: String,
      checkpoint: String,
      srcCol: String = "id_a",
      dstCol: String = "id_b"): StreamingQuery = {
    require(edges.isStreaming, "maintain expects a streaming DataFrame")
    edges.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        GenState.advance(statePath, batch, batchId) { dir =>
          val spark = batch.sparkSession
          // the fold's checkpoints are the batch's query scope: freed once
          // the generation is written, not held for the life of the stream
          graft.ops.Materialize.scoped(spark) {
            val next = graft.ops.Graph
              .incrementalComponents(assignment(spark, statePath), batch, srcCol, dstCol)
            next.write.mode("overwrite").parquet(dir)
          }
        }
      }
      .start()
  }
}
