package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.ops.CountMin

/** X184 — continuous count–min maintenance (streaming X172): a token
  * stream folds into the persisted (r, bucket) cell table per micro-batch
  * — batch cells partial-aggregate map-side, then merge into the stored
  * sketch by per-cell ADDITION (the CMS mergeability contract), so the
  * work per batch is O(batch tokens + depth·width), never a re-scan of
  * history. Any moment's snapshot answers frequency estimates over
  * EVERYTHING ingested so far ([[CountMin.estimate]]).
  *
  * Committed through [[ViewStore.maintainSnapshot]]: cell addition is NOT
  * idempotent, so its batchId guard is load-bearing (the spec pins it).
  */
object SketchStream {

  /** Current sketch snapshot (empty, correctly-shaped frame if none). */
  def cellsSnapshot(spark: SparkSession, statePath: String): DataFrame =
    ViewStore.readSnapshot(spark, statePath).getOrElse {
      import spark.implicits._
      Seq.empty[(Int, Long, Long)].toDF("r", "bucket", "cell")
    }

  /** Maintain the sketch at `statePath` from a STREAMING frame with a
    * `tokenCol` column (one token occurrence per row). */
  def maintain(
      toks: DataFrame,
      statePath: String,
      checkpoint: String,
      tokenCol: String = "token",
      depth: Int = CountMin.DefaultDepth,
      width: Long = CountMin.DefaultWidth): StreamingQuery =
    ViewStore.maintainSnapshot(toks, statePath, checkpoint) { batch =>
      val spark = batch.sparkSession
      val next = CountMin.merge(
        cellsSnapshot(spark, statePath),
        CountMin.cells(batch, tokenCol, depth, width))
      Map(ViewStore.Snapshot -> next)
    }
}
