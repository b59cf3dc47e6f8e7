package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** X188 — retraction-aware aggregate maintenance: keyed counts that go
  * DOWN. The CDC wire formats carry deletes (Debezium `op: d` —
  * [[graft.cdc.CdcDecode.fromDebeziumEnvelope]] decodes them; the
  * reference's own stream only ever upserts), and a maintained aggregate
  * over a log WITH deletes must fold each change as a SIGNED delta:
  * +1 per create, −1 per delete, net per key — the retract-stream model
  * (Flink's retraction semantics) on the foreachBatch maintenance path.
  *
  * Per batch: the arriving changes partial-aggregate to per-key deltas
  * (map-side — O(batch)), merge into the stored totals by addition, and
  * keys whose net count returns to ZERO are REMOVED from the store —
  * state is bounded by live keys, not by keys-ever-seen (a delete-heavy
  * workload would otherwise grow the store forever). Deletes arriving
  * before their insert (cross-batch reordering) leave a negative
  * intermediate that converges once the insert lands — the merge is
  * commutative, so any batch split of the same change set folds to the
  * same totals (spec-pinned).
  *
  * Committed through [[ViewStore.maintainSnapshot]]: addition is not
  * idempotent, so its batchId guard is load-bearing.
  */
object RetractStream {

  /** Current per-key net counts (empty, correctly-shaped if none). */
  def totals(spark: SparkSession, statePath: String): DataFrame =
    ViewStore.readSnapshot(spark, statePath).getOrElse {
      import spark.implicits._
      Seq.empty[(String, Long)].toDF("k", "net")
    }

  /** Maintain net counts from a STREAMING frame of changes with columns
    * `opCol` ('c' creates, 'd' deletes — other ops ignored) and `keyCol`. */
  def maintain(
      changes: DataFrame,
      statePath: String,
      checkpoint: String,
      opCol: String = "op",
      keyCol: String = "k"): StreamingQuery =
    ViewStore.maintainSnapshot(changes, statePath, checkpoint) { batch =>
      val spark = batch.sparkSession
      val delta = batch
        .filter(col(opCol).isin("c", "d"))
        .groupBy(col(keyCol).cast("string").as("k"))
        .agg(sum(when(col(opCol) === "c", 1L).otherwise(-1L)).as("net"))
      val next = totals(spark, statePath).unionByName(delta)
        .groupBy("k").agg(sum("net").cast("long").as("net"))
        .filter(col("net") =!= 0L)
      Map(ViewStore.Snapshot -> next)
    }
}
