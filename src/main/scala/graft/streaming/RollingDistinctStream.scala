package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** X206 — continuous rolling-distinct tile (streaming q180): a daily
  * HLL sketch table is maintained from the event stream per micro-batch
  * — the batch's per-day sketches union into the stored day sketches
  * (`hll_union_agg`, the mergeability contract q61/q156/q180 already
  * verify in batch) — and any moment's snapshot serves "distinct users
  * in the trailing W days ending day D" for EVERY day by unioning ≤ W
  * daily sketches. The production shape of q180's verdict: the daily
  * sketch table is the ONLY state a rolling-distinct dashboard needs —
  * per batch work is O(batch + days-touched), never a re-scan of
  * history, and the tile query never touches raw events.
  *
  * Re-delivery: HLL insertion is SET-like (re-adding a seen user is a
  * no-op), so duplicated events across batches cannot inflate the
  * estimate — union-idempotence makes the store safe under at-least-once
  * delivery by construction. The batchId guard of
  * [[ViewStore.maintainSnapshot]], which commits it, still skips exact
  * replays so crash-looping on one batch does no wasted writes.
  *
  * Reference scale framing: the CDC consumer's per-day activity tiles
  * (`EcommerceTransactionsLogEventsStream.kt`-fed views) at 100 TB —
  * day-keyed sketch rows are KB-sized regardless of event volume.
  */
object RollingDistinctStream {

  /** Current (day, sk) snapshot — empty, correctly-shaped if none. */
  def snapshot(spark: SparkSession, statePath: String): DataFrame =
    ViewStore.readSnapshot(spark, statePath).getOrElse {
      import org.apache.spark.sql.types._
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("day", LongType), StructField("sk", BinaryType))))
    }

  /** Maintain the daily sketch table from a STREAMING frame with
    * (`user_id`, `ts_ms`) columns. */
  def maintain(events: DataFrame, statePath: String, checkpoint: String): StreamingQuery =
    ViewStore.maintainSnapshot(events, statePath, checkpoint) { batch =>
      val spark = batch.sparkSession
      val delta = batch
        .select(expr("ts_ms div 86400000").as("day"), col("user_id"))
        .groupBy("day")
        .agg(expr("hll_sketch_agg(user_id)").as("sk"))
      val next = snapshot(spark, statePath).unionByName(delta)
        .groupBy("day")
        .agg(expr("hll_union_agg(sk)").as("sk"))
      Map(ViewStore.Snapshot -> next)
    }

  /** The tile: per observed day, the estimated distinct users in the
    * trailing `windowDays` ending that day — ≤ `windowDays` sketch
    * unions per day, computed entirely from the snapshot. */
  def rollingDistinct(spark: SparkSession, statePath: String,
      windowDays: Int = 7): DataFrame = {
    val daily = snapshot(spark, statePath)
    val spine = daily.select(col("day").as("wd")).distinct()
    daily
      .withColumn("wd", explode(expr(s"sequence(day, day + ${windowDays - 1})")))
      .join(spine, Seq("wd"), "left_semi")
      .groupBy("wd")
      .agg(expr("CAST(hll_sketch_estimate(hll_union_agg(sk)) AS BIGINT)")
        .as("est_distinct"))
      .select(col("wd").as("day"), col("est_distinct"))
      .orderBy("day")
  }
}
