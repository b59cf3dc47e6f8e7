package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** X305 — continuous conformal-coverage monitor (streaming q272): scored
  * documents fold into running per-source (n_seen, n_covered) counts
  * against a FROZEN conformal threshold (q272's calibration artifact) —
  * per-batch map-side delta + per-source ADDITION merge (the
  * [[QualityMonitorStream]] / [[SketchStream]] mergeable-aggregate
  * discipline), so any moment's snapshot yields each source's empirical
  * coverage of everything scored so far in O(|sources|).
  *
  * Why this exists: split-conformal's guarantee holds only while the
  * arriving distribution matches calibration — coverage sliding under
  * 1−α−slack for a source is the earliest actionable signal that the
  * corpus moved underneath the gate (the calibration twin of
  * [[KsDriftStream]]'s shape alarm). A pipeline that recalibrates on
  * this alarm keeps its guarantee; one that doesn't is silently
  * shipping an invalid one.
  *
  * Committed through [[ViewStore.maintainSnapshot]]: addition is NOT
  * idempotent, so its batchId guard is load-bearing, and the merge is
  * commutative ⇒ counts are invariant to how the stream was batched
  * (spec-pinned).
  */
object ConformalStream {

  /** Current (source, n_seen, n_covered) counts — empty if none. */
  def snapshot(spark: SparkSession, statePath: String): DataFrame =
    ViewStore.readSnapshot(spark, statePath).getOrElse {
      import spark.implicits._
      Seq.empty[(String, Long, Long)].toDF("source", "n_seen", "n_covered")
    }

  /** The per-batch coverage delta of a (source, score) frame against the
    * frozen threshold: covered ⇔ score ≥ `thrScore` (q272 reports
    * thr_score = −τ on the nonconformity scale, so the comparison is on
    * raw scores). Source cast to STRING (the RetractStream key
    * discipline — state schema independent of the first batch's type). */
  private[streaming] def coverageDelta(scored: DataFrame, thrScore: Long): DataFrame =
    scored.groupBy(col("source").cast("string").as("source"))
      .agg(count(lit(1)).as("n_seen"),
        sum((col("score") >= thrScore).cast("long")).as("n_covered"))

  /** Maintain running per-source coverage counts from a STREAMING frame
    * with (`source`, `score`) columns, against the frozen `thrScore`. */
  def maintain(
      scored: DataFrame, thrScore: Long,
      statePath: String, checkpoint: String): StreamingQuery =
    ViewStore.maintainSnapshot(scored, statePath, checkpoint) { batch =>
      val spark = batch.sparkSession
      val next = snapshot(spark, statePath)
        .unionByName(coverageDelta(batch, thrScore))
        .groupBy("source")
        .agg(sum("n_seen").as("n_seen"), sum("n_covered").as("n_covered"))
      Map(ViewStore.Snapshot -> next)
    }

  /** Per-source empirical coverage ×10⁴ and the drift alarm: covered
    * share below `targetX10k − slackX10k` with at least `minSeen`
    * observations (small sources must not page on noise — the
    * finite-sample honesty the operator itself is about). */
  def report(
      spark: SparkSession, statePath: String,
      targetX10k: Long, slackX10k: Long, minSeen: Long): DataFrame =
    snapshot(spark, statePath)
      .withColumn("coverage_x10k",
        expr("CASE WHEN n_seen = 0 THEN 0 ELSE (10000 * n_covered) div n_seen END"))
      .withColumn("is_alarm",
        (col("n_seen") >= minSeen &&
          col("coverage_x10k") < targetX10k - slackX10k).cast("int"))
      .orderBy("source")
}
