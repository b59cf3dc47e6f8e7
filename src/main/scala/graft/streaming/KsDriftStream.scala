package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** X277 — continuous KS drift monitor (streaming X260): a per-(source,
  * n_chars) histogram of the ARRIVING corpus folds per micro-batch by
  * cell addition (mergeable counts — the [[SketchStream]] delta
  * discipline), and any moment's snapshot prices the exact two-sample
  * Kolmogorov–Smirnov statistic against a FROZEN reference histogram
  * (captured once from the standing corpus): D·n_ref·n_cur =
  * max |cumRef·n_cur − cumCur·n_ref| over the merged support, all
  * integers — q236's cross-multiplied exactness, continuously
  * maintained. This is the gate that pages when a scraper change
  * shifts the length distribution MID-INGEST, not at the next nightly
  * batch.
  *
  * State = the current histogram (bounded by |sources| × |length
  * domain|), committed through [[ViewStore.maintainSnapshot]], whose
  * batchId guard is load-bearing (cell addition is not idempotent). The
  * spec pins stream ≡ batch under uneven splits and the redelivery guard.
  */
object KsDriftStream {

  /** Standing (source, n_chars, cnt) histogram (empty if none yet). */
  def histSnapshot(spark: SparkSession, statePath: String): DataFrame =
    ViewStore.readSnapshot(spark, statePath).getOrElse {
      import spark.implicits._
      Seq.empty[(String, Long, Long)].toDF("source", "n_chars", "cnt")
    }

  /** Maintain the current histogram from a STREAMING frame with
    * `source` and `n_chars` columns. */
  def maintain(
      docs: DataFrame,
      statePath: String,
      checkpoint: String): StreamingQuery =
    ViewStore.maintainSnapshot(docs, statePath, checkpoint) { batch =>
      val spark = batch.sparkSession
      val delta = batch
        .select(col("source"), col("n_chars").cast("long"))
        .groupBy("source", "n_chars").agg(count(lit(1)).as("cnt"))
      val next = histSnapshot(spark, statePath)
        .unionByName(delta)
        .groupBy("source", "n_chars").agg(sum("cnt").as("cnt"))
      Map(ViewStore.Snapshot -> next)
    }

  /** Exact two-sample KS of the standing histogram against a frozen
    * reference histogram `(source, n_chars, cnt)`: per source,
    * `ks_num = max |cumRef·n_cur − cumCur·n_ref|` with the argmax
    * length (ties → smallest) and the ×10⁶ normalized statistic —
    * q236's shape, readable at any trigger. */
  def ks(spark: SparkSession, statePath: String, reference: DataFrame): DataFrame = {
    val ref = reference.select(col("source"), col("n_chars").cast("long"),
      col("cnt").cast("long").as("c_a"))
    val cur = histSnapshot(spark, statePath)
      .select(col("source"), col("n_chars"), col("cnt").as("c_b"))
    val g = ref.join(cur, Seq("source", "n_chars"), "full_outer")
      .na.fill(0L, Seq("c_a", "c_b"))
    val w = Window.partitionBy("source").orderBy("n_chars")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = g.groupBy("source")
      .agg(sum("c_a").as("n_a"), sum("c_b").as("n_b"))
    // DECIMAL(38,0) arithmetic end-to-end: dev can reach n_a·n_b, so both
    // the cross-multiplied deviation and dev·10⁶ overflow BIGINT once
    // n_ref·n_cur passes ~9.2e12 (~3M docs a side — plausible mid-ingest
    // on a 100 TB corpus; round-7 ADVICE). decimal keeps the statistic
    // EXACT to 38 digits (n_a·n_b·10⁶ < 1e38 ⇔ ~3e15 docs a side);
    // outputs cast back to BIGINT — ks_num ≤ n_a·n_b, ks_x1m ≤ 10⁶.
    g.withColumn("ca", sum("c_a").over(w))
      .withColumn("cb", sum("c_b").over(w))
      .join(broadcast(tot), "source")
      .withColumn("dev", abs(col("ca").cast("decimal(38,0)") * col("n_b") -
        col("cb").cast("decimal(38,0)") * col("n_a")))
      .groupBy("source")
      .agg(max("n_a").as("n_a"), max("n_b").as("n_b"),
        max(struct(col("dev"), (-col("n_chars")).as("neg"))).as("m"))
      .select(col("source"), col("n_a"), col("n_b"),
        col("m.dev").cast("long").as("ks_num"), (-col("m.neg")).as("ks_at"),
        expr("CASE WHEN n_a * n_b = 0 THEN 0L ELSE CAST((m.dev * 1000000) div " +
          "(CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT) END").as("ks_x1m"))
  }
}
