package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** X255 — continuous (mini-batch) k-means centroid maintenance: an
  * embedding stream keeps the cluster centroids current without ever
  * re-scanning history. Per micro-batch, arriving vectors are assigned
  * to the CURRENT centroids (argmin quantized L2, ties → lower
  * cluster — [[graft.ops.KMeans]]'s exact discipline), and the
  * persisted per-(cluster, dim) accumulators `(sum, n)` fold by
  * ADDITION; the served centroid is `sum div n` — the mini-batch
  * k-means update (Sculley) with deterministic integer arithmetic.
  * This is how the IVF coarse quantizer ([[graft.ops.AnnIndex]])
  * tracks a drifting embedding distribution between full retrains.
  *
  * State = k·dims accumulator rows however much data streamed — the
  * bounded-state contract. Seeding: the FIRST batch's
  * [[graft.ops.KMeans.lloydCentroids]] result (deterministic hash
  * order), so a replay of the same stream reproduces the same
  * centroids bit-for-bit given the same batch split (spec-pinned;
  * mini-batch k-means is split-DEPENDENT by construction — the spec
  * pins determinism and assignment-consistency, not split
  * invariance).
  *
  * Committed through [[ViewStore.maintainSnapshot]]; addition is not
  * idempotent, so its batchId guard is load-bearing.
  */
object KMeansStream {

  /** Current accumulators `(cluster, pos, s, n)` — empty if none. */
  def accSnapshot(spark: SparkSession, statePath: String): DataFrame =
    ViewStore.readSnapshot(spark, statePath).getOrElse {
      import spark.implicits._
      Seq.empty[(Long, Int, Long, Long)].toDF("cluster", "pos", "s", "n")
    }

  /** Served centroids `(cluster, cvq)` derived from the accumulators
    * (floor mean per dimension — [[graft.ops.KMeans]]'s update rule). */
  def centroids(spark: SparkSession, statePath: String): DataFrame =
    accSnapshot(spark, statePath)
      // floor division, NOT `div`: quantize() emits negatives, and
      // integral `div` truncates toward zero where
      // [[graft.ops.KMeans]].lloydCentroids floors toward -inf — for a
      // negative per-dim sum the two differ by 1 (round-6 ADVICE). Same
      // double-division-of-exact-longs form as lloydCentroids.
      .withColumn("cv", floor(col("s").cast("double") / col("n")).cast("long"))
      .groupBy("cluster")
      .agg(array_sort(collect_list(struct(col("pos"), col("cv")))).as("pc"))
      .select(col("cluster"), expr("transform(pc, x -> x.cv)").as("cvq"))

  /** One batch's accumulator delta: assign each vector to the current
    * centroids, explode to (cluster, pos, value). */
  private[streaming] def assignDelta(batch: DataFrame, cents: DataFrame): DataFrame = {
    import graft.functions.VectorFunctions._
    val vq = batch.select(col("vec_id"), quantize(col("embedding")).as("qv"))
    val scored = vq.crossJoin(broadcast(cents))
      .withColumn("d2", expr(
        "aggregate(zip_with(qv, cvq, (a, b) -> CAST((a - b) * (a - b) AS BIGINT)), 0L, (acc, x) -> acc + x)"))
    val best = scored
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("vec_id").orderBy(col("d2"), col("cluster"))))
      .filter(col("rn") === 1)
      .select(col("cluster"), col("qv"))
    best.select(col("cluster"), posexplode(col("qv")).as(Seq("pos", "v")))
      .groupBy("cluster", "pos")
      .agg(sum("v").as("s"), count(lit(1)).as("n"))
  }

  /** Maintain centroids from a STREAMING (vec_id, embedding) frame. */
  def maintain(vecs: DataFrame, statePath: String, checkpoint: String,
      k: Int): StreamingQuery =
    ViewStore.maintainSnapshot(vecs, statePath, checkpoint) { batch =>
      val spark = batch.sparkSession
      val haveState = ViewStore.readSnapshot(spark, statePath).isDefined
      val cents =
        if (haveState) centroids(spark, statePath)
        else graft.ops.KMeans.lloydCentroids(batch, k, rounds = 1)
      val next = accSnapshot(spark, statePath)
        .unionByName(assignDelta(batch, cents))
        .groupBy("cluster", "pos")
        .agg(sum("s").as("s"), sum("n").as("n"))
      Map(ViewStore.Snapshot -> next)
    }
}
