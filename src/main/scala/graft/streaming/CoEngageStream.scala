package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** X276 — continuous co-engagement maintenance (streaming X266): the
  * item-item collaborative-filtering substrate (distinct user-item
  * edges + co-engagement pair counts) folds per micro-batch:
  *
  *  - batch edges are deduped against the STANDING edge set (the
  *    distinct-user-item contract of q242 — a re-engaging user must
  *    not double-count a pair), so the per-batch work is
  *    O(batch · user-degree), never a rescan of history;
  *  - each genuinely-new edge pairs against the user's EXISTING items
  *    (new × old) plus the batch's own new items (new × new, a < b),
  *    and the deltas ADD into the standing pair-count table — the
  *    mergeable-delta discipline of [[SketchStream]];
  *  - serving ([[topK]]) computes q242's integer squared-cosine lift
  *    from the standing tables — so any moment's snapshot serves the
  *    same answer the batch operator would give over everything
  *    ingested (spec-pinned, batch-split-invariant).
  *
  * State = edges (bounded by users × item vocabulary) + pair counts
  * (bounded by item vocabulary²), committed through
  * [[ViewStore.maintainSnapshot]] — pair addition is not idempotent, so its
  * batchId guard is load-bearing.
  */
object CoEngageStream {

  /** Standing (user_id, item) edge set (empty frame if none yet). */
  def edgesSnapshot(spark: SparkSession, statePath: String): DataFrame =
    ViewStore.readSnapshot(spark, statePath, "edges").getOrElse {
      import spark.implicits._
      Seq.empty[(Long, Long)].toDF("user_id", "item")
    }

  /** Standing (item_a, item_b, co) pair counts (item_a < item_b). */
  def coSnapshot(spark: SparkSession, statePath: String): DataFrame =
    ViewStore.readSnapshot(spark, statePath, "co").getOrElse {
      import spark.implicits._
      Seq.empty[(Long, Long, Long)].toDF("item_a", "item_b", "co")
    }

  /** Maintain the co-engagement state from a STREAMING frame with
    * `user_id` and `item` columns. */
  def maintain(
      events: DataFrame,
      statePath: String,
      checkpoint: String): StreamingQuery =
    ViewStore.maintainSnapshot(events, statePath, checkpoint) { batch =>
      val spark = batch.sparkSession
      val seen = edgesSnapshot(spark, statePath)
      val fresh = batch.select(col("user_id").cast("long"),
          col("item").cast("long")).distinct()
        .join(seen, Seq("user_id", "item"), "left_anti")
      // new × old (the user's standing items) + new × new (a < b)
      val nxo = fresh.as("n")
        .join(seen.as("o"), col("n.user_id") === col("o.user_id"))
        .select(least(col("n.item"), col("o.item")).as("item_a"),
          greatest(col("n.item"), col("o.item")).as("item_b"))
      val nxn = fresh.as("a")
        .join(fresh.as("b"),
          col("a.user_id") === col("b.user_id") && col("a.item") < col("b.item"))
        .select(col("a.item").as("item_a"), col("b.item").as("item_b"))
      val delta = nxo.union(nxn)
        .groupBy("item_a", "item_b").agg(count(lit(1)).as("co"))
      val nextCo = coSnapshot(spark, statePath)
        .unionByName(delta)
        .groupBy("item_a", "item_b").agg(sum("co").as("co"))
      Map("edges" -> seen.unionByName(fresh), "co" -> nextCo)
    }

  /** Serve q242's scoring from the standing state: integer squared-
    * cosine lift `co²×10⁶ div (n_a·n_b)` over distinct-user counts,
    * top-`k` per item. */
  def topK(spark: SparkSession, statePath: String, k: Int): DataFrame = {
    val edges = edgesSnapshot(spark, statePath)
    val co = coSnapshot(spark, statePath)
    val cnt = edges.groupBy("item").agg(count(lit(1)).as("n"))
    val sym = co.select(col("item_a").as("item"), col("item_b").as("other"), col("co"))
      .union(co.select(col("item_b").as("item"), col("item_a").as("other"), col("co")))
      .join(broadcast(cnt.select(col("item"), col("n").as("n_i"))), "item")
      .join(broadcast(cnt.select(col("item").as("other"), col("n").as("n_o"))), "other")
      .withColumn("cos2_x1m", expr("(1000000 * co * co) div (n_i * n_o)"))
    graft.ops.Relational.topKPerGroup(sym, Seq("item"), "cos2_x1m", "other", k)
      .select(col("item"), col("rank"), col("other"), col("cos2_x1m"))
  }
}
