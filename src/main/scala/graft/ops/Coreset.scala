package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** Diversity / coreset selection over embeddings: greedy k-center
  * (farthest-point traversal — Gonzalez 1985, the 2-approximation to the
  * k-center objective), the "pick maximally spread exemplars" step a
  * training-data pipeline runs for seed-set selection, eval-set curation,
  * or diversity-aware sampling after dedup.
  *
  * Deterministic and oracle-exact: distances are exact BIGINT squared-L2
  * on quantized vectors; the first center is the first vector in
  * `(md5(id), id)` order (the engine's standard hash-spread seed, see
  * [[KMeans.lloydCentroids]]); each round's center is the argmax of
  * min-distance-to-selected with ties broken by lowest id. No randomness,
  * no floats — the greedy trajectory replays exactly in SQL.
  *
  * Scale shape: each round is ONE pass over the corpus — the running
  * min-distance column updates against the new center (a 1-row broadcast:
  * TakeOrderedAndProject → broadcast nested-loop, never a shuffle), and
  * the argmax is a partial-aggregated top-1. Nothing is collected to the
  * driver. The running column is checkpointed per round (the
  * [[Graph.connectedComponents]] iterative-loop pattern — without
  * truncation, round r's argmax would replay the whole chain: O(k²)
  * corpus passes instead of O(k)); at cluster scale swap in `checkpoint`
  * with a reliable dir, since block-manager-backed checkpoints die with
  * executors. Cost is O(k·N·dim) total. `sampleCap > 0` bounds selection
  * to the first `sampleCap` vectors in hash-spread order — the practical
  * corpus-scale regime (coreset methods select from a uniform sample;
  * k-center's maximin objective is robust to subsampling), making cost
  * independent of N after one pass.
  */
object Coreset {

  /** The selected centers `(sel_round, vec_id, radius_d2)` — `radius_d2`
    * is the selected vector's min squared distance to the previously
    * selected set (0 for the seed); the decreasing radius curve is the
    * coverage certificate (every corpus vector sits within `radius_d2`
    * of the selected set once selection stops). */
  def kCenters(
      embeddings: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      sampleCap: Int = 0): DataFrame = {
    require(k >= 1, "k must be positive")
    val all = embeddings.select(col(idCol).as("id"), quantize(col(vecCol)).as("qv"))
    val seedKey = md5(col("id").cast("string").cast("binary"))
    val v = if (sampleCap > 0) all.orderBy(seedKey, col("id")).limit(sampleCap) else all
    val s0 = v.orderBy(seedKey, col("id")).limit(1)
      .select(col("id").as("cid"), col("qv").as("cqv"))
    var out = s0.select(lit(0L).as("sel_round"), col("cid").as("vec_id"),
      lit(0L).as("radius_d2"))
    var m = Materialize.checkpoint(v.crossJoin(broadcast(s0))
      .select(col("id"), col("qv"), qdist2(col("qv"), col("cqv")).as("d")))
    for (r <- 1 until k) {
      val c = m.orderBy(col("d").desc, col("id")).limit(1)
        .select(col("id").as("cid"), col("qv").as("cqv"), col("d").as("cd"))
      out = out.unionByName(c.select(lit(r.toLong).as("sel_round"),
        col("cid").as("vec_id"), col("cd").as("radius_d2")))
      if (r < k - 1)
        m = Materialize.checkpoint(m.crossJoin(broadcast(c))
          .select(col("id"), col("qv"),
            least(col("d"), qdist2(col("qv"), col("cqv"))).as("d")))
    }
    out
  }
}
