package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** X170 — continuous priority sampling: maintain q149's deterministic
  * weighted sample (priority = ⌊w·2³²/u⌋, u md5-derived) over a STREAM of
  * arriving documents — per batch the work is O(batch + k): the arriving
  * rows are scored, unioned with the stored k-row sample, and the top k
  * survive. Because the priority is a pure function of (seed, id,
  * weight), the maintained sample equals the batch q149 sample over
  * everything seen so far — order of arrival, batch splits, and replays
  * cannot change it (re-delivered ids dedup by id before the take).
  *
  * Committed through [[ViewStore.maintainSnapshot]].
  */
object PrioritySampleStream {

  /** Current sample snapshot `(id, weight, priority)` (empty if none). */
  def current(spark: SparkSession, statePath: String): DataFrame =
    ViewStore.readSnapshot(spark, statePath).getOrElse {
      import spark.implicits._
      Seq.empty[(Long, Long, Long)].toDF("id", "weight", "priority")
    }

  /** Priority column for a row with `idCol`/`weightCol` (the q149
    * formula — shared so the spec can assert stream ≡ batch).
    * Envelope guard (round-11 sweep): `weight·2³²` overflows BIGINT at
    * weight ≥ 2³¹, silently flipping the priority sign and corrupting
    * the top-k order — fail loudly instead. One comparison per row;
    * weights are per-document magnitudes (char/token counts), so 2³¹
    * is a one-doc bound, not a corpus bound. */
  def priorityExpr(seed: Long, idCol: String, weightCol: String) =
    expr(s"CASE WHEN $weightCol < 0 OR $weightCol >= 2147483648 " +
      s"THEN CAST(raise_error(concat('priority weight outside the [0, 2^31) envelope: ', " +
      s"CAST($weightCol AS STRING))) AS BIGINT) " +
      s"ELSE ($weightCol * 4294967296) div " +
      s"(CAST(conv(substring(md5(concat('$seed', ':', CAST($idCol AS STRING))), 1, 8), 16, 10) AS BIGINT) + 1) END")

  /** Start maintaining a k-row sample at `statePath` from a STREAMING
    * frame with (`idCol`, `weightCol`). */
  def sample(
      docs: DataFrame,
      k: Int,
      seed: Long,
      statePath: String,
      checkpoint: String,
      idCol: String = "doc_id",
      weightCol: String = "weight"): StreamingQuery =
    ViewStore.maintainSnapshot(docs, statePath, checkpoint) { batch =>
      val spark = batch.sparkSession
      val scored = batch
        .select(col(idCol).cast("long").as("id"),
          col(weightCol).cast("long").as("weight"))
        .withColumn("priority", priorityExpr(seed, "id", "weight"))
      val next = current(spark, statePath).unionByName(scored)
        .groupBy("id").agg(max("weight").as("weight"), max("priority").as("priority"))
        .orderBy(col("priority").desc, col("id")).limit(k)
      Map(ViewStore.Snapshot -> next)
    }
}
