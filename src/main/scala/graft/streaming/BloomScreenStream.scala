package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.functions.TextFunctions._

/** X215 — continuous Bloom decontamination screen (streaming q192): the
  * EVAL side arrives as a stream (eval suites grow release by release),
  * and its gram bitset — k=2 md5-derived bits per gram in a 2¹⁶ space,
  * q192's exact parameters — is maintained incrementally per batch.
  * Setting bits is a set UNION (idempotent, commutative), so
  * at-least-once redelivery and any batch split produce the identical
  * bitset — the same delivery-proofness argument as
  * [[RollingDistinctStream]]'s HLL union, spec-pinned. `screen` then
  * scores any training frame against the CURRENT bitset map-side
  * (broadcast bits, two semi-probes — q192's plan shape) without
  * touching raw eval text: the bitset is the only state, 64 Ki rows at
  * most, regardless of how much eval material has ever streamed in.
  *
  * Committed through [[ViewStore.maintainSnapshot]]; its batchId guard only
  * saves the rewrite of an exact replay, since the merge itself is
  * idempotent.
  */
object BloomScreenStream {

  val BloomBits: Long = graft.queries.RetrievalQueries.BloomBits

  /** Current set-bit table (single `bit` column; empty if none). */
  def bitsSnapshot(spark: SparkSession, statePath: String): DataFrame =
    ViewStore.readSnapshot(spark, statePath).getOrElse {
      import spark.implicits._
      Seq.empty[Long].toDF("bit")
    }

  /** Both bloom bits of every distinct word n-gram of a (doc_id, text)
    * frame — q192's hash arithmetic, shared by maintain and screen. */
  private[streaming] def gramBits(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"), explode(wordShingles(col("text"), n)).as("gram"))
      .withColumn("h1", pmod(conv(substring(md5(col("gram")), 1, 8), 16, 10)
        .cast("long"), lit(BloomBits)))
      .withColumn("h2", pmod(conv(substring(md5(col("gram")), 9, 8), 16, 10)
        .cast("long"), lit(BloomBits)))

  /** Maintain the eval bitset from a STREAMING (doc_id, text) frame. */
  def maintain(evalDocs: DataFrame, statePath: String, checkpoint: String,
      n: Int = 3): StreamingQuery =
    ViewStore.maintainSnapshot(evalDocs, statePath, checkpoint) { batch =>
      val spark = batch.sparkSession
      val gb = gramBits(batch, n)
      val delta = gb.select(col("h1").as("bit"))
        .union(gb.select(col("h2").as("bit")))
      val next = bitsSnapshot(spark, statePath).unionByName(delta).distinct()
      Map(ViewStore.Snapshot -> next)
    }

  /** Screen a batch (doc_id, text) training frame against the current
    * bitset: per doc, distinct grams and Bloom-candidate count (both
    * bits set). Candidates still need the exact gram join against the
    * eval store for confirmation — this is the map-side 100 TB
    * prefilter, not the verdict. */
  def screen(spark: SparkSession, trainDocs: DataFrame, statePath: String,
      n: Int = 3): DataFrame = {
    val bits = bitsSnapshot(spark, statePath)
    val gb = gramBits(trainDocs, n)
    val cand = gb
      .join(broadcast(bits.toDF("h1")), Seq("h1"), "left_semi")
      .join(broadcast(bits.toDF("h2")), Seq("h2"), "left_semi")
    trainDocs.select("doc_id")
      .join(gb.groupBy("doc_id").agg(count(lit(1)).as("n_grams")), Seq("doc_id"), "left")
      .join(cand.groupBy("doc_id").agg(count(lit(1)).as("n_bloom_pass")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_bloom_pass"), lit(0L)).as("n_bloom_pass"))
      .orderBy("doc_id")
  }
}
