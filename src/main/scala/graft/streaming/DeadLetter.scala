package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** X178 — dead-letter quarantine + replay: the recovery half of the
  * bad-record discipline. Decode failures are SKIPPED by the reference
  * (log + drop, `EcommerceTransactionsLogEventsStream.kt:124-135`) and by
  * the engine's decode/ingest paths ([[graft.cdc.CdcDecode]],
  * [[graft.sources.TextSources]]) — correct for liveness, but the dropped
  * payloads are gone. A production pipeline quarantines them instead:
  * the raw payload lands in a dead-letter store keyed by the batch that
  * saw it, and after the decoder is fixed the quarantine REPLAYS through
  * the new decoder — no data loss, no stream stall, exactly the outbox
  * pattern's failure side.
  *
  * Layout: `dir/batch-<id>/` parquet with (raw STRING, err STRING) —
  * overwrite-per-batch, so a foreachBatch retry of batch N replaces its
  * own quarantine rows instead of duplicating them (the X64 changelog's
  * exactly-once convention). Replay reads any subset of batches, applies
  * the caller's (fixed) decoder, and splits recovered from still-bad;
  * `purge` retires batches whose replay committed downstream.
  *
  * Scale: quarantine rows ≪ stream volume (they are the decode failures);
  * replay is a plain batch job over the quarantine dir only — the live
  * stream never re-reads history.
  */
object DeadLetter {

  /** Quarantine `bad` (columns `raw`, `err`) for `batchId` — idempotent
    * under foreachBatch replays (overwrite-per-batch). */
  def quarantine(bad: DataFrame, dir: String, batchId: Long): Unit =
    bad.select(col("raw").cast("string").as("raw"),
        col("err").cast("string").as("err"))
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$dir/batch-$batchId")

  /** All quarantined payloads with their batch of origin. Empty frame
    * (correct schema) when nothing is quarantined yet. */
  def readQuarantine(spark: SparkSession, dir: String): DataFrame = {
    val batches = batchDirs(spark, dir).map(_._1)
    if (batches.isEmpty) {
      import spark.implicits._
      Seq.empty[(String, String, Long)].toDF("raw", "err", "batch_id")
    } else
      batches.map { b =>
        spark.read.parquet(s"$dir/batch-$b").withColumn("batch_id", lit(b))
      }.reduce(_.unionByName(_))
  }

  /** Replay the quarantine through a (fixed) decoder. `decode` maps a
    * frame with a `raw` column to typed rows, keeping a `raw` passthrough
    * column and leaving rows it still can't decode OUT of its result —
    * replay splits (recovered, stillBad) by anti-joining on `raw`. */
  def replay(spark: SparkSession, dir: String,
      decode: DataFrame => DataFrame): (DataFrame, DataFrame) = {
    val q = readQuarantine(spark, dir)
    val recovered = decode(q.select("raw", "batch_id"))
    val stillBad = q.join(recovered.select(col("raw").as("__ok_raw")).distinct(),
      q("raw") === col("__ok_raw"), "left_anti")
    (recovered, stillBad)
  }

  /** Retire batches ≤ `upToBatch` once their replay committed, through
    * the active session's Hadoop filesystem. */
  def purge(dir: String, upToBatch: Long): Unit = {
    val spark = SparkSession.active
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    batchDirs(spark, dir).filter(_._1 <= upToBatch).foreach { case (_, d) => fs.delete(d, true) }
  }

  /** The `batch-<id>` dirs under `dir` by id, in id order, listed through
    * the session's Hadoop filesystem (so a `file:` URI or any other
    * scheme resolves as the writes did). */
  private def batchDirs(spark: SparkSession, dir: String): Seq[(Long, Path)] = {
    val base = new Path(dir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) Seq.empty
    else fs.listStatus(base).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch-"))
      .map(st => st.getPath.getName.stripPrefix("batch-").toLong -> st.getPath)
      .sortBy(_._1)
  }
}
