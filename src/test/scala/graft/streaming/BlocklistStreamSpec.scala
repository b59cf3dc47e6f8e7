package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** X246 — continuous blocklist screen: stream-folded category totals
  * equal the one-shot batch screen under any batch split; the batchId
  * guard protects the non-idempotent addition; generations are swept. */
class BlocklistStreamSpec extends SparkSpec {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  // terms: slow/fast (latency), spark/scan (engine), table (storage);
  // phrases: "scan slow" (latency), "big table" (storage)
  private val docs: Seq[(Long, String)] = Seq(
    1L -> "the slow scan slow path is slow",       // latency terms + phrase
    2L -> "spark writes a big table to the table", // engine + storage (+phrase)
    3L -> "nothing to see here",                   // clean
    4L -> "fast fast fast fast fast"               // latency, flagged at 5
  )

  test("stream-folded screen totals == one-shot batch screen under uneven splits") {
    val state = Files.createTempDirectory("graft-bls-state").toString
    val ckpt = Files.createTempDirectory("graft-bls-ckpt").toString
    val ms = MemoryStream[(Long, String)]
    val q = BlocklistStream.maintain(ms.toDS().toDF("doc_id", "text"), state, ckpt)
    try {
      docs.grouped(2).foreach { g => ms.addData(g); q.processAllAvailable() }
    } finally q.stop()
    val streamed = BlocklistStream.snapshot(spark, state)
      .orderBy("category").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    val oneShot = BlocklistStream.screenDelta(docs.toDF("doc_id", "text"))
      .orderBy("category").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(streamed == oneShot, s"stream $streamed != batch $oneShot")
    // doc 4: five 'fast' hits -> flagged in the latency category
    val latency = streamed.find(_._1 == "latency").get
    assert(latency._5 >= 1L, "the all-fast doc must count as flagged")
  }

  test("batchId guard: restart replay does not double-count; generations bounded") {
    val state = Files.createTempDirectory("graft-bls-guard").toString
    val ckpt = Files.createTempDirectory("graft-bls-guard-ck").toString
    val ms = MemoryStream[(Long, String)]
    val q = BlocklistStream.maintain(ms.toDS().toDF("doc_id", "text"), state, ckpt)
    try {
      docs.grouped(1).foreach { g => ms.addData(g); q.processAllAvailable() }
    } finally q.stop()
    val before = BlocklistStream.snapshot(spark, state)
      .agg(sum("n_term_hits")).as[Long].head()
    val ms2 = MemoryStream[(Long, String)]
    val q2 = BlocklistStream.maintain(ms2.toDS().toDF("doc_id", "text"), state, ckpt)
    try q2.processAllAvailable() finally q2.stop()
    val after = BlocklistStream.snapshot(spark, state)
      .agg(sum("n_term_hits")).as[Long].head()
    assert(before == after, "restart replay must not double-count")
    val gens = new java.io.File(state).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("gen-"))
    assert(gens <= ViewStore.RetainManifests, s"generations not swept: $gens")
  }
}
