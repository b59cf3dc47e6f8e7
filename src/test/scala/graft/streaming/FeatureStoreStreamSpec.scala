package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** X254 — continuous feature store: stream-folded per-user counters
  * equal the one-shot batch aggregate under ANY batch split (the
  * sum/min/max fold is mergeable), the batchId guard protects the
  * non-idempotent sum, generations are swept. */
class FeatureStoreStreamSpec extends SparkSpec {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val events: Seq[(Long, Long)] = Seq(
    (1L, 10L), (1L, 12L), (1L, 11L), (2L, 5L), (2L, 30L),
    (3L, 7L), (1L, 29L), (2L, 6L), (3L, 7L))

  test("stream-folded counters == one-shot batch aggregate under uneven splits") {
    val state = Files.createTempDirectory("graft-fs-state").toString
    val ckpt = Files.createTempDirectory("graft-fs-ckpt").toString
    val ms = MemoryStream[(Long, Long)]
    val q = FeatureStoreStream.maintain(ms.toDS().toDF("user_id", "day"), state, ckpt)
    try {
      events.grouped(4).foreach { g => ms.addData(g); q.processAllAvailable() }
    } finally q.stop()
    val got = FeatureStoreStream.snapshot(spark, state)
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val want = events.toDF("user_id", "day").groupBy("user_id")
      .agg(count(lit(1)).as("n"), min("day").as("f"), max("day").as("l"))
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == want, s"$got != $want")
  }

  test("batchId guard + generation sweep") {
    val state = Files.createTempDirectory("graft-fs-guard").toString
    val ckpt = Files.createTempDirectory("graft-fs-guard-ck").toString
    val ms = MemoryStream[(Long, Long)]
    val q = FeatureStoreStream.maintain(ms.toDS().toDF("user_id", "day"), state, ckpt)
    try {
      events.grouped(2).foreach { g => ms.addData(g); q.processAllAvailable() }
    } finally q.stop()
    val before = FeatureStoreStream.snapshot(spark, state)
      .agg(sum("n_events")).as[Long].head()
    val ms2 = MemoryStream[(Long, Long)]
    val q2 = FeatureStoreStream.maintain(ms2.toDS().toDF("user_id", "day"), state, ckpt)
    try q2.processAllAvailable() finally q2.stop()
    val after = FeatureStoreStream.snapshot(spark, state)
      .agg(sum("n_events")).as[Long].head()
    assert(before == after && before == events.size.toLong)
    val gens = new java.io.File(state).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("gen-"))
    assert(gens <= ViewStore.RetainManifests, s"generations not swept: $gens")
  }
}
