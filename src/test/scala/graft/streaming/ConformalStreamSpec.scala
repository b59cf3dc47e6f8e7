package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.nio.file.Files

/** X305 — continuous conformal-coverage monitor: stream-folded counts
  * equal the one-shot batch delta under any batch split; the alarm fires
  * only below target−slack AND above the minimum-evidence floor; the
  * batchId guard protects the non-idempotent addition merge. */
class ConformalStreamSpec extends SparkSpec {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  // threshold 0: src A covers 4/5 (8000), src B covers 1/4 (2500),
  // src C covers 1/1 but with minimal evidence
  private val scored: Seq[(String, Long)] =
    Seq(("A", 5L), ("A", 3L), ("A", 0L), ("A", -2L), ("A", 7L),
      ("B", -1L), ("B", -3L), ("B", 2L), ("B", -9L),
      ("C", 1L))

  test("stream-folded coverage == one-shot delta under uneven splits; alarm gating") {
    val state = Files.createTempDirectory("graft-conf-state").toString
    val ckpt = Files.createTempDirectory("graft-conf-ckpt").toString
    val ms = MemoryStream[(String, Long)]
    val q = ConformalStream.maintain(
      ms.toDS().toDF("source", "score"), thrScore = 0L, state, ckpt)
    try {
      scored.grouped(4).foreach { g => ms.addData(g); q.processAllAvailable() }
    } finally q.stop()

    val streamed = ConformalStream.snapshot(spark, state)
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val oneShot = ConformalStream.coverageDelta(
        scored.toDF("source", "score"), 0L)
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(streamed == oneShot, "count-level equality under batch splits")
    assert(streamed == Seq(("A", 5L, 4L), ("B", 4L, 1L), ("C", 1L, 1L)))

    // target 90%, slack 5%: B (2500) is far under → alarm; A (8000) is
    // under 8500 → alarm; C is under target but below the evidence floor
    val rep = ConformalStream.report(spark, state,
        targetX10k = 9000L, slackX10k = 500L, minSeen = 2L)
      .collect().map(r => (r.getString(0), r.getLong(3), r.getInt(4))).toSeq
    assert(rep.contains(("A", 8000L, 1)))
    assert(rep.contains(("B", 2500L, 1)))
    assert(rep.contains(("C", 10000L, 0)), "full coverage never alarms")
    // raise the bar: a source ABOVE target-slack must not alarm
    val rep2 = ConformalStream.report(spark, state,
        targetX10k = 8000L, slackX10k = 500L, minSeen = 2L)
      .collect().map(r => (r.getString(0), r.getInt(4))).toMap
    assert(rep2("A") == 0, "8000 >= 8000-500 -> no alarm")
    assert(rep2("B") == 1)
  }

  test("batchId guard: re-delivered batch does not double-count") {
    val state = Files.createTempDirectory("graft-conf-state2").toString
    val delta = ConformalStream.coverageDelta(scored.toDF("source", "score"), 0L)
    // simulate foreachBatch by committing batch 0 then attempting batchId 0 again
    ViewStore.commitSnapshot(state, delta, 0L)(b => Map(ViewStore.Snapshot -> b))
    val before = ConformalStream.snapshot(spark, state).collect().toSet
    // a second flip with the SAME batchId must be rejected by the guard
    // inside maintain; emulate by checking lastBatchId semantics via a
    // fresh maintain run over a stream that replays batch 0 only
    val ckpt = Files.createTempDirectory("graft-conf-ckpt2").toString
    val ms = MemoryStream[(String, Long)]
    val q = ConformalStream.maintain(
      ms.toDS().toDF("source", "score"), 0L, state, ckpt)
    try {
      // this new checkpoint starts at batchId 0 — the state's lastBatchId
      // is already 0, so the guard must skip it
      ms.addData(scored)
      q.processAllAvailable()
    } finally q.stop()
    val after = ConformalStream.snapshot(spark, state).collect().toSet
    assert(after == before, "batchId replay must leave the counts unchanged")
  }
}
