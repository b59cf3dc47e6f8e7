package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkSpec

/** The continuous component maintainer must converge, over edge batches
  * split arbitrarily, to the batch connected components of the full edge
  * set, keep its snapshot manifest crash-safe, and skip exact batch
  * re-deliveries. */
class ComponentStreamSpec extends SparkSpec {

  import spark.implicits._

  private def run(batches: Seq[Seq[(Long, Long)]]): (String, Map[Long, Long]) = {
    implicit val ctx = spark.sqlContext
    val statePath = java.nio.file.Files.createTempDirectory("graft-comp-state").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-comp-ckpt").toString
    val ms = MemoryStream[(Long, Long)]
    val q = ComponentStream.maintain(
      ms.toDF().toDF("id_a", "id_b"), statePath, ckpt)
    try batches.foreach { b => ms.addData(b); q.processAllAvailable() }
    finally q.stop()
    (statePath, ComponentStream.assignment(spark, statePath)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
  }

  test("streamed edge batches converge to the full-recompute components") {
    val all = Seq((1L, 2L), (2L, 3L), (10L, 11L), (3L, 10L), (20L, 21L), (5L, 20L))
    val (_, streamed) = run(all.grouped(2).toSeq)
    val full = graft.ops.Graph.connectedComponents(all.toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed == full)
  }

  test("snapshot survives a later-batch merge and reads are complete mid-stream") {
    implicit val ctx = spark.sqlContext
    val statePath = java.nio.file.Files.createTempDirectory("graft-comp-state").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-comp-ckpt").toString
    val ms = MemoryStream[(Long, Long)]
    val q = ComponentStream.maintain(ms.toDF().toDF("id_a", "id_b"), statePath, ckpt)
    try {
      ms.addData(Seq((1L, 2L), (10L, 11L))); q.processAllAvailable()
      val snap1 = ComponentStream.assignment(spark, statePath)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(snap1 == Map(1L -> 1L, 2L -> 1L, 10L -> 10L, 11L -> 10L))
      ms.addData(Seq((2L, 10L))); q.processAllAvailable()
      val snap2 = ComponentStream.assignment(spark, statePath)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(snap2 == Map(1L -> 1L, 2L -> 1L, 10L -> 1L, 11L -> 1L))
    } finally q.stop()
  }

  test("each batch frees its checkpoints: persisted RDDs do not grow over batches") {
    implicit val ctx = spark.sqlContext
    val statePath = java.nio.file.Files.createTempDirectory("graft-comp-state").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-comp-ckpt").toString
    val ms = MemoryStream[(Long, Long)]
    val q = ComponentStream.maintain(ms.toDF().toDF("id_a", "id_b"), statePath, ckpt)
    def persisted: Int = spark.sparkContext.getPersistentRDDs.size
    try {
      ms.addData(Seq((1L, 2L))); q.processAllAvailable()
      val after1 = persisted
      (0 until 4).foreach { i =>
        ms.addData(Seq((10L * i + 2, 10L * i + 12), (10L * i + 30, 10L * i + 31)))
        q.processAllAvailable()
        assert(persisted <= after1, s"batch ${i + 2}: $persisted persisted RDDs, $after1 after batch 1")
      }
    } finally q.stop()
  }

  test("an exact batch re-delivery is skipped (batchId guard) and a stale pointer survives a crash window") {
    val (statePath, assign) = run(Seq(Seq((1L, 2L)), Seq((2L, 3L))))
    // re-deliver batchId 1 through the foreachBatch body: the manifest
    // already records batchId 1, so folding again must be skipped —
    // assignment files untouched
    val last = ViewStore.readManifest(spark, statePath).get.lastBatchId
    assert(last == 1L, s"manifest records the last batchId, got $last")
    ViewStore.commitSnapshot(statePath, Seq((2L, 3L)).toDF("id_a", "id_b"), 1L)(
      _ => fail("a re-delivered batch reached the fold"))
    assert(assign == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // crash window: a half-written next generation without a pointer flip is
    // invisible — readers still see the committed snapshot
    val orphan = new java.io.File(statePath, "gen-9999-7")
    orphan.mkdirs()
    val again = ComponentStream.assignment(spark, statePath)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == assign)
  }
}
