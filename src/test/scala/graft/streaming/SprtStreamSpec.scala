package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.nio.file.Files

/** X394 — continuous SPRT: the stream-folded day table equals the
  * one-shot batch aggregation under any batch split, the llr walk off
  * the snapshot equals the batch q362 formula, and the batchId guard
  * keeps non-idempotent day addition safe under re-delivery. */
class SprtStreamSpec extends SparkSpec {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  // (day, is_succ) trials: day 1 heavy failure, day 2 mixed, day 3 heavy success
  private val trials: Seq[(Long, Long)] =
    Seq.fill(30)((1L, 0L)) ++ Seq.fill(8)((1L, 1L)) ++
      Seq.fill(20)((2L, 0L)) ++ Seq.fill(6)((2L, 1L)) ++
      Seq.fill(10)((3L, 0L)) ++ Seq.fill(9)((3L, 1L))

  test("stream-folded day table == one-shot batch; walk matches the literals") {
    val state = Files.createTempDirectory("graft-sprt-state").toString
    val ckpt = Files.createTempDirectory("graft-sprt-ckpt").toString
    val ms = MemoryStream[(Long, Long)]
    val q = SprtStream.maintain(ms.toDS().toDF("day", "is_succ"), state, ckpt)
    try {
      trials.grouped(17).foreach { g => ms.addData(g); q.processAllAvailable() }
    } finally q.stop()

    val streamed = SprtStream.daysSnapshot(spark, state)
      .orderBy("day").collect().toSeq
    val oneShot = trials.toDF("day", "is_succ")
      .groupBy("day")
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_trials"),
        org.apache.spark.sql.functions.sum("is_succ").as("n_succ"))
      .orderBy("day").collect().toSeq
    assert(streamed == oneShot, "day-level equality under batch splits")

    val walk = SprtStream.walk(SprtStream.daysSnapshot(spark, state)).collect()
    var cum = 0L
    walk.sortBy(_.getAs[Long]("day")).foreach { r =>
      val inc = r.getAs[Long]("n_succ") * graft.queries.IsotonicQueries.SprtSuccX1m +
        (r.getAs[Long]("n_trials") - r.getAs[Long]("n_succ")) *
          graft.queries.IsotonicQueries.SprtFailX1m
      assert(r.getAs[Long]("llr_day_x1m") == inc)
      cum += inc
      assert(r.getAs[Long]("llr_cum_x1m") == cum)
    }
  }

  test("re-delivered batchId is skipped: day addition stays exactly-once") {
    val state = Files.createTempDirectory("graft-sprt-redeliver").toString
    val spark0 = spark
    import org.apache.spark.sql.functions._
    val batch = Seq((1L, 1L), (1L, 0L)).toDF("day", "is_succ")
      .groupBy("day").agg(count(lit(1)).as("n_trials"), sum("is_succ").as("n_succ"))
    // simulate foreachBatch body twice with the SAME batchId
    def deliver(batchId: Long): Unit =
      ViewStore.commitSnapshot(state, batch, batchId) { b =>
        Map(ViewStore.Snapshot -> SprtStream.daysSnapshot(spark0, state).unionByName(b)
          .groupBy("day").agg(sum("n_trials").as("n_trials"), sum("n_succ").as("n_succ")))
      }
    deliver(0L); deliver(0L) // exact re-delivery
    val row = SprtStream.daysSnapshot(spark0, state).collect().head
    assert(row.getAs[Long]("n_trials") == 2L && row.getAs[Long]("n_succ") == 1L,
      s"re-delivery must not double-count: $row")
  }
}
