package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.nio.file.Files

/** X415 — continuous contract monitor: the stream-folded census equals
  * the one-shot batch audit under any batch split; the batchId guard
  * keeps the additive counts exactly-once under re-delivery. */
class ContractStreamSpec extends SparkSpec {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val rows: Seq[(String, Long)] =
    Seq(("1-URGENT", 3L), ("1-URGENT", -2L), ("1-URGENT", 7L),
      ("2-HIGH", 0L), ("2-HIGH", -5L), ("2-HIGH", -1L), ("3-LOW", 4L))

  test("stream-folded census == one-shot batch audit under splits") {
    val state = Files.createTempDirectory("graft-contract-state").toString
    val ckpt = Files.createTempDirectory("graft-contract-ckpt").toString
    val ms = MemoryStream[(String, Long)]
    val q = ContractStream.maintain(ms.toDS().toDF("g", "lag_days"), state, ckpt)
    try {
      rows.grouped(2).foreach { g => ms.addData(g); q.processAllAvailable() }
    } finally q.stop()

    val got = ContractStream.report(ContractStream.snapshot(spark, state))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got.size == 3)
    val u = got("1-URGENT")
    assert(u.getAs[Long]("n_lines") == 3 && u.getAs[Long]("n_violations") == 1 &&
      u.getAs[Long]("min_lag_days") == -2)
    val h = got("2-HIGH")
    assert(h.getAs[Long]("n_lines") == 3 && h.getAs[Long]("n_violations") == 2 &&
      h.getAs[Long]("min_lag_days") == -5)
    assert(h.getAs[Long]("violation_x10k") == 10000L * 2 / 3)
    val l = got("3-LOW")
    assert(l.getAs[Long]("n_violations") == 0 && l.getAs[Long]("min_lag_days") == 4)
  }

  test("re-delivered batchId is skipped: counts stay exactly-once") {
    val state = Files.createTempDirectory("graft-contract-redeliver").toString
    val spark0 = spark
    import org.apache.spark.sql.functions._
    val batch = Seq(("1-URGENT", -1L), ("1-URGENT", 2L)).toDF("g", "lag_days")
    def deliver(batchId: Long): Unit =
      ViewStore.commitSnapshot(state, batch, batchId) { b =>
        val delta = b.groupBy("g")
          .agg(count(lit(1)).as("n_lines"),
            sum(when(col("lag_days") < 0, 1L).otherwise(0L)).as("n_violations"),
            min("lag_days").as("min_lag_days"))
        Map(ViewStore.Snapshot -> ContractStream.snapshot(spark0, state).unionByName(delta)
          .groupBy("g")
          .agg(sum("n_lines").as("n_lines"), sum("n_violations").as("n_violations"),
            min("min_lag_days").as("min_lag_days")))
      }
    deliver(0L); deliver(0L)
    val r = ContractStream.snapshot(spark0, state).collect().head
    assert(r.getAs[Long]("n_lines") == 2L && r.getAs[Long]("n_violations") == 1L,
      s"re-delivery must not double-count: $r")
  }
}
