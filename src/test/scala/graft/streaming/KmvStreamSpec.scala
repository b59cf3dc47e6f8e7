package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.nio.file.Files

/** X409 — continuous KMV: stream-folded bottom-k state equals the
  * one-shot batch bottom-k under any batch split; re-folding the same
  * hashes is a no-op (set-minimum idempotence); estimates match the
  * q371 formula including the below-k exact branch. */
class KmvStreamSpec extends SparkSpec {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val K = 4
  // group "a": 9 distinct hashes (> K); group "b": 2 (< K)
  private val data: Seq[(String, Long)] =
    (1L to 9L).map(i => ("a", i * 1000L)) ++ Seq(("b", 77L), ("b", 55L))

  test("stream-folded bottom-k == one-shot; estimates match the KMV formula") {
    val state = Files.createTempDirectory("graft-kmv-state").toString
    val ckpt = Files.createTempDirectory("graft-kmv-ckpt").toString
    val ms = MemoryStream[(String, Long)]
    val q = KmvStream.maintain(ms.toDS().toDF("g", "h"), state, ckpt, K)
    try {
      data.grouped(3).foreach { g => ms.addData(g); q.processAllAvailable() }
    } finally q.stop()

    val streamed = KmvStream.snapshot(spark, state)
      .orderBy("g", "h").collect().toSeq
    val oneShot = KmvStream.bottomK(data.toDF("g", "h"), K)
      .orderBy("g", "h").collect().toSeq
    assert(streamed == oneShot, "bottom-k state equality under batch splits")

    val est = KmvStream.estimates(KmvStream.snapshot(spark, state), K)
      .collect().map(r => r.getString(0) -> r).toMap
    // group a: h_k = 4000 (4th smallest of 1000..9000)
    assert(est("a").getAs[Long]("n_kept") == K.toLong)
    assert(est("a").getAs[Long]("n_est") ==
      (BigInt(K - 1) * BigInt("1152921504606846976") / 4000L).toLong)
    // group b: below k -> exact fallback
    assert(est("b").getAs[Long]("n_kept") == 2L)
    assert(est("b").getAs[Long]("n_est") == 2L)
  }

  test("re-folding the same hashes is a no-op (idempotent merge)") {
    val state = Files.createTempDirectory("graft-kmv-idem").toString
    val spark0 = spark
    val batch = data.toDF("g", "h")
    def deliver(batchId: Long): Unit =
      ViewStore.commitSnapshot(state, batch, batchId) { b =>
        Map(ViewStore.Snapshot -> KmvStream.bottomK(
          KmvStream.snapshot(spark0, state).unionByName(b), K))
      }
    deliver(0L)
    val first = KmvStream.snapshot(spark0, state).orderBy("g", "h").collect().toSeq
    deliver(1L) // same content re-delivered under a NEW batch id
    val second = KmvStream.snapshot(spark0, state).orderBy("g", "h").collect().toSeq
    assert(first == second, "set-minimum merge must absorb re-delivery")
  }
}
