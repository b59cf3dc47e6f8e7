package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkSpec
import graft.cdc._

/** Ops-parity tests (SURVEY §2.1 O2/O15/O16/O17/O18/O19): retry policy
  * classification, checkpointed restart of a file-source stream, liveness
  * listener state machine, and observe() metrics. */
class OpsParitySpec extends SparkSpec {

  import Resilience._

  test("retry: retriable error retried to success; attempt count bounded (O15)") {
    var calls = 0
    val out = withRetries(maxAttempts = 3, delayMs = 1) {
      calls += 1
      if (calls < 3) throw new RetriableException("transient")
      "ok"
    }
    assert(out == "ok" && calls == 3)
  }

  test("retry: exhaustion rethrows; non-retriable passes straight through (O15)") {
    var calls = 0
    intercept[RetriableException] {
      withRetries(3, 1) { calls += 1; throw new RetriableException("always") }
    }
    assert(calls == 3)
    calls = 0
    intercept[IllegalArgumentException] {
      withRetries(3, 1) { calls += 1; throw new IllegalArgumentException("fatal") }
    }
    assert(calls == 1)
  }

  test("checkpointed restart resumes the file-source stream (O1/O2/O16/O17)") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-restart").toString
    val srcDir = s"$root/events"
    val ckpt = s"$root/ckpt"
    val viewPath = s"$root/view"
    val all = EventGen.generate(nTx = 10, seed = 31L)
    val (first, second) = all.splitAt(all.size / 2)

    def runOnce(events: Seq[CdcEvent], part: String): Unit = {
      if (events.nonEmpty)
        events.toDS().write.mode("append").parquet(srcDir)
      val stream = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[CdcEvent]].schema)
        .parquet(srcDir).as[CdcEvent]
      val q = stream.writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch(retryingBatch[org.apache.spark.sql.Dataset[CdcEvent]](3, 10) {
          (batch, bid) => CdcStream.mergeBatchIntoParquet(spark, batch, viewPath, bid)
        })
        .start()
      q.awaitTermination()
    }

    runOnce(first, "first")
    runOnce(second, "second") // restart from checkpoint; only new files read

    val got = ViewStore.read(spark, viewPath).get.as[TransactionView]
      .collect().map(v => v.transactionId -> v).toMap
    val expected = ReferenceFold.replay(
      all.filter(_.ttl.isEmpty).distinctBy(_.id).sortBy(e => (e.tsMs, e.id)))
    assert(got == expected)
  }

  test("merge outcome counters: full/enrich/noop/dup after a mixed batch (O14/O19)") {
    import spark.implicits._
    import graft.cdc.EventCodes
    val dir = java.nio.file.Files.createTempDirectory("graft-metrics").toString
    val viewPath = dir + "/view"
    val m = MergeMetrics.register(spark)
    def ev(id: String, code: String, ts: Long) =
      CdcEvent(id, "t1", code, java.time.Instant.ofEpochMilli(ts).toString, ts)
    // batch 0 establishes the view with watermark ts=1000
    CdcStream.mergeBatchIntoParquet(spark,
      Seq(ev("e1", EventCodes.Activated, 1000L)).toDS(), viewPath, 0L, Some(m))
    // batch 1: one of each outcome
    val e2 = ev("e2", EventCodes.AuthRequested, 500L) // stale + data update → ok_enrich
    val e3 = ev("e3", EventCodes.RefundRetried, 600L) // stale, no data update → noop_stale (O14)
    val e4 = ev("e4", EventCodes.Closed, 2000L) // newer → ok_full
    CdcStream.mergeBatchIntoParquet(spark,
      Seq(e2, e3, e3, e4).toDS(), viewPath, 1L, Some(m)) // e3 twice → dup_dropped
    val v = m.value
    assert(v(MergeMetrics.key(EventCodes.Activated, MergeMetrics.OkFull)) == 1L, v)
    assert(v(MergeMetrics.key(EventCodes.AuthRequested, MergeMetrics.OkEnrich)) == 1L, v)
    assert(v(MergeMetrics.key(EventCodes.RefundRetried, MergeMetrics.NoopStale)) == 1L, v)
    assert(v(MergeMetrics.key(EventCodes.Closed, MergeMetrics.OkFull)) == 1L, v)
    assert(v(MergeMetrics.key(EventCodes.RefundRetried, MergeMetrics.DupDropped)) == 1L, v)
    assert(MergeMetrics.totalOf(v, MergeMetrics.NoopStale) == 1L)
    // and the view is still the canonical fold
    val got = ViewStore.read(spark, viewPath).get.as[TransactionView].collect()
    // Closed without responseOutcome=OK maps to Unauthorized in the ladder
    assert(got.length == 1 && got.head.status.contains(graft.cdc.Status.Unauthorized))
  }

  test("liveness probe serves StreamHealth over HTTP: 200 UP, 503 DOWN") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // awaitAnyTermination below waits for this test's query: forget the
    // queries earlier suites of this session stopped or failed on purpose
    spark.streams.resetTerminated()
    val health = new StreamHealth(inactivityTimeoutMs = 3600L * 1000)
    spark.streams.addListener(health)
    val srv = new LivenessServer(health, port = 0)
    val port = srv.start()
    def probe(): (Int, String) = {
      val conn = new java.net.URL(s"http://127.0.0.1:$port/health/liveness")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      val code = conn.getResponseCode
      val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
      val body = scala.io.Source.fromInputStream(is, "UTF-8").mkString
      (code, body)
    }
    try {
      assert(probe() == (200, """{"status":"UP"}"""))
      val ms = MemoryStream[CdcEvent]
      val q = CdcStream.viewUpdates(ms.toDS())
        .writeStream.format("memory").queryName("views_probe").outputMode("update")
        .start()
      ms.addData(EventGen.generate(nTx = 2, seed = 3L, noise = false))
      q.processAllAvailable()
      assert(probe()._1 == 200)
      q.stop()
      spark.streams.awaitAnyTermination(10000)
      assert(probe() == (503, """{"status":"DOWN"}""")) // terminated query
    } finally {
      srv.stop()
      spark.streams.removeListener(health)
    }
  }

  test("liveness listener: active+fresh CORRECT, terminated or stale BROKEN (O18); observe metrics (O19)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // awaitAnyTermination below waits for this test's query: forget the
    // queries earlier suites of this session stopped or failed on purpose
    spark.streams.resetTerminated()
    val health = new StreamHealth(inactivityTimeoutMs = 3600L * 1000)
    spark.streams.addListener(health)
    try {
      val ms = MemoryStream[CdcEvent]
      val q = CdcStream.viewUpdates(
        ms.toDS().observe("cdc", count(lit(1)).as("n_events")))
        .writeStream.format("memory").queryName("views_health").outputMode("update")
        .start()
      ms.addData(EventGen.generate(nTx = 3, seed = 5L, noise = false))
      q.processAllAvailable()
      assert(health.state() == health.Correct)
      // staleness bound: pretend an hour+ passed with no progress
      assert(health.state(nowMs = System.currentTimeMillis() + 3601L * 1000) == health.Broken)
      // listener events are delivered async — poll briefly for the counter
      // (observedTotal: a trailing empty batch must not zero it)
      val deadline = System.currentTimeMillis() + 10000
      def metric = health.observedTotal(q.id, "cdc")
        .filter(_.get("n_events").exists(_.asInstanceOf[Long] > 0L))
      while (metric.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(metric.nonEmpty, s"metric=${health.observedTotal(q.id, "cdc")}")
      q.stop()
      spark.streams.awaitAnyTermination(10000)
      assert(health.state() == health.Broken) // terminated query => BROKEN
    } finally spark.streams.removeListener(health)
  }
}
