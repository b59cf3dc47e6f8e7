package graft.streaming

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkSpec
import graft.cdc.{CdcEvent, EventGen}

/** The stateful CDC path compiles its generated classes once per JVM, not
  * once per query and once per micro-batch. Two `viewUpdates` queries run
  * back to back over the same four batches, each from a fresh checkpoint:
  * after the first query's second batch, nothing compiles again. The
  * second batch may compile one class: the late-event filter of the first
  * watermark, which Spark writes into the generated predicate as a
  * literal, so each new watermark value compiles one predicate (once per
  * event-time hour, see [[KeyedFold.WatermarkQuantumMs]]). Janino
  * compilations are counted by `CodegenMetrics.METRIC_COMPILATION_TIME`,
  * which records one sample per compiled class. The other [[KeyedFold]]
  * streams whose state holds no collection (Transition, Compaction,
  * NearDup) are held to the second-query rule too, and the foreachBatch
  * merge ([[CdcStream.mergeBatchIntoParquet]]) onto a stored view
  * compiles nothing after its first call. */
class CdcCodegenReuseSpec extends SparkSpec {

  private val RocksProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private def compilations(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** One query of `fold` from a fresh checkpoint over `batches`; the
    * compilations of building the query and its first batch, of each
    * later batch, then those of stopping the query. */
  private def compiles[T: Encoder](batches: Seq[Seq[T]], mode: String)(
      fold: Dataset[T] => Dataset[_]): Seq[Long] = {
    var c0 = compilations()
    def delta(): Long = { val c = compilations(); try c - c0 finally c0 = c }
    val ms = MemoryStream[T](implicitly[Encoder[T]], spark.sqlContext)
    val q = fold(ms.toDS()).writeStream
      .format("noop").outputMode(mode)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-codegen-ckpt").toString)
      .start()
    val perBatch =
      try batches.map { b => ms.addData(b); q.processAllAvailable(); delta() }
      finally q.stop()
    perBatch :+ delta()
  }

  private def compilesPerBatch(batches: Seq[Seq[CdcEvent]]): Seq[Long] = {
    import spark.implicits._
    compiles(batches, "update")(CdcStream.viewUpdates(_))
  }

  Seq("HDFS-backed" -> None, "RocksDB" -> Some(RocksProvider)).foreach { case (name, provider) =>
    test(s"$name state: later batches and a second query compile nothing") {
      provider.foreach(spark.conf.set("spark.sql.streaming.stateStore.providerClass", _))
      try {
        val events = EventGen.generate(nTx = 40, seed = 93L)
        val batches = events.grouped(math.ceil(events.size / 4.0).toInt).toSeq
        assert(batches.size == 4)
        val first = compilesPerBatch(batches)
        val second = compilesPerBatch(batches)
        assert(first(1) <= 1 && first.drop(2).forall(_ == 0),
          s"first query, per batch then stop: $first")
        assert(second.forall(_ == 0), s"second query, per batch then stop: $second")
      } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  /** The other [[KeyedFold]] streams whose state holds no collection, each
    * over four batches of events inside one event-time hour. */
  private val collectionFree: Seq[(String, () => Seq[Long])] = {
    import spark.implicits._
    val hourStart = 1700000000000L - 1700000000000L % KeyedFold.WatermarkQuantumMs
    val evs = (0 until 40).map(i =>
      (i % 4L, hourStart + 1000L * (i + 1), i.toLong, Seq("view", "click", "buy")(i % 3)))
      .grouped(10).toSeq
    def frame(in: Dataset[(Long, Long, Long, String)]) =
      in.toDF("user_id", "ts_ms", "event_id", "event_type")
    val docs = (0 until 8).map(i => (i.toLong, hourStart + 1000L * (i + 1),
      if (i % 2 == 0) "alpha beta gamma delta epsilon zeta" else s"doc $i words of its own"))
      .grouped(2).toSeq
    Seq(
      "TransitionStream" -> (() => compiles(evs, "append")(in => TransitionStream.transitions(frame(in)))),
      "CompactionStream" -> (() => compiles(evs, "append")(in => CompactionStream.changes(frame(in)))),
      "NearDupStream" -> (() => compiles(docs, "update")(in =>
        NearDupStream.bandVerdicts(in.toDF("doc_id", "ts_ms", "text")))))
  }

  for ((store, provider) <- Seq("HDFS-backed" -> None, "RocksDB" -> Some(RocksProvider));
       (name, run) <- collectionFree)
    test(s"$name on $store state: a second query compiles nothing") {
      provider.foreach(spark.conf.set("spark.sql.streaming.stateStore.providerClass", _))
      try {
        val first = run()
        val second = run()
        assert(second.forall(_ == 0),
          s"first query $first, second query $second, per batch then stop")
      } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }

  test("foreachBatch path: a second and third mergeBatchIntoParquet compile nothing") {
    import spark.implicits._
    val viewPath = java.nio.file.Files.createTempDirectory("graft-codegen-view").toString + "/view"
    val events = EventGen.generate(nTx = 40, seed = 95L)
    val batches = events.grouped(math.ceil(events.size / 4.0).toInt).toSeq
    assert(batches.size == 4)
    // a preloaded view, as a live stream merges onto one: every call then
    // reads stored rows (a first merge onto an empty view plans no scan)
    CdcStream.mergeBatchIntoParquet(spark, batches.head.toDS(), viewPath, 0L)
    val perCall = batches.tail.zipWithIndex.map { case (b, i) =>
      val c0 = compilations()
      CdcStream.mergeBatchIntoParquet(spark, b.toDS(), viewPath, i + 1L)
      compilations() - c0
    }
    assert(perCall.drop(1).forall(_ == 0), s"compilations per call after the preload: $perCall")
  }
}
