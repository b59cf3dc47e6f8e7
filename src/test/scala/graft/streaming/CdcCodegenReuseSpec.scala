package graft.streaming

import org.apache.spark.metrics.source.CodegenMetrics
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
  * event-time hour, see [[CdcStream.WatermarkQuantumMs]]). Janino
  * compilations are counted by `CodegenMetrics.METRIC_COMPILATION_TIME`,
  * which records one sample per compiled class. */
class CdcCodegenReuseSpec extends SparkSpec {

  private val RocksProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private def compilations(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** One query from a fresh checkpoint over `batches`; the compilations
    * of building the query and its first batch, of each later batch, then
    * those of stopping the query. */
  private def compilesPerBatch(batches: Seq[Seq[CdcEvent]]): Seq[Long] = {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    var c0 = compilations()
    def delta(): Long = { val c = compilations(); try c - c0 finally c0 = c }
    val ms = MemoryStream[CdcEvent]
    val q = CdcStream.viewUpdates(ms.toDS()).writeStream
      .format("noop").outputMode("update")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-codegen-ckpt").toString)
      .start()
    val perBatch =
      try batches.map { b => ms.addData(b); q.processAllAvailable(); delta() }
      finally q.stop()
    perBatch :+ delta()
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
}
