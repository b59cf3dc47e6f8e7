package graft.streaming

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkSpec
import graft.cdc.{CdcEvent, EventGen}

/** The commit path (ViewStore generation and manifest, offset and commit
  * logs, RocksDB changelog checkpoints) runs no `chmod` or `readlink`
  * child process: the session's local filesystem does both in process.
  * Process starts are taken from a JFR recording of `jdk.ProcessStart`,
  * which sees every thread of the JVM, Spark's task threads included. */
class NoForkSpec extends SparkSpec {

  import spark.implicits._

  /** The program name of every process started while `body` runs. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val f = Files.createTempFile("graft-forks", ".jfr")
    try {
      rec.dump(f)
      RecordingFile.readAllEvents(f).asScala.toSeq
        .map(e => e.getString("command").trim.split("\\s+").head.split('/').last)
    } finally { rec.close(); Files.delete(f) }
  }

  /** Forks the local filesystem would make. Spark's own `rm -rf` of
    * RocksDB working dirs (`JavaUtils.deleteRecursivelyUsingUnixNative`,
    * at state-store close) is Spark's choice, not the filesystem's, and
    * is not counted. */
  private val FsForks = Set("chmod", "readlink")

  private def assertNoFsForks(forks: Seq[String]): Unit =
    assert(!forks.exists(FsForks), s"process starts: ${forks.groupBy(identity).view.mapValues(_.size).toMap}")

  test("the recorder sees a process start") {
    assert(processStarts(new ProcessBuilder("true").start().waitFor()).contains("true"))
  }

  test("one ViewStore.mergeKeyed batch forks no chmod or readlink") {
    val view = Files.createTempDirectory("graft-nofork-view").toString
    val rows = (1L to 40L).map(k => (k, k * 10)).toDF("k", "v")
    val forks = processStarts {
      ViewStore.mergeKeyed(spark, view, 0L, rows, "k")(_.fold(rows)(_.unionByName(rows)))
    }
    assert(ViewStore.readManifest(spark, view).exists(_.lastBatchId == 0L))
    assertNoFsForks(forks)
  }

  test("a two-batch viewUpdates query on RocksDB changelog state forks no chmod or readlink") {
    implicit val ctx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    try {
      val events = EventGen.generate(nTx = 20, seed = 5L)
      val ms = MemoryStream[CdcEvent]
      val ckpt = Files.createTempDirectory("graft-nofork-ckpt").toString
      var q: org.apache.spark.sql.streaming.StreamingQuery = null
      val forks = processStarts {
        q = CdcStream.viewUpdates(ms.toDS()).writeStream
          .format("noop").outputMode("update")
          .option("checkpointLocation", ckpt)
          .start()
        try events.grouped(events.size / 2 + 1).foreach { b =>
          ms.addData(b); q.processAllAvailable()
        } finally q.stop()
      }
      assert(q.lastProgress.batchId >= 1L, "both batches ran")
      assertNoFsForks(forks)
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      spark.conf.unset("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
    }
  }
}
