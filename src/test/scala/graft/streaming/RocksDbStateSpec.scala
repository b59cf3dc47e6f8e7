package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkSpec
import graft.cdc.{CdcEvent, EventCodes, EventGen, ReferenceFold, TransactionView}

/** The stateful merge ladder under the RocksDB state-store provider (with
  * changelog checkpointing) must produce exactly the canonical fold — the
  * provider swap is a pure storage substitution, but RocksDB round-trips
  * state through its own encoders, so a spec guards the compatibility the
  * bench's throughput leg assumes. */
class RocksDbStateSpec extends SparkSpec {

  import spark.implicits._

  private def withRocksDb[T](body: => T): T = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    try body
    finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      spark.conf.unset(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
    }
  }

  test("flatMapGroupsWithState merge under RocksDB equals the canonical fold") {
    implicit val ctx = spark.sqlContext
    withRocksDb {
      val events = EventGen.generate(nTx = 25, seed = 77L)
      val ms = MemoryStream[CdcEvent]
      val got = scala.collection.concurrent.TrieMap.empty[String, TransactionView]
      val q = CdcStream.viewUpdates(ms.toDS())
        .writeStream.outputMode("update")
        .foreachBatch { (ds: org.apache.spark.sql.Dataset[TransactionView], _: Long) =>
          ds.collect().foreach(v => got(v.transactionId) = v)
        }
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("graft-rocks-ckpt").toString)
        .start()
      try {
        events.grouped(math.max(events.size / 5, 1)).foreach { b =>
          ms.addData(b); q.processAllAvailable()
        }
      } finally q.stop()
      val want = ReferenceFold.replay(
        events.filter(_.ttl.isEmpty).distinctBy(_.id).sortBy(e => (e.tsMs, e.id)))
      assert(got.toMap == want)
    }
  }

  test("state TTL: a key is evicted once the watermark passes lastProcessedEventAt + StateTtlMs") {
    implicit val ctx = spark.sqlContext
    withRocksDb {
      val hour = KeyedFold.WatermarkQuantumMs
      val delay = 30L * 24 * hour
      val t0 = 1700000000000L
      def activated(tx: String, ts: Long) =
        CdcEvent(s"$tx-e0", tx, EventCodes.Activated, java.time.Instant.ofEpochMilli(ts).toString, ts)
      val ckpt = java.nio.file.Files.createTempDirectory("graft-rocks-ttl").toString
      val ms = MemoryStream[CdcEvent]
      val q = CdcStream.viewUpdates(ms.toDS())
        .writeStream.format("noop").outputMode("update")
        .option("checkpointLocation", ckpt)
        .start()
      def stateKeys(): Set[String] =
        spark.read.format("statestore").load(ckpt)
          .select("value.groupState.view.transactionId").as[String].collect().toSet
      try {
        ms.addData(Seq(activated("tx-a", t0)))
        q.processAllAvailable()
        assert(stateKeys() == Set("tx-a"))
        // the watermark lands two hours short of tx-a's expiry: kept
        ms.addData(Seq(activated("tx-c", t0 + delay + KeyedFold.StateTtlMs - 2 * hour)))
        q.processAllAvailable()
        assert(stateKeys() == Set("tx-a", "tx-c"))
        // the watermark passes tx-a's expiry by more than one quantum:
        // the no-data batch that follows sweeps it out
        ms.addData(Seq(activated("tx-b", t0 + delay + KeyedFold.StateTtlMs + 2 * hour)))
        q.processAllAvailable()
        assert(stateKeys() == Set("tx-b", "tx-c"))
      } finally q.stop()
    }
  }
}
