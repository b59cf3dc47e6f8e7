package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import graft.SparkSpec
import graft.cdc.{CdcEvent, EventCodes, EventGen, ReferenceFold}

/** The keyed event-time TTL fold, checked on every stream built on
  * [[KeyedFold]]: a drain inside one event-time hour runs at most one
  * no-data micro-batch, and a key is evicted once the watermark passes its
  * last event by [[KeyedFold.StateTtlMs]], on both state-store providers. */
class KeyedFoldSpec extends SparkSpec {

  import spark.implicits._

  private val RocksProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private val hour = KeyedFold.WatermarkQuantumMs
  private val t0 = 1700000000000L

  /** One keyed stream over a memory source of `T`: `event` makes one input
    * row of `key` at `ts` (`seq` unique per row), `fold` wires the stream. */
  private abstract class Fold[T: Encoder](val name: String, val mode: String) {
    def event(key: Long, ts: Long, seq: Long): T
    def fold(in: Dataset[T]): Dataset[_]

    def start(ckpt: String): (MemoryStream[T], StreamingQuery) = {
      val ms = MemoryStream[T](implicitly[Encoder[T]], spark.sqlContext)
      val q = fold(ms.toDS()).writeStream.format("noop").outputMode(mode)
        .option("checkpointLocation", ckpt).start()
      (ms, q)
    }
  }

  private type Ev = (Long, Long, Long, String)
  private val Stages = Seq("view", "click", "purchase")

  private abstract class EvFold(name: String, mode: String) extends Fold[Ev](name, mode) {
    def event(key: Long, ts: Long, seq: Long): Ev = (key, ts, seq, Stages((seq % 3).toInt))
    def frame(in: Dataset[Ev]) = in.toDF("user_id", "ts_ms", "event_id", "event_type")
  }

  private val folds: Seq[Fold[_]] = Seq(
    new Fold[CdcEvent]("CdcStream", "update") {
      def event(key: Long, ts: Long, seq: Long) =
        CdcEvent(s"tx-$key-e$seq", s"tx-$key", EventCodes.Activated,
          java.time.Instant.ofEpochMilli(ts).toString, ts)
      def fold(in: Dataset[CdcEvent]) = CdcStream.viewUpdates(in)
    },
    new EvFold("CompactionStream", "append") {
      def fold(in: Dataset[Ev]) = CompactionStream.changes(frame(in))
    },
    new EvFold("TransitionStream", "append") {
      def fold(in: Dataset[Ev]) = TransitionStream.transitions(frame(in))
    },
    new EvFold("MotifStream", "append") {
      def fold(in: Dataset[Ev]) = MotifStream.motifs(frame(in))
    },
    new EvFold("FunnelStream", "update") {
      def fold(in: Dataset[Ev]) = FunnelStream.funnelUpdates(frame(in), Stages)
    },
    new Fold[(Long, Long, String)]("NearDupStream", "update") {
      // random words per key: no band key is shared between two keys
      def event(key: Long, ts: Long, seq: Long) = {
        val r = new scala.util.Random(key)
        (seq, ts, Seq.fill(12)(r.alphanumeric.take(8).mkString).mkString(" "))
      }
      def fold(in: Dataset[(Long, Long, String)]) =
        NearDupStream.bandVerdicts(in.toDF("doc_id", "ts_ms", "text"))
    })

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** The executed batches of `q` with input rows, then those without. An
    * idle trigger also reports progress, but runs no addBatch. */
  private def batchCounts(q: StreamingQuery): (Int, Seq[Long]) = {
    val ran = q.recentProgress.filter(_.durationMs.containsKey("addBatch"))
      .groupBy(_.batchId).values.map(_.head).toSeq
    (ran.count(_.numInputRows > 0), ran.filter(_.numInputRows == 0).map(_.batchId).sorted)
  }

  /** Four batches of ten events of four keys inside one event-time hour;
    * every batch moves the newest event time on by ten seconds. */
  private def hourDrain[T](fold: Fold[T]): (Int, Seq[Long]) = {
    val hourStart = t0 - t0 % hour
    val events = (0 until 40).map(i => fold.event(i % 4L, hourStart + 1000L * (i + 1), i.toLong))
    val (ms, q) = fold.start(tempDir("graft-hour-ckpt"))
    try {
      events.grouped(10).foreach { b => ms.addData(b); q.processAllAvailable() }
      batchCounts(q)
    } finally q.stop()
  }

  test("CdcStream: a 4-batch drain within one event-time hour runs at most one empty micro-batch") {
    implicit val ctx = spark.sqlContext
    // EventGen lifecycles all fall inside one event-time hour, so the
    // hour-quantized watermark moves once (from unset) and no later batch
    // makes Spark schedule a no-data batch to sweep for timeouts
    val events = EventGen.generate(nTx = 40, seed = 91L)
    val hours = events.map(e => e.tsMs / KeyedFold.WatermarkQuantumMs).distinct
    assert(hours.size == 1, s"precondition: events span hours $hours")
    val ms = MemoryStream[CdcEvent]
    val q = CdcStream.viewUpdates(ms.toDS()).writeStream
      .format("memory").queryName("views_hour").outputMode("update")
      .option("checkpointLocation", tempDir("graft-hour-ckpt"))
      .start()
    try {
      events.grouped(math.ceil(events.size / 4.0).toInt).foreach { b =>
        ms.addData(b); q.processAllAvailable()
      }
      val (data, empty) = batchCounts(q)
      assert(data == 4)
      assert(empty.size <= 1, s"empty batches: $empty")
      val keys = spark.table("views_hour").select("transactionId").as[String].collect().toSet
      val canonical = ReferenceFold.replay(
        events.filter(_.ttl.isEmpty).distinctBy(_.id).sortBy(e => (e.tsMs, e.id)))
      assert(keys == canonical.keySet)
    } finally q.stop()
  }

  folds.filterNot(_.name == "CdcStream").foreach { fold =>
    test(s"${fold.name}: a 4-batch drain within one event-time hour runs at most one empty micro-batch") {
      val (data, empty) = hourDrain(fold)
      assert(data == 4)
      assert(empty.size <= 1, s"empty batches: $empty")
    }
  }

  Seq("HDFS-backed" -> None, "RocksDB" -> Some(RocksProvider)).foreach { case (store, provider) =>
    folds.foreach { fold =>
      test(s"${fold.name} on $store state: a key is evicted once the watermark passes its last event + StateTtlMs") {
        provider.foreach(spark.conf.set("spark.sql.streaming.stateStore.providerClass", _))
        try ttlEviction(fold)
        finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  /** The rule of `RocksDbStateSpec`'s TTL case: key 1 at t0; key 3 where
    * the watermark lands two hours short of key 1's expiry (kept); key 2
    * where it passes that expiry by two hours (evicted by the no-data
    * batch that follows). */
  private def ttlEviction[T](fold: Fold[T]): Unit = {
    val delay = 30L * 24 * hour
    val ckpt = tempDir("graft-fold-ttl")
    val (ms, q) = fold.start(ckpt)
    def stateKeys(): Set[Any] =
      spark.read.format("statestore").load(ckpt).select("key.*").collect().map(_.get(0)).toSet
    try {
      ms.addData(Seq(fold.event(1L, t0, 1L)))
      q.processAllAvailable()
      val first = stateKeys()
      assert(first.nonEmpty)
      ms.addData(Seq(fold.event(3L, t0 + delay + KeyedFold.StateTtlMs - 2 * hour, 3L)))
      q.processAllAvailable()
      val kept = stateKeys()
      val third = kept -- first
      assert(first.subsetOf(kept) && third.nonEmpty, s"before expiry: $kept, first key $first")
      ms.addData(Seq(fold.event(2L, t0 + delay + KeyedFold.StateTtlMs + 2 * hour, 2L)))
      q.processAllAvailable()
      val after = stateKeys()
      assert(after.intersect(first).isEmpty && third.subsetOf(after),
        s"after expiry: $after, first key $first, third key $third")
    } finally q.stop()
  }
}
