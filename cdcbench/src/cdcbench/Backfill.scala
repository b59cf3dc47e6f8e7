package cdcbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{count, lit}

import graft.cdc.{CdcDecode, ReferenceFold, TransactionView}
import graft.streaming.{CdcStream, MergeMetrics, OutcomeCountsAccumulator}

/** `cdc-backfill`: closed loop, recovery after an outage. A fixed seeded
  * backlog of `BacklogTx` transactions' change-stream lines goes through
  * `fromMongoChangeStream → CdcStream.viewUpdates` into a noop sink in
  * exactly `Batches` micro-batches, on RocksDB state with changelog
  * checkpointing. Set-up drains it once to warm the JVM; then it is
  * drained again, each time from an empty checkpoint, until the run's
  * seconds are used and at least `MinDrains` times. Every event of a drain
  * is due when the drain starts and visible when its micro-batch ends. */
object Backfill {

  val BacklogTx = 1000
  val Batches = 4
  /** Three drains take about the run's 20 s on a 4-core host, so with a
    * minimum of three a run made three or four drains depending on the
    * host's speed, and the median moved with the count. */
  val MinDrains = 4

  private val RocksProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  def run(spark: SparkSession, r: Run, markSetupDone: Long => Unit): Unit = {
    import spark.implicits._
    val sc = spark.sparkContext
    sc.setLocalProperty(SpanLog.StratumProp, "backfill")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", RocksProvider)
    spark.conf.set("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    val lines = r.spans.span("setup.wire") { Wire.build(spark, BacklogTx, r.seed) }
    val chunks = lines.map(_.json).grouped(math.ceil(lines.size.toDouble / Batches).toInt).toSeq
    var drainNo = 0
    def ckpt(n: Int) = r.out.resolve(s"backfill-ckpt-$n").toString

    /** One drain from an empty checkpoint; returns its start, each
      * batch's end time and the query progress. */
    def drain(metrics: Option[OutcomeCountsAccumulator]) = {
      implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
      drainNo += 1
      val ms = MemoryStream[String]
      val raw = if (r.trace) ms.toDF().observe("decode_rows_in", count(lit(1))) else ms.toDF()
      val decoded = CdcDecode.fromMongoChangeStream(raw, "value")
      val events = if (r.trace) decoded.observe("decode_rows_out", count(lit(1))) else decoded
      val t0 = System.nanoTime()
      val q = CdcStream.viewUpdates(events, metrics)
        .writeStream.format("noop").outputMode("update")
        .option("checkpointLocation", ckpt(drainNo))
        .start()
      val ends = chunks.map { c =>
        ms.addData(c)
        q.processAllAvailable()
        System.nanoTime()
      }
      q.stop()
      (t0, ends, q.recentProgress.toSeq)
    }

    r.spans.span("setup.warmup_drain", sc) { drain(None) }
    val metrics = if (r.trace) Some(MergeMetrics.register(spark, "cdcbench.backfill")) else None
    markSetupDone(System.nanoTime())
    val deadline = System.nanoTime() + r.seconds * 1000000000L
    var last: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = Seq.empty
    var timedDrains = 0
    while (timedDrains < MinDrains || System.nanoTime() < deadline) {
      timedDrains += 1
      metrics.foreach(_.reset())
      val (t0, ends, progress) = r.spans.span("backfill.drain", sc) { drain(metrics) }
      val ok = progress.count(_.numInputRows > 0) == chunks.size
      r.op(ok, s"drain ran ${progress.count(_.numInputRows > 0)} data batches, expected ${chunks.size}")
      r.sample("drain_s", (ends.last - t0) / 1e9)
      // per drain: the visible latency of every backlog line, as
      // (batch size, ms since the drain started) pairs
      chunks.zip(ends).foreach { case (c, e) =>
        r.sample(s"visible_batches.d$drainNo", c.size.toDouble)
        r.sample(s"visible_batches.d$drainNo", (e - t0) / 1e6)
      }
      last = progress
    }
    r.set("events", lines.size)

    // untimed output check: the last drain's final state (read back with
    // the state data source) against the reference replay
    val got = spark.read.format("statestore").load(ckpt(drainNo))
      .select("value.groupState.view.*").as[TransactionView].collect()
      .map(v => v.transactionId -> v).toMap
    val bad = Wire.diff(got, Wire.canonical(lines))
    r.op(bad.isEmpty, s"backfill state differs from the reference replay: ${bad.mkString("; ")}")
    if (r.trace) {
      Stream.record(r, last)
      metrics.foreach(m => Ladder.record(r, m.value))
      baselines(spark, r, lines)
    }
  }

  /** Single-threaded and decode-only baselines on the same backlog: what
    * the drain rate costs beyond one thread (median of three each). */
  private def baselines(spark: SparkSession, r: Run, lines: Seq[Wire.Line]): Unit = {
    import spark.implicits._
    val typed = lines.flatMap(_.event).filter(_.ttl.isEmpty).distinctBy(_.id).sortBy(e => (e.tsMs, e.id))
    def median3(f: => Unit): Double = {
      val ts = (1 to 3).map { _ => val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }.sorted
      ts(1)
    }
    val fold = r.spans.span("baseline.fold_1t") { median3(ReferenceFold.replay(typed)) }
    r.set("ladder.fold_1t_eps", typed.size / fold)
    val wire = lines.map(_.json).toDF("json").cache()
    wire.count()
    val dec = r.spans.span("baseline.decode_solo", spark.sparkContext) {
      median3(CdcDecode.fromMongoChangeStream(wire).write.format("noop").mode("overwrite").save())
    }
    wire.unpersist()
    r.set("decode.solo_eps", lines.size / dec)
  }
}
