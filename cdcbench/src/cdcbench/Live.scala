package cdcbench

import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.streaming.Trigger

import graft.cdc.{CdcDecode, TransactionView}
import graft.streaming.{CdcStream, MergeMetrics, ViewStore}

/** `cdc-live`: open loop with events trickling in. One generator thread
  * publishes change-stream lines at `Rate` per second into a
  * `MemoryStream`; a micro-batch every `TriggerSeconds` is decoded and
  * merged into a `ViewStore` that set-up preloaded with `PreloadTx`
  * transactions; a dispatcher thread issues one `transactionId` lookup at
  * `LookupRate` per second onto `LookupThreads` reader threads. Event
  * latency runs from the event's due time to the return of the
  * `mergeBatchIntoParquet` call whose manifest flip made it visible;
  * lookup latency from the lookup's due time to its collected result.
  *
  * The rates and sizes are synthetic: no record of the reference
  * service's event rate, lookup rate or view size is available, so they
  * are chosen to keep this path below saturation on a 4-core host, where
  * a batch merge takes 2.5-3 s and a lookup about 1.2 s: at 1 lookup/s on
  * two reader threads the merges slowed threefold and the backlog grew.
  *
  * The fixed trigger keeps the stream below saturation: with batches back
  * to back, every batch's length fed the next batch's size and latency
  * followed the host's CPU steal (runs differed by 2x). The schedule is
  * aligned to the trigger grid, so each event's wait for its batch is the
  * same in every run and only the processing time varies. */
object Live {

  val PreloadTx = 600
  val LiveTx = 500
  val Rate = 5.0
  val LookupRate = 0.5
  val LookupThreads = 1
  val TriggerSeconds = 5
  /** The open loop runs this long before the measured window, so the
    * window starts on a warm path with the backlog of the cold start
    * worked off: its first batch follows two batches of the loop, not
    * the cold first one. */
  val WarmupSeconds = 10
  /** Step of the fixed clock on which the backlog is sampled. */
  val BacklogStepMs = 100

  def run(spark: SparkSession, r: Run, markSetupDone: Long => Unit): Unit = {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val sc = spark.sparkContext
    sc.setLocalProperty(SpanLog.StratumProp, "live")
    val viewPath = r.out.resolve("view").toString
    val nLive = (Rate * (WarmupSeconds + r.seconds)).toInt

    // lifecycles in clusterTime order: the head is history (the preload),
    // the tail is delivered live; live transactions continue preloaded ones
    val lines = r.spans.span("setup.wire") { Wire.build(spark, PreloadTx + LiveTx, r.seed) }
    val nPre = lines.size - nLive
    require(nPre > lines.size / 2, s"preload too small: $nPre of ${lines.size} lines")
    val (preload, timed) = lines.splitAt(nPre)
    r.spans.span("setup.preload", sc) {
      CdcStream.mergeBatchIntoParquet(spark,
        CdcDecode.fromMongoChangeStream(preload.map(_.json).toDF("json")), viewPath, batchId = 0L)
    }
    val keys = preload.flatMap(_.event).filter(_.ttl.isEmpty).map(_.transactionId).distinct.sorted

    val metrics = if (r.trace) Some(MergeMetrics.register(spark, "cdcbench.live")) else None
    val flipNs = new ConcurrentHashMap[Long, Long]()
    val fs = new Path(viewPath).getFileSystem(sc.hadoopConfiguration)
    val ms = MemoryStream[String]
    val body: (DataFrame, Long) => Unit = (df, id) => r.spans.span("stream.foreach_batch", sc) {
      val before = if (r.trace) ViewStore.readManifest(spark, viewPath) else None
      val in = if (r.trace) Some(Observation(s"decode_in_$id")) else None
      val outObs = if (r.trace) Some(Observation(s"decode_out_$id")) else None
      val raw = in.fold(df)(o => df.observe(o, count(lit(1)).as("n")))
      val decoded = outObs.fold(CdcDecode.fromMongoChangeStream(raw, "value"))(o =>
        CdcDecode.fromMongoChangeStream(raw, "value").observe(o, count(lit(1)).as("n")))
      val t0 = System.nanoTime()
      r.spans.span("sink.merge", sc) {
        CdcStream.mergeBatchIntoParquet(spark, decoded, viewPath, batchId = id + 1, metrics = metrics)
      }
      val t1 = System.nanoTime()
      flipNs.put(id, t1)
      if (r.trace) {
        r.sample("sink.merge_ms", (t1 - t0) / 1e6)
        val after = ViewStore.readManifest(spark, viewPath)
        val old = before.map(_.buckets).getOrElse(Map.empty)
        val changed = after.map(_.buckets).getOrElse(Map.empty).filter { case (b, rel) => !old.get(b).contains(rel) }
        r.sample("sink.buckets_touched", changed.size)
        val gen = new Path(viewPath, s"gen-${id + 1}")
        val (rows, bytes) = Sink.footprint(fs, gen, sc.hadoopConfiguration)
        val nIn = in.map(_.get.get("n").map(_.toString.toLong).getOrElse(0L)).getOrElse(0L)
        val nOut = outObs.map(_.get.get("n").map(_.toString.toLong).getOrElse(0L)).getOrElse(0L)
        r.sample("decode.rows_in", nIn.toDouble)
        r.sample("decode.rows_out", nOut.toDouble)
        r.sample("sink.rows_written", rows.toDouble)
        r.sample("sink.bytes_written", bytes.toDouble)
      }
    }
    val q = ms.toDF().writeStream.foreachBatch(body)
      .trigger(Trigger.ProcessingTime(TriggerSeconds * 1000L))
      .option("checkpointLocation", r.out.resolve("live-ckpt").toString).start()

    // set-up ends here: the wait for the trigger grid and the warm-up
    // part of the loop are not set-up work
    markSetupDone(System.nanoTime())
    val offsets = new Array[Long](timed.size)
    // Spark fires processing-time triggers on multiples of the interval
    // since the epoch: start the loop half an event period after the next
    val periodMs = TriggerSeconds * 1000L
    val nowMs = System.currentTimeMillis()
    val gridMs = (nowMs / periodMs + 1) * periodMs
    val loopStart = System.nanoTime() + (gridMs - nowMs) * 1000000L + math.round(0.5e9 / Rate)
    val start = loopStart + WarmupSeconds * 1000000000L
    val windowEnd = start + r.seconds * 1000000000L
    @volatile var published = Vector.empty[Published]
    val gen = new Thread(() => {
      published = OpenLoop.run(SystemClock, Schedule(loopStart, Rate), timed.size, () => false) { (i, _) =>
        offsets(i.toInt) = ms.addData(Seq(timed(i.toInt).json)).json().toLong
      }
    }, "cdcbench-generator")
    val readers = Executors.newFixedThreadPool(LookupThreads)
    val dispatcher = new Thread(() => {
      val rnd = new scala.util.Random(r.seed)
      OpenLoop.run(SystemClock, Schedule(loopStart, LookupRate), Long.MaxValue,
          () => System.nanoTime() >= windowEnd) { (_, due) =>
        val key = keys(rnd.nextInt(keys.size))
        readers.execute { () =>
          val ok = r.spans.span("read.lookup", sc) { lookup(spark, viewPath, key) }
          if (due >= start) {
            r.sample("lookup_ms", (System.nanoTime() - due) / 1e6)
            r.op(ok, "lookup did not return exactly its one view row")
          }
        }
      }
    }, "cdcbench-dispatcher")
    gen.start(); dispatcher.start()
    gen.join(); dispatcher.join()
    readers.shutdown()
    readers.awaitTermination(60, TimeUnit.SECONDS)
    q.processAllAvailable()
    q.stop()

    // map each published line to the micro-batch that carried it through
    // the source offsets in the query progress
    val batches = q.recentProgress.filter(_.numInputRows > 0).sortBy(_.batchId)
    val ends = batches.map(p => p.sources(0).endOffset.trim.toLong)
    val batchOf = published.map(p => ends.indexWhere(_ >= offsets(p.seq.toInt)))
    val visibleNs = batchOf.map(b => if (b < 0) Long.MaxValue else flipNs.get(batches(b).batchId))
    val carrying = scala.collection.mutable.Set.empty[Int]
    published.zip(batchOf).zip(visibleNs).foreach { case ((p, b), at) =>
      if (p.dueNs >= start) {
        r.sample("gen.late_ms", p.lateNs / 1e6)
        if (b < 0) r.op(ok = false, s"line ${p.seq} never became visible")
        else {
          carrying += b
          r.sample("visible_ms", (at - p.dueNs) / 1e6)
          r.op(ok = true)
        }
      }
    }
    // capacity: lines per second of micro-batch time, over the batches
    // that carried the window's events
    r.set("capacity_lines", batchOf.count(carrying.contains))
    r.set("capacity_busy_s", carrying.toSeq.map(b => batches(b).durationMs.get("triggerExecution").toLong).sum / 1e3)
    // backlog (published but not yet visible) on a fixed clock from one
    // trigger period before the window to its end, for the capacity
    // check: a backlog that grows from one trigger period to the next
    // means the offered rate is above what the path sustains
    val step = BacklogStepMs * 1000000L
    var t = math.max(loopStart, start - periodMs * 1000000L)
    while (t <= windowEnd) {
      r.sample("backlog.rows", (published.count(_.publishNs <= t) - visibleNs.count(_ <= t)).toDouble)
      t += step
    }
    r.set("backlog.period_steps", periodMs / BacklogStepMs)
    r.set("rate", Rate)
    if (r.trace) Stream.record(r, batches.toSeq)
    metrics.foreach(m => Ladder.record(r, m.value))

    // untimed output check: the final view against the reference replay
    val delivered = preload ++ timed.take(published.size)
    val got = ViewStore.read(spark, viewPath).get.as[TransactionView].collect()
      .map(v => v.transactionId -> v).toMap
    val bad = Wire.diff(got, Wire.canonical(delivered))
    r.op(bad.isEmpty, s"live view differs from the reference replay: ${bad.mkString("; ")}")
    if (r.trace) Sink.recordEnd(r, spark, viewPath, fs, sc.hadoopConfiguration, got.size)
  }

  /** Point lookup of one key: current view, key filter, collect. */
  def lookup(spark: SparkSession, viewPath: String, key: String): Boolean = {
    val rows = ViewStore.read(spark, viewPath).get.filter(col("transactionId") === key).collect()
    rows.length == 1 && rows(0).getAs[String]("transactionId") == key
  }
}
