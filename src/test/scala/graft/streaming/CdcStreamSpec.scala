package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkSpec
import graft.cdc._

/** Streaming pipeline tests with MemoryStream (engine test plan SURVEY.md §5
  * item 4: dedup / late-data / resume semantics). */
class CdcStreamSpec extends SparkSpec {

  private def canonical(events: Seq[CdcEvent]): Map[String, TransactionView] =
    ReferenceFold.replay(
      events.filter(_.ttl.isEmpty).distinctBy(_.id).sortBy(e => (e.tsMs, e.id)))

  test("flatMapGroupsWithState emits canonical views for a single batch") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[CdcEvent]
    val q = CdcStream.viewUpdates(ms.toDS()).writeStream
      .format("memory").queryName("views_single").outputMode("update").start()
    try {
      val events = EventGen.generate(nTx = 12, seed = 11L)
      ms.addData(events)
      q.processAllAvailable()
      val got = spark.table("views_single").as[TransactionView]
        .collect().map(v => v.transactionId -> v).toMap
      assert(got == canonical(events))
    } finally q.stop()
  }

  test("duplicate redelivery in a later micro-batch is a no-op (O7 dedup)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[CdcEvent]
    val q = CdcStream.viewUpdates(ms.toDS()).writeStream
      .format("memory").queryName("views_dup").outputMode("update").start()
    try {
      val events = EventGen.generate(nTx = 5, seed = 3L, noise = false)
      ms.addData(events)
      q.processAllAvailable()
      val n1 = spark.table("views_dup").count()
      ms.addData(events.take(3)) // redelivery of already-seen event ids
      q.processAllAvailable()
      val n2 = spark.table("views_dup").count()
      assert(n1 == n2, "redelivered duplicates must not emit updates")
    } finally q.stop()
  }

  test("late event in a later batch: status rejected, enrichment applied") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[CdcEvent]
    val q = CdcStream.viewUpdates(ms.toDS()).writeStream
      .format("memory").queryName("views_late").outputMode("update").start()
    try {
      val t = "tx-late"
      def ev(code: String, seq: Int, ts: Long, mut: CdcEvent => CdcEvent = identity) =
        mut(CdcEvent(s"$t-e$seq", t, code, java.time.Instant.ofEpochMilli(ts).toString, ts))
      ms.addData(Seq(
        ev(EventCodes.Activated, 0, 1000),
        ev(EventCodes.Closed, 2, 5000,
          _.copy(wasCanceledByUser = Some(false), responseOutcome = Some("OK")))))
      q.processAllAvailable()
      // late arrival, timestamped in the past
      ms.addData(Seq(ev(EventCodes.AuthRequested, 1, 2000,
        _.copy(pspId = Some("psp-late"), fee = Some(5L)))))
      q.processAllAvailable()
      val rows = spark.table("views_late").as[TransactionView].collect()
      val last = rows.last
      assert(last.status.contains(Status.Closed)) // stale status rejected
      assert(last.pspId.contains("psp-late")) // enrichment landed
      assert(last.lastProcessedEventAt.contains(5000L))
    } finally q.stop()
  }

  test("random micro-batch splits converge to the canonical view (property)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    (1 to 3).foreach { trial =>
      val rnd = new scala.util.Random(1000L + trial)
      val events = EventGen.generate(nTx = 8, seed = 500L + trial)
      // split the delivery stream at 1-3 random points; late cross-batch
      // delivery (shuffled tx timelines) exercises both the CAS ladder and
      // the wide-watermark guarantee that late events are NOT dropped
      val cuts = Seq.fill(1 + rnd.nextInt(3))(rnd.nextInt(events.size + 1)).sorted
      val batches = (0 +: cuts :+ events.size).distinct.sliding(2)
        .map { case Seq(a, b) => events.slice(a, b) }.filter(_.nonEmpty).toSeq
      val ms = MemoryStream[CdcEvent]
      // capture per-batch emissions with their batch id: memory-sink row
      // order is not deterministic, foreachBatch order is
      val emitted = scala.collection.mutable.ArrayBuffer.empty[(Long, TransactionView)]
      val q = CdcStream.viewUpdates(ms.toDS()).writeStream
        .outputMode("update")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[TransactionView], id: Long) =>
          emitted.synchronized { emitted ++= b.collect().map(id -> _) }
          ()
        }
        .start()
      try {
        batches.foreach { b => ms.addData(b); q.processAllAvailable() }
        val got = emitted.synchronized {
          emitted.sortBy(_._1).map(_._2).groupBy(_.transactionId)
            .map { case (k, vs) => k -> vs.last }
        }
        // expected: the operator's contract — per batch, (ts,id)-ordered
        // fold with cross-batch duplicate skip
        val expected = events.filter(_.ttl.isEmpty).distinctBy(_.id)
          .groupBy(_.transactionId).map { case (tx, _) =>
            val perBatch = batches.map(_.filter(e =>
              e.transactionId == tx && e.ttl.isEmpty))
            var seen = Set.empty[String]
            var view: Option[TransactionView] = None
            perBatch.foreach { b =>
              b.sortBy(e => (e.tsMs, e.id)).foreach { e =>
                if (!seen(e.id)) { seen += e.id; view = Some(ReferenceFold.processOne(view, e)) }
              }
            }
            tx -> view.get
          }
        assert(got == expected, s"trial=$trial")
      } finally q.stop()
    }
  }

  test("a 4-batch drain within one event-time hour runs at most one empty micro-batch") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // EventGen lifecycles all fall inside one event-time hour, so the
    // hour-quantized watermark moves once (from unset) and no later batch
    // makes Spark schedule a no-data batch to sweep for timeouts
    val events = EventGen.generate(nTx = 40, seed = 91L)
    val hours = events.map(e => e.tsMs / CdcStream.WatermarkQuantumMs).distinct
    assert(hours.size == 1, s"precondition: events span hours $hours")
    val ms = MemoryStream[CdcEvent]
    val q = CdcStream.viewUpdates(ms.toDS()).writeStream
      .format("memory").queryName("views_hour").outputMode("update")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-hour-ckpt").toString)
      .start()
    try {
      events.grouped(math.ceil(events.size / 4.0).toInt).foreach { b =>
        ms.addData(b); q.processAllAvailable()
      }
      // executed batches only: an idle trigger also reports progress, but
      // runs no addBatch
      val ran = q.recentProgress.filter(_.durationMs.containsKey("addBatch"))
        .groupBy(_.batchId).values.map(_.head).toSeq
      assert(ran.count(_.numInputRows > 0) == 4)
      assert(ran.count(_.numInputRows == 0) <= 1,
        s"empty batches: ${ran.filter(_.numInputRows == 0).map(_.batchId).sorted}")
      val keys = spark.table("views_hour").select("transactionId").as[String].collect().toSet
      assert(keys == canonical(events).keySet)
    } finally q.stop()
  }

  test("an event 29 days behind the newest is applied; one 31 days behind is dropped") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val day = 24L * 3600 * 1000
    val now = 1700000000000L + 40 * day
    def activated(tx: String, ts: Long) =
      CdcEvent(s"$tx-e0", tx, EventCodes.Activated, java.time.Instant.ofEpochMilli(ts).toString, ts)
    val ms = MemoryStream[CdcEvent]
    val emitted = scala.collection.mutable.ArrayBuffer.empty[TransactionView]
    val q = CdcStream.viewUpdates(ms.toDS()).writeStream
      .outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[TransactionView], _: Long) =>
        emitted.synchronized { emitted ++= b.collect() }
        ()
      }
      .start()
    try {
      ms.addData(Seq(activated("tx-now", now)))
      q.processAllAvailable()
      ms.addData(Seq(activated("tx-29d", now - 29 * day), activated("tx-31d", now - 31 * day)))
      q.processAllAvailable()
      val keys = emitted.synchronized(emitted.map(_.transactionId).toSet)
      assert(keys.contains("tx-29d"), "an event within the watermark delay must be applied")
      assert(!keys.contains("tx-31d"), "an event past the watermark delay is dropped")
    } finally q.stop()
  }

  test("foreachBatch parquet merge across micro-batches equals canonical replay") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-view").toString
    val viewPath = dir + "/transactions-view"
    val events = EventGen.generate(nTx = 15, seed = 21L)
    val ordered = events.distinctBy(_.id).sortBy(e => (e.tsMs, e.id))
    ordered.grouped(30).zipWithIndex.foreach { case (batch, bid) =>
      CdcStream.mergeBatchIntoParquet(spark, batch.toDS(), viewPath, bid.toLong)
    }
    val got = ViewStore.read(spark, viewPath).get.as[TransactionView]
      .collect().map(v => v.transactionId -> v).toMap
    assert(got == canonical(events))
  }

  test("changelog: the merge emits before/after images, exactly-once across replays") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-view-cl").toString
    val viewPath = dir + "/transactions-view"
    val events = EventGen.generate(nTx = 8, seed = 55L)
      .distinctBy(_.id).sortBy(e => (e.tsMs, e.id))
    val (b0, b1) = events.splitAt(events.size / 2)
    CdcStream.mergeBatchIntoParquet(spark, b0.toDS(), viewPath, 0L, changelog = true)
    CdcStream.mergeBatchIntoParquet(spark, b1.toDS(), viewPath, 1L, changelog = true)
    // replay of batch 1 must not duplicate feed rows
    CdcStream.mergeBatchIntoParquet(spark, b1.toDS(), viewPath, 1L, changelog = true)
    val feed = CdcStream.readChangelog(spark, viewPath).get.collect()
    // exactly one change row per (key, batch) that touched it
    assert(feed.groupBy(c => (c.transactionId, c.batchId)).forall(_._2.length == 1))
    // batch-0 rows are all creations with no before image
    assert(feed.filter(_.batchId == 0L).forall(c => c.op == "c" && c.beforeStatus.isEmpty))
    // keys touched in both batches: batch-1 row is an update whose BEFORE
    // equals the view state after batch 0
    val viewAfterB0 = b0.groupBy(_.transactionId).view.mapValues(evs =>
      evs.sortBy(e => (e.tsMs, e.id)).foldLeft(Option.empty[graft.cdc.TransactionView])(
        (v, e) => Some(graft.cdc.ReferenceFold.processOne(v, e))).get).toMap
    val both = feed.filter(c => c.batchId == 1L && viewAfterB0.contains(c.transactionId))
    assert(both.nonEmpty)
    both.foreach { c =>
      assert(c.op == "u" && c.beforeStatus == viewAfterB0(c.transactionId).status,
        s"before image mismatch for ${c.transactionId}")
    }
    // the feed's final after-images agree with the stored view
    val view = ViewStore.read(spark, viewPath).get.as[TransactionView].collect()
      .map(v => v.transactionId -> v.status).toMap
    feed.groupBy(_.transactionId).foreach { case (tx, cs) =>
      assert(cs.maxBy(_.batchId).afterStatus == view(tx))
    }
  }

  test("merge sink: replayed batchId is a no-op; untouched buckets' files unchanged") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-view2").toString
    val viewPath = dir + "/transactions-view"
    val events = EventGen.generate(nTx = 12, seed = 33L)
      .distinctBy(_.id).sortBy(e => (e.tsMs, e.id))
    val (batch0, batch1) = events.splitAt(events.size / 2)
    CdcStream.mergeBatchIntoParquet(spark, batch0.toDS(), viewPath, 0L)
    val afterB0 = ViewStore.read(spark, viewPath).get.as[TransactionView]
      .collect().map(v => v.transactionId -> v).toMap

    // at-least-once foreachBatch: the same batchId redelivered must change
    // nothing (no re-merge, no file churn)
    CdcStream.mergeBatchIntoParquet(spark, batch0.toDS(), viewPath, 0L)
    val afterReplay = ViewStore.read(spark, viewPath).get.as[TransactionView]
      .collect().map(v => v.transactionId -> v).toMap
    assert(afterReplay == afterB0, "replayed batch changed the view")

    // restrict batch1 to ONE transaction → at most a few touched buckets;
    // every file of every untouched bucket must be byte-identical
    val oneTx = batch1.filter(_.transactionId == batch1.head.transactionId)
    val manifestBefore = ViewStore.readManifest(spark, viewPath).get
    def fileState(): Map[String, (Long, Long)] = {
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(viewPath), spark.sparkContext.hadoopConfiguration)
      def walk(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
        fs.listStatus(p).flatMap(s => if (s.isDirectory) walk(s.getPath) else Seq(s)).toSeq
      walk(new org.apache.hadoop.fs.Path(viewPath))
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map(s => s.getPath.toString -> (s.getLen, s.getModificationTime)).toMap
    }
    val before = fileState()
    CdcStream.mergeBatchIntoParquet(spark, oneTx.toDS(), viewPath, 1L)
    val after = fileState()
    val manifestAfter = ViewStore.readManifest(spark, viewPath).get
    val touchedBuckets = manifestAfter.buckets.filter(_._2.startsWith("gen-1/")).keySet
    assert(touchedBuckets.nonEmpty && touchedBuckets.size < ViewStore.NumBuckets)
    val untouchedRels = manifestBefore.buckets.filterNot(b => touchedBuckets(b._1)).values
    untouchedRels.foreach { rel =>
      val stillSame = before.filter(_._1.contains(rel))
      assert(stillSame.nonEmpty, s"untouched bucket $rel lost its files")
      stillSame.foreach { case (path, st) =>
        assert(after.get(path).contains(st), s"untouched file rewritten: $path")
      }
    }
    // and the merge itself is still correct
    val got = ViewStore.read(spark, viewPath).get.as[TransactionView]
      .collect().map(v => v.transactionId -> v).toMap
    assert(got == canonical(batch0 ++ oneTx))
  }
}
