package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** ViewStore snapshot retention, time travel, and compaction — the
  * plain-parquet twin of a table format's snapshot/OPTIMIZE surface —
  * and the snapshot maintainers' commit: its batch guard, its failure
  * atomicity, named parts, and GC of the generations no retained
  * manifest references (orphans of a crash between write and flip). */
class ViewStoreSpec extends SparkSpec {

  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def tmp() =
    java.nio.file.Files.createTempDirectory("graft-viewstore").toString

  /** Commit (key, value) rows as one mergeKeyed batch whose combine
    * replaces the touched buckets' rows with exactly these. */
  private def commitBatch(path: String, batchId: Long, rows: Seq[(Long, Long)]): Unit =
    replaceBuckets(path, batchId, rows.toDF("k", "v"))

  private def replaceBuckets(path: String, batchId: Long, df: DataFrame): Unit =
    ViewStore.mergeKeyed(spark, path, batchId, df, "k")((_, in) => in)

  /** Rows with nullable, non-nullable, string and timestamp columns. */
  private def commitWide(path: String, batchId: Long, keys: Seq[Long]): Unit =
    replaceBuckets(path, batchId, keys.map { k =>
      (k, if (k % 3 == 0) None else Some(s"n$k"), new java.sql.Timestamp(1700000000000L + k))
    }.toDF("k", "name", "ts"))

  /** `spark.read.parquet` over the dirs the live manifest names. */
  private def readParquet(path: String, buckets: Option[Seq[Int]] = None) = {
    val m = ViewStore.readManifest(spark, path).get.buckets
    val rels = buckets.fold(m.values.toSeq)(_.flatMap(m.get))
    spark.read.parquet(rels.map(rel => s"$path/$rel"): _*)
  }

  private def assertSameAsParquet(
      got: org.apache.spark.sql.DataFrame, want: org.apache.spark.sql.DataFrame): Unit = {
    assert(got.schema == want.schema)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
    assert(rows(got) == rows(want))
  }

  test("touchedBuckets: the distinct buckets of the key column, sorted") {
    val df = (0L until 500L).toDF("k").repartition(7)
    val want = df.select(ViewStore.bucketOf(col("k"))).distinct().as[Long].collect()
      .map(_.toInt).sorted.toSeq
    assert(ViewStore.touchedBuckets(df, "k") == want)
    assert(ViewStore.touchedBuckets(df.limit(0), "k").isEmpty)
  }

  test("building read, readBuckets and readAt submits no Spark job") {
    val path = tmp()
    // enough keys to fill every bucket: more dirs than Spark's parallel
    // listing threshold (32)
    commitWide(path, 0L, 0L until 400L)
    val buckets = ViewStore.readManifest(spark, path).get.buckets
    assert(buckets.size > 32, s"precondition: ${buckets.size} buckets")
    val seq = ViewStore.snapshots(spark, path).last
    val sc = spark.sparkContext
    val group = s"viewstore-build-${System.nanoTime()}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "build ViewStore reads")
      val built = Seq(
        ViewStore.read(spark, path),
        ViewStore.readBuckets(spark, path, buckets.keys.toSeq.sorted.take(40)),
        ViewStore.readAt(spark, path, seq))
      assert(built.forall(_.isDefined))
      // listener events arrive in order: once this sentinel job is seen,
      // every job the builds submitted has been seen too
      sc.setJobGroup(group + "-sentinel", "sentinel")
      spark.range(1).collect()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!jobs.contains(group + "-sentinel") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(jobs.contains(group + "-sentinel"), "sentinel job never reported")
      assert(!jobs.contains(group), "building a ViewStore read submitted a Spark job")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("manifest reads equal spark.read.parquet over the same dirs: after commit, compact, purgeKeys") {
    val path = tmp()
    commitWide(path, 0L, 0L until 200L)
    // a commit replaces the buckets it touches: batch 1 carries every key
    commitWide(path, 1L, 0L until 260L)
    def check(stage: String): Unit = withClue(stage) {
      assertSameAsParquet(ViewStore.read(spark, path).get, readParquet(path))
      val some = ViewStore.readManifest(spark, path).get.buckets.keys.toSeq.sorted.take(5)
      assertSameAsParquet(ViewStore.readBuckets(spark, path, some).get,
        readParquet(path, Some(some)))
      assertSameAsParquet(
        ViewStore.readAt(spark, path, ViewStore.snapshots(spark, path).last).get, readParquet(path))
    }
    check("after commit")
    assert(ViewStore.read(spark, path).get.schema.map(_.name) == Seq("k", "name", "ts"))
    ViewStore.compact(spark, path, "k")
    check("after compact")
    assert(ViewStore.read(spark, path).get.count() == 260L)
    assert(ViewStore.purgeKeys(spark, path, "k", Seq(3L, 7L, 151L)) == 3L)
    check("after purgeKeys")
    assert(ViewStore.read(spark, path).get.count() == 257L)
  }

  test("time travel: each retained snapshot reads its own state") {
    val path = tmp()
    commitBatch(path, 0L, Seq((1L, 10L)))
    commitBatch(path, 1L, Seq((1L, 11L), (2L, 20L)))
    commitBatch(path, 2L, Seq((3L, 30L)))
    val seqs = ViewStore.snapshots(spark, path)
    assert(seqs == Seq(0L, 1L, 2L))
    val at0 = ViewStore.readAt(spark, path, 0L).get
      .select("k", "v").as[(Long, Long)].collect().toSet
    assert(at0 == Set((1L, 10L)))
    val at1 = ViewStore.readAt(spark, path, 1L).get
      .select("k", "v").as[(Long, Long)].collect().toSet
    assert(at1 == Set((1L, 11L), (2L, 20L)))
    val at2 = ViewStore.readAt(spark, path, 2L).get
      .select("k", "v").as[(Long, Long)].collect().toSet
    assert(at2 == Set((1L, 11L), (2L, 20L), (3L, 30L)))
  }

  test("retention: manifests beyond the window are GC'd, the rest stay readable") {
    val path = tmp()
    (0 until ViewStore.RetainManifests + 2).foreach { i =>
      commitBatch(path, i.toLong, Seq((i.toLong, i.toLong * 100)))
    }
    val seqs = ViewStore.snapshots(spark, path)
    assert(seqs.size == ViewStore.RetainManifests, s"retained: $seqs")
    assert(ViewStore.readAt(spark, path, 0L).isEmpty, "expired snapshot must be gone")
    // every retained snapshot still fully readable (its generations live)
    seqs.foreach { s =>
      assert(ViewStore.readAt(spark, path, s).get.count() > 0, s"snapshot $s unreadable")
    }
    // current read unaffected
    assert(ViewStore.read(spark, path).get.count() == (ViewStore.RetainManifests + 2).toLong)
  }

  test("compaction: same rows, one file per bucket, batchId preserved, then still appendable") {
    val path = tmp()
    // one batch spread over several write tasks → each bucket dir holds
    // SEVERAL parquet files (the accumulation compaction exists to fix)
    val rows = (0 until 60).map(i => ((i % 3).toLong, i.toLong))
    replaceBuckets(path, 0L, rows.toDF("k", "v").repartition(5))
    val before = ViewStore.read(spark, path).get
      .select("k", "v").as[(Long, Long)].collect().toSet
    // files per bucket in the LIVE manifest's dirs only (older snapshots
    // legitimately retain their own files until GC'd past retention)
    def bucketFiles(): Map[String, Int] =
      ViewStore.readManifest(spark, path).get.buckets.map { case (b, rel) =>
        val it = java.nio.file.Files.list(java.nio.file.Paths.get(path, rel))
        val n = try it.filter(_.toString.endsWith(".parquet")).count().toInt
        finally it.close()
        s"__bucket=$b" -> n
      }
    assert(bucketFiles().values.exists(_ > 1),
      s"precondition: some bucket must be multi-file, got ${bucketFiles()}")
    ViewStore.compact(spark, path, "k")
    assert(bucketFiles().values.forall(_ == 1),
      s"compaction must leave one file per bucket, got ${bucketFiles()}")
    assert(ViewStore.readManifest(spark, path).get.lastBatchId == 0L,
      "compaction must not advance the replay batchId")
    // still appendable after compaction; reads merge compacted + new gens
    commitBatch(path, 1L, Seq((100L, 100L)))
    val after = ViewStore.read(spark, path).get
      .select("k", "v").as[(Long, Long)].collect().toSet
    assert(after == before + ((100L, 100L)))
  }

  test("snapshotDiff: added/removed/changed keys between retained snapshots") {
    val path = tmp()
    commitBatch(path, 0L, Seq((1L, 10L), (2L, 20L), (3L, 30L)))
    // batch 1: key 1 changed, key 4 added, keys 2/3 untouched (their
    // buckets may still be rewritten — diff must compare VALUES, not dirs)
    commitBatch(path, 1L, Seq((1L, 11L), (2L, 20L), (3L, 30L), (4L, 40L)))
    val diff = ViewStore.snapshotDiff(spark, path, 0L, 1L, "k").get
      .as[(Long, String)].collect().toSet
    assert(diff == Set((1L, "c"), (4L, "a")), s"got $diff")
    // reverse direction flips add/remove
    val rev = ViewStore.snapshotDiff(spark, path, 1L, 0L, "k").get
      .as[(Long, String)].collect().toSet
    assert(rev == Set((1L, "c"), (4L, "r")))
    // GC'd snapshot → None
    assert(ViewStore.snapshotDiff(spark, path, 99L, 1L, "k").isEmpty)
  }

  test("compaction of an empty store is a no-op") {
    val path = tmp()
    ViewStore.compact(spark, path, "k") // no manifest — must not throw
    assert(ViewStore.readManifest(spark, path).isEmpty)
  }

  test("purgeKeys: rows gone, untouched buckets' files byte-stable, history truncated") {
    val path = tmp()
    commitBatch(path, 0L, Seq((1L, 10L), (2L, 20L), (3L, 30L)))
    commitBatch(path, 1L, Seq((4L, 40L)))
    assert(ViewStore.snapshots(spark, path).size == 2)
    // files of the buckets NOT containing key 2, before the purge
    val purgedBucket = Seq(2L).toDF("k")
      .select(ViewStore.bucketOf(col("k"))).as[Long].head().toInt
    def untouchedFiles(): Set[String] =
      ViewStore.readManifest(spark, path).get.buckets
        .collect { case (b, rel) if b != purgedBucket => rel }.toSet
    val before = untouchedFiles()
    val removed = ViewStore.purgeKeys(spark, path, "k", Seq(2L))
    assert(removed == 1L)
    val rows = ViewStore.read(spark, path).get
      .select("k", "v").as[(Long, Long)].collect().toSet
    assert(rows == Set((1L, 10L), (3L, 30L), (4L, 40L)))
    // untouched buckets keep their exact generation dirs (no full rewrite)
    assert(untouchedFiles() == before)
    // erasure must not survive via time travel: only the purge snapshot lives
    val seqs = ViewStore.snapshots(spark, path)
    assert(seqs.size == 1, s"history must be truncated, got $seqs")
    assert(ViewStore.readAt(spark, path, seqs.head).get
      .filter(col("k") === 2L).isEmpty)
    // replay bookkeeping unaffected
    assert(ViewStore.readManifest(spark, path).get.lastBatchId == 1L)
    // still appendable after a purge
    commitBatch(path, 2L, Seq((5L, 50L)))
    assert(ViewStore.read(spark, path).get.count() == 4L)
  }

  test("purgeKeys crash window: flip published, retire+gc lost — re-invocation completes, no snapshot resurrects purged rows") {
    val path = tmp()
    commitBatch(path, 0L, Seq((1L, 10L), (2L, 20L), (3L, 30L)))
    commitBatch(path, 1L, Seq((4L, 40L)))
    val m = ViewStore.readManifest(spark, path).get
    // Hand-build the exact on-disk state of a crash BETWEEN the purged
    // manifest's publication and the retire+gc of the pre-purge snapshot,
    // replicating purgeKeys's own steps: history truncated to the current
    // manifest, touched bucket rewritten into a purge generation, new
    // manifest flipped in — then "crash" (skip retire + gc), leaving the
    // pre-purge manifest and its generation dirs orphaned on disk.
    val f = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(path)
    ViewStore.snapshots(spark, path).dropRight(1).foreach { s =>
      f.delete(new org.apache.hadoop.fs.Path(root, f"MANIFEST-$s%020d"), false)
    }
    val touchedB = Seq(2L).toDF("k")
      .select(ViewStore.bucketOf(col("k")).as("b")).as[Long].collect()
      .map(_.toInt).toSet.filter(m.buckets.contains)
    val kept = ViewStore.readBuckets(spark, path, touchedB.toSeq).get
      .filter(col("k") =!= 2L)
      .withColumn("__bucket", ViewStore.bucketOf(col("k")))
    val genRel = f"purge-${m.seq + 1}%020d"
    kept.write.mode("overwrite").partitionBy("__bucket").parquet(s"$path/$genRel")
    val rewritten = touchedB.toSeq.flatMap { b =>
      val rel = s"$genRel/__bucket=$b"
      if (f.exists(new org.apache.hadoop.fs.Path(root, rel))) Some(b -> rel) else None
    }.toMap
    ViewStore.writeManifest(f, root,
      ViewStore.Manifest(m.seq + 1, m.lastBatchId,
        (m.entries -- touchedB.map(_.toString)) ++ rewritten.map { case (b, rel) => b.toString -> rel }))
    // ---- crash here: both manifests live ----
    assert(ViewStore.snapshots(spark, path).contains(m.seq),
      "crash state must still hold the pre-purge manifest")
    // the flip IS the commit point: the live read is already purged
    assert(!ViewStore.read(spark, path).get
      .select("k").as[Long].collect().contains(2L))
    // re-invocation (the documented recovery contract) completes the purge
    assert(ViewStore.purgeKeys(spark, path, "k", Seq(2L)) == 0L,
      "no row can be removed twice")
    val seqs = ViewStore.snapshots(spark, path)
    assert(!seqs.contains(m.seq),
      s"re-invocation must retire the pre-purge snapshot, got $seqs")
    seqs.foreach { s =>
      val ks = ViewStore.readAt(spark, path, s).get
        .select("k").as[Long].collect().toSet
      assert(!ks.contains(2L), s"snapshot $s resurrects the purged key")
    }
    assert(ViewStore.read(spark, path).get
      .select("k", "v").as[(Long, Long)].collect().toSet ==
      Set((1L, 10L), (3L, 30L), (4L, 40L)))
    // and the view is still appendable afterwards
    commitBatch(path, 2L, Seq((5L, 50L)))
    assert(ViewStore.read(spark, path).get.count() == 4L)
  }

  test("purgeKeys: null-keyed rows survive unrelated purges; explicit null purge removes them") {
    val path = tmp()
    // a null key hashes to a fixed bucket (xxhash64 leaves the seed);
    // pick a NON-null key in that same bucket so an unrelated purge
    // rewrites the null row's bucket — the case a bare isin() silently eats
    val nullBucket = Seq(Option.empty[Long]).toDF("k")
      .select(ViewStore.bucketOf(col("k"))).as[Long].head().toInt
    val sharer = spark.range(0, 100000)
      .filter(ViewStore.bucketOf(col("id")) === nullBucket.toLong)
      .as[Long].head()
    replaceBuckets(path, 0L, Seq((Option.empty[Long], 1L), (Some(sharer), 2L)).toDF("k", "v"))
    // purge the sharer: exactly one row removed, the null row must remain
    assert(ViewStore.purgeKeys(spark, path, "k", Seq(sharer)) == 1L)
    val left = ViewStore.read(spark, path).get.select("v").as[Long].collect().toSet
    assert(left == Set(1L), s"null-keyed row must survive, got $left")
    // an explicit null in the purge list removes null-keyed rows
    assert(ViewStore.purgeKeys(spark, path, "k", Seq(null)) == 1L)
    assert(ViewStore.read(spark, path).isEmpty ||
      ViewStore.read(spark, path).get.isEmpty)
  }

  test("purgeKeys: typed keys whose toString does not round-trip (binary) hit the right bucket") {
    val path = tmp()
    val k1 = Array[Byte](1, 2, 3)
    replaceBuckets(path, 0L, Seq((k1, 10L), (Array[Byte](9, 9), 20L)).toDF("k", "v"))
    // Array[Byte].toString is "[B@<hash>" — a string-cast probe would miss
    // the bucket entirely and report 0 removed
    assert(ViewStore.purgeKeys(spark, path, "k", Seq(k1)) == 1L)
    val left = ViewStore.read(spark, path).get.select("v").as[Long].collect().toSet
    assert(left == Set(20L))
  }

  test("manifest CAS: a stale writer's flip is rejected, the winner's state survives") {
    val path = tmp()
    commitBatch(path, 0L, Seq((1L, 10L)))
    val f = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(path)
    val m = ViewStore.readManifest(spark, path).get
    // two writers both read seq 0 and race to publish seq 1: the winner...
    ViewStore.writeManifest(f, root, m.copy(seq = m.seq + 1, lastBatchId = 99L))
    // ...and the loser, which must throw rather than shadow the winner
    intercept[java.util.ConcurrentModificationException] {
      ViewStore.writeManifest(f, root, m.copy(seq = m.seq + 1, lastBatchId = 7L))
    }
    assert(ViewStore.readManifest(spark, path).get.lastBatchId == 99L,
      "the winning writer's manifest must be untouched")
  }

  test("manifest CAS under true concurrency: one winner per seq, never a torn read") {
    // round-6 VERDICT #8: extends the sequential stale-flip case to real
    // threads. 8 writers release on a latch and race the SAME seq; the
    // local-FS publish is link(2)-atomic, so exactly one must win, and a
    // reader polling throughout must always parse a complete manifest.
    // Run on a keyed view and on a snapshot maintainer's state path.
    val view = tmp()
    commitBatch(view, 0L, Seq((1L, 10L)))
    val state = tmp()
    commitSnapshot(state, 0L, Seq(1L).toDF("x"))
    Seq(view, state).foreach(path => withClue(path)(raceFlips(path)))
  }

  /** Ten rounds of eight writers racing one seq on `path`'s manifest,
    * with a reader parsing the live manifest throughout. */
  private def raceFlips(path: String): Unit = {
    val f = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(path)
    val tornReads = new java.util.concurrent.atomic.AtomicInteger
    val stopReader = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      while (!stopReader.get()) {
        try {
          ViewStore.readManifest(spark, path).foreach { m =>
            if (m.entries.isEmpty && m.seq > 0L) tornReads.incrementAndGet()
          }
        } catch { case _: Throwable => tornReads.incrementAndGet() }
      }
    })
    reader.start()
    try {
      (1 to 10).foreach { round =>
        val m = ViewStore.readManifest(spark, path).get
        val latch = new java.util.concurrent.CountDownLatch(1)
        val wins = new java.util.concurrent.atomic.AtomicInteger
        val losers = new java.util.concurrent.atomic.AtomicInteger
        val threads = (0 until 8).map { i =>
          new Thread(() => {
            latch.await()
            try {
              ViewStore.writeManifest(
                f, root, m.copy(seq = m.seq + 1, lastBatchId = 1000L * round + i))
              wins.incrementAndGet(); ()
            } catch {
              case _: java.util.ConcurrentModificationException =>
                losers.incrementAndGet(); ()
            }
          })
        }
        threads.foreach(_.start()); latch.countDown(); threads.foreach(_.join())
        assert(wins.get() == 1,
          s"round $round: exactly one flip must win (got ${wins.get()} winners, " +
            s"${losers.get()} losers) — two winners means a generation was silently shadowed")
        assert(losers.get() == 7, s"round $round: the other 7 must lose loudly")
        val after = ViewStore.readManifest(spark, path).get
        assert(after.seq == m.seq + 1)
        assert(after.lastBatchId >= 1000L * round && after.lastBatchId < 1000L * round + 8,
          "the surviving manifest must be one racer's complete write")
      }
    } finally { stopReader.set(true); reader.join() }
    assert(tornReads.get() == 0, s"reader observed ${tornReads.get()} torn/invalid manifests")
  }

  test("purgeKeys: purging a whole bucket drops it from the manifest; no-ops are safe") {
    val path = tmp()
    assert(ViewStore.purgeKeys(spark, path, "k", Seq(1L)) == 0L) // no store yet
    commitBatch(path, 0L, Seq((7L, 70L)))
    assert(ViewStore.purgeKeys(spark, path, "k", Seq.empty) == 0L)
    assert(ViewStore.purgeKeys(spark, path, "k", Seq(999L)) == 0L,
      "key in an existing bucket but absent — nothing removed")
    val removed = ViewStore.purgeKeys(spark, path, "k", Seq(7L))
    assert(removed == 1L)
    assert(ViewStore.read(spark, path).isEmpty ||
      ViewStore.read(spark, path).get.isEmpty)
    assert(!ViewStore.readManifest(spark, path).get.buckets.keySet
      .contains(Seq(7L).toDF("k").select(ViewStore.bucketOf(col("k")))
        .as[Long].head().toInt))
  }

  /** One mergeKeyed batch of (k, v) rows whose combine keeps the max v
    * per key, counting its calls in `calls`. */
  private def mergeMax(path: String, batchId: Long, rows: Seq[(Long, Long)],
      calls: java.util.concurrent.atomic.AtomicInteger): Unit = {
    val incoming = rows.toDF("k", "v")
    ViewStore.mergeKeyed(spark, path, batchId, incoming, "k") { (existing, in) =>
      calls.incrementAndGet()
      existing.fold(in)(_.unionByName(in).groupBy("k").agg(max("v").as("v")))
    }
  }

  private def kv(path: String): Set[(Long, Long)] =
    ViewStore.read(spark, path).get.select("k", "v").as[(Long, Long)].collect().toSet

  test("mergeKeyed: incoming is evaluated once per batch and released after the call") {
    val path = tmp()
    val evals = spark.sparkContext.longAccumulator("mergekeyed-evals")
    def counted(rows: Seq[(Long, Long)]) = {
      val df = rows.toDF("k", "v")
      df.map { r => evals.add(1); r }(org.apache.spark.sql.Encoders.row(df.schema))
    }
    Seq(Seq((1L, 10L), (2L, 20L), (3L, 30L)), Seq((2L, 5L), (4L, 40L))).zipWithIndex.foreach {
      case (rows, batchId) =>
        val before = evals.value
        val incoming = counted(rows)
        ViewStore.mergeKeyed(spark, path, batchId.toLong, incoming, "k") { (existing, in) =>
          existing.fold(in)(_.unionByName(in).groupBy("k").agg(max("v").as("v")))
        }
        assert(evals.value - before == rows.size, s"batch $batchId")
        assert(incoming.storageLevel == org.apache.spark.storage.StorageLevel.NONE, "incoming left cached")
    }
    assert(kv(path) == Set((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)))
  }

  test("mergeKeyed: a replayed batchId never calls combine") {
    val path = tmp()
    val calls = new java.util.concurrent.atomic.AtomicInteger()
    mergeMax(path, 0L, Seq((1L, 10L), (2L, 20L)), calls)
    val m = ViewStore.readManifest(spark, path)
    mergeMax(path, 0L, Seq((1L, 99L)), calls)
    assert(calls.get == 1, "a replayed batch reached combine")
    assert(ViewStore.readManifest(spark, path) == m)
    assert(kv(path) == Set((1L, 10L), (2L, 20L)))
  }

  test("mergeKeyed: an empty batch records its batchId and writes no generation") {
    val path = tmp()
    val calls = new java.util.concurrent.atomic.AtomicInteger()
    mergeMax(path, 0L, Seq((1L, 10L)), calls)
    val before = ViewStore.readManifest(spark, path).get
    mergeMax(path, 1L, Seq.empty, calls)
    assert(calls.get == 1, "an empty batch reached combine")
    val after = ViewStore.readManifest(spark, path).get
    assert(after.lastBatchId == 1L && after.buckets == before.buckets)
    assert(!new java.io.File(path, "gen-1").exists(), "an empty batch wrote a generation")
    assert(kv(path) == Set((1L, 10L)))
  }

  test("mergeKeyed: combine sees exactly the touched buckets' rows, without the bucket column") {
    val path = tmp()
    val calls = new java.util.concurrent.atomic.AtomicInteger()
    mergeMax(path, 0L, (0L until 200L).map(k => (k, k)), calls)
    val incoming = Seq((3L, 1000L), (150L, 1L), (500L, 5L)).toDF("k", "v")
    val touched = ViewStore.touchedBuckets(incoming, "k").map(_.toLong)
    assert(touched.size < ViewStore.NumBuckets, s"precondition: $touched")
    val want = (0L until 200L).toDF("k")
      .where(ViewStore.bucketOf(col("k")).isin(touched: _*)).as[Long].collect().toSet
    var seen = Option.empty[org.apache.spark.sql.DataFrame]
    ViewStore.mergeKeyed(spark, path, 1L, incoming, "k") { (existing, in) =>
      seen = existing
      existing.get.unionByName(in).groupBy("k").agg(max("v").as("v"))
    }
    assert(seen.get.columns.toSeq == Seq("k", "v"))
    assert(seen.get.select("k").as[Long].collect().toSet == want)
    assert(kv(path) == (0L until 200L).map(k => (k, if (k == 3L) 1000L else k)).toSet + ((500L, 5L)))
  }

  test("mergeKeyed: a combine that throws, or whose rows fail to write, leaves the manifest unchanged") {
    val path = tmp()
    val calls = new java.util.concurrent.atomic.AtomicInteger()
    mergeMax(path, 0L, Seq((1L, 10L), (2L, 20L)), calls)
    val before = ViewStore.readManifest(spark, path)
    val incoming = Seq((1L, 11L)).toDF("k", "v")
    intercept[IllegalStateException] {
      ViewStore.mergeKeyed(spark, path, 1L, incoming, "k")((_, _) => throw new IllegalStateException("boom"))
    }
    assert(ViewStore.readManifest(spark, path) == before)
    intercept[Exception] {
      ViewStore.mergeKeyed(spark, path, 1L, incoming, "k")(
        (_, in) => in.withColumn("v", expr("CAST(raise_error('boom') AS BIGINT)")))
    }
    assert(ViewStore.readManifest(spark, path) == before)
    assert(kv(path) == Set((1L, 10L), (2L, 20L)))
    // the re-delivery applies
    mergeMax(path, 1L, Seq((1L, 11L)), calls)
    assert(kv(path) == Set((1L, 11L), (2L, 20L)))
  }

  /** One snapshot batch whose step makes `rows` the whole snapshot. */
  private def commitSnapshot(state: String, batchId: Long, rows: DataFrame): Unit =
    ViewStore.commitSnapshot(state, rows, batchId)(b => Map(ViewStore.Snapshot -> b))

  /** A generation dir as a crashed write leaves it: written, never flipped to. */
  private def orphan(state: String, rel: String): Unit = {
    val d = new java.io.File(state, rel)
    assert(d.mkdirs())
    java.nio.file.Files.writeString(new java.io.File(d, "part-0.parquet").toPath, "x")
  }

  private def children(dir: java.io.File): Set[String] =
    Option(dir.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(_.isDirectory).map(_.getName).toSet

  private def gens(state: String): Set[String] =
    children(new java.io.File(state)).filter(_.startsWith("gen-"))

  private def ints(df: DataFrame): Set[Long] = df.collect().map(_.getLong(0)).toSet

  private def snapshotInts(state: String): Set[Long] =
    ints(ViewStore.readSnapshot(spark, state).get)

  test("snapshot: an orphan generation is swept, the previous snapshot kept") {
    val state = tmp()
    commitSnapshot(state, 0L, spark.range(1).toDF("x"))
    commitSnapshot(state, 1L, spark.range(2).toDF("x"))
    // crash window: a generation written, its flip never happened
    orphan(state, s"gen-7/${ViewStore.Snapshot}")
    commitSnapshot(state, 2L, spark.range(3).toDF("x"))
    assert(!gens(state).contains("gen-7"),
      s"orphan gen-7 (no manifest references it, no reader can hold it) must be swept; live=${gens(state)}")
    // the flipped-from generation survives: a reader that resolved the
    // manifest just before the flip may still scan it
    assert(gens(state) == Set("gen-0", "gen-1", "gen-2"))
    assert(ints(ViewStore.readAt(spark, state, 1L).get) == Set(0L, 1L))
    commitSnapshot(state, 3L, spark.range(4).toDF("x"))
    assert(gens(state) == Set("gen-1", "gen-2", "gen-3"),
      s"a generation older than the RetainManifests window must be swept; live=${gens(state)}")
    assert(snapshotInts(state) == (0L until 4L).toSet)
  }

  test("snapshot: the first commit sweeps orphans of a crashed first write") {
    val state = tmp()
    // a run that died before its first flip: another batch's generation,
    // and a task's leftovers inside the one the re-delivery rewrites
    orphan(state, s"gen-5/${ViewStore.Snapshot}")
    orphan(state, "gen-0/_temporary/0")
    commitSnapshot(state, 0L, spark.range(3).toDF("x"))
    assert(gens(state) == Set("gen-0"), s"only the first committed generation may remain")
    assert(children(new java.io.File(state, "gen-0")) == Set(ViewStore.Snapshot))
    assert(snapshotInts(state) == Set(0L, 1L, 2L))
  }

  test("snapshot: a replayed or empty batch never calls the step") {
    val state = tmp()
    val batch = spark.range(3).toDF("x")
    var calls = 0
    def step(b: DataFrame): Map[String, DataFrame] = { calls += 1; Map(ViewStore.Snapshot -> b) }
    ViewStore.commitSnapshot(state, batch, 0L)(step)
    assert(calls == 1 && ViewStore.readManifest(spark, state).get.lastBatchId == 0L)
    ViewStore.commitSnapshot(state, batch, 0L)(step) // exact re-delivery
    ViewStore.commitSnapshot(state, batch.limit(0), 1L)(step) // empty batch
    assert(calls == 1, "a replayed or empty batch reached the step")
    // as in mergeKeyed, the empty batch records its batchId and writes no generation
    assert(ViewStore.readManifest(spark, state).get.lastBatchId == 1L)
    assert(gens(state) == Set("gen-0"), "an empty batch wrote a generation")
    assert(snapshotInts(state) == Set(0L, 1L, 2L))
  }

  test("snapshot: a failed step leaves the manifest and snapshot unchanged") {
    val state = tmp()
    val batch = spark.range(3).toDF("x")
    commitSnapshot(state, 0L, batch)
    val before = ViewStore.readManifest(spark, state)
    intercept[IllegalStateException] {
      ViewStore.commitSnapshot(state, batch, 1L)(_ => throw new IllegalStateException("step died"))
    }
    assert(ViewStore.readManifest(spark, state) == before)
    // rows that die mid-write: the generation is half-written, never flipped to
    intercept[Exception] {
      ViewStore.commitSnapshot(state, batch, 1L)(_ => Map(ViewStore.Snapshot ->
        spark.range(10).toDF("x")
          .withColumn("x", expr("CASE WHEN x < 9 THEN x ELSE CAST(raise_error('writer died') AS BIGINT) END"))))
    }
    assert(ViewStore.readManifest(spark, state) == before)
    assert(snapshotInts(state) == Set(0L, 1L, 2L))
    // the re-delivery of the failed batch applies
    commitSnapshot(state, 1L, spark.range(5).toDF("x"))
    assert(ViewStore.readManifest(spark, state).get.lastBatchId == 1L)
    assert(snapshotInts(state) == (0L until 5L).toSet)
  }

  test("snapshot: none before the first commit, named parts read back after") {
    val state = tmp()
    assert(ViewStore.readSnapshot(spark, state).isEmpty)
    val batch = spark.range(4).toDF("x")
    ViewStore.commitSnapshot(state, batch, 0L)(b => Map("a" -> b, "b" -> b.filter("x < 2")))
    assert(ints(ViewStore.readSnapshot(spark, state, "a").get) == Set(0L, 1L, 2L, 3L))
    assert(ints(ViewStore.readSnapshot(spark, state, "b").get) == Set(0L, 1L))
    assert(ViewStore.readSnapshot(spark, state).isEmpty, "no default part was written")
  }

  test("snapshot: a maintainer on a file: URI state path runs and serves its snapshot") {
    val state = "file://" + tmp()
    val ms = MemoryStream[String]
    val q = SketchStream.maintain(ms.toDS().toDF("token"), state, tmp())
    try {
      ms.addData(Seq("a", "a", "b")); q.processAllAvailable()
      ms.addData(Seq("a")); q.processAllAvailable()
    } finally q.stop()
    // every occurrence adds 1 to one cell per sketch row
    assert(SketchStream.cellsSnapshot(spark, state).agg(sum("cell")).as[Long].head() ==
      4L * graft.ops.CountMin.DefaultDepth)
    assert(ViewStore.readManifest(spark, state).get.lastBatchId == 1L)
  }

  test("snapshot: a state path in the older _CURRENT pointer format is refused loudly") {
    val state = tmp()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(state, "_CURRENT"), "0:gen-1700000000000-0")
    spark.range(3).toDF("r").write.parquet(s"$state/gen-1700000000000-0")
    def refused(what: String)(body: => Any): Unit = withClue(what) {
      val e = intercept[Exception](body)
      val cause = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case i: IllegalStateException => i }
      assert(cause.exists(_.getMessage.contains("fresh state path and a fresh checkpoint")), e)
    }
    refused("first read")(SketchStream.cellsSnapshot(spark, state))
    val ms = MemoryStream[String]
    val q = SketchStream.maintain(ms.toDS().toDF("token"), state, tmp())
    try {
      ms.addData(Seq("a"))
      refused("first batch")(q.processAllAvailable())
    } finally q.stop()
    assert(!new java.io.File(state, "gen-0").exists(), "a refused batch wrote a generation")
  }

  // ---- bucket-pruned point reads ----

  /** The scan of an executed read: files it opened. */
  private def scannedFiles(df: DataFrame): Long =
    collectAllPlans(executedPlan(df)).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s.metrics("numFiles").value
    }.sum

  /** Parquet files under the live manifest's dirs of `buckets` (all if None). */
  private def liveFiles(path: String, buckets: Option[Seq[Int]] = None): Long = {
    val m = ViewStore.readManifest(spark, path).get.buckets
    buckets.fold(m.values.toSeq)(_.flatMap(m.get)).map { rel =>
      val it = java.nio.file.Files.list(java.nio.file.Paths.get(path, rel))
      try it.filter(_.toString.endsWith(".parquet")).count() finally it.close()
    }.sum
  }

  private def bucketOfKey(k: Column): Int =
    spark.range(1).select(ViewStore.bucketOf(k)).as[Long].head().toInt

  private def sortedRows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  test("pruning property: a key-filtered read returns the rows of an unpruned read") {
    val rnd = new scala.util.Random(20261020L)
    Seq("long", "string").foreach { keyType =>
      withClue(keyType) {
        val path = tmp()
        def key(i: Long): Column = if (keyType == "long") lit(i) else lit(s"key-$i")
        val keys = (0 until 300).map(_ => rnd.nextInt(1000).toLong).distinct
        // null keys ride in their own bucket; several write tasks per batch
        val rows = keys.map(k => (Option(k), k * 7)) :+ ((Option.empty[Long], -1L))
        val df = rows.toDF("k0", "v").repartition(3)
          .select((if (keyType == "long") col("k0") else concat(lit("key-"), col("k0"))).as("k"), col("v"))
        replaceBuckets(path, 0L, df)
        replaceBuckets(path, 1L, df.where(col("v") % 2 === 0).withColumn("v", col("v") + 1))
        val full = readParquet(path)
        def someKeys(n: Int): Seq[Long] = Seq.fill(n)(if (rnd.nextBoolean()) keys(rnd.nextInt(keys.size)) else 1000L + rnd.nextInt(100))
        (0 until 24).foreach { i =>
          val ks = someKeys(1 + rnd.nextInt(16))
          val filter = i % 6 match {
            case 0 => col("k") === key(ks.head)
            case 1 => col("k").isin(ks.take(4).map(k => if (keyType == "long") k else s"key-$k"): _*)
            // more than 10 distinct values: the optimizer makes an InSet
            case 2 => col("k").isin((ks ++ (5000L until 5012L)).map(k => if (keyType == "long") k else s"key-$k"): _*)
            case 3 => col("k") <=> key(ks.head)
            case 4 => col("k") <=> lit(null).cast(if (keyType == "long") "bigint" else "string")
            case _ => col("k").isin(ks.take(3).map(k => if (keyType == "long") k else s"key-$k"): _*) && col("k") === key(ks.head)
          }
          withClue(filter) {
            assert(sortedRows(ViewStore.read(spark, path).get.where(filter)) == sortedRows(full.where(filter)))
          }
        }
      }
    }
  }

  test("pruning: a point read opens only its key's bucket's files") {
    val path = tmp()
    replaceBuckets(path, 0L, (0L until 400L).map(k => (k, k)).toDF("k", "v").repartition(3))
    val b = bucketOfKey(lit(42L))
    assert(liveFiles(path, Some(Seq(b))) < liveFiles(path), "precondition: more than one bucket")
    val read = ViewStore.read(spark, path).get.where(col("k") === 42L)
    assert(scannedFiles(read) == liveFiles(path, Some(Seq(b))))
    assert(read.select("v").as[Long].collect().toSeq == Seq(42L))
    // inputFiles and the size estimate stay those of the whole view
    assert(read.inputFiles.length == liveFiles(path))
  }

  test("pruning: a manifest written without keyCol reads every file") {
    val path = tmp()
    replaceBuckets(path, 0L, (0L until 400L).map(k => (k, k)).toDF("k", "v"))
    val f = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val m = ViewStore.readManifest(spark, path).get
    assert(m.keyCol.contains("k"))
    ViewStore.writeManifest(f, new org.apache.hadoop.fs.Path(path), m.copy(seq = m.seq + 1, keyCol = None))
    val read = ViewStore.read(spark, path).get.where(col("k") === 42L)
    assert(scannedFiles(read) == liveFiles(path))
    assert(read.select("v").as[Long].collect().toSeq == Seq(42L))
    // the next commit writes the line back
    commitBatch(path, 1L, Seq((1000L, 1L)))
    assert(ViewStore.readManifest(spark, path).get.keyCol.contains("k"))
  }

  test("pruning: a Double key and a collated-string key are never pruned") {
    val dbl = tmp()
    // -0.0 = 0.0 in SQL, but the two hash apart
    replaceBuckets(dbl, 0L, ((0 until 200).map(i => (i.toDouble, i.toLong)) :+ ((-0.0, -1L))).toDF("k", "v"))
    val zero = ViewStore.read(spark, dbl).get.where(col("k") === 0.0)
    assert(scannedFiles(zero) == liveFiles(dbl))
    assert(zero.select("v").as[Long].collect().toSet == Set(0L, -1L))
    val lcase = tmp()
    replaceBuckets(lcase, 0L, (0 until 200).map(i => (s"Key-$i", i.toLong)).toDF("k0", "v")
      .select(expr("collate(k0, 'UTF8_LCASE')").as("k"), col("v")))
    val viewRead = ViewStore.read(spark, lcase).get
    assert(viewRead.schema("k").dataType != org.apache.spark.sql.types.StringType, "precondition: collated")
    val hit = viewRead.where(col("k") === "KEY-7")
    assert(scannedFiles(hit) == liveFiles(lcase))
    assert(hit.select("v").as[Long].collect().toSeq == Seq(7L))
  }

  test("manifest text round-trips, with and without keyCol") {
    val path = tmp()
    val f = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(path)
    val keyed = ViewStore.Manifest(0L, 7L, Map("3" -> "gen-7/__bucket=3", "12" -> "gen-5/__bucket=12"), Some("transactionId"))
    ViewStore.writeManifest(f, root, keyed)
    assert(ViewStore.readManifest(spark, path).get == keyed)
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path, "MANIFEST-00000000000000000000")), "UTF-8")
    assert(text == "batchId=7\nkeyCol=transactionId\n3=gen-7/__bucket=3\n12=gen-5/__bucket=12\n")
    val plain = ViewStore.Manifest(1L, 8L, Map(ViewStore.Snapshot -> "gen-8/snapshot"))
    ViewStore.writeManifest(f, root, plain)
    assert(ViewStore.readManifest(spark, path).get == plain)
  }

  test("mergeKeyed: a 25-partition batch runs no stage wider than the cores") {
    val path = tmp()
    val sc = spark.sparkContext
    val group = s"viewstore-width-${System.nanoTime()}"
    val widths = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        widths.add(Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull -> e.stageInfo.numTasks)
    }
    // one input partition per row, as a MemoryStream gives one per addData
    def batch(from: Long) = sc.parallelize((from until from + 25L).map(k => (k, k)), 25).toDF("k", "v")
    assert(batch(0L).rdd.getNumPartitions == 25)
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "mergeKeyed width")
      // on an empty view and over a written one; a combine that builds on
      // the batch alone (a union with the stored rows adds their scan's
      // partitions, which the batch does not decide)
      ViewStore.mergeKeyed(spark, path, 0L, batch(0L), "k")((_, in) => in)
      ViewStore.mergeKeyed(spark, path, 1L, batch(10L), "k")((_, in) => in.where(col("k") < 25L))
      // listener events arrive in order: once this sentinel stage is seen,
      // every stage of the merges has been seen too
      sc.setJobGroup(group + "-sentinel", "sentinel")
      spark.range(1).collect()
      def all = scala.jdk.CollectionConverters.IteratorHasAsScala(widths.iterator()).asScala.toSeq
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!all.exists(_._1 == group + "-sentinel") && System.nanoTime() < deadline) Thread.sleep(10)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    val seen = scala.jdk.CollectionConverters.IteratorHasAsScala(widths.iterator()).asScala.toSeq
      .collect { case (g, n) if g == group => n }
    assert(seen.nonEmpty)
    assert(seen.forall(_ <= sc.defaultParallelism), s"stage widths $seen, cores ${sc.defaultParallelism}")
    assert(kv(path).filter(_._1 >= 10L) == (10L until 25L).map(k => (k, k)).toSet)
  }
}
