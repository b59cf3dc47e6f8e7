package graft.streaming

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** ViewStore snapshot retention, time travel, and compaction — the
  * plain-parquet twin of a table format's snapshot/OPTIMIZE surface. */
class ViewStoreSpec extends SparkSpec {

  import spark.implicits._

  private def tmp() =
    java.nio.file.Files.createTempDirectory("graft-viewstore").toString

  /** Commit (key, value) rows as one batch via the public commit API. */
  private def commitBatch(path: String, batchId: Long, rows: Seq[(Long, Long)]): Unit = {
    val df = rows.toDF("k", "v").withColumn("__bucket", ViewStore.bucketOf(col("k")))
    val touched = df.select("__bucket").distinct().as[Long].collect().map(_.toInt)
    ViewStore.commit(spark, path, df, touched.toSeq, batchId)
  }

  /** Rows with nullable, non-nullable, string and timestamp columns. */
  private def commitWide(path: String, batchId: Long, keys: Seq[Long]): Unit = {
    val df = keys.map { k =>
      (k, if (k % 3 == 0) None else Some(s"n$k"), new java.sql.Timestamp(1700000000000L + k))
    }.toDF("k", "name", "ts").withColumn("__bucket", ViewStore.bucketOf(col("k")))
    ViewStore.commit(spark, path, df, ViewStore.touchedBuckets(df, "k"), batchId)
  }

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
    val df = rows.toDF("k", "v")
      .withColumn("__bucket", ViewStore.bucketOf(col("k")))
      .repartition(5)
    val touched = df.select("__bucket").distinct().as[Long].collect().map(_.toInt)
    ViewStore.commit(spark, path, df, touched.toSeq, 0L)
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
      ViewStore.Manifest(m.seq + 1, m.lastBatchId, (m.buckets -- touchedB) ++ rewritten))
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
    val df = Seq((Option.empty[Long], 1L), (Some(sharer), 2L)).toDF("k", "v")
      .withColumn("__bucket", ViewStore.bucketOf(col("k")))
    val touched = df.select("__bucket").distinct().as[Long].collect().map(_.toInt)
    ViewStore.commit(spark, path, df, touched.toSeq, 0L)
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
    val df = Seq((k1, 10L), (Array[Byte](9, 9), 20L)).toDF("k", "v")
      .withColumn("__bucket", ViewStore.bucketOf(col("k")))
    val touched = df.select("__bucket").distinct().as[Long].collect().map(_.toInt)
    ViewStore.commit(spark, path, df, touched.toSeq, 0L)
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
    val path = tmp()
    commitBatch(path, 0L, Seq((1L, 10L)))
    val f = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(path)
    val tornReads = new java.util.concurrent.atomic.AtomicInteger
    val stopReader = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      while (!stopReader.get()) {
        try {
          ViewStore.readManifest(spark, path).foreach { m =>
            if (m.buckets.isEmpty && m.seq > 0L) tornReads.incrementAndGet()
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
    ViewStore.mergeKeyed(spark, path, batchId, incoming, "k") { existing =>
      calls.incrementAndGet()
      existing.fold(incoming)(_.unionByName(incoming).groupBy("k").agg(max("v").as("v")))
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
        ViewStore.mergeKeyed(spark, path, batchId.toLong, incoming, "k") { existing =>
          existing.fold(incoming)(_.unionByName(incoming).groupBy("k").agg(max("v").as("v")))
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
    ViewStore.mergeKeyed(spark, path, 1L, incoming, "k") { existing =>
      seen = existing
      existing.get.unionByName(incoming).groupBy("k").agg(max("v").as("v"))
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
      ViewStore.mergeKeyed(spark, path, 1L, incoming, "k")(_ => throw new IllegalStateException("boom"))
    }
    assert(ViewStore.readManifest(spark, path) == before)
    intercept[Exception] {
      ViewStore.mergeKeyed(spark, path, 1L, incoming, "k")(
        _ => incoming.withColumn("v", expr("CAST(raise_error('boom') AS BIGINT)")))
    }
    assert(ViewStore.readManifest(spark, path) == before)
    assert(kv(path) == Set((1L, 10L), (2L, 20L)))
    // the re-delivery applies
    mergeMax(path, 1L, Seq((1L, 11L)), calls)
    assert(kv(path) == Set((1L, 11L), (2L, 20L)))
  }
}
