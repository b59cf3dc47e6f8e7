package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Driver-run benchmark: one JSON line with per-query wall seconds at
  * `SPARK_GRAFT_SF_DIR`.
  *
  * Each query is first executed once at the smallest scale factor
  * (sf0.001) to pay Janino/whole-stage-codegen compilation and class
  * loading up front — Spark caches generated classes by source text, so
  * the warm-up compiles exactly the code the measured run reuses. What's
  * timed at the target SF is execution, not compiler latency (cold-start
  * dominated small-SF numbers by 5×: q22 5.0 s cold vs 0.9 s warm).
  */
object Bench {
  /** Smallest scale factor: where every timed run warms its codegen. */
  val WarmupDir = "/root/testdata/sf0.001"

  /** One-line JVM health snapshot: cumulative GC and JIT compilation time
    * plus CodeHeap occupancy. The round-2 driver run degraded uniformly
    * from q43 onward (plain star joins at 10-20× their local cost, stream
    * throughput 4× down) — the signature of a JVM-wide condition
    * (code-cache exhaustion disabling the JIT, or GC thrash), not a
    * per-query plan problem. Recorded per section INTO the emitted
    * artifact ("diag") — round 4 showed the same late-run signature and
    * the stderr-only diag left the official record unattributable. */
  private def jvmDiag(): String = {
    import java.lang.management.ManagementFactory
    import scala.jdk.CollectionConverters._
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
    val compMs = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed >> 20
    val code = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName.startsWith("CodeHeap"))
      .map(p => s"${p.getName.stripPrefix("CodeHeap '").stripSuffix("'")}=" +
        s"${p.getUsage.getUsed >> 20}/${p.getUsage.getMax >> 20}MB")
      .mkString(" ")
    // CUMULATIVE host steal/total jiffies: deltas between consecutive diag
    // sections attribute a slow section to hypervisor CPU steal from the
    // artifact alone (round-9 VERDICT: the 1× stream halving was plausible
    // CPU steal but "not yet attributed" — now it's in the record)
    val (st, tot) = cpuSample()
    s"gcMs=$gcMs jitMs=$compMs heapMB=$heapMb stealJf=$st totJf=$tot $code"
  }

  /** Host CPU counters from `/proc/stat`: (steal jiffies, total jiffies)
    * across all CPUs since boot. Steal is the hypervisor-runnable-but-not-
    * scheduled time — the direct measure of the interference the min-of-
    * reps discipline defends against. Total sums only the first 8 fields
    * (user..steal): Linux folds guest/guest_nice (cols 9-10) into
    * user/nice, so including them double-counts guest time on VM hosts
    * and deflates the reported steal share (ADVICE r10). (-1, -1) where
    * unreadable. */
  private def cpuSample(): (Long, Long) = try {
    val line = Files.readAllLines(Paths.get("/proc/stat")).get(0)
    val vals = line.trim.split("\\s+").drop(1).map(_.toLong)
    (if (vals.length > 7) vals(7) else 0L, vals.take(8).sum)
  } catch { case _: Throwable => (-1L, -1L) }

  /** Steal share (percent) of the host-CPU time that elapsed between two
    * [[cpuSample]]s; -1 where a sample was unreadable, 0 for a
    * zero-elapsed window (distinct conditions — ADVICE r10; a zero-jiffy
    * window is a measurement too short to contain a tick, not a failure). */
  private def stealPct(before: (Long, Long), after: (Long, Long)): Double =
    if (before._1 < 0 || after._1 < 0) -1.0
    else if (after._2 <= before._2) 0.0
    else 100.0 * (after._1 - before._1) / (after._2 - before._2)

  /** Throughput of the stateful streaming path (flatMapGroupsWithState
    * merge ladder) under a given state-store provider, in events/sec.
    * Generated events flow through a MemoryStream in several micro-batches
    * to a noop sink — measures state machinery, not source/sink I/O. */
  private def streamThroughput(
      spark: SparkSession, provider: Option[String], nTx: Int): Double = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.cdc.{CdcEvent, EventGen}
    import graft.streaming.CdcStream
    provider match {
      case Some(p) =>
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        // changelog checkpointing: per-batch uploads become the delta, not
        // a full snapshot (measured ~10% throughput on the merge ladder;
        // the win grows with state size — at production state volumes this
        // is the difference between bounded and unbounded commit times)
        if (p.contains("RocksDB")) spark.conf.set(
          "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val events = EventGen.generate(nTx = nTx, seed = 99L)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-bench-stream").toString
    val ms = MemoryStream[CdcEvent]
    val q = CdcStream.viewUpdates(ms.toDS())
      .writeStream.format("noop").outputMode("update")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      val t0 = System.nanoTime()
      events.grouped(math.max(events.size / 8, 1)).foreach(ms.addData(_))
      q.processAllAvailable()
      events.size / ((System.nanoTime() - t0) / 1e9)
    } finally q.stop()
  }

  /** Force a full driver GC and give the ContextCleaner a beat to release
    * shuffle files/broadcasts whose references just died — bounds the
    * cross-section accumulation that degraded the round-4 driver run. */
  private def gcBetweenSections(): Unit = {
    System.gc(); Thread.sleep(500); System.gc()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(Sessions.envCpus)
    spark.sparkContext.setLogLevel("WARN")
    // Pre-touch the measured SF's parquet bytes so a cold page cache can't
    // dominate the numbers (the round-1 driver run was 3× the warm cost —
    // first touch after the snapshot). One sequential read per file, result
    // discarded; at these sizes (~100 MB at sf0.1) this is seconds.
    java.nio.file.Files.walk(Paths.get(sfDir)).forEach { p =>
      if (p.toString.endsWith(".parquet") && Files.isRegularFile(p)) {
        val in = Files.newInputStream(p)
        try { val buf = new Array[Byte](1 << 20); while (in.read(buf) >= 0) () }
        finally in.close()
      }
    }
    // per-section JVM health, emitted into the artifact (round-4 lesson:
    // stderr-only diag left the degradation unattributable)
    val diag = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // STREAMING FIRST: the stateful merge-ladder throughput is measured
    // before 141 queries of whole-stage codegen fill the code cache and
    // accumulate driver state — round 4's driver artifact had stream rates
    // at a third of builder-measured levels, recorded at the END of the
    // run. Two volumes per provider (1× and 10×) so throughput-vs-batch-
    // size regressions are attributable from the artifact alone.
    def safeThroughput(provider: Option[String], nTx: Int): Double =
      try {
        val r = streamThroughput(spark, provider, nTx)
        System.err.println(s"[bench] stream($provider,$nTx)=${r.round} ev/s ${jvmDiag()}")
        r
      } catch { case t: Throwable =>
        System.err.println(s"[bench] stream($provider) failed: ${t.getMessage}"); -1.0 }
    val RocksProvider =
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    // warm each provider's path first (state-store init + codegen + JIT
    // dominated the first run and made the reported number swing 4×).
    // 1× measurements run BEFORE either 10× run and each measured run
    // starts GC'd: the 100k-event run allocates ~10 GB of state + events
    // and its GC storm (measured 40 s of collection time) poisoned
    // whatever ran next — in the r5 interim run the RocksDB 1× rate read
    // 7.9k ev/s right after the HDFS 10× run vs 24.9k in a clean session.
    safeThroughput(None, nTx = 1000)
    safeThroughput(Some(RocksProvider), nTx = 1000)
    // best-of-2 per configuration: the same transient-interference
    // reasoning as the queries' min-of-reps (this VM shows CPU-steal
    // windows lasting seconds to minutes; the r5 driver artifact
    // recorded the HDFS 1× rate at 13.9k ev/s where clean same-code
    // sessions measure 16-22k) — max over reps is the robust estimator
    // for a THROUGHPUT (higher = less interfered), and each rep starts
    // GC'd so one rep's state can't poison the next
    // raw reps are kept and emitted (round-6 VERDICT: close the RocksDB
    // 1× loop IN-ARTIFACT — a best-of hides how far apart the reps were,
    // which is exactly the cross-VM-variance question)
    val streamReps = scala.collection.mutable.LinkedHashMap.empty[String, Vector[Long]]
    // per-rep steal share (round-9 VERDICT #2): each rep carries the host
    // steal% measured across exactly its own wall window, so a halved rate
    // with elevated steal is attributed IN the artifact, not in a postmortem
    val streamSteal = scala.collection.mutable.LinkedHashMap.empty[String, Vector[Double]]
    def bestOf2(label: String, provider: Option[String], nTx: Int): Long = {
      def rep(): (Double, Double) = {
        val c0 = cpuSample()
        val r = safeThroughput(provider, nTx)
        (r, stealPct(c0, cpuSample()))
      }
      val (a, sa) = rep()
      gcBetweenSections()
      val (b, sb) = rep()
      gcBetweenSections()
      streamReps(label) = Vector(a.round, b.round)
      streamSteal(label) = Vector(sa, sb)
      math.max(a, b).round
    }
    val evHdfs = bestOf2("hdfs_1x", None, nTx = 10000)
    val evRocks = bestOf2("rocksdb_1x", Some(RocksProvider), nTx = 10000)
    val evHdfs10x = bestOf2("hdfs_10x", None, nTx = 100000)
    val evRocks10x = bestOf2("rocksdb_10x", Some(RocksProvider), nTx = 100000)
    // attribution: each run drives 8 micro-batches, so t(N) = 8c + N·v —
    // the 1×/10× best reps solve for c (per-micro-batch fixed cost:
    // state-store open/commit + batch planning) and v (per-event merge
    // cost). A RocksDB c ≫ HDFS c with comparable v says the 1× gap is
    // store open/commit amortization, not the merge ladder.
    def attrib(rate1x: Long, rate10x: Long): (Double, Double) = {
      if (rate1x <= 0 || rate10x <= 0) return (-1.0, -1.0)
      val t1 = 10000.0 / rate1x
      val t10 = 100000.0 / rate10x
      val v = (t10 - t1) / 90000.0
      val c = (t1 - 10000.0 * v) / 8.0
      (c * 1000.0, v * 1e6) // (ms per micro-batch, us per event)
    }
    val (hdfsBatchMs, hdfsEvUs) = attrib(evHdfs, evHdfs10x)
    val (rocksBatchMs, rocksEvUs) = attrib(evRocks, evRocks10x)
    spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    diag("stream") = jvmDiag()
    gcBetweenSections()
    val names = SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      try SparkEntry.queries(name)(spark, WarmupDir).count()
      catch { case _: Throwable => () }
      finally graft.ops.Dedup.unpersistIntermediates(spark)
    }
    graft.ops.Dedup.unpersistPinned(spark)
    diag("warmup") = jvmDiag()
    gcBetweenSections()
    System.err.println(s"[bench] warmup done ${jvmDiag()}")
    // Per-query time = min over `reps` runs: this VM shows intermittent
    // CPU-steal windows lasting seconds to MINUTES (one run measured q17 at
    // 115 s vs its stable 3 s; the round-2 driver run had a contiguous slow
    // window covering eleven sub-second queries at 5-30 s EACH, both reps),
    // and the min over repetitions is the standard robust estimator of true
    // cost under transient interference. Reps are INTERLEAVED as full
    // passes over the query list (pass 1 = every query once, then pass 2)
    // so a contiguous interference window — which back-to-back reps sit
    // inside together — lands on at most one rep of each query.
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    def timeOne(name: String): Double = {
      val t0 = System.nanoTime()
      // a failed query must NOT be reported as a (fast) success — mark -1
      val ok = try { SparkEntry.queries(name)(spark, sfDir).count(); true }
      catch { case t: Throwable =>
        System.err.println(s"[bench] $name failed: ${t.getMessage}"); false
      }
      finally graft.ops.Dedup.unpersistIntermediates(spark)
      if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
    }
    val byName = scala.collection.mutable.Map(
      names.map(n => n -> Vector.empty[Double]): _*)
    // per-core build seconds, measured as their own line items (round-6
    // VERDICT): each pass PREWARMS the pinned cores before any query is
    // timed, so q114/q196/the q91 family time pure consumption and a
    // regression in a core shows up under the core's own name
    val coreTimes = scala.collection.mutable.Map.empty[String, Vector[Double]]
    def prewarmCores(): Unit =
      try PinnedCores.prewarm(spark, sfDir).foreach { case (n, s) =>
        coreTimes(n) = coreTimes.getOrElse(n, Vector.empty) :+ s
      } catch { case t: Throwable =>
        System.err.println(s"[bench] core prewarm failed: ${t.getMessage}") }
    (1 to reps).foreach { pass =>
      prewarmCores()
      names.foreach { name => byName(name) :+= timeOne(name) }
      diag(s"pass$pass") = jvmDiag()
      System.err.println(s"[bench] pass $pass done ${jvmDiag()}")
      // release the pinned shared core BETWEEN passes: within a pass the
      // first family member pays the build and the rest reuse (the shared-
      // core accounting we want to report); across passes min-of-reps must
      // not let the builder query inherit a prior pass's cache and report
      // reuse cost as build cost
      graft.ops.Dedup.unpersistPinned(spark)
      gcBetweenSections()
    }
    // targeted retry: a query whose best time is still slow may have had
    // every pass clipped by an interference window — one more rep each is
    // bounded extra wall time and recovers the true cost
    val RetryAboveSec = 3.0
    // cores were released at the end of the last pass — rebuild (timed
    // into cores_detail as another rep) so a retried query doesn't pay
    // a core build that per-pass timing just factored out
    prewarmCores()
    names.foreach { name =>
      val ts = byName(name)
      if (ts.forall(_ < 0) || ts.filter(_ >= 0).min > RetryAboveSec)
        byName(name) :+= timeOne(name)
    }
    val results = names.map { name =>
      val times = byName(name)
      System.err.println(s"[bench] $name reps=${times.map(t => f"$t%.2f").mkString(",")}")
      // failed_reps surfaces intermittent failures that min-of-reps would
      // otherwise mask as a clean (fastest-passing) success
      name -> (
        (if (times.exists(_ >= 0)) times.filter(_ >= 0).min else -1.0),
        times.count(_ < 0))
    }
    val qs = results.map { case (k, (v, _)) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failedReps = results.collect { case (k, (_, f)) if f > 0 => "\"" + k + "\":" + f }
      .mkString("{", ",", "}")
    // headline total stays comparable with rounds ≤6 (where core builds
    // hid inside first-consumer queries): per-query mins + per-core mins
    val coreMins = coreTimes.toSeq.sortBy(_._1).map { case (k, v) => k -> v.min }
    val coresTotal = coreMins.map(_._2).sum
    val coresJson = coreMins.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val queriesTotal = results.map(_._2._1).filter(_ >= 0).sum
    val total = queriesTotal + coresTotal
    diag("end") = jvmDiag()
    val diagJson = diag.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val streamRepsJson = streamReps.map { case (k, v) =>
      "\"" + k + "\":" + v.mkString("[", ",", "]") }.mkString("{", ",", "}")
    val streamStealJson = streamSteal.map { case (k, v) =>
      "\"" + k + "\":" + v.map(p => f"$p%.1f").mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val streamAttribJson =
      f"""{"hdfs_batch_overhead_ms":$hdfsBatchMs%.1f,"hdfs_per_event_us":$hdfsEvUs%.2f,""" +
      f""""rocksdb_batch_overhead_ms":$rocksBatchMs%.1f,"rocksdb_per_event_us":$rocksEvUs%.2f,""" +
      s""""model":"t(N)=8c+Nv over the 1x/10x best reps; c=per-micro-batch fixed cost (state-store open/commit + batch planning), v=per-event merge cost"}"""
    // fresh DuckDB pairing (round-6 VERDICT #1): tools/pair_duckdb.py
    // writes DUCK_PAIRING.json (per-query DuckDB seconds on the same
    // oracle SQL/parquet/SF); the ratio below pairs THIS run's spark
    // times — cores are charged to the spark side, since DuckDB pays
    // every query's full cost with no staged tables
    // per-query DuckDB seconds, parsed once — the pairing block builds
    // its summary from this, and reps_detail uses it to cover every
    // query whose ratio exceeds 1.5x (round-10 VERDICT #2: boundary
    // names must not rotate on single-rep weather)
    val duckTimes: Map[String, Double] = try {
      val p = Paths.get("DUCK_PAIRING.json")
      if (!Files.exists(p)) Map.empty else {
        val txt = Files.readString(p)
        val sfRe = """"sf_dir":\s*"([^"]+)"""".r
        if (!sfRe.findFirstMatchIn(txt).exists(_.group(1) == sfDir)) Map.empty
        else {
          val re = """"(q[0-9][^"]*)":\s*([0-9.eE+]+)""".r
          re.findAllMatchIn(txt).map(m => m.group(1) -> m.group(2).toDouble).toMap
        }
      }
    } catch { case _: Throwable => Map.empty }
    val duckJson: String = try {
      val p = Paths.get("DUCK_PAIRING.json")
      if (!Files.exists(p)) "null" else {
        val txt = Files.readString(p)
        // the pairing is only meaningful at the SAME scale factor: a
        // sf0.1 DuckDB artifact paired against a sf0.01 spark run
        // produces a nonsense ratio (measured: 0.40 with 94 fake
        // over-2x rows) — require the recorded sf_dir to match
        val sfRe = """"sf_dir":\s*"([^"]+)"""".r
        val sfOk = sfRe.findFirstMatchIn(txt).exists(_.group(1) == sfDir)
        if (!sfOk) "null" else {
        val re = """"(q[0-9][^"]*)":\s*([0-9.eE+]+)""".r
        val duck = re.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
        val resMap = results.toMap
        val paired = duck.keys.filter(k => resMap.get(k).exists(_._1 >= 0)).toSeq.sorted
        val sparkSum = paired.map(k => resMap(k)._1).sum + coresTotal
        val duckSum = paired.map(duck).sum
        // Per-query ratios on sub-100ms DuckDB queries measure Spark's
        // fixed per-query scheduling overhead (~0.2 s in local mode, an
        // embedded engine has none), not plan quality — so decompose:
        // estimate the overhead as the median spark−duck gap on the 50
        // smallest-duck queries, and report the PLAN-DOMINATED subset
        // (duck ≥ 0.5 s) separately; its over-2x list is the actionable
        // one. The board ratio stays the headline (the driver bar).
        val overheadS = {
          val small = paired.sortBy(duck).take(50)
            .map(k => resMap(k)._1 - duck(k)).sorted
          if (small.isEmpty) 0.0 else small(small.size / 2)
        }
        val heavy = paired.filter(k => duck(k) >= 0.5)
        val heavySpark = heavy.map(k => resMap(k)._1).sum
        val heavyDuck = heavy.map(duck).sum
        val overH = heavy.filter(k => resMap(k)._1 > 2.0 * duck(k))
          .sortBy(k => -resMap(k)._1 / duck(k))
        val overHJson = overH.map(k =>
          "\"" + k + "\":" + f"${resMap(k)._1 / duck(k)}%.2f").mkString("{", ",", "}")
        val nOverAll = paired.count(k => resMap(k)._1 > 2.0 * duck(k))
        f"""{"n_paired":${paired.size},"spark_total_s":$sparkSum%.2f,""" +
        f""""spark_cores_s":$coresTotal%.2f,"duck_total_s":$duckSum%.2f,""" +
        f""""ratio":${sparkSum / duckSum}%.3f,""" +
        f""""fixed_overhead_s":$overheadS%.3f,"n_over_2x_raw":$nOverAll,""" +
        f""""heavy":{"min_duck_s":0.5,"n":${heavy.size},""" +
        f""""spark_s":$heavySpark%.2f,"duck_s":$heavyDuck%.2f,""" +
        (if (heavyDuck > 0) f""""ratio":${heavySpark / heavyDuck}%.3f,""" else "") +
        f""""n_over_2x":${overH.size},"over_2x":$overHJson}}"""
      } }
    } catch { case t: Throwable =>
      System.err.println(s"[bench] duck pairing failed: ${t.getMessage}"); "null" }
    // sf1 (10×) full-board section (round-10 VERDICT #3): `graft.Dev
    // scale` + tools/pair_sf1.py write SF1_BOARD.json (per-query seconds
    // at a 10× disjoint-replica corpus + a timeout-guarded DuckDB
    // pairing), copied here from the replica dir; embed it verbatim so
    // the driver artifact carries the scale run. The file records its own
    // provenance (single-rep builder run, replica dir,
    // generation timestamps) — this is a checked-in measurement, not a
    // per-round re-run: a 10× board + its DuckDB pairing is hours of
    // wall, re-generated when the plans it measures change.
    val sf1Json: String = try {
      val p = Paths.get("SF1_BOARD.json")
      if (Files.exists(p)) Files.readString(p).trim else "null"
    } catch { case _: Throwable => "null" }
    val streamJson =
      s""""sf1":$sf1Json,""" +
      s""""stream_hdfs_events_per_sec":$evHdfs,"stream_rocksdb_events_per_sec":$evRocks,""" +
      s""""stream_hdfs_events_per_sec_10x":$evHdfs10x,"stream_rocksdb_events_per_sec_10x":$evRocks10x,""" +
      s""""stream_reps":$streamRepsJson,"stream_steal_pct":$streamStealJson,""" +
      s""""stream_attrib":$streamAttribJson,""" +
      s""""cores_detail":$coresJson,"cores_total_s":${f"$coresTotal%.2f"},""" +
      s""""duck_pairing":$duckJson"""
    // the ten slowest queries inline in the COMPACT line, so even a
    // tail-truncated capture still attributes where the time went
    val slowest = results.sortBy(-_._2._1).take(10)
      .map { case (k, (v, _)) => "\"" + k + "\":" + f"$v%.2f" }.mkString("{", ",", "}")
    // per-query rep spreads (round-9 VERDICT #5, widened in round 11 per
    // round-10 VERDICT #2): the 20 largest spark-time queries PLUS every
    // query whose min exceeds 1.5x its DuckDB pairing — over-2× verdicts
    // are made on per-query mins while same-VM runs disagree by ~15%, so
    // every boundary-adjacent name carries its full rep vector in the
    // artifact and a boundary call is readable as weather vs structure
    val repsDetailNames = (
      results.sortBy(-_._2._1).take(20).map(_._1) ++
      results.collect { case (k, (v, _))
        if v >= 0 && duckTimes.get(k).exists(d => d > 0 && v > 1.5 * d) => k }
    ).distinct
    val repsDetail = repsDetailNames.map { k =>
      "\"" + k + "\":" + byName(k).map(t => f"$t%.2f").mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val fullLine = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""failed_reps":$failedReps,"reps_detail":$repsDetail,$streamJson,""" +
      s""""diag":$diagJson,"sf":"$sfDir"}"""
    // COMPACT line: scalar summaries ONLY. The driver's tail capture is
    // 2000 bytes (measured from BENCH_r07.json, whose parsed:null was this
    // line outgrowing the window once duck_pairing/cores/diag moved in) —
    // everything verbose lives in the full line / BENCH_LATEST.json, and a
    // hard length guard trims the slowest map before ever exceeding 1500.
    val duckCompact: String = {
      // extract the handful of headline numbers back out of duckJson
      def grab(key: String): String = {
        val re = ("\"" + key + "\":([0-9.eE+-]+)").r
        re.findFirstMatchIn(duckJson).map(_.group(1)).getOrElse("null")
      }
      if (duckJson == "null") "null"
      else {
        val heavyRatio = {
          val re = """"heavy":\{[^}]*"ratio":([0-9.eE+-]+)""".r
          re.findFirstMatchIn(duckJson).map(_.group(1)).getOrElse("null")
        }
        val heavyOver = {
          val re = """"n_over_2x":([0-9]+)""".r
          re.findFirstMatchIn(duckJson).map(_.group(1)).getOrElse("null")
        }
        s"""{"n_paired":${grab("n_paired")},"ratio":${grab("ratio")},""" +
        s""""heavy_ratio":$heavyRatio,"heavy_n_over_2x":$heavyOver}"""
      }
    }
    // gc/jit/heap per section INSIDE the compact line (round-8 VERDICT
    // #5: cross-VM streaming variance must be attributable from the
    // tail capture alone) — the scalar triple only, not the full
    // code-cache breakdown, to stay inside the 1.5 KB guard
    val diagCompact = diag.map { case (k, v) =>
      def grabD(key: String): String = {
        val re = (key + "=([0-9]+)").r
        re.findFirstMatchIn(v).map(_.group(1)).getOrElse("-1")
      }
      "\"" + k + "\":\"" +
        s"gcMs=${grabD("gcMs")} jitMs=${grabD("jitMs")} heapMB=${grabD("heapMB")}" + "\""
    }.mkString("{", ",", "}")
    // sf1 scalar summary for the compact line (full table in the full line)
    val sf1Compact: String =
      if (sf1Json == "null") "null"
      else {
        def grabS(key: String): String = {
          val re = ("\"" + key + "\":([0-9.eE+-]+)").r
          re.findFirstMatchIn(sf1Json).map(_.group(1)).getOrElse("null")
        }
        // ratio recomputed from the two totals — "ratio" appears at two
        // nesting levels in the pairing block and a regex grab of the
        // first occurrence would pick the wrong one
        val ratio = (grabS("spark_total_s"), grabS("duck_total_s")) match {
          case (s, d) if s != "null" && d != "null" && d.toDouble > 0 =>
            f"${s.toDouble / d.toDouble}%.3f"
          case _ => "null"
        }
        s"""{"total_s":${grabS("total_s")},"ratio":$ratio,""" +
        s""""n_over_2x":${grabS("n_over_2x")},"n_failed":${grabS("n_failed")}}"""
      }
    def compactWith(slow: String): String =
      s"""{"metric":"total","value":${f"$total%.2f"},"unit":"sec",""" +
      s""""n_queries":${names.size},"sf1":$sf1Compact,""" +
      s""""stream_hdfs_events_per_sec":$evHdfs,"stream_rocksdb_events_per_sec":$evRocks,""" +
      s""""stream_hdfs_events_per_sec_10x":$evHdfs10x,"stream_rocksdb_events_per_sec_10x":$evRocks10x,""" +
      s""""stream_steal_pct":$streamStealJson,""" +
      s""""cores_total_s":${f"$coresTotal%.2f"},"duck_pairing":$duckCompact,""" +
      s""""slowest":$slow,"failed_reps":$failedReps,"diag":$diagCompact,""" +
      s""""queries_detail":"BENCH_LATEST.json","sf":"$sfDir"}"""
    val compactLine = {
      val c = compactWith(slowest)
      if (c.length <= 1500) c
      else compactWith(results.sortBy(-_._2._1).take(4)
        .map { case (k, (v, _)) => "\"" + k + "\":" + f"$v%.2f" }.mkString("{", ",", "}"))
    }
    // Belt-and-braces for the driver's parse: the FULL JSON at a well-known
    // path first (immune to any log prefixing/truncation of stdout) …
    try Files.writeString(Paths.get("BENCH_LATEST.json"), fullLine + "\n")
    catch { case t: Throwable => System.err.println(s"[bench] write BENCH_LATEST.json failed: $t") }
    // … then to stdout after spark.stop()'s shutdown noise: the full
    // per-query line first, and the COMPACT line as the very last write —
    // rounds 3, 4 and 7 recorded parsed:null because a byte-bounded tail
    // capture began mid-way through the single long line; the last line is
    // guarded to < 1.5 KB so any 2 KB tail window contains it whole.
    spark.stop()
    println(fullLine)
    println(compactLine)
    System.out.flush()
  }
}
