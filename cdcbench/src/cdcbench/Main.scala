package cdcbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: runs one workload once and writes its raw
  * record (`result.json`, plus `spans.json` when traced) to `--out`.
  * `run.py` builds this, starts it and reports the metrics.
  *
  * {{{ Main --workload cdc-live|cdc-backfill|board --seed N --seconds S
  *          --trace 0|1 --out DIR --cpus N [--data DIR] }}} */
object Main {

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val trace = a.getOrElse("trace", "0") == "1"
    val cpus = a.getOrElse("cpus", Runtime.getRuntime.availableProcessors.toString)
    val out = Paths.get(a("out"))
    Files.createDirectories(out)
    val r = new Run(workload, a("seed").toLong, a("seconds").toInt, trace, out)

    val spark = graft.Sessions.tune(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.cleaner.periodicGC.interval", "30s")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val exec = if (trace) Some(new ExecCollector(r.spans)) else None
    exec.foreach(spark.sparkContext.addSparkListener)
    val phases = if (trace) Some(new PhaseCollector(r.spans)) else None
    phases.foreach(spark.listenerManager.register)

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    var setupDone = false
    /** Set-up ends when the first timed operation is due (`atNs`). */
    def markSetupDone(atNs: Long): Unit = {
      r.set("setup_s", (System.currentTimeMillis() - jvmStartMs) / 1000.0 + (atNs - System.nanoTime()) / 1e9)
      setupDone = true
    }
    val c0 = Env.cpuSample()
    try {
      workload match {
        case "cdc-live" => Live.run(spark, r, markSetupDone)
        case "cdc-backfill" => Backfill.run(spark, r, markSetupDone)
        case "board" => Board.run(spark, r, a("data"), markSetupDone)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } catch {
      case e: Throwable =>
        r.op(ok = false, s"run aborted: $e")
        e.printStackTrace()
    }
    if (!setupDone) markSetupDone(System.nanoTime())
    // the listener bus delivers asynchronously; let it drain before the
    // traced counters are read
    if (trace) Thread.sleep(1000)
    r.set("steal_pct", Env.stealPct(c0, Env.cpuSample()))
    exec.foreach(_.snapshot().foreach { case (k, v) => r.set(k, v) })
    r.set("gc_ms", Env.gcMs())
    r.set("jit_ms", Env.jitMs())
    r.set("nproc", Runtime.getRuntime.availableProcessors)
    r.set("cpus", cpus.toInt)
    spark.stop()
    r.set("mem_peak_mb", Env.peakRssMb())
    r.write()
  }
}
