package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import graft.ops.Dedup

/** The dev loop's one entry point (NOT the driver contract — that is
  * [[Bench]] and [[Verify]]):
  *
  * {{{
  * runMain graft.Dev time [q…]                   min and each rep per query
  * runMain graft.Dev explain q [formatted|lines] executed plan: grep-filtered lines, or formatted
  * runMain graft.Dev profile [q…]                per rep: build/plan/exec µs, then every job and stage
  * runMain graft.Dev plans [outDir suffix q…]    PLANS.md from Plans.Headline, or <outDir>/<q>_<suffix>.txt
  * runMain graft.Dev oracle [path]               oracle_sql.json (default /tmp/oracle_sql.json), no query runs
  * runMain graft.Dev scale [factor] [q…]         one pass at a factor× replica (default 10) of the SF dir
  * }}}
  *
  * `time`, `profile` and `scale` share [[passes]]: warm every query at
  * sf0.001, then timed passes (`SPARK_GRAFT_REPS`, default 2; `scale`
  * runs one). Query names are prefixes ("q165" matches
  * q165_rake_keywords); with none named these three run every query.
  * Sessions come from [[Sessions.local]] with `SPARK_GRAFT_CPUS` cores
  * (default 32) and read `SPARK_GRAFT_SF_DIR` (default sf0.1). An arg
  * `conf:key=value` adds that setting to the session — the A/B hook for
  * session-conf experiments (e.g.
  * `conf:spark.sql.adaptive.coalescePartitions.minPartitionSize=256k`).
  */
object Dev {

  def main(args: Array[String]): Unit = {
    val (confArgs, rest) = args.toList.partition(_.startsWith("conf:"))
    val extra = confArgs.map { a =>
      val kv = a.stripPrefix("conf:").split("=", 2); kv(0) -> kv(1)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    var session: Option[SparkSession] = None
    def spark: SparkSession = session.getOrElse {
      val s = Sessions.local(Sessions.envCpus, extra: _*)
      s.sparkContext.setLogLevel("WARN")
      session = Some(s); s
    }
    try rest match {
      case "time" :: qs => time(spark, select(qs), sfDir, reps)
      case "explain" :: q :: mode => explain(spark, select(Seq(q)).head, sfDir, mode.headOption)
      case "profile" :: qs => profile(spark, select(qs), sfDir, reps)
      case "plans" :: Nil => plans(spark, sfDir, None, Plans.Headline.map(_._1))
      case "plans" :: outDir :: suffix :: qs => plans(spark, sfDir, Some(outDir -> suffix), select(qs))
      case "oracle" :: path =>
        val out = path.headOption.getOrElse("/tmp/oracle_sql.json")
        Files.writeString(Paths.get(out), Verify.oracleJson(SparkEntry.oracleSql))
        println(s"[dev] wrote ${SparkEntry.oracleSql.size} oracle entries to $out")
      case "scale" :: f :: qs if f.forall(_.isDigit) => scale(spark, sfDir, f.toInt, select(qs))
      case "scale" :: qs => scale(spark, sfDir, 10, select(qs))
      case _ =>
        System.err.println("usage: graft.Dev time|explain|profile|plans|oracle|scale ... (see scaladoc)")
        sys.exit(2)
    } finally session.foreach(_.stop())
  }

  private lazy val registry = SparkEntry.queries

  /** Registry names for `prefixes` (an exact name selects only itself);
    * every name when none is given. */
  private def select(prefixes: Seq[String]): Seq[String] = {
    val all = registry.keys.toSeq.sorted
    if (prefixes.isEmpty) all
    else prefixes.flatMap { p =>
      val hit = if (registry.contains(p)) Seq(p) else all.filter(_.startsWith(p))
      require(hit.nonEmpty, s"no query matches $p")
      hit
    }.distinct
  }

  /** The one warm-then-time loop: every query once at [[Bench.WarmupDir]]
    * (codegen and JIT), then `reps` passes over `names` at `dir`.
    * `beforePass` runs at the start of each pass; `run(name, rep)`
    * executes one query under the Spark job group `name/rep`. Per query
    * the tracked intermediates are released, per pass the pinned cores.
    * Returns each query's seconds per pass, -1 where the run failed. */
  private def passes(spark: SparkSession, names: Seq[String], dir: String, reps: Int,
      beforePass: () => Unit = () => ())(
      run: (String, Int) => Unit): Map[String, Vector[Double]] = {
    names.foreach { n =>
      try registry(n)(spark, Bench.WarmupDir).count()
      catch { case t: Throwable => System.err.println(s"[dev] warmup $n: ${t.getMessage}") }
      finally Dedup.unpersistIntermediates(spark)
    }
    Dedup.unpersistPinned(spark)
    val times = mutable.Map(names.map(_ -> Vector.empty[Double]): _*)
    (1 to reps).foreach { rep =>
      beforePass()
      names.foreach { n =>
        val t0 = System.nanoTime()
        spark.sparkContext.setJobGroup(s"$n/$rep", n)
        val ok = try { run(n, rep); true }
          catch { case t: Throwable => System.err.println(s"[dev] $n FAILED: ${t.getMessage}"); false }
          finally { Dedup.unpersistIntermediates(spark); spark.sparkContext.clearJobGroup() }
        times(n) :+= (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
      }
      Dedup.unpersistPinned(spark)
    }
    times.toMap
  }

  private def time(spark: SparkSession, names: Seq[String], dir: String, reps: Int): Unit = {
    val times = passes(spark, names, dir, reps) { (n, _) => registry(n)(spark, dir).count(); () }
    names.foreach { n =>
      val ts = times(n)
      println(f"[dev] $n%-28s min=${ts.min}%6.3f reps=${ts.map(t => f"$t%.2f").mkString(",")}")
    }
  }

  private def explain(spark: SparkSession, name: String, dir: String, mode: Option[String]): Unit = {
    val df = registry(name)(spark, dir)
    if (mode.contains("formatted")) df.explain("formatted")
    else {
      val keep = Seq("ReadSchema", "Exchange", "Scan", "PushedFilters", "Aggregate",
        "Generate", "Window", "Sort", "Join", "Repartition", "Coalesce")
      println(df.queryExecution.executedPlan.toString.split("\n")
        .filter(l => keep.exists(l.contains)).map(_.take(220)).mkString("\n"))
    }
  }

  /** Per rep, the query's wall split into DataFrame build, planning
    * (analysis + optimization + physical planning, forced through
    * `executedPlan`) and execution, then each Spark job's wall and each
    * stage's task time and rows — the lever on a scheduling-bound query
    * is the NUMBER of jobs and exchanges, and this prints exactly that. */
  private def profile(spark: SparkSession, names: Seq[String], dir: String, reps: Int): Unit = {
    val jobs = new Collector
    spark.sparkContext.addSparkListener(jobs)
    val phases = mutable.LinkedHashMap.empty[String, String] // job group → line
    passes(spark, names, dir, reps) { (n, rep) =>
      val t0 = System.nanoTime()
      val df = registry(n)(spark, dir)
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan
      val t2 = System.nanoTime()
      df.count()
      val t3 = System.nanoTime()
      phases(s"$n/$rep") = f"== $n rep $rep build=${(t1 - t0) / 1e3}%.0f us " +
        f"plan=${(t2 - t1) / 1e3}%.0f us exec=${(t3 - t2) / 1e3}%.0f us " +
        f"total=${(t3 - t0) / 1e9}%.3f s =="
    }
    jobs.drain()
    phases.foreach { case (group, line) => println(line); jobs.lines(group).foreach(println) }
  }

  /** `explain("formatted")` of each query's executed (AQE-final) plan:
    * into `PLANS.md` with its [[Plans.Headline]] reason, or one
    * `<outDir>/<q>_<suffix>.txt` per query. */
  private def plans(spark: SparkSession, dir: String, files: Option[(String, String)],
      names: Seq[String]): Unit = {
    def plan(name: String): String = {
      val df = registry(name)(spark, dir)
      df.collect() // let AQE finalize so the printed plan is the executed one
      try df.queryExecution.explainString(FormattedMode)
      finally Dedup.unpersistIntermediates(spark)
    }
    files match {
      case Some((outDir, suffix)) =>
        Files.createDirectories(Paths.get(outDir))
        names.foreach { n =>
          val out = Paths.get(outDir, s"${n}_$suffix.txt")
          Files.writeString(out, plan(n))
          println(s"[dev] wrote $out")
        }
      case None =>
        val why = Plans.Headline.toMap
        Files.writeString(Paths.get("PLANS.md"),
          "# PLANS — formatted physical plans of the headline queries\n\n" +
          s"Generated by `graft.Dev plans` at $dir. The load-bearing shape\n" +
          "properties are pinned as PlanSpec assertions; this is the readable twin.\n" +
          names.map(n => s"\n## $n — ${why(n)}\n\n```\n${plan(n)}```\n").mkString)
        println(s"[dev] wrote PLANS.md (${names.size} queries)")
    }
    Dedup.unpersistPinned(spark)
  }

  /** Scale run: [[Probe.replicateAll]] builds a `factor`× disjoint-replica
    * corpus of `baseDir` into `/tmp/graft-sf1-<factor>x` (reused when
    * present), then one [[passes]] pass there: pinned cores prewarm first
    * and are timed as their own line items (the Bench discipline), each
    * query runs once. A query whose constant factors hide a super-linear
    * term shows up as a wall multiple far above `factor` against its
    * sf-dir time. Per query it records seconds and MB spilled (memory +
    * disk, off stage task metrics: the evidence that plans spill under a
    * small heap instead of failing; the heap comes from the launching
    * JVM, e.g. `SPARK_DRIVER_MEM=8g`). Writes one JSON line to
    * `<replica dir>/SF1_BOARD.json`; tools/pair_sf1.py adds the DuckDB
    * pairing, and [[Bench]] embeds the file from its working dir. */
  private def scale(spark: SparkSession, baseDir: String, factor: Int, names: Seq[String]): Unit = {
    val repDir = s"/tmp/graft-sf1-${factor}x"
    val t0 = System.nanoTime()
    if (!Files.exists(Paths.get(s"$repDir/lineitem.parquet")))
      Probe.replicateAll(spark, baseDir, repDir, factor)
    val synthS = (System.nanoTime() - t0) / 1e9
    val stages = new Collector
    spark.sparkContext.addSparkListener(stages)
    var cores = Seq.empty[(String, Double)]
    var coresWallS = 0.0
    val times = passes(spark, names, repDir, 1, beforePass = () => {
      val tc = System.nanoTime()
      cores = try PinnedCores.prewarm(spark, repDir)
        catch { case t: Throwable =>
          System.err.println(s"[dev] core prewarm failed: ${t.getMessage}"); Seq.empty }
      coresWallS = (System.nanoTime() - tc) / 1e9
    }) { (n, _) => registry(n)(spark, repDir).count(); () }
    stages.drain()
    val results = names.map(n => n -> times(n).head)
    def obj(kv: Seq[(String, Any)]): String =
      kv.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    def secs(kv: Seq[(String, Double)]): String = obj(kv.map { case (k, v) => k -> f"$v%.2f" })
    val total = results.map(_._2).filter(_ >= 0).sum + cores.map(_._2).sum
    val line =
      s"""{"factor":$factor,"base":"$baseDir","replica_dir":"$repDir",""" +
      f""""synth_s":$synthS%.1f,"cores_s":${cores.map(_._2).sum}%.2f,""" +
      f""""cores_wall_s":$coresWallS%.1f,"total_s":$total%.1f,""" +
      s""""n_queries":${names.size},"n_failed":${results.count(_._2 < 0)},""" +
      s""""slowest":${secs(results.sortBy(-_._2).take(10))},""" +
      s""""cores_detail":${secs(cores)},"queries":${secs(results)},""" +
      s""""spill_mb":${obj(names.map(n => n -> (stages.spill(s"$n/1") >> 20)))},""" +
      s""""heap_mb":${Runtime.getRuntime.maxMemory() >> 20},""" +
      s""""note":"single-rep builder run; duck pairing merged by tools/pair_sf1.py"}"""
    Files.writeString(Paths.get(repDir, "SF1_BOARD.json"), line + "\n")
    println(line)
  }

  /** Listener for [[passes]]' job groups: per group (one query run) each
    * job's wall, each stage's task time and rows, and the bytes spilled. */
  private final class Collector extends SparkListener {
    private val groupOf = mutable.Map.empty[Int, String] // stage id → job group
    private val jobStart = mutable.Map.empty[Int, (Long, String)]
    private val byGroup = mutable.Map.empty[String, Vector[String]].withDefaultValue(Vector.empty)
    private val spilled = mutable.Map.empty[String, Long].withDefaultValue(0L)

    /** The listener bus is asynchronous: let it deliver before reading. */
    def drain(): Unit = Thread.sleep(1000)
    def lines(group: String): Seq[String] = synchronized(byGroup(group))
    def spill(group: String): Long = synchronized(spilled(group))

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val g = Option(e.properties).fold("")(_.getProperty("spark.jobGroup.id", ""))
      e.stageIds.foreach(groupOf(_) = g)
      jobStart(e.jobId) = (e.time, g)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.get(e.jobId).foreach { case (t0, g) =>
        byGroup(g) :+= f"job ${e.jobId}%3d wall=${e.time - t0}%5d ms"
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val g = groupOf.getOrElse(si.stageId, "")
      Option(si.taskMetrics).foreach { m =>
        byGroup(g) :+= f"  stage ${si.stageId}%3d tasks=${si.numTasks}%3d " +
          f"wall=${si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)}%5d ms " +
          f"taskTime=${m.executorRunTime}%6d ms inRows=${m.inputMetrics.recordsRead}%8d " +
          f"shRead=${m.shuffleReadMetrics.recordsRead}%8d " +
          f"shWrite=${m.shuffleWriteMetrics.recordsWritten}%8d  " +
          si.name.takeWhile(_ != '\n').take(80)
        spilled(g) += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}
