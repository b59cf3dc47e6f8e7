package cdcbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch microseconds so spans taken from
  * Spark's own events (epoch milliseconds) share a time base with the
  * benchmark's `nanoTime` spans. `parent` is 0 for a root span. */
final case class Span(id: Long, parent: Long, name: String, startUs: Long, endUs: Long, run: String)

/** In-memory span log of one run. Disabled (the untraced runs), `span`
  * only evaluates its body. Spans are kept in memory and written once,
  * when the run ends. The current span id is also set as the Spark local
  * property [[SpanLog.Prop]], so jobs a span submits can name it as their
  * parent. */
final class SpanLog(val run: String, val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicLong(0)
  private val current = new ThreadLocal[Long] { override def initialValue(): Long = 0L }
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L

  private def nowUs(nanoTime: Long = System.nanoTime()): Long = baseUs + (nanoTime - baseNs) / 1000L

  def span[T](name: String, sc: SparkContext = null)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = current.get
      val prevProp = if (sc != null) sc.getLocalProperty(SpanLog.Prop) else null
      current.set(id)
      if (sc != null) sc.setLocalProperty(SpanLog.Prop, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, name, nowUs(t0), nowUs(), run))
        current.set(parent)
        if (sc != null) sc.setLocalProperty(SpanLog.Prop, prevProp)
      }
    }

  /** Record an interval measured elsewhere (listener or progress data). */
  def add(name: String, parent: Long, startUs: Long, endUs: Long): Long =
    if (!enabled) 0L
    else {
      val id = ids.incrementAndGet()
      spans.add(Span(id, parent, name, startUs, math.max(startUs, endUs), run))
      id
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(s => (s.startUs, s.id))
}

object SpanLog {
  val Prop = "cdcbench.span"
  /** Local property naming the stratum (workload part) a job belongs to. */
  val StratumProp = "cdcbench.stratum"
}

/** Scheduler and executor counters per stratum, from a `SparkListener`;
  * also turns every job into an `exec.job` span under the span that
  * submitted it. Registered only in the traced run. */
final class ExecCollector(spans: SpanLog) extends SparkListener {

  final class Acc {
    var jobs, stages, tasks = 0L
    var schedDelayMs, deserMs, runMs, cpuNs, shuffleWriteBytes, fetchWaitMs, spillBytes = 0L
    val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  }

  private val accs = mutable.Map.empty[String, Acc]
  private val stageStratum = mutable.Map.empty[Int, String]
  private val jobs = mutable.Map.empty[Int, (Long, Long)] // job -> (startMs, parent span)

  private def stratumOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(SpanLog.StratumProp))).getOrElse("other")

  private def acc(s: String): Acc = accs.getOrElseUpdate(s, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val s = stratumOf(e.properties)
    acc(s).jobs += 1
    e.stageIds.foreach(stageStratum(_) = s)
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanLog.Prop)))
      .map(_.toLong).getOrElse(0L)
    jobs(e.jobId) = (e.time, parent)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach { case (start, parent) =>
      spans.add("exec.job", parent, start * 1000L, e.time * 1000L)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = stageStratum.getOrElseUpdate(e.stageInfo.stageId, stratumOf(e.properties))
    acc(s).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null && e.taskInfo != null) {
      val a = acc(stageStratum.getOrElse(e.stageId, "other"))
      val i = e.taskInfo
      a.tasks += 1
      a.deserMs += m.executorDeserializeTime
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.schedDelayMs += math.max(0L, i.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime)
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      a.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += i.duration
    }
  }

  /** Per-stratum counters as `exec.<name>.<stratum>` entries. Skew is the
    * median, over stages with at least two tasks, of the slowest task's
    * duration over the stage's mean task duration. */
  def snapshot(): Map[String, Double] = synchronized {
    accs.toSeq.flatMap { case (s, a) =>
      val skews = a.stageTaskMs.values.filter(_.size >= 2).map { ts =>
        val mean = ts.sum.toDouble / ts.size
        if (mean > 0) ts.max / mean else 1.0
      }.toSeq.sorted
      val skew = if (skews.isEmpty) 1.0 else skews(skews.size / 2)
      Seq(
        "jobs" -> a.jobs.toDouble, "stages" -> a.stages.toDouble, "tasks" -> a.tasks.toDouble,
        "sched_delay_ms" -> a.schedDelayMs.toDouble, "deser_ms" -> a.deserMs.toDouble,
        "run_ms" -> a.runMs.toDouble, "cpu_ms" -> a.cpuNs / 1e6,
        "shuffle_write_bytes" -> a.shuffleWriteBytes.toDouble,
        "fetch_wait_ms" -> a.fetchWaitMs.toDouble, "spill_bytes" -> a.spillBytes.toDouble,
        "partition_skew" -> skew
      ).map { case (k, v) => s"exec.$k.$s" -> v }
    }.toMap
  }
}

/** Catalyst phase times of every finished query execution, from
  * `QueryExecution.tracker`, as root `catalyst.<phase>` spans; the report
  * attributes each to the benchmark span whose interval contains it.
  * Registered only in the traced run. */
final class PhaseCollector(spans: SpanLog) extends QueryExecutionListener {
  private def record(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (name, p) =>
      spans.add(s"catalyst.$name", 0L, p.startTimeMs * 1000L, p.endTimeMs * 1000L)
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}

/** Host and JVM counters recorded with every run so an outlier run can be
  * explained: CPU steal share over the run window, GC and JIT time, peak
  * resident memory. */
object Env {
  import java.lang.management.ManagementFactory

  /** (steal jiffies, total jiffies) of the host since boot; (-1, -1) where
    * `/proc/stat` is unreadable. Total sums user..steal only: guest time
    * is already folded into user/nice. */
  def cpuSample(): (Long, Long) =
    try {
      val line = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
      val v = line.trim.split("\\s+").drop(1).map(_.toLong)
      (if (v.length > 7) v(7) else 0L, v.take(8).sum)
    } catch { case _: Exception => (-1L, -1L) }

  def stealPct(a: (Long, Long), b: (Long, Long)): Double =
    if (a._1 < 0 || b._1 < 0) -1.0
    else if (b._2 <= a._2) 0.0
    else 100.0 * (b._1 - a._1) / (b._2 - a._2)

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Peak resident set size of this process in MB (`VmHWM`), or -1. */
  def peakRssMb(): Double =
    try {
      java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    } catch { case _: Exception => -1.0 }
}
