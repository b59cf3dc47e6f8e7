package cdcbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Everything one run records. The JVM only records raw samples, counters
  * and spans; `run.py` turns them into the reported metrics, so the
  * percentile rule and the span arithmetic live in one tested place. */
final class Run(val workload: String, val seed: Long, val seconds: Int, val trace: Boolean, val out: Path) {
  val spans = new SpanLog(s"$workload-$seed-${if (trace) "traced" else "untraced"}", trace)
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val values = mutable.LinkedHashMap.empty[String, Any]
  private val failures = mutable.ArrayBuffer.empty[String]
  private var attempted = 0L
  private var failed = 0L

  def sample(key: String, v: Double): Unit = synchronized {
    samples.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += v
  }

  def set(key: String, v: Any): Unit = synchronized { values(key) = v }

  /** Count one operation; a failed one keeps a short reason. */
  def op(ok: Boolean, why: => String = ""): Unit = synchronized {
    attempted += 1
    if (!ok) {
      failed += 1
      if (failures.size < 20) failures += why
    }
  }

  def write(): Unit = {
    val m = new ObjectMapper().registerModule(DefaultScalaModule)
    val body = synchronized {
      Map(
        "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
        "attempted" -> attempted, "failed" -> failed, "failures" -> failures.toSeq,
        "values" -> values.toMap, "samples" -> samples.map { case (k, v) => k -> v.toSeq }.toMap)
    }
    Files.writeString(out.resolve("result.json"), m.writeValueAsString(body))
    if (trace) {
      val rows = spans.all.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_us" -> s.startUs, "end_us" -> s.endUs, "run" -> s.run))
      Files.writeString(out.resolve("spans.json"), m.writeValueAsString(rows))
    }
  }
}
