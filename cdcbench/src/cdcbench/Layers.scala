package cdcbench

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.streaming.{MergeMetrics, ViewStore}

/** `stream` layer: micro-batch phases, rows and state-store metrics from
  * the query progress of a `CdcStream` query, one sample per batch. Each
  * batch also becomes a `stream.batch` span with its phases laid out as
  * children in the order the micro-batch runs them. */
object Stream {

  private val phases = Seq(
    "latestOffset" -> "offset", "queryPlanning" -> "plan", "addBatch" -> "add_batch",
    "walCommit" -> "wal", "commitOffsets" -> "commit")

  def record(r: Run, progress: Seq[StreamingQueryProgress]): Unit = {
    progress.foreach { p =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      r.sample("stream.batch_ms", d.getOrElse("triggerExecution", 0L).toDouble)
      phases.foreach { case (k, n) => r.sample(s"stream.${n}_ms", d.getOrElse(k, 0L).toDouble) }
      r.sample("stream.rows_per_batch", p.numInputRows.toDouble)
      val startUs = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
      val batch = r.spans.add("stream.batch", 0L, startUs, startUs + d.getOrElse("triggerExecution", 0L) * 1000L)
      var at = startUs
      phases.foreach { case (k, n) =>
        val ms = d.getOrElse(k, 0L)
        if (ms > 0) r.spans.add(s"stream.$n", batch, at, at + ms * 1000L)
        at += ms * 1000L
      }
      p.stateOperators.headOption.foreach { s =>
        r.sample("state.commit_ms", s.commitTimeMs.toDouble)
        r.sample("state.rows_updated", s.numRowsUpdated.toDouble)
        val c = s.customMetrics.asScala
        r.sample("state.rocksdb_flush_ms", c.get("rocksdbCommitFlushLatency").map(_.toDouble).getOrElse(0.0))
        r.set("state.rows_end", s.numRowsTotal)
        r.set("state.bytes_end", s.memoryUsedBytes)
        r.set("state.rocksdb_sst_bytes_end", c.get("rocksdbSstFileSize").map(_.toLong).getOrElse(0L))
      }
      Option(p.observedMetrics).map(_.asScala).getOrElse(Map.empty).foreach { case (name, row) =>
        r.sample(s"decode.${name.stripPrefix("decode_")}", row.getLong(0).toDouble)
      }
    }
    r.set("stream.batches", progress.size)
  }
}

/** `ladder` layer: merge outcomes from the program's own
  * `OutcomeCountsAccumulator`. */
object Ladder {
  def record(r: Run, counts: Map[String, Long]): Unit = {
    val o = Seq(MergeMetrics.OkFull, MergeMetrics.OkEnrich, MergeMetrics.NoopStale, MergeMetrics.DupDropped)
      .map(k => k -> MergeMetrics.totalOf(counts, k)).toMap
    o.foreach { case (k, v) => r.set(s"ladder.$k", v) }
    val all = o.values.sum
    r.set("ladder.useful_ratio",
      if (all == 0) 0.0 else (o(MergeMetrics.OkFull) + o(MergeMetrics.OkEnrich)).toDouble / all)
  }
}

/** `sink` layer: what each merge wrote, and the view's shape at the end. */
object Sink {

  private def files(fs: FileSystem, dir: Path): Seq[Path] =
    if (!fs.exists(dir)) Seq.empty
    else {
      val it = fs.listFiles(dir, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath)
        .filter(_.getName.endsWith(".parquet")).toSeq
    }

  /** (rows, bytes) of the parquet files under `dir`, from their footers. */
  def footprint(fs: FileSystem, dir: Path, conf: Configuration): (Long, Long) =
    files(fs, dir).foldLeft((0L, 0L)) { case ((rows, bytes), f) =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try (rows + reader.getRecordCount, bytes + fs.getFileStatus(f).getLen)
      finally reader.close()
    }

  def recordEnd(r: Run, spark: SparkSession, viewPath: String, fs: FileSystem,
      conf: Configuration, viewRows: Long): Unit = {
    val live = ViewStore.readManifest(spark, viewPath).map(_.buckets.values.toSeq).getOrElse(Seq.empty)
      .map(rel => new Path(viewPath, rel))
    r.set("sink.files_end", live.map(files(fs, _).size).sum)
    val bytes = live.map(d => footprint(fs, d, conf)._2).sum
    r.set("sink.bytes_per_view_row_end", if (viewRows == 0) 0.0 else bytes.toDouble / viewRows)
  }
}
