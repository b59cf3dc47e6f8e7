package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** X289 — small-file compaction planner + executor: the operational
  * answer to streaming sinks and fine-grained partitions leaving
  * thousands of KB-sized parquet files (every scan then pays one task
  * + one open per file). [[plan]] bin-packs the directory's files into
  * target-sized groups IN NAME ORDER (deterministic, no re-sort of
  * data); [[compact]] rewrites each group as one file into a fresh
  * directory (non-destructive — the caller flips a manifest, the
  * ViewStore discipline).
  *
  * Scale notes: the PLAN works on file METADATA (one row per file —
  * bounded the way every table-format manifest is); the REWRITE reads
  * each input file exactly once and shuffles nothing (coalesce(1)
  * within a group, groups rewritten independently). The per-group
  * driver loop iterates the (bounded) group list, never data.
  */
object Compaction {

  /** File-level compaction plan for the parquet files under `path`:
    * one row per file with its assigned group — greedy accumulation
    * in name order until `targetBytes` per group. */
  def plan(spark: SparkSession, path: String, targetBytes: Long): DataFrame = {
    require(targetBytes > 0, "targetBytes must be positive")
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(new Path(path))
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
      .map(f => (f.getPath.toString, f.getLen))
    // greedy first-fit in name order: close a group when adding the
    // next file would exceed the target (a file larger than the target
    // gets its own group)
    var acc = 0L; var g = 0L
    val rows = files.map { case (p, len) =>
      if (acc > 0 && acc + len > targetBytes) { g += 1; acc = 0L }
      acc += len
      (g, p, len)
    }
    import spark.implicits._
    rows.toSeq.toDF("group_id", "file", "bytes")
  }

  /** Execute `plan` into `outDir`: each group becomes ONE parquet file
    * (written as a single-partition group read — no shuffle). Returns
    * (n_groups, n_input_files, total_bytes_in). */
  def compact(spark: SparkSession, path: String, outDir: String,
      targetBytes: Long): (Long, Long, Long) = {
    val p = plan(spark, path, targetBytes).collect()
    val groups = p.groupBy(_.getLong(0)).toSeq.sortBy(_._1)
    groups.foreach { case (gid, rows) =>
      spark.read.parquet(rows.map(_.getString(1)): _*)
        .coalesce(1)
        .write.mode(SaveMode.Overwrite)
        .parquet(s"$outDir/group=$gid")
    }
    (groups.size.toLong, p.length.toLong, p.map(_.getLong(2)).sum)
  }

  /** Read a compacted dataset (the group=N layout). */
  def read(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(outDir).drop("group")
}
