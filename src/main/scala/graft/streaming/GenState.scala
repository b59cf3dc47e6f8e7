package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** The foreachBatch commit protocol of the snapshot maintainers (every
  * stream whose state is one small table rewritten whole per batch:
  * SketchStream, RetractStream, ComponentStream, KmvStream, ...), and the
  * one owner of its on-disk format. A maintainer reads its state with
  * [[read]] and commits a batch with [[advance]]:
  *
  *  - an empty batch, or one whose batchId the `_CURRENT` pointer already
  *    records (an exact re-delivery after a crash), is skipped, so a fold
  *    that is not idempotent (addition) never applies a batch twice;
  *  - otherwise the caller writes the next snapshot into a fresh
  *    `gen-<epochMillis>-<batchId>/` dir, and only then is the pointer
  *    (`<batchId>:<gen>`) atomically rewritten, so readers always see a
  *    complete snapshot and a crash mid-write leaves the previous
  *    generation live.
  *
  * [[flip]] also SWEEPS superseded generations (round-5 ADVICE): a
  * long-running stream otherwise grows the state path by one full
  * snapshot per batch without bound. The sweep keeps the new current
  * generation plus the [[KeepPreviousGens]] most recent older ones —
  * a reader that resolved the pointer just before the flip can still
  * finish its scan against the previous generation (same retention
  * reasoning as [[ViewStore]]'s gc) — and also removes orphaned
  * generations (written but never flipped to, e.g. a crash between
  * write and flip).
  */
private[streaming] object GenState {

  private val Pointer = "_CURRENT"

  /** Generations retained BESIDES the current one. 1 covers any reader
    * that resolved the pointer immediately before the latest flip. */
  val KeepPreviousGens = 1

  /** The pointer's `<gen>` dir name, if a flip ever happened. */
  def currentGen(statePath: String): Option[String] = {
    val ptr = new java.io.File(statePath, Pointer)
    if (ptr.exists())
      Some(java.nio.file.Files.readString(ptr.toPath).trim.split(':')(1))
    else None
  }

  /** The pointer's batchId guard (−1 before the first flip). */
  def lastBatchId(statePath: String): Long = {
    val ptr = new java.io.File(statePath, Pointer)
    if (ptr.exists())
      java.nio.file.Files.readString(ptr.toPath).trim.split(':')(0).toLong
    else -1L
  }

  /** The current snapshot (its `part` subdir, if given), or `empty`
    * before the first flip. */
  def read(spark: SparkSession, statePath: String, part: String = "")(
      empty: => DataFrame): DataFrame =
    currentGen(statePath) match {
      case Some(gen) =>
        spark.read.parquet(if (part.isEmpty) s"$statePath/$gen" else s"$statePath/$gen/$part")
      case None => empty
    }

  /** Commit one foreachBatch call: unless `batch` is empty or `batchId`
    * is already applied, `write` fills a fresh generation dir (its path
    * is the argument) with the next snapshot, and the pointer flips to
    * it. If `write` throws, nothing flips. */
  def advance(statePath: String, batch: Dataset[_], batchId: Long)(write: String => Unit): Unit =
    if (batchId > lastBatchId(statePath) && !batch.isEmpty) {
      val gen = s"gen-${System.currentTimeMillis()}-$batchId"
      write(s"$statePath/$gen")
      flip(statePath, batchId, gen)
    }

  /** Atomically flip the pointer to `gen` (tmp write + ATOMIC_MOVE),
    * then sweep superseded generation dirs. Call AFTER `gen`'s data is
    * fully written. */
  def flip(statePath: String, batchId: Long, gen: String): Unit = {
    // resolve the flipped-FROM gen BEFORE overwriting the pointer: the
    // sweep's orphan/retention boundary is the previous current, not
    // the new one (see sweep)
    val prevGen = currentGen(statePath)
    val tmp = new java.io.File(statePath, s".$Pointer.tmp")
    java.nio.file.Files.writeString(tmp.toPath, s"$batchId:$gen")
    java.nio.file.Files.move(tmp.toPath,
      new java.io.File(statePath, Pointer).toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    sweep(statePath, gen, prevGen)
  }

  /** Delete generation dirs other than `current` and the
    * [[KeepPreviousGens]] most recent ones a reader could genuinely
    * have been pointed at. `gen-<millis>-<batchId>` names sort
    * chronologically (fixed-width epoch millis), so the lexicographic
    * order IS the write order.
    *
    * The orphan/retention boundary is `prevGen` — the gen the pointer
    * was flipped FROM — not the new current: a gen written after
    * prevGen but never flipped to (a crash between snapshot write and
    * flip) is an orphan NO reader can hold, yet it sorts after prevGen
    * and before the new current. Partitioning on the new current would
    * retain that orphan as the "previous" generation and evict prevGen
    * itself — the one gen a reader who resolved the pointer just
    * before this flip is still scanning (round-6 ADVICE). So: gens
    * newer than prevGen are deleted unconditionally; KeepPreviousGens
    * retention applies only to prevGen and older. Before any flip ever
    * happened (prevGen = None) every non-current gen is a crashed
    * first-write orphan. */
  private def sweep(
      statePath: String, current: String, prevGen: Option[String]): Unit = {
    val root = new java.io.File(statePath)
    val gens = Option(root.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith("gen-") && f.getName != current)
      .sortBy(_.getName)
    val (pointed, orphans) = prevGen match {
      case Some(p) => gens.partition(_.getName <= p)
      case None => (Array.empty[java.io.File], gens)
    }
    orphans.foreach(deleteRecursively)
    pointed.dropRight(KeepPreviousGens).foreach(deleteRecursively)
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(deleteRecursively)
    f.delete(); ()
  }
}
