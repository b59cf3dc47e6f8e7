package graft.streaming

import java.nio.file.Files
import graft.SparkSpec

/** The generation + pointer-flip + sweep protocol shared by the
  * snapshot maintainers, pinned once here: the batch guard of
  * [[GenState.advance]], its failure atomicity, [[GenState.read]]'s empty
  * frame, and the crash-window retention semantics the stream specs
  * can't reach: an orphaned generation (written but never flipped to)
  * must not consume the KeepPreviousGens retention slot of the genuinely
  * previous generation a just-before-the-flip reader may still be
  * scanning. */
class GenStateSpec extends SparkSpec {

  private def mkGen(root: java.io.File, millis: Long, batchId: Long): String = {
    val name = f"gen-$millis%013d-$batchId"
    val d = new java.io.File(root, name)
    assert(d.mkdirs())
    Files.writeString(new java.io.File(d, "part-0.parquet").toPath, "x")
    name
  }

  private def liveGens(root: java.io.File): Set[String] =
    Option(root.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith("gen-"))
      .map(_.getName).toSet

  test("orphan newer than the flipped-from gen is swept; the genuinely previous gen is retained") {
    val root = Files.createTempDirectory("graft-genstate").toFile
    val state = root.toString
    val gA = mkGen(root, 1000L, 0L)
    GenState.flip(state, 0L, gA)
    val gB = mkGen(root, 2000L, 1L)
    GenState.flip(state, 1L, gB) // current=gB, retained previous=gA
    // crash window: gC written, flip never happened
    val gC = mkGen(root, 3000L, 2L)
    // recovery re-processes batch 2 into a fresh gen and flips
    val gD = mkGen(root, 4000L, 2L)
    GenState.flip(state, 2L, gD)
    val live = liveGens(root)
    assert(GenState.currentGen(state).contains(gD))
    assert(live.contains(gB),
      s"flipped-from gen $gB must survive as the retained previous generation " +
        s"(a reader that resolved the pointer just before the flip may still scan it); live=$live")
    assert(!live.contains(gC),
      s"orphan $gC (written, never flipped to — no reader can hold it) must be swept; live=$live")
    assert(!live.contains(gA), s"older-than-retention gen $gA must be swept; live=$live")
  }

  test("first flip sweeps crashed first-write orphans") {
    val root = Files.createTempDirectory("graft-genstate-first").toFile
    val state = root.toString
    val orphan = mkGen(root, 1000L, 0L) // written by a run that died pre-flip
    val g = mkGen(root, 2000L, 0L)
    GenState.flip(state, 0L, g)
    val live = liveGens(root)
    assert(live == Set(g), s"only the first flipped gen may remain; live=$live, orphan=$orphan")
  }

  private def ints(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.collect().map(_.getLong(0)).toSet

  test("advance: a replayed or empty batch never calls the writer") {
    val state = Files.createTempDirectory("graft-genstate-guard").toString
    val batch = spark.range(3).toDF("x")
    var calls = 0
    def write(dir: String): Unit = { calls += 1; batch.write.parquet(dir) }
    GenState.advance(state, batch, 0L)(write)
    assert(calls == 1 && GenState.lastBatchId(state) == 0L)
    GenState.advance(state, batch, 0L)(write) // exact re-delivery
    GenState.advance(state, batch.limit(0), 1L)(write) // empty batch
    assert(calls == 1, "a replayed or empty batch reached the writer")
    assert(GenState.lastBatchId(state) == 0L)
  }

  test("advance: a writer that throws leaves the pointer and the snapshot unchanged") {
    val state = Files.createTempDirectory("graft-genstate-throw").toString
    val batch = spark.range(3).toDF("x")
    GenState.advance(state, batch, 0L)(dir => batch.write.parquet(dir))
    val gen = GenState.currentGen(state)
    intercept[IllegalStateException] {
      GenState.advance(state, batch, 1L) { dir =>
        spark.range(10).toDF("x").write.parquet(dir)
        throw new IllegalStateException("writer died after its data write")
      }
    }
    assert(GenState.currentGen(state) == gen && GenState.lastBatchId(state) == 0L)
    assert(ints(GenState.read(spark, state)(fail("state exists"))) == Set(0L, 1L, 2L))
    // the re-delivery of the failed batch applies
    GenState.advance(state, batch, 1L)(dir => spark.range(5).toDF("x").write.parquet(dir))
    assert(GenState.lastBatchId(state) == 1L)
    assert(ints(GenState.read(spark, state)(fail("state exists"))) == (0L until 5L).toSet)
  }

  test("read: the caller's empty frame before the first flip, the current generation after") {
    val state = Files.createTempDirectory("graft-genstate-read").toString
    val empty = spark.range(0).toDF("x")
    assert(GenState.read(spark, state)(empty) eq empty)
    val batch = spark.range(4).toDF("x")
    GenState.advance(state, batch, 0L) { dir =>
      batch.write.parquet(s"$dir/a")
      batch.filter("x < 2").write.parquet(s"$dir/b")
    }
    assert(ints(GenState.read(spark, state, "a")(fail("state exists"))) == Set(0L, 1L, 2L, 3L))
    assert(ints(GenState.read(spark, state, "b")(fail("state exists"))) == Set(0L, 1L))
  }
}
