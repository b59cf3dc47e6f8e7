package graft.streaming

import graft.SparkSpec
import graft.ops.CountMin
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** X184 — continuous count–min: stream-folded cells equal the one-shot
  * batch sketch over everything ingested, under any batch split; the
  * batchId guard keeps non-idempotent cell addition safe on re-delivery;
  * estimates hold the CMS over-estimate contract. */
class SketchStreamSpec extends SparkSpec {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val corpus: Seq[String] =
    Seq.fill(12)("alpha") ++ Seq.fill(7)("beta") ++ Seq.fill(3)("gamma") ++
      Seq("delta", "epsilon", "zeta")

  test("stream-folded sketch == one-shot batch sketch, estimates >= exact") {
    val state = Files.createTempDirectory("graft-cms-state").toString
    val ckpt = Files.createTempDirectory("graft-cms-ckpt").toString
    val ms = MemoryStream[String]
    val q = SketchStream.maintain(ms.toDS().toDF("token"), state, ckpt)
    try {
      // three uneven batches, words split across batch boundaries
      corpus.grouped(5).foreach { g => ms.addData(g); q.processAllAvailable() }
    } finally q.stop()

    val streamed = SketchStream.cellsSnapshot(spark, state)
      .orderBy("r", "bucket").collect().toSeq
    val oneShot = CountMin.cells(corpus.toDF("token"))
      .orderBy("r", "bucket").collect().toSeq
    assert(streamed == oneShot, "cell-level equality under batch splits")

    val probes = corpus.distinct.toDF("token")
    val exact = corpus.groupBy(identity).view.mapValues(_.size.toLong).toMap
    CountMin.estimate(SketchStream.cellsSnapshot(spark, state), probes)
      .collect().foreach { row =>
        val (tok, est) = (row.getString(0), row.getLong(1))
        assert(est >= exact(tok), s"CMS must not under-estimate: $tok $est < ${exact(tok)}")
      }
  }

  test("superseded generations are swept: state path stays bounded across batches") {
    val state = Files.createTempDirectory("graft-cms-gc").toString
    val ckpt = Files.createTempDirectory("graft-cms-gc-ck").toString
    val ms = MemoryStream[String]
    val q = SketchStream.maintain(ms.toDS().toDF("token"), state, ckpt)
    try {
      // six batches: without the sweep the state path would hold six
      // full snapshots; with it, the RetainManifests newest survive
      (1 to 6).foreach { i => ms.addData(Seq(s"tok$i", "common")); q.processAllAvailable() }
    } finally q.stop()
    val gens = new java.io.File(state).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("gen-")).map(_.getName).sorted
    assert(gens.length <= ViewStore.RetainManifests,
      s"expected bounded generations, got ${gens.mkString(",")}")
    // the manifest's generation is among the survivors and still readable
    val current = ViewStore.readManifest(spark, state).get
      .entries(ViewStore.Snapshot).takeWhile(_ != '/')
    assert(gens.contains(current))
    assert(SketchStream.cellsSnapshot(spark, state).count() > 0)
  }

  test("batchId guard: re-running the merge for an already-committed batch is skipped") {
    val state = Files.createTempDirectory("graft-cms-guard").toString
    val ckpt = Files.createTempDirectory("graft-cms-guard-ck").toString
    val ms = MemoryStream[String]
    val q = SketchStream.maintain(ms.toDS().toDF("token"), state, ckpt)
    try { ms.addData(Seq("a", "a", "b")); q.processAllAvailable() } finally q.stop()
    val before = SketchStream.cellsSnapshot(spark, state)
      .agg(sum("cell")).as[Long].head()
    // a restart on the same checkpoint replays nothing new: totals stable
    val ms2 = MemoryStream[String]
    val q2 = SketchStream.maintain(ms2.toDS().toDF("token"), state, ckpt)
    try q2.processAllAvailable() finally q2.stop()
    val after = SketchStream.cellsSnapshot(spark, state)
      .agg(sum("cell")).as[Long].head()
    assert(before == after && before == 3L * CountMin.DefaultDepth)
  }
}
