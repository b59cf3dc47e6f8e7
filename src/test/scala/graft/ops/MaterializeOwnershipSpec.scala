package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** Every cache, checkpoint and release under `src/main` goes through
  * [[Materialize]], so each materialized frame has one owner and one
  * scope. A call site that persists, checkpoints or releases on its own,
  * or walks checkpoint leaves itself, fails here. */
class MaterializeOwnershipSpec extends AnyFunSuite {

  /** Files allowed to persist outside the module: each persists a frame
    * for the length of one call and unpersists it in the same call's
    * `finally`, so no scope outlives the call. */
  private val CallScoped = Seq(
    "CdcStream.scala", // mergeBatchIntoParquet: the merged rows, read by the changelog write and the view
    "ViewStore.scala") // mergeKeyed: the incoming batch, read by touchedBuckets and the combine

  test("only Materialize.scala persists, checkpoints, unpersists or names a LogicalRDD") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main")
    assert(java.nio.file.Files.isDirectory(root))
    val re = """\.localCheckpoint\(|\.persist\(|\.cache\(\)|\.unpersist\(|\bLogicalRDD\b""".r
    val owners = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => re.findFirstIn(java.nio.file.Files.readString(p)).isDefined)
      .map(_.getFileName.toString).toSeq.sorted
    assert(owners == ("Materialize.scala" +: CallScoped).sorted)
  }
}
