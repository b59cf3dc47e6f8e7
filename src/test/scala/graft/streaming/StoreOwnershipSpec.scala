package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

/** Each foreachBatch commit protocol has one owner under `src/main`:
  * [[GenState]] owns the `_CURRENT` pointer, its generation dirs and the
  * flip; [[ViewStore]] owns the bucket layout and the manifest commit. A
  * stream that hand-copies either protocol instead of calling its owner
  * fails here. */
class StoreOwnershipSpec extends AnyFunSuite {

  private lazy val sources: Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main")
    assert(java.nio.file.Files.isDirectory(root))
    java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString -> java.nio.file.Files.readString(p))
      .toSeq
  }

  private def filesMatching(pattern: String): Seq[String] = {
    val re = pattern.r
    sources.collect { case (name, text) if re.findFirstIn(text).isDefined => name }.sorted
  }

  test("only GenState.scala names the pointer file or flips it") {
    assert(filesMatching("""_CURRENT|\bflip\(""") == Seq("GenState.scala"))
  }

  test("only GenState.scala and ViewStore.scala build generation dir names") {
    assert(filesMatching("\"gen-") == Seq("GenState.scala", "ViewStore.scala"))
  }

  test("only ViewStore.scala names the bucket column or runs a step of its commit") {
    assert(filesMatching(
      """__bucket|\bcommit\(|\b(readBuckets|alreadyApplied|touchedBuckets)\b""") ==
      Seq("ViewStore.scala"))
  }
}
