package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

/** Each foreachBatch commit protocol has one owner under `src/main`:
  * [[ViewStore]] owns the bucket layout, the generation dirs, the
  * manifests and the flip, for keyed views and snapshot maintainers
  * alike. A stream that hand-copies the protocol instead of calling its
  * owner fails here. */
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

  test("only ViewStore.scala names a manifest or the pointer file") {
    assert(filesMatching("""_CURRENT|MANIFEST-""") == Seq("ViewStore.scala"))
  }

  test("only ViewStore.scala builds generation dir names") {
    assert(filesMatching("\"gen-") == Seq("ViewStore.scala"))
  }

  test("only ViewStore.scala calls foreachBatch for a snapshot maintainer") {
    // the two other callers keep no snapshot: CurationStream merges a keyed
    // view through mergeKeyed, AnnIndexStream appends to an ANN index
    assert(filesMatching("""\.foreachBatch\b""") ==
      Seq("AnnIndexStream.scala", "CurationStream.scala", "ViewStore.scala"))
  }

  test("only ViewStore.scala names the bucket column or runs a step of its commit") {
    assert(filesMatching(
      """__bucket|\bcommit\(|\b(readBuckets|alreadyApplied|touchedBuckets|commitSnapshot)\b""") ==
      Seq("ViewStore.scala"))
  }
}
