package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

/** The keyed event-time TTL fold has one owner under `src/main`:
  * [[KeyedFold]] puts the event-time timeout on the hour-quantized
  * watermark and sets the one timer rule. A stream that hand-wires its own
  * `flatMapGroupsWithState` with an event-time timeout fails here. */
class KeyedFoldOwnershipSpec extends AnyFunSuite {

  /** Files allowed to wire an event-time timeout themselves. */
  private val HandWired = Seq(
    // its timer fires when a pending left row matures (`lts < watermark`
    // on the raw-millisecond watermark), not at a TTL past the key's last
    // event; on the hour-quantized watermark every match would wait for
    // the end of its left row's hour
    "AsOfStream.scala")

  test("only KeyedFold.scala and AsOfStream.scala use an event-time timeout or set a timer") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main")
    assert(java.nio.file.Files.isDirectory(root))
    val re = """GroupStateTimeout\s*\.\s*EventTimeTimeout|\bsetTimeoutTimestamp\(""".r
    val owners = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => re.findFirstIn(java.nio.file.Files.readString(p)).isDefined)
      .map(_.getFileName.toString).toSeq.sorted
    assert(owners == ("KeyedFold.scala" +: HandWired).sorted)
  }
}
