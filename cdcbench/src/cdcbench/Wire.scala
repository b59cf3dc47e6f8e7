package cdcbench

import org.apache.spark.sql.SparkSession

import graft.cdc.{CdcDecode, CdcEvent, EventGen, ReferenceFold, TransactionView}

/** The CDC workloads' input: seeded `EventGen` lifecycles in clusterTime
  * order, serialized to the reference's Mongo change-stream envelope.
  * `EventGen` already adds duplicate deliveries and ttl migration rows;
  * every `BadEvery`-th line is a record the decoder must drop (corrupt
  * JSON, a delete, an invalidate, a document missing required fields). */
object Wire {

  val BadEvery = 101

  private val ops = Vector("insert", "update", "replace")

  private val bad = Vector(
    "{ not an envelope",
    """{"operationType":"delete","documentKey":{"_id":"gone"}}""",
    """{"operationType":"invalidate"}""",
    """{"operationType":"insert","fullDocument":{"tsMs":5,"eventCode":"X"}}""")

  /** One wire line and the event it carries (None for a bad record). */
  final case class Line(json: String, event: Option[CdcEvent])

  def build(spark: SparkSession, nTx: Int, seed: Long): Vector[Line] = {
    import spark.implicits._
    val events = EventGen.generate(nTx, seed).sortBy(e => (e.tsMs, e.id)).toVector
    val docs = CdcDecode.toJson(events.toDS()).collect().map(_.getString(0))
    val out = Vector.newBuilder[Line]
    var badSeen = 0
    events.indices.foreach { i =>
      if (i % BadEvery == BadEvery - 1) {
        out += Line(bad(badSeen % bad.size), None)
        badSeen += 1
      }
      val e = events(i)
      out += Line(
        s"""{"operationType":"${ops(i % ops.size)}",""" +
          s""""clusterTime":{"$$timestamp":{"t":${e.tsMs / 1000},"i":$i}},""" +
          s""""fullDocument":${docs(i)}}""",
        Some(e))
    }
    out.result()
  }

  /** The view a correct pipeline must reach after delivering `lines`:
    * ttl rows skipped, duplicates dropped by id, replayed in (tsMs, id)
    * order through the single-threaded reference ladder. */
  def canonical(lines: Seq[Line]): Map[String, TransactionView] =
    ReferenceFold.replay(
      lines.flatMap(_.event).filter(_.ttl.isEmpty).distinctBy(_.id).sortBy(e => (e.tsMs, e.id)))

  /** Differences between an observed view and the canonical one, at most
    * `limit` of them, for the failure record. */
  def diff(got: Map[String, TransactionView], want: Map[String, TransactionView], limit: Int = 5): Seq[String] = {
    val keys = (got.keySet ++ want.keySet).toSeq.sorted
    keys.iterator.filter(k => got.get(k) != want.get(k)).take(limit).map { k =>
      s"$k: got ${got.get(k).flatMap(_.status)} want ${want.get(k).flatMap(_.status)}"
    }.toSeq
  }
}
