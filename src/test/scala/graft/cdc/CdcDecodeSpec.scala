package graft.cdc

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** O6 typed-decode tests: JSON round-trip fidelity and bad-record skip. */
class CdcDecodeSpec extends SparkSpec {

  import spark.implicits._

  /** A document as a JSON string inside an envelope's JSON. */
  private def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")

  /** A Mongo change-stream envelope around `doc`, with clusterTime `ct` seconds. */
  private def mongoEnv(doc: String, op: String, ct: Long = 8888L) =
    s"""{"operationType":"$op","clusterTime":{"$$timestamp":{"t":$ct,"i":1}},""" +
      s""""fullDocument":$doc}"""

  /** One record of the exact schema spark's kafka source emits: key/value
    * binary, topic/partition/offset, broker timestamp, timestampType. */
  private def rec(value: Array[Byte], off: Long) =
    ("k1".getBytes("UTF-8"), value, "tx-log", 0, off, new java.sql.Timestamp(1700000000000L + off), 0)

  private val KafkaCols = Seq("key", "value", "topic", "partition", "offset", "timestamp", "timestampType")

  test("toJson -> fromJson round-trips generated events exactly") {
    val events = EventGen.generate(nTx = 20, seed = 13L).distinctBy(_.id)
    val back = CdcDecode.fromJson(CdcDecode.toJson(events.toDS()))
      .collect().map(e => e.id -> e).toMap
    assert(back.keySet == events.map(_.id).toSet)
    events.foreach(e => assert(back(e.id) == e, s"event ${e.id} did not round-trip"))
  }

  test("corrupt and envelope-incomplete records are dropped, stream continues") {
    val good = EventGen.generate(nTx = 3, seed = 9L, noise = false)
    val wire = CdcDecode.toJson(good.toDS()).collect().map(_.getString(0))
    val polluted = (wire.toSeq :+
      "{ not json at all" :+ // unparseable
      """{"tsMs": 12, "eventCode": "X"}""" :+ // missing id/transactionId
      "").toDF("json")
    val out = CdcDecode.fromJson(polluted).collect()
    assert(out.length == good.size)
    assert(out.map(_.id).toSet == good.map(_.id).toSet)
  }

  test("missing optional envelope fields take the model defaults (operationType)") {
    val out = CdcDecode.fromJson(Seq(
      """{"id":"e1","transactionId":"t1","eventCode":"TRANSACTION_ACTIVATED_EVENT","tsMs":1000}""")
      .toDF("json")).collect()
    assert(out.length == 1 && out.head.operationType == "insert")
  }

  test("unknown event codes are skipped by replay, not materialized as phantom rows") {
    val known = EventGen.generate(nTx = 2, seed = 1L, noise = false)
    val bogus = CdcEvent("bx", "tx-bogus", "TRANSACTION_BOGUS_EVENT",
      java.time.Instant.ofEpochMilli(1000).toString, 1000L)
    val out = ViewReplay.replay((known :+ bogus).toDF())
      .select("transactionId").collect().map(_.getString(0)).toSet
    assert(!out.contains("tx-bogus"))
    assert(out == known.map(_.transactionId).toSet)
  }

  test("kafka envelope decode: binary payloads, tombstones and corrupt records (O1)") {
    val good = EventGen.generate(nTx = 4, seed = 17L, noise = false)
    val wire = CdcDecode.toJson(good.toDS()).collect().map(_.getString(0))
    val rows = wire.zipWithIndex.map { case (j, i) => rec(j.getBytes("UTF-8"), i.toLong) } :+
      rec(null, 100L) :+ // tombstone (compaction delete)
      rec("{ not json".getBytes("UTF-8"), 101L) // corrupt payload
    val kafka = rows.toSeq.toDF(KafkaCols: _*)
    val out = CdcDecode.fromKafkaEnvelope(kafka).collect()
    assert(out.map(_.id).toSet == good.map(_.id).toSet)
    val withMeta = CdcDecode.fromKafkaEnvelopeWithMeta(kafka)
    val metaRow = withMeta.filter(col("_offset") === 0).collect()(0)
    assert(metaRow.getAs[String]("_topic") == "tx-log")
    assert(metaRow.getAs[Long]("_ingestTsMs") == 1700000000000L)
    // replay over the kafka path == replay over the direct path
    val viaKafka = ViewReplay.replay(CdcDecode.fromKafkaEnvelope(kafka).toDF())
      .as[TransactionView].collect().map(v => v.transactionId -> v).toMap
    val direct = ViewReplay.replay(good.toDF())
      .as[TransactionView].collect().map(v => v.transactionId -> v).toMap
    assert(viaKafka == direct)
  }

  test("debezium envelope decode: op mapping, deletes/corrupt dropped, envelope ts_ms fallback (O1)") {
    val good = EventGen.generate(nTx = 2, seed = 23L, noise = false)
    val wire = CdcDecode.toJson(good.toDS()).collect().map(_.getString(0))
    // wrap each document in a Debezium envelope; alternate create/update
    val envelopes = wire.zipWithIndex.map { case (doc, i) =>
      val op = if (i % 2 == 0) "c" else "u"
      s"""{"payload":{"before":null,"after":"${esc(doc)}","op":"$op","ts_ms":${9000 + i}}}"""
    }
    val polluted = (envelopes.toSeq :+
      """{"payload":{"before":null,"after":null,"op":"d","ts_ms":9999}}""" :+ // delete: no doc
      """{"payload":{"after":"{ not json","op":"c","ts_ms":1}}""" :+ // corrupt document
      "{ not an envelope" :+ // corrupt envelope
      // document missing its own tsMs: must inherit the envelope clock
      """{"payload":{"after":"{\"id\":\"dz1\",\"transactionId\":\"tdz\",\"eventCode\":\"TRANSACTION_ACTIVATED_EVENT\"}","op":"r","ts_ms":7777}}""")
      .toDF("json")
    val out = CdcDecode.fromDebeziumEnvelope(polluted).collect()
    assert(out.length == good.size + 1)
    val byId = out.map(e => e.id -> e).toMap
    // op mapping: even-indexed docs arrived as c -> insert, odd as u -> update
    wire.zipWithIndex.foreach { case (_, i) =>
      val e = byId(good(i).id)
      assert(e.operationType == (if (i % 2 == 0) "insert" else "update"),
        s"op mapping wrong for ${e.id}")
      assert(e.tsMs == good(i).tsMs, "document tsMs must win over envelope ts_ms")
    }
    val fallback = byId("dz1")
    assert(fallback.tsMs == 7777L, "envelope ts_ms must backfill a missing document tsMs")
    assert(fallback.operationType == "insert", "snapshot read (r) maps to insert")
  }

  test("debezium property: any op mix, within-batch disorder and at-least-once " +
      "offset replay converge to the canonical view through the full CdcStream ladder (ScalaCheck)") {
    import org.scalacheck.Prop.forAllNoShrink
    import org.scalacheck.{Gen, Test => SCTest}
    import graft.streaming.{CdcStream, ViewStore}
    // The delivery model this mirrors (q04's redelivery + the CDC wire
    // contract): micro-batches are consecutive source-time slices (a
    // change stream is offset-ordered between restarts); WITHIN a batch
    // arrival order is arbitrary (the ladder sorts by (tsMs, id)); a
    // restart REDELIVERS a suffix of the previous batch (at-least-once).
    // Unbounded cross-batch disorder is deliberately out of scope — the
    // reference's unconditional data handlers are arrival-order by
    // design, so neither engine is order-invariant across batches.
    val gen = for {
      seed <- Gen.choose(1L, 50000L)
      mixSeed <- Gen.choose(1L, 50000L)
      nBatches <- Gen.choose(1, 3)
    } yield (seed, mixSeed, nBatches)
    val prop = forAllNoShrink(gen) { case (seed, mixSeed, nBatches) =>
      val rnd = new scala.util.Random(mixSeed)
      val events = EventGen.generate(nTx = 4, seed = seed, noise = false)
        .distinctBy(_.id).sortBy(e => (e.tsMs, e.id))
      val wire = CdcDecode.toJson(events.toDS()).collect().map(_.getString(0))
      // one envelope per event with a random op ∈ c/r/u (+ its own clock)
      val envelopes = wire.zipWithIndex.map { case (doc, i) =>
        val op = Seq("c", "r", "u")(rnd.nextInt(3))
        s"""{"payload":{"before":null,"after":"${esc(doc)}","op":"$op","ts_ms":${5000 + i}}}"""
      }.toSeq
      // wire noise: a delete (no document) and a corrupt line — both dropped
      val noise = Seq(
        """{"payload":{"before":null,"after":null,"op":"d","ts_ms":6001}}""",
        "{ not an envelope")
      // canonical: the ladder's own batch replay over ONE clean decode
      val decodedAll = CdcDecode.fromDebeziumEnvelope(envelopes.toDF("json"))
      val expected = ViewReplay.replay(decodedAll.toDF())
        .as[TransactionView].collect().map(v => v.transactionId -> v).toMap
      // the run: time-ordered slices, shuffled within, previous batch's
      // tail replayed at each restart boundary, through the cogroup merge
      val per = math.max(1, math.ceil(envelopes.size.toDouble / nBatches).toInt)
      val slices = envelopes.grouped(per).toSeq
      val viewPath = java.nio.file.Files.createTempDirectory("graft-dz-prop").toString
      slices.zipWithIndex.foreach { case (s, i) =>
        val replayedTail =
          if (i == 0) Seq.empty
          else slices(i - 1).takeRight(rnd.nextInt(slices(i - 1).size + 1))
        val delivery = rnd.shuffle(s ++ replayedTail ++ (if (i == 0) noise else Nil))
        CdcStream.mergeBatchIntoParquet(spark,
          CdcDecode.fromDebeziumEnvelope(delivery.toDF("json")), viewPath, batchId = i.toLong)
      }
      val got = ViewStore.read(spark, viewPath).get.as[TransactionView]
        .collect().map(v => v.transactionId -> v).toMap
      got == expected
    }
    val result = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(result.passed, result.status.toString)
  }

  test("mongo change-stream envelope decode: parity with the debezium path, " +
      "ttl-skip and bad-record-skip contracts (O1)") {
    val good = EventGen.generate(nTx = 3, seed = 29L, noise = false)
      .filter(_.ttl.isEmpty)
    val wire = CdcDecode.toJson(good.toDS()).collect().map(_.getString(0))
    // op mix covering the mapping table: insert -> insert, update/replace -> update
    val ops = Seq("insert", "update", "replace")
    val mongoWire = wire.zipWithIndex.map { case (doc, i) => mongoEnv(doc, ops(i % 3)) }
    val polluted = (mongoWire.toSeq :+
      // ttl-skip (EcommerceTransactionsLogEventsStream.kt:98-121): the
      // migration touch carries ttl and must be skipped, not decoded
      mongoEnv("""{"id":"ttl1","transactionId":"tttl","eventCode":"TRANSACTION_ACTIVATED_EVENT","tsMs":1000,"ttl":3600}""", "update") :+
      // delete carries no fullDocument -> dropped
      """{"operationType":"delete","documentKey":{"_id":"gone"}}""" :+
      // invalidate -> dropped
      """{"operationType":"invalidate"}""" :+
      // bad records (…kt:122-135): corrupt envelope, doc missing required fields
      "{ not an envelope" :+
      mongoEnv("""{"tsMs":5,"eventCode":"X"}""", "insert") :+
      // clusterTime fallback: doc without its own tsMs inherits ct seconds ×1000
      mongoEnv("""{"id":"m1","transactionId":"tm1","eventCode":"TRANSACTION_ACTIVATED_EVENT"}""", "insert", ct = 7777L))
      .toDF("json")
    val out = CdcDecode.fromMongoChangeStream(polluted).collect()
    val byId = out.map(e => e.id -> e).toMap
    assert(out.length == good.size + 1)
    assert(!byId.contains("ttl1"), "ttl-marked migration document must be skipped")
    assert(byId("m1").tsMs == 7777000L, "clusterTime seconds x1000 must backfill tsMs")
    good.zipWithIndex.foreach { case (g, i) =>
      val e = byId(g.id)
      assert(e.tsMs == g.tsMs, "document tsMs must win over clusterTime")
      assert(e.operationType == (if (ops(i % 3) == "insert") "insert" else "update"),
        s"op mapping wrong for ${e.id} (${ops(i % 3)})")
    }
    // decode parity with the Debezium twin on the SAME documents and the
    // same op semantics (insert/update/replace ≍ c/u/u)
    val dzWire = wire.zipWithIndex.map { case (doc, i) =>
      val op = if (ops(i % 3) == "insert") "c" else "u"
      s"""{"payload":{"before":null,"after":"${esc(doc)}","op":"$op","ts_ms":8888000}}"""
    }.toSeq.toDF("json")
    val viaMongo = CdcDecode.fromMongoChangeStream(mongoWire.toSeq.toDF("json"))
      .collect().map(e => e.id -> e).toMap
    val viaDz = CdcDecode.fromDebeziumEnvelope(dzWire)
      .collect().map(e => e.id -> e).toMap
    assert(viaMongo == viaDz, "mongo and debezium decodes must agree on the same events")
    // and the view ladder composes identically over the mongo path
    val viaStream = ViewReplay.replay(
      CdcDecode.fromMongoChangeStream(mongoWire.toSeq.toDF("json")).toDF())
      .as[TransactionView].collect().map(v => v.transactionId -> v).toMap
    val direct = ViewReplay.replay(good.toDF())
      .as[TransactionView].collect().map(v => v.transactionId -> v).toMap
    assert(viaStream == direct)
  }

  test("decode tail, all four envelopes: incomplete documents dropped, tsMs from the " +
      "envelope clock or dropped, creationDate defaulted from tsMs") {
    import org.apache.spark.sql.Dataset
    def doc(fields: (String, String)*) =
      fields.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val code = "eventCode" -> s""""${EventCodes.Activated}""""
    val docs = Seq(
      doc("id" -> "\"ok\"", "transactionId" -> "\"t\"", code, "tsMs" -> "1000"),
      doc("transactionId" -> "\"noId\"", code, "tsMs" -> "1000"),
      doc("id" -> "\"noTx\"", code, "tsMs" -> "1000"),
      doc("id" -> "\"noCode\"", "transactionId" -> "\"t\"", "tsMs" -> "1000"),
      doc("id" -> "\"noTs\"", "transactionId" -> "\"t\"", code))
    def kafka(docs: Seq[String]) =
      docs.zipWithIndex.map { case (d, i) => rec(d.getBytes("UTF-8"), i.toLong) }.toDF(KafkaCols: _*)
    // (envelope, its decode of the documents, the tsMs its clock gives a document without one)
    val decoders: Seq[(String, Seq[String] => Dataset[CdcEvent], Option[Long])] = Seq(
      ("json", d => CdcDecode.fromJson(d.toDF("json")), None),
      ("kafka", d => CdcDecode.fromKafkaEnvelope(kafka(d)), None),
      ("kafka with lineage",
        d => CdcDecode.fromKafkaEnvelopeWithMeta(kafka(d)).as[CdcEvent](CdcDecode.eventEncoder), None),
      ("debezium", d => CdcDecode.fromDebeziumEnvelope(d.map(x =>
        s"""{"payload":{"after":"${esc(x)}","op":"c","ts_ms":7000}}""").toDF("json")), Some(7000L)),
      ("mongo", d => CdcDecode.fromMongoChangeStream(d.map(mongoEnv(_, "insert", ct = 7L)).toDF("json")),
        Some(7000L)))
    val isoMs = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSX")
    decoders.foreach { case (name, decode, clock) =>
      val byId = decode(docs).collect().map(e => e.id -> e).toMap
      assert(byId.keySet == Set("ok") ++ clock.map(_ => "noTs"), name)
      val want = Map("ok" -> 1000L) ++ clock.map("noTs" -> _)
      want.foreach { case (id, ts) =>
        assert(byId(id).tsMs == ts, s"$name: $id")
        val created = java.time.OffsetDateTime.parse(byId(id).creationDate, isoMs)
        assert(created.toInstant.toEpochMilli == ts, s"$name: $id creationDate ${byId(id).creationDate}")
        assert(byId(id).operationType == "insert", s"$name: $id")
      }
    }
  }

  test("decode composes with the replay pipeline end-to-end") {
    val events = EventGen.generate(nTx = 8, seed = 41L)
    val viaWire = ViewReplay.replay(
      CdcDecode.fromJson(CdcDecode.toJson(events.toDS())).toDF())
      .as[TransactionView].collect().map(v => v.transactionId -> v).toMap
    val direct = ViewReplay.replay(events.toDF())
      .as[TransactionView].collect().map(v => v.transactionId -> v).toMap
    assert(viaWire == direct)
  }
}
