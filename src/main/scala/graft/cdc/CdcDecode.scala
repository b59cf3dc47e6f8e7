package graft.cdc

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._

/** O6 — typed decode of a serialized change-stream envelope with
  * per-record bad-record skipping (reference: BSON→POJO with log-and-drop,
  * `EcommerceTransactionsLogEventsStream.kt:122-135`). The engine's wire
  * twin is a JSON column; `from_json` in PERMISSIVE mode yields null on
  * corrupt input and the pipeline drops those rows and continues — the
  * exact skip semantics, minus the side-channel log (countable via
  * `observe`, see [[graft.streaming.StreamHealth]]).
  *
  * Works identically on batch and streaming DataFrames (same expression).
  */
object CdcDecode {

  val eventEncoder: Encoder[CdcEvent] = Encoders.product[CdcEvent]

  /** Parse a JSON-string column into typed events; corrupt records and
    * records missing the required envelope fields are dropped. */
  def fromJson(raw: DataFrame, jsonCol: String = "json"): Dataset[CdcEvent] = {
    val parsed = raw
      .withColumn("e", from_json(col(jsonCol), eventEncoder.schema))
      // PERMISSIVE from_json nulls the struct on unparseable input; a
      // parseable record must still carry the envelope's required fields
      .filter(col("e").isNotNull &&
        col("e.id").isNotNull && col("e.transactionId").isNotNull &&
        col("e.eventCode").isNotNull && col("e.tsMs").isNotNull)
      .select(col("e.*"))
    withDefaults(parsed, InsertByDefault).as[CdcEvent](eventEncoder)
  }

  /** Serialize typed events to the JSON wire form (round-trip partner of
    * [[fromJson]]; used by tests and as the file-sink wire format). */
  def toJson(events: Dataset[CdcEvent]): DataFrame =
    events.select(to_json(struct(col("*"))).as("json"))

  /** O1 — decode a Kafka source envelope (the connector-parity path: the
    * reference tails a Mongo change stream with server-side match/project,
    * `EcommerceTransactionsLogEventsStream.kt:74-94`; the Kafka twin of
    * that wiring is Debezium/CDC topics). Input is the EXACT schema Spark's
    * kafka source produces — key/value binary, topic/partition/offset,
    * timestamp — so in production ONLY the source line differs:
    *
    * {{{
    * val kafka = spark.readStream.format("kafka")
    *   .option("kafka.bootstrap.servers", brokers)
    *   .option("subscribe", "ecommerce.transactions-log-events")
    *   .option("startingOffsets", resumeJson) // O2 resume-at twin
    *   .load()
    * val events = CdcDecode.fromKafkaEnvelope(kafka)
    * }}}
    *
    * (The kafka connector jar isn't in this environment — see
    * BASELINE.md — so the envelope is exercised against a mock DataFrame
    * of the same schema in `CdcDecodeSpec`; the decode expression is
    * source-agnostic.)
    *
    * Tombstones (null value — Kafka compaction deletes) are dropped, as
    * are corrupt payloads, matching the reference's log-and-skip. The
    * broker metadata survives as `_topic/_partition/_offset/_ingestTsMs`
    * via [[fromKafkaEnvelopeWithMeta]] when lineage is needed. */
  def fromKafkaEnvelope(kafka: DataFrame): Dataset[CdcEvent] =
    fromJson(
      kafka.filter(col("value").isNotNull)
        .select(col("value").cast("string").as("json")),
      "json")

  /** O1 — decode a Debezium JSON envelope, the other dominant CDC wire
    * format (the reference's Mongo change stream has the same envelope
    * semantics server-side: operation type + full document + cluster time,
    * `EcommerceTransactionsLogEventsStream.kt:93`). Debezium wraps the
    * document as `payload.after` (a JSON STRING for the Mongo connector),
    * with `payload.op` ∈ c(reate)/r(ead, snapshot)/u(pdate-or-replace)/
    * d(elete) and the source clock as `payload.ts_ms`.
    *
    * Mapping: c/r → insert, u → update (the Mongo connector folds replace
    * into u — the downstream upsert ladder treats them identically);
    * d carries no document and is dropped, as are corrupt envelopes and
    * documents missing required fields (same log-and-skip as [[fromJson]]).
    * A document that omits its own `tsMs` inherits the envelope's
    * `ts_ms`, so resume/dedup ordering still works off the source clock. */
  def fromDebeziumEnvelope(raw: DataFrame, jsonCol: String = "json"): Dataset[CdcEvent] = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val envSchema = StructType(Seq(
      StructField("payload", StructType(Seq(
        StructField("after", StringType),
        StructField("op", StringType),
        StructField("ts_ms", LongType))))))
    val parsed = raw
      .withColumn("p", from_json(col(jsonCol), envSchema))
      .filter(col("p.payload.op").isin("c", "r", "u") &&
        col("p.payload.after").isNotNull)
      .withColumn("doc", from_json(col("p.payload.after"), eventEncoder.schema))
      .filter(col("doc").isNotNull &&
        col("doc.id").isNotNull && col("doc.transactionId").isNotNull &&
        col("doc.eventCode").isNotNull)
      .select(col("doc.*"),
        col("p.payload.op").as("__op"), col("p.payload.ts_ms").as("__envTs"))
      .withColumn("tsMs", coalesce(col("tsMs"), col("__envTs")))
      .filter(col("tsMs").isNotNull)
    withDefaults(parsed, when(col("__op") === "u", lit("update")).otherwise(lit("insert")))
      .drop("__op", "__envTs")
      .as[CdcEvent](eventEncoder)
  }

  /** O1 — decode a MongoDB change-stream envelope, the reference's OWN wire
    * shape (it tails the collection directly:
    * `EcommerceTransactionsLogEventsStream.kt:74-94`; envelope fields per
    * its mock builder `EcommerceChangeStreamDocumentUtil.kt:35-49` —
    * `operationType` + `raw.fullDocument`, plus the server `clusterTime`).
    * Input is one JSON column holding the change-stream document in
    * extended-JSON form:
    *
    * {{{ {"operationType":"insert",
    *      "clusterTime":{"$timestamp":{"t":1712000000,"i":1}},
    *      "fullDocument":{...event...}} }}}
    *
    * Faithful to the reference's applicative contracts, in order:
    *   - operation filter: insert/update/replace pass (the reference's
    *     configurable `operationType` match stage; replace folds into
    *     update downstream exactly like the Debezium connector does);
    *     delete/invalidate carry no fullDocument and drop;
    *   - ttl skip (`EcommerceTransactionsLogEventsStream.kt:98-121`): a
    *     fullDocument with the `ttl` field set is the data-migration
    *     touch, not a new event — skipped;
    *   - bad-record skip (`...kt:122-135`): unparseable envelopes and
    *     documents missing required fields are dropped, log-and-continue.
    *
    * A document omitting `tsMs` inherits the envelope's clusterTime
    * seconds (×1000), so resume/dedup ordering still rides the server
    * clock — the same fallback discipline as [[fromDebeziumEnvelope]]. */
  def fromMongoChangeStream(raw: DataFrame, jsonCol: String = "json"): Dataset[CdcEvent] = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val envSchema = StructType(Seq(
      StructField("operationType", StringType),
      StructField("clusterTime", StructType(Seq(
        StructField("$timestamp", StructType(Seq(
          StructField("t", LongType), StructField("i", LongType))))))),
      StructField("fullDocument", eventEncoder.schema)))
    val parsed = raw
      .withColumn("p", from_json(col(jsonCol), envSchema))
      .filter(col("p.operationType").isin("insert", "update", "replace") &&
        col("p.fullDocument").isNotNull)
      // ttl applicative skip: the reference cannot filter server-side on
      // operationType alone (the driver reports null for some stores), so
      // any document carrying ttl is the migration update and is skipped
      .filter(col("p.fullDocument.ttl").isNull)
      .select(col("p.fullDocument.*"),
        col("p.operationType").as("__op"),
        col("p.clusterTime.`$timestamp`.t").as("__ct"))
      .filter(col("id").isNotNull && col("transactionId").isNotNull &&
        col("eventCode").isNotNull)
      .withColumn("tsMs", coalesce(col("tsMs"), col("__ct") * lit(1000L)))
      .filter(col("tsMs").isNotNull)
    withDefaults(parsed, when(col("__op") === "insert", lit("insert")).otherwise(lit("update")))
      .drop("__op", "__ct")
      .as[CdcEvent](eventEncoder)
  }

  /** [[fromKafkaEnvelope]] plus the broker-side lineage columns. */
  def fromKafkaEnvelopeWithMeta(kafka: DataFrame): DataFrame = {
    val parsed = kafka.filter(col("value").isNotNull)
      .withColumn("e", from_json(col("value").cast("string"), eventEncoder.schema))
      .filter(col("e").isNotNull &&
        col("e.id").isNotNull && col("e.transactionId").isNotNull &&
        col("e.eventCode").isNotNull && col("e.tsMs").isNotNull)
    withDefaults(parsed.select(
      col("e.*"),
      col("topic").as("_topic"),
      col("partition").as("_partition"),
      col("offset").as("_offset"),
      (col("timestamp").cast("double") * 1000).cast("long").as("_ingestTsMs")),
      InsertByDefault)
  }

  /** The model's `operationType` default: from_json does NOT apply
    * case-class defaults, and a missing operationType would silently fail
    * the downstream insert/update/replace filter. */
  private val InsertByDefault = coalesce(col("operationType"), lit("insert"))

  /** The envelope defaults every decoder ends with: `operationType` as the
    * decoder maps it, and `creationDate` derived from `tsMs` when the
    * writer omitted it. */
  private def withDefaults(parsed: DataFrame, operationType: Column): DataFrame =
    parsed
      .withColumn("operationType", operationType)
      .withColumn("creationDate",
        coalesce(col("creationDate"),
          date_format(timestamp_millis(col("tsMs")), "yyyy-MM-dd'T'HH:mm:ss.SSSX")))
}
