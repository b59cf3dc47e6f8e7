package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Relational._
import graft.queries.CdcQueries

/** Streaming twin of the flagship events-table view (q09), sharing its
  * aggregation semantics through MERGEABLE per-key partials: every view
  * field is kept in its partial-aggregate form (arg-max struct / min /
  * max / sum / count), which makes micro-batch merge a pairwise
  * `greatest`/`least`/`+` combine — exactly the map-side-combine algebra
  * Spark itself uses, lifted to the sink. `present` projects the final
  * user-facing columns; batch q09 IS `present(partials(...))`, so the two
  * paths cannot drift.
  */
object EventsView {

  /** Input prep shared with q09: dedup under the key's partitioning, then
    * the status/error derivations (O8/O9). */
  def prepared(events: DataFrame): DataFrame =
    dedupFirstPerKey(events.repartition(col("user_id")),
      Seq("user_id", "event_id"), Seq(col("ts_ms")))
      .withColumn("status",
        caseMap(col("event_type"), CdcQueries.StatusMapping, CdcQueries.StatusDefault))
      .withColumn("err_k", when(col("event_type") === "error",
        get_json_object(col("props"), "$.k").cast("long")))

  /** One row per user with every field in mergeable partial form. */
  def partials(prepared: DataFrame): DataFrame =
    prepared.groupBy("user_id").agg(
      max(struct(col("ts_ms").as("o"), col("event_id").as("t"), col("status").as("v")))
        .as("status_s"),
      max(col("ts_ms")).as("last_processed_event_at"),
      min(col("ts_ms")).as("creation_date_ms"),
      sum(when(col("event_type") === "purchase", col("value_c")).otherwise(lit(0L)))
        .as("fee_total_c"),
      max(when(col("err_k").isNotNull,
        struct(col("ts_ms").as("o"), col("event_id").as("t"), col("err_k").as("v"))))
        .as("err_s"),
      count(lit(1)).as("n_events"))

  /** Pairwise combine of two partial tables (full outer on the key). */
  def merge(a: DataFrame, b: DataFrame): DataFrame = {
    val joined = a.as("a").join(b.as("b"), Seq("user_id"), "full_outer")
    def f(n: String) = (col(s"a.$n"), col(s"b.$n"))
    val (s1, s2) = f("status_s"); val (l1, l2) = f("last_processed_event_at")
    val (c1, c2) = f("creation_date_ms"); val (t1, t2) = f("fee_total_c")
    val (e1, e2) = f("err_s"); val (n1, n2) = f("n_events")
    joined.select(
      col("user_id"),
      greatest(s1, s2).as("status_s"), // greatest/least skip nulls
      greatest(l1, l2).as("last_processed_event_at"),
      least(c1, c2).as("creation_date_ms"),
      (coalesce(t1, lit(0L)) + coalesce(t2, lit(0L))).as("fee_total_c"),
      greatest(e1, e2).as("err_s"),
      (coalesce(n1, lit(0L)) + coalesce(n2, lit(0L))).as("n_events"))
  }

  /** Final projection from partial form to the q09 output schema. */
  def present(partials: DataFrame): DataFrame =
    partials.select(
      col("user_id"),
      col("status_s").getField("v").as("status"),
      col("last_processed_event_at"),
      col("creation_date_ms"),
      col("fee_total_c"),
      col("err_s").getField("v").as("last_error_code"),
      col("n_events"))

  /** foreachBatch body: merge this micro-batch's partials into the
    * bucketed [[ViewStore]] view through [[ViewStore.mergeKeyed]] (a
    * transactional table format would make this a single MERGE INTO).
    * Dedup is per-batch: duplicate deliveries ACROSS micro-batches need
    * the stateful id-tracking path (CdcStream) or an idempotent upstream. */
  def mergeBatchIntoParquet(
      spark: SparkSession, batch: DataFrame, viewPath: String, batchId: Long): Unit = {
    ViewStore.mergeKeyed(spark, viewPath, batchId, partials(prepared(batch)), "user_id") {
      (existing, incoming) => existing.fold(incoming)(merge(_, incoming))
    }
  }
}
