package graft.streaming

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The incrementally maintained aggregate view must equal the one-shot
  * batch aggregate over all data, for any batch split, and a replayed
  * batchId must not double-count additive partials. */
class AggViewStreamSpec extends SparkSpec {

  import spark.implicits._

  private def events(rows: (Long, String, Long, Long)*) =
    rows.toDF("user_id", "event_type", "value_c", "ts_ms")

  test("multi-batch incremental merge == one-shot aggregate; replay is a no-op") {
    val all = Seq(
      (1L, "purchase", 100L, 10L), (1L, "click", 0L, 20L), (2L, "purchase", 50L, 5L),
      (1L, "purchase", 30L, 30L), (3L, "view", 0L, 7L),
      (2L, "purchase", 20L, 40L), (3L, "purchase", 5L, 50L))
    val dir = java.nio.file.Files.createTempDirectory("graft-aggview").toString

    // three uneven micro-batches
    AggViewStream.mergeBatch(spark, events(all.take(3): _*), dir, 0L)
    AggViewStream.mergeBatch(spark, events(all.slice(3, 5): _*), dir, 1L)
    AggViewStream.mergeBatch(spark, events(all.drop(5): _*), dir, 2L)

    def state() = ViewStore.read(spark, dir).get
      .select("user_id", "n_events", "purchase_c", "last_ts_ms")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap

    val expected = AggViewStream.partials(events(all: _*))
      .collect().map(t => t.user_id -> (t.n_events, t.purchase_c, t.last_ts_ms)).toMap
    assert(state() == expected)

    // replaying an applied batch (failure after commit, before checkpoint
    // advance) must not double-count
    AggViewStream.mergeBatch(spark, events(all.slice(3, 5): _*), dir, 1L)
    assert(state() == expected)

    // an empty batch advances nothing but is safely recorded
    AggViewStream.mergeBatch(spark, events(), dir, 3L)
    assert(state() == expected)
    assert(ViewStore.alreadyApplied(spark, dir, 3L))
  }

  test("each batch is evaluated once for the bucket scan and the merge") {
    val evals = spark.sparkContext.longAccumulator("aggview-evals")
    def counted(df: org.apache.spark.sql.DataFrame) =
      df.map { r => evals.add(1); r }(org.apache.spark.sql.Encoders.row(df.schema))
    val dir = java.nio.file.Files.createTempDirectory("graft-aggview-evals").toString
    AggViewStream.mergeBatch(spark,
      counted(events((1L, "purchase", 100L, 10L), (2L, "click", 0L, 20L), (3L, "view", 0L, 30L))), dir, 0L)
    assert(evals.value == 3L)
    AggViewStream.mergeBatch(spark, counted(events((1L, "purchase", 7L, 40L), (4L, "view", 0L, 50L))), dir, 1L)
    assert(evals.value == 5L)
  }
}
