package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.SparkSpec
import graft.Tables
import graft.queries.CdcQueries

/** The streaming events-view (micro-batched partial-aggregate merge) must
  * converge to exactly the batch q09 result on the same data. */
class EventsViewStreamSpec extends SparkSpec {

  test("streamed view over file source == batch q09 at sf0.001") {
    val root = Files.createTempDirectory("graft-eventsview").toString
    val srcDir = s"$root/events"
    val ckpt = s"$root/ckpt"
    val viewPath = s"$root/view"
    val sfDir = "/root/testdata/sf0.001"

    // split the driver events into two files → two+ micro-batches
    val all = Tables.eventsCents(spark, sfDir)
    all.filter(col("event_id") % 2 === 0).coalesce(1).write.mode("append").parquet(srcDir)
    all.filter(col("event_id") % 2 === 1).coalesce(1).write.mode("append").parquet(srcDir)

    val schema = spark.read.parquet(srcDir).schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        EventsView.mergeBatchIntoParquet(spark, batch, viewPath, batchId)
      }
      .start()
    q.awaitTermination()

    val streamed = EventsView.present(ViewStore.read(spark, viewPath).get)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val batch = CdcQueries.q09_transactions_view(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(streamed.keySet == batch.keySet)
    streamed.foreach { case (k, v) =>
      assert(v == batch(k), s"user=$k streamed=$v batch=${batch(k)}")
    }
  }

  test("replayed batchId does not double-count additive partials") {
    val root = Files.createTempDirectory("graft-eventsview-replay").toString
    val viewPath = s"$root/view"
    val batch = Tables.eventsCents(spark, "/root/testdata/sf0.001")
      .filter(col("user_id") < 20)
    EventsView.mergeBatchIntoParquet(spark, batch, viewPath, 0L)
    val once = EventsView.present(ViewStore.read(spark, viewPath).get)
      .collect().map(r => r.getLong(0) -> (r.getAs[Long]("fee_total_c"), r.getAs[Long]("n_events"))).toMap
    // foreachBatch redelivers batch 0 after a crash-before-checkpoint:
    // the additive fields (fee_total_c, n_events) must not double
    EventsView.mergeBatchIntoParquet(spark, batch, viewPath, 0L)
    val twice = EventsView.present(ViewStore.read(spark, viewPath).get)
      .collect().map(r => r.getLong(0) -> (r.getAs[Long]("fee_total_c"), r.getAs[Long]("n_events"))).toMap
    assert(twice == once, "replayed batch double-counted additive partials")
  }

  test("each batch is evaluated once for the bucket scan and the merge") {
    val evals = spark.sparkContext.longAccumulator("eventsview-evals")
    def counted(df: org.apache.spark.sql.DataFrame) =
      df.map { r => evals.add(1); r }(org.apache.spark.sql.Encoders.row(df.schema))
    val viewPath = Files.createTempDirectory("graft-eventsview-evals").toString + "/view"
    val events = Tables.eventsCents(spark, "/root/testdata/sf0.001")
    val b0 = events.filter(col("user_id") % 2 === 0)
    val b1 = events.filter(col("user_id") % 2 === 1)
    val (n0, n1) = (b0.count(), b1.count())
    assert(n0 > 0 && n1 > 0)
    EventsView.mergeBatchIntoParquet(spark, counted(b0), viewPath, 0L)
    assert(evals.value == n0)
    EventsView.mergeBatchIntoParquet(spark, counted(b1), viewPath, 1L)
    assert(evals.value == n0 + n1)
  }
}
