package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** X178 — dead-letter quarantine + replay: decode failures survive the
  * skip, replay through a fixed decoder recovers them, purge retires
  * committed batches, and per-batch overwrite keeps retries idempotent. */
class DeadLetterSpec extends SparkSpec {
  import spark.implicits._

  // "decoder": raw lines `k=v` parse to (k, v); anything else fails.
  private def strictDecode(df: DataFrame): DataFrame =
    df.withColumn("k", regexp_extract(col("raw"), "^([a-z]+)=([0-9]+)$", 1))
      .withColumn("v", regexp_extract(col("raw"), "^([a-z]+)=([0-9]+)$", 2))
      .filter(col("k") =!= "" && col("v") =!= "")
      .select(col("raw"), col("k"), col("v").cast("long").as("v"))

  // the "fixed" decoder also accepts the `k:v` variant that used to fail
  private def fixedDecode(df: DataFrame): DataFrame =
    df.withColumn("norm", regexp_replace(col("raw"), ":", "="))
      .withColumn("k", regexp_extract(col("norm"), "^([a-z]+)=([0-9]+)$", 1))
      .withColumn("v", regexp_extract(col("norm"), "^([a-z]+)=([0-9]+)$", 2))
      .filter(col("k") =!= "" && col("v") =!= "")
      .select(col("raw"), col("k"), col("v").cast("long").as("v"))

  test("quarantine holds the raw payload; replay through the fixed decoder recovers; purge retires") {
    val dir = Files.createTempDirectory("graft-dlq").toString
    val batch0 = Seq("a=1", "b:2", "junk").toDF("raw")
    val bad0 = batch0.join(strictDecode(batch0).select("raw"), Seq("raw"), "left_anti")
      .withColumn("err", lit("decode failure"))
    DeadLetter.quarantine(bad0, dir, batchId = 0L)
    val batch1 = Seq("c:3").toDF("raw")
    DeadLetter.quarantine(batch1.withColumn("err", lit("decode failure")), dir, 1L)

    val q = DeadLetter.readQuarantine(spark, dir)
    assert(q.select("raw").as[String].collect().sorted.toSeq == Seq("b:2", "c:3", "junk"))
    assert(q.columns.toSet == Set("raw", "err", "batch_id"))

    val (recovered, stillBad) = DeadLetter.replay(spark, dir, fixedDecode)
    assert(recovered.select("k", "v").as[(String, Long)].collect().sorted.toSeq ==
      Seq(("b", 2L), ("c", 3L)))
    assert(stillBad.select("raw").as[String].collect().toSeq == Seq("junk"))

    // purge batch 0 (replay committed); batch 1 remains
    DeadLetter.purge(dir, upToBatch = 0L)
    assert(DeadLetter.readQuarantine(spark, dir)
      .select("raw").as[String].collect().toSeq == Seq("c:3"))
  }

  test("per-batch overwrite: a foreachBatch retry replaces, never duplicates") {
    val dir = Files.createTempDirectory("graft-dlq2").toString
    DeadLetter.quarantine(Seq(("x:1", "e")).toDF("raw", "err"), dir, 7L)
    // retry of the same batch sees a different (corrected) bad set
    DeadLetter.quarantine(Seq(("x:1", "e"), ("y:2", "e")).toDF("raw", "err"), dir, 7L)
    val q = DeadLetter.readQuarantine(spark, dir)
    assert(q.count() == 2 && q.select("batch_id").distinct().as[Long].collect().toSeq == Seq(7L))
  }

  test("empty quarantine reads as an empty, correctly-shaped frame") {
    val dir = Files.createTempDirectory("graft-dlq3").toString
    val q = DeadLetter.readQuarantine(spark, dir)
    assert(q.count() == 0 && q.columns.toSeq == Seq("raw", "err", "batch_id"))
  }

  test("readQuarantine on a file: URI dir finds the quarantined batches") {
    val dir = "file://" + Files.createTempDirectory("graft-dlq-uri").toString
    DeadLetter.quarantine(Seq(("x:1", "e")).toDF("raw", "err"), dir, 3L)
    val q = DeadLetter.readQuarantine(spark, dir)
    assert(q.select("raw", "batch_id").as[(String, Long)].collect().toSeq == Seq(("x:1", 3L)))
  }

  test("purge on a file: URI dir deletes the retired batches") {
    val local = Files.createTempDirectory("graft-dlq-uri-purge").toString
    val dir = "file://" + local
    DeadLetter.quarantine(Seq(("x:1", "e")).toDF("raw", "err"), dir, 0L)
    DeadLetter.quarantine(Seq(("y:2", "e")).toDF("raw", "err"), dir, 1L)
    DeadLetter.purge(dir, upToBatch = 0L)
    assert(!new java.io.File(local, "batch-0").exists(), "batch 0 was not purged")
    assert(new java.io.File(local, "batch-1").exists(), "batch 1 was purged")
  }
}
