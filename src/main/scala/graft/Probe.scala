package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Replica corpora for scale runs: synthesize an N× corpus from a base
  * scale factor, so `graft.Dev scale` can time queries at N× the data.
  * The work is linear by design; the round-4 "heavy five at 10×" table
  * (commit e84cbea) measured it on such a corpus.
  *
  * Construction (disjoint-replica, oracle-countable): replica `r` of
  * `documents` prefixes every token with `r<r>x` (shingles/grams become
  * disjoint across replicas, so pair/cluster work grows exactly N×);
  * replica `r` of `embeddings` multiplies element i by the ±1 sign of
  * md5("<r>:<i>") (mᵢ² = 1 keeps every within-replica cosine EXACTLY,
  * while cross-replica dots decorrelate). Ids shift by r·max.
  */
object Probe {

  def replicate(spark: SparkSession, baseDir: String, outDir: String, factor: Int): Unit = {
    val docs = spark.read.parquet(s"$baseDir/documents.parquet")
    val nDoc = docs.agg(max("doc_id")).collect()(0).getLong(0) + 1
    val docReps = (0 until factor).map { r =>
      docs.select(
        (col("doc_id") + lit(r * nDoc)).as("doc_id"),
        array_join(transform(graft.functions.TextFunctions.wsTokens(col("text")),
          t => concat(lit(s"r${r}x"), t)), " ").as("text"),
        col("lang"), col("source"), col("n_chars"))
        // n_chars/lang deliberately keep the ORIGINAL doc's values: the
        // synthesized corpus is a TIMING corpus (token-level work must grow
        // exactly N×); it is never fed to the correctness gate, whose
        // inputs are only the driver-generated sf dirs
    }.reduce(_ unionByName _)
    docReps.repartition(32).write.mode(SaveMode.Overwrite)
      .parquet(s"$outDir/documents.parquet")

    val emb = spark.read.parquet(s"$baseDir/embeddings.parquet")
    val nVec = emb.agg(max("vec_id")).collect()(0).getLong(0) + 1
    val embReps = (0 until factor).map { r =>
      emb.select(
        (col("vec_id") + lit(r * nVec)).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(conv(substring(md5(concat(lit(s"$r:"), i.cast("string"))), 1, 1), 16, 10)
            .cast("long") % 2 === 0, x).otherwise(-x)).as("embedding"),
        col("label"))
    }.reduce(_ unionByName _)
    embReps.repartition(32).write.mode(SaveMode.Overwrite)
      .parquet(s"$outDir/embeddings.parquet")
  }

  /** [[replicate]] extended to EVERY driver table — the full-board
    * sf1 (10×) corpus for round-10 VERDICT #3's whole-395-query scale
    * run, not just the document/embedding heavies. Construction is the
    * same disjoint-replica discipline: replica r shifts every primary
    * key by r·(max+1) of its own domain and every foreign key by
    * r·(max+1) of the REFERENCED domain, so the join/FK structure
    * repeats exactly N× (each replica joins only its own rows) while
    * group-by-name/category cardinalities stay realistic (names repeat
    * across replicas — a 10× corpus has 10× rows per category, not 10×
    * categories). Timestamps keep the base range: a 10× corpus over the
    * same observation window (densities grow, windows don't). */
  def replicateAll(spark: SparkSession, baseDir: String, outDir: String, factor: Int): Unit = {
    replicate(spark, baseDir, outDir, factor) // documents + embeddings
    def maxPlus1(df: DataFrame, c: String): Long =
      df.agg(max(col(c).cast("long"))).collect()(0).getLong(0) + 1
    def shifted(name: String, shifts: (String, Long)*): Unit = {
      val df = spark.read.parquet(s"$baseDir/$name.parquet")
      val reps = (0 until factor).map { r =>
        shifts.foldLeft(df) { case (d, (c, base)) =>
          // cast back to the column's ORIGINAL physical type: replica
          // parquet must be schema-identical to the base (key domains at
          // any feasible replica factor stay far inside Int range)
          d.withColumn(c, (col(c) + lit(r * base)).cast(df.schema(c).dataType)) }
      }.reduce(_ unionByName _)
      reps.repartition(32).write.mode(SaveMode.Overwrite)
        .parquet(s"$outDir/$name.parquet")
    }
    val nReg = maxPlus1(spark.read.parquet(s"$baseDir/region.parquet"), "r_regionkey")
    val nNat = maxPlus1(spark.read.parquet(s"$baseDir/nation.parquet"), "n_nationkey")
    val nCust = maxPlus1(spark.read.parquet(s"$baseDir/customer.parquet"), "c_custkey")
    val nSupp = maxPlus1(spark.read.parquet(s"$baseDir/supplier.parquet"), "s_suppkey")
    val nPart = maxPlus1(spark.read.parquet(s"$baseDir/part.parquet"), "p_partkey")
    val nOrd = maxPlus1(spark.read.parquet(s"$baseDir/orders.parquet"), "o_orderkey")
    shifted("region", "r_regionkey" -> nReg)
    shifted("nation", "n_nationkey" -> nNat, "n_regionkey" -> nReg)
    shifted("customer", "c_custkey" -> nCust, "c_nationkey" -> nNat)
    shifted("supplier", "s_suppkey" -> nSupp, "s_nationkey" -> nNat)
    shifted("part", "p_partkey" -> nPart)
    shifted("orders", "o_orderkey" -> nOrd, "o_custkey" -> nCust)
    shifted("lineitem", "l_orderkey" -> nOrd, "l_partkey" -> nPart,
      "l_suppkey" -> nSupp)
    // events: user domain shifts, event ids shift, the clock doesn't
    val ev = spark.read.parquet(s"$baseDir/events.parquet")
    val nEv = maxPlus1(ev, "event_id")
    val nUser = maxPlus1(ev, "user_id")
    val evReps = (0 until factor).map { r =>
      ev.withColumn("event_id",
          (col("event_id") + lit(r * nEv)).cast(ev.schema("event_id").dataType))
        .withColumn("user_id",
          (col("user_id") + lit(r * nUser)).cast(ev.schema("user_id").dataType))
    }.reduce(_ unionByName _)
    evReps.repartition(32).write.mode(SaveMode.Overwrite)
      .parquet(s"$outDir/events.parquet")
  }
}
