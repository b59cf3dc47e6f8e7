package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{KMeans, Relational}

/** Round-8 wave-84:
  *
  *  - quantile treatment effect (q367): the A/B readout beyond the
  *    mean — per order-value decile WITHIN each md5-parity arm (the
  *    q320 assignment convention, keyed on the customer), the arm
  *    means and their difference. A treatment that moves the tail but
  *    not the median is invisible to q320 and obvious here. Deciles
  *    via the exact integer rank formula over the two-phase global
  *    index (no ntile, no single-task window);
  *  - IVF cell-balance audit (q368): population skew of the q65
  *    Lloyd coarse quantizer — per cell, share vs uniform and
  *    relative deviation ×10⁴. A skewed coarse quantizer is the
  *    silent ANN cost bug: nProbe lists cover wildly different
  *    fractions of the corpus, so latency and recall both wobble;
  *    this is the capacity-planning read behind X92's persisted
  *    index.
  */
object QteQueries {

  /** X399 — quantile treatment effect per decile: order value cents by
    * decile within each arm; QTE = mean_b − mean_a per decile. */
  def q367_qte_deciles(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("value_c"))
      .withColumn("arm",
        when(substring(md5(concat_ws(":", lit("ab8"), col("o_custkey"))), 1, 1) >= "8",
          lit("b")).otherwise(lit("a")))
    val idxd = Relational.globalIndex(o,
      Seq(col("arm"), col("value_c"), col("o_orderkey")), "__gidx")
    val armOff = o.groupBy("arm").agg(count(lit(1)).as("__n"))
      .withColumn("__start", coalesce(
        sum(col("__n")).over(
          Window.partitionBy(pmod(length(col("arm")), lit(1))).orderBy("arm")
            .rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
    // Materialize.checkpoint (round 12): dec is ≤ 2·10 rows but feeds BOTH the
    // a-side and b-side of the final self-join — uncached, each side
    // re-ran the whole global-index + decile-aggregate chain
    val dec = graft.ops.Materialize.checkpoint(idxd.join(broadcast(armOff), "arm")
      .withColumn("decile", expr("((__gidx - __start - 1) * 10) div __n"))
      .groupBy("arm", "decile")
      .agg(count(lit(1)).as("n"), sum("value_c").as("sum_c"))
      .withColumn("mean_c", expr("sum_c div n")))
    dec.filter(col("arm") === "a")
      .select(col("decile"), col("n").as("n_a"), col("mean_c").as("mean_a_c"))
      .join(dec.filter(col("arm") === "b")
        .select(col("decile"), col("n").as("n_b"), col("mean_c").as("mean_b_c")),
        "decile")
      .withColumn("qte_c", col("mean_b_c") - col("mean_a_c"))
      .orderBy("decile")
  }

  /** X400 — IVF cell-balance audit over the q65 Lloyd assignment: per
    * cell population, share ×10⁴ vs the uniform 10⁴/k, and relative
    * deviation ×10⁴; empty cells appear as explicit zero rows. */
  def q368_ivf_balance(spark: SparkSession, dir: String): DataFrame = {
    import AnalyticsQueries.{KmeansIters, KmeansK}
    val assign = KMeans.lloydAssign(Tables.embeddings(spark, dir),
      KmeansK, KmeansIters)
    val counts = assign.groupBy("cluster").agg(count(lit(1)).as("n_vectors"))
    val tot = assign.agg(count(lit(1)).as("n_total"))
    spark.range(KmeansK).select(col("id").as("cluster"))
      .join(counts, Seq("cluster"), "left")
      .na.fill(0L, Seq("n_vectors"))
      .crossJoin(broadcast(tot))
      .withColumn("share_x10k", expr("(10000 * n_vectors) div n_total"))
      .withColumn("rel_dev_x10k",
        // DECIMAL(38,0): 10⁴·k·n_vectors passes BIGINT near 1e12 vectors
        // per cell at k=64 (round-9 envelope audit)
        expr(s"CAST((10000 * CAST(n_vectors AS DECIMAL(38,0)) * $KmeansK) div n_total AS BIGINT) - 10000"))
      .select("cluster", "n_vectors", "share_x10k", "rel_dev_x10k")
      .orderBy("cluster")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q367_qte_deciles" -> q367_qte_deciles,
    "q368_ivf_balance" -> q368_ivf_balance
  )

  // ---------------------------------------------------------------- oracles

  val oracles: Map[String, String] = Map(
    "q367_qte_deciles" ->
      """WITH o AS (SELECT o_orderkey,
        |                  CAST(round(o_totalprice * 100) AS BIGINT) AS value_c,
        |                  CASE WHEN substr(md5(concat('ab8', ':',
        |                         CAST(o_custkey AS VARCHAR))), 1, 1) >= '8'
        |                       THEN 'b' ELSE 'a' END AS arm
        |           FROM orders),
        |r AS (SELECT *, row_number() OVER (PARTITION BY arm
        |              ORDER BY value_c, o_orderkey) AS rk,
        |             count(*) OVER (PARTITION BY arm) AS n_arm
        |      FROM o),
        |d AS (SELECT arm, ((rk - 1) * 10) // n_arm AS decile,
        |             CAST(count(*) AS BIGINT) AS n,
        |             CAST(sum(value_c) AS BIGINT) AS sum_c
        |      FROM r GROUP BY 1, 2)
        |SELECT a.decile AS decile, a.n AS n_a,
        |       CAST(a.sum_c // a.n AS BIGINT) AS mean_a_c,
        |       b.n AS n_b, CAST(b.sum_c // b.n AS BIGINT) AS mean_b_c,
        |       CAST(b.sum_c // b.n - a.sum_c // a.n AS BIGINT) AS qte_c
        |FROM d a JOIN d b ON a.decile = b.decile AND a.arm = 'a' AND b.arm = 'b'
        |ORDER BY decile""".stripMargin,
    "q368_ivf_balance" -> {
      import AnalyticsQueries.{KmeansK, lloydAssignSql}
      s"""WITH $lloydAssignSql,
         |counts AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n_vectors
         |           FROM a2 GROUP BY cluster),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM a2),
         |spine AS (SELECT CAST(unnest(generate_series(0, ${KmeansK - 1})) AS BIGINT)
         |            AS cluster)
         |SELECT s.cluster, CAST(coalesce(c.n_vectors, 0) AS BIGINT) AS n_vectors,
         |       CAST((10000 * coalesce(c.n_vectors, 0)) // t.n_total AS BIGINT)
         |         AS share_x10k,
         |       CAST((10000 * coalesce(c.n_vectors, 0) * $KmeansK) // t.n_total
         |            - 10000 AS BIGINT) AS rel_dev_x10k
         |FROM spine s LEFT JOIN counts c USING (cluster) CROSS JOIN tot t
         |ORDER BY s.cluster""".stripMargin
    }
  )
}
