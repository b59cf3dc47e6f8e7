package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-8 wave-68 estimator-fidelity calibrations — the two estimators a
  * query planner / scale-path trusts blindly, measured against exact
  * ground truth on the same data:
  *
  *  - histogram join-selectivity fidelity (q335): the equi-width
  *    histogram estimate every CBO uses (per bucket, ca·cb / max(ndv))
  *    vs q319's exact Σ ca_k·cb_k — when the estimate is off 10×, so is
  *    every plan decision downstream of it (X344's column stats feed
  *    exactly this formula);
  *  - Bloom false-positive calibration (q336): measured FPR of the
  *    q192-style md5 double-hash Bloom construction at several
  *    bits-per-key budgets, against a guaranteed-disjoint probe set —
  *    the table that prices the X210 decontamination prefilter's
  *    shuffle savings (fill ratio and FPR are what decide bpk at
  *    100 TB, and the md5 construction makes the measurement
  *    oracle-replayable bit-for-bit).
  *
  * Both are bounded: histogram arms are |buckets|-sized aggregates over
  * key-count tables; Bloom arms are |keys|·k + |probes|·k position rows
  * per budget, joined on bit position only.
  */
object FidelityQueries {

  /** Equi-width histogram bucket width for the selectivity audit. */
  val HistBucketW = 256L

  /** X366 — histogram join-selectivity fidelity: for each q319 join,
    * the equi-width-histogram estimate (per bucket b: ca_b·cb_b div
    * max(ndv_a_b, ndv_b_b) — the uniform-within-bucket containment
    * assumption) vs the exact per-key Σ ca_k·cb_k, with the error ratio
    * ×100. One key-count aggregate per side feeds BOTH the exact total
    * and the bucketed histogram — the fact tables are read once. */
  def q335_histogram_fidelity(spark: SparkSession, dir: String): DataFrame = {
    def arm(name: String, a: DataFrame, ak: String,
        b: DataFrame, bk: String): DataFrame = {
      val ca = graft.ops.Materialize.checkpoint(
        a.groupBy(col(ak).as("k")).agg(count(lit(1)).as("ca")))
      val cb = graft.ops.Materialize.checkpoint(
        b.groupBy(col(bk).as("k")).agg(count(lit(1)).as("cb")))
      val exact = ca.join(cb, "k")
        .agg(coalesce(sum(col("ca") * col("cb")), lit(0L)).as("exact_rows"))
      val ha = ca.groupBy(expr(s"k div $HistBucketW").as("b"))
        .agg(sum("ca").as("ca"), count(lit(1)).as("ndv_a"))
      val hb = cb.groupBy(expr(s"k div $HistBucketW").as("b"))
        .agg(sum("cb").as("cb"), count(lit(1)).as("ndv_b"))
      val est = ha.join(hb, "b")
        .agg(coalesce(sum(expr("(ca * cb) div greatest(ndv_a, ndv_b)")), lit(0L))
          .as("est_rows"), count(lit(1)).as("n_buckets"))
      est.crossJoin(broadcast(exact))
        .select(lit(name).as("join_name"), col("n_buckets"),
          col("est_rows"), col("exact_rows"),
          expr("CASE WHEN exact_rows = 0 THEN -1 " +
            "ELSE (100 * est_rows) div exact_rows END").as("est_over_exact_x100"))
    }
    val ev = Tables.events(spark, dir)
    val cust = Tables.customer(spark, dir)
    val li = Tables.lineitem(spark, dir)
    val ord = Tables.orders(spark, dir)
    arm("events_customer", ev, "user_id", cust, "c_custkey")
      .unionByName(arm("events_events_user", ev, "user_id", ev, "user_id"))
      .unionByName(arm("lineitem_orders", li, "l_orderkey", ord, "o_orderkey"))
      .orderBy("join_name")
  }

  /** Bits-per-key budgets swept by the Bloom calibration. */
  val BloomBpk = Seq(4L, 8L, 16L)
  /** Hashes per key (the q192 double-hash convention). */
  val BloomK = 2

  /** X367 — Bloom false-positive calibration: members = customer keys,
    * probes = the same keys shifted out of range (guaranteed disjoint,
    * same cardinality — so fpr is measured, not modeled). Per budget:
    * m = bpk·n bits, each key sets [[BloomK]] md5-derived positions; a
    * probe is a false positive iff ALL its positions are set. Reports
    * fill ratio ×10⁶ and measured FPR ×10⁶ per budget. */
  def q336_bloom_calibration(spark: SparkSession, dir: String): DataFrame = {
    val keys = graft.ops.Materialize.cache(
      Tables.customer(spark, dir).select(col("c_custkey").as("id")))
    val n = keys.agg(count(lit(1)).as("n_keys"))
    def pos(idCol: String, h: Int, mExpr: String): String =
      s"CAST(conv(substring(md5(concat('b$h:', CAST($idCol AS STRING))), 1, 12), 16, 10) AS BIGINT) % $mExpr"
    val arms = BloomBpk.map { bpk =>
      val withM = keys.crossJoin(broadcast(n))
        .withColumn("m_bits", expr(s"$bpk * n_keys"))
      val bits = (1 to BloomK).map { h =>
        withM.select(expr(pos("id", h, "m_bits")).as("bit"))
      }.reduce(_ unionByName _).distinct()
      val bitsC = graft.ops.Materialize.cache(bits)
      val nBits = bitsC.agg(count(lit(1)).as("bits_set"))
      val probes = withM.select((col("id") + 10000000L).as("pid"), col("m_bits"))
      val probePos = (1 to BloomK).map { h =>
        probes.select(col("pid"), expr(pos("pid", h, "m_bits")).as("bit"))
      }.reduce(_ unionByName _)
      val fp = probePos
        .join(bitsC.withColumn("hit", lit(1L)), Seq("bit"), "left")
        .groupBy("pid")
        .agg((count(lit(1)) === sum(coalesce(col("hit"), lit(0L)))).cast("long").as("all_set"))
        .agg(count(lit(1)).as("n_probes"), sum("all_set").as("n_fp"))
      fp.crossJoin(broadcast(nBits)).crossJoin(broadcast(n))
        .select(lit(bpk).as("bits_per_key"),
          expr(s"$bpk * n_keys").as("m_bits"), col("n_keys"),
          expr(s"(1000000 * bits_set) div ($bpk * n_keys)").as("fill_x1m"),
          col("n_probes"), col("n_fp"),
          expr("(1000000 * n_fp) div n_probes").as("fpr_x1m"))
    }
    arms.reduce(_ unionByName _).orderBy("bits_per_key")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q335_histogram_fidelity" -> q335_histogram_fidelity,
    "q336_bloom_calibration" -> q336_bloom_calibration
  )

  // ---------------------------------------------------------------- oracles

  private def histArmSql(tag: String, name: String,
      aFrom: String, ak: String, bFrom: String, bk: String): String =
    s"""ca$tag AS (SELECT $ak AS k, CAST(count(*) AS BIGINT) AS ca FROM $aFrom GROUP BY 1),
       |cb$tag AS (SELECT $bk AS k, CAST(count(*) AS BIGINT) AS cb FROM $bFrom GROUP BY 1),
       |ex$tag AS (SELECT CAST(coalesce(sum(ca.ca * cb.cb), 0) AS BIGINT) AS exact_rows
       |           FROM ca$tag ca JOIN cb$tag cb USING (k)),
       |ha$tag AS (SELECT k // $HistBucketW AS b, CAST(sum(ca) AS BIGINT) AS ca,
       |                  CAST(count(*) AS BIGINT) AS ndv_a FROM ca$tag GROUP BY 1),
       |hb$tag AS (SELECT k // $HistBucketW AS b, CAST(sum(cb) AS BIGINT) AS cb,
       |                  CAST(count(*) AS BIGINT) AS ndv_b FROM cb$tag GROUP BY 1),
       |es$tag AS (SELECT CAST(coalesce(sum((ca * cb) // greatest(ndv_a, ndv_b)), 0) AS BIGINT)
       |                    AS est_rows,
       |                  CAST(count(*) AS BIGINT) AS n_buckets
       |           FROM ha$tag JOIN hb$tag USING (b)),
       |r$tag AS (SELECT '$name' AS join_name, es$tag.n_buckets, es$tag.est_rows,
       |                 ex$tag.exact_rows,
       |                 CAST(CASE WHEN ex$tag.exact_rows = 0 THEN -1
       |                      ELSE (100 * es$tag.est_rows) // ex$tag.exact_rows END AS BIGINT)
       |                   AS est_over_exact_x100
       |          FROM es$tag CROSS JOIN ex$tag)""".stripMargin

  private def bloomArmSql(bpk: Long): String = {
    def pos(idExpr: String, h: Int): String =
      s"CAST(concat('0x', substr(md5(concat('b$h:', CAST($idExpr AS VARCHAR))), 1, 12)) AS BIGINT) % ($bpk * (SELECT n_keys FROM nk))"
    s"""bits$bpk AS (SELECT DISTINCT bit FROM (
       |    SELECT ${pos("id", 1)} AS bit FROM mk
       |    UNION ALL SELECT ${pos("id", 2)} FROM mk)),
       |nb$bpk AS (SELECT CAST(count(*) AS BIGINT) AS bits_set FROM bits$bpk),
       |pp$bpk AS (SELECT id + 10000000 AS pid, ${pos("(id + 10000000)", 1)} AS b1,
       |                  ${pos("(id + 10000000)", 2)} AS b2 FROM mk),
       |fp$bpk AS (SELECT CAST(count(*) AS BIGINT) AS n_probes,
       |                  CAST(sum(CASE WHEN EXISTS (SELECT 1 FROM bits$bpk WHERE bit = b1)
       |                                 AND EXISTS (SELECT 1 FROM bits$bpk WHERE bit = b2)
       |                           THEN 1 ELSE 0 END) AS BIGINT) AS n_fp
       |           FROM pp$bpk),
       |r$bpk AS (SELECT CAST($bpk AS BIGINT) AS bits_per_key,
       |                 CAST($bpk * nk.n_keys AS BIGINT) AS m_bits, nk.n_keys,
       |                 CAST((1000000 * nb$bpk.bits_set) // ($bpk * nk.n_keys) AS BIGINT) AS fill_x1m,
       |                 fp$bpk.n_probes, fp$bpk.n_fp,
       |                 CAST((1000000 * fp$bpk.n_fp) // fp$bpk.n_probes AS BIGINT) AS fpr_x1m
       |          FROM nk CROSS JOIN nb$bpk CROSS JOIN fp$bpk)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q335_histogram_fidelity" -> {
      val a1 = histArmSql("1", "events_customer", "events", "user_id",
        "customer", "c_custkey")
      val a2 = histArmSql("2", "events_events_user", "events", "user_id",
        "events", "user_id")
      val a3 = histArmSql("3", "lineitem_orders", "lineitem", "l_orderkey",
        "orders", "o_orderkey")
      s"""WITH $a1,
         |$a2,
         |$a3
         |SELECT * FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2
         |               UNION ALL SELECT * FROM r3)
         |ORDER BY join_name""".stripMargin
    },
    "q336_bloom_calibration" -> {
      val arms = BloomBpk.map(bloomArmSql).mkString(",\n")
      val union = BloomBpk.map(b => s"SELECT * FROM r$b").mkString("\n  UNION ALL ")
      s"""WITH mk AS (SELECT c_custkey AS id FROM customer),
         |nk AS (SELECT CAST(count(*) AS BIGINT) AS n_keys FROM mk),
         |$arms
         |SELECT * FROM ($union)
         |ORDER BY bits_per_key""".stripMargin
    }
  )
}
