package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-5 wave-13d journey/relational analytics: discrete-time
  * survival (time-to-conversion hazard — the Kaplan–Meier-style view of
  * the q39 funnel: not just WHO converts but WHEN, with the population
  * still at risk each day), and the TPC-H Q8-shape market-share query
  * (a 6-table star with two independent nation roles — the join-order
  * stress test of the relational surface).
  *
  * Oracle conventions as the sibling modules: exact integers end-to-end
  * (money via the q42 cents/basis-points convention), identical aliases
  * both sides, ORDER BY a unique key.
  */
object JourneyQueries {

  /** Epoch-day divisor (ms). */
  private val DayMs = 86400000L
  /** Market share: the customer region under study. */
  val ShareRegion = "AMERICA"

  /** X158 — time-to-conversion survival table: for every user whose
    * first `signup` is followed by a `purchase`, the day offset of the
    * FIRST such purchase; per offset day `d`, the converters at `d`, the
    * population still at risk entering `d` (signups minus everyone who
    * converted earlier — non-converters stay at risk throughout, the
    * right-censoring convention), and the discrete hazard
    * `⌊10⁴·converts/at_risk⌋`. The longitudinal twin of the q39 funnel
    * and q75's cohort matrix: a retention team reads this to see WHICH
    * day the conversion mass arrives and where the hazard collapses.
    *
    * Scale: two user-keyed partial aggregates sharing the user shuffle,
    * then all windows run over the ≤ horizon-days offset table (never
    * the event log); the signup total is a 1-row broadcast. */
  def q151_survival_hazard(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val signup = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("ts_ms").as("s_ts"))
    val conv = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_ms").as("p_ts"))
      .join(signup, "user_id")
      .filter(col("p_ts") >= col("s_ts"))
      .groupBy("user_id", "s_ts").agg(min("p_ts").as("p_ts"))
      .select(col("user_id"), expr(s"(p_ts - s_ts) div $DayMs").as("day_offset"))
    val byDay = conv.groupBy("day_offset").agg(count(lit(1)).as("n_convert"))
    val total = signup.agg(count(lit(1)).as("n_signup"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("day_offset")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    byDay.crossJoin(broadcast(total))
      .withColumn("conv_before", coalesce(sum("n_convert").over(w), lit(0L)))
      .withColumn("n_at_risk", col("n_signup") - col("conv_before"))
      .withColumn("hazard_x10k", expr("(10000 * n_convert) div n_at_risk"))
      .select("day_offset", "n_convert", "n_at_risk", "hazard_x10k")
      .orderBy("day_offset")
  }

  /** X159 — market share (TPC-H Q8 shape): within `ShareRegion`'s
    * customers, each supplier nation's share of yearly order volume —
    * lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region on the demand side
    * and supplier ⋈ nation (a SECOND, independent nation role) on the
    * supply side. Money is exact: cents × basis-points with one final
    * floor (the q42 convention), share = ⌊10⁴·vol/year total⌋.
    *
    * Scale: the fact table streams once; nation/region (and supplier at
    * TPC-H proportions) broadcast; Catalyst orders the join chain and
    * AQE re-plans the customer join at runtime — exactly the plan shape
    * the optimizer should pick unaided, pinned in PlanSpec. */
  /** The pre-checkpoint star subtree of q152 (per-(year, nation) volume) —
    * split out so PlanSpec can pin the dims-broadcast shape that q152's
    * checkpointed byNation otherwise hides behind a checkpoint leaf. */
  private[graft] def q152StarForPlanPin(spark: SparkSession, dir: String): DataFrame =
    q152Star(spark, dir)

  private def q152Star(spark: SparkSession, dir: String): DataFrame = {
    val natC = Tables.nation(spark, dir)
      .join(broadcast(Tables.region(spark, dir).filter(col("r_name") === ShareRegion)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("c_nkey"))
    val natS = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation"))
    val cust = Tables.customer(spark, dir)
      .join(broadcast(natC), col("c_nationkey") === col("c_nkey"))
      .select("c_custkey")
    val supp = Tables.supplier(spark, dir)
      .join(broadcast(natS), col("s_nationkey") === col("s_nkey"))
      .select("s_suppkey", "supp_nation")
    val vol = Tables.lineitem(spark, dir)
      .withColumn("price_c", expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
      .withColumn("disc_bp", expr("CAST(round(l_discount * 10000) AS BIGINT)"))
      .withColumn("vol_c", expr("CAST(floor(price_c * (10000 - disc_bp) / 10000) AS BIGINT)"))
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .select(year(col("o_orderdate")).cast("long").as("o_year"),
        col("supp_nation"), col("vol_c"))
    vol.groupBy("o_year", "supp_nation")
      .agg(sum("vol_c").as("nation_vol_c"))
  }

  def q152_market_share(spark: SparkSession, dir: String): DataFrame = {
    // Materialize.checkpoint (round 12): byNation is |years×nations|-row but
    // feeds BOTH the year rollup and the share join — uncached, each
    // consuming stage re-executed the whole fact star join under AQE
    val byNation = graft.ops.Materialize.checkpoint(q152Star(spark, dir))
    val byYear = byNation.groupBy("o_year").agg(sum("nation_vol_c").as("year_vol_c"))
    byNation.join(broadcast(byYear), "o_year")
      .withColumn("share_x10k", expr("(10000 * nation_vol_c) div year_vol_c"))
      .select("o_year", "supp_nation", "nation_vol_c", "year_vol_c", "share_x10k")
      .orderBy("o_year", "supp_nation")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q151_survival_hazard" -> q151_survival_hazard,
    "q152_market_share" -> q152_market_share
  )

  // ---------------------------------------------------------------- oracles

  val oracles: Map[String, String] = Map(
    "q151_survival_hazard" ->
      s"""WITH s AS (SELECT user_id, min(epoch_ms(ts)) AS s_ts FROM events
         |           WHERE event_type = 'signup' GROUP BY user_id),
         |cv AS (SELECT e.user_id,
         |              CAST((min(epoch_ms(e.ts)) - s.s_ts) // $DayMs AS BIGINT) AS day_offset
         |       FROM events e JOIN s USING (user_id)
         |       WHERE e.event_type = 'purchase' AND epoch_ms(e.ts) >= s.s_ts
         |       GROUP BY e.user_id, s.s_ts),
         |d AS (SELECT day_offset, CAST(count(*) AS BIGINT) AS n_convert
         |      FROM cv GROUP BY day_offset),
         |t AS (SELECT CAST(count(*) AS BIGINT) AS n_signup FROM s),
         |c AS (SELECT *, CAST(coalesce(sum(n_convert) OVER (ORDER BY day_offset
         |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |             AS conv_before
         |      FROM d CROSS JOIN t)
         |SELECT day_offset, n_convert,
         |       CAST(n_signup - conv_before AS BIGINT) AS n_at_risk,
         |       CAST((10000 * n_convert) // (n_signup - conv_before) AS BIGINT)
         |         AS hazard_x10k
         |FROM c ORDER BY day_offset""".stripMargin,
    "q152_market_share" ->
      s"""WITH v AS (
         |  SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year, ns.n_name AS supp_nation,
         |         CAST(floor(CAST(round(l.l_extendedprice * 100) AS BIGINT)
         |              * (10000 - CAST(round(l.l_discount * 10000) AS BIGINT)) / 10000)
         |           AS BIGINT) AS vol_c
         |  FROM lineitem l
         |  JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  JOIN customer c ON o.o_custkey = c.c_custkey
         |  JOIN nation nc ON c.c_nationkey = nc.n_nationkey
         |  JOIN region r ON nc.n_regionkey = r.r_regionkey AND r.r_name = '$ShareRegion'
         |  JOIN supplier sp ON l.l_suppkey = sp.s_suppkey
         |  JOIN nation ns ON sp.s_nationkey = ns.n_nationkey),
         |bn AS (SELECT o_year, supp_nation, CAST(sum(vol_c) AS BIGINT) AS nation_vol_c
         |       FROM v GROUP BY o_year, supp_nation),
         |yr AS (SELECT o_year, CAST(sum(nation_vol_c) AS BIGINT) AS year_vol_c
         |       FROM bn GROUP BY o_year)
         |SELECT bn.o_year, bn.supp_nation, bn.nation_vol_c, yr.year_vol_c,
         |       CAST((10000 * bn.nation_vol_c) // yr.year_vol_c AS BIGINT) AS share_x10k
         |FROM bn JOIN yr USING (o_year)
         |ORDER BY bn.o_year, bn.supp_nation""".stripMargin
  )
}
