package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-8 wave-80:
  *
  *  - front-coding advisor (q359): the third storage-codec advisor
  *    (X348 dictionary, X349 RLE): for each candidate string column,
  *    the bytes a sorted dictionary saves by prefix-sharing — avg/sum
  *    LCP of adjacent DISTINCT values under the sort order. Windows
  *    are partitioned by first character (adjacent values in
  *    different partitions share no first char, so their LCP is 0 by
  *    construction — the cross-boundary terms the partition drops are
  *    exactly the zero terms);
  *  - double-sweep diameter estimate (q360): BFS from the min node,
  *    then BFS again from the farthest node found — the classic
  *    2-sweep lower bound on graph diameter (exact on trees, near-
  *    exact on real graphs) that q208's fixed-seed layers don't give.
  *    Each sweep is ≤ [[DiamMaxHops]] frontier joins on the pinned
  *    kNN core; the second seed is chosen IN-PLAN (no driver
  *    collect).
  */
object LayoutQueries {

  /** LCP of two string columns as a SQL fragment (max i with equal
    * i-prefixes; equality at i implies equality below, so max over the
    * candidate set is the LCP). */
  private def lcpSql(a: String, b: String): String =
    s"""coalesce(array_max(transform(
       |  sequence(0, least(length($a), length($b))),
       |  i -> CASE WHEN substring($a, 1, i) = substring($b, 1, i)
       |            THEN i ELSE 0 END)), 0)""".stripMargin

  /** X390 — front-coding (prefix-sharing) advisor over candidate
    * dictionary columns: per column, distinct values, dictionary
    * bytes, LCP bytes saved by sorted front-coding, saving ×10⁴ and
    * mean LCP ×100. */
  def q359_frontcoding_advisor(spark: SparkSession, dir: String): DataFrame = {
    def arm(colName: String, df: DataFrame): DataFrame = {
      val vals = df.select(col(colName).as("v")).filter(col("v").isNotNull).distinct()
      val w = Window.partitionBy("fc").orderBy("v")
      vals.withColumn("fc", substring(col("v"), 1, 1))
        .withColumn("prev", lag("v", 1).over(w))
        .withColumn("lcp", expr(
          s"CASE WHEN prev IS NULL THEN 0L ELSE CAST(${lcpSql("v", "prev")} AS BIGINT) END"))
        .agg(count(lit(1)).as("n_values"),
          sum(length(col("v")).cast("long")).as("dict_bytes"),
          sum("lcp").as("lcp_bytes"))
        .select(lit(colName).as("col_name"), col("n_values"), col("dict_bytes"),
          col("lcp_bytes"),
          expr("(10000 * lcp_bytes) div dict_bytes").as("saving_x10k"),
          expr("(100 * lcp_bytes) div n_values").as("mean_lcp_x100"))
    }
    Seq(arm("c_name", Tables.customer(spark, dir)),
        arm("p_name", Tables.part(spark, dir)),
        arm("p_type", Tables.part(spark, dir)))
      .reduce(_.unionByName(_))
      .orderBy("col_name")
  }

  /** Hop cap for each sweep — generous vs any kNN-graph diameter the
    * corpus produces; the loop exits early on an empty frontier. */
  val DiamMaxHops = 12

  /** X391 — double-sweep diameter: sweep 1 from the graph's min node,
    * sweep 2 from sweep 1's farthest node (max hop, min id tie).
    * Reports per sweep: source node, nodes reached, eccentricity.
    * max(ecc) over the two rows is the diameter lower bound. */
  def q360_double_sweep(spark: SparkSession, dir: String): DataFrame = {
    val und = OlapQueries.knnUndirectedPinned(spark, dir)
    val adj = graft.ops.Materialize.checkpoint(und.select(col("u").as("node"), col("v").as("nbr"))
      .unionByName(und.select(col("v").as("node"), col("u").as("nbr"))))
    def bfs(seed: DataFrame): DataFrame = {
      // per-hop FRONTIER checkpoints; visited is their lazy union (round
      // 11): re-checkpointing the growing visited set each hop was one
      // more job per hop on a chain-depth-bound query — the anti-join
      // reads the already-materialized frontier blocks through the union
      // either way, and the union plan is ≤ DiamMaxHops branches.
      // (Round 12: a two-levels-per-checkpoint fusion was A/B'd on the
      // full board and REVERTED — no win materialized and one wave read
      // +0.7 s; the per-hop expand is already exchange-light.)
      var frontiers = List(graft.ops.Materialize.checkpoint(
        seed.select(col("node")).withColumn("hop", lit(0L))))
      var frontier = frontiers.head.select("node")
      var hops = 0
      var done = false
      while (!done && hops < DiamMaxHops) {
        hops += 1
        val visitedNodes = frontiers.map(_.select("node")).reduce(_.unionByName(_))
        val next = graft.ops.Materialize.checkpoint(frontier.join(adj, "node")
          .select(col("nbr").as("node")).distinct()
          .join(visitedNodes, Seq("node"), "left_anti")
          .withColumn("hop", lit(hops.toLong)))
        if (next.isEmpty) done = true
        else {
          frontiers = next :: frontiers
          frontier = next.select("node")
        }
      }
      frontiers.reduce(_.unionByName(_))
    }
    def summarize(sweep: Long, seed: DataFrame, visited: DataFrame): DataFrame =
      visited.agg(count(lit(1)).as("n_reached"), max("hop").as("ecc"))
        .crossJoin(broadcast(seed.select(col("node").as("source_node"))))
        .select(lit(sweep).as("sweep"), col("source_node"), col("n_reached"),
          col("ecc"))
    val seed1 = adj.agg(min("node").as("node"))
    val v1 = bfs(seed1)
    val seed2 = v1.orderBy(col("hop").desc, col("node").asc).limit(1)
      .select("node")
    val v2 = bfs(seed2)
    summarize(1L, seed1, v1).unionByName(summarize(2L, seed2, v2))
      .orderBy("sweep")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q359_frontcoding_advisor" -> q359_frontcoding_advisor,
    "q360_double_sweep" -> q360_double_sweep
  )

  // ---------------------------------------------------------------- oracles

  private def lcpDuck(a: String, b: String): String =
    s"""coalesce(list_max(list_transform(
       |  generate_series(0, least(len($a), len($b))),
       |  i -> CASE WHEN substr($a, 1, i) = substr($b, 1, i)
       |            THEN i ELSE 0 END)), 0)""".stripMargin

  private def fcArm(colName: String, table: String): String =
    s"""SELECT '$colName' AS col_name,
       |       CAST(count(*) AS BIGINT) AS n_values,
       |       CAST(sum(len(v)) AS BIGINT) AS dict_bytes,
       |       CAST(sum(lcp) AS BIGINT) AS lcp_bytes,
       |       CAST((10000 * sum(lcp)) // sum(len(v)) AS BIGINT) AS saving_x10k,
       |       CAST((100 * sum(lcp)) // count(*) AS BIGINT) AS mean_lcp_x100
       |FROM (
       |  SELECT v, CASE WHEN prev IS NULL THEN 0
       |            ELSE ${lcpDuck("v", "prev")} END AS lcp
       |  FROM (
       |    SELECT v, lag(v) OVER (PARTITION BY substr(v, 1, 1) ORDER BY v) AS prev
       |    FROM (SELECT DISTINCT $colName AS v FROM $table WHERE $colName IS NOT NULL)))"""
      .stripMargin

  val oracles: Map[String, String] = Map(
    "q359_frontcoding_advisor" ->
      Seq(fcArm("c_name", "customer"), fcArm("p_name", "part"),
        fcArm("p_type", "part"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_name"),
    "q360_double_sweep" ->
      s"""WITH RECURSIVE ${OlapQueries.knnChainSql},
         |knn AS (SELECT query_id, neighbor_id FROM r WHERE rank <= ${OlapQueries.KnnK}),
         |und AS (SELECT DISTINCT least(query_id, neighbor_id) AS u,
         |               greatest(query_id, neighbor_id) AS v FROM knn),
         |adj AS (SELECT u AS node, v AS nbr FROM und
         |        UNION ALL SELECT v, u FROM und),
         |s1 AS (SELECT min(node) AS node FROM adj),
         |r1 AS (SELECT node, 0 AS hop FROM s1
         |       UNION
         |       SELECT a.nbr, r1.hop + 1 FROM r1 JOIN adj a ON a.node = r1.node
         |       WHERE r1.hop < $DiamMaxHops),
         |d1 AS (SELECT node, CAST(min(hop) AS BIGINT) AS hop FROM r1 GROUP BY node),
         |s2 AS (SELECT node FROM d1 ORDER BY hop DESC, node ASC LIMIT 1),
         |r2 AS (SELECT node, 0 AS hop FROM s2
         |       UNION
         |       SELECT a.nbr, r2.hop + 1 FROM r2 JOIN adj a ON a.node = r2.node
         |       WHERE r2.hop < $DiamMaxHops),
         |d2 AS (SELECT node, CAST(min(hop) AS BIGINT) AS hop FROM r2 GROUP BY node)
         |SELECT CAST(1 AS BIGINT) AS sweep,
         |       (SELECT node FROM s1) AS source_node,
         |       (SELECT CAST(count(*) AS BIGINT) FROM d1) AS n_reached,
         |       (SELECT max(hop) FROM d1) AS ecc
         |UNION ALL
         |SELECT 2, (SELECT node FROM s2),
         |       (SELECT CAST(count(*) AS BIGINT) FROM d2),
         |       (SELECT max(hop) FROM d2)
         |ORDER BY sweep""".stripMargin
  )
}
