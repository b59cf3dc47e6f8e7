package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.Graph

/** Round-8 wave-85:
  *
  *  - bipartiteness audit (q369): odd-cycle detection via the DOUBLED
  *    graph — each node u splits into u⁺=2u / u⁻=2u+1, each edge
  *    (u,v) becomes (u⁺,v⁻),(u⁻,v⁺); a component is bipartite iff no
  *    node's two copies land in the same doubled component. ONE
  *    grouped CC run (X-grouped pointer jumping) labels the original
  *    and doubled graphs together — no parity BFS per component. The
  *    structure read behind 2-coloring tricks (conflict-free
  *    scheduling, side-assignment) on the kNN graph;
  *  - join-order preflight (q370): the X350 single-join estimate
  *    extended to ORDERING a 4-table star (orders⋈lineitem⋈customer⋈
  *    supplier): per candidate first-join, the EXACT intermediate
  *    sizes from key-count algebra — count tables and one grouped
  *    pass of the fact table, never materializing any join. The "which
  *    join first" answer a CBO gives from estimates, here exact.
  */
object BipartiteQueries {

  /** X401 — bipartiteness audit of the pinned kNN graph via doubled-
    * graph CC: nodes, edges, components, odd nodes (copies co-located),
    * odd components, and the bipartite verdict. */
  def q369_bipartite_audit(spark: SparkSession, dir: String): DataFrame = {
    val und = OlapQueries.knnUndirectedPinned(spark, dir)
      .select(col("u"), col("v"))
    val doubled = und.select((col("u") * 2).as("id_a"), (col("v") * 2 + 1).as("id_b"))
      .unionByName(und.select(
        (col("u") * 2 + 1).as("id_a"), (col("v") * 2).as("id_b")))
    // ONE full-size CC (the doubled graph); the ORIGINAL component label
    // of node u is read DIRECTLY off it (round 12) — no second CC loop:
    // every doubled path u⁺ → w^± projects to an original path u → w, and
    // every original path u → w lifts to a doubled path from u⁺ ending at
    // w⁺ or w⁻, so {id div 2 : id ∈ comp(u⁺)} is EXACTLY u's original
    // component (each member present as one copy if the component is
    // bipartite, both if odd). min(id div 2) over the doubled component
    // is therefore the original min-reachable label — the same label the
    // former component-pair meta-CC computed, for the price of ONE
    // |nodes|-sized aggregate + one component-keyed join instead of a
    // full pointer-jumping loop (the meta loop was component-count-sized
    // data but still paid seed + rounds × (2 checkpoints + fixpoint
    // check) of sequential driver-loop jobs).
    val ldbl = graft.ops.Materialize.checkpoint(Graph.connectedComponents(doubled))
    val dmin = ldbl.groupBy("component_id")
      .agg(min(expr("id div 2")).as("oc"))
    val plus = ldbl.filter(pmod(col("id"), lit(2L)) === 0)
      .select((col("id") / 2).cast("long").as("id"), col("component_id").as("cp"))
    val minus = ldbl.filter(pmod(col("id"), lit(2L)) === 1)
      .select(((col("id") - 1) / 2).cast("long").as("id"), col("component_id").as("cm"))
    // one aggregate computes all four node-side stats: odd nodes are
    // copies co-located (cp = cm), odd components are the distinct
    // original labels among them (countDistinct ignores the when's nulls)
    val both = plus.join(minus, "id")
      .join(dmin.withColumnRenamed("component_id", "cp"), "cp")
    both.agg(count(lit(1)).as("n_nodes"),
        countDistinct("oc").as("n_components"),
        sum(when(col("cp") === col("cm"), 1L).otherwise(0L)).as("n_odd_nodes"),
        countDistinct(when(col("cp") === col("cm"), col("oc")))
          .as("n_odd_components"))
      .crossJoin(und.agg(count(lit(1)).as("n_edges")))
      .withColumn("bipartite", (col("n_odd_nodes") === 0).cast("int"))
      .select("n_nodes", "n_edges", "n_components", "n_odd_nodes",
        "n_odd_components", "bipartite")
  }

  /** X402 — join-order preflight for orders ⋈ lineitem ⋈ customer ⋈
    * supplier: per candidate first join, exact step-1/step-2 row
    * counts off key-count algebra, the shared final size, and the
    * intermediate-mass ranking. */
  def q370_join_order_preflight(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
    val l = Tables.lineitem(spark, dir).select("l_orderkey", "l_suppkey")
    val cC = Tables.customer(spark, dir).groupBy(col("c_custkey").as("k"))
      .agg(count(lit(1)).as("cc"))
    val cS = Tables.supplier(spark, dir).groupBy(col("s_suppkey").as("k"))
      .agg(count(lit(1)).as("cs"))
    val cL = l.groupBy(col("l_orderkey").as("k")).agg(count(lit(1)).as("cl"))
    // one O pass decorated with the three count tables (dimension-sized,
    // broadcast) — every plan's intermediates read off these sums
    val oDec = o
      .join(broadcast(cC), col("o_custkey") === col("k"), "left").drop("k")
      .na.fill(0L, Seq("cc"))
      .join(cL, col("o_orderkey") === col("k"), "left").drop("k")
      .na.fill(0L, Seq("cl"))
    val lAgg = l.join(broadcast(cS), col("l_suppkey") === col("k"), "left").drop("k")
      .na.fill(0L, Seq("cs"))
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("nl"), sum("cs").as("sum_cs"))
    val full = oDec.join(lAgg, col("o_orderkey") === col("l_orderkey"), "left")
      .na.fill(0L, Seq("nl", "sum_cs"))
    val sums = full.agg(
      sum("cc").as("oc"),                        // |O join C|
      sum("cl").as("ol"),                        // |O join L|
      sum(expr("cc * cl")).as("ocl"),            // |(O join C) join L|
      sum(expr("cc * sum_cs")).as("fin"),        // final 4-table size
      sum("sum_cs").as("ols"))                   // |(O join L) join S|
      .crossJoin(l.join(broadcast(cS), col("l_suppkey") === col("k"), "left")
        .na.fill(0L, Seq("cs")).agg(sum("cs").as("ls"))) // |L join S|
    val plans = sums.select(explode(expr(
      """array(
        |  named_struct('plan', 'OC_first', 's1', oc,  's2', ocl),
        |  named_struct('plan', 'OL_first', 's1', ol,  's2', ocl),
        |  named_struct('plan', 'LS_first', 's1', ls,  's2', ols))""".stripMargin))
        .as("p"), col("fin"))
      .select(col("p.plan").as("plan"), col("p.s1").as("step1_rows"),
        col("p.s2").as("step2_rows"), col("fin").as("final_rows"))
      .withColumn("intermediate_rows", col("step1_rows") + col("step2_rows"))
    // 3-row ranking window — bounded by construction
    plans.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("intermediate_rows").asc, col("plan").asc)).cast("long"))
      .orderBy("rank")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q369_bipartite_audit" -> q369_bipartite_audit,
    "q370_join_order_preflight" -> q370_join_order_preflight
  )

  // ---------------------------------------------------------------- oracles

  val oracles: Map[String, String] = Map(
    "q369_bipartite_audit" ->
      s"""WITH RECURSIVE ${OlapQueries.knnChainSql},
         |knn AS (SELECT query_id, neighbor_id FROM r WHERE rank <= ${OlapQueries.KnnK}),
         |und AS (SELECT DISTINCT least(query_id, neighbor_id) AS u,
         |               greatest(query_id, neighbor_id) AS v FROM knn),
         |eo AS (SELECT u AS src, v AS dst FROM und UNION ALL SELECT v, u FROM und),
         |ro AS (SELECT src AS id, src AS comp FROM eo
         |       UNION
         |       SELECT e.dst, r.comp FROM ro r JOIN eo e ON e.src = r.id),
         |lo AS (SELECT id, min(comp) AS component_id FROM ro GROUP BY id),
         |ed AS (SELECT 2*u AS src, 2*v+1 AS dst FROM und
         |       UNION ALL SELECT 2*v+1, 2*u FROM und
         |       UNION ALL SELECT 2*u+1, 2*v FROM und
         |       UNION ALL SELECT 2*v, 2*u+1 FROM und),
         |rd AS (SELECT src AS id, src AS comp FROM ed
         |       UNION
         |       SELECT e.dst, r.comp FROM rd r JOIN ed e ON e.src = r.id),
         |ld AS (SELECT id, min(comp) AS comp FROM rd GROUP BY id),
         |odd AS (SELECT p.id FROM
         |          (SELECT id // 2 AS id, comp FROM ld WHERE id % 2 = 0) p
         |        JOIN (SELECT (id - 1) // 2 AS id, comp FROM ld WHERE id % 2 = 1) m
         |          ON m.id = p.id AND m.comp = p.comp),
         |oc AS (SELECT DISTINCT lo.component_id FROM odd JOIN lo USING (id))
         |SELECT (SELECT CAST(count(*) AS BIGINT) FROM lo) AS n_nodes,
         |       (SELECT CAST(count(*) AS BIGINT) FROM und) AS n_edges,
         |       (SELECT CAST(count(DISTINCT component_id) AS BIGINT) FROM lo)
         |         AS n_components,
         |       (SELECT CAST(count(*) AS BIGINT) FROM odd) AS n_odd_nodes,
         |       (SELECT CAST(count(*) AS BIGINT) FROM oc) AS n_odd_components,
         |       CAST((SELECT count(*) FROM odd) = 0 AS INT) AS bipartite""".stripMargin,
    "q370_join_order_preflight" ->
      """WITH cC AS (SELECT c_custkey AS k, CAST(count(*) AS BIGINT) AS cc
        |            FROM customer GROUP BY 1),
        |cS AS (SELECT s_suppkey AS k, CAST(count(*) AS BIGINT) AS cs
        |       FROM supplier GROUP BY 1),
        |cL AS (SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS cl
        |       FROM lineitem GROUP BY 1),
        |lagg AS (SELECT l_orderkey, CAST(count(*) AS BIGINT) AS nl,
        |                CAST(sum(coalesce(cS.cs, 0)) AS BIGINT) AS sum_cs
        |         FROM lineitem LEFT JOIN cS ON cS.k = l_suppkey
        |         GROUP BY l_orderkey),
        |fullo AS (SELECT o.o_orderkey,
        |                 coalesce(cC.cc, 0) AS cc, coalesce(cL.cl, 0) AS cl,
        |                 coalesce(lagg.nl, 0) AS nl, coalesce(lagg.sum_cs, 0) AS sum_cs
        |          FROM orders o
        |          LEFT JOIN cC ON cC.k = o.o_custkey
        |          LEFT JOIN cL ON cL.k = o.o_orderkey
        |          LEFT JOIN lagg ON lagg.l_orderkey = o.o_orderkey),
        |sums AS (SELECT CAST(sum(cc) AS BIGINT) AS oc,
        |                CAST(sum(cl) AS BIGINT) AS ol,
        |                CAST(sum(cc * cl) AS BIGINT) AS ocl,
        |                CAST(sum(cc * sum_cs) AS BIGINT) AS fin,
        |                CAST(sum(sum_cs) AS BIGINT) AS ols,
        |                (SELECT CAST(sum(coalesce(cS.cs, 0)) AS BIGINT)
        |                 FROM lineitem LEFT JOIN cS ON cS.k = l_suppkey) AS ls
        |         FROM fullo),
        |plans AS (SELECT 'OC_first' AS plan, oc AS step1_rows, ocl AS step2_rows,
        |                 fin AS final_rows FROM sums
        |          UNION ALL
        |          SELECT 'OL_first', ol, ocl, fin FROM sums
        |          UNION ALL
        |          SELECT 'LS_first', ls, ols, fin FROM sums)
        |SELECT plan, step1_rows, step2_rows, final_rows,
        |       step1_rows + step2_rows AS intermediate_rows,
        |       CAST(row_number() OVER (ORDER BY step1_rows + step2_rows ASC, plan ASC)
        |         AS BIGINT) AS rank
        |FROM plans ORDER BY rank""".stripMargin
  )
}
