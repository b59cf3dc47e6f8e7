package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-8 wave-66 community/structure quality on the pinned kNN graph:
  *
  *  - resource-allocation link prediction (q330): q178's common-neighbor
  *    count weighted by 1/deg of each shared neighbor — a hub shared by
  *    everyone carries (almost) no evidence; RA is the degree-corrected
  *    index that beats raw counts on hubby similarity graphs, and
  *    1/deg quantizes exactly (10⁶ div deg);
  *  - LPA modularity (q331): Newman's Q for the q310 label assignment —
  *    the number that says whether those communities are real structure
  *    or noise (Q ≈ 0 ⇒ no better than random given the degree
  *    sequence); exact-integer numerator, one floor-double division;
  *  - two-hop reach distribution (q332): |N₂(v)| histogram — the
  *    expansion profile of the graph (low reach ⇒ isolated clumps, high
  *    ⇒ small-world mixing), the capacity signal for anything that
  *    walks the graph (q315's co-visits, q195's PPR).
  *
  * All three are edge-list-sized: adjacency self-joins bounded by k per
  * endpoint (wedges ≤ n·k², never corpus²), everything else is
  * |nodes|- or |communities|-bounded aggregates.
  */
object CommunityQueries {

  val RaTopK = 50

  /** X361 — resource-allocation link prediction: for non-adjacent
    * (u, v), RA·10⁶ = Σ_z (10⁶ div deg(z)) over common neighbors z.
    * Top-[[RaTopK]] by (ra desc, u, v). Same wedge join as q178, plus
    * the |nodes|-bounded degree table broadcast onto the wedge mid. */
  def q330_resource_allocation(spark: SparkSession, dir: String): DataFrame = {
    val und = OlapQueries.knnUndirectedPinned(spark, dir)
    val adj = und.select(col("u").as("node"), col("v").as("nbr"))
      .union(und.select(col("v").as("node"), col("u").as("nbr")))
    val deg = adj.groupBy("node").agg(count(lit(1)).as("deg"))
    val wedges = adj.as("x").join(adj.as("y"),
        col("x.node") === col("y.node") && col("x.nbr") < col("y.nbr"))
      .select(col("x.node").as("z"), col("x.nbr").as("u"), col("y.nbr").as("v"))
    wedges.join(broadcast(deg.select(col("node").as("z"), col("deg"))), "z")
      .groupBy("u", "v")
      .agg(sum(expr("1000000 div deg")).as("ra_x1m"),
        count(lit(1)).cast("long").as("common_neighbors"))
      .join(und, Seq("u", "v"), "left_anti")
      .orderBy(col("ra_x1m").desc, col("u"), col("v"))
      .limit(RaTopK)
      .select(col("u").as("id_a"), col("v").as("id_b"),
        col("common_neighbors"), col("ra_x1m"))
  }

  /** X362 — modularity of the q310 LPA communities over the undirected
    * kNN edge set: Q = Σ_c [e_c/m − (d_c/2m)²] computed as the single
    * rational (4m·Σe_c − Σd_c²)/(4m²) — exact BIGINT numerator/
    * denominator at bench scale (4m² ≤ 9·10¹⁸ ⇔ m ≲ 1.5·10⁹ edges; past
    * that the q255 DECIMAL discipline applies), one floor-double
    * division for q_x1m. Per-community rows carry (nodes, degree mass,
    * intra edges) with the global m and Q replicated — the same
    * embed-the-scalar convention as q248's gini. */
  def q331_lpa_modularity(spark: SparkSession, dir: String): DataFrame = {
    val und = OlapQueries.knnUndirectedPinned(spark, dir)
    val lbl = graft.ops.Materialize.checkpoint(
      ActiveQueries.lpaLabels(spark, dir))
    val adj = und.select(col("u").as("node"), col("v").as("nbr"))
      .union(und.select(col("v").as("node"), col("u").as("nbr")))
    val deg = adj.groupBy("node").agg(count(lit(1)).as("deg"))
    val nodes = lbl.join(deg.select(col("node").as("vec_id"), col("deg")),
        Seq("vec_id"), "left")
      .withColumn("deg", coalesce(col("deg"), lit(0L)))
    val perC = nodes.groupBy("lbl")
      .agg(count(lit(1)).as("n_nodes"), sum("deg").as("d_c"))
    val intra = und
      .join(lbl.select(col("vec_id").as("u"), col("lbl").as("lu")), "u")
      .join(lbl.select(col("vec_id").as("v"), col("lbl").as("lv")), "v")
      .filter(col("lu") === col("lv"))
      .groupBy(col("lu").as("lbl")).agg(count(lit(1)).as("e_c"))
    val comm = perC.join(intra, Seq("lbl"), "left")
      .withColumn("e_c", coalesce(col("e_c"), lit(0L)))
    val tot = comm.agg(sum("e_c").as("sum_ec"), sum(col("d_c") * col("d_c")).as("sum_dc2"))
      .crossJoin(broadcast(und.agg(count(lit(1)).as("m_edges"))))
      .withColumn("q_x1m", expr(
        "CASE WHEN m_edges = 0 THEN 0 ELSE CAST(floor(1e6 * " +
          "CAST(4 * m_edges * sum_ec - sum_dc2 AS DOUBLE) / " +
          "CAST(4 * m_edges * m_edges AS DOUBLE)) AS BIGINT) END"))
      .select("m_edges", "q_x1m")
    comm.crossJoin(broadcast(tot))
      .select(col("lbl"), col("n_nodes"), col("d_c"), col("e_c"),
        col("m_edges"), col("q_x1m"))
      .orderBy(col("n_nodes").desc, col("lbl"))
  }

  /** X363 — two-hop reach distribution: per node, |{w ≠ v : dist ≤ 2}|
    * (adjacency ∪ one wedge hop, distinct), then the histogram of that
    * reach — the graph's expansion profile. Wedge work is ≤ deg² per
    * node (k-bounded by the kNN core's contract). */
  def q332_two_hop_reach(spark: SparkSession, dir: String): DataFrame = {
    val und = OlapQueries.knnUndirectedPinned(spark, dir)
    val adj = graft.ops.Materialize.checkpoint(
      und.select(col("u").as("node"), col("v").as("nbr"))
        .union(und.select(col("v").as("node"), col("u").as("nbr"))))
    val twoHop = adj.as("x")
      .join(adj.as("y"), col("x.nbr") === col("y.node"))
      .select(col("x.node").as("node"), col("y.nbr").as("nbr"))
      .filter(col("node") =!= col("nbr"))
    val reach = adj.unionByName(twoHop).distinct()
      .groupBy("node").agg(count(lit(1)).as("reach2"))
    reach.groupBy("reach2").agg(count(lit(1)).as("n_nodes"))
      .orderBy("reach2")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q330_resource_allocation" -> q330_resource_allocation,
    "q331_lpa_modularity" -> q331_lpa_modularity,
    "q332_two_hop_reach" -> q332_two_hop_reach
  )

  // ---------------------------------------------------------------- oracles

  private val undSql =
    s"""und AS (SELECT DISTINCT least(query_id, neighbor_id) AS u,
       |               greatest(query_id, neighbor_id) AS v
       |        FROM r WHERE rank <= ${OlapQueries.KnnK}),
       |adj AS (SELECT u AS node, v AS nbr FROM und
       |        UNION ALL SELECT v, u FROM und),
       |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY node)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q330_resource_allocation" ->
      s"""WITH ${OlapQueries.knnChainSql},
         |$undSql,
         |w AS (SELECT x.node AS z, x.nbr AS u, y.nbr AS v
         |      FROM adj x JOIN adj y ON x.node = y.node AND x.nbr < y.nbr),
         |ra AS (SELECT w.u, w.v,
         |              CAST(sum(1000000 // d.deg) AS BIGINT) AS ra_x1m,
         |              CAST(count(*) AS BIGINT) AS common_neighbors
         |       FROM w JOIN deg d ON d.node = w.z
         |       GROUP BY w.u, w.v),
         |nonadj AS (SELECT ra.* FROM ra
         |           WHERE NOT EXISTS (SELECT 1 FROM und
         |                             WHERE und.u = ra.u AND und.v = ra.v))
         |SELECT u AS id_a, v AS id_b, common_neighbors, ra_x1m
         |FROM nonadj
         |ORDER BY ra_x1m DESC, u, v LIMIT $RaTopK""".stripMargin,
    "q331_lpa_modularity" ->
      s"""WITH ${ActiveQueries.lpaChainSql},
         |$undSql,
         |nodes AS (SELECT l2.vec_id, l2.lbl, coalesce(deg.deg, 0) AS deg
         |          FROM l2 LEFT JOIN deg ON deg.node = l2.vec_id),
         |perc AS (SELECT lbl, CAST(count(*) AS BIGINT) AS n_nodes,
         |                CAST(sum(deg) AS BIGINT) AS d_c
         |         FROM nodes GROUP BY lbl),
         |intra AS (SELECT lu.lbl, CAST(count(*) AS BIGINT) AS e_c
         |          FROM und
         |          JOIN l2 lu ON lu.vec_id = und.u
         |          JOIN l2 lv ON lv.vec_id = und.v
         |          WHERE lu.lbl = lv.lbl
         |          GROUP BY lu.lbl),
         |comm AS (SELECT perc.lbl, perc.n_nodes, perc.d_c,
         |                CAST(coalesce(intra.e_c, 0) AS BIGINT) AS e_c
         |         FROM perc LEFT JOIN intra ON intra.lbl = perc.lbl),
         |me AS (SELECT CAST(count(*) AS BIGINT) AS m_edges FROM und),
         |tot AS (SELECT CAST(sum(e_c) AS BIGINT) AS sum_ec,
         |               CAST(sum(d_c * d_c) AS BIGINT) AS sum_dc2,
         |               max(me.m_edges) AS m_edges,
         |               CAST(CASE WHEN max(me.m_edges) = 0 THEN 0
         |                    ELSE floor(1e6 *
         |                      CAST(4 * max(me.m_edges) * sum(e_c) - sum(d_c * d_c) AS DOUBLE) /
         |                      CAST(4 * max(me.m_edges) * max(me.m_edges) AS DOUBLE))
         |                    END AS BIGINT) AS q_x1m
         |        FROM comm CROSS JOIN me)
         |SELECT comm.lbl, comm.n_nodes, comm.d_c, comm.e_c,
         |       tot.m_edges, tot.q_x1m
         |FROM comm CROSS JOIN tot
         |ORDER BY comm.n_nodes DESC, comm.lbl""".stripMargin,
    "q332_two_hop_reach" ->
      s"""WITH ${OlapQueries.knnChainSql},
         |$undSql,
         |th AS (SELECT x.node, y.nbr FROM adj x JOIN adj y ON x.nbr = y.node
         |       WHERE x.node <> y.nbr),
         |re AS (SELECT node, CAST(count(DISTINCT nbr) AS BIGINT) AS reach2
         |       FROM (SELECT node, nbr FROM adj UNION ALL SELECT node, nbr FROM th)
         |       GROUP BY node)
         |SELECT reach2, CAST(count(*) AS BIGINT) AS n_nodes
         |FROM re GROUP BY reach2 ORDER BY reach2""".stripMargin
  )
}
