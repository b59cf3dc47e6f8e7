package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-5 wave-28 structure-mining operators: A-priori frequent
  * triples (candidate generation from frequent pairs — the actual
  * A-priori step, not brute enumeration), local-bridge detection (edges
  * with no closing wedge — the weak ties holding the kNN graph
  * together), and BFS reachability layers (how much of the corpus sits
  * within k hops of a seed).
  *
  * Oracle conventions as the sibling modules: exact integers
  * end-to-end, identical aliases both sides, ORDER BY a unique key.
  */
object StructureQueries {

  import PipelineQueries.DayMs

  /** Triple support floor (baskets = distinct (user, day) type sets). */
  val TripleMinSupport = 25L

  /** X226 — A-priori frequent triples: event-type triples co-occurring
    * in ≥ [[TripleMinSupport]] (user, day) baskets, with support ×10⁴,
    * confidence of the ab→c rule ×1k, and lift vs item c ×1k. The
    * candidate set is generated the A-PRIORI way — join frequent PAIRS
    * sharing the leading item, then require the third face (b,c)
    * frequent too (downward closure) — so the basket re-scan counts
    * only candidates that can pass, never |vocab|³ combinations. The
    * depth-3 extension of q117's pair rules.
    *
    * Scale: pair/triple spaces are vocabulary-bounded; the support
    * count shuffles (user, day)-keyed baskets once per depth. */
  def q206_frequent_triples(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), expr(s"ts_ms div $DayMs").as("d"), col("event_type"))
      .distinct()
    val fp = e.select(col("user_id"), col("d"), col("event_type").as("a"))
      .join(e.select(col("user_id"), col("d"), col("event_type").as("b")),
        Seq("user_id", "d"))
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= TripleMinSupport)
    // A-priori candidates: (a,b) ⋈ (a,c) with b < c, (b,c) frequent too
    val cand = fp.select(col("a"), col("b"), col("n_ab"))
      .join(fp.select(col("a"), col("b").as("c"), col("n_ab").as("n_ac")), "a")
      .filter(col("b") < col("c"))
      .join(fp.select(col("a").as("b"), col("b").as("c")), Seq("b", "c"), "left_semi")
    val triples = cand
      .join(e.select(col("user_id"), col("d"), col("event_type").as("a")), "a")
      .join(e.select(col("user_id"), col("d"), col("event_type").as("b")),
        Seq("user_id", "d", "b"))
      .join(e.select(col("user_id"), col("d"), col("event_type").as("c")),
        Seq("user_id", "d", "c"))
      .groupBy("a", "b", "c", "n_ab")
      .agg(count(lit(1)).as("n_abc"))
      .filter(col("n_abc") >= TripleMinSupport)
    val items = e.groupBy(col("event_type").as("c"))
      .agg(count(lit(1)).as("n_c"))
    val baskets = e.select("user_id", "d").distinct().agg(count(lit(1)).as("n_baskets"))
    triples.join(items, "c").crossJoin(broadcast(baskets))
      .select(col("a").as("item_a"), col("b").as("item_b"), col("c").as("item_c"),
        col("n_abc"),
        expr("(10000 * n_abc) div n_baskets").as("support_x10k"),
        expr("(1000 * n_abc) div n_ab").as("conf_ab_c_x1k"),
        // DECIMAL(38,0): n_abc·n_baskets overflows BIGINT once both pass
        // ~3e9 baskets (round-9 envelope audit)
        expr("CAST((1000 * CAST(n_abc AS DECIMAL(38,0)) * n_baskets) div (n_ab * n_c) AS BIGINT)").as("lift_x1k"))
      .orderBy("item_a", "item_b", "item_c")
  }

  /** X227 — local bridges of the kNN graph: edges whose endpoints share
    * ZERO neighbors (no closing wedge — removing one locally
    * disconnects its endpoints' neighborhoods). These weak ties are the
    * graph's information bridges (Granovetter) and, on an embedding
    * kNN graph, the seams between semantic regions — where cluster
    * boundaries and retrieval blind spots live. Per node: degree,
    * bridge count, bridge share ×10⁴.
    *
    * Scale: wedge closure counts ride the q145 adjacency equijoins
    * (deg ≤ 2k bounded); everything is edge-list-sized, off the
    * session-pinned edge core. */
  def q207_local_bridges(spark: SparkSession, dir: String): DataFrame = {
    val und = OlapQueries.knnUndirectedPinned(spark, dir)
    val adj = und.select(col("u").as("node"), col("v").as("nbr"))
      .union(und.select(col("v").as("node"), col("u").as("nbr")))
    // wedges closing each edge: common neighbors of (u, v)
    val closed = und
      .join(adj.select(col("node").as("u"), col("nbr").as("w")), "u")
      .join(adj.select(col("node").as("v"), col("nbr").as("w")), Seq("v", "w"),
        "left_semi")
      .groupBy("u", "v").agg(count(lit(1)).as("cn"))
    val edges = und.join(closed, Seq("u", "v"), "left")
      .withColumn("is_bridge", (coalesce(col("cn"), lit(0L)) === 0L).cast("long"))
    val perEnd = edges.select(col("u").as("node"), col("is_bridge"))
      .union(edges.select(col("v").as("node"), col("is_bridge")))
    perEnd.groupBy("node")
      .agg(count(lit(1)).cast("long").as("degree"),
        sum("is_bridge").as("n_bridges"))
      .withColumn("bridge_x10k", expr("(10000 * n_bridges) div degree"))
      .select(col("node").as("vec_id"), col("degree"), col("n_bridges"),
        col("bridge_x10k"))
      .orderBy("vec_id")
  }

  /** BFS seed and hop bound. */
  val BfsSeed = 0L
  val BfsMaxHops = 4

  /** X228 — BFS reachability layers: nodes first reached at hop
    * 1..[[BfsMaxHops]] from [[BfsSeed]] over the undirected kNN graph —
    * the "how connected is the corpus around this point" profile
    * (small-world embeddings saturate within a few hops; a slowly
    * growing frontier signals fragmentation). A bounded driver loop of
    * frontier-expand ∘ visited-anti-join rounds (the CC/PageRank
    * iteration discipline — constant rounds, edge-list-sized work per
    * round, never |V|² paths); the oracle is a recursive CTE whose
    * UNION-dedup keeps (node, hop) pairs finite. */
  def q208_bfs_layers(spark: SparkSession, dir: String): DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    val und = OlapQueries.knnUndirectedPinned(spark, dir)
    val adj = und.select(col("u").as("node"), col("v").as("nbr"))
      .union(und.select(col("v").as("node"), col("u").as("nbr")))
    var visited = Seq((BfsSeed, 0L)).toDF("node", "hop")
    var frontier = visited.select("node")
    for (h <- 1 to BfsMaxHops) {
      val next = frontier.join(adj, "node")
        .select(col("nbr").as("node")).distinct()
        .join(visited.select("node"), Seq("node"), "left_anti")
        .withColumn("hop", lit(h.toLong))
      visited = graft.ops.Materialize.checkpoint(visited.unionByName(next))
      frontier = next.select("node")
    }
    visited.groupBy("hop")
      .agg(count(lit(1)).cast("long").as("n_nodes"))
      .orderBy("hop")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q206_frequent_triples" -> q206_frequent_triples,
    "q207_local_bridges" -> q207_local_bridges,
    "q208_bfs_layers" -> q208_bfs_layers
  )

  // ---------------------------------------------------------------- oracles

  val oracles: Map[String, String] = Map(
    "q206_frequent_triples" ->
      s"""WITH e AS (SELECT DISTINCT user_id, epoch_ms(ts) // $DayMs AS d, event_type
         |           FROM events),
         |fp AS (SELECT a.event_type AS a, b.event_type AS b,
         |              CAST(count(*) AS BIGINT) AS n_ab
         |       FROM e a JOIN e b ON a.user_id = b.user_id AND a.d = b.d
         |                        AND a.event_type < b.event_type
         |       GROUP BY 1, 2 HAVING count(*) >= $TripleMinSupport),
         |cand AS (SELECT p1.a, p1.b, p2.b AS c, p1.n_ab
         |         FROM fp p1 JOIN fp p2 ON p2.a = p1.a AND p1.b < p2.b
         |         WHERE EXISTS (SELECT 1 FROM fp p3
         |                       WHERE p3.a = p1.b AND p3.b = p2.b)),
         |tr AS (SELECT cand.a, cand.b, cand.c, cand.n_ab,
         |              CAST(count(*) AS BIGINT) AS n_abc
         |       FROM cand
         |       JOIN e x ON x.event_type = cand.a
         |       JOIN e y ON y.user_id = x.user_id AND y.d = x.d
         |               AND y.event_type = cand.b
         |       JOIN e z ON z.user_id = x.user_id AND z.d = x.d
         |               AND z.event_type = cand.c
         |       GROUP BY 1, 2, 3, 4 HAVING count(*) >= $TripleMinSupport),
         |it AS (SELECT event_type AS c, CAST(count(*) AS BIGINT) AS n_c
         |       FROM e GROUP BY event_type),
         |bk AS (SELECT CAST(count(*) AS BIGINT) AS n_baskets
         |       FROM (SELECT DISTINCT user_id, d FROM e))
         |SELECT tr.a AS item_a, tr.b AS item_b, tr.c AS item_c, tr.n_abc,
         |       CAST((10000 * tr.n_abc) // bk.n_baskets AS BIGINT) AS support_x10k,
         |       CAST((1000 * tr.n_abc) // tr.n_ab AS BIGINT) AS conf_ab_c_x1k,
         |       CAST((1000 * tr.n_abc * bk.n_baskets) // (tr.n_ab * it.n_c) AS BIGINT)
         |         AS lift_x1k
         |FROM tr JOIN it ON it.c = tr.c CROSS JOIN bk
         |ORDER BY item_a, item_b, item_c""".stripMargin,
    "q207_local_bridges" ->
      s"""WITH ${OlapQueries.knnChainSql},
         |knn AS (SELECT query_id, neighbor_id FROM r WHERE rank <= ${OlapQueries.KnnK}),
         |und AS (SELECT DISTINCT least(query_id, neighbor_id) AS u,
         |               greatest(query_id, neighbor_id) AS v FROM knn),
         |adj AS (SELECT u AS node, v AS nbr FROM und
         |        UNION ALL SELECT v AS node, u AS nbr FROM und),
         |cl AS (SELECT e.u, e.v, CAST(count(*) AS BIGINT) AS cn
         |       FROM und e
         |       JOIN adj x ON x.node = e.u
         |       JOIN adj y ON y.node = e.v AND y.nbr = x.nbr
         |       GROUP BY e.u, e.v),
         |ed AS (SELECT und.u, und.v,
         |              CASE WHEN coalesce(cl.cn, 0) = 0 THEN 1 ELSE 0 END AS is_bridge
         |       FROM und LEFT JOIN cl ON cl.u = und.u AND cl.v = und.v),
         |pe AS (SELECT u AS node, is_bridge FROM ed
         |       UNION ALL SELECT v AS node, is_bridge FROM ed)
         |SELECT node AS vec_id, CAST(count(*) AS BIGINT) AS degree,
         |       CAST(sum(is_bridge) AS BIGINT) AS n_bridges,
         |       CAST((10000 * sum(is_bridge)) // count(*) AS BIGINT) AS bridge_x10k
         |FROM pe GROUP BY node ORDER BY vec_id""".stripMargin,
    "q208_bfs_layers" ->
      s"""WITH RECURSIVE ${OlapQueries.knnChainSql},
         |knn AS (SELECT query_id, neighbor_id FROM r WHERE rank <= ${OlapQueries.KnnK}),
         |und AS (SELECT DISTINCT least(query_id, neighbor_id) AS u,
         |               greatest(query_id, neighbor_id) AS v FROM knn),
         |adj AS (SELECT u AS node, v AS nbr FROM und
         |        UNION ALL SELECT v AS node, u AS nbr FROM und),
         |walk AS (
         |  SELECT CAST($BfsSeed AS BIGINT) AS node, CAST(0 AS BIGINT) AS hop
         |  UNION
         |  SELECT adj.nbr AS node, walk.hop + 1 AS hop
         |  FROM walk JOIN adj ON adj.node = walk.node
         |  WHERE walk.hop < $BfsMaxHops),
         |fh AS (SELECT node, CAST(min(hop) AS BIGINT) AS hop FROM walk GROUP BY node)
         |SELECT hop, CAST(count(*) AS BIGINT) AS n_nodes
         |FROM fh GROUP BY hop ORDER BY hop""".stripMargin
  )
}
