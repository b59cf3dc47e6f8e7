package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.expressions.GraftFunctions

/** Round-8 wave-50 ANN/graph *quality* instrumentation — the audits a
  * vector-retrieval pipeline runs on its own index artifacts before
  * trusting them at corpus scale:
  *
  *  - hubness (q287): the k-occurrence (in-degree) distribution of the
  *    kNN graph — high-dimensional spaces concentrate in-links on a few
  *    "hub" vectors, which silently dominate retrieval results;
  *  - mutual-kNN reciprocity (q288): the share of directed edges whose
  *    reverse edge also exists — mutual pairs are the robust
  *    candidate set for near-dup clustering (hub-induced asymmetric
  *    edges drop out);
  *  - int8 quantization recall (q289): does the q55 int8 storage format
  *    preserve the full-precision top-k? The go/no-go audit for serving
  *    quantized vectors;
  *  - LOF-lite density ratio (q290): a node whose own kth-neighbor
  *    similarity is far below its neighbors' is a LOCAL outlier even
  *    when its absolute kth similarity looks ordinary (q146 finds global
  *    isolation; this finds relative isolation);
  *  - bipartite HITS (q291): two exact integer hub/authority rounds over
  *    the customer↔brand engagement graph — the mutually-recursive
  *    centrality q137's PageRank (one-mode, teleport) does not express.
  *
  * Scale shapes: q287/q288/q290 are edge-list-sized passes over the
  * session-pinned q91 kNN core (|V|·k rows — the corpus is never
  * re-touched); q289 is a fixed-modulus query sample × corpus brute pass
  * (one corpus stream per arm, bounded-heap top-k, no pair
  * materialization beyond k per query); q291 is one fact shuffle to the
  * distinct edge list, then |edges|-bounded aggregates with 1-row maxima
  * broadcast between rounds.
  */
object GraphQualityQueries {

  import OlapQueries.KnnK

  /** X316 — kNN hubness audit: the in-degree (k-occurrence) histogram of
    * the directed q91 graph, INCLUDING never-retrieved vectors (indeg 0,
    * via right join to the vector universe). In a hubness-free graph the
    * mass sits near k; a long right tail = hub vectors that will
    * dominate retrieval; the indeg-0 bucket = vectors ANN can never
    * surface. Work: one |V|·k edge aggregate + one |V| join. */
  def q287_hubness_audit(spark: SparkSession, dir: String): DataFrame = {
    val ids = Tables.embeddings(spark, dir).select("vec_id")
    val indeg = OlapQueries.knnGraphPinned(spark, dir)
      .groupBy("neighbor_id").agg(count(lit(1)).as("d"))
    ids.join(indeg, ids("vec_id") === indeg("neighbor_id"), "left")
      .select(coalesce(col("d"), lit(0L)).as("indeg"))
      .groupBy("indeg").agg(count(lit(1)).as("n_nodes"))
      .orderBy("indeg")
  }

  /** X317 — mutual-kNN reciprocity: per-node count of RECIPROCAL edges
    * (u→v and v→u both in the top-k graph), as a histogram over the
    * vector universe. Mutual pairs survive hub distortion — they are the
    * edge set a near-dup clusterer should trust. The check is one
    * edge-list self semi-join on the reversed key pair. */
  def q288_mutual_knn(spark: SparkSession, dir: String): DataFrame = {
    val e = OlapQueries.knnGraphPinned(spark, dir)
      .select("query_id", "neighbor_id")
    val rev = e.select(col("query_id").as("rq"), col("neighbor_id").as("rn"))
    val mutual = e.join(rev,
      e("query_id") === rev("rn") && e("neighbor_id") === rev("rq"), "left_semi")
    val perNode = mutual.groupBy("query_id").agg(count(lit(1)).as("m"))
    val ids = Tables.embeddings(spark, dir).select("vec_id")
    ids.join(perNode, ids("vec_id") === perNode("query_id"), "left")
      .select(coalesce(col("m"), lit(0L)).as("n_mutual"))
      .groupBy("n_mutual").agg(count(lit(1)).as("n_nodes"))
      .orderBy("n_mutual")
  }

  /** X318 — int8 quantization recall: for a fixed-modulus query sample,
    * the overlap between the full-precision (×1000-quantized) top-k and
    * the top-k computed over the q55 int8 codes. recall_x10k < 10⁴ rows
    * name exactly which queries the compressed format degrades. Both
    * arms stream the corpus once against the broadcast sample with a
    * bounded-heap top-k (never a scored-pair materialization); ties
    * break (dot desc, neighbor asc) identically in both engines. */
  val Q289Mod = 5
  val Q289K = 5
  def q289_quantization_recall(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    val emb = Tables.embeddings(spark, dir)
    val sample = emb.filter(pmod(col("vec_id"), lit(Q289Mod)) === 0)
    val truth = graft.ops.Ann.bruteForceTopK(sample, emb, Q289K)
      .select(col("query_id"), col("neighbor_id"))

    def int8Codes(df: DataFrame, idAs: String, vecAs: String): DataFrame =
      df.select(col("vec_id").as(idAs),
        call_function(GraftFunctions.Int8QuantizeName, col("embedding"))("q8")
          .as(vecAs))
    val q8q = int8Codes(sample, "query_id", "qv")
    val q8c = int8Codes(emb, "neighbor_id", "cv")
    val scored = q8c.crossJoin(broadcast(q8q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("dot",
        call_function(GraftFunctions.DotLong, col("qv"), col("cv")))
    val i8 = scored.groupBy("query_id")
      .agg(call_function(GraftFunctions.TopKDotName,
        col("dot"), col("neighbor_id"), lit(Q289K)).as("tk"))
      .select(col("query_id"), explode(col("tk")).as("s"))
      .select(col("query_id"), col("s.neighbor_id").as("i8_neighbor"))

    val overlap = truth.join(i8,
        truth("query_id") === i8("query_id") &&
          truth("neighbor_id") === i8("i8_neighbor"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("o"))
    sample.select(col("vec_id").as("query_id"))
      .join(overlap, Seq("query_id"), "left")
      .select(col("query_id"), coalesce(col("o"), lit(0L)).as("n_overlap"))
      .withColumn("recall_x10k",
        floor(lit(10000L) * col("n_overlap") / lit(Q289K.toLong)).cast("long"))
      .orderBy("query_id")
  }

  /** X319 — LOF-lite local density ratio: own kth-neighbor dot (the q146
    * density proxy) vs the mean of the k neighbors' kth-neighbor dots,
    * as `score_x1000 = ⌊1000·Σ_neighbors kd / (k·own_kd)⌋` — all dots on
    * this corpus are positive, so the ratio is monotone in relative
    * sparsity: ≫1000 means "my neighbors sit in dense regions, I do
    * not" = a local outlier. Work: two |V|-row frames joined through the
    * |V|·k edge list — nothing touches the corpus. */
  val Q290Top = 50
  def q290_local_outlier(spark: SparkSession, dir: String): DataFrame = {
    val g = OlapQueries.knnGraphPinned(spark, dir)
    val kd = g.filter(col("rank") === KnnK.toLong)
      .select(col("query_id").as("node"), col("dot").as("kd"))
    val nb = g.select("query_id", "neighbor_id")
      .join(kd.withColumnRenamed("node", "neighbor_id")
        .withColumnRenamed("kd", "nkd"), "neighbor_id")
      .groupBy("query_id").agg(sum("nkd").as("sum_nkd"), count(lit(1)).as("n_nb"))
    kd.join(nb, col("node") === col("query_id"))
      // neighbors missing their own rank-k edge (graph fringe) keep the
      // count honest: divide by the OBSERVED neighbor count, not k
      .withColumn("score_x1000",
        floor(lit(1000L) * col("sum_nkd") / (col("n_nb") * col("kd"))).cast("long"))
      .select("node", "kd", "score_x1000")
      .orderBy(col("score_x1000").desc, col("node").asc)
      .limit(Q290Top)
  }

  /** X320 — bipartite HITS (two exact rounds): customers as hubs, brands
    * as authorities over the distinct customer↔brand order graph.
    * h⁰ = 1000; a¹ ∝ Σ h⁰, h¹ ∝ Σ a¹, a² ∝ Σ h¹, each round re-scaled to
    * max 1000 by integer floor division — deterministic, no floats, no
    * eigenvector iteration drift. Scale: one orders⋈lineitem shuffle to
    * the distinct edge list; each round is an |edges| aggregate plus a
    * broadcast 1-row max. */
  def q291_bipartite_hits(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
    val li = Tables.lineitem(spark, dir).select("l_orderkey", "l_partkey")
    val part = Tables.part(spark, dir).select("p_partkey", "p_brand")
    // the distinct edge list feeds THREE aggregates (a¹, h¹, a²) — cache
    // it so the lineitem⋈orders fact join runs once, not three times.
    // spread (round 11): the build stage's parallelism was bound by the
    // fact file's split count (3 tasks, 700 ms at sf0.1) — scale-aware
    // no-op on multi-split corpora. Cached PARTITIONED BY brand: the two
    // brand-keyed rounds (a¹ count, a² sum — h1n rides a broadcast join
    // that preserves partitioning) then aggregate with ZERO further
    // exchange of the edge list; only h¹ pays its cust-keyed shuffle.
    // The re-partition is one |edges|-row exchange at build time, paid
    // once, against two |edges| exchanges per consume.
    val edges = graft.ops.Materialize.checkpoint(graft.ops.Dedup.spread(li)
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .select(col("o_custkey").as("cust"), col("p_brand").as("brand"))
      .distinct()
      .repartition(col("brand")))

    // brand-side maxima ride a window over the |brands|-bounded frame
    // (the "|dims| rows" bounded-window class) — each saved broadcast
    // materialization is a whole Spark job in the sequential chain; the
    // cust-side max stays a 1-row broadcast (entity-scaled table)
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // round 1: authority from unit hubs (= 1000·deg), rescaled
    val a1n = edges.groupBy("brand").agg((count(lit(1)) * lit(1000L)).as("a1"))
      .withColumn("a1n",
        floor(lit(1000L) * col("a1") / max("a1").over(wAll)).cast("long"))
      .select("brand", "a1n")
    // round 1 hubs: sum of incident normalized authorities, rescaled.
    // Cached (tracked): BOTH the 1-row max job and the round-2 join read
    // this |custs|-row frame — uncached, each re-ran the edges⋈a1n
    // aggregate (one extra job in the 5-job sequential chain, round-10).
    // The cust-side max itself stays a broadcast aggregate, NOT a window:
    // customers are entity-scaled (billions at 100 TB), so a single-task
    // all-rows window here would be the q10-class scale-killer.
    val h1 = graft.ops.Materialize.checkpoint(edges.join(broadcast(a1n), "brand")
      .groupBy("cust").agg(sum("a1n").as("h1")))
    val h1max = h1.agg(max("h1").as("h1max"))
    val h1n = h1.crossJoin(broadcast(h1max))
      .select(col("cust"), floor(lit(1000L) * col("h1") / col("h1max"))
        .cast("long").as("h1n"))
    // round 2 authority from round-1 hubs. h1n's join stays auto-planned
    // deliberately: locally the |custs|-row frame broadcasts (preserving
    // the cached brand partitioning, so the aggregate below adds no
    // exchange); at 100 TB customers are entity-scaled and the planner's
    // shuffle fallback is the correct plan — forcing broadcast here would
    // be the scale-killer the cust-side-max comment above warns about.
    edges.join(h1n, "cust")
      .groupBy("brand").agg(sum("h1n").as("a2"), count(lit(1)).as("deg"))
      .withColumn("auth_x1000",
        floor(lit(1000L) * col("a2") / max("a2").over(wAll)).cast("long"))
      .select("brand", "deg", "auth_x1000")
      .orderBy(col("auth_x1000").desc, col("brand").asc)
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q287_hubness_audit" -> q287_hubness_audit,
    "q288_mutual_knn" -> q288_mutual_knn,
    "q289_quantization_recall" -> q289_quantization_recall,
    "q290_local_outlier" -> q290_local_outlier,
    "q291_bipartite_hits" -> q291_bipartite_hits
  )

  private def knnW = s"WITH ${OlapQueries.knnChainSql}"

  val oracles: Map[String, String] = Map(
    "q287_hubness_audit" ->
      s"""$knnW,
         |e AS (SELECT neighbor_id FROM r WHERE rank <= $KnnK),
         |idg AS (SELECT v.vec_id, count(e.neighbor_id) AS indeg
         |        FROM v LEFT JOIN e ON e.neighbor_id = v.vec_id
         |        GROUP BY v.vec_id)
         |SELECT CAST(indeg AS BIGINT) AS indeg, count(*) AS n_nodes
         |FROM idg GROUP BY indeg ORDER BY indeg""".stripMargin,
    "q288_mutual_knn" ->
      s"""$knnW,
         |e AS (SELECT query_id, neighbor_id FROM r WHERE rank <= $KnnK),
         |m AS (SELECT a.query_id, count(*) AS m
         |      FROM e a JOIN e b ON a.query_id = b.neighbor_id
         |                       AND a.neighbor_id = b.query_id
         |      GROUP BY a.query_id),
         |u AS (SELECT v.vec_id, coalesce(m.m, 0) AS n_mutual
         |      FROM v LEFT JOIN m ON m.query_id = v.vec_id)
         |SELECT CAST(n_mutual AS BIGINT) AS n_mutual, count(*) AS n_nodes
         |FROM u GROUP BY n_mutual ORDER BY n_mutual""".stripMargin,
    "q289_quantization_recall" ->
      s"""WITH v AS (SELECT vec_id, ${DataPrepQueries.quantVec} AS vq FROM embeddings),
         |s8 AS (SELECT vec_id,
         |              CAST(list_max(list_transform(vq, x -> abs(x))) AS BIGINT) AS qscale,
         |              vq
         |       FROM v),
         |c8 AS (SELECT vec_id, list_transform(vq, x ->
         |                CAST(CASE WHEN qscale > 0 THEN floor(x * 127 / qscale)
         |                          ELSE 0 END AS BIGINT)) AS q8
         |       FROM s8),
         |qs AS (SELECT vec_id FROM embeddings WHERE vec_id % $Q289Mod = 0),
         |ts AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |              CAST(list_sum(list_transform(generate_series(1, len(qv.vq)),
         |                i -> qv.vq[i] * cv.vq[i])) AS BIGINT) AS dot
         |       FROM qs q JOIN v qv ON qv.vec_id = q.vec_id,
         |            embeddings c JOIN v cv ON cv.vec_id = c.vec_id
         |       WHERE q.vec_id <> c.vec_id),
         |tr AS (SELECT query_id, neighbor_id FROM (
         |         SELECT *, row_number() OVER (PARTITION BY query_id
         |                  ORDER BY dot DESC, neighbor_id ASC) AS rk FROM ts)
         |       WHERE rk <= $Q289K),
         |is8 AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |               CAST(list_sum(list_transform(generate_series(1, len(qv.q8)),
         |                 i -> qv.q8[i] * cv.q8[i])) AS BIGINT) AS dot
         |        FROM qs q JOIN c8 qv ON qv.vec_id = q.vec_id,
         |             embeddings c JOIN c8 cv ON cv.vec_id = c.vec_id
         |        WHERE q.vec_id <> c.vec_id),
         |ir AS (SELECT query_id, neighbor_id FROM (
         |         SELECT *, row_number() OVER (PARTITION BY query_id
         |                  ORDER BY dot DESC, neighbor_id ASC) AS rk FROM is8)
         |       WHERE rk <= $Q289K),
         |ov AS (SELECT tr.query_id, count(*) AS o
         |       FROM tr JOIN ir ON tr.query_id = ir.query_id
         |                      AND tr.neighbor_id = ir.neighbor_id
         |       GROUP BY tr.query_id)
         |SELECT q.vec_id AS query_id,
         |       CAST(coalesce(ov.o, 0) AS BIGINT) AS n_overlap,
         |       CAST(floor(10000 * coalesce(ov.o, 0) / $Q289K) AS BIGINT) AS recall_x10k
         |FROM qs q LEFT JOIN ov ON ov.query_id = q.vec_id
         |ORDER BY query_id""".stripMargin,
    "q290_local_outlier" ->
      s"""$knnW,
         |kd AS (SELECT query_id AS node, dot AS kd FROM r WHERE rank = $KnnK),
         |e AS (SELECT query_id, neighbor_id FROM r WHERE rank <= $KnnK),
         |nb AS (SELECT e.query_id, CAST(sum(k2.kd) AS BIGINT) AS sum_nkd,
         |              count(*) AS n_nb
         |       FROM e JOIN kd k2 ON k2.node = e.neighbor_id
         |       GROUP BY e.query_id)
         |SELECT kd.node, kd.kd,
         |       CAST(floor(1000 * nb.sum_nkd / (nb.n_nb * kd.kd)) AS BIGINT)
         |         AS score_x1000
         |FROM kd JOIN nb ON nb.query_id = kd.node
         |ORDER BY score_x1000 DESC, node ASC LIMIT $Q290Top""".stripMargin,
    "q291_bipartite_hits" ->
      """WITH edges AS (
        |  SELECT DISTINCT o.o_custkey AS cust, p.p_brand AS brand
        |  FROM lineitem l
        |  JOIN orders o ON o.o_orderkey = l.l_orderkey
        |  JOIN part p ON p.p_partkey = l.l_partkey),
        |a1 AS (SELECT brand, CAST(count(*) * 1000 AS BIGINT) AS a1
        |       FROM edges GROUP BY brand),
        |a1m AS (SELECT max(a1) AS a1max FROM a1),
        |a1n AS (SELECT brand, CAST(floor(1000 * a1 / a1max) AS BIGINT) AS a1n
        |        FROM a1, a1m),
        |h1 AS (SELECT e.cust, CAST(sum(a.a1n) AS BIGINT) AS h1
        |       FROM edges e JOIN a1n a ON a.brand = e.brand GROUP BY e.cust),
        |h1m AS (SELECT max(h1) AS h1max FROM h1),
        |h1n AS (SELECT cust, CAST(floor(1000 * h1 / h1max) AS BIGINT) AS h1n
        |        FROM h1, h1m),
        |a2 AS (SELECT e.brand, CAST(sum(h.h1n) AS BIGINT) AS a2, count(*) AS deg
        |       FROM edges e JOIN h1n h ON h.cust = e.cust GROUP BY e.brand),
        |a2m AS (SELECT max(a2) AS a2max FROM a2)
        |SELECT a2.brand, a2.deg,
        |       CAST(floor(1000 * a2.a2 / a2m.a2max) AS BIGINT) AS auth_x1000
        |FROM a2, a2m
        |ORDER BY auth_x1000 DESC, brand ASC""".stripMargin
  )
}
