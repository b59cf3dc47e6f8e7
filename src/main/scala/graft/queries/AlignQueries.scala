package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._

/** Round-8 wave-72:
  *
  *  - bitext candidate mining (q343): cross-language document-pair
  *    candidates anchored on SHARED RARE TOKENS (df-capped — names,
  *    codes, numbers survive translation; the Resnik-style anchor
  *    discipline) — the candidate-generation pass parallel-corpus
  *    mining runs before any expensive alignment scoring, and the
  *    sixth df-capped blocking family next to LSH bands, prefixes,
  *    pigeonholes, sorted neighborhoods and blocking keys;
  *  - simplified-silhouette audit (q344): per-cluster cohesion/
  *    separation of the q65 k-means assignment — s = (b − a)/max(a, b)
  *    on centroid distances (the centroid form: O(n·k), never pairwise
  *    O(n²) like the full silhouette) — the cluster-quality readout
  *    q223's inertia elbow cannot give (inertia always falls with k;
  *    silhouette peaks where structure is real).
  */
object AlignQueries {

  /** Anchor discipline: anchors are the [[BitextAnchorK]] RAREST tokens
    * (df asc, token asc — deterministic), guarded by an absolute
    * per-anchor cap [[BitextDfCap]] (a "rare" token with a million
    * postings would make pair generation quadratic; the cap refuses it).
    * A pair is a candidate iff it shares ≥ [[BitextMinShared]] anchors
    * across DIFFERENT langs. Bottom-K is the corpus-adaptive form: on a
    * real crawl the rarest tokens are names/codes/numbers — exactly the
    * tokens that survive translation. */
  val BitextAnchorK = 3
  val BitextDfCap = 64L
  val BitextMinShared = 1L

  /** X374 — bitext candidate mining via rare-anchor blocking: distinct
    * (doc, token) postings → bottom-K-df anchor tokens → cross-lang pair
    * counts (id_a < id_b), with the length-ratio sanity feature ×100.
    * Work is Σ_anchor C(df,2) ≤ C(dfCap,2)·K — bounded by construction. */
  def q343_bitext_candidates(spark: SparkSession, dir: String): DataFrame = {
    // spread before the explode: a single parquet file would otherwise
    // tokenize the whole corpus on ONE task (the jaccard-family lesson);
    // and the postings are already (doc, token)-distinct, so df is a
    // plain count — countDistinct here was a second dedup of the same
    // rows (bench: 9.7 s → ~2 s at sf0.1)
    val post = graft.ops.Materialize.checkpoint(
      graft.ops.Dedup.spread(Tables.documents(spark, dir))
        .select(col("doc_id"), col("lang"),
          size(wsTokens(normalizeText(col("text")))).cast("long").as("ntok"),
          explode(wsTokens(normalizeText(col("text")))).as("token"))
        .distinct())
    val anchors = post.groupBy("token")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= BitextDfCap)
      .orderBy(col("df").asc, col("token").asc)
      .limit(BitextAnchorK)
      .select("token")
    val ap = post.join(anchors, "token")
      .select(col("token"), col("doc_id"), col("lang"), col("ntok"))
    val pairs = ap.as("a").join(ap.as("b"),
        col("a.token") === col("b.token") &&
          col("a.doc_id") < col("b.doc_id") &&
          col("a.lang") =!= col("b.lang"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.lang").as("lang_a"), col("b.lang").as("lang_b"),
        col("a.ntok").as("ntok_a"), col("b.ntok").as("ntok_b"))
      .agg(count(lit(1)).as("n_anchors"))
      .filter(col("n_anchors") >= BitextMinShared)
    pairs.select(col("id_a"), col("id_b"), col("lang_a"), col("lang_b"),
        col("n_anchors"),
        expr("CASE WHEN greatest(ntok_a, ntok_b) = 0 THEN 0L " +
          "ELSE (100 * least(ntok_a, ntok_b)) div greatest(ntok_a, ntok_b) END")
          .as("len_ratio_x100"))
      .orderBy("id_a", "id_b")
  }

  /** X375 — simplified silhouette of the q65 assignment: per vector,
    * a = d² to its assigned centroid, b = min d² to any other centroid
    * (both off ONE k-row broadcast distance table per vector — the rank
    * window runs over k rows per id, never the corpus);
    * s ×10⁴ = ((b − a)·10⁴) div max(a, b). Per cluster: n and mean s. */
  def q344_silhouette_audit(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions._
    import AnalyticsQueries.{KmeansIters, KmeansK}
    val vq = Tables.embeddings(spark, dir)
      .select(col("vec_id"), quantize(col("embedding")).as("qv"))
    val cents = graft.ops.KMeans.lloydCentroids(
      Tables.embeddings(spark, dir), KmeansK, rounds = KmeansIters - 1)
    val d = vq.crossJoin(broadcast(cents))
      .withColumn("d2", expr(
        "aggregate(zip_with(qv, cvq, (a, b) -> CAST((a - b) * (a - b) AS BIGINT)), 0L, (acc, x) -> acc + x)"))
      .select(col("vec_id"), col("cluster"), col("d2"))
    // k rows per id — the rank window is bounded by construction
    val ranked = d.withColumn("rn", row_number().over(
      Window.partitionBy("vec_id").orderBy(col("d2").asc, col("cluster").asc)))
    val ab = ranked.filter(col("rn") <= 2)
      .groupBy("vec_id")
      .agg(min_by(col("cluster"), col("rn")).as("cluster"),
        min_by(col("d2"), col("rn")).as("a"),
        max_by(col("d2"), col("rn")).as("b"))
      .withColumn("s_x10k", expr(
        "CASE WHEN greatest(a, b) = 0 THEN 0L " +
          "ELSE (10000 * (b - a)) div greatest(a, b) END"))
    ab.groupBy("cluster")
      .agg(count(lit(1)).as("n_vectors"),
        expr("sum(s_x10k) div count(1)").as("mean_s_x10k"))
      .orderBy("cluster")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q343_bitext_candidates" -> q343_bitext_candidates,
    "q344_silhouette_audit" -> q344_silhouette_audit
  )

  // ---------------------------------------------------------------- oracles

  import DataPrepQueries.{normToks, quantVec}

  val oracles: Map[String, String] = Map(
    "q343_bitext_candidates" ->
      s"""WITH post AS (SELECT DISTINCT doc_id, lang,
         |                     CAST(len($normToks) AS BIGINT) AS ntok,
         |                     unnest($normToks) AS token
         |              FROM documents),
         |anchors AS (SELECT token FROM (
         |              SELECT token, count(DISTINCT doc_id) AS df FROM post GROUP BY token)
         |            WHERE df >= 2 AND df <= $BitextDfCap
         |            ORDER BY df ASC, token ASC LIMIT $BitextAnchorK),
         |ap AS (SELECT post.* FROM post JOIN anchors USING (token)),
         |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |                 a.lang AS lang_a, b.lang AS lang_b,
         |                 a.ntok AS ntok_a, b.ntok AS ntok_b,
         |                 CAST(count(*) AS BIGINT) AS n_anchors
         |          FROM ap a JOIN ap b
         |            ON a.token = b.token AND a.doc_id < b.doc_id AND a.lang <> b.lang
         |          GROUP BY 1, 2, 3, 4, 5, 6
         |          HAVING count(*) >= $BitextMinShared)
         |SELECT id_a, id_b, lang_a, lang_b, n_anchors,
         |       CAST(CASE WHEN greatest(ntok_a, ntok_b) = 0 THEN 0
         |            ELSE (100 * least(ntok_a, ntok_b)) // greatest(ntok_a, ntok_b) END
         |         AS BIGINT) AS len_ratio_x100
         |FROM pairs
         |ORDER BY id_a, id_b""".stripMargin,
    "q344_silhouette_audit" -> {
      import AnalyticsQueries.KmeansK
      s"""WITH v AS (SELECT vec_id AS id, $quantVec AS vq FROM embeddings),
         |c0 AS (SELECT CAST(row_number() OVER
         |                (ORDER BY md5(CAST(id AS VARCHAR)), id) - 1 AS BIGINT) AS cluster,
         |              vq AS cvq
         |       FROM (SELECT id, vq FROM v
         |             ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT $KmeansK)),
         |p1 AS (SELECT v.id, c.cluster, unnest(v.vq) AS x, unnest(c.cvq) AS cx
         |       FROM v, c0 c),
         |d1 AS (SELECT id, cluster, CAST(sum((x-cx)*(x-cx)) AS BIGINT) AS d2
         |       FROM p1 GROUP BY id, cluster),
         |a1 AS (SELECT id, cluster FROM (
         |         SELECT id, cluster, row_number() OVER (PARTITION BY id
         |                  ORDER BY d2 ASC, cluster ASC) AS rn FROM d1)
         |       WHERE rn = 1),
         |e1 AS (SELECT a1.cluster, u.pos, u.x FROM a1 JOIN (
         |         SELECT id, unnest(generate_series(1, len(vq))) AS pos,
         |                unnest(vq) AS x FROM v) u ON u.id = a1.id),
         |m1 AS (SELECT cluster, pos,
         |              CAST(floor(CAST(sum(x) AS DOUBLE) / count(*)) AS BIGINT) AS cv
         |       FROM e1 GROUP BY cluster, pos),
         |c1 AS (SELECT cluster, list(cv ORDER BY pos) AS cvq FROM m1 GROUP BY cluster),
         |p2 AS (SELECT v.id, c.cluster, unnest(v.vq) AS x, unnest(c.cvq) AS cx
         |       FROM v, c1 c),
         |d2t AS (SELECT id, cluster, CAST(sum((x-cx)*(x-cx)) AS BIGINT) AS d2
         |        FROM p2 GROUP BY id, cluster),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY id
         |                ORDER BY d2 ASC, cluster ASC) AS rn FROM d2t),
         |ab AS (SELECT id,
         |              min(CASE WHEN rn = 1 THEN cluster END) AS cluster,
         |              min(CASE WHEN rn = 1 THEN d2 END) AS a,
         |              min(CASE WHEN rn = 2 THEN d2 END) AS b
         |       FROM rk WHERE rn <= 2 GROUP BY id),
         |sv AS (SELECT cluster,
         |              CAST(CASE WHEN greatest(a, b) = 0 THEN 0
         |                   ELSE (10000 * (b - a)) // greatest(a, b) END AS BIGINT) AS s
         |       FROM ab)
         |SELECT cluster, CAST(count(*) AS BIGINT) AS n_vectors,
         |       CAST(sum(s) // count(*) AS BIGINT) AS mean_s_x10k
         |FROM sv GROUP BY cluster
         |ORDER BY cluster""".stripMargin
    }
  )
}
