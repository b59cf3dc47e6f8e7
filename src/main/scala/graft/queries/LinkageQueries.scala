package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._
import graft.ops.{Graph, KMeans}

/** Round-6 wave-32b structure operators: multi-key blocking record
  * linkage (the classic dedup architecture: cheap blocking keys →
  * exact confirm → cluster canonicalization), the k-means elbow read
  * (inertia vs k — how many clusters the embedding space supports),
  * and an integer Holt linear-trend forecast over the daily event
  * series (the capacity-planning read EWMA (X181) can't give because
  * it has no trend state).
  *
  * Oracle conventions as the sibling modules: exact integers
  * end-to-end, identical aliases both sides, ORDER BY a unique key.
  */
object LinkageQueries {

  /** Blocking parameters: token-count bucket width, per-key cap, and
    * the exact-Jaccard confirmation threshold. */
  val BlockBucket = 5L
  val BlockKeyCap = 200L
  val LinkTauX10k = 8000L

  /** X243 — multi-key blocking record linkage: candidate pairs from
    * TWO cheap blocking keys (token-count bucket × first token, and ×
    * last token — two passes catch edits at either end that a single
    * key misses), hot keys dropped at [[BlockKeyCap]], candidates
    * CONFIRMED by exact shingle-set Jaccard ≥ [[LinkTauX10k]] (array
    * intersect over the session-pinned shingle core — candidates only,
    * never an inverted-index pass), confirmed edges clustered by
    * connected components with keep-first canonicalization ([[Graph.dupClusters]]).
    * The end-to-end record-linkage architecture (blocking → compare →
    * cluster) as one lazy plan.
    *
    * Scale: blocking keys are one scalar pass + a |keys|-bounded
    * self-join (cap guards hot keys); the expensive exact compare runs
    * on candidates only; CC iterates the confirmed EDGE list. */
  /** The multi-key blocking CANDIDATE pairs (distinct, id_a < id_b) —
    * q222's cheap first stage, shared with q245's Fellegi–Sunter scoring
    * and q270's blocking-quality audit. Session-pinned (round-8): three
    * consumers each re-ran the key build + capped posting self-join;
    * prewarmed as core `block_candidates` (at corpus scale this is a
    * staged table next to the shingle core). */
  private[graft] def blockingCandidates(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Materialize.pinned(spark, ("block_candidates", dir))(blockingCandidatesBuild(spark, dir))

  private def blockingCandidatesBuild(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val heads = graft.ops.Dedup.spread(docs)
      .select(col("doc_id"), wsTokens(normalizeText(col("text"))).as("t"))
      .filter(size(col("t")) >= 1)
      .select(col("doc_id"), size(col("t")).cast("long").as("ntok"),
        element_at(col("t"), 1).as("ft"), element_at(col("t"), -1).as("lt"))
    // tracked: the key table feeds the two-pass df cap (count + semi
    // join) and the posting collect — one tokenize pass, not three
    val keys = graft.ops.Materialize.checkpoint(heads
      .select(col("doc_id"), concat_ws(":", lit("F"),
        expr(s"CAST(ntok div $BlockBucket AS STRING)"), col("ft")).as("bkey"))
      .union(heads.select(col("doc_id"), concat_ws(":", lit("L"),
        expr(s"CAST(ntok div $BlockBucket AS STRING)"), col("lt")).as("bkey"))))
    // in-row pair generation off the capped block posting lists
    // (Dedup.cappedPostingPairs — two-pass cap: a hot blocking key is
    // pruned by the df count + semi join BEFORE its posting list would
    // be collected); distinct dedups the two key passes
    graft.ops.Dedup
      .cappedPostingPairs(keys, "bkey", "doc_id", BlockKeyCap)
      .distinct()
  }

  def q222_blocking_linkage(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val cand = blockingCandidates(spark, dir)
    val arrays = graft.ops.Dedup.pinnedShingles(spark, dir, DataPrepQueries.ShingleN)
      .groupBy("id").agg(collect_set("shingle").as("sh"))
    val sizes = graft.ops.Dedup.pinnedSetSizes(spark, dir, DataPrepQueries.ShingleN)
    val confirmed = cand
      .join(arrays.select(col("id").as("id_a"), col("sh").as("sa")), "id_a")
      .join(arrays.select(col("id").as("id_b"), col("sh").as("sb")), "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("sa"), col("sb"))).cast("long").as("n_common"))
      .join(sizes.select(col("id").as("id_a"), col("set_size").as("size_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("set_size").as("size_b")), "id_b")
      .filter(expr(s"(10000 * n_common) div (size_a + size_b - n_common) >= $LinkTauX10k"))
      .select("id_a", "id_b")
    Graph.dupClusters(docs, confirmed)
      .orderBy("doc_id")
  }

  /** Elbow sweep: k values and the Lloyd regime (1 update round, the
    * q65/IVF-trainer discipline; uncapped training like q65). */
  val ElbowKs: Seq[Int] = Seq(4, 8, 16)

  /** X244 — k-means elbow (inertia vs k): total and mean squared
    * distance to the assigned centroid after one Lloyd update round,
    * at k ∈ [[ElbowKs]] — the read that decides the k knob every
    * cluster-bounded operator (IVF nCentroids, SemDeDup k) depends on:
    * where inertia stops dropping, extra centroids stop buying
    * structure.
    *
    * Scale: per k one deterministic Lloyd chain (broadcast centroids,
    * map-side distance argmin — q65's machinery) + a 1-row aggregate;
    * the sweep is |Ks| independent passes over the quantized
    * vectors. */
  def q223_kmeans_elbow(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions._
    val vq = Tables.embeddings(spark, dir)
      .select(col("vec_id"), quantize(col("embedding")).as("qv"))
    val perK = ElbowKs.map { k =>
      val cents = KMeans.lloydCentroids(Tables.embeddings(spark, dir), k, rounds = 1)
      vq.crossJoin(broadcast(cents))
        .withColumn("d2", expr(
          "aggregate(zip_with(qv, cvq, (a, b) -> CAST((a - b) * (a - b) AS BIGINT)), 0L, (acc, x) -> acc + x)"))
        .groupBy("vec_id").agg(min("d2").as("d2"))
        .agg(count(lit(1)).as("n_vectors"), sum("d2").as("inertia"))
        .select(lit(k.toLong).as("k"), col("n_vectors"), col("inertia"),
          expr("inertia div n_vectors").as("mean_inertia"))
    }
    perK.reduce(_.unionByName(_)).orderBy("k")
  }

  /** Holt smoothing constants ×10⁴ (level α, trend β). */
  val HoltAlphaX10k = 3000L
  val HoltBetaX10k = 2000L
  private val DayMs = 86400000L

  /** X245 — integer Holt linear-trend forecast of the daily event
    * volume: level/trend state in ×10⁴ fixed point, one-step-ahead
    * forecast and absolute error per day — the trend-aware
    * capacity-planning series next to X181's EWMA (which has no trend
    * state and lags every ramp). All arithmetic is integer
    * (truncating division — Scala `/`, Spark `div` and DuckDB `//`
    * agree), so the oracle's recursive CTE replays the recurrence
    * bit-exactly.
    *
    * Scale split: the daily aggregate is the distributed pass; the
    * recurrence folds IN-PLAN (the q169/q174 `aggregate`-fold
    * machinery — no driver collect, round-6 VERDICT #6) over ONE array
    * of per-calendar-day entries — bounded by the time range, not the
    * data. The (level, trend) two-variable state threads through the
    * fold as the previous output struct; the nested `transform` over a
    * one-element array is the let-binding that names the intermediate
    * new-level before the new-trend reuses it. */
  def q224_holt_forecast(spark: SparkSession, dir: String): DataFrame = {
    val (a, b4) = (HoltAlphaX10k, HoltBetaX10k)
    Tables.events(spark, dir)
      .groupBy(expr(s"ts_ms div $DayMs").as("day"))
      .agg(count(lit(1)).as("x"))
      .agg(sort_array(collect_list(struct(col("day"), col("x")))).as("dx"))
      .withColumn("st", expr(
        s"""aggregate(dx,
           |  CAST(array() AS ARRAY<STRUCT<day: BIGINT, x: BIGINT, l: BIGINT,
           |                               b: BIGINT, f: BIGINT, e: BIGINT>>),
           |  (acc, r) -> CASE WHEN size(acc) = 0 THEN array(named_struct(
           |      'day', r.day, 'x', r.x, 'l', r.x * 10000, 'b', CAST(0 AS BIGINT),
           |      'f', r.x * 10000, 'e', CAST(0 AS BIGINT)))
           |    ELSE concat(acc, transform(
           |      transform(array(element_at(acc, -1)), p -> named_struct(
           |        'pl', p.l, 'pb', p.b,
           |        'nl', ($a * (r.x * 10000) + ${10000L - a} * (p.l + p.b)) div 10000)),
           |      t -> named_struct('day', r.day, 'x', r.x, 'l', t.nl,
           |        'b', ($b4 * (t.nl - t.pl) + ${10000L - b4} * t.pb) div 10000,
           |        'f', t.pl + t.pb,
           |        'e', abs(r.x * 10000 - (t.pl + t.pb))))) END)""".stripMargin))
      .select(posexplode(col("st")).as(Seq("pos", "r")))
      .select(col("r.day").as("day"), col("r.x").as("n_events"),
        col("r.l").as("level_x10k"), col("r.b").as("trend_x10k"),
        col("r.f").as("forecast_x10k"), col("r.e").as("abs_err_x10k"))
      .orderBy("day")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q222_blocking_linkage" -> q222_blocking_linkage,
    "q223_kmeans_elbow" -> q223_kmeans_elbow,
    "q224_holt_forecast" -> q224_holt_forecast
  )

  // ---------------------------------------------------------------- oracles

  import DataPrepQueries.{normToks, quantVec}

  /** One elbow arm: the q65-regime Lloyd chain (uncapped seed order by
    * md5, one update round) + final all-vector assignment + inertia. */
  private def elbowArmSql(k: Int): String =
    s"""SELECT CAST($k AS BIGINT) AS k, n_vectors, inertia,
       |       inertia // n_vectors AS mean_inertia FROM (
       |  WITH v AS (SELECT vec_id AS id, $quantVec AS vq FROM embeddings),
       |  c0 AS (SELECT CAST(row_number() OVER
       |                  (ORDER BY md5(CAST(id AS VARCHAR)), id) - 1 AS BIGINT) AS cluster,
       |                vq AS cvq
       |         FROM (SELECT id, vq FROM v
       |               ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT $k)),
       |  p1 AS (SELECT v.id, c.cluster, unnest(v.vq) AS x, unnest(c.cvq) AS cx
       |         FROM v, c0 c),
       |  d1 AS (SELECT id, cluster, CAST(sum((x-cx)*(x-cx)) AS BIGINT) AS d2
       |         FROM p1 GROUP BY id, cluster),
       |  a1 AS (SELECT id, cluster FROM (
       |           SELECT id, cluster, row_number() OVER (PARTITION BY id
       |                  ORDER BY d2, cluster) AS rn FROM d1) WHERE rn = 1),
       |  e1 AS (SELECT a1.cluster, unnest(generate_series(1, len(v.vq))) AS pos,
       |                unnest(v.vq) AS x
       |         FROM v JOIN a1 ON v.id = a1.id),
       |  m1 AS (SELECT cluster, pos,
       |                CAST(floor(CAST(sum(x) AS DOUBLE) / count(*)) AS BIGINT) AS cv
       |         FROM e1 GROUP BY cluster, pos),
       |  c1 AS (SELECT cluster, list(cv ORDER BY pos) AS cvq FROM m1 GROUP BY cluster),
       |  p2 AS (SELECT v.id, c.cluster, unnest(v.vq) AS x, unnest(c.cvq) AS cx
       |         FROM v, c1 c),
       |  d2t AS (SELECT id, cluster, CAST(sum((x-cx)*(x-cx)) AS BIGINT) AS d2
       |          FROM p2 GROUP BY id, cluster),
       |  bst AS (SELECT id, min(d2) AS d2 FROM d2t GROUP BY id)
       |  SELECT CAST(count(*) AS BIGINT) AS n_vectors, CAST(sum(d2) AS BIGINT) AS inertia
       |  FROM bst)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q222_blocking_linkage" ->
      s"""WITH RECURSIVE d AS (SELECT doc_id, $normToks AS t FROM documents),
         |hd AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS ntok,
         |              t[1] AS ft, t[len(t)] AS lt
         |       FROM d WHERE len(t) >= 1),
         |ky AS (SELECT doc_id, concat('F:', CAST(ntok // $BlockBucket AS VARCHAR), ':', ft) AS bkey FROM hd
         |       UNION ALL
         |       SELECT doc_id, concat('L:', CAST(ntok // $BlockBucket AS VARCHAR), ':', lt) AS bkey FROM hd),
         |cool AS (SELECT ky.* FROM ky JOIN (
         |           SELECT bkey FROM ky GROUP BY bkey HAVING count(*) <= $BlockKeyCap) ok
         |         USING (bkey)),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |         FROM cool a JOIN cool b ON a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |sh AS (SELECT doc_id AS id, unnest(${DataPrepQueries.shinglesSql(DataPrepQueries.ShingleN)}) AS shingle FROM d),
         |ar AS (SELECT id, list(shingle) AS sl FROM sh GROUP BY id),
         |sz AS (SELECT id, CAST(count(*) AS BIGINT) AS set_size FROM sh GROUP BY id),
         |cf AS (SELECT c.id_a, c.id_b
         |       FROM cand c JOIN ar x ON x.id = c.id_a JOIN ar y ON y.id = c.id_b
         |            JOIN sz sa ON sa.id = c.id_a JOIN sz sb ON sb.id = c.id_b
         |       WHERE (10000 * len(list_intersect(x.sl, y.sl)))
         |             // (sa.set_size + sb.set_size - len(list_intersect(x.sl, y.sl)))
         |             >= $LinkTauX10k),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM cf
         |          UNION ALL SELECT id_b, id_a FROM cf),
         |reach AS (SELECT doc_id AS id, doc_id AS comp FROM documents
         |          UNION
         |          SELECT e.dst AS id, r.comp FROM reach r JOIN edges e ON e.src = r.id),
         |lab AS (SELECT id AS doc_id, min(comp) AS component_id FROM reach GROUP BY id),
         |cs AS (SELECT component_id, CAST(count(*) AS BIGINT) AS cluster_size
         |       FROM lab GROUP BY component_id)
         |SELECT l.doc_id, l.component_id, cs.cluster_size,
         |       CAST(l.doc_id = l.component_id AS INT) AS is_canonical
         |FROM lab l JOIN cs USING (component_id) ORDER BY l.doc_id""".stripMargin,
    "q223_kmeans_elbow" ->
      ElbowKs.map(elbowArmSql).mkString("", "\nUNION ALL\n", "\nORDER BY k"),
    "q224_holt_forecast" ->
      s"""WITH RECURSIVE daily AS (
         |  SELECT epoch_ms(ts) // $DayMs AS day, CAST(count(*) AS BIGINT) AS x
         |  FROM events GROUP BY 1),
         |dr AS (SELECT day, x, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rn
         |       FROM daily),
         |h(rn, day, x, l, b) AS (
         |  SELECT rn, day, x, x * 10000, CAST(0 AS BIGINT) FROM dr WHERE rn = 1
         |  UNION ALL
         |  SELECT dr.rn, dr.day, dr.x,
         |    ($HoltAlphaX10k * (dr.x * 10000) + ${10000 - HoltAlphaX10k} * (h.l + h.b)) // 10000,
         |    ($HoltBetaX10k *
         |       (($HoltAlphaX10k * (dr.x * 10000) + ${10000 - HoltAlphaX10k} * (h.l + h.b)) // 10000
         |        - h.l)
         |     + ${10000 - HoltBetaX10k} * h.b) // 10000
         |  FROM h JOIN dr ON dr.rn = h.rn + 1)
         |SELECT day, x AS n_events, CAST(l AS BIGINT) AS level_x10k,
         |       CAST(b AS BIGINT) AS trend_x10k,
         |       CAST(coalesce(lag(l + b) OVER (ORDER BY rn), x * 10000) AS BIGINT)
         |         AS forecast_x10k,
         |       CAST(abs(x * 10000 - coalesce(lag(l + b) OVER (ORDER BY rn), x * 10000))
         |         AS BIGINT) AS abs_err_x10k
         |FROM h ORDER BY day""".stripMargin
  )
}
