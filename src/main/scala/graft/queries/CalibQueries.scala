package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{Dedup, Relational}

/** Round-7 wave-37 calibration/recommendation operators: item-item
  * collaborative filtering over the event stream (the serving-side twin
  * of q161's basket lift), MinHash estimator-error calibration (does
  * the sketch that gates the dedup pipeline actually track exact
  * Jaccard on the pairs it surfaces?), and the Fano-factor burstiness
  * profile (overdispersion of daily event counts — the
  * clumpiness read q134's seasonal baseline and q174's CUSUM both
  * assume away).
  *
  * Oracle conventions as the sibling modules: exact integers,
  * identical aliases both sides, ORDER BY a unique key.
  */
object CalibQueries {

  /** Top-k similar items served per item. */
  val CfTopK = 5

  /** X266 — item-item collaborative filtering: items (the `props.k`
    * engagement key) paired by co-engaging users, scored with the
    * integer squared-cosine lift `co² × 10⁶ / (n_a · n_b)` over
    * distinct user sets, top-[[CfTopK]] per item — the
    * "users who engaged with this also engaged with" serving table.
    * Distinct user-item edges bound the join; the item domain is
    * vocabulary-sized, so the pair table never approaches corpus
    * scale (the q161 discipline with a per-item ranking stage).
    *
    * Scale: one distinct pass, an equijoin on user over df-bounded
    * edges, an |items|²-bounded aggregate, per-item top-k heap. */
  def q242_item_item_cf(spark: SparkSession, dir: String): DataFrame = {
    // Materialize.checkpoint (round 12): ui feeds the item counts AND both
    // sides of the co-occurrence self-join; sym feeds the top-k rank and
    // the support join-back — uncached, each consuming stage re-ran the
    // JSON-parse distinct / the pair aggregate under AQE
    val ui = graft.ops.Materialize.checkpoint(Tables.events(spark, dir)
      .select(col("user_id"),
        get_json_object(col("props"), "$.k").cast("long").as("item"))
      .filter(col("item").isNotNull)
      .distinct())
    val cnt = ui.groupBy("item").agg(count(lit(1)).as("n"))
    val co = ui.as("a").join(ui.as("b"),
        col("a.user_id") === col("b.user_id") && col("a.item") < col("b.item"))
      .groupBy(col("a.item").as("item_a"), col("b.item").as("item_b"))
      .agg(count(lit(1)).as("co"))
    val sym = graft.ops.Materialize.checkpoint(
      co.select(col("item_a").as("item"), col("item_b").as("other"), col("co"))
      .union(co.select(col("item_b").as("item"), col("item_a").as("other"), col("co")))
      .join(broadcast(cnt.select(col("item"), col("n").as("n_i"))), "item")
      .join(broadcast(cnt.select(col("item").as("other"), col("n").as("n_o"))), "other")
      .withColumn("cos2_x1m", expr("(1000000 * co * co) div (n_i * n_o)")))
    // TopKDot keeps only (group, rank, id, score) — join the co support
    // back from the (|items|²-bounded) scored table
    Relational.topKPerGroup(sym, Seq("item"), "cos2_x1m", "other", CfTopK)
      .join(sym.select("item", "other", "co"), Seq("item", "other"))
      .select(col("item"), col("rank"), col("other"), col("co"), col("cos2_x1m"))
      .orderBy("item", "rank")
  }

  /** X267 — MinHash estimator-error calibration: for every LSH
    * candidate pair (q17's banding), the 16-hash signature agreement
    * estimate `agree/16 ×10⁴` against the exact (df-capped, the q16
    * convention) Jaccard, with the signed error — the measurement
    * that tells you whether the sketch gating your dedup pipeline is
    * biased on the pairs it actually surfaces (band survivors are a
    * Jaccard-skewed sample, so textbook variance bounds don't apply).
    *
    * Scale: candidate pairs are band-bounded; signatures join by id
    * (16 narrow columns); exact Jaccard rides the pinned
    * intersection core — no new quadratic stage anywhere. */
  def q243_minhash_calibration(spark: SparkSession, dir: String): DataFrame = {
    import DataPrepQueries.{ShingleN, MinhashBands, MinhashRows, JaccardMaxDf}
    val docs = Tables.documents(spark, dir)
    val nh = MinhashBands * MinhashRows
    val cand = Dedup.minhashLshPairs(docs, ShingleN, MinhashBands, MinhashRows)
    val sig = Dedup.minhashSignature(docs, ShingleN, nh)
    val agree = (0 until nh)
      .map(i => (col(s"a.mh$i") === col(s"b.mh$i")).cast("long"))
      .reduce(_ + _)
    val est = cand
      .join(sig.as("a"), col("id_a") === col("a.id"))
      .join(sig.as("b"), col("id_b") === col("b.id"))
      .select(col("id_a"), col("id_b"), agree.as("agree_n"))
    val (inter, sizes) = Dedup.pinnedIntersections(spark, dir, ShingleN, JaccardMaxDf)
    est
      .join(inter, Seq("id_a", "id_b"), "left")
      .na.fill(0L, Seq("n_common"))
      .join(sizes.select(col("id").as("id_a"), col("set_size").as("size_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("set_size").as("size_b")), "id_b")
      .withColumn("est_x10k", expr(s"(10000 * agree_n) div $nh"))
      .withColumn("jaccard_x10k",
        floor(lit(10000L) * col("n_common") /
          (col("size_a") + col("size_b") - col("n_common"))).cast("long"))
      .select(col("id_a"), col("id_b"), col("agree_n"), col("est_x10k"),
        col("jaccard_x10k"),
        (col("est_x10k") - col("jaccard_x10k")).as("err_x10k"))
      .orderBy("id_a", "id_b")
  }

  /** X268 — Fano-factor burstiness: per event type, the
    * variance-to-mean ratio of DAILY event counts (×10⁶), exact in
    * integers via `(n·Σx² − (Σx)²) · 10⁶ div (n·Σx)` over the day
    * grid — Fano ≈ 10⁶ is Poisson traffic, ≫10⁶ is bursty (retry
    * storms, batch jobs, scrapers), ≪10⁶ is throttled/paced. The
    * overdispersion read that decides whether q72's mean+2σ windows
    * or q174's CUSUM thresholds are even calibrated right.
    *
    * Scale: one (type, day) aggregate, then a |types|-row reduce —
    * the day grid is calendar-bounded. Days with zero events of a
    * type are genuine zeros: the day spine comes from the corpus
    * range, cross-joined against the (bounded) type list. */
  def q244_fano_burstiness(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), expr("ts_ms div 86400000").as("day"))
    val bounds = ev.agg(min("day").as("d0"), max("day").as("d1"))
    val spine = bounds.select(explode(sequence(col("d0"), col("d1"))).as("day"))
    val types = ev.select("event_type").distinct()
    val daily = ev.groupBy("event_type", "day").agg(count(lit(1)).as("x"))
    broadcast(types).crossJoin(spine)
      .join(daily, Seq("event_type", "day"), "left")
      .na.fill(0L, Seq("x"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"), sum("x").as("sum_x"),
        sum(col("x") * col("x")).as("sum_x2"))
      .withColumn("fano_x1m",
        expr("CASE WHEN sum_x = 0 THEN 0L " +
          "ELSE ((n_days * sum_x2 - sum_x * sum_x) * 1000000) div (n_days * sum_x) END"))
      .select("event_type", "n_days", "sum_x", "sum_x2", "fano_x1m")
      .orderBy("event_type")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q242_item_item_cf" -> q242_item_item_cf,
    "q243_minhash_calibration" -> q243_minhash_calibration,
    "q244_fano_burstiness" -> q244_fano_burstiness
  )

  // ---------------------------------------------------------------- oracles

  import DataPrepQueries.{shingleCte, minhashCols, bandRows, JaccardMaxDf}

  val oracles: Map[String, String] = Map(
    "q242_item_item_cf" ->
      s"""WITH ui AS (SELECT DISTINCT user_id,
         |                   CAST(json_extract_string(props, '$$.k') AS BIGINT) AS item
         |            FROM events
         |            WHERE json_extract_string(props, '$$.k') IS NOT NULL),
         |cnt AS (SELECT item, CAST(count(*) AS BIGINT) AS n FROM ui GROUP BY item),
         |co AS (SELECT a.item AS item_a, b.item AS item_b,
         |              CAST(count(*) AS BIGINT) AS co
         |       FROM ui a JOIN ui b ON a.user_id = b.user_id AND a.item < b.item
         |       GROUP BY a.item, b.item),
         |sym AS (SELECT item_a AS item, item_b AS other, co FROM co
         |        UNION ALL SELECT item_b AS item, item_a AS other, co FROM co),
         |sc AS (SELECT s.item, s.other, s.co,
         |              CAST((1000000 * s.co * s.co) // (ci.n * co2.n) AS BIGINT)
         |                AS cos2_x1m
         |       FROM sym s JOIN cnt ci ON ci.item = s.item
         |       JOIN cnt co2 ON co2.item = s.other),
         |rk AS (SELECT item, other, co, cos2_x1m,
         |              CAST(row_number() OVER (PARTITION BY item
         |                ORDER BY cos2_x1m DESC, other ASC) AS BIGINT) AS rank
         |       FROM sc)
         |SELECT item, rank, other, co, cos2_x1m
         |FROM rk WHERE rank <= $CfTopK ORDER BY item, rank""".stripMargin,
    "q243_minhash_calibration" ->
      s"""WITH $shingleCte,
         |mh AS (
         |  SELECT id,
         |         $minhashCols
         |  FROM sh GROUP BY id),
         |banded AS (
         |  $bandRows),
         |cand AS (
         |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |  FROM banded a
         |  JOIN banded b ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id),
         |ag AS (SELECT c.id_a, c.id_b,
         |              CAST((${(0 until DataPrepQueries.MinhashBands * DataPrepQueries.MinhashRows)
                  .map(i => s"CASE WHEN ma.mh$i = mb.mh$i THEN 1 ELSE 0 END")
                  .mkString(" + ")}) AS BIGINT) AS agree_n
         |       FROM cand c JOIN mh ma ON ma.id = c.id_a JOIN mh mb ON mb.id = c.id_b),
         |sizes AS (SELECT id, CAST(count(*) AS BIGINT) AS set_size FROM sh GROUP BY id),
         |capped AS (
         |  SELECT sh.* FROM sh
         |  JOIN (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= $JaccardMaxDf) ok
         |    USING (shingle)),
         |inter AS (
         |  SELECT a.id AS id_a, b.id AS id_b, CAST(count(*) AS BIGINT) AS n_common
         |  FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.id < b.id
         |  GROUP BY a.id, b.id)
         |SELECT ag.id_a, ag.id_b, ag.agree_n,
         |       CAST((10000 * ag.agree_n) // ${DataPrepQueries.MinhashBands * DataPrepQueries.MinhashRows} AS BIGINT) AS est_x10k,
         |       CAST(floor(10000 * coalesce(i.n_common, 0)
         |         / (sa.set_size + sb.set_size - coalesce(i.n_common, 0))) AS BIGINT)
         |         AS jaccard_x10k,
         |       CAST((10000 * ag.agree_n) // ${DataPrepQueries.MinhashBands * DataPrepQueries.MinhashRows}
         |         - floor(10000 * coalesce(i.n_common, 0)
         |           / (sa.set_size + sb.set_size - coalesce(i.n_common, 0))) AS BIGINT)
         |         AS err_x10k
         |FROM ag
         |LEFT JOIN inter i ON i.id_a = ag.id_a AND i.id_b = ag.id_b
         |JOIN sizes sa ON sa.id = ag.id_a
         |JOIN sizes sb ON sb.id = ag.id_b
         |ORDER BY ag.id_a, ag.id_b""".stripMargin,
    "q244_fano_burstiness" ->
      s"""WITH ev AS (SELECT event_type, epoch_ms(ts) // 86400000 AS day FROM events),
         |b AS (SELECT CAST(min(day) AS BIGINT) AS d0, CAST(max(day) AS BIGINT) AS d1
         |      FROM ev),
         |spine AS (SELECT unnest(generate_series(b.d0, b.d1)) AS day FROM b),
         |ty AS (SELECT DISTINCT event_type FROM ev),
         |daily AS (SELECT event_type, day, CAST(count(*) AS BIGINT) AS x
         |          FROM ev GROUP BY event_type, day),
         |grid AS (SELECT ty.event_type, spine.day, coalesce(daily.x, 0) AS x
         |         FROM ty CROSS JOIN spine
         |         LEFT JOIN daily ON daily.event_type = ty.event_type
         |           AND daily.day = spine.day),
         |agg AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
         |               CAST(sum(x) AS BIGINT) AS sum_x,
         |               CAST(sum(x * x) AS BIGINT) AS sum_x2
         |        FROM grid GROUP BY event_type)
         |SELECT event_type, n_days, sum_x, sum_x2,
         |       CAST(CASE WHEN sum_x = 0 THEN 0
         |            ELSE ((n_days * sum_x2 - sum_x * sum_x) * 1000000)
         |                 // (n_days * sum_x) END AS BIGINT) AS fano_x1m
         |FROM agg ORDER BY event_type""".stripMargin
  )
}
