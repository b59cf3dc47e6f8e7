package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-8 wave-81:
  *
  *  - isotonic score calibration (q361): pool-adjacent-violators over
  *    the frozen classifier's score buckets, computed via the MINIMAX
  *    closed form — fitted(i) = max_{j≤i} min_{k≥i} mean(y over
  *    buckets j..k) — so the whole regression is one bounded
  *    (i, j, k) lattice join over ≤B prefix-sum rows instead of a
  *    sequential pooling loop; the monotone-probability upgrade of
  *    q122's raw calibration histogram (reliability curves must not
  *    zig-zag before a threshold is read off them). Quantized means
  *    ×10⁶ keep both engines bit-identical;
  *  - SPRT sequential monitor (q362): Wald's sequential probability
  *    ratio test walked over the daily conversion stream — cumulative
  *    log-likelihood ×10⁶ (per-success/per-failure increments and the
  *    ±ln 19 boundaries are frozen integer literals, the q338 z-sum
  *    discipline) with the per-day decision state. The sequential
  *    complement of q320's fixed-horizon A/B readout: it answers
  *    "when could the experiment have STOPPED".
  */
object IsotonicQueries {

  /** Equal-width score buckets for the calibration curve. */
  val IsoBuckets = 16L

  /** Long-document label threshold (chars) — the deterministic binary
    * target the curve calibrates against. */
  val IsoLongChars = 400L

  /** X392 — isotonic calibration of the q97 classifier score against
    * the long-document label, minimax form over [[IsoBuckets]]
    * equal-width buckets. Only non-empty buckets participate; their
    * index order is the isotonic order. */
  def q361_isotonic_calibration(spark: SparkSession, dir: String): DataFrame = {
    // tracked cache: the (score, y) frame is read TWICE — the min/max
    // extent pass and the bucket aggregate — and the consumers aggregate
    // under DIFFERENT shapes (global vs keyed), so ReuseExchange cannot
    // share the scores⋈documents join subtree between them (the q111/q227
    // different-keys criterion). Two longs per doc — small either way.
    val sc = graft.ops.Materialize.checkpoint(
      TrainPrepQueries.classifierScores(spark, dir)
        .join(Tables.documents(spark, dir).select("doc_id", "n_chars"), "doc_id")
        .select(col("score"),
          (col("n_chars") >= IsoLongChars).cast("long").as("y")))
    val ext = sc.agg(min("score").as("mn"), max("score").as("mx"))
    val b = sc.crossJoin(broadcast(ext))
      .withColumn("bucket", expr(
        s"least(((score - mn) * $IsoBuckets) div (mx - mn + 1), ${IsoBuckets - 1})"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), sum("y").as("pos"))
    // <= IsoBuckets rows from here on — every window/join is bounded
    val w = Window.orderBy("bucket")
    val pre = b
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("cn", sum("n").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("cpos", sum("pos").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val jk = pre.select(col("i").as("j"), (col("cn") - col("n")).as("cnj"),
        (col("cpos") - col("pos")).as("cposj"))
      .join(pre.select(col("i").as("k"), col("cn").as("cnk"), col("cpos").as("cposk")),
        expr("j <= k"))
      // DECIMAL(38,0): cumulative positives × 1e6 passes BIGINT once the
      // PAV pool spans ~9e12 rows (round-9 envelope audit)
      .withColumn("m_x1m", expr(
        "CAST((1000000 * (CAST(cposk AS DECIMAL(38,0)) - cposj)) div (cnk - cnj) AS BIGINT)"))
    val iso = pre.select(col("i"), col("bucket"), col("n"), col("pos"))
      .join(jk, expr("j <= i AND k >= i"))
      .groupBy("i", "bucket", "n", "pos", "j")
      .agg(min("m_x1m").as("inner_min"))
      .groupBy("i", "bucket", "n", "pos")
      .agg(max("inner_min").as("iso_x1m"))
    iso.withColumn("raw_x1m", expr("(1000000 * pos) div n"))
      .select("bucket", "n", "pos", "raw_x1m", "iso_x1m")
      .orderBy("bucket")
  }

  /** SPRT literals ×10⁶ for H0 p=0.18 vs H1 p=0.25, α=β=0.05:
    * ln(p1/p0), ln((1−p1)/(1−p0)), ln((1−β)/α)=ln 19. Frozen exact
    * integers (the q338 z-literal discipline) so both engines walk the
    * identical lattice. */
  val SprtSuccX1m = 328504L
  val SprtFailX1m = -89231L
  val SprtBoundX1m = 2944439L

  /** X393 — SPRT sequential monitor over daily conversions (success =
    * purchase event, trial = any event): per day the llr increment,
    * running llr, and the decision state (accept_h1 / accept_h0 /
    * continue) — the first boundary crossing is where the experiment
    * could have stopped. */
  def q362_sprt_monitor(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(expr("ts_ms div 86400000").as("day"))
      .agg(count(lit(1)).as("n_trials"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_succ"))
      .withColumn("llr_day_x1m", expr(
        s"n_succ * ${SprtSuccX1m}L + (n_trials - n_succ) * (${SprtFailX1m}L)"))
    // |days|-bounded cumulative frame
    val w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    daily.withColumn("llr_cum_x1m", sum("llr_day_x1m").over(w))
      .withColumn("decision", expr(
        s"""CASE WHEN llr_cum_x1m >= ${SprtBoundX1m}L THEN 'accept_h1'
           |     WHEN llr_cum_x1m <= ${-SprtBoundX1m}L THEN 'accept_h0'
           |     ELSE 'continue' END""".stripMargin))
      .select("day", "n_trials", "n_succ", "llr_day_x1m", "llr_cum_x1m", "decision")
      .orderBy("day")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q361_isotonic_calibration" -> q361_isotonic_calibration,
    "q362_sprt_monitor" -> q362_sprt_monitor
  )

  // ---------------------------------------------------------------- oracles

  val oracles: Map[String, String] = Map(
    "q361_isotonic_calibration" ->
      s"""WITH ${TrainPrepQueries.clsChainSql},
         |lab AS (SELECT sc.score,
         |               CAST(d.n_chars >= $IsoLongChars AS BIGINT) AS y
         |        FROM sc JOIN documents d ON d.doc_id = sc.doc_id),
         |ext AS (SELECT min(score) AS mn, max(score) AS mx FROM lab),
         |b AS (SELECT least(((score - mn) * $IsoBuckets) // (mx - mn + 1),
         |                   ${IsoBuckets - 1}) AS bucket,
         |             CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS pos
         |      FROM lab CROSS JOIN ext GROUP BY 1),
         |pre AS (SELECT bucket, n, pos,
         |               CAST(row_number() OVER (ORDER BY bucket) AS BIGINT) AS i,
         |               CAST(sum(n) OVER (ORDER BY bucket) AS BIGINT) AS cn,
         |               CAST(sum(pos) OVER (ORDER BY bucket) AS BIGINT) AS cpos
         |        FROM b),
         |jk AS (SELECT pj.i AS j, pj.cn - pj.n AS cnj, pj.cpos - pj.pos AS cposj,
         |              pk.i AS k, pk.cn AS cnk, pk.cpos AS cposk,
         |              (1000000 * (pk.cpos - (pj.cpos - pj.pos)))
         |                // (pk.cn - (pj.cn - pj.n)) AS m_x1m
         |       FROM pre pj JOIN pre pk ON pj.i <= pk.i),
         |inner_min AS (SELECT p.i, p.bucket, p.n, p.pos, jk.j,
         |                     min(jk.m_x1m) AS im
         |              FROM pre p JOIN jk ON jk.j <= p.i AND jk.k >= p.i
         |              GROUP BY p.i, p.bucket, p.n, p.pos, jk.j)
         |SELECT bucket, n, pos,
         |       CAST((1000000 * pos) // n AS BIGINT) AS raw_x1m,
         |       CAST(max(im) AS BIGINT) AS iso_x1m
         |FROM inner_min GROUP BY i, bucket, n, pos
         |ORDER BY bucket""".stripMargin,
    "q362_sprt_monitor" ->
      s"""WITH daily AS (
         |  SELECT epoch_ms(ts) // 86400000 AS day,
         |         CAST(count(*) AS BIGINT) AS n_trials,
         |         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |           AS BIGINT) AS n_succ
         |  FROM events GROUP BY 1),
         |l AS (SELECT *, n_succ * $SprtSuccX1m
         |               + (n_trials - n_succ) * ($SprtFailX1m) AS llr_day_x1m
         |      FROM daily),
         |c AS (SELECT *, CAST(sum(llr_day_x1m) OVER (ORDER BY day) AS BIGINT)
         |               AS llr_cum_x1m
         |      FROM l)
         |SELECT day, n_trials, n_succ, CAST(llr_day_x1m AS BIGINT) AS llr_day_x1m,
         |       llr_cum_x1m,
         |       CASE WHEN llr_cum_x1m >= $SprtBoundX1m THEN 'accept_h1'
         |            WHEN llr_cum_x1m <= -$SprtBoundX1m THEN 'accept_h0'
         |            ELSE 'continue' END AS decision
         |FROM c ORDER BY day""".stripMargin
  )
}
