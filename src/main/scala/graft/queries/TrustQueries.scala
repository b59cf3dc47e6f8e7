package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._

/** Round-8 wave-64 statistically-safe decision operators — the three
  * places a 100 TB curation pipeline must not trust a raw ratio:
  *
  *  - leave-one-out target encoding (q324): the leakage-safe categorical
  *    feature — a row's own label is subtracted from its group's rate
  *    before the rate is used as that row's feature (plain mean-target
  *    encoding leaks the label and inflates every downstream validation;
  *    the fold-free LOO form is the standard fix);
  *  - Wilson lower-bound source ranking (q325): rank sources by the
  *    LOWER confidence bound of their quality pass-rate, not the raw
  *    rate — a 3/3 source must not outrank a 970/1000 source; the
  *    sample size is the evidence;
  *  - pairwise source total-variation matrix (q326): distribution
  *    distance between per-source token mass functions — the mixture
  *    designer's redundancy signal (near-zero TV ⇒ the sources draw
  *    from the same distribution and their mixture weights should be
  *    considered jointly). Integer-quantized rates per the house
  *    no-float-sums convention.
  *
  * All three are exact-integer or single-floor-double per the oracle
  * discipline; money/ratio scaling follows the q42/q248 conventions.
  */
object TrustQueries {

  /** X355 — leave-one-out target encoding of order priority against
    * fulfillment (`o_orderstatus = 'F'`): every row's encoded value is
    * `(Σy_grp − y_row) / (n_grp − 1)` — its own outcome removed, so the
    * feature carries no per-row label leakage. Rows with equal
    * (group, y) share the value, so the result is reported as the
    * |groups|×2 table, not per-row.
    *
    * Scale shape: one fact-sized aggregate to |groups|×2 rows; the
    * group totals are a broadcast back onto that aggregate — the fact
    * table is read once. */
  def q324_loo_target_encoding(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderpriority").as("priority"),
        (col("o_orderstatus") === "F").cast("long").as("y"))
    val g = o.groupBy("priority")
      .agg(sum("y").as("n_f"), count(lit(1)).as("n_grp"))
    o.groupBy("priority", "y").agg(count(lit(1)).as("n_rows"))
      .join(broadcast(g), "priority")
      .select(col("priority"), col("y"), col("n_rows"),
        expr("CASE WHEN n_grp <= 1 THEN -1 " +
          "ELSE (10000 * (n_f - y)) div (n_grp - 1) END").as("loo_x10k"))
      .orderBy("priority", "y")
  }

  /** Wilson lower bound with z = 2 (z² = 4 — every constant an exact
    * binary double, so the float op sequence is identical across
    * engines; sqrt/÷/×/+ are all IEEE correctly-rounded). One shared
    * SQL string evaluated verbatim by both engines. */
  private[queries] val wilsonSql: String = {
    val nd = "CAST(n_docs AS DOUBLE)"
    val pd = s"(CAST(n_good AS DOUBLE) / $nd)"
    s"CAST(floor(1e6 * (($pd + 2e0 / $nd - 2e0 * sqrt($pd * (1e0 - $pd) / $nd" +
      s" + 1e0 / ($nd * $nd))) / (1e0 + 4e0 / $nd))) AS BIGINT)"
  }

  /** X356 — Wilson lower-bound quality ranking of sources: per source,
    * the q26 keep-predicate pass count and the z=2 Wilson LOWER bound
    * of the pass rate — the ranking that cannot be gamed by a tiny
    * lucky sample (at g=0 the bound is exactly 0; a small n keeps the
    * bound far below its raw rate). This is the mixture-admission
    * gate's sort key, not the raw `good_x10k`.
    *
    * Scale shape: one codegen'd scalar metric pass over documents →
    * |sources| rows; the Wilson arithmetic runs on the aggregate. */
  def q325_wilson_source_rank(spark: SparkSession, dir: String): DataFrame = {
    val metrics = qualityMetrics(col("text")).toMap
    val keep = (metrics("n_tokens") >= 10 && metrics("n_tokens") <= 500 &&
      metrics("stop_per_10k") <= 3000 &&
      metrics("mean_tok_len_x100") >= 200 && metrics("mean_tok_len_x100") <= 800)
      .cast("long")
    Tables.documents(spark, dir)
      .select(col("source"), keep.as("keep"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("keep").as("n_good"))
      .select(col("source"), col("n_docs"), col("n_good"),
        expr("(10000 * n_good) div n_docs").as("good_x10k"),
        expr(wilsonSql).as("wilson_x1m"))
      .orderBy(col("wilson_x1m").desc, col("source"))
  }

  /** X357 — pairwise source total-variation distance over integer-
    * quantized token rates r_s(t) = (10⁶·c_s(t)) div T_s:
    * TV·10⁶ ≈ (R_a + R_b − 2·Σ_t min(r_a, r_b)) div 2, using
    * Σ|r_a − r_b| = Σ(r_a + r_b) − 2·Σ min — so one-sided tokens are
    * handled by the per-source rate totals and the pair join stays an
    * INNER equijoin on token (a token in k sources contributes
    * C(k,2) rows — Σ_t C(k_t,2) ≤ C(|sources|,2)·|vocab|, never
    * corpus²). The |sources|² spine is a bounded nested-loop pair
    * frame per the house bounded-spine rule.
    *
    * Integer end-to-end (the X24 "no float log / no float sums"
    * convention): quantization error ≤ |vocab|/10⁶ per side is part of
    * the operator's definition. */
  def q326_source_tv_matrix(spark: SparkSession, dir: String): DataFrame = {
    val cnt = Tables.documents(spark, dir)
      .select(col("source"), explode(wsTokens(normalizeText(col("text")))).as("token"))
      .groupBy("source", "token").agg(count(lit(1)).as("c"))
    val tot = cnt.groupBy("source").agg(sum("c").as("t"))
    // self-joined below — cache or the token explode executes twice
    val rates = graft.ops.Materialize.checkpoint(
      cnt.join(broadcast(tot), "source")
        .select(col("source"), col("token"), expr("(1000000 * c) div t").as("r")))
    val rsum = rates.groupBy("source").agg(sum("r").as("rtot"))
    val inter = rates.as("a")
      .join(rates.as("b"),
        col("a.token") === col("b.token") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(sum(least(col("a.r"), col("b.r"))).as("s_min"),
        count(lit(1)).as("shared_tokens"))
    val spine = rsum.select(col("source").as("src_a"), col("rtot").as("r_a"))
      .join(broadcast(rsum.select(col("source").as("src_b"), col("rtot").as("r_b"))),
        col("src_a") < col("src_b"))
    spine.join(inter, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"),
        coalesce(col("shared_tokens"), lit(0L)).as("shared_tokens"),
        expr("(r_a + r_b - 2 * coalesce(s_min, 0)) div 2").as("tv_x1m"))
      .orderBy("src_a", "src_b")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q324_loo_target_encoding" -> q324_loo_target_encoding,
    "q325_wilson_source_rank" -> q325_wilson_source_rank,
    "q326_source_tv_matrix" -> q326_source_tv_matrix
  )

  // ---------------------------------------------------------------- oracles

  import DataPrepQueries.{hitsSql, normToks, toks}

  val oracles: Map[String, String] = Map(
    "q324_loo_target_encoding" ->
      s"""WITH o AS (SELECT o_orderpriority AS priority,
         |                  CAST(o_orderstatus = 'F' AS BIGINT) AS y FROM orders),
         |g AS (SELECT priority, CAST(sum(y) AS BIGINT) AS n_f,
         |             CAST(count(*) AS BIGINT) AS n_grp FROM o GROUP BY priority),
         |r AS (SELECT priority, y, CAST(count(*) AS BIGINT) AS n_rows
         |      FROM o GROUP BY priority, y)
         |SELECT r.priority, r.y, r.n_rows,
         |       CAST(CASE WHEN g.n_grp <= 1 THEN -1
         |            ELSE (10000 * (g.n_f - r.y)) // (g.n_grp - 1) END AS BIGINT)
         |         AS loo_x10k
         |FROM r JOIN g USING (priority)
         |ORDER BY priority, y""".stripMargin,
    "q325_wilson_source_rank" ->
      s"""WITH m AS (
         |  SELECT source,
         |    CAST(len($toks) AS BIGINT) AS n_tokens,
         |    CAST(CASE WHEN len($toks) > 0 THEN floor(10000 * ${hitsSql("en")} / len($toks)) ELSE 0 END AS BIGINT) AS stop_per_10k,
         |    CAST(CASE WHEN len($toks) > 0 THEN floor(100 * length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / len($toks)) ELSE 0 END AS BIGINT) AS mean_tok_len_x100
         |  FROM documents),
         |k AS (SELECT source,
         |             CAST(n_tokens >= 10 AND n_tokens <= 500 AND stop_per_10k <= 3000
         |                  AND mean_tok_len_x100 >= 200 AND mean_tok_len_x100 <= 800
         |               AS BIGINT) AS keep
         |      FROM m),
         |s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |             CAST(sum(keep) AS BIGINT) AS n_good
         |      FROM k GROUP BY source)
         |SELECT source, n_docs, n_good,
         |       CAST((10000 * n_good) // n_docs AS BIGINT) AS good_x10k,
         |       $wilsonSql AS wilson_x1m
         |FROM s ORDER BY wilson_x1m DESC, source""".stripMargin,
    "q326_source_tv_matrix" ->
      s"""WITH tk AS (SELECT source, unnest($normToks) AS token FROM documents),
         |cnt AS (SELECT source, token, CAST(count(*) AS BIGINT) AS c
         |        FROM tk GROUP BY source, token),
         |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS t FROM cnt GROUP BY source),
         |rates AS (SELECT cnt.source, cnt.token,
         |                 CAST((1000000 * cnt.c) // tot.t AS BIGINT) AS r
         |          FROM cnt JOIN tot USING (source)),
         |rs AS (SELECT source, CAST(sum(r) AS BIGINT) AS rtot FROM rates GROUP BY source),
         |inter AS (SELECT a.source AS src_a, b.source AS src_b,
         |                 CAST(sum(least(a.r, b.r)) AS BIGINT) AS s_min,
         |                 CAST(count(*) AS BIGINT) AS shared_tokens
         |          FROM rates a JOIN rates b
         |            ON a.token = b.token AND a.source < b.source
         |          GROUP BY a.source, b.source),
         |spine AS (SELECT x.source AS src_a, x.rtot AS r_a,
         |                 y.source AS src_b, y.rtot AS r_b
         |          FROM rs x JOIN rs y ON x.source < y.source)
         |SELECT sp.src_a AS src_a, sp.src_b AS src_b,
         |       CAST(coalesce(i.shared_tokens, 0) AS BIGINT) AS shared_tokens,
         |       CAST((sp.r_a + sp.r_b - 2 * coalesce(i.s_min, 0)) // 2 AS BIGINT) AS tv_x1m
         |FROM spine sp LEFT JOIN inter i
         |  ON i.src_a = sp.src_a AND i.src_b = sp.src_b
         |ORDER BY src_a, src_b""".stripMargin
  )
}
