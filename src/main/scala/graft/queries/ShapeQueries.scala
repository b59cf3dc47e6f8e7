package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._

/** Round-7 wave-37 shape operators: Fellegi–Sunter-style weighted
  * record-linkage scoring (the probabilistic layer on top of q222's
  * blocking), the TPC-H Q16 shape (grouped DISTINCT supplier counts
  * behind an anti-join exclusion list), and the TPC-H Q15 shape (a
  * revenue view joined back on equality with its own maximum) —
  * completing the reference-relational coverage next to q42 (Q1),
  * q43/q44 (Q3/Q5), q50 (Q14), q152 (Q8), q167 (Q2), q71/q90
  * (correlated/EXISTS).
  *
  * Oracle conventions as the sibling modules: exact integers (money in
  * cents, the q42 discipline), identical aliases, ORDER BY a unique key.
  */
object ShapeQueries {

  /** Fellegi–Sunter integer agreement/disagreement weights (log-odds
    * stand-ins, scaled to integers — the repo's no-floats convention)
    * and the match-classification threshold. */
  val WFtAgree = 8L;     val WFtDis = -4L
  val WLtAgree = 8L;     val WLtDis = -4L
  val WLangAgree = 3L;   val WLangDis = -5L
  val WSourceAgree = 2L; val WSourceDis = -2L
  val LinkScoreTau = 10L

  /** X269 — weighted record-linkage scoring: q222's blocked candidate
    * pairs scored with a Fellegi–Sunter-style comparison vector
    * (first token, last token, lang, source — integer agreement /
    * disagreement weights), reported as the score distribution with
    * each score's candidate share and the match-region flag
    * (score ≥ [[LinkScoreTau]]). This is the layer that turns a
    * blocking pass into a calibrated linkage decision — and the
    * distribution IS the calibration artifact (you move the
    * threshold by looking at exactly this table).
    *
    * Scale: candidates are block-bounded ([[graft.ops.Dedup.cappedPostingPairs]]
    * two-pass df cap); attributes join by id; the output aggregate is
    * |distinct scores| ≤ 2⁴ rows. */
  /** The Fellegi–Sunter-scored candidate pairs `(id_a, id_b, score)` —
    * q245's core, shared with q337's end-to-end ER operating curve. */
  private[queries] def linkageScored(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // tracked: heads feeds the key build AND both attribute sides of
    // the scored join — one tokenize pass, not three
    val heads = graft.ops.Materialize.checkpoint(graft.ops.Dedup.spread(docs)
      .select(col("doc_id"), col("lang"), col("source"),
        wsTokens(normalizeText(col("text"))).as("t"))
      .filter(size(col("t")) >= 1)
      .select(col("doc_id"), col("lang"), col("source"),
        size(col("t")).cast("long").as("ntok"),
        element_at(col("t"), 1).as("ft"), element_at(col("t"), -1).as("lt")))
    // round-8: the candidate table is the session-pinned block_candidates
    // core (identical key construction — shared with q222/q270)
    val cand = LinkageQueries.blockingCandidates(spark, dir)
    def attrs(side: String) = heads.select(
      col("doc_id").as(s"id_$side"), col("lang").as(s"lang_$side"),
      col("source").as(s"source_$side"), col("ft").as(s"ft_$side"),
      col("lt").as(s"lt_$side"))
    cand.join(attrs("a"), "id_a").join(attrs("b"), "id_b")
      .withColumn("score",
        when(col("ft_a") === col("ft_b"), WFtAgree).otherwise(WFtDis) +
        when(col("lt_a") === col("lt_b"), WLtAgree).otherwise(WLtDis) +
        when(col("lang_a") === col("lang_b"), WLangAgree).otherwise(WLangDis) +
        when(col("source_a") === col("source_b"), WSourceAgree)
          .otherwise(WSourceDis))
      .select("id_a", "id_b", "score")
  }

  def q245_linkage_score(spark: SparkSession, dir: String): DataFrame = {
    val scored = linkageScored(spark, dir)
    val tot = scored.agg(count(lit(1)).as("n_cand"))
    scored.groupBy("score").agg(count(lit(1)).as("n_pairs"))
      .crossJoin(broadcast(tot))
      .select(col("score"), col("n_pairs"),
        expr("(10000 * n_pairs) div n_cand").as("share_x10k"),
        (col("score") >= LinkScoreTau).cast("int").as("is_match_region"))
      .orderBy("score")
  }

  /** X270 — TPC-H Q16 shape: per (brand, type, size), the DISTINCT
    * count of suppliers able to supply it, EXCLUDING a complaint list
    * (negative account balance, the fixture's stand-in) — the
    * anti-join + grouped count-distinct pattern: exclusion must be
    * applied to the fact rows BEFORE the distinct count, which is
    * what makes it a shape of its own (a post-aggregate filter gets
    * it wrong).
    *
    * Scale: broadcast anti-join (exclusion list is dimension-sized),
    * broadcast part join, then partial_count(distinct) — Spark plans
    * the distinct as a two-level aggregate, no row ever leaves its
    * (brand,type,size,supp) group early. */
  def q246_supplier_counts(spark: SparkSession, dir: String): DataFrame = {
    val bad = Tables.supplier(spark, dir)
      .filter(col("s_acctbal") < 0).select("s_suppkey")
    val pt = Tables.part(spark, dir)
      .select("p_partkey", "p_brand", "p_type", "p_size")
    Tables.lineitem(spark, dir).select("l_partkey", "l_suppkey")
      .join(broadcast(bad), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .join(broadcast(pt), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "p_type", "p_size")
      .agg(countDistinct("l_suppkey").cast("long").as("supplier_cnt"))
      .orderBy("p_brand", "p_type", "p_size")
  }

  /** Q15 revenue window (calendar year). */
  val Q15From = "1996-01-01 00:00:00"
  val Q15To = "1997-01-01 00:00:00"

  /** X271 — TPC-H Q15 shape: per-supplier discounted revenue over a
    * shipping window, then the top supplier(s) selected by EQUALITY
    * WITH THE VIEW'S OWN MAXIMUM (not top-1 — ties must all surface,
    * which is why the reference query is a view + scalar subquery,
    * not ORDER BY/LIMIT). Money in integer cents (q42's discipline).
    *
    * Scale: one fact aggregate to |suppliers| rows; the max is a
    * 1-row broadcast back onto that aggregate — the fact table is
    * never re-read for the subquery. */
  def q247_top_supplier(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit(Q15From).cast("timestamp") &&
        col("l_shipdate") < lit(Q15To).cast("timestamp"))
      .withColumn("disc_price_c",
        floor(expr("CAST(round(l_extendedprice * 100) AS BIGINT)") *
          (lit(10000L) - expr("CAST(round(l_discount * 10000) AS BIGINT)")) /
          lit(10000L)).cast("long"))
      .groupBy("l_suppkey")
      .agg(sum("disc_price_c").as("total_rev_c"))
    val mx = rev.agg(max("total_rev_c").as("max_rev_c"))
    rev.crossJoin(broadcast(mx))
      .filter(col("total_rev_c") === col("max_rev_c"))
      .join(Tables.supplier(spark, dir)
        .select("s_suppkey", "s_name", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
        col("total_rev_c"))
      .orderBy("s_suppkey")
  }

  /** The Q9 part-name filter token (TPC-H uses a color substring). */
  val ProfitPartToken = "red"

  /** X354 — TPC-H Q9 shape (product-type profit by nation × year): for
    * parts whose name contains [[ProfitPartToken]], per (supplier
    * nation, order year) profit in integer cents — discounted revenue
    * minus acquisition cost, with `p_retailprice` standing in for the
    * absent partsupp supply cost (the testdata has no partsupp table;
    * the join DAG is otherwise Q9's: lineitem ⋈ part ⋈ supplier ⋈
    * nation ⋈ orders). Completes the TPC-H sweep next to q42 (Q1),
    * q167 (Q2), q43/q44 (Q3/Q5), q303 (Q4-family), q268 (Q18), q152
    * (Q8), q279 (Q7), q246/q247 (Q16/Q15).
    *
    * Scale shape: the name-filtered part list and the supplier→nation
    * map broadcast (dim-sized); the only fact-sized shuffles are the
    * lineitem⋈orders equijoin and the final (nation, year) aggregate —
    * profit is computed per line BEFORE aggregation, so the group-by
    * is partial-aggregated map-side. */
  def q323_nation_profit(spark: SparkSession, dir: String): DataFrame = {
    val pr = Tables.part(spark, dir)
      .filter(col("p_name").contains(ProfitPartToken))
      .select(col("p_partkey"),
        expr("CAST(round(p_retailprice * 100) AS BIGINT)").as("cost_c"))
    val supp = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("nation"))
    Tables.lineitem(spark, dir)
      .join(broadcast(pr), col("l_partkey") === col("p_partkey"))
      .withColumn("price_c", expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
      .withColumn("disc_bp", expr("CAST(round(l_discount * 10000) AS BIGINT)"))
      .withColumn("profit_c",
        expr("CAST(floor(price_c * (10000 - disc_bp) / 10000) AS BIGINT)" +
          " - cost_c * CAST(l_quantity AS BIGINT)"))
      .join(Tables.orders(spark, dir).select(col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("o_year")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .groupBy("nation", "o_year")
      .agg(sum("profit_c").as("profit_c"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q245_linkage_score" -> q245_linkage_score,
    "q246_supplier_counts" -> q246_supplier_counts,
    "q247_top_supplier" -> q247_top_supplier,
    "q323_nation_profit" -> q323_nation_profit
  )

  // ---------------------------------------------------------------- oracles

  import DataPrepQueries.normToks
  import LinkageQueries.{BlockBucket, BlockKeyCap}

  /** The q245 scored-candidate chain (…→ `sc(id_a, id_b, score)`) —
    * shared with q337's ER operating-curve oracle. */
  private[queries] lazy val linkageScoredSql: String =
    s"""d AS (SELECT doc_id, lang, source, $normToks AS t FROM documents),
       |hd AS (SELECT doc_id, lang, source, CAST(len(t) AS BIGINT) AS ntok,
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
       |sc AS (SELECT c.id_a, c.id_b,
       |              CAST((CASE WHEN x.ft = y.ft THEN $WFtAgree ELSE $WFtDis END)
       |                 + (CASE WHEN x.lt = y.lt THEN $WLtAgree ELSE $WLtDis END)
       |                 + (CASE WHEN x.lang = y.lang THEN $WLangAgree ELSE $WLangDis END)
       |                 + (CASE WHEN x.source = y.source THEN $WSourceAgree ELSE $WSourceDis END)
       |                 AS BIGINT) AS score
       |       FROM cand c JOIN hd x ON x.doc_id = c.id_a
       |            JOIN hd y ON y.doc_id = c.id_b)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q245_linkage_score" ->
      s"""WITH $linkageScoredSql,
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_cand FROM sc)
         |SELECT sc.score, CAST(count(*) AS BIGINT) AS n_pairs,
         |       CAST((10000 * count(*)) // tot.n_cand AS BIGINT) AS share_x10k,
         |       CAST(CASE WHEN sc.score >= $LinkScoreTau THEN 1 ELSE 0 END AS INT)
         |         AS is_match_region
         |FROM sc, tot GROUP BY sc.score, tot.n_cand ORDER BY sc.score""".stripMargin,
    "q246_supplier_counts" ->
      s"""SELECT p.p_brand, p.p_type, p.p_size,
         |       CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
         |FROM lineitem l
         |JOIN part p ON p.p_partkey = l.l_partkey
         |WHERE l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
         |GROUP BY p.p_brand, p.p_type, p.p_size
         |ORDER BY p.p_brand, p.p_type, p.p_size""".stripMargin,
    "q247_top_supplier" ->
      s"""WITH rev AS (
         |  SELECT l_suppkey,
         |         CAST(sum(CAST(floor(CAST(round(l_extendedprice * 100) AS BIGINT)
         |              * (10000 - CAST(round(l_discount * 10000) AS BIGINT)) / 10000)
         |              AS BIGINT)) AS BIGINT) AS total_rev_c
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '$Q15From' AND l_shipdate < TIMESTAMP '$Q15To'
         |  GROUP BY l_suppkey)
         |SELECT s.s_suppkey, s.s_name, s.s_nationkey, rev.total_rev_c
         |FROM rev JOIN supplier s ON s.s_suppkey = rev.l_suppkey
         |WHERE rev.total_rev_c = (SELECT max(total_rev_c) FROM rev)
         |ORDER BY s.s_suppkey""".stripMargin,
    "q323_nation_profit" ->
      s"""WITH pr AS (SELECT p_partkey, CAST(round(p_retailprice * 100) AS BIGINT) AS cost_c
         |            FROM part WHERE p_name LIKE '%$ProfitPartToken%'),
         |v AS (
         |  SELECT ns.n_name AS nation, CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
         |         CAST(floor(CAST(round(l.l_extendedprice * 100) AS BIGINT)
         |              * (10000 - CAST(round(l.l_discount * 10000) AS BIGINT)) / 10000)
         |           AS BIGINT)
         |         - pr.cost_c * CAST(l.l_quantity AS BIGINT) AS profit_c
         |  FROM lineitem l
         |  JOIN pr ON l.l_partkey = pr.p_partkey
         |  JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |  JOIN nation ns ON s.s_nationkey = ns.n_nationkey)
         |SELECT nation, o_year, CAST(sum(profit_c) AS BIGINT) AS profit_c
         |FROM v GROUP BY nation, o_year
         |ORDER BY nation, o_year DESC""".stripMargin
  )
}
