package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._
import graft.ops.Relational

/** Round-6 wave-34 sweep/design operators: stratified k-fold assignment
  * with a balance audit (the split every supervised run needs),
  * pseudo-relevance-feedback query expansion (RM1-lite over the BM25
  * chain), and an eval-contamination length sweep (how long must an
  * overlap be before it counts).
  *
  * Oracle conventions as the sibling modules: exact integers
  * end-to-end, identical aliases both sides, ORDER BY a unique key.
  */
object SweepQueries {

  /** Folds per stratum. */
  val KFolds = 5L

  /** X251 — stratified k-fold assignment + balance audit: docs ranked
    * within their source stratum by `(md5(doc_id), doc_id)` (the
    * deterministic shuffle key), fold = rank mod [[KFolds]] — every
    * stratum splits near-perfectly evenly by construction, unlike plain
    * hash folds whose per-stratum counts fluctuate. Output is the
    * (source, fold) audit grid with the deviation from perfect balance
    * ×10⁴ — the pre-training sanity table.
    *
    * Scale: the per-stratum rank is the two-phase global index over
    * (source, md5, id) minus broadcast per-source offsets (the q202
    * discipline) — no per-source single-task window. */
  def q229_stratified_folds(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars").cast("long").as("n_chars"))
      .withColumn("shuf", md5(col("doc_id").cast("string")))
    val idxd = Relational.globalIndex(docs,
      Seq(col("source"), col("shuf"), col("doc_id")), "__gidx")
    val srcOff = docs.groupBy("source").agg(count(lit(1)).as("__n"))
      .withColumn("__start", coalesce(
        sum(col("__n")).over(
          Window.partitionBy(pmod(length(col("source")), lit(1))).orderBy("source")
            .rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
    val folded = idxd.join(broadcast(srcOff), "source")
      .withColumn("fold", pmod(col("__gidx") - col("__start") - 1L, lit(KFolds)))
    folded.groupBy("source", "fold")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
      .join(broadcast(srcOff.select(col("source"), col("__n").as("n_stratum"))), "source")
      .withColumn("dev_x10k",
        expr(s"(10000 * $KFolds * n_docs) div n_stratum - 10000"))
      .select("source", "fold", "n_docs", "sum_chars", "dev_x10k")
      .orderBy("source", "fold")
  }

  /** PRF depth (docs fed back) and expansion terms kept. */
  val PrfDepth = 10
  val PrfExpK = 15

  /** X252 — pseudo-relevance-feedback query expansion (RM1-lite): the
    * top-[[PrfDepth]] BM25 docs for the standing query feed back their
    * vocabulary; candidate expansion terms (minus the query's own)
    * rank by Σtf × inverse-df ×1k — the classic automatic query
    * expansion step between retrieval rounds, riding the q142 chain.
    *
    * Scale: feedback tf is a broadcast-semi join of the token stream
    * against [[PrfDepth]] doc ids; rarity is the global df table
    * (vocabulary-sized); ranking cuts at [[PrfExpK]]. */
  def q230_prf_expansion(spark: SparkSession, dir: String): DataFrame = {
    val topR = SearchQueries.bm25Scored(spark, dir)
      .orderBy(col("score").desc, col("doc_id")).limit(PrfDepth)
      .select("doc_id")
    // round-7: the global df table is only ever read for the FEEDBACK
    // docs' vocabulary (fbTf inner-joins it), so compute df over the
    // candidate-term–semi-filtered stream instead of a corpus-wide
    // (doc, term) distinct — the semi join's build side is the ≤(10-doc
    // vocabulary) candidate set, broadcast. Measured 1.6 s → ~0.9 s.
    // the pinned retrieval token core: explode off cached arrays, no
    // re-tokenize for either consumer below
    // ONE pass over the pinned token core (round-9; was two: fbTf's
    // feedback-doc aggregate, then a semi-filtered df pass): flag each
    // token row as feedback via a broadcast join against the 10-doc
    // topR, aggregate sum_tf (feedback rows) and df (distinct docs,
    // min/max-free exact count on the term key) in the SAME groupBy,
    // and keep candidate terms afterwards. df is computed for the full
    // vocabulary instead of the candidate slice — vocabulary-bounded
    // partials, and one fewer corpus-token explode + semi join wins at
    // every SF (measured 1.8 → 1.3 s at sf0.1).
    val toks = SearchQueries.bm25Docs(spark, dir)
      .select(col("doc_id"), explode(col("toks")).as("term"))
    val nDocs = Tables.documents(spark, dir).agg(count(lit(1)).as("n_docs"))
    val flagged = toks.join(broadcast(topR.withColumn("__fb", lit(1L))),
        Seq("doc_id"), "left")
    val stats = flagged.groupBy("term")
      .agg(sum(coalesce(col("__fb"), lit(0L))).as("sum_tf"),
        countDistinct("doc_id").as("df"))
      .filter(col("sum_tf") > 0 && !col("term").isin(SearchQueries.Bm25Terms: _*))
    val scored = stats.crossJoin(broadcast(nDocs))
      .withColumn("rarity_x1k", expr("(1000 * n_docs) div df"))
      .withColumn("weight_x1k", col("sum_tf") * col("rarity_x1k"))
    scored.orderBy(col("weight_x1k").desc, col("term")).limit(PrfExpK)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("weight_x1k").desc, col("term"))).cast("long"))
      .select("rank", "term", "sum_tf", "df", "weight_x1k")
      .orderBy("rank")
  }

  /** Overlap lengths swept (tokens per gram). */
  val SweepNs: Seq[Int] = Seq(3, 8, 13)

  /** X253 — eval-contamination length sweep: the q73/q192 exact-overlap
    * screen at gram lengths [[SweepNs]] — contaminated-doc share and
    * raw gram-hit counts per length. Short grams overcount (common
    * phrases), long grams undercount (minor edits break them); this
    * table is how the decontamination n is actually chosen, measured
    * on the corpus it will govern.
    *
    * Scale: per length one distinct-gram equijoin between the eval
    * slice's gram set and the train stream (the q73 shape); the n=3
    * arm rides the session-pinned shingle core. */
  def q231_contamination_sweep(spark: SparkSession, dir: String): DataFrame = {
    // round-7: tokenize ONCE for every non-pinned arm, and shuffle
    // 60-bit md5-prefix gram keys instead of up-to-13-word gram TEXT —
    // both engines compute the identical hash, so the comparison stays
    // exact (a collision would alter both sides identically; odds
    // ≈ pairs·2⁻⁶⁰, documented). Measured 2.0 s → ~1.2 s at sf0.1.
    val toks = graft.ops.Materialize.cache(
      graft.ops.Dedup.spread(Tables.documents(spark, dir))
        .select(col("doc_id"), wsTokens(normalizeText(col("text"))).as("t")))
    // round-8: the non-pinned arms (n ≠ ShingleN) fuse into ONE tagged
    // stream — each doc's per-n gram arrays concat into (n, key) rows in
    // a single explode, and every downstream step (eval-distinct, train
    // join, per-doc rollup) keys by (n, g) — one shuffle chain for all
    // arms instead of one sequential chain per arm. The pinned-shingle
    // arm stays on its session core.
    val nonPinned = SweepNs.filterNot(_ == DataPrepQueries.ShingleN)
    val perN = nonPinned.map { n =>
      transform(shinglesFromTokens(col("t"), n),
        g => struct(lit(n.toLong).as("n"), g.as("gram")))
    }
    val fusedKeyed = toks
      .select(col("doc_id"), explode(concat(perN: _*)).as("ng"))
      .select(col("ng.n").as("n"), col("doc_id"),
        conv(substring(md5(col("ng.gram")), 1, 15), 16, 10).cast("long").as("g"))
    val pinnedKeyed = graft.ops.Dedup.pinnedShingles(spark, dir, DataPrepQueries.ShingleN)
      .select(lit(DataPrepQueries.ShingleN.toLong).as("n"), col("id").as("doc_id"),
        conv(substring(md5(col("shingle")), 1, 15), 16, 10).cast("long").as("g"))
    // the keyed table feeds the eval-distinct AND the train join —
    // cache the narrow (n, id, 8-byte key) form, not the gram text
    val keyed = graft.ops.Materialize.cache(fusedKeyed.unionByName(pinnedKeyed))
    val tagged = keyed.withColumn("is_eval",
      pmod(col("doc_id"), lit(CurationQueries.EvalMod)) === 0L)
    val evalGrams = tagged.filter(col("is_eval")).select("n", "g").distinct()
    val train = tagged.filter(!col("is_eval"))
    val trainDocs = train.groupBy("n").agg(countDistinct("doc_id").as("n_train_docs"))
    val hits = train.join(evalGrams, Seq("n", "g"))
    val agg = hits.groupBy("n", "doc_id").agg(count(lit(1)).as("h"))
      .groupBy("n").agg(count(lit(1)).as("n_contam_docs"), sum("h").as("n_gram_hits"))
    // spine: an arm with no grams at all (ultra-short corpus) must still
    // emit its zero row, as each per-arm global aggregate used to
    val spine = { import spark.implicits._; SweepNs.map(_.toLong).toDF("n") }
    spine.join(trainDocs, Seq("n"), "left").join(agg, Seq("n"), "left")
      .select(col("n"), coalesce(col("n_train_docs"), lit(0L)).as("n_train_docs"),
        coalesce(col("n_contam_docs"), lit(0L)).as("n_contam_docs"),
        coalesce(col("n_gram_hits"), lit(0L)).as("n_gram_hits"))
      .withColumn("contam_doc_x10k",
        expr("CASE WHEN n_train_docs = 0 THEN 0 ELSE (10000 * n_contam_docs) div n_train_docs END"))
      .select("n", "n_train_docs", "n_contam_docs", "contam_doc_x10k", "n_gram_hits")
      .orderBy("n")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q229_stratified_folds" -> q229_stratified_folds,
    "q230_prf_expansion" -> q230_prf_expansion,
    "q231_contamination_sweep" -> q231_contamination_sweep
  )

  // ---------------------------------------------------------------- oracles

  import DataPrepQueries.{normToks, shinglesSql}

  private def sweepArmSql(n: Int): String =
    s"""SELECT CAST($n AS BIGINT) AS n, n_train_docs, n_contam_docs, n_gram_hits FROM (
       |  WITH d AS (SELECT doc_id, $normToks AS t FROM documents),
       |  g0 AS (SELECT doc_id, doc_id % ${CurationQueries.EvalMod} = 0 AS is_eval,
       |                unnest(${shinglesSql(n)}) AS gram
       |         FROM d),
       |  g AS (SELECT doc_id, is_eval,
       |               CAST(concat('0x', substr(md5(gram), 1, 15)) AS BIGINT) AS gk
       |        FROM g0),
       |  ev AS (SELECT DISTINCT gk FROM g WHERE is_eval),
       |  tr AS (SELECT doc_id, gk FROM g WHERE NOT is_eval),
       |  td AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_train_docs FROM tr),
       |  h AS (SELECT tr.doc_id FROM tr JOIN ev USING (gk)),
       |  ag AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_contam_docs,
       |                CAST(count(*) AS BIGINT) AS n_gram_hits FROM h)
       |  SELECT td.n_train_docs, ag.n_contam_docs, ag.n_gram_hits FROM td, ag)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q229_stratified_folds" ->
      s"""WITH d AS (SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
         |                  md5(CAST(doc_id AS VARCHAR)) AS shuf
         |           FROM documents),
         |rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY source
         |                ORDER BY shuf, doc_id) AS BIGINT) AS srk FROM d),
         |fd AS (SELECT source, (srk - 1) % $KFolds AS fold, doc_id, n_chars FROM rk),
         |g AS (SELECT source, fold, CAST(count(*) AS BIGINT) AS n_docs,
         |             CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |      FROM fd GROUP BY source, fold),
         |ns AS (SELECT source, CAST(count(*) AS BIGINT) AS n_stratum FROM d GROUP BY source)
         |SELECT g.source, g.fold, g.n_docs, g.sum_chars,
         |       CAST((10000 * $KFolds * g.n_docs) // ns.n_stratum - 10000 AS BIGINT) AS dev_x10k
         |FROM g JOIN ns USING (source)
         |ORDER BY g.source, g.fold""".stripMargin,
    "q230_prf_expansion" ->
      s"""WITH ${SearchQueries.bm25ChainSql},
         |topr AS (SELECT doc_id FROM top WHERE rank <= $PrfDepth),
         |tk AS (SELECT doc_id, unnest($normToks) AS term FROM documents),
         |dfr2 AS (SELECT term, CAST(count(*) AS BIGINT) AS df
         |         FROM (SELECT DISTINCT doc_id, term FROM tk) GROUP BY term),
         |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         |fb AS (SELECT term, CAST(count(*) AS BIGINT) AS sum_tf
         |       FROM tk JOIN topr USING (doc_id)
         |       WHERE NOT list_contains(${SearchQueries.Bm25Terms.map(t => s"'$t'").mkString("[", ", ", "]")}, term)
         |       GROUP BY term),
         |sc2 AS (SELECT fb.term, fb.sum_tf, dfr2.df,
         |               CAST(fb.sum_tf * ((1000 * nd.n_docs) // dfr2.df) AS BIGINT) AS weight_x1k
         |        FROM fb JOIN dfr2 USING (term), nd),
         |rk2 AS (SELECT *, CAST(row_number() OVER (ORDER BY weight_x1k DESC, term) AS BIGINT)
         |          AS rank FROM sc2)
         |SELECT rank, term, sum_tf, df, weight_x1k
         |FROM rk2 WHERE rank <= $PrfExpK ORDER BY rank""".stripMargin,
    "q231_contamination_sweep" ->
      SweepNs.map(sweepArmSql).mkString("SELECT n, n_train_docs, n_contam_docs,\n" +
        "  CAST(CASE WHEN n_train_docs = 0 THEN 0 ELSE (10000 * n_contam_docs) // n_train_docs END AS BIGINT) AS contam_doc_x10k,\n" +
        "  n_gram_hits FROM (\n", "\nUNION ALL\n", "\n) ORDER BY n")
  )
}
