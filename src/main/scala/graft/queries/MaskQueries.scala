package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._
import graft.ops.Relational

/** Round-4 wave-11 training-mask operators: duplicate-span loss masks
  * (the token intervals a trainer should mask out of the loss), length-
  * matched control sampling through the NATIVE as-of join (X78 reused as
  * a nearest-below matcher, not a time join), and the vocabulary growth
  * curve (Heaps-law view of corpus novelty by ingestion decile).
  *
  * Oracle conventions as the sibling modules: exact integers end-to-end,
  * identical aliases both sides, ORDER BY a unique key. */
object MaskQueries {

  /** Duplicate-span masks use q103's gram width. */
  val MaskN: Int = CorpusQueries.SpanN
  /** Growth-curve resolution. */
  val GrowthBuckets = 10L

  /** X142 — duplicate-span loss masks: per document, the MERGED intervals
    * of token positions covered by `MaskN`-grams shared with another doc —
    * exactly the spans Lee et al.-style training pipelines mask out of the
    * loss instead of dropping the whole doc (q103 reports the fraction;
    * this emits the actionable intervals). Gram pass → cross-doc filter →
    * position explode → island merge (pos − row_number grouping) — one
    * per-doc window over only the DUPLICATED positions, never the corpus. */
  def q136_dedup_masks(spark: SparkSession, dir: String): DataFrame = {
    // spread: an under-split input (one small parquet file locally) would
    // run the whole n-gram construction on ONE task — measured 2.9 s ->
    // 0.9 s at sf0.1; a no-op when the input already has >= cores splits
    val base = graft.ops.Dedup.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), wsTokens(normalizeText(col("text"))).as("t"))
    // Materialize.checkpoint (round 12, reversing the round-9 "NOT cached"
    // A/B, which compared against Materialize.cache — a persisted subtree AQE
    // re-executes per consuming stage): the gram table feeds the df
    // aggregate AND the position join-back; the eager checkpoint builds
    // the explode walk once and both consumers stream the blocks.
    val grams = graft.ops.Materialize.checkpoint(
      base.select(col("doc_id"),
        posexplode(ngramStrings(col("t"), MaskN)).as(Seq("s0", "gram")))
      .select(col("doc_id"), (col("s0") + 1).as("s"), col("gram")))
    // "shared with ANOTHER doc" needs only a 2-distinct-docs test, and
    // countDistinct >= 2 ⟺ min(doc_id) < max(doc_id). At sf0.1 the two
    // tie (A/B min-of-3: 1.58 vs 1.43 — inside this VM's noise band);
    // the swap is for the 100 TB posture: countDistinct's partial
    // buffers the distinct doc SET per gram per task (unbounded on a
    // corpus-hot gram), min/max partials are O(1) per gram per task.
    val crossDoc = grams.groupBy("gram")
      .agg(min("doc_id").as("d0"), max("doc_id").as("d1"))
      .filter(col("d0") < col("d1"))
      .select("gram")
    val pos = grams.join(crossDoc, "gram")
      .select(col("doc_id"),
        explode(sequence(col("s"), col("s") + lit(MaskN - 1))).as("p"))
    // island merge INSIDE a per-doc array: collect each doc's duplicated
    // positions once (collect_set dedups overlapping grams' positions at
    // the partial-aggregate level), then derive the merged spans with
    // bound array expressions — one doc-keyed shuffle replaces the former
    // distinct exchange + row_number window pair, and no WindowExec
    // exists anywhere in the plan (positions per doc are bounded by the
    // doc's token count, so the arrays are small by construction)
    pos.groupBy("doc_id")
      .agg(array_sort(collect_set(col("p"))).as("ps"))
      .withColumn("sidx", expr(
        "filter(sequence(1, size(ps)), i -> i = 1 OR element_at(ps, i) != element_at(ps, i - 1) + 1)"))
      .withColumn("span", explode(expr(
        """transform(sequence(1, size(sidx)), j -> struct(
          |  CAST(element_at(ps, element_at(sidx, j)) AS BIGINT) AS span_start,
          |  CAST(element_at(ps, CASE WHEN j < size(sidx)
          |       THEN element_at(sidx, j + 1) - 1 ELSE size(ps) END) AS BIGINT) AS span_end))"""
          .stripMargin)))
      .select(col("doc_id"), col("span.span_start").as("span_start"),
        col("span.span_end").as("span_end"),
        (col("span.span_end") - col("span.span_start") + 1).as("span_len"))
      .orderBy("doc_id", "span_start")
  }

  /** Word n-gram strings (non-distinct, in position order) from a bound
    * token array — the positional sibling of [[shinglesFromTokens]]. */
  private def ngramStrings(toks: org.apache.spark.sql.Column, n: Int) = {
    val count = size(toks) - (n - 1)
    when(count <= 0, array().cast("array<string>")).otherwise(
      transform(sequence(lit(0), count - 1), i =>
        concat_ws(" ", (0 until n).map(j => element_at(toks, i + j + 1)): _*)))
  }

  /** X143 — length-matched control sampling via the NATIVE as-of join:
    * for every doc in the odd half (the "treatment"/eval side), the even-
    * half doc with the largest token count ≤ its own, within the same
    * language — the propensity-style control matching an A/B corpus
    * comparison needs, and a reuse of the X78 whole-operator Catalyst
    * extension as a nearest-below matcher on an ORDINAL axis (token
    * count), not a timestamp: one exchange + sort per side, a linear
    * merge walk, no window over the corpus. */
  def q137_length_matched(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir).select(col("doc_id"), col("lang"),
      size(wsTokens(normalizeText(col("text")))).cast("long").as("ntok"))
      // the native operator keys on LongType: md5-derive a 60-bit integer
      // key from the language (equality-preserving; the oracle keys on the
      // string directly)
      .withColumn("lkey",
        conv(substring(md5(col("lang")), 1, 15), 16, 10).cast("long"))
    val eval0 = base.filter(col("doc_id") % 2 === 1)
    val train = base.filter(col("doc_id") % 2 === 0)
      .select(col("lkey").as("m_lkey"), col("ntok").as("match_ntok"),
        col("doc_id").as("match_id"))
    graft.plans.AsOfJoinStrategy.asofJoin(eval0, train,
        "lkey", "ntok", "m_lkey", "match_ntok", "match_id")
      .select(col("doc_id"), col("lang"), col("ntok"), col("match_id"),
        col("match_ntok"),
        (col("ntok") - col("match_ntok")).as("gap"))
      .orderBy("doc_id")
  }

  /** X144 — vocabulary growth curve: corpus ingested in doc_id order and
    * cut into `GrowthBuckets` equal-doc deciles; per decile the NEW
    * `MaskN`-gram types first seen there and the running total — the
    * Heaps-law curve that says whether more data still buys novelty (a
    * flattening curve means the crawl is exhausted; n-gram types rather
    * than unigrams so the curve measures phrasal novelty, the unit
    * contamination/dedup care about). First-occurrence decile per type =
    * one min aggregate over the gram pass; the cumulative sum runs over
    * `GrowthBuckets` rows (pmod constant-partition window). The doc index
    * is the two-phase [[Relational.globalIndex]]. */
  def q138_vocab_growth(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    val idx = Relational.globalIndex(docs, Seq(col("doc_id")), "idx")
    val tot = docs.agg(count(lit(1)).as("n_docs"))
    // Decile via TEN BROADCAST BOUNDARY doc_ids, not a doc-keyed join of
    // the text rows (round 12): the round-11 shape joined the index onto
    // (doc_id, text) — after the index moved behind a stats-less
    // checkpoint leaf the planner stopped broadcasting it and the RAW
    // TEXT paid a doc-keyed exchange. Decile k starts at rank
    // idx_k = ceil(k·n/B) + 1 (GB·(idx−1) div n ≥ k ⇔ idx−1 ≥ ⌈kn/B⌉),
    // so decile(d) = |{k : idx_k ≤ rank(d)}| − 1 — and since doc ranks
    // are doc_id order, that is a comparison against the ten boundary
    // doc_ids, carried with multiplicity for the n < B degenerate case
    // (several k sharing one boundary rank = skipped deciles). The text
    // side now never joins anything row-keyed: B structs broadcast to
    // every task at ANY corpus size.
    val bIdx = s"transform(sequence(0, ${GrowthBuckets - 1}), " +
      s"k -> (k * n_docs + ${GrowthBuckets - 1}) div $GrowthBuckets + 1)"
    val bounds = idx.crossJoin(broadcast(tot))
      .filter(expr(s"array_contains($bIdx, idx)"))
      .select(col("doc_id").as("b"),
        expr(s"size(filter($bIdx, v -> v = idx))").cast("long").as("mult"))
      .agg(sort_array(collect_list(struct(col("b"), col("mult")))).as("barr"))
    val toks = graft.ops.Dedup.spread(Tables.documents(spark, dir)
        .select(col("doc_id"), col("text")))
      .crossJoin(broadcast(bounds))
      // bind the token array BEFORE ngramStrings: element_at over an
      // unbound normalize+split expression re-evaluates it per element
      // (the shinglesFromTokens trap — measured 68 s → ~1 s at sf0.1)
      .select(wsTokens(normalizeText(col("text"))).as("t"),
        expr("aggregate(barr, -1L, (acc, x) -> " +
          "acc + CASE WHEN doc_id >= x.b THEN x.mult ELSE 0L END)").as("decile"))
      .select(explode(ngramStrings(col("t"), MaskN)).as("token"), col("decile"))
    val firstSeen = toks.groupBy("token").agg(min("decile").as("decile"))
    val perDecile = firstSeen.groupBy("decile")
      .agg(count(lit(1)).as("new_types"))
    perDecile.withColumn("cum_types",
        sum("new_types").over(Window.partitionBy(pmod(col("decile"), lit(1)))
          .orderBy("decile")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy("decile")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q136_dedup_masks" -> q136_dedup_masks,
    "q137_length_matched" -> q137_length_matched,
    "q138_vocab_growth" -> q138_vocab_growth
  )

  // ---------------------------------------------------------------- oracles

  import AnalyticsQueries.normToks
  import CorpusQueries.gramSql

  val oracles: Map[String, String] = Map(
    "q136_dedup_masks" ->
      s"""WITH d AS (SELECT doc_id, $normToks AS t FROM documents),
         |g AS (SELECT doc_id, s, concat_ws(' ', ${gramSql(MaskN)}) AS gram
         |      FROM (SELECT doc_id, t,
         |              unnest(CASE WHEN len(t) - ${MaskN - 1} <= 0 THEN []
         |                     ELSE generate_series(1, len(t) - ${MaskN - 1}) END) AS s
         |            FROM d)),
         |du AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
         |ps AS (SELECT DISTINCT doc_id, p
         |       FROM (SELECT g.doc_id, unnest(generate_series(g.s, g.s + ${MaskN - 1})) AS p
         |             FROM g JOIN du USING (gram))),
         |i AS (SELECT doc_id, p,
         |             p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp
         |      FROM ps)
         |SELECT doc_id, CAST(min(p) AS BIGINT) AS span_start,
         |       CAST(max(p) AS BIGINT) AS span_end,
         |       CAST(max(p) - min(p) + 1 AS BIGINT) AS span_len
         |FROM i GROUP BY doc_id, grp
         |ORDER BY doc_id, span_start""".stripMargin,
    "q137_length_matched" ->
      s"""WITH b AS (SELECT doc_id, lang, CAST(len($normToks) AS BIGINT) AS ntok
         |           FROM documents),
         |e AS (SELECT * FROM b WHERE doc_id % 2 = 1),
         |t AS (SELECT lang AS m_lang, ntok AS match_ntok, doc_id AS match_id FROM b
         |      WHERE doc_id % 2 = 0)
         |SELECT e.doc_id, e.lang, e.ntok, m.match_id, m.match_ntok,
         |       e.ntok - m.match_ntok AS gap
         |FROM e LEFT JOIN LATERAL (
         |  SELECT match_id, match_ntok FROM t
         |  WHERE t.m_lang = e.lang AND t.match_ntok <= e.ntok
         |  ORDER BY t.match_ntok DESC, t.match_id DESC LIMIT 1) m ON true
         |ORDER BY e.doc_id""".stripMargin,
    "q138_vocab_growth" ->
      s"""WITH ix AS (SELECT doc_id,
         |              CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) AS idx,
         |              CAST(count(*) OVER () AS BIGINT) AS n_docs
         |            FROM documents),
         |d0 AS (SELECT doc_id, $normToks AS t FROM documents),
         |tk AS (SELECT doc_id, concat_ws(' ', ${gramSql(MaskN)}) AS token
         |       FROM (SELECT doc_id, t,
         |               unnest(CASE WHEN len(t) - ${MaskN - 1} <= 0 THEN []
         |                      ELSE generate_series(1, len(t) - ${MaskN - 1}) END) AS s
         |             FROM d0)),
         |td AS (SELECT tk.token,
         |              least(${GrowthBuckets - 1},
         |                    ($GrowthBuckets * (ix.idx - 1)) // ix.n_docs) AS decile
         |       FROM tk JOIN ix ON tk.doc_id = ix.doc_id),
         |fs AS (SELECT token, CAST(min(decile) AS BIGINT) AS decile FROM td GROUP BY token),
         |pd AS (SELECT decile, CAST(count(*) AS BIGINT) AS new_types
         |       FROM fs GROUP BY decile)
         |SELECT decile, new_types,
         |       CAST(sum(new_types) OVER (ORDER BY decile
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |         AS cum_types
         |FROM pd ORDER BY decile""".stripMargin
  )
}
