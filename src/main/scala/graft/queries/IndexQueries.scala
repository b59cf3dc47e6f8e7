package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._

/** Round-5 wave-26 index-construction operators: prefix-filtered set
  * similarity join (the PPJoin candidate discipline — the third
  * sub-quadratic set-join family next to MinHash banding and df-capped
  * inverted intersection), an autocomplete suggest index (top
  * completions per prefix — the search-box artifact), and Gini
  * impurity feature ranking (which embedding dimensions separate the
  * labels — integer feature selection).
  *
  * Oracle conventions as the sibling modules: exact integers
  * end-to-end, identical aliases both sides, ORDER BY a unique key.
  */
object IndexQueries {

  /** PPJoin parameters: Jaccard threshold ×10⁴ and report depth. */
  val PpTauX10k = 8000L
  val PpTopK = 50

  /** X220 — prefix-filtered set-similarity join (PPJoin-lite): doc
    * pairs with 3-gram-SHINGLE-set Jaccard ≥ [[PpTauX10k]]/10⁴ (the
    * q16 set unit), candidates generated by PREFIX FILTERING — order
    * every doc's shingles by global rarity (df asc, shingle), keep
    * only the first `|x| − ⌈τ·|x|⌉ + 1` as index keys; two sets can
    * reach τ only if their prefixes share an element, so candidate
    * generation is an equijoin on prefix postings (rare shingles ⇒
    * SHORT postings — the pruning lives on the element space being
    * large, which is why the unit is shingles, not the closed unigram
    * vocabulary) and the exact Jaccard rerank runs on candidates only.
    * The third sub-quadratic set-join discipline in the engine,
    * complementing MinHash banding (q17, probabilistic) and df-capped
    * intersection (q16, frequency-bounded): prefix filtering is
    * EXACT — no candidate that could pass τ is ever dropped.
    *
    * Scale: the global rarity order is one df aggregate; prefix
    * fan-out is per-doc bounded; the exact intersection joins full
    * postings only for candidate pairs (pair-keyed shuffle). */
  def q200_ppjoin_pairs(spark: SparkSession, dir: String): DataFrame = {
    // the session-pinned shingle core — shared with q16/q76/q114/q125/
    // q157/q192, so this query's marginal cost starts AFTER the
    // normalize+tokenize+shingle pass
    val toks = graft.ops.Dedup.pinnedShingles(spark, dir, DataPrepQueries.ShingleN)
      .select(col("id").as("doc_id"), col("shingle").as("token"))
    val sizes = graft.ops.Dedup.pinnedSetSizes(spark, dir, DataPrepQueries.ShingleN)
      .select(col("id").as("doc_id"), col("set_size"))
    // Materialize.checkpoint (round 12): pkeys feeds BOTH sides of the
    // candidate self-join and arrays feeds both pair-side joins — each
    // consuming stage re-executed the uncached subtree (the prefix-rank
    // window / the collect_set aggregate) under AQE
    val pkeys = graft.ops.Materialize.checkpoint(ppjoinPrefixKeys(toks, sizes))
    // candidate generation = prefix-postings equijoin, pruned by the two
    // EXACT PPJoin filters (no qualifying pair can be lost, so the result
    // is unchanged — only the candidate count drops):
    //  · length filter: jacc ≤ min/max, so τ·max(|x|,|y|) ≤ min(|x|,|y|)
    //  · positional filter: a common token at ranks (ra, rb) bounds the
    //    overlap by min(ra,rb)-1 common tokens before it + itself +
    //    min(|x|-ra, |y|-rb) after; a qualifying pair needs overlap ≥
    //    α = ⌈τ·(|x|+|y|)/(1+τ)⌉, and since EVERY common token of a
    //    qualifying pair satisfies the bound, filtering per-posting-match
    //    and keeping pairs with ≥1 surviving match drops nothing
    val alphaDen = 10000L + PpTauX10k
    val candPairs = pkeys.select(col("token"), col("doc_id").as("id_a"),
        col("tok_rank").as("rank_a"), col("set_size").as("size_a"))
      .join(pkeys.select(col("token"), col("doc_id").as("id_b"),
        col("tok_rank").as("rank_b"), col("set_size").as("size_b")), "token")
      .filter(col("id_a") < col("id_b"))
      .filter(lit(10000L) * least(col("size_a"), col("size_b")) >=
        lit(PpTauX10k) * greatest(col("size_a"), col("size_b")))
      .filter(
        least(col("rank_a"), col("rank_b")) +
          least(col("size_a") - col("rank_a"), col("size_b") - col("rank_b")) >=
        expr(s"(($PpTauX10k * (size_a + size_b)) + $alphaDen - 1) div $alphaDen"))
      .select("id_a", "id_b").distinct()
    // exact rerank the PPJoin way: per candidate pair, intersect the two
    // shingle ARRAYS (O(|x|+|y|) per pair, codegen'd) — never a pair ×
    // postings re-explode
    val arrays = graft.ops.Materialize.checkpoint(
      toks.groupBy("doc_id").agg(collect_set("token").as("sh")))
    val inter = candPairs
      .join(arrays.select(col("doc_id").as("id_a"), col("sh").as("sa")), "id_a")
      .join(arrays.select(col("doc_id").as("id_b"), col("sh").as("sb")), "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("sa"), col("sb"))).cast("long").as("n_common"))
      .filter(col("n_common") > 0)
    val jacc = inter
      .join(sizes.select(col("doc_id").as("id_a"), col("set_size").as("size_a")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("set_size").as("size_b")), "id_b")
      .withColumn("jacc_x10k",
        expr("(10000 * n_common) div (size_a + size_b - n_common)"))
      .filter(col("jacc_x10k") >= PpTauX10k)
    val top = jacc.orderBy(col("jacc_x10k").desc, col("id_a"), col("id_b"))
      .limit(PpTopK)
    top.withColumn("rank", row_number().over(
        Window.orderBy(col("jacc_x10k").desc, col("id_a"), col("id_b"))).cast("long"))
      .select("rank", "id_a", "id_b", "n_common", "jacc_x10k")
      .orderBy("rank")
  }

  /** The PPJoin prefix key table `(token, doc_id, tok_rank, set_size)`
    * of a `(doc_id, token)` frame: tokens ranked per doc by ascending
    * corpus df, kept while `tok_rank ≤ |x| − ⌈τ·|x|⌉ + 1`. Split out so
    * SkewCapSpec can pin the skew discipline on a synthetic hot token:
    * a corpus-hot token has the HIGHEST df, sorts last in every doc's
    * ranking, and is excluded from every doc whose prefix is shorter
    * than its token count — the candidate equijoin never keys on it at
    * all. That df-ordering is PPJoin's structural skew guard (AQE
    * skew-join handles only the residual).
    *
    * No explicit broadcast of the df table: the shingle vocabulary
    * grows with the corpus (it is NOT a closed word vocabulary), so at
    * 100 TB this join must be allowed to fall back to shuffle — AQE
    * picks broadcast whenever df is actually small (it is at bench SF). */
  private[graft] def ppjoinPrefixKeys(toks: DataFrame, sizes: DataFrame): DataFrame = {
    val df = toks.groupBy("token").agg(count(lit(1)).as("df"))
    val ordered = toks.join(df, "token")
      .withColumn("tok_rank", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("token"))).cast("long"))
    // prefix length = |x| - ceil(tau*|x|) + 1  (integer ceil via div)
    ordered.join(sizes, "doc_id")
      .filter(col("tok_rank") <=
        col("set_size") - expr(s"(($PpTauX10k * set_size) + 9999) div 10000") + 1L)
      .select(col("token"), col("doc_id"), col("tok_rank"), col("set_size"))
  }

  /** Suggest-index parameters: prefix lengths and completions kept. */
  val SuggestMaxPrefix = 4
  val SuggestK = 3

  /** X221 — autocomplete suggest index: for every token prefix of
    * length 1..[[SuggestMaxPrefix]], the top [[SuggestK]] completions
    * by corpus frequency (ties → lexicographic) — the search-box
    * artifact built from the corpus vocabulary. Ranking rides the
    * bounded-heap top-k aggregate (X76 machinery — partial-aggregated,
    * no window over the posting lists).
    *
    * Scale: vocabulary-sized input, ≤[[SuggestMaxPrefix]] fan-out per
    * token, |prefixes|-keyed shuffle. */
  def q201_suggest_index(spark: SparkSession, dir: String): DataFrame = {
    val df = Tables.documents(spark, dir)
      .select(explode(wsTokens(normalizeText(col("text")))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("freq"))
    val prefixes = df
      .withColumn("plen", explode(sequence(lit(1), least(length(col("token")),
        lit(SuggestMaxPrefix)))))
      .select(col("token").substr(lit(1), col("plen")).as("prefix"),
        col("token"), col("freq"))
    // the ranking window partitions by prefix over VOCABULARY rows (the
    // df aggregate already collapsed the corpus) — bounded by |vocab|
    prefixes.withColumn("rank", row_number().over(
        Window.partitionBy("prefix").orderBy(col("freq").desc, col("token")))
          .cast("long"))
      .filter(col("rank") <= SuggestK)
      .select("prefix", "rank", "token", "freq")
      .orderBy("prefix", "rank")
  }

  /** Gini binning: quartiles per dimension. */
  val GiniBins = 4

  /** X222 — Gini impurity feature ranking: which embedding dimensions
    * SEPARATE the labels — per dimension, values quartile-binned over
    * the (value, vec_id) total order, per-bin label purity `Σ_l c_l²`,
    * Gini ×10⁶ = 10⁶ − (10⁶·Σc²) div n², size-weighted across bins,
    * dims ranked ascending (lowest impurity = most separating). The
    * feature-selection read a probing classifier or pruning pass runs
    * before spending compute on all dims.
    *
    * Binning reproduces `ntile(k) OVER (PARTITION BY dim ORDER BY v,
    * vec_id)` WITHOUT a per-dim sort: a `PARTITION BY dim` window puts
    * ALL n rows of a dimension in ONE task's sort — a 64-way
    * parallelism ceiling and an O(N log N) single-task sort at corpus
    * scale (round-5 VERDICT finding #2). Instead the two-phase
    * [[Relational.globalIndex]] range-sorts the (dim, v, vec_id) total
    * order across all partitions, a 64-row per-dim offset table
    * (broadcast) converts the global index to a per-dim 1-based index,
    * and the bin is ntile's explicit remainder formula — first
    * `n mod k` buckets take `⌈n/k⌉` rows, the rest `⌊n/k⌋` — applied
    * arithmetically. Bit-identical to the window form (the oracle still
    * uses ntile), fully partition-parallel.
    *
    * Scale: one posexplode pass; one range shuffle; every window runs
    * over ≤64 rows; nothing corpus-global on a single task. */
  def q202_gini_features(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions._
    import graft.ops.Relational
    val raw = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        posexplode(quantize(col("embedding"))).as(Seq("dim", "v")))
    val idxd = Relational.globalIndex(raw, Seq(col("dim"), col("v"), col("vec_id")), "__gidx")
    // per-dim row counts + exclusive start offsets: |dims| rows, window
    // over that tiny table (pmod partition key — see globalIndex), then
    // broadcast back
    val dimOff = raw.groupBy("dim").agg(count(lit(1)).as("__n"))
      .withColumn("__start", coalesce(
        sum(col("__n")).over(
          Window.partitionBy(pmod(col("dim"), lit(1))).orderBy("dim")
            .rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
    val cells = idxd.join(broadcast(dimOff), "dim")
      .withColumn("__i", col("__gidx") - col("__start"))
      // ntile(k): q = n div k, r = n mod k; buckets 1..r take q+1 rows
      .withColumn("bin", expr(
        s"""CASE WHEN __i <= (__n % $GiniBins) * ((__n div $GiniBins) + 1)
           |  THEN (__i - 1) div ((__n div $GiniBins) + 1) + 1
           |  ELSE (__n % $GiniBins)
           |    + (__i - (__n % $GiniBins) * ((__n div $GiniBins) + 1) - 1)
           |      div (__n div $GiniBins) + 1
           |END""".stripMargin).cast("long"))
    val binLabel = cells.groupBy("dim", "bin", "label")
      .agg(count(lit(1)).as("c"))
    val bins = binLabel.groupBy("dim", "bin")
      .agg(sum("c").as("n_b"), sum(col("c") * col("c")).as("purity"))
      .withColumn("gini_x1e6",
        expr("1000000 - (1000000 * purity) div (n_b * n_b)"))
    val dims = bins.groupBy("dim")
      .agg(sum(col("n_b") * col("gini_x1e6")).as("wsum"), sum("n_b").as("n"))
      .withColumn("gini_x1e6", expr("wsum div n"))
      .select(col("dim").cast("long").as("dim"), col("gini_x1e6"))
    dims.withColumn("rank", row_number().over(
        Window.orderBy(col("gini_x1e6"), col("dim"))).cast("long"))
      .select("rank", "dim", "gini_x1e6")
      .orderBy("rank")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q200_ppjoin_pairs" -> q200_ppjoin_pairs,
    "q201_suggest_index" -> q201_suggest_index,
    "q202_gini_features" -> q202_gini_features
  )

  // ---------------------------------------------------------------- oracles

  import DataPrepQueries.{normToks, quantVec}

  val oracles: Map[String, String] = Map(
    "q200_ppjoin_pairs" ->
      s"""WITH dtk AS (SELECT doc_id, $normToks AS t FROM documents),
         |tk AS (SELECT doc_id, unnest(${DataPrepQueries.shinglesSql(DataPrepQueries.ShingleN)})
         |         AS token FROM dtk),
         |df AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tk GROUP BY token),
         |ord AS (SELECT tk.doc_id, tk.token, df.df,
         |               CAST(row_number() OVER (PARTITION BY tk.doc_id
         |                    ORDER BY df.df, tk.token) AS BIGINT) AS tok_rank
         |        FROM tk JOIN df USING (token)),
         |sz AS (SELECT doc_id, CAST(max(tok_rank) AS BIGINT) AS set_size
         |       FROM ord GROUP BY doc_id),
         |pre AS (SELECT ord.* FROM ord JOIN sz USING (doc_id)
         |        WHERE tok_rank <= set_size
         |              - (($PpTauX10k * set_size) + 9999) // 10000 + 1),
         |cp AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |       FROM pre a JOIN pre b ON a.token = b.token
         |                            AND a.doc_id < b.doc_id),
         |ar AS (SELECT doc_id, list(token) AS sh FROM tk GROUP BY doc_id),
         |it AS (SELECT cp.id_a, cp.id_b,
         |              CAST(len(list_intersect(x.sh, y.sh)) AS BIGINT) AS n_common
         |       FROM cp JOIN ar x ON x.doc_id = cp.id_a
         |               JOIN ar y ON y.doc_id = cp.id_b
         |       WHERE len(list_intersect(x.sh, y.sh)) > 0),
         |jc AS (SELECT it.id_a, it.id_b, it.n_common,
         |              CAST((10000 * it.n_common)
         |                // (sa.set_size + sb.set_size - it.n_common) AS BIGINT)
         |                AS jacc_x10k
         |       FROM it JOIN sz sa ON sa.doc_id = it.id_a
         |               JOIN sz sb ON sb.doc_id = it.id_b),
         |rk AS (SELECT *, CAST(row_number() OVER (ORDER BY jacc_x10k DESC, id_a, id_b)
         |         AS BIGINT) AS rank
         |       FROM jc WHERE jacc_x10k >= $PpTauX10k)
         |SELECT rank, id_a, id_b, n_common, jacc_x10k
         |FROM rk WHERE rank <= $PpTopK ORDER BY rank""".stripMargin,
    "q201_suggest_index" ->
      s"""WITH df AS (
         |  SELECT token, CAST(count(*) AS BIGINT) AS freq
         |  FROM (SELECT unnest($normToks) AS token FROM documents)
         |  GROUP BY token),
         |px AS (SELECT substr(token, 1, p) AS prefix, token, freq
         |       FROM df, unnest(generate_series(1,
         |              least(length(token), $SuggestMaxPrefix))) AS t(p)),
         |rk AS (SELECT prefix, token, freq,
         |              CAST(row_number() OVER (PARTITION BY prefix
         |                   ORDER BY freq DESC, token) AS BIGINT) AS rank
         |       FROM px)
         |SELECT prefix, rank, token, freq FROM rk
         |WHERE rank <= $SuggestK ORDER BY prefix, rank""".stripMargin,
    "q202_gini_features" ->
      s"""WITH cells AS (
         |  SELECT vec_id, CAST(label AS BIGINT) AS label,
         |         CAST(unnest(generate_series(1, len(qv))) - 1 AS BIGINT) AS dim,
         |         unnest(qv) AS v
         |  FROM (SELECT vec_id, label, $quantVec AS qv FROM embeddings)),
         |b AS (SELECT dim, label,
         |             CAST(ntile($GiniBins) OVER (PARTITION BY dim
         |                  ORDER BY v, vec_id) AS BIGINT) AS bin
         |      FROM cells),
         |bl AS (SELECT dim, bin, label, CAST(count(*) AS BIGINT) AS c
         |       FROM b GROUP BY dim, bin, label),
         |bn AS (SELECT dim, bin, CAST(sum(c) AS BIGINT) AS n_b,
         |              CAST(sum(c * c) AS BIGINT) AS purity
         |       FROM bl GROUP BY dim, bin),
         |g AS (SELECT dim, bin, n_b,
         |             1000000 - (1000000 * purity) // (n_b * n_b) AS gini_x1e6
         |      FROM bn),
         |d AS (SELECT dim, CAST(sum(n_b * gini_x1e6) // sum(n_b) AS BIGINT)
         |        AS gini_x1e6
         |      FROM g GROUP BY dim)
         |SELECT CAST(row_number() OVER (ORDER BY gini_x1e6, dim) AS BIGINT) AS rank,
         |       dim, gini_x1e6
         |FROM d ORDER BY rank""".stripMargin
  )
}
