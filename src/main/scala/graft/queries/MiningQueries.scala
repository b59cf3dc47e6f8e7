package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._
import graft.ops.{Dedup, Relational}

/** Round-4 wave-5 corpus-mining operators: collocation mining (integer
  * lift, the PMI twin), cross-source shingle-overlap matrix, curriculum
  * staging under a token budget, near-duplicate flow attribution between
  * sources, per-dimension embedding variance ranking, and sliding-window
  * co-occurrence counts (the GloVe/word2vec input matrix).
  *
  * Oracle conventions as the sibling modules: exact integers end-to-end
  * (`div` with non-negative operands == DuckDB `//`), md5 as the only
  * cross-engine hash, identical aliases both sides, ORDER BY a unique key.
  */
object MiningQueries {

  /** Collocation floor: bigrams seen fewer times carry no signal. */
  val CollocMinPair = 5L
  /** Source-overlap shingle width (8-gram = the ExactSubstr unit). */
  val OverlapN = 8
  /** Curriculum stage count. */
  val Stages = 5L
  /** Co-occurrence window half-width (tokens to the right). */
  val CoocWindow = 3
  /** Co-occurrence count floor. */
  val CoocMinPair = 5L

  private def toksOf(c: Column): Column = wsTokens(normalizeText(c))

  /** Adjacent-pair structs (t[i], t[i+d]) for a fixed gap `d` — built with
    * two slices + zip_with so each token array is evaluated once per row
    * (no per-element element_at re-evaluation), guarded to the empty array
    * when the doc is shorter than the gap. */
  private[queries] def gapPairs(t: Column, d: Int): Column =
    when(size(t) <= d, array().cast("array<struct<a:string,b:string>>"))
      .otherwise(zip_with(
        slice(t, lit(1), size(t) - d),
        slice(t, lit(d + 1), size(t) - d),
        (x, y) => struct(x.as("a"), y.as("b"))))

  /** X116 — collocation mining via integer lift (the PMI twin without the
    * log: lift = P(xy)/(P(x)P(y)) ×1000, monotone with PMI, so ranking and
    * thresholding agree while staying integer-exact). One token pass feeds
    * BOTH the vocabulary-sized unigram table and the bigram table; the
    * final shape is two vocabulary-keyed equijoins plus a 1-row broadcast
    * total — nothing but the token pass scales with the corpus. 64-bit
    * headroom: c_xy·N ≤ N² needs N ≤ 3e9 tokens ×1000; beyond that swap
    * the product to decimal(38,0) (documented, not needed at bench SF). */
  def q111_collocations(spark: SparkSession, dir: String): DataFrame = {
    // tracked (round-9 A/B on the q227 twin: 1.69 s uncached vs 1.03 s
    // cached, min of 3 at sf0.1): the unigram and bigram consumers need
    // DIFFERENT exchanges, so ReuseExchange cannot share the tokenize —
    // and the recomputed subtree is the expensive normalize regex. This
    // is the criterion that separates the winning caches from the five
    // reverted ones (identical-exchange consumers).
    // spread before the cache (round 11): a single-split corpus caches as
    // ONE partition, so every consumer of tk ran 1-task (~200 ms each,
    // serial); round-robin first makes the cached layout 32-way — no-op
    // on real multi-split corpora
    val tk = graft.ops.Materialize.checkpoint(graft.ops.Dedup.spread(
        Tables.documents(spark, dir).select(col("text")))
      .select(toksOf(col("text")).as("t")))
    val uni = tk.select(explode(col("t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val tot = uni.agg(sum("c").as("n_total"))
    val bg = tk.select(explode(gapPairs(col("t"), 1)).as("p"))
      .select(col("p.a").as("w1"), col("p.b").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= CollocMinPair)
    bg.join(uni.select(col("w").as("w1"), col("c").as("c_x")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c_y")), "w2")
      .crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"), col("c_xy"), col("c_x"), col("c_y"),
        // DECIMAL(38,0): c_xy·n_total overflows BIGINT once pair and
        // token counts both pass ~3e9 (round-9 envelope audit)
        expr("CAST((1000 * CAST(c_xy AS DECIMAL(38,0)) * n_total) div (c_x * c_y) AS BIGINT)").as("lift_x1k"))
      .orderBy("w1", "w2")
  }

  /** X117 — cross-source shingle-overlap matrix: exact Jaccard between
    * every source pair over distinct `OverlapN`-gram sets — the
    * corpus-level contamination/redundancy map a mixture planner reads
    * before weighting sources. Scale shape: the gram equijoin fans out at
    * most (#sources choose 2) rows per gram because the input is DISTINCT
    * (source, gram) — bounded by source-count², never corpus²; per-source
    * set sizes and the pair frame are |sources|-sized broadcasts. */
  def q112_source_overlap(spark: SparkSession, dir: String): DataFrame = {
    // NOT cached (round-9, reversing the round-8 cache): A/B at sf0.1,
    // min of 3 — cached 2.61 s vs uncached 1.65 s. Materializing ~3e5
    // 8-gram STRINGS into the block store costs more than the second
    // codegen'd pass recomputing them, and ReuseExchange already dedups
    // the self-join sides (the r8 two-FileScan reading was the SIZES
    // branch, whose recompute is the cheap scan+explode, not the join).
    // At 100 TB the equivalent is a staged DISTINCT gram table on disk,
    // not an executor-memory cache — same conclusion.
    // spread (round 11): the tokenize+shingle walk runs in the SCAN stage,
    // and a single-split local corpus serialized all of it on one task
    // (JobProfile: one 1-task 2.1 s stage = the whole query cost); the
    // round-robin exchange is a no-op on real multi-split corpora.
    val sg = graft.ops.Dedup.spread(Tables.documents(spark, dir)
        .select(col("source"), col("text")))
      .withColumn("t", toksOf(col("text")))
      .select(col("source"), explode(shinglesFromTokens(col("t"), OverlapN)).as("gram"))
      .distinct()
    val sizes = sg.groupBy("source").agg(count(lit(1)).as("sz"))
    val inter = sg.select(col("source").as("src_a"), col("gram"))
      .join(sg.select(col("source").as("src_b"), col("gram")), "gram")
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_common"))
    val pairs = sizes.select(col("source").as("src_a"), col("sz").as("size_a"))
      .crossJoin(broadcast(sizes.select(col("source").as("src_b"), col("sz").as("size_b"))))
      .filter(col("src_a") < col("src_b"))
    pairs.join(inter, Seq("src_a", "src_b"), "left")
      .withColumn("n_common", coalesce(col("n_common"), lit(0L)))
      .withColumn("jaccard_x10k",
        expr("(10000 * n_common) div (size_a + size_b - n_common)"))
      .orderBy("src_a", "src_b")
  }

  /** X118 — curriculum staging: order the corpus easy→hard (fluency proxy:
    * en-stopword density ×10k, the CCNet-style signal q13 already pins;
    * ties → doc_id) and cut it into `Stages` equal-token stages —
    * stage s = the docs whose cumulative token budget lands in
    * [s·T/Stages, (s+1)·T/Stages). The running total is
    * [[Relational.globalCumSum]] — two-phase, partition-parallel, no
    * single-task window at any corpus size. */
  def q113_curriculum(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir).select(
      col("doc_id"),
      size(toksOf(col("text"))).cast("long").as("n_tokens"),
      when(tokenCountWs(col("text")) > 0,
        floor(lit(10000L) * stopwordHits(col("text"), "en") / tokenCountWs(col("text"))))
        .otherwise(0L).cast("long").as("ease_x10k"))
    val cum = Relational.globalCumSum(base,
      Seq(col("ease_x10k").desc, col("doc_id")), col("n_tokens"), "cum_tokens")
    val tot = base.agg(sum("n_tokens").as("tok_total"))
    cum.crossJoin(broadcast(tot))
      .select(col("doc_id"), col("n_tokens"), col("ease_x10k"), col("cum_tokens"),
        least(lit(Stages - 1L),
          expr(s"($Stages * (cum_tokens - n_tokens)) div tok_total")).as("stage"))
      .orderBy("doc_id")
  }

  /** X119 — near-duplicate flow between sources: q16's exact-Jaccard pair
    * set ([[Dedup.jaccardPairs]], same constants) attributed to the
    * source pair it connects — which feeds copy which, and how many
    * duplicated tokens each edge carries (the higher-id doc's tokens, the
    * copy a dedup pass would drop). The attribution is two joins against
    * the (doc_id, source, n_tokens) projection and a |sources|²-bounded
    * aggregate on top of the already-bounded pair set. */
  def q114_neardup_flow(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val meta = docs.select(col("doc_id"),
      col("source"), size(toksOf(col("text"))).cast("long").as("ntok"))
    val pairs = Dedup.jaccardPairsPinned(spark, dir,
      n = DataPrepQueries.ShingleN,
      minJaccardX10k = DataPrepQueries.JaccardMinX10k,
      maxDf = DataPrepQueries.JaccardMaxDf)
    pairs
      .join(meta.select(col("doc_id").as("id_a"), col("source").as("source_a")), "id_a")
      .join(meta.select(col("doc_id").as("id_b"), col("source").as("source_b"),
        col("ntok").as("ntok_b")), "id_b")
      .groupBy(least(col("source_a"), col("source_b")).as("src_a"),
        greatest(col("source_a"), col("source_b")).as("src_b"))
      .agg(count(lit(1)).as("n_pairs"), sum("ntok_b").as("dup_tokens"))
      .orderBy("src_a", "src_b")
  }

  /** X120 — per-dimension embedding variance ranking over the quantized
    * vectors: n·Σv² − (Σv)² over n² ×1000 per dimension — the integer-exact
    * population variance, the whitening/feature-selection pre-pass (a
    * dimension with near-zero variance carries no retrieval signal; the
    * top-variance dims are the ones a PCA/whitening step would keep).
    * One narrow posexplode pass and a |dims|-row aggregate; the rank
    * window runs over |dims| rows (pmod partition key — see globalIndex —
    * keeps the non-foldable constant spec). 64-bit headroom: n·Σv² needs
    * n ≤ 3e6 vectors at |v|≤1000; beyond that shift to per-dim mean-centred
    * accumulators or decimal(38,0) (documented, not needed at bench SF). */
  def q115_dim_variance(spark: SparkSession, dir: String): DataFrame = {
    val agg = Tables.embeddings(spark, dir)
      .select(posexplode(quantize(col("embedding"))).as(Seq("dim", "v")))
      .groupBy(col("dim").cast("long").as("dim"))
      .agg(count(lit(1)).as("n"), sum("v").as("sum_q"),
        sum(col("v") * col("v")).as("sumsq_q"))
      .withColumn("var_x1k",
        // DECIMAL(38,0): n·sumsq_q ≈ n²·(max q)² — BIGINT dies near
        // n ≈ 1e5 rows per group (round-9 envelope audit)
        expr("CAST((1000 * (CAST(n AS DECIMAL(38,0)) * sumsq_q - CAST(sum_q AS DECIMAL(38,0)) * sum_q)) div (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)"))
    agg.withColumn("var_rank",
        row_number().over(Window.partitionBy(pmod(col("dim"), lit(1)))
          .orderBy(col("var_x1k").desc, col("dim"))).cast("long"))
      .select("dim", "n", "sum_q", "sumsq_q", "var_x1k", "var_rank")
      .orderBy("dim")
  }

  /** X121 — sliding-window co-occurrence counts: unordered token pairs
    * within `CoocWindow` positions (the word2vec/GloVe co-occurrence
    * matrix input, count floor `CoocMinPair`). The window is unrolled into
    * `CoocWindow` slice+zip_with passes concatenated per row — a bounded
    * ×W explode, one shuffle on the (w1, w2) key, never a positions
    * self-join. */
  def q116_cooc_windows(spark: SparkSession, dir: String): DataFrame = {
    val tk = Tables.documents(spark, dir).select(toksOf(col("text")).as("t"))
    val allPairs = concat((1 to CoocWindow).map(d => gapPairs(col("t"), d)): _*)
    tk.select(explode(allPairs).as("p"))
      .select(least(col("p.a"), col("p.b")).as("w1"),
        greatest(col("p.a"), col("p.b")).as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("n_cooc"))
      .filter(col("n_cooc") >= CoocMinPair)
      .orderBy("w1", "w2")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q111_collocations" -> q111_collocations,
    "q112_source_overlap" -> q112_source_overlap,
    "q113_curriculum" -> q113_curriculum,
    "q114_neardup_flow" -> q114_neardup_flow,
    "q115_dim_variance" -> q115_dim_variance,
    "q116_cooc_windows" -> q116_cooc_windows
  )

  // ---------------------------------------------------------------- oracles

  import AnalyticsQueries.{normToks, quantVec}
  import DataPrepQueries.{hitsSql, shingleCte, shinglesSql}

  /** Bigram/gap-pair rows (w1 = t[s], w2 = t[s+d]) for the token-list CTE
    * `d (…, t)`. */
  private[queries] def gapSql(d: Int): String =
    s"""SELECT t[s] AS a, t[s + $d] AS b
       |FROM (SELECT t, unnest(CASE WHEN len(t) - $d <= 0 THEN []
       |              ELSE generate_series(1, len(t) - $d) END) AS s FROM d)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q111_collocations" ->
      s"""WITH d AS (SELECT $normToks AS t FROM documents),
         |u AS (SELECT unnest(t) AS w FROM d),
         |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM u GROUP BY w),
         |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM uni),
         |bg AS (SELECT a AS w1, b AS w2, CAST(count(*) AS BIGINT) AS c_xy
         |       FROM (${gapSql(1)}) GROUP BY a, b
         |       HAVING count(*) >= $CollocMinPair)
         |SELECT bg.w1, bg.w2, bg.c_xy, ux.c AS c_x, uy.c AS c_y,
         |       CAST((1000 * bg.c_xy * tot.n_total) // (ux.c * uy.c) AS BIGINT)
         |         AS lift_x1k
         |FROM bg JOIN uni ux ON bg.w1 = ux.w
         |        JOIN uni uy ON bg.w2 = uy.w, tot
         |ORDER BY w1, w2""".stripMargin,
    "q112_source_overlap" ->
      s"""WITH d0 AS (SELECT source, $normToks AS t FROM documents),
         |sg AS (SELECT DISTINCT source, gram
         |       FROM (SELECT source, unnest((SELECT ${shinglesSql(OverlapN)})) AS gram
         |             FROM d0)),
         |sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS sz FROM sg GROUP BY source),
         |inter AS (SELECT a.source AS src_a, b.source AS src_b,
         |                 CAST(count(*) AS BIGINT) AS n_common
         |          FROM sg a JOIN sg b ON a.gram = b.gram AND a.source < b.source
         |          GROUP BY a.source, b.source)
         |SELECT x.source AS src_a, y.source AS src_b,
         |       coalesce(i.n_common, 0) AS n_common,
         |       x.sz AS size_a, y.sz AS size_b,
         |       CAST((10000 * coalesce(i.n_common, 0))
         |            // (x.sz + y.sz - coalesce(i.n_common, 0)) AS BIGINT)
         |         AS jaccard_x10k
         |FROM sizes x JOIN sizes y ON x.source < y.source
         |LEFT JOIN inter i ON i.src_a = x.source AND i.src_b = y.source
         |ORDER BY src_a, src_b""".stripMargin,
    "q113_curriculum" ->
      s"""WITH q AS (SELECT doc_id, CAST(len($normToks) AS BIGINT) AS n_tokens,
         |             CAST(CASE WHEN len($normToks) > 0
         |                  THEN floor(10000 * ${hitsSql("en")} / len($normToks))
         |                  ELSE 0 END AS BIGINT) AS ease_x10k
         |           FROM documents),
         |c AS (SELECT *,
         |        CAST(sum(n_tokens) OVER (ORDER BY ease_x10k DESC, doc_id
         |               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
         |        CAST(sum(n_tokens) OVER () AS BIGINT) AS tok_total
         |      FROM q)
         |SELECT doc_id, n_tokens, ease_x10k, cum_tokens,
         |       CAST(least(${Stages - 1},
         |            ($Stages * (cum_tokens - n_tokens)) // tok_total) AS BIGINT)
         |         AS stage
         |FROM c ORDER BY doc_id""".stripMargin,
    "q114_neardup_flow" ->
      s"""WITH $shingleCte,
         |sizes AS (SELECT id, count(*) AS set_size FROM sh GROUP BY id),
         |capped AS (
         |  SELECT sh.* FROM sh
         |  JOIN (SELECT shingle FROM sh GROUP BY shingle
         |        HAVING count(*) <= ${DataPrepQueries.JaccardMaxDf}) ok
         |    USING (shingle)),
         |inter AS (
         |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
         |  FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.id < b.id
         |  GROUP BY a.id, b.id),
         |pr AS (
         |  SELECT i.id_a, i.id_b
         |  FROM inter i
         |  JOIN sizes sa ON sa.id = i.id_a
         |  JOIN sizes sb ON sb.id = i.id_b
         |  WHERE floor(10000 * i.n_common / (sa.set_size + sb.set_size - i.n_common))
         |        >= ${DataPrepQueries.JaccardMinX10k}),
         |meta AS (SELECT doc_id, source, CAST(len($normToks) AS BIGINT) AS ntok
         |         FROM documents)
         |SELECT least(ma.source, mb.source) AS src_a,
         |       greatest(ma.source, mb.source) AS src_b,
         |       CAST(count(*) AS BIGINT) AS n_pairs,
         |       CAST(sum(mb.ntok) AS BIGINT) AS dup_tokens
         |FROM pr JOIN meta ma ON pr.id_a = ma.doc_id
         |        JOIN meta mb ON pr.id_b = mb.doc_id
         |GROUP BY least(ma.source, mb.source), greatest(ma.source, mb.source)
         |ORDER BY src_a, src_b""".stripMargin,
    "q115_dim_variance" ->
      s"""WITH q AS (SELECT $quantVec AS vq FROM embeddings),
         |e AS (SELECT unnest(generate_series(1, len(vq))) - 1 AS dim,
         |             unnest(vq) AS v
         |      FROM q),
         |a AS (SELECT CAST(dim AS BIGINT) AS dim, CAST(count(*) AS BIGINT) AS n,
         |             CAST(sum(v) AS BIGINT) AS sum_q,
         |             CAST(sum(v * v) AS BIGINT) AS sumsq_q
         |      FROM e GROUP BY dim),
         |v AS (SELECT *, CAST((1000 * (n * sumsq_q - sum_q * sum_q)) // (n * n)
         |             AS BIGINT) AS var_x1k FROM a)
         |SELECT dim, n, sum_q, sumsq_q, var_x1k,
         |       CAST(row_number() OVER (ORDER BY var_x1k DESC, dim) AS BIGINT)
         |         AS var_rank
         |FROM v ORDER BY dim""".stripMargin,
    "q116_cooc_windows" ->
      s"""WITH d AS (SELECT $normToks AS t FROM documents),
         |p AS (${(1 to CoocWindow).map(gapSql).mkString("\n      UNION ALL\n      ")})
         |SELECT least(a, b) AS w1, greatest(a, b) AS w2,
         |       CAST(count(*) AS BIGINT) AS n_cooc
         |FROM p GROUP BY least(a, b), greatest(a, b)
         |HAVING count(*) >= $CoocMinPair
         |ORDER BY w1, w2""".stripMargin
  )
}
