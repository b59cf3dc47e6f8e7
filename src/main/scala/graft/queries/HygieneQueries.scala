package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._
import graft.ops.Relational

/** Round-4 wave-8 embedding/ensemble-health operators: per-label embedding
  * dispersion (mean squared distance from the centroid, exact integers),
  * rank-ensemble quality gating (Borda blend of two independent signals),
  * code-switching detection (dominant-language share), and the vector
  * hygiene audit (zero-norm / extreme-norm accounting with exact medians).
  *
  * Oracle conventions as the sibling modules: exact integers end-to-end,
  * identical aliases both sides, ORDER BY a unique key, non-negative
  * division operands (`div` == `//`).
  */
object HygieneQueries {

  /** Borda gate: keep the best half by summed rank. */
  val EnsembleKeepShare = 2L
  /** Code-switching: dominant language below this share of stopword hits
    * (and at least `MixMinHits` hits) reads as mixed-language. */
  val MixDomX10k = 7000L
  val MixMinHits = 4L

  /** X132 — per-label embedding dispersion: n·Σ‖x‖² − ‖Σx‖² over n² ×1000
    * on the quantized vectors — the exact mean squared distance from the
    * (un-materialized) centroid, the embedding-space diversity measure per
    * class/source (a collapsed label ships near-duplicate semantics no
    * text dedup can see; SemDeDup's cluster-collapse signal at the label
    * grain). Two partial-aggregated passes (whole-vector norms; per-dim
    * sums re-aggregated to ‖Σx‖²), both keyed by label — nothing
    * quadratic, nothing centroid-materialized. 64-bit headroom: n·Σ‖x‖²
    * needs n ≤ 1e5 per label at |v|≤1000·√64; beyond that decimal(38,0)
    * (documented, not needed at bench SF). */
  def q126_label_dispersion(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("label").cast("long").as("label"), quantize(col("embedding")).as("vq"))
    val norms = emb.select(col("label"), qdot(col("vq"), col("vq")).as("n2"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"), sum("n2").as("sum_norm2"))
    val dimSums = emb.select(col("label"), posexplode(col("vq")).as(Seq("dim", "v")))
      .groupBy("label", "dim").agg(sum("v").as("s"))
      // s² accumulates in DECIMAL(38,0): s is a per-dim sum of int8
      // components (≈ n·127), so Σ_dim s² ≈ dim·n²·1.6e4 — BIGINT dies
      // near 3e6 vectors per label (round-9 envelope audit); reported
      // column keeps its BIGINT contract
      .groupBy("label").agg(expr(
        "CAST(sum(CAST(s AS DECIMAL(38,0)) * s) AS BIGINT)").as("sumvec_norm2"))
    norms.join(dimSums, "label")
      .select(col("label"), col("n"), col("sum_norm2"), col("sumvec_norm2"),
        // DECIMAL(38,0): n·sum_norm2 ≈ n²·dim·127² — BIGINT dies near
        // n ≈ 1e5 vectors per label (round-9 envelope audit)
        expr("CAST((1000 * (CAST(n AS DECIMAL(38,0)) * sum_norm2 - sumvec_norm2)) div (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)").as("dispersion_x1k"))
      .orderBy("label")
  }

  /** X133 — rank-ensemble quality gate: Borda blend of two independent
    * quality signals (en-stopword fluency q13; frozen-classifier score
    * q97) — rank each signal best-first, keep the best half by rank sum —
    * the standard way to combine incommensurable scores without
    * calibrating either (ranks are scale-free; the blend needs no weights
    * to be deterministic). All three global ranks ride the two-phase
    * [[Relational.globalIndex]] — partition-parallel, no single-task
    * window at any corpus size. */
  def q127_rank_ensemble(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val fluency = docs.select(col("doc_id"),
      when(tokenCountWs(col("text")) > 0,
        floor(lit(10000L) * stopwordHits(col("text"), "en") / tokenCountWs(col("text"))))
        .otherwise(0L).cast("long").as("fluency_x10k"))
    val scored = docs.select("doc_id")
      .join(TrainPrepQueries.classifierScores(spark, dir)
        .select(col("doc_id"), col("score")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("score"), lit(0L)).as("cls_score"))
    // tracked: `both` is read by the first rank chain AND the n_docs
    // total — one tokenize/stopword pass, not two (round-7)
    val both = graft.ops.Materialize.checkpoint(fluency.join(scored, "doc_id"))
    // ONE range shuffle for the two independent signal ranks (round-8):
    // stack each doc twice — (sig=0, fluency) and (sig=1, cls) — and
    // global-index the stack ordered by (sig, value DESC, doc_id). Every
    // doc contributes exactly one row per signal, so signal s occupies
    // global positions (s·N, (s+1)·N] and rank-within-signal is just
    // __gidx − s·N — no per-signal offsets table, no second sort chain.
    // A doc_id-keyed pivot then reunites the two ranks per doc; the
    // blend rank still needs its own sort (it depends on both), so the
    // query runs two range shuffles total where round-7 ran three.
    val stacked = both.select(col("doc_id"), explode(array(
        struct(lit(0L).as("sig"), col("fluency_x10k").as("v")),
        struct(lit(1L).as("sig"), col("cls_score").as("v")))).as("sv"))
      .select(col("sv.sig").as("sig"), col("sv.v").as("v"), col("doc_id"))
    // n_docs rides out of the index's own offsets (globalIndexWithTotal,
    // round-9) — no separate count aggregate + broadcast per chain
    val idx = Relational.globalIndexWithTotal(stacked,
      Seq(col("sig"), col("v").desc, col("doc_id")), "__gidx", Some("__tot"))
      .withColumn("n_docs", expr("__tot div 2"))
      .withColumn("__srank", col("__gidx") - col("sig") * col("n_docs"))
    val r2 = idx.groupBy("doc_id")
      .agg(max(when(col("sig") === 0L, col("__srank"))).as("fluency_rank"),
        max(when(col("sig") === 1L, col("__srank"))).as("cls_rank"))
      .withColumn("rank_sum", col("fluency_rank") + col("cls_rank"))
      .join(both, "doc_id")
    Relational.globalIndexWithTotal(r2, Seq(col("rank_sum"), col("doc_id")),
        "blend_rank", Some("n_docs"))
      .withColumn("keep",
        (col("blend_rank") <= expr(s"n_docs div $EnsembleKeepShare")).cast("int"))
      .select("doc_id", "fluency_x10k", "cls_score", "fluency_rank", "cls_rank",
        "rank_sum", "blend_rank", "keep")
      .orderBy("doc_id")
  }

  /** X134 — code-switching / mixed-language detection: per document the
    * per-language stopword hits, the dominant language's share of all
    * hits ×10k, and the mixed flag (dominant below `MixDomX10k` with at
    * least `MixMinHits` hits) — the gate that catches documents a single
    * language-ID label mis-describes (concatenated crawl fragments,
    * boilerplate in one language wrapping content in another). Pure
    * codegen'd map pass — zero shuffles beyond the output sort. */
  def q128_code_switch(spark: SparkSession, dir: String): DataFrame = {
    val hits = Stopwords.map { case (l, _) =>
      s"s_$l" -> stopwordHits(col("text"), l).cast("long")
    }
    val total = hits.map(_._2).reduce(_ + _)
    val best = hits.map(_._2).reduce((a, b) => greatest(a, b))
    Tables.documents(spark, dir)
      .select(col("doc_id") +: hits.map { case (n, c) => c.as(n) }: _*)
      .withColumn("n_hits", Stopwords.map { case (l, _) => col(s"s_$l") }.reduce(_ + _))
      .withColumn("dom_share_x10k", expr(
        s"CASE WHEN n_hits = 0 THEN 0L ELSE (10000 * ${
          Stopwords.map { case (l, _) => s"s_$l" }.mkString("greatest(", ", ", ")")
        }) div n_hits END"))
      .withColumn("mixed",
        (col("n_hits") >= MixMinHits && col("dom_share_x10k") < MixDomX10k).cast("int"))
      .orderBy("doc_id")
  }

  /** X135 — vector hygiene audit: per label, the count, zero-norm count
    * (an all-zero embedding is a pipeline bug — a failed encode writes
    * zeros), min/lower-median/max of the quantized squared norm — the
    * sanity table read before trusting any similarity search over a new
    * embedding batch. Norm pass + one rank window PARTITIONED BY label
    * (parallel across labels at any scale); the median is the exact order
    * statistic at rank ⌈n/2⌉, integer end-to-end. */
  def q129_vector_hygiene(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(spark, dir)
      .select(col("label").cast("long").as("label"), col("vec_id"),
        qdot(quantize(col("embedding")), quantize(col("embedding"))).as("n2"))
    val ranked = base.withColumn("rk",
      row_number().over(Window.partitionBy("label").orderBy(col("n2"), col("vec_id"))))
    val meds = ranked.groupBy("label").agg(count(lit(1)).as("n"))
      .join(ranked.select(col("label"), col("rk"), col("n2").as("med_norm2")), "label")
      .filter(col("rk") === expr("(n + 1) div 2"))
      .select("label", "med_norm2")
    base.groupBy("label").agg(
        count(lit(1)).as("n"),
        sum((col("n2") === 0).cast("long")).as("n_zero"),
        min("n2").as("min_norm2"), max("n2").as("max_norm2"))
      .join(meds, "label")
      .select("label", "n", "n_zero", "min_norm2", "med_norm2", "max_norm2")
      .orderBy("label")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q126_label_dispersion" -> q126_label_dispersion,
    "q127_rank_ensemble" -> q127_rank_ensemble,
    "q128_code_switch" -> q128_code_switch,
    "q129_vector_hygiene" -> q129_vector_hygiene
  )

  // ---------------------------------------------------------------- oracles

  import AnalyticsQueries.normToks
  import DataPrepQueries.{hitsSql, toks}
  import TrainPrepQueries.clsChainSql

  val oracles: Map[String, String] = Map(
    "q126_label_dispersion" ->
      s"""WITH q AS (SELECT CAST(label AS BIGINT) AS label, $quantVecA AS vq
         |           FROM embeddings),
         |nm AS (SELECT label, CAST(count(*) AS BIGINT) AS n,
         |              CAST(sum(list_sum(list_transform(vq, x -> x * x))) AS BIGINT)
         |                AS sum_norm2
         |       FROM q GROUP BY label),
         |ds AS (SELECT label, i, CAST(sum(v) AS BIGINT) AS s
         |       FROM (SELECT label, unnest(generate_series(1, len(vq))) AS i,
         |                    unnest(vq) AS v
         |             FROM q)
         |       GROUP BY label, i),
         |sv AS (SELECT label, CAST(sum(s * s) AS BIGINT) AS sumvec_norm2
         |       FROM ds GROUP BY label)
         |SELECT nm.label, nm.n, nm.sum_norm2, sv.sumvec_norm2,
         |       CAST((1000 * (nm.n * nm.sum_norm2 - sv.sumvec_norm2))
         |            // (nm.n * nm.n) AS BIGINT) AS dispersion_x1k
         |FROM nm JOIN sv USING (label) ORDER BY label""".stripMargin,
    "q127_rank_ensemble" ->
      s"""WITH $clsChainSql,
         |fl AS (SELECT doc_id,
         |         CAST(CASE WHEN len($toks) > 0
         |              THEN floor(10000 * ${hitsSql("en")} / len($toks))
         |              ELSE 0 END AS BIGINT) AS fluency_x10k
         |       FROM documents),
         |b AS (SELECT fl.doc_id, fl.fluency_x10k,
         |             coalesce(sc.score, 0) AS cls_score
         |      FROM fl LEFT JOIN sc ON fl.doc_id = sc.doc_id),
         |r AS (SELECT *,
         |        CAST(row_number() OVER (ORDER BY fluency_x10k DESC, doc_id)
         |             AS BIGINT) AS fluency_rank,
         |        CAST(row_number() OVER (ORDER BY cls_score DESC, doc_id)
         |             AS BIGINT) AS cls_rank
         |      FROM b),
         |s AS (SELECT *, fluency_rank + cls_rank AS rank_sum,
         |        CAST(count(*) OVER () AS BIGINT) AS n_docs
         |      FROM r),
         |f AS (SELECT *,
         |        CAST(row_number() OVER (ORDER BY rank_sum, doc_id) AS BIGINT)
         |          AS blend_rank
         |      FROM s)
         |SELECT doc_id, fluency_x10k, CAST(cls_score AS BIGINT) AS cls_score,
         |       fluency_rank, cls_rank, CAST(rank_sum AS BIGINT) AS rank_sum,
         |       blend_rank,
         |       CAST(CASE WHEN blend_rank <= n_docs // $EnsembleKeepShare
         |            THEN 1 ELSE 0 END AS INT) AS keep
         |FROM f ORDER BY doc_id""".stripMargin,
    "q128_code_switch" ->
      s"""WITH h AS (SELECT doc_id,
         |       ${graft.functions.TextFunctions.Stopwords.map { case (l, _) =>
        s"CAST(${hitsSql(l)} AS BIGINT) AS s_$l"
      }.mkString(",\n       ")}
         |FROM documents),
         |t AS (SELECT *,
         |        ${graft.functions.TextFunctions.Stopwords.map { case (l, _) => s"s_$l" }
        .mkString(" + ")} AS n_hits,
         |        ${graft.functions.TextFunctions.Stopwords.map { case (l, _) => s"s_$l" }
        .mkString("greatest(", ", ", ")")} AS best
         |      FROM h)
         |SELECT doc_id,
         |       ${graft.functions.TextFunctions.Stopwords.map { case (l, _) => s"s_$l" }
        .mkString(", ")},
         |       CAST(n_hits AS BIGINT) AS n_hits,
         |       CAST(CASE WHEN n_hits = 0 THEN 0
         |            ELSE (10000 * best) // n_hits END AS BIGINT) AS dom_share_x10k,
         |       CAST(CASE WHEN n_hits >= $MixMinHits
         |                 AND (CASE WHEN n_hits = 0 THEN 0
         |                      ELSE (10000 * best) // n_hits END) < $MixDomX10k
         |            THEN 1 ELSE 0 END AS INT) AS mixed
         |FROM t ORDER BY doc_id""".stripMargin,
    "q129_vector_hygiene" ->
      s"""WITH q AS (SELECT CAST(label AS BIGINT) AS label, vec_id,
         |             CAST(list_sum(list_transform($quantVecA, x -> x * x)) AS BIGINT)
         |               AS n2
         |           FROM embeddings),
         |r AS (SELECT *, row_number() OVER (PARTITION BY label ORDER BY n2, vec_id)
         |               AS rk,
         |             count(*) OVER (PARTITION BY label) AS n
         |      FROM q),
         |m AS (SELECT label, n2 AS med_norm2 FROM r WHERE rk = (n + 1) // 2)
         |SELECT q.label, CAST(count(*) AS BIGINT) AS n,
         |       CAST(sum(CASE WHEN q.n2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
         |       CAST(min(q.n2) AS BIGINT) AS min_norm2,
         |       CAST(max(m.med_norm2) AS BIGINT) AS med_norm2,
         |       CAST(max(q.n2) AS BIGINT) AS max_norm2
         |FROM q JOIN m ON q.label = m.label
         |GROUP BY q.label ORDER BY q.label""".stripMargin
  )

  private def quantVecA: String = AnalyticsQueries.quantVec
}
