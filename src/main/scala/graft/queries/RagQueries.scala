package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._

/** Round-5 wave-25 capstone: the full RAG retrieval data path as ONE
  * lazy Spark plan — hybrid lexical+vector retrieval, rank fusion,
  * diversity rerank, and context-window packing. Each stage is an
  * operator the board already verifies in isolation (q142 BM25, q20
  * ANN, q181 RRF, q191 MMR, q34 packing); this query is the proof they
  * COMPOSE — what a user of the engine actually runs between a query
  * and a prompt.
  *
  * Oracle conventions as the sibling modules: exact integers
  * end-to-end, identical aliases both sides, ORDER BY a unique key.
  */
object RagQueries {

  /** Per-arm depth, fused pool, final picks, token budget. */
  val RagDepth = 30
  val RagCand = 20
  val RagK = 10
  val RagBudget = 2000L
  private val KeyMul = 1000000000L

  /** X219 — RAG context assembly: (1) lexical arm = q142's BM25 top
    * [[RagDepth]] over the probe terms; (2) vector arm = top
    * [[RagDepth]] by integer dot against the label-0 centroid (the
    * "query embedding"); (3) reciprocal-rank fusion of the two arms
    * (q181's rank-only algebra — the arms' scores are incomparable by
    * construction); (4) MMR diversity rerank of the fused pool
    * ([[RagCand]] candidates → [[RagK]] picks, q191's nested in-plan
    * greedy fold over the packed candidate array + pairwise-dot map);
    * (5) context packing: running token total in pick order, rows
    * flagged `in_context` while it fits [[RagBudget]] (q34's budget
    * discipline on the reranked order). The document and embedding id
    * spaces coincide (`doc_id ≡ vec_id`, the cross-modal contract q30
    * already verifies), which is what lets the arms fuse.
    *
    * Scale: each arm is a corpus-wide bounded TakeOrdered (probe-term
    * filtered / broadcast-centroid scored); everything downstream —
    * fusion, pairwise dots, the greedy fold, packing — runs on ≤
    * [[RagCand]]² rows inside the plan. The whole path is ONE lazy
    * DataFrame: Catalyst sees it end-to-end, and nothing touches the
    * driver. */
  def q199_rag_context(spark: SparkSession, dir: String): DataFrame = {
    def ranked(scored: DataFrame, scoreCol: String, rankName: String): DataFrame = {
      val top = scored.orderBy(col(scoreCol).desc, col("doc_id")).limit(RagDepth)
      top.withColumn(rankName,
          row_number().over(Window.orderBy(col(scoreCol).desc, col("doc_id")))
            .cast("long"))
        .select(col("doc_id"), col(rankName))
    }
    val bm = ranked(SearchQueries.bm25Scored(spark, dir), "score", "bm25_rank")
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("doc_id"), quantize(col("embedding")).as("qv"),
        col("label").cast("long").as("label"))
    val qvec = emb.filter(col("label") === 0L)
      .select(posexplode(col("qv")).as(Seq("dim", "v")))
      .groupBy("dim").agg(sum("v").as("s"), count(lit(1)).as("n"))
      .withColumn("cd", expr("(1000 * s) div n"))
      .agg(transform(sort_array(collect_list(struct(col("dim"), col("cd")))),
        x => x.getField("cd")).as("qarr"))
    val ann = ranked(
      emb.crossJoin(broadcast(qvec))
        .select(col("doc_id"), qdot(col("qv"), col("qarr")).as("vrel")),
      "vrel", "ann_rank")
    // tracked: the fused pool (≤ RagCand rows) feeds the candidate
    // arrays, the pairwise sim map AND the final rank join — without the
    // cache all four consumers re-run BOTH retrieval arms (round-7: the
    // pinned bm25 core stopped exchange reuse from deduping the copies)
    val fused = graft.ops.Materialize.checkpoint(bm.join(ann, Seq("doc_id"), "full")
      .withColumn("rrf_x1e6",
        coalesce(expr("1000000 div (60 + bm25_rank)"), lit(0L)) +
          coalesce(expr("1000000 div (60 + ann_rank)"), lit(0L)))
      .orderBy(col("rrf_x1e6").desc, col("doc_id")).limit(RagCand))
    val cand = fused.join(emb.select("doc_id", "qv"), "doc_id")
    val packed = cand
      .agg(sort_array(collect_list(struct((-col("rrf_x1e6")).as("nr"),
        col("doc_id").as("id"), col("rrf_x1e6").as("rel")))).as("cands"))
    val simMap = cand.toDF("a", "ba", "aa", "ra", "qa")
      .crossJoin(cand.toDF("b", "bb", "ab", "rb", "qb"))
      .filter(col("a") =!= col("b"))
      .select(expr(s"a * $KeyMul + b").as("k"), qdot(col("qa"), col("qb")).as("dot"))
      .agg(map_from_entries(collect_list(struct(col("k"), col("dot")))).as("m"))
    val picks = packed.crossJoin(simMap)
      .withColumn("picked", expr(
        s"""aggregate(sequence(1, $RagK),
           |  CAST(array() AS ARRAY<STRUCT<score: BIGINT, nid: BIGINT>>),
           |  (acc, step) -> concat(acc, array(
           |    array_max(transform(
           |      filter(cands, c -> NOT exists(acc, p -> -p.nid = c.id)),
           |      c -> named_struct(
           |        'score',
           |        (700 * c.rel) div 1000 -
           |          (300 * coalesce(
           |             array_max(transform(acc,
           |               p -> element_at(m, c.id * $KeyMul + (-p.nid)))),
           |             CAST(0 AS BIGINT))) div 1000,
           |        'nid', -c.id)))))
           |)""".stripMargin))
      .select(posexplode(col("picked")).as(Seq("pos", "p")))
      .select((col("pos") + 1).cast("long").as("rank"),
        (-col("p.nid")).as("doc_id"), col("p.score").as("mmr_score"))
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(wsTokens(normalizeText(col("text")))).cast("long").as("n_tokens"))
    picks.join(fused.select("doc_id", "rrf_x1e6"), "doc_id")
      .join(toks, "doc_id")
      // RagK rows: the packing window is pick-order-bounded, never corpus-wide
      .withColumn("cum_tokens", sum("n_tokens").over(
        Window.orderBy("rank").rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("in_context", (col("cum_tokens") <= RagBudget).cast("int"))
      .select("rank", "doc_id", "rrf_x1e6", "mmr_score", "n_tokens",
        "cum_tokens", "in_context")
      .orderBy("rank")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q199_rag_context" -> q199_rag_context
  )

  // ---------------------------------------------------------------- oracles

  import DataPrepQueries.{normToks, quantVec}

  val oracles: Map[String, String] = Map(
    "q199_rag_context" -> {
      def stage(i: Int): String =
        s"""g$i AS (
           |  SELECT prev.picked || [c.doc_id] AS picked, c.doc_id AS pick_id,
           |         (700 * c.rel) // 1000 -
           |           (300 * coalesce((SELECT max(s2.dot) FROM sims s2
           |              WHERE s2.a = c.doc_id AND list_contains(prev.picked, s2.b)), 0)) // 1000
           |           AS pick_score
           |  FROM g${i - 1} prev, cand c
           |  WHERE NOT list_contains(prev.picked, c.doc_id)
           |  ORDER BY pick_score DESC, c.doc_id LIMIT 1)""".stripMargin
      val stages = (1 to RagK).map(stage).mkString(",\n")
      val union = (1 to RagK)
        .map(i => s"SELECT CAST($i AS BIGINT) AS rank, pick_id AS doc_id, CAST(pick_score AS BIGINT) AS mmr_score FROM g$i")
        .mkString("\nUNION ALL\n")
      s"""WITH ${SearchQueries.bm25ChainSql},
         |bmr AS (SELECT doc_id, rank AS bm25_rank FROM top WHERE rank <= $RagDepth),
         |ev AS (SELECT vec_id AS doc_id, $quantVec AS qv,
         |              CAST(label AS BIGINT) AS label FROM embeddings),
         |qc AS (
         |  SELECT dim, CAST((1000 * sum(x)) // count(*) AS BIGINT) AS cd
         |  FROM (SELECT unnest(generate_series(1, len(qv))) AS dim, unnest(qv) AS x
         |        FROM ev WHERE label = 0)
         |  GROUP BY dim),
         |qa AS (SELECT list(cd ORDER BY dim) AS qarr FROM qc),
         |vr AS (
         |  SELECT ev.doc_id,
         |         CAST(list_sum(list_transform(generate_series(1, len(ev.qv)),
         |              i -> ev.qv[i] * qa.qarr[i])) AS BIGINT) AS vrel
         |  FROM ev CROSS JOIN qa),
         |anr AS (SELECT doc_id, CAST(row_number() OVER
         |          (ORDER BY vrel DESC, doc_id) AS BIGINT) AS ann_rank
         |        FROM vr QUALIFY ann_rank <= $RagDepth),
         |fu AS (SELECT coalesce(bmr.doc_id, anr.doc_id) AS doc_id,
         |              CAST(coalesce(1000000 // (60 + bmr.bm25_rank), 0)
         |                 + coalesce(1000000 // (60 + anr.ann_rank), 0) AS BIGINT)
         |                AS rrf_x1e6
         |       FROM bmr FULL JOIN anr ON anr.doc_id = bmr.doc_id),
         |fused AS (SELECT doc_id, rrf_x1e6 FROM fu
         |          ORDER BY rrf_x1e6 DESC, doc_id LIMIT $RagCand),
         |cand AS (SELECT f.doc_id, f.rrf_x1e6 AS rel, ev.qv
         |         FROM fused f JOIN ev ON ev.doc_id = f.doc_id),
         |sims AS (
         |  SELECT a.doc_id AS a, b.doc_id AS b,
         |         CAST(list_sum(list_transform(generate_series(1, len(a.qv)),
         |              i -> a.qv[i] * b.qv[i])) AS BIGINT) AS dot
         |  FROM cand a JOIN cand b ON a.doc_id <> b.doc_id),
         |g0 AS (SELECT CAST([] AS BIGINT[]) AS picked),
         |$stages,
         |u AS (
         |$union),
         |dtok AS (SELECT doc_id, CAST(len($normToks) AS BIGINT) AS n_tokens
         |         FROM documents)
         |SELECT u.rank, u.doc_id, f.rrf_x1e6, u.mmr_score, dtok.n_tokens,
         |       CAST(sum(dtok.n_tokens) OVER (ORDER BY u.rank
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |         AS cum_tokens,
         |       CAST(sum(dtok.n_tokens) OVER (ORDER BY u.rank
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |            <= $RagBudget AS INT) AS in_context
         |FROM u JOIN fused f ON f.doc_id = u.doc_id
         |       JOIN dtok ON dtok.doc_id = u.doc_id
         |ORDER BY u.rank""".stripMargin
    }
  )
}
