package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._

/** Round-5 wave-22 retrieval operators: positional phrase search (the
  * posting-intersection primitive under every "exact phrase" box),
  * MMR-diversified top-k (the redundancy-aware reranker between
  * retrieval and a RAG context window), and Bloom-prefiltered eval
  * decontamination (the broadcast-bitset screen that keeps a 100 TB
  * train corpus from shuffling against the eval set).
  *
  * Oracle conventions as the sibling modules: exact integers
  * end-to-end, identical aliases both sides, ORDER BY a unique key.
  */
object RetrievalQueries {

  /** Probe phrase (consecutive normalized tokens) and report depth. */
  val Phrase: Seq[String] = Seq("table", "hash")
  val PhraseK = 20

  /** X208 — positional phrase search: documents containing the exact
    * consecutive token sequence [[Phrase]], ranked by occurrence count.
    * The token pass keeps ONLY the phrase's terms (inverted-posting
    * discipline — the corpus-wide explode feeds a term filter before
    * any shuffle), then one equijoin per additional phrase term aligns
    * positions (`pos_i = pos_0 + i` — the classic positional-postings
    * intersection); hit counting and the final cut ride the q142
    * TakeOrderedAndProject shape. At index scale each join is
    * postings-sized (df of the term), never corpus-sized.
    */
  def q190_phrase_search(spark: SparkSession, dir: String): DataFrame = {
    val postings = graft.ops.Dedup.spread(Tables.documents(spark, dir))
      .select(col("doc_id"),
        posexplode(wsTokens(normalizeText(col("text")))).as(Seq("pos", "token")))
      .filter(col("token").isin(Phrase.distinct: _*))
    var hits = postings.filter(col("token") === Phrase.head)
      .select(col("doc_id"), col("pos"))
    for (i <- 1 until Phrase.length)
      hits = hits.join(
        postings.filter(col("token") === Phrase(i))
          .select(col("doc_id"), (col("pos") - i).as("pos")),
        Seq("doc_id", "pos"))
    val counts = hits.groupBy("doc_id").agg(count(lit(1)).cast("long").as("n_hits"))
    val top = counts.orderBy(col("n_hits").desc, col("doc_id")).limit(PhraseK)
    top.withColumn("rank",
        row_number().over(Window.orderBy(col("n_hits").desc, col("doc_id")))
          .cast("long"))
      .select("rank", "doc_id", "n_hits")
      .orderBy("rank")
  }

  /** MMR candidate pool, picks, and λ ×1000 split (relevance 0.7 /
    * diversity 0.3). Pairwise-sim map keys are `a·10⁹ + b`. */
  val MmrCand = 20
  val MmrK = 8
  val MmrRelX1k = 700L
  val MmrDivX1k = 300L
  private val MmrKeyMul = 1000000000L

  /** X209 — MMR-diversified top-k: from the [[MmrCand]] vectors most
    * similar to the label-0 integer centroid (the "query"), greedily
    * pick [[MmrK]] maximizing `0.7·rel − 0.3·max_sim_to_selected`
    * (integer, ×1000 weights with stated floors) — maximal marginal
    * relevance, the reranker that keeps a RAG context window from
    * spending its budget on near-duplicates of one passage. The greedy
    * recursion — each pick depends on everything picked so far — runs
    * IN-PLAN as one codegen'd `aggregate` fold over the packed
    * candidate array with the 400-entry pairwise-dot map alongside
    * (the q169/q174 order-dependent-fold machinery, state = the picked
    * list); the oracle unrolls the same [[MmrK]] steps as SQL stages.
    *
    * Scale: candidate selection is the corpus-wide bounded top-k (one
    * TakeOrdered over dots); everything after — pairwise dots and the
    * fold — touches [[MmrCand]]² driver-free rows inside the plan. */
  def q191_mmr_rerank(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), quantize(col("embedding")).as("qv"),
        col("label").cast("long").as("label"))
    val qvec = emb.filter(col("label") === 0L)
      .select(posexplode(col("qv")).as(Seq("dim", "v")))
      .groupBy("dim").agg(sum("v").as("s"), count(lit(1)).as("n"))
      .withColumn("cd", expr("(1000 * s) div n"))
      .agg(transform(sort_array(collect_list(struct(col("dim"), col("cd")))),
        x => x.getField("cd")).as("qarr"))
    val cand = emb.crossJoin(broadcast(qvec))
      .select(col("vec_id"), col("qv"), qdot(col("qv"), col("qarr")).as("rel"))
      .orderBy(col("rel").desc, col("vec_id")).limit(MmrCand)
    val packed = cand
      .agg(sort_array(collect_list(struct((-col("rel")).as("nr"),
        col("vec_id").as("id"), col("rel").as("rel")))).as("cands"))
    val simMap = cand.toDF("a", "qa", "ra")
      .crossJoin(cand.toDF("b", "qb", "rb"))
      .filter(col("a") =!= col("b"))
      .select(expr(s"a * $MmrKeyMul + b").as("k"), qdot(col("qa"), col("qb")).as("dot"))
      .agg(map_from_entries(collect_list(struct(col("k"), col("dot")))).as("m"))
    packed.crossJoin(simMap)
      .withColumn("picked", expr(
        s"""aggregate(sequence(1, $MmrK),
           |  CAST(array() AS ARRAY<STRUCT<score: BIGINT, nid: BIGINT>>),
           |  (acc, step) -> concat(acc, array(
           |    array_max(transform(
           |      filter(cands, c -> NOT exists(acc, p -> -p.nid = c.id)),
           |      c -> named_struct(
           |        'score',
           |        ($MmrRelX1k * c.rel) div 1000 -
           |          ($MmrDivX1k * coalesce(
           |             array_max(transform(acc,
           |               p -> element_at(m, c.id * $MmrKeyMul + (-p.nid)))),
           |             CAST(0 AS BIGINT))) div 1000,
           |        'nid', -c.id)))))
           |)""".stripMargin))
      .select(posexplode(col("picked")).as(Seq("pos", "p")))
      .select((col("pos") + 1).cast("long").as("rank"),
        (-col("p.nid")).as("vec_id"), col("p.score").as("mmr_score"))
      .orderBy("rank")
  }

  /** Bloom parameters: bit-space size and the eval-split convention
    * (q73's `doc_id % EvalMod = 0`). Two md5-derived hashes per gram. */
  val BloomBits = 65536L

  /** X210 — Bloom-prefiltered eval decontamination: q73's exact 3-gram
    * contamination with the scale path in front — the eval set's grams
    * set k=2 bits each in a [[BloomBits]]-bit Bloom filter (both
    * md5-derived, oracle-replayable), the bitset BROADCASTS, and a
    * train gram reaches the exact gram equijoin only if BOTH its bits
    * are set. False positives are culled by the exact join, so the
    * RESULT is bit-identical to the exact screen — the Bloom pass is
    * pure plan optimization, which is exactly the contract a 100 TB
    * decontamination needs: the train corpus's gram stream is filtered
    * map-side against ≤ 2·|eval grams| broadcast bits (the spark
    * runtime-filter/bloom-join idea, made explicit and deterministic),
    * and only surviving candidates shuffle. Per-doc report: distinct
    * grams, Bloom survivors, exact hits, contamination share ×10⁴.
    */
  def q192_bloom_decontam(spark: SparkSession, dir: String): DataFrame = {
    val n = DataPrepQueries.ShingleN
    // tracked-cached on top of the session-pinned shingle core: the gram
    // table (+2 md5-derived Bloom bits per gram) feeds THREE consumers
    // below (eval bits, train candidates, per-doc totals) — without the
    // cache the explode+hash subtree re-ran per consumer (round-5
    // VERDICT finding #1)
    val grams = graft.ops.Materialize.checkpoint(
      graft.ops.Dedup.pinnedShingles(spark, dir, n)
        .select(col("id").as("doc_id"), col("shingle").as("gram"))
        .withColumn("is_eval", pmod(col("doc_id"), lit(CurationQueries.EvalMod)) === 0L)
        .withColumn("h1", pmod(conv(substring(md5(col("gram")), 1, 8), 16, 10)
          .cast("long"), lit(BloomBits)))
        .withColumn("h2", pmod(conv(substring(md5(col("gram")), 9, 8), 16, 10)
          .cast("long"), lit(BloomBits))))
    val evalGrams = grams.filter(col("is_eval")).select("gram", "h1", "h2")
    val bits = evalGrams.select(col("h1").as("bit"))
      .union(evalGrams.select(col("h2").as("bit"))).distinct()
    val train = grams.filter(!col("is_eval"))
    val candidates = train
      .join(broadcast(bits.toDF("h1")), Seq("h1"), "left_semi")
      .join(broadcast(bits.toDF("h2")), Seq("h2"), "left_semi")
    val contaminated = candidates
      .join(evalGrams.select("gram").distinct(), Seq("gram"), "left_semi")
    val perDoc = train.groupBy("doc_id").agg(count(lit(1)).cast("long").as("n_grams"))
      .join(candidates.groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("n_bloom_pass")), Seq("doc_id"), "left")
      .join(contaminated.groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("n_contam")), Seq("doc_id"), "left")
    perDoc
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_bloom_pass"), lit(0L)).as("n_bloom_pass"),
        coalesce(col("n_contam"), lit(0L)).as("n_contam"))
      .withColumn("contam_x10k",
        expr("CASE WHEN n_grams = 0 THEN 0 ELSE (10000 * n_contam) div n_grams END"))
      .orderBy("doc_id")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q190_phrase_search" -> q190_phrase_search,
    "q191_mmr_rerank" -> q191_mmr_rerank,
    "q192_bloom_decontam" -> q192_bloom_decontam
  )

  // ---------------------------------------------------------------- oracles

  import DataPrepQueries.{normToks, quantVec, shinglesSql}

  /** Positional token table shared by the phrase oracle. */
  private val posToks =
    s"""tk AS (
       |  SELECT doc_id, CAST(unnest(generate_series(1, len(t))) - 1 AS BIGINT) AS pos,
       |         unnest(t) AS token
       |  FROM (SELECT doc_id, $normToks AS t FROM documents))""".stripMargin

  private def phraseJoinSql: String = {
    val joins = (1 until Phrase.length).map { i =>
      s"JOIN tk t$i ON t$i.doc_id = t0.doc_id AND t$i.pos = t0.pos + $i AND t$i.token = '${Phrase(i)}'"
    }.mkString("\n")
    s"""SELECT t0.doc_id FROM tk t0
       |$joins
       |WHERE t0.token = '${Phrase.head}'""".stripMargin
  }

  /** The MMR greedy unrolled as [[MmrK]] SQL stages (each picks the
    * argmax of the integer MMR score given the previous picks). */
  private def mmrStagesSql: String = {
    val stages = (1 to MmrK).map { i =>
      s"""s$i AS (
         |  SELECT prev.picked || [c.vec_id] AS picked, c.vec_id AS pick_id,
         |         ($MmrRelX1k * c.rel) // 1000 -
         |           ($MmrDivX1k * coalesce((SELECT max(s.dot) FROM sims s
         |              WHERE s.a = c.vec_id AND list_contains(prev.picked, s.b)), 0)) // 1000
         |           AS pick_score
         |  FROM s${i - 1} prev, cand c
         |  WHERE NOT list_contains(prev.picked, c.vec_id)
         |  ORDER BY pick_score DESC, c.vec_id LIMIT 1)""".stripMargin
    }.mkString(",\n")
    val union = (1 to MmrK)
      .map(i => s"SELECT CAST($i AS BIGINT) AS rank, pick_id AS vec_id, CAST(pick_score AS BIGINT) AS mmr_score FROM s$i")
      .mkString("\nUNION ALL\n")
    s"""s0 AS (SELECT CAST([] AS BIGINT[]) AS picked),
       |$stages,
       |u AS (
       |$union)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q190_phrase_search" ->
      s"""WITH $posToks,
         |h AS ($phraseJoinSql),
         |c AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits FROM h GROUP BY doc_id),
         |rk AS (SELECT *, CAST(row_number() OVER (ORDER BY n_hits DESC, doc_id)
         |         AS BIGINT) AS rank FROM c)
         |SELECT rank, doc_id, n_hits FROM rk
         |WHERE rank <= $PhraseK ORDER BY rank""".stripMargin,
    "q191_mmr_rerank" ->
      s"""WITH v AS (SELECT vec_id, $quantVec AS qv,
         |                  CAST(label AS BIGINT) AS label FROM embeddings),
         |qc AS (
         |  SELECT dim, CAST((1000 * sum(x)) // count(*) AS BIGINT) AS cd
         |  FROM (SELECT unnest(generate_series(1, len(qv))) AS dim, unnest(qv) AS x
         |        FROM v WHERE label = 0)
         |  GROUP BY dim),
         |qa AS (SELECT list(cd ORDER BY dim) AS qarr FROM qc),
         |cand AS (
         |  SELECT v.vec_id, v.qv,
         |         CAST(list_sum(list_transform(generate_series(1, len(v.qv)),
         |              i -> v.qv[i] * qa.qarr[i])) AS BIGINT) AS rel
         |  FROM v CROSS JOIN qa
         |  ORDER BY rel DESC, v.vec_id LIMIT $MmrCand),
         |sims AS (
         |  SELECT a.vec_id AS a, b.vec_id AS b,
         |         CAST(list_sum(list_transform(generate_series(1, len(a.qv)),
         |              i -> a.qv[i] * b.qv[i])) AS BIGINT) AS dot
         |  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
         |$mmrStagesSql
         |SELECT rank, vec_id, mmr_score FROM u ORDER BY rank""".stripMargin,
    "q192_bloom_decontam" ->
      s"""WITH docs AS (SELECT doc_id, doc_id % ${CurationQueries.EvalMod} = 0 AS is_eval,
         |                     $normToks AS t
         |              FROM documents),
         |g AS (SELECT doc_id, is_eval, unnest(${shinglesSql(DataPrepQueries.ShingleN)}) AS gram
         |      FROM docs),
         |gh AS (SELECT doc_id, is_eval, gram,
         |              CAST(concat('0x', substr(md5(gram), 1, 8)) AS BIGINT) % $BloomBits AS h1,
         |              CAST(concat('0x', substr(md5(gram), 9, 8)) AS BIGINT) % $BloomBits AS h2
         |       FROM g),
         |bits AS (SELECT DISTINCT bit FROM (
         |           SELECT h1 AS bit FROM gh WHERE is_eval
         |           UNION ALL SELECT h2 FROM gh WHERE is_eval)),
         |tr AS (SELECT * FROM gh WHERE NOT is_eval),
         |cnd AS (SELECT tr.* FROM tr
         |        WHERE tr.h1 IN (SELECT bit FROM bits)
         |          AND tr.h2 IN (SELECT bit FROM bits)),
         |ev AS (SELECT DISTINCT gram FROM gh WHERE is_eval),
         |ct AS (SELECT cnd.doc_id, cnd.gram FROM cnd
         |       WHERE cnd.gram IN (SELECT gram FROM ev)),
         |per AS (
         |  SELECT t.doc_id,
         |         CAST(count(*) AS BIGINT) AS n_grams,
         |         CAST(coalesce(max(cb.n), 0) AS BIGINT) AS n_bloom_pass,
         |         CAST(coalesce(max(cc.n), 0) AS BIGINT) AS n_contam
         |  FROM tr t
         |  LEFT JOIN (SELECT doc_id, count(*) AS n FROM cnd GROUP BY doc_id) cb
         |    ON cb.doc_id = t.doc_id
         |  LEFT JOIN (SELECT doc_id, count(*) AS n FROM ct GROUP BY doc_id) cc
         |    ON cc.doc_id = t.doc_id
         |  GROUP BY t.doc_id)
         |SELECT doc_id, n_grams, n_bloom_pass, n_contam,
         |       CAST(CASE WHEN n_grams = 0 THEN 0
         |            ELSE (10000 * n_contam) // n_grams END AS BIGINT) AS contam_x10k
         |FROM per ORDER BY doc_id""".stripMargin
  )
}
