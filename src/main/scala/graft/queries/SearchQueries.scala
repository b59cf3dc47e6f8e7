package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._

/** Round-5 wave-13a search/retrieval operators: integer BM25-family
  * term retrieval (the lexical ranking function a corpus-scale search or
  * RAG pre-filter runs), metadata-filtered ANN (label-constrained vector
  * search — the "filtered vector search" every production vector store
  * has to serve), and content-defined chunk dedup (rolling-hash
  * boundaries, the rsync/LBFS trick — chunk identity survives token
  * insertions that shift every fixed-width chunk of q86).
  *
  * Oracle conventions as the sibling modules: exact integers end-to-end
  * (`div` floors, md5 the only cross-engine hash), identical aliases on
  * both sides, ORDER BY a unique key.
  */
object SearchQueries {

  /** Probe query for BM25 retrieval (fixed multi-term query). */
  val Bm25Terms: Seq[String] = Seq("vector", "spark", "merge", "window")
  /** BM25 k1 ×1000 (term-frequency saturation) and b ×1000 (length
    * normalization strength) — the standard 1.2 / 0.75. */
  val K1x1k = 1200L
  val Bx1k = 750L
  /** Retrieval depth. */
  val Bm25K = 20
  /** Filtered-ANN fan: every 125th vector queries for its 5 same-label
    * nearest neighbors. */
  val FilteredK = 5
  val FilteredQueryStep = 125L
  /** Content-defined chunking: a token CUTS after itself when its md5
    * byte ≡ 0 (mod `CdcCutMod`) — expected chunk length = CdcCutMod
    * tokens, boundaries a pure function of the token, not its offset. */
  val CdcCutMod = 8L

  private def normTokens(c: Column): Column = wsTokens(normalizeText(c))

  /** X149 — BM25-family integer retrieval: score every document holding
    * at least one probe term with a log-free BM25 twin and keep the top
    * `Bm25K`. Per (doc, term): `tfsat_x1k = tf·(k1+1000)·1000 div
    * (tf·1000 + k1·norm_x1k div 1000)` with the standard length
    * normalization `norm_x1k = (1000−b) + b·dl·N div Σdl`, and the
    * log-free rarity surrogate `idf_x1k = 1000·(N−df+1) div (df+1)` —
    * monotone in the classic IDF, so ranks are BM25 ranks, and every
    * intermediate is an exact BIGINT both engines floor identically.
    *
    * Scale shape: the candidate set is only docs containing a probe term
    * (inverted-index discipline — the corpus-wide token pass feeds a
    * probe-term filter BEFORE any shuffle); df and the corpus totals are
    * a ≤|terms|-row and a 1-row broadcast; final top-k is a sort-free
    * TakeOrderedAndProject. */
  /** The probe-term tf frame `(doc_id, dl, term, tf)` — the shared front
    * of BM25 scoring, also reused by q181's query-likelihood ranker. */
  /** Session-pinned (doc_id, toks, dl) token-array table — the shared
    * substrate of the retrieval family: q142's scoring, q181's two
    * fusion arms and q230's feedback/df passes all tokenize the SAME
    * corpus, so the normalize+tokenize pass runs once per session
    * instead of twice per query (round-7; Bench prewarms and
    * attributes it like the other cores). At corpus scale this is a
    * staged table next to the shingle core. */
  private[graft] def bm25Docs(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Materialize.pinned(spark, ("bm25_docs", dir)) {
      // spread: the token pass must not run single-task on an
      // under-split local file (no-op with >= cores splits)
      graft.ops.Dedup.spread(Tables.documents(spark, dir))
        .select(col("doc_id"), normTokens(col("text")).as("toks"))
        .select(col("doc_id"), col("toks"), size(col("toks")).cast("long").as("dl"))
    }

  private[queries] def bm25Tf(spark: SparkSession, dir: String): DataFrame =
    bm25Docs(spark, dir)
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .filter(col("term").isin(Bm25Terms: _*))
      .groupBy("doc_id", "dl", "term")
      .agg(count(lit(1)).as("tf"))

  /** Per-doc BM25 score `(doc_id, score, n_terms_hit)` over the probe
    * terms — q142's scoring chain, shared with q181's fusion, q191's
    * rerank pool and q230's feedback loop. Session-pinned (round-8):
    * four consumers each re-ran the tf/df/totals aggregation chain —
    * the scored table is |matching docs| rows, the canonical staged
    * artifact next to [[bm25Docs]]; prewarmed as core `bm25_scored`. */
  private[graft] def bm25Scored(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Materialize.pinned(spark, ("bm25_scored", dir))(bm25ScoredBuild(spark, dir))

  private def bm25ScoredBuild(spark: SparkSession, dir: String): DataFrame = {
    val docs = bm25Docs(spark, dir)
    val totals = docs.agg(count(lit(1)).as("n_docs"), sum("dl").as("total_dl"))
    val tf = bm25Tf(spark, dir)
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(broadcast(df), "term")
      .crossJoin(broadcast(totals))
      .withColumn("norm_x1k",
        expr(s"${1000L - Bx1k} + ($Bx1k * dl * n_docs) div total_dl"))
      .withColumn("idf_x1k", expr("(1000 * (n_docs - df + 1)) div (df + 1)"))
      .withColumn("tfsat_x1k",
        expr(s"(tf * ${K1x1k + 1000L} * 1000) div (tf * 1000 + ($K1x1k * norm_x1k) div 1000)"))
      .withColumn("contrib", expr("(idf_x1k * tfsat_x1k) div 1000"))
      .groupBy("doc_id")
      .agg(sum("contrib").as("score"), count(lit(1)).as("n_terms_hit"))
  }

  def q142_bm25_topk(spark: SparkSession, dir: String): DataFrame = {
    val scored = bm25Scored(spark, dir)
    val top = scored.orderBy(col("score").desc, col("doc_id")).limit(Bm25K)
    top.withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("score").desc, col("doc_id"))).cast("long"))
      .select("rank", "doc_id", "score", "n_terms_hit")
      .orderBy("rank")
  }

  /** X150 — metadata-filtered ANN: each probe vector's `FilteredK`
    * nearest neighbors AMONG VECTORS SHARING ITS LABEL (self excluded) —
    * label-constrained vector search, the query shape a production
    * vector store serves constantly (tenant/category/language filters).
    * The filter is applied BEFORE scoring by making the label the join
    * key: each query scans only its label's partition of the corpus
    * (at scale: the label-partitioned AnnIndex layout prunes at file
    * listing), and ranking is the map-side bounded heap — ≤ k rows per
    * (query, task) reach the shuffle, no corpus window. */
  def q143_filtered_ann(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), quantize(col("embedding")).as("qv"),
        col("label").cast("long").as("label"))
    val queries = emb.filter(col("vec_id") % FilteredQueryStep === 0)
      .select(col("vec_id").as("query_id"), col("qv").as("quv"), col("label"))
    val cands = queries.join(
        emb.select(col("vec_id").as("neighbor_id"), col("qv").as("cv"), col("label")),
        "label")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("label"), col("neighbor_id"),
        qdot(col("quv"), col("cv")).as("dot"))
    graft.ops.Relational.topKPerGroup(
        cands, Seq("query_id", "label"), "dot", "neighbor_id", FilteredK)
      .select(col("query_id"), col("label"), col("rank"), col("neighbor_id"), col("dot"))
      .orderBy("query_id", "rank")
  }

  /** X151 — content-defined chunk dedup: cut each document's token
    * stream AFTER every token whose md5 byte ≡ 0 (mod `CdcCutMod`) —
    * boundaries depend only on content, so an inserted token reshapes
    * ONE chunk instead of shifting every fixed-width chunk downstream
    * (q86's failure mode under edits; this is the rsync/LBFS/borg
    * rolling-hash trick applied to text dedup). Chunks are md5'd,
    * first-occurrence ownership is a min-of-struct partial aggregate on
    * the chunk hash (digests shuffle, never chunk text beyond its own
    * doc), and the report is per-doc duplicated-chunk share.
    *
    * Scale: one token pass; the chunk-id assignment window partitions by
    * doc (never global); ownership is one hash-keyed shuffle. */
  def q144_cdc_chunks(spark: SparkSession, dir: String): DataFrame = {
    // FUSED chunking (round-9): cut decision, chunk grouping and chunk
    // hash are one [[graft.expressions.CdcChunks]] walk over the
    // in-row token array — the composed form (posexplode of every
    // token, per-doc WindowExec running the cut prefix-sum, groupBy
    // with a sorted struct collect) exploded the corpus three times
    // for values that are linear per doc. CdcChunksSpec pins the A/B
    // bit-identical. NOT cached (round-9 A/B at sf0.1, min of 3:
    // uncached 1.15 s vs cached 1.41 s): the ownership aggregate and
    // the join-back both require the same exchange(chunk_hash), which
    // ReuseExchange computes once — the chunking pass runs once either
    // way, and the cache only added materialization.
    graft.expressions.GraftFunctions.register(spark)
    val chunks = graft.ops.Dedup.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), normTokens(col("text")).as("t"))
      .select(col("doc_id"), explode(call_function(
        graft.expressions.GraftFunctions.CdcChunksName,
        col("t"), lit(CdcCutMod.toInt))).as("c"))
      .select(col("doc_id"), col("c.chunk_id").as("chunk_id"),
        col("c.chunk_hash").as("chunk_hash"), col("c.chunk_len").as("chunk_len"))
    val owner = chunks.groupBy("chunk_hash")
      .agg(min(struct(col("doc_id"), col("chunk_id"))).as("own"))
    chunks.join(owner, "chunk_hash")
      .withColumn("is_dup",
        (col("doc_id") =!= col("own.doc_id") || col("chunk_id") =!= col("own.chunk_id"))
          .cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum("chunk_len").as("n_tokens"),
        sum("is_dup").as("n_dup_chunks"),
        floor(lit(10000L) * sum("is_dup") / count(lit(1))).cast("long").as("dup_x10k"))
      .orderBy("doc_id")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q142_bm25_topk" -> q142_bm25_topk,
    "q143_filtered_ann" -> q143_filtered_ann,
    "q144_cdc_chunks" -> q144_cdc_chunks
  )

  // ---------------------------------------------------------------- oracles

  import DataPrepQueries.{normToks, quantVec}

  private val termList = Bm25Terms.map(t => s"'$t'").mkString("[", ", ", "]")

  /** The q142 BM25 oracle chain (tokenize → probe-term tf → df/totals →
    * score → global rank as CTE `top`; `tf` carries (doc_id, dl, term,
    * tf) for rankers that reuse the candidate pass) — shared with
    * q181's fusion oracle. */
  private[queries] lazy val bm25ChainSql: String =
    s"""d AS (SELECT doc_id, $normToks AS toks,
       |                  CAST(len($normToks) AS BIGINT) AS dl
       |           FROM documents),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |               CAST(sum(dl) AS BIGINT) AS total_dl FROM d),
       |tf AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
       |       FROM (SELECT doc_id, dl, unnest(toks) AS term FROM d)
       |       WHERE list_contains($termList, term)
       |       GROUP BY doc_id, dl, term),
       |dfr AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
       |s AS (
       |  SELECT tf.doc_id,
       |         (${1000L - Bx1k} + ($Bx1k * tf.dl * t.n_docs) // t.total_dl) AS norm_x1k,
       |         (1000 * (t.n_docs - dfr.df + 1)) // (dfr.df + 1) AS idf_x1k,
       |         (tf.tf * ${K1x1k + 1000L} * 1000)
       |           // (tf.tf * 1000 + ($K1x1k * (${1000L - Bx1k} + ($Bx1k * tf.dl * t.n_docs) // t.total_dl)) // 1000)
       |           AS tfsat_x1k
       |  FROM tf JOIN dfr USING (term) CROSS JOIN tot t),
       |sc AS (SELECT doc_id, CAST(sum((idf_x1k * tfsat_x1k) // 1000) AS BIGINT) AS score,
       |              CAST(count(*) AS BIGINT) AS n_terms_hit
       |       FROM s GROUP BY doc_id),
       |top AS (SELECT *, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
       |        FROM sc)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q142_bm25_topk" ->
      s"""WITH $bm25ChainSql
         |SELECT rank, doc_id, score, n_terms_hit
         |FROM top WHERE rank <= $Bm25K ORDER BY rank""".stripMargin,
    "q143_filtered_ann" ->
      s"""WITH v AS (SELECT vec_id, $quantVec AS qv,
         |                  CAST(label AS BIGINT) AS label FROM embeddings),
         |q AS (SELECT vec_id AS query_id, qv AS quv, label FROM v
         |      WHERE vec_id % $FilteredQueryStep = 0),
         |s AS (
         |  SELECT q.query_id, q.label, v.vec_id AS neighbor_id,
         |         CAST(list_sum(list_transform(generate_series(1, len(q.quv)),
         |              i -> q.quv[i] * v.qv[i])) AS BIGINT) AS dot
         |  FROM q JOIN v USING (label)
         |  WHERE q.query_id <> v.vec_id),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |             ORDER BY dot DESC, neighbor_id) AS BIGINT) AS rank FROM s)
         |SELECT query_id, label, rank, neighbor_id, dot
         |FROM r WHERE rank <= $FilteredK ORDER BY query_id, rank""".stripMargin,
    "q144_cdc_chunks" ->
      s"""WITH t AS (
         |  SELECT doc_id, CAST(unnest(generate_series(1, len(toks))) - 1 AS BIGINT) AS pos,
         |         unnest(toks) AS token
         |  FROM (SELECT doc_id, $normToks AS toks FROM documents)),
         |f AS (SELECT *, CASE WHEN CAST(concat('0x', substr(md5(token), 1, 2)) AS BIGINT)
         |                          % $CdcCutMod = 0 THEN 1 ELSE 0 END AS cut
         |      FROM t),
         |c AS (SELECT *, CAST(coalesce(sum(cut) OVER (PARTITION BY doc_id ORDER BY pos
         |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |             AS chunk_id
         |      FROM f),
         |ch AS (SELECT doc_id, chunk_id,
         |              md5(string_agg(token, ' ' ORDER BY pos)) AS chunk_hash,
         |              CAST(count(*) AS BIGINT) AS chunk_len
         |       FROM c GROUP BY doc_id, chunk_id),
         |own AS (SELECT chunk_hash, doc_id AS o_doc, chunk_id AS o_chunk FROM (
         |          SELECT chunk_hash, doc_id, chunk_id, row_number() OVER (
         |            PARTITION BY chunk_hash ORDER BY doc_id, chunk_id) AS rn FROM ch)
         |        WHERE rn = 1),
         |j AS (SELECT ch.*, CASE WHEN ch.doc_id <> own.o_doc
         |                         OR ch.chunk_id <> own.o_chunk THEN 1 ELSE 0 END AS is_dup
         |      FROM ch JOIN own USING (chunk_hash))
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
         |       CAST(sum(chunk_len) AS BIGINT) AS n_tokens,
         |       CAST(sum(is_dup) AS BIGINT) AS n_dup_chunks,
         |       CAST(floor(10000 * sum(is_dup) / count(*)) AS BIGINT) AS dup_x10k
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin
  )
}
