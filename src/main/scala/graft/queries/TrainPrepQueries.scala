package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._
import graft.ops.{Bpe, Coreset, SemDedup}

/** Round-4 training-data preparation surface: the model-facing curation
  * operators an LLM pipeline runs after the corpus-facing passes
  * (dedup/quality/mixture, §2.3b X1–X98) — tokenizer training (BPE merge
  * rounds), semantic dedup in embedding space (SemDeDup), LM-familiarity
  * scoring (the integer-exact twin of CCNet's perplexity filter), frozen
  * linear-classifier inference (the fastText-style quality gate), and
  * greedy k-center coreset selection. Same oracle conventions as the
  * sibling modules: exact integer arithmetic end-to-end, md5 as the only
  * cross-engine hash, identical aliases both sides, ORDER BY a unique key.
  */
object TrainPrepQueries {

  val BpeRounds = 3
  val SemK: Int = AnalyticsQueries.KmeansK // dedup within exactly q65's clusters
  val SemIters: Int = AnalyticsQueries.KmeansIters
  val SemMinCosX100 = 40L // the corpus near-dup bar (q22's threshold)
  val FamX1k = 2000L // familiar ⇔ mean corpus trigram count ≥ 2
  val ClsBuckets = 4096
  val ClsSeed = "w4"
  val KCenterK = 8

  /** X99 — BPE tokenizer training ([[Bpe.trainMerges]]): the first
    * `BpeRounds` merge rounds over the corpus vocabulary. The corpus is
    * touched once (vocabulary aggregate); each round shuffles only the
    * vocabulary-sized symbol table; round winners are 1-row broadcasts,
    * never collected — one lazy plan. */
  def q94_bpe_merges(spark: SparkSession, dir: String): DataFrame = {
    val vocab = Tables.documents(spark, dir)
      .select(explode(wsTokens(normalizeText(col("text")))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
    Bpe.trainMerges(vocab, BpeRounds)
      .select(col("merge_round").cast("long").as("merge_round"),
        col("lhs"), col("rhs"), col("merged"), col("pair_n"))
      .orderBy("merge_round")
  }

  /** X100 — SemDeDup ([[SemDedup.semDeDup]]): semantic near-duplicate
    * verdicts bounded by q65's k-means clusters — the embedding-space
    * dedup pass that catches paraphrase-level duplication MinHash cannot
    * see. Keep-lowest-id rule; exact integer cosine test at the corpus
    * near-dup bar. */
  def q95_semdedup(spark: SparkSession, dir: String): DataFrame =
    SemDedup.semDeDup(Tables.embeddings(spark, dir), SemK, SemIters, SemMinCosX100)
      .orderBy("vec_id")

  /** X101 — LM-familiarity scoring: per document, the mean corpus-LM
    * trigram count of its trigrams (×1000, integer floor) — the
    * integer-exact twin of the CCNet/KenLM perplexity filter (documents
    * whose n-grams the corpus LM has never seen score low ⇒ candidates
    * for the "unfamiliar tail" cut). Two partial-aggregated shuffles
    * (corpus LM; per-doc regroup) + one equi-join on the trigram. */
  def q96_lm_familiarity(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val tris = docs
      .select(col("doc_id"), wsTokens(normalizeText(col("text"))).as("__t"))
      .select(col("doc_id"), explode(ngramsAll(col("__t"), 3)).as("tri"))
    val docTri = tris.groupBy("doc_id", "tri").agg(count(lit(1)).as("c"))
    val lm = tris.groupBy("tri").agg(count(lit(1)).as("n_tri"))
    val scored = docTri.join(lm, "tri")
      .groupBy("doc_id")
      .agg(sum("c").as("n_tris"), sum(col("c") * col("n_tri")).as("fam_sum"))
    docs.select("doc_id").join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tris"), lit(0L)).as("n_tris"),
        coalesce(col("fam_sum"), lit(0L)).as("fam_sum"),
        when(coalesce(col("n_tris"), lit(0L)) === 0, lit(0L))
          .otherwise(expr("(1000 * fam_sum) div n_tris")).as("mean_x1k"))
      .withColumn("familiar", (col("mean_x1k") >= FamX1k).cast("int"))
      .orderBy("doc_id")
  }

  /** The frozen classifier weights: bucket b ∈ [0, ClsBuckets) gets ±1 by
    * the first-hex-nibble parity of md5("ClsSeed:b") — computed driver-
    * side with the same MD5 the oracle calls in SQL (the q21 hyperplane
    * convention), then shipped as a broadcast weights table. */
  private def clsWeights(spark: SparkSession): DataFrame = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val rows = (0 until ClsBuckets).map { b =>
      val h = md.digest(s"$ClsSeed:$b".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      (b.toLong, if (((h(0) >> 4) & 0x1) == 0) 1L else -1L)
    }
    import spark.implicits._
    rows.toDF("bucket", "w")
  }

  /** X102 — frozen linear-classifier inference: the fastText-style
    * hashed-bag-of-words quality gate (score = Σ w[bucket(token)], keep ⇔
    * score ≥ 0) run as a distributed scoring pass: hash tokens to weight
    * buckets, broadcast-join the (tiny, frozen) weights table, one
    * partial-aggregated regroup per doc. The weights here are a
    * deterministic md5-parity stand-in — the SHAPE (model table broadcast
    * to every executor, inference as join + aggregate, no UDF) is the
    * production path for any linear/hashed model. */
  def q97_quality_classifier(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    docs.select("doc_id").join(classifierScores(spark, dir), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("score"), lit(0L)).as("score"))
      .withColumn("keep_doc", (col("score") >= 0).cast("int"))
      .orderBy("doc_id")
  }

  /** X103 — greedy k-center coreset ([[Coreset.kCenters]]): the
    * `KCenterK` maximally spread exemplars with their coverage-radius
    * curve — diversity selection after dedup. One corpus pass per round,
    * 1-row broadcast winners, a single lazy plan. */
  def q98_kcenter_coreset(spark: SparkSession, dir: String): DataFrame =
    Coreset.kCenters(Tables.embeddings(spark, dir), KCenterK)
      .orderBy("sel_round")

  /** q97's scoring chain (tokened docs only): hash tokens to weight
    * buckets, broadcast-join the frozen weights, one per-doc regroup. */
  /** Session-pinned ([[graft.ops.Materialize.pinned]]): nine board queries across seven
    * modules (q97/q110/q122/q141/q183/q203-q205/q209/q216) read the
    * frozen classifier's per-doc scores — one token-hash pass per
    * session instead of one per consumer. One row per doc. */
  private[graft] def classifierScores(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Materialize.pinned(spark, ("classifier_scores", dir)) {
      val buckets = Tables.documents(spark, dir)
        .select(col("doc_id"), explode(wsTokens(normalizeText(col("text")))).as("token"))
        .select(col("doc_id"),
          pmod(conv(substring(md5(col("token")), 1, 4), 16, 10).cast("long"),
            lit(ClsBuckets.toLong)).as("bucket"))
        .groupBy("doc_id", "bucket").agg(count(lit(1)).as("c"))
      buckets.join(broadcast(clsWeights(spark)), "bucket")
        .groupBy("doc_id")
        .agg(sum("c").as("n_tokens"), sum(col("c") * col("w")).as("score"))
    }

  val HardK = 5

  /** X115 — hard-example mining: the `HardK` docs per source with the
    * SMALLEST classifier margin |score| (ties → lowest doc_id) — the
    * active-learning / curriculum selection pass over q97's frozen-
    * classifier scores (minimum-margin uncertainty sampling: the docs
    * the gate is least sure about are the ones worth human labels or a
    * later curriculum stage). Ranking rides the bounded-heap top-k
    * aggregate (X76) on the negated margin — partial-aggregated, no
    * WindowExec over the corpus. Zero-token docs carry no signal and are
    * excluded (they have no score, not a confident one). */
  def q110_hard_examples(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val m = classifierScores(spark, dir).join(src, "doc_id")
      .withColumn("neg_margin", -abs(col("score")))
    graft.ops.Relational.topKPerGroup(m, Seq("source"), "neg_margin", "doc_id", HardK)
      .select(col("source"), col("rank"), col("doc_id"),
        (-col("neg_margin")).as("margin"))
      .orderBy("source", "rank")
  }

  /** The deterministic "arriving batch" split (q70's md5-bucket
    * convention): first 2 hex digits of md5("DeltaSeed:doc_id") below
    * `DeltaBucketMax`/256 ⇒ the doc arrives in this increment (~25%). */
  val DeltaSeed = "dd1"
  val DeltaBucketMax = 64L
  private def isArriving(c: org.apache.spark.sql.Column) =
    conv(substring(md5(concat_ws(":", lit(DeltaSeed), c.cast("string"))), 1, 2),
      16, 10).cast("long") < DeltaBucketMax

  /** X104 — incremental delta-dedup ([[graft.ops.Dedup.deltaNearDupScreen]]):
    * the arriving ~25% screened against the standing corpus by LSH band
    * collision — O(batch) verdict work per increment instead of
    * re-running the corpus-wide pair join. */
  def q99_delta_dedup(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.deltaNearDupScreen(
      Tables.documents(spark, dir), isArriving(col("doc_id")),
      n = DataPrepQueries.ShingleN, bands = DataPrepQueries.MinhashBands,
      rowsPerBand = DataPrepQueries.MinhashRows)
      .orderBy("doc_id")

  /** X105 — BPE tokenizer APPLY ([[Bpe.segmentations]]): the corpus
    * symbol vocabulary after the trained merges — per symbol, corpus
    * occurrences (weighted by word count) and the distinct words using
    * it. The artifact a tokenizer release ships next to the merge table
    * (q94); symbol count shrinking against raw characters is the
    * compression the merges bought. */
  /** The trained segmentation table `(word, n, seg)` at [[BpeRounds]],
    * built once per (session, dir) and PINNED: q100 (symbol vocabulary)
    * and q105 (per-language fertility) both consume exactly this
    * artifact — at corpus scale it is the tokenizer-release table a
    * pipeline materializes once per vocabulary refresh, not something
    * each report re-trains. Prewarmed + attributed by
    * [[graft.PinnedCores]] as `bpe_segmentations`. */
  private[graft] def bpeSegmentationsPinned(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Materialize.pinned(spark, ("bpe_segmentations", dir)) {
      val vocab = Tables.documents(spark, dir)
        .select(explode(wsTokens(normalizeText(col("text")))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n"))
      Bpe.segmentations(vocab, BpeRounds)
    }

  def q100_bpe_tokenize(spark: SparkSession, dir: String): DataFrame = {
    bpeSegmentationsPinned(spark, dir)
      .select(col("n"), col("word"), explode(col("seg")).as("symbol"))
      .groupBy("symbol")
      .agg(sum("n").as("n_occurrences"), countDistinct("word").as("n_words"))
      .orderBy("symbol")
  }

  /** X110 — tokenizer fertility per language ([[Bpe.segmentations]]):
    * symbols-per-word (×1000, token-weighted) after the trained merges,
    * split by language — THE tokenizer-equity metric (a vocabulary
    * trained on a skewed mixture over-segments the minority languages;
    * this measures exactly that). One corpus word pass + the
    * vocabulary-sized segmentation join. */
  def q105_bpe_fertility(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val words = docs.select(col("lang"),
      explode(wsTokens(normalizeText(col("text")))).as("word"))
    val segLen = bpeSegmentationsPinned(spark, dir)
      .select(col("word"), size(col("seg")).cast("long").as("n_sym"))
    words.groupBy("lang", "word").agg(count(lit(1)).as("cnt"))
      .join(segLen, "word")
      .groupBy("lang")
      .agg(sum("cnt").as("n_words"), sum(col("cnt") * col("n_sym")).as("n_symbols"))
      .withColumn("fertility_x1k", expr("(1000 * n_symbols) div n_words"))
      .orderBy("lang")
  }

  /** Span-corruption plan: md5("ScSeed:doc:pos") first-2-hex-digit
    * threshold decides span STARTS (~15%), hex digit 3 mod 3 the span
    * length (1–3 tokens) — the q70 deterministic-uniform convention. */
  val ScSeed = "sc4"
  val ScStartMax = 38L // P(start) = 38/256 ≈ 0.148

  /** X111 — span-corruption mask planning: the T5/UL2 denoising-objective
    * pre-pass — per document, deterministic corruption spans (masked-token
    * islands after overlapping spans merge) and the realized mask rate.
    * Sampling is md5-derived per (doc, position), so the plan is
    * reproducible across runs/engines — the property a training pipeline
    * needs to regenerate identical targets on restart. One token pass,
    * one bounded ×3 explode for covered positions, one per-doc window. */
  def q106_span_corruption(spark: SparkSession, dir: String): DataFrame =
    spanMaskPlan(Tables.documents(spark, dir))

  /** Core of q106 over any (doc_id, text) frame — split out so specs can
    * brute-force tiny corpora against an independent JVM reimplementation. */
  def spanMaskPlan(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ps = docs
      .select(col("doc_id"), wsTokens(normalizeText(col("text"))).as("t"))
      .select(col("doc_id"), size(col("t")).cast("long").as("nt"),
        posexplode(col("t")).as(Seq("pos", "tok")))
    val h = md5(concat_ws(":", lit(ScSeed), col("doc_id").cast("string"),
      col("pos").cast("string")))
    val st = ps.withColumn("h", h)
      .where(conv(substring(col("h"), 1, 2), 16, 10).cast("long") < ScStartMax)
      .select(col("doc_id"), col("nt"), col("pos").cast("long").as("pos"),
        (lit(1L) + pmod(conv(substring(col("h"), 3, 1), 16, 10).cast("long"),
          lit(3L))).as("sl"))
    val cv = st.select(col("doc_id"),
        explode(sequence(col("pos"),
          least(col("pos") + col("sl") - 1, col("nt") - 1))).as("p"))
      .distinct()
    val il = cv.withColumn("grp",
      col("p") - row_number().over(Window.partitionBy("doc_id").orderBy("p")))
    val ag = il.groupBy("doc_id")
      .agg(count(lit(1)).as("n_masked"), countDistinct("grp").as("n_spans"))
    docs.select(col("doc_id"),
        size(wsTokens(normalizeText(col("text")))).cast("long").as("n_tokens"))
      .join(ag, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_masked"), lit(0L)).as("n_masked"))
      .withColumn("mask_x1k", expr(
        "CASE WHEN n_tokens = 0 THEN 0L ELSE (1000 * n_masked) div n_tokens END"))
      .orderBy("doc_id")
  }

  /** X114 — gram novelty of the arriving batch: per arriving document,
    * the fraction of its 8-gram occurrences whose gram appears NOWHERE in
    * the standing corpus (×1000) — the corpus-refresh value metric ("how
    * much genuinely new text does this crawl bring") that doc-level
    * delta-dedup (q99) cannot see: a 95%-boilerplate doc is "novel" to
    * LSH but worthless to training. One gram pass split by the q99
    * arriving predicate, the standing side reduced to DISTINCT grams
    * (partial-agg shuffle), one gram equijoin, one per-doc regroup. */
  def q109_delta_novelty(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val grams = docs
      .select(col("doc_id"), wsTokens(normalizeText(col("text"))).as("__t"))
      .select(col("doc_id"),
        explode(ngramsAll(col("__t"), CorpusQueries.SpanN)).as("gram"))
    val standing = grams.where(!isArriving(col("doc_id")))
      .select("gram").distinct().withColumn("seen", lit(1))
    val flagged = grams.where(isArriving(col("doc_id")))
      .join(standing, Seq("gram"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_novel"))
    docs.where(isArriving(col("doc_id"))).select("doc_id")
      .join(flagged, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .withColumn("novel_x1k", expr(
        "CASE WHEN n_grams = 0 THEN 0L ELSE (1000 * n_novel) div n_grams END"))
      .orderBy("doc_id")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q94_bpe_merges" -> q94_bpe_merges,
    "q95_semdedup" -> q95_semdedup,
    "q96_lm_familiarity" -> q96_lm_familiarity,
    "q97_quality_classifier" -> q97_quality_classifier,
    "q98_kcenter_coreset" -> q98_kcenter_coreset,
    "q99_delta_dedup" -> q99_delta_dedup,
    "q100_bpe_tokenize" -> q100_bpe_tokenize,
    "q105_bpe_fertility" -> q105_bpe_fertility,
    "q106_span_corruption" -> q106_span_corruption,
    "q109_delta_novelty" -> q109_delta_novelty,
    "q110_hard_examples" -> q110_hard_examples
  )

  // ---------------------------------------------------------------- oracles

  import AnalyticsQueries.{normToks, quantVec, lloydAssignSql}

  /** One BPE round in DuckDB: from segmentation `sg${r-1}` to winner
    * `ch$r` and merged segmentation `sg$r`. Greedy left-to-right merge =
    * chosen-pair positions at even offsets within their run (window
    * algebra, the exact twin of [[graft.ops.Bpe]]). */
  private[queries] def bpeRoundSql(r: Int): String =
    s"""pr$r AS (SELECT word, n, pos, tok,
       |               lead(tok) OVER (PARTITION BY word ORDER BY pos) AS nxt
       |        FROM sg${r - 1}),
       |ch$r AS (SELECT tok AS lhs, nxt AS rhs, CAST(sum(n) AS BIGINT) AS pair_n
       |        FROM pr$r WHERE nxt IS NOT NULL GROUP BY tok, nxt
       |        ORDER BY pair_n DESC, lhs, rhs LIMIT 1),
       |fz$r AS (SELECT p.word, p.n, p.pos, p.tok, c.lhs, c.rhs,
       |               CASE WHEN p.tok = c.lhs AND p.nxt = c.rhs THEN 1 ELSE 0 END AS f
       |        FROM pr$r p LEFT JOIN ch$r c ON true),
       |gi$r AS (SELECT *, CASE WHEN f = 1 THEN pos - row_number() OVER
       |                 (PARTITION BY word, f ORDER BY pos) END AS grp
       |        FROM fz$r),
       |ms$r AS (SELECT *, CASE WHEN f = 1 AND row_number() OVER
       |                 (PARTITION BY word, grp ORDER BY pos) % 2 = 1
       |                 THEN 1 ELSE 0 END AS s
       |        FROM gi$r),
       |sg$r AS (SELECT word, n, pos,
       |               CASE WHEN s = 1 THEN lhs || rhs ELSE tok END AS tok
       |        FROM (SELECT *, coalesce(lag(s) OVER
       |                (PARTITION BY word ORDER BY pos), 0) AS prev_s FROM ms$r)
       |        WHERE prev_s = 0)""".stripMargin

  private[queries] val qdistSql =
    "CAST(list_sum(list_transform(generate_series(1, len(%s)), i -> (%s[i] - %s[i]) * (%s[i] - %s[i]))) AS BIGINT)"

  private[queries] def kcRoundSql(r: Int): String = {
    val prev = if (r == 1) "m0" else s"m${r - 1}"
    val d = qdistSql.format("m.qv", "m.qv", "c.cqv", "m.qv", "c.cqv")
    s"""c$r AS (SELECT id AS cid, qv AS cqv, d AS cd FROM $prev
       |        ORDER BY d DESC, id LIMIT 1),
       |m$r AS (SELECT m.id, m.qv, least(m.d, $d) AS d FROM $prev m, c$r c)""".stripMargin
  }

  /** Shared BPE replay: vocabulary → char segmentation → `BpeRounds`
    * merge rounds (winners `ch1..chR`, segmentations `sg1..sgR`). */
  private def bpeChainSql: String = bpeChainSqlN(BpeRounds)

  /** The v0/sg0..sgN BPE CTE chain at an arbitrary merge budget —
    * shared with q278's merge-budget sweep (round-8). */
  private[queries] def bpeChainSqlN(n: Int): String = {
    val rounds = (1 to n).map(bpeRoundSql).mkString(",\n")
    s"""v0 AS (SELECT word, CAST(count(*) AS BIGINT) AS n
       |           FROM (SELECT unnest($normToks) AS word FROM documents)
       |           GROUP BY word),
       |sg0 AS (SELECT word, n, posn - 1 AS pos, word[posn] AS tok FROM (
       |         SELECT word, n, unnest(generate_series(1, len(word))) AS posn
       |         FROM v0)),
       |$rounds""".stripMargin
  }

  private val arrivingSql =
    s"CAST(concat('0x', substr(md5(concat('$DeltaSeed', ':', CAST(%s AS VARCHAR))), 1, 2)) AS BIGINT) < $DeltaBucketMax"

  /** q97's oracle scoring chain (frozen weights → token buckets → per-doc
    * score), shared by q97 and q110's margin-ranking layer. */
  private[queries] lazy val clsChainSql: String =
    s"""wt AS (SELECT b AS bucket,
       |              CASE WHEN strpos('02468ace', substr(md5(concat('$ClsSeed', ':',
       |                   CAST(b AS VARCHAR))), 1, 1)) > 0
       |                   THEN 1 ELSE -1 END AS w
       |            FROM (SELECT unnest(generate_series(0, ${ClsBuckets - 1})) AS b)),
       |tk AS (SELECT doc_id, unnest($normToks) AS token FROM documents),
       |tb AS (SELECT doc_id, bucket, count(*) AS c FROM (
       |         SELECT doc_id, CAST(concat('0x', substr(md5(token), 1, 4)) AS BIGINT)
       |                        % $ClsBuckets AS bucket
       |         FROM tk) GROUP BY doc_id, bucket),
       |sc AS (SELECT tb.doc_id, CAST(sum(tb.c) AS BIGINT) AS n_tokens,
       |              CAST(sum(tb.c * wt.w) AS BIGINT) AS score
       |       FROM tb JOIN wt USING (bucket) GROUP BY tb.doc_id)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q110_hard_examples" ->
      s"""WITH $clsChainSql,
         |hd AS (SELECT d.source, sc.doc_id, abs(sc.score) AS margin
         |       FROM sc JOIN documents d ON sc.doc_id = d.doc_id),
         |rk AS (SELECT source, doc_id, margin,
         |              row_number() OVER (PARTITION BY source
         |                ORDER BY margin ASC, doc_id ASC) AS rank
         |       FROM hd)
         |SELECT source, CAST(rank AS BIGINT) AS rank, doc_id,
         |       CAST(margin AS BIGINT) AS margin
         |FROM rk WHERE rank <= $HardK
         |ORDER BY source, rank""".stripMargin,
    "q94_bpe_merges" -> {
      val union = (1 to BpeRounds).map(r =>
        s"SELECT CAST($r AS BIGINT) AS merge_round, lhs, rhs, lhs || rhs AS merged, pair_n FROM ch$r")
        .mkString("\n  UNION ALL ")
      s"""WITH $bpeChainSql
         |SELECT * FROM (
         |  $union
         |) ORDER BY merge_round""".stripMargin
    },
    "q100_bpe_tokenize" ->
      s"""WITH $bpeChainSql
         |SELECT tok AS symbol, CAST(sum(n) AS BIGINT) AS n_occurrences,
         |       CAST(count(DISTINCT word) AS BIGINT) AS n_words
         |FROM sg$BpeRounds GROUP BY tok ORDER BY symbol""".stripMargin,
    "q105_bpe_fertility" ->
      s"""WITH $bpeChainSql,
         |ns AS (SELECT word, CAST(count(*) AS BIGINT) AS n_sym
         |       FROM sg$BpeRounds GROUP BY word),
         |lw AS (SELECT lang, word, count(*) AS cnt
         |       FROM (SELECT lang, unnest($normToks) AS word FROM documents)
         |       GROUP BY lang, word)
         |SELECT lang, CAST(sum(lw.cnt) AS BIGINT) AS n_words,
         |       CAST(sum(lw.cnt * ns.n_sym) AS BIGINT) AS n_symbols,
         |       CAST((1000 * sum(lw.cnt * ns.n_sym)) // sum(lw.cnt) AS BIGINT)
         |         AS fertility_x1k
         |FROM lw JOIN ns USING (word)
         |GROUP BY lang ORDER BY lang""".stripMargin,
    "q109_delta_novelty" -> {
      val n = CorpusQueries.SpanN
      s"""WITH d AS (SELECT doc_id, $normToks AS t FROM documents),
         |g AS (SELECT doc_id, concat_ws(' ', ${CorpusQueries.gramSql(n)}) AS gram
         |      FROM (SELECT doc_id, t,
         |              unnest(CASE WHEN len(t) - ${n - 1} <= 0 THEN []
         |                     ELSE generate_series(1, len(t) - ${n - 1}) END) AS s
         |            FROM d)),
         |st AS (SELECT DISTINCT gram FROM g
         |       WHERE NOT (${arrivingSql.format("doc_id")})),
         |ar AS (SELECT doc_id, gram FROM g
         |       WHERE ${arrivingSql.format("doc_id")}),
         |fl AS (SELECT ar.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |              CAST(sum(CASE WHEN st.gram IS NULL THEN 1 ELSE 0 END)
         |                   AS BIGINT) AS n_novel
         |       FROM ar LEFT JOIN st ON ar.gram = st.gram
         |       GROUP BY ar.doc_id)
         |SELECT d2.doc_id, coalesce(fl.n_grams, 0) AS n_grams,
         |       coalesce(fl.n_novel, 0) AS n_novel,
         |       CAST(CASE WHEN coalesce(fl.n_grams, 0) = 0 THEN 0
         |            ELSE (1000 * fl.n_novel) // fl.n_grams END AS BIGINT)
         |         AS novel_x1k
         |FROM documents d2 LEFT JOIN fl ON d2.doc_id = fl.doc_id
         |WHERE ${arrivingSql.format("d2.doc_id")}
         |ORDER BY d2.doc_id""".stripMargin
    },
    "q106_span_corruption" ->
      s"""WITH d AS (SELECT doc_id, $normToks AS t FROM documents),
         |ps AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS nt,
         |              unnest(CASE WHEN len(t) = 0 THEN []
         |                     ELSE generate_series(0, len(t) - 1) END) AS pos
         |       FROM d),
         |hx AS (SELECT doc_id, nt, pos,
         |              md5(concat('$ScSeed', ':', CAST(doc_id AS VARCHAR), ':',
         |                  CAST(pos AS VARCHAR))) AS h
         |       FROM ps),
         |st AS (SELECT doc_id, nt, pos,
         |              1 + CAST(concat('0x', substr(h, 3, 1)) AS BIGINT) % 3 AS sl
         |       FROM hx
         |       WHERE CAST(concat('0x', substr(h, 1, 2)) AS BIGINT) < $ScStartMax),
         |cv AS (SELECT DISTINCT doc_id, p FROM (
         |         SELECT doc_id,
         |                unnest(generate_series(pos, least(pos + sl - 1, nt - 1))) AS p
         |         FROM st)),
         |il AS (SELECT doc_id, p,
         |              p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp
         |       FROM cv),
         |ag AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_masked,
         |              CAST(count(DISTINCT grp) AS BIGINT) AS n_spans
         |       FROM il GROUP BY doc_id),
         |nt AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM d)
         |SELECT nt.doc_id, nt.n_tokens,
         |       coalesce(ag.n_spans, 0) AS n_spans,
         |       coalesce(ag.n_masked, 0) AS n_masked,
         |       CAST(CASE WHEN nt.n_tokens = 0 THEN 0
         |            ELSE (1000 * coalesce(ag.n_masked, 0)) // nt.n_tokens
         |            END AS BIGINT) AS mask_x1k
         |FROM nt LEFT JOIN ag USING (doc_id)
         |ORDER BY nt.doc_id""".stripMargin,
    "q99_delta_dedup" ->
      s"""WITH ${DataPrepQueries.shingleCte},
         |mh AS (
         |  SELECT id,
         |         ${DataPrepQueries.minhashCols}
         |  FROM sh GROUP BY id),
         |banded AS (
         |  ${DataPrepQueries.bandRows}),
         |nb AS (SELECT id AS new_id, band, band_key FROM banded
         |       WHERE ${arrivingSql.format("id")}),
         |ob AS (SELECT id AS old_id, band, band_key FROM banded
         |       WHERE NOT (${arrivingSql.format("id")})),
         |ht AS (SELECT new_id AS id,
         |              CAST(count(DISTINCT old_id) AS BIGINT) AS n_corpus_matches,
         |              CAST(min(old_id) AS BIGINT) AS dup_of
         |       FROM nb JOIN ob ON nb.band = ob.band AND nb.band_key = ob.band_key
         |       GROUP BY new_id)
         |SELECT d.doc_id, coalesce(ht.n_corpus_matches, 0) AS n_corpus_matches,
         |       coalesce(ht.dup_of, -1) AS dup_of,
         |       CAST(CASE WHEN ht.id IS NULL THEN 1 ELSE 0 END AS INT) AS novel
         |FROM documents d LEFT JOIN ht ON d.doc_id = ht.id
         |WHERE ${arrivingSql.format("d.doc_id")}
         |ORDER BY d.doc_id""".stripMargin,
    "q95_semdedup" -> {
      val t2 = SemMinCosX100 * SemMinCosX100
      s"""WITH $lloydAssignSql,
         |vv AS (SELECT q.id, q.vq, a2.cluster,
         |              CAST(list_sum(list_transform(generate_series(1, len(q.vq)),
         |                   i -> q.vq[i] * q.vq[i])) AS BIGINT) AS n2
         |       FROM q JOIN a2 ON q.id = a2.id),
         |cp AS (SELECT x.id AS id_a, y.id AS id_b,
         |              CAST(list_sum(list_transform(generate_series(1, len(x.vq)),
         |                   i -> x.vq[i] * y.vq[i])) AS BIGINT) AS dot,
         |              x.n2 AS n2_a, y.n2 AS n2_b
         |       FROM vv x JOIN vv y ON x.cluster = y.cluster AND x.id < y.id),
         |cl AS (SELECT id_a, id_b FROM cp
         |       WHERE dot > 0 AND dot * dot * 10000 >= $t2 * n2_a * n2_b),
         |dr AS (SELECT id_b AS id, CAST(count(*) AS BIGINT) AS n_close_lower,
         |              CAST(min(id_a) AS BIGINT) AS dup_of
         |       FROM cl GROUP BY id_b)
         |SELECT vv.id AS vec_id, vv.cluster,
         |       coalesce(dr.n_close_lower, 0) AS n_close_lower,
         |       coalesce(dr.dup_of, -1) AS dup_of,
         |       CAST(CASE WHEN dr.id IS NULL THEN 1 ELSE 0 END AS INT) AS kept
         |FROM vv LEFT JOIN dr ON vv.id = dr.id
         |ORDER BY vec_id""".stripMargin
    },
    "q96_lm_familiarity" ->
      s"""WITH d AS (SELECT doc_id, $normToks AS t FROM documents),
         |tri AS (SELECT doc_id, unnest(CASE WHEN len(t) - 2 <= 0 THEN []
         |          ELSE list_transform(generate_series(1, len(t) - 2),
         |               i -> concat_ws(' ', t[i], t[i+1], t[i+2])) END) AS tri
         |        FROM d),
         |dt AS (SELECT doc_id, tri, count(*) AS c FROM tri GROUP BY doc_id, tri),
         |lm AS (SELECT tri, count(*) AS n_tri FROM tri GROUP BY tri),
         |sc AS (SELECT dt.doc_id, CAST(sum(dt.c) AS BIGINT) AS n_tris,
         |              CAST(sum(dt.c * lm.n_tri) AS BIGINT) AS fam_sum
         |       FROM dt JOIN lm ON dt.tri = lm.tri GROUP BY dt.doc_id),
         |f AS (SELECT d2.doc_id,
         |             coalesce(sc.n_tris, 0) AS n_tris,
         |             coalesce(sc.fam_sum, 0) AS fam_sum,
         |             CAST(CASE WHEN coalesce(sc.n_tris, 0) = 0 THEN 0
         |                  ELSE (1000 * sc.fam_sum) // sc.n_tris END AS BIGINT)
         |               AS mean_x1k
         |      FROM documents d2 LEFT JOIN sc ON d2.doc_id = sc.doc_id)
         |SELECT doc_id, n_tris, fam_sum, mean_x1k,
         |       CAST(CASE WHEN mean_x1k >= $FamX1k THEN 1 ELSE 0 END AS INT)
         |         AS familiar
         |FROM f ORDER BY doc_id""".stripMargin,
    "q97_quality_classifier" ->
      s"""WITH $clsChainSql
         |SELECT d.doc_id, coalesce(sc.n_tokens, 0) AS n_tokens,
         |       coalesce(sc.score, 0) AS score,
         |       CAST(CASE WHEN coalesce(sc.score, 0) >= 0 THEN 1 ELSE 0 END AS INT)
         |         AS keep_doc
         |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "q98_kcenter_coreset" -> {
      val d0 = qdistSql.format("v.qv", "v.qv", "s.cqv", "v.qv", "s.cqv")
      val rounds = (1 until KCenterK).map(kcRoundSql).mkString(",\n")
      val union = (1 until KCenterK).map(r =>
        s"SELECT CAST($r AS BIGINT) AS sel_round, cid AS vec_id, cd AS radius_d2 FROM c$r")
        .mkString("\n  UNION ALL ")
      s"""WITH v AS (SELECT vec_id AS id, $quantVec AS qv FROM embeddings),
         |s0 AS (SELECT id AS cid, qv AS cqv FROM v
         |       ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT 1),
         |m0 AS (SELECT v.id, v.qv, $d0 AS d FROM v, s0 s),
         |$rounds
         |SELECT * FROM (
         |  SELECT CAST(0 AS BIGINT) AS sel_round, cid AS vec_id,
         |         CAST(0 AS BIGINT) AS radius_d2 FROM s0
         |  UNION ALL $union
         |) ORDER BY sel_round""".stripMargin
    }
  )
}
