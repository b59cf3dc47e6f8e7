package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._
import graft.ops.{Dedup, Graph}

/** Round-8 wave-46 reporting capstone: the per-source data card — the
  * one-table answer to "what is actually IN this corpus, per source",
  * composing the board's curation signals (quality gate, exact dup,
  * near dup, language purity, classifier score) into the summary every
  * dataset release ships. The composition proof for the curation
  * family, the way q199 is for retrieval.
  *
  * Oracle conventions as the sibling modules: exact integers
  * end-to-end, identical aliases both sides, ORDER BY a unique key.
  */
object CardQueries {

  /** X304 — per-source data card: docs, chars, tokens, q26 quality
    * keep-rate ×10⁴, exact-duplicate share ×10⁴ (fingerprint group
    * size > 1), near-duplicate share ×10⁴ (member of any pinned
    * Jaccard ≥ q16-τ pair), language purity ×10⁴ (share in the
    * source's majority language, ties → lexicographic min), and mean
    * classifier score ×10³ (floor) — ONE text pass feeds the metric /
    * fingerprint columns, every other signal is a per-source aggregate
    * over an already-staged core.
    *
    * Scale: the text pass is map-only into |sources|-row aggregates;
    * the dup joins shuffle fingerprints and pair ids (≪ corpus); the
    * score join rides the pinned core. */
  def q276_source_data_card(spark: SparkSession, dir: String): DataFrame = {
    import DataPrepQueries.{ShingleN, JaccardMinX10k, JaccardMaxDf}
    // qualityMetrics emits its own n_chars (text length) — the table's
    // n_chars column is the one the card reports, so drop the metric twin
    val metrics = qualityMetrics(col("text"))
      .filter(_._1 != "n_chars").map { case (n, c) => c.as(n) }
    val base = graft.ops.Materialize.checkpoint(Dedup.spread(Tables.documents(spark, dir))
      .select(Seq(col("doc_id"), col("source"), col("lang"),
        col("n_chars").cast("long").as("n_chars"),
        fingerprint(col("text")).as("fp")) ++ metrics: _*)
      .withColumn("keep",
        (col("n_tokens") >= 10 && col("n_tokens") <= 500 &&
          col("stop_per_10k") <= 3000 &&
          col("mean_tok_len_x100") >= 200 && col("mean_tok_len_x100") <= 800)
          .cast("long")))
    val core = base.groupBy("source").agg(
      count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"),
      sum("n_tokens").as("total_tokens"), sum("keep").as("n_keep"))
    val dupG = base.groupBy("fp").agg(count(lit(1)).as("gsz"))
    val exactDup = base.join(dupG, "fp").filter(col("gsz") > 1)
      .groupBy("source").agg(count(lit(1)).as("n_exact_dup"))
    val pairIds = Dedup.jaccardPairsPinned(spark, dir, ShingleN, JaccardMinX10k, JaccardMaxDf)
      .select(explode(array(col("id_a"), col("id_b"))).as("doc_id")).distinct()
    val nearDup = base.join(pairIds, "doc_id")
      .groupBy("source").agg(count(lit(1)).as("n_near_dup"))
    val langC = base.groupBy("source", "lang").agg(count(lit(1)).as("c"))
    val purity = langC.groupBy("source").agg(max("c").as("n_major"))
    val scores = TrainPrepQueries.classifierScores(spark, dir)
      .select(col("doc_id"), col("score"))
    val srcScore = base.select("doc_id", "source").join(scores, "doc_id")
      .groupBy("source").agg(sum("score").as("sum_score"), count(lit(1)).as("n_scored"))
    core.join(exactDup, Seq("source"), "left")
      .join(nearDup, Seq("source"), "left")
      .join(purity, "source")
      .join(srcScore, "source")
      .na.fill(0L, Seq("n_exact_dup", "n_near_dup"))
      .select(col("source"), col("n_docs"), col("total_chars"), col("total_tokens"),
        expr("(10000 * n_keep) div n_docs").as("keep_x10k"),
        expr("(10000 * n_exact_dup) div n_docs").as("exact_dup_x10k"),
        expr("(10000 * n_near_dup) div n_docs").as("near_dup_x10k"),
        expr("(10000 * n_major) div n_docs").as("lang_purity_x10k"),
        expr("CAST(floor(1000 * sum_score / n_scored) AS BIGINT)").as("score_mean_x1k"))
      .orderBy("source")
  }

  /** X306 — customer order-count distribution (TPC-H Q13 shape): how
    * many customers placed exactly k orders, INCLUDING the zero-order
    * customers an inner join would silently drop — the left-outer-join
    * + two-level groupBy histogram (the first group keyed by the join
    * key, the second by its count). The canonical "distribution of
    * engagement" shape every retention report starts from.
    *
    * Scale: orders pre-aggregate to per-customer counts (partial
    * combine); the outer join is customer ⋈ that |customers|-bounded
    * table; the histogram is a |distinct k|-row aggregate. */
  def q277_order_count_dist(spark: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.orders(spark, dir)
      .groupBy(col("o_custkey").as("c_custkey"))
      .agg(count(lit(1)).as("n_orders"))
    Tables.customer(spark, dir).select("c_custkey")
      .join(perCust, Seq("c_custkey"), "left")
      .na.fill(0L, Seq("n_orders"))
      .groupBy("n_orders").agg(count(lit(1)).as("n_customers"))
      .orderBy(col("n_orders"))
  }

  /** Merge budgets swept (BPE rounds). */
  val BpeSweepRounds: Seq[Int] = Seq(1, 3, 5)

  /** X307 — BPE merge-budget sweep: corpus fertility (token-weighted
    * symbols per word ×10³) and symbol-vocabulary size at merge budgets
    * [[BpeSweepRounds]] — the size-vs-fertility curve that decides the
    * tokenizer's vocab budget (each merge buys compression; this is
    * where the buying flattens). One incremental training pass
    * ([[graft.ops.Bpe.segmentationSweep]]): budget r's table is the
    * shared prefix of r′ > r, so the sweep costs max(rounds) rounds.
    *
    * Scale: training runs over the DISTINCT-word vocabulary (≪ corpus,
    * one corpus pass to build); per arm two vocabulary-sized
    * aggregates. */
  def q278_bpe_budget_sweep(spark: SparkSession, dir: String): DataFrame = {
    // spread (round 11): the tokenize+explode walk runs in the scan stage
    // and a single-split corpus serialized it on one task; the cache
    // itself is post-shuffle (fine), this parallelizes the BUILD
    val vocab = graft.ops.Materialize.checkpoint(Dedup.spread(Tables.documents(spark, dir)
        .select(col("text")))
      .select(explode(wsTokens(normalizeText(col("text")))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n")))
    // Per arm ONE aggregate over the cached POSITIONAL table (round-9):
    // wsum = Σ_word n·|seg| is just sum(n) over positional rows, vocab
    // size is countDistinct(tok), and ntot = Σ_word n is arm-INDEPENDENT
    // (the cached vocab's own total). The former grouped form re-ran a
    // struct collect_list per consumer per arm (two consumers × three
    // arms) plus a re-explode for the vocab count.
    val ntot = vocab.agg(sum("n").as("ntot"))
    val arms = graft.ops.Bpe.segmentationSweepPositional(vocab, BpeSweepRounds).map {
      case (r, seg) =>
        seg.agg(sum("n").as("wsum"), countDistinct("tok").as("vocab_size"))
          .crossJoin(broadcast(ntot))
          .select(lit(r.toLong).as("rounds"), col("vocab_size"),
            expr("(1000 * wsum) div ntot").as("fertility_x1k"))
    }
    arms.reduce(_.unionByName(_)).orderBy("rounds")
  }

  /** X309 — effective corpus size: per source, the token count RAW,
    * after exact dedup (keep-first per fingerprint group), and after
    * near-dup canonicalization on top (drop every non-canonical cluster
    * member; canonical = the cluster's min id, which for
    * fingerprint-identical docs coincides with the exact keep) — plus
    * the surviving share ×10⁴. The honest "how big is this corpus
    * REALLY" table behind every token-budget plan; q276 reports dup
    * RATES, this prices them in tokens.
    *
    * Scale: one map-only text pass; exact keep is a fingerprint-keyed
    * aggregate + equijoin; near-dup drops ride the pinned pair core +
    * one edge-list CC (component_id IS the min reachable id — no
    * second aggregate needed to find the canonical). */
  def q280_effective_tokens(spark: SparkSession, dir: String): DataFrame = {
    import DataPrepQueries.{ShingleN, JaccardMinX10k, JaccardMaxDf}
    val base = graft.ops.Materialize.checkpoint(Dedup.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), col("source"), fingerprint(col("text")).as("fp"),
        size(wsTokens(normalizeText(col("text")))).cast("long").as("ntok")))
    val exKept = base
      .join(base.groupBy("fp").agg(min("doc_id").as("keep_id")), "fp")
      .filter(col("doc_id") === col("keep_id"))
      .select("doc_id", "source", "ntok")
    val comp = Graph.connectedComponents(
      Dedup.jaccardPairsPinned(spark, dir, ShingleN, JaccardMinX10k, JaccardMaxDf)
        .select("id_a", "id_b"))
    val dropNear = comp.filter(col("id") =!= col("component_id"))
      .select(col("id").as("doc_id"))
    val nearKept = exKept.join(dropNear, Seq("doc_id"), "left_anti")
    val raw = base.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("ntok").as("tok_raw"))
    val ex = exKept.groupBy("source").agg(sum("ntok").as("tok_exact"))
    val nr = nearKept.groupBy("source").agg(sum("ntok").as("tok_near"))
    raw.join(ex, Seq("source"), "left").join(nr, Seq("source"), "left")
      .na.fill(0L, Seq("tok_exact", "tok_near"))
      .withColumn("keep_x10k",
        expr("CASE WHEN tok_raw = 0 THEN 10000L ELSE (10000 * tok_near) div tok_raw END"))
      .select("source", "n_docs", "tok_raw", "tok_exact", "tok_near", "keep_x10k")
      .orderBy("source")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q276_source_data_card" -> q276_source_data_card,
    "q277_order_count_dist" -> q277_order_count_dist,
    "q278_bpe_budget_sweep" -> q278_bpe_budget_sweep,
    "q280_effective_tokens" -> q280_effective_tokens
  )

  // ---------------------------------------------------------------- oracles

  import DataPrepQueries.{shingleCte, normToks, norm, hitsSql, JaccardMaxDf,
    JaccardMinX10k}

  private def bpeSweepArmSql(r: Int): String =
    s"""SELECT CAST($r AS BIGINT) AS rounds,
       |       (SELECT CAST(count(DISTINCT tok) AS BIGINT) FROM sg$r) AS vocab_size,
       |       (SELECT CAST((1000 * sum(n)) // (SELECT sum(n) FROM v0) AS BIGINT)
       |        FROM sg$r) AS fertility_x1k""".stripMargin

  val oracles: Map[String, String] = Map(
    "q280_effective_tokens" ->
      s"""WITH RECURSIVE $shingleCte,
         |szs AS (SELECT id, count(*) AS set_size FROM sh GROUP BY id),
         |capped AS (
         |  SELECT sh.* FROM sh
         |  JOIN (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= $JaccardMaxDf) ok
         |    USING (shingle)),
         |inter AS (
         |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
         |  FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.id < b.id
         |  GROUP BY a.id, b.id),
         |prs AS (
         |  SELECT i.id_a, i.id_b FROM inter i
         |  JOIN szs sa ON sa.id = i.id_a JOIN szs sb ON sb.id = i.id_b
         |  WHERE floor(10000 * i.n_common / (sa.set_size + sb.set_size - i.n_common))
         |        >= $JaccardMinX10k),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM prs
         |          UNION ALL SELECT id_b, id_a FROM prs),
         |nodes AS (SELECT id_a AS id FROM prs UNION SELECT id_b FROM prs),
         |reach AS (SELECT id, id AS comp FROM nodes
         |          UNION
         |          SELECT e.dst AS id, r.comp FROM reach r JOIN edges e ON e.src = r.id),
         |lab AS (SELECT id, min(comp) AS component_id FROM reach GROUP BY id),
         |dropn AS (SELECT id AS doc_id FROM lab WHERE id <> component_id),
         |base AS (SELECT doc_id, source, md5($norm) AS fp,
         |                CAST(len($normToks) AS BIGINT) AS ntok
         |         FROM documents),
         |keepx AS (SELECT fp, min(doc_id) AS keep_id FROM base GROUP BY fp),
         |exk AS (SELECT b.doc_id, b.source, b.ntok
         |        FROM base b JOIN keepx k ON b.fp = k.fp AND b.doc_id = k.keep_id),
         |nrk AS (SELECT exk.* FROM exk LEFT JOIN dropn USING (doc_id)
         |        WHERE dropn.doc_id IS NULL),
         |raw AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |               CAST(sum(ntok) AS BIGINT) AS tok_raw
         |        FROM base GROUP BY source),
         |exs AS (SELECT source, CAST(sum(ntok) AS BIGINT) AS tok_exact
         |        FROM exk GROUP BY source),
         |nrs AS (SELECT source, CAST(sum(ntok) AS BIGINT) AS tok_near
         |        FROM nrk GROUP BY source)
         |SELECT raw.source, raw.n_docs, raw.tok_raw,
         |       CAST(coalesce(exs.tok_exact, 0) AS BIGINT) AS tok_exact,
         |       CAST(coalesce(nrs.tok_near, 0) AS BIGINT) AS tok_near,
         |       CAST(CASE WHEN raw.tok_raw = 0 THEN 10000
         |            ELSE (10000 * coalesce(nrs.tok_near, 0)) // raw.tok_raw END AS BIGINT)
         |         AS keep_x10k
         |FROM raw LEFT JOIN exs USING (source) LEFT JOIN nrs USING (source)
         |ORDER BY raw.source""".stripMargin,
    "q277_order_count_dist" ->
      s"""WITH pc AS (SELECT o_custkey AS c_custkey, CAST(count(*) AS BIGINT) AS n_orders
         |            FROM orders GROUP BY o_custkey)
         |SELECT coalesce(pc.n_orders, 0) AS n_orders,
         |       CAST(count(*) AS BIGINT) AS n_customers
         |FROM customer c LEFT JOIN pc USING (c_custkey)
         |GROUP BY coalesce(pc.n_orders, 0)
         |ORDER BY n_orders""".stripMargin,
    "q278_bpe_budget_sweep" ->
      s"""WITH ${TrainPrepQueries.bpeChainSqlN(BpeSweepRounds.max)}
         |${BpeSweepRounds.map(bpeSweepArmSql).mkString("", "\nUNION ALL\n", "")}
         |ORDER BY rounds""".stripMargin,
    "q276_source_data_card" ->
      s"""WITH RECURSIVE $shingleCte,
         |szs AS (SELECT id, count(*) AS set_size FROM sh GROUP BY id),
         |capped AS (
         |  SELECT sh.* FROM sh
         |  JOIN (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= $JaccardMaxDf) ok
         |    USING (shingle)),
         |inter AS (
         |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
         |  FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.id < b.id
         |  GROUP BY a.id, b.id),
         |prs AS (
         |  SELECT i.id_a, i.id_b FROM inter i
         |  JOIN szs sa ON sa.id = i.id_a JOIN szs sb ON sb.id = i.id_b
         |  WHERE floor(10000 * i.n_common / (sa.set_size + sb.set_size - i.n_common))
         |        >= $JaccardMinX10k),
         |pids AS (SELECT DISTINCT doc_id FROM (
         |           SELECT id_a AS doc_id FROM prs
         |           UNION ALL SELECT id_b AS doc_id FROM prs)),
         |${TrainPrepQueries.clsChainSql},
         |base AS (
         |  SELECT doc_id, source, lang, CAST(n_chars AS BIGINT) AS n_chars,
         |    md5($norm) AS fp,
         |    CAST(len($normToks) AS BIGINT) AS n_tokens,
         |    CAST(CASE WHEN len($normToks) > 0
         |         THEN floor(10000 * ${hitsSql("en")} / len($normToks)) ELSE 0 END AS BIGINT)
         |      AS stop_per_10k,
         |    CAST(CASE WHEN len($normToks) > 0
         |         THEN floor(100 * length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
         |                    / len($normToks)) ELSE 0 END AS BIGINT) AS mean_tok_len_x100
         |  FROM documents),
         |b2 AS (SELECT *, CAST(n_tokens >= 10 AND n_tokens <= 500 AND stop_per_10k <= 3000
         |              AND mean_tok_len_x100 >= 200 AND mean_tok_len_x100 <= 800
         |              AS BIGINT) AS keep
         |       FROM base),
         |coreagg AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |               CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |               CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |               CAST(sum(keep) AS BIGINT) AS n_keep
         |        FROM b2 GROUP BY source),
         |dupg AS (SELECT fp, count(*) AS gsz FROM b2 GROUP BY fp),
         |ed AS (SELECT source, CAST(count(*) AS BIGINT) AS n_exact_dup
         |       FROM b2 JOIN dupg USING (fp) WHERE gsz > 1 GROUP BY source),
         |nd AS (SELECT source, CAST(count(*) AS BIGINT) AS n_near_dup
         |       FROM b2 JOIN pids USING (doc_id) GROUP BY source),
         |lc AS (SELECT source, lang, count(*) AS c FROM b2 GROUP BY source, lang),
         |pur AS (SELECT source, CAST(max(c) AS BIGINT) AS n_major FROM lc GROUP BY source),
         |ss AS (SELECT b2.source, CAST(sum(sc.score) AS BIGINT) AS sum_score,
         |              CAST(count(*) AS BIGINT) AS n_scored
         |       FROM b2 JOIN sc USING (doc_id) GROUP BY b2.source)
         |SELECT coreagg.source, coreagg.n_docs, coreagg.total_chars, coreagg.total_tokens,
         |       CAST((10000 * coreagg.n_keep) // coreagg.n_docs AS BIGINT) AS keep_x10k,
         |       CAST((10000 * coalesce(ed.n_exact_dup, 0)) // coreagg.n_docs AS BIGINT)
         |         AS exact_dup_x10k,
         |       CAST((10000 * coalesce(nd.n_near_dup, 0)) // coreagg.n_docs AS BIGINT)
         |         AS near_dup_x10k,
         |       CAST((10000 * pur.n_major) // coreagg.n_docs AS BIGINT) AS lang_purity_x10k,
         |       CAST(floor(1000 * ss.sum_score / ss.n_scored) AS BIGINT) AS score_mean_x1k
         |FROM coreagg
         |LEFT JOIN ed USING (source)
         |LEFT JOIN nd USING (source)
         |JOIN pur USING (source)
         |JOIN ss USING (source)
         |ORDER BY coreagg.source""".stripMargin
  )
}
