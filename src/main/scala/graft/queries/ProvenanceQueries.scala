package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._
import graft.ops.{Dedup, Graph, Relational}

/** Round-6 wave-33 provenance/feature operators: a leak-safe ML feature
  * snapshot (features strictly before the cutoff, label strictly
  * after), the dedup provenance report (WHICH screen caught each
  * dropped doc — the "why was my document removed" answer every corpus
  * pipeline owes its users), collocation concept clusters (connected
  * components over the high-lift bigram graph), and MRR/success@k
  * (completing the retrieval-metric family next to NDCG and AP).
  *
  * Oracle conventions as the sibling modules: exact integers
  * end-to-end, identical aliases both sides, ORDER BY a unique key.
  */
object ProvenanceQueries {

  /** Feature windows (days) and the label horizon after the cutoff. */
  val FeatWindows: Seq[Long] = Seq(7L, 14L, 30L)
  val LabelHorizonDays = 7L
  private val DayMs = 86400000L

  /** X247 — leak-safe feature snapshot: per user, activity counts over
    * trailing 7/14/30-day windows BEFORE a deterministic cutoff
    * (max day − [[LabelHorizonDays]]), days-active and recency gap —
    * and the label (any activity in the [[LabelHorizonDays]] days AT or
    * after the cutoff). The feature/label temporal wall is the q172
    * discipline extended from labels to a full feature row: no feature
    * column can see past the cutoff, so the snapshot trains without
    * leakage by construction.
    *
    * Scale: one conditional-aggregate pass over events + a 1-row
    * broadcast cutoff; label is a conditional max in the same pass. */
  def q225_feature_snapshot(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), expr(s"ts_ms div $DayMs").as("day"))
    val cut = ev.agg((max("day") - LabelHorizonDays + 1L).as("cutoff_day"))
    val winCols = FeatWindows.map(w =>
      sum((col("day") >= col("cutoff_day") - w && col("day") < col("cutoff_day"))
        .cast("long")).as(s"n_${w}d"))
    val aggs = winCols ++ Seq(
      sum((col("day") < col("cutoff_day")).cast("long")).as("n_total_before"),
      countDistinct(when(col("day") >= col("cutoff_day") - 30L &&
        col("day") < col("cutoff_day"), col("day"))).as("days_active_30d"),
      max(when(col("day") < col("cutoff_day"), col("day"))).as("last_day"),
      max((col("day") >= col("cutoff_day")).cast("long")).as("label_active"))
    ev.crossJoin(broadcast(cut))
      .groupBy("user_id")
      .agg(aggs.head, aggs.tail: _*)
      .crossJoin(broadcast(cut))
      .filter(col("n_total_before") > 0) // users born inside the label window carry no features
      .withColumn("recency_days", col("cutoff_day") - col("last_day"))
      .select(col("user_id") +: FeatWindows.map(w => col(s"n_${w}d")) :+
        col("n_total_before") :+ col("days_active_30d") :+
        col("recency_days") :+ col("label_active"): _*)
      .orderBy("user_id")
  }

  /** X248 — dedup provenance report: for every doc dropped by at least
    * one screen, WHICH families caught it — exact fingerprint (q15's
    * keep-first loser), exact-Jaccard loser (higher id of a ≥τ pair),
    * containment loser, MinHash band-collision loser — plus the screen
    * count. The audit trail a corpus pipeline publishes so a data
    * owner can see why a document was removed, and the redundancy read
    * (a doc caught by all four screens is a trivial dup; caught only
    * by containment = subset duplication the others can't see).
    *
    * Scale: every flag rides an already-sub-quadratic family on the
    * SESSION-PINNED cores (shingle + pair-intersection); the report
    * itself is four semi-join flags off the doc spine. */
  def q226_dedup_provenance(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    def losers(pairs: DataFrame): DataFrame =
      pairs.select(col("id_b").as("doc_id")).distinct()
    val exactL = Dedup.exact(docs).filter(col("is_dup") === 1)
      .select("doc_id").withColumn("exact_dup", lit(1))
    val jaccL = losers(Dedup.jaccardPairsPinned(spark, dir,
      n = DataPrepQueries.ShingleN,
      minJaccardX10k = DataPrepQueries.JaccardMinX10k,
      maxDf = DataPrepQueries.JaccardMaxDf)).withColumn("jacc_dup", lit(1))
    val contL = losers(Dedup.containmentPairsPinned(spark, dir,
      n = DataPrepQueries.ShingleN,
      minContainX10k = CurationQueries.ContainMinX10k,
      maxDf = DataPrepQueries.JaccardMaxDf)).withColumn("contain_dup", lit(1))
    val bandL = losers(Dedup.minhashLshPairs(docs,
      n = DataPrepQueries.ShingleN, bands = DataPrepQueries.MinhashBands,
      rowsPerBand = DataPrepQueries.MinhashRows)).withColumn("band_dup", lit(1))
    docs.select("doc_id")
      .join(exactL, Seq("doc_id"), "left")
      .join(jaccL, Seq("doc_id"), "left")
      .join(contL, Seq("doc_id"), "left")
      .join(bandL, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("exact_dup"), lit(0)).as("exact_dup"),
        coalesce(col("jacc_dup"), lit(0)).as("jacc_dup"),
        coalesce(col("contain_dup"), lit(0)).as("contain_dup"),
        coalesce(col("band_dup"), lit(0)).as("band_dup"))
      .withColumn("n_screens",
        (col("exact_dup") + col("jacc_dup") + col("contain_dup") + col("band_dup")).cast("long"))
      .filter(col("n_screens") >= 1L)
      .orderBy("doc_id")
  }

  /** Concept-cluster lift floor ×1k (on top of q111's pair floor). */
  val ConceptLiftX1k = 1200L

  /** X249 — collocation concept clusters: connected components over the
    * high-lift bigram graph (q111's edges at lift ≥ [[ConceptLiftX1k]],
    * pair count ≥ its floor), each cluster labeled by its
    * lexicographically-smallest member — the unsupervised phrase/
    * concept grouping a vocabulary curator reads (tokens that only
    * occur glued together form one concept). Token ids come from the
    * two-phase global index over the vocabulary (deterministic,
    * collision-free — no hashing), CC iterates the EDGE list.
    *
    * Scale: vocabulary-sized everything after the one token pass. */
  def q227_concept_clusters(spark: SparkSession, dir: String): DataFrame = {
    // tracked (round-9 A/B: edge subtree 1.69 s uncached vs 1.03 s
    // cached at sf0.1): uni and edges exchange on different keys, so the
    // normalize+tokenize pass re-ran per consumer uncached
    // spread before the cache (round 11, same as q111): a single-split
    // corpus caches as ONE partition and serializes every consumer
    val tk = graft.ops.Materialize.checkpoint(graft.ops.Dedup.spread(
        Tables.documents(spark, dir).select(col("text")))
      .select(wsTokens(normalizeText(col("text"))).as("t")))
    val uni = tk.select(explode(col("t")).as("w")).groupBy("w").agg(count(lit(1)).as("c"))
    val tot = uni.agg(sum("c").as("n_total"))
    val edges = tk.select(explode(MiningQueries.gapPairs(col("t"), 1)).as("p"))
      .select(col("p.a").as("w1"), col("p.b").as("w2"))
      .filter(col("w1") =!= col("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= MiningQueries.CollocMinPair)
      .join(uni.select(col("w").as("w1"), col("c").as("c_x")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c_y")), "w2")
      .crossJoin(broadcast(tot))
      // c_xy·n_total is corpus-pairs × corpus-tokens — BIGINT overflows
      // past ~3e15 combined (round-9 envelope audit); DECIMAL(38,0) holds
      // to 10^38, same integers at any feasible SF
      .filter(expr(
        s"CAST((1000 * CAST(c_xy AS DECIMAL(38,0)) * n_total) div (c_x * c_y) AS BIGINT) >= $ConceptLiftX1k"))
      .select("w1", "w2")
    val ids = Relational.globalIndex(uni.select("w"), Seq(col("w")), "wid")
    val eIds = edges
      .join(ids.select(col("w").as("w1"), col("wid").as("ida")), "w1")
      .join(ids.select(col("w").as("w2"), col("wid").as("idb")), "w2")
      .select("ida", "idb")
    val comp = Graph.connectedComponents(eIds, "ida", "idb")
    val labeled = ids.join(comp.withColumnRenamed("id", "wid"), Seq("wid"), "left")
      .withColumn("component_id", coalesce(col("component_id"), col("wid")))
    val concepts = labeled.groupBy("component_id")
      .agg(min("w").as("concept"), count(lit(1)).as("concept_size"))
    labeled.join(concepts, "component_id")
      .filter(col("concept_size") >= 2L)
      .select(col("w").as("token"), col("concept"), col("concept_size"))
      .orderBy("token")
  }

  /** X250 — MRR + success@k over the kNN retrieval (same-label
    * relevance, the q182/q184 convention): per label the mean
    * reciprocal rank ×10⁶ of the FIRST same-label neighbor and the
    * share of queries with any same-label hit in the top k — the
    * first-relevant metrics that complete the retrieval-eval family
    * (NDCG grades the whole list, AP the precision profile, MRR the
    * first hit).
    *
    * Scale: the session-pinned kNN artifact + ≤k-row windows per
    * query + a |labels|-row rollup. */
  def q228_mrr_at_k(spark: SparkSession, dir: String): DataFrame = {
    val lbl = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label").cast("long").as("label"))
    val hits = OlapQueries.knnGraphPinned(spark, dir)
      .join(lbl.toDF("query_id", "q_label"), "query_id")
      .join(lbl.toDF("neighbor_id", "n_label"), "neighbor_id")
      .filter(col("q_label") === col("n_label"))
      .groupBy("query_id", "q_label")
      .agg(min("rank").as("first_rank"))
    val all = lbl.select(col("vec_id").as("query_id"), col("label").as("q_label"))
      .join(hits, Seq("query_id", "q_label"), "left")
    all.groupBy(col("q_label").as("label"))
      .agg(count(lit(1)).as("n_queries"),
        sum(when(col("first_rank").isNotNull, expr("1000000 div first_rank"))
          .otherwise(0L)).as("rr_sum"),
        sum(col("first_rank").isNotNull.cast("long")).as("n_success"))
      .withColumn("mrr_x1e6", expr("rr_sum div n_queries"))
      .withColumn("success_x10k", expr("(10000 * n_success) div n_queries"))
      .select("label", "n_queries", "mrr_x1e6", "n_success", "success_x10k")
      .orderBy("label")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q225_feature_snapshot" -> q225_feature_snapshot,
    "q226_dedup_provenance" -> q226_dedup_provenance,
    "q227_concept_clusters" -> q227_concept_clusters,
    "q228_mrr_at_k" -> q228_mrr_at_k
  )

  // ---------------------------------------------------------------- oracles

  import DataPrepQueries.{normToks, norm, shingleCte, minhashCols, bandRows,
    JaccardMinX10k, JaccardMaxDf}

  val oracles: Map[String, String] = Map(
    "q225_feature_snapshot" -> {
      val winSel = FeatWindows.map(w =>
        s"CAST(sum(CASE WHEN day >= cutoff_day - $w AND day < cutoff_day THEN 1 ELSE 0 END) AS BIGINT) AS n_${w}d")
        .mkString(",\n       ")
      s"""WITH ev AS (SELECT user_id, epoch_ms(ts) // $DayMs AS day FROM events),
         |ct AS (SELECT max(day) - ${LabelHorizonDays - 1} AS cutoff_day FROM ev),
         |ag AS (SELECT user_id,
         |       $winSel,
         |       CAST(sum(CASE WHEN day < cutoff_day THEN 1 ELSE 0 END) AS BIGINT) AS n_total_before,
         |       CAST(count(DISTINCT CASE WHEN day >= cutoff_day - 30 AND day < cutoff_day
         |            THEN day END) AS BIGINT) AS days_active_30d,
         |       max(CASE WHEN day < cutoff_day THEN day END) AS last_day,
         |       CAST(max(CASE WHEN day >= cutoff_day THEN 1 ELSE 0 END) AS BIGINT) AS label_active
         |       FROM ev, ct GROUP BY user_id)
         |SELECT user_id, ${FeatWindows.map(w => s"n_${w}d").mkString(", ")},
         |       n_total_before, days_active_30d,
         |       CAST(ct.cutoff_day - last_day AS BIGINT) AS recency_days, label_active
         |FROM ag, ct WHERE n_total_before > 0
         |ORDER BY user_id""".stripMargin
    },
    "q226_dedup_provenance" ->
      s"""WITH $shingleCte,
         |sizes AS (SELECT id, count(*) AS set_size FROM sh GROUP BY id),
         |capped AS (
         |  SELECT sh.* FROM sh
         |  JOIN (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= $JaccardMaxDf) ok
         |    USING (shingle)),
         |inter AS (
         |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
         |  FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.id < b.id
         |  GROUP BY a.id, b.id),
         |scored AS (SELECT i.id_a, i.id_b, i.n_common,
         |                  sa.set_size AS size_a, sb.set_size AS size_b
         |           FROM inter i JOIN sizes sa ON sa.id = i.id_a
         |                        JOIN sizes sb ON sb.id = i.id_b),
         |jl AS (SELECT DISTINCT id_b AS doc_id FROM scored
         |       WHERE floor(10000 * n_common / (size_a + size_b - n_common)) >= $JaccardMinX10k),
         |cl AS (SELECT DISTINCT id_b AS doc_id FROM scored
         |       WHERE floor(10000 * n_common / least(size_a, size_b)) >= ${CurationQueries.ContainMinX10k}),
         |fpt AS (SELECT doc_id, md5($norm) AS fingerprint FROM documents),
         |fg AS (SELECT fingerprint, min(doc_id) AS canonical_id FROM fpt GROUP BY fingerprint),
         |el AS (SELECT fpt.doc_id FROM fpt JOIN fg USING (fingerprint)
         |       WHERE fpt.doc_id <> fg.canonical_id),
         |mh AS (
         |  SELECT id,
         |         $minhashCols
         |  FROM sh GROUP BY id),
         |banded AS (
         |  $bandRows),
         |bl AS (SELECT DISTINCT b.id AS doc_id
         |       FROM banded a JOIN banded b
         |         ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id),
         |u AS (SELECT d.doc_id,
         |             CAST(el.doc_id IS NOT NULL AS INT) AS exact_dup,
         |             CAST(jl.doc_id IS NOT NULL AS INT) AS jacc_dup,
         |             CAST(cl.doc_id IS NOT NULL AS INT) AS contain_dup,
         |             CAST(bl.doc_id IS NOT NULL AS INT) AS band_dup
         |      FROM documents d
         |      LEFT JOIN el ON el.doc_id = d.doc_id
         |      LEFT JOIN jl ON jl.doc_id = d.doc_id
         |      LEFT JOIN cl ON cl.doc_id = d.doc_id
         |      LEFT JOIN bl ON bl.doc_id = d.doc_id)
         |SELECT doc_id, exact_dup, jacc_dup, contain_dup, band_dup,
         |       CAST(exact_dup + jacc_dup + contain_dup + band_dup AS BIGINT) AS n_screens
         |FROM u WHERE exact_dup + jacc_dup + contain_dup + band_dup >= 1
         |ORDER BY doc_id""".stripMargin,
    "q227_concept_clusters" ->
      s"""WITH RECURSIVE d AS (SELECT $normToks AS t FROM documents),
         |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c
         |        FROM (SELECT unnest(t) AS w FROM d) GROUP BY w),
         |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM uni),
         |bg AS (SELECT a AS w1, b AS w2, CAST(count(*) AS BIGINT) AS c_xy
         |       FROM (${MiningQueries.gapSql(1)})
         |       WHERE a <> b
         |       GROUP BY a, b HAVING count(*) >= ${MiningQueries.CollocMinPair}),
         |ed AS (SELECT bg.w1, bg.w2
         |       FROM bg JOIN uni ux ON ux.w = bg.w1 JOIN uni uy ON uy.w = bg.w2, tot
         |       WHERE (1000 * bg.c_xy * tot.n_total) // (ux.c * uy.c) >= $ConceptLiftX1k),
         |edges AS (SELECT w1 AS src, w2 AS dst FROM ed
         |          UNION ALL SELECT w2, w1 FROM ed),
         |reach AS (SELECT w AS id, w AS comp FROM uni
         |          UNION
         |          SELECT e.dst AS id, r.comp FROM reach r JOIN edges e ON e.src = r.id),
         |lab AS (SELECT id AS token, min(comp) AS concept FROM reach GROUP BY id),
         |cs AS (SELECT concept, CAST(count(*) AS BIGINT) AS concept_size
         |       FROM lab GROUP BY concept)
         |SELECT l.token, l.concept, cs.concept_size
         |FROM lab l JOIN cs USING (concept)
         |WHERE cs.concept_size >= 2
         |ORDER BY l.token""".stripMargin,
    "q228_mrr_at_k" ->
      s"""WITH ${OlapQueries.knnChainSql},
         |knn AS (SELECT query_id, rank, neighbor_id FROM r WHERE rank <= ${OlapQueries.KnnK}),
         |lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
         |h AS (SELECT knn.query_id, la.label AS q_label,
         |             CAST(min(knn.rank) AS BIGINT) AS first_rank
         |      FROM knn JOIN lab la ON la.vec_id = knn.query_id
         |               JOIN lab lb ON lb.vec_id = knn.neighbor_id
         |      WHERE la.label = lb.label
         |      GROUP BY knn.query_id, la.label),
         |al AS (SELECT lab.vec_id AS query_id, lab.label AS q_label, h.first_rank
         |       FROM lab LEFT JOIN h ON h.query_id = lab.vec_id),
         |g AS (SELECT q_label AS label, CAST(count(*) AS BIGINT) AS n_queries,
         |             CAST(sum(CASE WHEN first_rank IS NOT NULL
         |                  THEN 1000000 // first_rank ELSE 0 END) AS BIGINT) AS rr_sum,
         |             CAST(sum(CASE WHEN first_rank IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |               AS n_success
         |      FROM al GROUP BY q_label)
         |SELECT label, n_queries, CAST(rr_sum // n_queries AS BIGINT) AS mrr_x1e6,
         |       n_success, CAST((10000 * n_success) // n_queries AS BIGINT) AS success_x10k
         |FROM g ORDER BY label""".stripMargin
  )
}
