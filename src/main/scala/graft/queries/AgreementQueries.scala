package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._
import graft.ops.Dedup

/** Round-8 wave-79:
  *
  *  - marginal source novelty (q357): ingesting sources in a fixed
  *    order, how many fingerprints each source adds that no earlier
  *    source already contributed — the greedy ingest-order readout
  *    q112's symmetric overlap matrix cannot give (a source can look
  *    unique pairwise yet arrive fully covered by the union of its
  *    predecessors). Claim = min(source) per fingerprint: one grouped
  *    pass, no per-prefix rescans;
  *  - dedup-detector agreement (q358): the three near-dup detectors
  *    (exact df-capped jaccard, MinHash-LSH candidates, SimHash
  *    pigeonhole pairs) disagree by DESIGN — LSH trades recall for
  *    candidates, SimHash sees different evidence. This audits each
  *    pair of detectors' pair-sets head-to-head: overlap jaccard and
  *    both directional recalls, the numbers a pipeline consults when
  *    swapping one discipline for a cheaper one.
  */
object AgreementQueries {

  /** X388 — marginal source novelty under source-ascending ingest:
    * per source, docs, distinct fingerprints, fingerprints CLAIMED
    * (first seen here), novelty ×10⁴, and the cumulative distinct
    * corpus after this source lands. */
  def q357_source_novelty(spark: SparkSession, dir: String): DataFrame = {
    val fp = Tables.documents(spark, dir)
      .select(col("source"), fingerprint(col("text")).as("fp"))
    val bySrc = fp.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), countDistinct("fp").as("n_fps"))
    val novel = fp.groupBy("fp").agg(min("source").as("source"))
      .groupBy("source").agg(count(lit(1)).as("n_novel"))
    // |sources|-bounded cumulative frame
    val w = Window.orderBy("source")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bySrc.join(novel, Seq("source"), "left")
      .na.fill(0L, Seq("n_novel"))
      .withColumn("novelty_x10k", expr("(10000 * n_novel) div n_fps"))
      .withColumn("cum_unique", sum("n_novel").over(w))
      .select("source", "n_docs", "n_fps", "n_novel", "novelty_x10k", "cum_unique")
      .orderBy("source")
  }

  /** X389 — dedup-detector agreement: pair-set overlap between the
    * exact jaccard pairs (pinned core), the MinHash-LSH candidates
    * and the SimHash pigeonhole pairs. Per detector pair: sizes,
    * intersection, overlap jaccard ×10⁴ and both recalls ×10⁴. */
  def q358_detector_agreement(spark: SparkSession, dir: String): DataFrame = {
    val exact = graft.ops.Materialize.checkpoint(
      Dedup.jaccardPairsPinned(spark, dir, n = DataPrepQueries.ShingleN,
          minJaccardX10k = DataPrepQueries.JaccardMinX10k,
          maxDf = DataPrepQueries.JaccardMaxDf)
        .select("id_a", "id_b"))
    val lsh = DataPrepQueries.lshPairsPinned(spark, dir).select("id_a", "id_b")
    val sim = DataPrepQueries.simhashPairsPinned(spark, dir).select("id_a", "id_b")
    def arm(name: String, l: DataFrame, r: DataFrame): DataFrame = {
      val common = l.join(r, Seq("id_a", "id_b")).agg(count(lit(1)).as("n_common"))
      l.agg(count(lit(1)).as("n_left")).crossJoin(r.agg(count(lit(1)).as("n_right")))
        .crossJoin(common)
        .select(lit(name).as("pair"), col("n_left"), col("n_right"), col("n_common"))
    }
    Seq(arm("exact_vs_lsh", exact, lsh),
        arm("exact_vs_simhash", exact, sim),
        arm("lsh_vs_simhash", lsh, sim))
      .reduce(_.unionByName(_))
      .withColumn("overlap_jaccard_x10k", expr(
        "CASE WHEN n_left + n_right - n_common = 0 THEN 0L " +
          "ELSE (10000 * n_common) div (n_left + n_right - n_common) END"))
      .withColumn("recall_left_x10k",
        expr("CASE WHEN n_left = 0 THEN 0L ELSE (10000 * n_common) div n_left END"))
      .withColumn("recall_right_x10k",
        expr("CASE WHEN n_right = 0 THEN 0L ELSE (10000 * n_common) div n_right END"))
      .orderBy("pair")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q357_source_novelty" -> q357_source_novelty,
    "q358_detector_agreement" -> q358_detector_agreement
  )

  // ---------------------------------------------------------------- oracles

  import DataPrepQueries.{JaccardMaxDf, JaccardMinX10k, SimhashMaxDist,
    bandRows, minhashCols, norm, simhashCte}

  val oracles: Map[String, String] = Map(
    "q357_source_novelty" ->
      s"""WITH fp AS (SELECT source, md5($norm) AS fp FROM documents),
         |bysrc AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |                 CAST(count(DISTINCT fp) AS BIGINT) AS n_fps
         |          FROM fp GROUP BY source),
         |novel AS (SELECT source, CAST(count(*) AS BIGINT) AS n_novel FROM (
         |            SELECT fp, min(source) AS source FROM fp GROUP BY fp)
         |          GROUP BY source)
         |SELECT b.source, b.n_docs, b.n_fps,
         |       CAST(coalesce(n.n_novel, 0) AS BIGINT) AS n_novel,
         |       CAST((10000 * coalesce(n.n_novel, 0)) // b.n_fps AS BIGINT)
         |         AS novelty_x10k,
         |       CAST(sum(coalesce(n.n_novel, 0)) OVER (ORDER BY b.source
         |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |         AS cum_unique
         |FROM bysrc b LEFT JOIN novel n USING (source)
         |ORDER BY b.source""".stripMargin,
    "q358_detector_agreement" -> {
      val segRows = (0 until 4).map(s =>
        s"SELECT id, simhash, $s AS seg, (simhash >> ${16 * s}) & 65535 AS key FROM sig")
        .mkString("\n  UNION ALL ")
      s"""WITH docs0 AS (SELECT * FROM documents),
         |$simhashCte,
         |sh AS (
         |  SELECT doc_id AS id,
         |         unnest(${DataPrepQueries.shinglesSql(DataPrepQueries.ShingleN)}) AS shingle
         |  FROM docs),
         |sizes AS (SELECT id, count(*) AS set_size FROM sh GROUP BY id),
         |capped AS (
         |  SELECT sh.* FROM sh
         |  JOIN (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= $JaccardMaxDf) ok
         |    USING (shingle)),
         |inter AS (
         |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
         |  FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.id < b.id
         |  GROUP BY a.id, b.id),
         |exacts AS (
         |  SELECT i.id_a, i.id_b FROM inter i
         |  JOIN sizes sa ON sa.id = i.id_a
         |  JOIN sizes sb ON sb.id = i.id_b
         |  WHERE floor(10000 * i.n_common / (sa.set_size + sb.set_size - i.n_common))
         |        >= $JaccardMinX10k),
         |mh AS (
         |  SELECT id,
         |         $minhashCols
         |  FROM sh GROUP BY id),
         |banded AS (
         |  $bandRows),
         |lsh AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |        FROM banded a JOIN banded b
         |          ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id),
         |seg AS (
         |  $segRows),
         |simp AS (
         |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |  FROM seg a JOIN seg b ON a.seg = b.seg AND a.key = b.key AND a.id < b.id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= $SimhashMaxDist),
         |arms AS (
         |  SELECT 'exact_vs_lsh' AS pair,
         |         (SELECT count(*) FROM exacts) AS n_left,
         |         (SELECT count(*) FROM lsh) AS n_right,
         |         (SELECT count(*) FROM exacts JOIN lsh USING (id_a, id_b)) AS n_common
         |  UNION ALL
         |  SELECT 'exact_vs_simhash',
         |         (SELECT count(*) FROM exacts),
         |         (SELECT count(*) FROM simp),
         |         (SELECT count(*) FROM exacts JOIN simp USING (id_a, id_b))
         |  UNION ALL
         |  SELECT 'lsh_vs_simhash',
         |         (SELECT count(*) FROM lsh),
         |         (SELECT count(*) FROM simp),
         |         (SELECT count(*) FROM lsh JOIN simp USING (id_a, id_b)))
         |SELECT pair, CAST(n_left AS BIGINT) AS n_left,
         |       CAST(n_right AS BIGINT) AS n_right,
         |       CAST(n_common AS BIGINT) AS n_common,
         |       CAST(CASE WHEN n_left + n_right - n_common = 0 THEN 0
         |            ELSE (10000 * n_common) // (n_left + n_right - n_common) END
         |         AS BIGINT) AS overlap_jaccard_x10k,
         |       CAST(CASE WHEN n_left = 0 THEN 0
         |            ELSE (10000 * n_common) // n_left END AS BIGINT) AS recall_left_x10k,
         |       CAST(CASE WHEN n_right = 0 THEN 0
         |            ELSE (10000 * n_common) // n_right END AS BIGINT) AS recall_right_x10k
         |FROM arms ORDER BY pair""".stripMargin
    }
  )
}
