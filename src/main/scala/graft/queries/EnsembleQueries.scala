package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{Dedup, Relational}

/** Round-8 wave-94:
  *
  *  - dedup ensemble-vote screen (q386): the two CHEAP detectors
  *    (MinHash-LSH candidates, SimHash pigeonhole) voting per pair,
  *    scored against the exact df-capped jaccard truth — per vote
  *    level, precision and truth-recall ×10⁴. q358 audits detector
  *    pairs symmetrically; this is the PRODUCTION composition: "can
  *    agreement of the cheap screens replace the expensive exact
  *    pass, and at what recall";
  *  - watermark sizing advisor (q387): exact p50/p95/p99 of the q160
  *    arrival lateness (event-time vs per-user arrival order), each
  *    with the 2× safety recommendation — closes q160's loop from
  *    "how late is data" to "set the watermark HERE". Quantiles via
  *    the two-phase global index; no single-task sort anywhere.
  */
object EnsembleQueries {

  /** X420 — ensemble vote screen: per vote count (1 = either cheap
    * detector, 2 = both), pairs, truth hits, precision and recall vs
    * the exact pair set. */
  def q386_ensemble_votes(spark: SparkSession, dir: String): DataFrame = {
    val exact = graft.ops.Materialize.checkpoint(
      Dedup.jaccardPairsPinned(spark, dir, n = DataPrepQueries.ShingleN,
          minJaccardX10k = DataPrepQueries.JaccardMinX10k,
          maxDf = DataPrepQueries.JaccardMaxDf)
        .select(col("id_a"), col("id_b"), lit(1L).as("is_true")))
    val lsh = DataPrepQueries.lshPairsPinned(spark, dir)
      .select(col("id_a"), col("id_b"), lit(1L).as("v_lsh"))
    val sim = DataPrepQueries.simhashPairsPinned(spark, dir)
      .select(col("id_a"), col("id_b"), lit(1L).as("v_sim"))
    val votes = lsh.join(sim, Seq("id_a", "id_b"), "full_outer")
      .na.fill(0L, Seq("v_lsh", "v_sim"))
      .withColumn("votes", col("v_lsh") + col("v_sim"))
      .join(exact, Seq("id_a", "id_b"), "left")
      .na.fill(0L, Seq("is_true"))
    val truthN = exact.agg(count(lit(1)).as("n_truth"))
    votes.groupBy("votes")
      .agg(count(lit(1)).as("n_pairs"), sum("is_true").as("n_true"))
      .crossJoin(broadcast(truthN))
      .withColumn("precision_x10k", expr("(10000 * n_true) div n_pairs"))
      .withColumn("recall_x10k", expr(
        "CASE WHEN n_truth = 0 THEN 0L ELSE (10000 * n_true) div n_truth END"))
      .select("votes", "n_pairs", "n_true", "precision_x10k", "recall_x10k")
      .orderBy("votes")
  }

  /** Watermark quantiles ×100 and the safety factor. */
  val WatermarkQuantiles: Seq[Int] = Seq(50, 95, 99)

  /** X421 — watermark sizing: exact lateness quantiles over LATE
    * events (lateness > 0) + the ×2 recommendation per quantile. */
  def q387_watermark_advisor(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val late = Tables.events(spark, dir)
      .withColumn("runmax", max("ts_ms").over(w))
      .withColumn("late_ms",
        greatest(coalesce(col("runmax") - col("ts_ms"), lit(0L)), lit(0L)))
      .filter(col("late_ms") > 0)
      .select("event_id", "late_ms")
    val n = late.agg(count(lit(1)).as("n_late"))
    val spine = n.select(col("n_late"),
        explode(expr(WatermarkQuantiles
          .map(q => s"named_struct('q', ${q}L, 'pos', ($q * n_late + 99) div 100)")
          .mkString("array(", ", ", ")"))).as("p"))
      .select(col("n_late"), col("p.q").as("quantile_x100"),
        col("p.pos").as("pos"))
    val idx = Relational.globalIndex(late, Seq(col("late_ms"), col("event_id")), "rk")
    spine.join(idx, col("pos") === col("rk"), "left")
      .select(col("quantile_x100"), col("n_late"), col("pos"),
        coalesce(col("late_ms"), lit(0L)).as("late_ms"),
        (coalesce(col("late_ms"), lit(0L)) * 2).as("rec_watermark_ms"))
      .orderBy("quantile_x100")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q386_ensemble_votes" -> q386_ensemble_votes,
    "q387_watermark_advisor" -> q387_watermark_advisor
  )

  // ---------------------------------------------------------------- oracles

  import DataPrepQueries.{JaccardMaxDf, JaccardMinX10k, SimhashMaxDist,
    bandRows, minhashCols, simhashCte}

  val oracles: Map[String, String] = Map(
    "q386_ensemble_votes" -> {
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
         |votes AS (
         |  SELECT coalesce(l.id_a, s.id_a) AS id_a,
         |         coalesce(l.id_b, s.id_b) AS id_b,
         |         (CASE WHEN l.id_a IS NULL THEN 0 ELSE 1 END)
         |           + (CASE WHEN s.id_a IS NULL THEN 0 ELSE 1 END) AS votes
         |  FROM lsh l FULL OUTER JOIN simp s
         |    ON s.id_a = l.id_a AND s.id_b = l.id_b),
         |vt AS (SELECT v.votes,
         |              CASE WHEN e.id_a IS NULL THEN 0 ELSE 1 END AS is_true
         |       FROM votes v LEFT JOIN exacts e
         |         ON e.id_a = v.id_a AND e.id_b = v.id_b),
         |tn AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM exacts)
         |SELECT CAST(votes AS BIGINT) AS votes,
         |       CAST(count(*) AS BIGINT) AS n_pairs,
         |       CAST(sum(is_true) AS BIGINT) AS n_true,
         |       CAST((10000 * sum(is_true)) // count(*) AS BIGINT) AS precision_x10k,
         |       CAST(CASE WHEN max(tn.n_truth) = 0 THEN 0
         |            ELSE (10000 * sum(is_true)) // max(tn.n_truth) END AS BIGINT)
         |         AS recall_x10k
         |FROM vt CROSS JOIN tn
         |GROUP BY votes ORDER BY votes""".stripMargin
    },
    "q387_watermark_advisor" -> {
      val arms = WatermarkQuantiles
        .map(q => s"SELECT CAST($q AS BIGINT) AS quantile_x100, " +
          s"($q * n_late + 99) // 100 AS pos, n_late FROM n")
        .mkString(" UNION ALL ")
      s"""WITH l AS (
         |  SELECT event_id,
         |         greatest(coalesce(runmax - ts_ms, 0), 0) AS late_ms
         |  FROM (SELECT event_id, epoch_ms(ts) AS ts_ms,
         |               max(epoch_ms(ts)) OVER (PARTITION BY user_id
         |                 ORDER BY event_id
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS runmax
         |        FROM events)),
         |late AS (SELECT * FROM l WHERE late_ms > 0),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n_late FROM late),
         |spine AS ($arms),
         |rk AS (SELECT late_ms,
         |              CAST(row_number() OVER (ORDER BY late_ms, event_id) AS BIGINT)
         |                AS rk
         |       FROM late)
         |SELECT s.quantile_x100, s.n_late, CAST(s.pos AS BIGINT) AS pos,
         |       CAST(coalesce(rk.late_ms, 0) AS BIGINT) AS late_ms,
         |       CAST(coalesce(rk.late_ms, 0) * 2 AS BIGINT) AS rec_watermark_ms
         |FROM spine s LEFT JOIN rk ON rk.rk = s.pos
         |ORDER BY s.quantile_x100""".stripMargin
    }
  )
}
