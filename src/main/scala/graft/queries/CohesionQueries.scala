package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{Dedup, Graph, Relational}

/** Round-8 wave-76:
  *
  *  - dedup-cluster cohesion audit (q351): single-link clusters (the
  *    q33 discipline) admit CHAINS — A~B~C where A and C share
  *    nothing. Per connected component of the q16 pair graph: size,
  *    observed pairs, weakest link (min jaccard), and pair DENSITY
  *    vs the complete graph — density ≪ 10⁴ is the chain signature,
  *    and the canonicalization risk score for X141's keeper choice;
  *  - CV fold-leakage audit (q352): near-dup pairs that STRADDLE two
  *    of q229's stratified folds leak eval signal into training — the
  *    cross-validation twin of q53's train/eval decontamination. The
  *    audit grids every surviving pair by its (fold, fold) cell using
  *    the EXACT q229 assignment (per-source md5 rank mod K), so the
  *    diagonal is the safe mass and everything off it is leakage.
  */
object CohesionQueries {

  /** X382 — per-cluster cohesion census over the pinned 0.8-jaccard
    * pair graph: component id (min doc id — the CC convention), size,
    * n_pairs, min jaccard ×10⁴, density ×10⁴ = pairs / C(size, 2). */
  def q351_cluster_cohesion(spark: SparkSession, dir: String): DataFrame = {
    val pairs = graft.ops.Materialize.cache(
      Dedup.jaccardPairsPinned(spark, dir, n = DataPrepQueries.ShingleN,
          minJaccardX10k = DataPrepQueries.JaccardMinX10k,
          maxDf = DataPrepQueries.JaccardMaxDf)
        .select("id_a", "id_b", "jaccard_x10k"))
    val comp = Graph.connectedComponents(pairs)
      .select(col("id"), col("component_id"))
    val sizes = comp.groupBy("component_id").agg(count(lit(1)).as("cluster_size"))
    val perComp = pairs
      .join(comp.withColumnRenamed("id", "id_a"), "id_a")
      .groupBy("component_id")
      .agg(count(lit(1)).as("n_pairs"), min("jaccard_x10k").as("min_jaccard_x10k"))
    sizes.join(perComp, "component_id")
      .withColumn("density_x10k", expr(
        "(10000 * n_pairs) div (cluster_size * (cluster_size - 1) div 2)"))
      .select("component_id", "cluster_size", "n_pairs",
        "min_jaccard_x10k", "density_x10k")
      .orderBy("component_id")
  }

  /** X383 — fold-leakage grid: every q16 near-dup pair lands in the
    * (fold_lo, fold_hi) cell of the EXACT q229 fold assignment
    * (per-source rank over the md5 shuffle key, mod K). Off-diagonal
    * mass is leaked eval signal; share ×10⁴ prices each cell. */
  def q352_fold_leakage(spark: SparkSession, dir: String): DataFrame = {
    import SweepQueries.KFolds
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"))
      .withColumn("shuf", md5(col("doc_id").cast("string")))
    val idxd = Relational.globalIndex(docs,
      Seq(col("source"), col("shuf"), col("doc_id")), "__gidx")
    val srcOff = docs.groupBy("source").agg(count(lit(1)).as("__n"))
      .withColumn("__start", coalesce(
        sum(col("__n")).over(
          Window.partitionBy(pmod(length(col("source")), lit(1))).orderBy("source")
            .rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
    val folds = idxd.join(broadcast(srcOff), "source")
      .select(col("doc_id"),
        pmod(col("__gidx") - col("__start") - 1L, lit(KFolds)).as("fold"))
    val pairs = Dedup.jaccardPairsPinned(spark, dir, n = DataPrepQueries.ShingleN,
        minJaccardX10k = DataPrepQueries.JaccardMinX10k,
        maxDf = DataPrepQueries.JaccardMaxDf)
      .select("id_a", "id_b")
    val cells = pairs
      .join(folds.select(col("doc_id").as("id_a"), col("fold").as("fa")), "id_a")
      .join(folds.select(col("doc_id").as("id_b"), col("fold").as("fb")), "id_b")
      .select(least(col("fa"), col("fb")).as("fold_lo"),
        greatest(col("fa"), col("fb")).as("fold_hi"))
      .groupBy("fold_lo", "fold_hi").agg(count(lit(1)).as("n_pairs"))
    // the grid is <= K(K+1)/2 rows — the total rides a 1-row broadcast
    val tot = cells.agg(sum("n_pairs").as("tot"))
    cells.crossJoin(broadcast(tot))
      .withColumn("share_x10k", expr("(10000 * n_pairs) div tot"))
      .withColumn("is_cross", (col("fold_lo") =!= col("fold_hi")).cast("int"))
      .select("fold_lo", "fold_hi", "n_pairs", "share_x10k", "is_cross")
      .orderBy("fold_lo", "fold_hi")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q351_cluster_cohesion" -> q351_cluster_cohesion,
    "q352_fold_leakage" -> q352_fold_leakage
  )

  // ---------------------------------------------------------------- oracles

  import DataPrepQueries.{JaccardMaxDf, JaccardMinX10k, shingleCte}

  private val pairCte =
    s"""sizes AS (SELECT id, count(*) AS set_size FROM sh GROUP BY id),
       |capped AS (
       |  SELECT sh.* FROM sh
       |  JOIN (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= $JaccardMaxDf) ok
       |    USING (shingle)),
       |inter AS (
       |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
       |  FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.id < b.id
       |  GROUP BY a.id, b.id),
       |pj AS (
       |  SELECT i.id_a, i.id_b,
       |         CAST(floor(10000 * i.n_common / (sa.set_size + sb.set_size - i.n_common))
       |           AS BIGINT) AS jaccard_x10k
       |  FROM inter i
       |  JOIN sizes sa ON sa.id = i.id_a
       |  JOIN sizes sb ON sb.id = i.id_b
       |  WHERE floor(10000 * i.n_common / (sa.set_size + sb.set_size - i.n_common))
       |        >= $JaccardMinX10k)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q351_cluster_cohesion" ->
      s"""WITH RECURSIVE $shingleCte,
         |$pairCte,
         |ed AS (SELECT id_a AS src, id_b AS dst FROM pj
         |       UNION ALL SELECT id_b, id_a FROM pj),
         |reach AS (SELECT src AS id, src AS comp FROM ed
         |          UNION
         |          SELECT e.dst, r.comp FROM reach r JOIN ed e ON e.src = r.id),
         |lab AS (SELECT id, min(comp) AS component_id FROM reach GROUP BY id),
         |cs AS (SELECT component_id, CAST(count(*) AS BIGINT) AS cluster_size
         |       FROM lab GROUP BY component_id),
         |pc AS (SELECT l.component_id, CAST(count(*) AS BIGINT) AS n_pairs,
         |              CAST(min(p.jaccard_x10k) AS BIGINT) AS min_jaccard_x10k
         |       FROM pj p JOIN lab l ON l.id = p.id_a
         |       GROUP BY l.component_id)
         |SELECT cs.component_id, cs.cluster_size, pc.n_pairs, pc.min_jaccard_x10k,
         |       CAST((10000 * pc.n_pairs)
         |            // (cs.cluster_size * (cs.cluster_size - 1) // 2) AS BIGINT)
         |         AS density_x10k
         |FROM cs JOIN pc USING (component_id)
         |ORDER BY component_id""".stripMargin,
    "q352_fold_leakage" -> {
      import SweepQueries.KFolds
      s"""WITH $shingleCte,
         |$pairCte,
         |folds AS (SELECT doc_id,
         |                 CAST((row_number() OVER (PARTITION BY source
         |                        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1)
         |                      % $KFolds AS BIGINT) AS fold
         |          FROM documents),
         |cells AS (SELECT least(fa.fold, fb.fold) AS fold_lo,
         |                 greatest(fa.fold, fb.fold) AS fold_hi,
         |                 CAST(count(*) AS BIGINT) AS n_pairs
         |          FROM pj
         |          JOIN folds fa ON fa.doc_id = pj.id_a
         |          JOIN folds fb ON fb.doc_id = pj.id_b
         |          GROUP BY 1, 2)
         |SELECT fold_lo, fold_hi, n_pairs,
         |       CAST((10000 * n_pairs) // (SELECT sum(n_pairs) FROM cells) AS BIGINT)
         |         AS share_x10k,
         |       CAST(fold_lo != fold_hi AS INT) AS is_cross
         |FROM cells ORDER BY fold_lo, fold_hi""".stripMargin
    }
  )
}
