package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{Dedup, Graph}

/** Round-8 wave-75:
  *
  *  - near-dup percolation sweep (q349): how the dedup cluster
  *    structure responds to the similarity threshold — for each τ,
  *    the surviving pair graph's component count, giant-component
  *    share and edge/node census. A threshold chosen where the giant
  *    share jumps is a threshold that CHAINS unrelated documents
  *    (single-link percolation); this is the tuning readout behind
  *    q16's fixed 0.8. One pinned-core pair pull at the loosest τ,
  *    then |τ| bounded CC runs over the (tiny) surviving pair sets;
  *  - splitter A/A uniformity audit (q350): chi² of the q70 md5
  *    splitter's 16-cell bucket histogram per source stratum (and
  *    overall) against uniform — the hash-quality check run BEFORE
  *    trusting any hash-keyed split/sample with stratified data.
  *    Exact integers: χ²×1000 = 1000·Σ(16·o−n)² / (16·n) with the
  *    square in DECIMAL(38,0) (BIGINT would overflow past ~7.5e8
  *    rows per stratum — the q255/KsDrift lesson), threshold the
  *    χ²(15 df) 95% critical value 24.996.
  */
object PercolationQueries {

  /** Sweep thresholds (jaccard ×10⁴). The loosest MUST be ≥ the pull
    * threshold below. */
  val PercolationTaus: Seq[Long] = Seq(6000L, 7000L, 8000L, 9000L)

  /** χ²(15 df) upper 5% critical value, ×1000. */
  val Chi2Crit15X1000 = 24996L

  /** X380 — percolation sweep over the df-capped jaccard pair graph:
    * per τ ∈ [[PercolationTaus]]: edges, nodes touched, components,
    * max component and giant share ×10⁴. Components via the pointer-
    * jumping DataFrame CC ([[Graph.connectedComponents]]) on the
    * already-bounded pair set — never the corpus. */
  def q349_percolation_sweep(spark: SparkSession, dir: String): DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    val pairs = graft.ops.Materialize.cache(
      Dedup.jaccardPairsPinned(spark, dir, n = DataPrepQueries.ShingleN,
          minJaccardX10k = PercolationTaus.min,
          maxDf = DataPrepQueries.JaccardMaxDf)
        .select("id_a", "id_b", "jaccard_x10k"))
    // each edge replicated to every tau it survives — the |taus| CC
    // loops collapse into ONE grouped pointer-jumping run (round count
    // = max over taus, per-round fixed cost paid once)
    val tauArr = PercolationTaus.map(t => s"${t}L").mkString("array(", ", ", ")")
    val tagged = graft.ops.Materialize.cache(pairs.select(
      explode(expr(s"filter($tauArr, t -> t <= jaccard_x10k)")).as("tau_x10k"),
      col("id_a"), col("id_b")))
    val sizes = Graph.connectedComponentsBy(tagged, "tau_x10k")
      .groupBy("tau_x10k", "component_id").agg(count(lit(1)).as("sz"))
    val stats = sizes.groupBy("tau_x10k")
      .agg(count(lit(1)).as("n_components"), sum("sz").as("n_nodes"),
        max("sz").as("max_cluster"))
    val eCnt = tagged.groupBy("tau_x10k").agg(count(lit(1)).as("n_edges"))
    // a tau can strand with zero surviving edges — the spine keeps its row
    PercolationTaus.toDF("tau_x10k")
      .join(eCnt, Seq("tau_x10k"), "left")
      .join(stats, Seq("tau_x10k"), "left")
      .na.fill(0L, Seq("n_edges", "n_nodes", "n_components", "max_cluster"))
      .select(col("tau_x10k"), col("n_edges"), col("n_nodes"),
        col("n_components"), col("max_cluster"))
      .withColumn("giant_share_x10k", expr(
        "CASE WHEN n_nodes = 0 THEN 0L ELSE (10000 * max_cluster) div n_nodes END"))
      .orderBy("tau_x10k")
  }

  /** X381 — A/A audit of the q70 splitter hash: per source (and the
    * pooled `__all__` stratum), the 16-cell bucket histogram's exact
    * χ²×1000 vs uniform, the hottest cell's share ×10⁴, and the 95%
    * pass flag. Empty cells are real terms — the (stratum × 16) spine
    * is explicit. */
  def q350_split_uniformity(spark: SparkSession, dir: String): DataFrame = {
    import AnalyticsQueries.SplitSeed
    val bucket = conv(substring(md5(concat_ws(":",
      lit(SplitSeed), col("doc_id").cast("string"))), 1, 2), 16, 10).cast("long")
    val d0 = Tables.documents(spark, dir)
      .select(col("source"), bucket.as("b256"))
      .select(col("source"), expr("b256 div 16").as("cell"))
    val d = d0.unionByName(d0.select(lit("__all__").as("source"), col("cell")))
    val counts = d.groupBy("source", "cell").agg(count(lit(1)).as("o"))
    val spine = d.select("source").distinct()
      .crossJoin(spark.range(16).select(col("id").as("cell")))
    val cells = spine.join(counts, Seq("source", "cell"), "left")
      .na.fill(0L, Seq("o"))
    val tot = d.groupBy("source").agg(count(lit(1)).as("n_docs"))
    cells.join(tot, "source")
      .groupBy("source")
      .agg(max("n_docs").as("n_docs"),
        sum(expr("CAST(16 * o - n_docs AS DECIMAL(38,0)) " +
          "* CAST(16 * o - n_docs AS DECIMAL(38,0))")).as("ss"),
        max("o").as("max_o"))
      .select(col("source"), col("n_docs"),
        expr("CAST((1000 * ss) div (16 * CAST(n_docs AS DECIMAL(38,0))) AS BIGINT)")
          .as("chi2_x1000"),
        expr("(10000 * max_o) div n_docs").as("max_cell_share_x10k"))
      .withColumn("uniform_ok",
        (col("chi2_x1000") <= Chi2Crit15X1000).cast("int"))
      .orderBy("source")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q349_percolation_sweep" -> q349_percolation_sweep,
    "q350_split_uniformity" -> q350_split_uniformity
  )

  // ---------------------------------------------------------------- oracles

  import DataPrepQueries.{JaccardMaxDf, shingleCte}

  private def tauArm(tau: Long): String =
    s"""ed$tau AS (SELECT id_a AS src, id_b AS dst FROM pj WHERE jaccard_x10k >= $tau
       |           UNION ALL
       |           SELECT id_b, id_a FROM pj WHERE jaccard_x10k >= $tau),
       |reach$tau AS (SELECT src AS id, src AS comp FROM ed$tau
       |              UNION
       |              SELECT e.dst, r.comp FROM reach$tau r JOIN ed$tau e ON e.src = r.id),
       |lab$tau AS (SELECT id, min(comp) AS comp FROM reach$tau GROUP BY id),
       |cs$tau AS (SELECT comp, count(*) AS sz FROM lab$tau GROUP BY comp),
       |st$tau AS (SELECT CAST($tau AS BIGINT) AS tau_x10k,
       |  (SELECT CAST(count(*) AS BIGINT) FROM pj WHERE jaccard_x10k >= $tau) AS n_edges,
       |  CAST(coalesce(sum(sz), 0) AS BIGINT) AS n_nodes,
       |  CAST(count(comp) AS BIGINT) AS n_components,
       |  CAST(coalesce(max(sz), 0) AS BIGINT) AS max_cluster
       |  FROM cs$tau)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q349_percolation_sweep" ->
      s"""WITH RECURSIVE $shingleCte,
         |sizes AS (SELECT id, count(*) AS set_size FROM sh GROUP BY id),
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
         |        >= ${PercolationTaus.min}),
         |${PercolationTaus.map(tauArm).mkString(",\n")}
         |SELECT tau_x10k, n_edges, n_nodes, n_components, max_cluster,
         |       CAST(CASE WHEN n_nodes = 0 THEN 0
         |            ELSE (10000 * max_cluster) // n_nodes END AS BIGINT)
         |         AS giant_share_x10k
         |FROM (${PercolationTaus.map(t => s"SELECT * FROM st$t").mkString(" UNION ALL ")})
         |ORDER BY tau_x10k""".stripMargin,
    "q350_split_uniformity" -> {
      import AnalyticsQueries.SplitSeed
      s"""WITH d0 AS (
         |  SELECT source,
         |         CAST(concat('0x', substr(md5(concat('$SplitSeed', ':',
         |           CAST(doc_id AS VARCHAR))), 1, 2)) AS BIGINT) // 16 AS cell
         |  FROM documents),
         |d AS (SELECT * FROM d0 UNION ALL SELECT '__all__' AS source, cell FROM d0),
         |counts AS (SELECT source, cell, CAST(count(*) AS BIGINT) AS o
         |           FROM d GROUP BY source, cell),
         |spine AS (SELECT DISTINCT source, c.cell
         |          FROM d, (SELECT unnest(generate_series(0, 15)) AS cell) c),
         |cells AS (SELECT s.source, s.cell, coalesce(c.o, 0) AS o
         |          FROM spine s LEFT JOIN counts c
         |            ON c.source = s.source AND c.cell = s.cell),
         |tot AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
         |        FROM d GROUP BY source),
         |agg AS (SELECT c.source, max(t.n_docs) AS n_docs,
         |               sum(CAST(16 * c.o - t.n_docs AS HUGEINT)
         |                   * CAST(16 * c.o - t.n_docs AS HUGEINT)) AS ss,
         |               max(c.o) AS max_o
         |        FROM cells c JOIN tot t USING (source) GROUP BY c.source)
         |SELECT source, n_docs,
         |       CAST((1000 * ss) // (16 * CAST(n_docs AS HUGEINT)) AS BIGINT)
         |         AS chi2_x1000,
         |       CAST((10000 * max_o) // n_docs AS BIGINT) AS max_cell_share_x10k,
         |       CAST(CASE WHEN (1000 * ss) // (16 * CAST(n_docs AS HUGEINT))
         |                      <= $Chi2Crit15X1000 THEN 1 ELSE 0 END AS INT)
         |         AS uniform_ok
         |FROM agg ORDER BY source""".stripMargin
    }
  )
}
