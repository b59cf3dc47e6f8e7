package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{Dedup, Graph}

/** Round-8 wave-95:
  *
  *  - semantic percolation sweep (q388): q349's percolation read
  *    pointed at EMBEDDING space — the kNN graph thresholded at
  *    fractions of the max dot product, per threshold the component
  *    census and giant share. This is the tuning curve behind q95's
  *    SemDeDup radius: the threshold where the giant component
  *    appears is where semantic dedup starts chaining unrelated
  *    clusters. One pinned-core edge pull, ONE grouped CC run across
  *    all thresholds;
  *  - chunk boundary-quality audit (q389): how often the q46 char
  *    chunker cuts mid-word — per source, internal boundaries,
  *    word-breaking cuts and their share ×10⁴, computed IN-ROW by a
  *    bounded transform over each doc's boundary positions (never an
  *    exploded chunk table). The retrieval-quality tax of stride
  *    chunking, measured.
  */
object SemanticSweepQueries {

  /** Dot-product thresholds as tenths of the max observed dot. */
  val SemTenths: Seq[Long] = Seq(5L, 6L, 7L, 8L)

  /** X422 — semantic percolation: per τ = k·max_dot/10, the kNN-edge
    * survivor census and component structure (grouped CC, one loop). */
  def q388_semantic_percolation(spark: SparkSession, dir: String): DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    val knn = OlapQueries.knnGraphPinned(spark, dir)
      .filter(col("rank") <= OlapQueries.KnnK)
      .select(col("query_id"), col("neighbor_id"), col("dot"))
    val mx = knn.agg(max("dot").as("mx"))
    val arr = SemTenths.map(t => s"${t}L").mkString("array(", ", ", ")")
    val tagged = graft.ops.Materialize.checkpoint(knn.crossJoin(broadcast(mx))
      .select(explode(expr(s"filter($arr, t -> dot >= (t * mx) div 10)")).as("k10"),
        col("query_id").as("id_a"), col("neighbor_id").as("id_b")))
    val sizes = Graph.connectedComponentsBy(tagged, "k10")
      .groupBy("k10", "component_id").agg(count(lit(1)).as("sz"))
    val stats = sizes.groupBy("k10")
      .agg(count(lit(1)).as("n_components"), sum("sz").as("n_nodes"),
        max("sz").as("max_cluster"))
    val eCnt = tagged.groupBy("k10").agg(count(lit(1)).as("n_edges"))
    SemTenths.toDF("k10")
      .join(eCnt, Seq("k10"), "left")
      .join(stats, Seq("k10"), "left")
      .na.fill(0L, Seq("n_edges", "n_nodes", "n_components", "max_cluster"))
      .crossJoin(broadcast(mx))
      .withColumn("tau_dot", expr("(k10 * mx) div 10"))
      .withColumn("giant_share_x10k", expr(
        "CASE WHEN n_nodes = 0 THEN 0L ELSE (10000 * max_cluster) div n_nodes END"))
      .select("k10", "tau_dot", "n_edges", "n_nodes", "n_components",
        "max_cluster", "giant_share_x10k")
      .orderBy("k10")
  }

  /** X423 — chunk boundary-quality: per source, internal chunk
    * boundaries, word-breaking cuts (both sides of the cut non-space)
    * and their share ×10⁴. */
  def q389_chunk_boundaries(spark: SparkSession, dir: String): DataFrame = {
    import DataPrepQueries.{ChunkSize, ChunkStride}
    val d = Tables.documents(spark, dir)
      .select(col("source"), col("text"), length(col("text")).as("len"))
      .withColumn("nb", expr(
        s"""CASE WHEN len <= $ChunkSize THEN 0L
           |ELSE CAST(floor((len - $ChunkSize + $ChunkStride - 1) / $ChunkStride)
           |  AS BIGINT) END""".stripMargin))
      .withColumn("n_breaking", expr(
        s"""CASE WHEN nb = 0 THEN 0L ELSE CAST(size(filter(
           |  sequence(0, CAST(nb AS INT) - 1),
           |  i -> substring(text, i * $ChunkStride + $ChunkSize, 1) != ' '
           |       AND substring(text, i * $ChunkStride + $ChunkSize + 1, 1) != ' '
           |       AND length(text) > i * $ChunkStride + $ChunkSize)) AS BIGINT) END"""
          .stripMargin))
    d.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("nb") > 0, 1L).otherwise(0L)).as("n_docs_chunked"),
        sum("nb").as("n_boundaries"),
        sum("n_breaking").as("n_word_breaking"))
      .withColumn("breaking_x10k", expr(
        "CASE WHEN n_boundaries = 0 THEN 0L " +
          "ELSE (10000 * n_word_breaking) div n_boundaries END"))
      .select("source", "n_docs", "n_docs_chunked", "n_boundaries",
        "n_word_breaking", "breaking_x10k")
      .orderBy("source")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q388_semantic_percolation" -> q388_semantic_percolation,
    "q389_chunk_boundaries" -> q389_chunk_boundaries
  )

  // ---------------------------------------------------------------- oracles

  private def semArm(t: Long): String =
    s"""ed$t AS (SELECT query_id AS src, neighbor_id AS dst FROM knn, mxt
       |         WHERE dot >= ($t * mxt.mx) // 10
       |         UNION ALL
       |         SELECT neighbor_id, query_id FROM knn, mxt
       |         WHERE dot >= ($t * mxt.mx) // 10),
       |reach$t AS (SELECT src AS id, src AS comp FROM ed$t
       |            UNION
       |            SELECT e.dst, r.comp FROM reach$t r JOIN ed$t e ON e.src = r.id),
       |lab$t AS (SELECT id, min(comp) AS comp FROM reach$t GROUP BY id),
       |cs$t AS (SELECT comp, count(*) AS sz FROM lab$t GROUP BY comp),
       |st$t AS (SELECT CAST($t AS BIGINT) AS k10,
       |  (SELECT CAST(count(*) AS BIGINT) FROM knn, mxt
       |   WHERE dot >= ($t * mxt.mx) // 10) AS n_edges,
       |  CAST(coalesce(sum(sz), 0) AS BIGINT) AS n_nodes,
       |  CAST(count(comp) AS BIGINT) AS n_components,
       |  CAST(coalesce(max(sz), 0) AS BIGINT) AS max_cluster
       |  FROM cs$t)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q388_semantic_percolation" ->
      s"""WITH RECURSIVE ${OlapQueries.knnChainSql},
         |knn AS (SELECT query_id, neighbor_id, dot FROM r
         |        WHERE rank <= ${OlapQueries.KnnK}),
         |mxt AS (SELECT max(dot) AS mx FROM knn),
         |${SemTenths.map(semArm).mkString(",\n")}
         |SELECT s.k10, CAST((s.k10 * mxt.mx) // 10 AS BIGINT) AS tau_dot,
         |       s.n_edges, s.n_nodes, s.n_components, s.max_cluster,
         |       CAST(CASE WHEN s.n_nodes = 0 THEN 0
         |            ELSE (10000 * s.max_cluster) // s.n_nodes END AS BIGINT)
         |         AS giant_share_x10k
         |FROM (${SemTenths.map(t => s"SELECT * FROM st$t").mkString(" UNION ALL ")}) s,
         |     mxt
         |ORDER BY s.k10""".stripMargin,
    "q389_chunk_boundaries" -> {
      import DataPrepQueries.{ChunkSize, ChunkStride}
      s"""WITH d AS (
         |  SELECT source, text, length(text) AS len,
         |         CASE WHEN length(text) <= $ChunkSize THEN 0
         |              ELSE CAST(floor((length(text) - $ChunkSize + $ChunkStride - 1)
         |                   / $ChunkStride) AS BIGINT) END AS nb
         |  FROM documents),
         |b AS (SELECT source, nb,
         |             CASE WHEN nb = 0 THEN 0
         |             ELSE len(list_filter(generate_series(0, CAST(nb AS INT) - 1),
         |               i -> substr(text, i * $ChunkStride + $ChunkSize, 1) != ' '
         |                    AND substr(text, i * $ChunkStride + $ChunkSize + 1, 1) != ' '
         |                    AND length(text) > i * $ChunkStride + $ChunkSize)) END
         |               AS n_breaking
         |      FROM d)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(CASE WHEN nb > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_docs_chunked,
         |       CAST(sum(nb) AS BIGINT) AS n_boundaries,
         |       CAST(sum(n_breaking) AS BIGINT) AS n_word_breaking,
         |       CAST(CASE WHEN sum(nb) = 0 THEN 0
         |            ELSE (10000 * sum(n_breaking)) // sum(nb) END AS BIGINT)
         |         AS breaking_x10k
         |FROM b GROUP BY source ORDER BY source""".stripMargin
    }
  )
}
