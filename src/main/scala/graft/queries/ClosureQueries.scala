package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions.shinglesFromTokens
import graft.ops.Dedup

/** Round-8 wave-83:
  *
  *  - pair-graph triadic closure audit (q365): among wedges A~B~C of
  *    the 0.8-jaccard pair graph, how often is A~C also a pair? High
  *    closure means near-duplicate similarity is locally transitive
  *    and single-link clustering is safe; low closure means chains
  *    (q351 prices chains per cluster; this prices the THRESHOLD's
  *    transitivity globally, one number next to q349's percolation
  *    curve). Wedge work is Σ deg² of the df-capped pair graph —
  *    bounded, never corpus-quadratic;
  *  - shingle-order sensitivity sweep (q366): the pair census at
  *    shingle order n ∈ {2, 3, 4} under the same df cap and
  *    threshold — how much of the near-dup evidence is an artifact
  *    of the n chosen (n=2 floods with collisions, n=4 starves
  *    recall; the sweep shows the corpus's own elbow). One
  *    shingle+pair pass per n, each df-capped.
  */
object ClosureQueries {

  /** X397 — triadic closure of the near-dup pair graph: pairs, wedges
    * (a < c through center b), closed wedges, closure ×10⁴. */
  def q365_triadic_closure(spark: SparkSession, dir: String): DataFrame = {
    val pairs = graft.ops.Materialize.cache(
      Dedup.jaccardPairsPinned(spark, dir, n = DataPrepQueries.ShingleN,
          minJaccardX10k = DataPrepQueries.JaccardMinX10k,
          maxDf = DataPrepQueries.JaccardMaxDf)
        .select("id_a", "id_b"))
    val e = pairs.select(col("id_a").as("u"), col("id_b").as("v"))
      .unionByName(pairs.select(col("id_b").as("u"), col("id_a").as("v")))
    val wedges = e.select(col("v").as("b"), col("u").as("a"))
      .join(e.select(col("u").as("b"), col("v").as("c")), "b")
      .filter(col("a") < col("c"))
    val closed = wedges.join(
      pairs.select(col("id_a").as("a"), col("id_b").as("c")), Seq("a", "c"))
    pairs.agg(count(lit(1)).as("n_pairs"))
      .crossJoin(wedges.agg(count(lit(1)).as("n_wedges")))
      .crossJoin(closed.agg(count(lit(1)).as("n_closed")))
      .withColumn("closure_x10k", expr(
        "CASE WHEN n_wedges = 0 THEN 0L ELSE (10000 * n_closed) div n_wedges END"))
  }

  /** Shingle orders swept by q366. */
  val SweepOrders: Seq[Int] = Seq(2, 3, 4)

  /** The sweep's own df cap — deliberately TIGHTER than the board's
    * 1000: bigram postings at the standard cap are quadratically
    * heavier by construction (pair work is Σ C(df,2)), and the sweep's
    * question is RELATIVE sensitivity across orders, which a uniform
    * tight cap answers at a bounded price (bench: 39.8 s → ~4 s at
    * sf0.1, the one over-2× plan of the session-4 board). */
  val SweepMaxDf = 200

  /** Pack base folding the shingle order into the posting doc id:
    * pid = doc_id·8 + n. Keys never mix orders (the posting key embeds n
    * too), so both ends of a pair carry the SAME n and unpack exactly;
    * doc_id < 2⁶⁰ keeps the product in a signed BIGINT, and within one
    * order the packed ids sort like doc ids, preserving
    * cappedPostingPairs' id_a < id_b contract. */
  private val SweepPack = 8L

  /** Pack envelope on the id side: doc_id ∈ [0, 2⁶⁰) keeps doc_id·8 + n
    * inside a signed BIGINT. Guarded at runtime (the q211 ADVICE class):
    * an out-of-envelope corpus fails loudly instead of silently mixing
    * pair identities across orders. */
  private val SweepPackIdMax = 1L << 60

  /** X398 — shingle-order sensitivity: per n, the surviving pair count
    * and the jaccard mass/extremes under the SAME cap and threshold. */
  def q366_shingle_sweep(spark: SparkSession, dir: String): DataFrame = {
    // Round-10, two moves beyond the per-arm form:
    //  - ONE cached tokenize pass shared by the three arms (the q111/q227
    //    token-cache pattern): each arm previously re-ran the full
    //    spread → normalize → tokenize prefix — three corpus passes;
    //  - ONE posting exchange for the whole sweep: the arm's order n rides
    //    IN the posting key (n NUL shingle) and IN the packed id (see
    //    [[SweepPack]]), so the three per-arm shuffle chains (postings,
    //    sizes, pair counts ×3) collapse into one chain over the
    //    3-order union — same pair multiset per order, fewer fixed costs.
    val toks = graft.ops.Materialize.cache(Dedup.tokensBase(Tables.documents(spark, dir)))
    val sh = graft.ops.Materialize.cache(SweepOrders.map { n =>
      toks.select(lit(n.toLong).as("sn"), col("id"),
        explode(shinglesFromTokens(col("__toks"), n)).as("shingle"))
    }.reduce(_.unionByName(_)))
    val sizes = sh.groupBy("sn", "id").agg(count(lit(1)).as("set_size"))
    val keyed = sh.select(
      concat_ws("\u0000", col("sn"), col("shingle")).as("k"),
      (when(col("id") < 0 || col("id") >= SweepPackIdMax,
        raise_error(concat(
          lit("q366: doc_id outside the [0, 2^60) pack envelope: "),
          col("id").cast("string"))).cast("long"))
        .otherwise(col("id") * SweepPack + col("sn"))).as("pid"))
    val inter = Dedup.cappedPostingPairs(keyed, "k", "pid", SweepMaxDf)
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_common"))
      .select((col("id_a") % SweepPack).as("sn"),
        expr(s"id_a div ${SweepPack}L").as("id_a"),
        expr(s"id_b div ${SweepPack}L").as("id_b"),
        col("n_common"))
    val j = inter
      .join(sizes.select(col("sn"), col("id").as("id_a"), col("set_size").as("size_a")),
        Seq("sn", "id_a"))
      .join(sizes.select(col("sn"), col("id").as("id_b"), col("set_size").as("size_b")),
        Seq("sn", "id_b"))
      .withColumn("jaccard_x10k",
        floor(lit(10000L) * col("n_common") /
          (col("size_a") + col("size_b") - col("n_common"))).cast("long"))
      .filter(col("jaccard_x10k") >= DataPrepQueries.JaccardMinX10k)
    // a zero-pair order must still report its row — left-join the agg back
    // onto the swept orders instead of relying on groupBy to produce it
    val agg = j.groupBy("sn")
      .agg(count(lit(1)).as("n_pairs"), sum("jaccard_x10k").as("sum_j"),
        max("jaccard_x10k").as("max_j"))
    import spark.implicits._
    SweepOrders.map(_.toLong).toDF("sn").join(agg, Seq("sn"), "left")
      .select(col("sn").as("shingle_n"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        expr("CASE WHEN coalesce(n_pairs, 0) = 0 THEN 0L ELSE sum_j div n_pairs END")
          .as("mean_j_x10k"),
        coalesce(col("max_j"), lit(0L)).as("max_j_x10k"))
      .orderBy("shingle_n")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q365_triadic_closure" -> q365_triadic_closure,
    "q366_shingle_sweep" -> q366_shingle_sweep
  )

  // ---------------------------------------------------------------- oracles

  import DataPrepQueries.{JaccardMaxDf, JaccardMinX10k, shingleCte}

  private def pairCteFor(n: Int, tag: String, cap: Int = JaccardMaxDf): String =
    s"""sh$tag AS (
       |  SELECT doc_id AS id, unnest(${DataPrepQueries.shinglesSql(n)}) AS shingle
       |  FROM docs),
       |sizes$tag AS (SELECT id, count(*) AS set_size FROM sh$tag GROUP BY id),
       |capped$tag AS (
       |  SELECT s.* FROM sh$tag s
       |  JOIN (SELECT shingle FROM sh$tag GROUP BY shingle
       |        HAVING count(*) <= $cap) ok USING (shingle)),
       |inter$tag AS (
       |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
       |  FROM capped$tag a JOIN capped$tag b
       |    ON a.shingle = b.shingle AND a.id < b.id
       |  GROUP BY a.id, b.id),
       |pj$tag AS (
       |  SELECT i.id_a, i.id_b,
       |         CAST(floor(10000 * i.n_common / (sa.set_size + sb.set_size - i.n_common))
       |           AS BIGINT) AS jaccard_x10k
       |  FROM inter$tag i
       |  JOIN sizes$tag sa ON sa.id = i.id_a
       |  JOIN sizes$tag sb ON sb.id = i.id_b
       |  WHERE floor(10000 * i.n_common / (sa.set_size + sb.set_size - i.n_common))
       |        >= $JaccardMinX10k)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q365_triadic_closure" ->
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
         |pj AS (
         |  SELECT i.id_a, i.id_b
         |  FROM inter i
         |  JOIN sizes sa ON sa.id = i.id_a
         |  JOIN sizes sb ON sb.id = i.id_b
         |  WHERE floor(10000 * i.n_common / (sa.set_size + sb.set_size - i.n_common))
         |        >= $JaccardMinX10k),
         |e AS (SELECT id_a AS u, id_b AS v FROM pj
         |      UNION ALL SELECT id_b, id_a FROM pj),
         |w AS (SELECT x.v AS b, x.u AS a, y.v AS c
         |      FROM e x JOIN e y ON y.u = x.v
         |      WHERE x.u < y.v),
         |cl AS (SELECT w.* FROM w JOIN pj ON pj.id_a = w.a AND pj.id_b = w.c)
         |SELECT (SELECT CAST(count(*) AS BIGINT) FROM pj) AS n_pairs,
         |       (SELECT CAST(count(*) AS BIGINT) FROM w) AS n_wedges,
         |       (SELECT CAST(count(*) AS BIGINT) FROM cl) AS n_closed,
         |       CAST(CASE WHEN (SELECT count(*) FROM w) = 0 THEN 0
         |            ELSE (10000 * (SELECT count(*) FROM cl))
         |                 // (SELECT count(*) FROM w) END AS BIGINT)
         |         AS closure_x10k""".stripMargin,
    "q366_shingle_sweep" -> {
      val ctes = SweepOrders.map(n => pairCteFor(n, s"_$n", SweepMaxDf)).mkString(",\n")
      val arms = SweepOrders.map { n =>
        s"""SELECT CAST($n AS BIGINT) AS shingle_n,
           |       CAST(count(*) AS BIGINT) AS n_pairs,
           |       CAST(CASE WHEN count(*) = 0 THEN 0
           |            ELSE sum(jaccard_x10k) // count(*) END AS BIGINT)
           |         AS mean_j_x10k,
           |       CAST(coalesce(max(jaccard_x10k), 0) AS BIGINT) AS max_j_x10k
           |FROM pj_$n""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH docs AS (SELECT doc_id, ${DataPrepQueries.normToks} AS t FROM documents),
         |$ctes
         |$arms
         |ORDER BY shingle_n""".stripMargin
    }
  )
}
