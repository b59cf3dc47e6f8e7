package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._
import graft.ops.{Dedup, Graph}

/** Round-7 wave-42 sweep operators: duplicate-cluster threshold
  * sensitivity (how the dedup τ knob changes what you delete — the
  * dendrogram-lite read behind every "we dedup at 0.8 Jaccard" choice)
  * and the positional token heatmap (where in documents the head
  * tokens live — positional boilerplate that global frequency can't
  * see).
  *
  * Oracle conventions as the sibling modules: exact integers,
  * identical aliases both sides, ORDER BY a unique key.
  */
object ClusterSweepQueries {

  /** Jaccard thresholds swept (×10⁴). */
  val SweepTaus = Seq(5000L, 7000L, 9000L)

  /** X287 — duplicate-cluster threshold sensitivity: the near-dup pair
    * set at each τ ∈ [[SweepTaus]] resolved to connected components,
    * reported as pairs / dup docs / clusters / largest cluster — the
    * table that shows where clusters start chaining into monsters
    * (the known failure of transitive dedup at loose thresholds), so
    * the τ choice is a measurement instead of folklore. All three
    * arms ride the session-pinned intersection core; each CC runs on
    * the edge list only.
    *
    * Scale: the pair table is df-capped sub-quadratic; CC is
    * log-diameter rounds over edges; per-arm output is one row. */
  def q260_cluster_sweep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import DataPrepQueries.{ShingleN, JaccardMaxDf}
    // ONE label-propagation loop for all three arms (round-8): the arm
    // edge sets are nested (τ=9000 ⊆ 7000 ⊆ 5000), so compute the pair
    // table once at the loosest τ, explode each pair into the arm indices
    // whose threshold it clears, and PACK (arm, node) into a single long —
    // node·4 + armIdx (ids < 2⁶¹ hold through any corpus; arms never
    // connect because packed ids differ mod 4). The min-label fixpoint on
    // packed ids decodes back per arm: min(id·4 + t over component) =
    // (min id)·4 + t. Replaces three sequential CC loops (~3× the
    // iteration jobs — the round-7 board's slowest query at 4.9 s) with
    // one loop whose round count is the worst arm's.
    val nArms = SweepTaus.size
    val tauArr = s"array(${SweepTaus.mkString("L,")}L)"
    val base = Dedup.jaccardPairsPinned(spark, dir, ShingleN, SweepTaus.min, JaccardMaxDf)
      .select(col("id_a"), col("id_b"), col("jaccard_x10k"))
    val tagged = graft.ops.Materialize.checkpoint(base
      .select(col("id_a"), col("id_b"),
        explode(expr(s"filter(sequence(0, ${nArms - 1}), " +
          s"i -> jaccard_x10k >= element_at($tauArr, i + 1))")).as("arm")))
    // pack envelope (round-11 guard sweep, the q211/q366 discipline):
    // id·nArms + arm needs id < 2⁶³/nArms — out-of-envelope ids would
    // silently alias across arms. One codegen'd comparison per pair row
    // (the pair table is df-capped, so this is off the corpus path).
    val packIdMax = Long.MaxValue / nArms
    def packed(c: org.apache.spark.sql.Column) =
      when(c < 0 || c >= packIdMax,
        raise_error(concat(
          lit(s"q260: doc id outside the [0, $packIdMax) pack envelope: "),
          c.cast("string"))).cast("long"))
        .otherwise(c * nArms + col("arm"))
    val comp = Graph.connectedComponents(
      tagged.select(packed(col("id_a")).as("id_a"),
        packed(col("id_b")).as("id_b")))
      .select(pmod(col("id"), lit(nArms.toLong)).as("arm"),
        col("component_id"))
    val pc = tagged.groupBy("arm").agg(count(lit(1)).as("n_pairs"))
    val cl = comp.groupBy("arm", "component_id").agg(count(lit(1)).as("sz"))
      .groupBy("arm").agg(count(lit(1)).as("n_clusters"),
        sum("sz").as("n_dup_docs"), max("sz").as("max_cluster"))
    // spine keeps an empty arm (no pairs at its τ) in the output with zeros
    val spine = SweepTaus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("arm", "tau_x10k")
    spine.join(pc, Seq("arm"), "left").join(cl, Seq("arm"), "left")
      .select(col("tau_x10k"), coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_dup_docs"), lit(0L)).as("n_dup_docs"),
        coalesce(col("n_clusters"), lit(0L)).as("n_clusters"),
        coalesce(col("max_cluster"), lit(0L)).as("max_cluster"))
      .orderBy("tau_x10k")
  }

  /** Head tokens profiled and the position grain. */
  val HeatTopT = 10

  /** X288 — positional token heatmap: the corpus's [[HeatTopT]] head
    * tokens broken down by WHERE they occur (position decile within
    * each document) — share per decile ×10⁴ against the uniform 1000
    * baseline. Headers, footers and templated openings concentrate
    * mass at decile 0/9 while content words sit flat; this is the
    * positional boilerplate read global tf (q24) and line-df (q86)
    * both miss.
    *
    * Scale: one posexplode pass, a (top-T × 10)-bounded aggregate; the
    * top-T cut is a vocabulary-sized sort + limit broadcast back. */
  def q262_position_heatmap(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), wsTokens(normalizeText(col("text"))).as("t"))
      .select(col("doc_id"), size(col("t")).cast("long").as("nt"),
        posexplode(col("t")).as(Seq("i", "token")))
      .select(col("token"), expr("(i * 10) div nt").as("decile"))
    val tf = toks.groupBy("token").agg(count(lit(1)).as("tf"))
    val top = tf.orderBy(col("tf").desc, col("token")).limit(HeatTopT)
    toks.join(broadcast(top), "token")
      .groupBy("token", "decile")
      .agg(count(lit(1)).as("cnt"), max("tf").as("tf"))
      .select(col("token"), col("decile"), col("cnt"), col("tf"),
        expr("(10000 * cnt) div tf").as("share_x10k"))
      .orderBy("token", "decile")
  }

  /** Per-source weighting-scheme cap (weights live in [1, 100]). */
  val EssCap = 2000L

  /** X290 — mixture effective sample size (design effect): for each
    * weighting scheme a trainer actually uses — uniform, q56-style
    * cap-downsampling, inverse-frequency balancing — the Kish ESS
    * `(Σw)² div Σw²` over per-doc weights (constant within source) and
    * its per-doc share ×10⁴. Weighting always trades nominal corpus
    * size for variance; this is the number that says how much corpus
    * the scheme effectively threw away (the statistical bill for
    * q56/q107/q113's rebalancing).
    *
    * Scale: one |sources|-row aggregate per scheme, integer-exact
    * (weights scaled to ≤100 so (Σw)² holds in BIGINT through sf100). */
  def q261_mixture_ess(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(spark, dir)
      .groupBy("source").agg(count(lit(1)).as("n_docs"))
    val schemes = Seq(
      ("capped", expr(s"(100 * least(n_docs, $EssCap)) div n_docs")),
      ("inverse", expr("least(100L, greatest(1L, 1000000 div n_docs))")),
      ("uniform", lit(100L)))
    schemes.map { case (name, w) =>
      src.withColumn("w", w)
        .agg(sum("n_docs").as("n_total"),
          sum(col("n_docs") * col("w")).as("sum_w"),
          sum(col("n_docs") * col("w") * col("w")).as("sum_w2"))
        .select(lit(name).as("scheme"), col("n_total"),
          expr("(sum_w * sum_w) div sum_w2").as("ess"),
          expr("(10000 * ((sum_w * sum_w) div sum_w2)) div n_total")
            .as("ess_per_doc_x10k"))
    }.reduce(_.unionByName(_)).orderBy("scheme")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q260_cluster_sweep" -> q260_cluster_sweep,
    "q261_mixture_ess" -> q261_mixture_ess,
    "q262_position_heatmap" -> q262_position_heatmap
  )

  // ---------------------------------------------------------------- oracles

  import DataPrepQueries.{shingleCte, normToks, JaccardMaxDf}

  /** One τ arm: the q16 capped-inverted-index pair chain at `tau`, the
    * recursive-CTE component closure seeded from the pair nodes, one
    * summary row. */
  private def sweepArm(tau: Long): String =
    s"""SELECT CAST($tau AS BIGINT) AS tau_x10k, n_pairs, n_dup_docs,
       |       n_clusters, max_cluster FROM (
       |  WITH RECURSIVE $shingleCte,
       |  sizes AS (SELECT id, count(*) AS set_size FROM sh GROUP BY id),
       |  capped AS (
       |    SELECT sh.* FROM sh
       |    JOIN (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= $JaccardMaxDf) ok
       |      USING (shingle)),
       |  inter AS (
       |    SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
       |    FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.id < b.id
       |    GROUP BY a.id, b.id),
       |  pairs AS (
       |    SELECT i.id_a, i.id_b FROM inter i
       |    JOIN sizes sa ON sa.id = i.id_a JOIN sizes sb ON sb.id = i.id_b
       |    WHERE floor(10000 * i.n_common / (sa.set_size + sb.set_size - i.n_common))
       |          >= $tau),
       |  edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |            UNION ALL SELECT id_b, id_a FROM pairs),
       |  nodes AS (SELECT id_a AS id FROM pairs UNION SELECT id_b FROM pairs),
       |  reach AS (SELECT id, id AS comp FROM nodes
       |            UNION
       |            SELECT e.dst AS id, r.comp FROM reach r JOIN edges e ON e.src = r.id),
       |  lab AS (SELECT id, min(comp) AS component_id FROM reach GROUP BY id),
       |  cs AS (SELECT component_id, CAST(count(*) AS BIGINT) AS sz
       |         FROM lab GROUP BY component_id)
       |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS n_pairs,
       |         CAST(coalesce(sum(sz), 0) AS BIGINT) AS n_dup_docs,
       |         CAST(coalesce(count(*), 0) AS BIGINT) AS n_clusters,
       |         CAST(coalesce(max(sz), 0) AS BIGINT) AS max_cluster
       |  FROM cs)""".stripMargin

  private def essArmSql(name: String, wSql: String): String =
    s"""SELECT '$name' AS scheme, n_total,
       |       (sum_w * sum_w) // sum_w2 AS ess,
       |       (10000 * ((sum_w * sum_w) // sum_w2)) // n_total AS ess_per_doc_x10k
       |FROM (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
       |             CAST(sum(n_docs * w) AS BIGINT) AS sum_w,
       |             CAST(sum(n_docs * w * w) AS BIGINT) AS sum_w2
       |      FROM (SELECT n_docs, $wSql AS w
       |            FROM (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
       |                  FROM documents GROUP BY source)))""".stripMargin

  val oracles: Map[String, String] = Map(
    "q260_cluster_sweep" ->
      SweepTaus.map(sweepArm).mkString("", "\nUNION ALL\n", "\nORDER BY tau_x10k"),
    "q261_mixture_ess" -> Seq(
      essArmSql("capped", s"(100 * least(n_docs, $EssCap)) // n_docs"),
      essArmSql("inverse", "least(100, greatest(1, 1000000 // n_docs))"),
      essArmSql("uniform", "100"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY scheme"),
    "q262_position_heatmap" ->
      s"""WITH d AS (SELECT doc_id, $normToks AS t FROM documents),
         |u AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS nt,
         |             unnest(generate_series(1, len(t))) AS i, t
         |      FROM d WHERE len(t) > 0),
         |tk AS (SELECT t[i] AS token, ((i - 1) * 10) // nt AS decile FROM u),
         |tf AS (SELECT token, CAST(count(*) AS BIGINT) AS tf FROM tk GROUP BY token),
         |top AS (SELECT token, tf FROM tf ORDER BY tf DESC, token LIMIT $HeatTopT)
         |SELECT tk.token, CAST(tk.decile AS BIGINT) AS decile,
         |       CAST(count(*) AS BIGINT) AS cnt, CAST(max(top.tf) AS BIGINT) AS tf,
         |       CAST((10000 * count(*)) // max(top.tf) AS BIGINT) AS share_x10k
         |FROM tk JOIN top USING (token)
         |GROUP BY tk.token, tk.decile ORDER BY tk.token, tk.decile""".stripMargin
  )
}
