package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._
import graft.ops.Relational

/** Round-8 wave-86:
  *
  *  - KMV (bottom-k) distinct estimator + calibration (q371): the
  *    order-statistics alternative to q61's HLL — estimate =
  *    (k−1)·2⁶⁰ / h₍ₖ₎ off the k-th smallest 60-bit hash, which is
  *    EXACT integer arithmetic end-to-end (no harmonic means, no
  *    bias constants), so the estimator itself is oracle-replayable,
  *    not just flagged within tolerance. Bottom-k sketches are
  *    mergeable (union = re-bottom-k of the union) and support set
  *    algebra — per event type and k ∈ {16, 64, 256}, the estimate
  *    vs exact with signed error ×10⁴, including the n<k exact
  *    fallback branch;
  *  - char-trigram source affinity (q372): language/script closeness
  *    between sources WITHOUT any dictionary — squared cosine ×10⁴
  *    between char-3-gram count profiles. The char-trigram vocabulary
  *    is alphabet-bounded (≤ charset³), so the cross-source equijoin
  *    is vocabulary-sized at ANY corpus scale — no cap needed where
  *    word vocabularies would demand one.
  */
object KmvQueries {

  /** Bottom-k sizes calibrated. */
  val KmvKs: Seq[Int] = Seq(16, 64, 256)

  /** X403 — KMV distinct-count calibration per event type: exact
    * distinct users, bottom-k estimate at each k (exact fallback when
    * n < k), signed error ×10⁴. */
  def q371_kmv_estimate(spark: SparkSession, dir: String): DataFrame = {
    val h = Tables.events(spark, dir)
      .select(col("event_type"),
        expr("CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 15), 16, 10) AS BIGINT)")
          .as("h"))
      .distinct()
    val exact = h.groupBy("event_type").agg(count(lit(1)).as("n_exact"))
    val arms = KmvKs.map { k =>
      val kth = Relational.topKPerGroup(
          h.withColumn("negh", -col("h")), Seq("event_type"), "negh", "h", k)
        .filter(col("rank") === k)
        .select(col("event_type"), col("h").as("h_k"))
      exact.join(kth, Seq("event_type"), "left")
        .select(col("event_type"), lit(k.toLong).as("k"), col("n_exact"),
          expr(s"""CASE WHEN h_k IS NULL OR n_exact < $k THEN n_exact
                  |ELSE CAST((CAST(${k - 1} AS DECIMAL(38,0)) * 1152921504606846976)
                  |     div h_k AS BIGINT) END""".stripMargin).as("n_est"))
    }
    arms.reduce(_.unionByName(_))
      .withColumn("err_x10k", expr("(10000 * (n_est - n_exact)) div n_exact"))
      .orderBy("event_type", "k")
  }

  /** X404 — char-trigram affinity matrix between sources: squared
    * cosine ×10⁴ over 3-gram count profiles (squares/dots in
    * DECIMAL(38,0) — profile masses overflow BIGINT at corpus scale).
    *
    * Round-11 single-walk plan (was: separate norms and postings
    * branches, each recomputing the corpus gram walk because their
    * pruned exchanges are not tree-identical — JobProfile showed two
    * 6-14 s task-time walks behind a 1.1-1.4 s wall at sf0.1):
    *
    *  1. the walk runs ONCE into the (source, g) profile, with grams
    *     packed to BIGINT by [[graft.expressions.CharGramCodes]] (21
    *     bits per code point — exact bijection, so counts are identical
    *     to the string-keyed form while the aggregate hashes fixed-width
    *     longs; A/B in `OPTIMIZATION_r11.md`, commit c1b9342);
    *  2. per-gram posting lists (vocabulary-sized input — ≤ charset³
    *     rows at ANY corpus scale) emit in-row ordered pair products
    *     INCLUDING the diagonal, so the norms n2 = Σc² arrive as the
    *     (s, s) cells of the SAME pair aggregate — the whole norms
    *     branch (its aggregate, its exchange, its second corpus walk)
    *     is gone;
    *  3. the vocabulary-bounded tail (postings → pair cells → norms →
    *     sort) runs in ONE single-partition stage: `repartition(1)`
    *     above the parallel profile aggregate yields SinglePartition,
    *     which satisfies every downstream groupBy/window/sort
    *     distribution — zero further exchanges, zero broadcasts, and
    *     the diagonal reaches the off-diagonal rows through two
    *     in-partition window maxes instead of self-joins.
    *
    * Single-partition envelope: the repartitioned input is the
    * (source, g) profile, ≤ |sources| × |observed trigram vocabulary|
    * rows at ANY corpus scale (alphabet-script corpora: ~10⁴-10⁵ grams;
    * ~10⁶ rows is comfortably one task). For ideographic corpora whose
    * observed trigram vocabulary reaches 10⁷+, widen the repartition and
    * reinstate the exchange-per-aggregate tail — the plan above this
    * point is unchanged.
    */
  def q372_trigram_affinity(spark: SparkSession, dir: String): DataFrame = {
    graft.expressions.GraftFunctions.register(spark)
    // spread before the trigram explode: a single parquet file would
    // otherwise normalize + slice the whole corpus on one task (the
    // q343 lesson)
    val grams = graft.ops.Dedup.spread(Tables.documents(spark, dir))
      .select(col("source"), normalizeText(col("text")).as("s"))
      .filter(length(col("s")) >= 3)
      // within-row gram repetition collapses BEFORE the explode — one row
      // per distinct gram per doc instead of one per occurrence, so the
      // (source, g) partial aggregate hashes proportionally fewer rows;
      // sum(c) ≡ the occurrence count by associativity, profile unchanged
      .select(col("source"), explode(org.apache.spark.sql.functions.call_function(
        graft.expressions.GraftFunctions.CharGramCodesName, col("s"), lit(3))).as("e"))
      .groupBy(col("source"), col("e.g").as("g")).agg(sum(col("e.c")).as("c"))
    // pairs generated IN-ROW off per-gram posting lists (≤|sources|
    // entries each) — the Dedup posting idiom: no gram self-join
    // shuffle, the pair stream partial-aggregates map-side. slice from
    // i+1 (not i+2): the leading self-pair carries c² into the (s, s)
    // diagonal, which IS the norms table.
    val cells = grams
      .repartition(1) // vocabulary-bounded tail — see envelope note above
      .groupBy("g")
      .agg(sort_array(collect_list(struct(col("source"), col("c")))).as("ps"))
      .select(explode(expr(
        """flatten(transform(ps, (a, i) ->
          |  transform(slice(ps, i + 1, size(ps)), b -> named_struct(
          |    'sa', a.source, 'sb', b.source,
          |    'p', CAST(a.c AS DECIMAL(38,0)) * b.c))))""".stripMargin)).as("e"))
      .groupBy(col("e.sa").as("source_a"), col("e.sb").as("source_b"))
      .agg(sum(col("e.p")).as("dot"), count(lit(1)).as("n_shared_grams"))
    import org.apache.spark.sql.expressions.Window
    val diagDot = max(when(col("source_a") === col("source_b"), col("dot")))
    cells
      .withColumn("n2a", diagDot.over(Window.partitionBy("source_a")))
      .withColumn("n2b", diagDot.over(Window.partitionBy("source_b")))
      .filter(col("source_a") =!= col("source_b"))
      .select(col("source_a"), col("source_b"), col("n_shared_grams"),
        expr("CAST((10000 * dot * dot) div (n2a * n2b) AS BIGINT)").as("cos2_x10k"))
      .orderBy("source_a", "source_b")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q371_kmv_estimate" -> q371_kmv_estimate,
    "q372_trigram_affinity" -> q372_trigram_affinity
  )

  // ---------------------------------------------------------------- oracles

  import DataPrepQueries.norm

  val oracles: Map[String, String] = Map(
    "q371_kmv_estimate" -> {
      val arms = KmvKs.map { k =>
        s"""SELECT e.event_type, CAST($k AS BIGINT) AS k, e.n_exact,
           |       CAST(CASE WHEN kth.h_k IS NULL OR e.n_exact < $k THEN e.n_exact
           |            ELSE (CAST(${k - 1} AS HUGEINT) * 1152921504606846976)
           |                 // kth.h_k END AS BIGINT) AS n_est
           |FROM exact e LEFT JOIN (
           |  SELECT event_type, h AS h_k FROM rk WHERE rn = $k) kth
           |  USING (event_type)""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH h AS (SELECT DISTINCT event_type,
         |                  CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
         |                    AS BIGINT) AS h
         |           FROM events),
         |exact AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_exact
         |          FROM h GROUP BY event_type),
         |rk AS (SELECT event_type, h,
         |              row_number() OVER (PARTITION BY event_type ORDER BY h ASC) AS rn
         |       FROM h),
         |arms AS ($arms)
         |SELECT event_type, k, n_exact, n_est,
         |       CAST((10000 * (n_est - n_exact)) // n_exact AS BIGINT) AS err_x10k
         |FROM arms ORDER BY event_type, k""".stripMargin
    },
    "q372_trigram_affinity" ->
      s"""WITH d AS (SELECT source, $norm AS s FROM documents),
         |grams AS (SELECT source, g, CAST(count(*) AS BIGINT) AS c FROM (
         |            SELECT source, unnest(list_transform(
         |              generate_series(1, len(s) - 2), i -> substr(s, i, 3))) AS g
         |            FROM d WHERE len(s) >= 3)
         |          GROUP BY source, g),
         |norms AS (SELECT source, sum(CAST(c AS HUGEINT) * c) AS n2,
         |                 CAST(count(*) AS BIGINT) AS n_grams
         |          FROM grams GROUP BY source),
         |dots AS (SELECT a.source AS source_a, b.source AS source_b,
         |                sum(CAST(a.c AS HUGEINT) * b.c) AS dot,
         |                CAST(count(*) AS BIGINT) AS n_shared_grams
         |         FROM grams a JOIN grams b
         |           ON a.g = b.g AND a.source < b.source
         |         GROUP BY 1, 2)
         |SELECT d.source_a, d.source_b, d.n_shared_grams,
         |       CAST((10000 * d.dot * d.dot) // (na.n2 * nb.n2) AS BIGINT)
         |         AS cos2_x10k
         |FROM dots d
         |JOIN norms na ON na.source = d.source_a
         |JOIN norms nb ON nb.source = d.source_b
         |ORDER BY d.source_a, d.source_b""".stripMargin
  )
}
