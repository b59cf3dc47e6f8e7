package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._
import graft.ops.{Dedup, Graph}

/** Round-8 wave-45 canonicalization/calibration operators: field-level
  * survivorship fusion of dup clusters (the MDM step after q33's
  * clustering — which VALUES the canonical record keeps), a
  * split-conformal score gate with its empirical-coverage audit, IPF
  * raking weights over the source×lang grid (joint-marginal balancing
  * where q56 only balances one axis), greedy vocabulary-coverage seed
  * selection (the set-cover heuristic behind coreset picking), and the
  * source×source top-vocabulary overlap matrix.
  *
  * Oracle conventions as the sibling modules: exact integers
  * end-to-end, identical aliases both sides, ORDER BY a unique key.
  */
object CanonQueries {

  /** Survivorship cluster threshold (q269's τ — the mid sweep arm). */
  val FuseTauX10k = 7000L

  /** X299 — survivorship fusion: for every near-dup cluster at
    * τ=[[FuseTauX10k]], the canonical RECORD assembled field-by-field
    * from the members — longest text wins the payload (tie → smallest
    * id), categorical fields by majority vote (tie → lexicographic
    * min). q135 picks which DOC survives; this is the master-data step
    * that picks which VALUES survive, catching the case where the
    * longest copy carries a mislabeled lang/source that the cluster
    * majority corrects.
    *
    * Scale: rides the pinned pair core + one edge-list CC; fusion is
    * per-cluster aggregates (members ≪ corpus), majority is a
    * (cluster×value)-bounded count + max-filter join. */
  def q271_survivorship(spark: SparkSession, dir: String): DataFrame = {
    import DataPrepQueries.{ShingleN, JaccardMaxDf}
    val pairs = Dedup.jaccardPairsPinned(spark, dir, ShingleN, FuseTauX10k, JaccardMaxDf)
      .select("id_a", "id_b")
    val comp = Graph.connectedComponents(pairs)
      .withColumnRenamed("id", "doc_id")
    val mem = graft.ops.Materialize.checkpoint(Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"),
        col("n_chars").cast("long").as("n_chars"))
      .join(comp, "doc_id"))
    val keep = mem.groupBy("component_id").agg(
      count(lit(1)).as("n_members"),
      max(struct(col("n_chars"), (-col("doc_id")).as("nid"))).as("kt"))
      .select(col("component_id"), col("n_members"),
        (-col("kt.nid")).as("keep_doc"), col("kt.n_chars").as("keep_chars"))
    def majority(field: String): DataFrame = {
      val c = mem.groupBy(col("component_id"), col(field))
        .agg(count(lit(1)).as("c"))
      val mx = c.groupBy("component_id").agg(max("c").as("mx"))
      c.join(mx, "component_id").filter(col("c") === col("mx"))
        .groupBy("component_id").agg(min(col(field)).as(s"${field}_canon"))
    }
    keep.join(majority("lang"), "component_id")
      .join(majority("source"), "component_id")
      .select("component_id", "n_members", "keep_doc", "keep_chars",
        "lang_canon", "source_canon")
      .orderBy("component_id")
  }

  /** Conformal miscoverage α ×10⁴ (10%). */
  val ConfAlphaX10k = 1000L

  /** X300 — split-conformal score gate: the classifier-score threshold
    * with a finite-sample coverage guarantee — nonconformity = −score
    * on the even-id calibration half, threshold = the
    * ⌈(1−α)(n+1)⌉-th smallest (nearest-rank, exact via cumulative
    * counts over DISTINCT score values, never a corpus-row window),
    * then the odd-id test half audits the empirical coverage the
    * guarantee promises (≥ 1−α in expectation). The statistically
    * honest way to turn q97's scores into a keep gate, next to q122's
    * calibration bins and q258's cost threshold.
    *
    * Scale: one score pass (pinned core) + a value-domain cumulative;
    * the audit is one broadcast-threshold filter count. */
  def q272_conformal_gate(spark: SparkSession, dir: String): DataFrame = {
    val sc = TrainPrepQueries.classifierScores(spark, dir)
      .select(col("doc_id"), col("score"))
      .withColumn("is_cal", pmod(col("doc_id"), lit(2L)) === 0L)
    val cal = sc.filter(col("is_cal")).withColumn("nc", -col("score"))
    val nCal = cal.agg(count(lit(1)).as("n_cal"))
    // k-th smallest nonconformity over the DISTINCT value domain: the
    // q259 idiom — cumulative counts over values, window partitioned by
    // a column-referencing constant so the bounded spine survives
    // EliminateWindowPartitions (the globalIndex offsets trick)
    val vals = cal.groupBy("nc").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(pmod(col("nc"), lit(1))).orderBy("nc")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val thr = vals.withColumn("cum", sum("c").over(w))
      .crossJoin(broadcast(nCal))
      .withColumn("k", expr(
        s"((${10000L - ConfAlphaX10k} * (n_cal + 1)) + 9999) div 10000"))
      .filter(col("cum") >= least(col("k"), col("n_cal")))
      .agg(min("nc").as("tau"))
    val test = sc.filter(!col("is_cal"))
    val nTest = test.agg(count(lit(1)).as("n_test"))
    val covered = test.crossJoin(broadcast(thr))
      .filter(-col("score") <= col("tau"))
      .agg(count(lit(1)).as("n_covered"))
    nCal.crossJoin(broadcast(nTest)).crossJoin(broadcast(covered))
      .crossJoin(broadcast(thr))
      .select(col("n_cal"), col("n_test"), (-col("tau")).as("thr_score"),
        lit(10000L - ConfAlphaX10k).as("target_x10k"),
        expr("(10000 * n_covered) div n_test").as("coverage_x10k"))
  }

  /** X301 — IPF raking weights (2 full rounds): per-cell ×10⁴ weights
    * over the source×lang grid that pull BOTH marginals toward
    * balanced targets (each source → N/|S| mass, each lang → N/|L|) —
    * the joint-marginal correction q56's per-source weighting can't
    * express (upweighting a source can silently skew the language
    * mix). Round = scale rows to their target mass, then columns;
    * two rounds is the classic raking depth after which residual
    * marginal error is second-order. All fixed-point ×10⁴ integer
    * arithmetic, truncating division — the oracle replays the exact
    * recurrence.
    *
    * Scale: one (source, lang) count pass; every subsequent step is
    * |S|- or |L|-sized aggregates and broadcast joins. */
  def q273_raking_weights(spark: SparkSession, dir: String): DataFrame = {
    val cells = graft.ops.Materialize.checkpoint(Tables.documents(spark, dir)
      .groupBy("source", "lang").agg(count(lit(1)).as("n_docs")))
    val tot = cells.agg(sum("n_docs").as("n_total"),
      countDistinct("source").as("n_src"), countDistinct("lang").as("n_lang"))
    val c0 = cells.crossJoin(broadcast(tot))
      .withColumn("w0", lit(10000L))
      .withColumn("row_target", expr("(n_total * 10000) div n_src"))
      .withColumn("col_target", expr("(n_total * 10000) div n_lang"))
    val rowSum = c0.groupBy("source")
      .agg(sum(col("n_docs") * col("w0")).as("rs"))
    val c1 = c0.join(broadcast(rowSum), "source")
      .withColumn("w1", expr("(w0 * row_target) div rs"))
    val colSum = c1.groupBy("lang")
      .agg(sum(col("n_docs") * col("w1")).as("cs"))
    c1.join(broadcast(colSum), "lang")
      .withColumn("w_x10k", expr("(w1 * col_target) div cs"))
      .select("source", "lang", "n_docs", "w_x10k")
      .orderBy("source", "lang")
  }

  /** Coverage-seed rounds. */
  val CoverRounds = 3

  /** X302 — greedy vocabulary-coverage seeds: [[CoverRounds]] rounds of
    * the classic set-cover heuristic over the BIGRAM vocabulary — each
    * round picks the document adding the most NOT-YET-COVERED bigrams
    * (tie → smallest id) and folds its types into the covered set
    * (greedy stops early if the universe saturates — rounds after that
    * emit nothing). The deterministic coreset-seeding read ("which
    * handful of docs span the corpus phrasing"), and the exact greedy
    * whose (1−1/e) guarantee makes it the standard first answer.
    * Bigrams, not unigrams: coverage needs a universe no single doc
    * spans.
    *
    * Scale: per round one anti-join against the covered set + a
    * per-doc gain aggregate + a 1-row TakeOrdered pick that broadcasts
    * into the next round — rounds are a FIXED constant, so the plan is
    * a bounded chain, no driver data loop. */
  def q274_coverage_seeds(spark: SparkSession, dir: String): DataFrame = {
    // ONE JOB PER ROUND (round-9; was ~4 — pick cache, covered cache,
    // broadcast builds): a greedy round needs exactly ONE row — the
    // argmax doc with its fresh-bigram set — and TakeOrdered + collect
    // IS the broadcast that round-8's pick/covered frames carried, minus
    // their per-round cache materializations. The driver-side state is
    // the covered vocabulary of ≤ CoverRounds picked docs (bounded by R
    // docs' bigrams, never corpus-scaled) fed back as an array literal;
    // the gain pass stays a single distributed map-only scan of the
    // cached per-doc bigram sets cut by TakeOrderedAndProject. Measured
    // 2.1 s → ~0.9 s at sf0.1, identical rows.
    import spark.implicits._
    val sets = graft.ops.Materialize.checkpoint(
      Dedup.spread(Tables.documents(spark, dir))
        .select(col("doc_id"), wsTokens(normalizeText(col("text"))).as("t"))
        .select(col("doc_id"), shinglesFromTokens(col("t"), 2).as("bg")))
    var covered = Array.empty[String]
    var picked = Set.empty[Long]
    var coveredTotal = 0L
    val out = Seq.newBuilder[(Long, Long, Int, Long)]
    var saturated = false
    (1 to CoverRounds).foreach { r =>
      if (!saturated) {
        // covered set ships as a BROADCAST single-row frame, not a plan
        // literal (ADVICE r9): a typedlit embeds every accumulated bigram
        // in each subsequent round's analyzed plan and every task binary,
        // so one bigram-rich pick inflates all later rounds; the broadcast
        // ships the set once per executor and keeps plans constant-size.
        // Still one job per round (the round-9 invariant).
        val withCov =
          if (covered.isEmpty) sets
          else sets.crossJoin(broadcast(Seq(Tuple1(covered.toSeq)).toDF("__cov")))
        val fresh =
          if (covered.isEmpty) col("bg")
          else array_except(col("bg"), col("__cov"))
        val eligible =
          if (picked.isEmpty) withCov
          else withCov.filter(!col("doc_id").isin(picked.toSeq: _*))
        val top = eligible
          .select(col("doc_id"), fresh.as("fresh"))
          .select(col("doc_id"), col("fresh"), size(col("fresh")).as("gain"))
          .filter(col("gain") > 0)
          .orderBy(col("gain").desc, col("doc_id")).limit(1)
          .collect()
        if (top.isEmpty) saturated = true // universe covered: later rounds emit nothing
        else {
          val row = top(0)
          val docId = row.getLong(0)
          val freshArr = row.getSeq[String](1)
          val gain = row.getInt(2)
          covered = covered ++ freshArr
          picked += docId
          coveredTotal += gain
          out += ((r.toLong, docId, gain, coveredTotal))
        }
      }
    }
    import spark.implicits._
    out.result().toDF("round", "doc_id", "gain", "covered_total")
      .orderBy("round")
  }

  /** Top-m vocabulary per source for the overlap matrix. */
  val VocabTopM = 200

  /** X303 — source-vocabulary overlap matrix: each source's top-
    * [[VocabTopM]] tokens by frequency (tie → token asc), pairwise
    * Jaccard ×10⁴ over all source pairs — which sources speak the same
    * language REGISTER (near-identical top vocabularies signal
    * redundant crawls; disjoint ones justify the mixture slot). The
    * source-level twin of q112's doc-overlap and q164's concentration.
    *
    * Scale: one token pass → (source, token) counts; the top-m cut is
    * a per-source window over the vocabulary (bounded by the token
    * domain, never corpus rows); the matrix join is |S|²-bounded on
    * top-m sets. */
  def q275_vocab_overlap(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .select(col("source"), explode(wsTokens(normalizeText(col("text")))).as("token"))
      .groupBy("source", "token").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("source").orderBy(col("cnt").desc, col("token").asc)
    val top = graft.ops.Materialize.checkpoint(counts
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= VocabTopM)
      .select("source", "token"))
    val sizes = top.groupBy("source").agg(count(lit(1)).as("sz"))
    val inter = top.toDF("s_a", "token")
      .join(top.toDF("s_b", "token"), "token")
      .filter(col("s_a") < col("s_b"))
      .groupBy("s_a", "s_b").agg(count(lit(1)).as("n_common"))
    inter
      .join(broadcast(sizes.toDF("s_a", "sz_a")), "s_a")
      .join(broadcast(sizes.toDF("s_b", "sz_b")), "s_b")
      .select(col("s_a"), col("s_b"), col("n_common"),
        expr("(10000 * n_common) div (sz_a + sz_b - n_common)").as("jaccard_x10k"))
      .orderBy("s_a", "s_b")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q271_survivorship" -> q271_survivorship,
    "q272_conformal_gate" -> q272_conformal_gate,
    "q273_raking_weights" -> q273_raking_weights,
    "q274_coverage_seeds" -> q274_coverage_seeds,
    "q275_vocab_overlap" -> q275_vocab_overlap
  )

  // ---------------------------------------------------------------- oracles

  import DataPrepQueries.{shingleCte, normToks, JaccardMaxDf}

  val oracles: Map[String, String] = Map(
    "q271_survivorship" ->
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
         |pairs AS (
         |  SELECT i.id_a, i.id_b FROM inter i
         |  JOIN sizes sa ON sa.id = i.id_a JOIN sizes sb ON sb.id = i.id_b
         |  WHERE floor(10000 * i.n_common / (sa.set_size + sb.set_size - i.n_common))
         |        >= $FuseTauX10k),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION ALL SELECT id_b, id_a FROM pairs),
         |nodes AS (SELECT id_a AS id FROM pairs UNION SELECT id_b FROM pairs),
         |reach AS (SELECT id, id AS comp FROM nodes
         |          UNION
         |          SELECT e.dst AS id, r.comp FROM reach r JOIN edges e ON e.src = r.id),
         |lab AS (SELECT id, min(comp) AS component_id FROM reach GROUP BY id),
         |mem AS (SELECT d.doc_id, d.lang, d.source, CAST(d.n_chars AS BIGINT) AS n_chars,
         |               l.component_id
         |        FROM documents d JOIN lab l ON l.id = d.doc_id),
         |nm AS (SELECT component_id, CAST(count(*) AS BIGINT) AS n_members
         |       FROM mem GROUP BY component_id),
         |kr AS (SELECT component_id, doc_id, n_chars,
         |              row_number() OVER (PARTITION BY component_id
         |                ORDER BY n_chars DESC, doc_id ASC) AS rk
         |       FROM mem),
         |keep AS (SELECT nm.component_id, nm.n_members,
         |                CAST(kr.doc_id AS BIGINT) AS keep_doc,
         |                CAST(kr.n_chars AS BIGINT) AS keep_chars
         |         FROM nm JOIN kr USING (component_id) WHERE kr.rk = 1),
         |lc AS (SELECT component_id, lang, count(*) AS c FROM mem GROUP BY component_id, lang),
         |lm AS (SELECT component_id, lang AS lang_canon FROM (
         |         SELECT *, row_number() OVER (PARTITION BY component_id
         |                   ORDER BY c DESC, lang ASC) AS rk
         |         FROM lc) WHERE rk = 1),
         |sc2 AS (SELECT component_id, source, count(*) AS c FROM mem GROUP BY component_id, source),
         |sm AS (SELECT component_id, source AS source_canon FROM (
         |         SELECT *, row_number() OVER (PARTITION BY component_id
         |                   ORDER BY c DESC, source ASC) AS rk
         |         FROM sc2) WHERE rk = 1)
         |SELECT CAST(keep.component_id AS BIGINT) AS component_id, keep.n_members,
         |       keep.keep_doc, keep.keep_chars, lm.lang_canon, sm.source_canon
         |FROM keep JOIN lm USING (component_id) JOIN sm USING (component_id)
         |ORDER BY component_id""".stripMargin,
    "q272_conformal_gate" ->
      s"""WITH ${TrainPrepQueries.clsChainSql},
         |base AS (SELECT doc_id, CAST(score AS BIGINT) AS score,
         |                doc_id % 2 = 0 AS is_cal
         |         FROM sc),
         |cal AS (SELECT -score AS nc FROM base WHERE is_cal),
         |ncal AS (SELECT CAST(count(*) AS BIGINT) AS n_cal FROM cal),
         |vals AS (SELECT nc, CAST(count(*) AS BIGINT) AS c FROM cal GROUP BY nc),
         |cum AS (SELECT nc, CAST(sum(c) OVER (ORDER BY nc
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |               AS cum
         |        FROM vals),
         |thr AS (SELECT min(nc) AS tau FROM cum, ncal
         |        WHERE cum >= least(((${10000L - ConfAlphaX10k} * (n_cal + 1)) + 9999)
         |                           // 10000, n_cal)),
         |tst AS (SELECT CAST(count(*) AS BIGINT) AS n_test,
         |               CAST(count(*) FILTER (WHERE -score <= (SELECT tau FROM thr))
         |                 AS BIGINT) AS n_covered
         |        FROM base WHERE NOT is_cal)
         |SELECT ncal.n_cal, tst.n_test,
         |       CAST(-(SELECT tau FROM thr) AS BIGINT) AS thr_score,
         |       CAST(${10000L - ConfAlphaX10k} AS BIGINT) AS target_x10k,
         |       CAST((10000 * tst.n_covered) // tst.n_test AS BIGINT) AS coverage_x10k
         |FROM ncal, tst""".stripMargin,
    "q273_raking_weights" ->
      s"""WITH cells AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs
         |               FROM documents GROUP BY source, lang),
         |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
         |               CAST(count(DISTINCT source) AS BIGINT) AS n_src,
         |               CAST(count(DISTINCT lang) AS BIGINT) AS n_lang
         |        FROM cells),
         |c0 AS (SELECT cells.*, 10000 AS w0,
         |              (tot.n_total * 10000) // tot.n_src AS row_target,
         |              (tot.n_total * 10000) // tot.n_lang AS col_target
         |       FROM cells, tot),
         |rs AS (SELECT source, CAST(sum(n_docs * w0) AS BIGINT) AS rs FROM c0 GROUP BY source),
         |c1 AS (SELECT c0.*, (c0.w0 * c0.row_target) // rs.rs AS w1
         |       FROM c0 JOIN rs USING (source)),
         |cs AS (SELECT lang, CAST(sum(n_docs * w1) AS BIGINT) AS cs FROM c1 GROUP BY lang)
         |SELECT c1.source, c1.lang, c1.n_docs,
         |       CAST((c1.w1 * c1.col_target) // cs.cs AS BIGINT) AS w_x10k
         |FROM c1 JOIN cs USING (lang)
         |ORDER BY c1.source, c1.lang""".stripMargin,
    "q274_coverage_seeds" ->
      s"""WITH d0 AS (SELECT doc_id, $normToks AS t FROM documents),
         |tk AS (SELECT DISTINCT doc_id, unnest(${DataPrepQueries.shinglesSql(2)}) AS token
         |       FROM d0),
         |p1 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS gain FROM tk
         |       GROUP BY doc_id ORDER BY gain DESC, doc_id LIMIT 1),
         |cov1 AS (SELECT DISTINCT token FROM tk JOIN p1 USING (doc_id)),
         |r2 AS (SELECT tk.doc_id, CAST(count(*) AS BIGINT) AS gain
         |       FROM tk LEFT JOIN cov1 USING (token)
         |       WHERE cov1.token IS NULL AND tk.doc_id NOT IN (SELECT doc_id FROM p1)
         |       GROUP BY tk.doc_id ORDER BY gain DESC, tk.doc_id LIMIT 1),
         |cov2 AS (SELECT token FROM cov1
         |         UNION SELECT DISTINCT token FROM tk JOIN r2 USING (doc_id)),
         |r3 AS (SELECT tk.doc_id, CAST(count(*) AS BIGINT) AS gain
         |       FROM tk LEFT JOIN cov2 USING (token)
         |       WHERE cov2.token IS NULL
         |         AND tk.doc_id NOT IN (SELECT doc_id FROM p1)
         |         AND tk.doc_id NOT IN (SELECT doc_id FROM r2)
         |       GROUP BY tk.doc_id ORDER BY gain DESC, tk.doc_id LIMIT 1),
         |un AS (SELECT 1 AS round, doc_id, gain FROM p1
         |       UNION ALL SELECT 2, doc_id, gain FROM r2
         |       UNION ALL SELECT 3, doc_id, gain FROM r3)
         |SELECT CAST(round AS BIGINT) AS round, doc_id, gain,
         |       CAST(sum(gain) OVER (ORDER BY round
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |         AS covered_total
         |FROM un ORDER BY round""".stripMargin,
    "q275_vocab_overlap" ->
      s"""WITH tk AS (SELECT source, unnest($normToks) AS token FROM documents),
         |cnt AS (SELECT source, token, CAST(count(*) AS BIGINT) AS cnt
         |        FROM tk GROUP BY source, token),
         |top AS (SELECT source, token FROM (
         |          SELECT *, row_number() OVER (PARTITION BY source
         |                    ORDER BY cnt DESC, token ASC) AS rk
         |          FROM cnt) WHERE rk <= $VocabTopM),
         |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS sz FROM top GROUP BY source),
         |ov AS (SELECT a.source AS s_a, b.source AS s_b,
         |              CAST(count(*) AS BIGINT) AS n_common
         |       FROM top a JOIN top b ON a.token = b.token AND a.source < b.source
         |       GROUP BY a.source, b.source)
         |SELECT ov.s_a, ov.s_b, ov.n_common,
         |       CAST((10000 * ov.n_common) // (za.sz + zb.sz - ov.n_common) AS BIGINT)
         |         AS jaccard_x10k
         |FROM ov JOIN sz za ON za.source = ov.s_a JOIN sz zb ON zb.source = ov.s_b
         |ORDER BY ov.s_a, ov.s_b""".stripMargin
  )
}
