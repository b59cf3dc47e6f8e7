package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions
import graft.functions.TextFunctions.normalizeText
import graft.ops.{Dedup, Intervals}

/** Round-3d OLAP + curation surface: sliding event-time windows, temporal
  * point-in-interval lookup through the native as-of operator, exact
  * edit-distance rerank of LSH candidates, CUBE grouping sets, relational
  * set operators, integer-exact distribution ranks, robust (median/MAD)
  * statistics, and corpus-level chunk dedup. Same oracle conventions as the
  * sibling modules: integer quantization, no float crosses an engine
  * boundary, identical aliases both sides, ORDER BY a unique key.
  */
object OlapQueries {

  import DataPrepQueries.{ShingleN, MinhashBands, MinhashRows}

  val SlideMs = 10800000L   // 3h slide
  val SlideWinMs = 21600000L // 6h window = 2 slides -> every event in exactly 2 windows
  val ChunkDedupChars = 120

  /** X80 — sliding event-time windows (overlap = window/slide = 2): per
    * (window, event_type) counts and spend through Spark's native
    * `window(ts, win, slide)` — each row fans out to exactly win/slide
    * window assignments map-side, then ONE partial-aggregated shuffle on
    * (window, type); no self-join, no range predicate. The hopping-window
    * twin of q32's tumbling windows (X18) and the batch form of the same
    * streaming expression. */
  def q79_sliding_windows(spark: SparkSession, dir: String): DataFrame =
    Tables.eventsCents(spark, dir)
      .groupBy(
        window(timestamp_millis(col("ts_ms")), s"$SlideWinMs milliseconds",
          s"$SlideMs milliseconds").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum("value_c").as("sum_value_c"))
      .select(unix_millis(col("w.start")).as("window_start_ms"),
        col("event_type"), col("n_events"), col("sum_value_c"))
      .orderBy("window_start_ms", "event_type")

  /** X81 — temporal point-in-interval lookup: every purchase event
    * enriched with the SCD2 status interval (q62's `Intervals.scd2`)
    * active at its timestamp. Because intervals tile each key's timeline
    * (valid_from inclusive, valid_to exclusive), "the containing interval"
    * IS "the latest interval starting at-or-before ts" — so the lookup
    * runs through the NATIVE as-of operator ([[graft.plans.AsOfJoinNode]]):
    * one exchange per side, a linear merge per partition, no inequality
    * join and no window over a blended table. Version is the tie column
    * (two intervals can share valid_from when same-ts events alternate
    * type; the highest version is the surviving non-empty one — exactly
    * the interval the containment predicate selects). */
  def q80_interval_lookup(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val iv = Intervals.scd2(ev,
      key = "user_id", ts = "ts_ms", tie = "event_id", attr = "event_type")
      .select(col("user_id").as("iv_user"), col("status"),
        col("valid_from"), col("version"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts_ms")
    graft.plans.AsOfJoinStrategy.asofJoin(purchases, iv,
      leftKey = "user_id", leftTs = "ts_ms",
      rightKey = "iv_user", rightTs = "valid_from", rightTie = "version")
      .select(col("event_id"), col("user_id"), col("ts_ms"), col("status"),
        col("valid_from").as("valid_from_ms"), col("version"))
      .orderBy("event_id")
  }

  /** X82 — exact edit-distance rerank of LSH candidates: MinHash band
    * collisions (q17 semantics) propose near-dup pairs; each pair is then
    * verified with character-level Levenshtein on the normalized text and
    * an integer similarity `floor(1e4·(maxlen − dist)/maxlen)`. The
    * two-stage shape is the scalable fuzzy-dedup recipe: the O(len²)
    * dynamic program runs only on candidate pairs (≪ corpus²), never
    * all-pairs; text joins are pair-side. */
  def q81_edit_rerank(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val cands = Dedup.minhashLshPairs(docs,
      n = ShingleN, bands = MinhashBands, rowsPerBand = MinhashRows)
    val nt = docs.select(col("doc_id"), normalizeText(col("text")).as("nt"))
    cands
      .join(nt.select(col("doc_id").as("id_a"), col("nt").as("nt_a")), "id_a")
      .join(nt.select(col("doc_id").as("id_b"), col("nt").as("nt_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        levenshtein(col("nt_a"), col("nt_b")).cast("long").as("edit_dist"),
        greatest(length(col("nt_a")), length(col("nt_b"))).cast("long")
          .as("max_len"))
      .withColumn("edit_sim_x10k",
        when(col("max_len") > 0,
          floor(lit(10000L) * (col("max_len") - col("edit_dist")) / col("max_len")))
          .otherwise(10000L).cast("long"))
      .orderBy("id_a", "id_b")
  }

  /** X83 — CUBE grouping sets: order counts and revenue by (priority,
    * year), (priority), (year), and grand total in ONE pass —
    * `cube().agg(grouping_id())`; the grouping-set expansion happens
    * map-side before the partial aggregate, so the shuffle carries 4×
    * group rows, not 4× input rows. NULL group placeholders are ordered
    * NULLS FIRST explicitly (Spark's ASC default; DuckDB's is NULLS LAST). */
  def q82_cube_revenue(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderpriority"),
        year(col("o_orderdate")).cast("long").as("o_year"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("total_c"))
      .cube("o_orderpriority", "o_year")
      .agg(grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n_orders"), sum("total_c").as("revenue_c"))
      .select("gid", "o_orderpriority", "o_year", "n_orders", "revenue_c")
      .orderBy(col("gid"), col("o_orderpriority").asc_nulls_first,
        col("o_year").asc_nulls_first)

  /** X84 — relational set operators: customer-activity overlap between two
    * order years as INTERSECT / EXCEPT / EXCEPT — the cohort-overlap
    * report shape. Spark plans each set op as an aggregate or left-anti
    * join on the (already distinct) key column: hash-partitionable, no
    * sort, one shuffle per op on the same key. */
  def q83_set_ops(spark: SparkSession, dir: String): DataFrame = {
    def active(y: Int) = Tables.orders(spark, dir)
      .filter(year(col("o_orderdate")) === y)
      .select("o_custkey").distinct()
    val (y95, y96) = (active(1995), active(1996))
    y95.intersect(y96).withColumn("segment", lit("both"))
      .unionByName(y95.except(y96).withColumn("segment", lit("only_1995")))
      .unionByName(y96.except(y95).withColumn("segment", lit("only_1996")))
      .select("segment", "o_custkey")
      .orderBy("segment", "o_custkey")
  }

  /** X85 — integer-exact distribution ranks: per market segment, each
    * customer's percent_rank and cume_dist over account balance — computed
    * from rank()/count() windows with the explicit integer formulas
    * `floor(1e6·(rank−1)/(n−1))` and `floor(1e6·rows_le/n)` (rows_le =
    * n − rank_desc + 1), so no float quantile crosses engines. All three
    * windows share the segment partitioning: one shuffle, two
    * within-partition sorts. */
  def q84_balance_distribution(spark: SparkSession, dir: String): DataFrame = {
    val wAsc = Window.partitionBy("c_mktsegment").orderBy(col("bal_c"))
    val wDesc = Window.partitionBy("c_mktsegment").orderBy(col("bal_c").desc)
    val wAll = Window.partitionBy("c_mktsegment")
    Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"),
        expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("bal_c"))
      .withColumn("r_asc", rank().over(wAsc).cast("long"))
      .withColumn("r_desc", rank().over(wDesc).cast("long"))
      .withColumn("n", count(lit(1)).over(wAll))
      .select(col("c_custkey"), col("c_mktsegment"), col("bal_c"),
        when(col("n") > 1,
          floor(lit(1000000L) * (col("r_asc") - 1) / (col("n") - 1)))
          .otherwise(0L).cast("long").as("pct_rank_x1e6"),
        floor(lit(1000000L) * (col("n") - col("r_desc") + 1) / col("n"))
          .cast("long").as("cume_dist_x1e6"))
      .orderBy("c_custkey")
  }

  /** X86 — robust statistics (median + MAD): per event type, the exact
    * median and median-absolute-deviation of the money column. Values are
    * scaled ×4 BEFORE the percentiles so every intermediate stays integer
    * (median of multiples of 4 is a multiple of 2; |v4−m4| is even; its
    * median is an integer) — MAD needs two dependent aggregates, and this
    * keeps both engine-exact in doubles. Two shuffles on event_type; the
    * median side joins back as a broadcast (rows = #types). */
  def q85_robust_stats(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.eventsCents(spark, dir)
      .select(col("event_type"), (col("value_c") * 4).as("v4"))
    val med = e.groupBy("event_type")
      .agg(percentile(col("v4"), lit(0.5)).cast("long").as("median_x4"),
        count(lit(1)).as("n_events"))
    val mad = e.join(broadcast(med.select("event_type", "median_x4")), "event_type")
      .select(col("event_type"), abs(col("v4") - col("median_x4")).as("dev4"))
      .groupBy("event_type")
      .agg(percentile(col("dev4"), lit(0.5)).cast("long").as("mad_x4"))
    med.join(mad, "event_type")
      .select("event_type", "n_events", "median_x4", "mad_x4")
      .orderBy("event_type")
  }

  /** X87 — corpus-level chunk dedup (the C4-style repeated-paragraph
    * screen at chunk granularity): docs split into non-overlapping
    * `ChunkDedupChars`-char chunks, each chunk owned by its first
    * occurrence (min (doc_id, chunk_idx) per chunk hash), per doc the
    * kept-chunk share. One shuffle on the chunk hash (the global dedup),
    * one on doc_id (the report); fan-out = chunks per doc, bounded by
    * doc length. */
  def q86_chunk_dedup(spark: SparkSession, dir: String): DataFrame = {
    val chunks = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(TextFunctions.charChunks(col("text"), ChunkDedupChars,
          ChunkDedupChars)).as("c"))
      .select(col("doc_id"), col("c.chunk_idx").as("chunk_idx"),
        md5(col("c.chunk_text")).as("h"))
    val owner = chunks.groupBy("h")
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("own"))
    chunks.join(owner, "h")
      .withColumn("kept",
        (col("own.doc_id") === col("doc_id") &&
          col("own.chunk_idx") === col("chunk_idx")).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"), sum("kept").as("n_kept"))
      .withColumn("kept_x10k",
        floor(lit(10000L) * col("n_kept") / col("n_chunks")).cast("long"))
      .orderBy("doc_id")
  }

  /** X89 — winsorized robust aggregate: per event type, clip the money
    * column at the exact p05/p95 ORDER STATISTICS (value at integer rank
    * `max(1, ⌈q·n⌉)` — no interpolated float percentile crosses engines)
    * and report the clipped sum and clip counts — the outlier-robust
    * aggregation a metrics pipeline runs over heavy-tailed spend. One
    * windowed rank pass + a tiny bounds aggregate broadcast back; both
    * shuffles on event_type. */
  def q87_winsorize(spark: SparkSession, dir: String): DataFrame =
    winsorizeStats(Tables.eventsCents(spark, dir)
      .select(col("event_type"), col("event_id"), col("value_c")))

  /** Core of q87 over any (event_type, event_id, value_c) frame —
    * factored out so properties can feed random data. */
  private[queries] def winsorizeStats(e0: DataFrame): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy(col("value_c"), col("event_id"))
    val wAll = Window.partitionBy("event_type")
    val e = e0
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(wAll))
    val bounds = e
      .withColumn("k_lo", greatest(lit(1L), floor((col("n") * 5 + 99) / 100)))
      .withColumn("k_hi", greatest(lit(1L), floor((col("n") * 95 + 99) / 100)))
      .groupBy("event_type")
      .agg(max(when(col("rn") === col("k_lo"), col("value_c"))).as("lo_c"),
        max(when(col("rn") === col("k_hi"), col("value_c"))).as("hi_c"))
    e.join(broadcast(bounds), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        first(col("lo_c")).as("lo_c"), first(col("hi_c")).as("hi_c"),
        sum(least(greatest(col("value_c"), col("lo_c")), col("hi_c")))
          .as("winsorized_sum_c"),
        sum((col("value_c") < col("lo_c")).cast("long")).as("n_clipped_lo"),
        sum((col("value_c") > col("hi_c")).cast("long")).as("n_clipped_hi"))
      .orderBy("event_type")
  }

  /** X90 — deterministic hash-ring negative sampling: every embedding
    * anchor takes the next `NegK` vectors on a pseudo-random ring
    * (global order of md5(seed:vec_id), wrap-around) as its contrastive
    * negatives. Reproducible across runs/engines (no RNG state), uniform
    * (each vector serves as negative exactly NegK times), and O(N·k):
    * one two-phase global index (range shuffle — no single-task window),
    * a k-way `sequence` fan-out, and one equi-join on the integer ring
    * position. The label columns report the accidental same-label rate. */
  val NegSeed = "neg1"
  val NegK = 3
  def q88_negative_ring(spark: SparkSession, dir: String): DataFrame =
    negativeRing(Tables.embeddings(spark, dir).select("vec_id", "label"), NegK)
      .orderBy("vec_id", "sample_idx")

  /** Core of q88 over any (vec_id, label) frame — factored out so
    * properties can feed random data. */
  private[queries] def negativeRing(items: DataFrame, k: Int): DataFrame = {
    val ring = graft.ops.Relational.globalIndex(
      items.select(col("vec_id"), col("label"),
        md5(concat_ws(":", lit(NegSeed), col("vec_id"))).as("rk")),
      Seq(col("rk")), "pos")
    val total = ring.agg(count(lit(1)).as("n_total"))
    val fan = ring
      .select(col("vec_id"), col("label").as("anchor_label"), col("pos"))
      .crossJoin(broadcast(total))
      .select(col("vec_id"), col("anchor_label"),
        explode(sequence(lit(1L), lit(k.toLong))).as("sample_idx"),
        (pmod(col("pos") - 1 + col("sample_idx"), col("n_total")) + 1).as("neg_pos"))
    fan.join(
        ring.select(col("pos").as("neg_pos"), col("vec_id").as("neg_vec_id"),
          col("label").as("neg_label")),
        "neg_pos")
      .select(col("vec_id"), col("sample_idx"), col("neg_vec_id"),
        col("anchor_label"), col("neg_label"),
        (col("anchor_label") === col("neg_label")).cast("int").as("same_label"))
  }

  /** X91 — declarative data-quality constraint report (the dbt-test /
    * Deequ-style gate a pipeline runs before publishing a table): each
    * constraint is one row with its violation count — null checks and
    * range checks fold into ONE pass over each fact table (conditional
    * aggregates, no per-constraint scans); uniqueness is one groupBy on
    * the key; referential integrity is one left-anti join against the
    * (broadcastable) dimension keys. Everything partial-aggregates. */
  def q89_data_quality(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    val customer = Tables.customer(spark, dir)
    def c(name: String, violations: Column): Column =
      struct(lit(name).as("check_name"), violations.cast("long").as("violations"))
    // one-pass scalar constraints over orders
    val scalarRows = orders.agg(
      c("orders_orderkey_not_null", sum(col("o_orderkey").isNull.cast("long"))).as("c1"),
      c("orders_totalprice_positive",
        sum((col("o_totalprice") <= 0).cast("long"))).as("c2"),
      c("orders_priority_in_domain",
        sum((!col("o_orderpriority").isin(
          "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
          .cast("long"))).as("c3"))
      .select(explode(array(col("c1"), col("c2"), col("c3"))).as("r"))
    // uniqueness: primary-key duplicate rows
    val dupRows = orders.groupBy("o_orderkey").agg(count(lit(1)).as("n"))
      .agg(c("orders_orderkey_unique", sum(col("n") - 1)).as("r"))
      .select(col("r"))
    // referential integrity: orders whose customer is missing
    val orphanRows = orders.select("o_custkey")
      .join(customer.select(col("c_custkey").as("o_custkey")), Seq("o_custkey"),
        "left_anti")
      .agg(c("orders_custkey_in_customer", count(lit(1))).as("r"))
      .select(col("r"))
    scalarRows.unionByName(dupRows).unionByName(orphanRows)
      .select(col("r.check_name").as("check_name"),
        col("r.violations").as("violations"))
      .withColumn("passed", (col("violations") === 0).cast("int"))
      .orderBy("check_name")
  }

  /** X94 — EXISTS / NOT EXISTS through the SQL front door: customers with
    * at least one big order but no urgent one, written as the natural
    * correlated predicates. Catalyst's RewritePredicateSubquery turns both
    * into SEMI/ANTI hash joins on the correlation key (plan-pinned: no
    * per-row subquery execution, no nested loop) — the other subquery
    * rewrite class next to q71's correlated scalars. */
  val BigOrderC = 25000000L // 250k in cents
  def q90_exists_orders(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("orders_x")
    Tables.customer(spark, dir).createOrReplaceTempView("customer_x")
    spark.sql(
      s"""SELECT c.c_custkey, c.c_mktsegment
         |FROM customer_x c
         |WHERE EXISTS (
         |        SELECT 1 FROM orders_x o
         |        WHERE o.o_custkey = c.c_custkey
         |          AND CAST(round(o.o_totalprice * 100) AS BIGINT) > $BigOrderC)
         |  AND NOT EXISTS (
         |        SELECT 1 FROM orders_x o
         |        WHERE o.o_custkey = c.c_custkey
         |          AND o.o_orderpriority = '1-URGENT')
         |ORDER BY c.c_custkey""".stripMargin)
  }

  /** X96 — k-NN graph construction: every corpus vector's k nearest
    * neighbors through the IVF path (q31's machinery with queries =
    * corpus) — the graph artifact embedding pipelines build for
    * graph-based dedup, diversity sampling, and label propagation.
    * Brute force here would be |C|² dots; IVF touches ~nProbe/nCentroids
    * of the corpus per vector and the deterministic quantizer keeps the
    * result ORACLE-EXACT. Ranking is the map-side bounded heap — only
    * ≤ k rows per (vector, task) reach the shuffle. */
  val KnnK = 5

  /** The standard-parameter kNN graph (k=[[KnnK]], 16 centroids, 4
    * probes), built once per (session, dir) and PINNED for the session
    * (session scope of [[graft.ops.Materialize]] — survives the
    * between-query release):
    * ten-plus board queries (q91/q108/q113/q131/q135/q145/q146/q178/
    * q182/q184/q185/q195/q196) consume this exact artifact, and in a
    * bench session the family's cost collapses to one build — at
    * corpus scale this is the persisted [[graft.ops.AnnIndex]] graph a
    * production pipeline materializes once per embedding refresh. The
    * memo returns the SAME DataFrame instance, so every consumer's
    * plan shares Spark's CacheManager entry by construction. */
  private[graft] def knnGraphPinned(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Materialize.pinned(spark, ("knn_graph", dir)) {
      val emb = Tables.embeddings(spark, dir)
      // lineage-truncated before pinning (the GraphX iterative-algorithm
      // discipline): the IVF build plan embeds the trained centroids as
      // wide array literals, and WITHOUT truncation every consumer that
      // persists a derived frame (the q311/q312 round loops especially)
      // re-canonicalizes that whole literal-heavy tree on the driver —
      // measured 3.5 s of pure planning time for q311's two rounds at
      // sf0.1. The checkpoint makes the pinned core a checkpoint leaf;
      // the graph itself is n·k rows, so the extra block storage is
      // bounded by the core's own contract. The core owns the checkpoint:
      // it is freed with the core, never by a query's release.
      graft.ops.Materialize.checkpoint(
        graft.ops.Ann.ivfTopK(emb, emb, k = KnnK, nCentroids = 16, nProbe = 4))
    }

  def q91_knn_graph(spark: SparkSession, dir: String): DataFrame =
    knnGraphPinned(spark, dir).orderBy("query_id", "rank")

  /** The canonical UNDIRECTED edge set of [[knnGraphPinned]] (u < v,
    * deduped) — q145/q178/q196 all start here, so it is pinned too. */
  private[graft] def knnUndirectedPinned(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Materialize.pinned(spark, ("knn_undirected", dir))(
      knnGraphPinned(spark, dir)
        .select(least(col("query_id"), col("neighbor_id")).as("u"),
          greatest(col("query_id"), col("neighbor_id")).as("v"))
        .distinct())

  /** X113 — kNN label propagation: one majority-vote round of the
    * embeddings' own `label` over the q91 kNN graph (ties → smallest
    * label) — the graph-based mislabel/outlier detector: a vector whose
    * neighbors outvote its own label is a labeling error or a boundary
    * point. Work = the q91 IVF graph + one equijoin on neighbor id + a
    * per-node vote window; nothing is all-pairs. */
  def q108_label_propagation(spark: SparkSession, dir: String): DataFrame =
    labelPropagationOver(Tables.embeddings(spark, dir), knnGraphPinned(spark, dir))

  /** Core of q108 over any (vec_id, embedding, label) frame — split out so
    * specs can plant a mislabel inside a tight cluster and see it flagged. */
  def labelPropagation(emb: DataFrame, nCentroids: Int, nProbe: Int): DataFrame =
    labelPropagationOver(emb,
      graft.ops.Ann.ivfTopK(emb, emb, k = KnnK, nCentroids = nCentroids,
        nProbe = nProbe))

  /** [[labelPropagation]] over a PREBUILT kNN graph — the board queries
    * (q108/q184/q185) pass [[knnGraphPinned]] so the vote layer rides
    * the shared session-pinned artifact instead of rebuilding it. */
  private[queries] def labelPropagationOver(emb: DataFrame, knnGraph: DataFrame): DataFrame = {
    val labels = emb.select(col("vec_id"), col("label").cast("long").as("label"))
    val knn = knnGraph.select(col("query_id"), col("neighbor_id"))
    val votes = knn
      .join(labels.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
      .groupBy("query_id", "label").agg(count(lit(1)).as("votes"))
    val mj = votes.withColumn("rn", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("votes").desc, col("label").asc)))
      .where(col("rn") === 1)
      .select(col("query_id"), col("label").as("prop_label"),
        col("votes").as("n_votes"))
    labels.join(mj, col("vec_id") === col("query_id"))
      .select(col("vec_id"), col("label").as("own_label"),
        col("prop_label"), col("n_votes"))
      .withColumn("agree", (col("own_label") === col("prop_label")).cast("int"))
      .orderBy("vec_id")
  }

  /** X97 — corpus datasheet: the per-(source, lang) "datasheet for
    * datasets" report a corpus release ships — doc/token volumes, quality
    * pass rate, and exact-duplicate rate, every ratio integer-quantized.
    * One pass computes the per-doc facts (metrics + fingerprint), the dup
    * flag joins the fingerprint-group canonical back (q15 semantics), and
    * ONE partial-aggregated shuffle on (source, lang) builds the report. */
  def q92_corpus_datasheet(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions
    val docs = Tables.documents(spark, dir)
    val m = TextFunctions.qualityMetrics(col("text")).toMap
    // the ONE quality predicate (q26 ≡ CurationStream ≡ this datasheet)
    val keep = graft.streaming.CurationStream.qualityKeep(col("text")).cast("long")
    val facts = docs.select(col("doc_id"), col("source"), col("lang"),
      col("n_chars"), m("n_tokens").as("n_tokens"), keep.as("keep"),
      TextFunctions.fingerprint(col("text")).as("fp"))
    val canon = facts.groupBy("fp").agg(min("doc_id").as("canonical_id"))
    facts.join(canon, "fp")
      .withColumn("is_dup", (col("doc_id") =!= col("canonical_id")).cast("long"))
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        sum("n_chars").as("total_chars"),
        floor(lit(10000L) * sum("keep") / count(lit(1))).cast("long")
          .as("quality_keep_x10k"),
        floor(lit(10000L) * sum("is_dup") / count(lit(1))).cast("long")
          .as("exact_dup_x10k"))
      .orderBy("source", "lang")
  }

  /** X98 — token-budgeted source sampling: each source contributes docs,
    * in deterministic md5(seed:id) order, until its token budget fills —
    * the mechanism that ENFORCES a mixture plan like q56's weights (q56
    * computes how much each source should contribute; this selects which
    * docs). A doc is taken iff its source-local running token count stays
    * within budget, so the selection is reproducible and independent of
    * arrival order. One shuffle on source; the running sum is a per-source
    * window (partitioned — never a global sort). */
  val BudgetSeed = "tb1"
  val TokenBudget = 2000L
  def q93_token_budget(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        graft.functions.TextFunctions.tokenCountWs(col("text")).cast("long")
          .as("n_tokens"),
        md5(concat_ws(":", lit(BudgetSeed), col("doc_id"))).as("pick_key"))
    val w = Window.partitionBy("source").orderBy(col("pick_key"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .withColumn("cum_tokens", sum("n_tokens").over(w))
      .filter(col("cum_tokens") <= TokenBudget)
      .select("source", "doc_id", "n_tokens", "cum_tokens")
      .orderBy("source", "cum_tokens")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q93_token_budget" -> q93_token_budget,
    "q92_corpus_datasheet" -> q92_corpus_datasheet,
    "q91_knn_graph" -> q91_knn_graph,
    "q108_label_propagation" -> q108_label_propagation,
    "q87_winsorize" -> q87_winsorize,
    "q88_negative_ring" -> q88_negative_ring,
    "q89_data_quality" -> q89_data_quality,
    "q90_exists_orders" -> q90_exists_orders,
    "q79_sliding_windows" -> q79_sliding_windows,
    "q80_interval_lookup" -> q80_interval_lookup,
    "q81_edit_rerank" -> q81_edit_rerank,
    "q82_cube_revenue" -> q82_cube_revenue,
    "q83_set_ops" -> q83_set_ops,
    "q84_balance_distribution" -> q84_balance_distribution,
    "q85_robust_stats" -> q85_robust_stats,
    "q86_chunk_dedup" -> q86_chunk_dedup
  )

  // ---------------------------------------------------------------- oracles

  /** The q91 IVF-kNN oracle chain (quantize → 1 Lloyd round → assign →
    * probe → bucket-join → rank), shared by q91 and q108's vote layer. */
  private[queries] lazy val knnChainSql: String =
    s"""v AS (SELECT vec_id, ${DataPrepQueries.quantVec} AS qv FROM embeddings),
       |${DataPrepQueries.lloydCentSql(16, 1)},
       |ca AS (
       |  SELECT v.vec_id AS neighbor_id, v.qv AS cv, c.cent_id,
       |         CAST(list_sum(list_transform(generate_series(1, len(v.qv)), i -> v.qv[i] * c.centv[i])) AS BIGINT) AS cdot
       |  FROM v, cent c),
       |ar AS (SELECT *, row_number() OVER (PARTITION BY neighbor_id ORDER BY cdot DESC, cent_id ASC) AS rn FROM ca),
       |assigned AS (SELECT neighbor_id, cv, cent_id AS bucket FROM ar WHERE rn = 1),
       |qr AS (SELECT neighbor_id AS query_id, cv AS qv, cent_id,
       |              row_number() OVER (PARTITION BY neighbor_id ORDER BY cdot DESC, cent_id ASC) AS pr
       |       FROM ca),
       |probes AS (SELECT query_id, qv, cent_id AS bucket FROM qr WHERE pr <= 4),
       |s AS (
       |  SELECT p.query_id, a.neighbor_id,
       |         CAST(list_sum(list_transform(generate_series(1, len(p.qv)), i -> p.qv[i] * a.cv[i])) AS BIGINT) AS dot
       |  FROM probes p JOIN assigned a ON p.bucket = a.bucket
       |  WHERE p.query_id <> a.neighbor_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, neighbor_id ASC) AS rank FROM s)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q93_token_budget" ->
      s"""WITH d AS (
         |  SELECT doc_id, source,
         |         CAST(len(${DataPrepQueries.toks}) AS BIGINT) AS n_tokens,
         |         md5(concat('$BudgetSeed', ':', CAST(doc_id AS VARCHAR))) AS pick_key
         |  FROM documents),
         |c AS (
         |  SELECT source, doc_id, n_tokens,
         |         CAST(sum(n_tokens) OVER
         |           (PARTITION BY source ORDER BY pick_key, doc_id
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |           AS cum_tokens
         |  FROM d)
         |SELECT source, doc_id, n_tokens, cum_tokens
         |FROM c WHERE cum_tokens <= $TokenBudget
         |ORDER BY source, cum_tokens""".stripMargin,
    "q92_corpus_datasheet" ->
      s"""WITH f AS (
         |  SELECT doc_id, source, lang, n_chars,
         |         CAST(len(${DataPrepQueries.toks}) AS BIGINT) AS n_tokens,
         |         CAST(CASE WHEN len(${DataPrepQueries.toks}) BETWEEN 10 AND 500
         |              AND (CASE WHEN len(${DataPrepQueries.toks}) > 0
         |                   THEN floor(10000 * ${DataPrepQueries.hitsSql("en")} / len(${DataPrepQueries.toks}))
         |                   ELSE 0 END) <= 3000
         |              AND (CASE WHEN len(${DataPrepQueries.toks}) > 0
         |                   THEN floor(100 * length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / len(${DataPrepQueries.toks}))
         |                   ELSE 0 END) BETWEEN 200 AND 800
         |              THEN 1 ELSE 0 END AS BIGINT) AS keep,
         |         md5(${DataPrepQueries.norm}) AS fp
         |  FROM documents),
         |c AS (SELECT fp, min(doc_id) AS canonical_id FROM f GROUP BY fp)
         |SELECT f.source, f.lang,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(f.n_tokens) AS BIGINT) AS total_tokens,
         |       CAST(sum(f.n_chars) AS BIGINT) AS total_chars,
         |       CAST(floor(10000 * sum(f.keep) / count(*)) AS BIGINT) AS quality_keep_x10k,
         |       CAST(floor(10000 * sum(CASE WHEN f.doc_id <> c.canonical_id THEN 1 ELSE 0 END)
         |                  / count(*)) AS BIGINT) AS exact_dup_x10k
         |FROM f JOIN c USING (fp)
         |GROUP BY f.source, f.lang
         |ORDER BY f.source, f.lang""".stripMargin,
    "q91_knn_graph" ->
      s"""WITH $knnChainSql
         |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, dot
         |FROM r WHERE rank <= $KnnK ORDER BY query_id, rank""".stripMargin,
    "q108_label_propagation" ->
      s"""WITH $knnChainSql,
         |knn AS (SELECT query_id, neighbor_id FROM r WHERE rank <= $KnnK),
         |lb AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
         |vt AS (SELECT k.query_id, l.label, CAST(count(*) AS BIGINT) AS votes
         |       FROM knn k JOIN lb l ON k.neighbor_id = l.vec_id
         |       GROUP BY k.query_id, l.label),
         |mj AS (SELECT query_id, label AS prop_label, votes,
         |              row_number() OVER (PARTITION BY query_id
         |                ORDER BY votes DESC, label ASC) AS rn
         |       FROM vt)
         |SELECT lb.vec_id, lb.label AS own_label, mj.prop_label,
         |       mj.votes AS n_votes,
         |       CAST(CASE WHEN lb.label = mj.prop_label THEN 1 ELSE 0 END AS INT)
         |         AS agree
         |FROM lb JOIN mj ON lb.vec_id = mj.query_id AND mj.rn = 1
         |ORDER BY lb.vec_id""".stripMargin,
    "q90_exists_orders" ->
      s"""SELECT c.c_custkey, c.c_mktsegment
         |FROM customer c
         |WHERE EXISTS (
         |        SELECT 1 FROM orders o
         |        WHERE o.o_custkey = c.c_custkey
         |          AND CAST(round(o.o_totalprice * 100) AS BIGINT) > $BigOrderC)
         |  AND NOT EXISTS (
         |        SELECT 1 FROM orders o
         |        WHERE o.o_custkey = c.c_custkey
         |          AND o.o_orderpriority = '1-URGENT')
         |ORDER BY c.c_custkey""".stripMargin,
    "q89_data_quality" ->
      """WITH r AS (
        |  SELECT 'orders_orderkey_not_null' AS check_name,
        |         CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |           AS violations
        |  FROM orders
        |  UNION ALL
        |  SELECT 'orders_totalprice_positive',
        |         CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'orders_priority_in_domain',
        |         CAST(sum(CASE WHEN o_orderpriority NOT IN
        |           ('1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW')
        |           THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'orders_orderkey_unique',
        |         CAST(sum(n - 1) AS BIGINT)
        |  FROM (SELECT count(*) AS n FROM orders GROUP BY o_orderkey)
        |  UNION ALL
        |  SELECT 'orders_custkey_in_customer',
        |         CAST(count(*) AS BIGINT)
        |  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        |  WHERE c.c_custkey IS NULL)
        |SELECT check_name, violations,
        |       CAST(violations = 0 AS INT) AS passed
        |FROM r ORDER BY check_name""".stripMargin,
    "q87_winsorize" ->
      """WITH e AS (
        |  SELECT event_type, event_id, CAST(round(value * 100) AS BIGINT) AS value_c
        |  FROM events),
        |r AS (
        |  SELECT event_type, value_c,
        |         CAST(row_number() OVER
        |           (PARTITION BY event_type ORDER BY value_c, event_id) AS BIGINT) AS rn,
        |         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM e),
        |b AS (
        |  SELECT event_type,
        |         max(CASE WHEN rn = greatest(1, (n * 5 + 99) // 100)
        |                  THEN value_c END) AS lo_c,
        |         max(CASE WHEN rn = greatest(1, (n * 95 + 99) // 100)
        |                  THEN value_c END) AS hi_c
        |  FROM r GROUP BY event_type)
        |SELECT e.event_type, CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(b.lo_c AS BIGINT) AS lo_c, CAST(b.hi_c AS BIGINT) AS hi_c,
        |       CAST(sum(least(greatest(e.value_c, b.lo_c), b.hi_c)) AS BIGINT)
        |         AS winsorized_sum_c,
        |       CAST(sum(CASE WHEN e.value_c < b.lo_c THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_clipped_lo,
        |       CAST(sum(CASE WHEN e.value_c > b.hi_c THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_clipped_hi
        |FROM e JOIN b USING (event_type)
        |GROUP BY e.event_type, b.lo_c, b.hi_c
        |ORDER BY e.event_type""".stripMargin,
    "q88_negative_ring" ->
      s"""WITH ring AS (
         |  SELECT vec_id, label,
         |         CAST(row_number() OVER
         |           (ORDER BY md5(concat('$NegSeed', ':', CAST(vec_id AS VARCHAR))))
         |           AS BIGINT) AS pos
         |  FROM embeddings),
         |t AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM ring),
         |fan AS (
         |  SELECT r.vec_id, r.label AS anchor_label, u.sample_idx,
         |         ((r.pos - 1 + u.sample_idx) % t.n_total) + 1 AS neg_pos
         |  FROM ring r, t,
         |       (SELECT unnest(generate_series(1, $NegK)) AS sample_idx) u)
         |SELECT f.vec_id, CAST(f.sample_idx AS BIGINT) AS sample_idx,
         |       n.vec_id AS neg_vec_id,
         |       f.anchor_label, n.label AS neg_label,
         |       CAST(f.anchor_label = n.label AS INT) AS same_label
         |FROM fan f JOIN ring n ON n.pos = f.neg_pos
         |ORDER BY f.vec_id, f.sample_idx""".stripMargin,
    "q79_sliding_windows" ->
      s"""WITH w AS (
         |  SELECT unnest([(epoch_ms(ts) // $SlideMs) * $SlideMs,
         |                 (epoch_ms(ts) // $SlideMs) * $SlideMs - $SlideMs])
         |           AS window_start_ms,
         |         epoch_ms(ts) AS ts_ms, event_type,
         |         CAST(round(value * 100) AS BIGINT) AS value_c
         |  FROM events)
         |SELECT window_start_ms, event_type,
         |       CAST(count(*) AS BIGINT) AS n_events,
         |       CAST(sum(value_c) AS BIGINT) AS sum_value_c
         |FROM w
         |WHERE ts_ms >= window_start_ms AND ts_ms < window_start_ms + $SlideWinMs
         |GROUP BY window_start_ms, event_type
         |ORDER BY window_start_ms, event_type""".stripMargin,
    "q80_interval_lookup" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ms(ts) AS ts_ms, event_id, event_type,
        |         lag(event_type) OVER
        |           (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS prev
        |  FROM events),
        |c AS (SELECT user_id, ts_ms, event_id, event_type FROM e
        |      WHERE prev IS NULL OR prev <> event_type),
        |iv AS (
        |  SELECT user_id, event_type AS status, ts_ms AS valid_from_ms,
        |         CAST(coalesce(lead(ts_ms) OVER
        |           (PARTITION BY user_id ORDER BY ts_ms, event_id), -1) AS BIGINT)
        |           AS valid_to_ms,
        |         CAST(row_number() OVER
        |           (PARTITION BY user_id ORDER BY ts_ms, event_id) AS BIGINT) AS version
        |  FROM c),
        |p AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms
        |      FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, p.ts_ms, iv.status,
        |       iv.valid_from_ms, iv.version
        |FROM p JOIN iv
        |  ON iv.user_id = p.user_id AND iv.valid_from_ms <= p.ts_ms
        | AND (iv.valid_to_ms = -1 OR p.ts_ms < iv.valid_to_ms)
        |ORDER BY p.event_id""".stripMargin,
    "q81_edit_rerank" ->
      s"""WITH ${DataPrepQueries.shingleCte},
         |mh AS (
         |  SELECT id,
         |         ${DataPrepQueries.minhashCols}
         |  FROM sh GROUP BY id),
         |banded AS (
         |  ${DataPrepQueries.bandRows}),
         |cand AS (
         |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |  FROM banded a
         |  JOIN banded b ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id),
         |nt AS (SELECT doc_id, ${DataPrepQueries.norm} AS nt FROM documents),
         |sc AS (
         |  SELECT c.id_a, c.id_b,
         |         CAST(levenshtein(na.nt, nb.nt) AS BIGINT) AS edit_dist,
         |         CAST(greatest(length(na.nt), length(nb.nt)) AS BIGINT) AS max_len
         |  FROM cand c
         |  JOIN nt na ON na.doc_id = c.id_a
         |  JOIN nt nb ON nb.doc_id = c.id_b)
         |SELECT id_a, id_b, edit_dist, max_len,
         |       CAST(CASE WHEN max_len > 0
         |                 THEN floor(10000 * (max_len - edit_dist) / max_len)
         |                 ELSE 10000 END AS BIGINT) AS edit_sim_x10k
         |FROM sc ORDER BY id_a, id_b""".stripMargin,
    "q82_cube_revenue" ->
      """SELECT CAST(2 * grouping(o_orderpriority) + grouping(o_year) AS BIGINT) AS gid,
        |       o_orderpriority, o_year,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(total_c) AS BIGINT) AS revenue_c
        |FROM (SELECT o_orderpriority,
        |             CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |             CAST(round(o_totalprice * 100) AS BIGINT) AS total_c
        |      FROM orders)
        |GROUP BY CUBE(o_orderpriority, o_year)
        |ORDER BY gid, o_orderpriority NULLS FIRST, o_year NULLS FIRST""".stripMargin,
    "q83_set_ops" ->
      """WITH y95 AS (SELECT DISTINCT o_custkey FROM orders
        |             WHERE year(o_orderdate) = 1995),
        |y96 AS (SELECT DISTINCT o_custkey FROM orders
        |        WHERE year(o_orderdate) = 1996)
        |SELECT 'both' AS segment, o_custkey
        |FROM (SELECT o_custkey FROM y95 INTERSECT SELECT o_custkey FROM y96)
        |UNION ALL
        |SELECT 'only_1995' AS segment, o_custkey
        |FROM (SELECT o_custkey FROM y95 EXCEPT SELECT o_custkey FROM y96)
        |UNION ALL
        |SELECT 'only_1996' AS segment, o_custkey
        |FROM (SELECT o_custkey FROM y96 EXCEPT SELECT o_custkey FROM y95)
        |ORDER BY segment, o_custkey""".stripMargin,
    "q84_balance_distribution" ->
      """WITH c AS (
        |  SELECT c_custkey, c_mktsegment,
        |         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
        |  FROM customer),
        |r AS (
        |  SELECT c_custkey, c_mktsegment, bal_c,
        |         CAST(rank() OVER (PARTITION BY c_mktsegment ORDER BY bal_c) AS BIGINT) AS r_asc,
        |         CAST(rank() OVER (PARTITION BY c_mktsegment ORDER BY bal_c DESC) AS BIGINT) AS r_desc,
        |         CAST(count(*) OVER (PARTITION BY c_mktsegment) AS BIGINT) AS n
        |  FROM c)
        |SELECT c_custkey, c_mktsegment, bal_c,
        |       CAST(CASE WHEN n > 1 THEN floor(1000000 * (r_asc - 1) / (n - 1))
        |                 ELSE 0 END AS BIGINT) AS pct_rank_x1e6,
        |       CAST(floor(1000000 * (n - r_desc + 1) / n) AS BIGINT) AS cume_dist_x1e6
        |FROM r ORDER BY c_custkey""".stripMargin,
    "q85_robust_stats" ->
      """WITH e AS (
        |  SELECT event_type, 4 * CAST(round(value * 100) AS BIGINT) AS v4
        |  FROM events),
        |med AS (
        |  SELECT event_type, CAST(median(v4) AS BIGINT) AS median_x4,
        |         CAST(count(*) AS BIGINT) AS n_events
        |  FROM e GROUP BY event_type),
        |mad AS (
        |  SELECT e.event_type, CAST(median(abs(e.v4 - m.median_x4)) AS BIGINT) AS mad_x4
        |  FROM e JOIN med m ON e.event_type = m.event_type
        |  GROUP BY e.event_type)
        |SELECT med.event_type, med.n_events, med.median_x4, mad.mad_x4
        |FROM med JOIN mad ON med.event_type = mad.event_type
        |ORDER BY med.event_type""".stripMargin,
    "q86_chunk_dedup" ->
      s"""WITH idx AS (
         |  SELECT doc_id, text,
         |         unnest(generate_series(0,
         |           greatest(CAST(floor((length(text) - 1) / $ChunkDedupChars) AS BIGINT), 0)))
         |           AS chunk_idx
         |  FROM documents),
         |ch AS (
         |  SELECT doc_id, chunk_idx,
         |         md5(substr(text, CAST(chunk_idx * $ChunkDedupChars + 1 AS BIGINT),
         |             $ChunkDedupChars)) AS h
         |  FROM idx),
         |rn AS (
         |  SELECT doc_id, chunk_idx, h,
         |         row_number() OVER (PARTITION BY h ORDER BY doc_id, chunk_idx) AS rn
         |  FROM ch)
         |SELECT doc_id,
         |       CAST(count(*) AS BIGINT) AS n_chunks,
         |       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |       CAST(floor(10000 * sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) / count(*))
         |         AS BIGINT) AS kept_x10k
         |FROM rn GROUP BY doc_id ORDER BY doc_id""".stripMargin
  )
}
