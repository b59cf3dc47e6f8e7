package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._
import graft.ops.{Dedup, Graph, Relational, Sharding}

/** Round-8 wave-44 layout/audit operators: size-balanced serpentine
  * sharding (the balanced twin of X43's hash shards), the shard mixing
  * audit (does every shard look like the corpus?), the weighted
  * interleave schedule (WHEN each doc is seen under mixture weights —
  * the missing link between q56's weights and q54's order), the TPC-H
  * Q18 join-back shape, the transitive-dilution read on dup clusters,
  * and the blocking-quality audit (reduction ratio vs pair
  * completeness — the two numbers every blocking scheme trades).
  *
  * Oracle conventions as the sibling modules: exact integers
  * end-to-end, identical aliases both sides, ORDER BY a unique key.
  */
object ShardQueries {

  /** Serpentine shard count. */
  val SnakeShards = 8L

  /** X293 — size-balanced serpentine sharding: docs ranked by size
    * (n_chars DESC, id) and dealt boustrophedon over [[SnakeShards]]
    * shards — block b of S consecutive ranks deals left-to-right when
    * b is even, right-to-left when odd, so each shard's rank sum (and
    * with it the size skew a sorted round-robin deal accumulates)
    * cancels pairwise across block pairs. Output is the per-shard
    * audit: doc count, char sum, deviation from perfect balance ×10⁴ —
    * the guarantee X43's uniform-hash shards only give in expectation.
    *
    * Scale: one two-phase global rank (range shuffle + broadcast
    * offsets), shard id is scalar arithmetic on the rank, audit is an
    * S-row aggregate. */
  def q265_snake_shards(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"))
    val ranked = Relational.globalIndex(docs,
      Seq(col("n_chars").desc, col("doc_id")), "rk")
      .withColumn("shard", expr(
        s"""CASE WHEN ((rk - 1) div $SnakeShards) % 2 = 0
           |     THEN (rk - 1) % $SnakeShards
           |     ELSE ${SnakeShards - 1} - (rk - 1) % $SnakeShards END""".stripMargin))
    val tot = docs.agg(sum("n_chars").as("total_chars"))
    ranked.groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
      .crossJoin(broadcast(tot))
      .select(col("shard"), col("n_docs"), col("sum_chars"),
        // DECIMAL(38,0): 10⁴·shards·sum_chars passes BIGINT once a shard
        // holds ~6e13 chars — a 100 TB corpus is right there (round-9)
        expr(s"CAST((10000 * $SnakeShards * CAST(sum_chars AS DECIMAL(38,0))) div total_chars AS BIGINT) - 10000")
          .as("dev_x10k"))
      .orderBy("shard")
  }

  /** X294 — shard mixing audit: per shard of X43's deterministic
    * hash-shuffle layout, how far the shard's source composition sits
    * from the corpus's — per-source share deviation aggregated to the
    * shard's L1 distance ×10⁴ and worst single-source deviation ×10⁴.
    * A trainer streaming one shard at a time sees the corpus mixture
    * only if every shard does; this is the audit that catches a
    * source-correlated id space leaking through the hash.
    *
    * Scale: shard id is one scalar md5 pass (no rank needed — order is
    * X43's concern); the audit aggregates |shards|×|sources| cells. */
  def q266_shard_mixing(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"))
      .withColumn("shard",
        Sharding.shardId(Sharding.shuffleKey(col("doc_id"), "epoch0"),
          SnakeShards.toInt))
    val cells = docs.groupBy("shard", "source").agg(count(lit(1)).as("n_ss"))
    val perShard = cells.groupBy("shard").agg(sum("n_ss").as("n_shard"))
    val perSource = docs.groupBy("source").agg(count(lit(1)).as("n_src"))
    val tot = docs.agg(count(lit(1)).as("n_total"))
    cells.join(perShard, "shard")
      .join(broadcast(perSource), "source")
      .crossJoin(broadcast(tot))
      .withColumn("dev_x10k",
        abs(expr("(10000 * n_ss) div n_shard - (10000 * n_src) div n_total")))
      .groupBy("shard")
      .agg(max("n_shard").as("n_docs"), sum("dev_x10k").as("l1_x10k"),
        max("dev_x10k").as("max_dev_x10k"))
      .orderBy("shard")
  }

  /** Mixture-schedule weight cap and the audited slot horizon. */
  val SchedCap = 2000L
  val SchedSlots = 40

  /** X295 — weighted-interleave mixture schedule: materialize WHEN the
    * trainer sees each document under per-source mixture weights — the
    * deterministic Bresenham interleave where source s (weight w of
    * total W) fires at every step t where ⌊t·w/W⌋ increments, so its
    * k-th document lands at t = ⌈k·W/w⌉. Weights are q261's capped
    * scheme; within-source order is the md5 shuffle (q54's key). The
    * first [[SchedSlots]] slots are emitted as the audit window — the
    * schedule head shows the interleave grain a trainer actually
    * experiences (the missing step between q56's WEIGHTS and q54's
    * uniform ORDER).
    *
    * Scale: within-source rank is the q229 discipline (one global
    * range shuffle + broadcast per-source offsets); the fire step is
    * per-row arithmetic; the head cut is a TakeOrdered, never a global
    * sort. */
  def q267_mixture_schedule(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"))
      .withColumn("shuf", md5(concat_ws(":", lit("sched"), col("doc_id").cast("string"))))
    val idxd = Relational.globalIndex(docs,
      Seq(col("source"), col("shuf"), col("doc_id")), "__gidx")
    val srcN = docs.groupBy("source").agg(count(lit(1)).as("n_src"))
      .withColumn("w", greatest(lit(1L),
        expr(s"(100 * least(n_src, $SchedCap)) div n_src")))
      .withColumn("__start", coalesce(
        sum(col("n_src")).over(
          Window.partitionBy(pmod(length(col("source")), lit(1))).orderBy("source")
            .rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
    val totW = srcN.agg(sum("w").as("tw"))
    val fired = idxd.join(broadcast(srcN), "source")
      .crossJoin(broadcast(totW))
      .withColumn("k", col("__gidx") - col("__start"))
      .withColumn("t", expr("(k * tw + w - 1) div w"))
    val head = fired
      .orderBy(col("t"), col("source"), col("k"))
      .limit(SchedSlots)
    head.withColumn("slot", row_number().over(
        Window.orderBy(col("t"), col("source"), col("k"))).cast("long"))
      .select(col("slot"), col("t"), col("source"), col("k"), col("doc_id"))
      .orderBy("slot")
  }

  /** Q18 quantity threshold and output cap. */
  val BigOrderQty = 200L
  val BigOrderK = 100

  /** X296 — large-volume-order join-back (TPC-H Q18 shape): orders
    * whose line quantity total exceeds [[BigOrderQty]], joined back to
    * the order header and its customer — the HAVING-subquery +
    * join-back composition (groupBy → filter on the aggregate → the
    * filtered key set drives the detail joins). Output is the top
    * [[BigOrderK]] by volume.
    *
    * Scale: the lineitem aggregate partial-combines map-side; the
    * HAVING survivor set is ≪ orders and broadcasts into the join
    * back; the cut is a TakeOrdered, never a global sort. */
  def q268_big_orders(spark: SparkSession, dir: String): DataFrame = {
    val qty = Tables.lineitem(spark, dir)
      .groupBy("l_orderkey")
      .agg(sum(col("l_quantity").cast("long")).as("sum_qty"))
      .filter(col("sum_qty") > BigOrderQty)
    val joined = Tables.orders(spark, dir)
      .join(broadcast(qty), col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_custkey"), col("c_name"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("total_cents"),
        col("sum_qty"))
    joined.orderBy(col("sum_qty").desc, col("o_orderkey")).limit(BigOrderK)
      .orderBy(col("sum_qty").desc, col("o_orderkey"))
  }

  /** Dilution-audit threshold (q260's middle arm). */
  val DiluteTauX10k = 7000L

  /** X297 — transitive-dilution audit of dup clusters: per
    * cluster-size bucket at τ=[[DiluteTauX10k]], how many of the pairs
    * a transitive dedup IMPLIES (sz·(sz−1)/2 per cluster) were
    * actually measured similar (the direct pair set) — chain share
    * ×10⁴ = the fraction of implied pairs that exist only through
    * chaining. THE number behind "transitive dedup deletes
    * non-duplicates": q260 shows clusters growing with looser τ, this
    * shows how much of that growth is unmeasured inference.
    *
    * Scale: rides the pinned pair core + one CC over the edge list;
    * the audit joins pairs to their component and aggregates to
    * |size buckets| rows. DECIMAL(38,0) guards sz² at monster-cluster
    * sizes. */
  def q269_chain_dilution(spark: SparkSession, dir: String): DataFrame = {
    import DataPrepQueries.{ShingleN, JaccardMaxDf}
    val pairs = graft.ops.Materialize.cache(
      Dedup.jaccardPairsPinned(spark, dir, ShingleN, DiluteTauX10k, JaccardMaxDf)
        .select("id_a", "id_b"))
    val comp = Graph.connectedComponents(pairs)
    val sizes = comp.groupBy("component_id").agg(count(lit(1)).as("sz"))
    val direct = pairs
      .join(comp.select(col("id").as("id_a"), col("component_id")), "id_a")
      .groupBy("component_id").agg(count(lit(1)).as("n_direct"))
    sizes.join(direct, "component_id")
      .withColumn("bucket", least(col("sz"), lit(5L)))
      .withColumn("implied", expr(
        "CAST((CAST(sz AS DECIMAL(38,0)) * (sz - 1)) div 2 AS BIGINT)"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_clusters"), sum("implied").as("n_implied"),
        sum("n_direct").as("n_direct"))
      .withColumn("chain_x10k",
        expr("(10000 * (n_implied - n_direct)) div n_implied"))
      .select("bucket", "n_clusters", "n_implied", "n_direct", "chain_x10k")
      .orderBy("bucket")
  }

  /** X298 — blocking-quality audit: q222's multi-key blocking scheme
    * scored on the two numbers every blocking design trades — the
    * reduction ratio (how much of the n·(n−1)/2 pair space the blocks
    * never generate, ×10⁶) and pair completeness (what share of the
    * df-capped exact-Jaccard ≥ τ ground-truth pairs the candidates
    * contain, ×10⁴). One row; the measurement that turns "our blocking
    * seems fine" into a number a recall budget can gate on.
    *
    * Scale: candidates and truth are both sub-quadratic (capped
    * postings); the intersection is one pair-keyed equijoin;
    * DECIMAL(38,0) keeps n·(n−1)/2 exact past the BIGINT bound. */
  def q270_blocking_audit(spark: SparkSession, dir: String): DataFrame = {
    import DataPrepQueries.{ShingleN, JaccardMaxDf}
    val cand = graft.ops.Materialize.checkpoint(LinkageQueries.blockingCandidates(spark, dir))
    val truth = graft.ops.Materialize.checkpoint(
      Dedup.jaccardPairsPinned(spark, dir, ShingleN,
        LinkageQueries.LinkTauX10k, JaccardMaxDf).select("id_a", "id_b"))
    val nDocs = Tables.documents(spark, dir).agg(count(lit(1)).as("n"))
    val nCand = cand.agg(count(lit(1)).as("n_cand"))
    val nTruth = truth.agg(count(lit(1)).as("n_truth"))
    val nHit = cand.join(truth, Seq("id_a", "id_b"), "left_semi")
      .agg(count(lit(1)).as("n_hit"))
    nCand.crossJoin(broadcast(nTruth)).crossJoin(broadcast(nHit))
      .crossJoin(broadcast(nDocs))
      .select(col("n_cand"), col("n_truth"), col("n_hit"),
        expr("CASE WHEN n_truth = 0 THEN 10000L ELSE (10000 * n_hit) div n_truth END")
          .as("completeness_x10k"),
        expr("CAST(1000000 - (CAST(n_cand AS DECIMAL(38,0)) * 2000000) div " +
          "(CAST(n AS DECIMAL(38,0)) * (n - 1)) AS BIGINT)").as("reduction_x1m"))
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q265_snake_shards" -> q265_snake_shards,
    "q266_shard_mixing" -> q266_shard_mixing,
    "q267_mixture_schedule" -> q267_mixture_schedule,
    "q268_big_orders" -> q268_big_orders,
    "q269_chain_dilution" -> q269_chain_dilution,
    "q270_blocking_audit" -> q270_blocking_audit
  )

  // ---------------------------------------------------------------- oracles

  import DataPrepQueries.{shingleCte, normToks, JaccardMaxDf}

  val oracles: Map[String, String] = Map(
    "q265_snake_shards" ->
      s"""WITH rk AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
         |                   CAST(row_number() OVER (ORDER BY n_chars DESC, doc_id)
         |                     AS BIGINT) AS rk
         |            FROM documents),
         |sh AS (SELECT n_chars,
         |              CASE WHEN ((rk - 1) // $SnakeShards) % 2 = 0
         |                   THEN (rk - 1) % $SnakeShards
         |                   ELSE ${SnakeShards - 1} - (rk - 1) % $SnakeShards END AS shard
         |       FROM rk),
         |tot AS (SELECT CAST(sum(n_chars) AS BIGINT) AS total_chars FROM rk)
         |SELECT CAST(shard AS BIGINT) AS shard,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |       CAST((10000 * $SnakeShards * sum(n_chars)) // tot.total_chars - 10000
         |         AS BIGINT) AS dev_x10k
         |FROM sh, tot GROUP BY shard, tot.total_chars ORDER BY shard""".stripMargin,
    "q266_shard_mixing" ->
      s"""WITH d AS (SELECT doc_id, source,
         |                  CAST(concat('0x', substr(md5(concat('epoch0', ':',
         |                    CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT)
         |                    % $SnakeShards AS shard
         |           FROM documents),
         |cells AS (SELECT shard, source, CAST(count(*) AS BIGINT) AS n_ss
         |          FROM d GROUP BY shard, source),
         |ps AS (SELECT shard, CAST(sum(n_ss) AS BIGINT) AS n_shard FROM cells GROUP BY shard),
         |src AS (SELECT source, CAST(count(*) AS BIGINT) AS n_src FROM d GROUP BY source),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM d),
         |dev AS (SELECT cells.shard,
         |               abs((10000 * n_ss) // n_shard - (10000 * n_src) // n_total)
         |                 AS dev_x10k, n_shard
         |        FROM cells JOIN ps USING (shard) JOIN src USING (source), tot)
         |SELECT shard, CAST(max(n_shard) AS BIGINT) AS n_docs,
         |       CAST(sum(dev_x10k) AS BIGINT) AS l1_x10k,
         |       CAST(max(dev_x10k) AS BIGINT) AS max_dev_x10k
         |FROM dev GROUP BY shard ORDER BY shard""".stripMargin,
    "q267_mixture_schedule" ->
      s"""WITH d AS (SELECT doc_id, source,
         |                  md5(concat('sched', ':', CAST(doc_id AS VARCHAR))) AS shuf
         |           FROM documents),
         |rk AS (SELECT doc_id, source,
         |              CAST(row_number() OVER (PARTITION BY source
         |                ORDER BY shuf, doc_id) AS BIGINT) AS k
         |       FROM d),
         |src AS (SELECT source, CAST(count(*) AS BIGINT) AS n_src FROM d GROUP BY source),
         |ws AS (SELECT source,
         |              greatest(1, (100 * least(n_src, $SchedCap)) // n_src) AS w
         |       FROM src),
         |tw AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM ws),
         |fired AS (SELECT rk.doc_id, rk.source, rk.k,
         |                 CAST((rk.k * tw.tw + ws.w - 1) // ws.w AS BIGINT) AS t
         |          FROM rk JOIN ws USING (source), tw),
         |head AS (SELECT *, CAST(row_number() OVER (ORDER BY t, source, k) AS BIGINT)
         |                AS slot
         |         FROM fired)
         |SELECT slot, t, source, k, doc_id FROM head
         |WHERE slot <= $SchedSlots ORDER BY slot""".stripMargin,
    "q268_big_orders" ->
      s"""WITH q AS (SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
         |                    AS sum_qty
         |           FROM lineitem GROUP BY l_orderkey
         |           HAVING sum(CAST(l_quantity AS BIGINT)) > $BigOrderQty),
         |j AS (SELECT o.o_orderkey, c.c_custkey, c.c_name,
         |             CAST(round(o.o_totalprice * 100) AS BIGINT) AS total_cents,
         |             q.sum_qty
         |      FROM orders o JOIN q ON o.o_orderkey = q.l_orderkey
         |      JOIN customer c ON o.o_custkey = c.c_custkey)
         |SELECT * FROM j ORDER BY sum_qty DESC, o_orderkey LIMIT $BigOrderK""".stripMargin,
    "q269_chain_dilution" ->
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
         |        >= $DiluteTauX10k),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION ALL SELECT id_b, id_a FROM pairs),
         |nodes AS (SELECT id_a AS id FROM pairs UNION SELECT id_b FROM pairs),
         |reach AS (SELECT id, id AS comp FROM nodes
         |          UNION
         |          SELECT e.dst AS id, r.comp FROM reach r JOIN edges e ON e.src = r.id),
         |lab AS (SELECT id, min(comp) AS component_id FROM reach GROUP BY id),
         |cs AS (SELECT component_id, CAST(count(*) AS BIGINT) AS sz
         |       FROM lab GROUP BY component_id),
         |dr AS (SELECT l.component_id, CAST(count(*) AS BIGINT) AS n_direct
         |       FROM pairs p JOIN lab l ON l.id = p.id_a
         |       GROUP BY l.component_id),
         |au AS (SELECT least(cs.sz, 5) AS bucket, cs.sz,
         |              (cs.sz * (cs.sz - 1)) // 2 AS implied, dr.n_direct
         |       FROM cs JOIN dr USING (component_id))
         |SELECT CAST(bucket AS BIGINT) AS bucket,
         |       CAST(count(*) AS BIGINT) AS n_clusters,
         |       CAST(sum(implied) AS BIGINT) AS n_implied,
         |       CAST(sum(n_direct) AS BIGINT) AS n_direct,
         |       CAST((10000 * (sum(implied) - sum(n_direct))) // sum(implied) AS BIGINT)
         |         AS chain_x10k
         |FROM au GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q270_blocking_audit" ->
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
         |truth AS (
         |  SELECT i.id_a, i.id_b FROM inter i
         |  JOIN sizes sa ON sa.id = i.id_a JOIN sizes sb ON sb.id = i.id_b
         |  WHERE floor(10000 * i.n_common / (sa.set_size + sb.set_size - i.n_common))
         |        >= ${LinkageQueries.LinkTauX10k}),
         |d AS (SELECT doc_id, $normToks AS t FROM documents),
         |hd AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS ntok, t[1] AS ft, t[-1] AS lt
         |       FROM d WHERE len(t) >= 1),
         |ky AS (SELECT doc_id, concat('F', ':', CAST(ntok // ${LinkageQueries.BlockBucket}
         |                AS VARCHAR), ':', ft) AS bkey FROM hd
         |       UNION ALL
         |       SELECT doc_id, concat('L', ':', CAST(ntok // ${LinkageQueries.BlockBucket}
         |                AS VARCHAR), ':', lt) AS bkey FROM hd),
         |ok AS (SELECT ky.* FROM ky
         |       JOIN (SELECT bkey FROM ky GROUP BY bkey
         |             HAVING count(*) <= ${LinkageQueries.BlockKeyCap} AND count(*) >= 2) k
         |         USING (bkey)),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |         FROM ok a JOIN ok b ON a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_cand FROM cand),
         |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth),
         |nh AS (SELECT CAST(count(*) AS BIGINT) AS n_hit
         |       FROM cand JOIN truth USING (id_a, id_b)),
         |nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents)
         |SELECT nc.n_cand, nt.n_truth, nh.n_hit,
         |       CAST(CASE WHEN nt.n_truth = 0 THEN 10000
         |            ELSE (10000 * nh.n_hit) // nt.n_truth END AS BIGINT)
         |         AS completeness_x10k,
         |       CAST(1000000 - (nc.n_cand * 2000000) // (nd.n * (nd.n - 1)) AS BIGINT)
         |         AS reduction_x1m
         |FROM nc, nt, nh, nd""".stripMargin
  )
}
