package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec

import graft.queries.{CdcQueries, DataPrepQueries}

/** Physical-plan shape assertions — the 100 TB posture is a property of the
  * PLAN, not just the results: filters must reach the scan, the replay must
  * shuffle data once, the ANN query side must broadcast. Guards against
  * regressions that stay correct but stop scaling. */
class PlanSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  // thin aliases over the shared SparkSpec helpers (hoisted there so every
  // plan-shape suite walks AQE stages the same way)
  private def executed(df: DataFrame): SparkPlan = executedPlan(df)
  private def collectAll(p: SparkPlan): Seq[SparkPlan] = collectAllPlans(p)

  test("q01 filter is pushed into the parquet scan (O3 pushdown)") {
    val plan = executed(CdcQueries.q01_filter_project(spark, sfDir)).toString
    assert(plan.contains("PushedFilters: [In(event_type"),
      s"expected pushed IN filter, plan:\n$plan")
  }

  test("q01 scan reads only the projected columns (O4 pruning)") {
    val plan = executed(CdcQueries.q01_filter_project(spark, sfDir)).toString
    assert(plan.contains("ReadSchema: struct<event_id:bigint,user_id:bigint,event_type:string>"),
      s"expected pruned ReadSchema, plan:\n$plan")
  }

  test("q09 flagship replay shuffles data exactly once (plus output sort)") {
    val shuffles = collectAll(executed(CdcQueries.q09_transactions_view(spark, sfDir)))
      .collect { case s: ShuffleExchangeExec => s.outputPartitioning }
    val hashShuffles = shuffles.filter(_.toString.contains("hashpartitioning"))
    assert(hashShuffles.size == 1,
      s"expected 1 hash shuffle, got ${shuffles.size}: $shuffles")
  }

  test("q20 ANN broadcasts the query side (no shuffle of the corpus)") {
    val plan = executed(DataPrepQueries.q20_ann_brute_topk(spark, sfDir))
    val bnlj = collectAll(plan).collect { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnlj.nonEmpty, s"expected broadcast join, plan:\n$plan")
    // ranking agg shuffle + output sort only. The corpus side may carry ONE
    // round-robin REPARTITION_BY_NUM (`Dedup.spread`: parallelizes the scan
    // stage of a single-split local corpus; no-op on real multi-split
    // inputs) — what must never appear is a hash/range shuffle of the
    // corpus driven by the join itself.
    val shuffles = collectAll(plan).collect { case s: ShuffleExchangeExec => s }
      .filterNot(_.outputPartitioning.toString.contains("RoundRobinPartitioning"))
    assert(shuffles.size <= 2, s"unexpected extra shuffles:\n$plan")
  }

  test("q20 top-k reduces map-side: no window over the cross product") {
    val plan = executed(DataPrepQueries.q20_ann_brute_topk(spark, sfDir))
    val windows = collectAll(plan).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty,
      s"brute-force top-k must rank via the bounded-heap aggregate, not a window:\n$plan")
    // the partial (map-side) aggregation must exist below the exchange, so
    // only ≤ k rows per (query, task) are shuffled
    val partialAggs = collectAll(plan).collect {
      case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
          if a.aggregateExpressions.exists(_.mode.toString.contains("Partial")) => a
    }
    assert(partialAggs.nonEmpty, s"expected a partial ObjectHashAggregate:\n$plan")
  }

  test("q10 global index never concentrates the data on one partition (O17)") {
    val plan = executed(CdcQueries.q10_checkpoint_cadence(spark, sfDir))
    // the old shape was Window.orderBy with no partition: Exchange
    // SinglePartition feeding WindowExec over the full table. The two-phase
    // index must have NO single-partition exchange on the data path (the
    // prefix-offset side aggregates to one row per partition first, so its
    // tiny global window is fine — detect the bad case by asserting no
    // WindowExec consumes a SinglePartition exchange of the raw table).
    val globalWindows = collectAll(plan).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
    }
    globalWindows.foreach { w =>
      val subtree = collectAll(w)
      val aboveAgg = subtree.exists {
        case _: org.apache.spark.sql.execution.aggregate.HashAggregateExec => true
        case _: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => true
        case _: org.apache.spark.sql.execution.aggregate.SortAggregateExec => true
        case _ => false
      }
      assert(aboveAgg,
        s"unpartitioned window directly over the data (no aggregate below):\n$plan")
    }
  }

  test("q31 IVF: centroid/probe sides broadcast, corpus never cartesian-joins itself") {
    val plan = executed(DataPrepQueries.q31_ann_ivf_topk(spark, sfDir))
    val nodes = collectAll(plan)
    // assignment and search are broadcast joins (tiny centroid/probe side)
    val broadcasts = nodes.collect {
      case j: BroadcastNestedLoopJoinExec => j
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    assert(broadcasts.nonEmpty, s"expected broadcast joins:\n$plan")
    // no sort-merge join and no shuffle of corpus-vector payloads beyond
    // the assignment argmax aggregation
    val smj = nodes.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(smj.isEmpty, s"IVF must not sort-merge join:\n$plan")
    // ranking goes through the bounded-heap aggregate, not a window
    val windowsOverData = nodes.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.nonEmpty => w
    }
    // the only windows allowed are bounded-input ones: the nProbe ranking
    // over |Q|·K rows and the k-means seed numbering over the k rows the
    // limit already collapsed (KMeans.lloydCentroids)
    assert(windowsOverData.size <= 2, s"unexpected windows:\n$plan")
  }

  test("q34 sequence packing: no unpartitioned window over the data (scale-safe cumsum)") {
    val plan = executed(DataPrepQueries.q34_pack_sequences(spark, sfDir))
    val nodes = collectAll(plan)
    // the data-path window is partitioned by spark_partition_id(); the only
    // unpartitioned window allowed is the prefix-offset one, which sits
    // ABOVE the per-partition aggregate (one row per partition)
    val globalWindows = nodes.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
    }
    globalWindows.foreach { w =>
      val aboveAgg = collectAll(w).exists {
        case _: org.apache.spark.sql.execution.aggregate.HashAggregateExec => true
        case _: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => true
        case _: org.apache.spark.sql.execution.aggregate.SortAggregateExec => true
        case _ => false
      }
      assert(aboveAgg,
        s"unpartitioned window directly over the data (no aggregate below):\n$plan")
    }
    // offsets join back must be a broadcast, not a shuffle of the data
    val bhj = nodes.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    assert(bhj.nonEmpty, s"expected broadcast offsets join:\n$plan")
  }

  test("q16 inverted-index pairs: equijoins only, never a cartesian/BNLJ candidate step") {
    val plan = executed(DataPrepQueries.q16_jaccard_pairs(spark, sfDir))
    val nodes = collectAll(plan)
    val cart = nodes.collect {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
      case j: BroadcastNestedLoopJoinExec => j
    }
    assert(cart.isEmpty, s"near-dup candidates must come from the shingle equijoin:\n$plan")
  }

  test("q44 star join: all dimension sides broadcast, fact table never sort-merge joins") {
    val plan = executed(graft.queries.RelationalQueries.q44_region_volume(spark, sfDir))
    val nodes = collectAll(plan)
    val bhj = nodes.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    assert(bhj.size >= 3, s"expected >= 3 broadcast joins (cust/supp/nation):\n$plan")
    val smj = nodes.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(smj.isEmpty, s"star join must not sort-merge the fact table:\n$plan")
  }

  test("q43 top-k executes as TakeOrderedAndProject (no global sort of the aggregate)") {
    val plan = executed(graft.queries.RelationalQueries.q43_top_orders(spark, sfDir))
    val tops = collectAll(plan).collect {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }
    assert(tops.nonEmpty, s"expected TakeOrderedAndProject:\n$plan")
  }

  test("q45 salted join: the physical join key includes the salt column") {
    val plan = executed(graft.queries.RelationalQueries.q45_skew_join_agg(spark, sfDir))
    val joins = collectAll(plan).collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j.leftKeys
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j.leftKeys
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j.leftKeys
    }
    assert(joins.exists(_.exists(_.toString.contains("__salt"))),
      s"expected a join keyed on (user_id, __salt):\n$plan")
  }

  test("q62 SCD2: exactly one data shuffle (both windows share the user_id exchange)") {
    val plan = executed(graft.queries.AnalyticsQueries.q62_scd2_intervals(spark, sfDir))
    // shuffles that move event rows: exchanges keyed on user_id. The final
    // orderBy adds a range exchange; the two windows + run-collapse must
    // NOT re-exchange between them.
    val hashExchanges = collectAll(plan).collect {
      case e: ShuffleExchangeExec
          if e.outputPartitioning.toString.startsWith("hashpartitioning") &&
            e.outputPartitioning.toString.contains("user_id") => e
    }
    assert(hashExchanges.size <= 1,
      s"SCD2 must reuse one user_id exchange, found ${hashExchanges.size}:\n$plan")
  }

  test("q65 k-means: centroids broadcast, the corpus side never sort-merge joins") {
    val plan = executed(graft.queries.AnalyticsQueries.q65_kmeans_assign(spark, sfDir))
    val nodes = collectAll(plan)
    val broadcasts = nodes.collect {
      case j: BroadcastNestedLoopJoinExec => j
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    assert(broadcasts.nonEmpty, s"expected broadcast centroid joins:\n$plan")
    val smj = nodes.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(smj.isEmpty, s"k-means must not sort-merge join the corpus:\n$plan")
  }

  test("q71 correlated subqueries decorrelate: aggregate+join, no per-row re-execution") {
    val plan = executed(graft.queries.AnalyticsQueries.q71_above_avg_orders(spark, sfDir))
    val nodes = collectAll(plan)
    val cartesian = nodes.collect {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
      case j: BroadcastNestedLoopJoinExec => j
    }
    assert(cartesian.isEmpty, s"correlated subquery must decorrelate:\n$plan")
    val aggs = nodes.collect {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
    }
    assert(aggs.nonEmpty, s"expected the decorrelated per-customer aggregate:\n$plan")
  }

  test("LSH signatures: the fused hash never lands in the scan's data filters") {
    // regression pin for the round-3 finding: a post-sig IS NOT NULL
    // filter was predicate-pushed through the spread() exchange into the
    // (serial, single-split) scan, evaluating the whole shingle+hash
    // subtree per row on one task (~30 s per LSH query at sf0.1). The
    // null semantics now ride on a cheap token-count PRE-filter, so the
    // scan's data filters must never mention the fused expressions.
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    Seq(
      graft.ops.Dedup.minhashSignature(docs),
      graft.ops.Dedup.simhash64(docs)
    ).foreach { df =>
      val scans = collectAll(executed(df)).collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      assert(scans.nonEmpty)
      scans.foreach { s =>
        val filters = s.dataFilters.mkString(";")
        assert(!filters.contains("graft_minhash_sig") &&
          !filters.contains("graft_simhash64") &&
          !filters.contains("array_sort"),
          s"expensive expression pushed into the scan: $filters")
      }
    }
  }

  test("q77 top-k per group: bounded-heap aggregate, no window and no per-group sort") {
    val plan = executed(
      graft.queries.CurationQueries.q77_top_orders_per_cust(spark, sfDir))
    val windows = collectAll(plan).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty,
      s"topKPerGroup must rank via the bounded heap, not a window:\n$plan")
    // map-side partial heap below the exchange: ≤ k rows per (group, task)
    val partialAggs = collectAll(plan).collect {
      case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
          if a.aggregateExpressions.exists(_.mode.toString.contains("Partial")) => a
    }
    assert(partialAggs.nonEmpty, s"expected a partial ObjectHashAggregate:\n$plan")
    // the only sort allowed is the final ORDER BY — nothing below the agg
    val aggSubtrees = collectAll(plan).collect {
      case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
    }.flatMap(a => a.children.flatMap(collectAll))
    assert(!aggSubtrees.exists(_.isInstanceOf[org.apache.spark.sql.execution.SortExec]),
      s"no sort may feed the heap aggregate:\n$plan")
  }

  test("q73 exact contamination: eval n-grams broadcast, corpus side never shuffles for the screen") {
    val plan = executed(
      graft.queries.CurationQueries.q73_exact_contamination(spark, sfDir))
    val bhj = collectAll(plan).collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    assert(bhj.nonEmpty,
      s"the distinct eval-gram side must broadcast into the train screen:\n$plan")
    val bnlj = collectAll(plan).collect { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnlj.isEmpty, s"no nested-loop candidate step allowed:\n$plan")
  }

  test("runtime bloom filter injects into the fact side of a selective dim join") {
    // 100 TB posture: with a selective filter on the dim side of a shuffle
    // join, Spark injects a bloom filter onto the fact scan so most fact
    // rows drop BEFORE the shuffle. The size thresholds are tuned for real
    // clusters (creation side default 10 MB, application side 10 GB scan),
    // so on test-sized data the rule only fires with the thresholds
    // lowered — this pin proves the engine's plans are eligible for the
    // optimization, which engages automatically at the scales it exists for.
    val prev = Map(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" ->
        spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"),
      "spark.sql.autoBroadcastJoinThreshold" ->
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    try {
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val li = graft.Tables.lineitem(spark, sfDir)
      val ord = graft.Tables.orders(spark, sfDir)
        .filter(org.apache.spark.sql.functions.col("o_orderpriority") === "1-URGENT")
      val j = li.join(ord,
        org.apache.spark.sql.functions.col("l_orderkey") ===
          org.apache.spark.sql.functions.col("o_orderkey"))
      assert(j.queryExecution.optimizedPlan.toString.contains("might_contain"),
        "expected an injected bloom filter on the fact side")
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("custom expression resolves in SQL after registration; extensions class wires") {
    graft.expressions.GraftFunctions.register(spark)
    val out = spark.sql(
      "SELECT graft_dot_long(array(1L, 2L, 3L), array(4L, 5L, 6L)) AS d")
      .collect()(0).getLong(0)
    assert(out == 32L)
    // wrong input types must be an ANALYSIS error (checkInputDataTypes),
    // not a runtime ClassCastException
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_dot_long(array('a'), array(1L))").collect()
    }
    // the cluster-install entry point must at least inject cleanly
    // (getOrCreate would silently reuse the suite session, so the full
    // spark.sql.extensions round-trip isn't testable in-process)
    new graft.expressions.GraftExtensions()
      .apply(new org.apache.spark.sql.SparkSessionExtensions)
  }

  test("q94 BPE training: every window is per-word; round winners broadcast, no cartesian") {
    val plan = executed(graft.queries.TrainPrepQueries.q94_bpe_merges(spark, sfDir))
    val nodes = collectAll(plan)
    val unpartitioned = nodes.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
    }
    assert(unpartitioned.isEmpty,
      s"BPE merge algebra must window per word, never globally:\n$plan")
    val cart = nodes.collect {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }
    assert(cart.isEmpty, s"round winners must join back as 1-row broadcasts:\n$plan")
    assert(nodes.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      s"expected the 1-row chosen-pair broadcast join:\n$plan")
  }

  test("q95 SemDeDup: pair search is an equi-join on cluster, never all-pairs") {
    val plan = executed(graft.queries.TrainPrepQueries.q95_semdedup(spark, sfDir))
    val nodes = collectAll(plan)
    val cart = nodes.collect {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }
    assert(cart.isEmpty, s"SemDeDup must never plan a cartesian pair step:\n$plan")
    // the within-cluster self-join must be a hash/merge equi-join keyed on
    // the cluster id (the quadratic stays bounded per cluster)
    val clusterKeyed = nodes.exists {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec =>
        j.leftKeys.exists(_.toString.contains("cluster"))
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec =>
        j.leftKeys.exists(_.toString.contains("cluster"))
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
        j.leftKeys.exists(_.toString.contains("cluster"))
      case _ => false
    }
    assert(clusterKeyed, s"expected a cluster-keyed equi-join:\n$plan")
  }

  test("q98 k-center: winners via TakeOrdered broadcasts; no windows, no cartesian") {
    val plan = executed(graft.queries.TrainPrepQueries.q98_kcenter_coreset(spark, sfDir))
    val nodes = collectAll(plan)
    assert(nodes.collect {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty, s"center updates must be 1-row broadcasts:\n$plan")
    assert(nodes.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, s"greedy selection must not plan any window:\n$plan")
    assert(nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.TakeOrderedAndProjectExec]),
      s"per-round argmax must be a TakeOrderedAndProject, not a global sort:\n$plan")
  }

  test("q101 DSIR: the bucket-ratio table broadcasts; the corpus never sort-merges") {
    val plan = executed(graft.queries.CorpusQueries.q101_dsir_weights(spark, sfDir))
    val nodes = collectAll(plan)
    assert(nodes.exists {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
        j.leftKeys.exists(_.toString.contains("bucket")) ||
          j.rightKeys.exists(_.toString.contains("bucket"))
      case _ => false
    }, s"expected the (≤4096-row) ratio table to broadcast-join on bucket:\n$plan")
    assert(nodes.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
        if j.leftKeys.exists(_.toString.contains("bucket")) => j
    }.isEmpty, s"the bucket join must never sort-merge the token pass:\n$plan")
  }

  test("q102 scrub: a pure map-side pass — no hash shuffle anywhere") {
    val nodes = collectAll(executed(
      graft.queries.CorpusQueries.q102_pii_scrub(spark, sfDir)))
    val hashShuffles = nodes.collect {
      case s: ShuffleExchangeExec
        if s.outputPartitioning.toString.contains("hashpartitioning") => s
    }
    assert(hashShuffles.isEmpty,
      s"scrub must not shuffle (only the output sort may range-partition): $hashShuffles")
  }

  test("q103 dup spans: cross-doc grams via hash equi-join, never a nested loop") {
    val plan = executed(graft.queries.CorpusQueries.q103_dup_spans(spark, sfDir))
    val nodes = collectAll(plan)
    assert(nodes.collect {
      case j: BroadcastNestedLoopJoinExec => j
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty, s"gram matching must stay an equi-join:\n$plan")
  }

  test("q104 random projection: shuffle-free (the sign matrix is a literal)") {
    val nodes = collectAll(executed(
      graft.queries.CorpusQueries.q104_random_projection(spark, sfDir)))
    val hashShuffles = nodes.collect {
      case s: ShuffleExchangeExec
        if s.outputPartitioning.toString.contains("hashpartitioning") => s
    }
    assert(hashShuffles.isEmpty,
      s"projection must not shuffle (explode of a literal is narrow): $hashShuffles")
  }

  test("q106 span corruption: islands window partitions by doc, no cartesian") {
    val plan = executed(graft.queries.TrainPrepQueries
      .q106_span_corruption(spark, sfDir))
    val nodes = collectAll(plan)
    assert(nodes.collect {
      case j: BroadcastNestedLoopJoinExec => j
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty, s"mask planning must stay per-doc equi-work:\n$plan")
    val windows = nodes.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      s"the island window must partition by doc_id, never SinglePartition:\n$plan")
  }

  test("q107 temperature mixture: 1-row total broadcasts; corpus never sort-merges") {
    val plan = executed(graft.queries.CorpusQueries
      .q107_temperature_mixture(spark, sfDir))
    val nodes = collectAll(plan)
    // the only nested-loop join allowed is the 1-row broadcast total
    val nlj = nodes.collect { case j: BroadcastNestedLoopJoinExec => j }
    assert(nlj.size <= 1, s"unexpected nested-loop joins:\n$plan")
    assert(nodes.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }.isEmpty, s"nothing here is big enough to sort-merge:\n$plan")
  }

  test("q108 label propagation: votes join/window stay per-node, no cartesian") {
    val plan = executed(graft.queries.OlapQueries
      .q108_label_propagation(spark, sfDir))
    val nodes = collectAll(plan)
    assert(nodes.collect {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty, s"label propagation must never go all-pairs:\n$plan")
    val windows = nodes.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      s"vote/rank windows must partition by node id:\n$plan")
  }

  test("q131 PageRank rounds: edge-list equi-work only — no cartesian, no corpus window") {
    val plan = executed(graft.queries.FlowQueries.q131_pagerank(spark, sfDir))
    val nodes = collectAll(plan)
    assert(nodes.collect {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty, s"every round must be an edge equijoin, never all-pairs:\n$plan")
    // rank mass flows through joins + partial aggregates; the only windows
    // allowed are partitioned ones inside the IVF quantizer's BOUNDED
    // training sample (TakeOrdered limit) — an unpartitioned window would
    // mean a round funnels node/edge state through one task
    assert(nodes.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.forall(_.partitionSpec.nonEmpty),
      s"PageRank rounds must never window over a single partition:\n$plan")
  }

  test("q136 dup-span masks: equi-join gram matching, island merge holds no window at all") {
    val plan = executed(graft.queries.MaskQueries.q136_dedup_masks(spark, sfDir))
    val nodes = collectAll(plan)
    assert(nodes.collect {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
      case j: BroadcastNestedLoopJoinExec => j
    }.isEmpty, s"cross-doc gram matching must stay an equi-join:\n$plan")
    // the island merge moved INSIDE a per-doc array expression (collect_set
    // → bound span transform): the plan must carry no WindowExec anywhere —
    // the former doc-partitioned row_number window cost an extra exchange
    val windows = nodes.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty,
      s"the island merge is an array expression now — no WindowExec expected:\n$plan")
  }

  test("q138 vocab growth: doc index is two-phase; the cumsum window is decile-sized") {
    val plan = executed(graft.queries.MaskQueries.q138_vocab_growth(spark, sfDir))
    val nodes = collectAll(plan)
    // decile cumsum runs over GrowthBuckets rows behind an aggregate — the
    // corpus-sized gram table must never feed an unpartitioned window
    // directly (same contract as the q10 two-phase index pin)
    val globalWindows = nodes.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
    }
    globalWindows.foreach { w =>
      val aboveAgg = collectAll(w).exists {
        case _: org.apache.spark.sql.execution.aggregate.HashAggregateExec => true
        case _: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => true
        case _: org.apache.spark.sql.execution.aggregate.SortAggregateExec => true
        case _ => false
      }
      assert(aboveAgg,
        s"unpartitioned window directly over the data (no aggregate below):\n$plan")
    }
    assert(nodes.collect {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty, s"no stage of the growth curve may go all-pairs:\n$plan")
  }

  test("q142 BM25: df/totals broadcast, top-k via TakeOrdered, no corpus-wide sort") {
    val plan = executed(graft.queries.SearchQueries.q142_bm25_topk(spark, sfDir))
    val nodes = collectAll(plan)
    assert(nodes.exists {
      case _: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => true
      case _ => false
    }, s"top-k must be TakeOrderedAndProject, not a global sort+limit:\n$plan")
    // the 1-row corpus-totals frame attaches as a broadcast cross join —
    // fine (build side is one row); an unbroadcast cartesian is not
    assert(nodes.collect {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty, s"totals must broadcast, never a partitioned cartesian:\n$plan")
  }

  test("q145 triangles: every join is an equi-join over the edge list, nothing all-pairs") {
    val plan = executed(graft.queries.GraphStatQueries.q145_knn_triangles(spark, sfDir))
    val nodes = collectAll(plan)
    assert(nodes.collect {
      case j: BroadcastNestedLoopJoinExec => j
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty, s"wedge closure must stay hash equi-joins on edge endpoints:\n$plan")
  }

  test("q190 phrase search: probe-term filter cuts the token stream before any shuffle") {
    val plan = executed(graft.queries.RetrievalQueries.q190_phrase_search(spark, sfDir))
    val nodes = collectAll(plan)
    // positional intersection must be hash equi-joins on (doc, pos) —
    // postings-sized, never corpus-sized nested loops
    assert(nodes.collect {
      case j: BroadcastNestedLoopJoinExec => j
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty, s"phrase alignment must stay equi-joins:\n$plan")
    assert(nodes.exists {
      case _: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => true
      case _ => false
    }, s"phrase top-k must be TakeOrderedAndProject:\n$plan")
  }

  test("q192 bloom decontam: the bitset prefilter broadcasts (train grams never shuffle to it)") {
    val plan = executed(graft.queries.RetrievalQueries.q192_bloom_decontam(spark, sfDir))
    val nodes = collectAll(plan)
    val semis = nodes.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
        if j.joinType.toString == "LeftSemi" => j
    }
    assert(semis.size >= 2,
      s"both bloom-bit probes must be broadcast left-semi hash joins, got ${semis.size}:\n$plan")
  }

  test("q202 gini: no sort of corpus rows under a |dims|-partition window") {
    // the round-5 weak plan: ntile(4) OVER (PARTITION BY dim ...) put ALL
    // n rows of a dimension into ONE task's sort — a 64-way parallelism
    // ceiling. The two-phase rework must leave every WindowExec running
    // over a PRE-AGGREGATED input (per-partition counts, per-dim offsets,
    // the |dims|-row rank table), never over the exploded cell rows.
    val plan = executed(graft.queries.IndexQueries.q202_gini_features(spark, sfDir))
    val windows = collectAll(plan).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, s"expected the tiny offset/rank windows:\n$plan")
    windows.foreach { w =>
      val aboveAgg = collectAll(w).drop(1).exists {
        case _: org.apache.spark.sql.execution.aggregate.HashAggregateExec => true
        case _: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => true
        case _: org.apache.spark.sql.execution.aggregate.SortAggregateExec => true
        case _ => false
      }
      assert(aboveAgg,
        s"window over un-aggregated (corpus-sized) input in q202:\n$w")
    }
  }

  test("q191 MMR: candidate cut is a TakeOrdered; the greedy fold adds no window") {
    val plan = executed(graft.queries.RetrievalQueries.q191_mmr_rerank(spark, sfDir))
    val nodes = collectAll(plan)
    assert(nodes.exists {
      case _: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => true
      case _ => false
    }, s"MMR candidates must come from TakeOrderedAndProject:\n$plan")
    assert(nodes.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, s"the greedy selection is a fold, never a corpus window:\n$plan")
  }

  test("q199 RAG capstone: fused pool is a materialized leaf; no corpus-wide window downstream") {
    val plan = executed(graft.queries.RagQueries.q199_rag_context(spark, sfDir))
    val nodes = collectAll(plan)
    // the fused pool (both retrieval arms + the RRF cut, ≤ RagCand rows)
    // is a Materialize.checkpoint (round 12) — a LogicalRDD leaf here,
    // materialized ONCE instead of once per consuming stage. The arm
    // shape itself (probe-filtered / broadcast-scored corpus TakeOrdered)
    // is pinned by construction (ranked() = orderBy.limit ⇒ TakeOrdered)
    // and by q142's own spec for the lexical arm.
    assert(nodes.exists {
      case _: org.apache.spark.sql.execution.RDDScanExec => true
      case _ => false
    }, s"the fused pool must be a checkpointed leaf:\n$plan")
    val windows = nodes.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    // every surviving window runs on the ≤RagCand leaf or the ≤RagK fold
    // output (packing cumsum) — never a corpus-fed window
    assert(windows.size <= 4, s"unexpected windows in the capstone:\n$plan")
  }

  test("q283 Q21-collapse: each fact scanned once, no per-order window") {
    // the EXISTS + NOT EXISTS pair is ONE grouped pass: a triple self-join
    // shape would scan lineitem 3x
    val plan = executed(graft.queries.RelationalQueries.q283_waiting_supplier(spark, sfDir))
    val nodes = collectAll(plan)
    val scans = nodes.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s.toString
    }
    assert(scans.count(_.contains("lineitem.parquet")) == 1,
      s"lineitem must be scanned once:\n$plan")
    assert(scans.count(_.contains("orders.parquet")) == 1,
      s"orders must be scanned once:\n$plan")
    assert(nodes.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, s"no per-order window in the collapse:\n$plan")
  }

  test("q289 int8 recall: both arms broadcast the sample, heap-reduce, no window") {
    val plan = executed(
      graft.queries.GraphQualityQueries.q289_quantization_recall(spark, sfDir))
    val nodes = collectAll(plan)
    assert(nodes.collect { case j: BroadcastNestedLoopJoinExec => j }.size >= 2,
      s"both scoring arms must broadcast the query sample:\n$plan")
    assert(nodes.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, s"top-k must be the bounded heap, not a window:\n$plan")
    assert(nodes.collect {
      case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
          if a.aggregateExpressions.exists(_.mode.toString.contains("Partial")) => a
    }.nonEmpty, s"expected partial bounded-heap aggregates:\n$plan")
  }

  test("q292 motifs: equi-joins on the user key only — no cross-user pairing") {
    val plan = executed(graft.queries.MotifQueries.q292_temporal_motifs(spark, sfDir))
    val nodes = collectAll(plan)
    assert(nodes.collect {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
      case j: BroadcastNestedLoopJoinExec => j
    }.isEmpty, s"motif joins must stay user-keyed equi-joins:\n$plan")
    val joins = nodes.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j.leftKeys
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j.leftKeys
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j.leftKeys
    }
    assert(joins.nonEmpty &&
      joins.forall(_.exists(_.toString.contains("user_id"))),
      s"every motif join must key on user_id:\n$plan")
  }

  test("q300 power iteration is matrix-free: no d^2 product, no window") {
    val plan = executed(
      graft.queries.RiskQueries.q300_principal_direction(spark, sfDir))
    val nodes = collectAll(plan)
    assert(nodes.collect {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty, s"covariance must never materialize as a product:\n$plan")
    // the only nested-loop joins are the 1-row scalar broadcasts (max-abs
    // rescale per round)
    assert(nodes.collect { case j: BroadcastNestedLoopJoinExec => j }.size <= 3,
      s"only the per-round scalar rescales may nested-loop:\n$plan")
    assert(nodes.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, s"no window anywhere in the iteration:\n$plan")
  }

  test("q291 HITS: the edge list is a materialized leaf — the fact join never re-runs") {
    val plan = executed(
      graft.queries.GraphQualityQueries.q291_bipartite_hits(spark, sfDir))
    val nodes = collectAll(plan)
    // edges and h1 are Materialize.checkpoints (round 12): the fact join runs
    // exactly once at materialization and a1/h1-max/a2 stream the blocks
    // (LogicalRDD leaves) instead of re-executing a persisted subtree
    // per consuming stage
    val leafReads = nodes.collect {
      case s: org.apache.spark.sql.execution.RDDScanExec => s
    }
    assert(leafReads.size >= 3,
      s"a1/h1/a2 must all stream checkpointed leaves:\n$plan")
    assert(nodes.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.toString.contains("lineitem.parquet") => s
    }.isEmpty, s"lineitem must be behind the checkpoint, not re-scanned:\n$plan")
  }

  test("q152 market share: dims broadcast, the fact side never sort-merges") {
    // byNation is a Materialize.checkpoint (round 12): the star join (where the
    // dims-broadcast invariant lives) executes inside the checkpointed
    // subtree, so pin it on the star frame itself, and pin the query's
    // own plan on the leaf + the share join staying broadcast.
    val plan = executed(graft.queries.JourneyQueries.q152_market_share(spark, sfDir))
    val nodes = collectAll(plan)
    assert(nodes.exists {
      case _: org.apache.spark.sql.execution.RDDScanExec => true
      case _ => false
    }, s"byNation must be a checkpointed leaf:\n$plan")
    assert(nodes.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: BroadcastNestedLoopJoinExec => j
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty, s"share join must broadcast; no nested-loop:\n$plan")
    // the star subtree: reconstruct the same shape q152 checkpoints and
    // assert the dims broadcast there (same session, same tables)
    val starPlan = executed(
      graft.queries.JourneyQueries.q152StarForPlanPin(spark, sfDir))
    val bhj = collectAll(starPlan).collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    assert(bhj.size >= 4,
      s"nation x2/region/supplier (and small sides under AQE) must broadcast, got ${bhj.size}:\n$starPlan")
    assert(collectAll(starPlan).collect {
      case j: BroadcastNestedLoopJoinExec => j
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty, s"no nested-loop anywhere in the star:\n$starPlan")
  }
}
