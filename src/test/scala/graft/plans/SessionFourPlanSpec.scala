package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, SortMergeJoinExec}

import graft.SparkSpec
import graft.queries._

/** Plan-shape pins for the round-8 session-4 waves — the 100 TB posture
  * of the new operators as PLAN properties:
  *
  *  - q363: the PPS point-to-interval match is closed form — there must
  *    be NO sort-merge join and NO cartesian anywhere (the naive form
  *    is a points×docs range join);
  *  - q367: deciles come from the two-phase global index — every
  *    window either runs partition-parallel or over pre-aggregated
  *    rows; no corpus rows under a single-task window;
  *  - q361: the PAVA lattice lives on ≤16 prefix-sum rows — all joins
  *    below it broadcast, never sort-merge;
  *  - q372: the cross-source affinity join is a gram EQUIJOIN on the
  *    alphabet-bounded vocabulary — no nested-loop/cartesian pairing;
  *  - q377: the brand dimension broadcasts onto the fact table and the
  *    bridge aggregates in one hash shuffle family.
  */
class SessionFourPlanSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def executed(df: DataFrame): SparkPlan = executedPlan(df)
  private def all(p: SparkPlan): Seq[SparkPlan] = collectAllPlans(p)

  test("q363: closed-form grid matching — no range join, no cartesian") {
    val plan = executed(SamplingQueries.q363_pps_estimate(spark, sfDir))
    val bad = all(plan).collect {
      case j: SortMergeJoinExec => j
      case j: CartesianProductExec => j
    }
    assert(bad.isEmpty, s"expected only broadcast joins, got:\n$plan")
  }

  test("q367: no corpus rows under a single-task window") {
    // q367's dec frame is a Materialize.checkpoint (round 12), so its decile
    // windows live inside the checkpointed subtree — pin the SAME
    // invariant on the machinery the query runs (globalIndex over the
    // q367 ordering), and assert the query's own plan streams the
    // materialized leaf instead of recomputing the chain per side.
    val qplan = executed(QteQueries.q367_qte_deciles(spark, sfDir))
    assert(all(qplan).exists {
      case _: org.apache.spark.sql.execution.RDDScanExec => true
      case _ => false
    }, s"dec must be a checkpointed leaf:\n$qplan")
    val o = graft.Tables.orders(spark, sfDir)
      .select(org.apache.spark.sql.functions.col("o_orderkey"))
    val plan = executed(graft.ops.Relational.globalIndex(o,
      Seq(org.apache.spark.sql.functions.col("o_orderkey")), "__gidx"))
    val windows = all(plan).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty)
    windows.foreach { w =>
      val parallel = w.child.outputPartitioning.numPartitions > 1
      val aboveAgg = all(w).drop(1).exists {
        case _: org.apache.spark.sql.execution.aggregate.HashAggregateExec => true
        case _: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => true
        case _: org.apache.spark.sql.execution.aggregate.SortAggregateExec => true
        // a ReusedExchange leaf truncates the subtree; the original
        // exchange it references sits above the aggregate already
        // verified on first use
        case _: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => true
        case _ => false
      }
      assert(parallel || aboveAgg,
        s"window must be partition-parallel or over aggregated rows:\n$w")
    }
  }

  test("q361: the PAVA lattice joins broadcast (no sort-merge join)") {
    val plan = executed(IsotonicQueries.q361_isotonic_calibration(spark, sfDir))
    val smj = all(plan).collect { case j: SortMergeJoinExec => j }
    assert(smj.isEmpty, s"lattice joins on <=16 rows must broadcast:\n$plan")
  }

  test("q372: affinity is a gram equijoin, never a nested-loop pairing") {
    val plan = executed(KmvQueries.q372_trigram_affinity(spark, sfDir))
    val bad = all(plan).collect {
      case j: CartesianProductExec => j
      case j: BroadcastNestedLoopJoinExec if j.condition.isEmpty => j
    }
    assert(bad.isEmpty, s"expected equijoin on the gram key:\n$plan")
  }

  test("q377: brand dimension broadcasts onto the fact table") {
    val plan = executed(BridgeQueries.q377_revenue_bridge(spark, sfDir))
    val bhj = all(plan).collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, s"expected broadcast of the part dimension:\n$plan")
    val hashShuffles = all(plan).collect {
      case s: ShuffleExchangeExec
        if s.outputPartitioning.toString.contains("hashpartitioning") => s
    }
    assert(hashShuffles.size <= 1,
      s"conditional aggregation means ONE hash shuffle of the fact table:\n$plan")
  }
}
