package graft.queries

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Semantics + plan-shape pins for the round-3d OLAP surface (the values
  * themselves are oracle-checked against DuckDB by the driver gate; these
  * pin the properties the oracle can't see). */
class OlapSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("q80 interval lookup ≡ brute-force containment join") {
    val ev = graft.Tables.events(spark, sfDir)
    val iv = graft.ops.Intervals.scd2(ev,
      key = "user_id", ts = "ts_ms", tie = "event_id", attr = "event_type")
    val p = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts_ms")
    val brute = p.join(iv.withColumnRenamed("user_id", "iv_user"),
        col("user_id") === col("iv_user") &&
          col("valid_from") <= col("ts_ms") &&
          (col("valid_to") === -1L || col("ts_ms") < col("valid_to")))
      .select(col("event_id"), col("user_id"), col("ts_ms"), col("status"),
        col("valid_from").as("valid_from_ms"), col("version"))
    val fast = OlapQueries.q80_interval_lookup(spark, sfDir)
    assert(fast.count() == p.count(), "every purchase must find its interval")
    assert(fast.exceptAll(brute).isEmpty && brute.exceptAll(fast).isEmpty)
  }

  test("q80 runs through the native as-of operator, not a window or BNLJ") {
    val plans = collectAllPlans(
      executedPlan(OlapQueries.q80_interval_lookup(spark, sfDir)))
    assert(plans.exists(_.isInstanceOf[graft.plans.AsOfJoinExec]))
    assert(!plans.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]))
  }

  test("q81 rerank joins only candidate pairs (no cartesian, no BNLJ)") {
    val plans = collectAllPlans(
      executedPlan(OlapQueries.q81_edit_rerank(spark, sfDir)))
    assert(!plans.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "edit distance must run on LSH candidates only")
    graft.ops.Materialize.releaseQuery(spark)
  }

  test("q79 sliding windows: every event lands in exactly 2 windows") {
    val total = graft.Tables.events(spark, sfDir).count()
    val windowed = OlapQueries.q79_sliding_windows(spark, sfDir)
      .agg(sum("n_events")).collect()(0).getLong(0)
    assert(windowed == 2 * total,
      s"window/slide = 2 => 2x fan-out, got $windowed for $total events")
  }

  test("q82 cube expands grouping sets map-side: one shuffle, no window") {
    val plans = collectAllPlans(
      executedPlan(OlapQueries.q82_cube_revenue(spark, sfDir)))
    val hashShuffles = plans.collect { case s: ShuffleExchangeExec => s }
      .filter(_.outputPartitioning.toString.contains("hashpartitioning"))
    assert(hashShuffles.size == 1,
      s"cube should aggregate with one hash shuffle, got ${hashShuffles.size}")
    assert(plans.exists(_.toString.contains("Expand")),
      "grouping-set expansion should appear below the partial aggregate")
    assert(!plans.exists(_.isInstanceOf[WindowExec]))
  }

  test("q82 cube totals are consistent across grouping sets") {
    val rows = OlapQueries.q82_cube_revenue(spark, sfDir).collect()
    val grand = rows.filter(_.getAs[Long]("gid") == 3L)
    assert(grand.length == 1)
    val perPriority = rows.filter(_.getAs[Long]("gid") == 1L)
      .map(_.getAs[Long]("revenue_c")).sum
    assert(perPriority == grand.head.getAs[Long]("revenue_c"))
  }

  test("q83 set-op segments partition the union of both years") {
    val rows = OlapQueries.q83_set_ops(spark, sfDir).collect()
    val bySeg = rows.groupBy(_.getAs[String]("segment"))
      .view.mapValues(_.map(_.getAs[Long]("o_custkey")).toSet).toMap
    val all = bySeg.values.flatten.toSeq
    assert(all.distinct.size == all.size, "segments must be disjoint")
    val y = (yr: Int) => graft.Tables.orders(spark, sfDir)
      .filter(year(col("o_orderdate")) === yr)
      .select("o_custkey").distinct().collect().map(_.getLong(0)).toSet
    val (y95, y96) = (y(1995), y(1996))
    assert(bySeg.getOrElse("both", Set.empty) == (y95 intersect y96))
    assert(bySeg.getOrElse("only_1995", Set.empty) == (y95 diff y96))
    assert(bySeg.getOrElse("only_1996", Set.empty) == (y96 diff y95))
  }

  test("q85 median/MAD stay integer under the x4 scaling") {
    val e = graft.Tables.eventsCents(spark, sfDir)
      .select(col("event_type"), (col("value_c") * 4).as("v4"))
    // the exact double percentile must hit integers: compare cast vs raw
    val raw = e.groupBy("event_type")
      .agg(percentile(col("v4"), lit(0.5)).as("m")).collect()
    raw.foreach { r =>
      val m = r.getAs[Double]("m")
      assert(m == math.rint(m), s"median_x4 must be integral, got $m")
    }
  }

  test("q79 hopping windows aggregate with ONE hash shuffle (map-side fan-out)") {
    val plans = collectAllPlans(
      executedPlan(OlapQueries.q79_sliding_windows(spark, sfDir)))
    val hashShuffles = plans.collect { case s: ShuffleExchangeExec => s }
      .filter(_.outputPartitioning.toString.contains("hashpartitioning"))
    assert(hashShuffles.size == 1,
      s"window fan-out must stay map-side; got ${hashShuffles.size} hash shuffles")
  }

  test("q87 winsorize: both rank windows share the event_type partitioning") {
    val plans = collectAllPlans(
      executedPlan(OlapQueries.q87_winsorize(spark, sfDir)))
    val hashShuffles = plans.collect { case s: ShuffleExchangeExec => s }
      .map(_.outputPartitioning.toString).filter(_.contains("hashpartitioning"))
    // windows + bounds aggregate + final aggregate all key on event_type:
    // nothing may repartition on anything else
    assert(hashShuffles.forall(_.contains("event_type")),
      s"all shuffles must key on event_type, got $hashShuffles")
    assert(!plans.exists(p => p.isInstanceOf[WindowExec] &&
      p.asInstanceOf[WindowExec].partitionSpec.isEmpty),
      "no global (unpartitioned) window allowed")
  }

  test("q90 EXISTS/NOT EXISTS rewrite to semi/anti hash joins (no per-row subquery)") {
    val plans = collectAllPlans(
      executedPlan(OlapQueries.q90_exists_orders(spark, sfDir)))
    val joinTypes = plans.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j.joinType
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j.joinType
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j.joinType
    }.map(_.toString).toSet
    assert(joinTypes.contains("LeftSemi") && joinTypes.contains("LeftAnti"),
      s"expected semi+anti joins, got $joinTypes")
    assert(!plans.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]))
  }

  test("winsorize == Scala reference on random grouped multisets (ScalaCheck)") {
    import org.scalacheck.{Gen, Test => SCTest}
    import org.scalacheck.Prop.forAll
    import spark.implicits._
    val group = Gen.oneOf("a", "b", "c")
    val rows = Gen.choose(1, 60).flatMap(n =>
      Gen.listOfN(n, Gen.zip(group, Gen.choose(-500L, 500L))))
    val prop = forAll(rows) { rs =>
      val df = rs.zipWithIndex
        .map { case ((g, v), i) => (g, i.toLong, v) }
        .toDF("event_type", "event_id", "value_c")
      val got = OlapQueries.winsorizeStats(df).collect()
        .map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      val expected = rs.groupBy(_._1).map { case (g, grp) =>
        val v = grp.map(_._2).sorted
        val n = v.size
        val kLo = math.max(1, (n * 5 + 99) / 100)
        val kHi = math.max(1, (n * 95 + 99) / 100)
        val (lo, hi) = (v(kLo - 1), v(kHi - 1))
        g -> (n.toLong, lo, hi, v.map(x => math.min(math.max(x, lo), hi)).sum)
      }
      got == expected
    }
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(r.passed, r.status.toString)
  }

  test("negative ring: every item serves as negative exactly k times; never itself (ScalaCheck)") {
    import org.scalacheck.{Gen, Test => SCTest}
    import org.scalacheck.Prop.forAll
    import spark.implicits._
    val items = Gen.choose(4, 40).map(n => (0 until n).map(i => (i.toLong, i % 3)))
    val k = 3
    val prop = forAll(items) { is =>
      val got = OlapQueries.negativeRing(is.toDF("vec_id", "label"), k).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val perAnchor = got.groupBy(_._1).view.mapValues(_.length)
      val asNegative = got.groupBy(_._3).view.mapValues(_.length)
      got.length == is.size * k &&
        perAnchor.values.forall(_ == k) &&
        asNegative.values.forall(_ == k) &&      // uniform service load
        got.forall { case (a, _, n) => a != n }  // n > k ⇒ never self
    }
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(r.passed, r.status.toString)
  }

  test("q86 chunk ownership: kept counts sum to the number of distinct chunks") {
    val out = OlapQueries.q86_chunk_dedup(spark, sfDir)
    val kept = out.agg(sum("n_kept")).collect()(0).getLong(0)
    val docs = graft.Tables.documents(spark, sfDir)
    val distinctChunks = docs
      .select(explode(graft.functions.TextFunctions.charChunks(col("text"),
        OlapQueries.ChunkDedupChars, OlapQueries.ChunkDedupChars)).as("c"))
      .select(md5(col("c.chunk_text"))).distinct().count()
    assert(kept == distinctChunks,
      "every distinct chunk hash must be kept exactly once")
  }
}
