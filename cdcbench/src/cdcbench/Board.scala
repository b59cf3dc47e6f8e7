package cdcbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.ops.Dedup

/** `board`: closed loop, one client running a fixed subset of
  * `SparkEntry.queries` over the generated tables. Each query is timed
  * from building its DataFrame through materializing its full result with
  * a noop write (a `count()` would let column pruning skip work a user
  * pays for). Passes over both strata run, in a seed-permuted order per
  * pass, until the run's seconds are used. Set-up builds the pinned cores
  * the subset reads and runs one untimed pass that writes every result for
  * the oracle check. */
object Board {

  /** The four materialization-tier sites (`Dedup.checkpointTracked` and
    * the pinned shingle / pair cores): task compute, shuffle and
    * materialization dominate. */
  val Heavy: Seq[String] = Seq(
    "q269_chain_dilution", "q270_blocking_audit", "q271_survivorship", "q280_effective_tokens")

  /** Queries under 0.3 s on the 8-core sf0.1 board: q145/q196/q207/q330/
    * q332 (2.5-5x faster on 8 cores than on 32) plus two scan/aggregate
    * queries. Planning and scheduling fixed cost dominates. */
  val Light: Seq[String] = Seq(
    "q01_filter_project", "q50_promo_revenue", "q145_knn_triangles", "q196_degree_assortativity",
    "q207_local_bridges", "q330_resource_allocation", "q332_two_hop_reach")

  /** The pinned cores the heavy stratum reads that have a public builder
    * (the blocking-candidates core is built by q270's set-up run). */
  private def cores(spark: SparkSession, dir: String): Seq[(String, () => Long)] = {
    import graft.queries.DataPrepQueries.{JaccardMaxDf, ShingleN}
    Seq(
      "shingles" -> (() => Dedup.pinnedShingles(spark, dir, ShingleN).count()),
      "set_sizes" -> (() => Dedup.pinnedSetSizes(spark, dir, ShingleN).count()),
      "pair_intersections" -> (() => Dedup.pinnedIntersections(spark, dir, ShingleN, JaccardMaxDf)._1.count()))
  }

  def run(spark: SparkSession, r: Run, dataDir: String, markSetupDone: Long => Unit): Unit = {
    val sc = spark.sparkContext
    val queries = SparkEntry.queries
    val all = Heavy.map(_ -> "heavy") ++ Light.map(_ -> "light")
    val missing = all.map(_._1).filterNot(queries.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(", ")}")
    // set-up: pinned cores, then one untimed pass that writes every result
    // for the oracle check (and pays code generation before timing)
    sc.setLocalProperty(SpanLog.StratumProp, "cores")
    r.spans.span("setup.cores", sc) {
      cores(spark, dataDir).foreach { case (n, force) =>
        val t0 = System.nanoTime()
        force()
        r.set(s"mat.core_build_s.$n", (System.nanoTime() - t0) / 1e9)
      }
    }
    val outDir = r.out.resolve("board-out")
    all.foreach { case (name, stratum) =>
      sc.setLocalProperty(SpanLog.StratumProp, stratum)
      try {
        r.spans.span("setup.check_query", sc) {
          queries(name)(spark, dataDir).write.mode("overwrite").parquet(outDir.resolve(name).toString)
        }
      } catch {
        case e: Exception => r.set(s"check_error.$name", String.valueOf(e.getMessage).take(300))
      } finally Dedup.unpersistIntermediates(spark)
    }
    val sql = SparkEntry.oracleSql
    r.set("oracle_sql", all.map { case (n, _) => n -> sql.getOrElse(n, "") }.toMap)
    r.set("strata", all.toMap)

    markSetupDone(System.nanoTime())
    val deadline = System.nanoTime() + r.seconds * 1000000000L
    val rnd = new scala.util.Random(r.seed)
    var pass = 0
    while (pass < 1 || System.nanoTime() < deadline) {
      pass += 1
      rnd.shuffle(all).foreach { case (name, stratum) =>
        sc.setLocalProperty(SpanLog.StratumProp, stratum)
        val t0 = System.nanoTime()
        val ok = try {
          r.spans.span(s"board.query.$stratum", sc) {
            val df = r.spans.span(s"catalyst.build.$stratum") { queries(name)(spark, dataDir) }
            df.write.format("noop").mode("overwrite").save()
          }
          true
        } catch { case e: Exception =>
          r.op(ok = false, s"$name: ${String.valueOf(e.getMessage).take(200)}"); false
        }
        val t1 = System.nanoTime()
        if (ok) {
          r.op(ok = true)
          r.sample(s"query_s.$name", (t1 - t0) / 1e9)
        }
        if (r.trace) {
          val infos = sc.getRDDStorageInfo.filter(_.isCached)
          r.sample("mat.cached_rdds", infos.length.toDouble)
          r.sample("mat.cached_bytes", infos.map(i => i.memSize + i.diskSize).sum.toDouble)
        }
        Dedup.unpersistIntermediates(spark)
      }
    }
    r.set("passes", pass)
  }
}
