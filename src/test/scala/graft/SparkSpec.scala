package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one per suite, guide-recommended). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Force AQE to finalize and return the executed physical plan. */
  def executedPlan(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.execution.SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  /** Every node of an (AQE-staged) physical plan, descending into query
    * stages and subqueries. */
  def collectAllPlans(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    val kids = p match {
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
      case _ => p.children
    }
    (p +: kids.flatMap(collectAllPlans)) ++ p.subqueries.flatMap(collectAllPlans)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    // the conf Bench and Verify ship (SessionsSpec pins it); managed
    // tables (BucketingSpec) must not land in the repo cwd
    val s = Sessions.local(4, "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
