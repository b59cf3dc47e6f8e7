package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.StructType

/** Minimal `private[sql]` bridge: `Dataset.ofRows` (a DataFrame from a raw
  * `LogicalPlan`) is package-private in Spark, and building a DataFrame
  * around a CUSTOM logical node (graft's [[graft.plans.AsOfJoinNode]]) has
  * no public route. A shim inside the `org.apache.spark.sql` namespace is
  * the standard extension-library pattern for this. The only other
  * internal re-exported here is `StructType.asNullable`, the rule file
  * sources apply to a schema read from files ([[graft.streaming.ViewStore]]
  * builds its reads with it, to match `spark.read.parquet`). */
object GraftSqlBridge {
  def ofRows(spark: org.apache.spark.sql.SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def asNullable(schema: StructType): StructType = schema.asNullable
}
