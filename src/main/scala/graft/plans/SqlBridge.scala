package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

/** Minimal bridge into the sql package: `classic.Dataset.ofRows` (the
  * only way to lift a custom LogicalPlan into a DataFrame) is
  * private[sql], so third-party planners expose it through a one-line
  * object declared in this package — the conventional extension
  * technique used by Delta/iceberg-style libraries.
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A DataFrame over an RDD of rows already in Catalyst's internal
    * form (no Row conversion). Its statistics are the ones a
    * `LocalRelation` of `rowCount` rows reports, so join planning
    * (broadcast or not) sees the same size it would for local data.
    */
  def ofInternalRows(spark: SparkSession, rdd: RDD[InternalRow],
      schema: StructType, rowCount: Long): DataFrame = {
    val output = DataTypeUtils.toAttributes(schema)
    val stats = Statistics(
      sizeInBytes = EstimationUtils.getSizePerRow(output) * rowCount,
      rowCount = Some(BigInt(rowCount)))
    ofRows(spark, LogicalRDD(output, rdd)(
      spark.asInstanceOf[classic.SparkSession], Some(stats)))
  }
}
