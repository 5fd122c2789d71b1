package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's package-private Column↔Expression converters
  * (`org.apache.spark.sql.classic.ExpressionUtils`, Spark 4 moved Column
  * onto ColumnNode and made the raw-Expression constructor private).
  * Lives in the spark.sql package solely to re-export the two calls the
  * engine's custom expressions need.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  /** `Dataset.ofRows` re-export (private[sql] in Spark 4) — engine code
    * outside the spark.sql tree materializes an explicitly-built
    * LogicalPlan through this (e.g. the metadata-aggregate plan). */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
  /** `internalCreateDataFrame` re-export (private[sql]): a frame over
    * rows already in Catalyst's internal form, with no encoder between
    * (e.g. the output of an untyped partition pass). */
  def ofInternalRows(spark: SparkSession,
                     rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
                     schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)
}
