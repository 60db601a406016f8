package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's private[sql] Column↔Expression conversions, needed
  * by extension libraries that define custom Catalyst expressions (Spark
  * 4 removed the public `Column(expr)`/`col.expr` surface in the Connect
  * API unification). */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** xxhash64 with an explicit seed (the public functions.xxhash64 pins
    * seed=42; a seeded family is what MinHash needs). */
  def xxhash64Seeded(seed: Long, cols: Column*): Column =
    column(new catalyst.expressions.XxHash64(cols.map(expression), seed))

  /** DataFrame over a raw LogicalPlan (Dataset.ofRows is private[sql]);
    * the SQL front end and the MV tiles re-wrap plans they patched. */
  def ofRows(spark: SparkSession, plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Drop every Spark local property of the calling thread
    * (SparkContext.setLocalProperties is private[spark]). */
  def clearLocalProperties(sc: org.apache.spark.SparkContext): Unit =
    sc.setLocalProperties(new java.util.Properties)
}
