package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's package-private Column ↔ Expression converters
  * (Spark 4 moved Column onto ColumnNode; libraries adding native
  * expressions need this hop).
  */
object bridge {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpr(c: Column): Expression = ExpressionUtils.expression(c)

  /** Eagerly convert a Column to a real catalyst Expression tree (the
    * lazy ColumnNodeExpression wrapper from toExpr is opaque to
    * analyzer rules that must rewrite attributes inside custom nodes).
    */
  def toExprEager(spark: org.apache.spark.sql.SparkSession, c: Column): Expression =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].expression(c)

  /** True once an artifact has been added to this session
    * (`SparkSession.addArtifact`): its jobs then need the session's own
    * class loader and files on the executors. The flag is a protected
    * member in Scala and a public accessor in bytecode, hence the
    * reflective read.
    */
  def hasSessionArtifacts(spark: org.apache.spark.sql.SparkSession): Boolean = {
    val am = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].artifactManager
    classOf[org.apache.spark.sql.artifact.ArtifactManager].getMethod("sessionArtifactAdded")
      .invoke(am).asInstanceOf[java.util.concurrent.atomic.AtomicBoolean].get
  }

  def ofRows(
      spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
  ): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
