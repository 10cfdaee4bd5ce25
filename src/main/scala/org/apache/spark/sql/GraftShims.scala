package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.{Expression, ScalaUDF}

/** Bridge into the `private[sql]` Column↔Expression converters — the
  * supported pattern for third-party Catalyst expression libraries
  * (Spark 4 moved Column onto ColumnNode; classic.ExpressionUtils is the
  * conversion point and is sql-private). */
object GraftShims {
  def columnOf(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expressionOf(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Session-aware Column → catalyst Expression conversion. Unlike
    * [[expressionOf]] (a lazy ColumnNodeExpression wrapper that only the
    * builtin operators' construction paths unwrap), this runs the classic
    * converter eagerly — required when the expression is stored inside a
    * CUSTOM logical node, where nothing later unwraps the wrapper and it
    * would reach execution unresolved (and unserializable). */
  def catalystExpressionOf(spark: SparkSession, c: Column): Expression =
    spark.asInstanceOf[classic.SparkSession].expression(c)

  /** Wrap a hand-built logical plan (e.g. graft.plans.TopKPerGroup) as a
    * DataFrame — Dataset.ofRows is the sql-private constructor custom
    * operators need. */
  def dataFrameOf(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `rows` (fixed-width rows of `output`'s schema, `rowCount` of them) as
    * a DataFrame whose plan reports the statistics a `LocalRelation` of
    * the same rows would: `rowCount` and the same per-row size. The
    * planner therefore broadcasts it into joins under the threshold, while
    * its rows stay in the RDD's partitions and are written by tasks.
    * `LogicalRDD`'s second parameter list (session, `originStats`) is
    * Spark-internal: re-check it on every Spark upgrade, as
    * [[analysisScope]]. */
  def dataFrameOf(spark: SparkSession, output: Seq[catalyst.expressions.Attribute],
      rows: org.apache.spark.rdd.RDD[catalyst.InternalRow], rowCount: Long): DataFrame = {
    val s = spark.asInstanceOf[classic.SparkSession]
    val stats = catalyst.plans.logical.Statistics(
      sizeInBytes = catalyst.plans.logical.statsEstimation.EstimationUtils
        .getSizePerRow(output) * rowCount,
      rowCount = Some(BigInt(rowCount)))
    classic.Dataset.ofRows(s, execution.LogicalRDD(output, rows)(s, Some(stats)))
  }

  /** `f` applied to `children` as the expression `spark.udf.register`
    * would build. */
  def scalaUdf(f: expressions.UserDefinedFunction, children: Seq[Expression]): ScalaUDF =
    classic.UserDefinedFunctionUtils.toScalaUDF(
      f.asInstanceOf[expressions.SparkUserDefinedFunction], children)

  /** An object unique to the analysis run in progress on this thread and
    * shared by the subqueries and views it resolves; None outside analysis. */
  def analysisScope: Option[AnyRef] = {
    val ctx = catalyst.analysis.AnalysisContext.get
    if (ctx.isDefault) None else Some(ctx.relationCache)
  }
}
