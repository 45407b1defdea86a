package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge into Spark's `private[sql]` Column internals, required on
  * Spark 4.x (where `Column` is ColumnNode-backed and `Column.expr` /
  * `new Column(expr)` are no longer public). This is the established pattern
  * for third-party Catalyst extension libraries: one object inside the
  * `org.apache.spark.sql` package, everything else stays in `graft.*`.
  */
object GraftSqlBridge {
  /** Catalyst expression -> user-facing Column. */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** User-facing Column -> Catalyst expression. */
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** True when the session holds NO cached relations — the cache-lifecycle
    * invariant (graft.CacheScope) asserted by specs after each query.
    */
  def cacheManagerIsEmpty(spark: SparkSession): Boolean =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.isEmpty

  /** `s` with every field nullable, nested ones too — the schema Spark's
    * file readers report for what was written with `s`.
    */
  def asNullable(s: types.StructType): types.StructType = s.asNullable

  /** The analyzed logical plan of a DataFrame — input side of custom
    * logical-plan construction (graft.plans.AsOfJoin).
    */
  def analyzed(df: Dataset[_]): catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** Wrap a (possibly custom) logical plan back into a DataFrame. */
  def ofRows(spark: SparkSession,
      plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Idempotently append an extra planner strategy to the session (the
    * code-path twin of wiring it through SparkSessionExtensions).
    */
  def addStrategyOnce(spark: SparkSession,
      s: execution.SparkStrategy): Unit = {
    val em = spark.asInstanceOf[classic.SparkSession].experimental
    em.synchronized {
      if (!em.extraStrategies.contains(s)) em.extraStrategies = em.extraStrategies :+ s
    }
  }
}
