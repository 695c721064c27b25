package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge for third-party Catalyst expressions: Spark 4 made the
  * Column ⇄ Expression converters `private[sql]`
  * (`org.apache.spark.sql.classic.ExpressionUtils`), so library code
  * needing a Column over a custom Expression goes through this shim.
  * Only conversion — no behavior. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Spark's own DIVIDE_BY_ZERO error, for kernels that replace a
    * composed division and must fail where it failed. */
  def divideByZero(): ArithmeticException =
    errors.QueryExecutionErrors.divideByZeroError(null)

  /** Build a DataFrame over a (possibly custom) logical plan —
    * `Dataset.ofRows` is private[sql] in Spark 4. */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Runtime registration of an extra planner strategy on a live session
    * (the config-time path is spark.sql.extensions → GraftExtensions). */
  def addStrategy(spark: SparkSession,
                  s: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    if (!cs.experimental.extraStrategies.contains(s))
      cs.experimental.extraStrategies = cs.experimental.extraStrategies :+ s
  }

  /** The analyzed plan of a DataFrame (resolved attributes for building
    * custom nodes on top). */
  def analyzed(df: DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** Runtime registration of an extra optimizer rule on a live session
    * (the config-time path is SparkSessionExtensions.injectOptimizerRule). */
  def addOptimization(spark: SparkSession,
      r: org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]): Unit = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    if (!cs.experimental.extraOptimizations.contains(r))
      cs.experimental.extraOptimizations = cs.experimental.extraOptimizations :+ r
  }

  /** The session CatalogManager and its private map of instantiated
    * catalogs, which the manager mutates under its own monitor. Spark has
    * no public per-name removal (`reset()` drops every catalog). */
  private def catalogMap(spark: SparkSession)
      : (AnyRef, scala.collection.mutable.HashMap[String, _]) = {
    val manager = spark.asInstanceOf[classic.SparkSession].sessionState
      .catalogManager
    val field = manager.getClass.getDeclaredField("catalogs")
    field.setAccessible(true)
    (manager, field.get(manager)
      .asInstanceOf[scala.collection.mutable.HashMap[String, _]])
  }

  /** Names of the catalogs the session has instantiated so far. */
  def instantiatedCatalogs(spark: SparkSession): Set[String] = {
    val (manager, catalogs) = catalogMap(spark)
    manager.synchronized(catalogs.keySet.toSet)
  }

  /** Evict catalog `name` from the session, so a later reference loads
    * it afresh from the conf (or fails once its conf is unset). Unsetting
    * `spark.sql.catalog.<name>` alone leaves the instance in place. */
  def dropCatalog(spark: SparkSession, name: String): Unit = {
    val (manager, catalogs) = catalogMap(spark)
    manager.synchronized(catalogs.remove(name))
  }

  /** Register a custom Expression as a SQL function on a live session
    * (the config-time path is SparkSessionExtensions.injectFunction). */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")
}
