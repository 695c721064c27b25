package org.apache.spark.sql.graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic

/** Read-only views of session state that Spark keeps behind `private[spark]`
  * or `private[sql]`. The harness only looks; it never changes what it reads.
  */
object SessionProbe {
  private def classicSession(spark: SparkSession): classic.SparkSession =
    spark.asInstanceOf[classic.SparkSession]

  /** Block until every listener queue has delivered its events, so counters
    * read after an action include all of that action's jobs, stages, tasks
    * and streaming progress. */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  def extraOptimizations(spark: SparkSession): Seq[AnyRef] =
    classicSession(spark).experimental.extraOptimizations

  def extraStrategies(spark: SparkSession): Seq[AnyRef] =
    classicSession(spark).experimental.extraStrategies

  /** Names of the catalogs the CatalogManager has instantiated. Unsetting a
    * `spark.sql.catalog.<name>` conf does not evict an entry from this map. */
  def instantiatedCatalogs(spark: SparkSession): Set[String] = {
    val manager = classicSession(spark).sessionState.catalogManager
    val field = manager.getClass.getDeclaredField("catalogs")
    field.setAccessible(true)
    val catalogs =
      field.get(manager).asInstanceOf[scala.collection.mutable.HashMap[String, _]]
    // CatalogManager mutates the map under its own monitor.
    manager.synchronized(catalogs.keySet.toSet)
  }

  def tempViews(spark: SparkSession): Set[String] = {
    val catalog = classicSession(spark).sessionState.catalog
    catalog.getTempViewNames().toSet ++
      catalog.globalTempViewManager.listViewNames("*").map("global." + _)
  }
}
