package graft

/** Dev tool: dump formatted physical plans for named queries (or all),
  * to audit pushdown / broadcast / codegen per the scale checklist. The
  * session is [[Session.local]] at local[4], so a dump shows the plan
  * the benchmark times (AQE sizes reduce stages by bytes,
  * not by parallelism). Each query runs before it is dumped, so the dump
  * is AQE's final plan: the exchanges, broadcasts and query stages the
  * run actually used. Caches are dropped between queries, as in Bench.
  * Usage: runMain graft.Explain <sfDir> [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val only = args.drop(1).toSet
    val spark = Session.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (only.isEmpty || only.contains(name)) {
        println(s"\n========== $name ==========")
        try {
          val df = fn(spark, sfDir)
          df.collect()
          println(df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
        } catch { case e: Throwable => println(s"explain failed: $e") }
        finally spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}
