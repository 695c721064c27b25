package graft

/** Dev-only steady-state prober: run the named queries N times each in
  * one JVM ([[Session.local]], as Bench) and print per-run times — separates
  * plan cost from JIT warmup and host noise before any optimization
  * decision. Usage:
  *   runMain graft.DebugShuffle q43_ngram_jaccard q79_dup_clusters
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_REPS (default 3).
  */
object DebugShuffle {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val spark = Session.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q43_ngram_jaccard", "q41_minhash_lsh", "q79_dup_clusters",
        "q60_ml_metrics", "q02_top_nation")
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        dt
      }
      println(f"[probe] $name: ${times.map(t => f"$t%.2f").mkString(" ")} " +
        f"(min ${times.min}%.2f)")
    }
    spark.stop()
  }
}
