package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Dev profiler (guide §1): split each query's wall time into DataFrame
  * CONSTRUCTION (fn call: schema inference + logical plan), PLANNING
  * (analysis→physical plan force), and EXECUTION (count), plus
  * job/stage/task counts and summed task time from a listener. Tells
  * us whether the per-query floor at tiny SF is driver work (planning,
  * footer reads, file listing) or executor work (tasks) — the two need
  * different fixes. Repeated measured passes separate steady-state cost
  * from JIT warmup and host noise. Usage:
  *   SPARK_GRAFT_SF_DIR=... runMain graft.Profile [query ...]
  * With no args, profiles every query. One warm pass, then
  * SPARK_GRAFT_REPS (default 1) measured passes. Jobs attributed to each
  * query, with driver gaps, come from `graftbench/run.py --trace 1`.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "1").toInt
    val only = args.toSet
    val spark = Session.local(cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")

    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val taskMs = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskInfo != null) taskMs.addAndGet(t.taskInfo.duration)
      }
    })

    val qs = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only.contains(n) }

    // Warm pass (JIT + page cache), mirrors Bench's warmup.
    qs.foreach { case (_, fn) =>
      try { fn(spark, sfDir).count() } catch { case _: Throwable => () }
      spark.catalog.clearCache()
    }

    (1 to reps).foreach { rep =>
      println(f"[rep $rep/$reps]")
      println(f"${"query"}%-28s ${"create"}%7s ${"plan"}%7s ${"exec"}%7s ${"total"}%7s ${"jobs"}%5s ${"stg"}%5s ${"tasks"}%6s ${"taskMs"}%7s")
      var sumCreate = 0.0; var sumPlan = 0.0; var sumExec = 0.0
      qs.foreach { case (name, fn) =>
        jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0)
        val t0 = System.nanoTime()
        try {
          val df = fn(spark, sfDir)
          val t1 = System.nanoTime()
          df.queryExecution.executedPlan // force analysis + physical planning
          val t2 = System.nanoTime()
          df.count()
          val t3 = System.nanoTime()
          // listener events are async; give them a beat to drain
          Thread.sleep(30)
          val c = (t1 - t0) / 1e6; val p = (t2 - t1) / 1e6; val e = (t3 - t2) / 1e6
          sumCreate += c; sumPlan += p; sumExec += e
          println(f"$name%-28s $c%7.0f $p%7.0f $e%7.0f ${(t3 - t0) / 1e6}%7.0f ${jobs.get}%5d ${stages.get}%5d ${tasks.get}%6d ${taskMs.get}%7d")
        } catch {
          case ex: Throwable =>
            println(f"$name%-28s FAILED: ${ex.getClass.getSimpleName}: ${String.valueOf(ex.getMessage).take(80)}")
        }
        spark.catalog.clearCache()
        if (spark.sparkContext.getPersistentRDDs.nonEmpty) System.gc()
      }
      println(f"[profile-sum] rep=$rep create=${sumCreate / 1000}%.1f s plan=${sumPlan / 1000}%.1f s exec=${sumExec / 1000}%.1f s n=${qs.size}")
    }
    spark.stop()
  }
}
