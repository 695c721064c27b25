package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Dev profiler (guide §1): split each query's wall time into DataFrame
  * CONSTRUCTION (fn call: schema inference + logical plan), PLANNING
  * (analysis→physical plan force), and EXECUTION (count), plus
  * job/stage/task counts and summed task time from a listener. Tells
  * us whether the per-query floor at tiny SF is driver work (planning,
  * footer reads, file listing) or executor work (tasks) — the two need
  * different fixes. Usage:
  *   SPARK_GRAFT_SF_DIR=... runMain graft.Profile [query ...]
  * With no args, profiles every query (one warm + one measured pass).
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val only = args.toSet
    val spark = Session.local(cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")

    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val taskMs = new AtomicLong
    val traceJobs = sys.env.get("SPARK_GRAFT_PROFILE_JOBS").contains("1")
    val jobStartNs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val lastJobEndNs = new AtomicLong(System.nanoTime())
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (traceJobs) {
          val site = j.stageInfos.lastOption.map(_.name).getOrElse("")
          jobStartNs.put(j.jobId, (System.nanoTime(), site))
        }
      }
      override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        if (traceJobs) Option(jobStartNs.remove(j.jobId)).foreach {
          case (t0, site) =>
            val now = System.nanoTime()
            val gap = (t0 - lastJobEndNs.get()).max(0L) / 1e6
            lastJobEndNs.set(now)
            println(f"[job ${j.jobId}%4d] ${(now - t0) / 1e6}%6.0f ms (driver-gap $gap%6.0f ms) $site")
        }
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        if (sys.env.get("SPARK_GRAFT_PROFILE_STAGES").contains("1")) {
          val si = s.stageInfo
          val dur = (for { a <- si.submissionTime; b <- si.completionTime }
            yield b - a).getOrElse(-1L)
          val m = si.taskMetrics
          println(f"[stage ${si.stageId}%4d] $dur%5d ms tasks=${si.numTasks}%3d " +
            f"run=${m.executorRunTime}%6d cpu=${m.executorCpuTime / 1000000}%6d " +
            f"${si.name.take(90)}%s")
        }
      }
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
    println(f"[profile-sum] create=${sumCreate / 1000}%.1f s plan=${sumPlan / 1000}%.1f s exec=${sumExec / 1000}%.1f s n=${qs.size}")
    spark.stop()
  }
}
