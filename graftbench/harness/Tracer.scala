package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.graftbench.SessionProbe
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Outside-in trace of one query execution: every number comes from a public
  * listener, an MXBean, `/proc/self/io`, a directory listing or the
  * DataFrame's own `queryExecution`, read around the harness's calls into
  * the program. Nothing in the program is instrumented.
  */
final class Tracer(spark: SparkSession, tmpDir: Path) {
  import Tracer._

  private val sc = spark.sparkContext

  private final case class Job(id: Int, startMs: Long, group: String,
      phase: String, stageIds: Seq[Int], var endMs: Long = -1L)
  private final class StageAgg {
    var tasks, runMs, cpuNs, gcMs, inputBytes, shuffleWrite, shuffleRead,
      fetchWaitMs, spillBytes = 0L
  }
  private final case class Progress(runId: String, durations: Map[String, Long],
      stateRows: Long)

  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stages = mutable.HashMap[Int, StageAgg]()
  private val progress = mutable.ArrayBuffer[Progress]()
  private var codegenMs = 0.0

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
      val props = Option(e.properties)
      jobs(e.jobId) = Job(e.jobId, e.time,
        props.map(_.getProperty(JobGroupKey)).orNull,
        props.map(_.getProperty(PhaseKey)).orNull, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = jobs.synchronized {
      val m = e.taskMetrics
      val s = stages.getOrElseUpdate(e.stageId, new StageAgg)
      s.tasks += 1
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.inputBytes += m.inputMetrics.bytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spillBytes += m.diskBytesSpilled
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val durations = Option(p.durationMs).map(_.asScala.map { case (k, v) =>
        k -> v.longValue }.toMap).getOrElse(Map.empty)
      jobs.synchronized {
        progress += Progress(p.runId.toString, durations,
          p.stateOperators.map(_.numRowsTotal).sum)
      }
    }
  }

  /** Janino compile times as Spark's CodeGenerator logs them. */
  private val codegenLogger =
    LogManager.getLogger(CodeGeneratorLogger).asInstanceOf[CoreLogger]
  private val codegenAppender =
    new AbstractAppender("graftbench-codegen", null, null, true, null) {
      override def append(event: LogEvent): Unit = {
        val msg = event.getMessage.getFormattedMessage
        msg match {
          case CodegenMessage(ms) => jobs.synchronized { codegenMs += ms.toDouble }
          case _ =>
        }
      }
    }
  codegenAppender.start()
  private var codegenLevel = codegenLogger.getLevel

  def attach(): Unit = {
    sc.addSparkListener(jobListener)
    spark.streams.addListener(streamListener)
    codegenLevel = codegenLogger.getLevel
    codegenLogger.addAppender(codegenAppender)
    codegenLogger.setLevel(Level.INFO)
    codegenLogger.setAdditive(false)
  }

  def detach(): Unit = {
    SessionProbe.drainListeners(spark)
    sc.removeSparkListener(jobListener)
    spark.streams.removeListener(streamListener)
    codegenLogger.removeAppender(codegenAppender)
    codegenLogger.setLevel(codegenLevel)
    codegenLogger.setAdditive(true)
    jobs.synchronized { jobs.clear(); stages.clear(); progress.clear() }
  }

  def before(): Before = {
    SessionProbe.drainListeners(spark)
    jobs.synchronized { codegenMs = 0.0 }
    new Before(processCounters(), spark.conf.getAll,
      SessionProbe.extraOptimizations(spark), SessionProbe.extraStrategies(spark),
      SessionProbe.instantiatedCatalogs(spark), SessionProbe.tempViews(spark),
      nonDaemonThreads(), listFiles(tmpDir), topEntries(tmpDir))
  }

  /** Everything recorded for one query execution, keyed by metric name. */
  def after(name: String, b: Before, df: Option[DataFrame], w: Windows,
      buildMs: Double, planMs: Double, execMs: Double): Map[String, Double] = {
    SessionProbe.drainListeners(spark)
    val now = processCounters()
    val out = mutable.LinkedHashMap[String, Double]()
    out("build.ms") = buildMs
    out("exec.ms") = execMs

    val (mine, stageAggs) = jobs.synchronized {
      val inWindow = jobs.values.filter(j => j.group == name ||
        (j.startMs >= w.buildStart && j.startMs <= w.execEnd)).toSeq
      val ids = inWindow.flatMap(_.stageIds).distinct
      val aggs = ids.flatMap(stages.get)
      inWindow.foreach(j => jobs.remove(j.id))
      ids.foreach(stages.remove)
      (inWindow, aggs)
    }
    def phaseOf(j: Job): String =
      if (j.group == name && j.phase != null) j.phase
      else if (j.startMs <= w.buildEnd) "build"
      else if (j.startMs <= w.planEnd) "plan"
      else "exec"
    out("build.jobs") = mine.count(phaseOf(_) == "build").toDouble
    out("build.driver_gap_ms") = uncovered(mine, w.buildStart, w.buildEnd)

    val phases = df.map(_.queryExecution.tracker.phases).getOrElse(Map.empty)
    def phaseMs(p: String): Double = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
    out("plan.ms") = planMs
    out("plan.analysis_ms") = phaseMs("analysis")
    out("plan.optimizer_ms") = phaseMs("optimization")
    out("plan.planning_ms") = phaseMs("planning")
    val nodes = df.map(d => planNodes(d.queryExecution.executedPlan)).getOrElse(Nil)
    out("plan.exchanges") = nodes.count(_.isInstanceOf[ShuffleExchangeLike]).toDouble
    out("plan.broadcasts") = nodes.count(_.isInstanceOf[BroadcastExchangeLike]).toDouble

    out("exec.jobs") = mine.size.toDouble
    out("exec.jobs_unattributed") = mine.count(_.group != name).toDouble
    out("exec.stages") = stageAggs.size.toDouble
    out("exec.tasks") = stageAggs.map(_.tasks).sum.toDouble
    out("exec.task_s") = stageAggs.map(_.runMs).sum / 1e3
    out("exec.cpu_s") = stageAggs.map(_.cpuNs).sum / 1e9
    out("exec.gc_s") = stageAggs.map(_.gcMs).sum / 1e3
    out("exec.input_mb") = stageAggs.map(_.inputBytes).sum / MB
    out("exec.shuffle_write_mb") = stageAggs.map(_.shuffleWrite).sum / MB
    out("exec.shuffle_read_mb") = stageAggs.map(_.shuffleRead).sum / MB
    out("exec.fetch_wait_s") = stageAggs.map(_.fetchWaitMs).sum / 1e3
    out("exec.spill_mb") = stageAggs.map(_.spillBytes).sum / MB
    out("exec.driver_gap_ms") = uncovered(mine, w.planEnd, w.execEnd)

    def delta(k: String): Double = now(k) - b.counters(k)
    out("io.syscr") = delta("syscr")
    out("io.syscw") = delta("syscw")
    out("io.rchar_mb") = delta("rchar") / MB
    out("io.wchar_mb") = delta("wchar") / MB
    val files = listFiles(tmpDir)
    val written = files.filter { case (p, v) => !b.tmpFiles.get(p).contains(v) }
    out("sources.files_created") = written.size.toDouble
    out("sources.bytes_created") = written.values.map(_._1).sum.toDouble

    val runs = jobs.synchronized { val r = progress.toList; progress.clear(); r }
    def sumDur(k: String): Double = runs.map(_.durations.getOrElse(k, 0L)).sum.toDouble
    out("streaming.batches") = runs.size.toDouble
    out("streaming.trigger_ms") = sumDur("triggerExecution")
    out("streaming.add_batch_ms") = sumDur("addBatch")
    out("streaming.wal_commit_ms") = sumDur("walCommit")
    out("streaming.state_rows") =
      runs.groupBy(_.runId).values.map(_.last.stateRows).sum.toDouble

    out("jvm.jit_ms") = delta("jit_ms")
    out("jvm.gc_ms") = delta("gc_ms")
    out("process.cpu_s") = delta("cpu_ns") / 1e9
    out("codegen.compiles") = delta("codegen_compiles")
    out("codegen.compile_ms") = jobs.synchronized(codegenMs)

    val conf = spark.conf.getAll
    out("session.leaked_conf") =
      (conf.keySet ++ b.conf.keySet).count(k => conf.get(k) != b.conf.get(k)).toDouble
    out("session.leaked_rules") =
      (SessionProbe.extraOptimizations(spark).filterNot(b.optimizations.contains) ++
        SessionProbe.extraStrategies(spark).filterNot(b.strategies.contains)).size.toDouble
    out("session.leaked_catalogs") =
      (SessionProbe.instantiatedCatalogs(spark) -- b.catalogs).size.toDouble
    out("session.leaked_views") = (SessionProbe.tempViews(spark) -- b.views).size.toDouble
    out("session.leaked_cached") = sc.getPersistentRDDs.size.toDouble
    out("session.leaked_threads") = (nonDaemonThreads() -- b.threads).size.toDouble
    out("session.leaked_tmp_files") = (topEntries(tmpDir) -- b.tmpTop).size.toDouble
    out.toMap
  }

  /** Milliseconds of [from, to] that no job span of `js` covers. */
  private def uncovered(js: Seq[Job], from: Long, to: Long): Double = {
    val spans = js.map(j => (math.max(j.startMs, from),
        math.min(if (j.endMs < 0) to else j.endMs, to)))
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var cursor = from
    spans.foreach { case (s, e) =>
      if (e > cursor) { covered += e - math.max(s, cursor); cursor = e }
    }
    math.max(0L, (to - from) - covered).toDouble
  }
}

object Tracer {
  /** State captured before a query runs. */
  final class Before (
      val counters: Map[String, Double],
      val conf: Map[String, String],
      val optimizations: Seq[AnyRef],
      val strategies: Seq[AnyRef],
      val catalogs: Set[String],
      val views: Set[String],
      val threads: Set[Long],
      val tmpFiles: Map[Path, (Long, Long)],
      val tmpTop: Set[Path])

  /** Wall-clock windows of one execution, in epoch milliseconds. */
  final case class Windows(buildStart: Long, buildEnd: Long, planEnd: Long,
      execEnd: Long)

  val JobGroupKey = "spark.jobGroup.id"
  val PhaseKey = "graftbench.phase"
  private val MB = 1024.0 * 1024.0
  private val CodeGeneratorLogger =
    "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val CodegenMessage = """Code generated in ([0-9.]+) ms""".r.unanchored

  /** Every operator of an executed plan, looking through adaptive wrappers,
    * query stages and subqueries. */
  def planNodes(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec => s +: planNodes(s.plan)
    case p => p +: (p.children ++ p.subqueries).flatMap(planNodes)
  }

  /** Process-wide cumulative counters: `/proc/self/io`, JIT, GC, CPU, codegen. */
  def processCounters(): Map[String, Double] = {
    val io = ioCounters()
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
    val cpuNs = ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }
    Map(
      "syscr" -> io.getOrElse("syscr", 0.0), "syscw" -> io.getOrElse("syscw", 0.0),
      "rchar" -> io.getOrElse("rchar", 0.0), "wchar" -> io.getOrElse("wchar", 0.0),
      "jit_ms" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble,
      "gc_ms" -> gcMs.toDouble,
      "cpu_ns" -> cpuNs.toDouble,
      "codegen_compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble)
  }

  private def ioCounters(): Map[String, Double] =
    try {
      Files.readAllLines(Path.of("/proc/self/io")).asScala.flatMap { line =>
        line.split(":\\s*") match {
          case Array(k, v) => v.trim.toDoubleOption.map(k.trim -> _)
          case _ => None
        }
      }.toMap
    } catch { case _: java.io.IOException => Map.empty }

  private def nonDaemonThreads(): Set[Long] =
    Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && !t.isDaemon).map(_.getId).toSet

  /** Regular files under `dir` with their (size, mtime). */
  private def listFiles(dir: Path): Map[Path, (Long, Long)] = {
    val walk = Files.walk(dir)
    try walk.iterator.asScala.flatMap { p =>
      try {
        if (Files.isRegularFile(p))
          Some(p -> (Files.size(p), Files.getLastModifiedTime(p).toMillis))
        else None
      } catch { case _: java.io.IOException => None }
    }.toMap
    catch { case _: java.io.UncheckedIOException => Map.empty }
    finally walk.close()
  }

  private def topEntries(dir: Path): Set[Path] = {
    val list = Files.list(dir)
    try list.iterator.asScala.toSet finally list.close()
  }
}
