package graft
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
object Bench {

  /** Per-query trend gate (r12 verdict item 3): queries whose measured
    * median exceeds 3× their recorded clean median. The absolute floor
    * (+0.25 s) keeps 60 ms queries from tripping on scheduler jitter —
    * a real regression on a sub-second query clears it instantly, and a
    * planted stall (the gate's acceptance test) is seconds, not
    * fractions. Only meaningful when the RUN is clean (canary_dev ≤
    * 0.10): a host-noise-dominated session says nothing about trends,
    * so the caller gates on the canary before acting on this. */
  def trendViolations(measured: Seq[(String, Double)],
      recorded: Map[String, Double]): Seq[String] =
    measured.collect {
      case (name, med) if recorded.get(name).exists(base =>
        med > 3.0 * base + 0.25) => name
    }

  /** Clean-run medians from `tools/bench_clean_medians.tsv` (line 1:
    * `sf <dir>`; then `<shortKey> <median>` per query). Returns empty —
    * gate off — when the file is absent or was recorded at a different
    * scale factor than this run. */
  def recordedMedians(path: String, sfDir: String): Map[String, Double] = {
    val f = new java.io.File(path)
    if (!f.isFile) return Map.empty
    val lines = scala.io.Source.fromFile(f)
    try {
      val it = lines.getLines().map(_.trim).filter(_.nonEmpty).toSeq
      val headerOk = it.headOption.map(_.split("\\s+").toSeq).exists {
        case Seq("sf", dir) => dir == sfDir
        case _ => false
      }
      if (!headerOk) Map.empty
      else it.tail.flatMap(_.split("\\s+") match {
        case Array(k, v) => v.toDoubleOption.map(k -> _)
        case _ => None
      }).toMap
    } finally lines.close()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Default to the driver's rig (local[32]); round 2 was tuned at the
    // old default of 4 and regressed badly when the driver ran 32.
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Dev-only focus filter (comma-separated query names); the driver
    // never sets it, so driver runs always time the full surface.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val spark = Session.local(cpus.toInt)
    // r16 post-mortem: the driver's 2000-char combined tail was 100%
    // per-execution `ResolveWriteToStream` WARN spam from the streaming
    // queries — stderr passes through sbt in real time, so minutes of
    // WARN lines evicted the best-so-far stdout line printed after each
    // attempt. The bench prints nothing it needs at WARN: run the whole
    // session at ERROR, and pin the two known spammers explicitly in
    // case anything resets the root level mid-run.
    spark.sparkContext.setLogLevel("ERROR")
    try {
      import org.apache.logging.log4j.{Level, LogManager}
      import org.apache.logging.log4j.core.config.Configurator
      Seq("org.apache.spark.sql.catalyst.analysis.ResolveWriteToStream",
        "org.apache.spark.sql.execution.window.WindowExec")
        .foreach(Configurator.setLevel(_, Level.ERROR))
      LogManager.getLogger(getClass) // force log4j init before timing
    } catch { case _: Throwable => () }
    // Warm up the JVM before timing. Two passes, both deliberate and
    // visible: (1) every query once at the SMALLEST scale factor — this
    // compiles the generated (janino) classes and lets HotSpot JIT them;
    // measured cold-vs-warm on identical queries was 2-6x (a one-shot
    // query otherwise runs its generated code interpreted). (2) touch the
    // timed dir's parquet footers/page cache so per-query timings measure
    // the query, not first-read IO. The timed loop below still runs every
    // query exactly once against the real sf dir.
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    if (warmDir.nonEmpty && new java.io.File(warmDir).isDirectory) {
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (name, _) => only.forall(_.contains(name)) }
        .foreach { case (_, fn) =>
          try { fn(spark, warmDir).count() } catch { case _: Throwable => () }
          spark.catalog.clearCache()
        }
    }
    try {
      // count() prunes every column (metadata-only), so it warms nothing
      // but footers — hash(*) forces a real decode of all columns into
      // the page cache, otherwise the first timed queries pay first-touch
      // IO for the columns they read.
      Seq("lineitem", "orders", "customer", "supplier", "part", "nation",
        "region", "documents", "embeddings").foreach { t =>
        val df = spark.read.parquet(s"$sfDir/$t.parquet")
        df.select(org.apache.spark.sql.functions.hash(
            df.columns.map(org.apache.spark.sql.functions.col): _*).as("h"))
          .agg(org.apache.spark.sql.functions.sum("h")).count()
      }
      Tables.events(spark, sfDir).count()
      SparkEntry.queries.get("q13_global_agg").foreach(_(spark, sfDir).count())
    } catch { case _: Throwable => () }
    // Median-of-3 per query: round 7-10 forensics (PLANS.md "Bench noise
    // forensics") showed virtualization-level host phases moving 2-4x
    // spikes between unrelated queries across sessions — two full r10
    // runs on identical code differed 33% in total. The r10 verdict's
    // protocol ask: 3 runs, median (robust to a single spiked run in
    // either direction, unlike min-of-2 which still inherits one-sided
    // noise), plus a CANARY re-measurement at the end of the session
    // whose agreement with the main pass is emitted in the JSON — a
    // run whose canaries drift says "host noise, don't read the totals
    // as a regression" with data instead of a post-hoc story.
    // r11 lesson: a swallowed Throwable here timed 27 broken queries as
    // 0.05-0.10 s "successes" and the total looked like an improvement.
    // A bench that can't tell fast from dead hides regressions — so track
    // which queries threw and emit them in the JSON line.
    val erroredQueries = mutable.LinkedHashSet[String]()
    val jvmStart = System.nanoTime()
    def timedOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch {
        case _: Throwable => erroredQueries += name
      }
      val dt = (System.nanoTime() - t0) / 1e9
      // Queries that .cache()/.persist() intermediates would otherwise
      // leak blocks into every later query's heap — isolate them.
      // Per-query GC settle, SCOPED (r16 verdict item 3): clearCache
      // frees references but the DEAD cache blocks still occupy the heap
      // until a collection, so queries right after the cache-heavy dedup
      // block were paying its young-GC pressure (round 4: q44-q51
      // measured 2.2-3.2x slower in-suite than in isolation, identical
      // plans). But an unconditional System.gc() ran ~900x/pass and most
      // queries cache nothing — collect ONLY when this query actually
      // left persisted blocks behind (the exact case the round-4 fix was
      // for). getPersistentRDDs sees both rdd.persist() and materialized
      // DataFrame caches, so the trigger matches the leak.
      val leftCachedBlocks = spark.sparkContext.getPersistentRDDs.nonEmpty
      spark.catalog.clearCache()
      if (leftCachedBlocks) System.gc()
      dt
    }
    def median3(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Double) = {
      val ts = Seq(timedOnce(name, fn), timedOnce(name, fn), timedOnce(name, fn)).sorted
      // (median, relative spread) — spread = (max-min)/median, the
      // per-query noise figure summarized below.
      (ts(1), if (ts(1) > 0) (ts(2) - ts(0)) / ts(1) else 0.0)
    }
    /** One full timed pass over the suite: per-query median-of-3, then
      * the end-of-session canary re-measurement. Returns everything the
      * JSON line needs so the retry loop below can compare passes. */
    case class Pass(results: Seq[(String, Double)],
        canaryDevs: Seq[(String, Double)], canaryDev: Double,
        spreads: Seq[Double])
    def runPass(): Pass = {
      val timed = SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (name, _) => only.forall(_.contains(name)) }
        .map { case (name, fn) => (name, fn, median3(name, fn)) }
      val results = timed.map { case (name, _, (med, _)) => name -> med }
      // Canary agreement: re-measure a pinned subset at the END of the
      // session and compare medians against the main pass. The canaries
      // span the suite's cost profiles (scan-agg q01, cached LSH dedup
      // q41, ML fits q60, broadcast-probe decontam q121). Max relative
      // deviation > ~10% marks the whole run as host-noise-dominated.
      val canaryNames = Seq("q01_flagship_revenue", "q41_minhash_lsh",
        "q60_ml_metrics", "q121_curation_pipeline")
      val canaryDevs: Seq[(String, Double)] = {
        val base = timed.collect {
          case (n, fn, (med, _)) if canaryNames.contains(n) => (n, fn, med) }
        base.map { case (n, fn, med1) =>
          val med2 = median3(n, fn)._1
          n -> (if (med1 > 0) math.abs(med2 - med1) / med1 else 0.0) }
      }
      val canaryDev =
        if (canaryDevs.isEmpty) 0.0 else canaryDevs.map(_._2).max
      Pass(results, canaryDevs, canaryDev, timed.map(_._3._2).sorted)
    }
    // Keep the JSON line SHORT: the driver captures a bounded tail —
    // MEASURED at 2000 chars (BENCH_r13.json stores a 2000-char "tail"
    // with parsed:null — the 237-query line at ~2.4 KB lost its head
    // and json.loads failed; only the trailing "value" survived for a
    // human to read). Round 3's full-precision doubles overflowed it;
    // round 4's 2-decimal full-name line (~2.8 KB) got its head cut.
    // Fixes, all applied: (1) per-query keys are the short qNN prefix;
    // (2) total/sf/value go LAST so even a truncated capture keeps
    // them; (3) at 260 queries even short keys overflow 2000, so the
    // STDOUT line carries only the TOP-60 most expensive queries plus
    // a "rest" aggregate (~1.1 KB, parses whole); (4) r14 lesson: the
    // full per-query map used to ride STDERR, but sbt queues stdout
    // while stderr passes through, so in the driver's combined tail
    // the stderr dump landed AFTER the stdout line and truncated it
    // out of the 2000-char window. Nothing diagnostic may share the
    // streams: the full map and all retry notices now go to a FILE
    // (tools/bench_full.jsonl) and stdout carries ONLY the compact
    // line — printed once per attempt and once more after
    // spark.stop() so it is the last bytes the tail can capture.
    val diagPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DIAG",
      "tools/bench_full.jsonl")
    def diag(msg: String): Unit =
      try {
        val p = java.nio.file.Paths.get(diagPath)
        Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
        java.nio.file.Files.write(p, (msg + "\n").getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.APPEND)
      } catch { case _: Throwable => () }
    def f3(v: Double): String = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    def shortKey(name: String): String = {
      val i = name.indexOf('_')
      if (i > 0) name.substring(0, i) else name
    }
    def jsonLine(p: Pass, attempts: Int): String = {
      val all = p.results.map { case (k, v) => shortKey(k) -> v }
      // stdout carries the top-60 by cost + a "rest" aggregate so the
      // whole line stays inside the driver's 2000-char tail; the full
      // map goes to the diag FILE (never a std stream — see above)
      val top = all.sortBy { case (k, v) => (-v, k) }.take(60)
      val restSum = all.map(_._2).sum - top.map(_._2).sum
      diag("[bench-full] " + all.sortBy(_._1)
        .map { case (k, v) => "\"" + k + "\":" + f3(v) }
        .mkString("{", ",", "}"))
      val qs = (top.sortBy(_._1)
        .map { case (k, v) => "\"" + k + "\":" + f3(v) } :+
        ("\"rest\":" + f3(restSum))).mkString("{", ",", "}")
      val total = p.results.map(_._2).sum
      def pct(q: Double): Double =
        if (p.spreads.isEmpty) 0.0
        else p.spreads(math.min(p.spreads.size - 1, (q * p.spreads.size).toInt))
      // "runs":3 = median-of-3 per query (see median3); "spread_med"/
      // "spread_p90" = per-query (max-min)/median noise quantiles;
      // "canary_dev" = max relative drift of the 4 canary medians
      // re-measured at session end (>~0.10 → treat totals as noisy);
      // "errors" = short keys of queries that threw in ANY timed run —
      // their per-query numbers are throw-time, not query time, and the
      // total is NOT comparable to a clean round's. "attempts" = how
      // many full passes the retry loop below ran before this line.
      val errs = erroredQueries.toSeq.map(n => "\"" + shortKey(n) + "\"")
        .mkString("[", ",", "]")
      // Trend gate: compare this run's per-query medians to the checked-in
      // clean-run trend file, but ONLY act on a clean run (canary_dev ≤
      // 0.10) — a noise-flagged session would trip on host phases, not
      // regressions. "over3x" is always emitted (empty when clean or gate
      // off); SPARK_GRAFT_TREND_STRICT=1 (dev runs; the driver never sets
      // it) additionally exits nonzero so a planted stall fails the run.
      val trendPath = sys.env.getOrElse("SPARK_GRAFT_TREND",
        "tools/bench_clean_medians.tsv")
      val over3x =
        if (p.canaryDev > 0.10) Seq.empty
        else trendViolations(p.results.map { case (k, v) => shortKey(k) -> v },
          recordedMedians(trendPath, sfDir))
      val over = over3x.map(n => "\"" + n + "\"").mkString("[", ",", "]")
      // which canary moved: a flagged run should name its drifter (q60's
      // r12 39s artifact took a round to diagnose for lack of exactly this)
      val cdevs = p.canaryDevs
        .map { case (n, d) => "\"" + shortKey(n) + "\":" + f3(d) }
        .mkString("{", ",", "}")
      s"""{"queries":$qs,"metric":"total","unit":"sec","runs":3,"nq":${all.size},"spread_med":${f3(pct(0.5))},"spread_p90":${f3(pct(0.9))},"canary_dev":${f3(p.canaryDev)},"canary_devs":$cdevs,"errors":$errs,"over3x":$over,"attempts":$attempts,"sf":"$sfDir","value":${f3(total)}}"""
    }
    // QUIET-WINDOW PROBE (r17 verdict item 4): all five archived r17
    // passes were canary-flagged because each ~8-minute pass RACED a
    // host-noise phase — the retry loop kept paying full passes during
    // windows a 30-second probe would have rejected. Before each full
    // pass, re-measure the 4 canaries twice (median-of-3 each) and
    // compare: drift > 0.10 means the host is mid-phase, so SLEEP and
    // reprobe instead of burning a pass. The loop is budgeted inside
    // the deadline: it only waits while (now + sleep + probe + the
    // estimated pass + stop/print margin) still fits, so the
    // guaranteed final line always lands — on a host that never
    // quiets, the probe gives up and the pass runs flagged exactly as
    // before (completing flagged beats dying mid-retry).
    val canaryNames = Seq("q01_flagship_revenue", "q41_minhash_lsh",
      "q60_ml_metrics", "q121_curation_pipeline")
    lazy val canaryFns = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => canaryNames.contains(n) &&
        only.forall(_.contains(n)) }
    def probeDev(): Double = {
      val devs = canaryFns.map { case (n, fn) =>
        val a = median3(n, fn)._1
        val b = median3(n, fn)._1
        if (a > 0) math.abs(b - a) / a else 0.0
      }
      if (devs.isEmpty) 0.0 else devs.max
    }
    def elapsedSec: Double = (System.nanoTime() - jvmStart) / 1e9
    def awaitQuietWindow(passEstimateSec: Double,
        deadlineSec: Double): Unit = {
      val sleepSec = 45.0
      val t0 = elapsedSec
      var dev = probeDev()
      var probeCost = elapsedSec - t0
      diag(f"[bench] pre-pass probe dev=$dev%.2f (cost ${probeCost}%.0f s)")
      while (dev > 0.10 && elapsedSec + sleepSec + probeCost +
          passEstimateSec + 90.0 < deadlineSec) {
        diag(f"[bench] probe dev=$dev%.2f > 0.10 - sleeping " +
          f"${sleepSec}%.0f s for a quiet host window")
        Thread.sleep((sleepSec * 1000).toLong)
        val t1 = elapsedSec
        dev = probeDev()
        probeCost = elapsedSec - t1
      }
      if (dev > 0.10)
        diag(f"[bench] probe still dev=$dev%.2f but budget requires " +
          "starting the pass now")
    }
    // Self-cleaning retry: r12 (0.92), r13 (0.34) and three r14 hunts
    // all handed the driver a canary-flagged artifact because a single
    // pass races whatever the host happens to be doing. The protocol's
    // fix ("re-run until canary ≤ 0.10") belongs INSIDE the bench: when
    // the canary flags a pass, run another (warm-up amortized — retries
    // reuse the JIT-hot JVM) and keep the cleanest. Two guards bound the
    // cost: an attempt cap (default 3) and a wall-clock deadline since
    // JVM start (default 1500 s) checked BEFORE each extra pass, so a
    // driver with a tight timeout sees exactly today's single-pass cost.
    // The best-so-far line is printed after EVERY attempt: the driver
    // keeps a bounded tail of this output, so even a mid-retry kill
    // leaves the last complete line standing, and each line carries its
    // own canary_dev so a flagged artifact still self-describes.
    // r16 post-mortem: raising this default to 3000 s made the retry
    // loop outlive the DRIVER's own timeout — sbt was killed mid-attempt
    // (rc 124) and the guaranteed after-stop() line never printed. The
    // deadline must leave attempt-start + spark.stop() + final print
    // safely inside the driver's observed window: a full pass is ~8
    // min at 289 queries, so 1200 s admits a retry after a bad first
    // pass. Since r18 the retry check budgets the MEASURED pass cost
    // (+90 s margin) before starting another attempt, so no pass can
    // begin that would cross the deadline mid-flight. Completing WITH
    // a noise-flagged canary beats being killed mid-retry every time —
    // the line self-describes its noise.
    val maxAttempts = sys.env.get("SPARK_GRAFT_BENCH_ATTEMPTS")
      .flatMap(_.toIntOption).getOrElse(5).max(1)
    val deadlineSec = sys.env.get("SPARK_GRAFT_BENCH_DEADLINE_SEC")
      .flatMap(_.toDoubleOption).getOrElse(1200.0)
    // pass estimate before any measured pass: ~8.5 min at 289 queries
    awaitQuietWindow(passEstimateSec = 510.0, deadlineSec = deadlineSec)
    val firstPassStart = elapsedSec
    var best = runPass()
    var passCost = elapsedSec - firstPassStart
    var attempts = 1
    println(jsonLine(best, attempts))
    while (best.canaryDev > 0.10 && attempts < maxAttempts &&
        elapsedSec + passCost + 90.0 < deadlineSec) {
      diag(f"[bench] attempt $attempts canary_dev=" +
        f"${best.canaryDev}%.2f > 0.10 - host noise suspected, retrying")
      awaitQuietWindow(passEstimateSec = passCost,
        deadlineSec = deadlineSec)
      val retryStart = elapsedSec
      val next = runPass()
      passCost = (passCost + (elapsedSec - retryStart)) / 2
      attempts += 1
      if (next.canaryDev < best.canaryDev) best = next
      println(jsonLine(best, attempts))
    }
    spark.stop()
    // Final guarantee: after spark.stop() nothing else in this JVM
    // writes to stdout, so re-printing the best line here makes it the
    // last complete line in any bounded tail (only sbt's [success]
    // footer follows, well under the 2000-char budget).
    println(jsonLine(best, attempts))
    val strictOver =
      if (best.canaryDev > 0.10) Seq.empty
      else trendViolations(
        best.results.map { case (k, v) => shortKey(k) -> v },
        recordedMedians(sys.env.getOrElse("SPARK_GRAFT_TREND",
          "tools/bench_clean_medians.tsv"), sfDir))
    if (strictOver.nonEmpty &&
        sys.env.get("SPARK_GRAFT_TREND_STRICT").contains("1")) {
      System.err.println(s"[bench] trend gate: ${strictOver.mkString(", ")} " +
        "exceeded 3x their recorded clean medians on a clean run")
      sys.exit(2)
    }
  }
}
