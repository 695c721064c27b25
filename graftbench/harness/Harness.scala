package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One benchmark process: build a session, register the inputs, then run a
  * workload's queries in closed loop, one after another, for a fixed number
  * of passes. Pass 0 is the cold pass; every later pass is warm. The query
  * order of each pass is a seeded shuffle.
  *
  * Usage: Harness --queries q1,q2 [--tables t1,t2] --data DIR --seed N
  *                --passes P --trace 0|1 --out FILE [--cores N]
  *
  * Writes one JSON document to FILE; the Python driver turns it into
  * metrics and checks every result digest against the DuckDB oracle.
  */
object Harness {
  /** Base tables a workload may register during set-up, through the
    * program's own `graft.Tables` memo. `events` is not offered: its loader
    * sets a session conf, a leak the hermeticity probe must see in a query. */
  private val InputTables: Map[String, (SparkSession, String) => DataFrame] = {
    import graft.Tables._
    Map("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "documents" -> documents, "embeddings" -> embeddings)
  }

  final case class Args(queries: Seq[String], tables: Seq[String], data: String,
      seed: Long, passes: Int, trace: Boolean, out: Path, cores: Int)

  private def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def req(k: String) = kv.getOrElse(k, sys.error(s"missing $k"))
    def list(k: String) = kv.getOrElse(k, "").split(",").toSeq.filter(_.nonEmpty)
    Args(list("--queries"), list("--tables"), req("--data"), req("--seed").toLong,
      req("--passes").toInt, kv.get("--trace").contains("1"), Path.of(req("--out")),
      kv.getOrElse("--cores", "4").toInt)
  }

  /** The session `graft.Bench` times with, at `local[cores]`. */
  def session(cores: Int, localDir: String, warehouse: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.buffer.pageSize", "2m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", warehouse)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** A fixed pure-JVM CPU loop; reported only, never used to normalise. */
  def canaryMs(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    var i = 0
    while (i < 40000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x & 0xFF
      i += 1
    }
    if (acc == 42L) println("") // keeps the loop's result live
    (System.nanoTime() - t0) / 1e6
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val tmpDir = Path.of(System.getProperty("java.io.tmpdir"))
    val runDir = tmpDir.getParent
    val mainMs = System.currentTimeMillis()
    val spark = session(a.cores, runDir.resolve("local").toString,
      runDir.resolve("warehouse").toString)
    val sessionMs = System.currentTimeMillis()
    val fns = a.queries.map(q => q -> graft.SparkEntry.queries.getOrElse(q,
      sys.error(s"unknown query $q"))).toMap
    val oracle = graft.SparkEntry.oracleSql
    val registryMs = System.currentTimeMillis()
    a.tables.foreach(t => InputTables(t)(spark, a.data))
    val readyMs = System.currentTimeMillis()
    val doc = mutable.LinkedHashMap[String, Any]("ready_ms" -> readyMs,
      "jvm_start_ms" -> ManagementFactory.getRuntimeMXBean.getStartTime,
      "main_ms" -> mainMs, "session_ms" -> sessionMs, "registry_ms" -> registryMs)

    val canaries = mutable.ArrayBuffer(canaryMs())
    val tracer = if (a.trace) Some(new Tracer(spark, tmpDir)) else None
    val passes = (0 to a.passes).map { p =>
      val order = new scala.util.Random(a.seed * 1000003L + p).shuffle(a.queries)
      // Traced runs trace the cold pass and the even warm passes; the odd
      // warm passes run untraced, so the tracing overhead is measured in the
      // same process.
      val traced = tracer.filter(_ => p % 2 == 0)
      traced.foreach(_.attach())
      val c0 = Tracer.processCounters()
      val t0 = System.nanoTime()
      val runs = order.map(q => runQuery(spark, q, fns(q), a.data, traced))
      val seconds = (System.nanoTime() - t0) / 1e9
      val c1 = Tracer.processCounters()
      traced.foreach(_.detach())
      mutable.LinkedHashMap[String, Any]("index" -> p, "traced" -> traced.isDefined,
        "seconds" -> seconds, "jit_ms" -> (c1("jit_ms") - c0("jit_ms")),
        "cpu_s" -> (c1("cpu_ns") - c0("cpu_ns")) / 1e9, "queries" -> runs)
    }
    spark.catalog.clearCache()
    canaries += canaryMs()
    doc("passes") = passes
    doc("heap_live_mb") = liveHeapMb()
    doc("canary_ms") = canaries.toSeq
    doc("oracle_sql") = a.queries.flatMap(q => oracle.get(q).map(q -> _)).toMap
    spark.stop()
    write(a.out, doc)
  }

  /** Heap in use after full collections, repeated until it settles: Spark's
    * ContextCleaner frees shuffle and broadcast state asynchronously after a
    * collection finds it unreachable, so one System.gc() can leave it counted. */
  private def liveHeapMb(): Double = {
    def used() = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    var last = Long.MaxValue
    var now = used()
    var rounds = 0
    while (rounds < 10 && math.abs(last - now) > (1L << 19)) {
      System.gc()
      Thread.sleep(200)
      last = now
      now = used()
      rounds += 1
    }
    now / (1024.0 * 1024.0)
  }

  /** Times `fn(spark, dir)` plus a full collect of its result; with a tracer
    * the plan is forced between the two and every layer is recorded. */
  private def runQuery(spark: SparkSession, name: String,
      fn: (SparkSession, String) => DataFrame, dir: String,
      tracer: Option[Tracer]): mutable.LinkedHashMap[String, Any] = {
    val sc = spark.sparkContext
    val out = mutable.LinkedHashMap[String, Any]("name" -> name)
    val before = tracer.map(_.before())
    if (tracer.isDefined) {
      sc.setJobGroup(name, name, interruptOnCancel = false)
      sc.setLocalProperty(Tracer.PhaseKey, "build")
    }
    var df: Option[DataFrame] = None
    var rows: Array[Row] = null
    val b0 = System.currentTimeMillis(); val t0 = System.nanoTime()
    var t1, t2 = t0
    var b1, b2 = b0
    try {
      df = Some(fn(spark, dir))
      t1 = System.nanoTime(); b1 = System.currentTimeMillis()
      if (tracer.isDefined) {
        sc.setLocalProperty(Tracer.PhaseKey, "plan")
        df.get.queryExecution.executedPlan
        sc.setLocalProperty(Tracer.PhaseKey, "exec")
      }
      t2 = System.nanoTime(); b2 = System.currentTimeMillis()
      rows = df.get.collect()
    } catch {
      case NonFatal(e) =>
        out("error") = (e.getClass.getName + ": " + String.valueOf(e.getMessage)).take(500)
    } finally {
      if (tracer.isDefined) {
        sc.clearJobGroup()
        sc.setLocalProperty(Tracer.PhaseKey, null)
      }
    }
    val t3 = System.nanoTime(); val b3 = System.currentTimeMillis()
    if (df.isEmpty) { t1 = t3; t2 = t3; b1 = b3; b2 = b3 }
    out("seconds") = (t3 - t0) / 1e9
    if (rows != null) {
      out("rows") = rows.length
      out("digest") = digest(df.get.schema.fieldNames.toSeq, rows)
    }
    for (t <- tracer; bf <- before) {
      out("trace") = t.after(name, bf, df, Tracer.Windows(b0, b1, b2, b3),
        (t1 - t0) / 1e6, (t2 - t1) / 1e6, (t3 - t2) / 1e6)
    }
    // The graft.Bench protocol: drop cached blocks between queries, and
    // collect their garbage only when a query left some behind.
    val leftCached = sc.getPersistentRDDs.nonEmpty
    spark.catalog.clearCache()
    if (leftCached) System.gc()
    out
  }

  /** Order-independent digest of a result: the sorted column names plus the
    * sum, modulo 2^128, of each row's MD5 over its canonical cells (taken in
    * column-name order). `oracle.py` computes the same over DuckDB rows. */
  def digest(columns: Seq[String], rows: Array[Row]): String = {
    val order = columns.indices.sortBy(columns(_))
    val modulus = java.math.BigInteger.ONE.shiftLeft(128)
    var sum = java.math.BigInteger.ZERO
    rows.foreach { r =>
      val text = order.map(i => cell(r.get(i))).map(c => s"${c.length}:$c").mkString
      val h = MessageDigest.getInstance("MD5").digest(text.getBytes(UTF_8))
      sum = sum.add(new java.math.BigInteger(1, h)).mod(modulus)
    }
    order.map(columns(_)).mkString(",") + "|" + rows.length + "|" + sum.toString(16)
  }

  /** Canonical text of one cell. Numbers of any type compare by exact value,
    * as Python's `==` does between int, float and Decimal. */
  def cell(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "b:1" else "b:0"
    case d: Double => number(d)
    case f: Float => number(f.toDouble)
    case d: java.math.BigDecimal => "n:" + plain(d)
    case d: scala.math.BigDecimal => "n:" + plain(d.bigDecimal)
    case n @ (_: Byte | _: Short | _: Int | _: Long) => "n:" + n.toString
    case s: String => "s:" + s
    case d: java.sql.Date => "d:" + d.toLocalDate
    case d: java.time.LocalDate => "d:" + d
    case t: java.sql.Timestamp =>
      "t:" + (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case t: java.time.Instant => "t:" + (t.getEpochSecond * 1000000L + t.getNano / 1000)
    case t: java.time.LocalDateTime => cell(t.toInstant(java.time.ZoneOffset.UTC))
    case b: Array[Byte] => "x:" + b.map("%02x".format(_)).mkString
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(cell).mkString("{", ",", "}")
    case other => "o:" + other
  }

  private def number(d: Double): String =
    if (d.isNaN) "n:NaN"
    else if (d.isInfinite) (if (d > 0) "n:Inf" else "n:-Inf")
    else "n:" + plain(new java.math.BigDecimal(d))

  private def plain(d: java.math.BigDecimal): String =
    if (d.signum == 0) "0" else d.stripTrailingZeros.toPlainString

  private def write(path: Path, doc: Any): Unit = {
    Files.createDirectories(path.getParent)
    Files.write(path, Json.render(doc).getBytes(UTF_8))
  }
}

/** Minimal JSON writer for maps, sequences, strings, numbers and booleans. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }
}
