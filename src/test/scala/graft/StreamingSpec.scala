package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.Event

/** Row shape for the streaming content-dedup spec. */
case class TextDoc(doc_id: Long, ts: Timestamp, text: String)
case class CurDoc(doc_id: Long, text: String, n_chars: Long)

/** Structured Streaming specs via MemoryStream → memory sink (SURVEY.md
  * §2.14 seams: watermark + windowed agg; stateful sessionization). */
class StreamingSpec extends SparkSpec {

  private def ts(min: Int): Timestamp = new Timestamp(min * 60000L)

  test("streaming content dedup drops re-crawled identical text under new ids") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[TextDoc]
    mem.addData(
      TextDoc(1, ts(61), "alpha beta"),
      TextDoc(2, ts(62), "alpha beta"), // same text re-ingested, fresh id
      TextDoc(3, ts(63), "gamma"))
    val q = StreamingOps.dedupByContent(mem.toDF())
      .writeStream.format("memory").queryName("cdd")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      assert(spark.table("cdd").select("doc_id").as[Long].collect().toSet
        == Set(1L, 3L))
    } finally q.stop()
  }

  test("windowed counts aggregate 10-minute buckets under a watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Event]
    mem.addData(
      Event(1, ts(1), 10, "click", 1.0),
      Event(2, ts(4), 10, "click", 2.0),
      Event(3, ts(12), 11, "view", 3.0))
    val q = StreamingOps.windowedCounts(mem.toDF())
      .writeStream.format("memory").queryName("wc")
      .outputMode(OutputMode.Update()).start()
    try {
      q.processAllAvailable()
      val rows = spark.table("wc")
        .selectExpr("event_type", "n", "total_value").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(rows == Set(("click", 2L, 3.0), ("view", 1L, 3.0)))
    } finally q.stop()
  }

  test("streaming rate drift flags a planted burst window and matches the batch recount") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Event]
    // steady: 2 clicks per 10-min window; burst: 6 clicks in window 2
    val steady = Seq(0, 1, 10, 11, 30, 31).map(m =>
      Event(100 + m, ts(m), 10, "click", 1.0))
    val burst = (0 until 6).map(i =>
      Event(200 + i, ts(20 + i), 11, "click", 1.0))
    mem.addData(steady ++ burst: _*)
    val ref = Seq(("click", 2L)).toDF("event_type", "ref_per_window")
    val q = StreamingOps.streamingRateDrift(mem.toDF(), ref)
      .writeStream.format("memory").queryName("srd")
      .outputMode(OutputMode.Update()).start()
    try {
      q.processAllAvailable()
      val rows = spark.table("srd")
        .selectExpr("window.start", "n", "rate_ppm", "spike").collect()
        .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2),
          r.getBoolean(3)))
      assert(rows.length == 4, "four 10-minute windows")
      val spikes = rows.filter(_._4)
      assert(spikes.length == 1, "exactly the burst window spikes")
      assert(spikes.head._2 == 6L && spikes.head._3 == 3000000L,
        "burst window carries 3x the reference rate")
      rows.filterNot(_._4).foreach { r =>
        assert(r._2 == 2L && r._3 == 1000000L, "steady windows read 1x")
      }
      // batch recount over the same frame: identical numbers
      import org.apache.spark.sql.functions.{window => winF, count => countF, lit => litF}
      val batch = (steady ++ burst).toDF()
        .groupBy(winF($"ts", "10 minutes"), $"event_type")
        .agg(countF(litF(1)).as("n"))
        .join(ref, Seq("event_type"))
        .selectExpr("window.start", "n",
          "n * 1000000 div ref_per_window as rate_ppm")
        .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2)))
        .toSet
      assert(rows.map(r => (r._1, r._2, r._3)).toSet == batch,
        "streamed drift must equal the batch computation of the same frame")
    } finally q.stop()
  }

  test("streaming dedup drops replayed event ids within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Event]
    mem.addData(
      Event(1, ts(1), 10, "click", 1.0),
      Event(1, ts(1), 10, "click", 1.0), // replay of event 1
      Event(2, ts(2), 10, "view", 2.0))
    val q = StreamingOps.dedupStream(mem.toDF())
      .writeStream.format("memory").queryName("dd")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      assert(spark.table("dd").count() == 2)
    } finally q.stop()
  }

  test("native session_window closes sessions once the watermark passes the gap") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Event]
    // user 10: two events 5 min apart (one session), then nothing until a
    // much later event that BOTH opens a new session and advances the
    // watermark far enough to finalize the first one.
    mem.addData(
      Event(1, ts(60), 10, "click", 1.0),
      Event(2, ts(65), 10, "click", 2.0))
    val q = StreamingOps.sessionWindowCounts(mem.toDF())
      .writeStream.format("memory").queryName("sw")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      assert(spark.table("sw").count() == 0) // session still open
      mem.addData(Event(3, ts(600), 10, "view", 4.0))
      q.processAllAvailable()
      mem.addData(Event(4, ts(1200), 11, "view", 8.0)) // push watermark again
      q.processAllAvailable()
      val rows = spark.table("sw")
        .selectExpr("user_id", "n_events", "total_value").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // first session (2 events) finalized; the ts(600) session closed by
      // the ts(1200) watermark advance
      assert(rows.contains((10L, 2L, 3.0)))
      assert(rows.contains((10L, 1L, 4.0)))
    } finally q.stop()
  }

  test("foreachBatch writes per-batch aggregates through the batch API") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    withTempDir("graft_fb") { tmp =>
      val out = tmp.toString
      val mem = MemoryStream[Event]
      mem.addData(
        Event(1, ts(1), 10, "click", 1.0),
        Event(2, ts(2), 10, "click", 2.0),
        Event(3, ts(3), 11, "view", 4.0))
      val q = StreamingOps.perBatchTypeTotals(mem.toDF(), out).start()
      try {
        q.processAllAvailable()
        mem.addData(Event(4, ts(4), 12, "click", 8.0))
        q.processAllAvailable()
        val all = spark.read.parquet(out)
        // two micro-batches → two partition dirs; totals add up across both
        assert(all.select("batch_id").distinct().count() == 2)
        val clicks = all.filter($"event_type" === "click")
          .agg(org.apache.spark.sql.functions.sum($"total_value")).head().getDouble(0)
        assert(clicks == 11.0)
      } finally q.stop()
    }
  }

  test("incremental waterfall dedups across micro-batches through the persistent ledger") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    withTempDir("graft_wf") { tmp =>
      val state = tmp.toString
      // quality-passing text: 50 distinct 7-char words → 399 chars,
      // diversity 1e6 ppm, avg word length 7 (the q196/q182 rules)
      val goodA = (0 until 50).map(i => f"alpha$i%02d").mkString(" ")
      val goodB = (0 until 50).map(i => f"bravo$i%02d").mkString(" ")
      val mem = MemoryStream[CurDoc]
      mem.addData(
        CurDoc(1, goodA, goodA.length.toLong),
        CurDoc(2, goodA, goodA.length.toLong),   // in-batch duplicate
        CurDoc(3, "tiny doc", 8L))               // unique but low-quality
      val q = StreamingOps.incrementalWaterfall(mem.toDF(), state).start()
      try {
        q.processAllAvailable()
        mem.addData(
          CurDoc(4, goodA, goodA.length.toLong), // CROSS-batch duplicate
          CurDoc(5, goodB, goodB.length.toLong))
        q.processAllAvailable()
        val totals = StreamingOps.waterfallTotals(spark, state)
          .select("stage", "n_docs", "n_tokens", "token_retained_ppm")
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        // raw: all 5 arrivals, 50+50+2+50+50 tokens
        assert(totals(0) == (("1_raw", 5L, 202L, 1000000L)))
        // exact dedup: docs 1,3,5 survive (2 in-batch dup, 4 cross-batch dup)
        assert(totals(1) == (("2_exact_dedup", 3L, 102L, 102L * 1000000L / 202L)))
        // quality: docs 1,5
        assert(totals(2) == (("3_quality", 2L, 100L, 100L * 1000000L / 202L)))
        // the ledger admitted exactly the 3 exact-dedup survivors
        assert(spark.read.parquet(s"$state/seen").select("h").distinct().count() == 3)
      } finally q.stop()
    }
  }

  test("waterfall batch replay is idempotent (at-least-once foreachBatch contract)") {
    import spark.implicits._
    withTempDir("graft_wf_replay") { tmp =>
      val state = tmp.toString
      val goodA = (0 until 50).map(i => f"alpha$i%02d").mkString(" ")
      val goodB = (0 until 50).map(i => f"bravo$i%02d").mkString(" ")
      val b0 = Seq(CurDoc(1, goodA, goodA.length.toLong),
        CurDoc(2, "tiny doc", 8L)).toDF()
      val b1 = Seq(CurDoc(3, goodA, goodA.length.toLong), // dup of batch 0
        CurDoc(4, goodB, goodB.length.toLong)).toDF()
      StreamingOps.waterfallBatch(b0, 0L, state)
      StreamingOps.waterfallBatch(b1, 1L, state)
      def snapshot() = StreamingOps.waterfallTotals(spark, state)
        .collect().map(_.toSeq).toSeq
      val before = snapshot()
      // a failure between commit and checkpoint re-delivers the SAME
      // batch: dynamic partition overwrite + the ledger read excluding the
      // current batch_id must reproduce identical state, not double-count
      StreamingOps.waterfallBatch(b1, 1L, state)
      assert(snapshot() == before, "replaying batch 1 changed the totals")
      StreamingOps.waterfallBatch(b0, 0L, state)
      assert(snapshot() == before, "replaying batch 0 changed the totals")
      // raw = 4 docs; exact-dedup = 3 (doc 3 is a cross-batch dup);
      // quality = 2 (alpha + bravo)
      val byStage = before.map(r => r.head.toString -> (r(1), r(2))).toMap
      assert(byStage("1_raw") == ((4L, 152L)))         // 50+2+50+50 tokens
      assert(byStage("2_exact_dedup") == ((3L, 102L))) // doc 3 deduped
      assert(byStage("3_quality") == ((2L, 100L)))     // alpha + bravo
    }
  }

  test("waterfallTotals on a fresh pipeline (no batches yet) is empty, not a throw") {
    withTempDir("graft_wf_empty") { tmp =>
      val state = tmp.toString
      val totals = StreamingOps.waterfallTotals(spark, s"$state/never_started")
      assert(totals.columns.toSeq ==
        Seq("stage", "n_docs", "n_tokens", "token_retained_ppm"))
      assert(totals.count() == 0)
    }
  }

  test("Trigger.AvailableNow drains the stream to parquet and stops") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    withTempDir("graft_an") { base =>
      val mem = MemoryStream[Event]
      mem.addData(
        Event(1, ts(1), 10, "click", 1.0),
        Event(2, ts(2), 11, "view", 2.0))
      val q = StreamingOps.drainToParquet(mem.toDF(),
        s"$base/data", s"$base/ckpt")
      q.awaitTermination(60000) // AvailableNow terminates on its own
      assert(!q.isActive)
      assert(spark.read.parquet(s"$base/data").count() == 2)
      // a second drain resumes from the checkpoint: only NEW rows land
      mem.addData(Event(3, ts(3), 12, "click", 3.0))
      val q2 = StreamingOps.drainToParquet(mem.toDF(),
        s"$base/data", s"$base/ckpt")
      q2.awaitTermination(60000)
      assert(spark.read.parquet(s"$base/data").count() == 3)
    }
  }

  test("csv file-stream drives stateful dedup and resumes exactly-once from its checkpoint") {
    import spark.implicits._
    // the REAL source face beside MemoryStream: csv files dropped in a
    // scratch dir, declared schema, AvailableNow drain + checkpoint. Run
    // 2 proves BOTH exactly-once file discovery (f1.csv is not
    // reprocessed) and state restoration (a cross-run replay of event 2
    // under a FRESH timestamp is dropped by the restored dedup state,
    // not by file dedup).
    withTempDir("graft_fsrc") { base =>
      val src = s"$base/src"
      new java.io.File(src).mkdirs()
      def drop(name: String, rows: String*): Unit =
        java.nio.file.Files.write(java.nio.file.Paths.get(src, name),
          rows.mkString("\n").getBytes("UTF-8"))
      drop("f1.csv",
        "1,1970-01-01 01:01:00,10,click,1.0",
        "2,1970-01-01 01:02:00,11,view,2.0",
        "2,1970-01-01 01:02:00,11,view,2.0") // in-file duplicate id
      def drain() = {
        val q = StreamingOps.drainToParquet(
          StreamingOps.dedupStream(StreamingOps.eventCsvStream(spark, src)),
          s"$base/data", s"$base/ckpt")
        q.awaitTermination(60000)
        assert(!q.isActive)
        spark.read.parquet(s"$base/data")
          .select($"event_id").as[Long].collect().sorted.toSeq
      }
      assert(drain() == Seq(1L, 2L), "in-file duplicate must dedup")
      drop("f2.csv",
        "2,1970-01-01 01:03:00,11,view,2.0", // replay, fresh ts, inside watermark
        "3,1970-01-01 01:04:00,12,click,3.0")
      assert(drain() == Seq(1L, 2L, 3L),
        "restart must skip processed files AND drop the replay via restored state")
    }
  }

  test("streaming CMS: the cross-batch grid equals the batch grid and never underestimates") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming" +
      ".state.RocksDBStateStoreProvider")
    val batch1 = Seq("a", "b", "a", "c", "a", "b")
    val batch2 = Seq("a", "d", "b", "a")
    val all = batch1 ++ batch2
    val mem = MemoryStream[String]
    mem.addData(batch1: _*)
    val q = StreamingOps.streamingCms(mem.toDS(), shards = 2)
      .writeStream.format("memory").queryName("cms")
      .outputMode(OutputMode.Update()).start()
    try {
      q.processAllAvailable()
      mem.addData(batch2: _*)
      q.processAllAvailable()
      // latest generation per shard, cells summed ACROSS shards = the
      // grid of the whole stream (cell-wise addition mergeability over
      // shards AND time)
      val rows = spark.table("cms").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3),
          r.getLong(4)))
      val latest = rows.groupBy(_._1).values.flatMap { shard =>
        val g = shard.map(_._5).max
        shard.filter(_._5 == g)
      }
      val streamGrid = latest.groupBy(c => (c._2, c._3))
        .view.mapValues(_.map(_._4).sum).toMap
      val batchGrid = all
        .flatMap(t => (0 until 4).map(r =>
          (r, StreamingOps.cmsBucket(r, t)) -> 1L))
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      assert(streamGrid == batchGrid,
        "streamed grid must equal the batch grid of the concatenated stream")
      // the CMS guarantee through the streamed grid
      all.distinct.foreach { t =>
        val est = (0 until 4)
          .map(r => streamGrid.getOrElse((r, StreamingOps.cmsBucket(r, t)), 0L))
          .min
        assert(est >= all.count(_ == t).toLong, s"estimate($t) underestimates")
      }
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }

  test("stream-batch parity: the same windowedCounts dataflow agrees across both engines") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // the module contract made concrete: every StreamingOps function is
    // ONE dataflow that runs under either engine. Execute windowedCounts
    // over identical rows as a plain batch DataFrame and as a stream
    // (Complete mode = full state), and require identical aggregates.
    val events = Seq(
      Event(1, ts(61), 10, "click", 1.0),
      Event(2, ts(64), 10, "click", 2.0),
      Event(3, ts(72), 11, "view", 3.0),
      Event(4, ts(75), 12, "view", 5.0))
    def key(r: org.apache.spark.sql.Row) =
      (r.getStruct(0).getTimestamp(0).getTime, r.getString(1),
        r.getLong(2), r.getDouble(3))
    val batch = StreamingOps.windowedCounts(events.toDF())
      .selectExpr("window", "event_type", "n", "total_value")
      .collect().map(key).toSet
    val mem = MemoryStream[Event]
    mem.addData(events: _*)
    val q = StreamingOps.windowedCounts(mem.toDF())
      .writeStream.format("memory").queryName("par")
      .outputMode(OutputMode.Complete()).start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("par")
        .selectExpr("window", "event_type", "n", "total_value")
        .collect().map(key).toSet
      assert(streamed == batch,
        "batch and streaming executions of the same plan must agree")
    } finally q.stop()
  }

  test("custom DSv2 source streams in admission-controlled micro-batches with pruning intact") {
    import spark.implicits._
    // the generative DSv2 connector's MicroBatchStream personality:
    // doc_id is the offset axis, ReadLimit.maxRows(30) bounds each
    // micro-batch, and the streaming scan goes through the SAME
    // ScanBuilder — so column pruning composes (only the projected
    // columns are ever computed)
    val q = spark.readStream.format("graft.sources.GraftDocsSource")
      .option("rows", "100").option("partitions", "4")
      .option("streamBatchRows", "30")
      .load()
      .select($"doc_id", $"n_words")
      .writeStream.format("memory").queryName("dsv2s")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      val rows = spark.table("dsv2s").collect()
        .map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1)
      assert(rows.length == 100)
      assert(rows.forall { case (id, nw) => nw == (id % 91 + 9).toInt })
      val batches = q.recentProgress.count(_.numInputRows > 0)
      assert(batches >= 4,
        s"100 rows at maxRows=30 must take >=4 micro-batches, saw $batches")
    } finally q.stop()
  }

  test("custom DSv2 stream resumes at the committed offset when the table grows") {
    import spark.implicits._
    withTempDir("graft_dsv2s") { base =>
      def drain(rows: Int): Long = {
        val q = spark.readStream.format("graft.sources.GraftDocsSource")
          .option("rows", rows.toString).option("partitions", "4")
          .option("streamBatchRows", "40")
          .load()
          .select($"doc_id")
          .writeStream.format("parquet")
          .option("path", s"$base/data")
          .option("checkpointLocation", s"$base/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .outputMode(OutputMode.Append()).start()
        q.awaitTermination(60000)
        assert(!q.isActive)
        spark.read.parquet(s"$base/data").count()
      }
      assert(drain(60) == 60L)
      // the table "grows" to 100 rows; the restart must re-enter at the
      // checkpointed offset 60 and emit ONLY the 40 new ids
      assert(drain(100) == 100L)
      val ids = spark.read.parquet(s"$base/data")
        .select($"doc_id").as[Long].collect().sorted.toSeq
      assert(ids == (0L until 100L).toSeq,
        "no id duplicated or skipped across the restart")
    }
  }

  test("stream-static join enriches each batch from a broadcast dimension") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dim = Seq((10L, "gold"), (11L, "basic")).toDF("user_id", "tier")
    val mem = MemoryStream[Event]
    mem.addData(
      Event(1, ts(1), 10, "click", 1.0),
      Event(2, ts(2), 12, "view", 2.0)) // user 12 not in dim -> null tier
    val q = StreamingOps.enrichWithDim(mem.toDF(), dim, "user_id")
      .writeStream.format("memory").queryName("enr")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      val rows = spark.table("enr").selectExpr("user_id", "tier").collect()
        .map(r => (r.getLong(0), Option(r.getString(1)))).toSet
      assert(rows == Set((10L, Some("gold")), (12L, None)))
    } finally q.stop()
  }

  test("stream-stream interval join attributes purchases to recent clicks") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // Event times must sit well above the INITIAL watermark (epoch 0) or
    // the join's late-row filter drops them before they reach state.
    def t(min: Int): Timestamp = new Timestamp(1704067200000L + min * 60000L)
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    clicks.addData(
      Event(1, t(0), 40, "click", 1.0),
      Event(2, t(100), 41, "click", 1.0))
    purchases.addData(
      Event(10, t(10), 40, "purchase", 9.0),  // 10 min after click -> joins
      Event(11, t(50), 40, "purchase", 9.0),  // 50 min after -> outside window
      Event(12, t(101), 42, "purchase", 9.0)) // other user -> no click
    val q = StreamingOps.clickAttribution(clicks.toDF(), purchases.toDF())
      .writeStream.format("memory").queryName("attr")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      val rows = spark.table("attr")
        .selectExpr("purchase_id", "click_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(rows == Set((10L, 1L)))
    } finally q.stop()
  }

  test("mapGroupsWithState keeps a running per-user max across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Event]
    val q = StreamingOps.runningUserStats(mem.toDS())
      .writeStream.format("memory").queryName("rus")
      .outputMode(OutputMode.Update()).start()
    try {
      mem.addData(Event(1, ts(1), 30, "click", 5.0))
      q.processAllAvailable()
      mem.addData(Event(2, ts(2), 30, "click", 3.0))
      q.processAllAvailable()
      val latest = spark.table("rus").as[StreamingOps.UserStat].collect()
        .filter(_.user_id == 30).maxBy(_.n_events)
      assert(latest.n_events == 2 && latest.max_value == 5.0)
    } finally q.stop()
  }

  test("stateful sessionization closes sessions on >30min gaps") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Event]
    // user 20: events at minute 0, 10 (one session), then 60 (new session)
    mem.addData(
      Event(1, ts(0), 20, "click", 1.0),
      Event(2, ts(10), 20, "click", 1.0),
      Event(3, ts(60), 20, "click", 1.0))
    val q = StreamingOps.sessionize(mem.toDS())
      .writeStream.format("memory").queryName("sess")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      val closed = spark.table("sess").as[StreamingOps.SessionUpdate].collect()
      // first session (minutes 0-10, 2 events) must have been closed by the
      // minute-60 event arriving in the same batch
      assert(closed.exists(s =>
        s.user_id == 20 && s.n_events == 2 && s.start_sec == 0 && s.end_sec == 600))
    } finally q.stop()
  }

  test("transformWithState keeps typed ValueState across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // transformWithState requires the RocksDB state store provider — the
    // store that makes its named-state/TTL/timer surface durable at scale
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming" +
      ".state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[Event]
      mem.addData(
        Event(1, ts(61), 10, "click", 1.5),
        Event(2, ts(62), 10, "click", 2.0),
        Event(3, ts(63), 11, "view", 4.0))
      val q = StreamingOps.runningTotalsTws(mem.toDS())
        .writeStream.format("memory").queryName("tws")
        .outputMode(OutputMode.Update()).start()
      try {
        q.processAllAvailable()
        mem.addData(Event(4, ts(64), 10, "click", 0.5)) // second batch
        q.processAllAvailable()
        val latest = spark.table("tws").as[StreamingOps.UserTotal].collect()
          .groupBy(_.user_id).map { case (_, rs) => rs.maxBy(_.n_events) }
        // user 10's ValueState must have carried (2, 3.5) into batch 2
        assert(latest.toSet == Set(
          StreamingOps.UserTotal(10, 3, 4.0),
          StreamingOps.UserTotal(11, 1, 4.0)))
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("dropDuplicatesWithinWatermark drops replays whose timestamps drifted") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Event]
    // the replay of event 1 arrives with a DIFFERENT timestamp — plain
    // dropDuplicates would also drop it here, but its state eviction
    // would key on the replayed time; WithinWatermark pins the guarantee
    // to first-sight + delay
    mem.addData(
      Event(1, ts(61), 10, "click", 1.0),
      Event(1, ts(63), 10, "click", 1.0), // replayed, drifted +2min
      Event(2, ts(62), 11, "view", 2.0))
    val q = StreamingOps.dedupWithinWatermark(mem.toDF())
      .writeStream.format("memory").queryName("ddw")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      val ids = spark.table("ddw").select("event_id").as[Long].collect()
      assert(ids.sorted.toSeq == Seq(1L, 2L),
        s"each event id must survive exactly once, got ${ids.toSeq}")
    } finally q.stop()
  }

  test("streaming Misra-Gries: bounded MapState sketch keeps every heavy hitter across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming" +
      ".state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[String]
      // batch 1: a dominant token + tail noise; batch 2 shifts the mix —
      // the sketch must carry "alpha"/"beta" across the batch boundary
      val b1 = Seq.fill(40)("alpha") ++ Seq.fill(25)("beta") ++
        (1 to 30).map(i => s"tail$i")
      val b2 = Seq.fill(30)("alpha") ++ Seq.fill(20)("gamma") ++
        (31 to 55).map(i => s"tail$i")
      val k = 8
      mem.addData(b1: _*)
      val q = StreamingOps.streamingHeavyHitters(mem.toDS(), shards = 4, k = k)
        .writeStream.format("memory").queryName("shh")
        .outputMode(OutputMode.Update()).start()
      try {
        q.processAllAvailable()
        mem.addData(b2: _*)
        q.processAllAvailable()
        val all = spark.table("shh").as[StreamingOps.HhCand].collect()
        // the LATEST sketch per shard is the highest generation emitted
        val latest = all.groupBy(_.shard).toSeq.flatMap { case (_, rs) =>
          val g = rs.map(_.gen).max
          rs.filter(_.gen == g).toSeq
        }
        latest.groupBy(_.shard).foreach { case (s, cands) =>
          assert(cands.size <= k, s"shard $s sketch exceeded k: ${cands.size}")
        }
        // MG guarantee per shard over the FULL stream so far: any token
        // with shard frequency > N_shard/(k+1) must be in the sketch
        val stream = b1 ++ b2
        val byShard = stream.groupBy(t => math.floorMod(t.hashCode.toLong, 4L))
        byShard.foreach { case (s, toks) =>
          val counts = toks.groupBy(identity).view.mapValues(_.size)
          val hh = counts.filter(_._2 * (k + 1) > toks.size).keySet
          val sketch = latest.filter(_.shard == s).map(_.tok).toSet
          assert(hh.subsetOf(sketch),
            s"shard $s lost heavy hitters ${hh -- sketch} (sketch: $sketch)")
        }
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("transformWithState MapState keeps per-entry counters across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming" +
      ".state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[Event]
      mem.addData(
        Event(1, ts(61), 10, "click", 1.0),
        Event(2, ts(62), 10, "view", 1.0),
        Event(3, ts(63), 10, "click", 1.0))
      val q = StreamingOps.typeCountsTws(mem.toDS())
        .writeStream.format("memory").queryName("twm")
        .outputMode(OutputMode.Update()).start()
      try {
        q.processAllAvailable()
        mem.addData(Event(4, ts(64), 10, "click", 1.0)) // batch 2: only click
        q.processAllAvailable()
        val latest = spark.table("twm").as[StreamingOps.TypeCount].collect()
          .groupBy(_.event_type).map { case (_, rs) => rs.maxBy(_.n) }.toSet
        // click's MapState entry carried 2 into batch 2; view untouched
        assert(latest == Set(
          StreamingOps.TypeCount(10, "click", 3),
          StreamingOps.TypeCount(10, "view", 1)))
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("transformWithState restarts from its checkpoint with state intact") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming" +
      ".state.RocksDBStateStoreProvider")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_tws_ckpt")
      .toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_tws_out")
      .toString
    try {
      val mem = MemoryStream[Event]
      // memory sink refuses checkpoint recovery, so the restartable face
      // is foreachBatch → parquet (the q-pattern production sink)
      def start() = StreamingOps.runningTotalsTws(mem.toDS())
        .writeStream.outputMode(OutputMode.Update())
        .option("checkpointLocation", ckpt)
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[StreamingOps.UserTotal],
              id: Long) =>
            batch.write.mode("append").parquet(outDir)
        }
        .start()
      mem.addData(Event(1, ts(61), 10, "click", 1.0))
      val q1 = start()
      try q1.processAllAvailable() finally q1.stop()
      // JVM-internal "crash": a NEW query object resumes from the same
      // checkpoint; the RocksDB ValueState must still hold (1, 1.0)
      mem.addData(Event(2, ts(62), 10, "click", 2.0))
      val q2 = start()
      try q2.processAllAvailable() finally q2.stop()
      val latest = spark.read.parquet(outDir)
        .as[StreamingOps.UserTotal].collect().maxBy(_.n_events)
      assert(latest == StreamingOps.UserTotal(10, 2, 3.0),
        s"state did not survive the restart: $latest")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
      Seq(ckpt, outDir).foreach(d =>
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
    }
  }

  test("transformWithState event-time timer flushes the final idle session") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming" +
      ".state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[Event]
      // user 10: two events one minute apart, then silence — the
      // arrival-driven sessionizer would hold this open forever
      mem.addData(
        Event(1, ts(61), 10, "click", 1.0),
        Event(2, ts(62), 10, "click", 1.0))
      val q = StreamingOps.timerSessions(mem.toDS(), gapSec = 1800)
        .writeStream.format("memory").queryName("twt")
        .outputMode(OutputMode.Append()).start()
      try {
        q.processAllAvailable()
        assert(spark.table("twt").isEmpty,
          "session must stay open while the watermark is behind the timer")
        // unrelated user far in the future advances the watermark past
        // minute 62 + 30min gap; user 10's timer fires on the next batch
        mem.addData(Event(3, ts(200), 99, "view", 1.0))
        q.processAllAvailable()
        val closed = spark.table("twt").as[StreamingOps.TwsSession].collect()
        assert(closed.toSet.contains(
          StreamingOps.TwsSession(10, 2, 61 * 60, 62 * 60)),
          s"expected user 10's idle session flushed, got ${closed.toSeq}")
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }
}
