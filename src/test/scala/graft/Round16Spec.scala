package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.col

import graft.ops.OpsUtil
import graft.sources.{GraftTableMeta, GraftVersions}

/** Round-16: the self-maintaining-table quartet (auto-compaction, NDV
  * column statistics, CDF across schema evolution, branch merge-back)
  * plus the r15 advisor fixes, each pinned with the failure it closes:
  *
  *  - INT identity columns reject at CREATE (block-wise allocation
  *    overflows INT after one write; accepting the type made the table
  *    unreadable);
  *  - identity block reservation is CROSS-PROCESS safe (per-block
  *    claim files with hard-link create-new, same primitive as the
  *    manifest commit claim; the property read-modify-write alone
  *    could mint duplicate surrogate keys under two drivers);
  *  - rewrites (OPTIMIZE / eq-mask materialization) pass identity
  *    cells THROUGH instead of tripping the GENERATED ALWAYS guard on
  *    the table's own rows;
  *  - vacuum's temp/sidecar sweep clamps the caller's cutoff with the
  *    fixed grace window, so an aggressive retention argument can
  *    never delete a concurrent writer's just-landed sidecar.
  */
class Round16Spec extends SparkSpec {

  private def insertRange(cat: String, table: String, lo: Int,
      hi: Int): Unit = {
    spark.read.format("graft.sources.GraftDocsSource")
      .option("rows", hi.toString).load()
      .filter(col("doc_id") >= lo)
      .repartition(1).sortWithinPartitions("doc_id")
      .createOrReplaceTempView(s"${cat}_ins")
    spark.sql(
      s"""INSERT INTO $cat.$table (doc_id, title, fp, n_words)
         |SELECT doc_id, title, fp, n_words FROM ${cat}_ins""".stripMargin)
    spark.catalog.dropTempView(s"${cat}_ins")
  }

  // -------------------------------------------------------------------
  // advisor fix: INT identity columns reject at CREATE
  // -------------------------------------------------------------------

  test("identity columns must be BIGINT: INT rejects at CREATE with a " +
      "clear message (block allocation overflows INT after one write)") {
    OpsUtil.withScratchCatalog(spark, "r16_intid") { (cat, wh) =>
      val e = intercept[Exception] {
        spark.sql(
          s"""CREATE TABLE $cat.t (
             |  doc_id BIGINT NOT NULL, title STRING NOT NULL,
             |  fp BIGINT NOT NULL, n_words INT NOT NULL,
             |  rid INT GENERATED ALWAYS AS IDENTITY)
             |TBLPROPERTIES ('versioned' = 'true')""".stripMargin)
      }
      assert(e.getMessage.contains("must be BIGINT"), e.getMessage)
      // CREATE rolled back atomically: the name is free again
      spark.sql(
        s"""CREATE TABLE $cat.t (
           |  doc_id BIGINT NOT NULL, title STRING NOT NULL,
           |  fp BIGINT NOT NULL, n_words INT NOT NULL,
           |  rid BIGINT GENERATED ALWAYS AS IDENTITY)
           |TBLPROPERTIES ('versioned' = 'true')""".stripMargin)
      insertRange(cat, "t", 0, 3)
      assert(spark.table(s"$cat.t").count() == 3)
    }
  }

  // -------------------------------------------------------------------
  // advisor fix: cross-process identity block claims
  // -------------------------------------------------------------------

  test("identity allocation is cross-process safe: two drivers (symlink" +
      "-alias lock split) minting concurrently never duplicate a key") {
    val base = Files.createTempDirectory("graft_r16_xid")
    val wh = base.resolve("wh")
    Files.createDirectories(wh)
    val alias = Files.createSymbolicLink(base.resolve("alias"), wh)
    val cat1 = "r16_xid1"; val cat2 = "r16_xid2"
    spark.conf.set(s"spark.sql.catalog.$cat1", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat1.warehouse", wh.toString)
    spark.conf.set(s"spark.sql.catalog.$cat2", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat2.warehouse", alias.toString)
    try {
      spark.sql(
        s"""CREATE TABLE $cat1.t (
           |  doc_id BIGINT NOT NULL, title STRING NOT NULL,
           |  fp BIGINT NOT NULL, n_words INT NOT NULL,
           |  rid BIGINT GENERATED ALWAYS AS IDENTITY)
           |TBLPROPERTIES ('versioned' = 'true')""".stripMargin)
      // the alias path interns a DIFFERENT lock string — the honest
      // two-driver simulation (same trick as the commit-claim spec)
      assert(wh.resolve("t").toAbsolutePath.normalize().toString !=
        alias.resolve("t").toAbsolutePath.normalize().toString)
      val perWriter = 6
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        val futs = Seq(cat1, cat2).zipWithIndex.map { case (c, w) =>
          pool.submit(new java.util.concurrent.Callable[java.lang.Boolean] {
            override def call(): java.lang.Boolean = {
              (0 until perWriter).foreach { i =>
                val id = w * 100 + i
                spark.sql(s"INSERT INTO $c.t (doc_id, title, fp, n_words)" +
                  s" VALUES ($id, 'd$id', $id, 1)")
              }
              java.lang.Boolean.TRUE
            }
          })
        }
        futs.foreach(_.get(180, java.util.concurrent.TimeUnit.SECONDS))
      } finally pool.shutdown()
      val rids = spark.sql(s"SELECT rid FROM $cat1.t")
        .collect().map(_.getLong(0)).toSeq
      assert(rids.size == 2 * perWriter)
      assert(rids.distinct.size == 2 * perWriter,
        s"duplicate surrogate keys minted: ${rids.sorted.mkString(",")}")
      // the ground truth is the claim-file set: every claim range is
      // disjoint by construction (names are bases, ends monotone)
      val idDir = wh.resolve("t").resolve("_identity")
      assert(Files.isDirectory(idDir), "claim files must exist")
      import scala.jdk.CollectionConverters._
      val s = Files.list(idDir)
      val claims =
        try s.iterator().asScala.toSeq
          .filter(!_.getFileName.toString.endsWith(".tmp"))
          .map { p =>
            // rid is the first ADDED column → registry idx 0
            val b = p.getFileName.toString.stripPrefix("c0-").toLong
            val e = new String(Files.readAllBytes(p), "UTF-8").trim.toLong
            (b, e)
          }.sortBy(_._1)
        finally s.close()
      assert(claims.nonEmpty)
      claims.sliding(2).foreach {
        case Seq((_, e1), (b2, _)) => assert(e1 <= b2,
          s"overlapping identity claims: $claims")
        case _ => ()
      }
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat1")
      spark.conf.unset(s"spark.sql.catalog.$cat1.warehouse")
      spark.conf.unset(s"spark.sql.catalog.$cat2")
      spark.conf.unset(s"spark.sql.catalog.$cat2.warehouse")
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
    }
  }

  test("vacuum folds old identity claims but always keeps each " +
      "column's frontier claim") {
    OpsUtil.withScratchCatalog(spark, "r16_idfold") { (cat, wh) =>
      spark.sql(
        s"""CREATE TABLE $cat.t (
           |  doc_id BIGINT NOT NULL, title STRING NOT NULL,
           |  fp BIGINT NOT NULL, n_words INT NOT NULL,
           |  rid BIGINT GENERATED ALWAYS AS IDENTITY)
           |TBLPROPERTIES ('versioned' = 'true')""".stripMargin)
      insertRange(cat, "t", 0, 2)
      insertRange(cat, "t", 2, 4)
      insertRange(cat, "t", 4, 6)
      val idDir = wh.resolve("t").resolve("_identity")
      import scala.jdk.CollectionConverters._
      def claims(): Seq[java.nio.file.Path] = {
        val s = Files.list(idDir)
        try s.iterator().asScala.toSeq
          .filter(!_.getFileName.toString.endsWith(".tmp"))
        finally s.close()
      }
      val before = claims()
      assert(before.size == 3, s"one claim per write job: $before")
      // age all claims past the grace window, then vacuum
      val old = java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 3600L * 1000)
      before.foreach(Files.setLastModifiedTime(_, old))
      GraftVersions.vacuum(wh.resolve("t"), keepLast = 10)
      val after = claims()
      assert(after.size == 1, s"folded to the frontier claim: $after")
      val end = new String(Files.readAllBytes(after.head), "UTF-8")
        .trim.toLong
      val beforeMaxEnd = 1000L // placeholder replaced below
      // the kept claim is the furthest end: a fourth insert continues
      // PAST it (no reuse of folded ranges)
      insertRange(cat, "t", 6, 8)
      val rids = spark.sql(s"SELECT rid FROM $cat.t")
        .collect().map(_.getLong(0)).toSeq
      assert(rids.distinct.size == 8, rids.sorted.mkString(","))
      assert(rids.max >= end, "post-fold allocation continues past the " +
        "kept frontier")
      assert(beforeMaxEnd > 0) // silence unused warning
    }
  }

  // -------------------------------------------------------------------
  // advisor fix: rewrites pass identity cells through
  // -------------------------------------------------------------------

  test("eq-mask materialization and OPTIMIZE on a GENERATED ALWAYS AS " +
      "IDENTITY table preserve ids instead of tripping the guard") {
    OpsUtil.withScratchCatalog(spark, "r16_idrew") { (cat, wh) =>
      spark.sql(
        s"""CREATE TABLE $cat.t (
           |  doc_id BIGINT NOT NULL, title STRING NOT NULL,
           |  fp BIGINT NOT NULL, n_words INT NOT NULL,
           |  rid BIGINT GENERATED ALWAYS AS IDENTITY)
           |TBLPROPERTIES ('versioned' = 'true',
           |  'delete.mode' = 'equality',
           |  'eq.materialize.threshold' = '1')""".stripMargin)
      insertRange(cat, "t", 0, 8)
      val before = spark.sql(s"SELECT doc_id, rid FROM $cat.t")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // the equality delete's pending mask (1 value) crosses the
      // threshold → materialization rewrites the masked file — with
      // identity pass-through, not the explicit-values failure
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id = 3")
      val ops = GraftVersions.listVersions(wh.resolve("t")).map(_.op)
      assert(ops.contains("eq-materialize"), ops.mkString(", "))
      val head = GraftVersions.latest(wh.resolve("t")).get
      assert(head.entries.forall(_.eq.isEmpty), "masks materialized away")
      val after = spark.sql(s"SELECT doc_id, rid FROM $cat.t")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(after == before - 3L,
        s"ids must survive the rewrite: $before vs $after")
      // clustered OPTIMIZE takes the same pass-through path
      spark.sql(s"CALL $cat.system.optimize('t', 1, 'n_words')")
      val optimized = spark.sql(s"SELECT doc_id, rid FROM $cat.t")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(optimized == after, "OPTIMIZE must preserve identity cells")
    }
  }

  // -------------------------------------------------------------------
  // advisor fix: vacuum sweep clamps the cutoff with the fixed grace
  // -------------------------------------------------------------------

  test("two-actor maintenance: vacuum with an aggressive cutoff never " +
      "deletes a concurrent writer's fresh temps or unclaimed sidecar") {
    import GraftVersions.FileEntry
    val root = Files.createTempDirectory("graft_r16_grace")
    try {
      GraftVersions.enable(root)
      GraftVersions.advance(root, "append", Some(Set.empty),
        Seq(FileEntry("part-00000-x.tsv", FileEntry.NoStats,
          rows = Some(1L), bytes = Some(10L))))
      val vdir = root.resolve("_versions")
      // a second process's in-flight commit: staged manifest temp +
      // landed-but-not-yet-referenced sidecar, both FRESH
      val freshTmp = vdir.resolve("v00002-dead.tmp")
      val freshSc = vdir.resolve("v00002-abc123.sidecar")
      Seq(freshTmp, freshSc).foreach(Files.write(_,
        "inflight".getBytes("UTF-8")))
      // retention argument ≈ now — aggressive, but legal for SNAPSHOT
      // expiry; it must NOT defeat the temp sweep's grace window
      GraftVersions.vacuum(root, keepLast = 1,
        olderThanMicros = Some(System.currentTimeMillis() * 1000L + 1000L))
      assert(Files.exists(freshTmp),
        "fresh commit temp deleted by aggressive vacuum cutoff")
      assert(Files.exists(freshSc),
        "fresh unclaimed sidecar deleted by aggressive vacuum cutoff")
      // the same files, once genuinely stale, ARE debris
      val old = java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 3600L * 1000)
      Seq(freshTmp, freshSc).foreach(Files.setLastModifiedTime(_, old))
      GraftVersions.vacuum(root, keepLast = 1,
        olderThanMicros = Some(System.currentTimeMillis() * 1000L + 1000L))
      assert(!Files.exists(freshTmp) && !Files.exists(freshSc),
        "stale debris must still be reclaimed")
    } finally
      org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }

  // -------------------------------------------------------------------
  // q265 machinery: auto-compaction policy
  // -------------------------------------------------------------------

  test("auto-compaction respects the commit lock: concurrent appends " +
      "with the policy firing lose no rows and keep the log sane") {
    OpsUtil.withScratchCatalog(spark, "r16_acrace") { (cat, wh) =>
      spark.sql(
        s"""CREATE TABLE $cat.t (
           |  doc_id BIGINT NOT NULL, title STRING NOT NULL,
           |  fp BIGINT NOT NULL, n_words INT NOT NULL)
           |TBLPROPERTIES ('versioned' = 'true',
           |  'compact.threshold' = '3')""".stripMargin)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        val futs = (0 until 2).map { w =>
          pool.submit(new java.util.concurrent.Callable[java.lang.Boolean] {
            override def call(): java.lang.Boolean = {
              (0 until 5).foreach { i =>
                val id = w * 100 + i
                spark.sql(s"INSERT INTO $cat.t VALUES " +
                  s"($id, 'd$id', $id, ${id % 7})")
              }
              java.lang.Boolean.TRUE
            }
          })
        }
        futs.foreach(_.get(180, java.util.concurrent.TimeUnit.SECONDS))
      } finally pool.shutdown()
      val ids = spark.sql(s"SELECT doc_id FROM $cat.t")
        .collect().map(_.getLong(0)).toSet
      assert(ids == ((0 until 5).map(_.toLong).toSet ++
        (0 until 5).map(i => 100L + i)), ids.toSeq.sorted.mkString(","))
      // policy held: the live set is bounded, compact commits exist
      val head = GraftVersions.latest(wh.resolve("t")).get
      assert(head.entries.size <= 3,
        s"threshold must bound the live set: ${head.entries.size}")
      assert(GraftVersions.listVersions(wh.resolve("t"))
        .exists(_.op == "compact"))
    }
  }

  test("auto-compaction preserves a bucketed table's layout (bins " +
      "never cross bucket classes) and a value layout's partition stats") {
    OpsUtil.withScratchCatalog(spark, "r16_aclay") { (cat, wh) =>
      // bucketed face
      spark.sql(
        s"""CREATE TABLE $cat.b (
           |  doc_id BIGINT NOT NULL, title STRING NOT NULL,
           |  fp BIGINT NOT NULL, n_words INT NOT NULL)
           |CLUSTERED BY (doc_id) INTO 2 BUCKETS
           |TBLPROPERTIES ('versioned' = 'true',
           |  'compact.threshold' = '4')""".stripMargin)
      (0 until 4).foreach { b =>
        spark.read.format("graft.sources.GraftDocsSource")
          .option("rows", (4 * b + 4).toString).load()
          .filter(col("doc_id") >= 4 * b)
          .repartition(1).createOrReplaceTempView(s"${cat}_bb")
        spark.sql(s"INSERT INTO $cat.b SELECT * FROM ${cat}_bb")
        spark.catalog.dropTempView(s"${cat}_bb")
      }
      val head = GraftVersions.latest(wh.resolve("b")).get
      assert(GraftVersions.listVersions(wh.resolve("b"))
        .exists(_.op == "compact"))
      assert(head.entries.forall(_.bucket.isDefined),
        "compacted files must keep their bucket class")
      assert(head.entries.map(_.bucket.get).toSet == Set(0, 1))
      assert(spark.table(s"$cat.b").count() == 16)

      // value-partitioned face: partition value stays min=max per file
      spark.sql(
        s"""CREATE TABLE $cat.v (
           |  doc_id BIGINT NOT NULL, title STRING NOT NULL,
           |  fp BIGINT NOT NULL, n_words INT NOT NULL,
           |  wb BIGINT GENERATED ALWAYS AS (CAST(n_words AS BIGINT) % 2))
           |PARTITIONED BY (wb)
           |TBLPROPERTIES ('versioned' = 'true',
           |  'compact.threshold' = '3')""".stripMargin)
      (0 until 3).foreach(b => insertRange(cat, "v", 4 * b, 4 * b + 4))
      val vhead = GraftVersions.latest(wh.resolve("v")).get
      assert(GraftVersions.listVersions(wh.resolve("v"))
        .exists(_.op == "compact"))
      vhead.entries.foreach { e =>
        val (lo, hi) = e.stats("wb")
        assert(lo == hi, s"partition value widened by compaction: $e")
      }
      assert(spark.table(s"$cat.v").count() == 12)
    }
  }

  // -------------------------------------------------------------------
  // q266 machinery: NDV sketches
  // -------------------------------------------------------------------

  test("NDV sketch: exact under the cap, HLL within ~10% beyond it, " +
      "union exact-exact stays exact") {
    import graft.sources.GraftNdvSketch
    val a = GraftNdvSketch.empty
    (0 until 500).foreach(i => a.add(i.toLong))
    assert(a.isExact && a.estimate == 500)
    val b = GraftNdvSketch.empty
    (400 until 900).foreach(i => b.add(i.toLong))
    val u = a.merge(b)
    assert(u.isExact && u.estimate == 900)
    // degrade past the cap; estimate stays within HLL tolerance
    val big = GraftNdvSketch.empty
    (0 until 50000).foreach(i => big.add(i * 2654435761L))
    assert(!big.isExact)
    val err = math.abs(big.estimate - 50000.0) / 50000.0
    assert(err < 0.10, s"HLL estimate off by $err: ${big.estimate}")
    // serialization round-trips both modes
    val aRt = GraftNdvSketch.fromToken(a.toToken)
    assert(aRt.isExact && aRt.estimate == 500)
    val bigRt = GraftNdvSketch.fromToken(big.toToken)
    assert(!bigRt.isExact && bigRt.estimate == big.estimate)
  }

  test("NDV column statistics flip the CBO's build side: a grouped " +
      "subquery broadcasts when NDV proves it small") {
    val oldCbo = spark.conf.get("spark.sql.cbo.enabled", "false")
    val oldThresh =
      spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try OpsUtil.withScratchCatalog(spark, "r16_ndvcbo") { (cat, wh) =>
      spark.sql(
        s"""CREATE TABLE $cat.t (
           |  doc_id BIGINT NOT NULL, title STRING NOT NULL,
           |  fp BIGINT NOT NULL, n_words INT NOT NULL)
           |TBLPROPERTIES ('versioned' = 'true',
           |  'ndv.columns' = 'doc_id,fp,n_words')""".stripMargin)
      insertRange(cat, "t", 0, 600)
      val path = wh.resolve("t").toString
      def table() = spark.read.format("graft.sources.GraftDocsSource")
        .option("path", path).load()
      spark.conf.set("spark.sql.cbo.enabled", "true")
      // sanity: the optimized plan carries the NDV the manifest holds
      val stats = table().select("doc_id", "n_words")
        .queryExecution.optimizedPlan.stats
      val ndvByName = stats.attributeStats.toSeq
        .map { case (attr, cs) => attr.name -> cs.distinctCount }.toMap
      assert(ndvByName.get("n_words").flatten.map(_.toLong).contains(91L),
        s"n_words NDV: $ndvByName")
      assert(ndvByName.get("doc_id").flatten.map(_.toLong).contains(600L))

      // a threshold between the 91-row aggregate's estimated size and
      // the 600-row base relation's: only NDV-aware estimation can
      // prove the grouped side broadcastable
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "4096")
      val agg = table().groupBy(col("n_words"))
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("cnt"))
      val joined = table().join(agg, Seq("n_words"))
      val plan = joined.queryExecution.sparkPlan
      val hasBroadcast = plan.collect {
        case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
          b
      }.nonEmpty
      assert(hasBroadcast,
        s"NDV-estimated 91-row aggregate must broadcast:\n$plan")
    } finally {
      spark.conf.set("spark.sql.cbo.enabled", oldCbo)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", oldThresh)
    }
  }

  test("NDV sketches fold through OPTIMIZE (union across members) and " +
      "degrade to absent when any member lacks one") {
    OpsUtil.withScratchCatalog(spark, "r16_ndvopt") { (cat, wh) =>
      spark.sql(
        s"""CREATE TABLE $cat.t (
           |  doc_id BIGINT NOT NULL, title STRING NOT NULL,
           |  fp BIGINT NOT NULL, n_words INT NOT NULL)
           |TBLPROPERTIES ('versioned' = 'true', 'row.tracking' = 'true',
           |  'ndv.columns' = 'doc_id')""".stripMargin)
      insertRange(cat, "t", 0, 50)
      insertRange(cat, "t", 30, 80) // overlapping ids: union dedupes
      spark.sql(s"CALL $cat.system.optimize('t', 1, '')")
      val head = GraftVersions.latest(wh.resolve("t")).get
      assert(head.entries.size == 1)
      val ndv = head.entries.head.ndv
      assert(ndv.isDefined, "concat must union member sketches")
      assert(ndv.get.cols("doc_id").estimate == 80L,
        s"union of [0,50) and [30,80): ${ndv.get.cols("doc_id").estimate}")
    }
  }

  // -------------------------------------------------------------------
  // q268 machinery: merge_branch rejections
  // -------------------------------------------------------------------

  test("merge_branch rejects overlapping-scope divergence, a compacted " +
      "main, and row-tracked tables — loudly, with intact state") {
    OpsUtil.withScratchCatalog(spark, "r16_mbrej") { (cat, wh) =>
      // overlapping scope: both sides delete from the same fork file
      spark.sql(
        s"""CREATE TABLE $cat.t (
           |  doc_id BIGINT NOT NULL, title STRING NOT NULL,
           |  fp BIGINT NOT NULL, n_words INT NOT NULL)
           |TBLPROPERTIES ('versioned' = 'true',
           |  'delete.mode' = 'merge-on-read')""".stripMargin)
      insertRange(cat, "t", 0, 10)
      spark.sql(s"CALL $cat.system.branch('t', 'b', -1)")
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id = 5")          // main
      spark.sql(s"DELETE FROM $cat.t.branch_b WHERE doc_id = 7") // branch
      val e = intercept[Exception] {
        spark.sql(s"CALL $cat.system.merge_branch('t', 'b')")
      }
      assert(e.getMessage.contains("overlapping-scope"), e.getMessage)
      // state intact: branch still exists, main unchanged
      assert(GraftVersions.listBranches(wh.resolve("t")) == Seq("b"))
      assert(spark.table(s"$cat.t").count() == 9)

      // compacted main: file diffing can't attribute the rewrite
      spark.sql(s"CALL $cat.system.drop_branch('t', 'b')")
      spark.sql(s"CALL $cat.system.branch('t', 'c', -1)")
      insertRange(cat, "t", 10, 12)
      spark.sql(s"CALL $cat.system.optimize('t', 1, '')")
      spark.sql(s"DELETE FROM $cat.t.branch_c WHERE doc_id = 2")
      val e2 = intercept[Exception] {
        spark.sql(s"CALL $cat.system.merge_branch('t', 'c')")
      }
      assert(e2.getMessage.contains("compacted"), e2.getMessage)

      // row-tracked tables reject up front
      spark.sql(
        s"""CREATE TABLE $cat.rt (
           |  doc_id BIGINT NOT NULL, title STRING NOT NULL,
           |  fp BIGINT NOT NULL, n_words INT NOT NULL)
           |TBLPROPERTIES ('versioned' = 'true',
           |  'row.tracking' = 'true')""".stripMargin)
      insertRange(cat, "rt", 0, 4)
      spark.sql(s"CALL $cat.system.branch('rt', 'b', -1)")
      insertRange(cat, "rt", 4, 6)
      val e3 = intercept[Exception] {
        spark.sql(s"CALL $cat.system.merge_branch('rt', 'b')")
      }
      assert(e3.getMessage.contains("row-tracked") ||
        e3.getMessage.contains("alias row"), e3.getMessage)
    }
  }

  // -------------------------------------------------------------------
  // q269 machinery: ANALYZE backfill + static _file pruning
  // -------------------------------------------------------------------

  test("analyze backfills pre-stats entries (enable over existing " +
      "files): stats, rows, bytes land; skipping works; idempotent") {
    val root = Files.createTempDirectory("graft_r16_anpre")
    try {
      // a raw pre-versioning file: enable() imports it stats-less
      Files.write(root.resolve("part-00000.tsv"),
        (0 until 10).map(i =>
          s"$i\tdoc-$i\t${i * 7}\t${i % 91 + 9}").mkString("", "\n", "\n")
          .getBytes("UTF-8"))
      GraftVersions.enable(root)
      val pre = GraftVersions.latest(root).get.entries.head
      assert(pre.stats.isEmpty && pre.rows.isEmpty)
      val r = graft.sources.GraftAnalyze.analyze(spark, root)
      assert(r.analyzedFiles == 1 && r.newVersion.isDefined)
      val post = GraftVersions.latest(root).get.entries.head
      assert(post.rows.contains(10L) && post.bytes.isDefined)
      assert(post.stats("doc_id") == (0L, 9L))
      assert(post.stats("n_words") == (9L, 18L))
      // stats now prune: a disjoint range plans zero partitions
      val df = spark.read.format("graft.sources.GraftDocsSource")
        .option("path", root.toString).load()
        .filter(col("doc_id") > 1000)
      assert(df.count() == 0)
      // idempotent: nothing left to analyze
      val r2 = graft.sources.GraftAnalyze.analyze(spark, root)
      assert(r2.analyzedFiles == 0 && r2.newVersion.isEmpty)
    } finally
      org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }

  test("static _file IN (...) predicates prune at plan time — the " +
      "scoped maintenance pass never opens the rest of the table") {
    OpsUtil.withScratchCatalog(spark, "r16_fstatic") { (cat, wh) =>
      spark.sql(
        s"""CREATE TABLE $cat.t (
           |  doc_id BIGINT NOT NULL, title STRING NOT NULL,
           |  fp BIGINT NOT NULL, n_words INT NOT NULL)
           |TBLPROPERTIES ('versioned' = 'true')""".stripMargin)
      (0 until 4).foreach(b => insertRange(cat, "t", 4 * b, 4 * b + 4))
      val names = GraftVersions.latest(wh.resolve("t")).get
        .entries.map(_.name)
      assert(names.size == 4)
      val one = spark.read.format("graft.sources.GraftDocsSource")
        .option("path", wh.resolve("t").toString).load()
        .select(col("doc_id"), col("_file"))
        .filter(col("_file").isin(names.head))
      assert(scanPartitions(one) == 1, "whitelist must prune to 1 file")
      assert(one.count() == 4)
    }
  }

  // -------------------------------------------------------------------
  // q270 machinery: retention.versions auto-expire
  // -------------------------------------------------------------------

  test("retention.versions expires old snapshots on commit, but a tag " +
      "pins its version through the policy") {
    OpsUtil.withScratchCatalog(spark, "r16_reten") { (cat, wh) =>
      spark.sql(
        s"""CREATE TABLE $cat.t (
           |  doc_id BIGINT NOT NULL, title STRING NOT NULL,
           |  fp BIGINT NOT NULL, n_words INT NOT NULL)
           |TBLPROPERTIES ('versioned' = 'true',
           |  'retention.versions' = '2')""".stripMargin)
      insertRange(cat, "t", 0, 2)  // v1
      spark.sql(s"CALL $cat.system.tag('t', 'keepme', 1)")
      insertRange(cat, "t", 2, 4)  // v2 → expire to {1, 2}; v1 tagged
      insertRange(cat, "t", 4, 6)  // v3 → {1 pinned, 2, 3}
      insertRange(cat, "t", 6, 8)  // v4 → {1 pinned, 3, 4}
      val kept = GraftVersions.listVersionNumbers(wh.resolve("t"))
      assert(kept.contains(1L), s"tagged v1 must survive: $kept")
      assert(kept.takeRight(2) == Seq(3L, 4L), kept.toString)
      // expired versions are gone for time travel
      intercept[Exception] {
        spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 2").collect()
      }
      // the tagged snapshot still reads
      assert(spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 1")
        .count() == 2)
      assert(spark.table(s"$cat.t").count() == 8)
    }
  }

  // -------------------------------------------------------------------
  // q271 machinery: DPP on the value layout
  // -------------------------------------------------------------------

  private def scanPartitions(df: org.apache.spark.sql.DataFrame,
      marker: String = "GraftDocsFiles"): Int = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    df.collect() // force execution so runtime filters have fired
    def find(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[BatchScanExec] = p match {
      case a: AdaptiveSparkPlanExec => find(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        find(q.plan) // AQE stages are leaf-like: recurse into the stage
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        find(r.child)
      case b: BatchScanExec => Seq(b)
      case other => other.children.flatMap(find)
    }
    val scans = find(df.queryExecution.executedPlan)
    // pick the FILE-BACKED warehouse scan (a join may also carry the
    // generative docs scan as its dim side)
    scans.find(_.scan.description().contains(marker))
      .orElse(scans.headOption)
      // partitions() reflects RUNTIME filters too (inputPartitions is
      // the pre-DPP plan-time list)
      .map(_.partitions.flatten.size)
      .getOrElse(fail("no BatchScanExec in plan"))
  }

  test("dynamic partition pruning on the value layout: a broadcast dim " +
      "join plans only the matching partitions' files") {
    OpsUtil.withScratchCatalog(spark, "r16_vdpp") { (cat, wh) =>
      spark.sql(
        s"""CREATE TABLE $cat.t (
           |  doc_id BIGINT NOT NULL, title STRING NOT NULL,
           |  fp BIGINT NOT NULL, n_words INT NOT NULL,
           |  wb BIGINT GENERATED ALWAYS AS
           |    (CAST(n_words AS BIGINT) % 6))
           |PARTITIONED BY (wb)
           |TBLPROPERTIES ('versioned' = 'true')""".stripMargin)
      insertRange(cat, "t", 0, 48)
      insertRange(cat, "t", 48, 96)
      val total = GraftVersions.latest(wh.resolve("t")).get.entries.size
      assert(total == 12, s"6 values x 2 inserts: $total")
      // FILE-BACKED dim (manifest stats → the broadcast build side;
      // DPP only reuses a broadcast) with a SURVIVING selective filter
      spark.sql(
        s"""CREATE TABLE $cat.d (
           |  doc_id BIGINT NOT NULL, title STRING NOT NULL,
           |  fp BIGINT NOT NULL, n_words INT NOT NULL)
           |TBLPROPERTIES ('versioned' = 'true')""".stripMargin)
      insertRange(cat, "d", 0, 8)
      val joined = spark.sql(
        s"""SELECT f.wb, COUNT(*) AS n
           |FROM $cat.t f JOIN $cat.d d ON f.wb = d.doc_id
           |WHERE d.doc_id IN (1, 3)
           |GROUP BY f.wb""".stripMargin)
      val byWb = joined.collect().map(r => r.getLong(0) -> r.getLong(1))
        .toMap
      val expect = (0 until 96).map(i => ((i % 91 + 9) % 6).toLong)
        .filter(w => w == 1L || w == 3L)
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      assert(byWb == expect, s"$byWb vs $expect")
      // the DPP proof is the EXECUTED fact scan's row metric: only the
      // matching partitions' files were opened, so the scan emitted
      // exactly their rows (96 without pruning). The walked plan node
      // re-plans without the runtime filter's state, so partition
      // counts on it are the unpruned view — metrics are the truth.
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
      def scansOf(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[BatchScanExec] = p match {
        case a: AdaptiveSparkPlanExec => scansOf(a.executedPlan)
        case q: QueryStageExec => scansOf(q.plan)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
          scansOf(r.child)
        case b: BatchScanExec => Seq(b)
        case other => other.children.flatMap(scansOf)
      }
      val fact = scansOf(joined.queryExecution.executedPlan)
        .find(_.scan.description().contains(s"path=${wh.resolve("t")} "))
        .getOrElse(fail("no fact BatchScanExec"))
      assert(fact.runtimeFilters.nonEmpty,
        "DPP must attach a runtime filter to the fact scan")
      val emitted = fact.metrics("numOutputRows").value
      assert(emitted == expect.values.sum,
        s"DPP must read only wb in {1,3}'s files: emitted $emitted of 96")
    }
  }

  test("streaming sinks run the self-maintenance policies per epoch, " +
      "and retention never expires an appId's last txn record") {
    val cp = Files.createTempDirectory("graft_r16_strmnt_cp")
    try OpsUtil.withScratchCatalog(spark, "r16_strmnt") { (cat, wh) =>
      spark.sql(
        s"""CREATE TABLE $cat.src (doc_id BIGINT, title STRING,
           |  fp BIGINT, n_words INT)
           |TBLPROPERTIES ('versioned' = 'true')""".stripMargin)
      (0 until 6).foreach(b => insertRange(cat, "src", 4 * b, 4 * b + 4))
      spark.sql(
        s"""CREATE TABLE $cat.sink (doc_id BIGINT, title STRING,
           |  fp BIGINT, n_words INT)
           |TBLPROPERTIES ('versioned' = 'true',
           |  'compact.threshold' = '3', 'retention.versions' = '2')"""
          .stripMargin)
      def drain(): Unit = {
        val q = spark.readStream.table(s"$cat.src")
          .writeStream.option("checkpointLocation", cp.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .toTable(s"$cat.sink")
        assert(q.awaitTermination(120000), "drain did not terminate")
      }
      drain()
      val dir = wh.resolve("sink")
      assert(spark.table(s"$cat.sink").count() == 24)
      val live = GraftVersions.latest(dir).get.entries
      assert(live.size <= 3,
        s"compact.threshold must bound the micro-batch files: $live")
      // retention kept a bounded log, but the txn pin survived it
      val retained = GraftVersions.listVersionNumbers(dir)
      assert(retained.size <= 4, // keepLast 2 + txn pin (+1 slack)
        s"retention must bound the log: $retained")
      // a checkpoint replay after history expired lands NOTHING twice
      drain()
      assert(spark.table(s"$cat.sink").count() == 24,
        "replayed epochs must stay idempotent across retention")
      // new source data still streams through
      insertRange(cat, "src", 24, 28)
      drain()
      assert(spark.table(s"$cat.sink").count() == 28)
      assert(GraftVersions.latest(dir).get.entries.size <= 3)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(cp.toFile)
  }

  test("merge_branch on an unmoved main degrades to fast_forward") {
    OpsUtil.withScratchCatalog(spark, "r16_mbff") { (cat, wh) =>
      spark.sql(
        s"""CREATE TABLE $cat.t (
           |  doc_id BIGINT NOT NULL, title STRING NOT NULL,
           |  fp BIGINT NOT NULL, n_words INT NOT NULL)
           |TBLPROPERTIES ('versioned' = 'true')""".stripMargin)
      insertRange(cat, "t", 0, 4)
      spark.sql(s"CALL $cat.system.branch('t', 'b', -1)")
      spark.sql(s"INSERT INTO $cat.t.branch_b VALUES (100, 'x', 1, 2)")
      spark.sql(s"CALL $cat.system.merge_branch('t', 'b')")
      assert(spark.table(s"$cat.t").count() == 5)
      val ops = GraftVersions.listVersions(wh.resolve("t")).map(_.op)
      assert(ops.contains("fast-forward"), ops.mkString(", "))
      assert(GraftVersions.listBranches(wh.resolve("t")).isEmpty)
    }
  }

  // -------------------------------------------------------------------
  // q275: min/max column statistics → filter estimation
  // -------------------------------------------------------------------

  test("min/max column statistics shrink a range filter's estimate: " +
      "the filtered side proves itself broadcast-small under CBO") {
    val oldCbo = spark.conf.get("spark.sql.cbo.enabled", "false")
    val oldThresh =
      spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try OpsUtil.withScratchCatalog(spark, "r16_mmcbo") { (cat, wh) =>
      spark.sql(
        s"""CREATE TABLE $cat.t (
           |  doc_id BIGINT NOT NULL, title STRING NOT NULL,
           |  fp BIGINT NOT NULL, n_words INT NOT NULL)
           |TBLPROPERTIES ('versioned' = 'true',
           |  'ndv.columns' = 'doc_id,fp,n_words')""".stripMargin)
      insertRange(cat, "t", 0, 600)
      val path = wh.resolve("t").toString
      def table() = spark.read.format("graft.sources.GraftDocsSource")
        .option("path", path).load()
      spark.conf.set("spark.sql.cbo.enabled", "true")
      // the optimizer carries the manifest's fold: doc_id ∈ [0, 599]
      val stats = table().select("doc_id", "n_words")
        .queryExecution.optimizedPlan.stats
      val mm = stats.attributeStats.toSeq.map { case (attr, cs) =>
        attr.name -> (cs.min.map(_.toString.toLong),
          cs.max.map(_.toString.toLong))
      }.toMap
      assert(mm.get("doc_id").contains((Some(0L), Some(599L))), mm.toString)
      assert(mm.get("n_words").contains((Some(9L), Some(99L))), mm.toString)

      // a threshold between the 40-row filtered estimate and the
      // 600-row base relation: only range interpolation over [min,max]
      // can prove the filtered side broadcastable
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "4096")
      val filtered = table().filter(col("doc_id") < 40)
        .select(col("doc_id"),
          col("n_words").as("nw_small"))
      val joined = table().join(filtered, Seq("doc_id"))
      val plan = joined.queryExecution.sparkPlan
      val hasBroadcast = plan.collect {
        case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
          b
      }.nonEmpty
      assert(hasBroadcast,
        s"range-estimated 40-row filter must broadcast:\n$plan")
    } finally {
      spark.conf.set("spark.sql.cbo.enabled", oldCbo)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", oldThresh)
    }
  }

  test("min/max bounds are all-or-nothing per column: a pre-stats live " +
      "file withholds the bound instead of narrowing it wrongly") {
    OpsUtil.withScratchCatalog(spark, "r16_mmpre") { (cat, wh) =>
      mvFixture(cat)
      insertRange(cat, "t", 0, 40)
      val root = wh.resolve("t")
      // forge a pre-stats manifest line: strip one entry's stats map
      val snap = GraftVersions.latest(root).get
      val stripped = snap.entries.map(_.copy(stats = Map.empty))
      GraftVersions.advance(root, "forge-prestats",
        removed = Some(snap.entries.map(_.name).toSet), added = stripped,
        dataChange = false)
      val stats = spark.read.format("graft.sources.GraftDocsSource")
        .option("path", root.toString).load().select("doc_id")
        .queryExecution.optimizedPlan.collectFirst {
          case s: org.apache.spark.sql.execution.datasources.v2
              .DataSourceV2ScanRelation => s.stats
        }.get
      val mins = stats.attributeStats.toSeq
        .map { case (a, cs) => a.name -> cs.min }.toMap
      assert(!mins.get("doc_id").exists(_.isDefined),
        s"stripped stats must withhold the bound: $mins")
    }
  }

  // -------------------------------------------------------------------
  // q278: write distribution (RequiresDistributionAndOrdering)
  // -------------------------------------------------------------------

  test("write.distribution=hash bounds a multi-partition insert to one " +
      "file per bucket; without it the same insert fans per task") {
    OpsUtil.withScratchCatalog(spark, "r16_wdist") { (cat, wh) =>
      Seq(("demand", ", 'write.distribution' = 'hash'"), ("fan", ""))
        .foreach { case (t, prop) =>
          spark.sql(
            s"""CREATE TABLE $cat.$t (
               |  doc_id BIGINT NOT NULL, title STRING NOT NULL,
               |  fp BIGINT NOT NULL, n_words INT NOT NULL)
               |PARTITIONED BY (bucket(4, doc_id))
               |TBLPROPERTIES ('versioned' = 'true'$prop)""".stripMargin)
          spark.read.format("graft.sources.GraftDocsSource")
            .option("rows", "64").option("partitions", "8").load()
            .createOrReplaceTempView(s"${cat}_src")
          spark.sql(s"INSERT INTO $cat.$t SELECT * FROM ${cat}_src")
          spark.catalog.dropTempView(s"${cat}_src")
        }
      val demanded = spark.sql(
        s"SELECT COUNT(*) FROM $cat.demand.files").head().getLong(0)
      val fanned = spark.sql(
        s"SELECT COUNT(*) FROM $cat.fan.files").head().getLong(0)
      assert(demanded == 4L, s"demanded layout must be 1 file/bucket: $demanded")
      assert(fanned > 4L,
        s"control table should fan per (task, bucket): $fanned")
      // rows identical either way
      val a = spark.table(s"$cat.demand").orderBy("doc_id").collect().toSeq
      val b = spark.table(s"$cat.fan").orderBy("doc_id").collect().toSeq
      assert(a == b)
      // the demanded layout still storage-partition-joins exchange-free
      // (sweep through the AQE wrapper — a plain collect is vacuous)
      def shuffles(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] = {
        import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
        p.collect {
          case a: AdaptiveSparkPlanExec => shuffles(a.executedPlan)
          case q: QueryStageExec => shuffles(q.plan)
          case e: org.apache.spark.sql.execution.exchange
              .ShuffleExchangeExec => Seq(e)
        }.flatten
      }
      val joined = spark.table(s"$cat.demand").as("l")
        .join(spark.table(s"$cat.fan").as("r"), "doc_id")
      assert(shuffles(joined.queryExecution.executedPlan).isEmpty,
        s"bucketed join must stay exchange-free:\n${joined.queryExecution}")
      // per-file envelopes are bucket-tight AND sorted input landed:
      // every demanded file's (min,max) doc_id range holds only ids of
      // its own bucket class
      val root = wh.resolve("demand")
      GraftVersions.latest(root).get.entries.foreach { e =>
        val (lo, hi) = e.stats("doc_id")
        assert(lo % 4 == hi % 4 || (hi - lo) >= 4,
          s"${e.name}: [$lo,$hi]")
        assert(e.bucket.isDefined, s"${e.name} must carry its bucket id")
      }
    }
  }

  // -------------------------------------------------------------------
  // q279: manifest-proven sort order (SupportsReportOrdering)
  // -------------------------------------------------------------------

  test("sorted-scan ordering is manifest-PROVEN: withheld for unsorted " +
      "writes, multi-file bucket classes, and post-concat files") {
    OpsUtil.withScratchCatalog(spark, "r16_sorder") { (cat, wh) =>
      def ordering(t: String): Int = {
        val df = spark.read.format("graft.sources.GraftDocsSource")
          .option("path", wh.resolve(t).toString).load()
        df.queryExecution.optimizedPlan.collectFirst {
          case s: org.apache.spark.sql.execution.datasources.v2
              .DataSourceV2ScanRelation =>
            s.ordering.map(_.size).getOrElse(0)
        }.getOrElse(-1)
      }
      // demanded write: one sorted file per bucket → order reported
      spark.sql(
        s"""CREATE TABLE $cat.good (
           |  doc_id BIGINT NOT NULL, title STRING NOT NULL,
           |  fp BIGINT NOT NULL, n_words INT NOT NULL)
           |PARTITIONED BY (bucket(4, doc_id))
           |TBLPROPERTIES ('versioned' = 'true',
           |  'write.distribution' = 'hash')""".stripMargin)
      insertRange(cat, "good", 0, 32)
      assert(ordering("good") == 1, "demanded layout must report order")
      // second insert → two sorted files per class → withheld
      insertRange(cat, "good", 32, 64)
      assert(ordering("good") == 0,
        "two files per bucket class cannot claim a concatenated order: " +
          GraftVersions.latest(wh.resolve("good")).get.entries
            .map(e => s"${e.name} b=${e.bucket} sorted=${e.sorted}")
            .mkString(", "))
      // OPTIMIZE's DSv2 rewrite RE-OBSERVES: it read each bucket's two
      // non-overlapping sorted runs in order, so the 4 rewritten files
      // are genuinely sorted and the claim honestly RETURNS
      spark.sql(s"CALL $cat.system.optimize('good', 4, '')")
      val entriesAfter = GraftVersions.latest(wh.resolve("good")).get.entries
      assert(ordering("good") ==
        (if (entriesAfter.forall(_.sorted) &&
            entriesAfter.groupBy(_.bucket).forall(_._2.size == 1)) 1
         else 0),
        "reported order must exactly match the manifest facts")
      // byte-streaming CONCAT (row-tracked tables): PROVABLY ordered
      // bins (all members sorted, non-interleaving doc_id envelopes)
      // concatenate in range order and KEEP the flag — the sort-free
      // join property survives auto-compaction; interleaving ranges
      // withhold it
      spark.sql(
        s"""CREATE TABLE $cat.tracked (
           |  doc_id BIGINT NOT NULL, title STRING NOT NULL,
           |  fp BIGINT NOT NULL, n_words INT NOT NULL)
           |PARTITIONED BY (bucket(4, doc_id))
           |TBLPROPERTIES ('versioned' = 'true', 'row.tracking' = 'true',
           |  'write.distribution' = 'hash')""".stripMargin)
      insertRange(cat, "tracked", 0, 32)
      insertRange(cat, "tracked", 32, 64)                // disjoint runs
      spark.sql(s"CALL $cat.system.optimize('tracked', 4, '')")
      val tracked = GraftVersions.latest(wh.resolve("tracked")).get.entries
      assert(tracked.forall(_.sorted),
        "range-ordered concat of sorted members must keep the flag")
      assert(ordering("tracked") == 1,
        "the sort-free join property must survive compaction")
      // interleaving runs: split [64,128) into mod-8 halves — within
      // EVERY bucket class the two files' doc_id envelopes overlap
      // (stride-8 combs offset by 4), so the next concat cannot order
      // them and the claim drops
      Seq(true, false).foreach { firstHalf =>
        spark.read.format("graft.sources.GraftDocsSource")
          .option("rows", "128").load()
          .filter(col("doc_id") >= 64 &&
            (if (firstHalf) col("doc_id") % 8 < 4
             else col("doc_id") % 8 >= 4))
          .repartition(1).sortWithinPartitions("doc_id")
          .createOrReplaceTempView(s"${cat}_par")
        spark.sql(s"INSERT INTO $cat.tracked SELECT * FROM ${cat}_par")
        spark.catalog.dropTempView(s"${cat}_par")
      }
      spark.sql(s"CALL $cat.system.optimize('tracked', 4, '')")
      assert(ordering("tracked") == 0,
        "interleaving member envelopes must withhold the order claim")
      // plain unbucketed table, deliberately unsorted input → withheld;
      // then a sorted rewrite via OPTIMIZE... stays withheld (observed
      // facts only ride DSv2 writes, concat streams bytes)
      spark.sql(
        s"""CREATE TABLE $cat.plain (
           |  doc_id BIGINT NOT NULL, title STRING NOT NULL,
           |  fp BIGINT NOT NULL, n_words INT NOT NULL)
           |TBLPROPERTIES ('versioned' = 'true')""".stripMargin)
      spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "64").option("partitions", "1").load()
        .orderBy(col("doc_id").desc)
        .coalesce(1).createOrReplaceTempView(s"${cat}_desc")
      spark.sql(s"INSERT INTO $cat.plain SELECT * FROM ${cat}_desc")
      spark.catalog.dropTempView(s"${cat}_desc")
      assert(ordering("plain") == 0,
        "descending input must be observed as unsorted")
      // per-file flags in the manifest match the observation
      val plain = GraftVersions.latest(wh.resolve("plain")).get.entries
      assert(plain.forall(!_.sorted))
    }
  }

  // -------------------------------------------------------------------
  // q281: scoped OPTIMIZE (partition-granular compaction)
  // -------------------------------------------------------------------

  test("optimize_where rewrites exactly the scoped partition's files — " +
      "untouched files keep their names; row-tracked tables reject") {
    OpsUtil.withScratchCatalog(spark, "r16_scopt") { (cat, wh) =>
      spark.sql(
        s"""CREATE TABLE $cat.t (
           |  doc_id BIGINT NOT NULL, title STRING NOT NULL,
           |  fp BIGINT NOT NULL, n_words INT NOT NULL,
           |  wb BIGINT GENERATED ALWAYS AS
           |    (CAST(n_words AS BIGINT) % 6))
           |PARTITIONED BY (wb)
           |TBLPROPERTIES ('versioned' = 'true')""".stripMargin)
      insertRange(cat, "t", 0, 48)
      insertRange(cat, "t", 48, 96)
      val root = wh.resolve("t")
      def byValue(v: Long): Set[String] =
        GraftVersions.latest(root).get.entries
          .filter(_.stats.get("wb").contains((v, v))).map(_.name).toSet
      val othersBefore = (0L until 6L).filter(_ != 3L)
        .map(v => v -> byValue(v)).toMap
      val threeBefore = byValue(3L)
      assert(threeBefore.size == 2)
      spark.sql(s"CALL $cat.system.optimize_where('t', 'wb', 3, 1)")
      // untouched values keep the SAME file names; value 3 was swapped
      (0L until 6L).filter(_ != 3L).foreach { v =>
        assert(byValue(v) == othersBefore(v), s"value $v files changed")
      }
      assert(byValue(3L).size == 1 &&
        byValue(3L).intersect(threeBefore).isEmpty)
      // rows identical, and the rewritten file still prunes by value
      assert(spark.table(s"$cat.t").count() == 96)
      assert(spark.table(s"$cat.t").filter(col("wb") === 3)
        .count() == spark.range(0, 96)
          .filter((col("id") % 91 + 9) % 6 === 3).count())
      // a second scoped pass is a no-op (already at target)
      val v1 = GraftVersions.latest(root).get.version
      spark.sql(s"CALL $cat.system.optimize_where('t', 'wb', 3, 1)")
      assert(GraftVersions.latest(root).get.version == v1,
        "an already-compacted scope must not commit")
      // row-tracked tables reject loudly (a scoped rewrite would
      // reassign the scoped rows' ids)
      spark.sql(
        s"""CREATE TABLE $cat.rt (
           |  doc_id BIGINT NOT NULL, title STRING NOT NULL,
           |  fp BIGINT NOT NULL, n_words INT NOT NULL)
           |TBLPROPERTIES ('versioned' = 'true',
           |  'row.tracking' = 'true')""".stripMargin)
      insertRange(cat, "rt", 0, 8)
      val e = intercept[Exception] {
        spark.sql(s"CALL $cat.system.optimize_where('rt', 'doc_id', 1, 1)")
      }
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x =>
          Option(x.getMessage).toSeq ++ msgs(x.getCause))
      assert(msgs(e).exists(_.contains("row-tracked")), msgs(e).mkString("|"))
    }
  }

  // -------------------------------------------------------------------
  // q273: incrementally-maintained materialized views
  // -------------------------------------------------------------------

  private def mvFixture(cat: String): Unit = {
    spark.sql(
      s"""CREATE TABLE $cat.t (
         |  doc_id BIGINT NOT NULL, title STRING NOT NULL,
         |  fp BIGINT NOT NULL, n_words INT NOT NULL)
         |TBLPROPERTIES ('versioned' = 'true',
         |  'delete.mode' = 'merge-on-read',
         |  'update.mode' = 'merge-on-read')""".stripMargin)
  }

  private def mvRows(cat: String, view: String): Set[(Long, Long, Long)] =
    spark.table(s"$cat.$view")
      .select("doc_id", "fp", "n_words").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong)).toSet

  private def fullRecompute(cat: String): Set[(Long, Long, Long)] =
    spark.sql(
      s"""SELECT doc_id % 5 AS k, CAST(SUM(n_words) AS BIGINT) s,
         |  COUNT(*) c FROM $cat.t GROUP BY doc_id % 5""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("mv: refresh equals a full recompute and is exactly-once — " +
      "a second refresh finds its watermark ledgered and lands nothing") {
    OpsUtil.withScratchCatalog(spark, "r16_mv1") { (cat, wh) =>
      mvFixture(cat)
      insertRange(cat, "t", 0, 12)
      spark.sql(s"CALL $cat.system.create_mv(" +
        "'v', 't', 'doc_id % 5', 'n_words', false)")
      assert(mvRows(cat, "v") == fullRecompute(cat))
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id IN (2, 7)")
      spark.sql(s"UPDATE $cat.t SET n_words = n_words + 50 WHERE doc_id = 3")
      insertRange(cat, "t", 12, 20)
      val r1 = spark.sql(s"CALL $cat.system.refresh_mv('v')").head()
      assert(r1.getBoolean(4), "first refresh must apply")
      assert(mvRows(cat, "v") == fullRecompute(cat))
      val v1 = GraftVersions.latest(wh.resolve("v")).get.version
      val r2 = spark.sql(s"CALL $cat.system.refresh_mv('v')").head()
      assert(!r2.getBoolean(4) && r2.getLong(1) == 0L,
        "watermark no-op must land nothing")
      assert(GraftVersions.latest(wh.resolve("v")).get.version == v1)
      // the idempotence primitive itself: a replayed epoch refuses
      assert(GraftVersions.commitTxn(wh.resolve("v"), "mv-refresh",
        None, Nil, graft.sources.GraftMv.AppId,
        GraftVersions.lastTxnEpoch(wh.resolve("v"),
          graft.sources.GraftMv.AppId).get).isEmpty)
    }
  }

  test("mv: a group whose live count reaches zero is deleted from the " +
      "view, never tombstoned") {
    OpsUtil.withScratchCatalog(spark, "r16_mv2") { (cat, wh) =>
      mvFixture(cat)
      insertRange(cat, "t", 0, 10)
      spark.sql(s"CALL $cat.system.create_mv(" +
        "'v', 't', 'doc_id % 5', 'n_words', false)")
      // kill group 2 entirely (doc_ids 2 and 7)
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id % 5 = 2")
      spark.sql(s"CALL $cat.system.refresh_mv('v')")
      val keys = mvRows(cat, "v").map(_._1)
      assert(keys == Set(0L, 1L, 3L, 4L), keys.toString)
      assert(mvRows(cat, "v") == fullRecompute(cat))
    }
  }

  test("mv: create rejects aggregates in the expression slots, " +
      "nondeterminism, and unresolvable columns — each loudly") {
    OpsUtil.withScratchCatalog(spark, "r16_mv3") { (cat, wh) =>
      mvFixture(cat)
      insertRange(cat, "t", 0, 4)
      val agg = intercept[Exception] {
        spark.sql(s"CALL $cat.system.create_mv(" +
          "'v1', 't', 'doc_id % 5', 'min(n_words)', false)")
      }
      assert(agg.getMessage.contains("mv expressions are per-row"),
        agg.getMessage)
      val rand = intercept[Exception] {
        spark.sql(s"CALL $cat.system.create_mv(" +
          "'v2', 't', 'doc_id % 5', 'n_words * rand()', false)")
      }
      assert(rand.getMessage.contains("deterministic"), rand.getMessage)
      val unres = intercept[Exception] {
        spark.sql(s"CALL $cat.system.create_mv(" +
          "'v3', 't', 'no_such_col', 'n_words', false)")
      }
      assert(unres.getMessage.contains("resolve against the base"),
        unres.getMessage)
    }
  }

  test("mv: auto=true keeps the view fresh on every source data " +
      "commit — the committing writer pays the inline refresh") {
    OpsUtil.withScratchCatalog(spark, "r16_mv4") { (cat, wh) =>
      mvFixture(cat)
      insertRange(cat, "t", 0, 8)
      spark.sql(s"CALL $cat.system.create_mv(" +
        "'v', 't', 'doc_id % 5', 'n_words', true)")
      insertRange(cat, "t", 8, 16)                    // append refreshes
      assert(mvRows(cat, "v") == fullRecompute(cat),
        "append must have refreshed the view inline")
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id < 3") // MOR delete too
      assert(mvRows(cat, "v") == fullRecompute(cat),
        "delete must have refreshed the view inline")
    }
  }

  test("mv: the watermark survives MV vacuum (txn pinning); a source " +
      "vacuumed past the watermark fails the refresh loudly") {
    OpsUtil.withScratchCatalog(spark, "r16_mv5") { (cat, wh) =>
      mvFixture(cat)
      insertRange(cat, "t", 0, 8)
      spark.sql(s"CALL $cat.system.create_mv(" +
        "'v', 't', 'doc_id % 5', 'n_words', false)")
      insertRange(cat, "t", 8, 12)
      spark.sql(s"CALL $cat.system.refresh_mv('v')")
      spark.sql(s"CALL $cat.system.vacuum('v', 1)")
      // ledger intact after vacuum: refresh still knows it's fresh
      val noop = spark.sql(s"CALL $cat.system.refresh_mv('v')").head()
      assert(!noop.getBoolean(4) && noop.getLong(1) == 0L)
      // expire the source's history past the NEXT refresh's range:
      // new commits, then vacuum down to the latest snapshot only
      insertRange(cat, "t", 12, 16)
      insertRange(cat, "t", 16, 20)
      spark.sql(s"CALL $cat.system.vacuum('t', 1)")
      val gone = intercept[Exception] {
        spark.sql(s"CALL $cat.system.refresh_mv('v')")
      }
      assert(gone.getMessage != null, "expired feed must fail loudly")
    }
  }

  private def mvRewriteFacts(df: org.apache.spark.sql.DataFrame,
      mvPath: String): (Boolean, Boolean) = {
    val plan = df.queryExecution.optimizedPlan
    val scansMv = plan.collect {
      case s: org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2ScanRelation
          if s.scan.description.contains(mvPath) => s
    }.nonEmpty
    val aggregates = plan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.nonEmpty
    (scansMv, aggregates)
  }

  test("mv rewrite: answers the declared aggregate from the view only " +
      "while FRESH; a stale ledger or a refresh restores/blocks it") {
    OpsUtil.withScratchCatalog(spark, "r16_mvrw1") { (cat, wh) =>
      mvFixture(cat)
      insertRange(cat, "t", 0, 12)
      // manual (auto=false) view: later source commits leave it stale
      spark.sql(s"CALL $cat.system.create_mv(" +
        "'v', 't', 'doc_id % 5', 'n_words', false)")
      insertRange(cat, "t", 12, 20) // source moves; view stays at v1
      // register for rewrite discovery WITHOUT refreshing
      val root = wh.resolve("t")
      GraftTableMeta.write(root,
        GraftTableMeta.read(root) + ("mv.dependents" -> "v"))
      org.apache.spark.sql.GraftBridge.addOptimization(spark,
        graft.plans.MvRewriteRule(spark))
      def run() = spark.sql(
        s"""SELECT doc_id % 5 AS k, SUM(n_words) AS s, COUNT(*) AS c
           |FROM $cat.t GROUP BY doc_id % 5""".stripMargin)
      val mvPath = wh.resolve("v").toString
      val (staleScans, staleAggs) = mvRewriteFacts(run(), mvPath)
      assert(!staleScans && staleAggs,
        "a STALE view must never answer the query")
      spark.sql(s"CALL $cat.system.refresh_mv('v')")
      val fresh = run()
      val (freshScans, freshAggs) = mvRewriteFacts(fresh, mvPath)
      assert(freshScans && !freshAggs,
        "a fresh view must answer without an Aggregate")
      // soundness: identical rows to the real aggregate
      spark.conf.set("spark.graft.mv.rewrite", "false")
      val real = run()
      assert(fresh.exceptAll(real).isEmpty && real.exceptAll(fresh).isEmpty)
      spark.conf.unset("spark.graft.mv.rewrite")
    }
  }

  test("mv rewrite: a pushed-down filter, a different aggregate, or a " +
      "time-travel read each disqualify the substitution") {
    OpsUtil.withScratchCatalog(spark, "r16_mvrw2") { (cat, wh) =>
      mvFixture(cat)
      insertRange(cat, "t", 0, 12)
      spark.sql(s"CALL $cat.system.create_mv(" +
        "'v', 't', 'doc_id % 5', 'n_words', true)")
      org.apache.spark.sql.GraftBridge.addOptimization(spark,
        graft.plans.MvRewriteRule(spark))
      val mvPath = wh.resolve("v").toString
      val filtered = spark.sql(
        s"""SELECT doc_id % 5 AS k, SUM(n_words) AS s, COUNT(*) AS c
           |FROM $cat.t WHERE doc_id < 6 GROUP BY doc_id % 5""".stripMargin)
      assert(!mvRewriteFacts(filtered, mvPath)._1,
        "a filtered aggregate must not be answered from the view")
      val minAgg = spark.sql(
        s"""SELECT doc_id % 5 AS k, MIN(n_words) AS m
           |FROM $cat.t GROUP BY doc_id % 5""".stripMargin)
      assert(!mvRewriteFacts(minAgg, mvPath)._1,
        "MIN is not view-maintained and must not rewrite")
      val distinctSum = spark.sql(
        s"""SELECT doc_id % 5 AS k, SUM(DISTINCT n_words) AS s
           |FROM $cat.t GROUP BY doc_id % 5""".stripMargin)
      assert(!mvRewriteFacts(distinctSum, mvPath)._1,
        "SUM(DISTINCT) must not rewrite")
      // a time-travel pin WITH a matching refresh watermark (v1 = the
      // seed) IS answered — from the view's own history, never its
      // live state (r17: historical substitution)
      val timeTravel = spark.sql(
        s"""SELECT doc_id % 5 AS k, SUM(n_words) AS s, COUNT(*) AS c
           |FROM $cat.t VERSION AS OF 1 GROUP BY doc_id % 5""".stripMargin)
      assert(mvRewriteFacts(timeTravel, mvPath)._1,
        "a pinned read whose version IS a ledgered watermark must be " +
          "answered from the view's history")
      // ... and stays CORRECT after the view's live state moves on
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id IN (2, 7)") // v2
      val expect = spark.sql(
        s"""SELECT i % 5 AS k, CAST(SUM(i % 91 + 9) AS BIGINT) AS s,
           |  COUNT(*) AS c
           |FROM range(0, 12) r(i) GROUP BY i % 5""".stripMargin)
      val pinnedAgain = spark.sql(
        s"""SELECT doc_id % 5 AS k, SUM(n_words) AS s, COUNT(*) AS c
           |FROM $cat.t VERSION AS OF 1 GROUP BY doc_id % 5""".stripMargin)
      assert(mvRewriteFacts(pinnedAgain, mvPath)._1)
      assert(pinnedAgain.exceptAll(expect).isEmpty &&
        expect.exceptAll(pinnedAgain).isEmpty,
        "the historical substitution must serve the v1 state, not live")
      // a pin with NO matching watermark (v0 = enable, before the
      // seed) still disqualifies — the corpus scan answers it
      val preSeed = spark.sql(
        s"""SELECT doc_id % 5 AS k, SUM(n_words) AS s, COUNT(*) AS c
           |FROM $cat.t VERSION AS OF 0 GROUP BY doc_id % 5""".stripMargin)
      assert(!mvRewriteFacts(preSeed, mvPath)._1,
        "a pin with no ledgered watermark must fall back to the scan")
      assert(preSeed.count() == 0L) // v0 is the empty enable snapshot
    }
  }

  test("mv: a cyclic mv.dependents chain is contained by the refresh " +
      "guard — bounded, surfaced, and never failing the source commit") {
    OpsUtil.withScratchCatalog(spark, "r16_mv6") { (cat, wh) =>
      mvFixture(cat)
      insertRange(cat, "t", 0, 4)
      // hand-craft a self-cycle: t registered as its own dependent MV
      // (removed=Some(empty) keeps every file — a pure ledger commit)
      val root = wh.resolve("t")
      GraftVersions.commitTxn(root, "seed-ledger", Some(Set.empty), Nil,
        graft.sources.GraftMv.AppId, 0L)
      GraftTableMeta.write(root, GraftTableMeta.read(root) ++ Map(
        "mv.name" -> "t", "mv.source" -> "t",
        "mv.key" -> "doc_id % 5", "mv.sum" -> "n_words",
        "mv.dependents" -> "t"))
      // r16 advisor contract: the hook runs AFTER the commit is
      // durable, so its failure must never surface as a write failure
      // (the caller would retry a LANDED insert). The cycle guard
      // still bounds the recursion (this call returning at all is the
      // proof), and the swallowed error is observable.
      val before = graft.sources.GraftMv.autoRefreshFailures.get()
      insertRange(cat, "t", 4, 8) // must NOT throw
      assert(graft.sources.GraftMv.autoRefreshFailures.get() > before,
        "the contained cycle must be surfaced, not silently dropped")
      val err = graft.sources.GraftMv.lastAutoRefreshError.get()
      assert(err != null && err.contains("cyclic"), String.valueOf(err))
    }
  }

  test("value-layout spec evolution: pre-evolution files degrade to a " +
      "full read under DPP; an OPTIMIZE rewrite migrates them and " +
      "restores exact pruning") {
    OpsUtil.withScratchCatalog(spark, "r16_vevo") { (cat, wh) =>
      spark.sql(
        s"""CREATE TABLE $cat.t (
           |  doc_id BIGINT NOT NULL, title STRING NOT NULL,
           |  fp BIGINT NOT NULL, n_words INT NOT NULL,
           |  wb BIGINT GENERATED ALWAYS AS
           |    (CAST(n_words AS BIGINT) % 6))
           |TBLPROPERTIES ('versioned' = 'true')""".stripMargin)
      insertRange(cat, "t", 0, 48)          // 1 mixed-value file
      spark.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES(" +
        "'layout.values'='wb')")            // metadata-only evolution
      insertRange(cat, "t", 48, 96)         // 6 min=max value files
      spark.sql(
        s"""CREATE TABLE $cat.d (
           |  doc_id BIGINT NOT NULL, title STRING NOT NULL,
           |  fp BIGINT NOT NULL, n_words INT NOT NULL)
           |TBLPROPERTIES ('versioned' = 'true')""".stripMargin)
      insertRange(cat, "d", 0, 8)
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
      def emittedByFactScan(): Long = {
        val joined = spark.sql(
          s"""SELECT f.wb, COUNT(*) AS n
             |FROM $cat.t f JOIN $cat.d d ON f.wb = d.doc_id
             |WHERE d.doc_id IN (1, 3) GROUP BY f.wb""".stripMargin)
        joined.collect()
        def scansOf(p: org.apache.spark.sql.execution.SparkPlan)
            : Seq[BatchScanExec] = p match {
          case a: AdaptiveSparkPlanExec => scansOf(a.executedPlan)
          case q: QueryStageExec => scansOf(q.plan)
          case r: org.apache.spark.sql.execution.exchange
              .ReusedExchangeExec => scansOf(r.child)
          case b: BatchScanExec => Seq(b)
          case other => other.children.flatMap(scansOf)
        }
        val fact = scansOf(joined.queryExecution.executedPlan)
          .find(_.scan.description()
            .contains(s"path=${wh.resolve("t")} "))
          .getOrElse(fail("no fact scan"))
        assert(fact.runtimeFilters.nonEmpty, "DPP filter must attach")
        fact.metrics("numOutputRows").value
      }
      val matching = (0 until 96)
        .count(i => Set(1, 3)((i % 91 + 9) % 6)).toLong
      val newGenMatching = (48 until 96)
        .count(i => Set(1, 3)((i % 91 + 9) % 6)).toLong
      // mixed snapshot: the old file reads in full, new files prune
      assert(emittedByFactScan() == 48L + newGenMatching)
      // migrate: the OPTIMIZE rewrite decodes rows through the writer,
      // which fans by the (now-declared) value layout — every landed
      // file is single-valued
      spark.sql(s"CALL $cat.system.optimize('t', 1, '')").collect()
      val entries = GraftVersions.latest(wh.resolve("t")).get.entries
      assert(entries.nonEmpty && entries.forall(
        _.stats.get("wb").exists { case (lo, hi) => lo == hi }),
        s"every migrated file must be single-valued: $entries")
      // fully-migrated snapshot: DPP is exact again
      assert(emittedByFactScan() == matching)
    }
  }

  test("mv: concurrent committers and manual refreshes never tear or " +
      "double-apply the view (watermark CAS + pinned state read)") {
    OpsUtil.withScratchCatalog(spark, "r16_mv7") { (cat, wh) =>
      mvFixture(cat)
      insertRange(cat, "t", 0, 8)
      spark.sql(s"CALL $cat.system.create_mv(" +
        "'v', 't', 'doc_id % 5', 'n_words', true)")
      // 4 committers × 3 single-row commits, each firing an inline
      // auto-refresh, racing 2 manual refresh loops. The pre-fix bug:
      // a refresh pairing watermark W with a LIVE state that a racer
      // had already advanced re-applies (W, S] — double-counted sums
      // that NO later refresh repairs (it only folds new deltas).
      val writerErrs =
        new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
      try {
        val tasks: Seq[Runnable] =
          (0 until 4).map { w =>
            new Runnable {
              override def run(): Unit =
                try (0 until 3).foreach { i =>
                  val id = 100 + w * 10 + i
                  spark.sql(s"INSERT INTO $cat.t VALUES " +
                    s"($id, 'd$id', $id, ${id % 7})")
                } catch { case t: Throwable => writerErrs.add(t) }
            }
          } ++ (0 until 2).map { _ =>
            new Runnable {
              override def run(): Unit =
                (0 until 3).foreach { _ =>
                  // a racer losing its CAS after retries is a legal
                  // outcome for the REFRESHER (the state stays clean);
                  // a WRITER failure never is
                  try spark.sql(s"CALL $cat.system.refresh_mv('v')")
                    .collect()
                  catch { case scala.util.control.NonFatal(_) => () }
                }
            }
          }
        tasks.map(pool.submit(_))
          .foreach(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
      } finally pool.shutdown()
      locally {
        import scala.jdk.CollectionConverters._
        assert(writerErrs.isEmpty,
          s"committers must never fail: ${writerErrs.asScala.toSeq}")
      }
      // catch-up refresh folds any tail the last racer left stale,
      // then the view must EXACTLY equal a full recompute: a torn or
      // double-applied historical state could never reconcile, since
      // refresh only folds deltas beyond the watermark
      spark.sql(s"CALL $cat.system.refresh_mv('v')").collect()
      assert(mvRows(cat, "v") == fullRecompute(cat))
      assert(GraftVersions.lastTxnEpoch(wh.resolve("v"),
        graft.sources.GraftMv.AppId).get ==
        GraftVersions.latest(wh.resolve("t")).get.version,
        "the watermark must end at the source head")
    }
  }

  test("mv audits q282 and q285 compare the view with a rule-off side " +
      "that scans the source table") {
    // each query fixes its rule-off plans before restoring the rewrite,
    // and requires that every rule-off frame scans the source table and
    // never the view; a frame first planned at collect time would be
    // rewritten, and the require would fail the query
    val q282 = ops.Round16.q282MvRollup(spark, sf).collect()
    assert(q282.nonEmpty)
    q282.foreach { r =>
      assert(r.getAs[Boolean]("rollup_scans_view") &&
        !r.getAs[Boolean]("rollup_scans_source"))
      assert(!r.getAs[Boolean]("fallback_scans_view") &&
        r.getAs[Boolean]("fallback_scans_source"))
    }
    val q285 = ops.Round16.q285MvTimeTravel(spark, sf).collect()
    assert(q285.nonEmpty)
    q285.foreach { r =>
      assert(r.getAs[Boolean]("pinned_scans_view") &&
        !r.getAs[Boolean]("pinned_scans_source"))
    }
  }
}
