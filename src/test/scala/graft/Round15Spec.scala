package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.col

import graft.ops.OpsUtil
import graft.sources.{GraftDV, GraftVersions}

/** Round-15 advisor fixes, each with the failure it closes:
  *
  *  - optimistic concurrency counts equality-delete mask growth as a
  *    conflicting touch (the fingerprint used to omit `eq`, so a COW
  *    rewrite planned before a concurrent `delete-equality` would land
  *    files without the value mask and resurrect the deleted rows);
  *  - the change feed fails LOUDLY on retention holes mid-range
  *    (tag-pinning vacuum retains non-contiguous versions; the old
  *    skip-and-re-snapshot both lost the expired commit's changes and
  *    re-emitted every carried row as an insert at the wrong version);
  *  - concat compaction honors targetFiles for eq-FREE files even when
  *    eq-masked neighbors force their own bins (they used to collapse
  *    into a single bin);
  *  - `_row_id` / `_row_commit_version` join the reserved-name set for
  *    ADD/RENAME COLUMN (an added `_row_id` would shadow row lineage);
  *  - vacuum sweeps stale `v*-*.tmp` commit temps under _versions
  *    (crash debris nothing else reclaims), mtime-guarded so an
  *    in-flight writer's temp is never touched.
  */
class Round15Spec extends SparkSpec {

  private def docsRange(rows: Int) =
    spark.read.format("graft.sources.GraftDocsSource")
      .option("rows", rows.toString).load()

  test("optimistic concurrency: equality-delete mask growth on a file " +
      "conflicts with a stale rewrite of it; disjoint scopes still land") {
    import GraftVersions.{FileEntry, ConcurrentCommitException}
    val root = Files.createTempDirectory("graft_r15_occ_eq")
    try {
      GraftVersions.enable(root) // v0
      val a = FileEntry("part-00000-a.tsv", FileEntry.NoStats,
        rows = Some(10L), bytes = Some(100L))
      val b = FileEntry("part-00001-b.tsv", FileEntry.NoStats,
        rows = Some(10L), bytes = Some(100L))
      GraftVersions.advance(root, "append", Some(Set.empty), Seq(a, b)) // v1
      // concurrent equality delete grows ONLY a.eq — every other
      // fingerprint member of `a` is untouched
      GraftVersions.advance(root, "delete-equality", Some(Set(a.name)),
        Seq(a.copy(eq = Some(GraftDV.of(Seq(3L))))),
        readVersion = Some(1L)) // v2
      // a COW rewrite of A planned against v1 would re-materialize the
      // value-masked rows: eq growth must count as a conflicting touch
      val e = intercept[ConcurrentCommitException] {
        GraftVersions.advance(root, "update", Some(Set(a.name)),
          Seq(a.copy(name = "part-00000-a2.tsv")), readVersion = Some(1L))
      }
      assert(e.getMessage.contains("planned against snapshot v1"),
        e.getMessage)
      assert(GraftVersions.latest(root).get.version == 2L)
      // scope {B} saw no eq growth → rebases and lands
      val v3 = GraftVersions.advance(root, "update", Some(Set(b.name)),
        Seq(b.copy(name = "part-00001-b2.tsv")), readVersion = Some(1L))
      assert(v3.version == 3L)
    } finally
      org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }

  test("change feed: a retention hole mid-range fails loudly instead of " +
      "skipping the expired commit and re-snapshotting") {
    OpsUtil.withScratchCatalog(spark, "r15_cdfhole") { (cat, wh) =>
      docsRange(4).coalesce(1)
        .writeTo(s"$cat.t").tableProperty("versioned", "true").create() // v0+v1
      spark.sql(s"INSERT INTO $cat.t VALUES (10, 'a', 1, 2)") // v2
      spark.sql(s"INSERT INTO $cat.t VALUES (11, 'b', 1, 2)") // v3
      spark.sql(s"INSERT INTO $cat.t VALUES (12, 'c', 1, 2)") // v4
      val tdir = wh.resolve("t")
      // tag v2, then retain {v2, v4}: v3 is the hole
      spark.sql(s"CALL $cat.system.tag('t', 'pin', 2)").collect()
      GraftVersions.vacuum(tdir, keepLast = 1)
      assert(GraftVersions.listVersionNumbers(tdir) == Seq(2L, 4L))
      // batch CDF [3, 4] starts at retained v2's successor but crosses
      // the expired v3: under the old skip logic v4 (whose v3 base is
      // gone) re-materialized as a FULL snapshot of inserts — every
      // carried row duplicated at the wrong commit_version
      val e = intercept[Exception] {
        spark.read.format("graft.sources.GraftDocsSource")
          .option("path", tdir.toString)
          .option("readChangeFeed", "true").option("startingVersion", "3")
          .load().collect()
      }
      val msgs = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).flatMap(t => Option(t.getMessage)).toSeq
      assert(msgs.exists(m => m.contains("no longer retained") &&
        m.contains("version 3")), msgs.mkString(" | "))
      // [4, 4] anchors at the expired v3 (s = startingVersion - 1), so
      // the start-version guard fires — also loud, also restart-worthy
      val e2 = intercept[Exception] {
        spark.read.format("graft.sources.GraftDocsSource")
          .option("path", tdir.toString)
          .option("readChangeFeed", "true").option("startingVersion", "4")
          .load().collect()
      }
      val msgs2 = Iterator.iterate(e2: Throwable)(_.getCause)
        .takeWhile(_ != null).flatMap(t => Option(t.getMessage)).toSeq
      assert(msgs2.exists(m => m.contains("no longer retained") ||
        m.contains("predates the retained history")),
        msgs2.mkString(" | "))
    }
  }

  test("change feed: contiguous retained history is unaffected by the " +
      "hole guard (fresh stream still snapshots at the oldest retained)") {
    OpsUtil.withScratchCatalog(spark, "r15_cdfok") { (cat, wh) =>
      docsRange(4).coalesce(1)
        .writeTo(s"$cat.t").tableProperty("versioned", "true").create() // v0+v1
      spark.sql(s"INSERT INTO $cat.t VALUES (10, 'a', 1, 2)") // v2
      spark.sql(s"INSERT INTO $cat.t VALUES (11, 'b', 1, 2)") // v3
      val tdir = wh.resolve("t")
      // contiguous batch range works
      val rows = spark.read.format("graft.sources.GraftDocsSource")
        .option("path", tdir.toString)
        .option("readChangeFeed", "true").option("startingVersion", "2")
        .load().collect()
      assert(rows.length == 2)
      // vacuum to a contiguous suffix {2,3}: a fresh stream's initial
      // snapshot at the oldest retained version is NOT a hole
      GraftVersions.vacuum(tdir, keepLast = 2)
      assert(GraftVersions.listVersionNumbers(tdir) == Seq(2L, 3L))
      val sink = Files.createTempDirectory("graft_r15_cdf_sink")
      val cp = Files.createTempDirectory("graft_r15_cdf_cp")
      try {
        val q = spark.readStream
          .format("graft.sources.GraftDocsSource")
          .option("path", tdir.toString).load()
          .writeStream.format("parquet")
          .option("checkpointLocation", cp.toString)
          .option("path", sink.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination(60000)
        assert(spark.read.parquet(sink.toString).count() == 6L)
      } finally {
        org.apache.commons.io.FileUtils.deleteDirectory(sink.toFile)
        org.apache.commons.io.FileUtils.deleteDirectory(cp.toFile)
      }
    }
  }

  test("concat compaction: eq-free files honor targetFiles even when " +
      "eq-masked neighbors bin apart") {
    OpsUtil.withScratchCatalog(spark, "r15_concatbins") { (cat, wh) =>
      docsRange(40).repartitionByRange(5,
          org.apache.spark.sql.functions.col("doc_id"))
        .writeTo(s"$cat.t").tableProperty("versioned", "true")
        .tableProperty("delete.mode", "equality")
        .tableProperty("row.tracking", "true").create()
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id = 5") // masks one file
      GraftVersions.compact(spark, wh.resolve("t"), targetFiles = 3)
      val v = GraftVersions.latest(wh.resolve("t")).get
      val (masked, free) = v.entries.partition(_.eq.isDefined)
      assert(masked.size == 1, v.entries.toString)
      // the four clean files fill TWO bins (targetFiles - 1 masked bin),
      // not one giant bin
      assert(free.size == 2, v.entries.toString)
      assert(spark.table(s"$cat.t").count() == 39L)
      // row ids survived the splice
      assert(spark.sql(s"SELECT _row_id FROM $cat.t").collect()
        .forall(!_.isNullAt(0)))
    }
  }

  test("ALTER COLUMN: the row-lineage metadata names are reserved for " +
      "ADD and RENAME") {
    OpsUtil.withScratchCatalog(spark, "r15_reserved") { (cat, wh) =>
      docsRange(5).coalesce(1)
        .writeTo(s"$cat.t").tableProperty("versioned", "true")
        .tableProperty("row.tracking", "true").create()
      for (n <- Seq("_row_id", "_row_commit_version")) {
        val e = intercept[Exception] {
          spark.sql(s"ALTER TABLE $cat.t ADD COLUMNS ($n BIGINT)")
        }
        assert(e.getMessage.contains("already exists"), e.getMessage)
      }
      spark.sql(s"ALTER TABLE $cat.t ADD COLUMNS (tmp BIGINT)")
      val e2 = intercept[Exception] {
        spark.sql(s"ALTER TABLE $cat.t RENAME COLUMN tmp TO _row_id")
      }
      assert(e2.getMessage.contains("already exists"), e2.getMessage)
      // the metadata column still reads (nothing shadowed it)
      assert(spark.sql(s"SELECT _row_id FROM $cat.t").collect()
        .forall(!_.isNullAt(0)))
    }
  }

  private def scanPartitions(df: org.apache.spark.sql.DataFrame): Int = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def find(p: org.apache.spark.sql.execution.SparkPlan)
        : Option[BatchScanExec] = p match {
      case a: AdaptiveSparkPlanExec => find(a.executedPlan)
      case b: BatchScanExec => Some(b)
      case other => other.children.view.flatMap(find).headOption
    }
    find(df.queryExecution.executedPlan).map(_.inputPartitions.size)
      .getOrElse(fail("no BatchScanExec in plan"))
  }

  test("generated columns: explicit mismatching value fails the write; " +
      "the value layout fans files with min=max stats and prunes") {
    OpsUtil.withScratchCatalog(spark, "r15_gencol") { (cat, wh) =>
      spark.sql(
        s"""CREATE TABLE $cat.t (
           |  doc_id BIGINT NOT NULL, title STRING NOT NULL,
           |  fp BIGINT NOT NULL, n_words INT NOT NULL,
           |  wc_bucket BIGINT GENERATED ALWAYS AS
           |    (CAST(n_words AS BIGINT) % 10))
           |PARTITIONED BY (wc_bucket)
           |TBLPROPERTIES ('versioned' = 'true')""".stripMargin)
      // Delta's enforcement contract: an explicit value that does not
      // match the expression fails the WRITE (12 % 10 = 2, not 3)
      val e = intercept[Exception] {
        spark.sql(s"INSERT INTO $cat.t VALUES (1, 'a', 1, 12, 3)")
      }
      val msgs = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).flatMap(t => Option(t.getMessage)).toSeq
      assert(msgs.exists(_.contains("does not match")),
        msgs.mkString(" | "))
      assert(spark.table(s"$cat.t").count() == 0L, "failed write landed")
      // matching explicit value is fine; omission computes
      spark.sql(s"INSERT INTO $cat.t VALUES (1, 'a', 1, 12, 2)")
      docsRange(20).coalesce(1).createOrReplaceTempView(s"${cat}_src")
      spark.sql(s"""INSERT INTO $cat.t (doc_id, title, fp, n_words)
        |SELECT doc_id, title, fp, n_words FROM ${cat}_src""".stripMargin)
      spark.catalog.dropTempView(s"${cat}_src")
      // value layout: every file is single-valued in wc_bucket
      // (min == max) — the manifest fact partition pruning rides on
      val entries = GraftVersions.latest(wh.resolve("t")).get.entries
      assert(entries.nonEmpty)
      assert(entries.forall(en => en.stats.get("wc_bucket")
        .exists { case (lo, hi) => lo == hi }), entries.toString)
      val values = entries.flatMap(_.stats.get("wc_bucket")).map(_._1).toSet
      assert(values.size > 1, "expected multiple value partitions")
      // a value predicate plans ONLY that value's files
      val full = scanPartitions(spark.table(s"$cat.t"))
      val one = scanPartitions(
        spark.table(s"$cat.t").filter(col("wc_bucket") === 2))
      assert(one < full, s"value predicate did not prune: $one vs $full")
      assert(one == entries.count(_.stats.get("wc_bucket")
        .exists { case (lo, _) => lo == 2 }))
      // and the filtered read is correct (stats prune files, Spark
      // filters rows)
      assert(spark.table(s"$cat.t").filter(col("wc_bucket") === 2)
        .count() ==
        spark.table(s"$cat.t").collect()
          .count(_.getAs[Long]("wc_bucket") == 2L))
    }
  }

  test("generated columns: a COW UPDATE of a base input migrates rows " +
      "to their recomputed value partition") {
    OpsUtil.withScratchCatalog(spark, "r15_genupd") { (cat, wh) =>
      spark.sql(
        s"""CREATE TABLE $cat.t (
           |  doc_id BIGINT NOT NULL, title STRING NOT NULL,
           |  fp BIGINT NOT NULL, n_words INT NOT NULL,
           |  wc_bucket BIGINT GENERATED ALWAYS AS
           |    (CAST(n_words AS BIGINT) % 10))
           |PARTITIONED BY (wc_bucket)
           |TBLPROPERTIES ('versioned' = 'true')""".stripMargin)
      docsRange(10).coalesce(1).createOrReplaceTempView(s"${cat}_src")
      spark.sql(s"""INSERT INTO $cat.t (doc_id, title, fp, n_words)
        |SELECT doc_id, title, fp, n_words FROM ${cat}_src""".stripMargin)
      spark.catalog.dropTempView(s"${cat}_src")
      spark.sql(s"UPDATE $cat.t SET n_words = 7 WHERE doc_id = 0")
      val r = spark.table(s"$cat.t").filter(col("doc_id") === 0)
        .select("wc_bucket").head()
      assert(r.getLong(0) == 7L, s"recompute failed: $r")
      // the rewritten file's stats reflect the NEW value
      val entries = GraftVersions.latest(wh.resolve("t")).get.entries
      assert(entries.forall(en => en.stats.get("wc_bucket")
        .exists { case (lo, hi) => lo == hi }))
    }
  }

  test("identity columns: ALWAYS rejects explicit inserts; BY DEFAULT " +
      "accepts them and the hwm continues past the explicit max") {
    OpsUtil.withScratchCatalog(spark, "r15_idcol") { (cat, wh) =>
      spark.sql(
        s"""CREATE TABLE $cat.a (
           |  doc_id BIGINT NOT NULL, title STRING NOT NULL,
           |  fp BIGINT NOT NULL, n_words INT NOT NULL,
           |  rid BIGINT GENERATED ALWAYS AS IDENTITY)
           |TBLPROPERTIES ('versioned' = 'true')""".stripMargin)
      val e = intercept[Exception] {
        spark.sql(s"INSERT INTO $cat.a VALUES (1, 'x', 1, 5, 99)")
      }
      val msgs = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).flatMap(t => Option(t.getMessage)).toSeq
      assert(msgs.exists(_.contains("GENERATED ALWAYS")),
        msgs.mkString(" | "))
      spark.sql(
        s"""CREATE TABLE $cat.b (
           |  doc_id BIGINT NOT NULL, title STRING NOT NULL,
           |  fp BIGINT NOT NULL, n_words INT NOT NULL,
           |  rid BIGINT GENERATED BY DEFAULT AS IDENTITY
           |    (START WITH 10 INCREMENT BY 5))
           |TBLPROPERTIES ('versioned' = 'true')""".stripMargin)
      // explicit value accepted; commit moves the hwm past it
      spark.sql(s"INSERT INTO $cat.b VALUES (1, 'x', 1, 5, 1000000)")
      spark.sql(s"INSERT INTO $cat.b (doc_id, title, fp, n_words) " +
        "VALUES (2, 'y', 1, 5)")
      val rids = spark.table(s"$cat.b").orderBy("doc_id")
        .select("rid").collect().map(_.getLong(0))
      assert(rids(0) == 1000000L)
      assert(rids(1) > 1000000L,
        s"computed id ${rids(1)} collided below the explicit max")
      // an UPDATE preserves surrogate keys
      spark.sql(s"UPDATE $cat.b SET n_words = 9 WHERE doc_id = 1")
      assert(spark.table(s"$cat.b").filter(col("doc_id") === 1)
        .head().getAs[Long]("rid") == 1000000L)
    }
  }

  test("identity columns: two concurrent writers draw disjoint ranges") {
    OpsUtil.withScratchCatalog(spark, "r15_idrace") { (cat, wh) =>
      spark.sql(
        s"""CREATE TABLE $cat.t (
           |  doc_id BIGINT NOT NULL, title STRING NOT NULL,
           |  fp BIGINT NOT NULL, n_words INT NOT NULL,
           |  rid BIGINT GENERATED ALWAYS AS IDENTITY)
           |TBLPROPERTIES ('versioned' = 'true')""".stripMargin)
      // two racers append concurrently: block reservation under the
      // commit lock must hand them non-overlapping value ranges
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        val futs = (0 until 2).map { w =>
          pool.submit(new java.util.concurrent.Callable[java.lang.Boolean] {
            override def call(): java.lang.Boolean = {
              docsRange(200).filter(col("doc_id") >= w * 100)
                .filter(col("doc_id") < (w + 1) * 100)
                .repartition(2)
                .writeTo(s"$cat.t").append()
              java.lang.Boolean.TRUE
            }
          })
        }
        futs.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      } finally pool.shutdown()
      val rids = spark.table(s"$cat.t").select("rid").collect()
        .map(_.getLong(0))
      assert(rids.length == 200)
      assert(rids.distinct.length == 200,
        s"identity collision across concurrent writers")
    }
  }

  test("DESCRIBE face: generated/identity columns and the value layout " +
      "surface their declared metadata back out") {
    OpsUtil.withScratchCatalog(spark, "r15_descface") { (cat, wh) =>
      spark.sql(
        s"""CREATE TABLE $cat.t (
           |  doc_id BIGINT NOT NULL, title STRING NOT NULL,
           |  fp BIGINT NOT NULL, n_words INT NOT NULL,
           |  wb BIGINT GENERATED ALWAYS AS (CAST(n_words AS BIGINT) % 4),
           |  rid BIGINT GENERATED BY DEFAULT AS IDENTITY
           |    (START WITH 7 INCREMENT BY 3))
           |PARTITIONED BY (wb)
           |TBLPROPERTIES ('versioned' = 'true')""".stripMargin)
      val desc = spark.sql(s"DESCRIBE TABLE $cat.t").collect()
        .map(r => r.getString(0) -> r.getString(2)).toMap
      assert(desc.contains("wb") && desc.contains("rid"), desc.toString)
      // the V2 Column face carries the declarations (what SHOW CREATE
      // TABLE and catalog tooling read)
      val tbl = new graft.sources.GraftRlTable(wh.resolve("t").toString)
      val byName = tbl.columns().map(c => c.name -> c).toMap
      assert(byName("wb").generationExpression() ==
        "CAST(n_words AS BIGINT) % 4")
      val idSpec = byName("rid").identityColumnSpec()
      assert(idSpec != null && idSpec.getStart == 7 &&
        idSpec.getStep == 3 && idSpec.isAllowExplicitInsert)
      assert(byName("doc_id").generationExpression() == null)
      // partitioning reports the value layout as an identity transform
      val parts = tbl.partitioning().map(_.toString)
      assert(parts.exists(_.contains("wb")), parts.mkString(", "))
    }
  }

  test("the value-partitioning column cannot be renamed or dropped " +
      "(the layout references it by name)") {
    OpsUtil.withScratchCatalog(spark, "r15_genguard") { (cat, wh) =>
      spark.sql(
        s"""CREATE TABLE $cat.t (
           |  doc_id BIGINT NOT NULL, title STRING NOT NULL,
           |  fp BIGINT NOT NULL, n_words INT NOT NULL,
           |  wb BIGINT GENERATED ALWAYS AS (CAST(n_words AS BIGINT) % 4),
           |  tag STRING GENERATED ALWAYS AS (concat(title, '!')))
           |PARTITIONED BY (wb)
           |TBLPROPERTIES ('versioned' = 'true')""".stripMargin)
      for (ddl <- Seq(s"ALTER TABLE $cat.t RENAME COLUMN wb TO wb2",
          s"ALTER TABLE $cat.t DROP COLUMN wb")) {
        val e = intercept[Exception] { spark.sql(ddl) }
        assert(e.getMessage.contains("value-partitioning"), e.getMessage)
      }
      // a generated column OUTSIDE the layout still drops fine
      spark.sql(s"ALTER TABLE $cat.t DROP COLUMN tag")
      assert(!spark.table(s"$cat.t").columns.contains("tag"))
      // and writes keep working after the drop (the slot NULLs)
      docsRange(4).coalesce(1).createOrReplaceTempView(s"${cat}_src")
      spark.sql(s"""INSERT INTO $cat.t (doc_id, title, fp, n_words)
        |SELECT doc_id, title, fp, n_words FROM ${cat}_src""".stripMargin)
      spark.catalog.dropTempView(s"${cat}_src")
      assert(spark.table(s"$cat.t").count() == 4L)
    }
  }

  test("MERGE: NOT MATCHED inserts mint fresh identity values; matched " +
      "updates preserve them") {
    OpsUtil.withScratchCatalog(spark, "r15_idmerge") { (cat, wh) =>
      spark.sql(
        s"""CREATE TABLE $cat.t (
           |  doc_id BIGINT NOT NULL, title STRING NOT NULL,
           |  fp BIGINT NOT NULL, n_words INT NOT NULL,
           |  rid BIGINT GENERATED ALWAYS AS IDENTITY)
           |TBLPROPERTIES ('versioned' = 'true')""".stripMargin)
      docsRange(5).coalesce(1).createOrReplaceTempView(s"${cat}_s0")
      spark.sql(s"""INSERT INTO $cat.t (doc_id, title, fp, n_words)
        |SELECT doc_id, title, fp, n_words FROM ${cat}_s0""".stripMargin)
      val before = spark.table(s"$cat.t").select("doc_id", "rid")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      docsRange(8).filter(col("doc_id") >= 3)
        .createOrReplaceTempView(s"${cat}_src")
      spark.sql(
        s"""MERGE INTO $cat.t t USING ${cat}_src s ON t.doc_id = s.doc_id
           |WHEN MATCHED THEN UPDATE SET n_words = s.n_words + 100
           |WHEN NOT MATCHED THEN
           |  INSERT (doc_id, title, fp, n_words)
           |  VALUES (s.doc_id, s.title, s.fp, s.n_words)""".stripMargin)
      spark.catalog.dropTempView(s"${cat}_src")
      spark.catalog.dropTempView(s"${cat}_s0")
      val after = spark.table(s"$cat.t").select("doc_id", "rid")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(after.size == 8)
      // matched rows (3,4) kept their surrogate keys
      assert(after(3L) == before(3L) && after(4L) == before(4L))
      // inserted rows (5,6,7) minted fresh, non-colliding ids
      assert(after.values.toSeq.distinct.size == 8, after.toString)
      val fresh = Seq(5L, 6L, 7L).map(after)
      assert(fresh.forall(id => !before.values.toSet.contains(id)))
    }
  }

  test("OPTIMIZE on a value-layout table keeps every output file " +
      "single-valued (the fan applies to the compaction rewrite too)") {
    OpsUtil.withScratchCatalog(spark, "r15_genopt") { (cat, wh) =>
      spark.sql(
        s"""CREATE TABLE $cat.t (
           |  doc_id BIGINT NOT NULL, title STRING NOT NULL,
           |  fp BIGINT NOT NULL, n_words INT NOT NULL,
           |  wb BIGINT GENERATED ALWAYS AS (CAST(n_words AS BIGINT) % 3))
           |PARTITIONED BY (wb)
           |TBLPROPERTIES ('versioned' = 'true')""".stripMargin)
      // two fragmented inserts → ≥6 files
      for (b <- 0 until 2) {
        docsRange(12).filter(col("doc_id") >= b * 6)
          .filter(col("doc_id") < (b + 1) * 6).coalesce(1)
          .createOrReplaceTempView(s"${cat}_b")
        spark.sql(s"""INSERT INTO $cat.t (doc_id, title, fp, n_words)
          |SELECT doc_id, title, fp, n_words FROM ${cat}_b""".stripMargin)
        spark.catalog.dropTempView(s"${cat}_b")
      }
      val tdir = wh.resolve("t")
      val beforeN = GraftVersions.latest(tdir).get.entries.size
      assert(beforeN >= 6)
      GraftVersions.compact(spark, tdir, targetFiles = 1)
      val after = GraftVersions.latest(tdir).get.entries
      assert(after.size == 3, s"one file per live value: $after")
      assert(after.forall(_.stats.get("wb")
        .exists { case (lo, hi) => lo == hi }), after.toString)
      assert(spark.table(s"$cat.t").count() == 12L)
    }
  }

  test("streaming writes compute generated cells and mint identity " +
      "values (the fourth writer path, same one shared implementation)") {
    val cp = Files.createTempDirectory("graft_r15_sgen_cp")
    try OpsUtil.withScratchCatalog(spark, "r15_sgen") { (cat, wh) =>
      spark.sql(
        s"""CREATE TABLE $cat.dst (
           |  doc_id BIGINT NOT NULL, title STRING NOT NULL,
           |  fp BIGINT NOT NULL, n_words INT NOT NULL,
           |  wb BIGINT GENERATED ALWAYS AS (CAST(n_words AS BIGINT) % 4),
           |  rid BIGINT GENERATED ALWAYS AS IDENTITY
           |    (START WITH 50 INCREMENT BY 1))
           |TBLPROPERTIES ('versioned' = 'true')""".stripMargin)
      docsRange(6).coalesce(1)
        .writeTo(s"$cat.src").tableProperty("versioned", "true").create()
      def drain(): Unit = {
        val q = spark.readStream.table(s"$cat.src")
          .writeStream.format("graft.sources.GraftDocsSource")
          .option("path", wh.resolve("dst").toString)
          .option("checkpointLocation", cp.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination(120000)
      }
      drain()
      val r1 = spark.table(s"$cat.dst")
        .select("doc_id", "n_words", "wb", "rid").collect()
      assert(r1.length == 6)
      assert(r1.forall(r => r.getLong(2) == (r.getInt(1).toLong % 4)),
        "streamed rows must carry computed generated cells")
      val ids1 = r1.map(_.getLong(3))
      assert(ids1.distinct.length == 6 && ids1.forall(_ >= 50L))
      // a second micro-batch continues with disjoint identity values
      spark.sql(s"INSERT INTO $cat.src VALUES (90, 'doc-90', 1, 7)")
      drain()
      val r2 = spark.table(s"$cat.dst")
        .select("doc_id", "rid").collect()
      assert(r2.length == 7)
      assert(r2.map(_.getLong(1)).distinct.length == 7,
        "identity values must stay unique across micro-batches")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(cp.toFile)
  }

  test("equality deletes auto-materialize once pending values cross the " +
      "table's threshold; below it masks stay metadata-only") {
    OpsUtil.withScratchCatalog(spark, "r15_eqmat") { (cat, wh) =>
      docsRange(30).repartitionByRange(3,
          org.apache.spark.sql.functions.col("doc_id"))
        .writeTo(s"$cat.t").tableProperty("versioned", "true")
        .tableProperty("delete.mode", "equality")
        .tableProperty("eq.materialize.threshold", "4").create()
      val tdir = wh.resolve("t")
      val beforeFiles = GraftVersions.latest(tdir).get.files.toSet
      // 2 pending values < 4: metadata-only, masks stay
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id IN (1, 2)")
      val v2 = GraftVersions.latest(tdir).get
      assert(v2.op == "delete-equality")
      assert(v2.entries.flatMap(_.eq).map(_.cardinality).sum == 2)
      assert(v2.files.toSet == beforeFiles, "no data file may move yet")
      // +3 pending = 5 >= 4: the delete commits, then the masked files
      // (and ONLY they) rewrite clean
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id IN (11, 12, 13)")
      val head = GraftVersions.latest(tdir).get
      assert(head.op == "eq-materialize", head.op)
      assert(!head.dataChange)
      assert(head.entries.forall(_.eq.isEmpty),
        "materialization must fold every value mask away")
      // the file holding [20,30) was never masked — untouched
      assert(head.files.exists(beforeFiles), head.files.toString)
      assert(spark.table(s"$cat.t").count() == 25L)
      // the pre-materialization snapshot still reads through its masks
      val prior = head.version - 1
      assert(spark.sql(
        s"SELECT COUNT(*) FROM $cat.t VERSION AS OF $prior")
        .head().getLong(0) == 25L)
      // deleted keys are really gone
      val ids = spark.table(s"$cat.t").select("doc_id").collect()
        .map(_.getLong(0)).toSet
      assert(!ids.exists(Set(1L, 2L, 11L, 12L, 13L)))
    }
  }

  test("cross-driver commit claim: two uncoordinated writers race the " +
      "log; every version has exactly one winner and no commit is lost") {
    import GraftVersions.{ConcurrentCommitException, FileEntry}
    // The per-table JVM lock interns the NORMALIZED path string; a
    // symlink alias normalizes to a different string, so two threads
    // advancing through root and alias hold DIFFERENT locks — the
    // honest simulation of two driver processes. Serialization then
    // rests solely on the cross-process claim (hard-link
    // create-new-fails-if-exists), which is process-agnostic.
    val base = Files.createTempDirectory("graft_r15_xdrv")
    val root = base.resolve("t")
    Files.createDirectories(root)
    val alias = Files.createSymbolicLink(base.resolve("alias"), root)
    try {
      GraftVersions.enable(root)
      // the lock interns the normalized absolute path STRING — the
      // alias must produce a different one or the race tests nothing
      assert(root.toAbsolutePath.normalize().toString !=
        alias.toAbsolutePath.normalize().toString)
      val perWriter = 8
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        val futs = Seq(root, alias).zipWithIndex.map { case (dir, w) =>
          pool.submit(new java.util.concurrent.Callable[java.lang.Boolean] {
            override def call(): java.lang.Boolean = {
              var i = 0
              while (i < perWriter) {
                val e = FileEntry(f"part-$w%05d-c$i-x.tsv",
                  FileEntry.NoStats, rows = Some(1L), bytes = Some(10L))
                try {
                  GraftVersions.advance(dir, "append", Some(Set.empty),
                    Seq(e))
                  i += 1
                } catch {
                  // the bounded claim-retry gave up under a hot race:
                  // retryable by contract, so the driver retries
                  case _: ConcurrentCommitException => ()
                }
              }
              java.lang.Boolean.TRUE
            }
          })
        }
        futs.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      } finally pool.shutdown()
      // every commit landed exactly once, the log is contiguous, and
      // every manifest parses (no torn writes, no clobbered sidecars)
      val versions = GraftVersions.listVersionNumbers(root)
      assert(versions == (0L to 2L * perWriter).toSeq, versions.toString)
      val head = GraftVersions.latest(root).get
      assert(head.entries.size == 2 * perWriter)
      assert(head.entries.map(_.name).distinct.size == 2 * perWriter)
      GraftVersions.listVersions(root).foreach { v =>
        assert(v.op == "enable" || v.op == "append")
      }
    } finally
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
  }

  test("vacuum sweeps stale v*-*.tmp commit temps under _versions, " +
      "mtime-guarded") {
    val root = Files.createTempDirectory("graft_r15_tmpsweep")
    try {
      GraftVersions.enable(root) // v0
      GraftVersions.advance(root, "append", Some(Set.empty),
        Seq(GraftVersions.FileEntry("part-00000-x.tsv",
          GraftVersions.FileEntry.NoStats, rows = Some(1L),
          bytes = Some(10L)))) // v1
      val vdir = root.resolve("_versions")
      val staleSc = vdir.resolve("v00002-sc-dead.tmp")
      val staleMan = vdir.resolve("v00002-dead.tmp")
      val fresh = vdir.resolve("v00003-sc-live.tmp")
      Seq(staleSc, staleMan, fresh).foreach(Files.write(_,
        "debris".getBytes("UTF-8")))
      // age the stale pair past the 10-minute guard
      val old = java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 3600L * 1000)
      Files.setLastModifiedTime(staleSc, old)
      Files.setLastModifiedTime(staleMan, old)
      GraftVersions.vacuum(root, keepLast = 10)
      assert(!Files.exists(staleSc) && !Files.exists(staleMan),
        "stale commit temps must be reclaimed")
      assert(Files.exists(fresh),
        "an in-flight writer's fresh temp must survive")
      // the log itself is intact
      assert(GraftVersions.listVersionNumbers(root) == Seq(0L, 1L))
    } finally
      org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }
}
