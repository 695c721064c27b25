package graft

import java.nio.file.Files

import graft.ops.OpsUtil
import graft.sources.{GraftDV, GraftTableMeta, GraftVersions}

/** Round-13 wave 6: the three-tier DELETE story (metadata-only,
  * merge-on-read deletion vectors, copy-on-write fallback), manifest
  * statistics driving the cost-based optimizer, and ALTER TABLE over
  * the persisted property store.
  */
class DeletionVectorSpec extends SparkSpec {

  private def docsRange(rows: Int) =
    spark.read.format("graft.sources.GraftDocsSource")
      .option("rows", rows.toString).load()
  private def fileBytes(dir: java.nio.file.Path, names: Seq[String]) =
    names.map(n => n -> Files.readAllBytes(dir.resolve(n)).toSeq).toMap

  test("GraftDV codec round-trips sparse, adjacent, and large positions") {
    for (ps <- Seq(Seq.empty[Long], Seq(0L), Seq(0L, 1L, 2L),
        Seq(7L, 3L, 7L, 100000L), Seq(Long.MaxValue / 2, 0L, 999999999999L))) {
      val dv = GraftDV.of(ps)
      val back = GraftDV.fromBase64(dv.toBase64)
      assert(back.positions.toSeq == ps.distinct.sorted,
        s"roundtrip of $ps")
      ps.foreach(p => assert(dv.contains(p)))
      assert(!dv.contains(-1L))
    }
    // union composes and dedupes
    val u = GraftDV.of(Seq(1L, 5L)).union(Seq(5L, 9L))
    assert(u.positions.toSeq == Seq(1L, 5L, 9L))
  }

  test("MOR delete masks rows without touching data bytes; masks compose; " +
      "a fully-deleted file leaves the live set") {
    OpsUtil.withScratchCatalog(spark, "dv_mor") { (cat, wh) =>
      docsRange(40)
        .repartitionByRange(4, org.apache.spark.sql.functions.col("doc_id"))
        .writeTo(s"$cat.t").tableProperty("versioned", "true")
        .tableProperty("delete.mode", "merge-on-read").create()
      val dir = wh.resolve("t")
      val originals = GraftVersions.latest(dir).get.files
      val before = fileBytes(dir, originals)

      spark.sql(s"DELETE FROM $cat.t WHERE doc_id % 7 = 3")
      val v2 = GraftVersions.latest(dir).get
      assert(v2.op == "delete")
      assert(v2.files.toSet == originals.toSet, "no file added or removed")
      assert(fileBytes(dir, originals) == before, "data bytes immutable")
      assert(v2.entries.flatMap(_.dv).map(_.cardinality).sum == 6)
      val live = spark.sql(s"SELECT doc_id FROM $cat.t ORDER BY doc_id")
        .collect().map(_.getLong(0)).toSeq
      assert(live == (0L until 40L).filterNot(_ % 7 == 3))

      // second delete composes (mask union), bytes still untouched
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id % 7 = 5")
      val v3 = GraftVersions.latest(dir).get
      assert(v3.entries.flatMap(_.dv).map(_.cardinality).sum == 11)
      assert(fileBytes(dir, originals) == before)

      // mask every remaining row of the [0,10) file -> the file is
      // DROPPED from the live manifest (not carried as a 100% mask),
      // while its bytes stay for time travel
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id < 10 AND doc_id % 2 = 0")
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id < 10 AND doc_id % 2 = 1")
      val v5 = GraftVersions.latest(dir).get
      assert(v5.files.size == 3 &&
        !v5.files.contains(originals.head),
        s"fully-masked file must leave the manifest: ${v5.files}")
      assert(Files.exists(dir.resolve(originals.head)),
        "dropped file's bytes stay for time travel")
      assert(spark.sql(s"SELECT COUNT(*) FROM $cat.t VERSION AS OF 1")
        .head().getLong(0) == 40)

      // _pos/_file stay queryable and reflect the mask (gaps where
      // rows were deleted)
      val posRows = spark.sql(
        s"SELECT _file, _pos, doc_id FROM $cat.t WHERE doc_id BETWEEN 10 AND 19 ORDER BY _pos")
        .collect()
      assert(posRows.map(_.getLong(2)).toSeq ==
        (10L to 19L).filter(i => i % 7 != 3 && i % 7 != 5))
      assert(posRows.map(_.getLong(1)).toSeq ==
        (0L to 9L).filter(p => (p + 10) % 7 != 3 && (p + 10) % 7 != 5),
        "_pos is the PHYSICAL ordinal, so masked rows leave gaps")

      // compaction materializes the masks away
      GraftVersions.compact(spark, dir, targetFiles = 1)
      val vc = GraftVersions.latest(dir).get
      assert(vc.entries.forall(_.dv.isEmpty))
      assert(spark.sql(s"SELECT COUNT(*) FROM $cat.t").head().getLong(0) ==
        (10L until 40L).count(i => i % 7 != 3 && i % 7 != 5))
    }
  }

  test("two CONCURRENT MOR deletes union their masks (neither is lost)") {
    OpsUtil.withScratchCatalog(spark, "dv_race") { (cat, wh) =>
      docsRange(60)
        .writeTo(s"$cat.t").tableProperty("versioned", "true")
        .tableProperty("delete.mode", "merge-on-read").create()
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.global
      val fa = Future(spark.sql(s"DELETE FROM $cat.t WHERE doc_id % 10 = 1"))
      val fb = Future(spark.sql(s"DELETE FROM $cat.t WHERE doc_id % 10 = 8"))
      Await.result(fa, 120.seconds); Await.result(fb, 120.seconds)
      val live = spark.sql(s"SELECT doc_id FROM $cat.t ORDER BY doc_id")
        .collect().map(_.getLong(0)).toSeq
      assert(live == (0L until 60L).filter(i => i % 10 != 1 && i % 10 != 8),
        "both deletes' masks must survive the race")
      val log = GraftVersions.listVersions(wh.resolve("t"))
      assert(log.count(_.op == "delete") == 2, "two serialized delete commits")
    }
  }

  test("metadata delete: provable predicates drop files with NO scan job; " +
      "partial predicates fall back to the row-level path") {
    OpsUtil.withScratchCatalog(spark, "dv_meta") { (cat, wh) =>
      docsRange(40)
        .repartitionByRange(4, org.apache.spark.sql.functions.col("doc_id"))
        .writeTo(s"$cat.t").tableProperty("versioned", "true").create()
      val dir = wh.resolve("t")
      val originals = GraftVersions.latest(dir).get.files
      val before = fileBytes(dir, originals)

      // provable: [30,40) file all-match, others all-miss — and the
      // operation runs ZERO Spark jobs (pure manifest advance)
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        spark.sql(s"DELETE FROM $cat.t WHERE doc_id >= 30")
        // listener delivery is async: poll until the counter is stable
        var prev = -1; var tries = 0
        while (jobs.get() != prev && tries < 50) {
          prev = jobs.get(); Thread.sleep(100); tries += 1
        }
      } finally spark.sparkContext.removeSparkListener(listener)
      assert(jobs.get() == 0, s"metadata delete must plan no job, ran ${jobs.get()}")
      val v2 = GraftVersions.latest(dir).get
      assert(v2.op == "delete-metadata" && v2.files.size == 3)
      assert(fileBytes(dir, originals) == before, "no data file touched")
      assert(spark.sql(s"SELECT COUNT(*) FROM $cat.t").head().getLong(0) == 30)

      // partial: [20,30) file straddles the bound -> COW rewrite of
      // exactly that file
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id >= 25")
      val v3 = GraftVersions.latest(dir).get
      assert(v3.op == "delete", s"expected row-level fallback, got ${v3.op}")
      assert(v3.files.count(n => !originals.contains(n)) == 1,
        "exactly one replacement file")
      assert(spark.sql(s"SELECT COUNT(*) FROM $cat.t").head().getLong(0) == 25)

      // vacuum to the live snapshot reclaims the dropped/replaced files
      GraftVersions.vacuum(dir, keepLast = 1)
      val remaining = {
        val s = Files.list(dir)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.map(_.getFileName.toString)
            .filter(_.matches(graft.sources.GraftFiles.partFileRegex)).toSet
        } finally s.close()
      }
      assert(remaining == GraftVersions.latest(dir).get.files.toSet,
        "vacuum keeps exactly the live files")
    }
  }

  test("manifest statistics: CBO auto-broadcasts the small versioned side; " +
      "reported rowCount tracks deletion vectors") {
    OpsUtil.withScratchCatalog(spark, "dv_stats") { (cat, wh) =>
      docsRange(500)
        .writeTo(s"$cat.t").tableProperty("versioned", "true")
        .tableProperty("delete.mode", "merge-on-read").create()
      def reported: (Option[BigInt], BigInt) = {
        val rel = spark.table(s"$cat.t").queryExecution.optimizedPlan
          .collectFirst {
            case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
          }.get
        (rel.stats.rowCount, rel.stats.sizeInBytes)
      }
      val (rowsBefore, sizeBefore) = reported
      assert(rowsBefore.contains(BigInt(500)))
      assert(sizeBefore > 0 && sizeBefore < 64 * 1024,
        s"TSV bytes of 500 rows, got $sizeBefore")
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id % 7 = 3")
      val (rowsAfter, _) = reported
      assert(rowsAfter.contains(BigInt(429)), s"DV-adjusted, got $rowsAfter")

      // no hint anywhere: the planner must pick BroadcastHashJoin with
      // the versioned table as the build side, from reported stats alone
      val big = docsRange(20000)
      val plan = big.join(spark.table(s"$cat.t").select("doc_id"), "doc_id")
        .queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"stats must drive an auto-broadcast:\n${plan.take(800)}")
    }
  }

  test("ALTER TABLE properties: CHECK validation on existing rows, UNSET, " +
      "delete.mode flip changes the delete path, bloom config post-create") {
    OpsUtil.withScratchCatalog(spark, "dv_alter") { (cat, wh) =>
      docsRange(30).writeTo(s"$cat.t")
        .tableProperty("versioned", "true").create()
      val dir = wh.resolve("t")

      // adding a CHECK the data passes lands; one it violates rejects
      spark.sql(
        s"ALTER TABLE $cat.t SET TBLPROPERTIES ('check.pos' = 'n_words > 0')")
      assert(GraftTableMeta.checkConstraints(dir).map(_._1) == Seq("pos"))
      val err = intercept[Exception] {
        spark.sql(
          s"ALTER TABLE $cat.t SET TBLPROPERTIES ('check.tiny' = 'doc_id < 5')")
      }
      assert(err.getMessage.contains("25 existing row(s)"), err.getMessage)
      assert(GraftTableMeta.checkConstraints(dir).map(_._1) == Seq("pos"),
        "rejected ALTER must not half-apply")

      // the landed constraint gates writes; UNSET lifts it
      intercept[Exception] {
        spark.sql(s"INSERT INTO $cat.t SELECT 777L, 'bad', 7L, 0")
      }
      spark.sql(s"ALTER TABLE $cat.t UNSET TBLPROPERTIES ('check.pos')")
      spark.sql(s"INSERT INTO $cat.t SELECT 777L, 'ok', 7L, 0")
      assert(spark.sql(s"SELECT COUNT(*) FROM $cat.t").head().getLong(0) == 31)

      // UNSAFE schema changes and versioning stay rejected (ADD COLUMN
      // is the one supported evolution — Round14Spec covers it)
      intercept[Exception] {
        spark.sql(s"ALTER TABLE $cat.t ALTER COLUMN n_words TYPE BIGINT")
      }
      intercept[Exception] {
        spark.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES ('versioned' = 'false')")
      }

      // delete.mode flip: same DELETE SQL, different physical path
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id % 9 = 2") // COW (default)
      val cow = GraftVersions.latest(dir).get
      assert(cow.entries.forall(_.dv.isEmpty), "COW delete writes no masks")
      spark.sql(
        s"ALTER TABLE $cat.t SET TBLPROPERTIES ('delete.mode' = 'merge-on-read')")
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id % 9 = 3")
      val mor = GraftVersions.latest(dir).get
      assert(mor.entries.flatMap(_.dv).map(_.cardinality).sum > 0,
        "post-ALTER delete must take the deletion-vector path")

      // bloom config added post-create applies to SUBSEQUENT writes
      spark.sql(
        s"ALTER TABLE $cat.t SET TBLPROPERTIES ('bloom.columns' = 'title')")
      spark.sql(s"INSERT INTO $cat.t SELECT 888L, 'late-bloom', 8L, 8")
      val last = GraftVersions.latest(dir).get
      assert(last.entries.exists(_.bloom.isDefined),
        "the post-ALTER insert's file must carry a bloom")
    }
  }

  test("MOR update: old rows masked in place, new rows in fresh files, " +
      "original bytes untouched; masks compose across generations") {
    OpsUtil.withScratchCatalog(spark, "dv_upd") { (cat, wh) =>
      docsRange(40)
        .repartitionByRange(4, org.apache.spark.sql.functions.col("doc_id"))
        .writeTo(s"$cat.t").tableProperty("versioned", "true")
        .tableProperty("update.mode", "merge-on-read").create()
      val dir = wh.resolve("t")
      val originals = GraftVersions.latest(dir).get.files
      val before = fileBytes(dir, originals)

      spark.sql(s"UPDATE $cat.t SET n_words = 0 WHERE doc_id % 7 = 3")
      val v2 = GraftVersions.latest(dir).get
      assert(v2.op == "update")
      assert(originals.forall(v2.files.contains), "originals retained")
      assert(fileBytes(dir, originals) == before, "original bytes immutable")
      assert(v2.entries.filter(e => originals.contains(e.name))
        .flatMap(_.dv).map(_.cardinality).sum == 6)
      val added = v2.files.filterNot(originals.contains)
      assert(added.nonEmpty, "updated rows land in fresh files")
      // cardinality conserved; updated rows read back with new values
      assert(spark.sql(s"SELECT COUNT(*) FROM $cat.t").head().getLong(0) == 40)
      val zeroed = spark.sql(
        s"SELECT doc_id FROM $cat.t WHERE n_words = 0 ORDER BY doc_id")
        .collect().map(_.getLong(0)).toSeq
      assert(zeroed == (0L until 40L).filter(_ % 7 == 3))

      // update a row living in a replacement file: its 1-row file goes
      // 100% masked and drops; the row re-lands with the newest value
      spark.sql(s"UPDATE $cat.t SET n_words = 1 WHERE doc_id = 3")
      assert(spark.sql(s"SELECT n_words FROM $cat.t WHERE doc_id = 3")
        .head().getInt(0) == 1)
      assert(spark.sql(s"SELECT COUNT(*) FROM $cat.t").head().getLong(0) == 40)

      // time travel reads every generation's values
      assert(spark.sql(
        s"SELECT n_words FROM $cat.t VERSION AS OF 1 WHERE doc_id = 3")
        .head().getInt(0) == 12) // 3 % 91 + 9
      assert(spark.sql(
        s"SELECT n_words FROM $cat.t VERSION AS OF 2 WHERE doc_id = 3")
        .head().getInt(0) == 0)
    }
  }

  test("MOR update atomicity: a CHECK-violating update lands NEITHER its " +
      "masks nor its rows") {
    OpsUtil.withScratchCatalog(spark, "dv_updatom") { (cat, wh) =>
      docsRange(20).writeTo(s"$cat.t")
        .tableProperty("versioned", "true")
        .tableProperty("update.mode", "merge-on-read")
        .tableProperty("check.pos", "n_words > 0").create()
      val dir = wh.resolve("t")
      val vBefore = GraftVersions.latest(dir).get
      intercept[Exception] {
        spark.sql(s"UPDATE $cat.t SET n_words = 0 WHERE doc_id % 3 = 1")
      }
      val vAfter = GraftVersions.latest(dir).get
      assert(vAfter.version == vBefore.version, "no version advance")
      assert(vAfter.entries.forall(_.dv.isEmpty), "no masks landed")
      assert(spark.sql(s"SELECT COUNT(*) FROM $cat.t WHERE n_words = 0")
        .head().getLong(0) == 0)
      // table still writable afterwards
      spark.sql(s"UPDATE $cat.t SET n_words = 99 WHERE doc_id = 2")
      assert(spark.sql(s"SELECT n_words FROM $cat.t WHERE doc_id = 2")
        .head().getInt(0) == 99)
    }
  }

  test("MOR MERGE: update/delete/insert actions in one statement — masks, " +
      "a dropped fully-matched file, fresh insert files, one commit") {
    OpsUtil.withScratchCatalog(spark, "dv_merge") { (cat, wh) =>
      docsRange(30)
        .repartitionByRange(3, org.apache.spark.sql.functions.col("doc_id"))
        .writeTo(s"$cat.t").tableProperty("versioned", "true")
        .tableProperty("merge.mode", "merge-on-read")
        .tableProperty("check.pos", "n_words >= 0").create()
      val dir = wh.resolve("t")
      val originals = GraftVersions.latest(dir).get.files
      val before = fileBytes(dir, originals)
      docsRange(40).filter(org.apache.spark.sql.functions.col("doc_id") >= 15)
        .createOrReplaceTempView(s"${cat}_src")
      spark.sql(
        s"""MERGE INTO $cat.t t USING ${cat}_src s ON t.doc_id = s.doc_id
           |WHEN MATCHED AND s.doc_id % 2 = 0 THEN UPDATE SET n_words = 0
           |WHEN MATCHED THEN DELETE
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      spark.catalog.dropTempView(s"${cat}_src")
      val v = GraftVersions.latest(dir).get
      assert(v.op == "merge")
      // originals byte-identical; the fully-matched [20,29] file gone
      // from the live set, the partially-matched [10,19] file masked
      assert(fileBytes(dir, originals.filter(v.files.contains)) ==
        before.filter { case (n, _) => v.files.contains(n) })
      assert(originals.count(v.files.contains) == 2)
      assert(v.entries.filter(e => originals.contains(e.name))
        .flatMap(_.dv).map(_.cardinality).sum == 5)
      // final state: [0,15) intact, evens of [15,30) zeroed, [30,40) new
      val rows = spark.sql(
        s"SELECT doc_id, n_words FROM $cat.t ORDER BY doc_id").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSeq
      val expected =
        (0L until 15L).map(i => (i, (i % 91 + 9).toInt)) ++
        (15L until 30L).filter(_ % 2 == 0).map(i => (i, 0)) ++
        (30L until 40L).map(i => (i, (i % 91 + 9).toInt))
      assert(rows == expected.sortBy(_._1))
    }
  }

  test("manifest aggregate pushdown: unfiltered COUNT/MIN/MAX answer from " +
      "the manifest (DV-exact for COUNT, DV-declined for MIN/MAX)") {
    OpsUtil.withScratchCatalog(spark, "dv_agg") { (cat, wh) =>
      docsRange(40)
        .repartitionByRange(4, org.apache.spark.sql.functions.col("doc_id"))
        .writeTo(s"$cat.t").tableProperty("versioned", "true")
        .tableProperty("delete.mode", "merge-on-read").create()
      def planOf(sql: String): String =
        spark.sql(sql).queryExecution.executedPlan.toString
      def one(sql: String): Long = spark.sql(sql).head().getLong(0)

      // pushed: plan carries the manifest-agg scan, zero data files read
      assert(planOf(s"SELECT COUNT(*) FROM $cat.t").contains("manifest-agg"))
      assert(one(s"SELECT COUNT(*) FROM $cat.t") == 40)
      assert(planOf(s"SELECT MIN(doc_id), MAX(fp), MAX(n_words) FROM $cat.t")
        .contains("manifest-agg"))
      assert(one(s"SELECT MIN(doc_id) FROM $cat.t") == 0)
      assert(spark.sql(s"SELECT MAX(n_words) FROM $cat.t").head().getInt(0) ==
        (0 until 40).map(i => i % 91 + 9).max)

      // a WHERE keeps the ordinary path (stats can't answer it exactly)
      assert(!planOf(s"SELECT COUNT(*) FROM $cat.t WHERE doc_id > 5")
        .contains("manifest-agg"))

      // after a MOR delete: COUNT stays pushed and is DV-adjusted;
      // MIN/MAX decline (a mask could hide the extremum) but stay exact
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id % 7 = 3")
      assert(planOf(s"SELECT COUNT(*) FROM $cat.t").contains("manifest-agg"))
      assert(one(s"SELECT COUNT(*) FROM $cat.t") == 34)
      assert(!planOf(s"SELECT MIN(doc_id) FROM $cat.t").contains("manifest-agg"))
      assert(one(s"SELECT MIN(doc_id) FROM $cat.t") == 0)

      // time travel: the pinned manifest answers the pinned count
      assert(one(s"SELECT COUNT(*) FROM $cat.t VERSION AS OF 1") == 40)
      assert(planOf(s"SELECT COUNT(*) FROM $cat.t VERSION AS OF 1")
        .contains("manifest-agg"))
    }
  }

  test("change feed startingVersion: a fresh stream tails from the named " +
      "commit instead of the initial snapshot; vacuumed starts reject") {
    val sink = Files.createTempDirectory("graft_sv_sink")
    val cp = Files.createTempDirectory("graft_sv_cp")
    try OpsUtil.withScratchCatalog(spark, "dv_sv") { (cat, wh) =>
      docsRange(20).writeTo(s"$cat.t")
        .tableProperty("versioned", "true").create() // v0 enable, v1 CTAS
      def insertRange(lo: Int, hi: Int): Unit = {
        docsRange(hi).filter(
          org.apache.spark.sql.functions.col("doc_id") >= lo)
          .createOrReplaceTempView(s"${cat}_ins")
        spark.sql(s"INSERT INTO $cat.t SELECT * FROM ${cat}_ins")
        spark.catalog.dropTempView(s"${cat}_ins")
      }
      insertRange(20, 25) // v2
      insertRange(25, 30) // v3
      val q = spark.readStream.option("startingVersion", "2")
        .table(s"$cat.t")
        .writeStream.format("parquet")
        .option("path", sink.toString)
        .option("checkpointLocation", cp.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000))
      val ids = spark.read.parquet(sink.toString)
        .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
      assert(ids == (20L until 30L),
        s"only v2+v3 rows must stream, not the v1 snapshot: $ids")

      // a start whose diff base was vacuumed rejects loudly
      GraftVersions.vacuum(wh.resolve("t"), keepLast = 2) // keeps v2,v3
      val cp2 = Files.createTempDirectory("graft_sv_cp2")
      try {
        val e = intercept[Exception] {
          val q2 = spark.readStream.option("startingVersion", "2")
            .table(s"$cat.t")
            .writeStream.format("parquet")
            .option("path", sink.toString)
            .option("checkpointLocation", cp2.toString)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q2.awaitTermination(120000)
          q2.exception.foreach(throw _)
        }
        assert(e.getMessage != null &&
          e.getMessage.contains("startingVersion"), e.getMessage)
      } finally org.apache.commons.io.FileUtils.deleteDirectory(cp2.toFile)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(sink.toFile)
      org.apache.commons.io.FileUtils.deleteDirectory(cp.toFile)
    }
  }

  test("SHOW TBLPROPERTIES exposes the persisted store and versioning state") {
    OpsUtil.withScratchCatalog(spark, "dv_props") { (cat, wh) =>
      docsRange(10).writeTo(s"$cat.t")
        .tableProperty("versioned", "true")
        .tableProperty("delete.mode", "merge-on-read")
        .tableProperty("check.pos", "n_words > 0").create()
      val props = spark.sql(s"SHOW TBLPROPERTIES $cat.t").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(props.get("versioned").contains("true"))
      assert(props.get("delete.mode").contains("merge-on-read"))
      assert(props.get("check.pos").contains("n_words > 0"))
      // ALTER is visible immediately
      spark.sql(s"ALTER TABLE $cat.t UNSET TBLPROPERTIES ('check.pos')")
      val after = spark.sql(s"SHOW TBLPROPERTIES $cat.t").collect()
        .map(_.getString(0)).toSet
      assert(!after.contains("check.pos"))
    }
  }

  test("change feed: a deletion-vector commit fails the stream unless " +
      "ignoreDeletes, which skips it and keeps tailing") {
    val sink1 = Files.createTempDirectory("graft_dv_feed_sink1")
    val sink2 = Files.createTempDirectory("graft_dv_feed_sink2")
    val cp1 = Files.createTempDirectory("graft_dv_feed_cp1")
    val cp2 = Files.createTempDirectory("graft_dv_feed_cp2")
    try OpsUtil.withScratchCatalog(spark, "dv_feed") { (cat, wh) =>
      docsRange(20).writeTo(s"$cat.t")
        .tableProperty("versioned", "true")
        .tableProperty("delete.mode", "merge-on-read").create()
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id % 4 = 1")
      val dir = wh.resolve("t")

      def drain(sink: java.nio.file.Path, cp: java.nio.file.Path,
          opts: Map[String, String]): Unit = {
        var reader = spark.readStream
        opts.foreach { case (k, v) => reader = reader.option(k, v) }
        val q = reader.table(s"$cat.t").writeStream.format("parquet")
          .option("path", sink.toString)
          .option("checkpointLocation", cp.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        assert(q.awaitTermination(120000), "drain did not terminate")
      }

      // default: the delete commit poisons the feed (its pre-delete
      // batches still land in sink1 — batch admission is per commit)
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        drain(sink1, cp1, Map.empty)
      }
      assert(e.getMessage.contains("ignoreDeletes"), e.getMessage)

      // ignoreDeletes: v1's files stream once, the delete commit
      // contributes nothing, a later append still arrives
      drain(sink2, cp2, Map("ignoreDeletes" -> "true"))
      spark.sql(s"INSERT INTO $cat.t SELECT 500L, 'late', 5L, 5")
      drain(sink2, cp2, Map("ignoreDeletes" -> "true"))
      val ids = spark.read.parquet(sink2.toString)
        .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
      // the feed re-emits the APPENDED files' full contents (the
      // admission unit is the commit; masks are not retroactive on
      // already-emitted appends), skips the delete, tails the insert
      assert(ids == ((0L until 20L) :+ 500L),
        s"feed must emit v1's files once and the late append: $ids")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(sink1.toFile)
      org.apache.commons.io.FileUtils.deleteDirectory(sink2.toFile)
      org.apache.commons.io.FileUtils.deleteDirectory(cp1.toFile)
      org.apache.commons.io.FileUtils.deleteDirectory(cp2.toFile)
    }
  }
}
