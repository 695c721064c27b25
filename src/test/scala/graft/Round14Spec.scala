package graft

import java.nio.file.Files

import graft.ops.OpsUtil
import graft.sources.{GraftBucketFunction, GraftVersions}

/** Round-14 specs, across the round's waves:
  *
  *  - the advisor's findings: the feed's commit taxonomy
  *    (rewrite/update commits — adds AND removes rows — demand
  *    `ignoreChanges` even when `ignoreDeletes` is set; removal-only
  *    delete commits skip under `ignoreDeletes` alone — Delta's
  *    contract on both edges); `bucket()` floored mod so the V2
  *    function agrees with the writer for NEGATIVE ids; property
  *    hygiene (unknown keys error with the persistable-key list,
  *    row-level mode values validated at CREATE and ALTER);
  *  - ADD COLUMN schema evolution: NULL backfill without rewrites,
  *    typed round-trips, pre-evolution time travel, append-only
  *    rejections, and composition with COW/MOR/OPTIMIZE/the feed;
  *  - the Change Data Feed: row-exact MOR images, COW rejection,
  *    batch-read guard;
  *  - optimistic concurrency: disjoint racers land, overlapping
  *    scopes and stale overwrites fail with ConcurrentCommitException,
  *    MOR deletes merge commutatively while MOR updates conflict;
  *  - sidecar blobs: bounded manifest lines, @offset:length refs,
  *    round-trips through OPTIMIZE/RESTORE/vacuum.
  */
class Round14Spec extends SparkSpec {

  private def docsRange(rows: Int) =
    spark.read.format("graft.sources.GraftDocsSource")
      .option("rows", rows.toString).load()

  private def drain(cat: String, sink: java.nio.file.Path,
      cp: java.nio.file.Path, opts: Map[String, String]): Unit = {
    var reader = spark.readStream
    opts.foreach { case (k, v) => reader = reader.option(k, v) }
    val q = reader.table(s"$cat.t").writeStream.format("parquet")
      .option("path", sink.toString)
      .option("checkpointLocation", cp.toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "drain did not terminate")
    q.exception.foreach(throw _)
  }

  test("change feed: a MOR UPDATE commit demands ignoreChanges — " +
      "ignoreDeletes alone must NOT admit it") {
    val sinks = Seq.fill(3)(Files.createTempDirectory("graft_r14_sink"))
    val cps = Seq.fill(3)(Files.createTempDirectory("graft_r14_cp"))
    try OpsUtil.withScratchCatalog(spark, "r14_morup") { (cat, wh) =>
      docsRange(20).writeTo(s"$cat.t")
        .tableProperty("versioned", "true")
        .tableProperty("update.mode", "merge-on-read").create()
      spark.sql(s"UPDATE $cat.t SET n_words = 999 WHERE doc_id = 3")
      val v = GraftVersions.latest(wh.resolve("t")).get
      // precondition: the commit really is a MOR update — DV growth on
      // a retained base file PLUS a replacement file (the shape the
      // old subset test misclassified as "just deletes")
      assert(v.entries.exists(_.dv.exists(_.cardinality > 0)))
      assert(v.files.exists(f => !GraftVersions.manifest(wh.resolve("t"), 1)
        .files.contains(f)), "update must add a replacement file")

      // ignoreDeletes=true alone: still rejected, pointing at ignoreChanges
      val e = intercept[Exception] {
        drain(cat, sinks(0), cps(0), Map("ignoreDeletes" -> "true"))
      }
      def causes(t: Throwable): Seq[String] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .map(_.getMessage).filter(_ != null).toSeq
      assert(causes(e).exists(_.contains("ignoreChanges")),
        causes(e).mkString(" | "))
      // and the error must NOT have been the ignoreDeletes-suggesting one
      assert(!causes(e).exists(_.contains("Set option(\"ignoreDeletes\"")),
        causes(e).mkString(" | "))

      // ignoreChanges admits it: the replacement row re-emits
      drain(cat, sinks(1), cps(1), Map("ignoreChanges" -> "true"))
      val rows = spark.read.parquet(sinks(1).toString)
        .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("n_words")))
      assert(rows.count(_._1 == 3L) == 2,
        s"doc 3 must appear twice (original + post-update): ${rows.toSeq}")
      assert(rows.contains((3L, 999)))
    } finally {
      (sinks ++ cps).foreach(p =>
        org.apache.commons.io.FileUtils.deleteDirectory(p.toFile))
    }
  }

  test("change feed: a removal-only delete commit (whole file dropped) " +
      "skips under ignoreDeletes — it must not demand ignoreChanges") {
    val sinks = Seq.fill(2)(Files.createTempDirectory("graft_r14_fsink"))
    val cps = Seq.fill(2)(Files.createTempDirectory("graft_r14_fcp"))
    try OpsUtil.withScratchCatalog(spark, "r14_filedrop") { (cat, wh) =>
      import org.apache.spark.sql.functions.col
      docsRange(20).repartitionByRange(2, col("doc_id"))
        .writeTo(s"$cat.t").tableProperty("versioned", "true").create()
      // predicate aligned with one whole file: the delete drops the
      // file from the snapshot without writing anything
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id < 10")
      val t = wh.resolve("t")
      val v1 = GraftVersions.manifest(t, 1)
      val v2 = GraftVersions.latest(t).get
      assert(v2.files.toSet.subsetOf(v1.files.toSet) &&
        v2.files.length < v1.files.length,
        s"precondition: removal-only commit; v1=${v1.files} v2=${v2.files}")

      // strict: rejected, and the fix-it hint is ignoreDeletes (this was
      // the advisor's low finding: the old subset test called this a
      // 'rewrite' and demanded ignoreChanges)
      val e = intercept[Exception] { drain(cat, sinks(0), cps(0), Map.empty) }
      def causes(t2: Throwable): Seq[String] =
        Iterator.iterate(t2)(_.getCause).takeWhile(_ != null)
          .map(_.getMessage).filter(_ != null).toSeq
      assert(causes(e).exists(_.contains("ignoreDeletes")),
        causes(e).mkString(" | "))
      assert(!causes(e).exists(_.contains("rewrite")),
        causes(e).mkString(" | "))

      // ignoreDeletes: v1 streams, the drop contributes nothing, a
      // later append still arrives
      drain(cat, sinks(1), cps(1), Map("ignoreDeletes" -> "true"))
      spark.sql(s"INSERT INTO $cat.t SELECT 500L, 'late', 5L, 5")
      drain(cat, sinks(1), cps(1), Map("ignoreDeletes" -> "true"))
      val ids = spark.read.parquet(sinks(1).toString)
        .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
      assert(ids == ((0L until 20L) :+ 500L), s"got $ids")
    } finally {
      (sinks ++ cps).foreach(p =>
        org.apache.commons.io.FileUtils.deleteDirectory(p.toFile))
    }
  }

  test("bucket() agrees with the writer's floored-mod fan-out for all " +
      "long ids, negatives included") {
    import org.apache.spark.sql.catalyst.InternalRow
    val bound = GraftBucketFunction.Bound
    for (n <- Seq(1, 3, 8, 32);
         id <- Seq(0L, 1L, -1L, 7L, -7L, Long.MaxValue, Long.MinValue + 1,
           -1000000007L)) {
      val writerBucket = (((id % n) + n) % n).toInt
      val fnBucket = bound.produceResult(InternalRow(n, id))
      assert(fnBucket == writerBucket,
        s"bucket($n, $id): function=$fnBucket writer=$writerBucket")
      assert(fnBucket >= 0 && fnBucket < n, s"out of range: $fnBucket")
    }
  }

  test("ADD COLUMN evolution: NULL backfill, typed round-trip, " +
      "pre-evolution time travel, and rejected unsafe changes") {
    OpsUtil.withScratchCatalog(spark, "r14_evo") { (cat, wh) =>
      import org.apache.spark.sql.functions._
      docsRange(10).writeTo(s"$cat.t")
        .tableProperty("versioned", "true").create()
      spark.sql(s"ALTER TABLE $cat.t ADD COLUMNS (score BIGINT)")
      spark.sql(s"ALTER TABLE $cat.t ADD COLUMNS (lang STRING)")

      // old rows: both added columns read as NULL (no rewrite happened
      // — the part file bytes still hold 4 cells per row)
      assert(spark.table(s"$cat.t").filter(col("score").isNotNull ||
        col("lang").isNotNull).count() == 0)

      // new rows carry values; explicit NULL round-trips
      spark.sql(s"INSERT INTO $cat.t VALUES " +
        "(100, 'a', 1, 5, 7, 'fi'), (101, 'b', 2, 6, NULL, NULL)")
      val got = spark.table(s"$cat.t").filter(col("doc_id") >= 100)
        .orderBy("doc_id")
        .collect().map(r => (r.getAs[Long]("doc_id"),
          Option(r.getAs[java.lang.Long]("score")),
          Option(r.getAs[String]("lang"))))
      assert(got.toSeq == Seq((100L, Some(java.lang.Long.valueOf(7L)),
        Some("fi")), (101L, None, None)), got.toSeq.toString)

      // time travel below the evolution commits: the old 4-column shape
      val pre = spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 1")
      assert(pre.columns.toSeq ==
        Seq("doc_id", "title", "fp", "n_words"), pre.columns.toSeq)
      // between the two ADDs: score visible, lang not yet
      val mid = spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 2")
      assert(mid.columns.toSeq ==
        Seq("doc_id", "title", "fp", "n_words", "score"), mid.columns.toSeq)

      // rejected evolutions: type change, base-column mutation,
      // non-nullable, duplicate, unsupported type (RENAME/DROP of
      // EVOLVED columns are legal — covered by their own test)
      def rejects(sql: String, needle: String): Unit = {
        val e = intercept[Exception] { spark.sql(sql) }
        def causes(t: Throwable) =
          Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
            .map(_.getMessage).filter(_ != null).toSeq
        assert(causes(e).exists(_.contains(needle)),
          s"$sql → ${causes(e).mkString(" | ")}")
      }
      rejects(s"ALTER TABLE $cat.t ALTER COLUMN n_words TYPE BIGINT",
        "physical identity")
      rejects(s"ALTER TABLE $cat.t RENAME COLUMN title TO heading",
        "physical identity")
      rejects(s"ALTER TABLE $cat.t DROP COLUMN doc_id", "physical identity")
      rejects(s"ALTER TABLE $cat.t ADD COLUMNS (bad DOUBLE)",
        "evolvable types")
      rejects(s"ALTER TABLE $cat.t ADD COLUMNS (score BIGINT)",
        "already exists")
      rejects(s"ALTER TABLE $cat.t ADD COLUMNS (strict BIGINT NOT NULL)",
        "nullable")
    }
  }

  test("evolution composes with UPDATE, MOR, OPTIMIZE, and the feed: " +
      "added values survive rewrites, masks, and compaction") {
    val sink = Files.createTempDirectory("graft_r14_evsink")
    val cp = Files.createTempDirectory("graft_r14_evcp")
    try OpsUtil.withScratchCatalog(spark, "r14_evoc") { (cat, wh) =>
      import org.apache.spark.sql.functions._
      docsRange(12).writeTo(s"$cat.t")
        .tableProperty("versioned", "true")
        .tableProperty("delete.mode", "merge-on-read").create()
      spark.sql(s"ALTER TABLE $cat.t ADD COLUMNS (score BIGINT)")
      // COW UPDATE writes the evolved cells (matched rows get values,
      // carried-over rows of touched files get explicit \N)
      spark.sql(s"UPDATE $cat.t SET score = doc_id * 10 WHERE doc_id < 4")
      // MOR DELETE masks rows without disturbing evolved cells
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id = 1")
      val t = wh.resolve("t")
      // OPTIMIZE rewrites live rows — evolved values must ride along
      GraftVersions.compact(spark, t, targetFiles = 1)
      val rows = spark.table(s"$cat.t").orderBy("doc_id")
        .select("doc_id", "score").collect()
        .map(r => (r.getLong(0), Option(r.getAs[java.lang.Long]("score"))))
      assert(rows.length == 11 && !rows.exists(_._1 == 1L))
      assert(rows.filter(_._1 < 4).forall { case (id, s) =>
        s.contains(java.lang.Long.valueOf(id * 10)) }, rows.toSeq.toString)
      assert(rows.filter(_._1 >= 4).forall(_._2.isEmpty))
      // the change feed streams the evolved schema (fresh stream over
      // the whole history needs ignoreChanges for the update commit)
      val q = spark.readStream.option("ignoreChanges", "true")
        .option("ignoreDeletes", "true").table(s"$cat.t")
        .writeStream.format("parquet")
        .option("path", sink.toString)
        .option("checkpointLocation", cp.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000), "feed drain did not terminate")
      val feed = spark.read.parquet(sink.toString)
      assert(feed.columns.contains("score"))
      assert(feed.filter(col("doc_id") === 3 && col("score") === 30).count() >= 1)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(sink.toFile)
      org.apache.commons.io.FileUtils.deleteDirectory(cp.toFile)
    }
  }

  test("RENAME/DROP by field id: names relabel, slots never move, " +
      "time travel replays the pre-mutation shape") {
    OpsUtil.withScratchCatalog(spark, "r14_mut") { (cat, wh) =>
      import org.apache.spark.sql.functions._
      docsRange(6).writeTo(s"$cat.t")
        .tableProperty("versioned", "true").create()              // v0, v1
      spark.sql(
        s"ALTER TABLE $cat.t ADD COLUMNS (score BIGINT, lang STRING)") // v2, v3
      spark.sql(s"INSERT INTO $cat.t VALUES (100, 'x', 1, 5, 7, 'fi')") // v4
      spark.sql(s"ALTER TABLE $cat.t RENAME COLUMN score TO quality")   // v5
      // the renamed column answers under its new name, values intact;
      // the old name is gone
      val renamed = spark.table(s"$cat.t").filter(col("doc_id") === 100)
        .select("quality", "lang").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      assert(renamed.toSeq == Seq((7L, "fi")), renamed.toSeq.toString)
      assert(!spark.table(s"$cat.t").columns.contains("score"))
      // writes address the new name
      spark.sql(s"INSERT INTO $cat.t VALUES (101, 'y', 2, 6, 8, 'sv')") // v6
      // DROP hides the column; its registry slot stays occupied
      spark.sql(s"ALTER TABLE $cat.t DROP COLUMN lang")                 // v7
      assert(spark.table(s"$cat.t").columns.toSeq ==
        Seq("doc_id", "title", "fp", "n_words", "quality"))
      // name reuse at a NEW position with a NEW type — field-id
      // addressing means the dropped string cells stay unreachable
      spark.sql(s"ALTER TABLE $cat.t ADD COLUMNS (lang BIGINT)")        // v8
      spark.sql(s"INSERT INTO $cat.t VALUES (102, 'z', 3, 7, 9, 42)")   // v9
      val live = spark.table(s"$cat.t").filter(col("doc_id") >= 100)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getAs[java.lang.Long]("quality"),
          Option(r.getAs[java.lang.Long]("lang"))))
      assert(live.toSeq == Seq(
        (100L, java.lang.Long.valueOf(7L), None),
        (101L, java.lang.Long.valueOf(8L), None),
        (102L, java.lang.Long.valueOf(9L), Some(java.lang.Long.valueOf(42L)))),
        live.toSeq.toString)
      // ...and the drop rewrote NOTHING: the raw file bytes still hold
      // the dropped cells (time travel depends on them)
      val t = wh.resolve("t")
      val partText = {
        val s = Files.list(t)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.filter(_.getFileName.toString
            .startsWith("part-")).map(p =>
            new String(Files.readAllBytes(p))).mkString
        } finally s.close()
      }
      assert(partText.contains("\tfi"), "dropped cells must stay on disk")

      // time travel: the pre-rename NAME at v4, the pre-drop STRING
      // column at v6 — the mutation log replays only up to the pin
      val v4 = spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 4")
      assert(v4.columns.toSeq ==
        Seq("doc_id", "title", "fp", "n_words", "score", "lang"),
        v4.columns.toSeq.toString)
      val v4row = v4.filter(col("doc_id") === 100)
        .select("score", "lang").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      assert(v4row.toSeq == Seq((7L, "fi")))
      val v6 = spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 6")
      assert(v6.columns.contains("quality") &&
        v6.schema("lang").dataType ==
          org.apache.spark.sql.types.StringType)
      assert(v6.select(countDistinct("lang")).collect().head.getLong(0) == 2L)

      // guards: taken names, base columns, registry-unsafe identifiers,
      // and CHECK-constraint references all refuse loudly
      def rejects(sql: String, needle: String): Unit = {
        val e = intercept[Exception] { spark.sql(sql) }
        def causes(th: Throwable) =
          Iterator.iterate(th)(_.getCause).takeWhile(_ != null)
            .map(_.getMessage).filter(_ != null).toSeq
        assert(causes(e).exists(_.contains(needle)),
          s"$sql → ${causes(e).mkString(" | ")}")
      }
      rejects(s"ALTER TABLE $cat.t RENAME COLUMN lang TO quality",
        "already exists")
      rejects(s"ALTER TABLE $cat.t RENAME COLUMN doc_id TO id",
        "physical identity")
      rejects(s"ALTER TABLE $cat.t RENAME COLUMN lang TO `a:b`",
        "plain identifier")
      spark.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES " +
        "('check.qpos'='quality IS NULL OR quality > 0')")
      rejects(s"ALTER TABLE $cat.t RENAME COLUMN quality TO grade",
        "CHECK constraint")
      rejects(s"ALTER TABLE $cat.t DROP COLUMN quality",
        "CHECK constraint")
      spark.sql(s"ALTER TABLE $cat.t UNSET TBLPROPERTIES ('check.qpos')")
      spark.sql(s"ALTER TABLE $cat.t RENAME COLUMN quality TO grade")
      assert(spark.table(s"$cat.t").columns.contains("grade"))

      // every mutation is its own metadata-only commit with the right
      // label, and none of them is a data change
      val vs = GraftVersions.listVersions(t)
      assert(vs.map(_.op).count(_ == "rename-column") == 2)
      assert(vs.map(_.op).count(_ == "drop-column") == 1)
      assert(vs.filter(v => v.op == "rename-column" ||
        v.op == "drop-column").forall(!_.dataChange))
    }
  }

  test("INT -> BIGINT widening: metadata-only, time travel keeps the " +
      "old type, non-widening changes refuse") {
    OpsUtil.withScratchCatalog(spark, "r14_widen") { (cat, wh) =>
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types.{IntegerType, LongType}
      docsRange(4).writeTo(s"$cat.t")
        .tableProperty("versioned", "true").create()               // v0, v1
      spark.sql(s"ALTER TABLE $cat.t ADD COLUMNS (hits INT, aux INT)") // v2, v3
      spark.sql(s"INSERT INTO $cat.t VALUES (100, 'x', 1, 5, 7, 1)")   // v4
      assert(spark.table(s"$cat.t").schema("hits").dataType == IntegerType)
      spark.sql(s"ALTER TABLE $cat.t ALTER COLUMN hits TYPE BIGINT")   // v5
      assert(spark.table(s"$cat.t").schema("hits").dataType == LongType)
      // a value outside int range now lands — only files AFTER the
      // widen can hold one, so pre-widen pins never misparse
      spark.sql(
        s"INSERT INTO $cat.t VALUES (101, 'y', 2, 6, 5000000000, 2)")  // v6
      val sums = spark.table(s"$cat.t")
        .agg(sum("hits")).collect().head.getLong(0)
      assert(sums == 5000000007L, sums.toString)
      // time travel below the widen: the old INT shape, old cells intact
      val pre = spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 4")
      assert(pre.schema("hits").dataType == IntegerType)
      assert(pre.filter(col("doc_id") === 100).select("hits")
        .collect().head.getInt(0) == 7)
      // widening composes with rename: the field id carries both
      spark.sql(s"ALTER TABLE $cat.t RENAME COLUMN hits TO clicks")    // v7
      assert(spark.table(s"$cat.t").schema("clicks").dataType == LongType)
      assert(spark.table(s"$cat.t").agg(sum("clicks"))
        .collect().head.getLong(0) == 5000000007L)

      def rejects(sql: String, needle: String): Unit = {
        val e = intercept[Exception] { spark.sql(sql) }
        def causes(th: Throwable) =
          Iterator.iterate(th)(_.getCause).takeWhile(_ != null)
            .map(_.getMessage).filter(_ != null).toSeq
        assert(causes(e).exists(_.contains(needle)),
          s"$sql → ${causes(e).mkString(" | ")}")
      }
      // non-widening type change on an evolved column (int -> double
      // IS a Spark upcast, so it reaches the catalog and must refuse)
      rejects(s"ALTER TABLE $cat.t ALTER COLUMN aux TYPE DOUBLE",
        "value-preserving")
      // base columns stay immutable
      rejects(s"ALTER TABLE $cat.t ALTER COLUMN n_words TYPE BIGINT",
        "physical identity")
      // narrowing is rejected (by Spark's upcast check or the catalog)
      intercept[Exception] {
        spark.sql(s"ALTER TABLE $cat.t ALTER COLUMN clicks TYPE INT")
      }
      val ops = GraftVersions.listVersions(wh.resolve("t")).map(_.op)
      assert(ops.count(_ == "widen-column") == 1, ops.toString)
    }
  }

  test("column DEFAULTs: pre-ADD rows read the exists-default, INSERT " +
      "omissions fill the current default, explicit NULL survives") {
    OpsUtil.withScratchCatalog(spark, "r14_dflt") { (cat, wh) =>
      import org.apache.spark.sql.functions._
      docsRange(6).writeTo(s"$cat.t")
        .tableProperty("versioned", "true").create()              // v0, v1
      spark.sql(s"ALTER TABLE $cat.t ADD COLUMNS " +
        "(tier STRING DEFAULT 'bronze', boost BIGINT DEFAULT 10)") // v2, v3
      // exists-default: all pre-ADD rows read it (not NULL), with no
      // rewrite — the part files still hold 4 cells per row
      val old = spark.table(s"$cat.t")
        .agg(sum(when(col("tier") === "bronze", 1).otherwise(0)),
          sum("boost")).collect().head
      assert(old.getLong(0) == 6L && old.getLong(1) == 60L, old.toString)
      // current-default: a column-list INSERT omitting them fills both
      spark.sql(s"INSERT INTO $cat.t (doc_id, title, fp, n_words) " +
        "VALUES (100, 'x', 1, 5)")
      // the DEFAULT keyword resolves too
      spark.sql(
        s"INSERT INTO $cat.t VALUES (101, 'y', 2, 6, DEFAULT, DEFAULT)")
      // explicit NULL is NOT shadowed by the default (the \\N sentinel
      // in a full-width row is a deliberate NULL)
      spark.sql(s"INSERT INTO $cat.t VALUES (102, 'z', 3, 7, NULL, NULL)")
      val got = spark.table(s"$cat.t").filter(col("doc_id") >= 100)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), Option(r.getAs[String]("tier")),
          Option(r.getAs[java.lang.Long]("boost"))))
      assert(got.toSeq == Seq(
        (100L, Some("bronze"), Some(java.lang.Long.valueOf(10L))),
        (101L, Some("bronze"), Some(java.lang.Long.valueOf(10L))),
        (102L, None, None)), got.toSeq.toString)
      // a COW rewrite bakes the default into carried-over rows without
      // changing what they say — and keeps the explicit NULL a NULL
      spark.sql(s"UPDATE $cat.t SET n_words = 0 WHERE doc_id = 0")
      val post = spark.table(s"$cat.t")
        .filter(col("doc_id") === 0 || col("doc_id") === 102)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), Option(r.getAs[String]("tier"))))
      assert(post.toSeq == Seq((0L, Some("bronze")), (102L, None)),
        post.toSeq.toString)
      // DEFAULT NULL on a nullable column = no default
      spark.sql(
        s"ALTER TABLE $cat.t ADD COLUMNS (note STRING DEFAULT NULL)")
      assert(spark.table(s"$cat.t").filter(col("note").isNotNull)
        .collect().isEmpty)
      // defaults are frozen at ADD time
      val e = intercept[Exception] {
        spark.sql(s"ALTER TABLE $cat.t ALTER COLUMN tier SET DEFAULT 'x'")
      }
      def causes(th: Throwable) =
        Iterator.iterate(th)(_.getCause).takeWhile(_ != null)
          .map(_.getMessage).filter(_ != null).toSeq
      assert(causes(e).exists(_.contains("frozen")),
        causes(e).mkString(" | "))
      // rename keeps the default riding on the field id
      spark.sql(s"ALTER TABLE $cat.t RENAME COLUMN tier TO grade")
      assert(spark.table(s"$cat.t").filter(col("doc_id") === 1)
        .select("grade").collect().head.getString(0) == "bronze")
      // time travel below the ADD presents the pre-default shape
      assert(!spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 1")
        .columns.contains("tier"))
    }
  }

  test("concurrent DDL serializes under the table lock: racing ADD " +
      "COLUMNs both land") {
    OpsUtil.withScratchCatalog(spark, "r14_ddlrace") { (cat, wh) =>
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      docsRange(4).writeTo(s"$cat.t")
        .tableProperty("versioned", "true").create()
      val adds = (1 to 4).map { i =>
        Future { spark.sql(s"ALTER TABLE $cat.t ADD COLUMNS (c$i BIGINT)") }
      }
      Await.result(Future.sequence(adds), 60.seconds)
      // all four registry appends survived the race (before the DDL
      // lock, a read-modify-write interleave could drop one silently)
      val cols = spark.table(s"$cat.t").columns.toSet
      assert((1 to 4).forall(i => cols(s"c$i")), cols.toString)
      val ops = GraftVersions.listVersions(wh.resolve("t")).map(_.op)
      assert(ops.count(_ == "add-column") == 4, ops.toString)
      // and the registry indices are distinct consecutive slots
      val added = graft.sources.GraftSchemas
        .effectiveAdded(wh.resolve("t"))
      assert(added.map(_.idx).toSeq == (0 until 4), added.toString)
    }
  }

  test("sidecar blobs: blooms and large DVs leave the manifest lines, " +
      "survive OPTIMIZE/RESTORE/vacuum, and still prune") {
    OpsUtil.withScratchCatalog(spark, "r14_sidecar") { (cat, wh) =>
      import org.apache.spark.sql.functions.col
      docsRange(600).repartitionByRange(3, col("doc_id"))
        .writeTo(s"$cat.t")
        .tableProperty("versioned", "true")
        .tableProperty("bloom.columns", "title")
        .tableProperty("delete.mode", "merge-on-read").create()
      val t = wh.resolve("t")
      val vdir = t.resolve("_versions")
      // a large MOR delete so the DV also crosses the inline threshold
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id % 2 = 0")

      def manifestLines(v: Long) =
        java.nio.file.Files.readAllLines(
          vdir.resolve(f"v$v%05d.manifest")).toArray.map(_.toString)
      // bounded lines: blob tokens are @offset:length refs, and no
      // line carries a multi-KB base64 payload
      val lines = manifestLines(2).drop(1)
      assert(lines.forall(_.length < 300),
        s"manifest lines must stay bounded: ${lines.map(_.length).toSeq}")
      assert(lines.exists(_.contains("bloom=@")), lines.mkString("\n"))
      assert(lines.exists(_.contains("dv=@")), lines.mkString("\n"))
      def sidecarsOf(v: String): Seq[String] = {
        val l = Files.list(vdir)
        try {
          import scala.jdk.CollectionConverters._
          l.iterator().asScala.map(_.getFileName.toString)
            .filter(n => n.startsWith(v) && n.endsWith(".sidecar")).toSeq
        } finally l.close()
      }
      assert(sidecarsOf("v00002").nonEmpty)

      // blobs read back: DV cardinality and bloom behavior intact
      val v2 = GraftVersions.manifest(t, 2)
      assert(v2.entries.flatMap(_.dv).map(_.cardinality).sum == 300)
      val withBloom = v2.entries.filter(_.bloom.isDefined)
      assert(withBloom.nonEmpty)
      assert(withBloom.exists(_.mayContainValue("title", "doc-1")))
      assert(withBloom.forall(!_.mayContainValue("title", "no-such-doc")))

      // OPTIMIZE re-serializes blobs under the compacted names;
      // RESTORE re-serializes the old snapshot's into a new sidecar
      GraftVersions.compact(spark, t, targetFiles = 1) // v3
      assert(GraftVersions.latest(t).get.entries.forall(_.bloom.isDefined))
      GraftVersions.restore(t, 2) // v4
      val restored = GraftVersions.latest(t).get
      assert(restored.entries.flatMap(_.dv).map(_.cardinality).sum == 300)

      // vacuum: expired manifests take their sidecars with them,
      // retained snapshots keep working
      GraftVersions.vacuum(t, keepLast = 2) // keeps v3, v4
      assert(sidecarsOf("v00002").isEmpty)
      assert(!Files.exists(vdir.resolve("v00002.manifest")))
      val live = spark.table(s"$cat.t").count()
      assert(live == 300, s"post-vacuum live rows: $live")
      assert(GraftVersions.latest(t).get.entries
        .exists(_.bloom.exists(_.mightContain(
          graft.sources.GraftBloom.key("title", "doc-1")))))
    }
  }

  test("change data feed: row-exact images for MOR commits, loud " +
      "rejection for file-granular COW rewrites, evolved columns ride") {
    val sink = Files.createTempDirectory("graft_r14_cdfsink")
    val cp = Files.createTempDirectory("graft_r14_cdfcp")
    try OpsUtil.withScratchCatalog(spark, "r14_cdf") { (cat, wh) =>
      import org.apache.spark.sql.functions._
      docsRange(8).writeTo(s"$cat.t")
        .tableProperty("versioned", "true")
        .tableProperty("update.mode", "merge-on-read").create()
      spark.sql(s"ALTER TABLE $cat.t ADD COLUMNS (score BIGINT)")
      spark.sql(s"UPDATE $cat.t SET score = 5 WHERE doc_id = 2")

      def cdfDrain(): Unit = {
        val q = spark.readStream.format("graft.sources.GraftDocsSource")
          .option("path", wh.resolve("t").toString)
          .option("readChangeFeed", "true").load()
          .writeStream.format("parquet")
          .option("path", sink.toString)
          .option("checkpointLocation", cp.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        assert(q.awaitTermination(120000), "cdf drain did not terminate")
        q.exception.foreach(throw _)
      }
      cdfDrain()
      val rows = spark.read.parquet(sink.toString)
        .select("doc_id", "score", "_change_type", "_commit_version")
        .collect().map(r => (r.getLong(0),
          Option(r.getAs[java.lang.Long]("score")), r.getString(2),
          r.getLong(3)))
      // initial snapshot labeled insert at the append commit
      assert(rows.count(_._3 == "insert") == 8)
      assert(rows.filter(_._3 == "insert").forall(_._4 == 1L))
      // the MOR update: preimage carries the OLD score (null), the
      // postimage the new one — evolved columns flow through images
      val pre = rows.filter(_._3 == "update_preimage")
      val post = rows.filter(_._3 == "update_postimage")
      assert(pre.toSeq == Seq((2L, None, "update_preimage", 3L)),
        pre.toSeq.toString)
      assert(post.toSeq ==
        Seq((2L, Some(java.lang.Long.valueOf(5L)), "update_postimage", 3L)),
        post.toSeq.toString)

      // a COW update (no MOR mode) is file-granular: CDF refuses it
      val sink2 = Files.createTempDirectory("graft_r14_cdfsink2")
      val cp2 = Files.createTempDirectory("graft_r14_cdfcp2")
      try OpsUtil.withScratchCatalog(spark, "r14_cdfcow") { (cat2, wh2) =>
        docsRange(8).writeTo(s"$cat2.t")
          .tableProperty("versioned", "true").create()
        spark.sql(s"UPDATE $cat2.t SET n_words = 0 WHERE doc_id = 2")
        val e = intercept[Exception] {
          val q = spark.readStream.format("graft.sources.GraftDocsSource")
            .option("path", wh2.resolve("t").toString)
            .option("readChangeFeed", "true").load()
            .writeStream.format("parquet")
            .option("path", sink2.toString)
            .option("checkpointLocation", cp2.toString)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination(120000)
          q.exception.foreach(throw _)
        }
        def causes(t: Throwable) =
          Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
            .map(_.getMessage).filter(_ != null).toSeq
        assert(causes(e).exists(_.contains("file-granular")),
          causes(e).mkString(" | "))
      } finally {
        org.apache.commons.io.FileUtils.deleteDirectory(sink2.toFile)
        org.apache.commons.io.FileUtils.deleteDirectory(cp2.toFile)
      }

      // batch CDF needs an explicit anchor: without startingVersion
      // the read rejects with guidance (a silent "whole history" would
      // be what time travel is for)
      val eBatch = intercept[Exception] {
        // collect(), not count(): an unfiltered COUNT is answered from
        // the manifest by aggregate pushdown before partitions plan
        spark.read.format("graft.sources.GraftDocsSource")
          .option("path", wh.resolve("t").toString)
          .option("readChangeFeed", "true").load().collect()
      }
      def causes2(t: Throwable) =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .map(_.getMessage).filter(_ != null).toSeq
      assert(causes2(eBatch).exists(_.contains("startingVersion")),
        causes2(eBatch).mkString(" | "))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(sink.toFile)
      org.apache.commons.io.FileUtils.deleteDirectory(cp.toFile)
    }
  }

  test("optimistic concurrency: disjoint-scope racers both land, " +
      "overlapping scopes and stale overwrites fail loudly") {
    import GraftVersions.{FileEntry, ConcurrentCommitException}
    val root = Files.createTempDirectory("graft_r14_occ")
    try {
      GraftVersions.enable(root) // v0
      val a = FileEntry("part-00000-a.tsv", FileEntry.NoStats,
        rows = Some(10L), bytes = Some(100L))
      val b = FileEntry("part-00001-b.tsv", FileEntry.NoStats,
        rows = Some(10L), bytes = Some(100L))
      GraftVersions.advance(root, "append", Some(Set.empty), Seq(a, b)) // v1

      // two writers both plan against v1; writer 1 rewrites A → v2
      val a2 = a.copy(name = "part-00000-a2.tsv")
      GraftVersions.advance(root, "update", Some(Set(a.name)), Seq(a2),
        readVersion = Some(1L)) // lands: base IS v1
      // writer 2's scope {B} is untouched between v1 and v2 → rebases
      val b2 = b.copy(name = "part-00001-b2.tsv")
      val v3 = GraftVersions.advance(root, "update", Some(Set(b.name)),
        Seq(b2), readVersion = Some(1L))
      assert(v3.version == 3L)
      assert(v3.files.toSet == Set(a2.name, b2.name))

      // writer 3 also planned against v1 and targets A — but A was
      // rewritten in v2: stale content, must conflict
      val e = intercept[ConcurrentCommitException] {
        GraftVersions.advance(root, "merge", Some(Set(a.name)),
          Seq(a.copy(name = "part-00000-a3.tsv")), readVersion = Some(1L))
      }
      assert(e.getMessage.contains("planned against snapshot v1"),
        e.getMessage)
      // and the failed commit left no trace
      assert(GraftVersions.latest(root).get.version == 3L)

      // whole-table replacement cannot rebase over ANY concurrent commit
      intercept[ConcurrentCommitException] {
        GraftVersions.advance(root, "overwrite", None, Seq(a2),
          readVersion = Some(2L))
      }

      // MOR: concurrent DELETEs on the same file merge (mask union is
      // the right semantics)...
      GraftVersions.applyDelta(root, Map(a2.name -> Seq(0L)), Nil,
        "delete", readVersion = Some(3L)) // v4
      val v5 = GraftVersions.applyDelta(root, Map(a2.name -> Seq(1L)), Nil,
        "delete", readVersion = Some(3L)) // stale read, still fine
      assert(v5.entries.find(_.name == a2.name).get.dv.get
        .positions.toSeq == Seq(0L, 1L))
      // ...but a MOR UPDATE over a file whose mask moved is a conflict
      // (both racers would land replacement rows for the same logical
      // row — a duplicate)
      intercept[ConcurrentCommitException] {
        GraftVersions.applyDelta(root, Map(a2.name -> Seq(2L)),
          Seq(a.copy(name = "part-00000-a4.tsv")), "update",
          readVersion = Some(3L))
      }
      // with a current readVersion the same update lands
      val v6 = GraftVersions.applyDelta(root, Map(a2.name -> Seq(2L)),
        Seq(a.copy(name = "part-00000-a4.tsv")), "update",
        readVersion = Some(5L))
      assert(v6.version == 6L)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }

  test("table properties: unknown keys and bad mode values fail with " +
      "actionable errors at CREATE and ALTER") {
    OpsUtil.withScratchCatalog(spark, "r14_props") { (cat, wh) =>
      // CREATE with a typo'd mode value: rejected up front, naming the
      // legal values — not silently falling back to copy-on-write
      val eCreate = intercept[Exception] {
        docsRange(5).writeTo(s"$cat.bad")
          .tableProperty("versioned", "true")
          .tableProperty("delete.mode", "merge_on_read").create()
      }
      def causes(t: Throwable): Seq[String] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .map(_.getMessage).filter(_ != null).toSeq
      assert(causes(eCreate).exists(m =>
        m.contains("merge-on-read") && m.contains("copy-on-write")),
        causes(eCreate).mkString(" | "))

      docsRange(5).writeTo(s"$cat.t")
        .tableProperty("versioned", "true").create()
      // ALTER with a bad mode value: same validation
      val eAlter = intercept[Exception] {
        spark.sql(
          s"ALTER TABLE $cat.t SET TBLPROPERTIES ('update.mode'='cow')")
      }
      assert(causes(eAlter).exists(m =>
        m.contains("merge-on-read") && m.contains("copy-on-write")),
        causes(eAlter).mkString(" | "))
      // ALTER of a non-persisted key: a PROPERTY error listing the
      // persistable keys, not a misleading schema complaint
      val eUnknown = intercept[Exception] {
        spark.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES ('comment'='hi')")
      }
      assert(causes(eUnknown).exists(m =>
        m.contains("delete.mode") && !m.contains("fixed schema")),
        causes(eUnknown).mkString(" | "))
      // valid mode values still land
      spark.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES " +
        "('delete.mode'='merge-on-read')")
      val props = spark.sql(s"SHOW TBLPROPERTIES $cat.t").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(props.get("delete.mode").contains("merge-on-read"))
    }
  }

  test("shallow clone: zero-copy birth, free divergence, and a vacuum " +
      "that never touches source files") {
    OpsUtil.withScratchCatalog(spark, "r14_clone") { (cat, wh) =>
      import org.apache.spark.sql.functions._
      docsRange(10).writeTo(s"$cat.s")
        .tableProperty("versioned", "true")
        .tableProperty("delete.mode", "merge-on-read").create()
      val clone = spark.sql(
        s"CALL $cat.system.clone('s', 'c', -1)").collect().head
      assert(clone.getLong(2) == 0L, "bytes_copied must be 0")
      // zero-copy: the clone dir holds NO part files, its v0 manifest
      // references the source's in place
      val local = Files.list(wh.resolve("c")).toArray.map(_.toString)
        .count(_.endsWith(".tsv"))
      assert(local == 0, s"clone copied $local data files")
      val v0 = GraftVersions.manifest(wh.resolve("c"), 0L)
      assert(v0.op == "clone" && v0.files.forall(_.contains("/")))
      assert(spark.table(s"$cat.c").count() == 10)

      // divergence: append + MOR delete on the clone (masking rows of
      // an EXTERNAL file); the source never moves
      docsRange(15).filter(col("doc_id") >= 10)
        .createOrReplaceTempView("clone_ins")
      spark.sql(s"INSERT INTO $cat.c SELECT * FROM clone_ins")
      spark.catalog.dropTempView("clone_ins")
      spark.sql(s"DELETE FROM $cat.c WHERE doc_id < 3")
      assert(spark.table(s"$cat.c").count() == 12)
      assert(spark.table(s"$cat.s").count() == 10,
        "clone divergence must not touch the source")

      // the clone's vacuum deletes only files the clone itself wrote;
      // the externally-referenced source bytes survive every retention
      val stats = GraftVersions.vacuum(wh.resolve("c"), keepLast = 1)
      assert(stats.deletedFiles.forall(!_.contains("/")),
        s"vacuum deleted external refs: ${stats.deletedFiles}")
      assert(spark.table(s"$cat.s").count() == 10,
        "source must stay fully readable after clone vacuum")
      assert(spark.table(s"$cat.c").count() == 12)

      // clone of a clone re-anchors to the ORIGINAL files (no chains)
      spark.sql(s"CALL $cat.system.clone('c', 'cc', -1)")
      val cc0 = GraftVersions.manifest(wh.resolve("cc"), 0L)
      assert(cc0.files.forall(f => !f.contains("../c/../")),
        s"chained external refs must normalize: ${cc0.files}")
      assert(spark.table(s"$cat.cc").count() == 12)

      // an existing target fails loudly
      val e = intercept[Exception] {
        spark.sql(s"CALL $cat.system.clone('s', 'c', -1)").collect()
      }
      def causes(t: Throwable): Seq[String] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .map(x => Option(x.getMessage).getOrElse("")).toSeq
      assert(causes(e).exists(_.contains("already exists")))
    }
  }

  test("MERGE WITH SCHEMA EVOLUTION: source-only columns evolve the " +
      "target through the AddColumn registry; unsupported types fail " +
      "loudly") {
    OpsUtil.withScratchCatalog(spark, "r14_mevo") { (cat, wh) =>
      import org.apache.spark.sql.functions._
      docsRange(10).writeTo(s"$cat.t")
        .tableProperty("versioned", "true")
        .tableProperty("merge.mode", "merge-on-read").create()  // v0, v1
      docsRange(15).filter(col("doc_id") >= 5)
        .withColumn("score", col("doc_id") * 2)
        .createOrReplaceTempView("mevo_src")
      spark.sql(
        s"""MERGE WITH SCHEMA EVOLUTION INTO $cat.t AS t
           |USING mevo_src AS s ON t.doc_id = s.doc_id
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      spark.catalog.dropTempView("mevo_src")

      val out = spark.table(s"$cat.t")
      assert(out.columns.toSeq == Seq("doc_id", "title", "fp", "n_words",
        "score"), out.columns.mkString(","))
      assert(out.count() == 15)
      // untouched pre-merge rows (doc_id<5) read NULL backfill; matched
      // and inserted rows carry the source's score
      assert(out.filter(col("doc_id") < 5 && col("score").isNull)
        .count() == 5)
      assert(out.filter(col("doc_id") >= 5)
        .filter(col("score") === col("doc_id") * 2).count() == 10)
      // the evolution rode through the SAME registry as ALTER: an
      // add-column commit precedes the merge commit
      val ops = GraftVersions.listVersions(wh.resolve("t")).map(_.op)
      assert(ops.count(_ == "add-column") == 1 && ops.contains("merge"),
        ops.mkString(","))
      // time travel below the evolution still presents the 4-col shape
      assert(spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 1")
        .columns.length == 4)

      // a source column of an unsupported type fails the merge loudly
      docsRange(20).filter(col("doc_id") >= 15)
        .withColumn("bad", col("doc_id") > 3)
        .createOrReplaceTempView("mevo_bad")
      val e = intercept[Exception] {
        spark.sql(
          s"""MERGE WITH SCHEMA EVOLUTION INTO $cat.t AS t
             |USING mevo_bad AS s ON t.doc_id = s.doc_id
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      }
      spark.catalog.dropTempView("mevo_bad")
      def causes(t: Throwable): Seq[String] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .map(x => Option(x.getMessage).getOrElse("")).toSeq
      assert(causes(e).exists(m => m.contains("bigint") ||
        m.contains("boolean")), causes(e).mkString(" | "))
    }
  }

  test("branches: write-audit-publish — isolated DML on the branch " +
      "face, straight-line fast_forward, diverged publish rejected") {
    OpsUtil.withScratchCatalog(spark, "r14_wap") { (cat, wh) =>
      import org.apache.spark.sql.functions._
      docsRange(10).writeTo(s"$cat.t")
        .tableProperty("versioned", "true")
        .tableProperty("delete.mode", "merge-on-read").create() // v0, v1
      spark.sql(s"CALL $cat.system.branch('t', 'audit', -1)").collect()

      // WRITE: DML lands on the branch face, fully isolated
      docsRange(15).filter(col("doc_id") >= 10)
        .createOrReplaceTempView("wap_ins")
      spark.sql(s"INSERT INTO $cat.t.branch_audit SELECT * FROM wap_ins")
      spark.catalog.dropTempView("wap_ins")
      spark.sql(s"DELETE FROM $cat.t.branch_audit WHERE doc_id < 2")
      assert(spark.table(s"$cat.t.branch_audit").count() == 13)
      assert(spark.table(s"$cat.t").count() == 10,
        "main must not see unpublished branch writes")

      // AUDIT: maintenance composes with the branch face
      spark.sql(s"CALL $cat.system.optimize('t.branch_audit', 1, '')")
        .collect()
      assert(spark.table(s"$cat.t.branch_audit").count() == 13)

      // PUBLISH: one fast-forward commit; the branch is consumed
      val ff = spark.sql(
        s"CALL $cat.system.fast_forward('t', 'audit')").collect().head
      assert(ff.getLong(1) == 2L, ff.toString)
      assert(spark.table(s"$cat.t").count() == 13)
      val ops = GraftVersions.listVersions(wh.resolve("t")).map(_.op)
      assert(ops == Seq("enable", "append", "fast-forward"),
        ops.mkString(","))
      // published manifest references only root-local files (the
      // optimize rewrote everything branch-side, then rename promoted)
      val live = GraftVersions.latest(wh.resolve("t")).get
      assert(live.files.forall(!_.contains("/")), live.files.mkString(","))
      intercept[Exception] {
        spark.table(s"$cat.t.branch_audit").collect()
      }
      // retention after publish holds the full row set
      GraftVersions.vacuum(wh.resolve("t"), keepLast = 1)
      assert(spark.table(s"$cat.t").count() == 13)

      // DIVERGENCE: main moves after the fork -> publish fails loudly
      spark.sql(s"CALL $cat.system.branch('t', 'b2', -1)").collect()
      spark.sql(s"INSERT INTO $cat.t VALUES (100, 'x', 1, 5)")
      def causes(t: Throwable): Seq[String] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .map(x => Option(x.getMessage).getOrElse("")).toSeq
      val e = intercept[Exception] {
        spark.sql(s"CALL $cat.system.fast_forward('t', 'b2')").collect()
      }
      assert(causes(e).exists(_.contains("straight line")),
        causes(e).mkString(" | "))
      // the un-publishable branch is still droppable; main unharmed
      spark.sql(s"CALL $cat.system.drop_branch('t', 'b2')").collect()
      assert(GraftVersions.listBranches(wh.resolve("t")).isEmpty)
      assert(spark.table(s"$cat.t").count() == 14)
    }
  }

  test("tags: named time travel, vacuum pinning, and drop_tag releasing " +
      "the pin") {
    OpsUtil.withScratchCatalog(spark, "r14_tags") { (cat, wh) =>
      import org.apache.spark.sql.functions._
      docsRange(10).writeTo(s"$cat.t")
        .tableProperty("versioned", "true").create()       // v0, v1
      docsRange(15).filter(col("doc_id") >= 10)
        .createOrReplaceTempView("tag_ins")
      spark.sql(s"INSERT INTO $cat.t SELECT * FROM tag_ins") // v2
      val tagged = spark.sql(
        s"CALL $cat.system.tag('t', 'run-1', -1)").collect().head
      assert(tagged.getString(0) == "run-1" && tagged.getLong(1) == 2L)
      spark.sql(s"INSERT INTO $cat.t SELECT * FROM tag_ins") // v3 (dups fine)
      spark.catalog.dropTempView("tag_ins")

      assert(spark.sql(
        s"SELECT count(*) c FROM $cat.t VERSION AS OF 'run-1'")
        .head().getLong(0) == 15L)

      // retention: keep_last=1 would expire v0-v2, but the tag pins v2
      val s1 = GraftVersions.vacuum(wh.resolve("t"), keepLast = 1)
      assert(s1.expiredVersions == Seq(0L, 1L), s1.toString)
      assert(GraftVersions.listVersionNumbers(wh.resolve("t")) == Seq(2L, 3L))
      assert(spark.sql(
        s"SELECT count(*) c FROM $cat.t VERSION AS OF 'run-1'")
        .head().getLong(0) == 15L, "tagged snapshot must survive vacuum")

      // an unknown ref names the available tags
      val e = intercept[Exception] {
        spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 'nope'").collect()
      }
      def causes(t: Throwable): Seq[String] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .map(x => Option(x.getMessage).getOrElse("")).toSeq
      assert(causes(e).exists(m =>
        m.contains("nope") && m.contains("run-1")), causes(e).mkString(" | "))

      // numeric-shadow and malformed names are rejected at tag time
      val eNum = intercept[Exception] {
        spark.sql(s"CALL $cat.system.tag('t', '7', -1)").collect()
      }
      assert(causes(eNum).exists(_.contains("shadow")))

      // dropping the tag releases the pin: the next vacuum expires v2
      spark.sql(s"CALL $cat.system.drop_tag('t', 'run-1')").collect()
      val s2 = GraftVersions.vacuum(wh.resolve("t"), keepLast = 1)
      assert(s2.expiredVersions == Seq(2L), s2.toString)
      val eGone = intercept[Exception] {
        spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 'run-1'").collect()
      }
      assert(causes(eGone).exists(_.contains("run-1")))
      // dropping a tag twice errors with the remaining-tag list
      val eTwice = intercept[Exception] {
        spark.sql(s"CALL $cat.system.drop_tag('t', 'run-1')").collect()
      }
      assert(causes(eTwice).exists(_.contains("no tag")))
    }
  }

  // -------------------------------------------------------------------
  // wave 4: row lineage (row.tracking) — stable ids as manifest metadata
  // -------------------------------------------------------------------

  private def idsOf(cat: String, table: String = "t")
      : Map[Long, (Long, Long)] =
    spark.sql(s"SELECT doc_id, _row_id, _row_commit_version " +
        s"FROM $cat.$table").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("row lineage: ids survive delete + repeated OPTIMIZE (splice of " +
      "splices), and a second OPTIMIZE is what re-packs, not re-ids") {
    OpsUtil.withScratchCatalog(spark, "r14_lin1") { (cat, wh) =>
      docsRange(12).orderBy("doc_id").coalesce(1)
        .writeTo(s"$cat.t").tableProperty("versioned", "true")
        .tableProperty("row.tracking", "true")
        .tableProperty("delete.mode", "merge-on-read").create()
      docsRange(20).filter("doc_id >= 12").orderBy("doc_id")
        .repartition(3).writeTo(s"$cat.t").append()
      val birth = idsOf(cat)
      assert(birth.keySet == (0L until 20L).toSet)
      assert(birth.values.map(_._1).toSeq.distinct.size == 20,
        "ids must be unique")
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id % 5 = 1")
      spark.sql(s"CALL $cat.system.optimize('t', 2, '')").collect()
      val once = idsOf(cat)
      assert(once == birth.filter { case (d, _) => d % 5 != 1 },
        "first OPTIMIZE must preserve every surviving id")
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id % 5 = 2")
      spark.sql(s"CALL $cat.system.optimize('t', 1, '')").collect()
      val twice = idsOf(cat)
      assert(twice == birth.filter { case (d, _) => d % 5 > 2 || d % 5 == 0 },
        "re-compacting spliced segments must still preserve ids")
      val live = GraftVersions.latest(wh.resolve("t")).get
      assert(live.entries.length == 1 &&
        live.entries.head.lineage.nonEmpty, live.entries.toString)
    }
  }

  test("row lineage: late enablement backfills at the next commit, " +
      "updates retire ids forever, restore keeps them") {
    OpsUtil.withScratchCatalog(spark, "r14_lin2") { (cat, wh) =>
      // born UNTRACKED: ids read NULL, never invented
      docsRange(6).orderBy("doc_id").coalesce(1)
        .writeTo(s"$cat.t").tableProperty("versioned", "true")
        .tableProperty("update.mode", "merge-on-read").create()
      val untracked = spark.sql(
        s"SELECT _row_id FROM $cat.t WHERE _row_id IS NOT NULL").count()
      assert(untracked == 0L, "untracked tables must read NULL ids")
      spark.sql(
        s"ALTER TABLE $cat.t SET TBLPROPERTIES('row.tracking'='true')")
      // the property alone changes nothing until a commit backfills
      docsRange(8).filter("doc_id >= 6").orderBy("doc_id").coalesce(1)
        .writeTo(s"$cat.t").append()
      val after = idsOf(cat)
      assert(after.keySet == (0L until 8L).toSet &&
        after.values.map(_._1).toSeq.distinct.size == 8,
        s"backfill must give every row a unique id: $after")
      val hwm0 = GraftVersions.latest(wh.resolve("t")).get.rowHwm.get

      // two MOR updates of one row: each rewrite is a NEW row version
      // with a NEW id — ids are never recycled
      spark.sql(s"UPDATE $cat.t SET n_words = 1 WHERE doc_id = 3")
      val id1 = idsOf(cat)(3L)
      spark.sql(s"UPDATE $cat.t SET n_words = 2 WHERE doc_id = 3")
      val id2 = idsOf(cat)(3L)
      assert(id1._1 >= hwm0 && id2._1 > id1._1,
        s"update ids must be fresh and increasing: $id1 -> $id2")

      // restore to the pre-update snapshot: the carried entries keep
      // their lineage, and the mark never rewinds below what it saw
      val preUpdate = GraftVersions.latest(wh.resolve("t")).get.version - 2
      spark.sql(s"CALL $cat.system.restore('t', $preUpdate)").collect()
      assert(idsOf(cat)(3L) == after(3L),
        "restore must resurrect the original id")
      assert(GraftVersions.latest(wh.resolve("t")).get.rowHwm.get
        >= id2._1 + 1, "high-water mark must never rewind")
    }
  }

  test("row lineage: bucketed tables compact WITHIN bucket classes — " +
      "layout and ids both survive") {
    OpsUtil.withScratchCatalog(spark, "r14_lin3") { (cat, wh) =>
      spark.sql(
        s"""CREATE TABLE $cat.t (doc_id BIGINT, title STRING, fp BIGINT,
           |  n_words INT) PARTITIONED BY (bucket(3, doc_id))
           |  TBLPROPERTIES('versioned'='true', 'row.tracking'='true',
           |  'delete.mode'='merge-on-read')""".stripMargin)
      docsRange(9).orderBy("doc_id")
        .writeTo(s"$cat.t").append()
      docsRange(18).filter("doc_id >= 9").orderBy("doc_id")
        .writeTo(s"$cat.t").append()
      val birth = idsOf(cat)
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id = 4")
      spark.sql(s"CALL $cat.system.optimize('t', 1, '')").collect()
      assert(idsOf(cat) == birth - 4L,
        "bucketed concat must preserve surviving ids")
      val entries = GraftVersions.latest(wh.resolve("t")).get.entries
      assert(entries.length == 3 &&
        entries.flatMap(_.bucket).sorted == Seq(0, 1, 2),
        s"one compacted file per bucket class, each labeled: $entries")
    }
  }

  test("batch CDF: the two faces agree commit-for-commit; missing " +
      "startingVersion, bad ranges, and COUNT pushdown are all guarded") {
    OpsUtil.withScratchCatalog(spark, "r14_bcdf") { (cat, wh) =>
      docsRange(6).orderBy("doc_id").coalesce(1)
        .writeTo(s"$cat.t").tableProperty("versioned", "true")
        .tableProperty("delete.mode", "merge-on-read").create()
      docsRange(9).filter("doc_id >= 6").orderBy("doc_id").coalesce(1)
        .writeTo(s"$cat.t").append()
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id = 2")
      def cdfRead(opts: (String, String)*) = {
        var r = spark.read.format("graft.sources.GraftDocsSource")
          .option("path", wh.resolve("t").toString)
          .option("readChangeFeed", "true")
        opts.foreach { case (k, v) => r = r.option(k, v) }
        r.load()
      }
      // agreement with first principles: [1, latest] = 6+3 inserts + 1
      // delete image; a COUNT over the CDF must count CHANGES (10),
      // never fall into the live-manifest aggregate pushdown (8)
      val all = cdfRead("startingVersion" -> "1")
      assert(all.count() == 10L, "count must be the CHANGE count")
      assert(all.groupBy("_change_type").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap ==
        Map("insert" -> 9L, "delete" -> 1L))
      // bounded prefix
      assert(cdfRead("startingVersion" -> "2", "endingVersion" -> "2")
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ==
        (6L to 8L))
      def causes(t: Throwable): Seq[String] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .map(e => Option(e.getMessage).getOrElse("")).toSeq
      val eMissing = intercept[Exception] { cdfRead().collect() }
      assert(causes(eMissing).exists(_.contains("startingVersion")))
      val eRange = intercept[Exception] {
        cdfRead("startingVersion" -> "9").collect()
      }
      assert(causes(eRange).exists(_.contains("endingVersion")))
    }
  }

  test("partition-spec evolution: the layout gate degrades mixed-spec " +
      "snapshots and OPTIMIZE restores bucket-aligned planning; bad " +
      "evolutions reject") {
    OpsUtil.withScratchCatalog(spark, "r14_spec") { (cat, wh) =>
      spark.sql(
        s"""CREATE TABLE $cat.t (doc_id BIGINT, title STRING, fp BIGINT,
           |  n_words INT) PARTITIONED BY (bucket(2, doc_id))
           |  TBLPROPERTIES('versioned'='true')""".stripMargin)
      docsRange(8).orderBy("doc_id").coalesce(1)
        .writeTo(s"$cat.t").append()
      // bucket-aligned planning: one input partition per bucket class
      def scanParts(): Int = spark.table(s"$cat.t").rdd.getNumPartitions
      assert(scanParts() == 2, "2-bucket layout plans 2 partitions")
      spark.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES(" +
        "'layout.bucket'='doc_id:4')")
      docsRange(16).filter("doc_id >= 8").orderBy("doc_id").coalesce(1)
        .writeTo(s"$cat.t").append()
      // mixed specs: the gate must NOT group (grouping by stale bucket
      // ids would be wrong) — per-file planning, correct results
      assert(scanParts() == 6, "mixed specs degrade to per-file planning")
      assert(spark.table(s"$cat.t")
        .groupBy(org.apache.spark.sql.functions.expr("doc_id % 4"))
        .count().collect().map(_.getLong(1)).sum == 16L)
      spark.sql(s"CALL $cat.system.optimize('t', 1, '')").collect()
      assert(scanParts() == 4, "migrated layout plans 4 partitions")

      def causes(t: Throwable): Seq[String] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .map(e => Option(e.getMessage).getOrElse("")).toSeq
      val eSame = intercept[Exception] {
        spark.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES(" +
          "'layout.bucket'='doc_id:4')")
      }
      assert(causes(eSame).exists(_.contains("different bucket count")))
      val eCol = intercept[Exception] {
        spark.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES(" +
          "'layout.bucket'='fp:8')")
      }
      assert(causes(eCol).exists(_.contains("doc_id")))
      spark.sql(s"CREATE TABLE $cat.u (doc_id BIGINT, title STRING, " +
        "fp BIGINT, n_words INT)")
      val eUnv = intercept[Exception] {
        spark.sql(s"ALTER TABLE $cat.u SET TBLPROPERTIES(" +
          "'layout.bucket'='doc_id:4')")
      }
      assert(causes(eUnv).exists(_.contains("versioned")))
    }
  }

  test("CDF x row lineage: a delete image names the exact row id it " +
      "retires; inserts carry their birth ids") {
    OpsUtil.withScratchCatalog(spark, "r14_cdflin") { (cat, wh) =>
      docsRange(6).orderBy("doc_id").coalesce(1)
        .writeTo(s"$cat.t").tableProperty("versioned", "true")
        .tableProperty("row.tracking", "true")
        .tableProperty("delete.mode", "merge-on-read").create()
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id = 4")
      val ch = spark.read.format("graft.sources.GraftDocsSource")
        .option("path", wh.resolve("t").toString)
        .option("readChangeFeed", "true")
        .option("startingVersion", "1").load()
        .select("doc_id", "_change_type", "_row_id")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      assert(ch.filter(_._2 == "insert").map(c => c._1 -> c._3).toMap ==
        (0L to 5L).map(d => d -> d).toMap, ch.mkString(", "))
      assert(ch.filter(_._2 == "delete").toSeq == Seq((4L, "delete", 4L)),
        ch.mkString(", "))
    }
  }

  test("remove_orphan_files: referenced files are immune at ANY cutoff, " +
      "and unversioned directories reject") {
    OpsUtil.withScratchCatalog(spark, "r14_orph") { (cat, wh) =>
      docsRange(10).orderBy("doc_id").coalesce(1)
        .writeTo(s"$cat.t").tableProperty("versioned", "true").create()
      val t = wh.resolve("t")
      val referenced = GraftVersions.latest(t).get.files
      assert(referenced.nonEmpty)
      val stats = GraftVersions.removeOrphans(t, Long.MaxValue)
      assert(stats.removed.isEmpty,
        s"nothing is orphaned here, nothing may go: $stats")
      assert(referenced.forall(f => Files.exists(t.resolve(f))))
      assert(spark.table(s"$cat.t").count() == 10L)
      val plain = Files.createTempDirectory("graft_unversioned")
      try intercept[IllegalArgumentException] {
        GraftVersions.removeOrphans(plain, Long.MaxValue)
      } finally org.apache.commons.io.FileUtils
        .deleteDirectory(plain.toFile)
    }
  }

  test("partitions metadata table: rollup groups by (spec, bucket), " +
      "reports NULL bucket for unbucketed files, and empties post-delete") {
    OpsUtil.withScratchCatalog(spark, "r14_parts") { (cat, wh) =>
      // unbucketed table: one group per spec-0/NULL-bucket cohort
      docsRange(10).coalesce(1)
        .writeTo(s"$cat.u").tableProperty("versioned", "true").create()
      val u = spark.sql(s"SELECT * FROM $cat.u.partitions").collect()
      assert(u.length == 1, u.mkString(", "))
      assert(u.head.getInt(0) == 0 && u.head.isNullAt(1) &&
        u.head.getLong(2) == 1L && u.head.getLong(3) == 10L &&
        u.head.getLong(4) == 0L && u.head.getLong(5) == 10L,
        u.head.toString)
      // bucketed: groups per bucket; a metadata DELETE that drops a
      // whole file removes its group from the rollup
      spark.sql(
        s"""CREATE TABLE $cat.b (doc_id BIGINT, title STRING, fp BIGINT,
           |  n_words INT) PARTITIONED BY (bucket(2, doc_id))
           |  TBLPROPERTIES('versioned'='true')""".stripMargin)
      docsRange(10).coalesce(1).writeTo(s"$cat.b").append()
      assert(spark.sql(s"SELECT bucket, files, rows FROM $cat.b.partitions " +
        "ORDER BY bucket").collect().map(r =>
          (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq ==
        Seq((0, 1L, 5L), (1, 1L, 5L)))
      spark.sql(s"DELETE FROM $cat.b WHERE doc_id % 2 = 0")
      assert(spark.sql(s"SELECT bucket FROM $cat.b.partitions").collect()
        .map(_.getInt(0)).toSeq == Seq(1),
        "the fully-deleted even bucket must leave the rollup")
      // non-versioned parent: the metadata name does not resolve
      intercept[Exception] {
        spark.sql(s"SELECT * FROM $cat.nope.partitions").collect()
      }
    }
  }

  test("row lineage: clustered OPTIMIZE rejects on tracked tables; " +
      "dropping the property re-enables it") {
    OpsUtil.withScratchCatalog(spark, "r14_lin4") { (cat, wh) =>
      docsRange(10).orderBy("doc_id").coalesce(1)
        .writeTo(s"$cat.t").tableProperty("versioned", "true")
        .tableProperty("row.tracking", "true").create()
      val e = intercept[UnsupportedOperationException] {
        GraftVersions.compact(spark, wh.resolve("t"), 1,
          clusterBy = Seq("doc_id"))
      }
      assert(e.getMessage.contains("row ids"), e.getMessage)
      spark.sql(
        s"ALTER TABLE $cat.t SET TBLPROPERTIES('row.tracking'='false')")
      // untracked again: the clustered rewrite is legal (ids were a
      // tracked-table contract; the property owner turned it off)
      GraftVersions.compact(spark, wh.resolve("t"), 1,
        clusterBy = Seq("doc_id"))
      assert(spark.table(s"$cat.t").count() == 10L)
    }
  }

  test("refs metadata table: main + branches + tags with their heads; " +
      "drops shrink the relation; unversioned parents do not resolve") {
    OpsUtil.withScratchCatalog(spark, "r14_refs") { (cat, wh) =>
      docsRange(10).coalesce(1)
        .writeTo(s"$cat.t").tableProperty("versioned", "true").create()
      def refs(): Seq[(String, String, Long, Option[Long])] =
        spark.sql(s"SELECT * FROM $cat.t.refs ORDER BY name").collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2),
            if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSeq
      assert(refs() == Seq(("main", "branch", 1L, None)))
      spark.sql(s"CALL $cat.system.tag('t', 'gold', 1)").collect()
      spark.sql(s"CALL $cat.system.branch('t', 'dev', -1)").collect()
      spark.sql(s"INSERT INTO $cat.t.branch_dev VALUES (50, 'z', 9, 3)")
      // the branch clone restarts its own log at v0 ('clone'), so one
      // insert puts its head at v1; base_version records the MAIN fork
      assert(refs() == Seq(
        ("dev", "branch", 1L, Some(1L)),
        ("gold", "tag", 1L, None),
        ("main", "branch", 1L, None)))
      spark.sql(s"CALL $cat.system.drop_tag('t', 'gold')").collect()
      spark.sql(s"CALL $cat.system.drop_branch('t', 'dev')").collect()
      assert(refs() == Seq(("main", "branch", 1L, None)))
      // a non-versioned parent directory has no refs face
      docsRange(3).coalesce(1).writeTo(s"$cat.plain").create()
      intercept[Exception] {
        spark.sql(s"SELECT * FROM $cat.plain.refs").collect()
      }
    }
  }

  test("vacuum is ref-aware: files only a live branch still references " +
      "survive main's retention, and the branch stays readable") {
    OpsUtil.withScratchCatalog(spark, "r14_vacref") { (cat, wh) =>
      docsRange(10).coalesce(1)
        .writeTo(s"$cat.t").tableProperty("versioned", "true").create()
      spark.sql(s"CALL $cat.system.branch('t', 'audit', -1)").collect()
      // COW rewrite on main: the original file leaves main's live set
      // (only the branch still references it), then retention drops
      // every main snapshot that names it
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id < 9")
      val stats = GraftVersions.vacuum(wh.resolve("t"), 1)
      assert(stats.expiredVersions.nonEmpty)
      assert(stats.deletedFiles.isEmpty,
        s"vacuum deleted branch-referenced bytes: ${stats.deletedFiles}")
      assert(spark.table(s"$cat.t.branch_audit").count() == 10L,
        "the forked branch must still read its full fork-point state")
      assert(spark.table(s"$cat.t").count() == 1L)
      // dropping the branch releases the pin: the next vacuum reclaims
      spark.sql(s"CALL $cat.system.drop_branch('t', 'audit')").collect()
      // main must advance so a new expirable snapshot names the file…
      // it already doesn't reference the original file; sweep orphans
      val swept = GraftVersions.removeOrphans(wh.resolve("t"),
        Long.MaxValue)
      assert(swept.removed.nonEmpty,
        "after the branch drops, the unreferenced original is orphaned")
      assert(spark.table(s"$cat.t").count() == 1L)
    }
  }

  test("CDF replication: a key inserted AND deleted inside the window " +
      "nets to a no-op on the replica (unmatched delete must not insert)") {
    OpsUtil.withScratchCatalog(spark, "r14_cdcrep") { (cat, wh) =>
      docsRange(5).coalesce(1)
        .writeTo(s"$cat.s").tableProperty("versioned", "true")
        .tableProperty("delete.mode", "merge-on-read").create()   // v1
      spark.sql(s"SELECT * FROM $cat.s VERSION AS OF 1")
        .writeTo(s"$cat.r").create()
      spark.sql(s"INSERT INTO $cat.s VALUES (50, 'x', 1, 7)")     // v2
      spark.sql(s"DELETE FROM $cat.s WHERE doc_id = 50")          // v3
      spark.sql(s"DELETE FROM $cat.s WHERE doc_id = 2")           // v4
      val feed = spark.read.format("graft.sources.GraftDocsSource")
        .option("path", wh.resolve("s").toString)
        .option("readChangeFeed", "true").option("startingVersion", "2")
        .load().filter(org.apache.spark.sql.functions.col("_change_type")
          =!= "update_preimage")
      val latest = feed.withColumn("rn",
          org.apache.spark.sql.functions.row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
              .orderBy(org.apache.spark.sql.functions
                .col("_commit_version").desc)))
        .filter("rn = 1").drop("rn")
      latest.createOrReplaceTempView(s"${cat}_d")
      spark.sql(
        s"""MERGE INTO $cat.r t USING ${cat}_d s ON t.doc_id = s.doc_id
           |WHEN MATCHED AND s._change_type = 'delete' THEN DELETE
           |WHEN MATCHED THEN UPDATE SET
           |  title = s.title, fp = s.fp, n_words = s.n_words
           |WHEN NOT MATCHED AND s._change_type <> 'delete'
           |  THEN INSERT (doc_id, title, fp, n_words)
           |  VALUES (s.doc_id, s.title, s.fp, s.n_words)""".stripMargin)
      spark.catalog.dropTempView(s"${cat}_d")
      val repIds = spark.table(s"$cat.r").select("doc_id").collect()
        .map(_.getLong(0)).toSet
      assert(repIds == Set(0L, 1L, 3L, 4L), repIds.toString)
      val srcIds = spark.table(s"$cat.s").select("doc_id").collect()
        .map(_.getLong(0)).toSet
      assert(srcIds == repIds, s"source $srcIds vs replica $repIds")
    }
  }

  test("streaming replication: a drain with no new commits is a no-op " +
      "(checkpoint resume, no re-merge), and new commits still apply") {
    val ckpt = Files.createTempDirectory("graft_srep_ckpt")
    try OpsUtil.withScratchCatalog(spark, "r14_srep") { (cat, wh) =>
      docsRange(6).coalesce(1)
        .writeTo(s"$cat.s").tableProperty("versioned", "true")
        .tableProperty("delete.mode", "merge-on-read").create()
      spark.sql(s"SELECT * FROM $cat.s VERSION AS OF 1")
        .writeTo(s"$cat.r").create()
      var applied = 0L
      def drain(): Unit = {
        val q = spark.readStream.format("graft.sources.GraftDocsSource")
          .option("path", wh.resolve("s").toString)
          .option("readChangeFeed", "true")
          .option("startingVersion", "2").load()
          .writeStream
          .foreachBatch {
            (batch: org.apache.spark.sql.DataFrame, _: Long) =>
              val b = batch.filter(
                "_change_type <> 'update_preimage'")
              b.createOrReplaceTempView(s"${cat}_b")
              applied += b.count()
              b.sparkSession.sql(
                s"""MERGE INTO $cat.r t USING ${cat}_b s
                   |ON t.doc_id = s.doc_id
                   |WHEN MATCHED AND s._change_type = 'delete' THEN DELETE
                   |WHEN MATCHED THEN UPDATE SET
                   |  title = s.title, fp = s.fp, n_words = s.n_words
                   |WHEN NOT MATCHED AND s._change_type <> 'delete'
                   |  THEN INSERT (doc_id, title, fp, n_words)
                   |  VALUES (s.doc_id, s.title, s.fp, s.n_words)
                   |""".stripMargin)
              ()
          }
          .option("checkpointLocation", ckpt.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        assert(q.awaitTermination(180000)); q.exception.foreach(throw _)
      }
      spark.sql(s"DELETE FROM $cat.s WHERE doc_id = 2")
      drain()
      assert(applied == 1L)
      // no new commits: the checkpoint holds — nothing re-reads
      drain()
      assert(applied == 1L, "an empty drain must not re-merge history")
      spark.sql(s"INSERT INTO $cat.s VALUES (50, 'x', 1, 7)")
      drain()
      assert(applied == 2L)
      val src = spark.table(s"$cat.s"); val rep = spark.table(s"$cat.r")
      assert(src.exceptAll(rep).isEmpty && rep.exceptAll(src).isEmpty)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(ckpt.toFile)
  }

  test("MERGE NOT MATCHED BY SOURCE: unmatched target rows update and " +
      "delete; MOR masks every touched row and preserves the rest") {
    OpsUtil.withScratchCatalog(spark, "r14_nmbs") { (cat, wh) =>
      // target [0,10); source names only 4..6 — rows 0..3 and 7..9 are
      // NOT MATCHED BY SOURCE
      docsRange(10).coalesce(1)
        .writeTo(s"$cat.t").tableProperty("versioned", "true")
        .tableProperty("merge.mode", "merge-on-read").create()
      docsRange(7).filter("doc_id >= 4")
        .createOrReplaceTempView(s"${cat}_s")
      spark.sql(
        s"""MERGE INTO $cat.t t USING ${cat}_s s ON t.doc_id = s.doc_id
           |WHEN NOT MATCHED BY SOURCE AND t.doc_id < 2
           |  THEN UPDATE SET n_words = -1
           |WHEN NOT MATCHED BY SOURCE AND t.doc_id >= 8 THEN DELETE
           |""".stripMargin)
      spark.catalog.dropTempView(s"${cat}_s")
      val rows = spark.table(s"$cat.t")
        .select("doc_id", "n_words").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(rows.keySet == (0L to 7L).toSet, rows.toString)
      assert(rows(0L) == -1 && rows(1L) == -1, rows.toString)
      // matched rows 4..6 and unmatched-but-unclaused 2,3,7 untouched
      assert((2L to 7L).forall(i => rows(i) == (i % 91 + 9).toInt),
        rows.toString)
      // MOR: 2 update preimages + 2 deletes = 4 masks, zero rewrites
      val v = GraftVersions.latest(wh.resolve("t")).get
      assert(v.entries.flatMap(_.dv).map(_.cardinality.toLong).sum == 4L)
      assert(v.op == "merge", v.op)
    }
  }
}
