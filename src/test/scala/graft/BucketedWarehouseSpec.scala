package graft

import java.nio.file.Files

import graft.ops.OpsUtil
import graft.sources.{GraftTableMeta, GraftVersions}

/** Round-13 wave 8: bucketed WAREHOUSE tables — `PARTITIONED BY
  * (bucket(n, doc_id))` persists a physical layout; every write path
  * (batch, CTAS, streaming, COW rewrites, MOR reinsert files,
  * compaction) fans rows into per-bucket files with the bucket id in
  * the manifest; the scan groups files by bucket and reports
  * `KeyGroupedPartitioning`, so two such tables storage-partition-join
  * with no exchange — the q136 story on real, mutable, written data.
  */
class BucketedWarehouseSpec extends SparkSpec {

  private def docsRange(rows: Int) =
    spark.read.format("graft.sources.GraftDocsSource")
      .option("rows", rows.toString).load()

  test("bucketed CREATE persists the layout; every file carries its bucket " +
      "and holds only its residue class") {
    OpsUtil.withScratchCatalog(spark, "bkt_lay") { (cat, wh) =>
      spark.sql(
        s"""CREATE TABLE $cat.t (doc_id BIGINT, title STRING, fp BIGINT,
           |  n_words INT) PARTITIONED BY (bucket(4, doc_id))
           |TBLPROPERTIES ('versioned' = 'true')""".stripMargin)
      val dir = wh.resolve("t")
      assert(GraftTableMeta.bucketLayout(dir).contains(("doc_id", 4)))
      docsRange(40).createOrReplaceTempView(s"${cat}_src")
      spark.sql(s"INSERT INTO $cat.t SELECT * FROM ${cat}_src")
      spark.catalog.dropTempView(s"${cat}_src")
      val entries = GraftVersions.latest(dir).get.entries
      assert(entries.nonEmpty && entries.forall(_.bucket.isDefined))
      // per-file purity: every row's doc_id mod 4 equals its file's bucket
      entries.foreach { e =>
        val ids = java.nio.file.Files.readAllLines(dir.resolve(e.name))
          .toArray.map(_.toString.split("\t")(0).toLong)
        assert(ids.forall(id => id % 4 == e.bucket.get.toLong),
          s"${e.name} (bucket ${e.bucket.get}) holds foreign ids")
      }
      assert(entries.map(_.bucket.get).toSet == Set(0, 1, 2, 3))
      // full readback intact
      assert(spark.sql(s"SELECT COUNT(*) FROM $cat.t").head().getLong(0) == 40)
      // non-bucket transforms are rejected
      intercept[Exception] {
        spark.sql(s"CREATE TABLE $cat.bad (doc_id BIGINT, title STRING, " +
          "fp BIGINT, n_words INT) PARTITIONED BY (n_words)")
      }
    }
  }

  test("two bucketed warehouse tables storage-partition-join with no " +
      "exchange; MOR deletes and compaction keep the layout") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val keys = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.enabled")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    try OpsUtil.withScratchCatalog(spark, "bkt_spj") { (cat, wh) =>
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      def mkTable(name: String, rows: Int): Unit = {
        docsRange(rows)
          .writeTo(s"$cat.$name")
          .partitionedBy(org.apache.spark.sql.functions.bucket(8,
            org.apache.spark.sql.functions.col("doc_id")))
          .tableProperty("versioned", "true")
          .tableProperty("delete.mode", "merge-on-read")
          .create()
      }
      mkTable("a", 400)
      mkTable("b", 300)
      // mutate both: a MOR delete (masks; layout untouched) and an
      // OPTIMIZE on the other (rewrite; fan-out keeps files bucketed)
      spark.sql(s"DELETE FROM $cat.a WHERE doc_id % 11 = 4")
      GraftVersions.compact(spark, wh.resolve("b"), targetFiles = 2)
      assert(GraftVersions.latest(wh.resolve("b")).get.entries
        .forall(_.bucket.isDefined), "compaction must keep bucket ids")

      def spjQuery = spark.table(s"$cat.a").select("doc_id", "n_words")
        .join(spark.table(s"$cat.b").select("doc_id", "fp"), "doc_id")
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"),
          org.apache.spark.sql.functions.sum("n_words").as("w"))
      val df = spjQuery
      val row = df.head()
      // expected: ids in [0,300) surviving the %11=4 delete
      val expected = (0L until 300L).filterNot(_ % 11 == 4)
      assert(row.getLong(0) == expected.length)
      assert(row.getLong(1) == expected.map(i => (i % 91 + 9)).sum)
      val join = df.queryExecution.executedPlan.collectFirst {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
      }.getOrElse(fail("no shuffle-family join in plan"))
      assert(join.collect { case s: ShuffleExchangeExec => s }.isEmpty,
        s"bucketed warehouse tables must join storage-partitioned:\n$join")

      // control: bucketing off → both sides exchange, same answer
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      val off = spjQuery
      val offRow = off.head()
      assert(offRow.getLong(0) == row.getLong(0) &&
        offRow.getLong(1) == row.getLong(1))
      val offJoin = off.queryExecution.executedPlan.collectFirst {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
      }.get
      assert(offJoin.collect { case s: ShuffleExchangeExec => s }.size == 2,
        "without v2 bucketing both join inputs must exchange")
    } finally {
      prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }
  }

  test("the files metadata table exposes the live manifest: buckets, " +
      "counters, masks, stats envelope — and only for versioned parents") {
    OpsUtil.withScratchCatalog(spark, "bkt_fmeta") { (cat, wh) =>
      // 2 input partitions × 4 buckets → 8 files of 5 rows each: no
      // mask below can fully cover a file (a 1-row bucket file whose
      // row is deleted would drop from the manifest and shrink the
      // physical accounting — that behavior has its own test above)
      spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "40").option("partitions", "2").load()
        .writeTo(s"$cat.t")
        .partitionedBy(org.apache.spark.sql.functions.bucket(4,
          org.apache.spark.sql.functions.col("doc_id")))
        .tableProperty("versioned", "true")
        .tableProperty("delete.mode", "merge-on-read").create()
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id % 5 = 2")
      val rows = spark.sql(
        s"""SELECT bucket, SUM(rows), SUM(masked), MIN(min_doc_id),
           |  MAX(max_doc_id), COUNT(*) FILTER (WHERE has_bloom)
           |FROM $cat.t.files GROUP BY bucket ORDER BY bucket""".stripMargin)
        .collect()
      assert(rows.length == 4)
      rows.zipWithIndex.foreach { case (r, b) =>
        assert(r.getInt(0) == b)
        assert(r.getLong(1) == 10 && r.getLong(2) == 2)
        assert(r.getLong(3) == b && r.getLong(4) == 36 + b)
        assert(r.getLong(5) == 0, "no bloom config, no blooms")
      }
      // live row accounting agrees with the data read
      val live = spark.sql(s"SELECT SUM(rows) - SUM(masked) FROM $cat.t.files")
        .head().getLong(0)
      assert(live == spark.sql(s"SELECT COUNT(*) FROM $cat.t").head().getLong(0))
      // unversioned parents expose no files table
      docsRange(3).writeTo(s"$cat.plain").create()
      intercept[Exception] {
        spark.sql(s"SELECT * FROM $cat.plain.files").collect()
      }
    }
  }

  test("streaming epochs into a bucketed table keep the layout: every " +
      "sink-committed file carries its bucket and residue class") {
    val cp = Files.createTempDirectory("graft_bkt_stream_cp")
    try OpsUtil.withScratchCatalog(spark, "bkt_stream") { (cat, wh) =>
      spark.sql(
        s"""CREATE TABLE $cat.sink (doc_id BIGINT, title STRING, fp BIGINT,
           |  n_words INT) PARTITIONED BY (bucket(4, doc_id))
           |TBLPROPERTIES ('versioned' = 'true')""".stripMargin)
      // source: a versioned table's change feed
      docsRange(24).writeTo(s"$cat.src")
        .tableProperty("versioned", "true").create()
      val q = spark.readStream.table(s"$cat.src")
        .writeStream.option("checkpointLocation", cp.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable(s"$cat.sink")
      assert(q.awaitTermination(120000), "drain did not terminate")
      val dir = wh.resolve("sink")
      val entries = GraftVersions.latest(dir).get.entries
      assert(entries.nonEmpty && entries.forall(_.bucket.isDefined),
        "streamed files must carry bucket ids")
      entries.foreach { e =>
        val ids = java.nio.file.Files.readAllLines(dir.resolve(e.name))
          .toArray.map(_.toString.split("\t")(0).toLong)
        assert(ids.forall(id => id % 4 == e.bucket.get.toLong))
      }
      assert(spark.sql(s"SELECT COUNT(*) FROM $cat.sink")
        .head().getLong(0) == 24)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(cp.toFile)
  }

  test("a scan without the bucket column, and a table with pre-layout " +
      "files, degrade to unknown partitioning — never a wrong grouping") {
    OpsUtil.withScratchCatalog(spark, "bkt_deg") { (cat, wh) =>
      docsRange(40)
        .writeTo(s"$cat.t")
        .partitionedBy(org.apache.spark.sql.functions.bucket(4,
          org.apache.spark.sql.functions.col("doc_id")))
        .tableProperty("versioned", "true").create()
      // pruning doc_id away still reads fine (partitioning unreported)
      val words = spark.sql(s"SELECT SUM(n_words) FROM $cat.t").head().getLong(0)
      assert(words == (0 until 40).map(i => i % 91 + 9).sum)
      // plant a pre-layout file: entry without a bucket → whole scan
      // degrades, rows still all read
      val dir = wh.resolve("t")
      Files.write(dir.resolve("part-99999.tsv"),
        "9999\tlegacy\t1\t5\n".getBytes("UTF-8"))
      GraftVersions.advance(dir, "append", Some(Set.empty),
        Seq(GraftVersions.FileEntry("part-99999.tsv",
          GraftVersions.FileEntry.NoStats)))
      val n = spark.sql(s"SELECT COUNT(*) FROM $cat.t").head().getLong(0)
      assert(n == 41)
    }
  }
}
