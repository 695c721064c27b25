package graft.sources

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.{col, lit}

import graft.SparkSpec
import graft.ops.OpsUtil

/** The staged-rewrite path shared by OPTIMIZE, scoped OPTIMIZE,
  * equality-mask materialization and materialized-view swaps
  * ([[GraftVersions.stageRewrite]]), and the conflict retry around them
  * ([[GraftVersions.retryOnConflict]]). */
class StagedRewriteSpec extends SparkSpec {

  private def docsRange(rows: Int) =
    spark.read.format("graft.sources.GraftDocsSource")
      .option("rows", rows.toString).load()

  /** Fails when the table root holds anything but part files,
    * `_versions`, `_table.properties` and `_SUCCESS`. */
  private def assertClean(root: Path): Unit = {
    val s = Files.list(root)
    val extra =
      try s.iterator().asScala.map(_.getFileName.toString)
        .filterNot(n => n.matches(GraftFiles.partFileRegex) ||
          Set("_versions", "_table.properties", "_SUCCESS")(n)).toSet
      finally s.close()
    assert(extra.isEmpty, s"scratch left in $root: $extra")
  }

  Seq(None, Some("2")).foreach { threshold =>
    test("clustered compact lands 4 disjoint doc_id files with " +
        s"compact.threshold = ${threshold.getOrElse("unset")}") {
      OpsUtil.withScratchCatalog(spark, "stg_thr") { (cat, wh) =>
        val w = docsRange(64).repartition(8, col("fp"))
          .writeTo(s"$cat.t").tableProperty("versioned", "true")
        threshold.fold(w)(w.tableProperty("compact.threshold", _)).create()
        val root = wh.resolve("t")
        val info = GraftVersions.compact(spark, root, targetFiles = 4,
          clusterBy = Seq("doc_id"))
        // the scratch commit must not run the table's policies: an
        // auto-compaction there folds the 4 staged files into 1
        val ranges = info.entries.map(_.stats("doc_id")).sortBy(_._1)
        assert(ranges.length == 4, s"files: $ranges")
        assert(ranges.sliding(2).forall { case Seq(a, b) => a._2 < b._1 },
          s"doc_id ranges must be disjoint: $ranges")
        assert(ranges.head._1 == 0L && ranges.last._2 == 63L, s"$ranges")
        assert(info.entries.flatMap(_.rows).sum == 64L)
        assert(spark.table(s"$cat.t").count() == 64L)
        assertClean(root)
      }
    }
  }

  test("retryOnConflict returns the body's value and re-runs it after a " +
      "conflict, 3 attempts in all") {
    def conflict = new GraftVersions.ConcurrentCommitException("raced")
    var calls = 0
    assert(GraftVersions.retryOnConflict { calls += 1; 42 } == 42)
    assert(calls == 1)

    calls = 0
    assert(GraftVersions.retryOnConflict {
      calls += 1
      if (calls < 3) throw conflict
      "landed"
    } == "landed")
    assert(calls == 3)

    calls = 0
    val e = intercept[GraftVersions.ConcurrentCommitException] {
      GraftVersions.retryOnConflict[Int] { calls += 1; throw conflict }
    }
    assert(e.getMessage == "raced" && calls == 3,
      s"the third conflict must propagate after 3 attempts ($calls)")

    calls = 0
    intercept[IllegalStateException] {
      GraftVersions.retryOnConflict[Int] {
        calls += 1; throw new IllegalStateException("not a conflict")
      }
    }
    assert(calls == 1, "only a commit conflict may re-run the body")
  }

  test("retryOnConflict never retries the row-tracked clustered-compact " +
      "rejection") {
    OpsUtil.withScratchCatalog(spark, "stg_rt") { (cat, wh) =>
      docsRange(10).coalesce(1).writeTo(s"$cat.t")
        .tableProperty("versioned", "true")
        .tableProperty("row.tracking", "true").create()
      var calls = 0
      intercept[UnsupportedOperationException] {
        GraftVersions.retryOnConflict {
          calls += 1
          GraftVersions.compact(spark, wh.resolve("t"), 1,
            clusterBy = Seq("doc_id"))
        }
      }
      assert(calls == 1)
    }
  }

  test("remove_orphan_files reclaims a back-dated rewrite scratch table") {
    OpsUtil.withScratchCatalog(spark, "stg_orph") { (cat, wh) =>
      docsRange(10).coalesce(1).writeTo(s"$cat.t")
        .tableProperty("versioned", "true").create()
      val root = wh.resolve("t")
      // what a driver that died mid-rewrite leaves: a versioned scratch
      // table holding one staged part file
      val scratch = root.resolve("_staging").resolve("rewrite-0123abcd")
      GraftVersions.enable(scratch)
      Files.write(scratch.resolve("part-00000-0123abcd.tsv"),
        "1\tx\t2\t3\n".getBytes("UTF-8"))
      val past = FileTime.fromMillis(System.currentTimeMillis() - 3600000L)
      Files.setLastModifiedTime(scratch, past)
      val cutoff = (System.currentTimeMillis() - 60000L) * 1000L
      val r = spark.sql(
        s"CALL $cat.system.remove_orphan_files('t', $cutoff)").head()
      assert(r.getLong(0) == 1L && r.getLong(1) > 0L, s"$r")
      assert(!Files.exists(scratch))
      assert(spark.table(s"$cat.t").count() == 10L)
    }
  }

  test("compact, scoped compact, eq-mask materialization and an MV " +
      "refresh leave no scratch in the table root") {
    OpsUtil.withScratchCatalog(spark, "stg_clean") { (cat, wh) =>
      // compact
      docsRange(32).repartition(4, col("fp")).writeTo(s"$cat.c")
        .tableProperty("versioned", "true").create()
      GraftVersions.compact(spark, wh.resolve("c"), targetFiles = 2)
      assert(GraftVersions.latest(wh.resolve("c")).get.files.length == 2)
      assertClean(wh.resolve("c"))

      // scoped compact: two files single-valued at n_words = 3
      docsRange(8).withColumn("n_words", lit(3)).coalesce(1)
        .writeTo(s"$cat.s").tableProperty("versioned", "true").create()
      docsRange(8).withColumn("n_words", lit(3)).coalesce(1)
        .writeTo(s"$cat.s").append()
      val s0 = GraftVersions.latest(wh.resolve("s")).get.version
      val scoped = GraftVersions.compactScoped(spark, wh.resolve("s"),
        "n_words", 3L, targetFiles = 1)
      assert(scoped.version == s0 + 1 && scoped.files.length == 1)
      assertClean(wh.resolve("s"))

      // equality-mask materialization
      docsRange(30).repartitionByRange(3, col("doc_id")).writeTo(s"$cat.e")
        .tableProperty("versioned", "true")
        .tableProperty("delete.mode", "equality").create()
      spark.sql(s"DELETE FROM $cat.e WHERE doc_id IN (1, 2)")
      val mat = GraftVersions.materializeEqMasks(spark, wh.resolve("e"))
      assert(mat.exists(_.entries.forall(_.eq.isEmpty)), s"$mat")
      assert(spark.table(s"$cat.e").count() == 28L)
      assertClean(wh.resolve("e"))

      // MV create and refresh, over the compacted table
      spark.sql(s"CALL $cat.system.create_mv(" +
        "'v', 'c', 'doc_id % 5', 'n_words', false)")
      docsRange(40).filter(col("doc_id") >= 32).writeTo(s"$cat.c").append()
      val r = spark.sql(s"CALL $cat.system.refresh_mv('v')").head()
      assert(r.getBoolean(4), "the refresh must apply")
      assert(spark.table(s"$cat.v").count() == 5L)
      assertClean(wh.resolve("v"))
      assertClean(wh.resolve("c"))
    }
  }
}
