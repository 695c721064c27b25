package graft.ops

import java.nio.file.{Files, Path}

import org.apache.spark.sql.GraftBridge

import graft.{SparkEntry, SparkSpec}

/** The contract of [[OpsUtil.withScratchCatalog]]: whether the body
  * returns or throws, both catalog conf keys are unset, the instantiated
  * catalog is evicted and the warehouse directory is deleted, and a
  * throwing body's own exception reaches the caller. The lakehouse
  * queries built on it leave the session's catalogs, conf and temp views
  * exactly as they found them. */
class ScratchCatalogSpec extends SparkSpec {

  private def keys(cat: String): Seq[String] =
    Seq(s"spark.sql.catalog.$cat", s"spark.sql.catalog.$cat.warehouse")

  /** Write and read a small table, so the catalog is instantiated and the
    * warehouse holds files. */
  private def useCatalog(cat: String, wh: Path): Long = {
    keys(cat).foreach(k => assert(spark.conf.getOption(k).nonEmpty, k))
    spark.read.format("graft.sources.GraftDocsSource")
      .option("rows", "5").load()
      .writeTo(s"$cat.t").tableProperty("versioned", "true").create()
    val n = spark.table(s"$cat.t").count()
    assert(GraftBridge.instantiatedCatalogs(spark).contains(cat))
    assert(Files.isDirectory(wh.resolve("t")))
    n
  }

  private def assertTornDown(cat: String, wh: Path): Unit = {
    keys(cat).foreach(k => assert(spark.conf.getOption(k).isEmpty, k))
    assert(!GraftBridge.instantiatedCatalogs(spark).contains(cat),
      s"catalog $cat is still instantiated")
    assert(!Files.exists(wh), s"warehouse $wh was not deleted")
  }

  test("after a normal return the keys are unset, the catalog evicted " +
      "and the warehouse deleted") {
    var seen: (String, Path) = null
    val n = OpsUtil.withScratchCatalog(spark, "scn") { (cat, wh) =>
      seen = (cat, wh)
      useCatalog(cat, wh)
    }
    assert(n == 5)
    assert(seen._1.startsWith("scn_"))
    assertTornDown(seen._1, seen._2)
  }

  test("a throwing body is torn down the same way and its own exception " +
      "is re-thrown") {
    var seen: (String, Path) = null
    val boom = new IllegalStateException("boom")
    val thrown = intercept[IllegalStateException] {
      OpsUtil.withScratchCatalog(spark, "sct") { (cat, wh) =>
        seen = (cat, wh)
        useCatalog(cat, wh)
        throw boom
      }
    }
    assert(thrown eq boom)
    assertTornDown(seen._1, seen._2)
  }

  test("lakehouse queries leave catalogs, conf and temp views as they " +
      "found them") {
    def tempViews(): Set[String] = spark.catalog.listTables().collect()
      .filter(_.isTemporary).map(_.name).toSet
    def state() = (GraftBridge.instantiatedCatalogs(spark),
      spark.conf.getAll, tempViews())
    Seq("q214_rowlevel_merge", "q216_time_travel", "q219_version_feed",
        "q228_mor_delete", "q273_materialized_view").foreach { name =>
      val before = state()
      assert(SparkEntry.queries(name)(spark, sf).collect().nonEmpty, name)
      val after = state()
      assert(after._1 == before._1, s"$name catalogs: ${after._1 -- before._1}")
      assert(after._2 == before._2, s"$name conf: " +
        (after._2.toSet diff before._2.toSet).map(_._1).mkString(", "))
      assert(after._3 == before._3, s"$name temp views: ${after._3 -- before._3}")
    }
  }
}
