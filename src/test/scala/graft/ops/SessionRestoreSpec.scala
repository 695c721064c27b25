package graft.ops

import graft.{SparkEntry, SparkSpec}

/** Queries that register temp views or switch a conf key for their own
  * plan leave the session's temp views and conf map as they found them,
  * so no later query of a shared session sees them. */
class SessionRestoreSpec extends SparkSpec {

  private def tempViews(): Set[String] = spark.catalog.listTables().collect()
    .filter(_.isTemporary).map(_.name).toSet

  test("q49, q54 and q96 drop the temp views they register, and their " +
      "frames still run") {
    Seq("q49_sql_subquery", "q54_grouping_sets", "q96_lateral").foreach {
      name =>
        val before = tempViews()
        val df = SparkEntry.queries(name)(spark, sf)
        assert(tempViews() == before,
          s"$name temp views: ${tempViews() -- before}")
        assert(df.collect().nonEmpty, name)
    }
  }

  test("q279 leaves the conf map as it found it, with the broadcast " +
      "threshold unset and with it set") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getAll.get(key)
    def check(): Unit = {
      val before = spark.conf.getAll
      assert(SparkEntry.queries("q279_sorted_scan")(spark, sf)
        .collect().nonEmpty)
      val after = spark.conf.getAll
      assert(after == before, "conf: " +
        (after.toSet diff before.toSet).map(_._1).mkString(", "))
    }
    try {
      spark.conf.unset(key)
      check()
      assert(!spark.conf.getAll.contains(key))
      spark.conf.set(key, "1048576")
      check()
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
