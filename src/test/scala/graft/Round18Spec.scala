package graft

import org.apache.spark.sql.functions._
import graft.ops.OpsUtil

/** Round-18 additions: composite-key views, DECIMAL-sum views, the
  * dim-side auto-reseed, and HAVING over rewritten aggregates. The
  * positive paths (view-only plans, hash-green results) live in
  * q291/q293/q288; these tests pin the REFUSALS and the contracts a
  * query fixture cannot isolate. */
class Round18Spec extends SparkSpec {

  private def mkTable(cat: String, name: String = "t"): Unit =
    spark.sql(
      s"""CREATE TABLE $cat.$name (
         |  doc_id BIGINT NOT NULL, title STRING NOT NULL,
         |  fp BIGINT NOT NULL, n_words INT NOT NULL)
         |TBLPROPERTIES ('versioned' = 'true',
         |  'delete.mode' = 'merge-on-read')""".stripMargin)
  private def insertRange(cat: String, lo: Int, hi: Int,
      table: String = "t"): Unit = {
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
  private def scansPath(df: org.apache.spark.sql.DataFrame,
      p: java.nio.file.Path): Boolean =
    df.queryExecution.optimizedPlan.collect {
      case s: org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2ScanRelation
          if s.scan.description.contains(p.toString) => s
    }.nonEmpty
  private def sameResult(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("composite-key view: refusals — raw-key predicate, non-key " +
      "predicate, wrong grain; COUNT(DISTINCT k1, k2) rewrites") {
    OpsUtil.withScratchCatalog(spark, "r18_ck1") { (cat, wh) =>
      mkTable(cat)
      insertRange(cat, 0, 24)
      spark.sql(s"CALL $cat.system.create_mv(" +
        "'v', 't', 'doc_id % 6', 'n_words', true, 'sum', 'doc_id % 4')")
      org.apache.spark.sql.GraftBridge.addOptimization(spark,
        graft.plans.MvRewriteRule(spark))
      val v = wh.resolve("v"); val t = wh.resolve("t")
      // a predicate on RAW doc_id is finer than either key column
      val finer = spark.sql(
        s"""SELECT doc_id % 6 AS k6, doc_id % 4 AS k4, COUNT(*) AS c
           |FROM $cat.t WHERE doc_id < 9
           |GROUP BY doc_id % 6, doc_id % 4""".stripMargin)
      assert(!scansPath(finer, v) && scansPath(finer, t),
        "a raw-key predicate must refuse the composite rewrite")
      // grouping by only PART of a key's arithmetic is the wrong grain
      val wrongGrain = spark.sql(
        s"""SELECT doc_id % 8 AS k8, SUM(n_words) AS s
           |FROM $cat.t GROUP BY doc_id % 8""".stripMargin)
      assert(!scansPath(wrongGrain, v) && scansPath(wrongGrain, t),
        "a non-derivable grain must refuse")
      // COUNT(DISTINCT k1, k2) under a coarse roll-up = view rows per
      // coarse group (each view row is one distinct key pair)
      val distinctPairs = spark.sql(
        s"""SELECT COUNT(DISTINCT doc_id % 6, doc_id % 4) AS pairs
           |FROM $cat.t""".stripMargin)
      assert(scansPath(distinctPairs, v) && !scansPath(distinctPairs, t),
        "COUNT(DISTINCT k1, k2) must answer from the view")
      // ... but COUNT(DISTINCT k1) alone is NOT the view's group count
      val distinctOne = spark.sql(
        s"SELECT COUNT(DISTINCT doc_id % 6) AS d FROM $cat.t")
      assert(!scansPath(distinctOne, v) && scansPath(distinctOne, t),
        "COUNT(DISTINCT one-of-two-keys) must refuse")
      spark.conf.set("spark.graft.mv.rewrite", "false")
      val real = spark.sql(
        s"SELECT COUNT(DISTINCT doc_id % 6, doc_id % 4) AS pairs " +
          s"FROM $cat.t")
      assert(sameResult(distinctPairs, real))
      spark.conf.unset("spark.graft.mv.rewrite")
    }
  }

  test("HAVING over a rewritten aggregate survives the substitution: " +
      "the filter plans over view rows, selected or not") {
    OpsUtil.withScratchCatalog(spark, "r18_hav1") { (cat, wh) =>
      mkTable(cat)
      insertRange(cat, 0, 30)
      spark.sql(s"CALL $cat.system.create_mv(" +
        "'v', 't', 'doc_id % 5', 'n_words', true)")
      org.apache.spark.sql.GraftBridge.addOptimization(spark,
        graft.plans.MvRewriteRule(spark))
      val v = wh.resolve("v"); val t = wh.resolve("t")
      // HAVING on a SELECTED aggregate — exact grain, no re-aggregate
      def selected() = spark.sql(
        s"""SELECT doc_id % 5 AS k, SUM(n_words) AS s
           |FROM $cat.t GROUP BY doc_id % 5
           |HAVING SUM(n_words) > 100""".stripMargin)
      val sel = selected()
      assert(scansPath(sel, v) && !scansPath(sel, t),
        "HAVING on a selected aggregate must stay view-only")
      // HAVING on an UNSELECTED aggregate (the analyzer adds it to the
      // aggregate list and projects it away — the extra column must
      // classify too)
      def unselected() = spark.sql(
        s"""SELECT doc_id % 5 AS k FROM $cat.t
           |GROUP BY doc_id % 5 HAVING COUNT(*) > 5""".stripMargin)
      val unsel = unselected()
      assert(scansPath(unsel, v) && !scansPath(unsel, t),
        "HAVING on an unselected aggregate must stay view-only")
      // HAVING over a ROLL-UP keeps the re-aggregate below the filter
      def rollup() = spark.sql(
        s"""SELECT (doc_id % 5) % 2 AS k2, SUM(n_words) AS s
           |FROM $cat.t GROUP BY (doc_id % 5) % 2
           |HAVING SUM(n_words) > 100""".stripMargin)
      val ru = rollup()
      assert(scansPath(ru, v) && !scansPath(ru, t),
        "HAVING over a roll-up must stay view-only")
      spark.conf.set("spark.graft.mv.rewrite", "false")
      assert(sameResult(sel, selected()))
      assert(sameResult(unsel, unselected()))
      assert(sameResult(ru, rollup()))
      spark.conf.unset("spark.graft.mv.rewrite")
    }
  }

  test("join view dual registration: a dim DELETE reseeds inline — " +
      "no fact commit needed, the next plan is already view-only") {
    OpsUtil.withScratchCatalog(spark, "r18_dimreg") { (cat, wh) =>
      mkTable(cat); mkTable(cat, "d")
      insertRange(cat, 0, 24)
      insertRange(cat, 0, 4, table = "d")
      spark.sql(s"CALL $cat.system.create_join_mv('vj', 't', 'd', " +
        "'f.doc_id % 4', 'd.doc_id', 'd.doc_id', 'f.n_words', true)")
      org.apache.spark.sql.GraftBridge.addOptimization(spark,
        graft.plans.MvRewriteRule(spark))
      val vj = wh.resolve("vj"); val t = wh.resolve("t")
      def q() = spark.sql(
        s"""SELECT d.doc_id AS k, SUM(f.n_words) AS s
           |FROM $cat.t f JOIN $cat.d d ON f.doc_id % 4 = d.doc_id
           |GROUP BY d.doc_id""".stripMargin)
      // the ONLY commit after create is on the DIM
      spark.sql(s"DELETE FROM $cat.d WHERE doc_id = 3")
      val after = q()
      assert(scansPath(after, vj) && !scansPath(after, t),
        "a dim delete with auto=true must reseed inline (view-only " +
          "plan with no manual refresh)")
      assert(after.count() == 3, "the dropped dim key's group is gone")
      // a manual refresh finds nothing left to do
      val rs = spark.sql(s"CALL $cat.system.refresh_mv('vj')")
        .select("refreshed", "recomputed_groups").head()
      assert(!rs.getBoolean(0) && rs.getLong(1) == 0L,
        "the manual refresh after an inline reseed must be a no-op")
      spark.conf.set("spark.graft.mv.rewrite", "false")
      assert(sameResult(after, q()))
      spark.conf.unset("spark.graft.mv.rewrite")
    }
  }

  test("decimal sums: maintenance stays exact across deletes; AVG " +
      "refuses; precision 19+ refuses at create; unscaled overflow " +
      "raises instead of wrapping") {
    OpsUtil.withScratchCatalog(spark, "r18_dec1") { (cat, wh) =>
      mkTable(cat)
      insertRange(cat, 0, 20)
      val sumExpr = "CAST(n_words AS DECIMAL(10,2)) * 1.25"
      spark.sql(s"CALL $cat.system.create_mv(" +
        s"'v', 't', 'doc_id % 4', '$sumExpr', true)")
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id IN (2, 11)")
      org.apache.spark.sql.GraftBridge.addOptimization(spark,
        graft.plans.MvRewriteRule(spark))
      val v = wh.resolve("v"); val t = wh.resolve("t")
      def q() = spark.sql(
        s"""SELECT doc_id % 4 AS k, SUM($sumExpr) AS s
           |FROM $cat.t GROUP BY doc_id % 4""".stripMargin)
      val hit = q()
      assert(scansPath(hit, v) && !scansPath(hit, t),
        "the decimal SUM must answer from the view after maintenance")
      spark.conf.set("spark.graft.mv.rewrite", "false")
      assert(sameResult(hit, q()),
        "the rewritten decimal sum must be bit-identical")
      spark.conf.unset("spark.graft.mv.rewrite")
      val avg = spark.sql(
        s"""SELECT doc_id % 4 AS k, AVG($sumExpr) AS a
           |FROM $cat.t GROUP BY doc_id % 4""".stripMargin)
      assert(!scansPath(avg, v) && scansPath(avg, t),
        "decimal AVG must refuse (scale/rounding not replicated)")
      // DECIMAL(20, 2) cannot round-trip through BIGINT storage
      val tooWide = intercept[Exception] {
        spark.sql(s"CALL $cat.system.create_mv('vbad', 't', " +
          "'doc_id % 4', 'CAST(n_words AS DECIMAL(20,2))', false)")
      }
      assert(tooWide.getMessage.contains("round-trip"))
      // per-row unscaled values near 10^18 overflow the BIGINT group
      // sum — the fold must RAISE, never wrap (18 rows x 9e17 > 2^63
      // when they all land in one group)
      val overflow = intercept[Exception] {
        spark.sql(s"CALL $cat.system.create_mv('vover', 't', " +
          "'doc_id % 1', 'CAST(900000000000000000 AS DECIMAL(18,0))', " +
          "false)")
      }
      val chain = Iterator.iterate(overflow: Throwable)(_.getCause)
        .takeWhile(_ != null).map(e => Option(e.getMessage).getOrElse(""))
        .mkString(" | ")
      assert(chain.contains("overflow"),
        s"expected an overflow raise, got: $chain")
      // the failed create leaves no view directory behind, so the name
      // is free for a valid view
      assert(!java.nio.file.Files.exists(wh.resolve("vover")),
        "a create whose seed raises must leave no view directory")
      val valid = spark.sql(s"CALL $cat.system.create_mv('vover', 't', " +
        "'doc_id % 1', 'CAST(n_words AS DECIMAL(18,0))', false)").head()
      assert(valid.getLong(1) == 1L, "doc_id % 1 has one group")
    }
  }

  test("chain join view: refusals — wrong condition, extra side, " +
      "subset join; deeper chains work through the Scala API") {
    OpsUtil.withScratchCatalog(spark, "r18_chain1") { (cat, wh) =>
      mkTable(cat); mkTable(cat, "c"); mkTable(cat, "n")
      mkTable(cat, "x")
      insertRange(cat, 0, 24)
      insertRange(cat, 0, 8, table = "c")
      insertRange(cat, 0, 4, table = "n")
      insertRange(cat, 0, 4, table = "x")
      spark.sql(s"CALL $cat.system.create_chain_mv('v3', 't', 'c', " +
        "'n', 'f.doc_id % 8', 'd1.doc_id', 'd1.doc_id % 4', " +
        "'d2.doc_id', 'd2.doc_id', 'f.n_words', true)")
      org.apache.spark.sql.GraftBridge.addOptimization(spark,
        graft.plans.MvRewriteRule(spark))
      val v3 = wh.resolve("v3")
      def q(sql: String) = spark.sql(sql)
      val hit = q(
        s"""SELECT n.doc_id AS k, SUM(f.n_words) AS s
           |FROM $cat.t f JOIN $cat.c c ON f.doc_id % 8 = c.doc_id
           |JOIN $cat.n n ON c.doc_id % 4 = n.doc_id
           |GROUP BY n.doc_id""".stripMargin)
      assert(scansPath(hit, v3), "the declared 3-way chain must hit")
      spark.conf.set("spark.graft.mv.rewrite", "false")
      val real = q(
        s"""SELECT n.doc_id AS k, SUM(f.n_words) AS s
           |FROM $cat.t f JOIN $cat.c c ON f.doc_id % 8 = c.doc_id
           |JOIN $cat.n n ON c.doc_id % 4 = n.doc_id
           |GROUP BY n.doc_id""".stripMargin)
      assert(sameResult(hit, real))
      spark.conf.unset("spark.graft.mv.rewrite")
      // a DIFFERENT middle condition is a different row set
      val wrongCond = q(
        s"""SELECT n.doc_id AS k, SUM(f.n_words) AS s
           |FROM $cat.t f JOIN $cat.c c ON f.doc_id % 8 = c.doc_id
           |JOIN $cat.n n ON c.doc_id % 2 = n.doc_id
           |GROUP BY n.doc_id""".stripMargin)
      assert(!scansPath(wrongCond, v3),
        "a different chain condition must refuse")
      // an EXTRA joined table the view does not cover
      val extraSide = q(
        s"""SELECT n.doc_id AS k, SUM(f.n_words) AS s
           |FROM $cat.t f JOIN $cat.c c ON f.doc_id % 8 = c.doc_id
           |JOIN $cat.n n ON c.doc_id % 4 = n.doc_id
           |JOIN $cat.x x ON n.doc_id = x.doc_id
           |GROUP BY n.doc_id""".stripMargin)
      assert(!scansPath(extraSide, v3),
        "an extra join side must refuse")
      // only a PREFIX of the chain (t join c, no n) is a different
      // aggregate — the view's rows count each fact row once per
      // full-chain match
      val subset = q(
        s"""SELECT c.doc_id % 4 AS k, SUM(f.n_words) AS s
           |FROM $cat.t f JOIN $cat.c c ON f.doc_id % 8 = c.doc_id
           |GROUP BY c.doc_id % 4""".stripMargin)
      assert(!scansPath(subset, v3),
        "a subset of the chain must refuse")
      // role-playing dims refuse at create
      val rolePlay = intercept[Exception] {
        spark.sql(s"CALL $cat.system.create_chain_mv('vrp', 't', " +
          "'c', 'c', 'f.doc_id % 8', 'd1.doc_id', 'd1.doc_id % 8', " +
          "'d2.doc_id', 'd2.doc_id', 'f.n_words', false)")
      }
      assert(Iterator.iterate(rolePlay: Throwable)(_.getCause)
        .takeWhile(_ != null)
        .exists(t => Option(t.getMessage).exists(
          _.contains("role-playing"))))
      // a 3-dim chain through the Scala API: t ⋈ c ⋈ n ⋈ x
      mkTable(cat, "y")
      insertRange(cat, 0, 2, table = "y")
      val info = graft.sources.GraftMv.createChain(spark, "t",
        wh.resolve("t"),
        Seq("c" -> wh.resolve("c"), "n" -> wh.resolve("n"),
          "y" -> wh.resolve("y")),
        Seq(("f.doc_id % 8", "d1.doc_id"),
          ("d1.doc_id % 4", "d2.doc_id"),
          ("d2.doc_id % 2", "d3.doc_id")),
        wh.resolve("v4"), "v4", "d3.doc_id", "f.n_words", auto = true)
      assert(info.groups == 2L)
      val deep = q(
        s"""SELECT y.doc_id AS k, SUM(f.n_words) AS s
           |FROM $cat.t f JOIN $cat.c c ON f.doc_id % 8 = c.doc_id
           |JOIN $cat.n n ON c.doc_id % 4 = n.doc_id
           |JOIN $cat.y y ON n.doc_id % 2 = y.doc_id
           |GROUP BY y.doc_id""".stripMargin)
      assert(scansPath(deep, wh.resolve("v4")),
        "a 4-table chain must hit its view")
      spark.conf.set("spark.graft.mv.rewrite", "false")
      val deepReal = q(
        s"""SELECT y.doc_id AS k, SUM(f.n_words) AS s
           |FROM $cat.t f JOIN $cat.c c ON f.doc_id % 8 = c.doc_id
           |JOIN $cat.n n ON c.doc_id % 4 = n.doc_id
           |JOIN $cat.y y ON n.doc_id % 2 = y.doc_id
           |GROUP BY y.doc_id""".stripMargin)
      assert(sameResult(deep, deepReal))
      spark.conf.unset("spark.graft.mv.rewrite")
    }
  }

  test("composite maintenance audit: the refresh procedure folds the " +
      "composite delta and the view's group count tracks deletes") {
    OpsUtil.withScratchCatalog(spark, "r18_ck2") { (cat, wh) =>
      mkTable(cat)
      insertRange(cat, 0, 12)
      spark.sql(s"CALL $cat.system.create_mv(" +
        "'v', 't', 'doc_id % 3', 'n_words', false, 'sum', 'doc_id % 2')")
      // 6 (k3, k2) classes over 12 docs, 2 docs each
      insertRange(cat, 12, 18)
      val r1 = spark.sql(s"CALL $cat.system.refresh_mv('v')")
        .select("applied_changes", "groups").head()
      assert(r1.getLong(0) == 6L && r1.getLong(1) == 6L)
      // delete BOTH members of class (doc_id%3=0, doc_id%2=0): 0, 6,
      // 12 share it — remove 0,6,12 plus one stray from another class
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id IN (0, 6, 12, 1)")
      val r2 = spark.sql(s"CALL $cat.system.refresh_mv('v')")
        .select("applied_changes", "groups").head()
      assert(r2.getLong(0) == 4L && r2.getLong(1) == 5L,
        "the emptied composite group must drop out of the view")
    }
  }
}
