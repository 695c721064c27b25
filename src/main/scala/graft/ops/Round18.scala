package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-18 operators: closing the materialized-view optimizer's
  * highest-traffic gaps —
  *
  *  - q291 COMPOSITE-KEY VIEWS: `GROUP BY k1, k2` — the reference's
  *    own league-table grain (GROUP BY competition, team —
  *    /root/reference/Assignment-python.py:257). The substrate packs
  *    the second key into the view's `title` column as a canonical
  *    decimal string; the rewrite answers the exact grain (any key
  *    order) as a pure projection, any coarser grain (drop a key,
  *    wrap keys in functions, the global aggregate) by roll-up, and
  *    key-only predicates compose;
  *  - q293 DECIMAL SUMS: `SUM(DECIMAL(p ≤ 18, s))` maintained
  *    EXACTLY — the view stores unscaled BIGINT values (× 10^s) and
  *    the rewrite re-scales through MakeDecimal at the query's own
  *    output type, bit-identical to the unrewritten plan (integer
  *    arithmetic end-to-end, unlike a double-typed view). The fold
  *    raises loudly if a group's unscaled sum leaves the BIGINT
  *    range; precision > 18 refuses at CREATE.
  *
  * Scale shape: both close the same 100 TB gap as the rest of the MV
  * family — the corpus scan+shuffle that never runs. Composite keys
  * matter because real fact tables rarely group by one column;
  * DECIMAL matters because the money columns (the flagship q01's
  * `l_extendedprice` shape) are exactly the ones dashboards sum.
  */
object Round18 {
  type Q = (SparkSession, String) => DataFrame

  /** Insert rows [lo, hi) of the generative corpus as ONE ordered file. */
  private def insertRange(spark: SparkSession, cat: String, lo: Int,
      hi: Int): Unit = {
    spark.read.format("graft.sources.GraftDocsSource")
      .option("rows", hi.toString).load()
      .filter(col("doc_id") >= lo)
      .coalesce(1).sortWithinPartitions("doc_id")
      .createOrReplaceTempView(s"${cat}_b")
    spark.sql(
      s"""INSERT INTO $cat.t (doc_id, title, fp, n_words)
         |SELECT doc_id, title, fp, n_words FROM ${cat}_b""".stripMargin)
    spark.catalog.dropTempView(s"${cat}_b")
  }

  /** (scans `dir`?, holds a logical Aggregate?) for a frame's
    * optimized plan. */
  private def planFacts(df: DataFrame)
      : (java.nio.file.Path => Boolean, Boolean) = {
    val plan = df.queryExecution.optimizedPlan
    val scans = (dir: java.nio.file.Path) => plan.collect {
      case s: org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2ScanRelation
          if s.scan.description.contains(dir.toString) => s
    }.nonEmpty
    val aggregates = plan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.nonEmpty
    (scans, aggregates)
  }

  private def requireSameResult(a: DataFrame, b: DataFrame, what: String)
      : Unit =
    // view-grain aggregates: ≤ group-count rows at any scale, so the
    // audit compares on the driver (OpsUtil.sameRowsLocal) instead of
    // paying two exceptAll shuffles per check
    require(OpsUtil.sameRowsLocal(a, b),
      s"mv rewrite changed the $what result")

  // ---------------------------------------------------------------------
  // q291: COMPOSITE-KEY materialized view — GROUP BY k1, k2
  // ---------------------------------------------------------------------

  /** Six faces of the composite-key rewrite over one view (keys
    * `doc_id % 6` and `doc_id % 4`, sum `n_words`, auto-maintained
    * across a DELETE):
    *
    *  - EXACT grain, REVERSED key order (`GROUP BY doc_id % 4,
    *    doc_id % 6`): pure projection over the 12-row view — no
    *    aggregate at all (key matching is order-insensitive);
    *  - ROLL-UP dropping a key (`GROUP BY doc_id % 4`): re-aggregate
    *    view rows, never the source;
    *  - MIXED coarse grain (`GROUP BY (doc_id % 6) % 3, doc_id % 4`):
    *    any tuple of functions of the keys rolls up;
    *  - FILTERED exact (`WHERE doc_id % 4 = 1 AND doc_id % 6 <> 2`):
    *    both key predicates re-apply over view rows, plan stays
    *    view-only with no aggregate;
    *  - NON-KEY predicate (`WHERE n_words > 20`): refused — the
    *    corpus plan stands (negative control);
    *  - WRONG GRAIN (`GROUP BY doc_id % 12`): refused — semantically
    *    derivable from (k1, k2) by CRT, but not as a syntactic
    *    function of the key expressions, so the rule conservatively
    *    keeps the corpus plan (the unsound-looking direction must
    *    never guess).
    *
    * Every rewritten shape is require-checked against its rule-off
    * twin IN the query, and the plan facts ride in the hashed row. */
  val q291MvCompositeKey: Q = (spark, dir) => {
    OpsUtil.withScratchCatalog(spark, "q291") { (cat, wh) =>
      spark.sql(
        s"""CREATE TABLE $cat.t (
           |  doc_id BIGINT NOT NULL, title STRING NOT NULL,
           |  fp BIGINT NOT NULL, n_words INT NOT NULL)
           |TBLPROPERTIES ('versioned' = 'true',
           |  'delete.mode' = 'merge-on-read')""".stripMargin)
      insertRange(spark, cat, 0, 48)                             // v1
      spark.sql(s"CALL $cat.system.create_mv(" +
        "'vc', 't', 'doc_id % 6', 'n_words', true, 'sum', 'doc_id % 4')")
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id IN (7, 20)")   // v2
      org.apache.spark.sql.GraftBridge.addOptimization(spark,
        graft.plans.MvRewriteRule(spark))
      def exactQ() = spark.sql(
        s"""SELECT doc_id % 4 AS k4, doc_id % 6 AS k6,
           |  SUM(n_words) AS sum_words, COUNT(*) AS n_docs
           |FROM $cat.t GROUP BY doc_id % 4, doc_id % 6""".stripMargin)
      def rollQ() = spark.sql(
        s"""SELECT doc_id % 4 AS k4, SUM(n_words) AS s
           |FROM $cat.t GROUP BY doc_id % 4""".stripMargin)
      def mixQ() = spark.sql(
        s"""SELECT (doc_id % 6) % 3 AS k3, doc_id % 4 AS k4,
           |  COUNT(*) AS n
           |FROM $cat.t GROUP BY (doc_id % 6) % 3, doc_id % 4"""
          .stripMargin)
      def filtQ() = spark.sql(
        s"""SELECT doc_id % 6 AS k6, doc_id % 4 AS k4,
           |  SUM(n_words) AS s
           |FROM $cat.t WHERE doc_id % 4 = 1 AND doc_id % 6 <> 2
           |GROUP BY doc_id % 6, doc_id % 4""".stripMargin)
      def nonkeyQ() = spark.sql(
        s"""SELECT doc_id % 6 AS k6, doc_id % 4 AS k4, COUNT(*) AS n
           |FROM $cat.t WHERE n_words > 20
           |GROUP BY doc_id % 6, doc_id % 4""".stripMargin)
      def finerQ() = spark.sql(
        s"""SELECT doc_id % 12 AS k12, SUM(n_words) AS s
           |FROM $cat.t GROUP BY doc_id % 12""".stripMargin)
      val v = wh.resolve("vc"); val t = wh.resolve("t")
      val ex = exactQ()
      val (exScans, exAgg) = planFacts(ex)
      val ru = rollQ()
      val (ruScans, ruAgg) = planFacts(ru)
      val mx = mixQ()
      val (mxScans, _) = planFacts(mx)
      val fl = filtQ()
      val (flScans, flAgg) = planFacts(fl)
      val nk = nonkeyQ()
      val (nkScans, _) = planFacts(nk)
      val fg = finerQ()
      val (fgScans, _) = planFacts(fg)
      spark.conf.set("spark.graft.mv.rewrite", "false")
      requireSameResult(ex, exactQ(), "composite exact")
      requireSameResult(ru, rollQ(), "composite key-drop roll-up")
      requireSameResult(mx, mixQ(), "composite mixed roll-up")
      requireSameResult(fl, filtQ(), "composite filtered exact")
      spark.conf.unset("spark.graft.mv.rewrite")
      val ruSum = ru.agg(sum("s")).head().getLong(0)
      val flSum = fl.agg(sum("s")).head().getLong(0)
      val mxN = mx.agg(sum("n")).head().getLong(0)
      val out = ex.orderBy("k4", "k6")
        .withColumn("exact_scans_view", lit(exScans(v)))
        .withColumn("exact_scans_source", lit(exScans(t)))
        .withColumn("exact_no_aggregate", lit(!exAgg))
        .withColumn("roll_scans_view", lit(ruScans(v)))
        .withColumn("roll_scans_source", lit(ruScans(t)))
        .withColumn("roll_keeps_aggregate", lit(ruAgg))
        .withColumn("roll_total", lit(ruSum))
        .withColumn("mix_scans_view", lit(mxScans(v)))
        .withColumn("mix_scans_source", lit(mxScans(t)))
        .withColumn("mix_total_docs", lit(mxN))
        .withColumn("filt_scans_view", lit(flScans(v)))
        .withColumn("filt_scans_source", lit(flScans(t)))
        .withColumn("filt_no_aggregate", lit(!flAgg))
        .withColumn("filt_total", lit(flSum))
        .withColumn("nonkey_scans_view", lit(nkScans(v)))
        .withColumn("nonkey_scans_source", lit(nkScans(t)))
        .withColumn("finer_scans_view", lit(fgScans(v)))
        .withColumn("finer_scans_source", lit(fgScans(t)))
      OpsUtil.driverLiteral(out)
    }
  }

  // ---------------------------------------------------------------------
  // q293: DECIMAL sums — exact unscaled maintenance + exact rewrite
  // ---------------------------------------------------------------------

  /** SUM over a DECIMAL expression (`CAST(n_words AS DECIMAL(10,2)) *
    * 1.01` — scale-4 money arithmetic) maintained exactly through the
    * unscaled-BIGINT substrate and rewritten exactly through
    * MakeDecimal:
    *
    *  - EXACT grain: view-only projection; the rewritten SUM is
    *    require-checked BIT-IDENTICAL (exceptAll on the DECIMAL
    *    values) against the rule-off corpus plan;
    *  - GLOBAL roll-up: sum-of-unscaled-sums re-scaled once;
    *  - AVG over the decimal refuses (Spark's decimal Average has its
    *    own output scale and HALF_UP rounding the integer substrate
    *    does not replicate — the corpus plan stands);
    *  - CREATE with DECIMAL(20,2) refuses: its unscaled values cannot
    *    round-trip through BIGINT storage exactly.
    *
    * The hashed row carries the decimal totals as canonical strings
    * (both engines render full scale) plus the unscaled integers —
    * exactness checked with zero float formatting slack. */
  val q293MvDecimalSum: Q = (spark, dir) => {
    OpsUtil.withScratchCatalog(spark, "q293") { (cat, wh) =>
      spark.sql(
        s"""CREATE TABLE $cat.t (
           |  doc_id BIGINT NOT NULL, title STRING NOT NULL,
           |  fp BIGINT NOT NULL, n_words INT NOT NULL)
           |TBLPROPERTIES ('versioned' = 'true',
           |  'delete.mode' = 'merge-on-read')""".stripMargin)
      insertRange(spark, cat, 0, 48)                             // v1
      val sumExpr = "CAST(n_words AS DECIMAL(10,2)) * 1.01"
      spark.sql(s"CALL $cat.system.create_mv(" +
        s"'vd', 't', 'doc_id % 6', '$sumExpr', true)")
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id IN (5, 16)")   // v2
      // precision that cannot round-trip through BIGINT refuses
      val precisionRefused =
        try {
          spark.sql(s"CALL $cat.system.create_mv('vbad', 't', " +
            "'doc_id % 6', 'CAST(n_words AS DECIMAL(20,2))', false)")
          false
        } catch {
          case e: Exception =>
            Iterator.iterate(e: Throwable)(_.getCause)
              .takeWhile(_ != null)
              .exists(t => Option(t.getMessage).exists(
                _.contains("round-trip")))
        }
      org.apache.spark.sql.GraftBridge.addOptimization(spark,
        graft.plans.MvRewriteRule(spark))
      def exactQ() = spark.sql(
        s"""SELECT doc_id % 6 AS k, SUM($sumExpr) AS s,
           |  COUNT(*) AS n_docs
           |FROM $cat.t GROUP BY doc_id % 6""".stripMargin)
      def globalQ() = spark.sql(
        s"SELECT SUM($sumExpr) AS gs FROM $cat.t")
      def avgQ() = spark.sql(
        s"""SELECT doc_id % 6 AS k, AVG($sumExpr) AS a
           |FROM $cat.t GROUP BY doc_id % 6""".stripMargin)
      val v = wh.resolve("vd"); val t = wh.resolve("t")
      val ex = exactQ()
      val (exScans, exAgg) = planFacts(ex)
      val g = globalQ()
      val (gScans, _) = planFacts(g)
      val av = avgQ()
      val (avScans, _) = planFacts(av)
      spark.conf.set("spark.graft.mv.rewrite", "false")
      // bit-identical: both sides share one DECIMAL type, so their full-
      // scale text is equal exactly when the values are (sameRowsLocal
      // takes no decimals); each side keeps the plan of its rule setting
      requireSameResult(OpsUtil.plannedText(ex, "s"),
        OpsUtil.plannedText(exactQ(), "s"), "decimal exact")
      requireSameResult(OpsUtil.plannedText(g, "gs"),
        OpsUtil.plannedText(globalQ(), "gs"), "decimal global roll-up")
      spark.conf.unset("spark.graft.mv.rewrite")
      val gRow = g.head()
      val gStr = gRow.getDecimal(0).toPlainString
      val gUnscaled = gRow.getDecimal(0).unscaledValue.longValueExact
      val out = ex.orderBy("k")
        .select(col("k"), col("s").cast("string").as("sum_str"),
          (col("s") * lit(10000)).cast("long").as("sum_unscaled"),
          col("n_docs"))
        .withColumn("exact_scans_view", lit(exScans(v)))
        .withColumn("exact_scans_source", lit(exScans(t)))
        .withColumn("exact_no_aggregate", lit(!exAgg))
        .withColumn("global_sum_str", lit(gStr))
        .withColumn("global_sum_unscaled", lit(gUnscaled))
        .withColumn("global_scans_view", lit(gScans(v)))
        .withColumn("avg_scans_view", lit(avScans(v)))
        .withColumn("avg_scans_source", lit(avScans(t)))
        .withColumn("precision_refused", lit(precisionRefused))
      OpsUtil.driverLiteral(out)
    }
  }

  // ---------------------------------------------------------------------
  // q292: 3-way CHAIN join view — fact ⋈ dim ⋈ dim (snowflake)
  // ---------------------------------------------------------------------

  /** The reference's FULL league-table shape — an aggregate over a
    * 3-way join (orders⋈customer⋈nation,
    * /root/reference/Assignment-python.py:183-185 → :257) — as a
    * chain view: `SELECT d2.doc_id, SUM(f.n_words), COUNT(*) FROM
    * fact f JOIN c d1 ON f.doc_id % 8 = d1.doc_id JOIN n d2 ON
    * d1.doc_id % 4 = d2.doc_id GROUP BY d2.doc_id`. Faces:
    *
    *  - the 3-way join-aggregate plans VIEW-ONLY (no Join at all, no
    *    Aggregate — both plan-asserted), with fact deltas (insert +
    *    delete commits) folded incrementally by the auto refresh;
    *  - grouping by the EQUIVALENT middle-dim expression
    *    (`GROUP BY d1.doc_id % 4`) hits the view exactly through the
    *    transitive join-equality closure;
    *  - the GLOBAL aggregate rolls up view rows;
    *  - a MIDDLE-DIM delete with the dim-side registration removed
    *    leaves the view honest-stale: the per-dim watermark check
    *    refuses (the real 3-way join plans) until `refresh_mv`
    *    reseeds from the pinned (fact, dim, dim) triple;
    *  - post-reseed the rewrite fires again.
    *
    * All plan facts and the reseed audit ride in the hashed row;
    * every rewritten shape is require-checked against its rule-off
    * twin. */
  val q292MvChainJoin: Q = (spark, dir) => {
    OpsUtil.withScratchCatalog(spark, "q292") { (cat, wh) =>
      Seq("t", "c", "n").foreach { tbl =>
        spark.sql(
          s"""CREATE TABLE $cat.$tbl (
             |  doc_id BIGINT NOT NULL, title STRING NOT NULL,
             |  fp BIGINT NOT NULL, n_words INT NOT NULL)
             |TBLPROPERTIES ('versioned' = 'true',
             |  'delete.mode' = 'merge-on-read')""".stripMargin)
      }
      insertRange(spark, cat, 0, 36)                            // t v1
      def seedDim(tbl: String, rows: Int): Unit = {
        spark.read.format("graft.sources.GraftDocsSource")
          .option("rows", rows.toString).load()
          .coalesce(1).sortWithinPartitions("doc_id")
          .createOrReplaceTempView(s"${cat}_$tbl")
        spark.sql(
          s"""INSERT INTO $cat.$tbl (doc_id, title, fp, n_words)
             |SELECT doc_id, title, fp, n_words FROM ${cat}_$tbl"""
            .stripMargin)
        spark.catalog.dropTempView(s"${cat}_$tbl")
      }
      seedDim("c", 8); seedDim("n", 4)               // c v1, n v1
      spark.sql(s"CALL $cat.system.create_chain_mv('v3', 't', 'c', " +
        "'n', 'f.doc_id % 8', 'd1.doc_id', 'd1.doc_id % 4', " +
        "'d2.doc_id', 'd2.doc_id', 'f.n_words', true)")
      insertRange(spark, cat, 36, 48)                  // t v2 → delta
      spark.sql(s"DELETE FROM $cat.t WHERE doc_id = 6")
                                                       // t v3 → signed
      org.apache.spark.sql.GraftBridge.addOptimization(spark,
        graft.plans.MvRewriteRule(spark))
      def chainQ() = spark.sql(
        s"""SELECT n.doc_id AS k, SUM(f.n_words) AS sum_words,
           |  COUNT(*) AS n_docs
           |FROM $cat.t f JOIN $cat.c c ON f.doc_id % 8 = c.doc_id
           |JOIN $cat.n n ON c.doc_id % 4 = n.doc_id
           |GROUP BY n.doc_id""".stripMargin)
      def equivQ() = spark.sql(
        s"""SELECT c.doc_id % 4 AS k, SUM(f.n_words) AS s
           |FROM $cat.t f JOIN $cat.c c ON f.doc_id % 8 = c.doc_id
           |JOIN $cat.n n ON c.doc_id % 4 = n.doc_id
           |GROUP BY c.doc_id % 4""".stripMargin)
      def globalQ() = spark.sql(
        s"""SELECT SUM(f.n_words) AS gs, COUNT(*) AS gc
           |FROM $cat.t f JOIN $cat.c c ON f.doc_id % 8 = c.doc_id
           |JOIN $cat.n n ON c.doc_id % 4 = n.doc_id""".stripMargin)
      def hasJoin(df: DataFrame): Boolean =
        df.queryExecution.optimizedPlan.collect {
          case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
        }.nonEmpty
      val v3 = wh.resolve("v3"); val t = wh.resolve("t")
      val cTbl = wh.resolve("c"); val nTbl = wh.resolve("n")
      // pre-window plans are inspected, never executed (their scans
      // pinned the pre-reseed state)
      val pre = chainQ()
      val (preScans, preAgg) = planFacts(pre)
      // remove the middle dim's registration, then delete from it:
      // the view goes honest-stale on that axis
      graft.sources.GraftTableMeta.write(wh.resolve("c"),
        graft.sources.GraftTableMeta.read(wh.resolve("c"))
          - "mv.dependents")
      spark.sql(s"DELETE FROM $cat.c WHERE doc_id = 7")        // c v2
      val stale = chainQ()
      val (staleScans, _) = planFacts(stale)
      val rs = spark.sql(s"CALL $cat.system.refresh_mv('v3')")
        .select("applied_changes", "recomputed_groups", "refreshed")
        .head()
      val post = chainQ()
      val (postScans, postAgg) = planFacts(post)
      val eq = equivQ()
      val (eqScans, eqAgg) = planFacts(eq)
      val g = globalQ()
      val (gScans, _) = planFacts(g)
      spark.conf.set("spark.graft.mv.rewrite", "false")
      requireSameResult(post, chainQ(), "chain-view aggregate")
      requireSameResult(eq, equivQ(), "chain-view equivalent grouping")
      requireSameResult(g, globalQ(), "chain-view global roll-up")
      spark.conf.unset("spark.graft.mv.rewrite")
      val gr = g.head()
      val eqSum = eq.agg(sum("s")).head().getLong(0)
      val out = post.orderBy("k")
        .withColumn("pre_scans_view", lit(preScans(v3)))
        .withColumn("pre_no_join", lit(!hasJoin(pre)))
        .withColumn("pre_no_aggregate", lit(!preAgg))
        .withColumn("equiv_scans_view", lit(eqScans(v3)))
        .withColumn("equiv_no_aggregate", lit(!eqAgg))
        .withColumn("equiv_total", lit(eqSum))
        .withColumn("global_scans_view", lit(gScans(v3)))
        .withColumn("global_sum", lit(gr.getLong(0)))
        .withColumn("global_docs", lit(gr.getLong(1)))
        .withColumn("stale_scans_view", lit(staleScans(v3)))
        .withColumn("stale_scans_fact", lit(staleScans(t)))
        .withColumn("stale_keeps_join", lit(hasJoin(stale)))
        .withColumn("post_scans_view", lit(postScans(v3)))
        .withColumn("post_scans_fact", lit(postScans(t)))
        .withColumn("post_scans_c", lit(postScans(cTbl)))
        .withColumn("post_scans_n", lit(postScans(nTbl)))
        .withColumn("post_no_join", lit(!hasJoin(post)))
        .withColumn("post_no_aggregate", lit(!postAgg))
        .withColumn("reseed_applied", lit(rs.getLong(0)))
        .withColumn("reseed_recomputed", lit(rs.getLong(1)))
        .withColumn("reseed_refreshed", lit(rs.getBoolean(2)))
      OpsUtil.driverLiteral(out)
    }
  }

  val queries: Map[String, Q] = Map(
    "q291_mv_composite_key" -> q291MvCompositeKey,
    "q292_mv_chain_join" -> q292MvChainJoin,
    "q293_mv_decimal_sum" -> q293MvDecimalSum)

  val oracle: Map[String, String] = Map(
    // corpus [0,48) minus deleted {7,20}; n_words(i) = i%91+9 = i+9
    // here. 12 (k4, k6) groups at the exact grain; all positive
    // shapes plan view-only, both negatives fall back to the source.
    "q291_mv_composite_key" ->
      """WITH live AS (
        |  SELECT i, i % 91 + 9 AS w FROM range(0, 48) t(i)
        |  WHERE i NOT IN (7, 20))
        |SELECT i % 4 AS k4, i % 6 AS k6,
        |  CAST(SUM(w) AS BIGINT) AS sum_words,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  TRUE AS exact_scans_view, FALSE AS exact_scans_source,
        |  TRUE AS exact_no_aggregate,
        |  TRUE AS roll_scans_view, FALSE AS roll_scans_source,
        |  TRUE AS roll_keeps_aggregate,
        |  (SELECT CAST(SUM(w) AS BIGINT) FROM live) AS roll_total,
        |  TRUE AS mix_scans_view, FALSE AS mix_scans_source,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM live) AS mix_total_docs,
        |  TRUE AS filt_scans_view, FALSE AS filt_scans_source,
        |  TRUE AS filt_no_aggregate,
        |  (SELECT CAST(SUM(w) AS BIGINT) FROM live
        |    WHERE i % 4 = 1 AND i % 6 <> 2) AS filt_total,
        |  FALSE AS nonkey_scans_view, TRUE AS nonkey_scans_source,
        |  FALSE AS finer_scans_view, TRUE AS finer_scans_source
        |FROM live GROUP BY i % 4, i % 6
        |ORDER BY k4, k6""".stripMargin,
    // fact [0,48) minus deleted {6}; middle dim c keys {0..6} after
    // its delete of 7 (honest-stale window + reseed); outer dim n
    // keys {0..3}; fact i joins c at i%8, c joins n at ck%4. The
    // 3-way aggregate, the equivalent-grouping and the global shapes
    // all plan view-only; the stale window falls back to the real
    // 3-way join; the reseed recomputes all 4 surviving groups.
    "q292_mv_chain_join" ->
      """WITH fact AS (
        |  SELECT i, i % 91 + 9 AS w FROM range(0, 48) t(i)
        |  WHERE i <> 6),
        |c AS (SELECT i AS ck FROM range(0, 8) t(i) WHERE i <> 7),
        |n AS (SELECT i AS nk FROM range(0, 4) t(i)),
        |j AS (SELECT n.nk, f.w FROM fact f
        |  JOIN c ON f.i % 8 = c.ck JOIN n ON c.ck % 4 = n.nk)
        |SELECT nk AS k, CAST(SUM(w) AS BIGINT) AS sum_words,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  TRUE AS pre_scans_view, TRUE AS pre_no_join,
        |  TRUE AS pre_no_aggregate,
        |  TRUE AS equiv_scans_view, TRUE AS equiv_no_aggregate,
        |  (SELECT CAST(SUM(w) AS BIGINT) FROM j) AS equiv_total,
        |  TRUE AS global_scans_view,
        |  (SELECT CAST(SUM(w) AS BIGINT) FROM j) AS global_sum,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM j) AS global_docs,
        |  FALSE AS stale_scans_view, TRUE AS stale_scans_fact,
        |  TRUE AS stale_keeps_join,
        |  TRUE AS post_scans_view, FALSE AS post_scans_fact,
        |  FALSE AS post_scans_c, FALSE AS post_scans_n,
        |  TRUE AS post_no_join, TRUE AS post_no_aggregate,
        |  CAST(0 AS BIGINT) AS reseed_applied,
        |  CAST(4 AS BIGINT) AS reseed_recomputed,
        |  TRUE AS reseed_refreshed
        |FROM j GROUP BY nk ORDER BY k""".stripMargin,
    // corpus [0,48) minus deleted {5,16}; the scale-4 decimal sum
    // per class and globally, rendered as canonical full-scale
    // strings AND unscaled integers (both engines exact).
    "q293_mv_decimal_sum" ->
      """WITH live AS (
        |  SELECT i, CAST(i % 91 + 9 AS DECIMAL(10,2)) * 1.01 AS p
        |  FROM range(0, 48) t(i) WHERE i NOT IN (5, 16))
        |SELECT i % 6 AS k, CAST(SUM(p) AS VARCHAR) AS sum_str,
        |  CAST(SUM(p) * 10000 AS BIGINT) AS sum_unscaled,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  TRUE AS exact_scans_view, FALSE AS exact_scans_source,
        |  TRUE AS exact_no_aggregate,
        |  (SELECT CAST(SUM(p) AS VARCHAR) FROM live) AS global_sum_str,
        |  (SELECT CAST(SUM(p) * 10000 AS BIGINT) FROM live)
        |    AS global_sum_unscaled,
        |  TRUE AS global_scans_view,
        |  FALSE AS avg_scans_view, TRUE AS avg_scans_source,
        |  TRUE AS precision_refused
        |FROM live GROUP BY i % 6 ORDER BY k""".stripMargin)
}
