package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import OpsUtil._

/** Extensions beyond the reference's surface that a complete engine owes
  * its users (SURVEY.md §2 "not used — free in Spark" rows): ordered
  * statistics, exact dispersion, INTERSECT/EXCEPT, analytic window
  * functions, and the spark.sql entry point with subqueries.
  *
  * Determinism notes: percentiles run over integer cents so the linear
  * interpolation at p ∈ {.25,.5,.75} is exact in both engines (halves and
  * quarters of < 2^53 integers are exactly representable); stddev is
  * derived from exact integer moments with one IEEE formula, never from
  * order-dependent floating accumulation. */
object Extended {

  /** Exact percentiles over integer cents (O-row order statistics). */
  val q45Percentiles: Q = (spark, dir) => {
    import spark.implicits._
    Tables.orders(spark, dir)
      .withColumn("cents", (money($"o_totalprice") * 100).cast("long"))
      .groupBy($"o_orderpriority")
      .agg(
        count(lit(1)).as("n"),
        expr("percentile(cents, array(0.25D, 0.5D, 0.75D))").as("pcts"))
      .select($"o_orderpriority", $"n",
        element_at($"pcts", 1).as("p25_cents"),
        element_at($"pcts", 2).as("p50_cents"),
        element_at($"pcts", 3).as("p75_cents"))
      .orderBy($"o_orderpriority")
  }

  /** Exact-moment dispersion: population variance/stddev from integer
    * sums (n, Σx, Σx²) — one deterministic IEEE formula per group. */
  val q46Stats: Q = (spark, dir) => {
    import spark.implicits._
    val cents = (money($"l_extendedprice") * 100).cast("long")
    Tables.lineitem(spark, dir)
      .select($"l_returnflag", cents.as("c"))
      .groupBy($"l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        sum($"c").as("s"),
        sum($"c" * $"c").as("ss"))
      .select($"l_returnflag", $"n",
        ($"s".cast("double") / $"n").as("mean_cents"),
        sqrt(($"ss".cast("double") - $"s".cast("double") * $"s".cast("double")
          / $"n") / $"n").as("stddev_pop_cents"))
      .orderBy($"l_returnflag")
  }

  /** INTERSECT / EXCEPT (distinct set semantics): nation keys that have
    * both suppliers and customers vs customers-only. */
  val q47SetOps: Q = (spark, dir) => {
    import spark.implicits._
    val supNations = Tables.supplier(spark, dir)
      .select($"s_nationkey".cast("int").as("nk"))
    val custNations = Tables.customer(spark, dir)
      .select($"c_nationkey".cast("int").as("nk"))
    val both = custNations.intersect(supNations)
      .select($"nk", lit("both").as("kind"))
    val custOnly = custNations.except(supNations)
      .select($"nk", lit("customers_only").as("kind"))
    both.unionByName(custOnly).orderBy($"kind", $"nk")
  }

  /** Analytic window functions over the event stream: lead-gap seconds
    * and ntile quartiles per user (deterministic order keys throughout). */
  val q48WindowAnalytics: Q = (spark, dir) => {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"sec", $"event_id")
    val wv = Window.partitionBy($"user_id").orderBy($"value".desc, $"event_id")
    Tables.events(spark, dir)
      .select($"user_id", $"event_id", $"value",
        unix_timestamp($"ts".cast("timestamp")).as("sec"))
      .withColumn("gap", lead($"sec", 1).over(w) - $"sec")
      .withColumn("quartile", ntile(4).over(wv))
      .groupBy($"user_id", $"quartile")
      .agg(
        count(lit(1)).as("n"),
        sum(coalesce($"gap", lit(0L))).as("total_gap_sec"),
        dsum($"value").as("total_value"))
      .orderBy($"user_id", $"quartile")
  }

  /** The spark.sql(...) entry point with an IN-subquery (Catalyst rewrites
    * it to a semi join) over registered temp views. The views are dropped
    * once `spark.sql` has analysed the query: the frame keeps their plans. */
  val q49SqlSubquery: Q = (spark, dir) => {
    Tables.orders(spark, dir).createOrReplaceTempView("orders_v")
    Tables.customer(spark, dir).createOrReplaceTempView("customer_v")
    try spark.sql(
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        |FROM orders_v
        |WHERE o_custkey IN
        |  (SELECT c_custkey FROM customer_v WHERE c_acctbal > 9000)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    finally Seq("orders_v", "customer_v").foreach(spark.catalog.dropTempView)
  }

  val queries: Map[String, Q] = Map(
    "q45_percentiles" -> q45Percentiles,
    "q46_stats" -> q46Stats,
    "q47_setops" -> q47SetOps,
    "q48_window_analytics" -> q48WindowAnalytics,
    "q49_sql_subquery" -> q49SqlSubquery,
  )

  val oracle: Map[String, String] = Map(
    "q45_percentiles" ->
      """WITH c AS (
        |  SELECT o_orderpriority,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM orders
        |)
        |SELECT o_orderpriority, COUNT(*) AS n,
        |  quantile_cont(cents, 0.25) AS p25_cents,
        |  quantile_cont(cents, 0.5) AS p50_cents,
        |  quantile_cont(cents, 0.75) AS p75_cents
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    "q46_stats" ->
      """WITH c AS (
        |  SELECT l_returnflag,
        |    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cc
        |  FROM lineitem
        |), m AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    CAST(SUM(cc) AS BIGINT) AS s, CAST(SUM(cc * cc) AS BIGINT) AS ss
        |  FROM c GROUP BY 1
        |)
        |SELECT l_returnflag, n,
        |  CAST(s AS DOUBLE) / n AS mean_cents,
        |  sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
        |    / n) AS stddev_pop_cents
        |FROM m ORDER BY 1""".stripMargin,
    "q47_setops" ->
      """SELECT nk, 'both' AS kind FROM (
        |  SELECT CAST(c_nationkey AS INT) AS nk FROM customer
        |  INTERSECT
        |  SELECT CAST(s_nationkey AS INT) AS nk FROM supplier
        |)
        |UNION ALL
        |SELECT nk, 'customers_only' AS kind FROM (
        |  SELECT CAST(c_nationkey AS INT) AS nk FROM customer
        |  EXCEPT
        |  SELECT CAST(s_nationkey AS INT) AS nk FROM supplier
        |)
        |ORDER BY kind, nk""".stripMargin,
    "q48_window_analytics" ->
      s"""WITH e AS (
         |  SELECT user_id, event_id, value,
         |    CAST(floor(date_part('epoch', ts)) AS BIGINT) AS sec
         |  FROM events
         |), win AS (
         |  SELECT user_id, event_id, value,
         |    LEAD(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) - sec
         |      AS gap,
         |    CAST(NTILE(4) OVER (PARTITION BY user_id
         |      ORDER BY value DESC, event_id) AS INT) AS quartile
         |  FROM e
         |)
         |SELECT user_id, quartile, COUNT(*) AS n,
         |  CAST(SUM(COALESCE(gap, 0)) AS BIGINT) AS total_gap_sec,
         |  ${dsumSql("value")} AS total_value
         |FROM win GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q49_sql_subquery" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        |FROM orders
        |WHERE o_custkey IN
        |  (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
  )
}
