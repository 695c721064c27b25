package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import OpsUtil._

/** Second extension wave (round 2): the grouping-analytics and
  * generator-operator surface SURVEY.md §2 lists as "free in Spark if
  * extended" (§2.5 cube/rollup/grouping-sets row, §2.6 frame specs,
  * §2.10 regex row, §2.15 struct explosion), each with a DuckDB oracle.
  *
  * Scale notes are per-operator: every query here is a single shuffle
  * round (partial+final hash agg or one window exchange) over the fact
  * table — no driver-side loops, no collects, no cross products.
  */
object Extended2 {

  /** CUBE over two low-cardinality keys + grouping_id disambiguation
    * (reference only exercises plain groupBy, §2.5 A1-A9; CUBE is the
    * same 2-phase hash agg with 4x grouping-set expansion, so it scales
    * identically). Null grouping cells are folded to 'ALL' so the output
    * needs no engine-specific null ordering. */
  val q53Cube: Q = (spark, dir) => {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .cube($"l_returnflag", $"l_linestatus")
      .agg(
        grouping_id().as("gid"),
        count(lit(1)).as("n_items"),
        dsum($"l_quantity").as("total_qty"))
      .select(
        coalesce($"l_returnflag", lit("ALL")).as("rf"),
        coalesce($"l_linestatus", lit("ALL")).as("ls"),
        $"gid", $"n_items", $"total_qty")
      .orderBy($"rf", $"ls")
  }

  /** Explicit GROUPING SETS through the spark.sql entry point: per-segment,
    * per-nation, and grand-total aggregates of customer balances in one
    * pass (one shuffle; the expansion is map-side). The temp view is
    * dropped once `spark.sql` has analysed the query. */
  val q54GroupingSets: Q = (spark, dir) => {
    Tables.customer(spark, dir).createOrReplaceTempView("customer_gs")
    try spark.sql(
      """SELECT coalesce(c_mktsegment, 'ALL') AS segment,
        |  coalesce(CAST(c_nationkey AS STRING), 'ALL') AS nation,
        |  COUNT(*) AS n_customers,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
        |FROM customer_gs
        |GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
        |ORDER BY segment, nation""".stripMargin)
    finally spark.catalog.dropTempView("customer_gs")
  }

  /** Regex surface (§2.10 "not used: regex" row): extract the first long
    * word and count digit runs per document; aggregate per extracted word.
    * regexp_extract/_extract_all are codegen'd string expressions — they
    * scan-parallelize with no shuffle until the final small agg. */
  val q55Regex: Q = (spark, dir) => {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(
        regexp_extract($"text", "[a-z]{6,}", 0).as("first_long_word"),
        size(regexp_extract_all($"text", lit("[0-9]+"), lit(0))).as("n_digit_runs"))
      .filter($"first_long_word" =!= "")
      .groupBy($"first_long_word")
      .agg(count(lit(1)).as("n_docs"), sum($"n_digit_runs").as("digit_runs"))
      .orderBy($"n_docs".desc, $"first_long_word")
      .limit(15)
  }

  /** Array-of-struct round trip (§2.15 lineup/substitution shape): pack
    * each nation's top customers into an ordered array of structs, then
    * explode it back out and read the fields. The pack is one hash agg;
    * the explode is a generator (no shuffle). */
  val q56StructExplode: Q = (spark, dir) => {
    import spark.implicits._
    val packed = Tables.customer(spark, dir)
      .groupBy($"c_nationkey")
      .agg(slice(
        reverse(array_sort(collect_list(struct(
          money($"c_acctbal").as("bal"), $"c_custkey".as("key"))))),
        1, 2).as("top2"))
    packed
      .select($"c_nationkey", posexplode($"top2").as(Seq("pos", "cust")))
      .select(
        $"c_nationkey".as("nationkey"),
        ($"pos" + 1).as("rnk"),
        $"cust.key".as("custkey"),
        $"cust.bal".cast("double").as("acctbal"))
      .orderBy($"nationkey", $"rnk")
  }

  /** Tumbling time windows in batch via window() — the batch face of the
    * streaming window surface (§2.14): daily event counts and value sums.
    * The window struct is computed map-side; one shuffle for the agg. */
  val q57TimeBuckets: Q = (spark, dir) => {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy(window($"ts", "1 day").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"), dsum($"value").as("total_value"))
      .select(
        unix_timestamp($"w.start").as("day_sec"),
        $"event_type", $"n", $"total_value")
      .orderBy($"day_sec", $"event_type")
  }

  /** posexplode generator: token positions per document; keep the leading
    * 3 tokens and count position-wise vocabulary sizes per source. */
  val q58PosExplode: Q = (spark, dir) => {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"source", posexplode(split($"text", " ")).as(Seq("pos", "tok")))
      .filter($"pos" < 3 && length($"tok") > 0)
      .groupBy($"source", $"pos")
      .agg(countDistinct($"tok").as("n_distinct"), count(lit(1)).as("n"))
      .orderBy($"source", $"pos")
  }

  /** percent_rank + cume_dist frame analytics per user (§2.6 "available if
    * extended"): both are exact rational values ((rank-1)/(n-1)), so the
    * doubles are bit-identical across engines — no quantization needed. */
  val q59PercentRank: Q = (spark, dir) => {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"value", $"event_id")
    Tables.events(spark, dir)
      .select($"user_id", $"event_type", $"value", $"event_id")
      .withColumn("pr", percent_rank().over(w))
      .withColumn("cd", cume_dist().over(w))
      // floor-quantize before summing: a double SUM's value depends on
      // accumulation order, an integer SUM's does not (oracle parity).
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n"),
        sum(floor($"pr" * 1e6).cast("long")).as("prq"),
        sum(floor($"cd" * 1e6).cast("long")).as("cdq"))
      .select($"event_type", $"n",
        ($"prq".cast("double") / ($"n" * 1e6)).as("avg_pr"),
        ($"cdq".cast("double") / ($"n" * 1e6)).as("avg_cd"))
      .orderBy($"event_type")
  }

  /** HLL sketch surface: approx_count_distinct at 2% rsd vs the exact
    * count. The two engines' HLL estimates differ, so the CHECK — each
    * engine's own estimate within 10% of exact (a 5-sigma bound) — is the
    * comparable output, not the estimate itself. At 100 TB the sketch is
    * one pass + constant memory where exact distinct is a full shuffle. */
  val q64ApproxDistinct: Q = (spark, dir) => {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy($"event_type")
      .agg(
        countDistinct($"user_id").as("n_exact"),
        approx_count_distinct($"user_id", 0.02).as("apx"))
      .select($"event_type", $"n_exact",
        (abs($"apx" - $"n_exact").cast("double") / $"n_exact" <= 0.1)
          .as("approx_ok"))
      .orderBy($"event_type")
  }

  /** MapType surface (§1.2 "not used" row): per-nation status→count map
    * built from entries, queried with element_at, serialized to a sorted
    * canonical string (maps have no cross-engine storable order). */
  val q65MapFuncs: Q = (spark, dir) => {
    import spark.implicits._
    Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), $"o_custkey" === $"c_custkey")
      .groupBy($"c_nationkey", $"o_orderstatus")
      .agg(count(lit(1)).as("cnt"))
      .groupBy($"c_nationkey")
      .agg(map_from_entries(
        array_sort(collect_list(struct($"o_orderstatus", $"cnt")))).as("m"))
      .select(
        $"c_nationkey".as("nationkey"),
        coalesce(element_at($"m", "F"), lit(0L)).as("n_f"),
        array_join(
          transform(array_sort(map_keys($"m")),
            k => concat(k, lit("="), element_at($"m", k))), ",").as("status_counts"))
      .orderBy($"nationkey")
  }

  /** Latest-row-per-key dedup (the SCD/"keep newest version" pattern):
    * one partitioned window pass, rank 1, then integral rollups. */
  val q66LatestPerKey: Q = (spark, dir) => {
    import spark.implicits._
    val w = Window.partitionBy($"user_id")
      .orderBy($"ts".desc, $"event_id".desc)
    Tables.events(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .agg(
        count(lit(1)).as("n_users"),
        sum($"event_id").as("latest_event_id_sum"),
        dsum($"value").as("latest_value_sum"))
  }

  /** Native gap-session operator (session_window), the built-in
    * counterpart of the hand-rolled lag/cumsum sessionizer (q18) and the
    * streaming flatMapGroupsWithState sessionizer. Timestamps are floored
    * to whole seconds first: the raw column carries sub-second noise and
    * session semantics must match the oracle bit-for-bit. Spark's session
    * merge is INCLUSIVE at the boundary — [t, t+gap) and [t+gap, ...)
    * are adjacent and MERGE (an event exactly `gap` after the previous
    * one extends the session) — so the oracle splits only on
    * gap > 1800. Caught at sf0.1: one user pair sits exactly 1800 s
    * apart after flooring, and a >=-split oracle emitted one extra
    * session; sf0.01 has no boundary pair, so the driver's gate alone
    * never exercises this edge. */
  val q68SessionWindow: Q = (spark, dir) => {
    import spark.implicits._
    val e = Tables.events(spark, dir)
      .select($"user_id", $"value",
        timestamp_seconds(unix_timestamp($"ts".cast("timestamp"))).as("tss"))
    e.groupBy(session_window($"tss", "30 minutes").as("w"), $"user_id")
      .agg(count(lit(1)).as("n_events"), dsum($"value").as("total_value"))
      .select($"user_id",
        unix_timestamp($"w.start").as("start_sec"),
        unix_timestamp($"w.end").as("end_sec"),
        $"n_events", $"total_value")
      .orderBy($"user_id", $"start_sec")
  }

  /** Unpivot/melt (wide → long): per-segment metric rows from customer's
    * numeric columns, then a per-(segment, metric) rollup. Map-side
    * row expansion, one shuffle for the aggregate. */
  val q69Unpivot: Q = (spark, dir) => {
    import spark.implicits._
    Tables.customer(spark, dir)
      .select($"c_mktsegment".as("segment"),
        $"c_acctbal".cast("double").as("c_acctbal"),
        $"c_nationkey".cast("double").as("c_nationkey"))
      .unpivot(Array($"segment"),
        Array($"c_acctbal", $"c_nationkey"), "metric", "v")
      .groupBy($"segment", $"metric")
      .agg(count(lit(1)).as("n"), dsum($"v").as("total"))
      .orderBy($"segment", $"metric")
  }

  private val stopwords =
    Seq("the", "and", "of", "to", "a", "is", "in", "for", "with", "on")

  /** Array set operations (array_intersect/except against a literal
    * vocabulary): per-document distinct-token overlap with a stopword
    * set, rolled up per source. Sizes only — element ORDER of set results
    * differs between engines, so arrays never reach the output. */
  val q70TokenSetops: Q = (spark, dir) => {
    import spark.implicits._
    val stop = array(stopwords.map(lit): _*)
    Tables.documents(spark, dir)
      .select($"source",
        array_distinct(filter(split(lower($"text"), "\\s+"),
          t => length(t) > 0)).as("toks"))
      .select($"source",
        size($"toks").as("n_tok"),
        size(array_intersect($"toks", stop)).as("n_stop"),
        size(array_except($"toks", stop)).as("n_content"))
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_tok").as("total_distinct_tokens"),
        sum($"n_stop").as("total_stopword_hits"),
        sum($"n_content").as("total_content_tokens"))
      .orderBy($"source")
  }

  /** Edit distance (levenshtein — the classic DP, identical integers in
    * both engines): distance from each document's prefix to a fixed
    * probe string, histogrammed. */
  val q71EditDistance: Q = (spark, dir) => {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(levenshtein(
        lower(substring($"text", 1, 15)), lit("data engineering")).as("d"))
      .groupBy($"d")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy($"d")
  }

  val queries: Map[String, Q] = Map(
    "q53_cube" -> q53Cube,
    "q54_grouping_sets" -> q54GroupingSets,
    "q55_regex" -> q55Regex,
    "q56_struct_explode" -> q56StructExplode,
    "q57_time_buckets" -> q57TimeBuckets,
    "q58_posexplode" -> q58PosExplode,
    "q59_percent_rank" -> q59PercentRank,
    "q64_approx_distinct" -> q64ApproxDistinct,
    "q65_map_funcs" -> q65MapFuncs,
    "q66_latest_per_key" -> q66LatestPerKey,
    "q68_session_window" -> q68SessionWindow,
    "q69_unpivot" -> q69Unpivot,
    "q70_token_setops" -> q70TokenSetops,
    "q71_edit_distance" -> q71EditDistance,
  )

  val oracle: Map[String, String] = Map(
    "q53_cube" ->
      s"""SELECT coalesce(l_returnflag, 'ALL') AS rf,
         |  coalesce(l_linestatus, 'ALL') AS ls,
         |  GROUPING(l_returnflag, l_linestatus) AS gid,
         |  COUNT(*) AS n_items,
         |  ${dsumSql("l_quantity")} AS total_qty
         |FROM lineitem
         |GROUP BY CUBE(l_returnflag, l_linestatus)
         |ORDER BY rf, ls""".stripMargin,
    "q54_grouping_sets" ->
      """SELECT coalesce(c_mktsegment, 'ALL') AS segment,
        |  coalesce(CAST(c_nationkey AS VARCHAR), 'ALL') AS nation,
        |  COUNT(*) AS n_customers,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
        |FROM customer
        |GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
        |ORDER BY segment, nation""".stripMargin,
    "q55_regex" ->
      """SELECT regexp_extract(text, '[a-z]{6,}') AS first_long_word,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(len(regexp_extract_all(text, '[0-9]+'))) AS BIGINT) AS digit_runs
        |FROM documents
        |WHERE regexp_extract(text, '[a-z]{6,}') <> ''
        |GROUP BY 1 ORDER BY n_docs DESC, first_long_word LIMIT 15""".stripMargin,
    "q56_struct_explode" ->
      """SELECT c_nationkey AS nationkey, rnk, custkey, acctbal
        |FROM (
        |  SELECT c_nationkey,
        |    ROW_NUMBER() OVER (PARTITION BY c_nationkey
        |      ORDER BY CAST(c_acctbal AS DECIMAL(12,2)) DESC, c_custkey DESC)
        |      AS rnk,
        |    c_custkey AS custkey,
        |    CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS acctbal
        |  FROM customer
        |)
        |WHERE rnk <= 2 ORDER BY nationkey, rnk""".stripMargin,
    "q57_time_buckets" ->
      s"""SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_sec,
         |  event_type, COUNT(*) AS n, ${dsumSql("value")} AS total_value
         |FROM events
         |GROUP BY 1, 2 ORDER BY day_sec, event_type""".stripMargin,
    "q58_posexplode" ->
      """WITH toks AS (
        |  SELECT source, generate_subscripts(arr, 1) - 1 AS pos,
        |    arr[generate_subscripts(arr, 1)] AS tok
        |  FROM (SELECT source, string_split(text, ' ') AS arr FROM documents) t
        |)
        |SELECT source, pos, COUNT(DISTINCT tok) AS n_distinct, COUNT(*) AS n
        |FROM toks WHERE pos < 3 AND len(tok) > 0
        |GROUP BY 1, 2 ORDER BY source, pos""".stripMargin,
    "q59_percent_rank" ->
      """WITH r AS (
        |  SELECT event_type, value,
        |    percent_rank() OVER (PARTITION BY user_id
        |      ORDER BY value, event_id) AS pr,
        |    cume_dist() OVER (PARTITION BY user_id
        |      ORDER BY value, event_id) AS cd
        |  FROM events
        |)
        |SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(floor(pr * 1e6) AS BIGINT)) AS DOUBLE)
        |    / (COUNT(*) * 1e6) AS avg_pr,
        |  CAST(SUM(CAST(floor(cd * 1e6) AS BIGINT)) AS DOUBLE)
        |    / (COUNT(*) * 1e6) AS avg_cd
        |FROM r GROUP BY 1 ORDER BY event_type""".stripMargin,
    "q64_approx_distinct" ->
      """SELECT event_type,
        |  COUNT(DISTINCT user_id) AS n_exact,
        |  abs(approx_count_distinct(user_id) - COUNT(DISTINCT user_id))
        |    / CAST(COUNT(DISTINCT user_id) AS DOUBLE) <= 0.1 AS approx_ok
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,
    "q65_map_funcs" ->
      """WITH counts AS (
        |  SELECT c_nationkey, o_orderstatus, COUNT(*) AS cnt
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2
        |)
        |SELECT c_nationkey AS nationkey,
        |  coalesce(MAX(CASE WHEN o_orderstatus = 'F' THEN cnt END), 0) AS n_f,
        |  string_agg(o_orderstatus || '=' || cnt, ',' ORDER BY o_orderstatus)
        |    AS status_counts
        |FROM counts GROUP BY 1 ORDER BY nationkey""".stripMargin,
    "q66_latest_per_key" ->
      """WITH r AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
        |    ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events
        |)
        |SELECT COUNT(*) AS n_users,
        |  CAST(SUM(event_id) AS BIGINT) AS latest_event_id_sum,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS latest_value_sum
        |FROM r WHERE rn = 1""".stripMargin,
    "q68_session_window" ->
      s"""WITH e AS (
         |  SELECT user_id, CAST(floor(date_part('epoch', ts)) AS BIGINT) AS sec,
         |    value
         |  FROM events
         |), o AS (
         |  SELECT *, lag(sec) OVER (PARTITION BY user_id ORDER BY sec) AS prev
         |  FROM e
         |), m AS (
         |  SELECT *, CASE WHEN prev IS NULL OR sec - prev > 1800
         |    THEN 1 ELSE 0 END AS brk
         |  FROM o
         |), s AS (
         |  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY sec
         |    ROWS UNBOUNDED PRECEDING) AS sid
         |  FROM m
         |)
         |SELECT user_id, MIN(sec) AS start_sec, MAX(sec) + 1800 AS end_sec,
         |  COUNT(*) AS n_events, ${dsumSql("value")} AS total_value
         |FROM s GROUP BY user_id, sid ORDER BY user_id, start_sec""".stripMargin,
    "q69_unpivot" ->
      s"""WITH u AS (
         |  SELECT c_mktsegment AS segment, 'c_acctbal' AS metric,
         |    CAST(c_acctbal AS DOUBLE) AS v FROM customer
         |  UNION ALL
         |  SELECT c_mktsegment, 'c_nationkey', CAST(c_nationkey AS DOUBLE)
         |  FROM customer
         |)
         |SELECT segment, metric, COUNT(*) AS n, ${dsumSql("v")} AS total
         |FROM u GROUP BY 1, 2 ORDER BY segment, metric""".stripMargin,
    "q70_token_setops" -> {
      val stopList = stopwords.map(s => s"'$s'").mkString("[", ", ", "]")
      s"""WITH d AS (
         |  SELECT source,
         |    list_distinct(list_filter(
         |      string_split_regex(lower(text), '\\s+'),
         |      t -> length(t) > 0)) AS toks
         |  FROM documents
         |), m AS (
         |  SELECT source,
         |    len(toks) AS n_tok,
         |    len(list_intersect(toks, $stopList)) AS n_stop,
         |    len(list_filter(toks,
         |      t -> NOT list_contains($stopList, t))) AS n_content
         |  FROM d
         |)
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(n_tok) AS BIGINT) AS total_distinct_tokens,
         |  CAST(SUM(n_stop) AS BIGINT) AS total_stopword_hits,
         |  CAST(SUM(n_content) AS BIGINT) AS total_content_tokens
         |FROM m GROUP BY 1 ORDER BY source""".stripMargin
    },
    "q71_edit_distance" ->
      """SELECT levenshtein(lower(substr(text, 1, 15)), 'data engineering')
        |    AS d,
        |  COUNT(*) AS n_docs
        |FROM documents GROUP BY 1 ORDER BY d""".stripMargin,
  )
}
