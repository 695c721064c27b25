package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Shared helpers for oracle-parity-safe aggregation.
  *
  * Doubles summed in different orders differ in the last ulp between Spark
  * and DuckDB, which breaks hash-compared correctness (SURVEY.md §7.3 risk
  * item 1). Money columns in the test data carry ≤2 decimals, so casting to
  * DECIMAL before summing makes the aggregate exact and order-independent
  * on both engines; the final cast back to DOUBLE is then deterministic.
  */
object OpsUtil {
  type Q = (SparkSession, String) => DataFrame

  /** Exact money representation (values have ≤2 fractional digits). */
  def money(c: Column): Column = c.cast(DecimalType(12, 2))

  /** Order-independent SUM of a ≤2-decimal double column, returned as double. */
  def dsum(c: Column): Column = sum(money(c)).cast("double")

  /** Matching DuckDB fragment for [[dsum]]. */
  def dsumSql(col: String): String =
    s"CAST(SUM(CAST($col AS DECIMAL(12,2))) AS DOUBLE)"

  /** Exact per-row revenue l_extendedprice * (1 - l_discount): decimal×decimal
    * stays exact (scale 4), so the sum is order-independent. */
  def revenueExpr: Column =
    money(col("l_extendedprice")) * (lit(1) - money(col("l_discount")))

  val revenueSql: String =
    "CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))"

  /** Fixed-SIZE hash-bottom-k sample: the k rows with the smallest
    * content hash (first 15 hex chars of md5 over `hashOn`, as an exact
    * long in column "h"), ties broken by `tie`. The physical plan is
    * TakeOrderedAndProject — each partition keeps its local k, the
    * driver merges k·partitions candidate rows — so the sample is
    * corpus-size-INDEPENDENT, which is what makes a downstream pair
    * join over it bounded (a fixed sample *rate* bounds nothing: the
    * pair count still grows quadratically with the corpus). Membership
    * is a pure function of content (the q85/q110 rule): re-sharding,
    * re-runs, and retries all pick the same rows, and union+re-take-k
    * over shards equals the global bottom-k (mergeable). DuckDB mirror:
    * `ORDER BY CAST(('0x' || substr(md5(...), 1, 15)) AS BIGINT), tie
    * LIMIT k`. */
  def bottomKByHash(df: DataFrame, hashOn: Seq[Column], tie: Column,
      k: Int): DataFrame =
    df.withColumn("h",
        conv(substring(md5(concat_ws(":", hashOn: _*)), 1, 15), 16, 10)
          .cast("long"))
      .orderBy(col("h"), tie)
      .limit(k)

  /** Multiset equality of two BOUNDED frames, decided on the driver.
    *
    * For the lakehouse/MV fixture audits both sides are tiny BY
    * CONSTRUCTION at any data scale — view-grain aggregates (≤ the
    * group count, 6–12 rows) or constant-size fixture tables (≤ ~50
    * rows from GraftDocsSource): the frames never grow with the input
    * dir, so two collects are scale-safe, while a distributed
    * `exceptAll` plan (two aggregates, each shuffling both inputs,
    * unioned under AQE) paid ~6 query-stage jobs of pure scheduling per
    * audit at bench SF (guide §1.2). Do not use it for frames that
    * scale with the corpus.
    *
    * Rows are counted in a HashMap keyed on `Row`, which is only sound
    * where `Row.equals` and `Row.hashCode` agree with SQL equality. They
    * do not for binary (array identity hash), decimal (equal values of
    * different scale) and float/double (-0.0 vs 0.0) columns, so a
    * schema holding any of those, at any nesting depth, is rejected. */
  def sameRowsLocal(a: DataFrame, b: DataFrame): Boolean = {
    Seq(a, b).foreach(df => unsafeKeyField(df.schema).foreach { f =>
      throw new IllegalArgumentException(
        s"sameRowsLocal cannot compare column ${f.name} of type " +
          s"${f.dataType.simpleString}: binary, decimal and float/double " +
          "values do not hash consistently with their equality")
    })
    val ca = a.collect(); val cb = b.collect()
    ca.length == cb.length && {
      val counts = scala.collection.mutable.HashMap
        .empty[org.apache.spark.sql.Row, Int]
      ca.foreach(r => counts.update(r, counts.getOrElse(r, 0) + 1))
      cb.forall { r =>
        counts.get(r) match {
          case Some(n) if n > 0 => counts.update(r, n - 1); true
          case _ => false
        }
      }
    }
  }

  /** `df`'s plan as optimized under the session's current settings, with
    * `cols` cast to their full text: a double's string form round-trips
    * and a decimal's carries its full scale, so two frames of one schema
    * compare equal as text exactly when their values do. This is how a
    * double or decimal result reaches [[sameRowsLocal]]. Both plans are
    * fixed here, under the settings of the call: casting over `df`'s
    * unoptimized plan could stop a rewrite rule from matching (the cast
    * folds into the aggregate), and a frame planned at collect time
    * would see the settings of that moment. */
  def plannedText(df: DataFrame, cols: String*): DataFrame = {
    val text = cols.foldLeft(org.apache.spark.sql.GraftBridge.ofRows(
        df.sparkSession, df.queryExecution.optimizedPlan)) { (f, c) =>
      f.withColumn(c, col(c).cast("string"))
    }
    text.queryExecution.optimizedPlan
    text
  }

  /** The first top-level field whose type holds a binary, decimal or
    * floating-point value anywhere inside it. */
  private def unsafeKeyField(schema: StructType): Option[StructField] = {
    def unsafe(t: DataType): Boolean = t match {
      case BinaryType | FloatType | DoubleType | _: DecimalType => true
      case ArrayType(et, _) => unsafe(et)
      case MapType(kt, vt, _) => unsafe(kt) || unsafe(vt)
      case StructType(fs) => fs.exists(f => unsafe(f.dataType))
      case _ => false
    }
    schema.fields.find(f => unsafe(f.dataType))
  }

  /** Materialize a SMALL (≤ a few hundred rows — profile/audit-sized)
    * result on the driver and rebuild it as a local DataFrame with the
    * identical schema. Lets a query unpersist its corpus-sized caches
    * before returning, so no cached blocks survive the call (the q131
    * self-containment rule); the caller must unpersist between collect
    * and return. Values and schema are bit-identical to the distributed
    * result, so oracle hashes are unchanged. */
  def driverLiteral(df: DataFrame): DataFrame = {
    // Dev hook (plan evidence): a driverLiteral query's DECLARED frame
    // is a LocalRelation, so `Explain` can't show the pipeline that
    // computed it — with SPARK_GRAFT_EXPLAIN_INNER=1 the inner frame's
    // formatted plan is printed before collection.
    if (sys.env.get("SPARK_GRAFT_EXPLAIN_INNER").contains("1"))
      println("[inner-plan]\n" + df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    val rows = df.collect()
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), df.schema)
  }
}
