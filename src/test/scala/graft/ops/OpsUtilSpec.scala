package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `OpsUtil.sameRowsLocal` keys a HashMap on `Row`, so it must refuse
  * every column type whose `Row.hashCode` disagrees with SQL equality,
  * and keep deciding multiset equality for the long/string frames its
  * fixture audits compare. */
class OpsUtilSpec extends graft.SparkSpec {

  private def rejects(df: DataFrame, col: String): Unit = {
    val ok = spark.range(2).toDF("id")
    val err = intercept[IllegalArgumentException](OpsUtil.sameRowsLocal(df, df))
    assert(err.getMessage.contains(s"column $col"), err.getMessage)
    intercept[IllegalArgumentException](OpsUtil.sameRowsLocal(ok, df))
  }

  test("sameRowsLocal rejects a binary column") {
    rejects(spark.range(2).select(col("id"),
      col("id").cast("string").cast("binary").as("b")), "b")
  }

  test("sameRowsLocal rejects a decimal column") {
    rejects(spark.range(2).select(col("id"),
      col("id").cast("decimal(12,2)").as("d")), "d")
  }

  test("sameRowsLocal rejects float and double columns, nested ones too") {
    rejects(spark.range(2).select(col("id").cast("float").as("f")), "f")
    rejects(spark.range(2).select(col("id").cast("double").as("x")), "x")
    rejects(spark.range(2).select(
      struct(array(col("id").cast("double"))).as("s")), "s")
  }

  test("sameRowsLocal still compares long/string multisets, and its fixture audits pass") {
    import spark.implicits._
    val a = Seq((1L, "x", 2L), (1L, "x", 2L), (3L, "y", 4L)).toDF("k", "s", "n")
    assert(OpsUtil.sameRowsLocal(a, a.orderBy($"k".desc)))
    assert(!OpsUtil.sameRowsLocal(a, a.distinct()))
    assert(!OpsUtil.sameRowsLocal(a, a.withColumn("n", $"n" + 1)))
    // MV fixtures that audit through sameRowsLocal still run to their
    // result: long keys with SUM/COUNT (q277, q282, q285), and a double
    // AVG (q284) and a decimal SUM (q293) compared through plannedText
    Seq(Round16.q277MvRewrite, Round16.q282MvRollup,
        Round16.q284MvDerivedAggs, Round16.q285MvTimeTravel,
        Round18.q293MvDecimalSum).foreach { q =>
      assert(q(spark, sf).collect().nonEmpty)
    }
  }
}
