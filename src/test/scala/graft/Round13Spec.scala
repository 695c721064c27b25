package graft

import org.apache.spark.sql.functions._

/** Round-13 specs: the session-memoized verified-pairs table and the
  * oracle-checked split of q60's feature/label derivation (q215). */
class Round13Spec extends SparkSpec {

  test("verifiedPairs memoizes per (session, dir): same checkpointed frame, values equal q41") {
    val a = ops.Dedup.verifiedPairs(spark, sf)
    val b = ops.Dedup.verifiedPairs(spark, sf)
    // the memo must hand back the SAME checkpointed plan, not a rebuild —
    // reference equality is the strongest possible "derived once" witness
    assert(a eq b, "second call rebuilt the pairs instead of reusing the memo")
    // and the memoized values must be exactly q41's output
    val fresh = ops.Dedup.q41MinhashLsh(spark, sf).collect().map(_.toSeq).toSeq
    val memod = a.orderBy("doc_a", "doc_b").collect().map(_.toSeq).toSeq
    assert(memod == fresh)
    // lineage is truncated: the reused plan is a leaf, not the minhash
    // pipeline (so consumers replan against a constant-size relation)
    assert(a.queryExecution.optimizedPlan.collectLeaves().size == 1)
  }

  test("q215 aggregates exactly q60's input frame (labels, features, na.drop)") {
    import spark.implicits._
    val data = ml.Pipelines.labeledFeatures(spark, sf)
    // recompute q215's cells from the shared frame with independent code
    val want = data.collect().map { r =>
      (r.getDouble(4).toLong, r.getDouble(6).toLong,
        r.getDouble(7).toLong, r.getDouble(5).toLong,
        math.floor(r.getDouble(0) * 1e6).toLong,
        math.floor(r.getDouble(1) * 1e6).toLong,
        r.getDouble(2).toLong, r.getDouble(3).toLong)
    }.groupBy(t => (t._1, t._2)).map { case ((m, w), rows) =>
      (m, w) -> (rows.length.toLong, rows.map(_._3).sum, rows.map(_._4).sum,
        rows.map(_._5).sum, rows.map(_._6).sum, rows.map(_._7).sum,
        rows.map(_._8).sum)
    }
    val got = ml.Pipelines.q215FeatureLabelPrep(spark, sf).collect().map { r =>
      (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8))
    }.toMap
    assert(got == want)
    // non-degenerate: the labels must actually vary or q215 pins nothing
    assert(got.keySet.map(_._2).size > 1, "weekday label never varies")
    assert(got.values.map(_._2).sum > 0, "peak label never fires")
  }

  test("bench trend gate: trips on a planted stall, tolerates jitter on fast queries") {
    val recorded = Map("q01" -> 0.50, "q43" -> 2.00, "q08" -> 0.06)
    // a planted Thread.sleep turns q01's 0.5s into 5s → must trip
    assert(Bench.trendViolations(
      Seq("q01" -> 5.0, "q43" -> 2.1), recorded) == Seq("q01"))
    // 3x-with-floor: a 60ms query jittering to 150ms (2.5x) stays quiet,
    // and even 3.5x of 60ms is under the 0.25s absolute floor
    assert(Bench.trendViolations(Seq("q08" -> 0.21), recorded).isEmpty)
    // unrecorded queries (new this round) never trip
    assert(Bench.trendViolations(Seq("q999" -> 60.0), recorded).isEmpty)
    // boundary: exactly 3x + floor does not trip; just above does
    assert(Bench.trendViolations(Seq("q43" -> 6.25), recorded).isEmpty)
    assert(Bench.trendViolations(Seq("q43" -> 6.26), recorded) == Seq("q43"))
  }

  test("bench trend file: header must match the run's sf dir; malformed lines skipped") {
    val f = java.nio.file.Files.createTempFile("trend", ".tsv")
    try {
      java.nio.file.Files.writeString(f,
        "sf /root/testdata/sf0.1\nq01 0.50\nq43 2.00\nbadline\nq99 notanumber\n")
      val m = Bench.recordedMedians(f.toString, "/root/testdata/sf0.1")
      assert(m == Map("q01" -> 0.50, "q43" -> 2.00))
      // recorded at a different SF → gate off entirely
      assert(Bench.recordedMedians(f.toString, "/root/testdata/sf0.01").isEmpty)
    } finally java.nio.file.Files.delete(f)
    // absent file → gate off
    assert(Bench.recordedMedians("/nonexistent/trend.tsv", "x").isEmpty)
  }
}
