package graft.ops

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.execution.{FormattedMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** The n-gram Jaccard pair step (size-ratio bound, carried sizes) against
  * a driver-side brute force, and the `fanoutReady` size probe. */
class DedupSpec extends SparkSpec {

  private type Pair = (Long, Long, Long, Long, Long, Double)

  private def gramFrame(docs: Seq[(Long, String, Set[Long])]): DataFrame = {
    import spark.implicits._
    docs.flatMap { case (d, s, gs) => gs.toSeq.map(g => (d, s, g)) }
      .toDF("doc_id", "source", "g")
  }

  /** Every same-source pair with Jaccard ≥ 0.5, computed pair by pair. */
  private def bruteForce[G](docs: Seq[(Long, String, Set[G])]): Set[Pair] =
    (for {
      (da, sa, a) <- docs
      (db, sb, b) <- docs
      if sa == sb && da < db
      inter = (a intersect b).size.toLong
      if inter > 0
      j = inter.toDouble / (a.size + b.size - inter)
      if j >= 0.5
    } yield (da, db, inter, a.size.toLong, b.size.toLong, j)).toSet

  private def pairsOf(rows: Array[Row]): Set[Pair] = rows.map {
    case Row(a: Long, b: Long, i: Long, na: Long, nb: Long, j: Double) =>
      (a, b, i, na, nb, j)
  }.toSet

  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec => planNodes(s.plan)
    case other => other +: other.children.flatMap(planNodes)
  }

  test("jaccardPairs keeps a pair at exactly J = 0.5 with a 2:1 size ratio") {
    val docs = Seq((1L, "s", (1L to 4L).toSet), (2L, "s", Set(1L, 2L)))
    assert(bruteForce(docs) == Set((1L, 2L, 2L, 4L, 2L, 0.5)))
    assert(pairsOf(Dedup.jaccardPairs(gramFrame(docs)).collect()) == bruteForce(docs))
  }

  test("jaccardPairs prunes a pair just past 2:1 in the join; it is no true match") {
    // B ⊂ A with |A| = 2|B| + 1: the best overlap possible at that ratio
    val docs = Seq((3L, "s", (20L to 26L).toSet), (4L, "s", Set(20L, 21L, 22L)))
    assert(bruteForce(docs).isEmpty, "3/7 < 0.5: not a true match")
    val pairs = Dedup.jaccardPairs(gramFrame(docs))
    assert(pairs.collect().isEmpty)
    val joins = planNodes(pairs.queryExecution.executedPlan).collect {
      case j: BroadcastHashJoinExec => j
    }
    assert(joins.nonEmpty)
    assert(joins.map(_.metrics("numOutputRows").value).sum == 0,
      "the size-ratio bound must drop the pair before the aggregate counts it")
  }

  test("jaccardPairs never pairs identical gram sets from different sources") {
    val same = (30L to 33L).toSet
    val docs = Seq((5L, "a", same), (6L, "b", same), (7L, "a", same))
    assert(pairsOf(Dedup.jaccardPairs(gramFrame(docs)).collect()) ==
      Set((5L, 7L, 4L, 4L, 4L, 1.0)))
  }

  test("jaccardPairs equals the brute force on random gram sets around the 2:1 bound") {
    val rnd = new Random(43)
    // a 16-gram universe and sizes 1..12 put many pairs on both sides of
    // the bound, and several exactly on it
    val docs = (1L to 60L).map { d =>
      val n = 1 + rnd.nextInt(12)
      (d, s"s${rnd.nextInt(3)}", rnd.shuffle((0L until 16L).toList).take(n).toSet)
    }
    val want = bruteForce(docs)
    assert(want.exists { case (_, _, _, na, nb, _) => na == 2 * nb || nb == 2 * na },
      "the sample must put true matches on the 2:1 boundary")
    assert(pairsOf(Dedup.jaccardPairs(gramFrame(docs)).collect()) == want)
  }

  test("q43 equals a brute-force Jaccard over the rare-gram sets at sf0.001") {
    val docs = Tables.documents(spark, sf).select("doc_id", "source", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // character 4-grams, as the oracle's substr(text, i + 1, 4)
    val grams = docs.map { case (d, s, t) =>
      (d, s, (0 to t.length - 4).map(i => t.substring(i, i + 4)).toSet)
    }
    val df = grams.toSeq.flatMap { case (_, s, gs) => gs.toSeq.map(s -> _) }
      .groupBy(identity).map { case (k, v) => k -> v.size }
    val rare = grams.toSeq.map { case (d, s, gs) =>
      (d, s, gs.filter(g => df((s, g)) <= 25))
    }
    val want = bruteForce(rare)
    assert(want.nonEmpty)
    val got = Dedup.q43NgramJaccard(spark, sf).collect()
    assert(pairsOf(got) == want)
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      want.toSeq.map(p => (p._1, p._2)).sorted, "ordered by (doc_a, doc_b)")
    spark.catalog.clearCache()
  }

  test("q43 rebalances the sf0.1 documents scan and sorts without range sampling") {
    val plan = Dedup.q43NgramJaccard(spark, sf.replace("sf0.001", "sf0.1"))
      .queryExecution.explainString(FormattedMode)
    assert(plan.contains("RoundRobinPartitioning"))
    assert(!plan.contains("rangepartitioning"))
    spark.catalog.clearCache()
  }

  test("fanoutReady rebalances a tiny scan and trusts a scan's file bytes") {
    val docs = Tables.documents(spark, sf)
    val bytes = Dedup.knownInputBytes(docs.queryExecution.optimizedPlan)
    assert(bytes.exists(_ > 0))
    assert(Dedup.fanoutReady(docs).queryExecution.optimizedPlan
      .isInstanceOf[Repartition])
    // with a tiny per-file open cost the same bytes count as wide
    val key = "spark.sql.files.openCostInBytes"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "1")
    try assert(Dedup.fanoutReady(docs) eq docs)
    finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("fanoutReady rebalances a post-aggregate intermediate despite an inflated estimate") {
    val docs = Tables.documents(spark, sf)
    val agg = docs.as("a").join(docs.as("b"), col("a.source") === col("b.source"))
      .groupBy(col("a.doc_id")).agg(count(lit(1)).as("c"))
    val plan = agg.queryExecution.optimizedPlan
    val threshold = BigInt(spark.sparkContext.defaultParallelism.toLong) *
      spark.sessionState.conf.filesOpenCostInBytes
    assert(plan.stats.sizeInBytes >= threshold,
      "the join estimate claims a wide input")
    assert(Dedup.knownInputBytes(plan).isEmpty)
    assert(Dedup.fanoutReady(agg).queryExecution.optimizedPlan
      .isInstanceOf[Repartition])
  }

  test("fanoutReady reads a cache's bytes only once it is materialized") {
    val cached = Tables.documents(spark, sf).select("doc_id", "text").cache()
    try {
      assert(Dedup.knownInputBytes(cached.queryExecution.optimizedPlan).isEmpty)
      cached.count()
      val held = Dedup.knownInputBytes(cached.queryExecution.optimizedPlan)
      assert(held.exists(_ > 0))
      assert(held == Some(cached.queryExecution.optimizedPlan.stats.sizeInBytes))
    } finally cached.unpersist(blocking = true)
  }
}
