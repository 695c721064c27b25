package graft.ops

import java.nio.charset.StandardCharsets.UTF_8

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{Join, Repartition}
import org.apache.spark.sql.execution.{FormattedMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{SparkSpec, Tables}
import graft.functions.JaccardBlockPairs

/** q43's block kernel ([[JaccardBlockPairs]]) against the gram-row
  * pipeline it replaced, which lives on here as the reference
  * ([[jaccardPairs]], [[referenceQ43]]), and against a driver-side brute
  * force; plus the `fanoutReady` size probe. */
class DedupSpec extends SparkSpec {

  private type Pair = (Long, Long, Long, Long, Long, Double)

  private def gramFrame(docs: Seq[(Long, String, Set[Long])]): DataFrame = {
    import spark.implicits._
    docs.flatMap { case (d, s, gs) => gs.toSeq.map(g => (d, s, g)) }
      .toDF("doc_id", "source", "g")
  }

  /** The former q43 pair step: document pairs of one `source` whose `g`
    * sets have Jaccard ≥ 0.5, from distinct (doc_id, source, g) rows. Each
    * row carries its document's size from a window; the pair self-join on
    * (source, g) keeps the 2:1 size bound, and the pair aggregate counts
    * the overlap. */
  private def jaccardPairs(grams: DataFrame): DataFrame = {
    import spark.implicits._
    val sized = grams
      .withColumn("n", count(lit(1)).over(Window.partitionBy($"doc_id")))
    sized.as("ga")
      .join(sized.as("gb"),
        col("ga.source") === col("gb.source") && col("ga.g") === col("gb.g")
          && col("ga.doc_id") < col("gb.doc_id")
          && col("ga.n") * 2 >= col("gb.n") && col("gb.n") * 2 >= col("ga.n"))
      .groupBy(col("ga.doc_id").as("doc_a"), col("gb.doc_id").as("doc_b"),
        col("ga.n").as("na"), col("gb.n").as("nb"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        $"inter".cast("double") / ($"na" + $"nb" - $"inter"))
      .filter($"jaccard" >= 0.5)
      .select($"doc_a", $"doc_b", $"inter", $"na", $"nb", $"jaccard")
  }

  /** The former q43 over a (doc_id, source, text) frame: explode each
    * document's distinct packed 4-grams, count df per (source, g), keep
    * the rare grams by a semi join, then [[jaccardPairs]]. */
  private def referenceQ43(docs: DataFrame): DataFrame = {
    import spark.implicits._
    val keys = udf((t: String) =>
      if (t == null) null else JaccardBlockPairs.gramKeys(t.getBytes(UTF_8), 4))
    val grams = docs.select($"doc_id", $"source", explode(keys($"text")).as("g"))
    val df = grams.groupBy($"source", $"g").agg(count(lit(1)).as("c"))
    jaccardPairs(grams.join(df.filter($"c" <= 25), Seq("source", "g"), "left_semi"))
  }

  /** The kernel's pure core over each source block of `docs`, with no df
    * cut: the gram sets are taken as already rare. */
  private def kernelPairs(docs: Seq[(Long, String, Set[Long])]): Set[Pair] =
    docs.groupBy(_._2).values.flatMap { blk =>
      JaccardBlockPairs.pairs(
        blk.map { case (d, _, gs) => (Option(d), gs.toArray) }.toArray, Int.MaxValue)
    }.map { case (a, b, i, na, nb) =>
      (a, b, i, na, nb, i.toDouble / (na + nb - i))
    }.toSet

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

  private val textSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("source", StringType),
    StructField("text", StringType)))

  private def textFrame(docs: Seq[(java.lang.Long, String, String)]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(docs.map { case (d, s, t) => Row(d, s, t) }: _*),
      textSchema)

  test("jaccardPairs keeps a pair at exactly J = 0.5 with a 2:1 size ratio") {
    val docs = Seq((1L, "s", (1L to 4L).toSet), (2L, "s", Set(1L, 2L)))
    assert(bruteForce(docs) == Set((1L, 2L, 2L, 4L, 2L, 0.5)))
    assert(pairsOf(jaccardPairs(gramFrame(docs)).collect()) == bruteForce(docs))
    assert(kernelPairs(docs) == bruteForce(docs))
  }

  test("jaccardPairs prunes a pair just past 2:1 in the join; it is no true match") {
    // B ⊂ A with |A| = 2|B| + 1: the best overlap possible at that ratio
    val docs = Seq((3L, "s", (20L to 26L).toSet), (4L, "s", Set(20L, 21L, 22L)))
    assert(bruteForce(docs).isEmpty, "3/7 < 0.5: not a true match")
    val pairs = jaccardPairs(gramFrame(docs))
    assert(pairs.collect().isEmpty)
    val joins = planNodes(pairs.queryExecution.executedPlan).collect {
      case j: BroadcastHashJoinExec => j
    }
    assert(joins.nonEmpty)
    assert(joins.map(_.metrics("numOutputRows").value).sum == 0,
      "the size-ratio bound must drop the pair before the aggregate counts it")
    // the kernel keeps the same bound
    val blk = docs.map { case (d, _, gs) => (Option(d), gs.toArray) }.toArray
    assert(JaccardBlockPairs.overlaps(blk, Int.MaxValue).isEmpty,
      "the size-ratio bound must drop the pair before its overlap is counted")
    // one gram fewer in A puts the pair on the bound: counted, J = 3/6
    val onBound = Array(blk(0)._1 -> (20L to 25L).toArray, blk(1))
    assert(JaccardBlockPairs.overlaps(onBound, Int.MaxValue) == Seq((3L, 4L, 3L, 6L, 3L)))
  }

  test("jaccardPairs never pairs identical gram sets from different sources") {
    val same = (30L to 33L).toSet
    val docs = Seq((5L, "a", same), (6L, "b", same), (7L, "a", same))
    val want = Set((5L, 7L, 4L, 4L, 4L, 1.0))
    assert(pairsOf(jaccardPairs(gramFrame(docs)).collect()) == want)
    assert(kernelPairs(docs) == want)
    val text = "identical text"
    val got = Dedup.ngramJaccardFrom(textFrame(Seq(
      (5L, "a", text), (6L, "b", text), (7L, "a", text)))).collect()
    val n = text.length - 3L
    assert(pairsOf(got) == Set((5L, 7L, n, n, n, 1.0)))
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
    assert(pairsOf(jaccardPairs(gramFrame(docs)).collect()) == want)
    assert(kernelPairs(docs) == want)
  }

  test("the kernel keeps a gram with df exactly 25 and drops one with df 26") {
    // every document holds gram 7 and nothing else: while it is rare each
    // pair shares it (J = 1); once it is a stop-gram no document has a size
    def block(docs: Int) =
      Array.tabulate(docs)(d => (Option(d.toLong), Array(7L)))
    assert(JaccardBlockPairs.pairs(block(25), 25).size == 25 * 24 / 2)
    assert(JaccardBlockPairs.pairs(block(25), 25).forall(_._3 == 1L))
    assert(JaccardBlockPairs.overlaps(block(26), 25).isEmpty)
    // a rare gram beside a stop-gram: only the rare one is counted
    val mixed = block(26).map { case (d, gs) => (d, gs :+ (100L + d.get / 2)) }
    assert(JaccardBlockPairs.pairs(mixed, 25) ==
      (0L until 26L by 2).map(a => (a, a + 1, 1L, 1L, 1L)))
  }

  test("null source, null or short text and a null doc_id give the old path's rows") {
    val quick = "the quick brown fox"
    val docs = Seq[(java.lang.Long, String, String)](
      // a null-source block emits nothing, identical texts included
      (10L, null, quick), (11L, null, quick),
      // null and short texts have no grams beside a true pair
      (1L, "a", quick), (2L, "a", quick), (3L, "a", null), (4L, "a", "abc"),
      (5L, "a", ""), (null, "a", quick)) ++
      // "wxyz" held by 24 ids and a null doc_id: df 25, every id pair kept
      (20L until 44L).map(d => (d: java.lang.Long, "b", "wxyz")) ++
      Seq[(java.lang.Long, String, String)]((null, "b", "wxyz")) ++
      // 25 ids and a null doc_id: df 26, a stop-gram, no pair
      (50L until 75L).map(d => (d: java.lang.Long, "c", "wxyz")) ++
      Seq[(java.lang.Long, String, String)]((null, "c", "wxyz"))
    val frame = textFrame(docs)
    val want = pairsOf(referenceQ43(frame).collect())
    val n = quick.length - 3L
    assert(want.filter(_._1 < 20L) == Set((1L, 2L, n, n, n, 1.0)))
    assert(want.count(p => p._1 >= 20L && p._1 < 44L) == 24 * 23 / 2)
    assert(!want.exists(_._1 >= 50L))
    assert(pairsOf(Dedup.ngramJaccardFrom(frame).collect()) == want)
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
  }

  test("q43 rebalances the sf0.1 documents scan and sorts without range sampling") {
    val plan = Dedup.q43NgramJaccard(spark, sf.replace("sf0.001", "sf0.1"))
      .queryExecution.explainString(FormattedMode)
    // one row per document crosses a user-sized hash exchange on source,
    // which AQE does not coalesce into one task
    val parts = spark.sparkContext.defaultParallelism
    assert(plan.contains(s"hashpartitioning(source#"), plan)
    assert(plan.contains(s", $parts), REPARTITION_BY_NUM"), plan)
    assert(plan.contains("SinglePartition"))
    assert(!plan.contains("rangepartitioning"))
    assert(!plan.contains("RoundRobinPartitioning"))
  }

  test("q43's sf0.1 plan has no join, no cache and no range partitioning; a run persists no RDD") {
    val df = Dedup.q43NgramJaccard(spark, sf.replace("sf0.001", "sf0.1"))
    val plan = df.queryExecution.optimizedPlan
    assert(plan.collectFirst { case j: Join => j }.isEmpty, s"no join may remain:\n$plan")
    assert(plan.collectFirst { case m: InMemoryRelation => m }.isEmpty,
      s"q43 must cache nothing:\n$plan")
    assert(!df.queryExecution.explainString(FormattedMode).contains("rangepartitioning"))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    assert(Dedup.q43NgramJaccard(spark, sf).collect().nonEmpty)
    assert(spark.sparkContext.getPersistentRDDs.keySet == before,
      "a q43 run must leave no persisted RDD behind")
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
