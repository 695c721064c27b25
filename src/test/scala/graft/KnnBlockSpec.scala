package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Join, LocalRelation}
import org.apache.spark.sql.functions._
import graft.functions.{TopKByValue, VectorExprs}

/** q127's block kernel ([[functions.KnnBlockProfile]]) and signature
  * kernel ([[functions.SignBits]]) against the composed forms they
  * replaced, which live on here as the references:
  *  - the exact profile of the blocked pair join + [[TopKByValue]] + edge
  *    self-join, on seeded random blocks, exact cosine ties, blocks of
  *    size 1-4, a zero-norm vector (with and without ANSI), and a block
  *    whose mutual count depends on the tie order;
  *  - the 24-term `when(dot(e, plane) >= 0, 1L << h)` signature sum.
  */
class KnnBlockSpec extends SparkSpec {
  import spark.implicits._

  /** The former exact q127 path: blocked pair join, TopKByValue(3), the
    * mutual self-join of the edge list, and the profile joins. */
  private def pairJoinProfile(embIn: DataFrame): Seq[String] = {
    val dot = VectorExprs.dotLong _
    val top3 = udaf(new TopKByValue(3))
    val emb = embIn
      .select($"vec_id", $"label", VectorExprs.quantize($"embedding").as("e"))
      .withColumn("n2", dot($"e", $"e"))
    val edges = emb.as("a").join(emb.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.label").as("label"),
        col("a.vec_id").as("src"), col("b.vec_id").as("dst"),
        (dot(col("a.e"), col("b.e")).cast("double") /
          (sqrt(col("a.n2").cast("double"))
            * sqrt(col("b.n2").cast("double")))).as("cos"))
      .groupBy($"label", $"src")
      .agg(top3($"cos", $"dst").as("top"))
      .select($"label", $"src", explode($"top").as("s"))
      .select($"label", $"src", $"s._2".as("dst"))
    val mutual = edges.as("x").join(edges.as("y"),
        col("x.src") === col("y.dst") && col("x.dst") === col("y.src")
          && col("x.src") < col("x.dst"))
      .groupBy(col("x.label").as("label"))
      .agg(count(lit(1)).as("n_mutual"))
    emb.groupBy($"label").agg(count(lit(1)).as("n_vecs"))
      .join(edges.groupBy($"label").agg(count(lit(1)).as("n_directed")),
        Seq("label"))
      .join(mutual, Seq("label"), "left")
      .withColumn("n_mutual", coalesce($"n_mutual", lit(0L)))
      .orderBy($"label")
      .collect().map(_.toString).toSeq
  }

  private def kernelProfile(emb: DataFrame): Seq[String] =
    ops.Round8.knnGraphProfileFrom(emb, forceLsh = Some(false))
      .collect().map(_.toString).toSeq

  private def frame(rows: Seq[(Long, Int, Seq[Float])]): DataFrame =
    rows.toDF("vec_id", "label", "embedding")

  private def unit(dim: Int, on: Int*): Seq[Float] =
    Seq.tabulate(dim)(i => if (on.contains(i)) 1.0f else 0.0f)

  test("a block whose mutual count hangs on the tie order reads the hand-derived profile") {
    // a = e0 is tied between b1..b4 (cos 1/√2 each) and keeps b1, b2, b3.
    // b1..b3 keep a plus the two smallest other b's (cos 1/2 ties); b4
    // keeps its three companions c1..c3 (cos 0.816), which keep b4 and
    // each other. Mutual: a–b1..b3, b1–b2, b1–b3, b2–b3, b4–c1..c3,
    // c1–c2, c1–c3, c2–c3 = 12. Breaking ties toward the LARGER id gives
    // 9, top-2 gives 16 directed edges, unordered pair counting 24.
    val rows = Seq((0L, unit(8, 0))) ++
      (1 to 4).map(i => (i.toLong, unit(8, 0, i))) ++
      (1 to 3).map(j => ((4 + j).toLong, unit(8, 0, 4, 4 + j)))
    val emb = frame(rows.map { case (id, e) => (id, 7, e) })
    assert(kernelProfile(emb) == Seq("[7,8,24,12]"))
    assert(pairJoinProfile(emb) == Seq("[7,8,24,12]"))
  }

  test("seeded random blocks with duplicate vectors and blocks of size 1-4 match the pair-join profile") {
    for (seed <- Seq(11, 12, 13)) {
      val rnd = new scala.util.Random(seed)
      val sizes = Seq(1, 2, 3, 4, 9, 23, 40)
      var next = 0L
      val rows = sizes.zipWithIndex.flatMap { case (size, label) =>
        val block = scala.collection.mutable.ArrayBuffer.empty[Seq[Float]]
        (0 until size).map { _ =>
          // a quarter of the vectors copy an earlier one (exact cosine
          // ties); coarse values make unrelated ties common too
          val e =
            if (block.nonEmpty && rnd.nextInt(4) == 0)
              block(rnd.nextInt(block.size))
            else {
              val v = Seq.fill(8)((rnd.nextInt(7) - 3) * 0.25f)
              if (v.forall(_ == 0f)) unit(8, 0) else v
            }
          block += e
          next += 1 + rnd.nextInt(3)
          (next, label, e)
        }
      }
      val emb = frame(rnd.shuffle(rows))
      val want = pairJoinProfile(emb)
      assert(want.size == sizes.count(_ > 1), "a 1-vector block has no row")
      assert(kernelProfile(emb) == want, s"seed $seed")
    }
  }

  test("a zero-norm vector keeps the pair join's behaviour: DIVIDE_BY_ZERO under ANSI, a 0.0 cosine without") {
    // its cosine divides by sqrt(0) · sqrt(n2) = 0. Spark's ANSI division
    // rejects that, and the kernel must fail there too rather than rank
    // a NaN; without ANSI the division's null reached TopKByValue as 0.0
    val emb = frame((0 until 4).map { i =>
      (i.toLong, 1, if (i == 1) unit(8) else unit(8, 0, i))
    })
    def divByZero(run: => Any): Boolean = {
      val e = intercept[Exception](run)
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("DIVIDE_BY_ZERO"))
    }
    assert(divByZero(pairJoinProfile(emb)))
    assert(divByZero(kernelProfile(emb)))
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      for (seed <- 1 to 6) {
        val rnd = new scala.util.Random(seed)
        val blk = frame((0 until 9).map { i =>
          (i.toLong * 3 + rnd.nextInt(3), 2,
            if (i == seed) unit(8) else Seq.fill(8)((rnd.nextInt(7) - 3) * 0.25f))
        })
        assert(kernelProfile(blk) == pairJoinProfile(blk), s"seed $seed")
      }
    } finally spark.conf.unset("spark.sql.ansi.enabled")
  }

  test("SignBits equals the composed 24-term signature bit for bit, null and short vectors included") {
    val planes = ops.Round9.lshPlanes24
    val composed = (0 until 24).map { h =>
      when(VectorExprs.dotLong($"e", typedLit(planes(h))) >= 0, 1L << h)
        .otherwise(0L)
    }.reduce(_ + _)
    val extra = Seq((-1L, Option.empty[Seq[Float]]),
      (-2L, Some(Seq(0.5f, -2.0f, 1.0f)))).toDF("vec_id", "embedding")
    val both = Tables.embeddings(spark, sf).select($"vec_id", $"embedding")
      .unionByName(extra)
      .select($"vec_id", VectorExprs.quantize($"embedding").as("e"))
      .select($"vec_id", composed.as("want"),
        VectorExprs.signBits($"e", planes).as("got"))
      .collect()
    assert(both.length > 100)
    assert(both.find(_.getLong(0) == -1L).get.getLong(2) == 0L)
    val bad = both.filter(r => r.getLong(1) != r.getLong(2))
    assert(bad.isEmpty, s"${bad.length} signatures differ, e.g. ${bad.headOption}")
  }

  test("q127 is a lazy frame: no join, no cache, no literal rows; ≤ 2 jobs to build it and ≤ 6 in all") {
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    def settled(): Int = {
      var prev = -1
      while (jobs.get() != prev) { prev = jobs.get(); Thread.sleep(300) }
      prev
    }
    spark.catalog.clearCache()
    spark.sparkContext.addSparkListener(listener)
    try {
      val df = ops.Round8.q127KnnGraph(spark, sf)
      val built = settled()
      assert(spark.sharedState.cacheManager.isEmpty, "q127 must cache nothing")
      val plan = df.queryExecution.optimizedPlan
      assert(plan.collectFirst { case j: Join => j }.isEmpty,
        s"no pair join may remain:\n$plan")
      assert(plan.collectFirst { case l: LocalRelation => l }.isEmpty,
        "the result must not be collected while the frame is built")
      assert(df.collect().nonEmpty)
      val all = settled()
      info(s"q127 at sf0.001: $built jobs to build, $all in all")
      assert(built <= 2, s"$built jobs while building q127")
      assert(all <= 6, s"$all jobs per q127 run")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
