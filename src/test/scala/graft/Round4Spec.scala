package graft

import org.apache.spark.sql.functions._

/** Behavioral specs for the round-4 pipeline operators (ops.Round4):
  * chunk coverage, funnel ordering, bloom-prefilter exactness, sample
  * determinism, pooling reconstruction, partition-pruned round trip. */
class Round4Spec extends SparkSpec {

  test("q82 chunking: chunks tile every document with stride-150 overlap") {
    import spark.implicits._
    // Chunk count must be ceil-like: one chunk per stride start < n_chars.
    val docs = graft.Tables.documents(spark, sf)
      .select($"doc_id", $"n_chars").collect()
    val expected = docs.map(r => 1 + (r.getLong(1) - 1) / 150).sum
    val got = ops.Round4.q82Chunking(spark, sf)
      .agg(sum($"n_chunks")).head().getLong(0)
    assert(got == expected)
  }

  test("q83 funnel stages are monotonically non-increasing") {
    val r = ops.Round4.q83Funnel(spark, sf).head()
    val (v, c, p) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(v >= c && c >= p && p >= 0)
  }

  test("q84 bloom prefilter returns exactly the plain semi-join result") {
    import spark.implicits._
    val plain = graft.Tables.orders(spark, sf)
      .join(
        graft.Tables.customer(spark, sf)
          .filter($"c_mktsegment" === "BUILDING" && $"c_nationkey" < 10)
          .select($"c_custkey"),
        $"o_custkey" === $"c_custkey", "left_semi")
      .groupBy($"o_orderpriority").agg(count(lit(1)).as("n_orders"))
      .orderBy($"o_orderpriority")
      .collect().toSeq
    val bloom = ops.Round4.q84BloomSemijoin(spark, sf)
      .select($"o_orderpriority", $"n_orders")
      .collect().toSeq
    assert(bloom == plain)
  }

  test("q84 plan: bloom probe filters the fact scan below the semi-join") {
    val plan = ops.Round4.q84BloomSemijoin(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"))
    // the bloom mightContain UDF must sit in a Filter on the orders side,
    // not above the join (scan-side row reduction is the whole point)
    assert(plan.contains("UDF(o_custkey"))
  }

  test("q85 stratified sample membership is content-deterministic") {
    val a = ops.Round4.q85StratifiedSample(spark, sf).collect().toSeq
    val b = ops.Round4.q85StratifiedSample(spark, sf).collect().toSeq
    assert(a == b && a.nonEmpty)
    // Sample must be a subset of the stratum.
    a.foreach(r => assert(r.getLong(2) <= r.getLong(1)))
  }

  test("q86 pooling: per-(label,pos) vector counts reconstruct the corpus") {
    import spark.implicits._
    val n = graft.Tables.embeddings(spark, sf).count()
    val pooled = ops.Round4.q86EmbeddingPool(spark, sf)
    // every dimension slot sees every vector of its label exactly once
    assert(pooled.agg(sum($"n_vecs")).head().getLong(0) == n * 64)
    assert(pooled.count() == pooled.select($"label", $"pos").distinct().count())
  }

  test("DSv2 source: filter pushdown clamps the partition-planned range") {
    import spark.implicits._
    val df = spark.read
      .format(classOf[graft.sources.GraftDocsSource].getName)
      .option("rows", "1000").option("partitions", "10").load()
      .filter($"doc_id" < 100)
    // the ScanBuilder clamps [0,1000) to [0,100) BEFORE planInputPartitions
    assert(df.queryExecution.executedPlan.toString.contains("range=[0,100)"))
    assert(df.count() == 100)
  }

  test("DSv2 source: generators match the reader row-for-row") {
    import spark.implicits._
    val rows = spark.read
      .format(classOf[graft.sources.GraftDocsSource].getName)
      .option("rows", "50").option("partitions", "3").load()
      .orderBy($"doc_id").collect()
    assert(rows.length == 50)
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(r.getString(1) == graft.sources.GraftDocsSource.title(id))
      assert(r.getLong(2) == graft.sources.GraftDocsSource.fp(id))
      assert(r.getInt(3) == graft.sources.GraftDocsSource.nWords(id))
    }
  }

  test("DSv2 source: column pruning reaches the reader schema") {
    import spark.implicits._
    val df = spark.read
      .format(classOf[graft.sources.GraftDocsSource].getName)
      .option("rows", "100").option("partitions", "2").load()
      .select($"n_words")
    assert(df.queryExecution.executedPlan.toString.contains("cols=n_words"))
    assert(df.agg(sum($"n_words")).head().getLong(0) ==
      (0L until 100L).map(i => (i % 91 + 9)).sum)
  }

  test("dynamic partition overwrite makes batch replays idempotent") {
    // the mechanism StreamingOps.perBatchTypeTotals relies on: a replayed
    // foreachBatch batchId must REPLACE its own partition and leave every
    // other batch's partition untouched
    import spark.implicits._
    withTempDir("graft_replay") { tmp =>
      val out = tmp.toString
      def write(batchId: Long, rows: Seq[(String, Long)]): Unit =
        rows.toDF("event_type", "n")
          .withColumn("batch_id", org.apache.spark.sql.functions.lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id").parquet(out)
      write(0L, Seq(("click", 3L), ("view", 5L)))
      write(1L, Seq(("click", 7L)))
      write(0L, Seq(("click", 3L), ("view", 5L))) // failure-replay of batch 0
      val back = spark.read.parquet(out)
      assert(back.count() == 3) // batch 0 replaced (not appended), batch 1 intact
      assert(back.filter($"batch_id" === 1L).count() == 1)
    }
  }

  test("q91 integer pagerank matches a driver-side brute force") {
    val n = graft.Tables.documents(spark, sf).count().toInt
    var r = Array.fill(n)(1000000L)
    for (_ <- 1 to 3) {
      val in = Array.fill(n)(0L)
      for (i <- 0 until n) {
        in((i * 2 + 1) % n) += r(i) / 2
        in((i * 3 + 2) % n) += r(i) / 2
      }
      r = in.map(s => 150000L + (85L * s) / 100L)
    }
    val expected = r.zipWithIndex
      .sortBy { case (rank, v) => (-rank, v) }.take(10)
      .map { case (rank, v) => (v.toLong, rank) }.toSeq
    val got = ops.Round4.q91Pagerank(spark, sf).collect()
      .map(row => (row.getLong(0), row.getLong(1))).toSeq
    assert(got == expected)
  }

  test("q87 partitioned round trip equals a direct filter of the source") {
    import spark.implicits._
    val direct = graft.Tables.documents(spark, sf)
      .filter($"lang" === "en")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("total_chars"))
      .orderBy($"source").collect().toSeq
    val via = ops.Round4.q87PartitionedWrite(spark, sf).collect().toSeq
    assert(via == direct)
  }
}
