package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Measured scale evidence — the claims PLANS.md makes about shuffle
  * volume, verified with the engine's own task metrics instead of plan
  * inspection: registers a listener, runs the operator at two corpus
  * sizes, and asserts the SHUFFLE barely moves while the input grows 10×.
  * Plan shape says "map-side combined"; this proves the combine actually
  * collapses the stream before the exchange.
  */
class ScaleProofSpec extends SparkSpec {

  /** Total shuffle-write records across all tasks of `action`. Listener
    * delivery is async, so poll the counter until it is stable. */
  private def shuffleRecords(action: => Unit): Long = {
    val recs = new AtomicLong(0)
    val listener = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) recs.addAndGet(m.shuffleWriteMetrics.recordsWritten)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      action
      var prev = -1L
      var tries = 0
      while (recs.get() != prev && tries < 50) {
        prev = recs.get(); Thread.sleep(200); tries += 1
      }
      recs.get()
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("q86 pooling: shuffle volume stays flat while the corpus grows 10x") {
    // q86's contract: posexplode fans out |corpus|·64 rows, but map-side
    // partial aggregation collapses them to ≤ maptasks·|labels|·64 rows
    // BEFORE the exchange — shuffle volume follows the GROUP count, not
    // the corpus. Measure it at sf0.001 and sf0.01 (10× the vectors).
    val small = shuffleRecords(
      ops.Round4.q86EmbeddingPool(spark, "/root/testdata/sf0.001").count())
    spark.catalog.clearCache()
    val big = shuffleRecords(
      ops.Round4.q86EmbeddingPool(spark, "/root/testdata/sf0.01").count())
    spark.catalog.clearCache()
    assert(small > 0, "the aggregation must actually shuffle something")
    assert(big <= small * 3,
      s"shuffle records grew $small -> $big across a 10x corpus — " +
        "map-side combine is not collapsing the fan-out")
  }

  test("q127 kNN: the bounded-heap top-k collapses the pair fan-out before its exchange") {
    // q127's contract: no scored pair crosses an exchange. The exact
    // path shuffles each label block's vectors once (a collect_list
    // combined map-side, ≤ |vecs| records) into the block kernel, and the
    // gate's one (label, band, bv) aggregate adds ≤ |labels|·96 rows; the
    // ~|block|² ≈ 25k pairs at sf0.001 live only inside the kernel.
    val emb = Tables.embeddings(spark, sf)
    val (nVecs, nLabels) =
      (emb.count(), emb.select("label").distinct().count())
    val recs = shuffleRecords(ops.Round8.q127KnnGraph(spark, sf).count())
    spark.catalog.clearCache()
    assert(recs > 0, "the block aggregate must actually shuffle")
    assert(recs <= nVecs + nLabels * 96,
      s"$recs shuffle records for $nVecs vectors in $nLabels blocks — " +
        "a scored pair crossed an exchange")
  }

  test("q142 inverted index: posting caps collapse the token exchange below the posting volume") {
    // q142's contract: TopKByValue(5) combines map-side, so the second
    // (token-keyed) exchange carries ≤5 ids per token per map partition
    // instead of every (token, doc) posting. With a ~31-token vocab and
    // ~2.3k documents at sf0.001, uncapped postings would be ~n_docs·31
    // rows (~70k at the tf grain); the whole query's shuffle must stay
    // an order of magnitude under that.
    val recs = shuffleRecords(
      ops.Round9.q142InvertedIndex(spark, "/root/testdata/sf0.001").count())
    spark.catalog.clearCache()
    assert(recs > 0, "the index build must actually shuffle")
    val postingRows = 70000
    assert(recs < postingRows / 4,
      s"$recs shuffle records — the bounded heap must cap postings " +
        "before the token exchange, not after it")
  }

  test("q140 LSH audit: the candidate path exchanges band keys, not pairs") {
    // q140's candidate-generation contract: each vector fans out 6 band
    // keys (500 vecs → 3000 rows) and candidate ids dedup BEFORE vectors
    // rejoin. The audit half recomputes the exact baseline (its pair join
    // is local to label blocks — pairs form inside the join, they are
    // never exchanged), so total shuffle stays near the fan-out + the
    // ~4k candidate ids + rollups, far below the ~25k scored pairs a
    // pair-exchanging plan would ship.
    val recs = shuffleRecords(
      ops.Round9.q140KnnLshAudit(spark, "/root/testdata/sf0.001").count())
    spark.catalog.clearCache()
    assert(recs > 0)
    assert(recs < 25000,
      s"$recs shuffle records — candidate generation must exchange band " +
        "keys and ids, never materialized pairs")
  }

  test("q99 contamination: the corpus side ships no rows for the probe join") {
    // q99's contract: the benchmark grams broadcast, so the only shuffle
    // is the per-doc gram dedup — corpus rows are NEVER exchanged for the
    // join itself. An exchange-based probe would shuffle ~n_grams rows
    // (hundreds of thousands at sf0.01); the dedup shuffle is bounded by
    // distinct (doc, gram) pairs, which we bound loosely here against the
    // catastrophic all-to-all that a non-broadcast plan would produce.
    val grams = shuffleRecords(
      ops.Round6.q99Contamination(spark, "/root/testdata/sf0.001").count())
    spark.catalog.clearCache()
    assert(grams > 0)
    val corpusGramRows = 25000 // ~50 docs × ~500 5-gram positions, sf0.001
    assert(grams < corpusGramRows * 4,
      s"$grams shuffle records — a broadcast probe should stay near the " +
        "dedup volume, far below repeated corpus-wide exchanges")
  }

  test("q177 centroid drift: shuffle follows the fixed group count, not the corpus") {
    // q177's contract: the posexplode fans out |corpus|·64 component
    // rows, but the (label, pos, batch) aggregate combines map-side —
    // the exchange carries ≤ maptasks·|labels|·64·2 rows at ANY corpus
    // size. 10× the vectors must leave the shuffle nearly flat.
    val small = shuffleRecords(
      ops.Round10.q177CentroidDrift(spark, "/root/testdata/sf0.001").count())
    spark.catalog.clearCache()
    val big = shuffleRecords(
      ops.Round10.q177CentroidDrift(spark, "/root/testdata/sf0.01").count())
    spark.catalog.clearCache()
    assert(small > 0)
    assert(big <= small * 3,
      s"shuffle records grew $small -> $big across a 10x corpus — the " +
        "per-dimension combine is not collapsing the component fan-out")
  }

  test("q178 divergence: shuffle follows vocabulary-sized aggregates, not corpus tokens") {
    // q178's contract: the (source, token) cell aggregate combines
    // map-side, so the exchange follows |sources|·|vocab| (saturating)
    // while corpus tokens grow 10× — the shuffle must grow far slower
    // than the token stream.
    val small = shuffleRecords(
      ops.Round10.q178SourceDivergence(spark, "/root/testdata/sf0.001").count())
    spark.catalog.clearCache()
    val big = shuffleRecords(
      ops.Round10.q178SourceDivergence(spark, "/root/testdata/sf0.01").count())
    spark.catalog.clearCache()
    assert(small > 0)
    assert(big <= small * 4,
      s"shuffle records grew $small -> $big across a 10x corpus — the " +
        "cell aggregate is not combining map-side")
  }

  test("q167 decontam: shuffle is linear in the gram stream, never pairwise") {
    // q167's contract: the gram join is keyed — each (doc, gram) row is
    // exchanged a bounded number of times (dedup + join + rollup), so a
    // 10× corpus moves the shuffle ~10×, NOT quadratically (a pairwise
    // doc×doc plan would square it).
    val small = shuffleRecords(
      ops.Round10.q167NgramDecontam(spark, "/root/testdata/sf0.001").count())
    spark.catalog.clearCache()
    val big = shuffleRecords(
      ops.Round10.q167NgramDecontam(spark, "/root/testdata/sf0.01").count())
    spark.catalog.clearCache()
    assert(small > 0)
    assert(big <= small * 15,
      s"shuffle records grew $small -> $big across a 10x corpus — " +
        "growth must stay linear in the gram stream")
  }

  test("q200 Gini: shuffle follows the vocabulary, not the token stream") {
    // q200's contract: the token stream collapses map-side to the type
    // table before any exchange, and the rank stage exchanges the type
    // table once more — so total shuffle is a few multiples of |vocab|,
    // far below the corpus token count (~57k tokens at sf0.001 vs a
    // ~2.5k-type vocabulary).
    val toks = Tables.documents(spark, "/root/testdata/sf0.001")
      .selectExpr("explode(filter(split(text, ' '), t -> length(t) > 0))")
      .count()
    val vocab = Tables.documents(spark, "/root/testdata/sf0.001")
      .selectExpr("explode(filter(split(text, ' '), t -> length(t) > 0)) AS t")
      .distinct().count()
    val docs = Tables.documents(spark, "/root/testdata/sf0.001").count()
    val recs = shuffleRecords(
      ops.Round11.q200TokenGini(spark, "/root/testdata/sf0.001").count())
    spark.catalog.clearCache()
    assert(recs > 0, "the frequency aggregation must actually shuffle")
    // residual shuffle = the pre-explode doc rebalance (|docs| rows, the
    // q166 fan-out rule) + per-map-task type partials — bounded by docs
    // and vocabulary, NEVER by the token stream
    assert(recs <= docs * 2 + vocab * 8 && recs < toks / 8,
      s"$recs shuffle records vs $toks tokens / $vocab types / $docs " +
        "docs — the frequency combine must collapse the stream before " +
        "the exchange")
  }

  test("q202 bootstrap: the x64 replicate fan-out collapses to |sources|x64 before the exchange") {
    // q202's contract: the explode creates |corpus|·64 rows, but the
    // (source, b) partial aggregation combines them map-side — the
    // exchange carries ~|sources|·64·maptasks rows, orders of magnitude
    // below the fanned-out stream (500·64 = 32k at sf0.001).
    val recs = shuffleRecords(
      ops.Round11.q202BootstrapCi(spark, "/root/testdata/sf0.001").count())
    spark.catalog.clearCache()
    assert(recs > 0, "the replicate aggregation must actually shuffle")
    assert(recs < 32000 / 2,
      s"$recs shuffle records — the replicate sums must combine " +
        "map-side, not ship the x64 fan-out")
  }

  test("q204 overlap: winnowing inside the scan keeps every exchange below the gram stream") {
    // q204's contract after the WinnowedFingerprints rewrite: fingerprint
    // selection happens IN the scan, so no exchange ever carries the
    // per-position gram stream (the composed plan shuffled it once for
    // the doc-keyed sliding-min window). What shuffles: the |docs|
    // pre-explode rebalance, the per-doc fingerprint rows entering the
    // (source, fp) distinct (~grams/w after windowing dedup), and
    // source-grain aggregates. Total must sit far below one gram-stream
    // exchange.
    import org.apache.spark.sql.functions._
    val grams = Tables.documents(spark, "/root/testdata/sf0.001")
      .selectExpr("length(text) - 4 AS g").agg(sum(col("g"))).head().getLong(0)
    val recs = shuffleRecords(
      ops.Round11.q204SourceOverlap(spark, "/root/testdata/sf0.001").count())
    spark.catalog.clearCache()
    assert(recs > 0)
    assert(recs < grams / 2,
      s"$recs shuffle records vs $grams grams — the winnowed plan must " +
        "never exchange the per-position gram stream")
  }

  test("mv refresh: shuffle volume stays flat while the corpus grows " +
      "10x — incremental maintenance follows the delta, not the table") {
    // GraftMv's contract: a refresh reads only the CDF slice since the
    // watermark plus the |groups|-row view — NEVER the source table.
    // Measured: the same 4-row delta refreshed against a 2k-row and a
    // 20k-row corpus must shuffle the same records (fold of
    // delta + view rows, then the |view|-row ordered swap write); a
    // re-seed-style refresh would scale with the corpus.
    def refreshShuffle(tag: String, corpusRows: Int): Long = {
      val wh = java.nio.file.Files.createTempDirectory(s"graft_sp_$tag")
      val cat = tag + wh.getFileName.toString.replaceAll("[^A-Za-z0-9_]", "")
      spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.toString)
      try {
        spark.sql(
          s"""CREATE TABLE $cat.t (
             |  doc_id BIGINT NOT NULL, title STRING NOT NULL,
             |  fp BIGINT NOT NULL, n_words INT NOT NULL)
             |TBLPROPERTIES ('versioned' = 'true')""".stripMargin)
        spark.read.format("graft.sources.GraftDocsSource")
          .option("rows", corpusRows.toString).load()
          .repartition(1).createOrReplaceTempView(s"${cat}_b")
        spark.sql(s"INSERT INTO $cat.t SELECT * FROM ${cat}_b")
        spark.catalog.dropTempView(s"${cat}_b")
        spark.sql(s"CALL $cat.system.create_mv(" +
          "'v', 't', 'doc_id % 5', 'n_words', false)")
        (0 until 4).foreach(i => spark.sql(
          s"INSERT INTO $cat.t VALUES (${corpusRows + i}, 'd', 1, 7)"))
        shuffleRecords(
          spark.sql(s"CALL $cat.system.refresh_mv('v')").collect())
      } finally {
        spark.conf.unset(s"spark.sql.catalog.$cat")
        spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
        org.apache.commons.io.FileUtils.deleteDirectory(wh.toFile)
      }
    }
    val small = refreshShuffle("mvs", 2000)
    val big = refreshShuffle("mvb", 20000)
    assert(small > 0, "the refresh fold must actually shuffle")
    assert(big <= small * 3 + 64,
      s"refresh shuffle grew $small -> $big across a 10x corpus — the " +
        "refresh is reading the table instead of the change feed")
  }

  test("join-mv refresh: shuffle follows the fact delta, not the fact " +
      "corpus — the CDF slice joins the pinned dim, never the table") {
    // GraftMv.refreshJoin's delta path: the fact CDF slice since the
    // watermark inner-joins the PINNED dim snapshot and folds with the
    // |view| rows. Measured: the same 4-row fact delta refreshed
    // against a 2k-row and a 20k-row fact corpus must shuffle the same
    // records; a reseed-style refresh would scale with the fact table.
    def refreshShuffle(tag: String, corpusRows: Int): Long = {
      val wh = java.nio.file.Files.createTempDirectory(s"graft_sp_$tag")
      val cat = tag + wh.getFileName.toString.replaceAll("[^A-Za-z0-9_]", "")
      spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.toString)
      try {
        Seq("t", "d").foreach { tbl =>
          spark.sql(
            s"""CREATE TABLE $cat.$tbl (
               |  doc_id BIGINT NOT NULL, title STRING NOT NULL,
               |  fp BIGINT NOT NULL, n_words INT NOT NULL)
               |TBLPROPERTIES ('versioned' = 'true')""".stripMargin)
        }
        spark.read.format("graft.sources.GraftDocsSource")
          .option("rows", corpusRows.toString).load()
          .repartition(1).createOrReplaceTempView(s"${cat}_b")
        spark.sql(s"INSERT INTO $cat.t SELECT * FROM ${cat}_b")
        spark.catalog.dropTempView(s"${cat}_b")
        spark.read.format("graft.sources.GraftDocsSource")
          .option("rows", "6").load()
          .repartition(1).createOrReplaceTempView(s"${cat}_d")
        spark.sql(s"INSERT INTO $cat.d SELECT * FROM ${cat}_d")
        spark.catalog.dropTempView(s"${cat}_d")
        spark.sql(s"CALL $cat.system.create_join_mv('vj', 't', 'd', " +
          "'f.doc_id % 6', 'd.doc_id', 'd.doc_id', 'f.n_words', false)")
        (0 until 4).foreach(i => spark.sql(
          s"INSERT INTO $cat.t VALUES (${corpusRows + i}, 'x', 1, 7)"))
        shuffleRecords(
          spark.sql(s"CALL $cat.system.refresh_mv('vj')").collect())
      } finally {
        spark.conf.unset(s"spark.sql.catalog.$cat")
        spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
        org.apache.commons.io.FileUtils.deleteDirectory(wh.toFile)
      }
    }
    val small = refreshShuffle("jvs", 2000)
    val big = refreshShuffle("jvb", 20000)
    assert(small > 0, "the join-view refresh fold must actually shuffle")
    assert(big <= small * 3 + 64,
      s"join-view refresh shuffle grew $small -> $big across a 10x " +
        "fact corpus — the refresh is reseeding instead of folding " +
        "the change feed")
  }
}
