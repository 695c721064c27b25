package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-10 operators: the curation-pipeline audits that sit between a
  * raw corpus and a training run — n-gram eval decontamination (the
  * GPT-3/PaLM 13-gram rule at 5-gram granularity), data-constrained
  * epoch planning (proportional-with-repeat-cap mixture allocation), and
  * the split-leakage audit that justifies content-hash splitting.
  *
  * Capability correspondence only — the reference
  * (/root/reference/Assignment-python.py) has no engine code; these are
  * the operations its pipeline would need at 100 TB, in idiomatic Spark
  * relational shapes.
  */
object Round10 {
  type Q = (org.apache.spark.sql.SparkSession, String) => DataFrame

  // ---------------------------------------------------------------------
  // q167: n-gram eval decontamination audit
  // ---------------------------------------------------------------------

  /** Eval-set decontamination — the audit every benchmark result depends
    * on (the GPT-3 appendix-C / PaLM 13-gram rule, here at 5-gram
    * granularity to fit the corpus's short documents): split the corpus
    * by the q80 content-hash rule (buckets 0–7 train, 8–9 eval), build
    * each document's DISTINCT sliding word-5-grams, and report for the
    * 20 most-contaminated eval documents what fraction of their grams
    * already appear anywhere in train (ppm). A hit means the "held-out"
    * document's text is partially memorizable from training data — the
    * q105 shared-passage phenomenon crossing the split boundary.
    *
    * Scale shape: in production the eval side is benchmark-sized (tiny)
    * while train is the corpus, so the join is a broadcast/bloom probe
    * (the q84/q99 shape); here both sides are relational and the join
    * is gram-keyed. Gram generation is the codegen-adjacent
    * [[graft.functions.DistinctWordGrams]] expression — per-document
    * dedup happens DURING the scan, so the (doc, gram) `.distinct()`
    * exchange (one row per gram position) does not exist in this plan
    * at all (q43's block kernel dedups each document's grams the same
    * way). The fan-out is linear, rebalanced before exploding; nothing
    * forms doc×doc pairs. */
  val q167NgramDecontam: Q = (spark, dir) => {
    import spark.implicits._
    val docs = Dedup.fanoutReady(Tables.documents(spark, dir))
      .select($"doc_id",
        (conv(substring(md5($"text"), 1, 8), 16, 10).cast("long") % 10)
          .as("bucket"),
        graft.functions.TextExprs.distinctWordGrams($"text", 5).as("gs"))
      .withColumn("split", when($"bucket" < 8, "train").otherwise("eval"))
    val grams = docs
      .select($"doc_id", $"split", explode($"gs").as("g"))
    val trainGrams = grams.filter($"split" === "train")
      .select($"g").distinct()
    grams.filter($"split" === "eval")
      .join(trainGrams.withColumn("hit", lit(true)), Seq("g"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_grams"),
        count(when($"hit", 1)).as("n_hit"))
      .withColumn("contam_ppm", expr("n_hit * 1000000 div n_grams"))
      .orderBy($"contam_ppm".desc, $"doc_id")
      .limit(20)
  }

  // ---------------------------------------------------------------------
  // q168: data-constrained epoch planning (repeat-capped mixture)
  // ---------------------------------------------------------------------

  /** Token-budget epoch planning under a repeat cap — the
    * data-constrained-scaling question ("we want B training tokens but
    * the corpus is smaller: how many epochs of each source?"): every
    * source gets an equal target B div S, capped at R=4 epochs of its
    * own tokens (repeating a small source forever degrades — the
    * data-constrained-LM rule), and the leftover budget redistributes
    * proportionally to the remaining headroom in ONE second round
    * (documented; production iterates to fixpoint). B = 1.5× the corpus
    * so the cap genuinely binds for small sources. All integer
    * arithmetic, exact cross-engine.
    *
    * Scale shape: the corpus collapses map-side to |sources| rows; the
    * plan arithmetic runs on that ≤-hundreds-row table collected to the
    * driver (the q131/q149 driver-literal pattern — a mixture PLAN is a
    * config artifact, not data). Nothing wider than |sources| ever
    * shuffles. */
  val q168EpochPlan: Q = (spark, dir) => {
    import spark.implicits._
    val per = Tables.documents(spark, dir)
      .select($"source",
        size(filter(split($"text", " "), t => length(t) > 0)).cast("long")
          .as("toks"))
      .groupBy($"source").agg(sum($"toks").as("tokens"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    epochPlan(per)
      .toDF("source", "tokens", "alloc_tokens", "epochs_ppm", "capped")
      .orderBy($"source")
  }

  /** The pure plan arithmetic behind [[q168EpochPlan]], exposed so specs
    * can prove the cap/redistribution laws on SKEWED inputs (this
    * corpus's uniform sources never trip the cap — the law must hold
    * before the data changes, the q127-gate principle). Returns
    * (source, tokens, alloc, epochs_ppm, capped). */
  private[graft] def epochPlan(per: Seq[(String, Long)])
      : Seq[(String, Long, Long, Long, Boolean)] = {
    val total = per.map(_._2).sum
    val budget = total * 3L / 2L
    val t0 = budget / per.length
    val first = per.map { case (_, tok) => math.min(t0, 4L * tok) }
    val leftover = budget - first.sum
    val headroom = per.zip(first).map { case ((_, tok), f) => 4L * tok - f }
    val sumHead = headroom.sum
    per.indices.map { i =>
      val (src, tok) = per(i)
      val add = if (sumHead > 0) leftover * headroom(i) / sumHead else 0L
      val alloc = first(i) + add
      (src, tok, alloc, alloc * 1000000L / tok, 4L * tok <= t0)
    }
  }

  // ---------------------------------------------------------------------
  // q169: split-leakage audit (content-hash vs id-hash splitting)
  // ---------------------------------------------------------------------

  /** Split-leakage audit — the measurement that justifies q80's
    * content-hash split rule: duplicate TEXTS under different ids land
    * in different splits when the split key is the id (naive random
    * split → eval contamination), but provably never when the split key
    * is the content digest (the split is a function of the text). The
    * corpus injects re-crawls (% 7 == 0 docs under +1M ids — the q141
    * construction) so duplicate content genuinely exists, then both
    * policies are audited side by side: digests spanning more than one
    * split, the documents they cover, and the leak rate. The by_content
    * row MUST read zero — a nonzero value is a broken split function.
    *
    * Scale shape: one digest-keyed aggregate per policy (the corpus
    * never pairs with itself — leakage is a GROUP property of the
    * digest); output is two rows. */
  val q169SplitLeakage: Q = (spark, dir) => {
    import spark.implicits._
    val base = Tables.documents(spark, dir).select($"doc_id", $"text")
    val corpus = base.unionByName(
      base.filter($"doc_id" % 7 === 0)
        .withColumn("doc_id", $"doc_id" + 1000000L))
    def bucket(c: Column): Column =
      conv(substring(md5(c), 1, 8), 16, 10).cast("long") % 10
    def splitOf(b: Column): Column =
      when(b < 8, "train").when(b < 9, "val").otherwise("test")
    val tagged = corpus.select(md5($"text").as("d"),
      splitOf(bucket($"text")).as("content_split"),
      splitOf(bucket($"doc_id".cast("string"))).as("id_split"))
    val byPolicy = Seq(
      ("by_content", "content_split"), ("by_id", "id_split")
    ).map { case (pol, c) =>
      tagged.select($"d", col(c).as("split"))
        .groupBy($"d")
        .agg(countDistinct($"split").as("ns"), count(lit(1)).as("nd"))
        .agg(count(lit(1)).as("n_digests"),
          count(when($"ns" > 1, 1)).as("n_leaked_digests"),
          sum(when($"ns" > 1, $"nd").otherwise(0L)).as("n_docs_leaked"))
        .withColumn("policy", lit(pol))
    }.reduce(_ unionByName _)
    byPolicy
      .withColumn("leak_ppm",
        expr("n_leaked_digests * 1000000 div n_digests"))
      .select($"policy", $"n_digests", $"n_leaked_digests",
        $"n_docs_leaked", $"leak_ppm")
      .orderBy($"policy")
  }

  // ---------------------------------------------------------------------
  // q170: mergeable KMV quantile sketch (deterministic bottom-k)
  // ---------------------------------------------------------------------

  /** Exact decimal cents for a double money column — the q122 recipe. */
  private def cents(c: String): Column =
    expr(s"CAST(CAST($c AS DECIMAL(12,2)) * 100 AS BIGINT)")

  /** Distributed approximate quantiles the way engines actually ship
    * them — a MERGEABLE bottom-k sketch, made fully DETERMINISTIC so
    * both engines replay it bit-for-bit (the 4th sketch family beside
    * HLL/CMS/Misra–Gries, and unlike q92's approx_quantile this one's
    * estimate is hash-checkable, not tolerance-checked): hash every
    * distinct order price (md5 of the cents integer), keep the 64
    * smallest hashes — a uniform random-but-deterministic sample of the
    * distinct-value set (the KMV/Theta-sketch construction). Each of 16
    * shards keeps its own bottom-64; the merged sketch is the bottom-64
    * of the union, and PROVABLY equals the direct global sketch (a
    * globally-minimal hash is minimal in its own shard — the flag
    * column carries the proof as data and the oracle recomputes it).
    * Quartiles of the distinct-price distribution are then estimated
    * from the 64-point sample and audited against exact two-level-rank
    * order statistics, error in ppm.
    *
    * Scale shape: per-shard bottom-64 under keyed windows; the global
    * bottom-64s are TakeOrderedAndProject (no full sort, no
    * unpartitioned window); exact ranks use the q143/q162 block form;
    * everything driver-side is ≤64 rows (the q131 literal rule). */
  val q170KmvQuantiles: Q = (spark, dir) => {
    import spark.implicits._
    val vals = Tables.orders(spark, dir)
      .select(cents("o_totalprice").as("v")).distinct()
      .withColumn("h", md5($"v".cast("string")))
      .withColumn("blk", ($"v" / 65536L).cast("long"))
      .cache()
    // The three probes below are INDEPENDENT reads of the same cached
    // relation; the first collect materializes the cache, then the
    // other two run as concurrent jobs instead of serial driver round
    // trips (guide §2.6 overlap-independent-jobs — the back-fill shape;
    // each result is a deterministic sorted collect, so concurrency
    // cannot reorder anything observable).
    val direct = vals.orderBy($"h", $"v").limit(64)
      .select($"v").collect().map(_.getLong(0))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val mergedF = Future(vals
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(pmod($"v", lit(16L))).orderBy($"h", $"v")))
      .filter($"rn" <= 64)
      .orderBy($"h", $"v").limit(64)
      .select($"v").collect().map(_.getLong(0)))
    val blkCountsF = Future(vals.groupBy($"blk").agg(count(lit(1)).as("bc"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1))
    val merged = Await.result(mergedF, Duration.Inf)
    val blkCounts = Await.result(blkCountsF, Duration.Inf)
    val n = blkCounts.map(_._2).sum
    val offsets = blkCounts.map(_._1)
      .zip(blkCounts.map(_._2).scanLeft(0L)(_ + _)).toSeq
    val exactRanks = Seq(1, 2, 3).map(q => math.max(1L, n * q / 4))
    val exact = vals
      .join(broadcast(offsets.toDF("blk", "boff")), Seq("blk"))
      .withColumn("r", $"boff" + row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"blk").orderBy($"v")))
      .filter($"r".isin(exactRanks: _*))
      .select($"r", $"v").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    vals.unpersist()
    val eq = direct.toSet == merged.toSet
    val mSorted = merged.sorted
    Seq(1, 2, 3).map { q =>
      val est = mSorted(math.max(1, math.min(mSorted.length, 16 * q)) - 1)
      val ex = exact(math.max(1L, n * q / 4))
      (q, est, ex, math.abs(est - ex) * 1000000L / ex, eq)
    }.toDF("quartile", "est_cents", "exact_cents", "err_ppm", "merged_eq")
      .orderBy($"quartile")
  }

  // ---------------------------------------------------------------------
  // q171: context-window packing audit (concat-and-chunk)
  // ---------------------------------------------------------------------

  /** Sequence-packing audit — what GPT-style pretraining actually does
    * with a curated corpus: concatenate documents in a deterministic
    * order and chunk the stream into fixed 512-token context windows.
    * The audit reports the numbers a data-loader team watches: window
    * count, tail waste, and how many documents straddle a window
    * boundary (those get split across training examples — too many
    * means the window size is mismatched to the document length
    * distribution). Order is content-hash priority (md5(text), doc_id —
    * the q80/q162 determinism rule, so re-runs and re-shards pack
    * identically); each document's stream interval [start, end) comes
    * from the q162 two-level cumulative sum (hex-byte range blocks,
    * keyed windows, driver offsets — no unpartitioned window), and a
    * document straddles iff start div 512 < (end−1) div 512. Zero-token
    * documents are excluded (stated, not silent). */
  val q171PackingAudit: Q = (spark, dir) => {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select($"doc_id",
        size(filter(split($"text", " "), t => length(t) > 0)).cast("long")
          .as("toks"),
        md5($"text").as("p"))
      .filter($"toks" > 0)
      .withColumn("blk", conv(substring($"p", 1, 2), 16, 10).cast("long"))
      .cache()
    val blkCounts = docs.groupBy($"blk").agg(sum($"toks").as("bt"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val total = blkCounts.map(_._2).sum
    val nWindows = (total + 511L) / 512L
    val offsets = blkCounts.map(_._1)
      .zip(blkCounts.map(_._2).scanLeft(0L)(_ + _)).toSeq
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"blk").orderBy($"p", $"doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val out = OpsUtil.driverLiteral(docs
      .join(broadcast(offsets.toDF("blk", "boff")), Seq("blk"))
      .withColumn("end", $"boff" + sum($"toks").over(w))
      .withColumn("start", $"end" - $"toks")
      .withColumn("straddles", expr("(start div 512) < ((end - 1) div 512)"))
      .agg(count(lit(1)).as("n_docs"),
        sum($"toks").as("total_tokens"),
        count(when($"straddles", 1)).as("n_boundary_docs"))
      .withColumn("n_windows", lit(nWindows))
      .withColumn("fill_ppm",
        expr(s"total_tokens * 1000000 div (${nWindows}L * 512)"))
      .withColumn("boundary_ppm",
        expr("n_boundary_docs * 1000000 div n_docs"))
      .select($"n_docs", $"total_tokens", $"n_windows",
        $"n_boundary_docs", $"fill_ppm", $"boundary_ppm"))
    docs.unpersist()
    out
  }

  // ---------------------------------------------------------------------
  // q172: boolean retrieval (posting-list intersection)
  // ---------------------------------------------------------------------

  /** Two-term AND retrieval — the serving face of q142's inverted
    * index: intersect two terms' posting lists and rank the documents
    * containing BOTH by combined term frequency (doc_id tiebreak). The
    * query terms are picked deterministically as global frequency ranks
    * 5 and 6 (a 6-row TakeOrderedAndProject + driver read — no
    * unpartitioned window), so the query is reproducible and the oracle
    * replays the same selection. Scale shape: postings come from one
    * token-keyed map-side-combined aggregate; the intersection is a
    * doc-keyed join of two SINGLE-term posting lists (each df-sized,
    * tiny next to the corpus), never a corpus join. */
  val q172BooleanRetrieval: Q = (spark, dir) => {
    import spark.implicits._
    val tf = Dedup.fanoutReady(Tables.documents(spark, dir))
      .select($"doc_id", explode(split($"text", " ")).as("tok"))
      .filter(length($"tok") > 0)
      .groupBy($"tok", $"doc_id").agg(count(lit(1)).as("tf"))
      .cache()
    val top6 = tf.groupBy($"tok").agg(sum($"tf").as("cnt"))
      .orderBy($"cnt".desc, $"tok").limit(6)
      .select($"tok").collect().map(_.getString(0))
    val (t1, t2) = (top6(4), top6(5))
    val out = OpsUtil.driverLiteral(
      tf.filter($"tok" === t1)
        .select($"doc_id", $"tf".as("tf_a"))
        .join(tf.filter($"tok" === t2)
          .select($"doc_id", $"tf".as("tf_b")), Seq("doc_id"))
        .withColumn("score", $"tf_a" + $"tf_b")
        .orderBy($"score".desc, $"doc_id")
        .limit(10))
    tf.unpersist()
    out
  }

  // ---------------------------------------------------------------------
  // q173: split stratification balance
  // ---------------------------------------------------------------------

  /** Stratification audit for the q80 content-hash split: per (split,
    * lang), the language's share WITHIN the split vs its share in the
    * whole corpus, deviation in ppm. A content-hash split stratifies
    * only in expectation — this is the table that says whether the val
    * set under-represents a language badly enough to warrant the q85
    * explicit stratified split instead. Two map-side aggregates and a
    * broadcast |langs|-row join; output is |splits|×|langs|. */
  val q173SplitBalance: Q = (spark, dir) => {
    import spark.implicits._
    val tagged = Tables.documents(spark, dir)
      .select($"lang",
        (conv(substring(md5($"text"), 1, 8), 16, 10).cast("long") % 10)
          .as("bucket"))
      .withColumn("split",
        when($"bucket" < 8, "train").when($"bucket" < 9, "val")
          .otherwise("test"))
    // |langs|-row collect: the corpus total falls out of the same pass
    // (no separate count() job — the q164 lesson)
    val corpusRows = tagged.groupBy($"lang")
      .agg(count(lit(1)).as("lang_total"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val tot = corpusRows.map(_._2).sum
    val corpus = corpusRows.toSeq.toDF("lang", "lang_total")
    tagged.groupBy($"split", $"lang").agg(count(lit(1)).as("n_docs"))
      .withColumn("split_total", sum($"n_docs").over(
        org.apache.spark.sql.expressions.Window.partitionBy($"split")))
      .join(broadcast(corpus), Seq("lang"))
      .withColumn("share_ppm", expr("n_docs * 1000000 div split_total"))
      .withColumn("corpus_ppm", expr(s"lang_total * 1000000 div ${tot}L"))
      .withColumn("dev_ppm", abs($"share_ppm" - $"corpus_ppm"))
      .select($"split", $"lang", $"n_docs", $"share_ppm", $"corpus_ppm",
        $"dev_ppm")
      .orderBy($"split", $"lang")
  }

  // ---------------------------------------------------------------------
  // q174: per-source n-gram novelty
  // ---------------------------------------------------------------------

  /** Marginal novelty per source — the mixture-tuning signal q165's
    * quality lift does not capture: how much of a source's content is
    * UNIQUE to it (its distinct 5-grams appearing in no other source)
    * vs shared boilerplate. A source with low novelty duplicates what
    * the mixture already has; cutting it loses little. One gram-keyed
    * aggregate over (source, gram) distinct pairs — the gram's
    * source-df and each source's gram inventory ride the same fan-out;
    * nothing pairwise. */
  val q174SourceNovelty: Q = (spark, dir) => {
    import spark.implicits._
    val grams = Dedup.fanoutReady(Tables.documents(spark, dir))
      .select($"source",
        explode(graft.functions.TextExprs.distinctWordGrams($"text", 5))
          .as("g"))
      // cross-DOC dedup within a source still needs the exchange, but
      // DistinctWordGrams pre-collapsed each document's repeats
      .distinct()
    // No join of the gram fan-out back to its df table: a gram with
    // src_df = 1 has exactly ONE owning source, so min(source) in the
    // same per-gram aggregate attributes it, and both outputs reduce
    // to |sources|-row aggregates joined at the end — the former
    // corpus-sized grams ⋈ srcDf reshuffle+probe never happens
    // (guide §2.3: aggregate instead of join when the join only
    // re-attaches an aggregate).
    val perGram = grams.groupBy($"g")
      .agg(count(lit(1)).as("src_df"), min($"source").as("only_src"))
    val uniques = perGram.filter($"src_df" === 1)
      .groupBy($"only_src".as("source"))
      .agg(count(lit(1)).as("n_unique"))
    grams.groupBy($"source").agg(count(lit(1)).as("n_grams"))
      .join(uniques, Seq("source"), "left")
      .na.fill(0L, Seq("n_unique"))
      .withColumn("unique_ppm", expr("n_unique * 1000000 div n_grams"))
      .orderBy($"source")
  }

  // ---------------------------------------------------------------------
  // q175: corpus snapshot diff (manifest-level data versioning)
  // ---------------------------------------------------------------------

  /** Release-to-release corpus diff WITHOUT re-reading data twice — two
    * q147-style manifests (per-cell doc counts + order-independent
    * mod-prime checksums) are joined cell-by-cell and every (lang,
    * source) cell is classified added / changed / unchanged. Version A
    * simulates the previous release (doc_id % 3 != 0, and source
    * 'src0' not yet onboarded); version B is today's corpus — so
    * 'added' (the onboarded source) and 'changed' occur by
    * construction, and 'unchanged' appears exactly for cells whose
    * docs all carried doc_id % 3 != 0. This is the Iceberg/Delta
    * snapshot-diff question answered at manifest granularity: the
    * output says WHICH cells need reprocessing, and the checksum
    * catches changed content even when the doc count is unchanged.
    * Scale shape: two map-side-combined |lang×source| aggregates and
    * one cell-keyed join of manifest-sized relations. */
  val q175SnapshotDiff: Q = (spark, dir) => {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", $"lang", $"source",
        conv(substring(md5($"text"), 1, 12), 16, 10).cast("long").as("h"))
    def manifest(df: DataFrame): DataFrame = df
      .groupBy($"lang", $"source")
      .agg(count(lit(1)).as("n"),
        (sum($"h".cast("decimal(38,0)")) % lit(Round9.checksumPrime))
          .cast("long").as("ck"))
    val a = manifest(docs.filter($"doc_id" % 3 =!= 0 && $"source" =!= "src0"))
    val b = manifest(docs)
    a.select($"lang", $"source", $"n".as("n_a"), $"ck".as("ck_a"))
      .join(b.select($"lang", $"source", $"n".as("n_b"), $"ck".as("ck_b")),
        Seq("lang", "source"), "full")
      .withColumn("status",
        when($"n_a".isNull, "added")
          .when($"n_b".isNull, "removed")
          .when($"ck_a" === $"ck_b" && $"n_a" === $"n_b", "unchanged")
          .otherwise("changed"))
      .groupBy($"status")
      .agg(count(lit(1)).as("n_cells"),
        sum(coalesce($"n_a", lit(0L))).as("docs_a"),
        sum(coalesce($"n_b", lit(0L))).as("docs_b"))
      .withColumn("delta_docs", $"docs_b" - $"docs_a")
      .orderBy($"status")
  }

  // ---------------------------------------------------------------------
  // q176: exact integer AUC (quality-score bias audit)
  // ---------------------------------------------------------------------

  /** Does the quality score favor one language? — the bias audit a
    * curation filter must pass before it gates a multilingual corpus:
    * exact AUC of the lexical-diversity score for 'en' documents vs
    * the rest, computed as the Mann–Whitney statistic in PURE INTEGERS
    * (AUC·2·n_pos·n_neg = 2·wins + ties; no ranks averaged, no
    * floats): collapse the corpus map-side to |distinct scores| rows
    * carrying (pos_at, neg_at), take the running negative count below
    * each score (aggregate-sized cumulative — the documented q155
    * class, bounded by the ppm domain), then one aggregate sums
    * wins = Σ pos_at·neg_below and ties = Σ pos_at·neg_at. AUC 0.5
    * (500000 ppm) = unbiased; the output also carries the win/tie
    * factors so the verdict is re-derivable. */
  val q176ScoreBiasAuc: Q = (spark, dir) => {
    import spark.implicits._
    val scored = Tables.documents(spark, dir)
      .select($"lang",
        filter(split($"text", " "), t => length(t) > 0).as("w"))
      .select($"lang",
        expr("size(array_distinct(w)) * 1000000 div size(w)").as("score"))
      .groupBy($"score")
      .agg(count(when($"lang" === "en", 1)).as("pos_at"),
        count(when($"lang" =!= "en", 1)).as("neg_at"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy($"score")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    scored
      .withColumn("neg_below", coalesce(sum($"neg_at").over(w), lit(0L)))
      .agg(sum($"pos_at").as("n_pos"), sum($"neg_at").as("n_neg"),
        sum($"pos_at" * $"neg_below").as("wins"),
        sum($"pos_at" * $"neg_at").as("ties"))
      .withColumn("auc_ppm", expr(
        "(2 * wins + ties) * 1000000 div (2 * n_pos * n_neg)"))
      .select($"n_pos", $"n_neg", $"wins", $"ties", $"auc_ppm")
  }

  // ---------------------------------------------------------------------
  // q177: embedding centroid drift (vector-space monitoring)
  // ---------------------------------------------------------------------

  /** Vector-space drift — the embedding-side sibling of q149's PSI and
    * q155's KS (which watch a scalar score): between two ingestion
    * batches (vec_id parity), compare each label block's CENTROID and
    * report the exact integer squared-L2 displacement. An embedding
    * model regression, a pipeline normalization bug, or genuine
    * content drift all move centroids; per-label attribution says
    * which block moved. All arithmetic is exact: thousandth-quantized
    * components, integer-div centroids, integer squared differences.
    * Scale shape: one posexplode into a (label, pos, batch)-keyed
    * map-side-combined aggregate (64·|labels|·2 rows), then a
    * |labels|-row rollup — the corpus fan-out is never shuffled
    * wider than the aggregate. */
  val q177CentroidDrift: Q = (spark, dir) => {
    import spark.implicits._
    val comps = Tables.embeddings(spark, dir)
      .select($"vec_id", $"label",
        posexplode(expr(
          "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))"))
          .as(Seq("pos", "v")))
      .withColumn("batch", when($"vec_id" % 2 === 0, "ref").otherwise("cur"))
    // centroid sums go NEGATIVE: Spark `div` truncates toward zero but
    // DuckDB `//` floors (the q128 lesson) — floor a double division
    // instead, exact while |s| < 2^52 (|v| ≤ ~2e3, n ≤ corpus)
    val perDim = comps.groupBy($"label", $"pos", $"batch")
      .agg(sum($"v").as("s"), count(lit(1)).as("n"))
      .withColumn("c",
        floor($"s".cast("double") / $"n".cast("double")).cast("long"))
    perDim.groupBy($"label", $"pos")
      .agg(max(when($"batch" === "ref", $"c")).as("cr"),
        max(when($"batch" === "cur", $"c")).as("cc"),
        max(when($"batch" === "ref", $"n")).as("nr"),
        max(when($"batch" === "cur", $"n")).as("nc"))
      .groupBy($"label")
      .agg(max($"nr").as("n_ref"), max($"nc").as("n_cur"),
        sum(($"cr" - $"cc") * ($"cr" - $"cc")).as("drift_l2sq"))
      .orderBy($"label")
  }

  // ---------------------------------------------------------------------
  // q178: per-source unigram divergence (L1 from the corpus mixture)
  // ---------------------------------------------------------------------

  /** How far each source's token distribution sits from the corpus
    * mixture — the L1 (total-variation×2) divergence in exact ppm
    * integers, the log-free sibling of q108's DSIR weighting: per
    * token, |ppm_in_source − ppm_in_corpus|, summed over the UNION of
    * vocabularies (tokens absent from the source contribute their full
    * corpus mass). High-divergence sources are the distribution
    * outliers a mixture tuner inspects first. One token-keyed
    * aggregate carrying per-source counts as a map-side-combined
    * pivot; the |vocab|-sized table joins nothing corpus-sized. */
  val q178SourceDivergence: Q = (spark, dir) => {
    import spark.implicits._
    val toks = Dedup.fanoutReady(Tables.documents(spark, dir))
      .select($"source", explode(split($"text", " ")).as("tok"))
      .filter(length($"tok") > 0)
    val cell = toks.groupBy($"source", $"tok").agg(count(lit(1)).as("n"))
      .cache()
    val srcTot = cell.groupBy($"source").agg(sum($"n").as("st"))
    val tokTot = cell.groupBy($"tok").agg(sum($"n").as("tt"))
    val corpusTot = srcTot.agg(sum($"st").as("ct"))
    // union of (source, token): srcTot × vocab via the token table —
    // every source scores EVERY token (absent → 0 mass on the source
    // side); |sources|·|vocab| rows, aggregate-sized, never corpus rows
    val out = srcTot.crossJoin(broadcast(tokTot))
      .join(cell, Seq("source", "tok"), "left")
      .na.fill(0L, Seq("n"))
      .crossJoin(broadcast(corpusTot))
      .withColumn("d", abs(expr("n * 1000000 div st")
        - expr("tt * 1000000 div ct")))
      .groupBy($"source")
      .agg(count(when($"n" > 0, 1)).as("n_tokens"),
        sum($"d").as("l1_ppm"))
      .orderBy($"source")
    val res = OpsUtil.driverLiteral(out)
    cell.unpersist()
    res
  }

  // ---------------------------------------------------------------------
  // q179: referential-integrity audit (star-schema FK edges)
  // ---------------------------------------------------------------------

  /** The data-quality gate a warehouse load runs before anything else:
    * every foreign-key edge of the star schema, child row count and
    * orphan count (child keys with no parent). Each edge is ONE keyed
    * left join with the orphan flag counted in the same pass (never a
    * separate anti-join job); parent sides are primary keys, so the
    * joins cannot fan out, and the dimension parents broadcast. The
    * 5-row report is the q131 driver-literal shape. A nonzero
    * orphan_ppm is a failed load, not a statistic. */
  val q179FkIntegrity: Q = (spark, dir) => {
    import spark.implicits._
    def edge(name: String, child: DataFrame, key: String,
        parent: DataFrame, pkey: String): (String, Long, Long) = {
      val r = child.select(col(key).as("k"))
        .join(parent.select(col(pkey).as("pk"), lit(true).as("present")),
          $"k" === $"pk", "left")
        .agg(count(lit(1)).as("n"),
          count(when($"present".isNull, 1)).as("orphans"))
        .head()
      (name, r.getLong(0), r.getLong(1))
    }
    val rows = Seq(
      edge("customer->nation", Tables.customer(spark, dir), "c_nationkey",
        Tables.nation(spark, dir), "n_nationkey"),
      edge("lineitem->orders", Tables.lineitem(spark, dir), "l_orderkey",
        Tables.orders(spark, dir), "o_orderkey"),
      edge("nation->region", Tables.nation(spark, dir), "n_regionkey",
        Tables.region(spark, dir), "r_regionkey"),
      edge("orders->customer", Tables.orders(spark, dir), "o_custkey",
        Tables.customer(spark, dir), "c_custkey"),
      edge("supplier->nation", Tables.supplier(spark, dir), "s_nationkey",
        Tables.nation(spark, dir), "n_nationkey"))
    rows.map { case (e, n, o) => (e, n, o, o * 1000000L / n) }
      .toDF("edge", "n_rows", "n_orphans", "orphan_ppm")
      .orderBy($"edge")
  }

  // ---------------------------------------------------------------------
  // q180: Benford first-digit audit
  // ---------------------------------------------------------------------

  /** First-significant-digit profile of order totals against Benford's
    * law — the classic data-quality/fraud canary: per digit 1–9, the
    * observed share vs the Benford expectation, deviation in ppm. The
    * expected shares are HARDCODED integer constants (floor(log10(1 +
    * 1/d)·10⁶)) on both engines — no runtime logarithm anywhere near
    * the hashed surface (the q149 lesson, applied preemptively).
    * TPC-H-style uniform prices deviate from Benford strongly — the
    * audit reports that honestly; the operator is the readout, not a
    * pass/fail. One map-side-combined 9-group aggregate. */
  val q180Benford: Q = (spark, dir) => {
    import spark.implicits._
    val benford = Seq((1, 301029L), (2, 176091L), (3, 124938L),
      (4, 96910L), (5, 79181L), (6, 66946L), (7, 57991L), (8, 51152L),
      (9, 45757L)).toDF("digit", "benford_ppm")
    val counts = Tables.orders(spark, dir)
      .select(cents("o_totalprice").as("v"))
      .withColumn("digit", substring($"v".cast("string"), 1, 1).cast("int"))
      .groupBy($"digit").agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum($"n").as("t"))
    counts.crossJoin(broadcast(tot))
      .withColumn("obs_ppm", expr("n * 1000000 div t"))
      .join(broadcast(benford), Seq("digit"))
      .withColumn("dev_ppm", abs($"obs_ppm" - $"benford_ppm"))
      .select($"digit", $"n", $"obs_ppm", $"benford_ppm", $"dev_ppm")
      .orderBy($"digit")
  }

  // ---------------------------------------------------------------------
  // q181: marginal-novelty growth curve (does more data still add content?)
  // ---------------------------------------------------------------------

  /** The data-scaling readout behind "is crawling more worth it": slice
    * the corpus into 10 ingestion tranches (doc_id order — the crawl's
    * arrival proxy) and report, per tranche, how many of its distinct
    * 5-grams are NEW (first seen in that tranche) vs already covered.
    * A healthy growing corpus keeps new_ppm high; a saturating crawl
    * decays toward boilerplate. First-seen assignment is ONE gram-keyed
    * `min(slice)` aggregate — no cumulative scan, no tranche-by-tranche
    * iteration; the per-tranche inventory rides the same fan-out. */
  val q181NoveltyCurve: Q = (spark, dir) => {
    import spark.implicits._
    val maxId = Tables.documents(spark, dir)
      .agg(max($"doc_id")).head().getLong(0)
    val grams = Dedup.fanoutReady(Tables.documents(spark, dir))
      .select(expr(s"least(9L, doc_id * 10 div ${maxId + 1}L)").as("slice"),
        explode(graft.functions.TextExprs.distinctWordGrams($"text", 5))
          .as("g"))
      // cross-DOC dedup within a tranche still needs the exchange, but
      // DistinctWordGrams pre-collapsed each document's repeats
      .distinct()
      .cache()
    // No join of the gram fan-out back to its first-seen table: a
    // gram is NEW in exactly the slice min(slice) names, so per-slice
    // novelty is the |slices|-row aggregate of firstSeen itself, and
    // per-slice volume a second tiny aggregate — the former
    // corpus-sized grams ⋈ firstSeen reshuffle never happens (the
    // q174 rewrite; guide §2.3).
    val firstSeen = grams.groupBy($"g").agg(min($"slice").as("fs"))
    val out = OpsUtil.driverLiteral(grams
      .groupBy($"slice").agg(count(lit(1)).as("n_grams"))
      .join(firstSeen.groupBy($"fs".as("slice"))
        .agg(count(lit(1)).as("n_new")), Seq("slice"), "left")
      .na.fill(0L, Seq("n_new"))
      .withColumn("new_ppm", expr("n_new * 1000000 div n_grams"))
      .orderBy($"slice"))
    grams.unpersist()
    out
  }

  // ---------------------------------------------------------------------
  // q182: quality-filter cascade audit
  // ---------------------------------------------------------------------

  /** Filter-cascade planning table — the readout that orders a chain of
    * quality filters by selectivity and says whether they are
    * independent (if they are, the cheapest-most-selective-first
    * ordering is optimal; if strongly correlated, dedupe the rules):
    * three exact-integer document filters (length ≥ 200 chars, lexical
    * diversity ≥ 0.3, mean word length in [3,12]), each with its pass
    * rate, plus the JOINT row carrying the observed joint rate AND the
    * independence prediction (the product of the three rates, floored
    * stepwise — the formula both engines replay exactly). One
    * map-side-combined aggregate over the corpus; the 4-row report is
    * driver-literal. */
  val q182FilterCascade: Q = (spark, dir) => {
    import spark.implicits._
    val flags = Tables.documents(spark, dir)
      .select($"n_chars",
        filter(split($"text", " "), t => length(t) > 0).as("w"))
      .select(
        ($"n_chars" >= 200).as("f_len"),
        (expr("size(array_distinct(w)) * 1000000 div size(w)") >= 300000L)
          .as("f_div"),
        expr("aggregate(w, 0L, (a, x) -> a + length(x)) div size(w)")
          .between(3L, 12L).as("f_word"))
    val r = flags.agg(count(lit(1)).as("n"),
      count(when($"f_len", 1)).as("p1"),
      count(when($"f_div", 1)).as("p2"),
      count(when($"f_word", 1)).as("p3"),
      count(when($"f_len" && $"f_div" && $"f_word", 1)).as("pj")).head()
    val (n, p1, p2, p3, pj) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    def ppm(k: Long): Long = k * 1000000L / n
    val indep = ppm(p1) * ppm(p2) / 1000000L * ppm(p3) / 1000000L
    Seq(
      ("1_len_ge_200", p1, ppm(p1), Option.empty[Long]),
      ("2_diversity_ge_0.3", p2, ppm(p2), Option.empty[Long]),
      ("3_word_len_3_12", p3, ppm(p3), Option.empty[Long]),
      ("4_joint", pj, ppm(pj), Some(indep)))
      .toDF("filter", "n_pass", "pass_ppm", "indep_ppm")
      .orderBy($"filter")
  }

  // ---------------------------------------------------------------------
  // q183: classifier evaluation metrics (precision / recall / F1)
  // ---------------------------------------------------------------------

  /** The eval summary OVER q32's language-ID confusion matrix — raw
    * (lang, predicted) counts answer "where do errors go"; a model
    * gate needs per-class precision/recall/F1, here in EXACT ppm
    * integers (f1 = 2·P·R div (P+R) on the ppm values — one integer
    * formula both engines replay; classes the model never predicts get
    * an honest NULL precision, not an ε). Same marker-word predictor as
    * q32 (`Text.scala:81` — en wins ties, then de/fr/es/zh, unknown
    * when all scores are 0); one corpus pass into a |langs|²-bounded
    * matrix aggregate, metrics derived from matrix marginals. */
  val q183ClassifierMetrics: Q = (spark, dir) => {
    import spark.implicits._
    val markers: Seq[(String, Seq[String])] = Seq(
      "en" -> Seq("the", "and", "of", "to", "a", "is", "in"),
      "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
      "fr" -> Seq("le", "la", "les", "et", "est", "un"),
      "es" -> Seq("el", "los", "las", "y", "es", "un"),
      "zh" -> Seq("的", "是", "在", "了", "和"))
    val toks = filter(split(lower($"text"), "\\s+"), t => length(t) > 0)
    val withScores = markers.foldLeft(
      Tables.documents(spark, dir).withColumn("toks", toks)) {
      case (df, (l, words)) =>
        df.withColumn(s"s_$l", size(filter($"toks", t => t.isin(words: _*))))
    }
    val best = markers.map { case (l, _) => col(s"s_$l") }
      .reduce((a, b) => greatest(a, b))
    val predicted = markers.foldRight(lit("unknown"): Column) {
      case ((l, _), alt) =>
        when(col(s"s_$l") === best && best > 0, l).otherwise(alt)
    }
    val matrix = withScores
      .withColumn("predicted", predicted)
      .groupBy($"lang", $"predicted")
      .agg(count(lit(1)).as("n"))
    val byTrue = matrix.groupBy($"lang").agg(sum($"n").as("n_true"))
    val byPred = matrix.groupBy($"predicted".as("lang"))
      .agg(sum($"n").as("n_pred"))
    val tp = matrix.filter($"lang" === $"predicted")
      .select($"lang", $"n".as("tp"))
    byTrue
      .join(byPred, Seq("lang"), "left")
      .join(tp, Seq("lang"), "left")
      .na.fill(0L, Seq("n_pred", "tp"))
      .withColumn("precision_ppm",
        when($"n_pred" > 0, expr("tp * 1000000 div n_pred")))
      .withColumn("recall_ppm", expr("tp * 1000000 div n_true"))
      .withColumn("f1_ppm", when(
        $"precision_ppm".isNotNull && ($"precision_ppm" + $"recall_ppm") > 0,
        expr("2 * precision_ppm * recall_ppm div (precision_ppm + recall_ppm)")))
      .select($"lang", $"n_true", $"n_pred", $"tp",
        $"precision_ppm", $"recall_ppm", $"f1_ppm")
      .orderBy($"lang")
  }

  // ---------------------------------------------------------------------
  // q185: token co-occurrence mining (association lift)
  // ---------------------------------------------------------------------

  /** Co-occurrence association mining — the market-basket question
    * asked of text ("which tokens travel together beyond chance"):
    * for token pairs co-occurring in a document's DISTINCT token set,
    * the count of co-occurring documents and the LIFT in exact ppm
    * (lift = n_ab·N·10⁶ div (n_a·n_b) — observed co-occurrence over
    * the independence expectation; >10⁶ means genuine association).
    * Top 15 pairs by document count (pair tiebreak). Pair generation
    * is per-document over the distinct token set — bounded by
    * (tokens-per-doc)², never vocab² — and the per-pair aggregate
    * combines map-side; document frequencies ride a |vocab|-row
    * broadcast. */
  val q185Cooccurrence: Q = (spark, dir) => {
    import spark.implicits._
    val docToks = Dedup.fanoutReady(Tables.documents(spark, dir))
      .select($"doc_id",
        array_distinct(filter(split($"text", " "), t => length(t) > 0))
          .as("ts"))
      .cache()
    val nDocs = docToks.count()
    val tokDf = docToks.select(explode($"ts").as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("df"))
    val pairs = docToks
      .select($"doc_id", explode($"ts").as("ta"), $"ts")
      .select($"doc_id", $"ta", explode($"ts").as("tb"))
      .filter($"ta" < $"tb")
      .groupBy($"ta", $"tb").agg(count(lit(1)).as("n_ab"))
    val out = pairs
      .join(broadcast(tokDf.select($"tok".as("ta"), $"df".as("n_a"))),
        Seq("ta"))
      .join(broadcast(tokDf.select($"tok".as("tb"), $"df".as("n_b"))),
        Seq("tb"))
      .withColumn("lift_ppm",
        expr(s"n_ab * ${nDocs}L * 1000000 div (n_a * n_b)"))
      .select($"ta", $"tb", $"n_ab", $"n_a", $"n_b", $"lift_ppm")
      .orderBy($"n_ab".desc, $"ta", $"tb")
      .limit(15)
    val res = OpsUtil.driverLiteral(out)
    docToks.unpersist()
    res
  }

  // ---------------------------------------------------------------------
  // q187: dedup survivor-selection audit
  // ---------------------------------------------------------------------

  /** What the keep-lowest-id dedup policy costs in quality — the audit
    * behind choosing a survivor rule: for every verified near-dup pair
    * (q41's output, composed directly), compare the kept side
    * (min doc_id — the q79 canonical-survivor rule) against the
    * dropped side on the lexical-diversity score. Reports how often
    * the naive keep already retains the better copy and the exact
    * integer quality loss when it does not (mean and max, ppm units —
    * the score's own scale). A high loss says switch to quality-rank
    * survivor selection; near-zero says id-keep is free. One
    * |pairs|-sized join against the |corpus| score relation. */
  val q187SurvivorAudit: Q = (spark, dir) => {
    import spark.implicits._
    val pairs = Dedup.verifiedPairs(spark, dir).select($"doc_a", $"doc_b")
    val scored = Tables.documents(spark, dir)
      .select($"doc_id",
        filter(split($"text", " "), t => length(t) > 0).as("w"))
      .select($"doc_id",
        expr("size(array_distinct(w)) * 1000000 div size(w)").as("score"))
    pairs
      .join(scored.select($"doc_id".as("doc_a"), $"score".as("sa")),
        Seq("doc_a"))
      .join(scored.select($"doc_id".as("doc_b"), $"score".as("sb")),
        Seq("doc_b"))
      .withColumn("loss", greatest(lit(0L), $"sb" - $"sa"))
      .agg(count(lit(1)).as("n_pairs"),
        count(when($"sa" >= $"sb", 1)).as("n_kept_best"),
        sum($"loss").as("sum_loss"),
        max($"loss").as("max_loss_ppm"))
      .withColumn("mean_loss_ppm", expr("sum_loss div n_pairs"))
      .select($"n_pairs", $"n_kept_best", $"mean_loss_ppm", $"max_loss_ppm")
  }

  // ---------------------------------------------------------------------
  // q188: incremental manifest maintenance (state-algebra identity)
  // ---------------------------------------------------------------------

  /** The law that lets a 100 TB corpus manifest update by touching ONLY
    * the new partitions — q126's partial-state-merge contract applied
    * to q147's release manifest: manifest(old) ⊕ manifest(delta) must
    * be indistinguishable from manifest(full recompute), where counts
    * add and the mod-prime checksums add mod p (modular addition
    * commutes with partitioning — the property the ScalaCheck q147
    * property proves in the abstract, here verified cell-by-cell as a
    * QUERY with the equality flags in the hashed output: a regression
    * in either path flips a flag and fails the oracle). Old = doc_id %
    * 3 != 0, delta = the rest; two |cells|-sized aggregates and one
    * cell-keyed full join. */
  val q188ManifestMerge: Q = (spark, dir) => {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", $"lang", $"source",
        conv(substring(md5($"text"), 1, 12), 16, 10).cast("long").as("h"))
    def manifest(df: DataFrame): DataFrame = df
      .groupBy($"lang", $"source")
      .agg(count(lit(1)).as("n"),
        (sum($"h".cast("decimal(38,0)")) % lit(Round9.checksumPrime))
          .cast("long").as("ck"))
    val old = manifest(docs.filter($"doc_id" % 3 =!= 0))
      .select($"lang", $"source", $"n".as("n_o"), $"ck".as("ck_o"))
    val delta = manifest(docs.filter($"doc_id" % 3 === 0))
      .select($"lang", $"source", $"n".as("n_d"), $"ck".as("ck_d"))
    val merged = old.join(delta, Seq("lang", "source"), "full")
      .select($"lang", $"source",
        (coalesce($"n_o", lit(0L)) + coalesce($"n_d", lit(0L))).as("n_m"),
        ((coalesce($"ck_o", lit(0L)) + coalesce($"ck_d", lit(0L)))
          % lit(Round9.checksumPrime)).as("ck_m"))
    val full = manifest(docs)
      .select($"lang", $"source", $"n".as("n_f"), $"ck".as("ck_f"))
    merged.join(full, Seq("lang", "source"), "full")
      .agg(count(lit(1)).as("n_cells"),
        count(when($"n_m" === $"n_f", 1)).as("n_count_match"),
        count(when($"ck_m" === $"ck_f", 1)).as("n_checksum_match"))
      .withColumn("all_match",
        $"n_cells" === $"n_count_match"
          && $"n_cells" === $"n_checksum_match")
      .select($"n_cells", $"n_count_match", $"n_checksum_match",
        $"all_match")
  }

  // ---------------------------------------------------------------------
  // q189: normalization stability of the quality score
  // ---------------------------------------------------------------------

  /** Is the quality score an artifact of surface form? — the robustness
    * audit a filter passes before gating a corpus: re-score every
    * document after canonical normalization (lowercase + whitespace
    * collapse + Unicode NFC via the native
    * [[graft.functions.NfcNormalize]] expression, q157's oracle-twinned
    * normalizer) and report how many documents change score and by how
    * much (exact integer deltas in the score's ppm scale). Whitespace
    * collapse provably cannot move this score (empty tokens are already
    * filtered), so every delta comes from case folding or Unicode
    * composition — a large drift means the filter is case/encoding
    * sensitive and normalization must run BEFORE scoring in the
    * pipeline. One corpus pass, two score expressions, one global
    * aggregate. */
  val q189NormStability: Q = (spark, dir) => {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .withColumn("norm", graft.functions.TextExprs.nfcNormalize(
        regexp_replace(lower($"text"), " +", " ")))
      .select(
        expr("size(array_distinct(filter(split(text, ' '), " +
          "t -> length(t) > 0))) * 1000000 div " +
          "size(filter(split(text, ' '), t -> length(t) > 0))").as("s_raw"),
        expr("size(array_distinct(filter(split(norm, ' '), " +
          "t -> length(t) > 0))) * 1000000 div " +
          "size(filter(split(norm, ' '), t -> length(t) > 0))").as("s_norm"))
      .withColumn("delta", abs($"s_raw" - $"s_norm"))
    docs.agg(count(lit(1)).as("n_docs"),
        count(when($"delta" > 0, 1)).as("n_changed"),
        sum($"delta").as("sum_delta"),
        max($"delta").as("max_delta_ppm"))
      .withColumn("changed_ppm", expr("n_changed * 1000000 div n_docs"))
      .withColumn("mean_delta_ppm", expr("sum_delta div n_docs"))
      .select($"n_docs", $"n_changed", $"changed_ppm",
        $"mean_delta_ppm", $"max_delta_ppm")
  }

  // ---------------------------------------------------------------------
  // q190: near-dup transitivity audit (chain-merge risk)
  // ---------------------------------------------------------------------

  /** Is "near-duplicate" transitive on this corpus? — the question that
    * decides whether q79's connected-components dedup OVER-collapses: CC
    * merges a with c whenever a~b and b~c, even if a and c are NOT
    * near-duplicates, so a long chain can glue unrelated documents into
    * one cluster and delete real content. The audit counts, over q41's
    * verified pair set (composed directly), every 2-chain a~b~c (a<c,
    * via any middle b) and how many close into a~c — closure near 10⁶
    * ppm says CC is safe here; low closure quantifies the over-collapse
    * risk and argues for centroid- or medoid-based cluster splitting.
    * The chain join is bounded by the k-bounded dup degree (pairs per
    * doc), never corpus-sized. */
  val q190TransitivityAudit: Q = (spark, dir) => {
    import spark.implicits._
    val pairs = Dedup.verifiedPairs(spark, dir)
      .select($"doc_a", $"doc_b").cache()
    val undirected = pairs
      .unionByName(pairs.select($"doc_b".as("doc_a"), $"doc_a".as("doc_b")))
    // 2-chains a—b—c with a < c (each unordered chain counted once per
    // distinct middle b)
    val chains = undirected.as("x").join(undirected.as("y"),
        col("x.doc_b") === col("y.doc_a")
          && col("x.doc_a") < col("y.doc_b"))
      .select(col("x.doc_a").as("a"), col("x.doc_b").as("b"),
        col("y.doc_b").as("c"))
    val out = OpsUtil.driverLiteral(chains
      .join(pairs.select($"doc_a".as("a"), $"doc_b".as("c"),
        lit(true).as("closed")), Seq("a", "c"), "left")
      .agg(count(lit(1)).as("n_chains"),
        count(when($"closed", 1)).as("n_closed"))
      .withColumn("closure_ppm", expr(
        "CASE WHEN n_chains > 0 THEN n_closed * 1000000 div n_chains " +
          "ELSE 1000000 END")))
    pairs.unpersist()
    out
  }

  // ---------------------------------------------------------------------
  // q191: language purity (code-switching detection)
  // ---------------------------------------------------------------------

  /** Mixed-language document detection — the doc-level face of q32's
    * classifier: a document's PURITY is the share of its marker-word
    * hits belonging to its own declared language (ppm; docs with zero
    * marker hits are reported separately as unsignaled, not silently
    * pure). Code-switched or mistagged documents score low purity and
    * a multilingual pipeline filters or splits them before training.
    * Same marker vocabulary as q32 (`Text.scala:81`); one corpus pass
    * into a |langs|-sized profile: per language, doc count, unsignaled
    * count, fully-pure count, and mean purity over signaled docs. */
  val q191LanguagePurity: Q = (spark, dir) => {
    import spark.implicits._
    val markers: Seq[(String, Seq[String])] = Seq(
      "en" -> Seq("the", "and", "of", "to", "a", "is", "in"),
      "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
      "fr" -> Seq("le", "la", "les", "et", "est", "un"),
      "es" -> Seq("el", "los", "las", "y", "es", "un"),
      "zh" -> Seq("的", "是", "在", "了", "和"))
    val toks = filter(split(lower($"text"), "\\s+"), t => length(t) > 0)
    val withScores = markers.foldLeft(
      Tables.documents(spark, dir).withColumn("toks", toks)) {
      case (df, (l, words)) =>
        df.withColumn(s"s_$l", size(filter($"toks", t => t.isin(words: _*))))
    }
    val total = markers.map { case (l, _) => col(s"s_$l") }
      .reduce(_ + _)
    val own = markers.foldRight(lit(0): Column) {
      case ((l, _), alt) => when($"lang" === l, col(s"s_$l")).otherwise(alt)
    }
    withScores
      .withColumn("tot", total.cast("long"))
      .withColumn("own", own.cast("long"))
      .withColumn("purity",
        when($"tot" > 0, expr("own * 1000000 div tot")))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        count(when($"tot" === 0, 1)).as("n_unsignaled"),
        count(when($"purity" === 1000000L, 1)).as("n_pure"),
        sum(coalesce($"purity", lit(0L))).as("psum"),
        count(when($"tot" > 0, 1)).as("n_signaled"))
      .withColumn("mean_purity_ppm",
        when($"n_signaled" > 0, expr("psum div n_signaled")))
      .select($"lang", $"n_docs", $"n_unsignaled", $"n_pure",
        $"mean_purity_ppm")
      .orderBy($"lang")
  }

  // ---------------------------------------------------------------------
  // q192: document-length profile (log2 buckets)
  // ---------------------------------------------------------------------

  /** The length distribution that sizes everything downstream — q171's
    * context window, q82's chunking, the Gopher length rules: per
    * language, documents bucketed by the integer log₂ of their token
    * count (`length(bin(toks))` — the q153 pure-function block key,
    * exact integers, no float log), with doc and token mass per
    * bucket. The heavy-tail readout ("what share of TOKENS lives in
    * 2⁶⁺-token docs") is what decides whether long documents get
    * split or truncated. One map-side-combined aggregate over
    * |langs|×|buckets| (≤ ~langs·64) groups. */
  val q192LengthProfile: Q = (spark, dir) => {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select($"lang",
        size(filter(split($"text", " "), t => length(t) > 0)).cast("long")
          .as("toks"))
      .filter($"toks" > 0)
      .withColumn("bucket", length(bin($"toks")).cast("long"))
    val langTot = docs.groupBy($"lang")
      .agg(count(lit(1)).as("ld"), sum($"toks").as("lt"))
    docs.groupBy($"lang", $"bucket")
      .agg(count(lit(1)).as("n_docs"), sum($"toks").as("n_tokens"))
      .join(broadcast(langTot), Seq("lang"))
      .withColumn("doc_ppm", expr("n_docs * 1000000 div ld"))
      .withColumn("token_ppm", expr("n_tokens * 1000000 div lt"))
      .select($"lang", $"bucket", $"n_docs", $"n_tokens",
        $"doc_ppm", $"token_ppm")
      .orderBy($"lang", $"bucket")
  }

  // ---------------------------------------------------------------------
  // q193: duplicate-cluster size distribution
  // ---------------------------------------------------------------------

  /** The size histogram of q79's near-dup clusters — the readout that
    * separates ordinary re-posts (size-2 clusters) from TEMPLATE
    * boilerplate (large clusters: the same page stamped out hundreds
    * of times), which gets a different treatment in curation (capping
    * or outright removal vs keep-one). Composes q79's connected
    * components directly; one |clusters|-sized aggregate on top. At
    * 100 TB this histogram is the first thing a dedup run reports —
    * a fat tail here means the corpus carries template spam. */
  val q193ClusterSizes: Q = (spark, dir) => {
    import spark.implicits._
    Round3.q79DupClusters(spark, dir)
      .groupBy($"cluster_size")
      .agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", $"cluster_size" * $"n_clusters")
      .select($"cluster_size", $"n_clusters", $"n_docs")
      .orderBy($"cluster_size")
  }

  // ---------------------------------------------------------------------
  // q194: duplicate provenance (which sources produce the near-dups)
  // ---------------------------------------------------------------------

  /** Duplicate PROVENANCE — the mixture-tuning face of dedup: for each
    * source, how many of its documents participate in verified
    * near-dup pairs (q41's output, composed), split into INTRA-source
    * pairs (the source repeats itself — template spam) and
    * CROSS-source pairs (syndicated content the mixture already has
    * elsewhere). A source with high dup_ppm and mostly-cross pairs
    * adds little even before quality scoring — the q174 novelty
    * signal, confirmed at the verified-duplicate level. One
    * pairs-sized join against the |corpus| (doc_id, source) relation;
    * per-source rollup. */
  val q194DupProvenance: Q = (spark, dir) => {
    import spark.implicits._
    val src = Tables.documents(spark, dir).select($"doc_id", $"source")
    val pairs = Dedup.verifiedPairs(spark, dir)
      .select($"doc_a", $"doc_b")
      .join(src.select($"doc_id".as("doc_a"), $"source".as("sa")),
        Seq("doc_a"))
      .join(src.select($"doc_id".as("doc_b"), $"source".as("sb")),
        Seq("doc_b"))
      .cache()
    val sides = pairs
      .select($"doc_a".as("doc_id"), $"sa".as("source"),
        ($"sa" === $"sb").as("intra"))
      .unionByName(pairs.select($"doc_b".as("doc_id"), $"sb".as("source"),
        ($"sa" === $"sb").as("intra")))
    val perSource = sides.groupBy($"source")
      .agg(countDistinct($"doc_id").as("n_dup_docs"),
        count(when($"intra", 1)).as("n_intra_sides"),
        count(when(!$"intra", 1)).as("n_cross_sides"))
    val out = OpsUtil.driverLiteral(
      src.groupBy($"source").agg(count(lit(1)).as("n_docs"))
        .join(perSource, Seq("source"), "left")
        .na.fill(0L, Seq("n_dup_docs", "n_intra_sides", "n_cross_sides"))
        .withColumn("dup_ppm", expr("n_dup_docs * 1000000 div n_docs"))
        .select($"source", $"n_docs", $"n_dup_docs", $"dup_ppm",
          $"n_intra_sides", $"n_cross_sides")
        .orderBy($"source"))
    pairs.unpersist()
    out
  }

  // ---------------------------------------------------------------------
  // q195: split difficulty parity (train-vs-eval KS)
  // ---------------------------------------------------------------------

  /** Is the held-out split as hard as the training split? — the eval
    * hygiene check behind every benchmark number: the exact
    * Kolmogorov–Smirnov gap between the TRAIN and EVAL quality-score
    * distributions over the q80 content-hash split (buckets 0–7 vs
    * 8–9), in q155's float-free integer form (no bins, no logs — CDFs
    * from exact integer cumulative counts over distinct score values,
    * a ≤10⁶-row documented narrow window). A content-hash split is
    * distributionally unbiased in EXPECTATION; this measures the
    * realized gap, row 1 being the KS statistic. */
  val q195SplitDifficulty: Q = (spark, dir) => {
    import spark.implicits._
    val scored = Tables.documents(spark, dir)
      .select(
        (conv(substring(md5($"text"), 1, 8), 16, 10).cast("long") % 10)
          .as("bucket"),
        filter(split($"text", " "), t => length(t) > 0).as("w"))
      .select(($"bucket" < 8).as("is_train"),
        expr("size(array_distinct(w)) * 1000000 div size(w)").as("score"))
    val perScore = scored.groupBy($"score")
      .agg(count(when($"is_train", 1)).as("n_tr"),
        count(when(!$"is_train", 1)).as("n_ev"))
    val tot = perScore.agg(sum($"n_tr").as("t_tr"), sum($"n_ev").as("t_ev"))
    val w = org.apache.spark.sql.expressions.Window.orderBy($"score")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    perScore
      .withColumn("cum_tr", sum($"n_tr").over(w))
      .withColumn("cum_ev", sum($"n_ev").over(w))
      .crossJoin(broadcast(tot))
      .withColumn("cdf_tr_ppm", expr("cum_tr * 1000000 div t_tr"))
      .withColumn("cdf_ev_ppm", expr("cum_ev * 1000000 div t_ev"))
      .withColumn("gap_ppm", abs($"cdf_tr_ppm" - $"cdf_ev_ppm"))
      .select($"score", $"cdf_tr_ppm", $"cdf_ev_ppm", $"gap_ppm")
      .orderBy($"gap_ppm".desc, $"score")
      .limit(5)
  }

  // ---------------------------------------------------------------------
  // q196: curation waterfall (token accounting per stage)
  // ---------------------------------------------------------------------

  /** The headline number of a curation run — the WATERFALL: how many
    * tokens survive each successive stage, raw → exact dedup (md5
    * keep-first, the q40 rule) → near-dup removal (drop the higher id
    * of every verified q41 pair — the q79 keep-min survivor rule at
    * pair grain) → quality filter (the q182 length+diversity+word
    * rules). Each stage's doc and token count plus retention ppm
    * against RAW — the chart every curation report opens with, and the
    * composition proof that the stages (each oracle-checked alone)
    * compose into one auditable pipeline. Stage predicates are
    * per-document flags computed in ONE pass over the corpus plus the
    * pairs-sized q41 join; no stage re-scans survivors. */
  val q196CurationWaterfall: Q = (spark, dir) => {
    import spark.implicits._
    val dropB = Dedup.verifiedPairs(spark, dir)
      .select($"doc_b".as("doc_id")).distinct()
      .withColumn("near_dup", lit(true))
    val firstByText = org.apache.spark.sql.expressions.Window
      .partitionBy(md5($"text")).orderBy($"doc_id")
    val flagged = Tables.documents(spark, dir)
      .select($"doc_id", $"n_chars", $"text",
        filter(split($"text", " "), t => length(t) > 0).as("w"))
      .withColumn("toks", size($"w").cast("long"))
      .withColumn("exact_keep", row_number().over(firstByText) === 1)
      .join(dropB, Seq("doc_id"), "left")
      .withColumn("near_keep", $"near_dup".isNull)
      .withColumn("quality_keep",
        $"n_chars" >= 200
          && expr("size(array_distinct(w)) * 1000000 div size(w)") >= 300000L
          && expr("aggregate(w, 0L, (a, x) -> a + length(x)) div size(w)")
            .between(3L, 12L))
      .select($"doc_id", $"toks", $"exact_keep", $"near_keep",
        $"quality_keep")
    val r = flagged.agg(
      count(lit(1)).as("d0"), sum($"toks").as("t0"),
      count(when($"exact_keep", 1)).as("d1"),
      sum(when($"exact_keep", $"toks").otherwise(0L)).as("t1"),
      count(when($"exact_keep" && $"near_keep", 1)).as("d2"),
      sum(when($"exact_keep" && $"near_keep", $"toks").otherwise(0L)).as("t2"),
      count(when($"exact_keep" && $"near_keep" && $"quality_keep", 1)).as("d3"),
      sum(when($"exact_keep" && $"near_keep" && $"quality_keep", $"toks")
        .otherwise(0L)).as("t3")).head()
    val t0 = r.getLong(1)
    Seq(
      ("1_raw", r.getLong(0), r.getLong(1)),
      ("2_exact_dedup", r.getLong(2), r.getLong(3)),
      ("3_near_dedup", r.getLong(4), r.getLong(5)),
      ("4_quality", r.getLong(6), r.getLong(7)))
      .map { case (s, d, t) => (s, d, t, t * 1000000L / t0) }
      .toDF("stage", "n_docs", "n_tokens", "token_retained_ppm")
      .orderBy($"stage")
  }

  val queries: Map[String, Q] = Map(
    "q196_curation_waterfall" -> q196CurationWaterfall,
    "q195_split_difficulty" -> q195SplitDifficulty,
    "q194_dup_provenance" -> q194DupProvenance,
    "q193_cluster_sizes" -> q193ClusterSizes,
    "q192_length_profile" -> q192LengthProfile,
    "q191_language_purity" -> q191LanguagePurity,
    "q190_transitivity_audit" -> q190TransitivityAudit,
    "q189_norm_stability" -> q189NormStability,
    "q188_manifest_merge" -> q188ManifestMerge,
    "q187_survivor_audit" -> q187SurvivorAudit,
    "q185_cooccurrence" -> q185Cooccurrence,
    "q183_classifier_metrics" -> q183ClassifierMetrics,
    "q167_ngram_decontam" -> q167NgramDecontam,
    "q168_epoch_plan" -> q168EpochPlan,
    "q169_split_leakage" -> q169SplitLeakage,
    "q170_kmv_quantiles" -> q170KmvQuantiles,
    "q171_packing_audit" -> q171PackingAudit,
    "q172_boolean_retrieval" -> q172BooleanRetrieval,
    "q173_split_balance" -> q173SplitBalance,
    "q174_source_novelty" -> q174SourceNovelty,
    "q175_snapshot_diff" -> q175SnapshotDiff,
    "q176_score_bias_auc" -> q176ScoreBiasAuc,
    "q177_centroid_drift" -> q177CentroidDrift,
    "q178_source_divergence" -> q178SourceDivergence,
    "q179_fk_integrity" -> q179FkIntegrity,
    "q180_benford" -> q180Benford,
    "q181_novelty_curve" -> q181NoveltyCurve,
    "q182_filter_cascade" -> q182FilterCascade)

  val oracle: Map[String, String] = Map(
    "q167_ngram_decontam" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 10
        |      AS bucket,
        |    list_filter(string_split(text, ' '), x -> length(x) > 0) AS w
        |  FROM documents
        |), g AS (
        |  SELECT DISTINCT doc_id,
        |    CASE WHEN bucket < 8 THEN 'train' ELSE 'eval' END AS split,
        |    array_to_string(w[(u.i + 1):(u.i + 5)], ' ') AS g
        |  FROM base, UNNEST(range(0, len(w) - 4)) u(i)
        |  WHERE len(w) >= 5
        |), tg AS (
        |  SELECT DISTINCT g FROM g WHERE split = 'train'
        |), ev AS (
        |  SELECT g.doc_id, (tg.g IS NOT NULL) AS hit
        |  FROM g LEFT JOIN tg ON g.g = tg.g
        |  WHERE g.split = 'eval'
        |)
        |SELECT doc_id, COUNT(*) AS n_grams,
        |  COUNT(CASE WHEN hit THEN 1 END) AS n_hit,
        |  CAST(COUNT(CASE WHEN hit THEN 1 END) * 1000000 // COUNT(*)
        |    AS BIGINT) AS contam_ppm
        |FROM ev GROUP BY 1
        |ORDER BY contam_ppm DESC, doc_id LIMIT 20""".stripMargin,
    "q168_epoch_plan" ->
      """WITH per AS (
        |  SELECT source,
        |    CAST(SUM(len(list_filter(string_split(text, ' '),
        |      x -> length(x) > 0))) AS BIGINT) AS tokens
        |  FROM documents GROUP BY 1
        |), t AS (
        |  SELECT CAST(SUM(tokens) AS BIGINT) * 3 // 2 AS budget,
        |    COUNT(*) AS s
        |  FROM per
        |), p1 AS (
        |  SELECT source, tokens,
        |    CAST(budget // s AS BIGINT) AS t0,
        |    CAST(budget AS BIGINT) AS b,
        |    4 * tokens AS cap
        |  FROM per, t
        |), p2 AS (
        |  SELECT *, LEAST(t0, cap) AS fst FROM p1
        |), a AS (
        |  SELECT CAST(SUM(fst) AS BIGINT) AS sfirst,
        |    CAST(SUM(cap - fst) AS BIGINT) AS shead
        |  FROM p2
        |)
        |SELECT source, tokens,
        |  CAST(fst + CASE WHEN shead > 0
        |    THEN (b - sfirst) * (cap - fst) // shead ELSE 0 END
        |    AS BIGINT) AS alloc_tokens,
        |  CAST((fst + CASE WHEN shead > 0
        |    THEN (b - sfirst) * (cap - fst) // shead ELSE 0 END)
        |    * 1000000 // tokens AS BIGINT) AS epochs_ppm,
        |  (4 * tokens <= t0) AS capped
        |FROM p2, a ORDER BY source""".stripMargin,
    "q169_split_leakage" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0
        |), s AS (
        |  SELECT md5(text) AS d,
        |    CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 10 AS cb,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |      AS BIGINT) % 10 AS ib
        |  FROM corpus
        |), pol AS (
        |  SELECT 'by_content' AS policy, d,
        |    CASE WHEN cb < 8 THEN 'train' WHEN cb < 9 THEN 'val'
        |      ELSE 'test' END AS split
        |  FROM s
        |  UNION ALL
        |  SELECT 'by_id', d,
        |    CASE WHEN ib < 8 THEN 'train' WHEN ib < 9 THEN 'val'
        |      ELSE 'test' END
        |  FROM s
        |), per AS (
        |  SELECT policy, d, COUNT(DISTINCT split) AS ns, COUNT(*) AS nd
        |  FROM pol GROUP BY 1, 2
        |)
        |SELECT policy, COUNT(*) AS n_digests,
        |  COUNT(CASE WHEN ns > 1 THEN 1 END) AS n_leaked_digests,
        |  CAST(SUM(CASE WHEN ns > 1 THEN nd ELSE 0 END) AS BIGINT)
        |    AS n_docs_leaked,
        |  CAST(COUNT(CASE WHEN ns > 1 THEN 1 END) * 1000000 // COUNT(*)
        |    AS BIGINT) AS leak_ppm
        |FROM per GROUP BY 1 ORDER BY 1""".stripMargin,
    "q170_kmv_quantiles" ->
      """WITH vals AS (
        |  SELECT DISTINCT
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS v
        |  FROM orders
        |), hv AS (
        |  SELECT v, md5(CAST(v AS VARCHAR)) AS h FROM vals
        |), direct AS (
        |  SELECT v FROM hv ORDER BY h, v LIMIT 64
        |), st AS (
        |  SELECT v, h,
        |    row_number() OVER (PARTITION BY v % 16 ORDER BY h, v) AS rn
        |  FROM hv
        |), merged AS (
        |  SELECT v FROM st WHERE rn <= 64 ORDER BY h, v LIMIT 64
        |), ms AS (
        |  SELECT v, row_number() OVER (ORDER BY v) AS rv FROM merged
        |), ex AS (
        |  SELECT v, row_number() OVER (ORDER BY v) AS r FROM vals
        |), nn AS (
        |  SELECT COUNT(*) AS n FROM vals
        |), msn AS (
        |  SELECT COUNT(*) AS m FROM merged
        |), eqf AS (
        |  SELECT ((SELECT COUNT(*) FROM
        |      (SELECT v FROM direct EXCEPT SELECT v FROM merged)) = 0
        |    AND (SELECT COUNT(*) FROM
        |      (SELECT v FROM merged EXCEPT SELECT v FROM direct)) = 0)
        |    AS eq
        |), ranks AS (
        |  SELECT q, GREATEST(1, LEAST((SELECT m FROM msn), 16 * q)) AS kr,
        |    GREATEST(1, (SELECT n FROM nn) * q // 4) AS er
        |  FROM (SELECT UNNEST(range(1, 4)) AS q)
        |)
        |SELECT CAST(r.q AS INT) AS quartile, ms.v AS est_cents,
        |  ex.v AS exact_cents,
        |  CAST(ABS(ms.v - ex.v) * 1000000 // ex.v AS BIGINT) AS err_ppm,
        |  (SELECT eq FROM eqf) AS merged_eq
        |FROM ranks r
        |JOIN ms ON ms.rv = r.kr
        |JOIN ex ON ex.r = r.er
        |ORDER BY quartile""".stripMargin,
    "q171_packing_audit" ->
      """WITH nz AS (
        |  SELECT doc_id, p, toks FROM (
        |    SELECT doc_id, md5(text) AS p,
        |      len(list_filter(string_split(text, ' '),
        |        x -> length(x) > 0)) AS toks
        |    FROM documents)
        |  WHERE toks > 0
        |), c AS (
        |  SELECT toks,
        |    CAST(SUM(toks) OVER (ORDER BY p, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS e
        |  FROM nz
        |), agg AS (
        |  SELECT COUNT(*) AS n_docs,
        |    CAST(SUM(toks) AS BIGINT) AS total_tokens,
        |    COUNT(CASE WHEN (e - toks) // 512 < (e - 1) // 512 THEN 1 END)
        |      AS n_boundary_docs
        |  FROM c
        |)
        |SELECT n_docs, total_tokens,
        |  CAST((total_tokens + 511) // 512 AS BIGINT) AS n_windows,
        |  n_boundary_docs,
        |  CAST(total_tokens * 1000000 //
        |    (((total_tokens + 511) // 512) * 512) AS BIGINT) AS fill_ppm,
        |  CAST(n_boundary_docs * 1000000 // n_docs AS BIGINT)
        |    AS boundary_ppm
        |FROM agg""".stripMargin,
    "q172_boolean_retrieval" ->
      """WITH tok AS (
        |  SELECT doc_id, t.tok
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w
        |        FROM documents),
        |    UNNEST(w) AS t(tok)
        |  WHERE t.tok <> ''
        |), tf AS (
        |  SELECT tok, doc_id, COUNT(*) AS tf FROM tok GROUP BY 1, 2
        |), v AS (
        |  SELECT tok, SUM(tf) AS cnt FROM tf GROUP BY 1
        |), q AS (
        |  SELECT tok, row_number() OVER (ORDER BY cnt DESC, tok) AS r
        |  FROM v
        |)
        |SELECT a.doc_id, a.tf AS tf_a, b.tf AS tf_b,
        |  a.tf + b.tf AS score
        |FROM tf a
        |JOIN tf b ON a.doc_id = b.doc_id
        |JOIN q qa ON a.tok = qa.tok AND qa.r = 5
        |JOIN q qb ON b.tok = qb.tok AND qb.r = 6
        |ORDER BY score DESC, a.doc_id LIMIT 10""".stripMargin,
    "q173_split_balance" ->
      """WITH tagged AS (
        |  SELECT lang,
        |    CASE WHEN b < 8 THEN 'train' WHEN b < 9 THEN 'val'
        |      ELSE 'test' END AS split
        |  FROM (SELECT lang,
        |          CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 10
        |            AS b
        |        FROM documents)
        |), cell AS (
        |  SELECT split, lang, COUNT(*) AS n_docs FROM tagged GROUP BY 1, 2
        |), st AS (
        |  SELECT split, CAST(SUM(n_docs) AS BIGINT) AS split_total
        |  FROM cell GROUP BY 1
        |), lt AS (
        |  SELECT lang, CAST(SUM(n_docs) AS BIGINT) AS lang_total
        |  FROM cell GROUP BY 1
        |), t AS (
        |  SELECT CAST(SUM(n_docs) AS BIGINT) AS tot FROM cell
        |)
        |SELECT c.split, c.lang, c.n_docs,
        |  CAST(c.n_docs * 1000000 // s.split_total AS BIGINT) AS share_ppm,
        |  CAST(l.lang_total * 1000000 // t.tot AS BIGINT) AS corpus_ppm,
        |  CAST(ABS(c.n_docs * 1000000 // s.split_total
        |    - l.lang_total * 1000000 // t.tot) AS BIGINT) AS dev_ppm
        |FROM cell c
        |JOIN st s ON c.split = s.split
        |JOIN lt l ON c.lang = l.lang, t
        |ORDER BY c.split, c.lang""".stripMargin,
    "q174_source_novelty" ->
      """WITH g AS (
        |  SELECT DISTINCT source,
        |    array_to_string(w[(u.i + 1):(u.i + 5)], ' ') AS g
        |  FROM (SELECT source,
        |          list_filter(string_split(text, ' '),
        |            x -> length(x) > 0) AS w
        |        FROM documents),
        |    UNNEST(range(0, len(w) - 4)) u(i)
        |  WHERE len(w) >= 5
        |), df AS (
        |  SELECT g, COUNT(*) AS src_df FROM g GROUP BY 1
        |)
        |SELECT g.source, COUNT(*) AS n_grams,
        |  COUNT(CASE WHEN df.src_df = 1 THEN 1 END) AS n_unique,
        |  CAST(COUNT(CASE WHEN df.src_df = 1 THEN 1 END) * 1000000
        |    // COUNT(*) AS BIGINT) AS unique_ppm
        |FROM g JOIN df ON g.g = df.g
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q175_snapshot_diff" ->
      """WITH d AS (
        |  SELECT doc_id, lang, source,
        |    CAST(('0x' || substr(md5(text), 1, 12)) AS BIGINT) AS h
        |  FROM documents
        |), a AS (
        |  SELECT lang, source, COUNT(*) AS n,
        |    CAST(SUM(h) % 2305843009213693951 AS BIGINT) AS ck
        |  FROM d WHERE doc_id % 3 <> 0 AND source <> 'src0'
        |  GROUP BY 1, 2
        |), b AS (
        |  SELECT lang, source, COUNT(*) AS n,
        |    CAST(SUM(h) % 2305843009213693951 AS BIGINT) AS ck
        |  FROM d GROUP BY 1, 2
        |), j AS (
        |  SELECT COALESCE(a.lang, b.lang) AS lang,
        |    a.n AS n_a, a.ck AS ck_a, b.n AS n_b, b.ck AS ck_b,
        |    CASE WHEN a.n IS NULL THEN 'added'
        |      WHEN b.n IS NULL THEN 'removed'
        |      WHEN a.ck = b.ck AND a.n = b.n THEN 'unchanged'
        |      ELSE 'changed' END AS status
        |  FROM a FULL JOIN b ON a.lang = b.lang AND a.source = b.source
        |)
        |SELECT status, COUNT(*) AS n_cells,
        |  CAST(SUM(COALESCE(n_a, 0)) AS BIGINT) AS docs_a,
        |  CAST(SUM(COALESCE(n_b, 0)) AS BIGINT) AS docs_b,
        |  CAST(SUM(COALESCE(n_b, 0)) - SUM(COALESCE(n_a, 0)) AS BIGINT)
        |    AS delta_docs
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    "q176_score_bias_auc" ->
      """WITH sc AS (
        |  SELECT lang,
        |    CAST(len(list_distinct(w)) * 1000000 // len(w) AS BIGINT)
        |      AS score
        |  FROM (SELECT lang,
        |          list_filter(string_split(text, ' '),
        |            x -> length(x) > 0) AS w
        |        FROM documents)
        |), g AS (
        |  SELECT score,
        |    COUNT(CASE WHEN lang = 'en' THEN 1 END) AS pos_at,
        |    COUNT(CASE WHEN lang <> 'en' THEN 1 END) AS neg_at
        |  FROM sc GROUP BY 1
        |), c AS (
        |  SELECT pos_at, neg_at,
        |    COALESCE(CAST(SUM(neg_at) OVER (ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) AS neg_below
        |  FROM g
        |)
        |SELECT CAST(SUM(pos_at) AS BIGINT) AS n_pos,
        |  CAST(SUM(neg_at) AS BIGINT) AS n_neg,
        |  CAST(SUM(pos_at * neg_below) AS BIGINT) AS wins,
        |  CAST(SUM(pos_at * neg_at) AS BIGINT) AS ties,
        |  CAST((2 * SUM(pos_at * neg_below) + SUM(pos_at * neg_at))
        |    * 1000000 // (2 * SUM(pos_at) * SUM(neg_at)) AS BIGINT)
        |    AS auc_ppm
        |FROM c""".stripMargin,
    "q177_centroid_drift" ->
      """WITH comps AS (
        |  SELECT label, u.i - 1 AS pos, e[u.i] AS v,
        |    CASE WHEN vec_id % 2 = 0 THEN 'ref' ELSE 'cur' END AS batch
        |  FROM (SELECT vec_id, label,
        |          list_transform(embedding,
        |            x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))
        |            AS e
        |        FROM embeddings),
        |    UNNEST(range(1, len(e) + 1)) u(i)
        |), pd AS (
        |  SELECT label, pos, batch,
        |    CAST(floor(CAST(SUM(v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c,
        |    COUNT(*) AS n
        |  FROM comps GROUP BY 1, 2, 3
        |), dim AS (
        |  SELECT label, pos,
        |    MAX(CASE WHEN batch = 'ref' THEN c END) AS cr,
        |    MAX(CASE WHEN batch = 'cur' THEN c END) AS cc,
        |    MAX(CASE WHEN batch = 'ref' THEN n END) AS nr,
        |    MAX(CASE WHEN batch = 'cur' THEN n END) AS nc
        |  FROM pd GROUP BY 1, 2
        |)
        |SELECT label, MAX(nr) AS n_ref, MAX(nc) AS n_cur,
        |  CAST(SUM((cr - cc) * (cr - cc)) AS BIGINT) AS drift_l2sq
        |FROM dim GROUP BY 1 ORDER BY 1""".stripMargin,
    "q178_source_divergence" ->
      """WITH tok AS (
        |  SELECT source, t.tok
        |  FROM (SELECT source, string_split(text, ' ') AS w
        |        FROM documents),
        |    UNNEST(w) AS t(tok)
        |  WHERE t.tok <> ''
        |), cell AS (
        |  SELECT source, tok, COUNT(*) AS n FROM tok GROUP BY 1, 2
        |), st AS (
        |  SELECT source, CAST(SUM(n) AS BIGINT) AS st FROM cell GROUP BY 1
        |), tt AS (
        |  SELECT tok, CAST(SUM(n) AS BIGINT) AS tt FROM cell GROUP BY 1
        |), ct AS (
        |  SELECT CAST(SUM(n) AS BIGINT) AS ct FROM cell
        |), u AS (
        |  SELECT s.source, t.tok, s.st, t.tt, COALESCE(c.n, 0) AS n
        |  FROM st s CROSS JOIN tt t
        |  LEFT JOIN cell c ON c.source = s.source AND c.tok = t.tok
        |)
        |SELECT u.source,
        |  COUNT(CASE WHEN n > 0 THEN 1 END) AS n_tokens,
        |  CAST(SUM(ABS(n * 1000000 // st
        |    - tt * 1000000 // (SELECT ct FROM ct))) AS BIGINT) AS l1_ppm
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin,
    "q179_fk_integrity" ->
      """WITH e AS (
        |  SELECT 'customer->nation' AS edge, COUNT(*) AS n_rows,
        |    COUNT(CASE WHEN n.n_nationkey IS NULL THEN 1 END) AS n_orphans
        |  FROM customer c LEFT JOIN nation n
        |    ON c.c_nationkey = n.n_nationkey
        |  UNION ALL
        |  SELECT 'lineitem->orders', COUNT(*),
        |    COUNT(CASE WHEN o.o_orderkey IS NULL THEN 1 END)
        |  FROM lineitem l LEFT JOIN orders o
        |    ON l.l_orderkey = o.o_orderkey
        |  UNION ALL
        |  SELECT 'nation->region', COUNT(*),
        |    COUNT(CASE WHEN r.r_regionkey IS NULL THEN 1 END)
        |  FROM nation n LEFT JOIN region r
        |    ON n.n_regionkey = r.r_regionkey
        |  UNION ALL
        |  SELECT 'orders->customer', COUNT(*),
        |    COUNT(CASE WHEN c.c_custkey IS NULL THEN 1 END)
        |  FROM orders o LEFT JOIN customer c
        |    ON o.o_custkey = c.c_custkey
        |  UNION ALL
        |  SELECT 'supplier->nation', COUNT(*),
        |    COUNT(CASE WHEN n.n_nationkey IS NULL THEN 1 END)
        |  FROM supplier s LEFT JOIN nation n
        |    ON s.s_nationkey = n.n_nationkey
        |)
        |SELECT edge, n_rows, n_orphans,
        |  CAST(n_orphans * 1000000 // n_rows AS BIGINT) AS orphan_ppm
        |FROM e ORDER BY edge""".stripMargin,
    "q180_benford" ->
      """WITH v AS (
        |  SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
        |    AS BIGINT) AS v
        |  FROM orders
        |), d AS (
        |  SELECT CAST(substr(CAST(v AS VARCHAR), 1, 1) AS INT) AS digit,
        |    COUNT(*) AS n
        |  FROM v GROUP BY 1
        |), t AS (
        |  SELECT CAST(SUM(n) AS BIGINT) AS t FROM d
        |), b(digit, benford_ppm) AS (
        |  VALUES (1, 301029), (2, 176091), (3, 124938), (4, 96910),
        |    (5, 79181), (6, 66946), (7, 57991), (8, 51152), (9, 45757)
        |)
        |SELECT d.digit, d.n,
        |  CAST(d.n * 1000000 // t.t AS BIGINT) AS obs_ppm,
        |  CAST(b.benford_ppm AS BIGINT) AS benford_ppm,
        |  CAST(ABS(d.n * 1000000 // t.t - b.benford_ppm) AS BIGINT)
        |    AS dev_ppm
        |FROM d JOIN b ON d.digit = b.digit, t
        |ORDER BY d.digit""".stripMargin,
    "q181_novelty_curve" ->
      """WITH m AS (
        |  SELECT MAX(doc_id) AS mx FROM documents
        |), g AS (
        |  SELECT DISTINCT
        |    LEAST(9, doc_id * 10 // (SELECT mx + 1 FROM m)) AS slice,
        |    array_to_string(w[(u.i + 1):(u.i + 5)], ' ') AS g
        |  FROM (SELECT doc_id,
        |          list_filter(string_split(text, ' '),
        |            x -> length(x) > 0) AS w
        |        FROM documents),
        |    UNNEST(range(0, len(w) - 4)) u(i)
        |  WHERE len(w) >= 5
        |), fs AS (
        |  SELECT g, MIN(slice) AS fs FROM g GROUP BY 1
        |)
        |SELECT CAST(g.slice AS BIGINT) AS slice, COUNT(*) AS n_grams,
        |  COUNT(CASE WHEN fs.fs = g.slice THEN 1 END) AS n_new,
        |  CAST(COUNT(CASE WHEN fs.fs = g.slice THEN 1 END) * 1000000
        |    // COUNT(*) AS BIGINT) AS new_ppm
        |FROM g JOIN fs ON g.g = fs.g
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q182_filter_cascade" ->
      """WITH f AS (
        |  SELECT (n_chars >= 200) AS f_len,
        |    (len(list_distinct(w)) * 1000000 // len(w) >= 300000)
        |      AS f_div,
        |    (list_reduce(list_transform(w, x -> length(x)),
        |      (a, b) -> a + b) // len(w) BETWEEN 3 AND 12) AS f_word
        |  FROM (SELECT n_chars,
        |          list_filter(string_split(text, ' '),
        |            x -> length(x) > 0) AS w
        |        FROM documents)
        |), a AS (
        |  SELECT COUNT(*) AS n,
        |    COUNT(CASE WHEN f_len THEN 1 END) AS p1,
        |    COUNT(CASE WHEN f_div THEN 1 END) AS p2,
        |    COUNT(CASE WHEN f_word THEN 1 END) AS p3,
        |    COUNT(CASE WHEN f_len AND f_div AND f_word THEN 1 END) AS pj
        |  FROM f
        |)
        |SELECT '1_len_ge_200' AS filter, p1 AS n_pass,
        |  CAST(p1 * 1000000 // n AS BIGINT) AS pass_ppm,
        |  CAST(NULL AS BIGINT) AS indep_ppm
        |FROM a
        |UNION ALL
        |SELECT '2_diversity_ge_0.3', p2,
        |  CAST(p2 * 1000000 // n AS BIGINT), CAST(NULL AS BIGINT) FROM a
        |UNION ALL
        |SELECT '3_word_len_3_12', p3,
        |  CAST(p3 * 1000000 // n AS BIGINT), CAST(NULL AS BIGINT) FROM a
        |UNION ALL
        |SELECT '4_joint', pj, CAST(pj * 1000000 // n AS BIGINT),
        |  CAST((p1 * 1000000 // n) * (p2 * 1000000 // n) // 1000000
        |    * (p3 * 1000000 // n) // 1000000 AS BIGINT)
        |FROM a
        |ORDER BY filter""".stripMargin,
    "q196_curation_waterfall" ->
      s"""WITH q41 AS (
         |${Dedup.oracle("q41_minhash_lsh")}
         |), dropb AS (
         |  SELECT DISTINCT doc_b AS doc_id FROM q41
         |), f AS (
         |  SELECT d.doc_id,
         |    CAST(len(w) AS BIGINT) AS toks,
         |    (row_number() OVER (PARTITION BY md5(text)
         |      ORDER BY d.doc_id) = 1) AS exact_keep,
         |    (dropb.doc_id IS NULL) AS near_keep,
         |    (n_chars >= 200
         |      AND len(list_distinct(w)) * 1000000 // len(w) >= 300000
         |      AND list_reduce(list_transform(w, x -> length(x)),
         |        (a, b) -> a + b) // len(w) BETWEEN 3 AND 12) AS quality_keep
         |  FROM (SELECT doc_id, n_chars, text,
         |          list_filter(string_split(text, ' '),
         |            x -> length(x) > 0) AS w
         |        FROM documents) d
         |  LEFT JOIN dropb ON d.doc_id = dropb.doc_id
         |), a AS (
         |  SELECT COUNT(*) AS d0, CAST(SUM(toks) AS BIGINT) AS t0,
         |    COUNT(CASE WHEN exact_keep THEN 1 END) AS d1,
         |    CAST(SUM(CASE WHEN exact_keep THEN toks ELSE 0 END)
         |      AS BIGINT) AS t1,
         |    COUNT(CASE WHEN exact_keep AND near_keep THEN 1 END) AS d2,
         |    CAST(SUM(CASE WHEN exact_keep AND near_keep THEN toks
         |      ELSE 0 END) AS BIGINT) AS t2,
         |    COUNT(CASE WHEN exact_keep AND near_keep AND quality_keep
         |      THEN 1 END) AS d3,
         |    CAST(SUM(CASE WHEN exact_keep AND near_keep AND quality_keep
         |      THEN toks ELSE 0 END) AS BIGINT) AS t3
         |  FROM f
         |)
         |SELECT '1_raw' AS stage, d0 AS n_docs, t0 AS n_tokens,
         |  CAST(t0 * 1000000 // t0 AS BIGINT) AS token_retained_ppm
         |FROM a
         |UNION ALL
         |SELECT '2_exact_dedup', d1, t1,
         |  CAST(t1 * 1000000 // t0 AS BIGINT) FROM a
         |UNION ALL
         |SELECT '3_near_dedup', d2, t2,
         |  CAST(t2 * 1000000 // t0 AS BIGINT) FROM a
         |UNION ALL
         |SELECT '4_quality', d3, t3,
         |  CAST(t3 * 1000000 // t0 AS BIGINT) FROM a
         |ORDER BY stage""".stripMargin,
    "q195_split_difficulty" ->
      """WITH sc AS (
        |  SELECT
        |    (CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 10 < 8)
        |      AS is_train,
        |    CAST(len(list_distinct(w)) * 1000000 // len(w) AS BIGINT)
        |      AS score
        |  FROM (SELECT text,
        |          list_filter(string_split(text, ' '),
        |            x -> length(x) > 0) AS w
        |        FROM documents)
        |), g AS (
        |  SELECT score,
        |    COUNT(CASE WHEN is_train THEN 1 END) AS n_tr,
        |    COUNT(CASE WHEN NOT is_train THEN 1 END) AS n_ev
        |  FROM sc GROUP BY 1
        |), t AS (
        |  SELECT CAST(SUM(n_tr) AS BIGINT) AS t_tr,
        |    CAST(SUM(n_ev) AS BIGINT) AS t_ev
        |  FROM g
        |), c AS (
        |  SELECT score,
        |    CAST(SUM(n_tr) OVER (ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum_tr,
        |    CAST(SUM(n_ev) OVER (ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum_ev
        |  FROM g
        |)
        |SELECT score,
        |  CAST(cum_tr * 1000000 // t.t_tr AS BIGINT) AS cdf_tr_ppm,
        |  CAST(cum_ev * 1000000 // t.t_ev AS BIGINT) AS cdf_ev_ppm,
        |  CAST(ABS(cum_tr * 1000000 // t.t_tr
        |    - cum_ev * 1000000 // t.t_ev) AS BIGINT) AS gap_ppm
        |FROM c, t
        |ORDER BY gap_ppm DESC, score LIMIT 5""".stripMargin,
    "q194_dup_provenance" ->
      s"""WITH q41 AS (
         |${Dedup.oracle("q41_minhash_lsh")}
         |), p AS (
         |  SELECT q41.doc_a, q41.doc_b, a.source AS sa, b.source AS sb
         |  FROM q41
         |  JOIN documents a ON q41.doc_a = a.doc_id
         |  JOIN documents b ON q41.doc_b = b.doc_id
         |), sides AS (
         |  SELECT doc_a AS doc_id, sa AS source, (sa = sb) AS intra FROM p
         |  UNION ALL
         |  SELECT doc_b, sb, (sa = sb) FROM p
         |), per AS (
         |  SELECT source, COUNT(DISTINCT doc_id) AS n_dup_docs,
         |    COUNT(CASE WHEN intra THEN 1 END) AS n_intra_sides,
         |    COUNT(CASE WHEN NOT intra THEN 1 END) AS n_cross_sides
         |  FROM sides GROUP BY 1
         |), tot AS (
         |  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1
         |)
         |SELECT t.source, t.n_docs,
         |  COALESCE(per.n_dup_docs, 0) AS n_dup_docs,
         |  CAST(COALESCE(per.n_dup_docs, 0) * 1000000 // t.n_docs
         |    AS BIGINT) AS dup_ppm,
         |  COALESCE(per.n_intra_sides, 0) AS n_intra_sides,
         |  COALESCE(per.n_cross_sides, 0) AS n_cross_sides
         |FROM tot t LEFT JOIN per ON t.source = per.source
         |ORDER BY t.source""".stripMargin,
    "q193_cluster_sizes" ->
      s"""WITH RECURSIVE q41 AS (
         |${Dedup.oracle("q41_minhash_lsh")}
         |), edges AS (
         |  SELECT doc_a, doc_b FROM q41
         |  UNION
         |  SELECT doc_b AS doc_a, doc_a AS doc_b FROM q41
         |), reach(v, label) AS (
         |  SELECT doc_a AS v, doc_a AS label FROM edges
         |  UNION
         |  SELECT e.doc_a AS v, r.label FROM edges e
         |  JOIN reach r ON e.doc_b = r.v
         |), comp AS (
         |  SELECT v, MIN(label) AS label FROM reach GROUP BY v
         |), clusters AS (
         |  SELECT label, COUNT(*) AS cluster_size FROM comp GROUP BY 1
         |)
         |SELECT cluster_size, COUNT(*) AS n_clusters,
         |  CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
         |FROM clusters GROUP BY 1 ORDER BY 1""".stripMargin,
    "q192_length_profile" ->
      """WITH d AS (
        |  SELECT lang,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      x -> length(x) > 0)) AS BIGINT) AS toks
        |  FROM documents
        |), nz AS (
        |  SELECT lang, toks, CAST(length(bin(toks)) AS BIGINT) AS bucket
        |  FROM d WHERE toks > 0
        |), lt AS (
        |  SELECT lang, COUNT(*) AS ld, CAST(SUM(toks) AS BIGINT) AS lt
        |  FROM nz GROUP BY 1
        |)
        |SELECT nz.lang, bucket, COUNT(*) AS n_docs,
        |  CAST(SUM(toks) AS BIGINT) AS n_tokens,
        |  CAST(COUNT(*) * 1000000 // MAX(lt.ld) AS BIGINT) AS doc_ppm,
        |  CAST(SUM(toks) * 1000000 // MAX(lt.lt) AS BIGINT) AS token_ppm
        |FROM nz JOIN lt ON nz.lang = lt.lang
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q191_language_purity" ->
      s"""WITH scored AS (
         |  SELECT lang,
         |    length(list_filter(toks, t -> t IN ('the','and','of','to','a','is','in'))) AS s_en,
         |    length(list_filter(toks, t -> t IN ('der','die','das','und','ist','ein'))) AS s_de,
         |    length(list_filter(toks, t -> t IN ('le','la','les','et','est','un'))) AS s_fr,
         |    length(list_filter(toks, t -> t IN ('el','los','las','y','es','un'))) AS s_es,
         |    length(list_filter(toks, t -> t IN ('的','是','在','了','和'))) AS s_zh
         |  FROM (SELECT lang, list_filter(string_split_regex(lower(text), '\\s+'),
         |          t -> length(t) > 0) AS toks FROM documents)
         |), p AS (
         |  SELECT lang,
         |    s_en + s_de + s_fr + s_es + s_zh AS tot,
         |    CASE lang WHEN 'en' THEN s_en WHEN 'de' THEN s_de
         |      WHEN 'fr' THEN s_fr WHEN 'es' THEN s_es
         |      WHEN 'zh' THEN s_zh ELSE 0 END AS own
         |  FROM scored
         |), q AS (
         |  SELECT lang, tot,
         |    CASE WHEN tot > 0
         |      THEN CAST(own * 1000000 // tot AS BIGINT) END AS purity
         |  FROM p
         |)
         |SELECT lang, COUNT(*) AS n_docs,
         |  COUNT(CASE WHEN tot = 0 THEN 1 END) AS n_unsignaled,
         |  COUNT(CASE WHEN purity = 1000000 THEN 1 END) AS n_pure,
         |  CASE WHEN COUNT(CASE WHEN tot > 0 THEN 1 END) > 0
         |    THEN CAST(SUM(COALESCE(purity, 0))
         |      // COUNT(CASE WHEN tot > 0 THEN 1 END) AS BIGINT) END
         |    AS mean_purity_ppm
         |FROM q GROUP BY 1 ORDER BY 1""".stripMargin,
    "q190_transitivity_audit" ->
      s"""WITH q41 AS (
         |${Dedup.oracle("q41_minhash_lsh")}
         |), und AS (
         |  SELECT doc_a, doc_b FROM q41
         |  UNION ALL
         |  SELECT doc_b, doc_a FROM q41
         |), chains AS (
         |  SELECT x.doc_a AS a, x.doc_b AS b, y.doc_b AS c
         |  FROM und x JOIN und y
         |    ON x.doc_b = y.doc_a AND x.doc_a < y.doc_b
         |), j AS (
         |  SELECT chains.a, chains.c,
         |    (q41.doc_a IS NOT NULL) AS closed
         |  FROM chains
         |  LEFT JOIN q41 ON chains.a = q41.doc_a AND chains.c = q41.doc_b
         |)
         |SELECT COUNT(*) AS n_chains,
         |  COUNT(CASE WHEN closed THEN 1 END) AS n_closed,
         |  CAST(CASE WHEN COUNT(*) > 0
         |    THEN COUNT(CASE WHEN closed THEN 1 END) * 1000000 // COUNT(*)
         |    ELSE 1000000 END AS BIGINT) AS closure_ppm
         |FROM j""".stripMargin,
    "q189_norm_stability" ->
      """WITH s AS (
        |  SELECT
        |    CAST(len(list_distinct(wr)) * 1000000 // len(wr) AS BIGINT)
        |      AS s_raw,
        |    CAST(len(list_distinct(wn)) * 1000000 // len(wn) AS BIGINT)
        |      AS s_norm
        |  FROM (
        |    SELECT
        |      list_filter(string_split(text, ' '),
        |        x -> length(x) > 0) AS wr,
        |      list_filter(string_split(
        |        nfc_normalize(regexp_replace(lower(text), ' +', ' ', 'g')),
        |        ' '), x -> length(x) > 0) AS wn
        |    FROM documents)
        |), d AS (
        |  SELECT ABS(s_raw - s_norm) AS delta FROM s
        |)
        |SELECT COUNT(*) AS n_docs,
        |  COUNT(CASE WHEN delta > 0 THEN 1 END) AS n_changed,
        |  CAST(COUNT(CASE WHEN delta > 0 THEN 1 END) * 1000000
        |    // COUNT(*) AS BIGINT) AS changed_ppm,
        |  CAST(SUM(delta) // COUNT(*) AS BIGINT) AS mean_delta_ppm,
        |  CAST(MAX(delta) AS BIGINT) AS max_delta_ppm
        |FROM d""".stripMargin,
    "q188_manifest_merge" ->
      """WITH d AS (
        |  SELECT doc_id, lang, source,
        |    CAST(('0x' || substr(md5(text), 1, 12)) AS BIGINT) AS h
        |  FROM documents
        |), o AS (
        |  SELECT lang, source, COUNT(*) AS n_o,
        |    CAST(SUM(h) % 2305843009213693951 AS BIGINT) AS ck_o
        |  FROM d WHERE doc_id % 3 <> 0 GROUP BY 1, 2
        |), de AS (
        |  SELECT lang, source, COUNT(*) AS n_d,
        |    CAST(SUM(h) % 2305843009213693951 AS BIGINT) AS ck_d
        |  FROM d WHERE doc_id % 3 = 0 GROUP BY 1, 2
        |), m AS (
        |  SELECT COALESCE(o.lang, de.lang) AS lang,
        |    COALESCE(o.source, de.source) AS source,
        |    COALESCE(n_o, 0) + COALESCE(n_d, 0) AS n_m,
        |    (COALESCE(ck_o, 0) + COALESCE(ck_d, 0))
        |      % 2305843009213693951 AS ck_m
        |  FROM o FULL JOIN de ON o.lang = de.lang AND o.source = de.source
        |), f AS (
        |  SELECT lang, source, COUNT(*) AS n_f,
        |    CAST(SUM(h) % 2305843009213693951 AS BIGINT) AS ck_f
        |  FROM d GROUP BY 1, 2
        |), j AS (
        |  SELECT n_m, ck_m, n_f, ck_f
        |  FROM m FULL JOIN f ON m.lang = f.lang AND m.source = f.source
        |)
        |SELECT COUNT(*) AS n_cells,
        |  COUNT(CASE WHEN n_m = n_f THEN 1 END) AS n_count_match,
        |  COUNT(CASE WHEN ck_m = ck_f THEN 1 END) AS n_checksum_match,
        |  (COUNT(*) = COUNT(CASE WHEN n_m = n_f THEN 1 END)
        |   AND COUNT(*) = COUNT(CASE WHEN ck_m = ck_f THEN 1 END))
        |    AS all_match
        |FROM j""".stripMargin,
    "q187_survivor_audit" ->
      s"""WITH q41 AS (
         |${Dedup.oracle("q41_minhash_lsh")}
         |), sc AS (
         |  SELECT doc_id,
         |    CAST(len(list_distinct(w)) * 1000000 // len(w) AS BIGINT)
         |      AS score
         |  FROM (SELECT doc_id,
         |          list_filter(string_split(text, ' '),
         |            x -> length(x) > 0) AS w
         |        FROM documents)
         |), j AS (
         |  SELECT sa.score AS sa, sb.score AS sb,
         |    GREATEST(0, sb.score - sa.score) AS loss
         |  FROM q41
         |  JOIN sc sa ON q41.doc_a = sa.doc_id
         |  JOIN sc sb ON q41.doc_b = sb.doc_id
         |)
         |SELECT COUNT(*) AS n_pairs,
         |  COUNT(CASE WHEN sa >= sb THEN 1 END) AS n_kept_best,
         |  CAST(SUM(loss) // COUNT(*) AS BIGINT) AS mean_loss_ppm,
         |  CAST(MAX(loss) AS BIGINT) AS max_loss_ppm
         |FROM j""".stripMargin,
    "q185_cooccurrence" ->
      """WITH dt AS (
        |  SELECT doc_id,
        |    list_distinct(list_filter(string_split(text, ' '),
        |      x -> length(x) > 0)) AS ts
        |  FROM documents
        |), n AS (
        |  SELECT COUNT(*) AS n FROM dt
        |), df AS (
        |  SELECT t.tok, COUNT(*) AS df FROM dt, UNNEST(ts) AS t(tok)
        |  GROUP BY 1
        |), p AS (
        |  SELECT a.ta, b.tb, COUNT(*) AS n_ab
        |  FROM (SELECT doc_id, t.tok AS ta FROM dt, UNNEST(ts) AS t(tok)) a
        |  JOIN (SELECT doc_id, t.tok AS tb FROM dt, UNNEST(ts) AS t(tok)) b
        |    ON a.doc_id = b.doc_id AND a.ta < b.tb
        |  GROUP BY 1, 2
        |)
        |SELECT p.ta, p.tb, p.n_ab, da.df AS n_a, db.df AS n_b,
        |  CAST(p.n_ab * (SELECT n FROM n) * 1000000
        |    // (da.df * db.df) AS BIGINT) AS lift_ppm
        |FROM p
        |JOIN df da ON p.ta = da.tok
        |JOIN df db ON p.tb = db.tok
        |ORDER BY n_ab DESC, ta, tb LIMIT 15""".stripMargin,
    "q183_classifier_metrics" ->
      s"""WITH scored AS (
         |  SELECT lang,
         |    length(list_filter(toks, t -> t IN ('the','and','of','to','a','is','in'))) AS s_en,
         |    length(list_filter(toks, t -> t IN ('der','die','das','und','ist','ein'))) AS s_de,
         |    length(list_filter(toks, t -> t IN ('le','la','les','et','est','un'))) AS s_fr,
         |    length(list_filter(toks, t -> t IN ('el','los','las','y','es','un'))) AS s_es,
         |    length(list_filter(toks, t -> t IN ('的','是','在','了','和'))) AS s_zh
         |  FROM (SELECT lang, list_filter(string_split_regex(lower(text), '\\s+'),
         |          t -> length(t) > 0) AS toks FROM documents)
         |), pred AS (
         |  SELECT lang,
         |    CASE
         |      WHEN s_en = greatest(s_en,s_de,s_fr,s_es,s_zh) AND greatest(s_en,s_de,s_fr,s_es,s_zh) > 0 THEN 'en'
         |      WHEN s_de = greatest(s_en,s_de,s_fr,s_es,s_zh) AND greatest(s_en,s_de,s_fr,s_es,s_zh) > 0 THEN 'de'
         |      WHEN s_fr = greatest(s_en,s_de,s_fr,s_es,s_zh) AND greatest(s_en,s_de,s_fr,s_es,s_zh) > 0 THEN 'fr'
         |      WHEN s_es = greatest(s_en,s_de,s_fr,s_es,s_zh) AND greatest(s_en,s_de,s_fr,s_es,s_zh) > 0 THEN 'es'
         |      WHEN s_zh = greatest(s_en,s_de,s_fr,s_es,s_zh) AND greatest(s_en,s_de,s_fr,s_es,s_zh) > 0 THEN 'zh'
         |      ELSE 'unknown' END AS predicted
         |  FROM scored
         |), m AS (
         |  SELECT lang, predicted, COUNT(*) AS n FROM pred GROUP BY 1, 2
         |), bt AS (
         |  SELECT lang, CAST(SUM(n) AS BIGINT) AS n_true FROM m GROUP BY 1
         |), bp AS (
         |  SELECT predicted AS lang, CAST(SUM(n) AS BIGINT) AS n_pred
         |  FROM m GROUP BY 1
         |), tp AS (
         |  SELECT lang, CAST(n AS BIGINT) AS tp FROM m WHERE lang = predicted
         |), j AS (
         |  SELECT bt.lang, bt.n_true,
         |    COALESCE(bp.n_pred, 0) AS n_pred, COALESCE(tp.tp, 0) AS tp
         |  FROM bt
         |  LEFT JOIN bp ON bt.lang = bp.lang
         |  LEFT JOIN tp ON bt.lang = tp.lang
         |), k AS (
         |  SELECT lang, n_true, n_pred, tp,
         |    CASE WHEN n_pred > 0
         |      THEN CAST(tp * 1000000 // n_pred AS BIGINT) END
         |      AS precision_ppm,
         |    CAST(tp * 1000000 // n_true AS BIGINT) AS recall_ppm
         |  FROM j
         |)
         |SELECT lang, n_true, n_pred, tp, precision_ppm, recall_ppm,
         |  CASE WHEN precision_ppm IS NOT NULL
         |      AND precision_ppm + recall_ppm > 0
         |    THEN CAST(2 * precision_ppm * recall_ppm
         |      // (precision_ppm + recall_ppm) AS BIGINT) END AS f1_ppm
         |FROM k ORDER BY lang""".stripMargin)
}
