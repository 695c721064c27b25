package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-11 operators: corpus-hygiene and robust-statistics audits a
  * 100 TB curation deployment runs continuously — canonicalization
  * sensitivity of exact dedup, edit-distance verification of LSH
  * candidates, and robust (median/MAD) outlier detection without a
  * global sort.
  *
  * Capability correspondence only — the reference
  * (/root/reference/Assignment-python.py) has no engine code; these are
  * the operations its pipeline would need at scale, in idiomatic Spark
  * relational shapes.
  */
object Round11 {
  type Q = (org.apache.spark.sql.SparkSession, String) => DataFrame

  // ---------------------------------------------------------------------
  // q197: canonicalization sensitivity of exact dedup
  // ---------------------------------------------------------------------

  /** How many duplicates does raw byte-hash dedup MISS that text
    * canonicalization (NFC → lowercase → space-collapse → trim) would
    * catch? The operational question behind every exact-dedup config:
    * crawled corpora carry case/whitespace jitter, so the same page
    * hashes differently run to run. The corpus here is already clean
    * (lowercase, single-spaced ASCII), so — the q89 precedent —
    * deterministic jitter is injected first (doc_id%3 → uppercased,
    * doc_id%5 → padded with extra spaces), reproducibly in the oracle.
    * Canonical keys then re-merge what the jitter split AND what the
    * corpus's real duplicate groups already shared.
    *
    * The NFC step is the repo's codegen [[graft.functions.NfcNormalize]]
    * expression (q157's audit subject) — identity on this ASCII corpus
    * but load-bearing on real crawl data, and exercised here inside a
    * whole-stage-codegen pipeline, not a udf. Space collapse uses the
    * literal `' +'` class, not `\s+`, so Java regex and RE2 agree (the
    * q55 lesson). Scale shape: pure per-row scalar work into two
    * map-side-combined COUNT DISTINCTs — one scan, one 1-row result. */
  val q197CanonicalDedup: Q = (spark, dir) => {
    import spark.implicits._
    val base = when($"doc_id" % 3 === 0, upper($"text")).otherwise($"text")
    val t = when($"doc_id" % 5 === 0, concat(lit("  "), base, lit(" ")))
      .otherwise(base)
    val canon = trim(regexp_replace(
      lower(graft.functions.TextExprs.nfcNormalize(t)), " +", " "))
    Tables.documents(spark, dir)
      .select(md5(t).as("rk"), md5(canon).as("ck"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct($"rk").as("raw_unique"),
        countDistinct($"ck").as("canon_unique"))
      .select($"n_docs", $"raw_unique",
        ($"n_docs" - $"raw_unique").as("raw_dup_docs"),
        expr("(n_docs - raw_unique) * 1000000 div n_docs")
          .as("raw_dup_ppm"),
        $"canon_unique",
        ($"n_docs" - $"canon_unique").as("canon_dup_docs"),
        expr("(n_docs - canon_unique) * 1000000 div n_docs")
          .as("canon_dup_ppm"),
        ($"raw_unique" - $"canon_unique").as("canon_extra_docs"))
  }

  // ---------------------------------------------------------------------
  // q198: edit-distance verification of LSH candidate pairs
  // ---------------------------------------------------------------------

  /** Character-level verification of the q41 MinHash candidates — the
    * second stage every production near-dedup runs: LSH proposes,
    * an exact string metric disposes. Each candidate pair is scored by
    * Levenshtein distance over a BOUNDED 120-char prefix (the cost cap
    * that makes O(len²) DP affordable at corpus scale: verification
    * work is |candidates|·120², independent of document length), and
    * pairs at ≤30% normalized distance are confirmed as textual — not
    * just shingle-set — duplicates.
    *
    * Scale shape: candidate generation is q41's banded LSH (no all-pairs
    * anywhere); this stage is two hash joins to fetch prefixes plus a
    * per-pair scalar DP — the cheap tail of the pipeline. Both engines
    * implement standard Levenshtein, so the scores are integer-exact. */
  val q198EditdistVerify: Q = (spark, dir) => {
    import spark.implicits._
    val pre = Tables.documents(spark, dir)
      .select($"doc_id", substring($"text", 1, 120).as("p"))
    Dedup.verifiedPairs(spark, dir)
      .select($"doc_a", $"doc_b")
      .join(pre.select($"doc_id".as("doc_a"), $"p".as("pa")), Seq("doc_a"))
      .join(pre.select($"doc_id".as("doc_b"), $"p".as("pb")), Seq("doc_b"))
      .select($"doc_a", $"doc_b",
        levenshtein($"pa", $"pb").cast("long").as("lev"),
        greatest(length($"pa"), length($"pb")).cast("long").as("mx"))
      .withColumn("ed_ppm", expr("lev * 1000000 div mx"))
      .filter($"ed_ppm" <= 300000)
      .select($"doc_a", $"doc_b", $"lev", $"ed_ppm")
      .orderBy($"ed_ppm", $"doc_a", $"doc_b")
      .limit(20)
  }

  // ---------------------------------------------------------------------
  // q199: robust outlier detection (median/MAD) per language
  // ---------------------------------------------------------------------

  /** Per-language length outliers by the robust rule |x − med| > 3·MAD
    * (median absolute deviation) — the filter that survives heavy-tailed
    * corpora where mean/stddev rules drown in the tail they should
    * flag. Both order statistics are EXACT low-medians (rank
    * `(n+1) div 2`), computed WITHOUT a per-language global sort:
    * languages are few and huge at corpus scale, so an
    * `over (partition by lang order by x)` window would funnel each
    * language through one task. Instead [[lowMedianByKey]] runs the
    * repo's two-level block rank per key — rank inside (lang, block)
    * under a keyed window, block offsets from a window over the tiny
    * (lang, block) summary — twice: once for the median, once for the
    * MAD of deviations. Every number is integer, bit-stable on both
    * engines. */
  val q199MadOutliers: Q = (spark, dir) => {
    import spark.implicits._
    val x = Tables.documents(spark, dir)
      .select($"lang", $"doc_id", $"n_chars".as("x"))
    val med = lowMedianByKey(x, "lang", "x", "doc_id")
      .withColumnRenamed("med", "med_chars")
    val dev = x.join(broadcast(med), Seq("lang"))
      .withColumn("dev", abs($"x" - $"med_chars"))
    val mad = lowMedianByKey(
      dev.select($"lang", $"doc_id", $"dev".as("x")), "lang", "x", "doc_id")
      .withColumnRenamed("med", "mad_chars")
    dev.join(broadcast(mad), Seq("lang"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        first($"med_chars").as("med_chars"),
        first($"mad_chars").as("mad_chars"),
        count(when($"dev" > lit(3) * $"mad_chars", 1)).as("n_outliers"))
      .withColumn("out_ppm", expr("n_outliers * 1000000 div n_docs"))
      .orderBy($"lang")
  }

  /** Exact per-key low median (value at ascending rank `(n+1) div 2`)
    * via the two-level block rank — no unpartitioned window, no
    * per-key global sort. `df` must have columns (key, v, tie) with v a
    * non-negative long; blocks are `v div 64`, a pure monotone function
    * of the sort key, so ties cannot cross blocks and per-block
    * row_numbers + block-offset sums reproduce the global per-key rank
    * exactly. The offset/total window runs over the (key, block)
    * SUMMARY — |keys|·|blocks| rows, thousands at most — while the
    * corpus-sized rank stays under a (key, block)-keyed window. */
  private[graft] def lowMedianByKey(
      df: DataFrame, key: String, v: String, tie: String): DataFrame = {
    // `div` is integer division — exact for ANY long. Double division
    // (`/` then cast) is only exact below 2^53, and a silently wrong
    // block id would corrupt the exact-median guarantee if this helper
    // were reused on larger longs than n_chars.
    val wb = df.withColumn("blk", expr(s"`$v` div 64"))
    val bc = wb.groupBy(col(key), col("blk")).agg(count(lit(1)).as("bc"))
    val wOff = Window.partitionBy(col(key)).orderBy(col("blk"))
    val offs = bc
      .withColumn("boff",
        coalesce(sum(col("bc")).over(
          wOff.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n", sum(col("bc")).over(Window.partitionBy(col(key))))
      .select(col(key), col("blk"), col("boff"), col("n"))
    wb.join(broadcast(offs), Seq(key, "blk"))
      .withColumn("rk", col("boff") + row_number().over(
        Window.partitionBy(col(key), col("blk"))
          .orderBy(col(v), col(tie))))
      .filter(col("rk") === expr("(n + 1) div 2"))
      .select(col(key), col(v).as("med"))
  }

  // ---------------------------------------------------------------------
  // q200: Gini concentration of the token frequency distribution
  // ---------------------------------------------------------------------

  /** How concentrated is the corpus's token mass — the single number
    * behind "a few types dominate the stream" (tokenizer sizing, cache
    * design, heavy-hitter budgets): the exact Gini coefficient of the
    * type frequency distribution, G = (2·Σrk·f − (n+1)·Σf) / (n·Σf)
    * over types ranked ascending by frequency, emitted in ppm with pure
    * integer arithmetic. Position ties among equal frequencies cannot
    * change Σrk·f (equal values commute), so the number is engine- and
    * order-independent.
    *
    * Scale shape: the corpus collapses map-side to the type-frequency
    * table; the global ascending rank is the q153/q162 two-level form —
    * block by `length(bin(f))` (integer log₂, a pure monotone function
    * of the sort key: equal f can never cross blocks), rank under a
    * (block)-keyed window, add the ≤64 driver-collected block offsets.
    * No unpartitioned window anywhere. The ppm multiply happens AFTER
    * the ≤n·Σf-bounded numerator subtraction, so every intermediate
    * fits int64 at these SFs (production would ride DECIMAL(38,0) — the
    * q147 precedent). */
  val q200TokenGini: Q = (spark, dir) => {
    import spark.implicits._
    val freq = Dedup.fanoutReady(Tables.documents(spark, dir))
      .select(explode(filter(split($"text", " "), t => length(t) > 0))
        .as("t"))
      .groupBy($"t").agg(count(lit(1)).as("f"))
      .withColumn("blk", length(bin($"f")))
      .cache()
    val blkCounts = freq.groupBy($"blk").agg(count(lit(1)).as("bc"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val offsets = blkCounts.map(_._1)
      .zip(blkCounts.map(_._2).scanLeft(0L)(_ + _)).toSeq
    val ranked = freq
      .join(broadcast(offsets.toDF("blk", "boff")), Seq("blk"))
      .withColumn("rk", $"boff" + row_number().over(
        Window.partitionBy($"blk").orderBy($"f", $"t")))
    val out = OpsUtil.driverLiteral(ranked
      .agg(count(lit(1)).as("n_types"),
        sum($"f").as("total_tokens"),
        sum($"rk" * $"f").as("s"))
      .select($"n_types", $"total_tokens",
        expr("""(2 * s - (n_types + 1) * total_tokens) * 1000000
                div (n_types * total_tokens)""").as("gini_ppm")))
    freq.unpersist()
    out
  }

  // ---------------------------------------------------------------------
  // q201: rendezvous (HRW) sharding stability audit
  // ---------------------------------------------------------------------

  /** Rendezvous (highest-random-weight) sharding — how a 100 TB ingest
    * assigns documents to a mutable shard set with MINIMAL movement on
    * resize: each doc goes to the shard s maximizing h(doc, s), and
    * adding shard 16 moves exactly the docs whose new hash beats their
    * old champion — 1/17 of the corpus in expectation, vs ~16/17 for
    * mod-N sharding. The query measures that: per shard, occupancy
    * under S=16 and how many docs shard 17 steals (`moved_ppm` ≈
    * 58824 ppm = 1/17). Ties break to the smallest shard id via
    * first-occurrence argmax, identically in both engines.
    *
    * Scale shape: a pure per-row scalar (17 md5s per doc) followed by
    * one 16-row rollup — no shuffle wider than the final groupBy. The
    * 17 hashes are UNROLLED as plain literal-shard columns inside an
    * `array(...)` — not a `transform()` lambda, which would evaluate
    * interpreted per element (the HOF pitfall this codebase documents
    * at q41/Round9), so the whole scalar stage stays in whole-stage
    * codegen. This is the q80 hash-split story upgraded to elastic
    * shard counts. */
  val q201HrwShards: Q = (spark, dir) => {
    import spark.implicits._
    def shardHash(s: Int): Column =
      conv(substring(md5(concat($"doc_id".cast("string"), lit(":"),
        lit(s.toString))), 1, 8), 16, 10).cast("long")
    val hs = array((0 to 16).map(shardHash): _*)
    val first16 = slice(hs, 1, 16)
    Tables.documents(spark, dir)
      .select($"doc_id", first16.as("h16"), element_at(hs, 17).as("h17"))
      .select(
        (array_position($"h16", array_max($"h16")) - 1).cast("int")
          .as("shard"),
        ($"h17" > array_max($"h16")).as("moved"))
      .groupBy($"shard")
      .agg(count(lit(1)).as("n_docs"),
        count(when($"moved", 1)).as("n_moved"))
      .withColumn("moved_ppm", expr("n_moved * 1000000 div n_docs"))
      .orderBy($"shard")
  }

  // ---------------------------------------------------------------------
  // q202: deterministic Poisson-bootstrap confidence intervals
  // ---------------------------------------------------------------------

  /** Per-source bootstrap CI for mean document length WITHOUT
    * resampling rows — the Poisson bootstrap, the only bootstrap that
    * works on a sharded 100 TB corpus: replicate b weights each doc by
    * an independent Poisson(1) draw, here DERANDOMIZED via
    * `md5(doc_id#b)` mapped through the fixed Poisson(1) inverse-CDF
    * ppm table (constants hard-coded identically in the oracle, so
    * both engines produce bit-equal replicates — the q85 content-hash
    * sampling principle applied to resampling). 64 replicates; the CI
    * is the 2nd/63rd order statistic of the replicate means (exact
    * integer division), alongside the exact full-sample mean.
    *
    * Scale shape: one corpus scan fanned out ×64 (rebalanced first —
    * the q166-audited explode rule), collapsed map-side to
    * |sources|×64 partial sums; the order-statistic window runs per
    * source over exactly 64 rows. Nothing corpus-sized ever sorts or
    * re-shuffles. */
  val q202BootstrapCi: Q = (spark, dir) => {
    import spark.implicits._
    val u = conv(substring(md5(concat($"doc_id".cast("string"), lit("#"),
      $"b".cast("string"))), 1, 8), 16, 10).cast("long") % 1000000L
    val w = poissonW(u)
    val reps = Dedup.fanoutReady(Tables.documents(spark, dir))
      .select($"doc_id", $"source", $"n_chars")
      .withColumn("b", explode(sequence(lit(0), lit(63))))
      .select($"source", $"b", w.as("w"), $"n_chars")
      .groupBy($"source", $"b")
      .agg(sum($"w" * $"n_chars").as("swx"), sum($"w").as("sw"))
      .filter($"sw" > 0)
      .withColumn("m", expr("swx div sw"))
    val ordered = reps
      .withColumn("rk", row_number().over(
        Window.partitionBy($"source").orderBy($"m", $"b")))
    val ci = ordered.groupBy($"source")
      .agg(max(when($"rk" === 2, $"m")).as("lo_chars"),
        max(when($"rk" === 63, $"m")).as("hi_chars"))
    Tables.documents(spark, dir)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(n_chars) div count(1)").as("mean_chars"))
      .join(ci, Seq("source"))
      .select($"source", $"n_docs", $"mean_chars", $"lo_chars", $"hi_chars")
      .orderBy($"source")
  }

  /** Poisson(1) inverse CDF over a uniform ppm draw — fixed cumulative
    * thresholds (floor(1e6·Σ_{i≤k} e⁻¹/i!)), mirrored verbatim in the
    * oracle SQL so the derandomized draw is bit-equal cross-engine. */
  private def poissonW(u: Column): Column =
    when(u < 367879, 0L).when(u < 735758, 1L).when(u < 919698, 2L)
      .when(u < 981011, 3L).when(u < 996340, 4L).when(u < 999405, 5L)
      .when(u < 999916, 6L).when(u < 999989, 7L).when(u < 999998, 8L)
      .otherwise(9L)

  /** The same thresholds as a SQL CASE over column `u`. */
  private val poissonWSql: String =
    """CASE WHEN u < 367879 THEN 0 WHEN u < 735758 THEN 1
      |  WHEN u < 919698 THEN 2 WHEN u < 981011 THEN 3
      |  WHEN u < 996340 THEN 4 WHEN u < 999405 THEN 5
      |  WHEN u < 999916 THEN 6 WHEN u < 999989 THEN 7
      |  WHEN u < 999998 THEN 8 ELSE 9 END""".stripMargin

  // ---------------------------------------------------------------------
  // q203: embedding moment matrix (whitening/PCA prep)
  // ---------------------------------------------------------------------

  /** The first- and second-moment statistics a whitening / PCA /
    * mean-centering stage consumes, computed in ONE corpus pass: for
    * the leading 8 dimensions, every pairwise covariance numerator
    * n·Σxᵢxⱼ − Σxᵢ·Σxⱼ over milli-quantized coordinates (the q75
    * `floor(x·1000)` lattice — float→double→floor is IEEE-exact and
    * engine-identical, and everything after is int64). At 10⁹ vectors
    * this is the standard d²/2-accumulator single-pass scan: partial
    * aggregation collapses each partition to one 44-column row, the
    * final reduce touches |partitions| rows, and the emitted triangle
    * is a driver-side constant table (the q168 plan-artifact rule).
    * Nothing shuffles but 44 numbers per partition. */
  val q203EmbeddingMoments: Q = (spark, dir) => {
    import spark.implicits._
    val d = 8
    val e = graft.functions.VectorExprs.quantize(col("embedding"))
    val base = Tables.embeddings(spark, dir).select(e.as("e"))
    val sumCols =
      (for (i <- 0 until d)
        yield sum(element_at($"e", i + 1)).as(s"sx$i")) ++
      (for { i <- 0 until d; j <- i until d }
        yield sum(element_at($"e", i + 1) * element_at($"e", j + 1))
          .as(s"s_${i}_$j"))
    val row = base.agg(count(lit(1)).as("n"), sumCols: _*).head()
    val n = row.getLong(row.fieldIndex("n"))
    val out = for { i <- 0 until d; j <- i until d } yield {
      val sxy = row.getLong(row.fieldIndex(s"s_${i}_$j"))
      val sxi = row.getLong(row.fieldIndex(s"sx$i"))
      val sxj = row.getLong(row.fieldIndex(s"sx$j"))
      (i, j, n, sxy, sxi, sxj, n * sxy - sxi * sxj)
    }
    out.toDF("i", "j", "n", "sxy", "sxi", "sxj", "cov_num")
      .orderBy($"i", $"j")
  }

  // ---------------------------------------------------------------------
  // q204: pairwise source-overlap containment matrix
  // ---------------------------------------------------------------------

  /** Which sources syndicate whose content — the source-level
    * contamination matrix: winnowing fingerprints (the q77 MOSS
    * selection, k=5/w=8) deduped per source, then directional
    * containment |A∩B|·10⁶/|A| for every ordered source pair. High
    * containment with asymmetry (A⊂B but not B⊂A) is the signature of
    * a mirror site — drop A, keep B.
    *
    * Scale shape: the intersection is a fingerprint-keyed self-join
    * whose per-key fan-out is bounded by |sources|² (a few hundred),
    * NEVER by corpus size — each fingerprint row carries source ids,
    * not documents. The |sources|-row size table broadcasts. The only
    * corpus-sized work is the q77 selection itself (doc-keyed window,
    * no global sort). */
  val q204SourceOverlap: Q = (spark, dir) => {
    import spark.implicits._
    // one-scan winnowing (see q77): per-doc fingerprint selection
    // happens inside the scan via WinnowedFingerprints — no gram
    // explode, no doc-keyed window exchange; the source-level distinct
    // is the first (and only corpus-derived) shuffle.
    // cached: the winnowing scan is the dominant cost and is consumed
    // three times (sizes + both sides of the fingerprint self-join) —
    // without the cache it can re-execute up to 3x (the q41/q186
    // missed-cache lesson). Output is 20 rows, so driverLiteral lets
    // the cache be dropped before returning (q131 self-containment).
    val sfp = Dedup.fanoutReady(Tables.documents(spark, dir))
      .select($"source",
        explode(graft.functions.TextExprs
          .winnowedFingerprints($"text", 5, 8)).as("wm"))
      .distinct()
      .cache()
    val sizes = sfp.groupBy($"source").agg(count(lit(1)).as("na"))
    val out = OpsUtil.driverLiteral(sfp.select($"source".as("sa"), $"wm")
      .join(sfp.select($"source".as("sb"), $"wm"), Seq("wm"))
      .filter($"sa" =!= $"sb")
      .groupBy($"sa", $"sb").agg(count(lit(1)).as("n_common"))
      .join(broadcast(sizes.withColumnRenamed("source", "sa")), Seq("sa"))
      .withColumn("containment_ppm", expr("n_common * 1000000 div na"))
      .select($"sa", $"sb", $"n_common", $"na", $"containment_ppm")
      .orderBy($"containment_ppm".desc, $"sa", $"sb")
      .limit(20))
    sfp.unpersist()
    out
  }

  // ---------------------------------------------------------------------
  // q205: does near-dedup bias against quality?
  // ---------------------------------------------------------------------

  /** The bias check run before shipping any dedup config: cut the
    * corpus into exact quality quintiles (lexical-diversity score, the
    * q143 two-level block rank — no unpartitioned window) and measure
    * the q41 near-duplicate rate inside each. A dup rate that climbs
    * with quality means the dedup stage is eating the best documents
    * (template-free prose dedups honestly; boilerplate hides), and the
    * mixture math downstream (q102/q148) needs reweighting.
    *
    * Scale shape: quintile assignment is the q143 pattern (blocked
    * rank, driver-collected ≤257-row offsets); the duplicate flag is a
    * broadcast semi-join against the pairs-derived doc set. One
    * corpus-sized exchange for the block rank, nothing else wide. */
  val q205DupQualityBias: Q = (spark, dir) => {
    import spark.implicits._
    val scored = Tables.documents(spark, dir)
      .select($"doc_id",
        filter(split($"text", " "), t => length(t) > 0).as("w"))
      .select($"doc_id",
        expr("size(array_distinct(w)) * 1000000 div size(w)").as("score"))
      .cache()
    val n = scored.count()
    val stats = scored.agg(min($"score"), max($"score")).head()
    val (lo, hi) = (stats.getLong(0), stats.getLong(1))
    val width = math.max(1L, (hi - lo) / 256L + 1L)
    val blocked = scored
      .withColumn("blk", (($"score" - lo) / width).cast("long"))
    val counts = blocked.groupBy($"blk").agg(count(lit(1)).as("bc"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val offsets = counts.map(_._1)
      .zip(counts.map(_._2).scanLeft(0L)(_ + _)).toSeq
    val dups = Dedup.verifiedPairs(spark, dir)
      .select(explode(array($"doc_a", $"doc_b")).as("doc_id")).distinct()
      .withColumn("is_dup", lit(true))
    val out = OpsUtil.driverLiteral(blocked
      .join(broadcast(offsets.toDF("blk", "boff")), Seq("blk"))
      .withColumn("rk", $"boff" + row_number().over(
        Window.partitionBy($"blk").orderBy($"score", $"doc_id")))
      .withColumn("quintile", expr(s"(rk - 1) * 5 div ${n}L"))
      .join(broadcast(dups), Seq("doc_id"), "left")
      .groupBy($"quintile")
      .agg(count(lit(1)).as("n_docs"),
        count(when($"is_dup", 1)).as("n_dup"))
      .withColumn("dup_ppm", expr("n_dup * 1000000 div n_docs"))
      .orderBy($"quintile"))
    scored.unpersist()
    out
  }

  // ---------------------------------------------------------------------
  // q206: blocking-recall audit for entity resolution
  // ---------------------------------------------------------------------

  /** Does q120's cheap blocking key lose real matches? The audit every
    * blocked linkage needs: ground truth = ALL name pairs within edit
    * distance 2 over the distinct-name relation (names are
    * catalog-sized — the corpus aggregates to them first), recall = the
    * share of true pairs the head-noun block retains. Pair completeness
    * is THE number that decides whether a blocking key ships.
    *
    * The deliberate cross join is the audit's point and is flagged as
    * such: it runs on an already-aggregated catalog-sized relation,
    * never on corpus rows — and that bound is now STRUCTURAL, not an
    * assumption: the name relation passes through
    * [[OpsUtil.bottomKByHash]] (k = 4096, the same fixed-size sampler
    * that bounds q212's pair join), so even if the distinct-name
    * catalog grew with the corpus the audit's pair count stays capped
    * at k(k−1)/2. At the test SFs |names| < k and the sample is the
    * whole relation; the oracle applies the identical membership rule
    * so the guard is symmetric at any scale. */
  val q206BlockingRecall: Q = (spark, dir) => {
    import spark.implicits._
    blockingRecall(Tables.part(spark, dir).select($"p_name").distinct())
  }

  /** The audit core, on any (p_name) relation: true pairs at lev≤2 vs
    * pairs surviving the head-noun block, over the hash-bottom-4096
    * sample of names. Exposed so specs can prove the audit COUNTS
    * misses on an imperfect synthetic blocking AND that the sampler
    * caps the relation when |names| > k. */
  private[graft] def blockingRecall(names: DataFrame): DataFrame =
    blockingRecall(names, 4096)

  private[graft] def blockingRecall(names: DataFrame, k: Int): DataFrame = {
    import names.sparkSession.implicits._
    val sampled = OpsUtil.bottomKByHash(names, Seq($"p_name"), $"p_name", k)
      .drop("h")
    val n = sampled.withColumn("noun", substring_index($"p_name", " ", -1))
    val a = n.select($"p_name".as("na"), $"noun".as("ba"))
    val b = n.select($"p_name".as("nb"), $"noun".as("bb"))
    val truth = a.crossJoin(b).filter($"na" < $"nb")
      .withColumn("dist", levenshtein($"na", $"nb"))
      .filter($"dist" <= 2)
    truth
      .agg(count(lit(1)).as("n_true_pairs"),
        count(when($"ba" === $"bb", 1)).as("n_blocked_pairs"))
      .crossJoin(n.agg(count(lit(1)).as("n_names")))
      .select($"n_names", $"n_true_pairs", $"n_blocked_pairs",
        ($"n_true_pairs" - $"n_blocked_pairs").as("n_missed_pairs"),
        expr("""CASE WHEN n_true_pairs > 0
                THEN n_blocked_pairs * 1000000 div n_true_pairs
                ELSE 1000000 END""").as("recall_ppm"))
  }

  // ---------------------------------------------------------------------
  // q207: near-dedup threshold operating-point sweep
  // ---------------------------------------------------------------------

  /** The operating-point table for q41's verification threshold: for
    * each candidate Jaccard cutoff, how many verified pairs survive and
    * how many documents the greedy drop-b rule would remove. Dedup
    * configs are chosen off this curve (tight = keep more near-copies,
    * loose = eat paraphrases); q186 sweeps the BANDING, this sweeps the
    * VERIFY stage of the same pipeline. Thresholding uses
    * floor(jaccard·10⁶) — both engines compute the identical IEEE
    * quotient of the same two ints, so the floor is bit-stable.
    *
    * Scale shape: q41's pair set is already candidate-bounded; the
    * sweep fans each pair out ×5 thresholds (pairs are audit-sized) and
    * collapses map-side to 5 rows. */
  val q207DedupThresholds: Q = (spark, dir) => {
    import spark.implicits._
    val pairs = Dedup.verifiedPairs(spark, dir)
      .select($"doc_a", $"doc_b",
        floor($"jaccard" * 1000000).cast("long").as("j_ppm"))
    val thresholds = (5 to 9).map(_ * 100000L).toDF("threshold")
    pairs
      .crossJoin(broadcast(thresholds))
      .filter($"j_ppm" >= $"threshold")
      .groupBy($"threshold")
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct($"doc_b").as("n_docs_dropped"))
      .orderBy($"threshold")
  }

  // ---------------------------------------------------------------------
  // q208: boilerplate template mining by shared prefix
  // ---------------------------------------------------------------------

  /** Template spam detection at the cheapest possible grain: group
    * documents by their first 5 words (the "rendered template" prefix),
    * surface the 15 biggest groups with their source spread. A prefix
    * shared across many docs AND many sources is syndicated boilerplate
    * (strip it); one shared within a single source is that source's
    * page chrome (cap it — the q144 rule). One map-side-combined
    * aggregation on a computed key; no fan-out at all.
    *
    * Production note: byte-bounded prefixes (not word counts) keep the
    * key width fixed at 100 TB; word-prefix here because the corpus is
    * single-spaced ASCII. */
  val q208TemplateMining: Q = (spark, dir) => {
    import spark.implicits._
    val total = Tables.documents(spark, dir).count()
    Tables.documents(spark, dir)
      .select($"doc_id", $"source",
        concat_ws(" ", slice(filter(split($"text", " "),
          t => length(t) > 0), 1, 5)).as("prefix"))
      .groupBy($"prefix")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct($"source").as("n_sources"),
        min($"doc_id").as("min_doc_id"))
      .withColumn("share_ppm", expr(s"n_docs * 1000000 div ${total}L"))
      .orderBy($"n_docs".desc, $"prefix")
      .limit(15)
      .select($"prefix", $"n_docs", $"n_sources", $"min_doc_id",
        $"share_ppm")
  }

  // ---------------------------------------------------------------------
  // q209: audit-sample sufficiency
  // ---------------------------------------------------------------------

  /** How small can a corpus audit's sample be? Every per-source statistic
    * in this suite has a 100 TB production form that runs on a
    * hash-stable sample (the q85 membership rule); this query measures
    * the cost: per sampling rate (1/64, 1/16, 1/4 by content hash), the
    * worst-case absolute error of the sampled per-source mean length vs
    * the exact mean, in ppm of the exact mean. The table answers "which
    * audits can ride the 1.5% sample" with data instead of folklore.
    *
    * Scale shape: one corpus scan computes all three sample aggregates
    * AND the exact aggregate simultaneously (conditional sums — no
    * second pass, no join); |sources|-row arithmetic follows. Membership
    * is md5-derived, so re-sharding and re-running cannot change it. */
  val q209SampleSufficiency: Q = (spark, dir) => {
    import spark.implicits._
    val u = conv(substring(md5(concat_ws(":", $"doc_id", $"text")), 1, 8),
      16, 10).cast("long") % 64
    val per = Tables.documents(spark, dir)
      .select($"source", $"n_chars", u.as("u"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n"), sum($"n_chars").as("sx"),
        count(when($"u" === 0, 1)).as("n64"),
        sum(when($"u" === 0, $"n_chars")).as("sx64"),
        count(when($"u" < 4, 1)).as("n16"),
        sum(when($"u" < 4, $"n_chars")).as("sx16"),
        count(when($"u" < 16, 1)).as("n4"),
        sum(when($"u" < 16, $"n_chars")).as("sx4"))
      .withColumn("mean", expr("sx div n"))
    val err = (nc: String, sc: String) =>
      expr(s"""CASE WHEN $nc > 0
              |THEN abs($sc div $nc - mean) * 1000000 div mean
              |ELSE 1000000 END""".stripMargin)
    per.select($"source",
        err("n64", "sx64").as("e64"),
        err("n16", "sx16").as("e16"),
        err("n4", "sx4").as("e4"))
      .agg(max($"e64").as("worst_err_ppm_r64"),
        max($"e16").as("worst_err_ppm_r16"),
        max($"e4").as("worst_err_ppm_r4"),
        count(lit(1)).as("n_sources"))
      .select($"n_sources", $"worst_err_ppm_r64", $"worst_err_ppm_r16",
        $"worst_err_ppm_r4")
  }

  // ---------------------------------------------------------------------
  // q210: winnowing density calibration
  // ---------------------------------------------------------------------

  /** Calibration of the [[graft.functions.WinnowedFingerprints]]
    * operator against its own theory: winnowing with window w selects
    * each window's minimum, for an expected pre-dedup density of
    * 2/(w+1) ≈ 222,222 ppm of gram positions (Schleimer et al. §3);
    * per-document dedup then compresses further on repetitive text.
    * Per source: gram positions, windows, distinct selected
    * fingerprints, and the realized density in ppm. Doubles as a
    * corpus-scale cross-check of the expression: the ORACLE computes
    * the same table from the composed explode + sliding-min + distinct
    * plan, so any divergence between the one-scan expression and the
    * reference dataflow hash-fails here at every SF.
    *
    * Scale shape: selection in the scan (no gram exchange — the q77
    * rewrite); one (doc grain) aggregate and a |sources| rollup. */
  val q210WinnowDensity: Q = (spark, dir) => {
    import spark.implicits._
    val k = 5; val w = 8
    val per = Dedup.fanoutReady(Tables.documents(spark, dir))
      .select($"source", length($"text").as("len"),
        size(graft.functions.TextExprs
          .winnowedFingerprints($"text", k, w)).cast("long").as("nfp"))
      .withColumn("grams", greatest(lit(0L), $"len" - lit(k - 1)))
      .withColumn("wins", greatest(lit(0L), $"grams" - lit(w - 1)))
    per.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"grams").as("n_grams"),
        sum($"wins").as("n_windows"),
        sum($"nfp").as("n_fps"))
      .withColumn("density_ppm", expr("n_fps * 1000000 div n_grams"))
      .orderBy($"source")
  }

  // ---------------------------------------------------------------------
  // q211: MinHash estimator calibration
  // ---------------------------------------------------------------------

  /** Is the 8-hash MinHash estimate honest? For every q41-verified pair,
    * compare the signature-agreement estimate (matches/8, the unbiased
    * MinHash estimator of Jaccard) against the EXACT shingle Jaccard,
    * grouped by match count: each row is one estimator value with the
    * n/mean/min/max of the truth behind it. The spread per row is the
    * resolution argument for (or against) shipping 8 hashes — the same
    * question q186 answers for banding, asked of the estimator itself.
    *
    * Scale shape: signatures are the q41 aggregate (4 rows per doc
    * collapse map-side); the calibration join touches only verified
    * pairs. Estimates and truths are exact integers cross-engine. */
  val q211MinhashCalibration: Q = (spark, dir) => {
    import spark.implicits._
    val shingles = Dedup.fanoutReady(Tables.documents(spark, dir))
      .select($"doc_id",
        explode(graft.functions.TextExprs
          .distinctWordGrams($"text", 3)).as("s"))
    val minCols = (0 until 8).map { j =>
      val salted = md5(concat(lit(s"${j / 4}:"), $"s"))
      min(conv(substring(salted, 1 + 8 * (j % 4), 8), 16, 10).cast("long"))
        .as(s"h$j")
    }
    val sig = shingles.groupBy($"doc_id").agg(minCols.head, minCols.tail: _*)
    val sa = sig.toDF("doc_a" +: (0 until 8).map(j => s"a$j"): _*)
    val sb = sig.toDF("doc_b" +: (0 until 8).map(j => s"b$j"): _*)
    val m = (0 until 8)
      .map(j => when(col(s"a$j") === col(s"b$j"), 1).otherwise(0))
      .reduce(_ + _)
    Dedup.verifiedPairs(spark, dir)
      .select($"doc_a", $"doc_b",
        floor($"jaccard" * 1000000).cast("long").as("j_ppm"))
      .join(sa, Seq("doc_a")).join(sb, Seq("doc_b"))
      .withColumn("m", m.cast("long"))
      .groupBy($"m")
      .agg(count(lit(1)).as("n_pairs"),
        expr("sum(j_ppm) div count(1)").as("mean_j_ppm"),
        min($"j_ppm").as("min_j_ppm"), max($"j_ppm").as("max_j_ppm"))
      .select($"m".as("sig_matches"),
        expr("m * 1000000 div 8").as("est_j_ppm"),
        $"n_pairs", $"mean_j_ppm", $"min_j_ppm", $"max_j_ppm")
      .orderBy($"sig_matches")
  }

  // ---------------------------------------------------------------------
  // q212: Kendall rank correlation (is "quality" just length?)
  // ---------------------------------------------------------------------

  /** Exact Kendall tau-a between document length and the
    * lexical-diversity quality score, on a fixed-SIZE content-hash
    * sample — the audit that catches a quality filter that secretly
    * ranks by length. Concordant/discordant/tied pair counts are exact
    * integers; tau's sign is applied OUTSIDE the integer division (both
    * engines truncate the non-negative magnitude identically — the
    * signed floor-vs-truncate divergence never arises, the q98 rule).
    *
    * Scale shape: the deliberate pair join runs ONLY on the k = 512
    * hash-bottom-k sample ([[OpsUtil.bottomKByHash]] — the q110
    * mergeable-sketch pattern; tau needs pairs by definition). A fixed
    * sample SIZE, not a rate, is what bounds the work: the earlier
    * 1/32-rate membership left the pair count growing as (n/32)²,
    * quadratic in corpus size, while bottom-k caps it at k(k−1)/2 ≈
    * 131k pairs no matter the corpus. The corpus is scanned once to
    * score; the sample selection is TakeOrderedAndProject (per-partition
    * local k, no global sort). */
  val q212KendallTau: Q = (spark, dir) => {
    import spark.implicits._
    val s = OpsUtil.bottomKByHash(
        Tables.documents(spark, dir), Seq($"doc_id", $"text"), $"doc_id", 512)
      .select($"doc_id", $"n_chars".as("x"),
        expr("""size(array_distinct(filter(split(text, ' '),
                t -> length(t) > 0))) * 1000000
                div size(filter(split(text, ' '), t -> length(t) > 0))""")
          .as("y"))
    val a = s.toDF("ida", "xa", "ya")
    val b = s.toDF("idb", "xb", "yb")
    a.crossJoin(b).filter($"ida" < $"idb")
      .select((($"xa" - $"xb") * ($"ya" - $"yb")).as("prod"))
      .agg(count(lit(1)).as("n_pairs"),
        count(when($"prod" > 0, 1)).as("n_concordant"),
        count(when($"prod" < 0, 1)).as("n_discordant"),
        count(when($"prod" === 0, 1)).as("n_tied"))
      .crossJoin(s.agg(count(lit(1)).as("n_sample")))
      .select($"n_sample", $"n_pairs", $"n_concordant", $"n_discordant",
        $"n_tied",
        expr("""CASE WHEN n_concordant >= n_discordant
                THEN (n_concordant - n_discordant) * 1000000 div n_pairs
                ELSE -((n_discordant - n_concordant) * 1000000 div n_pairs)
                END""").as("tau_a_ppm"))
  }

  val queries: Map[String, Q] = Map(
    "q197_canonical_dedup" -> q197CanonicalDedup,
    "q198_editdist_verify" -> q198EditdistVerify,
    "q199_mad_outliers" -> q199MadOutliers,
    "q200_token_gini" -> q200TokenGini,
    "q201_hrw_shards" -> q201HrwShards,
    "q202_bootstrap_ci" -> q202BootstrapCi,
    "q203_embedding_moments" -> q203EmbeddingMoments,
    "q204_source_overlap" -> q204SourceOverlap,
    "q205_dup_quality_bias" -> q205DupQualityBias,
    "q206_blocking_recall" -> q206BlockingRecall,
    "q207_dedup_thresholds" -> q207DedupThresholds,
    "q208_template_mining" -> q208TemplateMining,
    "q209_sample_sufficiency" -> q209SampleSufficiency,
    "q210_winnow_density" -> q210WinnowDensity,
    "q211_minhash_calibration" -> q211MinhashCalibration,
    "q212_kendall_tau" -> q212KendallTau,
  )

  val oracle: Map[String, String] = Map(
    "q197_canonical_dedup" ->
      """WITH p AS (
        |  SELECT CASE WHEN doc_id % 5 = 0 THEN '  ' || b || ' '
        |    ELSE b END AS t
        |  FROM (SELECT doc_id,
        |          CASE WHEN doc_id % 3 = 0 THEN upper(text)
        |            ELSE text END AS b
        |        FROM documents)
        |), k AS (
        |  SELECT md5(t) AS rk,
        |    md5(trim(regexp_replace(lower(nfc_normalize(t)),
        |      ' +', ' ', 'g'))) AS ck
        |  FROM p
        |)
        |SELECT COUNT(*) AS n_docs,
        |  CAST(COUNT(DISTINCT rk) AS BIGINT) AS raw_unique,
        |  CAST(COUNT(*) - COUNT(DISTINCT rk) AS BIGINT) AS raw_dup_docs,
        |  CAST((COUNT(*) - COUNT(DISTINCT rk)) * 1000000 // COUNT(*)
        |    AS BIGINT) AS raw_dup_ppm,
        |  CAST(COUNT(DISTINCT ck) AS BIGINT) AS canon_unique,
        |  CAST(COUNT(*) - COUNT(DISTINCT ck) AS BIGINT) AS canon_dup_docs,
        |  CAST((COUNT(*) - COUNT(DISTINCT ck)) * 1000000 // COUNT(*)
        |    AS BIGINT) AS canon_dup_ppm,
        |  CAST(COUNT(DISTINCT rk) - COUNT(DISTINCT ck) AS BIGINT)
        |    AS canon_extra_docs
        |FROM k""".stripMargin,
    "q198_editdist_verify" ->
      s"""WITH q41 AS (
         |${Dedup.oracle("q41_minhash_lsh")}
         |), pre AS (
         |  SELECT doc_id, substr(text, 1, 120) AS p FROM documents
         |)
         |SELECT doc_a, doc_b,
         |  CAST(levenshtein(a.p, b.p) AS BIGINT) AS lev,
         |  CAST(levenshtein(a.p, b.p) * 1000000
         |    // greatest(length(a.p), length(b.p)) AS BIGINT) AS ed_ppm
         |FROM q41
         |JOIN pre a ON q41.doc_a = a.doc_id
         |JOIN pre b ON q41.doc_b = b.doc_id
         |WHERE levenshtein(a.p, b.p) * 1000000
         |  // greatest(length(a.p), length(b.p)) <= 300000
         |ORDER BY ed_ppm, doc_a, doc_b LIMIT 20""".stripMargin,
    "q199_mad_outliers" ->
      """WITH x AS (
        |  SELECT lang, doc_id, n_chars AS x FROM documents
        |), m AS (
        |  SELECT lang, x AS med FROM (
        |    SELECT lang, x,
        |      row_number() OVER (PARTITION BY lang ORDER BY x, doc_id)
        |        AS rk,
        |      COUNT(*) OVER (PARTITION BY lang) AS n
        |    FROM x) WHERE rk = (n + 1) // 2
        |), d AS (
        |  SELECT x.lang, x.doc_id, abs(x.x - m.med) AS dev, m.med
        |  FROM x JOIN m USING (lang)
        |), md AS (
        |  SELECT lang, dev AS mad FROM (
        |    SELECT lang, dev,
        |      row_number() OVER (PARTITION BY lang ORDER BY dev, doc_id)
        |        AS rk,
        |      COUNT(*) OVER (PARTITION BY lang) AS n
        |    FROM d) WHERE rk = (n + 1) // 2
        |)
        |SELECT d.lang, COUNT(*) AS n_docs,
        |  CAST(ANY_VALUE(d.med) AS BIGINT) AS med_chars,
        |  CAST(ANY_VALUE(md.mad) AS BIGINT) AS mad_chars,
        |  COUNT(CASE WHEN d.dev > 3 * md.mad THEN 1 END) AS n_outliers,
        |  CAST(COUNT(CASE WHEN d.dev > 3 * md.mad THEN 1 END)
        |    * 1000000 // COUNT(*) AS BIGINT) AS out_ppm
        |FROM d JOIN md USING (lang)
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin,
    "q200_token_gini" ->
      """WITH tok AS (
        |  SELECT unnest(list_filter(string_split(text, ' '),
        |    x -> length(x) > 0)) AS t
        |  FROM documents
        |), f AS (
        |  SELECT t, COUNT(*) AS f FROM tok GROUP BY t
        |), r AS (
        |  SELECT f, row_number() OVER (ORDER BY f, t) AS rk FROM f
        |), a AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(f) AS BIGINT) AS tot,
        |    CAST(SUM(rk * f) AS BIGINT) AS s
        |  FROM r
        |)
        |SELECT n AS n_types, tot AS total_tokens,
        |  CAST((2 * s - (n + 1) * tot) * 1000000 // (n * tot) AS BIGINT)
        |    AS gini_ppm
        |FROM a""".stripMargin,
    "q201_hrw_shards" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    list_transform(range(0, 17),
        |      s -> CAST(('0x' || substr(md5(doc_id || ':' || s), 1, 8))
        |        AS BIGINT)) AS hs
        |  FROM documents
        |), a AS (
        |  SELECT
        |    CAST(list_position(hs[1:16], list_max(hs[1:16])) - 1 AS INT)
        |      AS shard,
        |    (hs[17] > list_max(hs[1:16])) AS moved
        |  FROM h
        |)
        |SELECT shard, COUNT(*) AS n_docs,
        |  COUNT(CASE WHEN moved THEN 1 END) AS n_moved,
        |  CAST(COUNT(CASE WHEN moved THEN 1 END) * 1000000 // COUNT(*)
        |    AS BIGINT) AS moved_ppm
        |FROM a GROUP BY 1 ORDER BY 1""".stripMargin,
    "q202_bootstrap_ci" ->
      s"""WITH reps AS (
         |  SELECT source, b,
         |    CAST(SUM(w * n_chars) AS BIGINT) AS swx,
         |    CAST(SUM(w) AS BIGINT) AS sw
         |  FROM (
         |    SELECT source, n_chars, b, $poissonWSql AS w
         |    FROM (
         |      SELECT source, n_chars, b,
         |        CAST(('0x' || substr(md5(doc_id || '#' || b), 1, 8))
         |          AS BIGINT) % 1000000 AS u
         |      FROM documents, LATERAL unnest(range(0, 64)) t(b))
         |  ) GROUP BY 1, 2 HAVING SUM(w) > 0
         |), ordered AS (
         |  SELECT source, swx // sw AS m,
         |    row_number() OVER (PARTITION BY source ORDER BY swx // sw, b)
         |      AS rk
         |  FROM reps
         |), ci AS (
         |  SELECT source,
         |    CAST(MAX(CASE WHEN rk = 2 THEN m END) AS BIGINT) AS lo_chars,
         |    CAST(MAX(CASE WHEN rk = 63 THEN m END) AS BIGINT) AS hi_chars
         |  FROM ordered GROUP BY 1
         |)
         |SELECT d.source, COUNT(*) AS n_docs,
         |  CAST(SUM(n_chars) // COUNT(*) AS BIGINT) AS mean_chars,
         |  ANY_VALUE(ci.lo_chars) AS lo_chars,
         |  ANY_VALUE(ci.hi_chars) AS hi_chars
         |FROM documents d JOIN ci ON d.source = ci.source
         |GROUP BY d.source ORDER BY d.source""".stripMargin,
    "q203_embedding_moments" -> {
      val d = 8
      val sx = (0 until d)
        .map(i => s"CAST(SUM(e[${i + 1}]) AS BIGINT) AS sx$i")
        .mkString(",\n  ")
      val sxy = (for { i <- 0 until d; j <- i until d }
        yield s"CAST(SUM(e[${i + 1}] * e[${j + 1}]) AS BIGINT) AS s_${i}_$j")
        .mkString(",\n  ")
      val rows = (for { i <- 0 until d; j <- i until d }
        yield s"SELECT $i AS i, $j AS j, n, s_${i}_$j AS sxy, " +
          s"sx$i AS sxi, sx$j AS sxj, " +
          s"n * s_${i}_$j - sx$i * sx$j AS cov_num FROM a")
        .mkString("\nUNION ALL\n")
      s"""WITH v AS (
         |  SELECT list_transform(embedding,
         |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS e
         |  FROM embeddings
         |), a AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |  $sx,
         |  $sxy
         |  FROM v
         |)
         |$rows
         |ORDER BY i, j""".stripMargin
    },
    "q204_source_overlap" ->
      """WITH grams AS (
        |  SELECT doc_id, source, i AS pos,
        |    CAST(('0x' || substr(md5(substr(text, i + 1, 5)), 1, 8))
        |      AS BIGINT) AS h
        |  FROM documents, LATERAL unnest(range(0, length(text) - 4)) t(i)
        |), sel AS (
        |  SELECT DISTINCT doc_id, source,
        |    MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS wm
        |  FROM grams
        |  QUALIFY pos >= 7
        |), sfp AS (
        |  SELECT DISTINCT source, wm FROM sel
        |), sizes AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS na
        |  FROM sfp GROUP BY 1
        |), pairs AS (
        |  SELECT a.source AS sa, b.source AS sb, COUNT(*) AS n_common
        |  FROM sfp a JOIN sfp b USING (wm)
        |  WHERE a.source <> b.source GROUP BY 1, 2
        |)
        |SELECT sa, sb, n_common, na,
        |  CAST(n_common * 1000000 // na AS BIGINT) AS containment_ppm
        |FROM pairs JOIN sizes ON pairs.sa = sizes.source
        |ORDER BY containment_ppm DESC, sa, sb LIMIT 20""".stripMargin,
    "q205_dup_quality_bias" ->
      s"""WITH q41 AS (
         |${Dedup.oracle("q41_minhash_lsh")}
         |), dups AS (
         |  SELECT DISTINCT doc_id FROM (
         |    SELECT doc_a AS doc_id FROM q41
         |    UNION ALL SELECT doc_b FROM q41)
         |), sc AS (
         |  SELECT doc_id,
         |    CAST(len(list_distinct(w)) * 1000000 // len(w) AS BIGINT)
         |      AS score
         |  FROM (SELECT doc_id,
         |          list_filter(string_split(text, ' '),
         |            x -> length(x) > 0) AS w
         |        FROM documents)
         |), r AS (
         |  SELECT doc_id, score,
         |    row_number() OVER (ORDER BY score, doc_id) AS rk,
         |    COUNT(*) OVER () AS n
         |  FROM sc
         |)
         |SELECT CAST((rk - 1) * 5 // n AS BIGINT) AS quintile,
         |  COUNT(*) AS n_docs,
         |  COUNT(CASE WHEN dups.doc_id IS NOT NULL THEN 1 END) AS n_dup,
         |  CAST(COUNT(CASE WHEN dups.doc_id IS NOT NULL THEN 1 END)
         |    * 1000000 // COUNT(*) AS BIGINT) AS dup_ppm
         |FROM r LEFT JOIN dups ON r.doc_id = dups.doc_id
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q206_blocking_recall" ->
      """WITH dn AS (
        |  SELECT DISTINCT p_name FROM part
        |), s AS (
        |  SELECT p_name FROM dn
        |  ORDER BY CAST(('0x' || substr(md5(p_name), 1, 15)) AS BIGINT),
        |    p_name
        |  LIMIT 4096
        |), n AS (
        |  SELECT p_name,
        |    string_split(p_name, ' ')[-1] AS noun
        |  FROM s
        |), t AS (
        |  SELECT a.noun AS ba, b.noun AS bb
        |  FROM n a, n b
        |  WHERE a.p_name < b.p_name
        |    AND levenshtein(a.p_name, b.p_name) <= 2
        |)
        |SELECT (SELECT COUNT(*) FROM n) AS n_names,
        |  COUNT(*) AS n_true_pairs,
        |  COUNT(CASE WHEN ba = bb THEN 1 END) AS n_blocked_pairs,
        |  COUNT(*) - COUNT(CASE WHEN ba = bb THEN 1 END) AS n_missed_pairs,
        |  CAST(CASE WHEN COUNT(*) > 0
        |    THEN COUNT(CASE WHEN ba = bb THEN 1 END) * 1000000 // COUNT(*)
        |    ELSE 1000000 END AS BIGINT) AS recall_ppm
        |FROM t""".stripMargin,
    "q207_dedup_thresholds" ->
      s"""WITH q41 AS (
         |${Dedup.oracle("q41_minhash_lsh")}
         |), p AS (
         |  SELECT doc_a, doc_b,
         |    CAST(floor(jaccard * 1000000) AS BIGINT) AS j_ppm
         |  FROM q41
         |)
         |SELECT t.threshold, COUNT(*) AS n_pairs,
         |  CAST(COUNT(DISTINCT doc_b) AS BIGINT) AS n_docs_dropped
         |FROM p, LATERAL (SELECT unnest([500000, 600000, 700000,
         |  800000, 900000]) AS threshold) t
         |WHERE p.j_ppm >= t.threshold
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q208_template_mining" ->
      """SELECT prefix, COUNT(*) AS n_docs,
        |  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
        |  CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
        |  CAST(COUNT(*) * 1000000
        |    // (SELECT COUNT(*) FROM documents) AS BIGINT) AS share_ppm
        |FROM (
        |  SELECT doc_id, source,
        |    array_to_string(list_filter(string_split(text, ' '),
        |      x -> length(x) > 0)[1:5], ' ') AS prefix
        |  FROM documents
        |)
        |GROUP BY 1 ORDER BY n_docs DESC, prefix LIMIT 15""".stripMargin,
    "q209_sample_sufficiency" ->
      """WITH per AS (
        |  SELECT source, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS sx,
        |    COUNT(CASE WHEN u = 0 THEN 1 END) AS n64,
        |    CAST(SUM(CASE WHEN u = 0 THEN n_chars END) AS BIGINT) AS sx64,
        |    COUNT(CASE WHEN u < 4 THEN 1 END) AS n16,
        |    CAST(SUM(CASE WHEN u < 4 THEN n_chars END) AS BIGINT) AS sx16,
        |    COUNT(CASE WHEN u < 16 THEN 1 END) AS n4,
        |    CAST(SUM(CASE WHEN u < 16 THEN n_chars END) AS BIGINT) AS sx4
        |  FROM (SELECT source, n_chars,
        |      CAST(('0x' || substr(md5(doc_id || ':' || text), 1, 8))
        |        AS BIGINT) % 64 AS u
        |    FROM documents)
        |  GROUP BY 1
        |), e AS (
        |  SELECT source, sx // n AS mean,
        |    CASE WHEN n64 > 0 THEN abs(sx64 // n64 - sx // n) * 1000000
        |      // (sx // n) ELSE 1000000 END AS e64,
        |    CASE WHEN n16 > 0 THEN abs(sx16 // n16 - sx // n) * 1000000
        |      // (sx // n) ELSE 1000000 END AS e16,
        |    CASE WHEN n4 > 0 THEN abs(sx4 // n4 - sx // n) * 1000000
        |      // (sx // n) ELSE 1000000 END AS e4
        |  FROM per
        |)
        |SELECT COUNT(*) AS n_sources,
        |  CAST(MAX(e64) AS BIGINT) AS worst_err_ppm_r64,
        |  CAST(MAX(e16) AS BIGINT) AS worst_err_ppm_r16,
        |  CAST(MAX(e4) AS BIGINT) AS worst_err_ppm_r4
        |FROM e""".stripMargin,
    "q210_winnow_density" ->
      """WITH grams AS (
        |  SELECT doc_id, source, i AS pos,
        |    CAST(('0x' || substr(md5(substr(text, i + 1, 5)), 1, 8))
        |      AS BIGINT) AS h
        |  FROM documents,
        |    LATERAL unnest(range(0, greatest(length(text) - 4, 0))) t(i)
        |), sel AS (
        |  SELECT DISTINCT doc_id, MIN(h) OVER (PARTITION BY doc_id
        |    ORDER BY pos ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS wm
        |  FROM grams QUALIFY pos >= 7
        |), perdoc AS (
        |  SELECT doc_id, COUNT(*) AS nfp FROM sel GROUP BY 1
        |), base AS (
        |  SELECT d.source,
        |    greatest(0, length(text) - 4) AS grams,
        |    greatest(0, length(text) - 4 - 7) AS wins,
        |    COALESCE(p.nfp, 0) AS nfp
        |  FROM documents d LEFT JOIN perdoc p USING (doc_id)
        |)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(grams) AS BIGINT) AS n_grams,
        |  CAST(SUM(wins) AS BIGINT) AS n_windows,
        |  CAST(SUM(nfp) AS BIGINT) AS n_fps,
        |  CAST(SUM(nfp) * 1000000 // SUM(grams) AS BIGINT) AS density_ppm
        |FROM base GROUP BY 1 ORDER BY 1""".stripMargin,
    "q211_minhash_calibration" -> {
      val matchSum = (0 until 8)
        .map(j => s"(CASE WHEN a.h$j = b.h$j THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH q41 AS (
         |${Dedup.oracle("q41_minhash_lsh")}
         |), toks AS (
         |  SELECT doc_id, ${Dedup.tokensSql} AS t FROM documents
         |), sh AS (
         |  SELECT DISTINCT doc_id,
         |    unnest(list_transform(range(0, length(t) - 2),
         |      i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS s
         |  FROM toks WHERE length(t) >= 3
         |), sig AS (
         |  SELECT doc_id,
         |${Dedup.minhashMins}
         |  FROM sh GROUP BY 1
         |), scored AS (
         |  SELECT CAST(floor(q41.jaccard * 1000000) AS BIGINT) AS j_ppm,
         |    CAST($matchSum AS BIGINT) AS m
         |  FROM q41 JOIN sig a ON q41.doc_a = a.doc_id
         |  JOIN sig b ON q41.doc_b = b.doc_id
         |)
         |SELECT m AS sig_matches,
         |  CAST(m * 1000000 // 8 AS BIGINT) AS est_j_ppm,
         |  COUNT(*) AS n_pairs,
         |  CAST(SUM(j_ppm) // COUNT(*) AS BIGINT) AS mean_j_ppm,
         |  CAST(MIN(j_ppm) AS BIGINT) AS min_j_ppm,
         |  CAST(MAX(j_ppm) AS BIGINT) AS max_j_ppm
         |FROM scored GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "q212_kendall_tau" ->
      """WITH s AS (
        |  SELECT doc_id, n_chars AS x,
        |    CAST(len(list_distinct(w)) * 1000000 // len(w) AS BIGINT) AS y
        |  FROM (SELECT doc_id, n_chars, text,
        |          list_filter(string_split(text, ' '),
        |            t -> length(t) > 0) AS w
        |        FROM documents)
        |  ORDER BY CAST(('0x' || substr(md5(doc_id || ':' || text), 1, 15))
        |    AS BIGINT), doc_id
        |  LIMIT 512
        |), p AS (
        |  SELECT (a.x - b.x) * (a.y - b.y) AS prod
        |  FROM s a, s b WHERE a.doc_id < b.doc_id
        |), agg AS (
        |  SELECT COUNT(*) AS n_pairs,
        |    COUNT(CASE WHEN prod > 0 THEN 1 END) AS n_concordant,
        |    COUNT(CASE WHEN prod < 0 THEN 1 END) AS n_discordant,
        |    COUNT(CASE WHEN prod = 0 THEN 1 END) AS n_tied
        |  FROM p
        |)
        |SELECT (SELECT COUNT(*) FROM s) AS n_sample,
        |  n_pairs, n_concordant, n_discordant, n_tied,
        |  CAST(CASE WHEN n_concordant >= n_discordant
        |    THEN (n_concordant - n_discordant) * 1000000 // n_pairs
        |    ELSE -((n_discordant - n_concordant) * 1000000 // n_pairs)
        |    END AS BIGINT) AS tau_a_ppm
        |FROM agg""".stripMargin,
  )
}
