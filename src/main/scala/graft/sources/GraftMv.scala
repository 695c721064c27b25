package graft.sources

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained MATERIALIZED VIEWS over the versioned
  * warehouse — Databricks' materialized view / Snowflake's dynamic
  * table, built from three pieces the engine already has:
  *
  *  - the CHANGE FEED supplies the deltas: a refresh reads only the
  *    source commits since the last refresh (insert/delete/update
  *    images), never the source table itself — at 100 TB the refresh
  *    cost is proportional to what CHANGED, not to what exists;
  *  - SIGNED folding turns those images into aggregate deltas:
  *    insert/update_postimage contribute +1, delete/update_preimage
  *    contribute -1 — the default SUM+COUNT kind is fully
  *    self-maintainable under deletion this way. MIN/MAX views
  *    (`agg = 'min'/'max'`) fold extremum-of-extrema while a refresh
  *    window holds only inserts, and recompute exactly the
  *    delete-touched groups from the source otherwise (the extremum
  *    row may have died) — partial, loud (`MvInfo.recomputed`), never
  *    silently wrong;
  *  - the TXN-RECORD machinery (the streaming sink's exactly-once
  *    ledger) stores the refresh WATERMARK: each refresh commits the
  *    new MV state tagged `txn = (mv-refresh, sourceVersion)`, so the
  *    watermark is atomic with the data it describes — a crashed or
  *    replayed refresh can never double-apply a delta
  *    ([[GraftVersions.commitTxn]] refuses an epoch the ledger already
  *    holds), and vacuum pins each appId's latest txn record.
  *
  * The MV lands in the substrate's fixed base schema: the grouping
  * key in `doc_id`, the maintained sum in `fp`, the group's live row
  * count in `n_words`, and the MV's name in `title` — i.e. a graft MV
  * maintains
  *
  *   SELECT <key> AS doc_id, '<name>' AS title,
  *          SUM(<sum>) AS fp, COUNT(*) AS n_words
  *   FROM <source> GROUP BY <key>
  *
  * with `<key>`/`<sum>` deterministic BIGINT expressions over the
  * base columns (validated at CREATE exactly like generation
  * expressions). COMPOSITE keys (`key2Expr`) put the second key
  * column in `title` as its canonical decimal string — GROUP BY
  * <key>, <key2>. DECIMAL(p ≤ 18, s) sum expressions are maintained
  * EXACTLY: `fp` stores the unscaled value (× 10^s) and the rewrite
  * re-scales through MakeDecimal, with the fold raising loudly if a
  * group's unscaled sum ever leaves the BIGINT range. Groups whose
  * count reaches zero are DELETED from the MV — the view never
  * carries tombstones.
  *
  * Scale shape: the CDF scan is pruned to the refresh range, the
  * delta aggregation shuffles only changed rows, and the rewrite cost
  * is |MV| (the aggregate, not the corpus). The rewrite is a full
  * swap of the MV's (small) file set rather than a keyed merge — the
  * MV's own history face therefore shows one compact commit per
  * refresh, and time travel over the MV replays refresh states.
  *
  * Capability extension beyond the reference: the notebook
  * (/root/reference/Assignment-python.py:61) caches its one reused
  * aggregate per run; an MV is that same instinct made durable,
  * versioned, and incrementally maintained across runs.
  */
object GraftMv {

  /** One ledger per MV table: the txn appId under which every
    * create/refresh commit records the source version it folded. */
  val AppId = "graft-mv-refresh"

  final case class MvInfo(sourceVersion: Long, groups: Long,
      applied: Long, mvVersion: Long, refreshed: Boolean,
      // MIN/MAX views only: groups a delete forced to recompute from
      // the source this refresh (0 on the append-only fast path)
      recomputed: Long = 0L)

  /** The aggregate kinds the substrate maintains. SUM folds signed
    * deltas and is fully self-maintainable; MIN/MAX fold incrementally
    * while a refresh window holds only INSERTS (extremum-of-extrema)
    * and fall back to recomputing exactly the DELETE-TOUCHED groups
    * from the source (loud, partial, never silently wrong) — the
    * standard non-distributive-aggregate contract. */
  val AggKinds: Set[String] = Set("sum", "min", "max")

  /** Validate a CREATE-time expression the same way generated columns
    * are validated (GraftCatalog): resolves against the BASE schema
    * only (base columns can never be renamed/dropped, so the persisted
    * text stays resolvable forever), deterministic, casts to BIGINT.
    * Null SAFETY is a runtime guard instead ([[guarded]]): Spark marks
    * every `%`/`/` nullable (null-on-zero-divisor in non-ANSI mode),
    * so a static non-null proof would reject `doc_id % 5` — the guard
    * raises on an actual null rather than silently merging groups or
    * corrupting the signed fold. */
  private def validated(spark: SparkSession, what: String, sql: String)
      : org.apache.spark.sql.types.DataType = {
    val analyzed =
      try spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](),
          GraftDocsSource.schema)
        .select(expr(sql).cast("long").as("x"), expr(sql).as("t"))
        .queryExecution.analyzed
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalArgumentException(
            s"mv $what expression ($sql) must resolve against the base " +
              s"columns (${GraftDocsSource.schema.fieldNames.mkString(", ")})" +
              s": ${e.getMessage}")
      }
    require(analyzed.expressions.forall(_.deterministic),
      s"mv $what expression ($sql) must be deterministic")
    // the expression's OWN analyzed type (pre-cast) — DECIMAL sums
    // switch the substrate to exact unscaled storage off this
    analyzed.schema("t").dataType
  }

  /** Fail a refresh loudly when a key/sum expression evaluates to
    * NULL on a real row — the alternatives (merging null keys into
    * one group, dropping the addend) are both silent corruption. */
  private def guarded(e: org.apache.spark.sql.Column, what: String)
      : org.apache.spark.sql.Column =
    when(e.isNull, raise_error(lit(
      s"mv $what expression evaluated to NULL; materialized views " +
        "require non-null keys and addends"))).otherwise(e)

  /** Reject aggregates nested inside the key/value EXPRESSIONS. The
    * expressions are per-row; the engine applies the declared
    * aggregate kind (sum/min/max + count) itself — a user pasting
    * `min(n_words)` into the value slot must fail loudly, not fold
    * garbage. */
  private def rejectNonMaintainable(sql: String): Unit = {
    val lowered = sql.toLowerCase(java.util.Locale.ROOT)
    Seq("min(", "max(", "avg(", "count(", "sum(", "first(", "last(",
        "percentile", "stddev", "variance").foreach { agg =>
      require(!lowered.contains(agg),
        s"mv expressions are per-row (the engine applies the declared " +
          s"aggregate itself); '$sql' contains an aggregate — declare " +
          "the kind via create_mv's agg parameter instead")
    }
  }

  private def extremum(agg: String)(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    if (agg == "min") min(c) else max(c)

  /** The internal key column names: composite views key on (k, k2). */
  private def keyCols(composite: Boolean): Seq[String] =
    if (composite) Seq("k", "k2") else Seq("k")

  /** The per-row addend as a BIGINT: integral (and legacy
    * castable-to-long) sums cast directly; DECIMAL(p ≤ 18, s) sums
    * store the exact UNSCALED value — value × 10^s through a decimal
    * multiply (exact: the product's fraction is zero, so the final
    * cast truncates nothing, and p ≤ 18 keeps it inside BIGINT). */
  private def sumCol(sumExpr: String, scale: Option[Int])
      : org.apache.spark.sql.Column =
    guarded(scale match {
      case None => expr(sumExpr).cast("long")
      case Some(s) =>
        (expr(sumExpr) * lit(java.math.BigDecimal.ONE.movePointRight(s)))
          .cast("long")
    }, "sum")

  /** The per-row key columns (guarded non-null BIGINT). */
  private def keySelect(keyExpr: String, key2Expr: Option[String])
      : Seq[org.apache.spark.sql.Column] =
    Seq(guarded(expr(keyExpr).cast("long"), "key").as("k")) ++
      key2Expr.map(k2 =>
        guarded(expr(k2).cast("long"), "key2").as("k2")).toSeq

  /** The signed per-row delta frame for a CDF slice: +1 for rows
    * entering the view, -1 for rows leaving it. */
  private def signedDeltas(changes: DataFrame, keyExpr: String,
      key2Expr: Option[String], sumExpr: String,
      sumScale: Option[Int]): DataFrame = {
    val sign = when(col("_change_type")
      .isin("insert", "update_postimage"), 1L).otherwise(-1L)
    changes.select(keySelect(keyExpr, key2Expr) ++ Seq(
      (sign * sumCol(sumExpr, sumScale)).as("s"),
      sign.as("c")): _*)
  }

  /** Shape a grouped (k[, k2], s, c) frame into final MV rows,
    * dropping dead groups. Composite views store the SECOND key in
    * `title` as its canonical decimal string (the substrate schema is
    * fixed; the string render of a guarded-non-null BIGINT inverts
    * exactly); single-key views keep the MV name there. The
    * substrate's `n_words` column is INT: a group whose live count
    * exceeds Int.MaxValue would wrap silently under a bare cast (the
    * `c > 0` filter runs on the LONG, so the negative wrap survives
    * it) — reachable at the 100TB scale the view targets, so raise
    * instead of truncating (r16 ADVICE). */
  private def finalizeRows(name: String, composite: Boolean,
      grouped: DataFrame): DataFrame =
    grouped.filter(col("c") > 0L)
      .select(col("k").as("doc_id"),
        (if (composite) col("k2").cast("string")
         else lit(name)).as("title"),
        col("s").as("fp"),
        when(col("c") > Int.MaxValue.toLong,
          raise_error(concat(lit("mv group count overflows the INT " +
            "n_words column for key "), col("k").cast("string")))
            .cast("int"))
          .otherwise(col("c").cast("int")).as("n_words"))

  /** SUM of the signed addends per group. DECIMAL views accumulate in
    * DECIMAL(38,0) and RAISE when a group's unscaled sum leaves the
    * BIGINT storage range — silent wraparound would corrupt the exact
    * contract (same policy as the INT count guard). Integral views
    * keep the plain BIGINT sum (the pre-existing contract). */
  private def summed(deltas: DataFrame, composite: Boolean,
      decimalSum: Boolean): DataFrame = {
    val kc = keyCols(composite)
    if (!decimalSum)
      deltas.groupBy(kc.head, kc.tail: _*)
        .agg(sum("s").as("s"), sum("c").as("c"))
    else
      deltas.groupBy(kc.head, kc.tail: _*)
        .agg(sum(col("s").cast("decimal(38,0)")).as("sd"),
          sum("c").as("c"))
        .select(kc.map(col) ++ Seq(
          when(abs(col("sd")) > lit(Long.MaxValue),
            raise_error(concat(lit("mv decimal sum overflows the " +
              "BIGINT unscaled storage for key "),
              col("k").cast("string"))).cast("decimal(38,0)"))
            .otherwise(col("sd")).cast("long").as("s"),
          col("c")): _*)
  }

  /** Aggregate a SIGNED (k[, k2], s, c) delta frame into final MV
    * rows — the SUM kind's fold. */
  private def fold(name: String, deltas: DataFrame,
      composite: Boolean = false, decimalSum: Boolean = false)
      : DataFrame =
    finalizeRows(name, composite, summed(deltas, composite, decimalSum))

  /** Land `rows` as the MV's new live snapshot — one file, sorted on
    * the key — in ONE replace-all commit that `commit` makes from the
    * staged entries ([[GraftVersions.stageRewrite]]); returns the commit
    * plus the landed group count (read off the manifest's own row
    * counters — no extra job), or None when `commit` lands nothing (a
    * replayed refresh). */
  private def swapIn(root: Path, rows: DataFrame)(
      commit: Seq[GraftVersions.FileEntry] => Option[GraftVersions.VersionInfo])
      : Option[(GraftVersions.VersionInfo, Long)] = {
    val landed = GraftVersions.stageRewrite(root,
      rows.coalesce(1).sortWithinPartitions("doc_id"))
    commit(landed).map(v => (v, landed.flatMap(_.rows).sum))
  }

  /** The commit of a swap that moves the watermark to `epoch`:
    * REPLACE-ALL (removed = None) under a WATERMARK CAS. Each refresh
    * lands the COMPLETE view state for its epoch, computed from
    * (state-at-watermark-W + deltas (W, epoch]). That is only the
    * complete state if W is STILL the ledger head when the commit lands
    * — a racing refresh that moved the watermark in between already
    * folded part of our delta range, and replacing its state with ours
    * would double-apply that range. `expectWatermark` makes commitTxn
    * reject exactly that interleaving (ConcurrentCommitException →
    * [[refresh]] re-plans); epoch idempotence still absorbs true
    * replays of the same range. */
  private def ledgered(root: Path, op: String, epoch: Long,
      expectWatermark: Option[Option[Long]])(
      added: Seq[GraftVersions.FileEntry]): Option[GraftVersions.VersionInfo] =
    GraftVersions.commitTxn(root, op, removed = None, added = added,
      appId = AppId, epoch = epoch, expectLastEpoch = expectWatermark)

  private def pathReader(spark: SparkSession, dir: Path) =
    spark.read.format("graft.sources.GraftDocsSource")
      .option("path", dir.toString)

  /** The table at `dir` as of `version`: a lazy frame no later commit
    * can move, whenever it executes. */
  private def pinned(spark: SparkSession, dir: Path, version: Long)
      : DataFrame =
    pathReader(spark, dir).option("versionAsOf", version.toString).load()

  /** The head version of a create's input table, which the seed pins. */
  private def headVersion(table: Path, what: String): Long = {
    val head = GraftVersions.latest(table)
    require(head.isDefined, s"$what must be a versioned table")
    head.get.version
  }

  /** CREATE's shared tail: make the view directory (this call owns it,
    * so it may delete it), write the view's properties, land `seed` as
    * the first commit with the ledger opened at `epoch`, and register
    * the view on each of `dependsOn`'s `mv.dependents`. The group count
    * is read off the landed manifest's row counters. An error raised
    * while the seed executes (a fold's overflow raise, say) surfaces
    * inside that first commit; the directory is then deleted before the
    * error is rethrown, so the name stays free. */
  private def createView(mv: Path, name: String,
      props: Map[String, String], seed: DataFrame, epoch: Long,
      dependsOn: Seq[Path]): MvInfo = {
    try Files.createDirectory(mv)
    catch { case _: java.nio.file.FileAlreadyExistsException =>
      throw new IllegalArgumentException(s"mv target $mv already exists") }
    val (info, groups) =
      try {
        GraftVersions.enable(mv)
        GraftTableMeta.write(mv, props)
        swapIn(mv, seed)(ledgered(mv, "mv-create", epoch,
          expectWatermark = Some(None)))
          .getOrElse(throw new IllegalStateException(
            s"fresh mv ledger at $mv already held epoch $epoch"))
      } catch { case e: Throwable =>
        try org.apache.commons.io.FileUtils.deleteDirectory(mv.toFile)
        catch { case io: java.io.IOException => e.addSuppressed(io) }
        throw e
      }
    // registration is a read-modify-write of each table's property
    // file: run it under that table's commit lock so two concurrent
    // creates on one table can't lose each other's mv.dependents entry.
    // `.distinct` absorbs a view naming one table twice.
    dependsOn.distinct.foreach { tbl =>
      GraftVersions.withTableLock(tbl) {
        val p = GraftTableMeta.read(tbl)
        val joined = p.get("mv.dependents")
          .map(_ + "," + name).getOrElse(name)
        GraftTableMeta.write(tbl, p + ("mv.dependents" -> joined))
      }
    }
    MvInfo(epoch, groups, applied = groups, info.version, refreshed = true)
  }

  /** CREATE MATERIALIZED VIEW: seed the aggregate from the source's
    * live snapshot at its head version `before`, and open the refresh
    * ledger at `before`.
    *
    * The seed reads the live snapshot (not the change feed, so a
    * source whose early history was vacuumed can still seed), pinned to
    * `before` with `versionAsOf`: a source commit landing while the
    * seed executes cannot leak in, and the seed is exactly the source
    * at the watermark the ledger records. Such a commit is folded by
    * the next refresh; until then the view is not fresh, and
    * `MvRewriteRule` does not answer live scans from it. With
    * `auto = true` the MV registers itself on the source's
    * `mv.dependents` list and every subsequent source data commit pays
    * an inline refresh ([[maybeAutoRefresh]]) — Delta autoOptimize
    * semantics applied to view maintenance. */
  def create(spark: SparkSession, srcName: String, src: Path, mv: Path,
      name: String, keyExpr: String, sumExpr: String,
      auto: Boolean = false, agg: String = "sum",
      key2Expr: Option[String] = None): MvInfo = {
    val before = headVersion(src, s"mv source $src")
    require(AggKinds(agg),
      s"mv aggregate kind '$agg' not supported (have: " +
        s"${AggKinds.mkString(", ")})")
    rejectNonMaintainable(keyExpr); rejectNonMaintainable(sumExpr)
    key2Expr.foreach(rejectNonMaintainable)
    validated(spark, "key", keyExpr)
    key2Expr.foreach(validated(spark, "key2", _))
    // a DECIMAL sum switches the substrate to exact unscaled storage;
    // precision must fit BIGINT or the view cannot round-trip exactly
    val sumScale = validated(spark, "sum", sumExpr) match {
      case d: org.apache.spark.sql.types.DecimalType =>
        require(d.precision <= 18,
          s"mv decimal sum ($sumExpr) has precision ${d.precision} > " +
            "18 — its unscaled values cannot round-trip through the " +
            "view's BIGINT storage exactly; cast to a narrower DECIMAL")
        require(agg == "sum",
          "decimal sum expressions support agg='sum' only")
        Some(d.scale)
      case _ => None
    }
    val composite = key2Expr.isDefined
    require(!composite || agg == "sum",
      "composite-key views support agg='sum' only")
    // seed from the live snapshot: every live row enters the view
    val kc = keyCols(composite)
    val base = pinned(spark, src, before)
      .select(keySelect(keyExpr, key2Expr) :+
        sumCol(sumExpr, sumScale).as("s"): _*)
    val seed = finalizeRows(name, composite,
      if (agg == "sum")
        summed(base.withColumn("c", lit(1L)), composite,
          sumScale.isDefined)
      else
        base.groupBy(kc.head, kc.tail: _*)
          .agg(extremum(agg)(col("s")).as("s"), count(lit(1)).as("c")))
    createView(mv, name, Map(
      "mv.name" -> name, "mv.source" -> srcName,
      "mv.key" -> keyExpr, "mv.sum" -> sumExpr, "mv.agg" -> agg) ++
      key2Expr.map("mv.key2" -> _).toMap ++
      sumScale.map(s => "mv.sum.scale" -> s.toString).toMap,
      seed, before, if (auto) Seq(src) else Nil)
  }

  /** REFRESH: fold the source commits since the recorded watermark
    * into the view — exactly-once, catch-up, no source scan.
    *
    * Reads the ledger's watermark W and the source's current version
    * S; when S > W the change feed is read PINNED to [W+1, S]
    * (`endingVersion` — a source commit landing mid-refresh cannot
    * leak in; the next refresh picks it up), signed-folded together
    * with the current MV rows, and swapped in under `txn = (appId,
    * S)`. A replayed refresh (crash recovery, two racing callers)
    * finds the ledger already at S and lands nothing; one that loses
    * the watermark CAS to a racer re-plans from the new watermark, 3
    * attempts in all ([[GraftVersions.retryOnConflict]]). A source
    * vacuumed past W+1 fails loudly on the feed read (the expired-range
    * guard) rather than silently skipping deltas — re-create the MV in
    * that case. */
  def refresh(spark: SparkSession, mv: Path,
      resolveSource: String => Path): MvInfo =
    GraftVersions.retryOnConflict {
      val props = GraftTableMeta.read(mv)
      if (!props.contains("mv.name")) throw new IllegalStateException(
        s"$mv is not a materialized view (no mv.name property)")
      if (props.contains("mv.dim") || props.contains("mv.dims"))
        refreshJoin(spark, mv, props, resolveSource)
      else refreshAgg(spark, mv, props, resolveSource)
    }

  /** The view's live group count, off its manifest's row counters. */
  private def liveGroups(mv: Path): Long = GraftVersions.latest(mv)
    .map(_.entries.flatMap(_.liveRows).sum).getOrElse(0L)

  /** The change feed of `src` over (w, s]. */
  private def changeFeed(spark: SparkSession, src: Path, w: Long, s: Long)
      : DataFrame =
    pathReader(spark, src)
      .option("readChangeFeed", "true")
      .option("startingVersion", (w + 1).toString)
      .option("endingVersion", s.toString).load()

  /** A delta range (w, s] that held only no-row commits (pruned
    * eq-deletes, empty epochs) advances the watermark as a METADATA-only
    * commit — keep every file, ledger the new epoch, write no data. The
    * CAS still applies: "keep every file" is only right if no racer
    * replaced the file set after W was read. */
  private def advanceWatermark(mv: Path, w: Long, s: Long,
      mvVersion: Long): MvInfo =
    GraftVersions.commitTxn(mv, "mv-refresh",
      removed = Some(Set.empty), added = Nil, appId = AppId,
      epoch = s, expectLastEpoch = Some(Some(w))) match {
      case Some(info) =>
        MvInfo(s, liveGroups(mv), applied = 0L, info.version,
          refreshed = true)
      case None => replayedInfo(mv, s, mvVersion)
    }

  /** The single-table (GROUP BY over one source) refresh. */
  private def refreshAgg(spark: SparkSession, mv: Path,
      props: Map[String, String], resolveSource: String => Path): MvInfo = {
    val name = props("mv.name")
    val src = resolveSource(props("mv.source"))
    val keyExpr = props("mv.key"); val sumExpr = props("mv.sum")
    val key2Expr = props.get("mv.key2")
    val sumScale = props.get("mv.sum.scale").map(_.toInt)
    val composite = key2Expr.isDefined
    // (watermark, mv snapshot) must be a CONSISTENT pair: the fold
    // below reads "state as of W" + "deltas (W, S]", so reading the
    // ledger and the snapshot version non-atomically (a racing refresh
    // committing in between) would pair W with a state that already
    // folded part of (W, S]. One lock acquisition makes the pair
    // coherent; the commit-time CAS in ledgered covers every race AFTER
    // this point (r16 ADVICE high).
    val (w, mvVersion) = GraftVersions.withTableLock(mv) {
      (GraftVersions.lastTxnEpoch(mv, AppId)
        .getOrElse(throw new IllegalStateException(
          s"mv $mv has no refresh ledger (vacuumed past every txn " +
            "record?); re-create the view")),
        GraftVersions.latest(mv).map(_.version).getOrElse(0L))
    }
    val s = GraftVersions.latest(src).map(_.version)
      .getOrElse(throw new IllegalStateException(
        s"mv source $src is no longer a versioned table"))
    if (s <= w)
      return MvInfo(w, liveGroups(mv), applied = 0L, mvVersion,
        refreshed = false)
    val changes = changeFeed(spark, src, w, s)
    val applied = changes.count()
    if (applied == 0L) return advanceWatermark(mv, w, s, mvVersion)
    // current state PINNED to the snapshot observed with W: the frame
    // is lazy and executes inside swapIn's write job — an unpinned
    // read would see whatever state a racing refresh lands in between,
    // double-applying its delta range even though W was read first
    val current = pinned(spark, mv, mvVersion)
      .select(Seq(col("doc_id").as("k")) ++
        (if (composite) Seq(col("title").cast("long").as("k2"))
         else Nil) ++ Seq(col("fp").as("s"),
        col("n_words").cast("long").as("c")): _*)
    val aggKind = props.getOrElse("mv.agg", "sum")
    val (refreshed, nRecomputed) =
      if (aggKind == "sum")
        (fold(name, current.unionByName(
          signedDeltas(changes, keyExpr, key2Expr, sumExpr, sumScale)),
          composite, sumScale.isDefined),
          0L)
      else {
        // MIN/MAX: extremum-of-extrema folds INSERTS incrementally;
        // a delete can retire the extremum row itself, so every
        // delete-touched group is recomputed from the SOURCE pinned
        // at s — partial (only those groups), loud (count reported),
        // never silently wrong. Dead groups simply produce no source
        // rows and drop out of the view. (MIN/MAX views are
        // single-key integral by the create contract.)
        val keyed = changes.select(
          guarded(expr(keyExpr).cast("long"), "key").as("k"),
          guarded(expr(sumExpr).cast("long"), "sum").as("s"),
          col("_change_type").isin("delete", "update_preimage").as("neg"))
        val affected = keyed.filter(col("neg")).select("k").distinct()
        val nAffected = affected.count()
        val insAgg = keyed.filter(!col("neg")).select("k", "s")
          .groupBy("k")
          .agg(extremum(aggKind)(col("s")).as("s"), count(lit(1)).as("c"))
        val unaffected = current.unionByName(insAgg)
          .join(affected, Seq("k"), "left_anti")
          .groupBy("k")
          .agg(extremum(aggKind)(col("s")).as("s"), sum("c").as("c"))
        val recomputed = pinned(spark, src, s)
          .select(guarded(expr(keyExpr).cast("long"), "key").as("k"),
            guarded(expr(sumExpr).cast("long"), "sum").as("s"))
          .join(affected, Seq("k"), "left_semi")
          .groupBy("k")
          .agg(extremum(aggKind)(col("s")).as("s"), count(lit(1)).as("c"))
        (finalizeRows(name, composite = false,
          unaffected.unionByName(recomputed)),
          nAffected)
      }
    swapIn(mv, refreshed)(ledgered(mv, "mv-refresh", epoch = s,
      expectWatermark = Some(Some(w)))) match {
      case Some((info, groups)) =>
        MvInfo(s, groups, applied, info.version, refreshed = true,
          recomputed = nRecomputed)
      case None => // replayed epoch: the ledger moved under us
        replayedInfo(mv, s, mvVersion)
    }
  }

  /** The MvInfo a refresh reports when the ledger already held its
    * epoch: the no-op path means SOMEONE ELSE advanced the view, so
    * the returned (watermark, version) pair must be re-read from the
    * ledger — the racer may have moved PAST our target epoch, and
    * reporting our stale `s` would pair a lagging watermark with the
    * racer's newer state (r17 ADVICE). The lock makes the re-read pair
    * coherent. */
  private def replayedInfo(mv: Path, epoch: Long, seenVersion: Long)
      : MvInfo = {
    val (w2, v2) = GraftVersions.withTableLock(mv) {
      (GraftVersions.lastTxnEpoch(mv, AppId).getOrElse(epoch),
        GraftVersions.latest(mv).map(_.version).getOrElse(seenVersion))
    }
    MvInfo(w2, liveGroups(mv), applied = 0L, v2, refreshed = false)
  }

  // ------------------------------------------------------------------
  // JOIN (SPJG) views: aggregate over fact INNER-JOIN dim
  // ------------------------------------------------------------------

  /** A join view's normalized shape, decoded from its persisted
    * properties — one code path serves both the legacy two-table
    * format (`mv.dim`, alias `d`) and the N-dim chain format
    * (`mv.dims` csv, aliases `d1..dN`, per-index join conditions and
    * watermark keys). Shared with the rewrite rule. */
  private[graft] final case class JoinViewSpec(factName: String,
      dims: Seq[String], aliases: Seq[String],
      conds: Seq[(String, String)], watermarkKeys: Seq[String])

  private[graft] def joinViewSpec(props: Map[String, String])
      : Option[JoinViewSpec] =
    if (props.contains("mv.dims")) {
      val dims = props("mv.dims").split(",").toSeq.map(_.trim)
      Some(JoinViewSpec(props("mv.source"), dims,
        dims.indices.map(i => s"d${i + 1}"),
        dims.indices.map(i => (props(s"mv.join.${i + 1}.left"),
          props(s"mv.join.${i + 1}.right"))),
        dims.indices.map(i => s"mv.dim.${i + 1}.watermark")))
    } else props.get("mv.dim").map { d =>
      JoinViewSpec(props("mv.source"), Seq(d), Seq("d"),
        Seq((props("mv.factkey"), props("mv.dimkey"))),
        Seq("mv.dim.watermark"))
    }

  /** Validate a join-view expression against the multi-sided schema:
    * resolves against the given aliases of the BASE schema (every
    * expression MUST qualify its columns — the sides share column
    * names), deterministic, casts to BIGINT. Join condition i is
    * validated against the PREFIX f, d1..di only, so a condition
    * reaching forward to a later dim fails at CREATE, not at the
    * first refresh. */
  private def validatedJoin(spark: SparkSession, what: String,
      sql: String, aliases: Seq[String]): Unit = {
    def empty = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      GraftDocsSource.schema)
    val probe = aliases.tail.foldLeft(empty.alias(aliases.head))(
      (acc, a) => acc.crossJoin(empty.alias(a)))
    val analyzed =
      try probe.select(expr(sql).cast("long").as("x"))
        .queryExecution.analyzed
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalArgumentException(
            s"join-mv $what expression ($sql) must resolve against " +
              s"${aliases.map(_ + ".<col>").mkString(" / ")} over the " +
              "base columns (" +
              s"${GraftDocsSource.schema.fieldNames.mkString(", ")})" +
              s": ${e.getMessage}")
      }
    require(analyzed.expressions.forall(_.deterministic),
      s"join-mv $what expression ($sql) must be deterministic")
  }

  /** The join view's per-row (k, s, c) frame: fact rows (or fact CDF
    * images) inner-joined left-deep through every dim snapshot,
    * keyed/valued by the persisted alias-qualified expressions,
    * signed by `sign`. The dim sides are always PINNED by the
    * caller — insert and delete images must join against identical
    * dim state or the signed fold would not cancel. */
  private def joinedRows(fact: DataFrame, dims: Seq[DataFrame],
      aliases: Seq[String], conds: Seq[(String, String)],
      keyExpr: String, sumExpr: String,
      sign: org.apache.spark.sql.Column): DataFrame = {
    val joined = dims.zipWithIndex.foldLeft(fact.alias("f")) {
      case (acc, (d, i)) =>
        acc.join(d.alias(aliases(i)),
          expr(s"(${conds(i)._1}) = (${conds(i)._2})"), "inner")
    }
    joined.select(
      guarded(expr(keyExpr).cast("long"), "key").as("k"),
      (sign * guarded(expr(sumExpr).cast("long"), "sum")).as("s"),
      sign.as("c"))
  }

  private def cdfSign: org.apache.spark.sql.Column =
    when(col("_change_type").isin("insert", "update_postimage"), 1L)
      .otherwise(-1L)

  /** A join view's full state at one pinned tuple (fact@fv ⋈ each
    * dim@its version): the seed of a create and the recompute of a
    * reseed. */
  private def joinSeed(spark: SparkSession, name: String, fact: Path,
      fv: Long, dims: Seq[(Path, Long)], aliases: Seq[String],
      conds: Seq[(String, String)], keyExpr: String, sumExpr: String)
      : DataFrame =
    fold(name, joinedRows(pinned(spark, fact, fv),
      dims.map { case (p, v) => pinned(spark, p, v) },
      aliases, conds, keyExpr, sumExpr, lit(1L)))

  /** CREATE a JOIN MATERIALIZED VIEW (the SPJG class — the league
    * table's aggregate-over-join shape): maintains
    *
    *   SELECT <key> AS doc_id, '<name>' AS title,
    *          SUM(<sum>) AS fp, COUNT(*) AS n_words
    *   FROM <fact> f INNER JOIN <dim> d ON <factKey> = <dimKey>
    *   GROUP BY <key>
    *
    * with all four expressions f./d.-qualified SQL over the base
    * columns. The seed is the join of the fact at its head version
    * `fBefore` with the dim at its head version `dBefore`, both pinned
    * with `versionAsOf`; the ledger opens at `fBefore` and the dim
    * watermark at `dBefore`. Commits landing on either side after that
    * are folded (fact) or reseeded (dim) by the next refresh; until
    * then `MvRewriteRule` refuses the view as not fresh. Maintenance
    * contract: FACT deltas fold incrementally
    * (the fact CDF slice inner-joined to the dim state the view was
    * built against — cost ∝ fact delta); any DIM movement triggers a
    * full RESEED at the next refresh (a dim row can rewrite every
    * joined row it touches — loud via `MvInfo.recomputed`, never
    * silently wrong). With `auto = true` the view registers on BOTH
    * tables' `mv.dependents`, so fact commits pay the fold and dim
    * commits pay the reseed inline — without the dim-side entry a
    * dim-heavy workload would lose the rewrite until the next fact
    * commit. The fact watermark rides the txn ledger; the
    * dim watermark rides the `mv.dim.watermark` property, written
    * only AFTER its state commits (a crash between the two leaves the
    * property stale → the next refresh reseeds again: wasteful, not
    * wrong). */
  def createJoin(spark: SparkSession, factName: String, fact: Path,
      dimName: String, dim: Path, mv: Path, name: String,
      factKey: String, dimKey: String, keyExpr: String, sumExpr: String,
      auto: Boolean = false): MvInfo = {
    val fBefore = headVersion(fact, s"join-mv fact $fact")
    val dBefore = headVersion(dim, s"join-mv dim $dim")
    Seq("fact-key" -> factKey, "dim-key" -> dimKey, "key" -> keyExpr,
      "sum" -> sumExpr).foreach { case (what, sql) =>
      rejectNonMaintainable(sql)
      validatedJoin(spark, what, sql, Seq("f", "d"))
    }
    createView(mv, name, Map(
      "mv.name" -> name, "mv.source" -> factName, "mv.dim" -> dimName,
      "mv.factkey" -> factKey, "mv.dimkey" -> dimKey,
      "mv.key" -> keyExpr, "mv.sum" -> sumExpr,
      "mv.dim.watermark" -> dBefore.toString),
      joinSeed(spark, name, fact, fBefore, Seq(dim -> dBefore), Seq("d"),
        Seq((factKey, dimKey)), keyExpr, sumExpr),
      fBefore, if (auto) Seq(fact, dim) else Nil)
  }

  /** CREATE a CHAIN JOIN MATERIALIZED VIEW: the N-dim generalization
    * of [[createJoin]] — maintains
    *
    *   SELECT <key>, SUM(<sum>), COUNT(*)
    *   FROM <fact> f JOIN <dim1> d1 ON <l1> = <r1>
    *                 JOIN <dim2> d2 ON <l2> = <r2> ...
    *   GROUP BY <key>
    *
    * (a left-deep chain of INNER equi-joins: snowflakes like
    * fact⋈dim⋈dim — the reference's full league-table shape,
    * orders⋈customer⋈nation, Assignment-python.py:183-185 → :257).
    * Condition i may reference f and any EARLIER dim (validated
    * against the prefix). As in [[createJoin]], the seed joins every
    * side pinned at its head version; the ledger opens at the fact's
    * and each `mv.dim.<i>.watermark` at its dim's, and later commits
    * are left to the next refresh. Fact deltas fold incrementally
    * against ALL pinned dims; movement of ANY dim reseeds.
    * `auto = true` registers on the fact and every dim. Role-playing
    * dims (one table joined twice) are rejected — the rewrite's
    * name-keyed side matching cannot disambiguate them. */
  def createChain(spark: SparkSession, factName: String, fact: Path,
      dims: Seq[(String, Path)], conds: Seq[(String, String)],
      mv: Path, name: String, keyExpr: String, sumExpr: String,
      auto: Boolean = false): MvInfo = {
    require(dims.nonEmpty && dims.size == conds.size,
      "createChain needs one join condition per dim")
    require((factName +: dims.map(_._1)).distinct.size == dims.size + 1,
      "chain-mv sides must be distinct tables (role-playing dims are " +
        "not supported)")
    val fBefore = headVersion(fact, s"chain-mv fact $fact")
    val dBefore = dims.map { case (n, p) =>
      headVersion(p, s"chain-mv dim $n ($p)")
    }
    val aliases = dims.indices.map(i => s"d${i + 1}")
    conds.zipWithIndex.foreach { case ((l, r), i) =>
      rejectNonMaintainable(l); rejectNonMaintainable(r)
      val prefix = "f" +: aliases.take(i + 1)
      validatedJoin(spark, s"join-${i + 1}-left", l, prefix)
      validatedJoin(spark, s"join-${i + 1}-right", r, prefix)
    }
    Seq("key" -> keyExpr, "sum" -> sumExpr).foreach { case (what, sql) =>
      rejectNonMaintainable(sql)
      validatedJoin(spark, what, sql, "f" +: aliases)
    }
    createView(mv, name, Map(
      "mv.name" -> name, "mv.source" -> factName,
      "mv.dims" -> dims.map(_._1).mkString(","),
      "mv.key" -> keyExpr, "mv.sum" -> sumExpr) ++
      conds.zipWithIndex.flatMap { case ((l, r), i) => Seq(
        s"mv.join.${i + 1}.left" -> l, s"mv.join.${i + 1}.right" -> r)
      }.toMap ++
      dims.indices.map(i =>
        s"mv.dim.${i + 1}.watermark" -> dBefore(i).toString).toMap,
      joinSeed(spark, name, fact, fBefore, dims.map(_._2).zip(dBefore),
        aliases, conds, keyExpr, sumExpr),
      fBefore, if (auto) fact +: dims.map(_._2) else Nil)
  }

  /** REFRESH a join view (legacy two-table or N-dim chain — one code
    * path via [[joinViewSpec]]): fact deltas fold incrementally
    * against the pinned dim watermarks; ANY moved dim triggers the
    * full reseed.
    * Audit contract: a RESEED always reports `applied = 0` — any fact
    * deltas in the window are subsumed by the recompute (which never
    * reads the CDF, so a vacuumed fact range cannot fail it) — and
    * `recomputed` carries the work (= the reseeded group count). */
  private def refreshJoin(spark: SparkSession, mv: Path,
      props0: Map[String, String], resolveSource: String => Path)
      : MvInfo = {
    val name = props0("mv.name")
    val spec = joinViewSpec(props0).getOrElse(
      throw new IllegalStateException(s"$mv is not a join view"))
    val fact = resolveSource(spec.factName)
    val dimPaths = spec.dims.map(resolveSource)
    val keyExpr = props0("mv.key"); val sumExpr = props0("mv.sum")
    // one lock acquisition → coherent (fact watermark, dim
    // watermarks, view snapshot) tuple, same reasoning as the
    // single-table path
    val (w, dimWs, mvVersion) = GraftVersions.withTableLock(mv) {
      val p = GraftTableMeta.read(mv)
      (GraftVersions.lastTxnEpoch(mv, AppId)
        .getOrElse(throw new IllegalStateException(
          s"join-mv $mv has no refresh ledger; re-create the view")),
        spec.watermarkKeys.map(k => p(k).toLong),
        GraftVersions.latest(mv).map(_.version).getOrElse(0L))
    }
    val s = GraftVersions.latest(fact).map(_.version)
      .getOrElse(throw new IllegalStateException(
        s"join-mv fact $fact is no longer a versioned table"))
    val dvs = dimPaths.zip(spec.dims).map { case (p, n) =>
      GraftVersions.latest(p).map(_.version)
        .getOrElse(throw new IllegalStateException(
          s"join-mv dim $n ($p) is no longer a versioned table"))
    }
    if (dvs != dimWs) {
      // RESEED: a dim moved — recompute the whole view from the
      // PINNED tuple (fact@s ⋈ dims@dvs). s may equal w (a dim-only
      // change): then the txn ledger stays put and the swap commits
      // through the plain optimistic path instead.
      val rows = joinSeed(spark, name, fact, s, dimPaths.zip(dvs),
        spec.aliases, spec.conds, keyExpr, sumExpr)
      val committed =
        if (s > w) swapIn(mv, rows)(ledgered(mv, "mv-reseed", epoch = s,
          expectWatermark = Some(Some(w))))
        else swapIn(mv, rows)(landed => Some(GraftVersions.advance(mv,
          "mv-reseed", removed = None, added = landed,
          readVersion = Some(mvVersion))))
      committed match {
        case Some((info, groups)) =>
          GraftVersions.withTableLock(mv) {
            GraftTableMeta.write(mv, GraftTableMeta.read(mv) ++
              spec.watermarkKeys.zip(dvs).map { case (k, dv) =>
                k -> dv.toString
              })
          }
          MvInfo(s, groups, applied = 0L, info.version,
            refreshed = true, recomputed = groups)
        case None => replayedInfo(mv, s, mvVersion)
      }
    } else if (s <= w) {
      MvInfo(w, liveGroups(mv), applied = 0L, mvVersion, refreshed = false)
    } else {
      val changes = changeFeed(spark, fact, w, s)
      val applied = changes.count()
      if (applied == 0L) return advanceWatermark(mv, w, s, mvVersion)
      val current = pinned(spark, mv, mvVersion)
        .select(col("doc_id").as("k"), col("fp").as("s"),
          col("n_words").cast("long").as("c"))
      val deltas = joinedRows(changes,
        dimPaths.zip(dimWs).map { case (p, dw) => pinned(spark, p, dw) },
        spec.aliases, spec.conds, keyExpr, sumExpr, cdfSign)
      val refreshed = fold(name, current.unionByName(deltas))
      swapIn(mv, refreshed)(ledgered(mv, "mv-refresh", epoch = s,
        expectWatermark = Some(Some(w)))) match {
        case Some((info, groups)) =>
          MvInfo(s, groups, applied, info.version, refreshed = true)
        case None => replayedInfo(mv, s, mvVersion)
      }
    }
  }

  /** Last swallowed auto-refresh failure in this process (and a count)
    * — the observable face of the catch-and-log policy below, so ops
    * (and tests) can see that a view went stale without grepping logs.
    * Process-local by design: the durable signal is the view's
    * watermark lagging its source, which any process can read. */
  val lastAutoRefreshError =
    new java.util.concurrent.atomic.AtomicReference[String](null)
  val autoRefreshFailures = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Auto-refresh guard: a cyclic dependents graph (an MV registered
    * as a dependent of itself, directly or through a chain) would
    * refresh forever — track the roots on the current commit path. */
  private val refreshing: ThreadLocal[Set[Path]] =
    ThreadLocal.withInitial(() => Set.empty[Path])

  /** Self-maintenance hook ([[GraftVersions.advance]]/`commitTxn`):
    * after a data commit on a table carrying `mv.dependents`, the
    * committing writer pays an inline refresh of each registered view
    * (dependent MVs live beside their source in the same warehouse, so
    * `sibling` resolution needs no catalog). Idempotent and ordered by
    * the ledger, so a hook crash just leaves the view one refresh
    * behind — the next commit (or a manual `refresh_mv`) catches up. */
  def maybeAutoRefresh(src: Path): Unit = {
    val dependents = GraftTableMeta.read(src).get("mv.dependents")
      .toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty).distinct
    if (dependents.isEmpty) return
    val spark = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .getOrElse(throw new IllegalStateException(
        s"auto-refresh of ${dependents.mkString(", ")} needs an active " +
          "SparkSession"))
    val inFlight = refreshing.get()
    require(!inFlight.contains(src.toAbsolutePath),
      s"cyclic mv.dependents chain through $src")
    refreshing.set(inFlight + src.toAbsolutePath)
    // Failure isolation (r16 ADVICE medium): this hook runs AFTER the
    // source commit is durable — a refresh failure (runtime NULL key,
    // CDF range vacuumed past the watermark, cyclic dependents deeper
    // in the chain) must NOT propagate to the writer, or the caller
    // sees a LANDED commit as a failed write (a retry then duplicates
    // data) and every later source commit keeps failing until the view
    // is dropped. Catch, log, leave the view stale — the ledger makes
    // the next manual refresh_mv (or commit) catch up or surface the
    // real error to someone who can act on it.
    try dependents.foreach { dep =>
      val dir = src.resolveSibling(dep)
      if (Files.isDirectory(dir) &&
          GraftTableMeta.read(dir).contains("mv.name"))
        try refresh(spark, dir, n => src.resolveSibling(n))
        catch {
          case scala.util.control.NonFatal(e) =>
            val msg = s"auto-refresh of mv '$dep' after a commit on " +
              s"$src failed; the view is STALE until a manual " +
              s"refresh_mv succeeds: ${e.getMessage}"
            autoRefreshFailures.incrementAndGet()
            lastAutoRefreshError.set(msg)
            org.apache.logging.log4j.LogManager.getLogger(getClass)
              .error(msg)
        }
    } finally refreshing.set(inFlight)
  }
}
