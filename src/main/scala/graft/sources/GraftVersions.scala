package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Snapshot-version log for the warehouse personality — the missing
  * "catalog transaction log" the write path's Scaladoc notes
  * ([[GraftDocsBatchWrite]]): an Iceberg/Delta-shaped manifest layer that
  * makes every committed table state a durable, named, time-travelable
  * SNAPSHOT.
  *
  * Opt-in per table (`TBLPROPERTIES('versioned'='true')` at CREATE, or
  * [[GraftVersions.enable]] on an existing directory). Once enabled:
  *
  *  - every commit (append, overwrite, TRUNCATE, and the per-file
  *    copy-on-write MERGE/UPDATE/DELETE rewrites) writes manifest
  *    `_versions/v%05d.manifest` listing the part files that constitute
  *    the new snapshot — and physically deletes NOTHING: superseded
  *    files stay on disk for older snapshots until [[vacuum]];
  *  - the scan resolves its file list from a manifest (latest, or a
  *    pinned version for `VERSION AS OF` / `TIMESTAMP AS OF`) instead of
  *    the directory listing, so concurrent readers get manifest-level
  *    snapshot isolation: a scan planned mid-commit sees either the old
  *    or the new snapshot, never a half-committed file mix;
  *  - [[vacuum]] (snapshot retention) expires all but the last N
  *    manifests and deletes exactly the part files no retained snapshot
  *    references — commit work and cleanup both proportional to #files,
  *    never a data rewrite.
  *
  * Why this matters for a training-data pipeline: "which exact bytes did
  * run X train on" is answerable forever as `VERSION AS OF n` — the
  * reproducibility contract Delta/Iceberg give a 100 TB corpus, here in
  * its minimal complete form. The reference notebook
  * (/root/reference/Assignment-python.py:134) reads plain immutable
  * files and has no mutation story at all; this is the face its pipeline
  * would need the day the corpus starts being curated in place.
  *
  * Manifest format (one text file per version, written once, never
  * rewritten): line 1 `ts=<epochMicros>\top=<operation>`, then one part
  * file name per line. Commit protocol, two layers: within one JVM a
  * per-table lock serializes writers cheaply; ACROSS processes the
  * version number itself is claimed create-new-fails-if-exists — the
  * fully-written manifest temp is HARD-LINKED onto `v%05d.manifest`
  * (POSIX link(2) is atomic and fails when the target exists, the same
  * primitive Delta's putIfAbsent LogStores and Iceberg's CAS catalogs
  * provide), so two drivers racing a version get exactly one winner;
  * the loser re-reads the log, re-validates conflicts, and retries the
  * next number (bounded). A contended commit's sidecar is written
  * under a nonce-unique name referenced from the manifest header, so
  * a losing or crashed attempt can never clobber the winner's bytes —
  * its debris is unreferenced and vacuum's sweep reclaims it.
  */
object GraftVersions {
  /** A data file in a snapshot, with optional per-file min/max stats
    * for each NUMERIC column — the Iceberg/Delta file-statistics idea
    * in its minimal form: the scan prunes files whose recorded range
    * is disjoint from a pushed predicate on ANY stats-bearing column,
    * so a selective query over a clustered 100 TB table plans a
    * handful of files instead of all of them. A column absent from
    * `stats` (pre-stats manifest line, or a column the writer didn't
    * track) can never prune — absence of stats must always widen,
    * never narrow. An EMPTY file carries `(0, -1)` (min > max) for
    * every tracked column: prunable by every predicate, readable by
    * none the less. */
  final case class FileEntry(name: String, stats: Map[String, (Long, Long)],
      // per-file Bloom filter over `col:value` keys of the table's
      // bloom-enabled columns (GraftTableMeta) — the point-lookup
      // complement to min/max: None (bloom off, or a pre-bloom file)
      // can never prune
      bloom: Option[GraftBloom] = None,
      // physical row count and byte size, recorded at write time — the
      // manifest-resident inputs to SupportsReportStatistics (the CBO
      // sees table sizes without touching storage) and to the "file
      // fully deleted" manifest-drop in the merge-on-read delete path.
      // None on pre-stats manifest lines: statistics degrade to a
      // driver-side Files.size, never to a wrong number.
      rows: Option[Long] = None, bytes: Option[Long] = None,
      // deletion vector: physical row POSITIONS masked out of this file
      // (merge-on-read DELETE) — the file's bytes are immutable, the
      // mask travels in the manifest. None = no deletes.
      dv: Option[GraftDV] = None,
      // bucket id under the table's declared bucket layout
      // (GraftTableMeta.bucketLayout) — every row in this file satisfies
      // doc_id mod n = bucket. What lets the scan group files into
      // bucket-aligned partitions and report KeyGroupedPartitioning for
      // storage-partitioned joins. None = file predates the layout (or
      // the table has none): the scan then degrades to unknown
      // partitioning, never to a wrong grouping.
      bucket: Option[Int] = None,
      // row lineage (Delta row-tracking shape): contiguous SEGMENTS of
      // (baseRowId, physicalRows, sinceCommit) covering this file's
      // physical positions in order — row id of position p in segment k
      // is base_k + (p - segmentStart_k), and sinceCommit_k is the
      // dataChange commit that created those rows. Fresh files carry ONE
      // segment (assigned monotonically from the table's `rowhwm` header
      // at commit time); bin-packing compaction SPLICES its members'
      // segment lists, so ids survive OPTIMIZE without a single per-row
      // byte. A base of -1 marks rows that predate tracking (id = NULL).
      // Nil = untracked file: every row id reads NULL, never a made-up
      // value. Deletion-vector masks never shift physical positions, so
      // MOR deletes preserve surviving rows' ids by construction.
      lineage: Seq[(Long, Long, Long)] = Nil,
      // partition-spec id the file's bucket id was computed under
      // (index into GraftTableMeta.specHistory); None = spec 0, the
      // CREATE-time layout. A bucket id is only meaningful under its
      // own spec, so the scan's layout gate compares this against the
      // current spec before reporting KeyGroupedPartitioning.
      spec: Option[Int] = None,
      // EQUALITY DELETES (Iceberg v2's second delete format): doc_id
      // VALUES masked out of this file — the reader drops any row whose
      // doc_id is in the set. Written by `DELETE WHERE doc_id = v / IN
      // (...)` on a delete.mode=equality table WITHOUT reading one data
      // byte (positions unknown at write time — that is the point: the
      // cheapest possible delete of a key from a 100 TB table). The set
      // attaches only to entries LIVE at the delete commit, so a later
      // re-insert of the same key lands in a fresh entry unaffected —
      // the sequence-number semantics Iceberg gets from ordering, by
      // construction. None = no equality deletes.
      eq: Option[GraftDV] = None,
      // per-column DISTINCT sketches (ndv.columns tables): manifest-
      // resident NDV for DSv2 column statistics — the CBO's join/agg
      // cardinality input. Physical-row sketches (masks don't shrink
      // them): may overcount live distinct, never undercount. None =
      // untracked file (statistics omit the column, never guess).
      ndv: Option[GraftNdv] = None,
      // rows in this file are non-decreasing by doc_id — OBSERVED by
      // the writer (a per-row monotonicity check beside the min/max
      // fold), never assumed from the plan. What lets the scan report
      // a per-partition sort order (SupportsReportOrdering) and a
      // sort-merge join skip its Sort entirely. Masks only drop rows,
      // so the flag survives MOR/equality deletes; false = unknown,
      // the scan then reports nothing (never a wrong order).
      sorted: Boolean = false) {
    /** Can a row with `col` in [lo, hi] possibly live in this file?
      * Stats bound ALL physical rows, so they stay conservative (may
      * overcount, never undercount) for DV-masked files too. */
    def mayContain(col: String, lo: Long, hi: Long): Boolean =
      stats.get(col) match {
        case Some((mn, mx)) => mn <= hi && mx >= lo
        case None => true
      }
    /** Can a row with `col` = value possibly live in this file?
      * (bloom miss = proof of absence; probe only bloom-enabled cols) */
    def mayContainValue(col: String, value: String): Boolean =
      bloom.forall(_.mightContain(GraftBloom.key(col, value)))
    /** Rows a scan of this file returns (physical minus masked).
      * Unknowable under equality deletes — how many physical rows
      * match a VALUE is not a manifest fact — so the answer degrades
      * to None (never a wrong number). */
    def liveRows: Option[Long] =
      if (eq.exists(_.cardinality > 0)) None
      else rows.map(_ - dv.map(_.cardinality.toLong).getOrElse(0L))
    /** One past the highest row id any segment of this file covers —
      * what the commit-time high-water mark must clear. */
    def lineageEnd: Option[Long] = {
      val ends = lineage.collect { case (b, r, _) if b >= 0 => b + r }
      if (ends.isEmpty) None else Some(ends.max)
    }
  }
  object FileEntry {
    val NoStats: Map[String, (Long, Long)] = Map.empty
  }

  /** `dataChange = false` marks a commit that rearranged FILES without
    * changing ROWS (compaction): time travel and live reads treat it
    * like any snapshot, but the change feed emits nothing for it —
    * Delta's dataChange=false contract. Absent in a manifest header
    * (pre-stats logs) it defaults to true. */
  /** `txn` records the (appId, epoch) of an idempotent streaming-sink
    * commit — Delta's SetTransaction action in its minimal form: a
    * replayed micro-batch (failure after sink commit, before the
    * engine's offset-log write) is detected by `epoch <= last recorded
    * epoch for appId` and skipped, which is what turns the sink's
    * at-least-once replay into exactly-once. */
  final case class VersionInfo(version: Long, tsMicros: Long, op: String,
      entries: Seq[FileEntry], dataChange: Boolean = true,
      txn: Option[(String, Long)] = None,
      // row-id high-water mark AFTER this commit (row-tracked tables):
      // the next commit's fresh ids start here. Carried monotonically in
      // the manifest header so id allocation never re-derives from (and
      // never collides with) vacuumed history.
      rowHwm: Option[Long] = None,
      // this commit's sidecar file name under _versions (None = no
      // sidecar payloads, or a pre-claim log using the legacy
      // `v%05d.sidecar` default — readers fall back to it)
      sidecarName: Option[String] = None) {
    def files: Seq[String] = entries.map(_.name)
  }

  /** Another process claimed this version number first (cross-driver
    * race): the caller re-reads the log and retries the next number. */
  private[sources] class VersionContentionException(msg: String)
      extends RuntimeException(msg)

  class NoSuchVersionException(msg: String)
      extends IllegalArgumentException(msg)

  private val DIR = "_versions"
  private val ManifestName = "v(\\d{5,})\\.manifest".r

  private def versionsDir(root: Path): Path = root.resolve(DIR)

  def isVersioned(root: Path): Boolean = Files.isDirectory(versionsDir(root))

  /** Per-table commit lock (normalized absolute path, interned so every
    * writer in this JVM synchronizes on the same object). Exposed
    * within the package so DDL's registry read-modify-writes (ADD/
    * RENAME/DROP COLUMN appending to `_table.properties`) serialize
    * with each other under the same lock as manifest commits. */
  private[sources] def lockFor(root: Path): AnyRef =
    root.toAbsolutePath.normalize().toString.intern()

  /** Run `body` under the table's commit lock — for callers outside
    * this object composing a check with a metadata write (e.g. the tag
    * procedure validating a version, then pinning it) that must not
    * interleave with a commit or vacuum. */
  private[sources] def withTableLock[A](root: Path)(body: => A): A =
    lockFor(root).synchronized(body)

  /** Run a commit body under the JVM table lock WITH cross-process
    * contention retries: `body` re-reads the log on every attempt, so
    * a version another driver claimed in between is absorbed by
    * re-planning against the new head (optimistic-concurrency
    * validation reruns inside the body too — a retry that discovers a
    * REAL conflict still fails with [[ConcurrentCommitException]]).
    * Bounded so a livelocked table fails loudly instead of spinning. */
  private def commitWithRetry[A](root: Path, what: String)(body: => A): A =
    lockFor(root).synchronized {
      var attempt = 0
      while (true) {
        try return body
        catch {
          case e: VersionContentionException =>
            attempt += 1
            if (attempt >= 5) throw new ConcurrentCommitException(
              s"$what on $root lost the version claim $attempt times to " +
                s"concurrent writers (${e.getMessage}); retry the " +
                "operation")
        }
      }
      throw new IllegalStateException("unreachable")
    }

  /** Turn versioning on: snapshot the CURRENT directory contents as v0
    * (op `enable`). Idempotent — enabling an already-versioned table is
    * a no-op, so CREATE-with-property and a later explicit call
    * compose. */
  def enable(root: Path): Unit = lockFor(root).synchronized {
    if (isVersioned(root)) return
    Files.createDirectories(versionsDir(root))
    // pre-existing files enter the log without stats (never prunable —
    // absence of stats widens, it can't lose rows)
    val current = listPartFiles(root).map(FileEntry(_, FileEntry.NoStats))
    try writeManifest(root, 0L, "enable", current)
    catch {
      // another PROCESS claimed v0 in between: enable is idempotent,
      // the table is versioned either way
      case _: VersionContentionException => ()
    }
  }

  private def listPartFiles(root: Path): Seq[String] = {
    if (!Files.isDirectory(root)) return Nil
    val s = Files.list(root)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.matches(GraftFiles.partFileRegex)).toSeq.sorted
    } finally s.close()
  }

  /** Base64 payloads at or below this many chars stay inline in the
    * manifest line; anything larger moves to the commit's sidecar
    * file. Small DVs (a handful of positions) are cheaper inline than
    * as a seek; blooms (KBs each) always cross it. */
  private val InlineBlobMax = 64

  private def writeManifest(root: Path, version: Long, op: String,
      entries: Seq[FileEntry], dataChange: Boolean = true,
      txn: Option[(String, Long)] = None): VersionInfo = {
    // strictly-increasing timestamps: TIMESTAMP AS OF floor semantics
    // need an unambiguous order even when two commits share a clock tick
    val prev = latest(root)
    val prevTs = prev.map(_.tsMicros).getOrElse(Long.MinValue)
    val ts = math.max(System.currentTimeMillis() * 1000L, prevTs + 1L)
    // Row tracking (opt-in: TBLPROPERTIES('row.tracking'='true')): every
    // entry that reaches a commit without lineage gets ONE fresh segment
    // allocated from the running high-water mark — new files at their
    // birth commit, and pre-tracking survivors backfilled at the first
    // commit after the property lands (their `since` is the backfill
    // commit, the Delta materialization-version semantics). Entries that
    // arrive WITH lineage (kept snapshot files, compaction splices,
    // restore/clone/fast_forward carries) pass through untouched — that
    // is the whole preservation contract — and the mark only ever moves
    // up past everything it has seen, so ids are never reissued.
    val tracked =
      GraftTableMeta.read(root).get("row.tracking").contains("true")
    val trackedEntries =
      if (!tracked) entries
      else {
        var hwm = prev.flatMap(_.rowHwm).getOrElse(
          prev.map(_.entries.flatMap(_.lineageEnd).foldLeft(0L)(math.max))
            .getOrElse(0L))
        entries.map { e =>
          if (e.lineage.nonEmpty) e
          else e.rows match {
            case Some(r) =>
              val seg = (hwm, r, version); hwm += r
              e.copy(lineage = Seq(seg))
            case None => e // pre-stats entry: no physical count, no ids
          }
        }
      }
    val rowHwm =
      if (!tracked) None
      else Some(trackedEntries.flatMap(_.lineageEnd)
        .foldLeft(prev.flatMap(_.rowHwm).getOrElse(0L))(math.max))
    // stats columns sorted for a canonical line; format per column is
    // `col=min:max`, then optional `rows=`/`bytes=` counters, an
    // optional `bloom=` token, and an optional `dv=` deletion vector.
    // (The previous 2-column `name\tmin\tmax` doc_id-only form is
    // still READ for old logs, never written again.) Unknown-token
    // forward compat is deliberate: counters and masks are per-file
    // FACTS, so an old entry simply lacks them.
    //
    // SIDECAR layout (the documented 100 TB shape, actually built):
    // blob payloads larger than [[InlineBlobMax]] base64 chars land as
    // raw bytes in this commit's `v%05d.sidecar` file and the manifest
    // token becomes `bloom=@<offset>:<length>` — manifest LINE size is
    // bounded by the stats/counters alone, the way Iceberg's puffin /
    // Delta's index folder keep the log slim while per-file indexes
    // grow. Every manifest references ONLY its own sidecar (entries
    // re-serialize on each commit), so vacuum's lifecycle is 1:1:
    // expire the manifest, delete its sidecar. Tiny payloads stay
    // inline (`bloom=<base64>`) — a seek would cost more than the
    // bytes — and old inline-only logs read unchanged.
    val sidecar = new java.io.ByteArrayOutputStream()
    def blobToken(key: String, base64: String): String =
      if (base64.length <= InlineBlobMax) s"$key=$base64"
      else {
        val bytes = java.util.Base64.getDecoder.decode(base64)
        val off = sidecar.size()
        sidecar.write(bytes, 0, bytes.length)
        s"$key=@$off:${bytes.length}"
      }
    val lines = trackedEntries.map { e =>
      (e.name +:
        (e.stats.toSeq.sortBy(_._1).map {
          case (c, (mn, mx)) => s"$c=$mn:$mx"
        } ++ e.rows.map(r => s"rows=$r").toSeq
          ++ e.bytes.map(b => s"bytes=$b").toSeq
          ++ e.bucket.map(b => s"bucket=$b").toSeq
          ++ (if (e.sorted) Seq("sorted=1") else Nil)
          ++ e.spec.filter(_ > 0).map(i => s"spec=$i").toSeq
          ++ (if (e.lineage.isEmpty) Nil
              else Seq("lineage=" + e.lineage.map {
                case (b, r, s) => s"$b:$r:$s"
              }.mkString(",")))
          ++ e.bloom.map(b => blobToken("bloom", b.toBase64)).toSeq
          ++ e.ndv.filter(_.cols.nonEmpty)
            .map(n => blobToken("ndv", n.toBase64)).toSeq
          ++ e.dv.filter(_.cardinality > 0)
            .map(d => blobToken("dv", d.toBase64)).toSeq
          ++ e.eq.filter(_.cardinality > 0)
            .map(d => blobToken("eqdel", d.toBase64)).toSeq)).mkString("\t")
    }
    val txnField = txn.map { case (app, e) =>
      require(!app.contains('\t') && !app.contains('\n'),
        s"txn appId must not contain tabs/newlines: '$app'")
      s"\ttxn=$app:$e"
    }.getOrElse("")
    val hwmField = rowHwm.map(h => s"\trowhwm=$h").getOrElse("")
    val target = versionsDir(root).resolve(f"v$version%05d.manifest")
    if (Files.exists(target))
      throw new VersionContentionException(
        s"version $version already committed at $target")
    // sidecar FIRST, manifest second: a crash in between leaves an
    // unreferenced sidecar (vacuum's sweep reclaims it), never a
    // manifest pointing at missing bytes. The name carries a per-
    // attempt nonce and rides the manifest header, so two drivers
    // racing the same version number can never clobber each other's
    // sidecar bytes — the loser's file is simply never referenced.
    val scName: Option[String] =
      if (sidecar.size() == 0) None
      else {
        val nonce = java.util.UUID.randomUUID.toString
          .replace("-", "").take(8)
        val name = f"v$version%05d-$nonce.sidecar"
        val scTmp =
          Files.createTempFile(versionsDir(root), s"v$version-sc-", ".tmp")
        Files.write(scTmp, sidecar.toByteArray)
        Files.move(scTmp, versionsDir(root).resolve(name),
          StandardCopyOption.ATOMIC_MOVE)
        Some(name)
      }
    val scField = scName.map(n => s"\tsidecar=$n").getOrElse("")
    val body2 =
      (s"ts=$ts\top=$op\tdataChange=$dataChange$txnField$hwmField$scField"
        +: lines).mkString("", "\n", "\n")
    val tmp = Files.createTempFile(versionsDir(root), s"v$version-", ".tmp")
    Files.write(tmp, body2.getBytes(StandardCharsets.UTF_8))
    // CROSS-PROCESS CLAIM: hard-link the complete temp onto the final
    // name — link(2) is atomic and fails if the target exists, so of
    // two drivers racing this version exactly one wins; readers never
    // observe a partial manifest (the temp was fully written first).
    try {
      Files.createLink(target, tmp)
      Files.deleteIfExists(tmp)
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        Files.deleteIfExists(tmp)
        scName.foreach(n =>
          Files.deleteIfExists(versionsDir(root).resolve(n)))
        throw new VersionContentionException(
          s"version $version of $root claimed by a concurrent writer")
    }
    VersionInfo(version, ts, op, trackedEntries, dataChange, txn, rowHwm,
      scName)
  }

  private def readManifest(root: Path, version: Long): VersionInfo = {
    val p = versionsDir(root).resolve(f"v$version%05d.manifest")
    val lines = Files.readAllLines(p, StandardCharsets.UTF_8)
    require(!lines.isEmpty, s"empty manifest $p")
    val header = lines.get(0).split("\t", -1).map { kv =>
      val i = kv.indexOf('='); kv.substring(0, i) -> kv.substring(i + 1)
    }.toMap
    import scala.jdk.CollectionConverters._
    // sidecar payloads: read once per manifest parse, sliced per token
    // (`@<offset>:<length>` refs); the header's `sidecar=` token names
    // the nonce-unique file (claim-era commits), falling back to the
    // legacy `v%05d.sidecar` default; absent file = no payloads
    val scName = header.get("sidecar")
    lazy val sidecarBytes: Array[Byte] = {
      val sc = versionsDir(root).resolve(
        scName.getOrElse(f"v$version%05d.sidecar"))
      if (Files.isRegularFile(sc)) Files.readAllBytes(sc)
      else Array.empty[Byte]
    }
    def blob(v: String): String =
      if (!v.startsWith("@")) v
      else {
        val i = v.indexOf(':')
        val off = v.substring(1, i).toInt
        val len = v.substring(i + 1).toInt
        require(off >= 0 && len >= 0 && off + len <= sidecarBytes.length,
          s"sidecar ref '$v' out of range (${sidecarBytes.length} bytes) " +
            s"for v$version of $root")
        java.util.Base64.getEncoder.encodeToString(
          java.util.Arrays.copyOfRange(sidecarBytes, off, off + len))
      }
    val entries = lines.asScala.toSeq.tail.filter(_.nonEmpty).map { l =>
      l.split("\t", -1) match {
        case Array(n) => FileEntry(n, FileEntry.NoStats) // pre-stats line
        case Array(n, mn, mx) if !mn.contains('=') =>    // doc_id-only era
          FileEntry(n, Map("doc_id" -> (mn.toLong, mx.toLong)))
        case arr =>
          def tok(prefix: String): Option[String] =
            arr.tail.find(_.startsWith(prefix)).map(_.stripPrefix(prefix))
          val reserved = Set("rows=", "bytes=", "bucket=", "bloom=",
            "dv=", "lineage=", "spec=", "eqdel=", "ndv=", "sorted=")
          val statToks =
            arr.tail.filterNot(t => reserved.exists(t.startsWith))
          FileEntry(arr.head, statToks.map { tok =>
            val eq = tok.indexOf('=')
            val colon = tok.indexOf(':', eq + 1)
            if (eq < 0 || colon < 0) throw new IllegalStateException(
              s"malformed manifest stats token '$tok' in $p")
            tok.substring(0, eq) ->
              (tok.substring(eq + 1, colon).toLong,
                tok.substring(colon + 1).toLong)
          }.toMap,
            bloom = tok("bloom=").map(v => GraftBloom.fromBase64(blob(v))),
            ndv = tok("ndv=").map(v => GraftNdv.fromBase64(blob(v))),
            rows = tok("rows=").map(_.toLong),
            bytes = tok("bytes=").map(_.toLong),
            dv = tok("dv=").map(v => GraftDV.fromBase64(blob(v))),
            eq = tok("eqdel=").map(v => GraftDV.fromBase64(blob(v))),
            bucket = tok("bucket=").map(_.toInt),
            sorted = tok("sorted=").contains("1"),
            spec = tok("spec=").map(_.toInt),
            lineage = tok("lineage=").map(_.split(",").toSeq.map { seg =>
              seg.split(":") match {
                case Array(b, r, s) => (b.toLong, r.toLong, s.toLong)
                case _ => throw new IllegalStateException(
                  s"malformed lineage segment '$seg' in $p")
              }
            }).getOrElse(Nil))
      }
    }
    val txn = header.get("txn").map { v =>
      val i = v.lastIndexOf(':') // appId may itself contain ':'
      require(i > 0, s"malformed txn field '$v' in $p")
      (v.substring(0, i), v.substring(i + 1).toLong)
    }
    VersionInfo(version, header("ts").toLong, header("op"), entries,
      header.get("dataChange").forall(_.toBoolean), txn,
      header.get("rowhwm").map(_.toLong), scName)
  }

  def listVersionNumbers(root: Path): Seq[Long] = {
    val vd = versionsDir(root)
    if (!Files.isDirectory(vd)) return Nil
    val s = Files.list(vd)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(_.getFileName.toString).collect {
        case ManifestName(n) => n.toLong
      }.toSeq.sorted
    } finally s.close()
  }

  def listVersions(root: Path): Seq[VersionInfo] =
    listVersionNumbers(root).map(readManifest(root, _))

  def latest(root: Path): Option[VersionInfo] =
    listVersionNumbers(root).lastOption.map(readManifest(root, _))

  /** Resolve a pinned version, with available-range errors a user can
    * act on (mirrors Delta's `versionAsOf` error shape). */
  def manifest(root: Path, version: Long): VersionInfo = {
    val have = listVersionNumbers(root)
    if (!have.contains(version))
      throw new NoSuchVersionException(
        s"no version $version for table at $root; available: " +
          (if (have.isEmpty) "none (table is not versioned?)"
           else s"[${have.head}, ${have.last}]" +
             (if (have.length != (have.last - have.head + 1))
                s" minus vacuumed ${((have.head to have.last).toSet -- have.toSet).toSeq.sorted.mkString(",")}"
              else "")))
    readManifest(root, version)
  }

  /** `TIMESTAMP AS OF` floor semantics: the newest snapshot committed at
    * or before `tsMicros`. */
  def asOfTimestamp(root: Path, tsMicros: Long): VersionInfo = {
    val all = listVersions(root)
    all.filter(_.tsMicros <= tsMicros).lastOption.getOrElse {
      throw new NoSuchVersionException(
        s"timestamp $tsMicros predates the oldest retained snapshot of " +
          s"table at $root" +
          all.headOption.map(v => s" (v${v.version} at ts=${v.tsMicros})")
            .getOrElse(" (no snapshots)"))
    }
  }

  /** Value-semantics fingerprint of a file entry for conflict
    * detection — FileEntry's bloom/dv members hold arrays (reference
    * equality), so `==` on entries read from two manifest parses would
    * always differ; this compares what the entry MEANS. */
  private def fingerprint(e: FileEntry): (String, Map[String, (Long, Long)],
      Option[Long], Option[Long], Option[Int], Option[Seq[Long]],
      Option[String], Seq[(Long, Long, Long)], Option[Int],
      Option[Seq[Long]]) =
    (e.name, e.stats, e.rows, e.bytes, e.bucket,
      e.dv.map(_.positions.toSeq), e.bloom.map(_.toBase64), e.lineage,
      e.spec,
      // equality-delete value mask: a concurrent delete-equality commit
      // grows e.eq without touching any other member, and a COW rewrite
      // or MOR update planned against the pre-delete snapshot would
      // re-materialize the masked rows — eq growth must count as a
      // conflicting touch like dv growth does.
      e.eq.map(_.positions.toSeq))

  class ConcurrentCommitException(msg: String)
      extends java.util.ConcurrentModificationException(msg)

  /** Optimistic-concurrency validation (Delta/Iceberg commit-time
    * conflict detection, in its file-scope form): an operation that
    * planned against snapshot `readVersion` may commit against a newer
    * base ONLY if every file it is replacing/removing is untouched in
    * between — another writer having rewritten, masked, or removed one
    * of them means this commit was computed from stale content and
    * must fail (loudly, retryably) instead of silently losing the
    * other writer's rows. Scope-DISJOINT concurrent commits rebase and
    * both land; `removed = None` (overwrite/compaction) conflicts with
    * ANY intervening commit — it replaces the whole table, so there is
    * no disjoint scope to rebase onto. */
  private def validateNoConflict(root: Path, readVersion: Long,
      base: VersionInfo, op: String, removed: Option[Set[String]]): Unit = {
    if (base.version == readVersion) return
    def fail(what: String): Nothing = throw new ConcurrentCommitException(
      s"$op on $root planned against snapshot v$readVersion, but " +
        s"v${base.version} is now committed and $what; re-run the " +
        "operation against the current snapshot")
    removed match {
      case None => fail("a whole-table replacement cannot rebase over " +
        "concurrent commits")
      case Some(scope) =>
        val rvEntries =
          try readManifest(root, readVersion).entries
            .map(e => e.name -> fingerprint(e)).toMap
          catch {
            case _: Exception =>
              fail(s"snapshot v$readVersion is no longer readable " +
                "(vacuumed?)")
          }
        val baseMap = base.entries.map(e => e.name -> fingerprint(e)).toMap
        val touched =
          scope.toSeq.sorted.filter(f => rvEntries.get(f) != baseMap.get(f))
        if (touched.nonEmpty)
          fail(s"touched the files this commit replaces: " +
            touched.mkString(", "))
    }
  }

  /** Advance the log by one commit: new snapshot = (latest − removed) +
    * added. `removed = None` means remove-all (overwrite / TRUNCATE
    * semantics); the per-file COW rewrites pass their matched-file
    * scope. Runs under the table lock so concurrent disjoint-scope
    * commits serialize into consecutive versions, each rebased on the
    * other's outcome — the manifest analog of the connector's
    * disjoint-file concurrency promise. `readVersion` (when the caller
    * knows the snapshot it planned against) turns the blind rebase
    * into optimistic concurrency: overlapping-scope racers fail with
    * [[ConcurrentCommitException]] instead of losing updates. */
  def advance(root: Path, op: String, removed: Option[Set[String]],
      added: Seq[FileEntry], dataChange: Boolean = true,
      readVersion: Option[Long] = None): VersionInfo = {
    val v = commitWithRetry(root, s"'$op' commit") {
      val base = latest(root).getOrElse(
        throw new IllegalStateException(s"advance on unversioned table $root"))
      readVersion.foreach(validateNoConflict(root, _, base, op, removed))
      val kept = removed match {
        case Some(scope) => base.entries.filterNot(e => scope(e.name))
        case None => Nil
      }
      writeManifest(root, base.version + 1, op,
        (kept ++ added).sortBy(_.name), dataChange)
    }
    // auto-compaction (Delta autoOptimize semantics): when a data
    // commit leaves more live files than the table's opted-in bound,
    // the COMMITTING writer pays for a follow-on bin-packing concat
    // (dataChange=false — rows identical, feed skips it; lineage
    // splices on row-tracked tables). Guarded on dataChange so the
    // compaction's own commit, restores, and other metadata advances
    // never recurse. Dependent materialized views refresh BEFORE
    // retention runs (the refresh reads this commit's change-feed
    // slice — expiring it first would orphan the watermark), and
    // retention runs last (the concat adds a version the retention
    // window must count).
    if (dataChange) {
      maybeAutoCompact(root)
      GraftMv.maybeAutoRefresh(root)
      maybeAutoExpire(root)
    }
    v
  }

  /** Run the size-triggered compaction policy: with
    * `compact.threshold = N` set, a live snapshot holding more than N
    * part files concats down to max(1, N/2) (per bucket class /
    * equality-delete set / partition value — layout-preserving). At
    * cluster scale the trigger check is one manifest read (#files),
    * and the concat itself streams bytes without decoding rows. */
  def maybeAutoCompact(root: Path): Option[VersionInfo] = {
    val threshold = GraftTableMeta.read(root)
      .get("compact.threshold").flatMap(_.toIntOption)
      .getOrElse(return None)
    require(threshold >= 1, s"compact.threshold must be >= 1 on $root")
    val entries = latest(root).map(_.entries).getOrElse(Nil)
    // pre-stats entries (enable() over existing files) have no recorded
    // row count: the concat rewrite cannot carry them — skip the policy
    // rather than drop them from the snapshot
    if (entries.size <= threshold || entries.exists(_.rows.isEmpty)) None
    else Some(compactConcat(root, math.max(1, threshold / 2)))
  }

  /** Run the snapshot-retention policy: with `retention.versions = N`
    * set, a data commit that grows the log past N retained snapshots
    * vacuums down to the newest N — Delta's
    * `delta.logRetentionDuration` idea with a version-count window
    * (deterministic, clock-free). Tag-pinned and branch-referenced
    * history survives exactly as in a manual vacuum; the temp/sidecar
    * grace window applies unchanged. */
  def maybeAutoExpire(root: Path): Unit = {
    val keep = GraftTableMeta.read(root)
      .get("retention.versions").flatMap(_.toIntOption)
      .getOrElse(return)
    require(keep >= 1, s"retention.versions must be >= 1 on $root")
    if (listVersionNumbers(root).size > keep) vacuum(root, keepLast = keep)
  }

  /** Commit a merge-on-read row-level DELTA: fold per-file deleted row
    * POSITIONS into the live snapshot's deletion vectors AND append
    * the replacement files an UPDATE's rewritten rows landed in — one
    * atomic manifest advance for both halves, under the table lock so
    * concurrent deltas merge (union of masks) rather than lose one
    * side's rows. No retained data file is read, written, or removed;
    * commit cost is one manifest line per touched file plus the (tiny)
    * replacement files. A file whose mask reaches its physical row
    * count is dropped from the live set entirely (its bytes stay for
    * time travel; vacuum reclaims them). */
  def applyDelta(root: Path, deletes: Map[String, Seq[Long]],
      added: Seq[FileEntry], op: String,
      readVersion: Option[Long] = None): VersionInfo = {
    val v = commitWithRetry(root, s"merge-on-read '$op'") {
      val base = latest(root).getOrElse(throw new IllegalStateException(
        s"merge-on-read $op on unversioned table $root"))
      // optimistic concurrency for the UPDATE/MERGE face: two MOR
      // updates that masked the SAME row would otherwise both land
      // their replacement rows (mask union dedupes the delete, not the
      // reinserts) — a lost update surfacing as a duplicate. Pure
      // deletes stay permissive: delete ∪ delete is the right merge,
      // so concurrent mask growth on a shared file is not a conflict.
      readVersion.filter(_ != base.version)
        .filter(_ => op != "delete").foreach { rv =>
          validateNoConflict(root, rv, base, s"MOR $op",
            Some(deletes.keySet))
        }
      val live = base.files.toSet
      val unknown = deletes.keySet -- live
      require(unknown.isEmpty,
        s"MOR $op targets files outside the live snapshot of $root: " +
          unknown.toSeq.sorted.mkString(", "))
      val updated = base.entries.flatMap { e =>
        deletes.get(e.name).filter(_.nonEmpty) match {
          case None => Some(e)
          case Some(ps) =>
            val merged = e.dv.map(_.union(ps)).getOrElse(GraftDV.of(ps))
            e.rows.foreach(r => require(merged.positions.last < r,
              s"MOR $op position ${merged.positions.last} out of range " +
                s"for ${e.name} ($r physical rows)"))
            if (e.rows.contains(merged.cardinality.toLong)) None
            else Some(e.copy(dv = Some(merged)))
        }
      }
      writeManifest(root, base.version + 1, op,
        (updated ++ added).sortBy(_.name))
    }
    // row-level commits are data changes the maintenance policies (and
    // dependent materialized views) must see, same as appends
    GraftMv.maybeAutoRefresh(root)
    v
  }

  /** Commit an EQUALITY DELETE: attach the deleted doc_id VALUES to
    * every live entry that might contain one — per-entry min/max stats
    * and Bloom filters prune the attachment to may-contain files — and
    * advance the log. ZERO data bytes are read or written: positions
    * are unknown by design; the reader drops matching rows as it
    * streams. The values land only on entries LIVE NOW, so re-inserts
    * of the same key in later commits are untouched (Iceberg's
    * sequence-number semantics by construction). Two concurrent
    * equality deletes merge like MOR masks (value-set union under the
    * table lock). A commit that can prove no file holds any value
    * advances with dataChange=false (the feed skips it). */
  def applyEqualityDelete(root: Path, values: Seq[Long]): VersionInfo = {
    val v = commitWithRetry(root, "equality delete") {
      require(values.nonEmpty, "equality delete with no values")
      require(values.forall(_ >= 0),
        s"equality-delete values must be non-negative doc_ids: " +
          values.filter(_ < 0).mkString(", "))
      val base = latest(root).getOrElse(throw new IllegalStateException(
        s"equality delete on unversioned table $root"))
      var touched = false
      val updated = base.entries.map { e =>
        val hits = values.filter(v =>
          e.mayContain("doc_id", v, v) &&
            e.mayContainValue("doc_id", v.toString))
        if (hits.isEmpty) e
        else {
          touched = true
          e.copy(eq = Some(e.eq.map(_.union(hits)).getOrElse(
            GraftDV.of(hits))))
        }
      }
      writeManifest(root, base.version + 1, "delete-equality",
        updated.sortBy(_.name), dataChange = touched)
    }
    if (v.dataChange) GraftMv.maybeAutoRefresh(root)
    v
  }

  /** Newest epoch recorded for a streaming appId across the RETAINED
    * manifests. Caveat shared with Delta's SetTransaction retention:
    * vacuuming past every manifest that carries an appId's txn forgets
    * its ledger, so a replay delayed past the retention window could
    * double-write — retention must outlive the longest possible
    * restart gap of any writing stream. */
  def lastTxnEpoch(root: Path, appId: String): Option[Long] = {
    val epochs = listVersions(root).flatMap(_.txn)
      .collect { case (a, e) if a == appId => e }
    if (epochs.isEmpty) None else Some(epochs.max)
  }

  /** Idempotent streaming commit: advance IF epoch is new for appId,
    * else None (replayed micro-batch — the sink already holds these
    * rows). Check and advance run under the one table lock, so two
    * racing replays of the same epoch can't both land.
    *
    * `expectLastEpoch = Some(w)` turns the idempotence check into a
    * full CAS on the ledger (r16 ADVICE, the MV refresh race): the
    * commit lands ONLY if the appId's watermark is still exactly `w`
    * (`Some(Some(e))` = that epoch, `Some(None)` = no record yet);
    * any other value means a racing writer advanced the ledger after
    * the caller planned, and a replace-all commit computed against the
    * stale state would double-apply its delta range — the commit fails
    * with [[ConcurrentCommitException]] so the caller re-plans,
    * mirroring validateNoConflict's removed=None rule for `advance`. */
  def commitTxn(root: Path, op: String, removed: Option[Set[String]],
      added: Seq[FileEntry], appId: String, epoch: Long,
      expectLastEpoch: Option[Option[Long]] = None)
      : Option[VersionInfo] = {
    val v = commitWithRetry(root, s"streaming '$op' commit") {
      val last = lastTxnEpoch(root, appId)
      expectLastEpoch.foreach { expected =>
        if (last != expected && !last.exists(_ >= epoch))
          throw new ConcurrentCommitException(
            s"'$op' on $root planned against $appId watermark " +
              s"$expected but the ledger now holds $last — a racing " +
              "writer advanced it; re-plan against the new state")
      }
      if (last.exists(_ >= epoch)) None
      else {
        val base = latest(root).getOrElse(throw new IllegalStateException(
          s"streaming commit on unversioned table $root"))
        val kept = removed match {
          case Some(scope) => base.entries.filterNot(e => scope(e.name))
          case None => Nil
        }
        Some(writeManifest(root, base.version + 1, op,
          (kept ++ added).sortBy(_.name), dataChange = true,
          txn = Some((appId, epoch))))
      }
    }
    // self-maintenance fires on STREAMING data commits too — a
    // micro-batch sink is exactly the small-append pattern the file
    // bound exists for (Delta runs autoOptimize on streaming writes).
    // The concat/vacuum commits are dataChange=false with no txn tag,
    // so epoch idempotence and the change feed are untouched.
    // Dependent materialized views refresh per epoch too — a streaming
    // sink with registered views keeps them fresh micro-batch by
    // micro-batch (and before retention, which could expire the slice
    // the refresh needs).
    if (v.isDefined) {
      maybeAutoCompact(root)
      GraftMv.maybeAutoRefresh(root)
      maybeAutoExpire(root)
    }
    v
  }

  /** Re-run `body` after a [[ConcurrentCommitException]], 3 attempts
    * in all; the third conflict propagates, and so does any other
    * exception, at once. The rewrites that plan against the live
    * snapshot OUTSIDE the table lock and commit against the snapshot
    * they read (`readVersion`, or the MV watermark CAS) run through it:
    * a writer landing mid-rewrite made the plan stale, so `body`
    * re-reads the snapshot and re-plans. Files a lost attempt landed
    * stay unreferenced, and vacuum reclaims them. */
  private[sources] def retryOnConflict[T](body: => T): T = {
    def attempt(left: Int): T =
      try body
      catch {
        case _: ConcurrentCommitException if left > 1 => attempt(left - 1)
      }
    attempt(3)
  }

  /** The write option of a rewrite of existing rows: identity cells
    * pass through and generated cells recompute, so a GENERATED ALWAYS
    * AS IDENTITY table's own rows do not trip the explicit-values
    * guard. */
  private val RewriteOption = Map("graftRewrite" -> "true")

  /** Table properties that are maintenance policies, run by a data
    * commit on the table itself (auto-compaction, snapshot retention,
    * dependent-view refresh). */
  private val MaintenanceProperties =
    Set("compact.threshold", "retention.versions", "mv.dependents")

  /** Land `rows` as new part files of `root` without committing them:
    * the staging half every rewrite of live rows shares (OPTIMIZE,
    * scoped OPTIMIZE, equality-mask materialization, materialized-view
    * swaps). The rows are written into a VERSIONED scratch table at
    * `_staging/rewrite-<uuid>`, so its commit records per-file stats;
    * the staged files then move into `root` as `part-%05d-<uuid>.tsv`.
    * The scratch table mirrors the table's quality properties (blooms,
    * constraints) but not its [[MaintenanceProperties]]: a policy run by
    * the scratch commit would rewrite the staged layout before it lands
    * (auto-compaction folding a clustered rewrite into one file). The
    * caller commits the returned entries; files a failed commit leaves
    * behind are unreferenced, and vacuum or [[removeOrphans]] reclaims
    * them, as it reclaims the scratch table of a driver that died
    * mid-rewrite. */
  private[sources] def stageRewrite(root: Path,
      rows: org.apache.spark.sql.DataFrame,
      writeOptions: Map[String, String] = Map.empty): Seq[FileEntry] = {
    val tag = java.util.UUID.randomUUID.toString.replace("-", "")
    val scratch = root.resolve("_staging").resolve(s"rewrite-$tag")
    Files.createDirectories(scratch)
    try {
      enable(scratch)
      GraftTableMeta.write(scratch,
        GraftTableMeta.read(root) -- MaintenanceProperties)
      rows.write.format("graft.sources.GraftDocsSource")
        .option("path", scratch.toString).options(writeOptions)
        .mode("append").save()
      latest(scratch).map(_.entries).getOrElse(Nil).zipWithIndex.map {
        case (e, i) =>
          val name = f"part-$i%05d-$tag.tsv"
          Files.move(scratch.resolve(e.name), root.resolve(name),
            StandardCopyOption.ATOMIC_MOVE)
          // copy() carries EVERY per-file fact (stats, bloom, rows,
          // bytes) — a field-list here silently drops the next fact we
          // add (the bloom-drop regression pinned in VersioningSpec).
          // dv is structurally absent: the rewrite read only live rows,
          // so the masks are materialized away.
          e.copy(name = name)
      }
    } finally {
      try org.apache.commons.io.FileUtils.deleteDirectory(scratch.toFile)
      catch { case _: java.io.IOException => () }
      // remove _staging itself when this was the last writer
      try Files.deleteIfExists(root.resolve("_staging")) catch {
        case _: java.nio.file.DirectoryNotEmptyException => ()
      }
    }
  }

  /** OPTIMIZE-style small-file compaction: rewrite the LIVE snapshot's
    * rows into `targetFiles` part files and commit them as a
    * `dataChange = false` snapshot — time travel to every prior version
    * still reads the original files (nothing is deleted until vacuum),
    * live reads plan the few compacted files, and the change feed skips
    * the commit entirely (no rows changed, nothing to re-emit). The
    * compacted files are written and moved in BEFORE the manifest
    * advance, so a crash mid-compaction leaves only unreferenced files
    * (vacuum reclaims them), never a corrupted snapshot. Cost is one
    * read + one write of the live rows — the classic nightly OPTIMIZE
    * a 100 TB table runs per partition, never a log rewrite.
    *
    * The rewrite reads the live rows OUTSIDE the table lock, so the
    * commit validates against the snapshot it read: a writer landing
    * mid-compaction re-runs the whole compaction against the new live
    * state, 3 attempts in all ([[retryOnConflict]]), instead of being
    * silently dropped by the remove-all advance. */
  def compact(spark: org.apache.spark.sql.SparkSession, root: Path,
      targetFiles: Int = 1,
      // cluster the rewrite so the per-file min/max stats get TIGHT:
      //  - one column: range-partition + sort — files get disjoint
      //    sorted ranges, selective scans on that column plan 1-2 files;
      //  - two+ columns: Z-ORDER — each column is scaled to 16 bits via
      //    its global min/max and the bits are interleaved; range-
      //    partitioning on the interleaved value gives every file a
      //    small HYPER-RECTANGLE in (col1, col2, ...) space, so
      //    selective predicates on ANY clustered column skip most
      //    files. This is OPTIMIZE ZORDER BY: the multi-dimensional
      //    layout a 100 TB table compacts into when more than one
      //    column is a common filter axis.
      clusterBy: Seq[String] = Nil): VersionInfo = {
    import org.apache.spark.sql.functions._
    require(isVersioned(root), s"compact needs a versioned table: $root")
    val n = math.max(targetFiles, 1)
    // Row-tracked tables: a clustered rewrite REORDERS rows, and an
    // arbitrary permutation cannot be expressed as lineage segments —
    // preserving ids there would need per-row materialization. Loud
    // rejection beats silently reassigning every id under an operation
    // whose dataChange=false contract promises rows (including their
    // identity) did not change. Bin-packing OPTIMIZE (no clusterBy)
    // takes the concat path below, which preserves ids exactly.
    if (GraftTableMeta.read(root).get("row.tracking").contains("true")) {
      if (clusterBy.nonEmpty) throw new UnsupportedOperationException(
        s"OPTIMIZE ... ZORDER/clustered rewrite on row-tracked table " +
          s"$root would reassign row ids; drop 'row.tracking' or run " +
          "bin-packing OPTIMIZE (no cluster columns), which preserves " +
          "row lineage")
      return compactConcat(root, n)
    }
    retryOnConflict {
      // the snapshot this rewrite is OF — the commit below validates no
      // one advanced the table while the rewrite ran
      val readVersion = latest(root).map(_.version).getOrElse(
        throw new IllegalStateException(s"compact on empty version log: $root"))
      val df = spark.read.format("graft.sources.GraftDocsSource")
        .option("path", root.toString).load()
      val (live, writeOpts): (org.apache.spark.sql.DataFrame,
          Map[String, String]) = clusterBy match {
        case Nil => (df.coalesce(n), Map.empty)
        case Seq(c) =>
          (df.repartitionByRange(n, col(c)).sortWithinPartitions(c), Map.empty)
        case cols =>
          // global per-column bounds for the 16-bit scaling, from the live
          // manifest's file stats when every file carries them (a driver-
          // side set union — no data read); files predating stats fall
          // back to one aggregate pass over the live rows
          val entries = latest(root).map(_.entries).getOrElse(Nil)
          val bounds: Map[String, (Long, Long)] =
            if (entries.nonEmpty && cols.forall(c =>
                entries.forall(_.stats.contains(c)))) {
              cols.map { c =>
                val s = entries.flatMap(_.stats.get(c))
                  .filter(r => r._1 <= r._2)
                c -> (if (s.isEmpty) (0L, 0L)
                      else (s.map(_._1).min, s.map(_._2).max))
              }.toMap
            } else {
              val aggs = cols.flatMap(c => Seq(min(col(c)), max(col(c))))
              val r = df.agg(aggs.head, aggs.tail: _*).head()
              cols.zipWithIndex.map { case (c, i) =>
                c -> (r.getLong(2 * i), r.getLong(2 * i + 1))
              }.toMap
            }
          val z = zOrderValue(cols.map(c =>
            (col(c), bounds(c)._1, bounds(c)._2)))
          // Assign output files by the top ceil(log2 n) bits of the
          // Z-value: file boundaries sit exactly on Z-quadrant corners,
          // so every file's stats box is one tight hyper-rectangle. A
          // repartitionByRange on z would cut wherever range-exchange
          // SAMPLING landed — smearing a few rows of one quadrant into
          // the next file widens that file's box to the union of both
          // quadrants and can erase the skipping on one whole axis
          // (observed, not hypothetical). The exchange is therefore a
          // plain HASH repartition on the (deterministic) file id — it
          // only has to CO-LOCATE each file id in one task, not order
          // the tasks — and the DSv2 writer splits its task by the same
          // file-id function ([[GraftZOrderFan]], recomputed row-side
          // with identical integer arithmetic), so bin = file without
          // leaving the DataFrame/DSv2 write path. One shuffle, as
          // before; rows sort by z within the task, and since the file
          // id is the z-value's high bits, every file receives its rows
          // as one contiguous sorted run.
          val fan = GraftZOrderFan(
            cols.map(c => (c, bounds(c)._1, bounds(c)._2)), n)
          val fileId =
            shiftright(shiftright(z, fan.shift) * n, fan.bits).cast("long")
          (df.repartition(n, fileId).sortWithinPartitions(z),
            Map("zorderFanout" -> fan.encode))
      }
      advance(root, "compact", removed = None,
        added = stageRewrite(root, live, writeOpts ++ RewriteOption),
        dataChange = false, readVersion = Some(readVersion))
    }
  }

  /** The live rows of `files` (the reader applies dv + eq masks),
    * scoped through the `_file` metadata column: a static
    * `_file IN (...)` whitelist prunes the scan at plan time. `_file`
    * carries BASENAMES (a branch's fork references are
    * ../../-relative manifest names). */
  private def liveRowsOf(spark: org.apache.spark.sql.SparkSession,
      root: Path, files: Seq[FileEntry]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    val df = spark.read.format("graft.sources.GraftDocsSource")
      .option("path", root.toString).load()
    df.select(df.col("*"), col("_file"))
      .filter(col("_file").isin(
        files.map(e => GraftFiles.baseName(e.name)): _*))
      .drop("_file")
  }

  /** Size-triggered equality-delete materialization: when the live
    * snapshot's pending value-mask cardinality crosses the table's
    * `eq.materialize.threshold` (default 1024 values), rewrite ONLY
    * the masked files — their live rows land in clean replacements,
    * the masks vanish from every future manifest, and untouched files
    * are never read. This is the compaction-threshold policy Iceberg
    * ships for delete files: equality deletes stay O(1) to WRITE, and
    * this bound keeps them from taxing every subsequent read and
    * manifest forever. dataChange=false (rows are identical); row-
    * tracked tables skip it (dropping masked rows shifts positions,
    * which segment lineage cannot express — their concat OPTIMIZE
    * carries masks instead). */
  def maybeMaterializeEq(spark: org.apache.spark.sql.SparkSession,
      root: Path): Option[VersionInfo] = {
    val threshold = GraftTableMeta.read(root)
      .get("eq.materialize.threshold").flatMap(_.toLongOption)
      .getOrElse(1024L)
    val pending = latest(root).toSeq.flatMap(_.entries)
      .flatMap(_.eq).map(_.cardinality.toLong).sum
    if (pending < threshold) None
    else materializeEqMasks(spark, root)
  }

  /** Rewrite the eq-masked files of the live snapshot into clean
    * replacements (see [[maybeMaterializeEq]]); None when nothing is
    * masked or the table is row-tracked. A writer landing mid-rewrite
    * re-runs it against the new live state, 3 attempts in all
    * ([[retryOnConflict]]). */
  def materializeEqMasks(spark: org.apache.spark.sql.SparkSession,
      root: Path): Option[VersionInfo] = {
    if (GraftTableMeta.read(root).get("row.tracking").contains("true"))
      return None
    retryOnConflict(latest(root).flatMap { snap =>
      val masked = snap.entries.filter(_.eq.exists(_.cardinality > 0))
      Option.when(masked.nonEmpty) {
        // one output file per input file
        val live = liveRowsOf(spark, root, masked)
          .coalesce(math.max(1, masked.size))
        advance(root, "eq-materialize",
          removed = Some(masked.map(_.name).toSet),
          added = stageRewrite(root, live, RewriteOption),
          dataChange = false, readVersion = Some(snap.version))
      }
    })
  }

  /** SCOPED OPTIMIZE — Iceberg's `rewrite_data_files(filter => ...)`:
    * compact ONLY the live files PROVABLY single-valued at
    * `col = value` (manifest min == max == value — the shape every
    * value-partitioned write produces), leaving every other file
    * untouched. At 100 TB maintenance runs per PARTITION, never per
    * table: the rewrite reads exactly the scoped files (a static
    * `_file IN (...)` whitelist prunes the scan at plan time, same as
    * the ANALYZE backfill), and the commit is a PARTIAL swap —
    * removed = the scoped members, added = their rewrite — validated
    * against the snapshot the rewrite read (a concurrent commit
    * re-runs the scoped pass, never loses either side). May-contain
    * files (wide ranges that merely overlap the value) are NOT scoped:
    * rewriting them would drag foreign partitions' rows through a
    * maintenance pass scoped to one. A writer landing mid-rewrite
    * re-runs the scoped pass against the new live state, 3 attempts in
    * all ([[retryOnConflict]]). */
  def compactScoped(spark: org.apache.spark.sql.SparkSession, root: Path,
      column: String, value: Long, targetFiles: Int = 1): VersionInfo = {
    require(isVersioned(root), s"scoped compact needs a versioned table: $root")
    if (GraftTableMeta.read(root).get("row.tracking").contains("true"))
      throw new UnsupportedOperationException(
        s"scoped OPTIMIZE on row-tracked table $root would reassign the " +
          "scoped rows' ids; run bin-packing OPTIMIZE (concat preserves " +
          "lineage) or drop 'row.tracking'")
    retryOnConflict {
      val snap = latest(root).getOrElse(throw new IllegalStateException(
        s"scoped compact on empty version log: $root"))
      val members = snap.entries.filter(e => e.rows.exists(_ > 0) &&
        e.stats.get(column).contains((value, value)))
      if (members.length <= math.max(targetFiles, 1)) snap
      else {
        val scoped = liveRowsOf(spark, root, members)
          .coalesce(math.max(targetFiles, 1))
        advance(root, "compact", removed = Some(members.map(_.name).toSet),
          added = stageRewrite(root, scoped, RewriteOption),
          dataChange = false, readVersion = Some(snap.version))
      }
    }
  }

  /** Bin-packing OPTIMIZE for row-tracked tables: each output file is
    * the BYTE CONCATENATION of its member files, so physical positions
    * within a member never change — the output entry splices its
    * members' lineage segments (and shifts their deletion-vector
    * positions) and every surviving row keeps its id, without writing
    * one per-row lineage byte. Per-file facts merge conservatively:
    * stats only for columns EVERY member tracks (absence must widen),
    * blooms by bitwise OR when every member carries one of the same
    * size, bucket only when all members agree — and on a bucketed
    * table bins never cross bucket classes, so the storage-partitioned
    * join layout survives compaction. Masked rows ride along still
    * masked (their bytes were immutable anyway); a rewrite that PURGES
    * masks is exactly the clustered path, which row tracking rejects.
    * At cluster scale the concatenation is an executor-side copy task
    * per output file (bytes stream, nothing decodes); here it is the
    * driver's NIO copy of the same bounded per-bin byte volume. */
  private def compactConcat(root: Path, targetFiles: Int): VersionInfo =
    retryOnConflict {
      val snap = latest(root).getOrElse(throw new IllegalStateException(
        s"compact on empty version log: $root"))
      // no member leaves every bin empty: the commit then lands an empty
      // live snapshot
      val members = snap.entries.filter(_.rows.exists(_ > 0))
      // EQUALITY-DELETE constraint on concat: an eq set applies to every
      // row of ITS file — concatenating files with different eq sets
      // would extend one file's value mask over another's rows (and kill
      // a legitimately re-inserted key). Files sharing an IDENTICAL eq
      // set concat safely; others bin apart, keyed by the exact value set.
      def eqKey(e: FileEntry): Seq[Long] =
        e.eq.map(_.positions.toSeq).getOrElse(Nil)
      // value-partitioned tables: a concat across partition values would
      // widen the layout column's min=max stat to a range and erase the
      // manifest's partition pruning — bin within one value only
      val valueCol = GraftTableMeta.read(root).get("layout.values")
      def pvKey(e: FileEntry): Option[(Long, Long)] =
        valueCol.flatMap(e.stats.get)
      // bins: one per bucket class when the table declares a layout;
      // otherwise sequential fill toward equal byte shares of n bins
      val bins: Seq[Seq[FileEntry]] =
        if (GraftTableMeta.bucketLayout(root).isDefined)
          // never merge across bucket classes OR partition specs: a
          // concat of two specs' files has no single layout to report
          members.groupBy(e => (e.bucket, e.spec, eqKey(e), pvKey(e))).toSeq
            .sortBy { case ((b, sp, eqk, pv), _) =>
              (b.getOrElse(Int.MaxValue), sp.getOrElse(0),
                eqk.mkString(","), pv.map(_._1).getOrElse(Long.MinValue)) }
            .map(_._2.sortBy(_.name))
        else {
          // sequential fill toward equal byte shares of `target` bins
          def byteShareFill(group: Seq[FileEntry], target: Int)
              : Seq[Seq[FileEntry]] = {
            val sorted = group.sortBy(_.name)
            val total = sorted.map(e =>
              e.bytes.getOrElse(Files.size(root.resolve(e.name)))).sum
            val share = math.max(total / math.max(target, 1), 1L)
            val out = Seq.newBuilder[Seq[FileEntry]]
            var cur = Seq.newBuilder[FileEntry]; var acc = 0L; var used = 0
            sorted.foreach { e =>
              val sz = e.bytes.getOrElse(Files.size(root.resolve(e.name)))
              if (acc > 0 && acc + sz > share && used < target - 1) {
                out += cur.result(); cur = Seq.newBuilder; acc = 0L; used += 1
              }
              cur += e; acc += sz
            }
            out += cur.result()
            out.result().filter(_.nonEmpty)
          }
          val (eqMasked, eqFree) =
            members.partition(_.eq.exists(_.cardinality > 0))
          if (eqMasked.isEmpty && valueCol.isEmpty)
            byteShareFill(eqFree, targetFiles)
          else {
            // eq-masked files bin per distinct value set (a concat across
            // different sets would extend one mask over another's rows);
            // value-partitioned files bin per partition value. eq-FREE,
            // value-free files still honor targetFiles via the byte-share
            // fill over whatever bin budget the keyed groups left over.
            val (keyed, free) =
              eqFree.partition(e => valueCol.isDefined && pvKey(e).isDefined)
            val keyedBins = (eqMasked ++ keyed)
              .groupBy(e => (eqKey(e), pvKey(e))).toSeq
              .sortBy { case ((eqk, pv), _) =>
                (eqk.mkString(","), pv.map(_._1).getOrElse(Long.MinValue)) }
              .map(_._2.sortBy(_.name))
            keyedBins ++ byteShareFill(free,
              math.max(1, targetFiles - keyedBins.size))
          }
        }
      val tag = java.util.UUID.randomUUID.toString.replace("-", "")
      // lineage splicing is a row-tracked concern: on an untracked table
      // (auto-compaction runs concat everywhere) the entries carry no
      // segments and must not gain synthetic ones
      val tracked =
        GraftTableMeta.read(root).get("row.tracking").contains("true")
      val landed = bins.zipWithIndex.map { case (bin, i) =>
        val name = f"part-$i%05d-$tag.tsv"
        // ORDER-PRESERVING concat: when every member is observed-sorted
        // and their doc_id envelopes do not interleave, concatenating in
        // range order yields a file that is itself sorted — the manifest
        // `sorted=` fact (and the sort-free merge joins it enables) then
        // SURVIVES auto-compaction instead of resetting on every policy
        // run. Any doubt (unsorted member, missing envelope, overlapping
        // ranges) falls back to name order with the flag withheld.
        val orderable = bin.forall(e =>
          e.sorted && e.stats.contains("doc_id"))
        val ranged =
          if (orderable) bin.sortBy(e => (e.stats("doc_id")._1, e.name))
          else bin
        val staysSorted = orderable && ranged.sliding(2).forall {
          case Seq(a, b) => a.stats("doc_id")._2 <= b.stats("doc_id")._1
          case _ => true
        }
        val ordered = if (staysSorted) ranged else bin
        val tmp = Files.createTempFile(root, s"_concat-$i-", ".tmp")
        val out = Files.newOutputStream(tmp)
        val dvPositions = Seq.newBuilder[Long]
        val lineage = Seq.newBuilder[(Long, Long, Long)]
        var offset = 0L
        try ordered.foreach { e =>
          val bytes = Files.readAllBytes(root.resolve(e.name))
          out.write(bytes)
          // writer rows are always newline-terminated; be defensive so a
          // foreign file can never glue its last row onto the next member
          if (bytes.nonEmpty && bytes.last != '\n') out.write('\n')
          val r = e.rows.get
          e.dv.foreach(d => d.positions.foreach(p => dvPositions += p + offset))
          // a member whose segments do not cover its physical rows (or a
          // pre-tracking member) contributes an id-less segment: NULL ids,
          // never invented ones
          if (tracked) {
            if (e.lineage.nonEmpty && e.lineage.map(_._2).sum == r)
              lineage ++= e.lineage
            else lineage += ((-1L, r, -1L))
          }
          offset += r
        } finally out.close()
        Files.move(tmp, root.resolve(name), StandardCopyOption.ATOMIC_MOVE)
        val statCols = bin.map(_.stats.keySet).reduce(_ intersect _)
        val blooms = bin.map(_.bloom)
        val mergedBloom =
          if (blooms.forall(_.isDefined) &&
              blooms.flatten.map(_.bits.length).distinct.size == 1) {
            val acc = new Array[Long](blooms.head.get.bits.length)
            blooms.flatten.foreach { b =>
              var j = 0
              while (j < acc.length) { acc(j) |= b.bits(j); j += 1 }
            }
            Some(new GraftBloom(acc))
          } else None
        val dvs = dvPositions.result()
        FileEntry(name,
          stats = statCols.map { c =>
            val rs = bin.map(_.stats(c))
            c -> (rs.map(_._1).min, rs.map(_._2).max)
          }.toMap,
          bloom = mergedBloom,
          // NDV sketches union losslessly; a member without one widens
          // the concat to "unknown" (never a wrong count)
          ndv =
            if (bin.forall(_.ndv.isDefined))
              bin.flatMap(_.ndv).reduceOption(_ merge _)
                .filter(_.cols.nonEmpty)
            else None,
          rows = Some(bin.map(_.rows.get).sum),
          bytes = Some(Files.size(root.resolve(name))),
          dv = if (dvs.isEmpty) None else Some(GraftDV.of(dvs)),
          // binning guarantees one shared eq set per bin — it rides along
          // (values mask the same keys over the concatenated bytes)
          eq = bin.head.eq,
          bucket = bin.map(_.bucket).distinct match {
            case Seq(b) => b
            case _ => None
          },
          spec = bin.map(_.spec).distinct match {
            case Seq(sp) => sp
            case _ => None
          },
          sorted = staysSorted,
          lineage = lineage.result())
      }
      advance(root, "compact", removed = None, added = landed,
        dataChange = false, readVersion = Some(snap.version))
    }

  /** The Z-ORDER file-assignment function, shared by the exchange and
    * the DSv2 writer: the compact rewrite hash-repartitions on
    * `fileId` (co-locating each output file's rows in one task) and
    * the writer splits its task into per-file-id staged files by
    * recomputing the SAME function row-side — quadrant-pure files
    * without leaving the DataFrame/DSv2 write path. The row-side
    * arithmetic here mirrors [[zOrderValue]]'s Catalyst expression
    * operation for operation (same clamps, same constant-folded
    * divisors, same interleave positions), so the two can never
    * disagree on a row's file.
    *
    * Travels to the writer as a write option (`encode`/`parse`):
    * `n;col:min:max,col:min:max,...`. */
  final case class GraftZOrderFan(cols: Seq[(String, Long, Long)], n: Int)
      extends Serializable {
    val k: Int = cols.length
    /** ceil(log2 n): the z-value's top `bits` bits index 2^bits
      * quadrant bins; `(bin * n) >> bits` maps them onto the n output
      * files with boundaries exactly on quadrant corners. */
    val bits: Int = (64 - java.lang.Long.numberOfLeadingZeros(
      math.max(n - 1, 1).toLong)).toInt
    val shift: Int = math.max(16 * k - bits, 0)

    def zValue(vals: Array[Long]): Long = {
      var acc = 0L
      var j = 0
      while (j < k) {
        val (_, mn, mx) = cols(j)
        val span = math.max(mx - mn, 1L)
        val base = math.max(math.min(vals(j), mx), mn) - mn
        val scaled =
          if (span < 65536L) base * (65535L / span)
          else base / (span / 65536L + 1L)
        var i = 0
        while (i < 16) {
          acc += ((scaled >> i) & 1L) << (i * k + (k - 1 - j))
          i += 1
        }
        j += 1
      }
      acc
    }
    def fileId(vals: Array[Long]): Int =
      (((zValue(vals) >> shift) * n) >> bits).toInt

    def encode: String =
      s"$n;" + cols.map { case (c, mn, mx) => s"$c:$mn:$mx" }.mkString(",")
  }
  object GraftZOrderFan {
    def parse(s: String): GraftZOrderFan = {
      val i = s.indexOf(';')
      require(i > 0, s"malformed zorderFanout spec '$s'")
      val cols = s.substring(i + 1).split(",").toSeq.map { tok =>
        tok.split(":") match {
          case Array(c, mn, mx) => (c, mn.toLong, mx.toLong)
          case _ =>
            throw new IllegalArgumentException(
              s"malformed zorderFanout column '$tok'")
        }
      }
      GraftZOrderFan(cols, s.substring(0, i).toInt)
    }
  }

  /** Interleaved-bits Z-value over (column, globalMin, globalMax)
    * triples: each column is clamped to its bounds and scaled to 16
    * bits, then bit i of column j lands at position `i*k + (k-1-j)` —
    * the classic Morton encoding. Pure built-in arithmetic (shifts,
    * masks, adds), so the whole thing stays inside whole-stage codegen;
    * no UDF, no custom Expression needed. Rows close in Z-value are
    * close in EVERY clustered dimension, which is what makes the
    * range-partitioned rewrite's per-file min/max boxes tight on all
    * of them at once. */
  def zOrderValue(cols: Seq[(org.apache.spark.sql.Column, Long, Long)])
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    require(cols.nonEmpty, "zOrderValue needs at least one column")
    val k = cols.length
    val scaled = cols.map { case (c, mn, mx) =>
      // Scale (c - mn) onto the FULL 16-bit range — a narrow span must
      // stretch up (or its bits never reach the high interleave
      // positions and the curve degenerates to a single-column sort),
      // a wide span must shrink down WITHOUT the `x * 65535` multiply
      // (values near 2^60, like the fp hash, would overflow it).
      val span = math.max(mx - mn, 1L)
      val base = greatest(least(c, lit(mx)), lit(mn)) - lit(mn)
      if (span < 65536L) (base * (65535L / span)).cast("long")
      else (base / (span / 65536L + 1L)).cast("long")
    }
    (0 until 16).foldLeft(lit(0L)) { (acc, i) =>
      scaled.zipWithIndex.foldLeft(acc) { case (a, (s, j)) =>
        a + shiftleft(shiftright(s, i).bitwiseAND(lit(1L)), i * k + (k - 1 - j))
      }
    }
  }

  /** Delta-style RESTORE: make snapshot `version` the live state again
    * via a NEW commit whose file set is the old snapshot's (zero data
    * movement — manifests share files; vacuum's union-of-retained
    * reference counting already handles sharing). History is preserved:
    * the bad commits stay time-travelable until vacuumed, and the
    * restore itself is an auditable `restore` entry. A dataChange
    * commit: downstream feeds fail (or re-consume under ignoreChanges)
    * exactly as they would for any rewrite — silently rewinding a
    * consumed stream would corrupt consumers. */
  def restore(root: Path, version: Long): VersionInfo = {
    val target = manifest(root, version) // throws if vacuumed/absent
    advance(root, "restore", removed = None, added = target.entries)
  }

  /** Zero-copy SHALLOW CLONE (Delta's `CREATE TABLE ... SHALLOW CLONE`):
    * `dst` is born as a fresh versioned table whose v0 manifest
    * references `src`'s snapshot files BY RELATIVE PATH — no data byte
    * moves, so cloning a 100 TB table costs one manifest write. The
    * clone's history starts at v0 (op `clone`); subsequent commits
    * (appends, MOR masks on the referenced files, OPTIMIZE) land in the
    * clone's own log and directory and never touch the source — the two
    * tables diverge freely from the shared base. Table properties
    * (schema registry, constraints, blooms, row-level modes, bucket
    * layout) copy over; `ref.tag.*` entries do NOT (they name versions
    * of the SOURCE's history, which the clone does not have).
    *
    * Lifecycle contract (Delta's, documented): the clone's [[vacuum]]
    * deletes only files the clone itself wrote — externally-referenced
    * files are never touched (see the separator guard there). The
    * converse hazard is real and inherited from Delta: vacuuming the
    * SOURCE below the cloned snapshot strands the clone's references.
    * Tag the source version and [[vacuum]]'s tag retention pins it. */
  def cloneShallow(src: Path, dst: Path,
      version: Option[Long] = None): VersionInfo = {
    require(isVersioned(src), s"shallow clone needs a versioned source: $src")
    require(!Files.exists(dst), s"clone target already exists: $dst")
    val snap = version.map(manifest(src, _))
      .getOrElse(latest(src).getOrElse(throw new IllegalStateException(
        s"shallow clone of empty version log: $src")))
    Files.createDirectories(dst)
    val srcAbs = src.toAbsolutePath.normalize()
    val dstAbs = dst.toAbsolutePath.normalize()
    val external = snap.entries.map { e =>
      // re-anchor each entry relative to the clone dir; an entry that
      // is ITSELF external (clone of a clone) normalizes through the
      // source dir to the original file — references never chain
      e.copy(name = dstAbs.relativize(
        srcAbs.resolve(e.name).normalize()).toString)
    }
    val props = GraftTableMeta.read(src)
      .filterNot { case (k, _) => k.startsWith("ref.tag.") }
    if (props.nonEmpty) GraftTableMeta.write(dst, props)
    Files.createDirectories(versionsDir(dst))
    try writeManifest(dst, 0L, "clone", external)
    catch {
      case _: VersionContentionException =>
        throw new IllegalStateException(
          s"clone target $dst was created concurrently")
    }
  }

  /** Branch directory of table `root` for branch `name` — a branch IS
    * a shallow clone living inside the table at a well-known path, so
    * every face a table has (DML, MOR masks, OPTIMIZE, constraints,
    * time travel of its own commits) works on a branch for free. */
  private[sources] def branchDir(root: Path, name: String): Path = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit ||
      c == '_' || c == '-'),
      s"branch name must be [A-Za-z0-9_-]+: '$name'")
    root.resolve("_branches").resolve(name)
  }

  /** Create branch `name` forked at `version` (None = latest): a
    * shallow clone into `_branches/<name>` whose `branch.base` property
    * records the fork point — [[fastForward]]'s straight-line check.
    * The Iceberg write-audit-publish shape: write to the branch, audit
    * it with real queries, publish by fast-forward; main never sees a
    * row until the audit passes. */
  def createBranch(root: Path, name: String,
      version: Option[Long] = None): VersionInfo =
    lockFor(root).synchronized {
      val bdir = branchDir(root, name)
      val v = version.getOrElse(latest(root).map(_.version).getOrElse(
        throw new IllegalStateException(s"branch of unversioned table $root")))
      val info = cloneShallow(root, bdir, Some(v))
      GraftTableMeta.write(bdir,
        GraftTableMeta.read(bdir) + ("branch.base" -> v.toString))
      info
    }

  /** Publish branch `name` onto main — Iceberg's fast-forward: allowed
    * ONLY when main still sits at the branch's fork point (a straight
    * line; a diverged main fails loudly — recreate the branch from the
    * current snapshot and replay). Branch-local part files MOVE up into
    * the table root (a rename per file, no data copy; staged names are
    * UUID-tagged so collisions cannot happen), external references
    * re-anchor to plain root names, and the publish is ONE ordinary
    * commit (op `fast-forward`) — time travel, the change feed's
    * taxonomy, and retention all see a normal snapshot. The branch is
    * consumed by the publish. */
  def fastForward(root: Path, name: String): VersionInfo =
    lockFor(root).synchronized {
      val bdir = branchDir(root, name)
      if (!Files.isDirectory(bdir))
        throw new IllegalArgumentException(
          s"no branch '$name' on table at $root")
      val base = GraftTableMeta.read(bdir).get("branch.base")
        .map(_.toLong).getOrElse(throw new IllegalStateException(
          s"branch '$name' at $bdir has no recorded fork point"))
      val cur = latest(root).map(_.version).getOrElse(
        throw new IllegalStateException(s"fast-forward on empty log: $root"))
      if (cur != base)
        throw new ConcurrentCommitException(
          s"branch '$name' forked at v$base but main is at v$cur: " +
            "fast-forward must be a straight line — recreate the branch " +
            "from the current snapshot and replay its changes")
      val head = latest(bdir).getOrElse(throw new IllegalStateException(
        s"branch '$name' has an empty version log"))
      val rootAbs = root.toAbsolutePath.normalize()
      val bAbs = bdir.toAbsolutePath.normalize()
      val published = head.entries.map { e =>
        val abs = bAbs.resolve(e.name).normalize()
        if (abs.getParent == rootAbs)
          // an original root file the branch still references
          e.copy(name = abs.getFileName.toString)
        else if (abs.startsWith(bAbs)) {
          // branch-local: promote by rename (collision = loud failure,
          // never silent replace)
          Files.move(abs, rootAbs.resolve(abs.getFileName.toString))
          e.copy(name = abs.getFileName.toString)
        } else
          // external elsewhere (branch of a clone): re-anchor to root
          e.copy(name = rootAbs.relativize(abs).toString)
      }
      val info = advance(root, "fast-forward", removed = None,
        added = published)
      org.apache.commons.io.FileUtils.deleteDirectory(bdir.toFile)
      info
    }

  /** Publish branch `name` onto a main that has MOVED since the fork —
    * the diverged case [[fastForward]] rejects — as one metadata
    * three-way merge commit, with FILE-granular conflict detection
    * (the Iceberg/Delta optimistic-concurrency unit):
    *
    *  - each side's changes since the fork are read off its manifests:
    *    fork-point files it removed or grew masks on (dv/eq), plus the
    *    files it added;
    *  - a fork file BOTH sides touched is an overlapping-scope
    *    divergence → loud [[ConcurrentCommitException]] (rebase the
    *    branch by hand; silently merging masks would reorder two
    *    writers' intents);
    *  - disjoint scopes compose: main's current snapshot, minus fork
    *    files the branch removed, with the branch's mask growth
    *    swapped in, plus the branch's local files promoted by rename —
    *    one `merge-branch` commit, zero data bytes read or written.
    *
    * Row-tracked tables reject: both sides allocate row ids from the
    * same fork hwm, so a merge could alias ids — the straight-line
    * [[fastForward]] (which carries ONE side's ids) is the supported
    * path there. A main that was COMPACTED since the fork also rejects
    * (its fork files were rewritten: file-granular diffing can no
    * longer prove the scopes disjoint). */
  def mergeBranch(root: Path, name: String): VersionInfo =
    lockFor(root).synchronized {
      val bdir = branchDir(root, name)
      if (!Files.isDirectory(bdir))
        throw new IllegalArgumentException(
          s"no branch '$name' on table at $root")
      if (GraftTableMeta.read(root).get("row.tracking").contains("true"))
        throw new UnsupportedOperationException(
          s"merge_branch on row-tracked table $root could alias row " +
            "ids (both sides allocate from the fork's high-water " +
            "mark); use fast_forward from an unmoved main instead")
      val base = GraftTableMeta.read(bdir).get("branch.base")
        .map(_.toLong).getOrElse(throw new IllegalStateException(
          s"branch '$name' at $bdir has no recorded fork point"))
      val cur = latest(root).getOrElse(throw new IllegalStateException(
        s"merge_branch on empty log: $root"))
      if (cur.version == base) return fastForward(root, name)
      if (!listVersionNumbers(root).contains(base))
        throw new IllegalStateException(
          s"fork snapshot v$base of $root was expired by vacuum: " +
            "merge_branch needs it to diff both sides' changes")
      val fork = manifest(root, base)
      val head = latest(bdir).getOrElse(throw new IllegalStateException(
        s"branch '$name' has an empty version log"))
      val rootAbs = root.toAbsolutePath.normalize()
      val bAbs = bdir.toAbsolutePath.normalize()
      // resolve a branch entry to (root-relative name, entry) when it
      // references a fork-point root file; None = branch-local
      def asRootFile(e: FileEntry): Option[(String, FileEntry)] = {
        val abs = bAbs.resolve(e.name).normalize()
        if (abs.getParent == rootAbs) Some(abs.getFileName.toString -> e)
        else None
      }
      val forkByName = fork.entries.map(e => e.name -> e).toMap
      val forkNames = forkByName.keySet
      def masksOf(e: FileEntry): (Long, Long) =
        (e.dv.map(_.cardinality.toLong).getOrElse(0L),
          e.eq.map(_.cardinality.toLong).getOrElse(0L))
      // ----- branch side: survivors, mask growth, locals -----
      val branchRootFiles = head.entries.flatMap(asRootFile).toMap
      val branchLocals = head.entries.filter(asRootFile(_).isEmpty)
      val branchRemoved = forkNames -- branchRootFiles.keySet
      val branchMasked = branchRootFiles.filter { case (n, e) =>
        forkByName.get(n).exists(f => masksOf(e) != masksOf(f))
      }
      // ----- main side since the fork -----
      val curNames = cur.entries.map(_.name).toSet
      val mainRemoved = forkNames -- curNames
      val mainMasked = cur.entries.filter(e =>
        forkByName.get(e.name).exists(f => masksOf(e) != masksOf(f)))
        .map(_.name).toSet
      // a compaction/fast-forward since the fork rewrote fork files
      // without row change — file diffing can't attribute those, reject
      val mainRewrote = ((base + 1) to cur.version).exists { v =>
        listVersionNumbers(root).contains(v) && {
          val i = manifest(root, v)
          !i.dataChange && i.entries.map(_.name).toSet != (
            if (listVersionNumbers(root).contains(v - 1))
              manifest(root, v - 1).entries.map(_.name).toSet
            else Set.empty[String])
        }
      }
      if (mainRewrote) throw new ConcurrentCommitException(
        s"main of $root was compacted/rewritten since fork v$base: " +
          "file-granular merge cannot prove the scopes disjoint; " +
          "recreate the branch from the current snapshot")
      val branchTouched = branchRemoved ++ branchMasked.keySet
      val mainTouched = mainRemoved ++ mainMasked
      val overlap = branchTouched intersect mainTouched
      if (overlap.nonEmpty) throw new ConcurrentCommitException(
        s"branch '$name' and main both modified fork files since " +
          s"v$base (${overlap.toSeq.sorted.take(5).mkString(", ")}" +
          s"${if (overlap.size > 5) ", …" else ""}): overlapping-scope " +
          "divergence — rebase the branch (recreate from the current " +
          "snapshot and replay) instead of merging blind")
      // ----- compose: main's snapshot + the branch's disjoint edits ---
      val promoted = branchLocals.map { e =>
        val abs = bAbs.resolve(e.name).normalize()
        require(abs.startsWith(bAbs), s"branch entry escapes its dir: " +
          s"${e.name}")
        Files.move(abs, rootAbs.resolve(abs.getFileName.toString))
        e.copy(name = abs.getFileName.toString)
      }
      val swapped = branchMasked.map { case (n, e) => e.copy(name = n) }
      val info = advance(root, "merge-branch",
        removed = Some(branchRemoved ++ branchMasked.keySet),
        added = (swapped ++ promoted).toSeq,
        readVersion = Some(cur.version))
      org.apache.commons.io.FileUtils.deleteDirectory(bdir.toFile)
      info
    }

  /** Delete branch `name` without publishing (abandon the audit). */
  def dropBranch(root: Path, name: String): Boolean =
    lockFor(root).synchronized {
      val bdir = branchDir(root, name)
      if (!Files.isDirectory(bdir)) false
      else {
        org.apache.commons.io.FileUtils.deleteDirectory(bdir.toFile)
        true
      }
    }

  def listBranches(root: Path): Seq[String] = {
    val bs = root.resolve("_branches")
    if (!Files.isDirectory(bs)) return Nil
    val s = Files.list(bs)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(Files.isDirectory(_))
        .map(_.getFileName.toString).toSeq.sorted
    } finally s.close()
  }

  final case class VacuumStats(expiredVersions: Seq[Long],
      deletedFiles: Seq[String])

  /** Snapshot retention: keep the newest `keepLast` snapshots PLUS
    * every tagged snapshot ([[GraftTableMeta.tags]] — a tag is a
    * retention pin, Iceberg's ref-aware expiration), expire the rest,
    * and delete exactly the part files no retained snapshot
    * references. `olderThanMicros` adds the AGE axis (Iceberg's
    * expire_snapshots / Delta's retention window): only snapshots
    * committed strictly before the cutoff expire — the nightly
    * "expire everything older than 7 days, whatever the commit rate"
    * policy, composable with the count floor and the tag pins.
    * Retained snapshots stay byte-identically readable; expired ones
    * fail with the available-range error. Files referenced ACROSS
    * table roots (a shallow clone's external entries, names carrying a
    * path separator) belong to the source table's lifecycle and are
    * never deleted here. */
  def vacuum(root: Path, keepLast: Int,
      olderThanMicros: Option[Long] = None,
      // dry run: compute the exact expire/delete sets the real vacuum
      // would act on — same pins (tags, txn ledgers, branches), same
      // retention math — and touch NOTHING. The operational preflight
      // every destructive maintenance command needs (Delta's VACUUM
      // DRY RUN): the numbers it reports are the numbers a real run
      // then produces, spec-pinned.
      dryRun: Boolean = false): VacuumStats =
    lockFor(root).synchronized {
      require(keepLast >= 1, s"vacuum must keep at least 1 snapshot")
      val versions = listVersionNumbers(root)
      val tagged = GraftTableMeta.tags(root).values.toSet
      // streaming-epoch pins: each appId's LATEST (max-epoch) commit
      // must stay retained — the idempotent-replay check reads the
      // epoch ledger off the retained manifests, so expiring an
      // appId's last txn record would let a checkpoint replay land the
      // same micro-batch twice. One pinned manifest per appId, so the
      // bound is #distinct-writers, not history length.
      val txnPinned: Set[Long] = {
        val latestByApp =
          scala.collection.mutable.Map.empty[String, (Long, Long)]
        versions.foreach { v =>
          readManifest(root, v).txn.foreach { case (a, e) =>
            if (latestByApp.get(a).forall(_._1 < e))
              latestByApp(a) = (e, v)
          }
        }
        latestByApp.values.map(_._2).toSet
      }
      val (expire0, _) =
        versions.splitAt(math.max(versions.length - keepLast, 0))
      val expire = expire0.filterNot(tagged).filterNot(txnPinned)
        .filter(v =>
          olderThanMicros.forall(readManifest(root, v).tsMicros < _))
      val expireSet = expire.toSet
      val retain = versions.filterNot(expireSet)
      val retainedFiles =
        retain.flatMap(readManifest(root, _).files).toSet
      val branchPinned = branchReferencedRootFiles(root)
      val expiredFiles =
        (expire.flatMap(readManifest(root, _).files).toSet
          -- retainedFiles -- branchPinned)
          .filterNot(_.contains('/'))
      if (dryRun) return VacuumStats(expire, expiredFiles.toSeq.sorted)
      // sidecar lifecycle is reference-based: a sidecar is referenced
      // ONLY by its manifest (the header's `sidecar=` token for
      // claim-era commits; the legacy `v%05d.sidecar` default
      // otherwise), so collect the retained references BEFORE deleting
      // anything, then reclaim every .sidecar outside that set —
      // expired commits' sidecars, crashed attempts' debris, and
      // losing racers' leftovers all in one rule
      val referencedSc: Set[String] = retain.map { v =>
        val i = readManifest(root, v)
        i.sidecarName.getOrElse(f"v${i.version}%05d.sidecar")
      }.toSet
      // delete manifests first: a crash mid-vacuum must never leave a
      // readable snapshot whose files are gone. Each expired commit's
      // sidecar goes with it immediately (we just deleted its only
      // reference, so no staleness window applies).
      expire.foreach { v =>
        val sc =
          try {
            val i = readManifest(root, v)
            Some(i.sidecarName.getOrElse(f"v${i.version}%05d.sidecar"))
          } catch { case _: Exception => None }
        Files.deleteIfExists(versionsDir(root).resolve(f"v$v%05d.manifest"))
        sc.foreach(n =>
          Files.deleteIfExists(versionsDir(root).resolve(n)))
      }
      // stale commit temps: a crash between createTempFile and the
      // atomic move leaves `v<N>-*.tmp` (manifest) / `v<N>-sc-*.tmp`
      // (sidecar) debris that nothing references — removeOrphans
      // deliberately never touches _versions, so this sweep is their
      // only reclaim path. The mtime guard (removeOrphans' safety
      // valve) keeps a CONCURRENT writer's in-flight temp and its
      // just-landed (not-yet-referenced) sidecar safe: only files
      // older than the explicit cutoff — or 10 minutes, far beyond any
      // commit's write-to-claim window — are debris. The caller's
      // cutoff NEVER relaxes the grace: an aggressive retention
      // argument (~now, legitimate for expiring SNAPSHOTS fast) must
      // not delete a concurrent cross-process writer's just-landed
      // sidecar before its manifest hard-links — that would leave a
      // committed manifest referencing missing sidecar bytes. The
      // sweep cutoff is therefore min(argument, now - grace).
      val graceMicros =
        System.currentTimeMillis() * 1000L - 10L * 60 * 1000 * 1000
      val tmpCutoffMicros =
        math.min(olderThanMicros.getOrElse(Long.MaxValue), graceMicros)
      val scList = Files.list(versionsDir(root))
      try {
        import scala.jdk.CollectionConverters._
        def stale(p: Path): Boolean =
          Files.getLastModifiedTime(p).toMillis * 1000L < tmpCutoffMicros
        scList.iterator().asScala.toSeq.foreach { p =>
          val n = p.getFileName.toString
          if (n.endsWith(".sidecar") && !referencedSc.contains(n) &&
              stale(p))
            Files.deleteIfExists(p)
          else if (n.startsWith("v") && n.endsWith(".tmp") && stale(p))
            Files.deleteIfExists(p)
        }
      } finally scList.close()
      // Identity claim folding: claims are monotone (every new claim's
      // end is the furthest seen), so once a column has a newer claim,
      // older ones are redundant to the allocator's max/min scan.
      // Deleting ONLY claims past the grace window keeps the race-free
      // invariant: an allocator's scan-to-create window is milliseconds,
      // so no in-flight scan can still see (and re-choose the base of)
      // a claim old enough to fold — the same mtime reasoning as the
      // temp sweep above. The furthest claim per column ALWAYS stays:
      // it alone carries the frontier.
      val idDir = root.resolve("_identity")
      if (Files.isDirectory(idDir)) {
        import scala.jdk.CollectionConverters._
        def staleId(p: Path): Boolean =
          Files.getLastModifiedTime(p).toMillis * 1000L < graceMicros
        val specs = GraftTableMeta.identitySpecs(root)
        val idList = Files.list(idDir)
        val all = try idList.iterator().asScala.toSeq finally idList.close()
        all.filter(p => p.getFileName.toString.endsWith(".tmp"))
          .filter(staleId).foreach(Files.deleteIfExists(_))
        specs.foreach { case (idx, (_, step, _)) =>
          val prefix = s"c$idx-"
          val claims = all.flatMap { p =>
            val n = p.getFileName.toString
            if (!n.startsWith(prefix) || n.endsWith(".tmp")) None
            else try {
              val end = new String(Files.readAllBytes(p),
                java.nio.charset.StandardCharsets.UTF_8).trim.toLong
              Some((p, end))
            } catch { case _: Exception => None }
          }
          if (claims.size > 1) {
            val keep =
              (if (step > 0) claims.maxBy(_._2) else claims.minBy(_._2))._1
            claims.filter(_._1 != keep).map(_._1)
              .filter(staleId).foreach(Files.deleteIfExists(_))
          }
        }
      }
      expiredFiles.toSeq.sorted.foreach { f =>
        Files.deleteIfExists(root.resolve(f))
      }
      VacuumStats(expire, expiredFiles.toSeq.sorted)
    }

  final case class OrphanStats(removed: Seq[String], bytes: Long)

  /** Root files a LIVE BRANCH still references (ref-aware retention,
    * Iceberg's expire_snapshots contract): a branch's manifests name
    * root files through `../../`-relative entries, so every root file
    * any branch version can still reach is pinned — without this, a
    * COW rewrite on main followed by vacuum or an orphan sweep would
    * delete bytes the branch's audit still reads. */
  private def branchReferencedRootFiles(root: Path): Set[String] = {
    val rootAbs = root.toAbsolutePath.normalize()
    listBranches(root).flatMap { b =>
      val bdir = branchDir(root, b)
      listVersionNumbers(bdir).flatMap(readManifest(bdir, _).files)
        .flatMap { n =>
          val abs = bdir.toAbsolutePath.resolve(n).normalize()
          if (abs.getParent == rootAbs) Some(abs.getFileName.toString)
          else None
        }
    }.toSet
  }

  /** Iceberg-style `remove_orphan_files`: reclaim files under the table
    * directory that NO manifest (of any retained version) references —
    * the debris [[vacuum]] cannot see, because vacuum only walks the
    * log: crashed compactions' landed-but-uncommitted part files,
    * interrupted concat temps, and abandoned dirs under `_staging`: a batch
    * write's `_staging/<queryId>` from a job that died between task
    * commit and driver commit, and a rewrite's scratch table
    * `_staging/rewrite-<uuid>` ([[stageRewrite]]) from a driver that
    * died mid-compaction, mid-materialization or mid-view-swap.
    *
    * The `olderThanMicros` cutoff is the same safety valve Iceberg
    * requires: an in-flight writer's staged files are indistinguishable
    * from debris by name, so only files whose mtime predates the cutoff
    * are eligible — run with a cutoff older than the longest possible
    * job, never "now", on a table with live writers. Same caveat as
    * Delta documents for shallow clones: a clone references its
    * source's files through the CLONE's manifest, which this table's
    * log knows nothing about — vacuuming/orphan-sweeping a clone SOURCE
    * below the snapshots its clones were taken from can strand them.
    * Never touches `_versions` (the log itself), `_table.properties`,
    * `_branches` (each branch is its own versioned table with its own
    * log), or `_SUCCESS`. Runs under the table lock so a concurrent
    * commit cannot land files between the reference scan and the
    * delete. */
  def removeOrphans(root: Path, olderThanMicros: Long): OrphanStats =
    lockFor(root).synchronized {
      require(isVersioned(root),
        s"remove_orphan_files needs a versioned table: $root")
      import scala.jdk.CollectionConverters._
      val referenced = listVersions(root).flatMap(_.files)
        .filterNot(_.contains('/')).toSet ++
        branchReferencedRootFiles(root)
      val removed = Seq.newBuilder[String]
      var bytes = 0L
      def eligible(p: Path): Boolean =
        Files.getLastModifiedTime(p).toMillis * 1000L < olderThanMicros
      val s = Files.list(root)
      try s.iterator().asScala.toSeq.foreach { p =>
        val n = p.getFileName.toString
        val debris =
          (n.matches(GraftFiles.partFileRegex) && !referenced(n)) ||
            (n.startsWith("_concat-") && n.endsWith(".tmp"))
        if (debris && eligible(p)) {
          bytes += Files.size(p); Files.delete(p); removed += n
        }
      } finally s.close()
      val stg = root.resolve("_staging")
      if (Files.isDirectory(stg)) {
        val sd = Files.list(stg)
        try sd.iterator().asScala.toSeq.foreach { d =>
          if (Files.isDirectory(d) && eligible(d)) {
            val files = Files.walk(d)
            val sz =
              try files.iterator().asScala.toSeq
                .filter(Files.isRegularFile(_)).map(Files.size).sum
              finally files.close()
            org.apache.commons.io.FileUtils.deleteDirectory(d.toFile)
            bytes += sz
            removed += s"_staging/${d.getFileName}"
          }
        } finally sd.close()
      }
      OrphanStats(removed.result().sorted, bytes)
    }
}
