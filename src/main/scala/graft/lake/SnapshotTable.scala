package graft.lake

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit, when}

/** Minimal Iceberg-style snapshot table: versioned manifests over
  * immutable parquet data files.
  *
  * Re-expresses the reference's Iceberg/Lakekeeper table layer
  * (/root/reference/etc/catalog/iceberg.properties,
  * RUNBOOK.md §7 — `CREATE TABLE … WITH (partitioning …)`, inserts,
  * read-back) with no external catalog: each commit writes new
  * immutable files plus a version manifest ([[Manifest]]).
  * Readers pick a version → time travel; appends never rewrite old
  * files.
  *
  * Commit metadata I/O is O(files touched), not O(table) — Iceberg's
  * manifest-list design: a commit writes its new file entries to an
  * immutable FRAGMENT and the version manifest is a manifest LIST —
  * header lines plus one reference per live fragment. Unchanged
  * fragments are re-referenced, never rewritten, so appending one file
  * to a million-file table writes one small fragment plus a list with
  * one line per prior commit.
  * Copy-on-write (DELETE/UPDATE) rewrites only the fragments that
  * contain affected files; metadata-only commits (rename/widen/
  * rollback/tag/publish) copy fragment references verbatim. Legacy
  * manifests with inline file lines still read (refs and inline lines
  * mix freely) and are folded into a fragment by the next commit.
  *
  * All file I/O goes through the Hadoop FileSystem API, so `root`
  * can be s3a://… on a real cluster exactly like the reference's
  * MinIO bucket; local paths are just the test medium.
  */
object SnapshotTable {
  import Manifest.{Entry, EqDelete}

  private def fsOf(s: SparkSession, p: Path): FileSystem =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  /** Canonical, SCHEME-PRESERVING file identity. Manifest lines and
    * `_metadata.file_path` spell the same file differently
    * (`file:/x` vs `file:///x`), so comparisons need a normal form —
    * but stripping to the bare path would collapse distinct
    * stores/buckets (`s3a://a/x` == `s3a://b/x`), silently wrong the
    * moment a table's files span authorities. Scheme-less inputs are
    * qualified against their FileSystem first, so `/x` and
    * `file:///x` still agree.
    */
  private[graft] def canon(s: SparkSession, p: String): String =
    canonConf(s.sparkContext.hadoopConfiguration, p)

  private def canonConf(conf: org.apache.hadoop.conf.Configuration, p: String): String = {
    val path = new Path(p)
    canonQualified(
      if (path.toUri.getScheme == null) path.getFileSystem(conf).makeQualified(path) else path)
  }

  /** [[canon]] of an already-qualified path (a listing status). */
  private def canonQualified(q: Path): String = {
    val u = q.toUri
    s"${u.getScheme}://${Option(u.getAuthority).getOrElse("")}${u.getPath}"
  }

  private def conf(s: SparkSession) = s.sparkContext.hadoopConfiguration

  def currentVersion(s: SparkSession, root: String): Int =
    Manifest.versions(conf(s), root).lastOption.fold(0)(_._1)

  /** [[currentVersion]] of a table that must already exist. */
  private def existingVersion(s: SparkSession, root: String): Int = {
    val cur = currentVersion(s, root)
    require(cur > 0, s"no snapshot table at $root")
    cur
  }

  /** Main version `v` of `root`, parsed once ([[Manifest]]). An
    * operation looks up each version it touches once and reads every
    * fact it needs of it (entries, header facts, the memoized schema)
    * from what this returns.
    */
  def version(s: SparkSession, root: String, v: Int): Manifest.Version =
    verAt(s, root, s"v$v")

  /** [[version]], or None when `v` was expired (its manifest is gone).
    * Any other failure throws, a torn manifest included: a tear is
    * never read as a shorter history.
    */
  private[lake] def liveVersion(s: SparkSession, root: String, v: Int): Option[Manifest.Version] =
    try Some(version(s, root, v)) catch { case _: java.io.FileNotFoundException => None }

  /** Version `cur` as a commit builds on it: version 0 is the empty table. */
  private def headAt(s: SparkSession, root: String, cur: Int): Manifest.Version =
    if (cur < 1) Manifest.Empty else version(s, root, cur)

  /** Manifest version by stem — `v3` (main) or `audit.v2` (branch). */
  private def verAt(s: SparkSession, root: String, stem: String): Manifest.Version =
    Manifest.at(conf(s), root, stem)

  /** The commit skeleton every write op on main shares: publish
    * version `cur + 1` on `head`, the caller's lookup of version `cur`
    * (0 = a new table, [[headAt]]). The header is `header` of the
    * head's inherited headers plus `meta`; the body is `body` of the head
    * (its whole body by default) followed by one new fragment per
    * (name suffix, entry lines) group that has lines, named
    * `v<cur + 1><suffix>`. A lost CAS throws [[Manifest.LostCas]].
    * Returns the new version.
    */
  private def publishNext(
      s: SparkSession, root: String, cur: Int, head: Manifest.Version,
      meta: Map[String, String],
      added: Seq[(String, Seq[String])] = Nil,
      body: Manifest.Version => Seq[String] = _.body,
      header: Map[String, String] => Map[String, String] = identity): Int = {
    val v = cur + 1
    val refs = added.flatMap { case (suffix, lines) =>
      Manifest.fragment(conf(s), root, s"v$v$suffix", lines)
    }
    Manifest.publish(conf(s), root, s"v$v",
      header(head.inheritedHeader) ++ meta, body(head) ++ refs)
    v
  }

  private val CasAttempts = 50

  /** The one lost-CAS retry loop. `attempt` builds a commit on the
    * newest head (its argument) and publishes it with [[publishNext]];
    * when another writer published that version first, it runs again
    * on the new head after a 2–9 ms jittered backoff (so stampeding
    * writers spread out), [[CasAttempts]] times at most. What a rebase
    * must redo or check is the caller's rule, inside `attempt`.
    */
  @annotation.tailrec
  private def rebasing(s: SparkSession, root: String, lost: Int = 0)(
      attempt: Int => Int): Int = {
    val won =
      try Some(attempt(currentVersion(s, root)))
      catch {
        case e: Manifest.LostCas =>
          if (lost + 1 >= CasAttempts) throw new IllegalStateException(
            s"lost the version CAS $CasAttempts times for $root — " +
              "writer contention exceeds the retry budget", e)
          None
      }
    won match {
      case Some(v) => v
      case None =>
        Thread.sleep(2L + scala.util.Random.nextInt(8))
        rebasing(s, root, lost + 1)(attempt)
    }
  }

  // ----- merge-on-read positional deletes ---------------------------
  //
  // Iceberg v2-style row-level deletes: a manifest line annotated
  // `_kind=posdelete` references a POSITIONAL DELETE file — parquet
  // rows of (file_path, pos) naming suppressed rows of live data
  // files by (file, row ordinal). A MoR DELETE commit writes O(Δ)
  // delete rows and re-references every data file verbatim; the read
  // side anti-joins the (tiny, broadcast) delete set against
  // `_metadata.file_path` / `_metadata.row_index`. This is the
  // trickle-delete path (GDPR erasure at 100 TB): copy-on-write
  // [[deleteWhere]] rewrites every touched file for a 1-row delete,
  // merge-on-read writes one small file. [[compactDeletes]] folds
  // accumulated deletes back into rewritten data files.

  // ----- equality deletes + data sequence numbers -------------------
  //
  // Iceberg v2 EQUALITY deletes: a delete file of key VALUES (not
  // positions) suppressing every matching row of data files OLDER
  // than the delete. "Older" is decided by per-commit sequence
  // numbers (`_seq=` on data lines, `_eqseq=` on delete lines), so a
  // row re-inserted AFTER the delete survives — that ordering is what
  // makes a CDC upsert stream (delete k, insert k) converge. Unlike
  // positional deletes, writing one requires NO table read or
  // planning scan at all: the O(batch) streaming-writer delete path.

  /** Equality-delete files visible at a version. */
  def eqDeleteEntries(s: SparkSession, root: String, version: Int): Seq[EqDelete] =
    SnapshotTable.version(s, root, version).eqDeletes

  /** Sequence number the NEXT commit on top of `head` should stamp.
    * Pre-seq manifests (every line unstamped) and the empty table
    * yield 1; data lines without `_seq` read as 0, i.e. "older than
    * every eq delete" — the conservative direction.
    */
  private def nextSeq(head: Manifest.Version): Long = head.maxSeq + 1

  private def stampSeq(lines: Seq[String], seq: Long): Seq[String] =
    lines.map(Manifest.withSeq(_, seq))

  /** The parquet files Spark just wrote under `dir`, sorted. */
  private def parquetFilesIn(s: SparkSession, dir: String): Seq[String] = {
    val p = new Path(dir)
    fsOf(s, p).listStatus(p).map(_.getPath.toString)
      .filter(_.endsWith(".parquet")).sorted.toSeq
  }

  /** Manifest lines (row-stamped) for the positional-delete parquet
    * just written under `dir`.
    */
  private def posDeleteLines(s: SparkSession, dir: String): Seq[String] =
    footerPass(s, parquetFilesIn(s, dir).map(Manifest.posDeleteLine))

  /** [[posDeleteLines]] of a MoR delete set and the delete rows they
    * carry. A set that deletes nothing (Spark still writes one empty
    * part file) is removed again and yields no lines, so no manifest
    * can reference its deleted files.
    */
  private def morDeleteLines(s: SparkSession, dir: String): (Seq[String], Long) = {
    val lines = posDeleteLines(s, dir)
    val n = lines.map(new Entry(_).rows).sum
    if (n > 0) (lines, n)
    else { val p = new Path(dir); fsOf(s, p).delete(p, true); (Seq.empty, 0L) }
  }

  /** canon(data file) → its commit sequence number, for a version.
    * Metadata-sized, computed once per version.
    */
  private def fileSeqFn(s: SparkSession, mv: Manifest.Version): String => Long = {
    val m = mv.memo("fileSeq") {
      mv.dataEntries.map(e => canon(s, e.path) -> e.seq).toMap
    }
    f => m.getOrElse(canon(s, f), 0L)
  }

  /** Data files visible at a version (metadata header lines excluded,
    * positional/equality delete files and per-file annotations
    * stripped).
    */
  def dataFiles(s: SparkSession, root: String, version: Int): Seq[String] =
    SnapshotTable.version(s, root, version).dataFiles

  /** Positional delete files visible at a version. */
  def deleteFiles(s: SparkSession, root: String, version: Int): Seq[String] =
    SnapshotTable.version(s, root, version).deleteFiles

  /** The one footer pass over files a commit registers: each manifest
    * line gains its file's row count (`_rows=<n>`, Iceberg's
    * per-data-file `record_count`), byte size (`_bytes=<n>`, Iceberg's
    * `file_size_in_bytes` — what feeds table statistics to Catalyst so
    * a small lake dim can auto-broadcast) and the min/max bounds of
    * `statsCols` (physical names, [[footerBounds]]), all from ONE open
    * of the file's parquet footer ([[graft.sources.Footer]]) — no data
    * page is read. This is what keeps [[recordCount]], [[tableStats]]
    * (and `$history`) metadata-sized at any scale. `validate` (the
    * stats columns this commit registers) must name a column of the
    * files with a type stats support: a typo'd statsCol fails loudly.
    * `daySource` (the physical partition source of a day table whose
    * `lines` name no day) gives each file whose rows all fall in one
    * day that day ([[footerDay]]); other files stay unannotated and
    * always scan. `known` holds footers the caller already read, keyed
    * by line path. Small commits (streaming micro-batches) read footers
    * on the driver, concurrently; large ones fan the reads out as one
    * task wave.
    */
  private def footerPass(
      s: SparkSession, lines: Seq[String], statsCols: Seq[String] = Nil,
      validate: Seq[String] = Nil, daySource: Option[String] = None,
      known: Map[String, graft.sources.Footer.Facts] = Map.empty): Seq[String] = {
    if (lines.isEmpty) return lines
    val files = lines.map(new Entry(_).path)
    val cols = statsCols.distinct.sorted
    val zone = s.sessionState.conf.sessionLocalTimeZone
    val conf = s.sparkContext.hadoopConfiguration
    // registered names are checked once, against the first file's
    // footer, which the pass then reuses
    val seen = if (validate.isEmpty) known else {
      val ft = known.getOrElse(files.head, graft.sources.Footer.read(conf, files.head))
      requireStatsCols(ft.parquetSchema, validate)
      known + (files.head -> ft)
    }
    if (files.size <= 64) {
      // concurrent footer reads (commonPool): the loop is pure
      // per-file I/O, and serializing ~3 ms × N files was visible
      // driver dead time between jobs on multi-file commits
      import scala.jdk.CollectionConverters._
      lines.zip(files).asJava.parallelStream().map[String] { lf =>
        annotated(lf._1, seen.getOrElse(lf._2, graft.sources.Footer.read(conf, lf._2)),
          cols, daySource, zone)
      }.collect(java.util.stream.Collectors.toList[String]).asScala.toSeq
    } else {
      val hconf = new org.apache.spark.util.SerializableConfiguration(conf)
      s.sparkContext.parallelize(lines.zip(files), math.min(files.size, 64)).map {
        case (line, f) =>
          annotated(line, graft.sources.Footer.read(hconf.value, f), cols, daySource, zone)
      }.collect().toSeq
    }
  }

  /** `line` annotated from its file's footer: the day of `daySource`
    * in `zone` ([[footerDay]]), the bounds of `cols`, rows and bytes.
    */
  private def annotated(line: String, ft: graft.sources.Footer.Facts, cols: Seq[String],
      daySource: Option[String], zone: String): String = {
    val dayed = daySource.flatMap(footerDay(ft, _, zone)).fold(line)(Manifest.withDay(line, _))
    Manifest.withCounts(footerBounds(dayed, ft, cols), ft.rows, Some(ft.bytes))
  }

  /** Total rows visible at `version`, summed from the `_rows`
    * manifest annotations — a pure metadata read: no data file is
    * opened. Lines missing the annotation (manifests written before
    * row stamping existed) fall back to one count over just those
    * files.
    */
  def recordCount(s: SparkSession, root: String, version: Int): Long = {
    val mv = SnapshotTable.version(s, root, version)
    val entries = mv.entries
    // equality deletes suppress an unknowable-from-metadata number of
    // rows (their `_rows` is key rows, not matches) — fall back to an
    // exact read-side count; exactness beats speed here, and
    // maintenance (compactDeletesIfNeeded) folds eq deletes promptly
    // so the metadata-only fast path is the steady state
    if (entries.exists(_.kind == 2)) return readVersion(s, root, version, mv).count()
    def total(es: Seq[Entry]): Long = {
      val known = es.flatMap(_.rowsOpt).sum
      val unknown = es.filter(_.rowsOpt.isEmpty).map(_.path)
      if (unknown.isEmpty) known else known + s.read.parquet(unknown: _*).count()
    }
    // each positional delete row suppresses exactly one live data row
    // (deleteWhereMor plans against the already-delete-filtered view,
    // so positions never duplicate) — net them out, still metadata-only
    val (del, data) = entries.partition(_.kind == 1)
    total(data) - total(del)
  }

  /** ESTIMATED (bytes, rows) visible at a version, from the `_bytes` /
    * `_rows` manifest annotations — a pure metadata read, no data file
    * opened, no exactness fallback: this feeds Catalyst STATISTICS
    * ([[graft.streaming.GraftSnapshotRelation.sizeInBytes]], the DSv2
    * scan's SupportsReportStatistics), where an estimate decides plan
    * shape (auto-broadcast of a small dim) and a scan to refine it
    * would defeat the point. Bytes are compressed-on-disk data-file
    * bytes (what Spark's own HadoopFsRelation reports); rows net out
    * positional deletes but NOT equality deletes (unknowable from
    * metadata — the estimate then overcounts, which only makes a
    * broadcast decision more conservative). Files predating the
    * `_bytes` annotation fall back to one FileStatus probe each —
    * driver-side RPCs, never data reads; compaction/maintenance
    * rewrites re-stamp, so annotated is the steady state.
    */
  def tableStats(s: SparkSession, root: String, version: Int = -1): (Long, Long) = {
    val v = if (version < 0) currentVersion(s, root) else version
    val entries = SnapshotTable.version(s, root, v).entries
    val dataOnly = entries.filter(_.isData)
    val bytes = dataOnly.map { e =>
      e.bytesOpt.getOrElse {
        val p = new Path(e.path)
        try fsOf(s, p).getFileStatus(p).getLen catch { case _: java.io.IOException => 0L }
      }
    }.sum
    val rows = dataOnly.flatMap(_.rowsOpt).sum -
      entries.filter(_.kind == 1).flatMap(_.rowsOpt).sum
    (bytes, math.max(rows, 0L))
  }

  /** Anti-join a read against a version's positional delete files.
    * The delete set is O(deleted rows) and broadcast; row identity is
    * the scan's own (`_metadata.file_path`, `_metadata.row_index`), so
    * both sides of the comparison come from the same source and can
    * never drift in spelling. With no deletes (and no id columns
    * requested) the input plan is returned untouched — non-MoR tables
    * keep their exact pre-MoR plans.
    */
  private def applyDeletes(
      s: SparkSession, raw: DataFrame, deletes: Seq[String],
      keepRowId: Boolean = false): DataFrame = {
    if (deletes.isEmpty && !keepRowId) return raw
    val withId = raw
      .withColumn("_graft_fp", col("_metadata.file_path"))
      .withColumn("_graft_pos", col("_metadata.row_index"))
    val live =
      if (deletes.isEmpty) withId
      else {
        val d = org.apache.spark.sql.functions.broadcast(
          s.read.parquet(deletes: _*).select(
            col("file_path").as("_graft_del_fp"), col("pos").as("_graft_del_pos")))
        withId.join(d,
          col("_graft_fp") === col("_graft_del_fp") &&
            col("_graft_pos") === col("_graft_del_pos"), "left_anti")
      }
    if (keepRowId) live else live.drop("_graft_fp", "_graft_pos")
  }

  /** Full delete application — positional AND equality — over an
    * explicit file set. Equality deletes only suppress rows of files
    * with sequence number strictly BELOW the delete's, so the file
    * set is partitioned into classes by applicable-delete subset
    * (subsets are nested in the file's seq, so at most
    * |eq deletes|+1 classes — and eq deletes are folded by
    * maintenance, so usually zero or a handful), each class scanned
    * separately with its broadcast key anti-joins, results unioned.
    * With no eq deletes this is exactly the single-scan positional
    * path — non-eq tables keep their pre-eq plans. Null keys follow
    * Iceberg v2 equality-delete semantics: null EQUALS null (the
    * anti-join is null-safe, `<=>`), so a CDC delete image carrying a
    * null key column suppresses the null-keyed rows — NOT SQL join
    * semantics, where a null never matches.
    */
  private def applyAllDeletes(
      s: SparkSession, files: Seq[String], scan: Seq[String] => DataFrame,
      posDels: Seq[String], eqDels: Seq[EqDelete], fileSeq: String => Long,
      keepRowId: Boolean = false): DataFrame = {
    if (eqDels.isEmpty || files.isEmpty)
      return applyDeletes(s, scan(files), posDels, keepRowId)
    files.groupBy(f => eqDels.count(_.seq > fileSeq(f))).map { case (_, fs) =>
      val applicable = eqDels.filter(_.seq > fileSeq(fs.head))
      var df = applyDeletes(s, scan(fs), posDels, keepRowId)
      val order = df.columns // pin the scan's column order across the joins
      applicable.groupBy(_.cols).foreach { case (cols, grp) =>
        val keys = grp.map(g => s.read.parquet(g.path)).reduce(_ unionByName _)
          .select(cols.map(c => col(c).as(s"_graft_eqk_$c")): _*).distinct()
        // null-safe equality per key column (Iceberg v2: null == null)
        val cond = cols.map(c => col(c) <=> col(s"_graft_eqk_$c")).reduce(_ && _)
        df = df.join(org.apache.spark.sql.functions.broadcast(keys), cond, "left_anti")
      }
      df.select(order.map(col).toIndexedSeq: _*)
    }.reduce(_ unionByName _)
  }

  /** Commit a new version. `append=true` keeps prior files visible;
    * `append=false` is an overwrite commit (old files stay on disk
    * for old-version readers — that's what makes time travel work).
    * `meta` is recorded in the manifest header (`#key=value`) — used
    * e.g. by LakeSink to stamp the streaming batch id for idempotent
    * replay. Returns the new version number.
    *
    * A concurrent committer racing to the same version loses the
    * publish CAS ([[Manifest.publish]]) loudly instead of clobbering
    * the manifest. Pass `expectedVersion` (the version you read plus
    * one) to also fail when another writer got there before this
    * commit started. A crash before the publish leaves only orphan
    * data files, never a corrupt or half-visible version.
    */
  def commit(
      s: SparkSession, root: String, df: DataFrame,
      append: Boolean = true, meta: Map[String, String] = Map.empty,
      expectedVersion: Option[Int] = None,
      statsCols: Seq[String] = Seq.empty,
      bloomCols: Seq[String] = Seq.empty): Int =
    commitData(s, root, df, append, meta, expectedVersion, statsCols, bloomCols)

  /** [[commit]], optionally registering day(`partition`) partitioning
    * with `saltBuckets` files per day ([[commitPartitionedByDay]]).
    */
  private def commitData(
      s: SparkSession, root: String, df: DataFrame, append: Boolean,
      meta: Map[String, String] = Map.empty, expectedVersion: Option[Int] = None,
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil,
      partition: Option[String] = None, saltBuckets: Int = -1): Int = {
    val cur = currentVersion(s, root)
    val v = expectedVersion.getOrElse(cur + 1)
    if (v <= cur)
      throw new IllegalStateException(
        s"concurrent commit detected for $root: expected to create version $v " +
          s"but table is already at $cur")
    // schema-evolution metadata survives every commit (incl. overwrite:
    // replacing the data does not undo a rename); the partition header
    // holds the source's physical name, which renames never change
    val head = headAt(s, root, cur)
    val source = partition.map(p => head.columnMapping.getOrElse(p, p))
    val w = writeNew(s, root, s"$root/data/v$v", cur, head, df, partition = source,
      statsCols = statsCols, bloomCols = bloomCols, buckets = saltBuckets)
    // merge newly-registered stats/bloom columns with the inherited
    // set: a commit stamping stats on `value` must not forget that
    // older fragments carry valid stats on `id`
    def merged(inherited: Seq[String], added: Seq[String]) =
      if (added.isEmpty) None else Some(inherited ++ added.filter(_.nonEmpty))
    // prior FRAGMENT REFS copied verbatim (earlier stats/partition
    // annotations live inside the untouched fragments) — this is what
    // makes the append O(files touched), not O(table)
    publishNext(s, root, v - 1, head, meta, Seq("" -> stampSeq(w.lines, nextSeq(head))),
      body = if (append) _.body else _ => Seq.empty,
      header = withFieldIdsHeader(s, root, cur, head, w).andThen(Manifest.withFacts(_,
        partitionSource = source,
        statsColumns = merged(head.statsColumns, statsCols),
        bloomColumns = merged(head.bloomColumns, bloomCols))))
  }

  /** Register EXISTING parquet files as a new version — ZERO-COPY, the
    * migration path INTO the table layer (Iceberg `add_files` / Delta
    * `CONVERT TO DELTA`): the files are referenced by the manifest,
    * never read beyond their footers (row-count stamping) and never
    * rewritten. `meta` may carry schema headers (column mapping / type
    * widening) so imported tables keep foreign rename/widen semantics.
    *
    * Row-level delete files a wire client already wrote ride the same
    * commit: the external-CDC-writer shape (one equality delete + one
    * append per batch, [[upsertEq]]'s layout) landed through the
    * catalog instead of the engine. Sequence semantics are exactly
    * upsertEq's: every file in the commit shares ONE fresh sequence
    * number, so the equality deletes suppress matching rows of
    * STRICTLY OLDER data files while the same commit's own appended
    * rows survive — the ordering that makes a CDC stream (delete k,
    * insert k) converge. `posDeletes` are parquet of (file_path, pos)
    * naming suppressed rows directly; `eqDeletes` pairs each staged
    * key-value parquet with its LOGICAL key columns (mapped to
    * physical here, like every engine-side delete writer). A commit
    * with deletes needs an existing table and records
    * `op=upsert_wire` (or `delete_wire` without data files).
    *
    * Each registered file's footer is opened once ([[footerPass]]:
    * `_rows`, `_bytes`, the table's registered stats, a one-day file's
    * day on a day table); `footers` are the ones the caller already
    * read (a wire commit's schema checks), keyed by the path it passed.
    */
  def commitFiles(
      s: SparkSession, root: String, files: Seq[String],
      append: Boolean = true, meta: Map[String, String] = Map.empty,
      posDeletes: Seq[String] = Seq.empty,
      eqDeletes: Seq[(String, Seq[String])] = Seq.empty,
      footers: Map[String, graft.sources.Footer.Facts] = Map.empty): Int = {
    val cur = currentVersion(s, root)
    val deletes = posDeletes.nonEmpty || eqDeletes.nonEmpty
    if (deletes) require(cur > 0, s"no snapshot table at $root")
    val head = headAt(s, root, cur)
    eqDeletes.foreach { case (_, cols) =>
      require(cols.nonEmpty, "equality delete requires at least one key column")
      requireKeyColsInSchema(s, root, cur, head, cols)
    }
    val seq = nextSeq(head)
    val v = cur + 1
    val mapping = head.columnMapping
    val known = footers.map { case (f, ft) => canon(s, f) -> ft }
    val dataLines = stampSeq(footerPass(s, files.map(f => canon(s, f)),
      head.statsColumns.map(c => mapping.getOrElse(c, c)), daySource = head.partitionSource,
      known = known), seq)
    val posLines = footerPass(s, posDeletes.map(p => Manifest.posDeleteLine(canon(s, p))),
      known = known)
    val eqLines = footerPass(s, eqDeletes.zipWithIndex.map {
      case ((p, cols), i) =>
        val phys = cols.map(c => mapping.getOrElse(c, c))
        // a wire client stages key files under the LOGICAL names the
        // served schema shows; the read side selects the annotation's
        // PHYSICAL names from the file. Identical unless the table has
        // renames — then rewrite the (O(batch)-small) key file once
        // under the physical names; data files are still never touched
        val path =
          if (phys == cols) p
          else {
            val dir = s"$root/deletes/v$v-wire-eq$i"
            s.read.parquet(p)
              .select(cols.map(c => col(c).as(mapping.getOrElse(c, c))): _*)
              .repartition(1).write.mode("overwrite").parquet(dir)
            parquetFilesIn(s, dir).head
          }
        Manifest.eqDeleteLine(canon(s, path), phys, seq)
    }, known = known)
    publishNext(s, root, cur, head,
      (if (deletes) Map("op" -> (if (files.nonEmpty) "upsert_wire" else "delete_wire"))
       else Map.empty[String, String]) ++ meta,
      Seq("" -> (eqLines ++ posLines ++ dataLines)),
      body = if (append) _.body else _ => Seq.empty)
  }

  /** Register an IMPORTED Iceberg file set — data files with explicit
    * rows/sequence numbers, per-file day partition values, and
    * positional/equality delete files — as one commit, ZERO-COPY (the
    * MoR-aware `add_files`). Unlike [[commitFiles]] nothing is read at
    * all, not even footers: row counts and sequence numbers come from
    * the foreign manifests, which an Iceberg engine already trusts for
    * planning. Positional deletes carry their scope in their content
    * (file path + row position — a path can never be reused by a
    * later file), so graft's path-addressed application preserves the
    * v2 sequence semantics; equality deletes keep their sequence
    * number, which IS load-bearing (they suppress only older rows).
    */
  private[lake] def commitImported(
      s: SparkSession, root: String,
      data: Seq[(String, Long, Long, Long, Option[String])], // (path, rows, bytes, seq, day)
      posDeletes: Seq[String],
      eqDeletes: Seq[(String, Seq[String], Long)], // (path, physical eq cols, seq)
      meta: Map[String, String]): Int = {
    val lines =
      data.map { case (p, rows, bytes, seq, day) =>
        // bytes 0 = the foreign writer omitted file_size_in_bytes; no
        // annotation, tableStats falls back to FileStatus for that file
        val line = Manifest.withSeq(
          Manifest.withCounts(canon(s, p), rows, Some(bytes).filter(_ > 0)), seq)
        day.fold(line)(Manifest.withDay(line, _))
      } ++
      posDeletes.map(p => Manifest.posDeleteLine(canon(s, p))) ++
      eqDeletes.map { case (p, cols, seq) => Manifest.eqDeleteLine(canon(s, p), cols, seq) }
    val cur = currentVersion(s, root)
    publishNext(s, root, cur, headAt(s, root, cur), meta, Seq("" -> lines))
  }

  /** CONCURRENT multi-writer append (VERDICT r6 item 7): Iceberg
    * optimistic concurrency. The data files and their fragment are
    * staged ONCE under a commit-unique directory (racing writers can
    * never clobber each other's data — `data/v{N}` would collide);
    * only the cheap metadata CAS retries. On a lost CAS the commit is
    * REBASED: re-read the new head, re-list its fragment refs (an
    * O(#fragments) read — this is where manifest-list commits pay
    * off), re-stamp the staged fragment's data sequence number against
    * the new head (Iceberg commit-time sequence assignment — see the
    * inline comment), and publish against the next version. An append
    * never logically conflicts with ANY intervening op: other appends
    * are disjoint by construction, and row-level deletes (positional
    * or equality) committed in between order strictly BEFORE this
    * commit's re-stamped sequence number, so they can never suppress
    * its rows. Copy-on-write commits (delete/update) do conflict on
    * overlapping file rewrites and intentionally stay fail-loud.
    */
  def commitAppend(
      s: SparkSession, root: String, df: DataFrame,
      meta: Map[String, String] = Map.empty): Int = {
    val stage = java.util.UUID.randomUUID.toString.take(8)
    // data files are written ONCE; only their manifest lines are
    // (cheaply) re-stamped on a rebase. Incoming LOGICAL column names
    // are stored under their physical names (same as commit) — a
    // rename mid-rebase is harmless because renames never change
    // physical names, only the logical labels over them.
    val cur0 = currentVersion(s, root)
    val head0 = headAt(s, root, cur0)
    val written = writeNew(s, root, s"$root/data/c-$stage", cur0, head0, df)
    // Iceberg commit-time sequence assignment: the data sequence number
    // is decided against the head this commit actually lands on, so it
    // is re-derived on EVERY CAS attempt. Stamping once against the
    // pre-CAS head would be a row-loss bug: if an intervening commit is
    // an eq delete (or bumps max seq before one), the rebased append's
    // rows would carry a stale lower _seq and be suppressed by a delete
    // issued before they were ever visible. Re-stamping makes rebase
    // safe over ANY intervening op, not just other appends. The
    // re-stamp rewrites only the O(#files-in-commit) fragment lines —
    // the staged data bytes are untouched; a superseded fragment is
    // orphan metadata debris, same as a crashed commit's.
    var stagedSeq = Long.MinValue
    var newRef: Seq[String] = Seq.empty
    rebasing(s, root) { cur =>
      val head = if (cur == cur0) head0 else headAt(s, root, cur)
      val seq = nextSeq(head)
      if (written.lines.nonEmpty && seq != stagedSeq) {
        newRef = Manifest.fragment(conf(s), root, s"c-$stage-s$seq", stampSeq(written.lines, seq))
        stagedSeq = seq
      }
      publishNext(s, root, cur, head, meta, body = _.body ++ newRef,
        header = withFieldIdsHeader(s, root, cur, head, written))
    }
  }

  /** Per-file bloom filters for equality skipping on high-cardinality
    * columns where min/max is useless (a uniformly-spread user_id
    * spans every file's [min,max]). One scan of the new files builds
    * a 2 KiB bitset per (file, column): positions
    * `pmod(xxhash64(col, i), BloomBits)` for i < BloomHashes — the
    * SAME expression the read-side probe replays via
    * XxHash64Function, so commit and probe can never drift. Stored
    * in the manifest line ([[Manifest.withBloom]]); a point lookup
    * then opens only files whose filter might contain the key.
    */
  private def annotateBloom(
      s: SparkSession, lines: Seq[String], cols: Seq[String]): Seq[String] = {
    import org.apache.spark.sql.functions.{array, collect_set, explode, pmod, xxhash64}
    val files = lines.map(new Entry(_).path)
    val df = s.read.parquet(files: _*)
    val posByFileCol: Map[(String, String), Array[Int]] =
      cols.flatMap { c =>
        val positions = array((0 until BloomHashes).map(i =>
          pmod(xxhash64(col(c), lit(i)), lit(BloomBits)).cast("int")): _*)
        df.filter(col(c).isNotNull)
          .select(col("_metadata.file_path").as("_file"), explode(positions).as("pos"))
          .groupBy("_file")
          .agg(collect_set(col("pos")).as("ps"))
          .collect()
          .map(r => (canon(s, r.getString(0)), c) ->
            r.getSeq[Int](1).toArray)
      }.toMap
    lines.zip(files).map { case (line, f) =>
      val key = canon(s, f)
      cols.foldLeft(line) { (l, c) =>
        posByFileCol.get((key, c)).fold(l) { ps =>
          val bits = new java.util.BitSet(BloomBits)
          ps.foreach(bits.set)
          Manifest.withBloom(l, c, bits)
        }
      }
    }
  }

  /** Read-side bloom probe: true = the file MIGHT contain the value. */
  private def bloomMightContain(bits: java.util.BitSet, value: Any,
      dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    (0 until BloomHashes).forall { i =>
      val h1 = XxHash64Function.hash(value, dt, 42L)
      val h2 = XxHash64Function.hash(i, org.apache.spark.sql.types.IntegerType, h1)
      bits.get((((h2 % BloomBits) + BloomBits) % BloomBits).toInt)
    }
  }

  /** Column `c`'s physical type and the footer statistics of each of
    * its row groups, when the file has the column and every row group
    * carries statistics.
    */
  private def columnStats(facts: graft.sources.Footer.Facts, c: String)
      : Option[(org.apache.parquet.schema.PrimitiveType,
        Seq[org.apache.parquet.column.statistics.Statistics[_]])] = {
    import scala.jdk.CollectionConverters._
    val chunks = facts.footer.getBlocks.asScala.toSeq
      .flatMap(_.getColumns.asScala.filter(_.getPath.toDotString == c))
    val stats = chunks.flatMap(ch => Option(ch.getStatistics).filterNot(_.isEmpty))
    if (chunks.isEmpty || stats.size < chunks.size) None
    else Some(chunks.head.getPrimitiveType -> stats)
  }

  /** Whether footer statistics of a column of type `prim` order like
    * Spark's comparisons: Some(true) for strings (unsigned UTF-8 byte
    * order), Some(false) for numerics, dates, timestamps and decimals,
    * None for the rest (BOOLEAN, INT96 legacy timestamps, binary).
    */
  private def stringStats(prim: org.apache.parquet.schema.PrimitiveType): Option[Boolean] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation._
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    (prim.getPrimitiveTypeName, prim.getLogicalTypeAnnotation) match {
      case (INT32 | INT64 | FLOAT | DOUBLE, _) => Some(false)
      case (BINARY, _: StringLogicalTypeAnnotation) => Some(true)
      case (BINARY | FIXED_LEN_BYTE_ARRAY, _: DecimalLogicalTypeAnnotation) => Some(false)
      case _ => None
    }
  }

  /** `line` with per-file min/max column stats, Iceberg-style, read
    * from PARQUET FOOTER METADATA — zero data bytes (Iceberg gets these
    * bounds free from write-time metrics the same way): numeric, date
    * and timestamp columns as doubles in the column's catalyst-internal
    * unit (days for dates, MICROSECONDS for timestamps), strings as
    * their UTF-8 bound bytes (UTF-8 byte order is exactly UTF8String's
    * comparison order, so the read-side interval test matches Spark
    * semantics bit-for-bit). At 100 TB this is what lets a selective
    * value predicate read a handful of files instead of the table —
    * pair with a z-order or range-partitioned write so files have tight
    * disjoint ranges. Aggregated over the file's row groups; an absent
    * column, an all-null file or a row group whose footer carries no
    * usable statistics yields no bounds for that column (the file then
    * always scans — safe).
    */
  private def footerBounds(
      line: String, facts: graft.sources.Footer.Facts, cols: Seq[String]): String = {
    import org.apache.parquet.schema.LogicalTypeAnnotation._
    cols.foldLeft(line) { (l, c) =>
      columnStats(facts, c).map { case (prim, stats) => (prim, stats.filter(_.hasNonNullValue)) }
        .filter(_._2.nonEmpty).fold(l) { case (prim, withValues) => // all-null: never skipped
          val logical = prim.getLogicalTypeAnnotation
          val scale = logical match {
            case d: DecimalLogicalTypeAnnotation => math.pow(10, d.getScale.toDouble)
            case _ => 1.0
          }
          // catalyst-internal units, so the read-side interval test
          // compares like with like (literals eval to days / MICROS)
          val tsScale = logical match {
            case t: TimestampLogicalTypeAnnotation if t.getUnit == TimeUnit.MILLIS => 1000.0
            case t: TimestampLogicalTypeAnnotation if t.getUnit == TimeUnit.NANOS => 0.001
            case _ => 1.0
          }
          def numeric(v: Any): Double = (v match {
            case n: Number => n.doubleValue()
            case b: org.apache.parquet.io.api.Binary => // binary/fixed decimal
              new java.math.BigDecimal(new java.math.BigInteger(b.getBytes)).doubleValue()
            case other => other.toString.toDouble
          }) / scale * tsScale
          def bytes(v: Any) = v.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes
          stringStats(prim) match {
            case Some(true) =>
              Manifest.withStringBounds(l, c,
                withValues.map(st => bytes(st.genericGetMin)).min(unsignedBytesOrdering),
                withValues.map(st => bytes(st.genericGetMax)).max(unsignedBytesOrdering))
            case Some(false) =>
              Manifest.withBounds(l, c, withValues.map(st => numeric(st.genericGetMin)).min,
                withValues.map(st => numeric(st.genericGetMax)).max)
            case None => l
          }
        }
    }
  }

  /** The one day every row of a file holds in date or timestamp column
    * `source`, from its footer statistics, as [[dayOf]] gives it (a
    * timestamp's day in session time zone `zone`). None when the column
    * is absent or another type, a row group lacks statistics or holds a
    * null, or the rows span days.
    */
  private def footerDay(
      facts: graft.sources.Footer.Facts, source: String, zone: String): Option[String] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation._
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    columnStats(facts, source).filter(_._2.forall(st =>
      st.hasNonNullValue && st.isNumNullsSet && st.getNumNulls == 0)).flatMap { case (prim, stats) =>
      val epochDay: Option[Long => Long] = prim.getLogicalTypeAnnotation match {
        case _: DateLogicalTypeAnnotation => Some(identity)
        case t: TimestampLogicalTypeAnnotation =>
          val z = if (t.isAdjustedToUTC) DateTimeUtils.getZoneId(zone) else java.time.ZoneOffset.UTC
          val micros: Long => Long = t.getUnit match {
            case TimeUnit.MILLIS => _ * 1000L
            case TimeUnit.NANOS => Math.floorDiv(_, 1000L)
            case _ => identity
          }
          Some(v => DateTimeUtils.microsToDays(micros(v), z).toLong)
        case _ => None
      }
      def bound(v: Any) = v.asInstanceOf[Number].longValue
      epochDay.map(d => (d(stats.map(st => bound(st.genericGetMin)).min),
          d(stats.map(st => bound(st.genericGetMax)).max)))
        .collect { case (lo, hi) if lo == hi => java.time.LocalDate.ofEpochDay(lo).toString }
    }
  }

  /** Stats columns a commit registers must exist in its files with a
    * type whose footer statistics order like Spark's comparisons.
    */
  private def requireStatsCols(
      schema: org.apache.parquet.schema.MessageType, cols: Seq[String]): Unit = {
    import scala.jdk.CollectionConverters._
    val fields = schema.getFields.asScala
    cols.foreach { c =>
      val f = fields.find(_.getName == c).getOrElse(
        throw new IllegalArgumentException(s"unknown statsCols column: $c"))
      require(f.isPrimitive && stringStats(f.asPrimitiveType()).isDefined,
        s"statsCols supports numeric, string, date and timestamp columns; $c is ${f}")
    }
  }

  /** Parquet orders string stats by UNSIGNED byte comparison — the
    * same order UTF8String compares with, so one comparator serves
    * both sides of the interval test.
    */
  private[graft] val unsignedBytesOrdering: Ordering[Array[Byte]] =
    (a: Array[Byte], b: Array[Byte]) => {
      var i = 0
      val n = math.min(a.length, b.length)
      var r = 0
      while (r == 0 && i < n) {
        r = java.lang.Integer.compare(a(i) & 0xff, b(i) & 0xff)
        i += 1
      }
      if (r != 0) r else java.lang.Integer.compare(a.length, b.length)
    }

  /** Row-level DELETE, copy-on-write Iceberg-style. Planning finds the
    * data files that actually contain matching rows (via the
    * `_metadata.file_path` column — a metadata-scale scan with the
    * predicate pushed to parquet); only those files are rewritten
    * without the matching rows, every untouched file is re-listed
    * as-is in the new manifest. Old versions still read the
    * pre-delete content — time travel is preserved, which is exactly
    * how Iceberg serves GDPR deletes without mutating history.
    *
    * SQL DELETE semantics: rows where the predicate is TRUE go; rows
    * where it is NULL stay. Returns the new version (unchanged current
    * version when nothing matched).
    */
  def deleteWhere(s: SparkSession, root: String, predicate: Column): Int =
    copyOnWrite(s, root, predicate, "delete") { (df, p) =>
      df.filter(!coalesce(p, lit(false)))
    }

  /** Row-level UPDATE, same copy-on-write planning as [[deleteWhere]]:
    * only files containing matching rows are rewritten, with each SET
    * column replaced where the predicate is TRUE (NULL predicate rows
    * keep their values, like SQL UPDATE). Assignments are cast to the
    * column's existing logical type so the physical schema never
    * drifts. Time travel preserved.
    */
  def updateWhere(
      s: SparkSession, root: String, predicate: Column,
      set: Map[String, Column]): Int =
    copyOnWrite(s, root, predicate, "update") { (df, p) =>
      set.foldLeft(df) { case (d, (name, value)) =>
        require(d.columns.contains(name), s"unknown SET column $name")
        d.withColumn(name,
          when(coalesce(p, lit(false)), value.cast(d.schema(name).dataType))
            .otherwise(col(name)))
      }
    }

  /** Row-level DELETE, MERGE-ON-READ Iceberg v2-style: instead of
    * rewriting every file that contains a matching row (copy-on-write
    * [[deleteWhere]] — O(touched files) write amplification), write a
    * POSITIONAL DELETE file naming the matched (file_path, row
    * ordinal) pairs and re-reference every data file verbatim. The
    * commit writes O(matched rows) bytes — at 100 TB with trickle
    * deletes (GDPR erasure) this is the difference between a
    * megabyte and rewriting terabytes. Reads anti-join the broadcast
    * delete set; [[compactDeletes]] is the scheduled major compaction
    * that folds deletes back into data files. Planning runs against
    * the already-delete-filtered view, so re-deleting a dead row is a
    * no-op and positions never duplicate.
    *
    * SQL DELETE semantics ([[deleteWhere]] parity): TRUE rows go,
    * NULL-predicate rows stay. Time travel preserved — old versions
    * read the pre-delete content. Returns the new version (unchanged
    * current version when nothing matched). Wide deletes (a predicate
    * matching a large fraction of the table) should prefer the CoW
    * path: MoR read cost grows with the accumulated delete set.
    */
  def deleteWhereMor(s: SparkSession, root: String, predicate: Column): Int = {
    val cur = existingVersion(s, root)
    val head = version(s, root, cur)
    val v = cur + 1
    val matches = morMatches(s, root, cur, head, predicate) match {
      case None => return cur // metadata proves zero matches
      case Some(m) => m.select(col("_graft_fp").as("file_path"), col("_graft_pos").as("pos"))
    }
    // hash-shuffle on file_path, NOT repartition(1): only the Δ rows
    // shuffle, and AQE's partition coalescing collapses a trickle
    // delete to one small file while a wide delete spreads across
    // tasks instead of choking one writer (wide deletes should still
    // prefer CoW — read cost, not write cost, is their problem)
    val delDir = s"$root/deletes/v$v"
    matches.repartition(col("file_path")).write.mode("overwrite").parquet(delDir)
    val (delLines, nDeleted) = morDeleteLines(s, delDir)
    if (nDeleted == 0) return cur
    publishNext(s, root, cur, head,
      Map("op" -> "delete_mor", "delete_rows" -> nDeleted.toString), Seq("-del" -> delLines))
  }

  /** The live rows of head `cur` for which `predicate` is TRUE, in
    * logical columns plus their row identity (`_graft_fp`,
    * `_graft_pos`, pinned BEFORE the logical view: it renames and casts,
    * row positions are the scan's); None when metadata proves nothing
    * matches. The widened-schema read keeps a post-widen mixed-width
    * file set plannable; all pending deletes are pre-applied, so a dead
    * row never earns a position. The planning scan is manifest-pruned
    * by the bare predicate: NULL rows never match, so files that can't
    * hold a TRUE row can't hold a position.
    */
  private def morMatches(
      s: SparkSession, root: String, cur: Int, curVer: Manifest.Version,
      predicate: Column): Option[DataFrame] = {
    val files = curVer.dataFiles
    val mapping = curVer.columnMapping
    val types = curVer.columnTypes
    val dropped = curVer.droppedColumns.keySet
    lazy val probe = logicalView(rawWidenedRead(s, files, mapping, types),
      mapping, types, dropped).filter(predicate)
    val candidates = planningCandidates(curVer, probe, files)
    if (candidates.isEmpty) None
    else Some(logicalView(
      applyAllDeletes(s, candidates, fs => rawWidenedRead(s, fs, mapping, types),
        curVer.deleteFiles, curVer.eqDeletes, fileSeqFn(s, curVer), keepRowId = true),
      mapping, types, dropped).filter(coalesce(predicate, lit(false))))
  }

  /** Row-level UPDATE, MERGE-ON-READ: positional-delete the matched
    * rows AND append their updated replacements in ONE commit —
    * Iceberg v2's delete-plus-insert UPDATE encoding, completing the
    * v2 row-level write surface next to [[deleteWhereMor]]. The
    * commit writes O(matched rows) bytes (one small positional-delete
    * file plus replacement data files) and re-references every
    * existing data file verbatim — copy-on-write [[updateWhere]]
    * rewrites whole touched files, which at 100 TB turns a
    * GDPR-trickle UPDATE into terabytes of rewrite. recordCount is
    * net-unchanged (+Δ replacements −Δ delete rows); reads see the
    * replacement rows and anti-join away the originals;
    * [[compactDeletes]] folds the delete side back in.
    *
    * SQL UPDATE semantics ([[updateWhere]] parity): TRUE rows update,
    * NULL-predicate rows keep their values; assignments cast to the
    * column's existing logical type so the schema never drifts. Time
    * travel preserved. Returns the new version (unchanged when
    * nothing matched). Wide updates should prefer the CoW path — MoR
    * read cost grows with the accumulated delete set.
    */
  def updateWhereMor(
      s: SparkSession, root: String, predicate: Column,
      set: Map[String, Column]): Int = {
    val cur = existingVersion(s, root)
    val head = version(s, root, cur)
    val v = cur + 1
    val matched = morMatches(s, root, cur, head, predicate) match {
      case None => return cur // metadata proves zero matches
      case Some(m) => m.persist() // two consumers: the position and replacement writes
    }
    try {
      val delDir = s"$root/deletes/v$v"
      matched
        .select(col("_graft_fp").as("file_path"), col("_graft_pos").as("pos"))
        .repartition(col("file_path"))
        .write.mode("overwrite").parquet(delDir)
      val (delLines, nUpdated) = morDeleteLines(s, delDir)
      if (nUpdated == 0) return cur
      val replacements = set.foldLeft(matched) { case (d, (name, value)) =>
        require(d.columns.contains(name), s"unknown SET column $name")
        d.withColumn(name, value.cast(d.schema(name).dataType))
      }.drop("_graft_fp", "_graft_pos")
      val w = writeNew(s, root, s"$root/data/v$v", cur, head, replacements)
      // replacements stamped with the next sequence number so pending
      // eq deletes never re-suppress them
      publishNext(s, root, cur, head,
        Map("op" -> "update_mor", "delete_rows" -> nUpdated.toString),
        Seq("-del" -> delLines, "" -> stampSeq(w.lines, nextSeq(head))),
        header = withFieldIdsHeader(s, root, cur, head, w))
    } finally { matched.unpersist(); () }
  }

  /** Apply a CDC batch — full-row DELETE images plus INSERT rows — as
    * ONE merge-on-read commit: a positional-delete file suppressing
    * the imaged rows and appended data files for the inserts. This is
    * the replica-side apply for [[LakeSink.applyCdc]]: the previous
    * formulation recomputed `state.exceptAll(del).union(ins)` and
    * OVERWROTE the whole replica per micro-batch — O(table) rewrite
    * per batch, the exact write amplification MoR exists to kill.
    * Now a batch WRITES only O(Δ) bytes. The read side is one
    * planning scan to locate the imaged rows' positions: when the
    * replica has stats/partition registrations, the candidate file
    * set is pruned by the images' per-column min/max against the
    * manifest metadata (a metadata-only decision feeding
    * [[planningCandidates]]); without registrations it reads every
    * data file — register stats on the CDC key columns to keep the
    * replica apply O(candidate files). A delete-free batch skips the
    * scan entirely.
    *
    * MULTISET semantics (exceptAll parity): each delete image removes
    * exactly ONE matching live instance — a replica holding duplicate
    * rows keeps the surplus copies. Matching is null-safe on every
    * column. Returns the new version.
    */
  def applyChangesMor(
      s: SparkSession, root: String, inserts: DataFrame,
      deleteImages: DataFrame, meta: Map[String, String] = Map.empty): Int = {
    val cur = currentVersion(s, root)
    require(cur > 0, s"no snapshot table at $root (bootstrap with commit)")
    val curVer = version(s, root, cur)
    val files = curVer.dataFiles
    val dels = curVer.deleteFiles
    val mapping = curVer.columnMapping
    val types = curVer.columnTypes
    val v = cur + 1
    val delLines: Seq[String] =
      if (deleteImages.isEmpty) Seq.empty
      else {
        // prune the planning scan by the images' min/max on any
        // stats/partition-registered column (sound: stats pruning only
        // drops files that provably contain no matching value, and a
        // column with null image values is skipped — <=> matches null
        // rows that min/max can't bound)
        val planFiles = cdcPlanningCandidates(s, root, cur, curVer, deleteImages, files)
        val live = logicalView(
          applyAllDeletes(s, planFiles, fs => rawWidenedRead(s, fs, mapping, types),
            dels, curVer.eqDeletes, fileSeqFn(s, curVer), keepRowId = true),
          mapping, types, curVer.droppedColumns.keySet)
        val cols = deleteImages.columns.toSeq
        // image multiplicities; null-safe equality on every column;
        // rank per image group caps removals at multiplicity. NOT
        // hint-broadcast (r21, §3.1): a trickle-delete Δ broadcasts
        // via the optimizer's own estimate anyway (CDC batches arrive
        // persisted, so sizes are real), while a BIG delete wave —
        // replicating a source-side predicate delete, 1M full-width
        // images at sf5 — made the forced broadcast collect+ship the
        // whole image set through the driver (seconds locally, an OOM
        // at scale); AQE picks the join side/strategy per batch.
        val imgs = deleteImages.groupBy(cols.map(c => col(c).as(s"_img_$c")): _*)
            .agg(org.apache.spark.sql.functions.count(lit(1)).as("_img_m"))
        val joinCond = cols.map(c => col(c) <=> col(s"_img_$c")).reduce(_ && _)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(cols.map(c => col(s"_img_$c")): _*)
          .orderBy(col("_graft_fp"), col("_graft_pos"))
        val matches = live.join(imgs, joinCond)
          .withColumn("_graft_rn", org.apache.spark.sql.functions.row_number().over(w))
          .filter(col("_graft_rn") <= col("_img_m"))
          .select(col("_graft_fp").as("file_path"), col("_graft_pos").as("pos"))
          .repartition(col("file_path"))
        val delDir = s"$root/deletes/v$v"
        matches.write.mode("overwrite").parquet(delDir)
        morDeleteLines(s, delDir)._1
      }
    val w =
      if (inserts.isEmpty) Written(Seq.empty, Map.empty)
      else writeNew(s, root, s"$root/data/v$v", cur, curVer, inserts)
    if (delLines.isEmpty && w.lines.isEmpty) return cur
    publishNext(s, root, cur, curVer, meta + ("op" -> "cdc_apply"),
      Seq("-del" -> delLines, "" -> stampSeq(w.lines, nextSeq(curVer))),
      header = withFieldIdsHeader(s, root, cur, curVer, w))
  }

  /** Row-level DELETE by KEY, equality-delete encoding (Iceberg v2
    * equality delete files): suppress every row whose key columns
    * match a row of `keys` — with NO table read, NO planning scan,
    * O(keys) total work. This is the streaming-CDC delete path (a
    * Flink/Kafka upsert writer can't afford a table scan per batch):
    * positional MoR ([[deleteWhereMor]]) still scans to find
    * positions; equality MoR doesn't even do that. Read-side cost is
    * one broadcast anti-join per pending eq-delete commit, bounded by
    * folding them in maintenance ([[compactDeletesIfNeeded]] treats
    * any pending eq delete as a trigger).
    *
    * Sequence semantics (Iceberg's): the delete suppresses rows of
    * data files committed STRICTLY BEFORE it; rows with the same key
    * appended later survive. `keyCols` are logical names. Returns the
    * new version.
    */
  def deleteWhereEq(
      s: SparkSession, root: String, keyCols: Seq[String], keys: DataFrame): Int = {
    val cur = existingVersion(s, root)
    require(keyCols.nonEmpty, "equality delete requires at least one key column")
    val head = version(s, root, cur)
    requireKeyColsInSchema(s, root, cur, head, keyCols)
    val mapping = head.columnMapping
    val v = cur + 1
    val eqLines = writeEqDeleteFile(s, root, v,
      keys.select(keyCols.map(col): _*), keyCols, mapping, nextSeq(head))
    publishNext(s, root, cur, head,
      Map("op" -> "delete_eq", "eq_cols" -> keyCols.mkString(",")), Seq("-eqdel" -> eqLines))
  }

  /** Streaming UPSERT, Iceberg v2 upsert mode (the Flink CDC writer
    * pattern): ONE commit appends the batch's rows AND
    * equality-deletes the batch's keys from all OLDER files. Total
    * work is O(batch) — no table read, no shuffle of existing data —
    * which is what makes per-micro-batch SCD1 maintenance viable on a
    * 100 TB table (the MERGE-based [[graft.operators.*]] upsert
    * rewrites matched files; this writes two small files). Batch rows
    * and the delete share one sequence number; the strict `<`
    * comparison keeps the batch's own rows alive. Later duplicates of
    * a key within one batch are the caller's problem (Iceberg
    * semantics: dedupe upstream). Returns the new version.
    */
  def upsertEq(
      s: SparkSession, root: String, keyCols: Seq[String], batch: DataFrame): Int = {
    val cur = existingVersion(s, root)
    require(keyCols.nonEmpty, "upsert requires at least one key column")
    val head = version(s, root, cur)
    requireKeyColsInSchema(s, root, cur, head, keyCols)
    val mapping = head.columnMapping
    val seq = nextSeq(head)
    val v = cur + 1
    val eqLines = writeEqDeleteFile(s, root, v,
      batch.select(keyCols.map(col): _*), keyCols, mapping, seq)
    val w = writeNew(s, root, s"$root/data/v$v", cur, head, batch)
    publishNext(s, root, cur, head,
      Map("op" -> "upsert_eq", "eq_cols" -> keyCols.mkString(",")),
      Seq("-eqdel" -> eqLines, "" -> stampSeq(w.lines, seq)),
      header = withFieldIdsHeader(s, root, cur, head, w))
  }

  /** Validate equality-delete key columns against the LOGICAL schema
    * of head `cur` before committing — mirrors updateWhereMor's
    * "unknown SET column" check. Without it a typo'd key column commits
    * fine (the keys frame just needs the column) and then poisons every
    * subsequent read/compaction with an unresolved-column error until
    * a manual rollback. The schema is the version's memoized one, so an
    * added column is a key and a dropped one is not; nothing is checked
    * on an empty table.
    */
  private def requireKeyColsInSchema(
      s: SparkSession, root: String, cur: Int, head: Manifest.Version,
      keyCols: Seq[String]): Unit = {
    if (head.dataFiles.isEmpty) return
    val logical = schema(s, root, cur, head).fieldNames.toSeq
    val missing = keyCols.filterNot(logical.contains)
    require(missing.isEmpty,
      s"unknown key column(s) ${missing.mkString(", ")} for $root — " +
        s"table columns: ${logical.mkString(", ")}")
  }

  /** Write the distinct key rows as an equality-delete parquet file
    * set and return its annotated manifest lines (kind + physical key
    * columns + sequence number + key-row count).
    */
  private def writeEqDeleteFile(
      s: SparkSession, root: String, v: Int, keyRows: DataFrame,
      keyCols: Seq[String], mapping: Map[String, String], seq: Long): Seq[String] = {
    val physCols = keyCols.map(c => mapping.getOrElse(c, c))
    val delDir = s"$root/deletes/v$v-eq"
    toPhysical(keyRows, mapping).distinct()
      .repartition(1) // key sets are O(batch) small; one file beats 32 shards
      .write.mode("overwrite").parquet(delDir)
    footerPass(s, parquetFilesIn(s, delDir).map(Manifest.eqDeleteLine(_, physCols, seq)))
  }

  /** Major compaction of merge-on-read deletes (Iceberg
    * `rewrite_position_delete_files` taken to completion): rewrite
    * ONLY the data files that have pending positional deletes — minus
    * their deleted rows — and drop every delete entry from the new
    * manifest. Untouched fragments keep their refs verbatim, so
    * metadata I/O is O(touched fragments). Read-back content is
    * unchanged (spec-pinned); what changes is that subsequent reads
    * pay zero anti-join cost. Time travel preserved.
    */
  def compactDeletes(s: SparkSession, root: String): Int = {
    val cur = existingVersion(s, root)
    val mv = version(s, root, cur)
    val dels = mv.deleteFiles
    val eqs = mv.eqDeletes
    if (dels.isEmpty && eqs.isEmpty) return cur
    def norm(p: String) = canon(s, p)
    val files = mv.dataFiles
    val fileSeq = fileSeqFn(s, mv)
    val mapping = mv.columnMapping
    val types = mv.columnTypes
    // positionally-affected files: named directly by the delete rows
    val posAffected: Set[String] =
      if (dels.isEmpty) Set.empty
      else s.read.parquet(dels: _*).select("file_path")
        .distinct().collect().map(r => norm(r.getString(0))).toSet
    // equality-affected files: candidates by sequence, then a
    // broadcast semi-join finds which actually CONTAIN a matching key
    // (files without matches keep their bytes — rewrite only what
    // must change). Grouped by applicable-delete class like the read.
    val eqAffected: Set[String] = {
      val candidates = files.filter(f => eqs.exists(_.seq > fileSeq(f)))
      if (candidates.isEmpty) Set.empty
      else candidates.groupBy(f => eqs.count(_.seq > fileSeq(f)))
        .flatMap { case (_, fs) =>
          val applicable = eqs.filter(_.seq > fileSeq(fs.head))
          applicable.groupBy(_.cols).toSeq.flatMap { case (cols, grp) =>
            val keys = grp.map(g => s.read.parquet(g.path)).reduce(_ unionByName _)
              .select(cols.map(c => col(c).as(s"_graft_eqk_$c")): _*).distinct()
            // `_metadata` resolves only on the scan itself — pin the
            // file path into a real column before the join; null-safe
            // equality so the affected-file probe sees the same match
            // set the read-side anti-join suppresses (null == null)
            rawWidenedRead(s, fs, mapping, types)
              .select((cols.map(col) :+
                col("_metadata.file_path").as("_graft_hit_fp")): _*)
              .join(org.apache.spark.sql.functions.broadcast(keys),
                cols.map(c => col(c) <=> col(s"_graft_eqk_$c")).reduce(_ && _),
                "left_semi")
              .select("_graft_hit_fp").distinct()
              .collect().map(r => norm(r.getString(0)))
          }
        }.toSet
    }
    val affected = posAffected ++ eqAffected
    val touched = files.filter(f => affected.contains(norm(f)))
    val v = cur + 1
    // physical rewrite (no logical view): column NAMES in the new
    // files match the old bytes (renames stay metadata-only), and the
    // scan goes through the widened-schema read so a post-widen
    // mixed-width file set (int32 pre-widen + int64 post-widen) reads
    // as one type — new files land at the current widened physical
    // width, same as any post-widen commit writes
    // touched can be empty when pending eq deletes matched nothing —
    // the commit is then metadata-only (just drops the spent refs)
    // staged under a commit-UNIQUE dir, not data/v$v: publishRewrite
    // may rebase past v, and a concurrent commit landing ON v would
    // mode(overwrite) a shared v-numbered dir right over these bytes
    val newFiles =
      if (touched.isEmpty) Seq.empty[String]
      else {
        val rewritten = applyAllDeletes(s, touched,
          fs => rawWidenedRead(s, fs, mapping, types), dels, eqs, fileSeq)
        stampSeq(writeNew(s, root,
          s"$root/data/m-${java.util.UUID.randomUUID.toString.take(8)}",
          cur, mv, rewritten, physical = true).lines, nextSeq(mv))
      }
    // every delete line goes (eq deletes with no matching rows are
    // spent: the semi-join proved no surviving row matches them)
    publishRewrite(s, root, cur, mv,
      Map("op" -> "compact_deletes", "rewrote" -> touched.size.toString),
      mv.splitBody(e => !e.isData || affected.contains(norm(e.path))), newFiles)
  }

  /** Publish a CONTENT-PRESERVING rewrite with Iceberg
    * `RewriteDataFiles` concurrency semantics. A compaction changes
    * bytes, never logical content, so it does NOT conflict with
    * concurrent APPENDS — on a streaming table that commits every few
    * seconds, a fail-loud maintenance rewrite would simply never win
    * the CAS and the table would degrade forever. On a lost CAS the
    * rewrite REBASES: re-read the head, validate that every
    * intervening commit only ADDED pure data lines (the lines this
    * plan consumed are all still present verbatim, nothing added is a
    * positional/equality delete, and the schema header is unchanged),
    * then publish the planned body plus the intervening additions.
    * Anything else — an intervening row-level delete (its positions/
    * keys may target files this rewrite replaced), another rewrite, an
    * overwrite, a rename/widen — is a genuine conflict and stays
    * fail-loud, exactly like Iceberg's rewrite validation.
    *
    * Soundness of carrying intervening appends past a delete-folding
    * rewrite: equality deletes only suppress files with a LOWER data
    * sequence number, and every intervening append was stamped above
    * the base head's max — so the folded (dropped) eq deletes never
    * applied to the carried files; positional deletes at the base
    * version reference only files that existed then, never appended
    * ones.
    */
  private def publishRewrite(
      s: SparkSession, root: String, basedOn: Int, base: Manifest.Version,
      opMeta: Map[String, String],
      split: (Seq[String], Seq[String]), newLines: Seq[String]): Int = {
    // the planned body: kept fragment refs, then one fragment of the
    // surviving lines of split fragments, then one of the new files
    val (keptRefs, survivors) = split
    val body = keptRefs ++
      Manifest.fragment(conf(s), root, s"v${basedOn + 1}-keep", survivors) ++
      Manifest.fragment(conf(s), root, s"v${basedOn + 1}", newLines)
    val baseBodySet = base.body.toSet
    rebasing(s, root) { head =>
      val headVer = if (head == basedOn) base else version(s, root, head)
      val added: Seq[String] =
        if (head == basedOn) Seq.empty
        else {
          val headBody = headVer.body
          val removed = baseBodySet -- headBody.toSet
          if (removed.nonEmpty) throw new IllegalStateException(
            s"rewrite of $root based on v$basedOn conflicts with a concurrent " +
              s"commit that removed ${removed.size} manifest line(s) (another " +
              "rewrite/overwrite) — re-plan the rewrite against the new head")
          val extra = headBody.filterNot(baseBodySet.contains)
          if (headVer.entriesBeyond(baseBodySet).exists(!_.isData))
            throw new IllegalStateException(
              s"rewrite of $root based on v$basedOn conflicts with a concurrent " +
                "row-level delete — its positions/keys may target replaced files; " +
                "re-plan the rewrite against the new head")
          if (headVer.inheritedHeader != base.inheritedHeader) throw new IllegalStateException(
            s"rewrite of $root based on v$basedOn conflicts with a concurrent " +
              "schema/registration change — re-plan against the new head")
          extra
        }
      // the inherited header is the base's: a schema change in between
      // is a conflict (above)
      publishNext(s, root, head, headVer,
        opMeta ++ (if (added.isEmpty) Map.empty[String, String]
                   else Map("rebased_over" -> (head - basedOn).toString)),
        body = _ => body ++ added)
    }
  }

  /** Consolidate accumulated positional DELETE FILES into one —
    * Iceberg's `rewrite_position_delete_files`, the cheap middle
    * ground between leaving a trickle-delete table's N tiny delete
    * files (N extra file opens + N-way union on EVERY scan) and a
    * full [[compactDeletes]] fold (rewrites the affected DATA files —
    * write amplification the ratio policy deliberately avoids below
    * threshold). Data bytes are untouched: the commit unions the
    * pending positional delete rows (de-duplicated — two overlapping
    * MoR deletes naming the same (file, pos) must not double-count in
    * [[recordCount]]) into one delete file and re-references every
    * data file verbatim. Equality deletes are left alone
    * ([[compactDeletes]] owns their fold). Publishes via
    * [[publishRewrite]] — content-preserving, so it rebases over
    * concurrent appends. Returns `cur` when fewer than `minFiles`
    * positional delete files are pending.
    */
  def compactDeleteFiles(s: SparkSession, root: String, minFiles: Int = 2): Int = {
    val cur = existingVersion(s, root)
    val mv = version(s, root, cur)
    val dels = mv.deleteFiles
    if (dels.size < minFiles) return cur
    def norm(p: String) = canon(s, p)
    val dir = s"$root/deletes/m-${java.util.UUID.randomUUID.toString.take(8)}"
    s.read.parquet(dels: _*).distinct()
      .repartition(1).write.mode("overwrite").parquet(dir)
    val newLines = posDeleteLines(s, dir)
    val delSet = dels.map(norm).toSet
    publishRewrite(s, root, cur, mv,
      Map("op" -> "compact_delete_files", "consolidated" -> dels.size.toString),
      mv.splitBody(e => e.kind == 1 && delSet.contains(norm(e.path))),
      newLines)
  }

  /** Delete-aware maintenance policy (the WHEN for [[compactDeletes]]
    * — Iceberg's `rewrite_position_delete_files` trigger): compact
    * when any data file's pending-delete ratio exceeds
    * `maxDeleteRatio`. The decision is cheap — per-file delete counts
    * are an O(delete rows) scan of the (small) positional files, and
    * per-file row counts come free from the `_rows` manifest
    * annotations — so a nightly maintenance job can call this
    * unconditionally: below the threshold deletes stay merge-on-read
    * (no needless rewrite amplification), above it the read-side
    * anti-join cost has outgrown the one-time rewrite. Returns the
    * new version (unchanged when below threshold or no deletes).
    */
  def compactDeletesIfNeeded(
      s: SparkSession, root: String, maxDeleteRatio: Double = 0.05): Int = {
    val cur = currentVersion(s, root)
    val mv = version(s, root, cur)
    val dels = mv.deleteFiles
    // any pending EQUALITY delete triggers: its selectivity is
    // unknowable from metadata (could suppress half the table), every
    // pending one costs an anti-join per scan, and folding restores
    // the metadata-only recordCount fast path
    if (mv.eqDeletes.nonEmpty) return compactDeletes(s, root)
    if (dels.isEmpty) return cur
    val delCounts: Map[String, Long] = s.read.parquet(dels: _*)
      .groupBy("file_path").count().collect()
      .map(r => canon(s, r.getString(0)) -> r.getLong(1)).toMap
    val trigger = mv.entries.filter(_.kind != 1).exists { e =>
      delCounts.get(canon(s, e.path)).exists(d =>
        e.rowsOpt.exists(r => r > 0 && d.toDouble / r > maxDeleteRatio))
    }
    if (trigger) compactDeletes(s, root) else cur
  }

  /** Bin-packing small-file compaction — Iceberg `rewrite_data_files`
    * (binpack) / Delta `OPTIMIZE`. Rewrites ONLY files below
    * `smallBytes`, packing them into outputs sized toward
    * `targetBytes`; right-sized files keep their bytes (and their
    * stats/bloom annotations) untouched. On a streaming table the
    * small-file problem is structural — every micro-batch commit adds
    * a handful of tiny files, and scan cost degrades with file COUNT
    * (footer reads, task scheduling) even when total bytes are flat —
    * so this is the nightly job that keeps a 100 TB table scannable.
    *
    * Scope and soundness:
    *  - Partition-aware: packing groups by the day a file names, and
    *    the packed outputs go through the table's writer, so a
    *    day-partitioned table compacts WITHIN each day (unannotated
    *    inputs come back out as per-day files, and pack only when
    *    that still lowers the file count), exactly like
    *    Iceberg/Delta per-partition bin packing.
    *  - Delete-affected files are excluded: a file named by a pending
    *    positional delete can't be rewritten here (positions would
    *    dangle — that fold is [[compactDeletes]]' job), and a file a
    *    pending equality delete still applies to must keep its lower
    *    sequence number. Eligible files are untouched by every
    *    pending delete, so stamping the packed outputs with the next
    *    sequence number changes nothing about delete applicability.
    *  - Sizes come from the manifest-adjacent footer metadata (driver
    *    statuses for small tables, a distributed `_metadata.file_size`
    *    scan for large ones); the writer annotates packed outputs with
    *    the table's registered stats/bloom columns, so file skipping
    *    SURVIVES compaction.
    *  - Publishes via [[publishRewrite]]: rebases over concurrent
    *    appends, fails loud on genuine conflicts.
    *
    * Returns the new version (or `cur` when there is nothing worth
    * packing — fewer than two small files in every day, or
    * packing wouldn't reduce the file count).
    */
  def compactSmallFiles(
      s: SparkSession, root: String,
      smallBytes: Long = 64L << 20, targetBytes: Long = 256L << 20,
      sortCols: Seq[String] = Seq.empty): Int = {
    val cur = existingVersion(s, root)
    val mv = version(s, root, cur)
    val dels = mv.deleteFiles
    val eqs = mv.eqDeletes
    val fileSeq = fileSeqFn(s, mv)
    val mapping = mv.columnMapping
    val types = mv.columnTypes
    def norm(p: String) = canon(s, p)
    val posAffected: Set[String] =
      if (dels.isEmpty) Set.empty
      else s.read.parquet(dels: _*).select("file_path").distinct()
        .collect().map(r => norm(r.getString(0))).toSet
    // the day every live data file names; unannotated files (written
    // before the table was partitioned, or by a writer that names no
    // day) form one group, which the writer splits back into days
    val dayOfFile = mv.dataEntries.map(e => norm(e.path) -> e.day.getOrElse("")).toMap
    val eligible = mv.dataFiles.filter { f =>
      !posAffected.contains(norm(f)) && eqs.forall(_.seq <= fileSeq(f))
    }
    if (eligible.size < 2) return cur
    val sizes: Map[String, Long] =
      if (eligible.size <= 64)
        eligible.map { f =>
          val p = new Path(f); norm(f) -> fsOf(s, p).getFileStatus(p).getLen
        }.toMap
      else s.read.parquet(eligible: _*)
        .select(col("_metadata.file_path").as("f"), col("_metadata.file_size").as("b"))
        .distinct().collect().map(r => norm(r.getString(0)) -> r.getLong(1)).toMap
    def outputs(fs: Seq[String]): Int =
      math.max(1, math.ceil(fs.map(f => sizes(norm(f))).sum.toDouble / targetBytes).toInt)
    // the writer splits a pack by day, `outputs` files at most per day:
    // an unannotated group of a day table comes back out as up to
    // `outputs` files for each day its rows hold
    def daysIn(day: String, fs: Seq[String]): Long = mv.partitionSource match {
      case Some(source) if day.isEmpty =>
        val df = rawWidenedRead(s, fs, mapping, types)
        df.select(dayOf(s, df, source)).distinct().count()
      case _ => 1L
    }
    // pack within each day; a day repacks only when it has 2+ small
    // files AND fewer outputs than inputs
    val smallByGroup: Map[String, Seq[String]] = eligible
      .filter(f => sizes.getOrElse(norm(f), Long.MaxValue) < smallBytes)
      .groupBy(f => dayOfFile.getOrElse(norm(f), ""))
      .filter { case (day, fs) => fs.size >= 2 && outputs(fs) * daysIn(day, fs) < fs.size }
    if (smallByGroup.isEmpty) return cur
    val seq = nextSeq(mv)
    // physical rewrite (no logical view): renames stay metadata-only;
    // staged under a commit-UNIQUE dir (see compactDeletes — a
    // v-numbered dir is a concurrency hazard). With sortCols (Iceberg's
    // rewrite SORT strategy) the pack also RESTORES clustering:
    // range-partition + sort means each packed file owns a disjoint
    // key range, so the re-annotated min/max stats prune like a fresh
    // z-order/clustered write — compaction that tightens skipping
    // instead of destroying it.
    val newFiles: Seq[String] = smallByGroup.toSeq.sortBy(_._1).flatMap { case (_, fs) =>
      stampSeq(writeNew(s, root,
        s"$root/data/m-${java.util.UUID.randomUUID.toString.take(8)}", cur, mv,
        rawWidenedRead(s, fs, mapping, types), physical = true,
        buckets = outputs(fs), sortCols = sortCols).lines, seq)
    }
    val packedSet: Set[String] = smallByGroup.values.flatten.map(norm).toSet
    publishRewrite(s, root, cur, mv,
      Map("op" -> "optimize",
        "packed" -> packedSet.size.toString, "outputs" -> newFiles.size.toString),
      mv.splitBody(e => e.isData && packedSet.contains(norm(e.path))), newFiles)
  }

  /** Shared copy-on-write planner: find the data files that actually
    * contain predicate-matching rows (via `_metadata.file_path`, a
    * predicate-pushed metadata-scale scan), rewrite ONLY those through
    * `rewrite`, re-list every untouched file in the new manifest.
    */
  private def copyOnWrite(
      s: SparkSession, root: String, predicate: Column, op: String)(
      rewrite: (DataFrame, Column) => DataFrame): Int = {
    val cur = existingVersion(s, root)
    val curVer = version(s, root, cur)
    val files = curVer.dataFiles
    val dels = curVer.deleteFiles
    val eqs = curVer.eqDeletes
    val curFileSeq = fileSeqFn(s, curVer)
    val mapping = curVer.columnMapping
    val types = curVer.columnTypes
    def norm(p: String) = canon(s, p)
    // predicate is written against the LOGICAL schema; pin the file
    // path first, then apply the logical view over it. Pending MoR
    // deletes — positional AND equality — are applied so a CoW
    // rewrite can never resurrect a merge-on-read-deleted row into a
    // rewritten file; the widened-schema read keeps post-widen
    // mixed-width file sets plannable.
    def viewWithFile(paths: Seq[String]) = logicalView(
      applyAllDeletes(s, paths, fs => rawWidenedRead(s, fs, mapping, types),
        dels, eqs, curFileSeq, keepRowId = true)
        .withColumnRenamed("_graft_fp", "_graft_file").drop("_graft_pos"),
      mapping, types, curVer.droppedColumns.keySet)
    // manifest-prune the planning scan: a selective predicate on a
    // stats/partition-annotated table reads candidate files only
    val probe = viewWithFile(files).filter(predicate)
    val candidates = planningCandidates(curVer, probe, files)
    if (candidates.isEmpty) return cur // metadata proves zero matches
    val affected = (if (candidates.size == files.size) probe
                    else viewWithFile(candidates).filter(predicate))
      .select("_graft_file")
      .distinct().collect().map(r => norm(r.getString(0))).toSet
    val touched = files.filter(f => affected.contains(norm(f)))
    if (touched.isEmpty) return cur
    val w = writeNew(s, root, s"$root/data/v${cur + 1}", cur, curVer,
      rewrite(viewWithFile(touched), predicate).drop("_graft_file"))
    // rewritten files get the next sequence number: pending eq
    // deletes (already applied to their content) stop matching them
    publishReplace(s, root, cur, curVer, affected, stampSeq(w.lines, nextSeq(curVer)),
      Map("op" -> op, "rewrote" -> touched.size.toString),
      withFieldIdsHeader(s, root, cur, curVer, w))
  }

  /** The commit half of copy-on-write: publish version cur+1 that
    * atomically drops the `affected` data files (normalized paths)
    * and adds the already-written-and-annotated `newDataLines` —
    * shared by [[copyOnWrite]] and the SQL row-level write path
    * (GraftCatalog UPDATE / MERGE INTO, whose replacement files are
    * written by executor-side parquet writers before this commit).
    */
  private def publishReplace(
      s: SparkSession, root: String, cur: Int, head: Manifest.Version,
      affected: Set[String], newDataLines: Seq[String], meta: Map[String, String],
      header: Map[String, String] => Map[String, String] = identity): Int = {
    val v = cur + 1
    val dels = head.deleteFiles
    def norm(p: String) = canon(s, p)
    // Pending MoR delete files that reference a rewritten data file
    // must themselves be rewritten: the rewrite APPLIES those deletes
    // to the new bytes, so carrying their rows forward would subtract
    // them a second time from recordCount (the data row is already
    // absent from the new file). Rows pointing at untouched files
    // survive into a fresh delete file; a stale delete file whose
    // every row is covered by the rewrite is dropped. All
    // metadata-scale: distinct (delete file, data file) pairs.
    val delRefPairs =
      if (dels.isEmpty) Array.empty[(String, String)]
      else s.read.parquet(dels: _*)
        .select(col("_metadata.file_path").as("_del_file"), col("file_path"))
        .distinct().collect()
        .map(r => (r.getString(0), r.getString(1)))
    val staleDels: Set[String] = delRefPairs
      .filter { case (_, data) => affected.contains(norm(data)) }
      .map { case (del, _) => norm(del) }.toSet
    val delKeepLines: Seq[String] =
      if (staleDels.isEmpty) Seq.empty
      else {
        val keepRaw = delRefPairs
          .filter { case (del, data) =>
            staleDels.contains(norm(del)) && !affected.contains(norm(data)) }
          .map(_._2).distinct
        if (keepRaw.isEmpty) Seq.empty
        else {
          val staleFiles = dels.filter(f => staleDels.contains(norm(f)))
          val delDir = s"$root/deletes/v$v-cow"
          s.read.parquet(staleFiles: _*)
            .filter(col("file_path").isin(keepRaw.toIndexedSeq: _*))
            .repartition(1).write.mode("overwrite").parquet(delDir)
          posDeleteLines(s, delDir)
        }
      }
    // Iceberg-style partial rewrite: fragments with NO affected file
    // keep their ref line verbatim; only fragments that contain
    // affected files have their surviving lines rewritten (into one
    // new fragment). Untouched files keep their FULL manifest lines
    // (stats/bloom/partition/_rows annotations stay valid — the files
    // didn't change). Metadata I/O is O(touched fragments), not
    // O(table).
    // (legacy inline lines fold into the rewrite fragment)
    val (keptRefs, survivors) = head.splitBody { e =>
      if (e.kind == 1) staleDels.contains(norm(e.path)) else affected.contains(norm(e.path))
    }
    publishNext(s, root, cur, head, meta,
      Seq("-keep" -> survivors, "" -> (newDataLines ++ delKeepLines)), body = _ => keptRefs,
      header = header)
  }

  /** Publish a replace-files commit from ALREADY-WRITTEN parquet
    * files — the entry point for the SQL row-level (group-based
    * copy-on-write) write: `removed` are the data files the
    * operation's scan planned (every row it read), `added` the files
    * the executor-side writers produced with the replacement rows.
    * Annotates them in one footer pass (row counts, sizes, the table's
    * registered stats, a one-day file's day) and stamps the next
    * sequence number exactly like the engine's own copy-on-write.
    */
  private[graft] def publishReplaceFiles(
      s: SparkSession, root: String, cur: Int,
      removed: Seq[String], added: Seq[String],
      meta: Map[String, String]): Int = {
    val affected = removed.map(canon(s, _)).toSet
    val head = version(s, root, cur)
    val newLines = stampSeq(footerPass(s, added.sorted,
      head.statsColumns.map(c => head.columnMapping.getOrElse(c, c)),
      daySource = head.partitionSource), nextSeq(head))
    publishReplace(s, root, cur, head, affected, newLines, meta)
  }

  // ----- hidden partitioning: day(ts) transform --------------------

  private[lake] val BloomBits = 16384    // 2 KiB bitset per (file, column)
  private[lake] val BloomHashes = 3

  /** Commit with HIDDEN day(`source`) partitioning (the reference's
    * `WITH (partitioning = ARRAY['day(ts)'])`, RUNBOOK.md:91): records
    * day(`source`) as the table's partition header, then writes `df`
    * like [[commit]] through the table's one writer ([[writeNew]]).
    * That writer is what every later write op shares — appends,
    * upserts, MoR/CoW rewrites, compactions, branch commits — so
    * every file they write into the table holds one day and names it
    * in its manifest line (files registered zero-copy and the SQL
    * row-level writer's files name their day when all their rows hold
    * one, [[footerDay]]). The transform value is never stored in
    * the file content — readers see the original schema only. Rows of
    * one day spread across `saltBuckets` writer tasks (default: derived
    * from the batch's size, checked against the bytes written), so a
    * hot day costs bounded extra files instead of one straggler task
    * writing one giant file.
    */
  def commitPartitionedByDay(
      s: SparkSession, root: String, df: DataFrame, source: String,
      append: Boolean = true, saltBuckets: Int = -1): Int =
    commitData(s, root, df, append, partition = Some(source), saltBuckets = saltBuckets)

  /** Read with a row predicate, pruning manifest entries THROUGH the
    * day transform: bounds on the source timestamp column become day
    * bounds on the per-file partition values. The full predicate is
    * re-applied after the scan (residual evaluation), so unprunable
    * predicate shapes stay correct — they just scan more.
    */
  def readWhere(s: SparkSession, root: String, predicate: Column, version: Int = -1): DataFrame = {
    val v = if (version < 0) currentVersion(s, root) else version
    val mv = SnapshotTable.version(s, root, v)
    val files = mv.dataFiles
    val mapping = mv.columnMapping
    val types = mv.columnTypes
    val dels = mv.deleteFiles
    val eqs = mv.eqDeletes
    val fileSeq = fileSeqFn(s, mv)
    def view(files: Seq[String]) =
      logicalView(
        applyAllDeletes(s, files, fs => rawWidenedRead(s, fs, mapping, types, of = Some(mv)),
          dels, eqs, fileSeq),
        mapping, types, mv.droppedColumns.keySet).filter(predicate)
    val full = view(files)
    val pruned = pruneBy(mv, full).getOrElse(files)
    if (pruned.isEmpty) full.filter(lit(false)) // nothing matched: keep schema, no rows
    else if (pruned.size == files.size) full
    else view(pruned)
  }

  /** Manifest-prune the candidate files for a PLANNING scan: the
    * files of `mv` that might contain rows matching the filter
    * of `filtered` (per partition/stats/bloom metadata). Row-level
    * writes (copy-on-write and MoR position planning) call this so a
    * selective DELETE/UPDATE on a stats- or partition-annotated table
    * plans against a handful of files instead of scanning 100 TB —
    * the same conservative metadata decision [[readWhere]] serves
    * reads with; files pruned here provably contain no match, so the
    * skipped scan can never change which files are touched.
    * Unprunable predicate shapes fall back to every file.
    */
  private def planningCandidates(
      mv: Manifest.Version, filtered: => DataFrame, all: Seq[String]): Seq[String] = {
    // without partition/stats/bloom registrations nothing can prune —
    // skip even BUILDING the probe plan (its relation re-lists files
    // and reads a schema footer, measurable per-op overhead on plain
    // tables, which are the common case)
    if (!mv.hasPruningMeta) return all
    pruneBy(mv, filtered).getOrElse(all)
  }

  /** [[pruneEntries]] on the ANALYZED filter condition of `filtered`
    * (the unresolved Column wraps lazy ColumnNodes in Spark 4; the
    * analyzed one has resolved comparisons with analyzer-set cast
    * timezones), or None when it has no filter.
    */
  private def pruneBy(mv: Manifest.Version, filtered: DataFrame): Option[Seq[String]] =
    filtered.queryExecution.analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => pruneEntries(mv, f.condition)
    }

  /** Why a version cannot be served by the SQL row-level
    * copy-on-write path (GraftCatalog UPDATE / MERGE INTO), or None
    * when it can. That path reads candidate files RAW through
    * Spark's vectorized parquet scan — correct only when raw file
    * bytes ARE the logical table: pending merge-on-read deletes
    * would be resurrected into the rewrite, and column mapping /
    * type overrides would surface physical names the SQL plan
    * doesn't know. Those tables still have full row-level DML
    * through the engine API (updateWhere / upsertEq / merge), which
    * reads through the logical view.
    */
  private[graft] def sqlRowLevelBlocker(
      s: SparkSession, root: String, version: Int): Option[String] = {
    val mv = SnapshotTable.version(s, root, version)
    if (mv.deleteFiles.nonEmpty || mv.eqDeletes.nonEmpty)
      Some("pending merge-on-read deletes — run compactDeletes() first")
    else if (mv.columnMapping.nonEmpty || mv.columnTypes.nonEmpty)
      Some("column mapping / type overrides — use the engine API " +
        "(updateWhere / merge), which reads through the logical view")
    else None
  }

  /** Manifest-pruned candidate data files for a predicate — the
    * FILE-level half of [[readWhere]] with no row filtering, for
    * callers that must read whole files (the SQL row-level
    * copy-on-write scan: rows it does not return are rows the
    * rewrite deletes, so it reads every row of every candidate file
    * and pruning may only over-include, never exclude a match).
    */
  private[graft] def candidateDataFiles(
      s: SparkSession, root: String, predicate: Option[Column],
      version: Int = -1): Seq[String] = {
    val v = if (version < 0) currentVersion(s, root) else version
    val mv = SnapshotTable.version(s, root, v)
    val all = mv.dataFiles
    predicate match {
      case Some(p) if mv.hasPruningMeta =>
        pruneBy(mv, readVersion(s, root, v, mv).filter(p)).getOrElse(all)
      case _ => all
    }
  }

  /** Candidate data files for a CDC delete-image batch: derive a
    * per-column `BETWEEN images.min AND images.max` predicate over
    * every stats/partition-registered column the images carry, and
    * feed it to the same manifest pruning [[readWhere]] uses. One
    * O(Δ) aggregate over the (small) image batch buys a metadata-only
    * file skip. Columns with any null image value are excluded — the
    * null-safe match can hit rows that file min/max (null-blind by
    * parquet convention) cannot bound. Falls back to `all` whenever
    * nothing can prune.
    */
  private[graft] def cdcPlanningCandidates(
      s: SparkSession, root: String, v: Int, mv: Manifest.Version,
      images: DataFrame, all: Seq[String]): Seq[String] = {
    if (!mv.hasPruningMeta) return all
    val pruneCols = (mv.statsColumns ++ mv.partitionSource)
      .filter(_.nonEmpty).distinct.filter(images.columns.contains)
    if (pruneCols.isEmpty) return all
    import org.apache.spark.sql.functions.{count, max => fmax, min => fmin, when}
    val aggs = pruneCols.flatMap(c => Seq(
      fmin(col(c)).as(s"_mn_$c"), fmax(col(c)).as(s"_mx_$c"),
      count(when(col(c).isNull, 1)).as(s"_nulls_$c")))
    val r = images.agg(aggs.head, aggs.tail: _*).collect().head
    val preds = pruneCols.flatMap { c =>
      val mn = r.getAs[Any](s"_mn_$c")
      if (r.getAs[Long](s"_nulls_$c") > 0 || mn == null) None
      else Some(col(c) >= lit(mn) && col(c) <= lit(r.getAs[Any](s"_mx_$c")))
    }
    if (preds.isEmpty) all
    else planningCandidates(mv,
      readVersion(s, root, v, mv).filter(preds.reduce(_ && _)), all)
  }

  /** The [[readWhere]] pruning core, reusable by the point-lookup
    * optimizer rule (plans.SnapshotScanPruning): files of `mv`
    * that MIGHT satisfy `cond` per the manifest's partition/stats/
    * bloom metadata — a metadata-only decision, no data file opened.
    * `cond` names logical columns (physical == logical when the table
    * has no rename history, which is how the rule sees scan filters).
    */
  private[graft] def pruneEntries(
      mv: Manifest.Version,
      c: org.apache.spark.sql.catalyst.expressions.Expression): Seq[String] = {
    val entries = mv.dataEntries
    val mapping = mv.columnMapping
    val afterPartition = mv.partitionSource match {
      case Some(source) =>
        PartitionTransforms.dayBounds(c, source) match {
          case (lo, hi) if lo.nonEmpty || hi.nonEmpty => entries.filter {
            _.day.forall(d => lo.forall(d >= (_: String)) && hi.forall(d <= (_: String)))
          }
          case _ => entries
        }
      case _ => entries
    }
    // per-file min/max stats skipping (annotations written by commit
    // with statsCols): keep a file unless its [min,max] provably
    // misses the predicate's bounds; files without stats always scan
    val statCols = mv.statsColumns
    val bloomCols = mv.bloomColumns
    implicit val bord: Ordering[Array[Byte]] = unsignedBytesOrdering
    val afterStats =
      if (statCols.isEmpty) afterPartition
      else afterPartition.filter { e =>
        statCols.forall { sc =>
          val phys = mapping.getOrElse(sc, sc)
          val (lo, hi) = PartitionTransforms.numericBounds(c, sc)
          val numericKeep = e.numericBounds(phys).forall { case (mn, mx) =>
            lo.forall(_ <= mx) && hi.forall(_ >= mn)
          }
          // string bounds (footer stats on string columns): same
          // interval test under unsigned UTF-8 byte order
          val (slo, shi) = PartitionTransforms.stringBounds(c, sc)
          val stringKeep = slo.isEmpty && shi.isEmpty || e.stringBounds(phys).forall {
            case (mn, mx) => slo.forall(l => bord.lteq(l, mx)) && shi.forall(h => bord.gteq(h, mn))
          }
          numericKeep && stringKeep
        }
      }
    // bloom skipping: an equality/IN conjunct on a bloom column rules
    // a file out when NONE of the sought values might be present
    val pruned =
      if (bloomCols.isEmpty) afterStats
      else afterStats.filter { e =>
        bloomCols.forall { bc =>
          val phys = mapping.getOrElse(bc, bc)
          PartitionTransforms.equalityValues(c, bc).forall { values =>
            e.bloom(phys).forall(bits =>
              values.exists { case (value, dt) => bloomMightContain(bits, value, dt) })
          }
        }
      }
    pruned.map(_.path)
  }

  /** Expire old snapshots (Iceberg `expire_snapshots`): keep the last
    * `keepLast` versions, delete older manifests AND every data file
    * referenced only by them. Without this a 100 TB table's storage
    * grows without bound — every delete/compaction/overwrite keeps its
    * pre-image alive. Live versions are untouched (their files are
    * never rewritten, so reads stay byte-identical); expired versions
    * become unreadable. Returns (expired versions, deleted data files).
    */
  /** Versions `expire(keepLast)` would drop — the dry-run face of the
    * retention window (metadata listing only, nothing is read or
    * touched).
    */
  def expirableVersions(s: SparkSession, root: String, keepLast: Int): Seq[Int] = {
    require(keepLast >= 1, "must keep at least the current version")
    val versions = Manifest.versions(conf(s), root).map(_._1)
    versions.splitAt(math.max(0, versions.size - keepLast))._1
  }

  def expire(s: SparkSession, root: String, keepLast: Int): (Seq[Int], Seq[String]) = {
    require(keepLast >= 1, "must keep at least the current version")
    val versions = Manifest.versions(conf(s), root).map(_._1)
    val (expired, live) = versions.splitAt(math.max(0, versions.size - keepLast))
    if (expired.isEmpty) return (Seq.empty, Seq.empty)
    // branch heads keep their referenced files live — a branch created
    // from an expired main version must stay readable until published
    // or dropped
    // every entry counts, positional delete files included — deletes
    // referenced by a live version must survive, expired-only ones are
    // reclaimed
    def filesAt(stem: String) = verAt(s, root, stem).entries.map(_.path)
    val branchStems = branches(s, root).values.toSeq
    val branchLive = branchStems.flatMap(filesAt).toSet
    val liveFiles = live.flatMap(v => filesAt(s"v$v")).toSet ++ branchLive
    val orphaned = expired.flatMap(v => filesAt(s"v$v")).distinct
      .filterNot(liveFiles.contains)
    // fragments referenced only by expired versions are reclaimed too
    // — manifest metadata must not outgrow the data it describes
    val liveFrags = (live.map(v => s"v$v") ++ branchStems)
      .flatMap(st => verAt(s, root, st).fragments).toSet
    val orphanedFrags = expired.flatMap(v => version(s, root, v).fragments)
      .distinct.filterNot(liveFrags.contains)
    // delete manifests FIRST: a crash mid-expire must never leave a
    // readable version pointing at deleted fragments or data files
    val fs = fsOf(s, new Path(root))
    expired.foreach(v => fs.delete(Manifest.path(root, s"v$v"), false))
    orphanedFrags.foreach(f => fs.delete(new Path(f), false))
    orphaned.foreach(f => fs.delete(new Path(f), false))
    (expired, orphaned)
  }

  /** Reclaim ORPHAN files (Iceberg `remove_orphan_files`): files under
    * the table root that NO manifest generation references. [[expire]]
    * reclaims files of expired VERSIONS; this reclaims the debris no
    * version ever owned — a crashed commit's data directory (written
    * before the manifest CAS), a losing [[commitAppend]] attempt's
    * superseded re-stamped fragment, a torn publish's `.manifest.tmp`,
    * a crashed [[CommitArbiter]] publish's leaked `.lock`. On a
    * streaming table this debris accrues per failure forever; at
    * 100 TB an un-reclaimed crashed compaction is a full table copy.
    *
    * Safety contract (mirrors Iceberg's `older_than`): only files
    * whose modification time is at least `graceMs` old are touched —
    * `graceMs` MUST exceed the longest possible in-flight commit,
    * because a commit's staged data/fragment files are legitimately
    * unreferenced until its manifest publishes. Files referenced by
    * ANY version or branch manifest ([[Manifest.listing]])
    * are never touched; version manifests themselves are owned by
    * [[expire]], not this. Same cross-root caveat as [[expire]]: a
    * [[shallowClone]] referencing this root's files from ANOTHER root
    * is invisible here — don't run cleanup on roots serving clones.
    *
    * Scale shape: the candidate listing runs DISTRIBUTED, one task per
    * commit-grained directory (`data/v*`, `data/c-*`, `deletes/v*` —
    * O(commits) tasks), and the orphan decision is a Spark anti-join
    * of that listing against the referenced set, so the driver never
    * materializes or diffs the full file inventory — it collects only
    * the orphans (bounded by debris, not table size). Deletion fans
    * out the same way. Manifest-directory debris is handled
    * driver-side (that directory is O(versions)).
    *
    * Returns the reclaimed (or, with `dryRun`, reclaimable) file
    * paths, sorted.
    */
  def removeOrphans(
      s: SparkSession, root: String, graceMs: Long = 3L * 3600 * 1000,
      dryRun: Boolean = false): Seq[String] = {
    val listing = Manifest.listing(conf(s), root).getOrElse(return Seq.empty)
    val fs = fsOf(s, new Path(root))
    val cutoff = System.currentTimeMillis - graceMs
    val stems = listing.stems
    // manifest debris decidable by NAME alone: torn publish tmps and
    // leaked arbiter locks. Fragments need the referenced set — they
    // join the distributed anti-join below with the data files.
    // Version manifests are expire()'s to manage and ref files live in
    // _tags/_branches, not here.
    val manifestDebris: Seq[Path] = listing.debris
      .filter(_.getModificationTime <= cutoff).map(_.getPath)
    // fragment candidates: flow through the same listing→anti-join as
    // data files (referenced frags survive, expired-commit leftovers
    // past the grace don't)
    val fragCandidates: Seq[(String, Long)] = listing.fragments
      .map(st => (st.getPath.toString, st.getModificationTime))
    // commit-grained candidate dirs + any loose top-level files
    val rootPath = new Path(root)
    // _delta_log / _iceberg: interop exports render foreign-protocol
    // metadata under the table root (Delta JSON log, Iceberg
    // metadata.json + Avro manifests). Never manifest-referenced, so
    // they'd be swept as loose files once past the grace — protect the
    // whole directory instead.
    val protectedTop =
      Set(Manifest.dir(root).getName, "_tags", "_branches", "_delta_log", "_iceberg")
    val loose = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    val candidateDirs = scala.collection.mutable.ArrayBuffer.empty[String]
    fsOf(s, rootPath).listStatus(rootPath)
      .filterNot(st => protectedTop.contains(st.getPath.getName))
      .foreach { st =>
        if (!st.isDirectory) loose += ((st.getPath.toString, st.getModificationTime))
        else fs.listStatus(st.getPath).foreach { sub =>
          if (sub.isDirectory) candidateDirs += sub.getPath.toString
          else loose += ((sub.getPath.toString, sub.getModificationTime))
        }
      }
    // executors get the driver's Hadoop conf (broadcast, as footerPass
    // ships it) so the listing/delete tasks resolve the SAME FileSystem
    // scheme the driver does (s3a://, the test schemes) — no java.io
    // assumptions
    val confB = s.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(s.sparkContext.hadoopConfiguration))
    def execConf(): org.apache.hadoop.conf.Configuration = confB.value.value
    import s.implicits._
    val dirsRdd = s.sparkContext.parallelize(
      candidateDirs.toSeq, math.max(1, math.min(candidateDirs.size, 64)))
    val listed = dirsRdd.mapPartitions { dirs =>
      val conf = execConf()
      dirs.flatMap { d =>
        val p = new Path(d)
        val dfs = p.getFileSystem(conf)
        if (!dfs.exists(p)) Iterator.empty
        else {
          // plain listStatus recursion, NOT listFiles(recursive): the
          // LocatedFileStatus path loads POSIX permissions through
          // java.io and throws on any non-"file" scheme — exactly the
          // kind of local-path assumption FsContractSpec exists to
          // catch (block locations are useless here anyway)
          val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
          val stack = scala.collection.mutable.Stack[Path](p)
          while (stack.nonEmpty) {
            dfs.listStatus(stack.pop()).foreach { st =>
              if (st.isDirectory) stack.push(st.getPath)
              else buf += ((canonQualified(st.getPath), st.getModificationTime))
            }
          }
          buf.iterator
        }
      }
    }.toDF("path", "mtime")
      .union((loose.toSeq ++ fragCandidates)
        .map { case (p, m) => (canon(s, p), m) }.toDF("path", "mtime"))
    // the referenced set (every data/delete file + fragment of EVERY
    // manifest generation, whatever the stem names — main versions and
    // branch heads alike) is assembled DISTRIBUTED: one task per
    // manifest stem reads that manifest + its fragments executor-side,
    // so the driver never holds O(files × versions) strings — at 100 TB
    // with millions of live files the driver stays at O(debris)
    val stemsRdd = s.sparkContext.parallelize(
      stems, math.max(1, math.min(stems.size, 64)))
    val refDf = stemsRdd.mapPartitions { sts =>
      val conf = execConf()
      sts.flatMap { st =>
        val mv = Manifest.at(conf, root, st)
        (mv.entries.map(_.path) ++ mv.fragments).map(p => canonConf(conf, p))
      }
    }.toDF("ref")
    val orphans: Seq[String] = listed
      .join(refDf, col("path") === col("ref"), "left_anti")
      .filter(col("mtime") <= lit(cutoff))
      .select("path").as[String].collect().toSeq.sorted
    val all = (orphans ++ manifestDebris.map(p => canon(s, p.toString))).sorted
    if (!dryRun && all.nonEmpty) {
      s.sparkContext.parallelize(orphans, math.max(1, math.min(orphans.size, 64)))
        .foreachPartition { paths =>
          val conf = execConf()
          paths.foreach { raw =>
            val p = new Path(raw)
            p.getFileSystem(conf).delete(p, false); ()
          }
        }
      manifestDebris.foreach(p => fs.delete(p, false))
      // drop commit dirs the reclaim emptied — debris dirs must not
      // accumulate either (a dir per crashed commit, forever). Grace
      // applies here too: a dir a concurrent commit JUST created
      // (staging, first file not landed yet) is young and must
      // survive. Dirs whose last files THIS run reclaimed are exempt
      // from the mtime check (our own deletes refreshed it) — an old
      // orphan-holding dir is never an active staging dir, and one
      // that also held fresh staged files fails isEmpty anyway.
      val emptiedByUs: Set[String] =
        orphans.map(o => canon(s, new Path(o).getParent.toString)).toSet
      candidateDirs.foreach { d =>
        val p = new Path(d)
        val dfs = fsOf(s, p)
        val oldOrOurs = emptiedByUs.contains(canon(s, d)) ||
          (dfs.exists(p) && dfs.getFileStatus(p).getModificationTime <= cutoff)
        if (oldOrOurs && dfs.exists(p) && dfs.listStatus(p).isEmpty) {
          dfs.delete(p, false); ()
        }
      }
    }
    confB.destroy()
    all
  }

  /** New data files one write added: their manifest lines (no `_seq`
    * yet — each op stamps its own) and the field ids their footers
    * carry, keyed by physical name.
    */
  private final case class Written(lines: Seq[String], physIds: Map[String, Int])

  /** THE writer of new data files: writes `df` under `dir` as data
    * files of the table whose head is version `cur` (`head`), and
    * returns their manifest lines. How a new file becomes a manifest
    * line is decided here and nowhere else. It applies every
    * registration of the head plus those this commit adds
    * (`partition`, a physical name; `statsCols`/`bloomCols`, logical):
    *  - logical → physical column names (`df` is logical unless
    *    `physical`) and footer field ids ([[physFieldIds]]);
    *  - INT64-micros timestamps ([[writingMicrosTimestamps]]);
    *  - day(source) partitioning: each file holds one day and its line
    *    names it ([[Manifest.withDay]], [[writeDays]]);
    *  - one footer pass ([[footerPass]]): `_rows`, `_bytes` and the
    *    min/max bounds of every registered stats column;
    *  - bloom filters of every registered bloom column ([[annotateBloom]]).
    * `buckets` > 0 pins the files written per partition value (a
    * compaction's packed output count, a caller's salt); otherwise an
    * unpartitioned write keeps the frame's own partitioning and a day
    * write derives its spread from the batch size. `sortCols` (logical)
    * range-sort the rows across those files.
    */
  private def writeNew(
      s: SparkSession, root: String, dir: String, cur: Int, head: Manifest.Version,
      df: DataFrame, physical: Boolean = false, partition: Option[String] = None,
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil,
      buckets: Int = -1, sortCols: Seq[String] = Nil): Written = {
    val mapping = head.columnMapping
    def phys(cs: Seq[String]) = cs.filter(_.nonEmpty).map(c => mapping.getOrElse(c, c)).distinct
    val physDf = if (physical) df else toPhysical(df, mapping)
    val physIds = physFieldIds(s, root, cur, head, physDf.columns.toSeq)
    val stamped = withFieldIds(physDf, physIds)
    // the commit's own bloomCols must be frame columns (an unresolved
    // `user` would hash current_user()); a registered one the frame
    // lacks gets no filter (the file then always scans), as footerPass
    // skips an absent stats column
    phys(bloomCols).find(!hasColumn(s, stamped, _)).foreach(c =>
      throw new IllegalArgumentException(s"unknown bloomCols column: $c"))
    val blooms = phys(head.bloomColumns ++ bloomCols).filter(hasColumn(s, stamped, _))
    val sorted = phys(sortCols).map(col)
    val files = partition.orElse(head.partitionSource) match {
      case Some(source) => writeDays(s, dir, stamped, source, buckets, sorted)
      case None =>
        val arranged =
          if (buckets <= 0) stamped
          else if (sorted.isEmpty) stamped.repartition(buckets)
          else stamped.repartitionByRange(buckets, sorted: _*).sortWithinPartitions(sorted: _*)
        writingMicrosTimestamps(s) { arranged.write.mode("overwrite").parquet(dir) }
        parquetFilesIn(s, dir)
    }
    val lines = footerPass(s, files, phys(head.statsColumns ++ statsCols), validate = phys(statsCols))
    Written(if (blooms.isEmpty) lines else annotateBloom(s, lines, blooms), physIds)
  }

  /** Hidden day(`source`) partitioning of a physical write (the
    * reference's `WITH (partitioning = ARRAY['day(ts)'])`, RUNBOOK.md:91):
    * the transform value directs rows into per-day files and is
    * recorded per file in the MANIFEST line, never in the file content
    * — readers see the original schema only. Rows of one day spread
    * across `buckets` salt buckets, so a hot day costs bounded extra
    * files instead of one straggler task writing one giant file; with
    * `sorted`, each day is range-split on those columns instead.
    * Returns the files' manifest lines, sorted.
    */
  private def writeDays(
      s: SparkSession, dir: String, df: DataFrame, source: String,
      buckets: Int, sorted: Seq[Column]): Seq[String] = {
    val pcol = "_graft_day"
    val day = dayOf(s, df, source)
    // Size-derived salt: spreading one hot day over several write
    // tasks and files pays once a day's bytes approach a target data
    // file and only hurts below it (day×salt fragments that every later
    // scan task, footer read and manifest line pays for; at sf0.1 a
    // fixed salt of 4 made each read a ~115-task scan over ~31 files'
    // rows). Default (-1): one bucket per saltTargetBytes of the
    // optimizer's size estimate, capped at SaltCap, so small batches
    // write one file per day and the choice is the same at any core
    // count. Callers pinning a spread shape pass an explicit count.
    val saltTarget = s.conf.get("spark.graft.write.saltTargetBytes",
      (128L * 1024 * 1024).toString).toLong.max(1L)
    val SaltCap = 4 // the old fixed spread: the estimate only ever picks fewer
    def saltFor(bytes: BigInt): Int =
      ((bytes + saltTarget - 1) / saltTarget).min(BigInt(SaltCap)).max(BigInt(1)).toInt
    val effSalt =
      if (buckets > 0) buckets
      else saltFor(df.queryExecution.optimizedPlan.stats.sizeInBytes)
    // explicit partition count: AQE would otherwise coalesce the
    // write shuffle and undo the salt spread on small batches
    val shufflePartitions = s.sessionState.conf.numShufflePartitions
    def writeData(nSalt: Int): Unit = {
      val withDay = df.withColumn(pcol, day)
      val arranged =
        if (sorted.nonEmpty) {
          val order = col(pcol) +: sorted
          withDay.repartitionByRange(nSalt, order: _*).sortWithinPartitions(order: _*)
        } else {
          val salt = org.apache.spark.sql.functions.pmod(
            org.apache.spark.sql.functions.xxhash64(
              df.columns.map(col).toIndexedSeq: _*), lit(nSalt))
          withDay.repartition(shufflePartitions, col(pcol), salt)
        }
      writingMicrosTimestamps(s) {
        arranged.write.mode("overwrite").partitionBy(pcol).parquet(dir)
      }
    }
    // files live one level down, under <dir>/<pcol>=<day>/. Returns
    // (manifest line, byte size): the sizes feed the post-write salt
    // check below
    val fs = fsOf(s, new Path(dir))
    def listData(): Seq[(String, Long)] =
      fs.listStatus(new Path(dir)).toSeq.filter(_.isDirectory).flatMap { d =>
        val dayVal = d.getPath.getName.split("=", 2).lift(1).getOrElse("")
        fs.listStatus(d.getPath).filter(_.getPath.getName.endsWith(".parquet"))
          .map(st => (Manifest.withDay(st.getPath.toString, dayVal), st.getLen))
      }
    writeData(effSalt)
    var files = listData()
    // Post-write salt check: the estimate trusts Catalyst's
    // sizeInBytes, which after filters/joins/generators can be off by
    // orders of magnitude. Too high is capped; too low (a 10 GB batch
    // estimated at 100 MB) writes one giant file per hot day, the skew
    // the salt exists to kill. So when the estimate chose the salt and
    // a file breaches 2× the target while the bytes written demand more
    // buckets, rewrite ONCE with the count those bytes give (still ≤
    // the cap). The happy path pays nothing: sizes ride the listing.
    if (buckets <= 0 && effSalt < SaltCap && files.nonEmpty) {
      val actualSalt = saltFor(BigInt(files.map(_._2).sum))
      if (actualSalt > effSalt && files.map(_._2).max > 2L * saltTarget) {
        writeData(actualSalt)
        files = listData()
      }
    }
    files.map(_._1).sorted
  }

  /** The day(`source`) of each row of `df`, as `yyyy-MM-dd`. A frame
    * without the source column holds only rows whose source reads back
    * null, so they take the null day (Spark's __HIVE_DEFAULT_PARTITION__),
    * as a null timestamp does.
    */
  private def dayOf(s: SparkSession, df: DataFrame, source: String): Column =
    if (hasColumn(s, df, source))
      org.apache.spark.sql.functions.date_format(col(source), "yyyy-MM-dd")
    else lit(null).cast("string")

  private def hasColumn(s: SparkSession, df: DataFrame, c: String): Boolean =
    df.columns.exists(s.sessionState.conf.resolver(_, c))

  /** Iceberg parquet field ids for a PHYSICAL frame about to land in
    * the table at head `cur`: the table's persistent ids keyed by
    * physical name, with columns the table hasn't seen yet taking
    * max+1 in arrival order — the same rule [[fieldIds]] applies when
    * it later reads them back, so footer ids and metadata ids can
    * never disagree. A new table (cur < 1) is ordinal, matching the
    * never-evolved fallback.
    */
  private def physFieldIds(s: SparkSession, root: String, cur: Int,
      head: Manifest.Version, dfCols: Seq[String]): Map[String, Int] =
    if (cur < 1) dfCols.zipWithIndex.map { case (n, i) => n -> (i + 1) }.toMap
    else {
      val mapping = head.columnMapping
      val stored = head.storedFieldIds
      // dropped physical names keep their TOMBSTONED id: a compaction
      // rewriting an old file that still physically carries a dropped
      // column must stamp the dropped field's own id, never a fresh one.
      // The stored header (every data commit persists it — see
      // fieldIdsHeader) keeps this METADATA-ONLY; only a pre-header
      // table's first stamped commit pays the schema-inference path.
      val phys: Map[String, Int] =
        (if (stored.nonEmpty)
          stored.collect { case (n, i) if !n.startsWith("!") =>
            mapping.getOrElse(n, n) -> i
          }
        else fieldIds(s, root, cur, head)
          .map { case (n, id) => mapping.getOrElse(n, n) -> id }) ++
        head.droppedColumns
      // fresh ids start past EVERY id ever assigned, tombstones
      // included — reusing a burned id in a footer would alias the
      // dropped field's data in external engines
      var next = (phys.values ++ head.fieldIdTombstones.values)
        .maxOption.getOrElse(0)
      dfCols.map { c =>
        phys.get(c) match {
          case Some(id) => c -> id
          case None => next += 1; c -> next
        }
      }.toMap
    }

  /** The field ids a data commit on `head` (version `cur`) persists,
    * `w`'s new files included: the stored assignment (tombstones and
    * absent columns included) plus fresh entries for columns THIS
    * commit introduces, keyed logical. Persisting on every commit makes
    * every later id lookup header-only — without it, each commit would
    * re-infer the table schema (a parquet footer read) just to
    * reconstruct ordinal ids. The header a first-stamped commit
    * persists covers the WHOLE table (columns absent from this write
    * included), so later lookups never re-derive ordinals from a
    * different column subset.
    */
  private def withFieldIdsHeader(s: SparkSession, root: String, cur: Int,
      head: Manifest.Version, w: Written): Map[String, String] => Map[String, String] = {
    val stored = head.storedFieldIds
    val base = if (cur < 1 || stored.nonEmpty) stored else fieldIds(s, root, cur, head)
    val reverse = head.columnMapping.map(_.swap)
    val ids = base ++ w.physIds.map { case (p, id) => reverse.getOrElse(p, p) -> id }
      .filterNot { case (n, _) => base.contains(n) }
    Manifest.withFacts(_, fieldIds = Some(ids))
  }

  /** Stamp `parquet.field.id` column metadata so the parquet writer
    * emits REAL Iceberg field ids into the footers (Spark honors the
    * key when spark.sql.parquet.fieldId.write.enabled holds, its
    * default). New lake files are then self-describing to external
    * Iceberg engines even without the name-mapping property; files
    * written before this landed stay covered by name mapping — exactly
    * Iceberg's migration story for id-less parquet.
    */
  private def withFieldIds(df: DataFrame, physIds: Map[String, Int]): DataFrame =
    if (physIds.isEmpty) df
    else df.select(df.columns.map { c =>
      physIds.get(c).fold(col(c)) { id =>
        col(c).as(c, new org.apache.spark.sql.types.MetadataBuilder()
          .putLong("parquet.field.id", id.toLong).build())
      }
    }.toIndexedSeq: _*)

  /** [[withFieldIds]] for a PHYSICAL StructType — the SQL row-level
    * write path ships a schema (not a DataFrame) to its executor-side
    * ParquetWriteSupport, which honors the same metadata key.
    */
  private[graft] def withFieldIdMetadata(s: SparkSession, root: String, v: Int,
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType = {
    val ids = physFieldIds(s, root, v, headAt(s, root, v), schema.fieldNames.toSeq)
    org.apache.spark.sql.types.StructType(schema.map { f =>
      ids.get(f.name).fold(f) { id =>
        f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).putLong("parquet.field.id", id.toLong).build())
      }
    })
  }

  /** Lake data files always carry INT64-micros timestamps, never
    * Spark's legacy INT96 default (which Iceberg's spec forbids too):
    * INT96 footers have no usable min/max ordering, which would
    * silently disable timestamp stats-skipping on every commit.
    * Session-conf save/restore around the write — the setting has no
    * per-write option (ParquetOptions only accepts compression +
    * rebase modes), so toggle-and-restore is the only mechanism.
    * The toggle is guarded by a JVM-global lock: two concurrent
    * commits on one session would otherwise race the restore — one
    * thread's `finally` could revert the conf to INT96 while the
    * other's write is still reading it, silently disabling timestamp
    * skipping for that file set. The lock is held across the write
    * (an unlocked already-MICROS fast path would still observe
    * another thread's transient toggle value — there is no safe
    * check-then-write without it), so concurrent commits serialize
    * their data-write phase; when the session pre-sets
    * TIMESTAMP_MICROS the conf is never mutated and the lock is the
    * only cost.
    */
  private val microsTsLock = new Object
  // togglers in flight + a monotonic epoch bumped on every conf set
  // AND restore: together they let the fast path prove the MICROS it
  // read is the session's steady state, not a toggler's transient
  private val microsTogglers = new java.util.concurrent.atomic.AtomicInteger(0)
  private val microsEpoch = new java.util.concurrent.atomic.AtomicLong(0L)
  private[lake] def writingMicrosTimestamps[A](s: SparkSession)(body: => A): A = {
    val key = "spark.sql.parquet.outputTimestampType"
    // LOCK-FREE fast path: accept iff conf reads MICROS, then no
    // toggler is in flight, then the epoch is unchanged since before
    // the conf read. Any toggle overlapping the window either spans it
    // (count > 0 rejects) or bumps the epoch inside it (entry or exit
    // ++ rejects) — so an accepted MICROS cannot be a transient, and
    // concurrent commits on a pre-set session write in parallel
    // instead of serializing behind the toggle lock.
    val e1 = microsEpoch.get()
    if (s.conf.getOption(key).contains("TIMESTAMP_MICROS") &&
        microsTogglers.get() == 0 && microsEpoch.get() == e1) body
    else microsTsLock.synchronized {
      val prev = s.conf.getOption(key)
      if (prev.contains("TIMESTAMP_MICROS")) body
      else {
        microsTogglers.incrementAndGet()
        microsEpoch.incrementAndGet()
        s.conf.set(key, "TIMESTAMP_MICROS")
        try body
        finally {
          prev match {
            case Some(v) => s.conf.set(key, v)
            case None => s.conf.unset(key)
          }
          microsEpoch.incrementAndGet()
          microsTogglers.decrementAndGet()
        }
      }
    }
  }

  // ----- rollback and named refs (Iceberg tags) ---------------------

  /** Iceberg-style rollback: re-publish an old snapshot as the NEW
    * current version. Zero-copy — the new manifest re-references the
    * target version's data files verbatim (stats/bloom/partition
    * annotations included), nothing is rewritten — and
    * non-destructive: intermediate versions remain readable, so the
    * rollback itself can be rolled back. The target's full header is
    * carried, so reading the new version behaves exactly like reading
    * the target (schema history included).
    */
  /** Resolve a commit instant to the newest version committed at or
    * before it — the shared anchor for `TIMESTAMP AS OF` ([[readAsOf]]
    * and the SQL catalog). Commit stamps are ENFORCED strictly
    * increasing with version (max(now, prev+1) in the manifest
    * writer), so this is a BINARY SEARCH over manifest headers:
    * O(log versions) header reads, not a walk of every version — on a
    * 100k-commit streaming table a point lookup reads ~17 headers
    * instead of 100k (VERDICT r11 item 5).
    */
  def versionAt(s: SparkSession, root: String, epochMillis: Long): Int = {
    val cur = currentVersion(s, root)
    def committedAt(v: Int) = version(s, root, v).committedAt
    val earliest = if (cur < 1) None else Some(committedAt(1))
    if (earliest.forall(_ > epochMillis))
      throw new IllegalArgumentException(
        s"no version of $root committed at or before $epochMillis " +
          s"(earliest: ${earliest.fold("none")(_.toString)})")
    // invariant: committedAt(lo) <= epochMillis < committedAt(hi+1)
    var lo = 1
    var hi = cur
    while (lo < hi) {
      val mid = lo + (hi - lo + 1) / 2
      if (committedAt(mid) <= epochMillis) lo = mid else hi = mid - 1
    }
    lo
  }

  /** Timestamp time travel — Iceberg/Trino `FOR TIMESTAMP AS OF`:
    * read the newest version whose commit instant is at or before
    * `epochMillis`. Version numbers and commit instants are both
    * monotonic — the writer ENFORCES strictly increasing stamps
    * (max(now, prev+1)), so a backwards wall-clock step cannot make
    * stamp order disagree with version order. Resolution is
    * [[versionAt]]'s O(log versions) header binary search.
    */
  def readAsOf(s: SparkSession, root: String, epochMillis: Long): DataFrame =
    read(s, root, versionAt(s, root, epochMillis))

  /** Zero-copy SHALLOW CLONE (Delta-style): a NEW table whose v1
    * manifest references the source's data files at `version` — no
    * bytes move. The clone then evolves independently (its commits
    * write under its own root). Caveat, same as Delta's: `expire` on
    * the SOURCE can reclaim files a clone still references — clones
    * are for dev/test forks and short-lived experiments, not for
    * outliving their source's retention.
    */
  def shallowClone(s: SparkSession, srcRoot: String, destRoot: String,
                   version: Int = -1): Int = {
    val v = if (version < 0) currentVersion(s, srcRoot) else version
    require(v >= 1, s"cannot clone $srcRoot: no committed version")
    require(currentVersion(s, destRoot) == 0,
      s"clone destination $destRoot already has commits")
    val src = SnapshotTable.version(s, srcRoot, v)
    val header = src.header ++ Map("op" -> "clone", "clone_of" -> s"$srcRoot@v$v")
    // fragment refs are absolute paths, so the zero-copy clone carries
    // them verbatim across roots (same expire caveat as data files)
    Manifest.publish(conf(s), destRoot, "v1", header, src.body)
    1
  }

  def rollback(s: SparkSession, root: String, toVersion: Int): Int = {
    val cur = currentVersion(s, root)
    require(toVersion >= 1 && toVersion <= cur,
      s"cannot roll back $root to version $toVersion (current: $cur)")
    // the target's FULL header and body, so the new version reads
    // exactly like the target (schema history included)
    val target = version(s, root, toVersion)
    Manifest.publish(conf(s), root, s"v${cur + 1}",
      target.header ++ Map("op" -> "rollback", "rollback_of" -> toVersion.toString),
      target.body)
    cur + 1
  }

  private def tagsDir(root: String) = new Path(s"$root/_tags")

  /** Create an IMMUTABLE named reference to a version (Iceberg tag).
    * Immutability is enforced by create-with-overwrite=false — a
    * second writer racing to the same name fails loudly.
    */
  def tag(s: SparkSession, root: String, name: String, version: Int): Unit = {
    require(name.nonEmpty && name.matches("[A-Za-z0-9._-]+"),
      s"invalid tag name: $name")
    // reserved: the Iceberg export serves the table head as refs.main —
    // a user ref by that name would duplicate the key in exported JSON
    require(name != "main", "tag name 'main' is reserved for the table head")
    val cur = currentVersion(s, root)
    require(version >= 1 && version <= cur,
      s"cannot tag version $version of $root (current: $cur)")
    val p = new Path(tagsDir(root), name)
    val fs = fsOf(s, p)
    if (fs.exists(p))
      throw new IllegalStateException(s"tag $name already exists on $root")
    // a racing writer past the exists() check surfaces as the FS's
    // FileAlreadyExistsException — normalize to the same signal the
    // non-raced path throws so callers see one immutability exception
    try Manifest.writeRef(conf(s), p, version.toString, overwrite = false)
    catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException | _: java.nio.file.FileAlreadyExistsException =>
        throw new IllegalStateException(s"tag $name already exists on $root")
    }
  }

  def tagVersion(s: SparkSession, root: String, name: String): Int = {
    val p = new Path(tagsDir(root), name)
    val fs = fsOf(s, p)
    require(fs.exists(p), s"no tag $name on $root")
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt
    finally in.close()
  }

  /** All tags on the table, name → version. */
  def tags(s: SparkSession, root: String): Map[String, Int] = {
    val dir = tagsDir(root)
    val fs = fsOf(s, dir)
    if (!fs.exists(dir)) Map.empty
    else fs.listStatus(dir).map(_.getPath.getName)
      .map(n => n -> tagVersion(s, root, n)).toMap
  }

  /** Read the snapshot a tag points at. */
  def readTag(s: SparkSession, root: String, name: String): DataFrame =
    read(s, root, tagVersion(s, root, name))

  /** Delete a tag ref (Iceberg `remove-snapshot-ref` on a tag). The
    * tagged version itself is untouched — expiry is retention's job.
    */
  def dropTag(s: SparkSession, root: String, name: String): Unit = {
    val p = new Path(tagsDir(root), name)
    val fs = fsOf(s, p)
    require(fs.exists(p), s"no tag $name on $root")
    fs.delete(p, false)
    ()
  }

  // ----- writable branches + write-audit-publish --------------------
  //
  // Branches are the MUTABLE half of named refs (tags are immutable):
  // stage commits on a branch, audit the staged state, then
  // fast-forward main via [[publishBranch]] — the Iceberg
  // write-audit-publish pattern on the reference's table layer
  // (RUNBOOK.md:89). Branch commits write data files under
  // data/<branch>/ and manifests as `<branch>.v{n}` stems ([[Manifest]]),
  // a namespace [[currentVersion]]'s v{N} regex never matches — so
  // staging is INVISIBLE to main readers until publish, and a dropped
  // branch leaves main bit-identical. Refs are single-writer (the ref
  // move is a small-file overwrite, not a CAS).

  private def branchesDir(root: String) = new Path(s"$root/_branches")

  /** Create a branch at a main version (default: current). */
  def createBranch(s: SparkSession, root: String, name: String, fromVersion: Int = -1): Unit = {
    require(name.nonEmpty && name.matches("[A-Za-z0-9_-]+"),
      s"invalid branch name: $name")
    // reserved — see tag(); main IS the table head
    require(name != "main", "branch name 'main' is reserved for the table head")
    val cur = currentVersion(s, root)
    val from = if (fromVersion < 0) cur else fromVersion
    require(from >= 1 && from <= cur,
      s"cannot branch $root from version $from (current: $cur)")
    val p = new Path(branchesDir(root), name)
    val fs = fsOf(s, p)
    if (fs.exists(p))
      throw new IllegalStateException(s"branch $name already exists on $root")
    // a racing creator past the exists() check surfaces as the FS's
    // FileAlreadyExistsException — normalize to the same signal the
    // non-raced path throws, exactly like tag() (wire callers map
    // IllegalStateException to the retryable 409)
    try Manifest.writeRef(conf(s), p, s"v$from", overwrite = false)
    catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException
           | _: java.nio.file.FileAlreadyExistsException =>
        throw new IllegalStateException(s"branch $name already exists on $root")
    }
  }

  /** Manifest stem the branch ref points at (`v3` or `<name>.v2`). */
  def branchHead(s: SparkSession, root: String, name: String): String = {
    val p = new Path(branchesDir(root), name)
    val fs = fsOf(s, p)
    require(fs.exists(p), s"no branch $name on $root")
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
    finally in.close()
  }

  /** All branches on the table, name → head manifest stem. */
  def branches(s: SparkSession, root: String): Map[String, String] = {
    val dir = branchesDir(root)
    val fs = fsOf(s, dir)
    if (!fs.exists(dir)) Map.empty
    else fs.listStatus(dir).map(_.getPath.getName)
      .map(n => n -> branchHead(s, root, n)).toMap
  }

  /** Commit to a branch: same append/overwrite semantics as [[commit]],
    * inheriting the branch head's schema metadata; main is untouched.
    * Returns the branch-local sequence number.
    */
  def commitToBranch(
      s: SparkSession, root: String, name: String, df: DataFrame,
      append: Boolean = true, meta: Map[String, String] = Map.empty): Int = {
    val head = verAt(s, root, branchHead(s, root, name))
    val n = Manifest.branchVersion(conf(s), root, name) + 1
    // a branch always forks from a main version, so its head is never
    // the empty table: `n` stands in for the version number
    val w = writeNew(s, root, s"$root/data/$name/v$n", n, head, df)
    val stem = s"$name.v$n"
    Manifest.publish(conf(s), root, stem,
      withFieldIdsHeader(s, root, n, head, w)(head.inheritedHeader) ++ meta + ("branch" -> name),
      (if (append) head.body else Seq.empty) ++
        Manifest.fragment(conf(s), root, stem, stampSeq(w.lines, nextSeq(head))))
    Manifest.writeRef(conf(s), new Path(branchesDir(root), name), stem, overwrite = true)
    n
  }

  /** Read a branch's current state (staged + inherited data,
    * inherited merge-on-read deletes applied).
    */
  def readBranch(s: SparkSession, root: String, name: String): DataFrame = {
    val stem = branchHead(s, root, name)
    val mv = verAt(s, root, stem)
    readFilesWith(s, mv, Map.empty, mv.dataFiles, mv.deleteFiles, mv.eqDeletes, fileSeqFn(s, mv))
  }

  /** PUBLISH: fast-forward main to the branch head. Zero-copy — the
    * new main manifest re-references the branch head's lines verbatim
    * (annotations included) and carries its header, so reading main
    * after publish is bit-identical to reading the audited branch.
    * Returns the new main version.
    */
  def publishBranch(s: SparkSession, root: String, name: String): Int = {
    val stem = branchHead(s, root, name)
    val v = currentVersion(s, root) + 1
    val branch = verAt(s, root, stem)
    Manifest.publish(conf(s), root, s"v$v",
      branch.header ++ Map("op" -> "publish", "published_from" -> stem), branch.body)
    v
  }

  /** Delete a branch ref. Main is untouched; the branch's unpublished
    * data files become orphans (reclaimable by maintenance, exactly
    * like aborted-write orphans).
    */
  def dropBranch(s: SparkSession, root: String, name: String): Unit = {
    val p = new Path(branchesDir(root), name)
    val fs = fsOf(s, p)
    require(fs.exists(p), s"no branch $name on $root")
    fs.delete(p, false)
    ()
  }

  /** Move an existing branch ref to a MAIN version (Iceberg
    * `set-snapshot-ref` type=branch on an existing ref). Any staged
    * branch-local commits become orphans, exactly like dropBranch —
    * the wire protocol's ref move is a pointer overwrite, and the
    * engine's write-audit-publish staging is invisible to external
    * catalogs anyway. Refuses a version the table doesn't have.
    */
  def moveBranch(s: SparkSession, root: String, name: String, toVersion: Int): Unit = {
    val p = new Path(branchesDir(root), name)
    val fs = fsOf(s, p)
    require(fs.exists(p), s"no branch $name on $root")
    val cur = currentVersion(s, root)
    require(toVersion >= 1 && toVersion <= cur,
      s"cannot move branch $name of $root to version $toVersion (current: $cur)")
    Manifest.writeRef(conf(s), p, s"v$toVersion", overwrite = true)
  }

  // ----- schema evolution: rename / widen via column mapping --------
  //
  // Delta-style "column mapping by name": data files keep their
  // PHYSICAL column names and types forever (immutable files); the
  // manifest header carries logical→physical name mapping and
  // logical type overrides, copied forward by every commit. Renames
  // and widens are metadata-only commits — zero data rewritten, old
  // versions still read with their old schema (time travel includes
  // schema history, like Iceberg). DROPPED columns keep their
  // physical name with a tombstoned field id: the files are never
  // rewritten (old versions still read the column); current-version
  // reads drop the physical column in logicalView, and the id stays
  // burned so no later field can alias the dropped field's data —
  // Iceberg §Schema Evolution. The headers themselves are
  // [[Manifest]]'s, served as facts of each [[Manifest.Version]].
  //
  // Persistent Iceberg-style field ids: logical name → id, carried in
  // the inherited header. The id FOLLOWS a field through renames (the
  // Iceberg spec's rename encoding: same field-id, new name), which is
  // what lets a REST client express RENAME by sending the old id with
  // a new name. Tables that never evolved have no header and read as
  // ordinal ids; the first schema-evolution commit snapshots that
  // assignment so it can never drift afterwards.

  /** Logical field name → persistent field id at a version. Fields
    * without a stored id (pre-evolution tables, or columns that
    * arrived by appending wider files) get deterministic ids: ordinal
    * position when NO ids are stored, max-stored-id + arrival order
    * when some are.
    */
  def fieldIds(s: SparkSession, root: String, version: Int): Map[String, Int] =
    fieldIds(s, root, version, SnapshotTable.version(s, root, version))

  /** [[fieldIds]] of version `v`, already looked up as `mv`. */
  def fieldIds(s: SparkSession, root: String, v: Int, mv: Manifest.Version): Map[String, Int] = {
    val stored = mv.storedFieldIds
    val names = schema(s, root, v, mv).fieldNames
    if (stored.isEmpty) names.zipWithIndex.map { case (n, i) => n -> (i + 1) }.toMap
    else {
      var next = stored.values.max
      names.map { n =>
        stored.get(n) match {
          case Some(id) => n -> id
          case None => next += 1; n -> next
        }
      }.toMap
    }
  }

  /** Set/remove table properties — a metadata-only commit (Iceberg
    * `UpdateProperties`). Removals apply before updates; unknown
    * removals are no-ops. Properties inherit across ALL later commits
    * (append, merge, maintenance) until changed again, and time travel
    * reads the properties as of the version.
    */
  def setProperties(s: SparkSession, root: String,
      updates: Map[String, String], removals: Seq[String] = Nil): Int = {
    val cur = existingVersion(s, root)
    val head = version(s, root, cur)
    val props = (head.properties -- removals) ++ updates
    publishNext(s, root, cur, head, Map("op" -> "properties"),
      header = Manifest.withFacts(_, properties = Some(props)))
  }

  /** Rename a column — metadata-only commit (no files touched). New
    * files keep writing the ORIGINAL physical name; readers see the
    * new logical name at this and later versions, the old name when
    * time-traveling earlier.
    */
  def renameColumn(s: SparkSession, root: String, oldName: String, newName: String): Int = {
    val cur = existingVersion(s, root)
    val head = version(s, root, cur)
    // a dropped column's physical name still lives inside old files and
    // keeps a tombstone entry in the exported name-mapping; a live
    // field renamed TO that name would make the mapping ambiguous
    // (two entries claiming one file column) — external engines could
    // bind the dropped bytes to the live field
    require(!head.droppedColumns.contains(newName),
      s"RENAME to $newName: collides with a dropped column's physical name still present in old files at $root")
    val mapping = head.columnMapping
    val types = head.columnTypes
    val physical = mapping.getOrElse(oldName, oldName)
    val newMapping = (mapping - oldName) + (newName -> physical)
    val newTypes = types.get(oldName) match {
      case Some(t) => (types - oldName) + (newName -> t)
      case None => types
    }
    // the field id FOLLOWS the rename (Iceberg spec §4: rename = same
    // field-id, new name) — snapshotting the full assignment here is
    // what makes ids persistent from the first evolution onward.
    // Tombstoned ids of dropped fields ride along so they stay burned.
    val ids = fieldIds(s, root, cur, head) ++ head.fieldIdTombstones
    val newIds = ids.get(oldName) match {
      case Some(id) => (ids - oldName) + (newName -> id)
      case None => ids + (newName -> (ids.values.maxOption.getOrElse(0) + 1))
    }
    // based on the FULL inherited header, not rebuilt from scratch:
    // stats/bloom/partition columns and table properties must survive
    // a metadata-only schema commit, or skip pruning and TBLPROPERTIES
    // silently die on the first ALTER. Fragment refs are copied
    // verbatim: a metadata-only commit costs O(#fragments) lines and
    // never touches the files' annotations (they live inside the
    // untouched fragments)
    publishNext(s, root, cur, head, Map("op" -> s"rename:$oldName->$newName"),
      header = Manifest.withFacts(_, columnMapping = Some(newMapping),
        columnTypes = Some(newTypes), fieldIds = Some(newIds)))
  }

  /** Whether `from` → `to` is a lossless widening promotion (the only
    * type changes a metadata-only cast override can express safely —
    * Iceberg's allowed primitive promotions plus the smaller integer
    * steps). Shared by [[widenColumn]] and the SQL/REST pre-validation.
    */
  def isWidening(from: String, to: String): Boolean = {
    val dec = "decimal\\((\\d+),\\s*(\\d+)\\)".r
    (from.toLowerCase.replaceAll("\\s", ""), to.toLowerCase.replaceAll("\\s", "")) match {
      case (a, b) if a == b => true
      case ("tinyint", "smallint" | "int" | "bigint") => true
      case ("smallint", "int" | "bigint") => true
      case ("int", "bigint") => true
      case ("float", "double") => true
      case (dec(p1, s1), dec(p2, s2)) => s1 == s2 && p2.toInt >= p1.toInt
      case _ => false
    }
  }

  /** Widen a column's logical type (int→bigint, float→double, …) —
    * metadata-only commit. Old narrow files are upcast at read time;
    * new files are written already-wide. Non-widening changes are
    * rejected up front ([[isWidening]]): a narrowing cast override
    * would bake silent overflow (or ANSI runtime failures) into the
    * version chain.
    */
  def widenColumn(s: SparkSession, root: String, name: String, ddlType: String): Int = {
    val cur = existingVersion(s, root)
    val head = version(s, root, cur)
    val curSchema = schema(s, root, cur, head)
    require(curSchema.fieldNames.contains(name), s"no column $name at $root")
    val from = curSchema(name).dataType.simpleString
    require(isWidening(from, ddlType),
      s"ALTER COLUMN $name: $from -> $ddlType is not a widening promotion")
    val types = head.columnTypes + (name -> ddlType)
    // inherited header carried forward — see renameColumn
    publishNext(s, root, cur, head, Map("op" -> s"widen:$name:$ddlType"),
      header = Manifest.withFacts(_, columnTypes = Some(types)))
  }

  /** Add a column — metadata-only commit, like [[widenColumn]] but
    * for a name no data file carries yet: the type override makes
    * readers MATERIALIZE the column as typed NULLs until appended
    * files start carrying it (Iceberg ADD COLUMN semantics — old
    * files never rewritten). Time travel: versions before the add
    * have no override, so they read without the column.
    */
  def addColumn(s: SparkSession, root: String, name: String, ddlType: String): Int = {
    val cur = existingVersion(s, root)
    val head = version(s, root, cur)
    val columns = schema(s, root, cur, head).fieldNames
    require(!columns.contains(name), s"column $name already exists at $root")
    // the new column's PHYSICAL name is `name` itself (adds are never
    // mapped), so it must not collide with a physical name still in
    // use by a RENAMED column: after RENAME a->b, ADD COLUMN a would
    // give two logical columns the same in-file name and every later
    // append would fail on a duplicate column
    val mapping = head.columnMapping
    val physInUse = columns.map(c => mapping.getOrElse(c, c))
    require(!physInUse.contains(name),
      s"column $name collides with the physical (in-file) name of a renamed column at $root")
    // a DROPPED column's physical name still lives inside old data
    // files; a same-named re-add would be indistinguishable from it in
    // files written before the drop — refuse (graft's conservative
    // reading of Iceberg's re-add-gets-a-new-id rule: pick a new name)
    require(!head.droppedColumns.contains(name),
      s"column $name was dropped and its physical name still lives in old files at $root — re-add under a new name")
    val types = head.columnTypes + (name -> ddlType)
    // the new field gets a FRESH id past every id ever assigned —
    // Iceberg's add-column rule, so a drop+re-add can never alias an
    // old field's identity; tombstoned ids of dropped fields count
    // toward (and survive past) the max
    val ids = fieldIds(s, root, cur, head) ++ head.fieldIdTombstones
    val newIds = ids + (name -> (ids.values.maxOption.getOrElse(0) + 1))
    // inherited header carried forward — see renameColumn
    publishNext(s, root, cur, head, Map("op" -> s"add:$name:$ddlType"),
      header = Manifest.withFacts(_, columnTypes = Some(types), fieldIds = Some(newIds)))
  }

  /** Why `name` cannot be dropped right now — None when it can.
    * Shared by [[dropColumn]] and the REST route's validate-before-
    * apply pass (a multi-change request must refuse BEFORE any commit
    * lands, not throw halfway).
    */
  private[graft] def dropRefusal(s: SparkSession, root: String, name: String): Option[String] = {
    val cur = currentVersion(s, root)
    if (cur < 1) return Some(s"no snapshot table at $root")
    val head = version(s, root, cur)
    if (!schema(s, root, cur, head).fieldNames.contains(name))
      return Some(s"DROP COLUMN $name: no such column at $root")
    val physical = head.columnMapping.getOrElse(name, name)
    if (head.partitionSource.contains(physical))
      return Some(s"DROP COLUMN $name: the table is day($physical)-partitioned")
    val registered = (head.statsColumns ++ head.bloomColumns).toSet
    if (registered.contains(name) || registered.contains(physical))
      return Some(s"DROP COLUMN $name: stats/bloom skipping is registered on it")
    if (head.eqDeletes.exists(_.cols.contains(physical)))
      return Some(s"DROP COLUMN $name: pending equality deletes key on it")
    None
  }

  /** DROP COLUMN — metadata-only commit (Iceberg §Schema Evolution:
    * files are never rewritten). The column disappears from reads at
    * this version onward; every older version still reads it (each
    * snapshot binds its own headers — the exported Iceberg metadata
    * expresses the same thing as per-snapshot schema-ids). The field
    * id is TOMBSTONED (kept in the fieldids header under "!<id>") so
    * no later ADD can ever alias the dropped field's data, and the
    * physical name joins the `dropped` header so old files' bytes stop
    * surfacing. Dropping the day-partition source, a stats/bloom
    * column, or an eq-delete key column is refused — the table's
    * pruning and delete semantics still reference it.
    */
  def dropColumn(s: SparkSession, root: String, name: String): Int = {
    val cur = existingVersion(s, root)
    dropRefusal(s, root, name).foreach(r => throw new IllegalArgumentException(r))
    // tombstones ride every evolution commit so a dropped field's id
    // stays burned forever (fresh ids start past them)
    val head = version(s, root, cur)
    val mapping = head.columnMapping
    val physical = mapping.getOrElse(name, name)
    val ids = fieldIds(s, root, cur, head)
    val newIds = (ids - name) ++ head.fieldIdTombstones + (s"!${ids(name)}" -> ids(name))
    publishNext(s, root, cur, head, Map("op" -> s"drop:$name"),
      header = Manifest.withFacts(_, columnMapping = Some(mapping - name),
        columnTypes = Some(head.columnTypes - name), fieldIds = Some(newIds),
        droppedColumns = Some(head.droppedColumns + (physical -> ids(name)))))
  }

  /** Physical file columns → the logical schema of a version. A type
    * override whose column is absent from every read file (ADD COLUMN
    * before any append carried it, or a file subset predating the
    * add) materializes as typed NULLs — subset reads keep a stable
    * schema.
    */
  private def logicalView(df: DataFrame, mapping: Map[String, String],
      types: Map[String, String], dropped: Set[String] = Set.empty): DataFrame = {
    // dropped columns go FIRST (keyed by physical name — old files
    // still carry them; new files may not)
    val undropped = dropped.foldLeft(df) { (d, p) =>
      if (d.columns.contains(p)) d.drop(p) else d
    }
    val renamed = mapping.foldLeft(undropped) { case (d, (logical, physical)) =>
      if (physical != logical && d.columns.contains(physical))
        d.withColumnRenamed(physical, logical)
      else d
    }
    types.foldLeft(renamed) { case (d, (name, t)) =>
      if (d.columns.contains(name)) d.withColumn(name, col(name).cast(t))
      else d.withColumn(name, lit(null).cast(t))
    }
  }

  /** Logical column names → physical for writing into a mapped table. */
  private def toPhysical(df: DataFrame, mapping: Map[String, String]): DataFrame =
    mapping.foldLeft(df) { case (d, (logical, physical)) =>
      if (physical != logical && d.columns.contains(logical))
        d.withColumnRenamed(logical, physical)
      else d
    }

  /** Read the table at a version (default: latest), applying that
    * version's column mapping and type overrides.
    */
  def read(s: SparkSession, root: String, version: Int = -1): DataFrame = {
    val v = if (version < 0) currentVersion(s, root) else version
    readVersion(s, root, v, SnapshotTable.version(s, root, v))
  }

  /** [[read]] of version `v`, already looked up as `mv`. */
  private def readVersion(s: SparkSession, root: String, v: Int, mv: Manifest.Version): DataFrame =
    readFilesWith(s, mv, scanTags(root, v), mv.dataFiles, mv.deleteFiles, mv.eqDeletes,
      fileSeqFn(s, mv))

  // scan tags: ride the parquet relation's options so the point-lookup
  // optimizer rule (plans.SnapshotScanPruning) can recognize a snapshot
  // scan and re-derive its manifest for metadata file pruning
  private[graft] val ScanRootKey = "graft.snapshot.root"
  private[graft] val ScanVersionKey = "graft.snapshot.version"
  private def scanTags(root: String, v: Int) =
    Map(ScanRootKey -> root, ScanVersionKey -> v.toString)

  /** Read an explicit file subset through version `mv`'s column
    * mapping, type overrides and dropped columns (physical names are
    * stable across renames, so old files read correctly under a newer
    * version's schema), `tags` riding the scan.
    */
  private def readFilesWith(
      s: SparkSession, mv: Manifest.Version, tags: Map[String, String], files: Seq[String],
      deletes: Seq[String], eqDels: Seq[EqDelete] = Seq.empty,
      fileSeq: String => Long = _ => 0L): DataFrame =
    logicalView(
      applyAllDeletes(s, files,
        fs => rawWidenedRead(s, fs, mv.columnMapping, mv.columnTypes, tags, Some(mv)),
        deletes, eqDels, fileSeq),
      mv.columnMapping, mv.columnTypes, mv.droppedColumns.keySet)

  /** Physical-schema scan of a file set under a version's widening
    * metadata, NO logical view applied: files written before a widen
    * are physically narrow, so the scan gets an explicit widened
    * schema (Spark 4's parquet reader upcasts int32→bigint /
    * float→double in place) and mixed-width file sets read as one
    * type. Physical column NAMES are untouched — renames stay
    * metadata-only. Used by both the logical read path and physical
    * rewrites (compaction), which would otherwise fail on a
    * post-widen mixed-width file set.
    */
  /** Drop `parquet.field.id` metadata from a read schema: graft scans
    * bind columns by PHYSICAL NAME (renames are metadata-only, so
    * physical names are stable across every file epoch). Spark 4's
    * field-id read mode would otherwise take over whenever the
    * inferred schema comes from an id-stamped file — and then REFUSE
    * the table's older id-less files ("read schema expects field Ids")
    * — making a mixed-epoch table, the permanent migration reality,
    * unreadable. Footer ids are for EXTERNAL engines (with the
    * exported name-mapping covering pre-id files); internally they
    * must never change how a scan binds.
    */
  private def stripFieldIdMeta(
      st: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(st.map { f =>
      if (f.metadata.contains("parquet.field.id"))
        f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).remove("parquet.field.id").build())
      else f
    })

  // session settings the footer-to-Spark schema conversion reads
  // (graft.sources.Footer): a read schema derived under one value must
  // not serve a read under another
  private def footerConfKey(s: SparkSession): String =
    Seq("spark.sql.parquet.binaryAsString", "spark.sql.parquet.int96AsTimestamp",
      "spark.sql.parquet.inferTimestampNTZ.enabled",
      "spark.sql.legacy.parquet.nanosAsLong", "spark.sql.caseSensitive")
      .map(k => s.conf.getOption(k).getOrElse("")).mkString("|")

  /** Physical read of `files` under version `of`. When the files are
    * `of`'s data files, the widened read schema of its FULL data-file
    * set is derived once per version and kept with it ([[Manifest]]);
    * a proper subset still derives its own, skipping the middle-footer
    * probe for columns the full set proved absent from every file
    * (absent everywhere ⇒ absent from any subset). Files from outside
    * the version (a CDF diff's removed side) derive theirs unaided.
    */
  private def rawWidenedRead(
      s: SparkSession, files: Seq[String],
      mapping: Map[String, String], types: Map[String, String],
      tags: Map[String, String] = Map.empty,
      of: Option[Manifest.Version] = None): DataFrame = {
    if (files.isEmpty) return s.read.options(tags).parquet(files: _*)
    val physTypes = types.map { case (l, t) => mapping.getOrElse(l, l) -> t }
    val key = s"readSchema|${physTypes.toSeq.sorted}|${footerConfKey(s)}"
    val full = of.filter(mv => files.toSet.subsetOf(mv.dataFiles.toSet))
      .map(mv => mv.memo(key)(widenedSchema(s, mv.dataFiles, physTypes, Set.empty)))
    val schema =
      if (full.isDefined && of.exists(_.dataFiles == files)) full.get
      else widenedSchema(s, files, physTypes,
        full.fold(Set.empty[String])(physTypes.keySet -- _.fieldNames))
    s.read.schema(schema).options(tags).parquet(files: _*)
  }

  private def widenedSchema(
      s: SparkSession, files: Seq[String], physTypes: Map[String, String],
      knownAbsent: Set[String]): org.apache.spark.sql.types.StructType = {
    // infer from TWO footers, not a full relation: creating a relation
    // just to read its schema would LIST every file a second time — a
    // real fixed cost on many-file tables. The NEWEST file (manifest
    // order puts fresh refs last) carries columns that arrived by
    // append; the OLDEST contributes any column newer files no longer
    // carry (it reads as null where absent, dropped columns are
    // stripped downstream) — the union covers both evolution
    // directions, where a single arbitrary footer (Spark's own
    // no-mergeSchema pick) can silently lose either side.
    // footer probes run on the DRIVER (graft.sources.Footer): going
    // through s.read.parquet(f).schema schedules a 1-task inference
    // job per probe — two jobs' scheduling latency on EVERY read of
    // every snapshot table, for 2 ms of actual footer I/O
    val newest = graft.sources.Footer.schemaOf(s, files.last)
    val inferred =
      if (files.length == 1) newest
      else {
        val oldest = graft.sources.Footer.schemaOf(s, files.head)
        org.apache.spark.sql.types.StructType(
          newest ++ oldest.filterNot(f => newest.fieldNames.contains(f.name)))
      }
    // the two-footer union only covers columns that survive to the
    // newest or oldest file. A column carried ONLY by middle files
    // (added, written by one append, then omitted by later appends —
    // commit() accepts frames missing columns) would otherwise be
    // substituted with typed NULLs downstream (logicalView) and its
    // stored data silently lost. Every such column is listed in the
    // coltypes header (add/widen always record there), so verify the
    // header's columns against the sampled union and probe the
    // unsampled middle footers for any gap — names only, the header
    // already holds the widened type. Short-circuits at the first
    // carrying file; the full-scan worst case is the rare table whose
    // header lists a column NO file ever carried (legitimate NULL
    // materialization) — paid once per version, since the full-set
    // schema is kept with the version.
    val middleOnly: Seq[org.apache.spark.sql.types.StructField] = {
      var missing = physTypes.keySet -- inferred.fieldNames -- knownAbsent
      if (missing.isEmpty || files.length <= 2) Seq.empty
      else {
        val found = scala.collection.mutable.ArrayBuffer
          .empty[org.apache.spark.sql.types.StructField]
        val hconf = s.sparkContext.hadoopConfiguration
        val it = files.iterator.slice(1, files.length - 1)
        while (it.hasNext && missing.nonEmpty) {
          val names = {
            import scala.jdk.CollectionConverters._
            graft.sources.Footer.read(hconf, it.next()).parquetSchema.getFields.asScala.map(_.getName)
          }
          names.filter(missing.contains).foreach { n =>
            missing -= n
            found += org.apache.spark.sql.types.StructField(
              n, org.apache.spark.sql.types.DataType.fromDDL(physTypes(n)))
          }
        }
        found.toSeq
      }
    }
    val widened = org.apache.spark.sql.types.StructType(inferred.map { f =>
      physTypes.get(f.name)
        .map(t => f.copy(dataType = org.apache.spark.sql.types.DataType.fromDDL(t)))
        .getOrElse(f)
    } ++ middleOnly)
    stripFieldIdMeta(widened)
  }

  /** The logical schema of a version (what [[read]] returns), derived
    * once per version and kept with it — the catalog, Iceberg export
    * and wire-commit validation ask for it far more often than the
    * table changes.
    */
  def schema(s: SparkSession, root: String,
      version: Int = -1): org.apache.spark.sql.types.StructType = {
    val v = if (version < 0) currentVersion(s, root) else version
    schema(s, root, v, SnapshotTable.version(s, root, v))
  }

  /** [[schema]] of version `v`, already looked up as `mv`. */
  def schema(s: SparkSession, root: String, v: Int,
      mv: Manifest.Version): org.apache.spark.sql.types.StructType =
    mv.memo(s"schema|${footerConfKey(s)}")(readVersion(s, root, v, mv).schema)

  /** `f` of the newest version of `root`, computed once per version and
    * kept with it (the REST catalog serves its registry rows this way).
    * `f` receives the version number; a root with no version yet is
    * computed afresh on every call.
    */
  private[graft] def memoAtHead[T <: AnyRef](s: SparkSession, root: String, key: String)(
      f: Int => T): T =
    Manifest.head(conf(s), root) match {
      case Some((v, mv)) => mv.memo(key)(f(v))
      case None => f(0)
    }

  /** CDF-style row changes between two versions, Delta-CDF semantics
    * without persisted change files: `change_type` is 'insert' or
    * 'delete'; an UPDATE surfaces as its before-image delete plus
    * after-image insert. Scale story: only data files whose manifest
    * entries DIFFER between the versions are read (unchanged re-listed
    * files never touch disk — check `df.inputFiles`), and the
    * exceptAll that nets out rewritten-file overlap shuffles
    * O(changed rows), not O(table). Both sides read through the
    * to-version schema, so diffs span renames/widens.
    */
  def changes(s: SparkSession, root: String, fromV: Int, toV: Int): DataFrame = {
    require(fromV >= 0 && fromV <= toV,
      s"changes requires 0 <= fromV <= toV, got ($fromV, $toV)")
    def norm(p: String) = canon(s, p)
    // version 0 = the empty table before the first commit, so a
    // changesSince(0) bootstrap replays everything as inserts
    val fromVer = headAt(s, root, fromV)
    val toVer = version(s, root, toV)
    val fromFiles = fromVer.dataFiles
    val toFiles = toVer.dataFiles
    val fromSet = fromFiles.map(norm).toSet
    val toSet = toFiles.map(norm).toSet
    val added = toFiles.filterNot(f => fromSet.contains(norm(f)))
    val removed = fromFiles.filterNot(f => toSet.contains(norm(f)))
    // merge-on-read deletes change rows WITHOUT changing data files:
    // data files whose delete coverage DIFFERS between the versions
    // are read on both sides (before under fromV's delete set, after
    // under toV's) so suppressed rows net out as 'delete' — and
    // symmetrically, delete files present at fromV but gone at toV
    // with the data file unchanged (rollback past a MoR delete, which
    // re-references the pre-delete body zero-copy) surface the
    // RESURRECTED rows as 'insert'. Still O(affected files), never
    // O(table).
    val delFromFiles = fromVer.deleteFiles
    val delToFiles = toVer.deleteFiles
    val delFromSet = delFromFiles.map(norm).toSet
    val delToSet = delToFiles.map(norm).toSet
    val delAdded = delToFiles.filterNot(f => delFromSet.contains(norm(f)))
    val delRemoved = delFromFiles.filterNot(f => delToSet.contains(norm(f)))
    val delChanged = delAdded ++ delRemoved
    val posAffected =
      if (delChanged.isEmpty) Seq.empty[String]
      else {
        val hit = s.read.parquet(delChanged: _*).select("file_path")
          .distinct().collect().map(r => norm(r.getString(0))).toSet
        toFiles.filter(f => fromSet.contains(norm(f)) && hit.contains(norm(f)))
      }
    // equality deletes: a both-sides data file whose APPLICABLE
    // eq-delete subset differs between the versions may have rows
    // suppressed (or resurrected) — read it on both sides and let
    // exceptAll net the unchanged rows out. File-accurate but
    // key-conservative: a candidate file with no matching keys reads
    // and nets to zero (Iceberg CDC pays the same scan).
    val eqFrom = fromVer.eqDeletes
    val eqTo = toVer.eqDeletes
    val fileSeqFrom = fileSeqFn(s, fromVer)
    val fileSeqTo = fileSeqFn(s, toVer)
    val eqAffected =
      if (eqFrom.isEmpty && eqTo.isEmpty) Seq.empty[String]
      else {
        val fsFrom = fileSeqFrom
        val fsTo = fileSeqTo
        toFiles.filter { f =>
          fromSet.contains(norm(f)) &&
            eqFrom.filter(_.seq > fsFrom(f)).map(e => norm(e.path)).toSet !=
              eqTo.filter(_.seq > fsTo(f)).map(e => norm(e.path)).toSet
        }
      }
    val affected = (posAffected ++ eqAffected).distinct
    // empty-side frames need the to-version schema; derive it cheaply
    // from the other side (at least one side is non-empty unless the
    // versions are file-identical)
    val tags = scanTags(root, toV)
    def readOr(files: Seq[String], deletes: Seq[String], eqDels: Seq[EqDelete],
               fileSeq: String => Long, other: Seq[String]): DataFrame =
      if (files.nonEmpty) readFilesWith(s, toVer, tags, files, deletes, eqDels, fileSeq)
      else readFilesWith(s, toVer, tags, other, Seq.empty).limit(0)
    if (added.isEmpty && removed.isEmpty && affected.isEmpty)
      return readVersion(s, root, toV, toVer).limit(0)
        .withColumn("change_type", lit(""))
    val after = readOr(added ++ affected, delToFiles, eqTo, fileSeqTo, removed)
    val before = readOr(removed ++ affected, delFromFiles, eqFrom, fileSeqFrom, added)
    after.exceptAll(before).withColumn("change_type", lit("insert"))
      .unionByName(
        before.exceptAll(after).withColumn("change_type", lit("delete")))
  }

  /** Incremental CDC consumption: everything that changed after
    * `lastSeen`, plus the version to checkpoint for the next call —
    * the polling loop a downstream sync (search index, feature store,
    * replica) runs against the table. Returns (changes, currentVersion);
    * with no new commits the frame is empty and the checkpoint
    * unchanged.
    */
  def changesSince(s: SparkSession, root: String, lastSeen: Int): (DataFrame, Int) = {
    val cur = currentVersion(s, root)
    (changes(s, root, lastSeen, cur), cur)
  }

  def drop(s: SparkSession, root: String): Unit = {
    val p = new Path(root)
    val fs = fsOf(s, p)
    if (fs.exists(p)) { fs.delete(p, true); () }
    // versions are only immutable within one table lifetime: a table
    // re-created at this root restarts its numbering, so its parsed
    // versions go with the directory
    Manifest.purge(root)
  }
}
