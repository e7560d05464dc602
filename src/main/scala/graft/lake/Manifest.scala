package graft.lake

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** The one owner of a snapshot table's `_manifests/` directory: it
  * writes the format it reads ([[fragment]], [[publish]] and the entry
  * encoders produce what [[Entry]] and [[Version]] decode), publishes
  * every version through one CAS path, and caches parsed versions.
  *
  * '''On-disk format.''' UTF-8 text, one item per line:
  * {{{
  * v<N>.manifest                  main version N (1, 2, …)
  * <branch>.v<N>.manifest         a branch's own commit N
  * <hint>-<8 hex>.frag            fragment: entry lines, create-exclusive
  * .<stem>.<8 hex>.manifest.tmp   a writer's manifest before its publish
  * .<stem>.manifest.lock          a LockFileCas publish lock
  *
  * manifest   := header* body* "#graft.eof"    the trailer is always last
  * header     := "#" key "=" value              sorted by key
  * body       := ">" fragment-path | entry      fragment ref | legacy inline
  * fragment   := entry+
  * entry      := file-path ("\t" annotation)*   annotations in any order
  * annotation := "_kind=posdelete"              positional-delete file
  *             | "_kind=eqdelete" "\t" "_eqcols=" col("," col)* "\t" "_eqseq=" n
  *             | "_rows=" n ["\t" "_bytes=" n]  row count, file size
  *             | "_seq=" n                      data sequence number
  *             | "_graft_day=" day              the file's one yyyy-MM-dd of the partition source
  *             | "_min_" col "=" d "\t" "_max_" col "=" d    numeric bounds
  *             | "_smin_" col "=" b64 "\t" "_smax_" col "=" b64  UTF-8 string bounds
  *             | "_bloom_" col "=" b64          bloom bitset
  * }}}
  * Header keys: `committed_at` (epoch ms, on every version, strictly
  * increasing along main); `format`; the headers each commit inherits
  * ([[InheritedKeys]]: `colmap`, `coltypes`, `fieldids`, `dropped`,
  * `tblprops`, `partition`, `statscols`, `bloomcols`), each a map
  * `e(k)=e(v),…`, a list `e(x),…` or a name `e(x)`, where `e` is the
  * one escape of every key, value and element (form URL encoding), so
  * any string round-trips; `op` with the op's own keys; caller
  * metadata (e.g. a streaming batch id). Versions published since the
  * escape carry `#format=2`; one without it has its facts decoded once
  * at parse time by the old rules (split on every `,` and the first
  * `=`; `tblprops` was escaped already), so a [[Version]] serves, and
  * rollback, clone and branch publish copy forward, escaped headers.
  * This module owns the vocabulary, the escape and the annotation keys:
  * [[Version]] and [[Entry]] serve typed facts, and [[withFacts]] and
  * the entry encoders are the one way to write them.
  *
  * '''The cache.''' A version manifest is write-once and its
  * fragments are immutable, so a version parsed once — header, body,
  * resolved entries, and whatever the lake layer derives from them
  * (column mapping, read schema) — stays true for as long as the
  * manifest file itself is the same file.
  *
  * The cache holds one [[Version]] per (root, stem), bounded at
  * [[Cap]] entries, least recently used out first. An entry is served
  * only while the manifest's length and modification time still match
  * the ones it was read under, taken from the directory listing
  * `SnapshotTable.currentVersion` already does or from one
  * `getFileStatus`. So a commit from another process, or a drop and
  * re-create at the same root, is a miss. Two more rules close the
  * gaps a (length, mtime) key leaves:
  *  - a manifest read before its [[EofMarker]] appeared (a publish
  *    still in flight) is never cached;
  *  - an entry read less than [[RacyMs]] after its file's mtime is
  *    "racy": a same-length replacement written in the same clock
  *    tick would carry the same key, so each hit re-reads the manifest
  *    file (never its fragments) and compares the bytes until the
  *    entry has been confirmed at least [[RacyMs]] after the mtime.
  *    A replacement written after that confirmation necessarily gets a
  *    later mtime (the rule git uses for its index).
  * `SnapshotTable.drop` purges the root's entries outright.
  */
private[graft] object Manifest {

  /** Trailer marking a COMPLETELY written manifest. On stores whose
    * publish is a non-atomic copy (the mock no-atomic-rename FS; any
    * store without per-object atomic visibility), a reader — in
    * particular a CONCURRENT COMMITTER re-reading head to rebase —
    * can open the manifest mid-copy and see a truncated prefix. A
    * line-oriented format makes that tear SILENT: the prefix parses
    * fine, the tail fragment refs vanish, and the rebased commit
    * drops the racing writer's rows (caught by
    * CommitConcurrencySpec's lockfile round occasionally losing one
    * append). The trailer turns truncation into something a reader
    * can detect and wait out.
    */
  private val EofMarker = "#graft.eof"

  // `>`-prefixed lines in a version manifest reference an immutable
  // fragment file by absolute path; resolution inlines the fragment's
  // entry lines. Fragment paths are absolute so zero-copy refs survive
  // a cross-root shallowClone (with the same expire caveat as data
  // files).
  private val RefPrefix = ">"

  // per-file annotations of an entry line (`<path>\t<annot>\t…`)
  private val DeleteKindAnnot = "_kind=posdelete"
  private val EqDeleteKindAnnot = "_kind=eqdelete"
  private val EqColsAnnot = "_eqcols="
  private val EqSeqAnnot = "_eqseq="
  private val SeqAnnot = "_seq="
  private val RowsAnnot = "_rows="
  private val BytesAnnot = "_bytes="
  private val DayAnnot = "_graft_day="
  private val MinAnnot = "_min_" // + physical column + "="
  private val MaxAnnot = "_max_"
  private val StrMinAnnot = "_smin_"
  private val StrMaxAnnot = "_smax_"
  private val BloomAnnot = "_bloom_"

  private val Cap = 512 // versions the cache holds at most

  /** How long after its mtime a manifest must have been read for a
    * (length, mtime) match alone to vouch for it. Covers the coarsest
    * common store timestamp granularity (1 s on object stores, 2 s on
    * FAT) with room for the clock tick itself.
    */
  private[graft] val RacyMs = 2000L

  /** An equality-delete file: parquet of key values, the PHYSICAL key
    * column names it matches on, and the sequence number it was
    * committed at (suppresses rows of files with seq strictly below).
    */
  final case class EqDelete(path: String, cols: Seq[String], seq: Long)

  private def b64(bytes: Array[Byte]) = java.util.Base64.getEncoder.encodeToString(bytes)
  private def unb64(s: String) = java.util.Base64.getDecoder.decode(s)

  /** One manifest entry line, decoded: the file path and its
    * annotations. `kind` is 0 = data file, 1 = positional-delete file,
    * 2 = equality-delete file. `line` is kept verbatim, because
    * rewrites carry surviving entries forward byte for byte.
    */
  final class Entry(val line: String) {
    private val parts = line.split('\t')
    val path: String = parts.head
    private def ann(prefix: String): Option[String] =
      parts.iterator.drop(1).collectFirst {
        case a if a.startsWith(prefix) => a.stripPrefix(prefix)
      }
    val kind: Int =
      if (parts.contains(DeleteKindAnnot)) 1
      else if (parts.contains(EqDeleteKindAnnot)) 2
      else 0
    def isData: Boolean = kind == 0
    /** `k=v` annotations as a map. */
    lazy val annots: Map[String, String] = parts.iterator.drop(1).flatMap { a =>
      a.split("=", 2) match { case Array(k, v) => Some(k -> v); case _ => None }
    }.toMap
    private def annot(prefix: String, c: String) = annots.get(prefix + c)
    /** The file's one day of the partition source, if named. */
    lazy val day: Option[String] = ann(DayAnnot)
    /** `$files`' partition value: the day annotation, as written. */
    def partition: Option[String] = day.map(DayAnnot + _)
    /** Numeric (catalyst-internal units) and UTF-8 string min/max, and
      * bloom bits, of physical column `c`.
      */
    def numericBounds(c: String): Option[(Double, Double)] =
      annot(MinAnnot, c).zip(annot(MaxAnnot, c)).map { case (l, h) => (l.toDouble, h.toDouble) }
    def stringBounds(c: String): Option[(Array[Byte], Array[Byte])] =
      annot(StrMinAnnot, c).zip(annot(StrMaxAnnot, c)).map { case (l, h) => (unb64(l), unb64(h)) }
    def bloom(c: String): Option[java.util.BitSet] =
      annot(BloomAnnot, c).map(b => java.util.BitSet.valueOf(unb64(b)))
    /** Row count (`_rows`), absent on entries older than row stamping. */
    val rowsOpt: Option[Long] = ann(RowsAnnot).map(_.toLong)
    def rows: Long = rowsOpt.getOrElse(0L)
    /** File size (`_bytes`), absent on entries older than size stamping. */
    def bytesOpt: Option[Long] = ann(BytesAnnot).map(_.toLong)
    /** Data sequence number (`_seq`, or `_eqseq` on equality deletes). */
    val seq: Long = ann(SeqAnnot).orElse(ann(EqSeqAnnot)).map(_.toLong).getOrElse(0L)
    def eqCols: Seq[String] = ann(EqColsAnnot).map(_.split(",").toSeq).getOrElse(Seq.empty)
    def eqDelete: EqDelete =
      EqDelete(path, eqCols, ann(EqSeqAnnot).map(_.toLong).getOrElse(Long.MaxValue))
  }

  // ----- the header vocabulary -----

  private val CommittedAtKey = "committed_at" // epoch ms
  private val ColMapKey = "colmap"       // logical=physical,…
  private val ColTypesKey = "coltypes"   // logical=ddl type,…
  private val FieldIdsKey = "fieldids"   // logical=id,… plus !<id>=id tombstones
  private val DroppedKey = "dropped"     // physical=tombstoned id,…
  private val PropsKey = "tblprops"      // key=value,…
  private val PartitionKey = "partition" // <source>: the table is day(<source>)-partitioned
  private val StatsKey = "statscols"     // logical column names carrying per-file min/max
  private val BloomKey = "bloomcols"     // logical column names carrying per-file bloom filters

  /** The headers every commit copies forward from the version it
    * builds on. statscols/bloomcols ride along with the schema
    * headers: the per-file min/max and bloom annotations live in the
    * (immutable, re-referenced) fragments, so dropping the header on a
    * later commit would silently disable skip pruning for every old
    * file whose stats are still valid. Files without annotations
    * always scan, so inheriting a registration is never wrong.
    */
  private val InheritedKeys = Set(ColMapKey, ColTypesKey, FieldIdsKey, DroppedKey,
    PropsKey, PartitionKey, StatsKey, BloomKey)

  private val FormatKey = "format" // on every version with escaped header facts

  // the one escape of header facts: every key, value and list element
  private def factEscape(x: String): String = java.net.URLEncoder.encode(x, "UTF-8")
  private def factUnescape(x: String): String = java.net.URLDecoder.decode(x, "UTF-8")

  private def renderFactMap(m: Map[String, String]): String =
    m.toSeq.map { case (k, x) => s"${factEscape(k)}=${factEscape(x)}" }.sorted.mkString(",")
  private def renderFactList(xs: Seq[String]): String = xs.distinct.map(factEscape).mkString(",")

  // a stored value's elements and `k=v` elements, still escaped
  private def factElems(v: String): Seq[String] = v.split(",").toSeq.filter(_.nonEmpty)
  private def factPairs(v: String): Map[String, String] =
    factElems(v).map(_.split("=", 2)).collect { case Array(k, x) => k -> x }.toMap

  private def factMap(v: Option[String]): Map[String, String] = v.fold(Map.empty[String, String])(
    factPairs(_).map { case (k, x) => factUnescape(k) -> factUnescape(x) })
  private def factList(v: Option[String]): Seq[String] =
    v.toSeq.flatMap(factElems).map(factUnescape)

  /** A header written before the format marker, re-encoded: its facts
    * were stored unescaped, except `tblprops`, which already was.
    */
  private def fromLegacy(h: Map[String, String]): Map[String, String] = {
    def ids(k: String) = h.get(k).map(factPairs(_).map { case (n, i) => n -> i.toInt })
    withFacts(h, columnMapping = h.get(ColMapKey).map(factPairs),
      columnTypes = h.get(ColTypesKey).map(factPairs),
      fieldIds = ids(FieldIdsKey), droppedColumns = ids(DroppedKey),
      partitionSource = h.get(PartitionKey), statsColumns = h.get(StatsKey).map(factElems),
      bloomColumns = h.get(BloomKey).map(factElems))
  }

  /** `h` with the given header facts replaced, encoded here: each
    * given fact replaces its header, an empty one removes it, and an
    * absent one keeps whatever `h` has. Field ids include the `!<id>`
    * tombstones of dropped fields.
    */
  def withFacts(h: Map[String, String],
      columnMapping: Option[Map[String, String]] = None,
      columnTypes: Option[Map[String, String]] = None,
      fieldIds: Option[Map[String, Int]] = None,
      droppedColumns: Option[Map[String, Int]] = None,
      properties: Option[Map[String, String]] = None,
      partitionSource: Option[String] = None,
      statsColumns: Option[Seq[String]] = None,
      bloomColumns: Option[Seq[String]] = None): Map[String, String] = {
    def ids(m: Map[String, Int]) = m.map { case (k, i) => k -> i.toString }
    Seq(
      ColMapKey -> columnMapping.map(renderFactMap),
      ColTypesKey -> columnTypes.map(renderFactMap),
      FieldIdsKey -> fieldIds.map(m => renderFactMap(ids(m))),
      DroppedKey -> droppedColumns.map(m => renderFactMap(ids(m))),
      PropsKey -> properties.map(renderFactMap),
      PartitionKey -> partitionSource.map(factEscape),
      StatsKey -> statsColumns.map(renderFactList),
      BloomKey -> bloomColumns.map(renderFactList)
    ).foldLeft(h) {
      case (acc, (k, Some(v))) if v.nonEmpty => acc + (k -> v)
      case (acc, (k, Some(_))) => acc - k
      case (acc, (_, None)) => acc
    }
  }

  /** One parsed, immutable manifest version. */
  final class Version private[Manifest] (
      private[Manifest] val raw: Seq[String],
      /** Every body line (fragment ref or legacy inline entry) with the
        * entries it resolves to, in manifest order.
        */
      groups: IndexedSeq[(String, IndexedSeq[Entry])]) {

    /** The `#key=value` header, facts escaped, without the marker. */
    val header: Map[String, String] = {
      val h = raw.takeWhile(_.startsWith("#")).flatMap { l =>
        l.drop(1).split("=", 2) match {
          case Array(k, v) => Some(k -> v)
          case _ => None
        }
      }.toMap
      if (h.contains(FormatKey)) h - FormatKey else fromLegacy(h)
    }

    /** Non-header body (fragment refs + legacy inline lines) — what
      * O(Δ) commits copy forward VERBATIM: re-referencing a fragment
      * costs one line, never its contents.
      */
    val body: Seq[String] = groups.map(_._1)

    /** Absolute fragment paths the body references. */
    def fragments: Seq[String] = body.filter(_.startsWith(RefPrefix)).map(_.drop(1))

    /** All entries — data AND delete files — in manifest order. */
    val entries: IndexedSeq[Entry] = groups.flatMap(_._2)
    lazy val dataEntries: IndexedSeq[Entry] = entries.filter(_.isData)
    lazy val dataFiles: Seq[String] = dataEntries.map(_.path)
    lazy val deleteFiles: Seq[String] = entries.filter(_.kind == 1).map(_.path)
    lazy val eqDeletes: Seq[EqDelete] = entries.filter(_.kind == 2).map(_.eqDelete)
    lazy val maxSeq: Long = entries.map(_.seq).maxOption.getOrElse(0L)
    // header facts, each decoded once per version
    /** Commit instant (epoch ms); 0 on manifests written before stamping. */
    lazy val committedAt: Long = header.get(CommittedAtKey).fold(0L)(_.toLong)
    /** logical name → physical (in-file) name. */
    lazy val columnMapping: Map[String, String] = factMap(header.get(ColMapKey))
    /** logical name → widened DDL type. */
    lazy val columnTypes: Map[String, String] = factMap(header.get(ColTypesKey))
    /** physical name → tombstoned field id of each column dropped at or before this version. */
    lazy val droppedColumns: Map[String, Int] = factMap(header.get(DroppedKey)).map(kv => kv._1 -> kv._2.toInt)
    /** logical name → field id, plus `!<id>` → id tombstones of dropped fields. */
    lazy val storedFieldIds: Map[String, Int] = factMap(header.get(FieldIdsKey)).map(kv => kv._1 -> kv._2.toInt)
    def fieldIdTombstones: Map[String, Int] = storedFieldIds.filter(_._1.startsWith("!"))
    /** Table properties (Iceberg/Delta TBLPROPERTIES). */
    lazy val properties: Map[String, String] = factMap(header.get(PropsKey))
    /** The day-partition source's commit-time (physical) name. */
    lazy val partitionSource: Option[String] = header.get(PartitionKey).map(factUnescape)
    /** Logical columns registered for per-file min/max stats and bloom filters. */
    lazy val statsColumns: Seq[String] = factList(header.get(StatsKey))
    lazy val bloomColumns: Seq[String] = factList(header.get(BloomKey))
    def hasPruningMeta: Boolean =
      partitionSource.isDefined || header.contains(StatsKey) || header.contains(BloomKey)
    /** The headers a commit on this version copies forward. */
    lazy val inheritedHeader: Map[String, String] = header.filter(kv => InheritedKeys(kv._1))

    /** Entries of the body lines not in `base` (an earlier body). */
    def entriesBeyond(base: Set[String]): Seq[Entry] =
      groups.filterNot(g => base.contains(g._1)).flatMap(_._2)

    /** Split the body for a partial rewrite: fragments with no `hit`
      * entry keep their ref line verbatim; every non-hit entry of a
      * fragment (or legacy inline line) that has a hit survives as a
      * line for one new fragment. Metadata I/O stays O(touched
      * fragments). Returns (kept refs, surviving lines).
      */
    def splitBody(hit: Entry => Boolean): (Seq[String], Seq[String]) = {
      val kept = Seq.newBuilder[String]
      val survivors = Seq.newBuilder[String]
      groups.foreach { case (l, es) =>
        if (l.startsWith(RefPrefix) && !es.exists(hit)) kept += l
        else survivors ++= es.filterNot(hit).map(_.line)
      }
      (kept.result(), survivors.result())
    }

    // derived facts of this version (read schema, logical schema,
    // served rows…), computed once per version and dropped with it
    private val memos = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

    /** `f`, kept per key while this version is cached (racing callers
      * may both compute it; the first result wins). Deliberately not
      * computeIfAbsent: `f` may itself consult this version's memos.
      */
    def memo[T <: AnyRef](key: String)(f: => T): T = {
      val hit = memos.get(key)
      if (hit != null) hit.asInstanceOf[T]
      else {
        val v = f
        val prev = memos.putIfAbsent(key, v)
        if (prev == null) v else prev.asInstanceOf[T]
      }
    }
  }

  /** Version 0: the empty table before the first commit. */
  val Empty: Version = new Version(Seq.empty, IndexedSeq.empty)

  private final class Slot(val len: Long, val mtime: Long,
      @volatile var checkedAt: Long, val version: Version) {
    def settled: Boolean = checkedAt - mtime >= RacyMs
  }

  private val slots = new java.util.LinkedHashMap[(String, String), Slot](64, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[(String, String), Slot]): Boolean =
      size > Cap
  }

  /** A table root's manifest directory. */
  def dir(root: String): Path = new Path(s"$root/_manifests")

  /** The manifest file of version `stem` (`v3`, or a branch's `audit.v2`). */
  def path(root: String, stem: String): Path = new Path(s"$root/_manifests/$stem.manifest")

  private val VersionRe = "v(\\d+)\\.manifest".r

  /** Main versions of `root` with their listing status, ascending. */
  def versions(conf: Configuration, root: String): Seq[(Int, FileStatus)] = {
    val d = dir(root)
    val fs = d.getFileSystem(conf)
    if (!fs.exists(d)) Seq.empty
    else fs.listStatus(d).toSeq.map(st => st.getPath.getName -> st)
      .collect { case (VersionRe(v), st) => v.toInt -> st }.sortBy(_._1)
  }

  /** The newest commit number of branch `name` of `root` (0: none yet). */
  def branchVersion(conf: Configuration, root: String, name: String): Int = {
    val d = dir(root)
    val re = (java.util.regex.Pattern.quote(name) + "\\.v(\\d+)\\.manifest").r
    d.getFileSystem(conf).listStatus(d).map(_.getPath.getName)
      .collect { case re(v) => v.toInt }.foldLeft(0)(math.max)
  }

  /** What orphan cleanup sees in a root's manifest directory: every
    * version and branch manifest stem, the debris decidable by name
    * (tmps of publishes that never completed, leaked locks), and every
    * fragment. None when the root has no manifest directory.
    */
  final case class Listing(stems: Seq[String], debris: Seq[FileStatus], fragments: Seq[FileStatus])

  def listing(conf: Configuration, root: String): Option[Listing] = {
    val fs = dir(root).getFileSystem(conf)
    if (!fs.exists(dir(root))) return None
    val files = fs.listStatus(dir(root)).toSeq.filterNot(_.isDirectory)
    def named(p: String => Boolean) = files.filter(st => p(st.getPath.getName))
    Some(Listing(
      named(_.endsWith(".manifest")).map(_.getPath.getName.stripSuffix(".manifest")),
      named(n => n.endsWith(".tmp") || n.endsWith(".lock")), named(_.endsWith(".frag"))))
  }

  /** The newest main version of `root` (number and parsed version),
    * keyed on the status its one listing returned.
    */
  def head(conf: Configuration, root: String): Option[(Int, Version)] =
    versions(conf, root).lastOption.map { case (v, st) => v -> at(conf, root, s"v$v", st) }

  /** Version `stem` (`v3`, or a branch's `audit.v2`) of `root`. */
  def at(conf: Configuration, root: String, stem: String): Version = {
    val p = path(root, stem)
    at(conf, root, stem, p.getFileSystem(conf).getFileStatus(p))
  }

  private def at(conf: Configuration, root: String, stem: String, st: FileStatus): Version = {
    val key = (root, stem)
    val slot = slots.synchronized(slots.get(key))
    val matches = slot != null && slot.len == st.getLen &&
      slot.mtime == st.getModificationTime
    if (matches && slot.settled) return slot.version
    val t0 = System.currentTimeMillis
    val (raw, complete) = readRaw(conf, root, stem)
    val v = if (matches && raw == slot.version.raw) slot.version else parse(conf, raw)
    if (complete) slots.synchronized {
      slots.put(key, new Slot(st.getLen, st.getModificationTime, t0, v))
    }
    v
  }

  /** Forget every cached version of `root` (the table was dropped). */
  def purge(root: String): Unit = slots.synchronized {
    slots.keySet.removeIf(_._1 == root); ()
  }

  // ----- writing -----

  /** A lost version CAS: another writer published the version first. */
  final class LostCas(msg: String) extends IllegalStateException(msg)

  /** Entry line of a positional-delete file. */
  def posDeleteLine(path: String): String = s"$path\t$DeleteKindAnnot"

  /** Entry line of an equality-delete file: its PHYSICAL key columns
    * and the sequence number it was committed at.
    */
  def eqDeleteLine(path: String, cols: Seq[String], seq: Long): String =
    s"$path\t$EqDeleteKindAnnot\t$EqColsAnnot${cols.mkString(",")}\t$EqSeqAnnot$seq"

  /** `line` with its file's row count and, when known, byte size. */
  def withCounts(line: String, rows: Long, bytes: Option[Long]): String =
    s"$line\t$RowsAnnot$rows" + bytes.fold("")(b => s"\t$BytesAnnot$b")

  /** `line` with its file's data sequence number. */
  def withSeq(line: String, seq: Long): String = s"$line\t$SeqAnnot$seq"

  /** `line` with its file's one day of the partition source; the
    * numeric or UTF-8 min/max of physical column `c`; `c`'s bloom bits.
    */
  def withDay(line: String, day: String): String = s"$line\t$DayAnnot$day"
  def withBounds(line: String, c: String, min: Double, max: Double): String =
    s"$line\t$MinAnnot$c=$min\t$MaxAnnot$c=$max"
  def withStringBounds(line: String, c: String, min: Array[Byte], max: Array[Byte]): String =
    s"$line\t$StrMinAnnot$c=${b64(min)}\t$StrMaxAnnot$c=${b64(max)}"
  def withBloom(line: String, c: String, bits: java.util.BitSet): String =
    s"$line\t$BloomAnnot$c=${b64(bits.toByteArray)}"

  /** Write `lines` as a fragment and return its body ref line (no
    * lines, no fragment). The random name suffix keeps a losing
    * committer's fragment from ever colliding with the winner's.
    */
  def fragment(conf: Configuration, root: String, hint: String,
      lines: Seq[String]): Seq[String] =
    if (lines.isEmpty) Seq.empty
    else {
      val p = new Path(s"$root/_manifests/$hint-${suffix()}.frag")
      write(p.getFileSystem(conf), p, lines, overwrite = false)
      Seq(RefPrefix + p.toString)
    }

  private val StemRe = "v(\\d+)".r

  /** Publish version `stem` of `root`: header `meta`, then `body`,
    * then the trailer. `committed_at`, the anchor of timestamp time
    * travel, is stamped fresh (a rollback copies an OLD header, but the
    * commit happens now) and STRICTLY increasing along main
    * (max(now, previous + 1)): the clock can step back and ticks in ms.
    * The bytes go to a WRITER-UNIQUE tmp (a shared one would let a
    * racing committer swap them before the publish), and
    * [[CommitArbiter]] swaps it into place; a lost CAS throws [[LostCas]].
    */
  def publish(conf: Configuration, root: String, stem: String,
      meta: Map[String, String], body: Seq[String]): Unit = {
    val prevStamp = stem match {
      case StemRe(v) if v.toInt > 1 =>
        try at(conf, root, s"v${v.toInt - 1}").committedAt
        catch { case _: Exception => 0L }
      case _ => 0L
    }
    val instant = math.max(System.currentTimeMillis, prevStamp + 1)
    val header = (meta + (CommittedAtKey -> instant.toString) + (FormatKey -> "2"))
      .toSeq.sorted
      .map { case (k, v) => s"#$k=$v" }
    val dst = path(root, stem)
    val tmp = new Path(s"$root/_manifests/.$stem.${suffix()}.manifest.tmp")
    val fs = dst.getFileSystem(conf)
    write(fs, tmp, header ++ body :+ EofMarker, overwrite = true)
    if (!CommitArbiter.forConf(conf).publish(fs, tmp, dst)) {
      fs.delete(tmp, false)
      throw new LostCas(s"concurrent commit detected for $root at $stem — manifest already exists")
    }
  }

  /** Write a named ref file (a tag's version number, a branch's head
    * stem): one line, create-exclusive unless `overwrite`.
    */
  def writeRef(conf: Configuration, p: Path, value: String, overwrite: Boolean): Unit =
    write(p.getFileSystem(conf), p, Seq(value), overwrite)

  private def suffix(): String = java.util.UUID.randomUUID.toString.take(8)

  private def write(fs: FileSystem, p: Path, lines: Seq[String], overwrite: Boolean): Unit = {
    val out = fs.create(p, overwrite)
    try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
  }

  // ----- reading -----

  /** Resolve a manifest's body: each fragment ref inlines its entries. */
  private def parse(conf: Configuration, raw: Seq[String]): Version =
    new Version(raw, raw.filterNot(_.startsWith("#")).toIndexedSeq.map { l =>
      val lines =
        if (l.startsWith(RefPrefix)) readLines(conf, new Path(l.drop(1)))
        else Seq(l)
      l -> lines.filterNot(_.startsWith("#")).map(new Entry(_)).toIndexedSeq
    })

  private def readLines(conf: Configuration, p: Path): Seq[String] = {
    val in = p.getFileSystem(conf).open(p)
    try
      scala.io.Source.fromInputStream(in, "UTF-8").getLines().filter(_.nonEmpty).toList
    finally in.close()
  }

  /** Lines of the manifest FILE itself — headers, fragment refs, and
    * (legacy) inline entry lines; no resolution — and whether the
    * first read already had the [[EofMarker]]. Retries until the
    * trailer is visible; a manifest that never shows it is CORRUPT (a
    * publish that died mid-copy) and serving its prefix would silently
    * drop rows — so this throws, loudly. Deliberately NO stable-content
    * fallback: a stalled tear is byte-identical to a "complete"
    * trailer-less file, and guessing wrong loses data (the
    * torn-manifest spec pins the wait).
    */
  private def readRaw(conf: Configuration, root: String, stem: String): (Seq[String], Boolean) = {
    val p = path(root, stem)
    var attempt = 0
    while (true) {
      val lines = readLines(conf, p)
      if (lines.nonEmpty && lines.last == EofMarker) return (lines.dropRight(1), attempt == 0)
      attempt += 1
      if (attempt > 200) throw new IllegalStateException(
        s"manifest $p is incomplete (no $EofMarker trailer) — a " +
          "mid-publish tear, a crashed publish, or a pre-trailer file")
      Thread.sleep(5)
    }
    (Seq.empty, false) // unreachable
  }
}
