package graft.lake

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}

/** The one reader of a snapshot table's `_manifests/` directory.
  *
  * A version manifest is write-once: a writer-unique tmp file, a
  * [[CommitArbiter]] publish, and an [[EofMarker]] trailer last. Its
  * fragments (`.frag`, referenced by `>`-prefixed body lines) are
  * create-exclusive and immutable too. So a version parsed once —
  * header, body, resolved entries with their annotations, and whatever
  * the lake layer derives from them (column mapping, read schema) —
  * stays true for as long as the manifest file itself is the same file.
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
  private[lake] val EofMarker = "#graft.eof"

  // `>`-prefixed lines in a version manifest reference an immutable
  // fragment file by absolute path; resolution inlines the fragment's
  // entry lines. Fragment paths are absolute so zero-copy refs survive
  // a cross-root shallowClone (with the same expire caveat as data
  // files).
  private[lake] val RefPrefix = ">"

  // per-file annotations of an entry line (`<path>\t<annot>\t…`)
  private[lake] val DeleteKindAnnot = "_kind=posdelete"
  private[lake] val EqDeleteKindAnnot = "_kind=eqdelete"
  private[lake] val EqColsAnnot = "_eqcols="
  private[lake] val EqSeqAnnot = "_eqseq="
  private[lake] val SeqAnnot = "_seq="
  private[lake] val RowsAnnot = "_rows="
  private[lake] val BytesAnnot = "_bytes="

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
    /** `k=v` annotations as a map (partition values, stats, blooms…). */
    lazy val annots: Map[String, String] = parts.iterator.drop(1).flatMap { a =>
      a.split("=", 2) match { case Array(k, v) => Some(k -> v); case _ => None }
    }.toMap
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

  /** `k=v,k=v` header value → map (column mapping, types, field ids…). */
  private[lake] def pairs(v: Option[String]): Map[String, String] =
    v.toSeq.flatMap(_.split(",")).flatMap { e =>
      e.split("=", 2) match { case Array(k, x) => Some(k -> x); case _ => None }
    }.toMap

  /** One parsed, immutable manifest version. */
  final class Version private[Manifest] (
      private[Manifest] val raw: Seq[String],
      /** Every body line (fragment ref or legacy inline entry) with the
        * entries it resolves to, in manifest order.
        */
      groups: IndexedSeq[(String, IndexedSeq[Entry])]) {

    /** The `#key=value` header. */
    val header: Map[String, String] =
      raw.takeWhile(_.startsWith("#")).flatMap { l =>
        l.drop(1).split("=", 2) match {
          case Array(k, v) => Some(k -> v)
          case _ => None
        }
      }.toMap

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
    /** logical name → physical (in-file) name. */
    lazy val columnMapping: Map[String, String] = pairs(header.get(SnapshotTable.ColMapKey))

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

  private final class Slot(val len: Long, val mtime: Long,
      @volatile var checkedAt: Long, val version: Version) {
    def settled: Boolean = checkedAt - mtime >= RacyMs
  }

  private val slots = new java.util.LinkedHashMap[(String, String), Slot](64, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[(String, String), Slot]): Boolean =
      size > Cap
  }

  private def manifestPath(root: String, stem: String) =
    new Path(s"$root/_manifests/$stem.manifest")

  private val VersionRe = "v(\\d+)\\.manifest".r

  /** Main versions of `root` with their listing status, ascending. */
  def versions(conf: Configuration, root: String): Seq[(Int, FileStatus)] = {
    val dir = new Path(s"$root/_manifests")
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(st => st.getPath.getName -> st)
      .collect { case (VersionRe(v), st) => v.toInt -> st }.sortBy(_._1)
  }

  /** The newest main version of `root` (number and parsed version),
    * keyed on the status its one listing returned.
    */
  def head(conf: Configuration, root: String): Option[(Int, Version)] =
    versions(conf, root).lastOption.map { case (v, st) => v -> at(conf, root, s"v$v", st) }

  /** Version `stem` (`v3`, or a branch's `audit.v2`) of `root`. */
  def at(conf: Configuration, root: String, stem: String): Version = {
    val p = manifestPath(root, stem)
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
    val p = manifestPath(root, stem)
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
