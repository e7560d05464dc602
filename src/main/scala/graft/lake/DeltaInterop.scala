package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{DataType, Metadata, MetadataBuilder, StructField, StructType}

import graft.Json.{jstr, long, parse, str}

/** Open-format metadata interop — BOTH directions of the migration
  * path the reference gets from Iceberg's ecosystem (its tables are
  * mountable by any Iceberg-aware engine via the Lakekeeper catalog,
  * /root/reference/etc/catalog): EXPORT a snapshot version as a
  * Delta-protocol transaction log, and IMPORT a foreign `_delta_log`
  * into a SnapshotTable. Delta's log is pure JSON, so this pair is
  * the IMPORT-capable interchange path; the Iceberg direction (Avro
  * manifest-lists + manifests + metadata.json) is [[IcebergInterop]].
  * Both directions move ZERO data bytes: add actions reference
  * parquet files by absolute URI, and the import registers them via
  * [[SnapshotTable.commitFiles]].
  *
  * Rename/widen metadata survives the round trip via Delta COLUMN
  * MAPPING: the exported schemaString stamps each field's physical
  * (in-file) name as `delta.columnMapping.physicalName` field metadata
  * (mode=name in the table configuration), and logical types ride the
  * schemaString's field types — exactly how Delta serves renamed
  * columns over immutable files. The importer folds both back into
  * SnapshotTable's colmap/coltypes headers.
  */
object DeltaInterop {

  private val PhysNameKey = "delta.columnMapping.physicalName"

  /** A version's logical schema (renames + widens applied) with each
    * mapped field stamped with its physical in-file name (Delta column
    * mapping, mode=name), plus the table configuration — ONE shared
    * render for the JSON chain's metaData actions AND the checkpoint's
    * metaData row, so the two can never drift apart.
    */
  private def stampedSchema(s: SparkSession, root: String, v: Int)
      : (StructType, Map[String, String]) = {
    val mapping = SnapshotTable.columnMapping(s, root, v)
    val logical = SnapshotTable.read(s, root, v).schema
    val stamped = StructType(logical.map { f =>
      mapping.get(f.name) match {
        case Some(phys) if phys != f.name =>
          f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
            .putString(PhysNameKey, phys).build())
        case _ => f
      }
    })
    val cfg: Map[String, String] =
      if (mapping.exists { case (l, p) => l != p })
        Map("delta.columnMapping.mode" -> "name")
      else Map.empty
    (stamped, cfg)
  }

  /** The metaData action for a version — see [[stampedSchema]]. */
  private def metaDataAction(s: SparkSession, root: String, v: Int): String = {
    val stamp = SnapshotTable.committedAt(s, root, v)
    val (stamped, cfg) = stampedSchema(s, root, v)
    val cfgJson = cfg.toSeq.sorted
      .map { case (k, v2) => s"""${jstr(k)}:${jstr(v2)}""" }.mkString(",")
    s"""{"metaData":{"id":"graft-delta-export","format":{"provider":"parquet",""" +
      s""""options":{}},"schemaString":${jstr(stamped.json)},"partitionColumns":[],""" +
      s""""configuration":{$cfgJson},"createdTime":$stamp}}"""
  }

  /** The add action's deletionVector descriptor (inline storage):
    * (descriptor JSON fragment, payload length, cardinality).
    */
  private[graft] def dvDescriptor(positions: Seq[Long]): String = {
    val payload = DeletionVectors.serialize(positions)
    s""","deletionVector":{"storageType":"i","pathOrInlineDv":${
      jstr(DeletionVectors.base85Encode(payload))},"sizeInBytes":${
      payload.length},"cardinality":${positions.size}}"""
  }

  private def addAction(s: SparkSession, f: String, stamp: Long,
      dv: Option[Seq[Long]] = None): String = {
    val p = new Path(f)
    val size = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      .getFileStatus(p).getLen
    s"""{"add":{"path":${jstr(p.toUri.toString)},"partitionValues":{},""" +
      s""""size":$size,"modificationTime":$stamp,"dataChange":true${
        dv.fold("")(dvDescriptor)}}}"""
  }

  private def removeAction(f: String, stamp: Long): String =
    s"""{"remove":{"path":${jstr(new Path(f).toUri.toString)},""" +
      s""""deletionTimestamp":$stamp,"dataChange":true}}"""

  /** Render the FULL version chain as a Delta transaction log under
    * `exportDir` — one `_delta_log/<k>.json` per engine version
    * (graft version k+1 → Delta version k) with that commit's add and
    * remove actions — plus a CHECKPOINT parquet at the head and the
    * `_last_checkpoint` pointer, the way long-lived Delta tables are
    * actually served: a reader reconstructs the current state from
    * the checkpoint alone (no JSON replay) and time-travels through
    * the JSON chain. Zero data bytes moved; per-version metadata work
    * only (schema re-render only on versions whose schema headers
    * changed). Returns the head log file path.
    *
    * A HEAD with pending POSITIONAL merge-on-read deletes exports
    * natively (r17): each masked file's deleted row indexes render as
    * an inline DELETION VECTOR on its add action (remove + re-add in
    * the head commit for files added earlier — Delta's DV-update
    * encoding), with the protocol feature-gated to reader 3 / writer 7
    * + deletionVectors. Zero data bytes still move and the source
    * table is untouched. Scoped refusals/limitations: pending EQUALITY
    * deletes refuse loudly (no Delta contract expresses them — fold
    * with compactDeletes first), and versions expired by retention are
    * not rendered (the chain starts at the earliest live version,
    * exactly like Delta's own log cleanup — readers bootstrap from the
    * checkpoint). An INTERMEDIATE version that had pending MoR deletes
    * renders its data files only (plus a commitInfo marker), so time
    * travel TO that version shows pre-delete visibility; the head
    * state is exact.
    */
  def writeLog(s: SparkSession, root: String, exportDir: String,
               version: Int = -1,
               checkpointPartActions: Int = 10000): Path = {
    val v = if (version < 0) SnapshotTable.currentVersion(s, root) else version
    require(v >= 1, s"nothing to export at $root")
    val headEntries = SnapshotTable.lineEntries(s, root, v)
    // Delta has NO equality deletes (no reader contract expresses
    // "suppress rows matching these key values") — a head with pending
    // eq-deletes still refuses loudly with the fix. Pending POSITIONAL
    // deletes export natively as deletion vectors below (r17; the r16
    // refusal covered both).
    require(!headEntries.exists(_.kind == 2),
      s"$root@v$v has pending equality deletes; run compactDeletes before " +
        "the Delta export — the Delta protocol cannot express them")
    // pending positional deletes → per-file deletion vectors: read the
    // (file_path, pos) delete rows — Δ-sized by construction (MoR
    // writes O(matched rows)) — and attach each file's row-index
    // bitmap to its add action (inline DV, readerFeatures-gated).
    // Zero data bytes still move; the source table is untouched.
    val dvByFile: Map[String, Seq[Long]] =
      if (!headEntries.exists(_.kind == 1)) Map.empty
      else {
        val delFiles = SnapshotTable.deleteFiles(s, root, v)
        s.read.parquet(delFiles: _*)
          .select("file_path", "pos").collect()
          .groupBy(r => SnapshotTable.canon(s, r.getString(0)))
          .map { case (f, rows) => f -> rows.map(_.getLong(1)).toSeq.sorted }
      }
    val conf = s.sparkContext.hadoopConfiguration
    val logDir = new Path(s"$exportDir/_delta_log")
    val fs = logDir.getFileSystem(conf)
    fs.mkdirs(logDir)
    def canonOf(k: Int): Seq[String] = SnapshotTable.dataFiles(s, root, k)
    def schemaKey(k: Int): (Map[String, String], Map[String, String], Map[String, Int]) =
      (SnapshotTable.columnMapping(s, root, k), SnapshotTable.columnTypes(s, root, k),
        SnapshotTable.droppedColumns(s, root, k))
    // versions EXPIRED by retention have no manifest (and possibly
    // reclaimed files) — the chain starts at the earliest LIVE
    // version, exactly like real Delta log cleanup: older JSON
    // commits are gone and readers bootstrap from the checkpoint
    // (the head checkpoint below always covers the full state)
    val firstLive = (1 to v).find(k =>
      scala.util.Try(SnapshotTable.commitMeta(s, root, k)).isSuccess).getOrElse(
      throw new IllegalArgumentException(s"no live version of $root at or below $v"))
    var prevFiles = Seq.empty[String]
    var logFile: Path = null
    // deletion vectors are a table FEATURE: their presence anywhere in
    // the chain gates the protocol to reader 3 / writer 7 with the
    // deletionVectors feature flags (Delta's feature-gating contract)
    val protocolJson =
      if (dvByFile.nonEmpty)
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
          """"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}"""
      else """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""
    (firstLive to v).foreach { k =>
      val stamp = SnapshotTable.committedAt(s, root, k)
      val files = canonOf(k)
      val prevSet = prevFiles.map(SnapshotTable.canon(s, _)).toSet
      val curSet = files.map(SnapshotTable.canon(s, _)).toSet
      // DVs attach at the HEAD commit only (intermediate MoR-pending
      // versions render data files + the commitInfo marker below)
      val dvOf: String => Option[Seq[Long]] =
        f => if (k == v) dvByFile.get(SnapshotTable.canon(s, f)) else None
      val adds = files.filterNot(f => prevSet.contains(SnapshotTable.canon(s, f)))
        .map(f => addAction(s, f, stamp, dvOf(f)))
      val removes = prevFiles.filterNot(f => curSet.contains(SnapshotTable.canon(s, f)))
        .map(removeAction(_, stamp))
      // a file added by an EARLIER commit that now carries deletes:
      // Delta's DV-update encoding — remove + re-add with the DV, in
      // that order, inside the head commit
      val dvUpdates =
        if (k < v) Seq.empty
        else files
          .filter(f => prevSet.contains(SnapshotTable.canon(s, f)) && dvOf(f).isDefined)
          .flatMap(f => Seq(removeAction(f, stamp), addAction(s, f, stamp, dvOf(f))))
      val header =
        if (k == firstLive)
          Seq(protocolJson, metaDataAction(s, root, k))
        else if (schemaKey(k) != schemaKey(k - 1)) Seq(metaDataAction(s, root, k))
        else Seq.empty
      // an INTERMEDIATE version with pending MoR deletes renders its
      // data files only — a foreign reader time-traveling there sees
      // pre-delete visibility. That divergence must be visible ON THE
      // WIRE, not only in our scaladoc: stamp a commitInfo marker so
      // external tooling (and humans reading the log) can tell this
      // commit's rendered state is wider than the engine's own view.
      val mor =
        if (k < v && SnapshotTable.lineEntries(s, root, k).exists(_.kind != 0))
          Seq(s"""{"commitInfo":{"timestamp":$stamp,"operation":"graft-export",""" +
            s""""operationParameters":{},"engineInfo":"graft-delta-export",""" +
            s""""userMetadata":"graft: version had pending merge-on-read deletes; """ +
            s"""rendered data files show pre-delete visibility"}}""")
        else Seq.empty
      logFile = new Path(logDir, "%020d.json".format(k - 1))
      val out = fs.create(logFile, true)
      try out.write(
        ((mor ++ header ++ adds ++ removes ++ dvUpdates).mkString("\n") + "\n")
          .getBytes("UTF-8"))
      finally out.close()
      prevFiles = files
    }
    // exporting an explicit OLDER version into a dir previously
    // exported at a newer one would otherwise leave the newer
    // %020d.json + checkpoint behind: readLog bootstraps from the new
    // _last_checkpoint then replays every JSON above it, silently
    // reconstructing a state NEWER than the requested export. Truncate
    // the chain at the requested head.
    // matches single-file AND multi-part checkpoint spellings — a
    // stale newer MULTI-part checkpoint must truncate like the rest
    val VersionedRe =
      "(\\d{20})(\\.json|\\.checkpoint\\.parquet|\\.checkpoint\\.\\d{10}\\.\\d{10}\\.parquet)".r
    fs.listStatus(logDir).map(_.getPath).foreach { p =>
      p.getName match {
        case VersionedRe(n, _) if n.toLong > (v - 1).toLong => fs.delete(p, false); ()
        case _ => ()
      }
    }
    writeCheckpoint(s, root, v, logDir, dvByFile, checkpointPartActions)
    logFile
  }

  /** Checkpoint parquet for the head (Delta version `v-1`): the FULL
    * reconstructed state — one protocol row, one metaData row, one
    * add row per live file — in the standard checkpoint column layout
    * (one nullable struct column per action type), plus the
    * `_last_checkpoint` pointer. A reader then serves the current
    * state from this one parquet file, paying the JSON chain only for
    * time travel — Delta's own answer to 100k-commit log replay.
    *
    * Past `partActions` actions the checkpoint SPLITS into the spec's
    * multi-part shape — `%020d.checkpoint.%010d.%010d.parquet` with
    * `parts` + `sizeInBytes` recorded in `_last_checkpoint` (r18; the
    * r17 reader already assembles foreign multi-part checkpoints, and
    * a 100k-file table must not funnel through one giant parquet
    * render). Parts are written by a distributed round-robin
    * repartition — the Delta spec allows any action distribution
    * across parts, and each part file carries the full checkpoint
    * schema.
    */
  private def writeCheckpoint(
      s: SparkSession, root: String, v: Int, logDir: Path,
      dvByFile: Map[String, Seq[Long]] = Map.empty,
      partActions: Int = 10000): Unit = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val conf = s.sparkContext.hadoopConfiguration
    val fs = logDir.getFileSystem(conf)
    val stamp = SnapshotTable.committedAt(s, root, v)
    val (stamped, cfg) = stampedSchema(s, root, v)
    val schema = StructType(Seq(
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType),
        StructField("readerFeatures", ArrayType(StringType)),
        StructField("writerFeatures", ArrayType(StringType))))),
      StructField("metaData", StructType(Seq(
        StructField("id", StringType),
        StructField("format", StructType(Seq(
          StructField("provider", StringType),
          StructField("options", MapType(StringType, StringType))))),
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType)),
        StructField("configuration", MapType(StringType, StringType)),
        StructField("createdTime", LongType)))),
      StructField("add", StructType(Seq(
        StructField("path", StringType),
        StructField("partitionValues", MapType(StringType, StringType)),
        StructField("size", LongType),
        StructField("modificationTime", LongType),
        StructField("dataChange", BooleanType),
        StructField("deletionVector", StructType(Seq(
          StructField("storageType", StringType),
          StructField("pathOrInlineDv", StringType),
          StructField("sizeInBytes", IntegerType),
          StructField("cardinality", LongType)))))))))
    val protoRow =
      if (dvByFile.nonEmpty)
        Row(Row(3, 7, Seq("deletionVectors"), Seq("deletionVectors")), null, null)
      else Row(Row(1, 2, null, null), null, null)
    val metaRow = Row(null, Row("graft-delta-export", Row("parquet",
      Map.empty[String, String]), stamped.json, Seq.empty[String], cfg, stamp), null)
    val addRows = SnapshotTable.dataFiles(s, root, v).map { f =>
      val p = new Path(f)
      val size = p.getFileSystem(conf).getFileStatus(p).getLen
      val dvRow = dvByFile.get(SnapshotTable.canon(s, f)).map { pos =>
        val payload = DeletionVectors.serialize(pos)
        Row("i", DeletionVectors.base85Encode(payload),
          payload.length, pos.size.toLong)
      }.orNull
      Row(null, null,
        Row(p.toUri.toString, Map.empty[String, String], size, stamp, true, dvRow))
    }
    val rows = protoRow +: metaRow +: addRows
    val nParts = math.max(1,
      math.ceil(rows.size.toDouble / math.max(1, partActions)).toInt)
    // Spark writes a directory; stage, then move the part file(s) to
    // the spec's name(s)
    val staging = new Path(logDir, s".ckpt-${java.util.UUID.randomUUID.toString.take(8)}")
    import scala.jdk.CollectionConverters._
    val df = s.createDataFrame(rows.asJava, schema)
    val pointer =
      if (nParts == 1) {
        df.coalesce(1).write.mode("overwrite").parquet(staging.toString)
        val part = fs.listStatus(staging).map(_.getPath)
          .find(_.getName.endsWith(".parquet"))
          .getOrElse(throw new IllegalStateException(s"no checkpoint part under $staging"))
        val ckpt = new Path(logDir, "%020d.checkpoint.parquet".format(v - 1))
        // a prior MULTI-part export of this same version leaves
        // differently-split part files — remove every same-version
        // checkpoint spelling before publishing the single file
        fs.listStatus(logDir).map(_.getPath)
          .filter(_.getName.startsWith("%020d.checkpoint.".format(v - 1)))
          .foreach(p => fs.delete(p, false))
        fs.rename(part, ckpt)
        val bytes = fs.getFileStatus(ckpt).getLen
        s"""{"version":${v - 1},"size":${rows.size},"sizeInBytes":$bytes}"""
      } else {
        // multi-part: N part files, each a complete-schema parquet;
        // stale single-file or differently-split checkpoints of the
        // same version are removed so the directory matches the pointer
        df.repartition(nParts).write.mode("overwrite").parquet(staging.toString)
        val parts = fs.listStatus(staging).map(_.getPath)
          .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
        val single = new Path(logDir, "%020d.checkpoint.parquet".format(v - 1))
        if (fs.exists(single)) fs.delete(single, false)
        fs.listStatus(logDir).map(_.getPath)
          .filter(_.getName.startsWith("%020d.checkpoint.".format(v - 1)))
          .foreach(p => fs.delete(p, false))
        var bytes = 0L
        parts.zipWithIndex.foreach { case (p, i) =>
          val dst = new Path(logDir,
            "%020d.checkpoint.%010d.%010d.parquet".format(v - 1, i + 1, parts.length))
          fs.rename(p, dst)
          bytes += fs.getFileStatus(dst).getLen
        }
        s"""{"version":${v - 1},"size":${rows.size},"parts":${parts.length},"sizeInBytes":$bytes}"""
      }
    fs.delete(staging, true)
    val lc = new Path(logDir, "_last_checkpoint")
    val out = fs.create(lc, true)
    try out.write(pointer.getBytes("UTF-8"))
    finally out.close()
  }

  /** Reader features this importer actually implements. Foreign logs
    * requiring anything else (deletion vectors, v2 checkpoints, …)
    * are refused loudly rather than silently mis-read.
    */
  private val SupportedReaderFeatures =
    Set("columnMapping", "timestampNtz", "deletionVectors")

  /** Known Delta action types a zero-copy metadata import may SKIP:
    * commitInfo is informational, txn is app-level idempotence, cdc
    * is change-data files (not table data), domainMetadata is
    * engine-scoped. Anything outside this set AND outside the handled
    * set (add/remove/metaData/protocol) is logged loudly and skipped.
    */
  private val SkippableActions =
    Set("commitInfo", "txn", "cdc", "domainMetadata")

  /** Parse a foreign `_delta_log` (every committed JSON version, in
    * order) down to the live file set + schema. Returns
    * (live add paths, schema, column mapping logical→physical).
    * Real-writer log shapes are handled: relative add/remove paths
    * resolve against `tableDir` (absolute URIs pass through — both
    * are legal Delta), `commitInfo`/`txn`/`cdc` actions are skipped,
    * UNKNOWN actions are skipped with a loud log line, `protocol`
    * actions are CHECKED (reader version ≤ 2, or version 3 with
    * readerFeatures we implement — an unsupported feature refuses the
    * import instead of silently resurrecting/losing rows), and
    * multi-part checkpoints (`_last_checkpoint` with `parts`) are
    * assembled from all their part files.
    */
  def readLog(s: SparkSession, tableDir: String)
      : (Seq[String], StructType, Map[String, String]) = {
    val (adds, schema, mapping) = readLogState(s, tableDir)
    val masked = adds.filter(_._2.nonEmpty)
    require(masked.isEmpty,
      s"$tableDir carries deletion vectors on ${masked.size} file(s); a " +
        "plain-file read would resurrect the deleted rows — consume " +
        "readLogState (per-file deleted positions) or fold the source " +
        "with compactDeletes and re-export")
    (adds.map(_._1), schema, mapping)
  }

  /** [[readLog]] plus per-file DELETION VECTORS: each live add paired
    * with its deleted row indexes (empty when unmasked). Inline DVs
    * (storageType "i") are decoded; file-based DV storage ("u"/"p")
    * is refused loudly rather than mis-read.
    */
  def readLogState(s: SparkSession, tableDir: String)
      : (Seq[(String, Seq[Long])], StructType, Map[String, String]) = {
    import org.json4s.{JArray, JObject, JValue}
    val logDir = new Path(s"$tableDir/_delta_log")
    val fs = logDir.getFileSystem(s.sparkContext.hadoopConfiguration)
    require(fs.exists(logDir), s"no _delta_log under $tableDir")
    val VersionRe = "(\\d{20})\\.json".r
    // Delta's add.path is "relative to the table root, or an absolute
    // URI" — and writers in the wild also emit scheme-less absolute
    // filesystem paths, which URI.isAbsolute calls relative. Anything
    // rooted ('/...') or schemed passes through.
    def resolve(p: String): String =
      if (p.startsWith("/") || java.net.URI.create(p).isAbsolute) p
      else s"$tableDir/$p"
    def checkProtocol(j: JValue): Unit = long(j \ "minReaderVersion").foreach { v =>
      if (v > 2) {
        val feats = (j \ "readerFeatures") match {
          case JArray(xs) => xs.flatMap(str)
          case _ => Nil
        }
        val unsupported = feats.filterNot(SupportedReaderFeatures)
        require(v == 3 && unsupported.isEmpty,
          s"$tableDir requires Delta reader version $v with features " +
            s"${feats.mkString("[", ",", "]")}; unsupported here: " +
            s"${unsupported.mkString(",")} — refusing a silently-wrong import")
      }
    }
    // a _last_checkpoint pointer short-circuits the replay: state
    // bootstraps from the checkpoint parquet, and only JSON commits
    // NEWER than it replay on top — real Delta readers never walk a
    // 100k-commit chain
    val lcPath = new Path(logDir, "_last_checkpoint")
    val (ckptVersion, ckptParts): (Option[Long], Option[Int]) =
      if (!fs.exists(lcPath)) (None, None)
      else {
        val in = fs.open(lcPath)
        val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        val j = parse(txt)
        (long(j \ "version"), long(j \ "parts").map(_.toInt))
      }
    // live file -> deleted row indexes (empty = unmasked)
    val live = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Long]]
    var schemaString: Option[String] = None
    def decodeDv(storageType: String, pathOrInline: String,
        sizeInBytes: Int): Seq[Long] = {
      require(storageType == "i",
        s"$tableDir uses deletion-vector storageType '$storageType'; only " +
          "inline DVs are supported here — refusing a silently-wrong import")
      DeletionVectors.deserialize(
        DeletionVectors.base85Decode(pathOrInline, sizeInBytes))
    }
    ckptVersion.foreach { cv =>
      // single-file (%020d.checkpoint.parquet) or multi-part
      // (%020d.checkpoint.%010d.%010d.parquet, parts recorded in
      // _last_checkpoint) — real writers emit both shapes
      val ckptFiles: Seq[Path] = ckptParts match {
        case Some(p) =>
          (1 to p).map(i => new Path(logDir,
            "%020d.checkpoint.%010d.%010d.parquet".format(cv, i, p)))
        case None =>
          Seq(new Path(logDir, "%020d.checkpoint.parquet".format(cv)))
      }
      ckptFiles.foreach(f =>
        require(fs.exists(f), s"_last_checkpoint names a missing $f"))
      val df = s.read.parquet(ckptFiles.map(_.toString): _*)
      val names = df.schema.fieldNames.toSet
      df.collect().foreach { r =>
        if (names("add") && !r.isNullAt(r.fieldIndex("add"))) {
          val a = r.getStruct(r.fieldIndex("add"))
          val dv =
            if (a.schema.fieldNames.contains("deletionVector") &&
                !a.isNullAt(a.fieldIndex("deletionVector"))) {
              val d = a.getStruct(a.fieldIndex("deletionVector"))
              decodeDv(d.getAs[String]("storageType"),
                d.getAs[String]("pathOrInlineDv"), d.getAs[Int]("sizeInBytes"))
            } else Seq.empty[Long]
          live.put(resolve(a.getAs[String]("path")), dv); ()
        }
        // checkpoint REMOVE rows are vacuum tombstones, NOT live-state
        // negations: Delta's replay keys actions by (path, dvUniqueId),
        // so a DV update leaves BOTH a live add(F, dv) and a retained
        // remove(F, no-dv) tombstone in the checkpoint, in unspecified
        // row order — applying the tombstone here would silently drop
        // the live file (r17 review finding). The live set is exactly
        // the add rows.
        if (names("metaData") && !r.isNullAt(r.fieldIndex("metaData")))
          schemaString = Some(
            r.getStruct(r.fieldIndex("metaData")).getAs[String]("schemaString"))
        if (names("protocol") && !r.isNullAt(r.fieldIndex("protocol"))) {
          val p = r.getStruct(r.fieldIndex("protocol"))
          def intOf(n: String): Int =
            if (p.schema.fieldNames.contains(n) && !p.isNullAt(p.fieldIndex(n)))
              p.getInt(p.fieldIndex(n)) else 1
          val rv = intOf("minReaderVersion")
          val feats: Seq[String] =
            if (p.schema.fieldNames.contains("readerFeatures") &&
                !p.isNullAt(p.fieldIndex("readerFeatures")))
              p.getSeq[String](p.fieldIndex("readerFeatures"))
            else Nil
          val unsupported = feats.filterNot(SupportedReaderFeatures)
          require(rv <= 2 || (rv == 3 && unsupported.isEmpty),
            s"$tableDir checkpoint requires Delta reader version $rv with " +
              s"features ${feats.mkString("[", ",", "]")}; unsupported here: " +
              s"${unsupported.mkString(",")} — refusing a silently-wrong import")
        }
      }
    }
    val logFiles = fs.listStatus(logDir).map(_.getPath).collect {
      case p if VersionRe.pattern.matcher(p.getName).matches &&
        ckptVersion.forall(cv => p.getName.takeWhile(_ != '.').toLong > cv) => p
    }.sortBy(_.getName)
    require(logFiles.nonEmpty || ckptVersion.isDefined,
      s"empty _delta_log under $tableDir")
    // replay the (post-checkpoint) log: adds accumulate, removes
    // tombstone, last metaData wins — Delta's state reconstruction
    val warned = scala.collection.mutable.Set.empty[String]
    logFiles.foreach { lf =>
      val in = fs.open(lf)
      val lines =
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .filter(_.nonEmpty).toList
        finally in.close()
      def dvOf(action: JValue): Seq[Long] =
        (str(action \ "deletionVector" \ "storageType"),
          str(action \ "deletionVector" \ "pathOrInlineDv"),
          long(action \ "deletionVector" \ "sizeInBytes")) match {
          case (Some(st), Some(body), Some(sz)) => decodeDv(st, body, sz.toInt)
          case _ => Seq.empty[Long]
        }
      lines.foreach { line =>
        val j = parse(line)
        str(j \ "add" \ "path").foreach { p =>
          live.put(resolve(p), dvOf(j \ "add")); ()
        }
        // Delta replay keys actions by (path, dvUniqueId) with no
        // defined intra-commit ordering: a DV update is remove(F,
        // old-dv) + add(F, new-dv) in EITHER line order, and the
        // remove must only drop the incarnation it names — matching
        // by path alone would delete the just-re-added file when the
        // remove line lands second (r17 review finding). We compare
        // the decoded position sets as the dv identity.
        str(j \ "remove" \ "path").foreach { p =>
          val rp = resolve(p)
          val removedDv = dvOf(j \ "remove")
          if (live.get(rp).exists(_ == removedDv)) { live.remove(rp); () }
        }
        str(j \ "metaData" \ "schemaString").foreach(x => schemaString = Some(x))
        checkProtocol(j \ "protocol")
        j match { // loud skip for action types this importer ignores
          case JObject(fields) => fields.map(_._1)
            .filterNot(Set("add", "remove", "metaData", "protocol"))
            .filterNot(SkippableActions)
            .foreach { a =>
              if (warned.add(a))
                System.err.println(s"[graft-delta-import] skipping unknown " +
                  s"Delta action '$a' in ${lf.getName} (and any later ones)")
            }
          case _ =>
        }
      }
    }
    val schema = schemaString match {
      case Some(x) => DataType.fromJson(x).asInstanceOf[StructType]
      case None => throw new IllegalArgumentException(
        s"no metaData action in $tableDir/_delta_log")
    }
    val mapping = schema.flatMap { f =>
      if (f.metadata.contains(PhysNameKey)) {
        val phys = f.metadata.getString(PhysNameKey)
        if (phys != f.name) Some(f.name -> phys) else None
      } else None
    }.toMap
    (live.toSeq, schema, mapping)
  }

  private def stripMeta(f: StructField): StructField = f.copy(metadata = Metadata.empty)

  /** IMPORT: materialize a foreign Delta table as SnapshotTable v1 at
    * `destRoot` — zero-copy (the manifest references the foreign
    * parquet files in place; footers are read for row stamping, data
    * is not). Column-mapping physical names become the colmap header;
    * the schemaString's logical types become coltypes, so files
    * narrower than the declared type upcast at read exactly like a
    * native widen. Returns the created version.
    */
  def importLog(s: SparkSession, tableDir: String, destRoot: String): Int = {
    require(SnapshotTable.currentVersion(s, destRoot) == 0,
      s"import destination $destRoot already has commits")
    val (files, schema, mapping) = readLog(s, tableDir)
    val renderedMap = mapping.toSeq.sorted
      .map { case (l, p) => s"$l=$p" }.mkString(",")
    val renderedTypes = schema.map(f => s"${f.name}=${f.dataType.sql}")
      .mkString(",")
    val meta = Map(
      "op" -> "import_delta_log", "import_of" -> tableDir,
      SnapshotTable.ColTypesKey -> renderedTypes) ++
      (if (renderedMap.nonEmpty) Map(SnapshotTable.ColMapKey -> renderedMap)
       else Map.empty)
    SnapshotTable.commitFiles(s, destRoot, files, meta = meta)
  }
}
