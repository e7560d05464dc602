package graft.lake

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.avro.Schema
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.mapred.FsInput
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.json4s.{JObject, JString, JValue}

import graft.Json.{arr, at, jstr, long, parse, present, str}

/** Iceberg-format metadata EXPORT: render a [[SnapshotTable]] version
  * as real Iceberg v2 table metadata — `metadata.json` + Avro
  * manifest-list + Avro manifests, all under the table's `_iceberg/`
  * directory (orphan-protected) — so an external Iceberg-aware engine
  * can mount the table from its metadata location alone. This is the
  * capability the reference stack gets from Lakekeeper serving one
  * Iceberg table to Trino and Spark simultaneously
  * (/root/reference/RUNBOOK.md §7, etc/catalog/iceberg.properties,
  * docker-compose.yaml:152-167); [[graft.endpoint.RestCatalog]] serves
  * these files over the Iceberg REST `LoadTableResult`.
  *
  * The Avro schemas are the Iceberg v2 table-spec manifest-list
  * (`manifest_file`, field-ids 500-519) and manifest (`manifest_entry`
  * / `data_file`, field-ids 0-4 / 100-140) with each Avro field
  * carrying its spec `field-id` property, the way Iceberg's own
  * writers stamp them. Every snapshot gets a FULL data manifest (all
  * files visible at that version; files first appearing there are
  * status ADDED, carried-over files EXISTING) plus, when row-level
  * deletes are pending, a deletes manifest (positional deletes
  * content=1, equality deletes content=2 with their `equality_ids`).
  * All files are immutable and written once — re-export costs an
  * existence check, and a 100k-commit table pays only for versions a
  * client actually loads.
  *
  * Hidden day(source) partitioning exports as a REAL day partition
  * spec (spec-id 1, field-id 1000, per-file date values from the
  * manifest's `_graft_day` annotations) so external engines keep
  * partition pruning; stats-annotated columns export as
  * `lower_bounds`/`upper_bounds` (spec Appendix D single-value
  * binary) so they keep file skipping. Column binding is covered both
  * ways: new lake parquet carries REAL footer field ids
  * ([[SnapshotTable]] stamps `parquet.field.id` on every write path),
  * and the exported metadata.json serves `schema.name-mapping.default`
  * so files written before field-ids landed — or by any id-less
  * writer — still bind renamed columns correctly (the Iceberg spec's
  * own migration story).
  */
object IcebergInterop {

  // ----- Iceberg v2 Avro schemas (table spec, public) ---------------

  /** manifest-list entry: one row per manifest a snapshot references. */
  private val ListSchemaJson =
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string","field-id":500},
      |{"name":"manifest_length","type":"long","field-id":501},
      |{"name":"partition_spec_id","type":"int","field-id":502},
      |{"name":"content","type":"int","field-id":517},
      |{"name":"sequence_number","type":"long","field-id":515},
      |{"name":"min_sequence_number","type":"long","field-id":516},
      |{"name":"added_snapshot_id","type":"long","field-id":503},
      |{"name":"added_files_count","type":"int","field-id":504},
      |{"name":"existing_files_count","type":"int","field-id":505},
      |{"name":"deleted_files_count","type":"int","field-id":506},
      |{"name":"added_rows_count","type":"long","field-id":512},
      |{"name":"existing_rows_count","type":"long","field-id":513},
      |{"name":"deleted_rows_count","type":"long","field-id":514},
      |{"name":"partitions","type":["null",{"type":"array","items":
      |{"type":"record","name":"r508","fields":[
      |{"name":"contains_null","type":"boolean","field-id":509},
      |{"name":"contains_nan","type":["null","boolean"],"default":null,"field-id":518},
      |{"name":"lower_bound","type":["null","bytes"],"default":null,"field-id":510},
      |{"name":"upper_bound","type":["null","bytes"],"default":null,"field-id":511}
      |]},"element-id":508}],"default":null,"field-id":507}
      |]}""".stripMargin

  /** manifest entry: one row per data/delete file. The `partition`
    * struct is parameterized: the empty shape is the unpartitioned
    * spec-0 record; a day-partitioned table's data manifest carries
    * one optional date field (partition field-ids start at 1000, spec
    * §Partition Evolution). `lower_bounds`/`upper_bounds` are
    * Iceberg's field-id-keyed binary bound maps — Avro renders an
    * int-keyed map as an array of key/value records (the k126_v127 /
    * k129_v130 names are the spec's own convention).
    */
  private def entrySchemaJson(partFields: String): String =
    s"""{"type":"record","name":"manifest_entry","fields":[
       |{"name":"status","type":"int","field-id":0},
       |{"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
       |{"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
       |{"name":"file_sequence_number","type":["null","long"],"default":null,"field-id":4},
       |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
       |{"name":"content","type":"int","field-id":134},
       |{"name":"file_path","type":"string","field-id":100},
       |{"name":"file_format","type":"string","field-id":101},
       |{"name":"partition","type":{"type":"record","name":"r102","fields":[$partFields]},"field-id":102},
       |{"name":"record_count","type":"long","field-id":103},
       |{"name":"file_size_in_bytes","type":"long","field-id":104},
       |{"name":"lower_bounds","type":["null",{"type":"array","items":{"type":"record","name":"k126_v127","fields":[{"name":"key","type":"int","field-id":126},{"name":"value","type":"bytes","field-id":127}]},"logicalType":"map"}],"default":null,"field-id":125},
       |{"name":"upper_bounds","type":["null",{"type":"array","items":{"type":"record","name":"k129_v130","fields":[{"name":"key","type":"int","field-id":129},{"name":"value","type":"bytes","field-id":130}]},"logicalType":"map"}],"default":null,"field-id":128},
       |{"name":"equality_ids","type":["null",{"type":"array","items":"int","element-id":136}],"default":null,"field-id":135},
       |{"name":"sort_order_id","type":["null","int"],"default":null,"field-id":140}
       |]},"field-id":2}
       |]}""".stripMargin

  /** The one hidden-partitioning transform the engine writes
    * ([[SnapshotTable.commitPartitionedByDay]]): day(`source`). Its
    * partition struct field, result type date.
    */
  private def dayPartFieldJson(name: String): String =
    s"""{"name":${jstr(name)},"type":["null",{"type":"int","logicalType":"date"}],"default":null,"field-id":1000}"""

  /** The day-spec `fields` array: metadata.json's partition-specs[1]
    * and the data manifest's "partition-spec" metadata key.
    */
  private def daySpecFieldsJson(fieldName: String, sourceId: Int): String =
    s"""[{"name":${jstr(fieldName)},"transform":"day","source-id":$sourceId,"field-id":1000}]"""

  /** Avro record-field names must match [A-Za-z_][A-Za-z0-9_]* — a
    * partition field derived from a column like `event-ts` must be
    * sanitized before it lands in a parsed schema (Iceberg's own
    * writers sanitize partition names the same way).
    */
  private def avroName(n: String): String = {
    val cleaned = n.map(c => if (c.isLetterOrDigit || c == '_') c else '_')
    if (cleaned.isEmpty || cleaned.head.isDigit) s"_$cleaned" else cleaned
  }

  /** The day-partition source resolved against a version's CURRENT
    * schema: (exported field name, source field id). The `partition`
    * header stores the source's commit-time name — its PHYSICAL name,
    * which later renames never change — so the lookup goes through
    * the column mapping, not the logical names. None when the table
    * is unpartitioned (or the source no longer maps): the version
    * then exports the unpartitioned spec 0, a safe degradation.
    */
  private def daySourceOf(s: SparkSession, root: String, v: Int,
      fields: Seq[(Int, String, String)]): Option[(String, Int)] = {
    SnapshotTable.commitMeta(s, root, v).get("partition").flatMap { src =>
      val mapping = SnapshotTable.columnMapping(s, root, v)
      fields.collectFirst {
        case (id, n, _) if mapping.getOrElse(n, n) == src =>
          (avroName(n) + "_day", id)
      }
    }
  }

  private lazy val listSchema = new Schema.Parser().parse(ListSchemaJson)
  private val entrySchemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, Schema]()
  private def entrySchemaOf(dayField: Option[String]): Schema = {
    val json = entrySchemaJson(dayField.fold("")(dayPartFieldJson))
    entrySchemaCache.computeIfAbsent(json, new Schema.Parser().parse(_))
  }
  private def dataFileSchemaOf(entry: Schema): Schema =
    entry.getField("data_file").schema()
  private def boundsItemSchemaOf(df: Schema, field: String): Schema =
    df.getField(field).schema().getTypes.get(1).getElementType
  private def eqIdsSchemaOf(df: Schema): Schema = // non-null union branch
    df.getField("equality_ids").schema().getTypes.get(1)

  // ----- shared JSON/type rendering ----------------------------------

  /** Spark simple type → Iceberg primitive type name. */
  private[graft] def icebergType(sparkType: String): String = {
    val t = sparkType.toLowerCase
    if (t.startsWith("decimal")) t
    else t match {
      case "bigint" => "long"
      case "smallint" | "tinyint" => "int"
      case "timestamp" => "timestamptz"
      case "timestamp_ntz" => "timestamp"
      case other => other // int, string, double, float, boolean, date, binary
    }
  }

  /** Iceberg single-value binary serialization of one per-file column
    * bound, read from graft's manifest stats annotations
    * ([[SnapshotTable]] `_min_/_max_` as doubles in catalyst-internal
    * units, `_smin_/_smax_` as Base64 UTF-8 bytes — spec Appendix D:
    * little-endian numerics, raw UTF-8 for strings). Integral values
    * a double cannot hold exactly are widened OUTWARD (floor past the
    * next-down for lower, ceil past the next-up for upper): a bound
    * may be loose, never wrong — a planner skipping on a too-tight
    * bound would drop live rows. Types graft keeps only in its own
    * annotations (decimal) yield no exported bound.
    */
  private def boundBuf(
      icebergT: String, annots: Map[String, String], phys: String,
      lower: Boolean): Option[java.nio.ByteBuffer] = {
    import java.nio.{ByteBuffer, ByteOrder}
    def le(n: Int) = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
    if (icebergT == "string")
      annots.get(if (lower) s"_smin_$phys" else s"_smax_$phys")
        .map(b => ByteBuffer.wrap(java.util.Base64.getDecoder.decode(b)))
    else annots.get(if (lower) s"_min_$phys" else s"_max_$phys")
      .map(_.toDouble).flatMap { v =>
        def longVal: Long =
          if (v == math.rint(v) && math.abs(v) < 9007199254740992.0) v.toLong
          else if (lower) math.floor(Math.nextDown(v)).toLong
          else math.ceil(Math.nextUp(v)).toLong
        icebergT match {
          case "int" | "date" =>
            Some(le(4).putInt(longVal.toInt).flip().asInstanceOf[ByteBuffer])
          case "long" | "timestamp" | "timestamptz" =>
            Some(le(8).putLong(longVal).flip().asInstanceOf[ByteBuffer])
          case "float" =>
            Some(le(4).putFloat(v.toFloat).flip().asInstanceOf[ByteBuffer])
          case "double" =>
            Some(le(8).putDouble(v).flip().asInstanceOf[ByteBuffer])
          case _ => None
        }
      }
  }

  /** A stable table uuid derived from the location: the registry has
    * no separate identity store, and clients only require uniqueness
    * + stability across loads.
    */
  private[graft] def tableUuid(loc: String): String =
    java.util.UUID.nameUUIDFromBytes(loc.getBytes(UTF_8)).toString

  /** The logical schema of a version with its persistent field ids:
    * (id, name, iceberg type). Ids come from [[SnapshotTable]]'s
    * field-id header when present, ordinal otherwise — stable across
    * renames either way, since renames keep their field position.
    *
    * MEMOIZED per (root, version, commit stamp): a version's schema is
    * immutable, but [[writeMetadata]] walks EVERY live version for its
    * per-snapshot schema-ids — uncached, each new commit would re-run
    * O(versions) parquet schema inferences, quadratic over a table's
    * life. The commit stamp in the key (one header read) keeps a
    * dropped-and-recreated root from serving the old table's schema.
    */
  private val fieldsCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Int, Long), Seq[(Int, String, String)]]()

  private def fieldsOf(s: SparkSession, root: String, v: Int): Seq[(Int, String, String)] = {
    val key = (root, v, SnapshotTable.committedAt(s, root, v))
    val hit = fieldsCache.get(key)
    if (hit != null) hit
    else {
      val ids = SnapshotTable.fieldIds(s, root, v)
      val computed = SnapshotTable.read(s, root, v).schema.zipWithIndex.map { case (f, i) =>
        (ids.getOrElse(f.name, i + 1), f.name, icebergType(f.dataType.simpleString))
      }.toSeq
      if (fieldsCache.size > 65536) fieldsCache.clear() // crude bound, never wrong
      fieldsCache.put(key, computed)
      computed
    }
  }

  private def fieldsJson(fields: Seq[(Int, String, String)]): String =
    fields.map { case (id, n, t) =>
      s"""{"id":$id,"name":${jstr(n)},"required":false,"type":${jstr(t)}}"""
    }.mkString(",")

  /** Iceberg schema JSON (the manifest files' "schema" metadata key
    * and one metadata.json schemas[] entry).
    */
  private def schemaJson(fields: Seq[(Int, String, String)], schemaId: Int = 0): String =
    s"""{"type":"struct","schema-id":$schemaId,"fields":[${fieldsJson(fields)}]}"""

  /** The `schema.name-mapping.default` table property (Iceberg spec
    * "Column Projection" / name-mapping): for every field of the
    * current schema, its field-id with every name that may appear in
    * a data file — the PHYSICAL (in-file) name first, then the current
    * logical name. Graft's lake parquet written before field-ids
    * landed carries physical names and no footer ids; without this
    * property an external engine binds columns strictly by current
    * name and projects NULL for every renamed column. With it, the
    * file column `value` resolves to field-id 4 even after the table
    * renamed it to `amount` — exactly Iceberg's own migration story
    * for id-less files.
    */
  private[graft] def nameMappingJson(
      fields: Seq[(Int, String, String)], mapping: Map[String, String],
      dropped: Map[String, Int] = Map.empty): String =
    (fields.map { case (id, n, _) =>
      val names = Seq(mapping.getOrElse(n, n), n).distinct
      s"""{"field-id":$id,"names":[${names.map(jstr).mkString(",")}]}"""
    } ++
      // DROPPED fields keep their mapping entry (tombstoned id +
      // physical name): an engine time-traveling to a pre-drop
      // snapshot resolves them through that snapshot's schema-id and
      // still needs the file binding
      dropped.toSeq.sortBy(_._2).map { case (phys, id) =>
        s"""{"field-id":$id,"names":[${jstr(phys)}]}"""
      }).mkString("[", ",", "]")

  // ----- Avro writing -------------------------------------------------

  private def conf(s: SparkSession): Configuration =
    s.sparkContext.hadoopConfiguration

  /** Write an Avro object-container file ATOMICALLY: bytes land at a
    * writer-unique temp name and are published with the store's
    * [[CommitArbiter]] (rename-as-CAS or lock-file CAS) — a concurrent
    * loadTable polling the metadata location can never observe a
    * half-written manifest behind the existence check. Losing the
    * publish race is fine: exports are deterministic per version, so
    * the winner's file serves equally; the loser's temp is reclaimed.
    */
  private def writeAvro(
      c: Configuration, path: Path, schema: Schema,
      meta: Map[String, String], records: Seq[GenericRecord]): Long = {
    val writer = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
    meta.toSeq.sortBy(_._1).foreach { case (k, v) => writer.setMeta(k, v) }
    val fs = path.getFileSystem(c)
    fs.mkdirs(path.getParent)
    val tmp = new Path(path.getParent, s".${path.getName}." +
      java.util.UUID.randomUUID.toString.take(8) + ".tmp")
    val out = fs.create(tmp, true)
    try {
      writer.create(schema, out)
      records.foreach(writer.append)
    } finally writer.close() // closes the underlying stream
    if (!CommitArbiter.forConf(c).publish(fs, tmp, path)) fs.delete(tmp, false)
    fs.getFileStatus(path).getLen
  }

  /** Read any Avro object-container file into memory — the
    * INDEPENDENT verification path (plain avro library, none of
    * graft's manifest code). Manifest lists and manifests are
    * metadata-sized, so driver-side reads are fine at any table size.
    */
  private[graft] def readAvro(c: Configuration, path: String): Seq[GenericRecord] = {
    val in = new FsInput(new Path(path), c)
    val reader = DataFileReader.openReader(in, new GenericDatumReader[GenericRecord]())
    try {
      val b = Seq.newBuilder[GenericRecord]
      while (reader.hasNext) b += reader.next()
      b.result()
    } finally reader.close()
  }

  /** (manifest_path, content) rows of a manifest list — 0 = data
    * manifests, 1 = delete manifests.
    */
  private[graft] def readManifestList(c: Configuration, path: String): Seq[(String, Int)] =
    readAvro(c, path).map(r =>
      (r.get("manifest_path").toString, r.get("content").asInstanceOf[Int]))

  /** (file_path, file content 0/1/2, entry status 0/1/2, record_count)
    * rows of a manifest file.
    */
  private[graft] def readManifest(c: Configuration, path: String): Seq[(String, Int, Int, Long)] =
    readAvro(c, path).map { r =>
      val df = r.get("data_file").asInstanceOf[GenericRecord]
      (df.get("file_path").toString, df.get("content").asInstanceOf[Int],
        r.get("status").asInstanceOf[Int], df.get("record_count").asInstanceOf[Long])
    }

  /** (file_path, file content 0/1/2, entry status 0/1/2,
    * sequence_number) rows of a manifest file — one decode serves
    * both the liveness filter and the v2 delete-application scoping
    * (pos-delete covers data files with data_seq <= delete_seq).
    */
  private[graft] def readManifestSeqs(c: Configuration, path: String): Seq[(String, Int, Int, Long)] =
    readAvro(c, path).map { r =>
      val df = r.get("data_file").asInstanceOf[GenericRecord]
      (df.get("file_path").toString, df.get("content").asInstanceOf[Int],
        r.get("status").asInstanceOf[Int],
        r.get("sequence_number").asInstanceOf[Long])
    }

  /** Full manifest-entry decode for the IMPORT path: (file_path,
    * content 0/1/2, status 0/1/2, record_count, sequence_number,
    * equality field-ids, day partition value as epoch day). Still the
    * plain avro library — the import must consume what any Iceberg
    * writer produced, not graft's own renderer quirks.
    */
  private[graft] def readEntriesFull(c: Configuration, path: String,
      inheritSeq: Long = 0L)
      : Seq[(String, Int, Int, Long, Long, Seq[Int], Option[Int], Long)] = {
    import scala.jdk.CollectionConverters._
    readAvro(c, path).map { r =>
      val df = r.get("data_file").asInstanceOf[GenericRecord]
      val eqIds: Seq[Int] = df.get("equality_ids") match {
        case l: java.util.List[_] => l.asScala.map(_.toString.toInt).toSeq
        case _ => Seq.empty
      }
      val day: Option[Int] = df.get("partition") match {
        case pr: GenericRecord => pr.getSchema.getFields.asScala.collectFirst {
          case f if f.name.endsWith("_day") && pr.get(f.name) != null =>
            pr.get(f.name).asInstanceOf[Int]
        }
        case _ => None
      }
      // Iceberg v2 sequence inheritance: writers may leave an ADDED
      // entry's sequence_number null, meaning "the manifest-list row's
      // sequence" — importing such entries as 0 would order every data
      // file BEFORE every equality delete and silently corrupt the
      // imported content (deletes suppressing re-inserts, or applying
      // to nothing)
      val seq = r.get("sequence_number") match {
        case l: java.lang.Long => l.longValue
        case _ => inheritSeq
      }
      // file_size_in_bytes feeds the imported table's statistics
      // (_bytes annotation) so planning never falls back to per-file
      // FileStatus probes over a zero-copy mount; 0 = writer omitted
      // it (GenericData.Record.get THROWS on a field the writer's
      // schema never declared, so presence-check first)
      val bytes =
        if (df.getSchema.getField("file_size_in_bytes") == null) 0L
        else df.get("file_size_in_bytes") match {
          case l: java.lang.Long => l.longValue
          case i: java.lang.Integer => i.longValue
          case _ => 0L
        }
      (df.get("file_path").toString, df.get("content").asInstanceOf[Int],
        r.get("status").asInstanceOf[Int],
        df.get("record_count").asInstanceOf[Long], seq, eqIds, day, bytes)
    }
  }

  /** Iceberg primitive type name → Spark DDL (inverse of
    * [[icebergType]]).
    */
  private def ddlType(icebergT: String): String = icebergT match {
    case "long" => "bigint"
    case "timestamptz" => "timestamp"
    case "timestamp" => "timestamp_ntz"
    case other => other // int, string, double, float, boolean, date, binary, decimal(p,s)
  }

  // ----- import -------------------------------------------------------

  /** IMPORT an Iceberg v2 table — metadata.json → Avro manifest-list →
    * Avro manifests — as a graft [[SnapshotTable]] at `destRoot`,
    * ZERO-COPY: the foreign data, positional-delete, and
    * equality-delete parquet files are REFERENCED, never read or
    * rewritten (Iceberg `add_files`; the inverse of [[writeMetadata]],
    * and the migration path the reference gets from mounting existing
    * Iceberg tables through its catalog —
    * /root/reference/etc/catalog/iceberg.properties). Imported
    * schema semantics survive: the current schema's field-ids persist,
    * `schema.name-mapping.default` becomes graft's column mapping
    * (logical reads over physically-named files — renames arrive
    * intact), schema types become widened-read types (a
    * physically-int file under a long schema reads as long), day
    * partition values ride per-file so partition pruning keeps
    * working, and delete files keep their v2 application semantics
    * (positional by path+pos; equality scoped by sequence number).
    * Returns the new table version (1 for a fresh destination).
    */
  def importChain(s: SparkSession, metadataPath: String, destRoot: String): Int =
    importChain(s, metadataPath, destRoot, -1L)

  /** [[importChain]] at a CHOSEN snapshot: `snapshotId >= 0` mounts
    * that listed snapshot (its manifest-list, read under its OWN
    * schema-id — a pre-evolution snapshot must import with THAT
    * snapshot's shape) instead of `current-snapshot-id`. This is how a
    * wire-mounted reader serves `FOR VERSION AS OF <tag>`: resolve the
    * ref to a snapshot-id in the served metadata JSON, then mount that
    * immutable snapshot zero-copy ([[graft.sources.RestBackedCatalog]]).
    */
  def importChain(s: SparkSession, metadataPath: String, destRoot: String,
      snapshotId: Long): Int = {
    val c = conf(s)
    val mp = new Path(metadataPath)
    val mfs = mp.getFileSystem(c)
    val in = mfs.open(mp)
    val metaJson = try new String(in.readAllBytes(), UTF_8) finally in.close()
    // REAL JSON parsing, not regexes: foreign writers emit key orders,
    // `doc` attributes, and nested type objects this import must either
    // consume or REFUSE loudly — a regex that silently skips an
    // unmatched field would import a narrowed schema and read the
    // table with missing columns.
    val metaDoc: JValue = parse(metaJson)
    def req[A](m: Option[A], what: String): A =
      m.getOrElse(throw new IllegalArgumentException(s"metadata.json has no $what"))
    val cur =
      if (snapshotId >= 0) snapshotId
      else req(long(metaDoc \ "current-snapshot-id"), "current-snapshot-id")
    val snapObj = req(arr(metaDoc \ "snapshots")
      .find(o => long(o \ "snapshot-id").contains(cur)),
      s"snapshot $cur in the snapshots list")
    val listPath = req(str(snapObj \ "manifest-list"),
      s"manifest-list for snapshot $cur")
    // the snapshot's own schema-id when stamped (per-snapshot schema
    // binding), else the file's current-schema-id (writers that stamp
    // none share one schema for every snapshot)
    val schemaId = long(snapObj \ "schema-id").getOrElse(
      req(long(metaDoc \ "current-schema-id"), "current-schema-id"))
    val schemaObj = req(arr(metaDoc \ "schemas")
      .find(o => long(o \ "schema-id").contains(schemaId)), s"schema $schemaId")
    val schemaFields: Seq[(Int, String, String)] = arr(schemaObj \ "fields").map { f =>
      val id = req(long(f \ "id"), s"id of a schema-$schemaId field").toInt
      val name = req(str(f \ "name"), s"name of schema-$schemaId field id $id")
      val tpe = (f \ "type") match {
        case JString(t) => t
        case _: JObject => throw new IllegalArgumentException(
          s"schema $schemaId field '$name' (id $id) has a nested type " +
            "(struct/list/map) — not importable as a graft column; flatten the " +
            "source table or drop the column before import")
        case other => throw new IllegalArgumentException(
          s"schema $schemaId field '$name' (id $id) has an unparsable type: $other")
      }
      (id, name, tpe)
    }
    require(schemaFields.nonEmpty, s"schema $schemaId has no fields")
    // name mapping (optional property): field-id -> candidate file
    // column names, physical first. Absent -> files carry the logical
    // names (Iceberg tables that never renamed). The property VALUE is
    // itself a JSON document — parse it the same way.
    val nmNames: Map[Int, Seq[String]] =
      str(metaDoc \ "properties" \ "schema.name-mapping.default").map { nm =>
        arr(parse(nm)).flatMap { e =>
          long(e \ "field-id").map(fid =>
            fid.toInt -> arr(e \ "names").flatMap(str(_)))
        }.toMap
      }.getOrElse(Map.empty)
    def physicalOf(id: Int, logical: String): String =
      nmNames.get(id).flatMap(_.headOption).getOrElse(logical)
    // schema headers: column mapping for renamed fields, persistent
    // field ids, widened-read types (the file may be physically
    // narrower than the schema type — Iceberg widen semantics)
    val colmap = schemaFields.collect {
      case (id, logical, _) if physicalOf(id, logical) != logical =>
        s"$logical=${physicalOf(id, logical)}"
    }
    val fieldids = schemaFields.map { case (id, logical, _) => s"$logical=$id" }
    val coltypes = schemaFields.map { case (_, logical, t) => s"$logical=${ddlType(t)}" }
    // day partition spec -> graft's partition header (physical source):
    // resolved from the DEFAULT spec's fields, so a day transform in a
    // historic (non-default) spec never mis-labels the current layout
    val defaultSpecId = long(metaDoc \ "default-spec-id").getOrElse(0L)
    val daySource: Option[String] = arr(metaDoc \ "partition-specs")
      .find(o => long(o \ "spec-id").contains(defaultSpecId))
      .flatMap(spec => arr(spec \ "fields").collectFirst {
        case f if str(f \ "transform").contains("day") => long(f \ "source-id")
      }.flatten)
      .flatMap { srcId =>
        schemaFields.collectFirst { case (id, logical, _) if id == srcId.toInt =>
          physicalOf(id, logical)
        }
      }
    val idOf: Map[Int, String] = schemaFields.map { case (id, l, _) =>
      id -> physicalOf(id, l)
    }.toMap
    // manifest-list rows carry each manifest's own sequence number —
    // the inherited default for entries whose seq is null (spec
    // "Sequence Number Inheritance")
    val listRows = readAvro(c, listPath).map { r =>
      (r.get("manifest_path").toString,
        r.get("sequence_number") match {
          case l: java.lang.Long => l.longValue
          case _ => 0L
        })
    }
    val entries = listRows
      .flatMap { case (manifest, listSeq) => readEntriesFull(c, manifest, listSeq) }
      .filter(_._3 != 2) // status DELETED
    val data = entries.filter(_._2 == 0).map { case (p, _, _, rows, seq, _, day, bytes) =>
      (p, rows, bytes, seq,
        day.map(d => java.time.LocalDate.ofEpochDay(d.toLong).toString))
    }
    val posDeletes = entries.filter(_._2 == 1).map(_._1)
    val eqDeletes = entries.filter(_._2 == 2).map { case (p, _, _, _, seq, ids, _, _) =>
      // strict resolution: silently narrowing the key set would make
      // the imported delete suppress MORE rows than the source table's
      require(ids.nonEmpty, s"equality delete $p carries no equality ids")
      val cols = ids.map(id => idOf.getOrElse(id, throw new IllegalArgumentException(
        s"equality delete $p keys on field id $id, which the current schema does not define")))
      (p, cols, seq)
    }
    val meta = Map("op" -> "import_iceberg",
      SnapshotTable.FieldIdsKey -> fieldids.mkString(","),
      SnapshotTable.ColTypesKey -> coltypes.mkString(",")) ++
      (if (colmap.nonEmpty) Map(SnapshotTable.ColMapKey -> colmap.mkString(","))
       else Map.empty) ++
      daySource.fold(Map.empty[String, String])(src =>
        Map(SnapshotTable.PartitionKey -> src))
    SnapshotTable.commitImported(s, destRoot, data, posDeletes, eqDeletes, meta)
  }

  // ----- export -------------------------------------------------------

  private def listPath(root: String, v: Int) =
    new Path(s"$root/_iceberg/snap-$v.avro")

  /** Export ONE version's Avro manifests + manifest list (immutable;
    * returns the existing list when already materialized). Returns
    * None when the version's graft manifest is expired.
    */
  private[graft] def exportVersion(s: SparkSession, root: String, v: Int): Option[String] = {
    val c = conf(s)
    val lp = listPath(root, v)
    val fs = lp.getFileSystem(c)
    if (fs.exists(lp)) return Some(lp.toString)
    val entries =
      try SnapshotTable.lineEntries(s, root, v)
      catch { case _: Exception => return None } // expired version
    val prevFiles: Set[String] =
      if (v <= 1) Set.empty
      else scala.util.Try(SnapshotTable.lineEntries(s, root, v - 1))
        .map(_.map(e => SnapshotTable.canon(s, e.path)).toSet)
        .getOrElse(Set.empty)
    val fields = fieldsOf(s, root, v)
    val mapping = SnapshotTable.columnMapping(s, root, v)
    val eqIdOf: Map[String, Int] = // PHYSICAL column name -> field id
      fields.map { case (id, n, _) => mapping.getOrElse(n, n) -> id }.toMap
    // per-file manifest annotations (stats bounds, partition values;
    // PHYSICAL column keys) — data files only, metadata-sized
    val annotsOf: Map[String, Map[String, String]] =
      SnapshotTable.dataFilesWithPartitions(s, root, v)
        .map { case (p, m) => SnapshotTable.canon(s, p) -> m }.toMap
    // hidden day(source) partitioning exports as a REAL day spec:
    // spec-id 1 with one date field (ids from 1000), per-file values
    // from the _graft_day annotation — external engines get partition
    // pruning back. Delete manifests stay spec 0: graft's row-level
    // deletes are not partition-scoped.
    val daySource = daySourceOf(s, root, v, fields)
    val dayFieldName = daySource.map(_._1)
    val dataEntrySchema = entrySchemaOf(dayFieldName)
    val delEntrySchema = entrySchemaOf(None)
    val dataSpecId = if (daySource.isDefined) 1 else 0
    val dataSpecFields = daySource.fold("[]") { case (fn, srcId) =>
      daySpecFieldsJson(fn, srcId)
    }
    def manifestMeta(specFields: String, specId: Int) = Map(
      "schema" -> schemaJson(fields), "schema-id" -> "0",
      "partition-spec" -> specFields, "partition-spec-id" -> specId.toString,
      "format-version" -> "2")
    // Positional-delete lines carry no sequence annotation (graft
    // applies them by file PATH, unconditionally), so e.seq reads 0 —
    // but Iceberg v2 applies a position delete only to data files
    // with data_seq <= delete_seq, and data files carry seq >= 1: a 0
    // exported verbatim would make external engines apply the delete
    // to NOTHING and resurrect every MoR-deleted row. Stamp them at /
    // above every visible sequence instead — the (path, pos) content
    // still scopes the effect to exactly the referenced files.
    val posDeleteSeq: Long =
      math.max(v.toLong, entries.map(_.seq).maxOption.getOrElse(0L))
    def entryRec(e: SnapshotTable.LineEntry): GenericRecord = {
      val isData = e.kind == 0
      val schema = if (isData) dataEntrySchema else delEntrySchema
      val dfSchema = dataFileSchemaOf(schema)
      val canonPath = SnapshotTable.canon(s, e.path)
      val added = !prevFiles.contains(canonPath)
      val r = new GenericData.Record(schema)
      r.put("status", if (added) 1 else 0) // 1 ADDED, 0 EXISTING
      r.put("snapshot_id", if (added) java.lang.Long.valueOf(v.toLong) else null)
      val seq = if (e.kind == 1) posDeleteSeq else e.seq
      r.put("sequence_number", java.lang.Long.valueOf(seq))
      r.put("file_sequence_number", java.lang.Long.valueOf(seq))
      val df = new GenericData.Record(dfSchema)
      df.put("content", e.kind)
      df.put("file_path", canonPath)
      df.put("file_format", "PARQUET")
      val annots =
        if (isData) annotsOf.getOrElse(canonPath, Map.empty[String, String])
        else Map.empty[String, String]
      val part = new GenericData.Record(dfSchema.getField("partition").schema())
      if (isData) dayFieldName.foreach { fn =>
        // a file committed through the unpartitioned path on a later-
        // partitioned table has no day annotation, and a null-day file
        // is annotated with Spark's __HIVE_DEFAULT_PARTITION__
        // sentinel: both export a NULL partition value (Iceberg
        // day(null) is null), never a parse crash
        part.put(fn, annots.get("_graft_day").flatMap(d =>
          scala.util.Try(
            Integer.valueOf(java.time.LocalDate.parse(d).toEpochDay.toInt)
          ).toOption).orNull)
      }
      df.put("partition", part)
      df.put("record_count", java.lang.Long.valueOf(e.rows))
      df.put("file_size_in_bytes", java.lang.Long.valueOf(
        new Path(e.path).getFileSystem(c).getFileStatus(new Path(e.path)).getLen))
      def boundsArr(field: String, lower: Boolean): AnyRef =
        if (!isData) null
        else {
          val item = boundsItemSchemaOf(dfSchema, field)
          val kvs: Seq[GenericRecord] = fields.flatMap { case (id, n, t) =>
            boundBuf(t, annots, mapping.getOrElse(n, n), lower).map { buf =>
              val kv = new GenericData.Record(item)
              kv.put("key", Integer.valueOf(id))
              kv.put("value", buf)
              kv: GenericRecord
            }
          }
          if (kvs.isEmpty) null
          else new GenericData.Array[GenericRecord](
            dfSchema.getField(field).schema().getTypes.get(1),
            java.util.Arrays.asList(kvs: _*))
        }
      df.put("lower_bounds", boundsArr("lower_bounds", lower = true))
      df.put("upper_bounds", boundsArr("upper_bounds", lower = false))
      df.put("equality_ids",
        if (e.kind != 2) null
        else {
          val ids = new GenericData.Array[Integer](eqIdsSchemaOf(dfSchema),
            java.util.Arrays.asList(e.eqCols.flatMap(eqIdOf.get)
              .map(Integer.valueOf): _*))
          ids
        })
      df.put("sort_order_id", null)
      r.put("data_file", df)
      r
    }
    def listRec(path: Path, length: Long, content: Int, specId: Int,
        recs: Seq[GenericRecord]): GenericRecord = {
      val (added, existing) = recs.partition(_.get("status") == 1)
      def rows(rs: Seq[GenericRecord]) = rs.map(
        _.get("data_file").asInstanceOf[GenericRecord]
          .get("record_count").asInstanceOf[Long]).sum
      val seqs = recs.map(_.get("sequence_number").asInstanceOf[Long])
      val m = new GenericData.Record(listSchema)
      m.put("manifest_path", path.toString)
      m.put("manifest_length", java.lang.Long.valueOf(length))
      m.put("partition_spec_id", specId)
      m.put("content", content)
      m.put("sequence_number", java.lang.Long.valueOf(v.toLong))
      m.put("min_sequence_number",
        java.lang.Long.valueOf(seqs.minOption.getOrElse(v.toLong)))
      m.put("added_snapshot_id", java.lang.Long.valueOf(v.toLong))
      m.put("added_files_count", added.size)
      m.put("existing_files_count", existing.size)
      m.put("deleted_files_count", 0)
      m.put("added_rows_count", java.lang.Long.valueOf(rows(added)))
      m.put("existing_rows_count", java.lang.Long.valueOf(rows(existing)))
      m.put("deleted_rows_count", java.lang.Long.valueOf(0L))
      m.put("partitions", null)
      m
    }
    val (delEntries, dataEntries) = entries.partition(_.kind > 0)
    val dataRecs = dataEntries.map(entryRec)
    val dataManifest = new Path(s"$root/_iceberg/v$v-m0.avro")
    val dataLen = writeAvro(c, dataManifest, dataEntrySchema,
      manifestMeta(dataSpecFields, dataSpecId) + ("content" -> "data"), dataRecs)
    val listRecs = Seq.newBuilder[GenericRecord]
    listRecs += listRec(dataManifest, dataLen, 0, dataSpecId, dataRecs)
    if (delEntries.nonEmpty) {
      val delRecs = delEntries.map(entryRec)
      val delManifest = new Path(s"$root/_iceberg/v$v-d0.avro")
      val delLen = writeAvro(c, delManifest, delEntrySchema,
        manifestMeta("[]", 0) + ("content" -> "deletes"), delRecs)
      listRecs += listRec(delManifest, delLen, 1, 0, delRecs)
    }
    writeAvro(c, lp, listSchema,
      Map("format-version" -> "2", "snapshot-id" -> v.toString,
        "parent-snapshot-id" -> (if (v > 1) (v - 1).toString else "null"),
        "sequence-number" -> v.toString),
      listRecs.result())
    Some(lp.toString)
  }

  /** Named refs as the export serves them, sorted by name: `main` (the
    * exported head), every tag, and every branch whose head is a MAIN
    * version (branch-LOCAL staged commits are invisible to main
    * readers — write-audit-publish staging must not leak through the
    * export). Refs pointing past `v` or at versions missing from
    * `live` (expired, or simply not in the rendered snapshot list) are
    * excluded — an Iceberg reader must never resolve a ref to a
    * snapshot-id the same file doesn't list.
    */
  private def refsSeq(s: SparkSession, loc: String, v: Int,
      live: Int => Boolean): Seq[(String, Int, String)] = {
    // "main" is reserved for the table head (SnapshotTable refuses
    // creating a tag/branch by that name); the filter here is defense
    // for tables whose refs predate the refusal — a duplicate "main"
    // key would make a last-key-wins JSON parser serve a stale head
    val tagRefs = SnapshotTable.tags(s, loc).toSeq.collect {
      case (n, tv) if n != "main" && tv <= v && live(tv) => (n, tv, "tag")
    }
    val branchRefs = SnapshotTable.branches(s, loc).toSeq.collect {
      case (n, stem) if n != "main" && stem.matches("v\\d+") &&
          stem.drop(1).toInt <= v && live(stem.drop(1).toInt) =>
        (n, stem.drop(1).toInt, "branch")
    }
    ("main", v, "branch") +: (tagRefs ++ branchRefs).sortBy(_._1)
  }

  private def renderRefs(refs: Seq[(String, Int, String)]): String =
    refs.map { case (n, sv, t) =>
      s"""${jstr(n)}:{"snapshot-id":$sv,"type":${jstr(t)}}"""
    }.mkString("{", ",", "}")

  /** Render Iceberg v2 table metadata for version `v` and materialize
    * it (with its Avro manifest chain) as an immutable per-version
    * `_iceberg/v{v}.metadata.json`. Returns (metadata-location,
    * metadata JSON). Versions whose graft manifests were expired are
    * skipped — Iceberg metadata likewise lists only live snapshots.
    * The per-version file is IMMUTABLE: once materialized it's served
    * back as-is, so a 100k-commit streaming table never pays an
    * O(versions) walk twice. The one mutable exception is `refs`:
    * tags/branches created AFTER a version's first export must still
    * surface (real Iceberg rewrites metadata.json on every ref
    * change), so a cached file whose refs DIFFER from the engine's
    * current refs is regenerated — a metadata-priced comparison.
    */
  def writeMetadata(s: SparkSession, loc: String, v: Int): (String, String) = {
    val metaPath = new Path(s"$loc/_iceberg/v$v.metadata.json")
    val mfs = metaPath.getFileSystem(conf(s))
    if (mfs.exists(metaPath)) {
      val in = mfs.open(metaPath)
      val cached = try new String(in.readAllBytes(), UTF_8) finally in.close()
      // a cached file from an OLDER renderer is regenerated once:
      // pre-Avro files point "manifest-list" at graft's text manifest
      // (a chain no external engine can read); pre-name-mapping files
      // lack the property that makes id-less parquet projectable.
      // Immutability resumes for everything this renderer wrote.
      val stale = scala.util.Try {
        val m = parse(cached)
        val snaps = arr(at(m, "snapshots"))
        snaps.exists(o => str(at(o, "manifest-list")).exists(!_.endsWith(".avro"))) ||
          !present(at(m, "properties", "schema.name-mapping.default")) ||
          // pre-refs files can't serve tag/timestamp travel to an
          // external engine — regenerate once, like the upgrades above
          !present(at(m, "snapshot-log")) || {
            // refs drifted: a tag/branch created (or moved) after this
            // file was rendered must surface to external readers
            val listed = snaps.flatMap(o => long(at(o, "snapshot-id"))).map(_.toInt).toSet
            val cachedRefs: Set[(String, Int, String)] = at(m, "refs") match {
              case JObject(fs) => fs.flatMap { case (n, o) =>
                for {
                  sv <- long(at(o, "snapshot-id"))
                  t <- str(at(o, "type"))
                } yield (n, sv.toInt, t)
              }.toSet
              case _ => Set.empty
            }
            cachedRefs != refsSeq(s, loc, v, listed.contains).toSet
          }
      }.getOrElse(true)
      if (!stale) return (metaPath.toString, cached)
      // stale: fall through and regenerate — the old file is replaced
      // only at publish time (below, under the destination lock), so a
      // concurrent loader polling the location never finds it absent
    }
    val fields = fieldsOf(s, loc, v)
    // one pass over the live versions: export each Avro chain and
    // remember its schema, so snapshots can carry per-snapshot
    // schema-ids (an external engine time-traveling to a pre-evolution
    // snapshot must see THAT snapshot's shape, and DROP COLUMN keeps
    // old snapshots readable only through their schema-id binding)
    val exported: Seq[(Int, String)] =
      (1 to v).flatMap(sv => exportVersion(s, loc, sv).map(sv -> _))
    val fieldsBy: Map[Int, Seq[(Int, String, String)]] =
      exported.map { case (sv, _) =>
        sv -> (if (sv == v) fields else fieldsOf(s, loc, sv))
      }.toMap
    // schema epochs in first-appearance order; ids are per-metadata-
    // file (each metadata.json is self-consistent, which is all an
    // Iceberg reader of THIS file requires)
    val epochIds = scala.collection.mutable.LinkedHashMap[Seq[(Int, String, String)], Int]()
    exported.foreach { case (sv, _) => epochIds.getOrElseUpdate(fieldsBy(sv), epochIds.size) }
    val currentSchemaId = epochIds.getOrElseUpdate(fields, epochIds.size)
    val schemasJson = epochIds.toSeq.sortBy(_._2)
      .map { case (f, id) => schemaJson(f, id) }.mkString(",")
    val snapshots = exported.flatMap { case (sv, list) =>
      scala.util.Try {
        val op = SnapshotTable.commitMeta(s, loc, sv).getOrElse("op", "append")
        s"""{"snapshot-id":$sv,"sequence-number":$sv,"timestamp-ms":${
          SnapshotTable.committedAt(s, loc, sv)},"schema-id":${
          epochIds(fieldsBy(sv))},"manifest-list":${
          jstr(list)},"summary":{"operation":${jstr(op)}}}"""
      }.toOption
    }
    // a day-partitioned table serves its real spec (spec-id 1, the
    // data manifests' declared spec); spec 0 stays for delete
    // manifests and pre-partitioning history. Resolution shares
    // daySourceOf with the manifest render, so the spec's source-id
    // survives a source-column rename (the header keeps the physical
    // name; the id rides the mapping). The spec must stay DECLARED as
    // long as any listed snapshot's immutable manifests reference
    // spec-id 1, even when the day source no longer maps at HEAD (the
    // degradation path) — an engine resolving the spec by id on an
    // older snapshot must never hit an undefined spec — so the head's
    // spec falls back to the latest listed version that had one;
    // default-spec-id still reflects the HEAD's own state.
    val headDay = daySourceOf(s, loc, v, fields)
    val anyDay = headDay.orElse(exported.reverseIterator.flatMap { case (sv, _) =>
      daySourceOf(s, loc, sv, fieldsBy(sv))
    }.nextOption())
    val specsJson = anyDay match {
      case Some((fn, srcId)) =>
        s"""[{"spec-id":0,"fields":[]},{"spec-id":1,"fields":${
          daySpecFieldsJson(fn, srcId)}}]"""
      case None => """[{"spec-id":0,"fields":[]}]"""
    }
    val defaultSpecId = if (headDay.isDefined) 1 else 0
    val lastPartitionId = if (anyDay.isDefined) 1000 else 999
    // the name-mapping property makes the exported parquet
    // self-describing to engines that bind columns by name: graft's
    // lake files carry PHYSICAL column names, so without the mapping a
    // renamed column reads as NULL everywhere outside graft
    val props = SnapshotTable.properties(s, loc, v) +
      ("schema.name-mapping.default" ->
        nameMappingJson(fields, SnapshotTable.columnMapping(s, loc, v),
          SnapshotTable.droppedColumns(s, loc, v)))
    // refs + snapshot-log: the engine's travel surface, externalized.
    // A reader resolves `FOR VERSION AS OF <tag>` through refs and
    // `FOR TIMESTAMP AS OF <t>` through snapshot-log (latest entry
    // with timestamp-ms <= t), purely from this JSON.
    val liveIds = exported.map(_._1).toSet
    val refsJson = renderRefs(refsSeq(s, loc, v, liveIds.contains))
    val snapshotLog = exported.map { case (sv, _) =>
      s"""{"timestamp-ms":${SnapshotTable.committedAt(s, loc, sv)},"snapshot-id":$sv}"""
    }.mkString("[", ",", "]")
    val metadata =
      s"""{"format-version":2,"table-uuid":${jstr(tableUuid(loc))},"location":${
        jstr(loc)},"last-sequence-number":$v,"last-updated-ms":${
        SnapshotTable.committedAt(s, loc, v)},"last-column-id":${
        fields.map(_._1).maxOption.getOrElse(0)},"current-snapshot-id":$v,"current-schema-id":$currentSchemaId,"schemas":[${
        schemasJson}],"default-spec-id":$defaultSpecId,"partition-specs":$specsJson,"last-partition-id":$lastPartitionId,"default-sort-order-id":0,"sort-orders":[{"order-id":0,"fields":[]}],"properties":${
        props.toSeq.sorted
          .map { case (k, pv) => s"${jstr(k)}:${jstr(pv)}" }
          .mkString("{", ",", "}")
      },"snapshots":[${snapshots.mkString(",")}],"refs":$refsJson,"snapshot-log":$snapshotLog}"""
    mfs.mkdirs(metaPath.getParent)
    // atomic publish, same protocol as the Avro chain: a concurrent
    // loader can never observe a truncated (or, during a renderer-
    // upgrade regeneration, absent) metadata.json — the stale file is
    // deleted only under the destination lock, with the replacement
    // bytes already written
    val tmp = new Path(metaPath.getParent, s".${metaPath.getName}." +
      java.util.UUID.randomUUID.toString.take(8) + ".tmp")
    val out = mfs.create(tmp, true)
    try out.write(metadata.getBytes(UTF_8)) finally out.close()
    CommitArbiter.lockFor(metaPath).synchronized {
      if (mfs.exists(metaPath)) {
        // stale renderer output: replace ATOMICALLY where the store
        // can — FileContext rename-OVERWRITE is one POSIX/HDFS rename,
        // so even a CROSS-PROCESS reader never observes metadata.json
        // absent. A scheme without FileContext support falls back to
        // delete-then-publish, where the no-absent-window guarantee
        // holds for same-JVM loaders only (they serialize on this
        // lock — the REST-catalog serving case).
        try {
          org.apache.hadoop.fs.FileContext.getFileContext(metaPath.toUri, conf(s))
            .rename(tmp, metaPath, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
        } catch {
          case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
            mfs.delete(metaPath, false)
            if (!CommitArbiter.forConf(conf(s)).publish(mfs, tmp, metaPath))
              mfs.delete(tmp, false) // a concurrent exporter won with identical content
        }
      } else if (!CommitArbiter.forConf(conf(s)).publish(mfs, tmp, metaPath))
        mfs.delete(tmp, false) // a concurrent exporter won with identical content
    }
    (metaPath.toString, metadata)
  }
}
