package graft

import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.avro.mapred.FsInput
import org.apache.hadoop.fs.Path

import org.apache.spark.sql.functions.col

import graft.lake.{IcebergInterop, SnapshotTable}

/** [[IcebergInterop]] — the Iceberg v2 Avro export. Everything here
  * reads the exported files with the PLAIN avro library (none of
  * graft's manifest code), the way an external Iceberg engine would:
  * metadata.json → Avro manifest-list → Avro manifests → parquet.
  */
class IcebergInteropSpec extends SparkSpec {
  import spark.implicits._

  private def conf = spark.sparkContext.hadoopConfiguration

  private def listOf(metaJson: String, snap: Int): String =
    ("\"snapshot-id\":" + snap + ",[^{]*\"manifest-list\":\"([^\"]+)\"").r
      .findFirstMatchIn(metaJson).get.group(1)

  private def avroMeta(path: String): Map[String, String] = {
    val reader = new DataFileReader[GenericRecord](
      new FsInput(new Path(path), conf), new GenericDatumReader[GenericRecord]())
    try {
      import scala.jdk.CollectionConverters._
      reader.getMetaKeys.asScala
        .filterNot(_.startsWith("avro.")) // container-format keys
        .map(k => k -> reader.getMetaString(k)).toMap
    } finally reader.close()
  }

  test("Avro chain re-derives each snapshot's file list; statuses split added/existing") {
    val root = "/tmp/graft_test/ice_chain"
    SnapshotTable.drop(spark, root)
    SnapshotTable.commit(spark, root,
      (0 until 40).map(k => (k.toLong, s"r$k")).toDF("id", "v"))
    SnapshotTable.commitAppend(spark, root,
      (40 until 60).map(k => (k.toLong, s"r$k")).toDF("id", "v"))
    val (_, metaJson) = IcebergInterop.writeMetadata(spark, root, 2)
    assert(metaJson.contains("\"format-version\":2"))
    assert(metaJson.contains("\"current-snapshot-id\":2"))
    // each snapshot's manifest-list re-derives that VERSION's file set
    // — external engines time-travel from metadata.json alone
    Seq(1, 2).foreach { v =>
      val manifests = IcebergInterop.readManifestList(conf, listOf(metaJson, v))
      assert(manifests.forall(_._2 == 0), "append-only table: data manifests only")
      val entries = manifests.flatMap(m => IcebergInterop.readManifest(conf, m._1))
      val expect = SnapshotTable.dataFiles(spark, root, v)
        .map(SnapshotTable.canon(spark, _)).toSet
      assert(entries.map(_._1).toSet === expect, s"version $v file list")
      // record counts must be real (Iceberg planners trust them)
      assert(entries.map(_._4).sum === (if (v == 1) 40L else 60L))
    }
    // v2's manifest: v1's files EXISTING (status 0), the append ADDED (1)
    val v2Entries = IcebergInterop.readManifestList(conf, listOf(metaJson, 2))
      .flatMap(m => IcebergInterop.readManifest(conf, m._1))
    val v1Files = SnapshotTable.dataFiles(spark, root, 1)
      .map(SnapshotTable.canon(spark, _)).toSet
    v2Entries.foreach { case (p, _, status, _) =>
      assert(status === (if (v1Files.contains(p)) 0 else 1),
        s"$p carried-over files must be EXISTING, new ones ADDED")
    }
    assert(v2Entries.exists(_._3 == 1), "the append must produce ADDED entries")
  }

  test("manifest files carry Iceberg v2 metadata keys and spec field-ids") {
    val root = "/tmp/graft_test/ice_meta"
    SnapshotTable.drop(spark, root)
    SnapshotTable.commit(spark, root, Seq((1L, "a", 2.5)).toDF("id", "v", "x"))
    val (_, metaJson) = IcebergInterop.writeMetadata(spark, root, 1)
    val manifests = IcebergInterop.readManifestList(conf, listOf(metaJson, 1))
    val m = avroMeta(manifests.head._1)
    assert(m.get("format-version").contains("2"), m.toString)
    assert(m.get("content").contains("data"), m.toString)
    assert(m.get("partition-spec-id").contains("0"), m.toString)
    // the embedded Iceberg schema names the fields with their ids
    val schema = m("schema")
    assert(schema.contains("\"id\":1") && schema.contains("\"name\":\"id\""), schema)
    assert(schema.contains("\"type\":\"double\""), schema)
    // list file: snapshot identity keys
    val lm = avroMeta(listOf(metaJson, 1))
    assert(lm.get("snapshot-id").contains("1") &&
      lm.get("format-version").contains("2"), lm.toString)
    // the Avro field declarations carry the table-spec field-id props
    val reader = DataFileReader.openReader(
      new FsInput(new Path(manifests.head._1), conf),
      new GenericDatumReader[GenericRecord]())
    val entrySchema = try reader.getSchema finally reader.close()
    assert(entrySchema.getField("status").getObjectProp("field-id") == 0)
    val df = entrySchema.getField("data_file")
    assert(df.getObjectProp("field-id") == 2)
    assert(df.schema().getField("file_path").getObjectProp("field-id") == 100)
    assert(df.schema().getField("record_count").getObjectProp("field-id") == 103)
  }

  test("row-level deletes export as a deletes manifest: positional=1, equality=2 + ids") {
    import org.apache.spark.sql.functions.col
    val root = "/tmp/graft_test/ice_deletes"
    SnapshotTable.drop(spark, root)
    SnapshotTable.commit(spark, root,
      (0 until 30).map(k => (k.toLong, s"u$k", k % 3)).toDF("id", "user", "grp"))
    SnapshotTable.deleteWhereMor(spark, root, col("id") === 7L)
    SnapshotTable.deleteWhereEq(spark, root, Seq("user"),
      Seq(Tuple1("u11")).toDF("user"))
    val v = SnapshotTable.currentVersion(spark, root)
    val (_, metaJson) = IcebergInterop.writeMetadata(spark, root, v)
    val manifests = IcebergInterop.readManifestList(conf, listOf(metaJson, v))
    assert(manifests.map(_._2).sorted === Seq(0, 1),
      "one data manifest + one deletes manifest")
    val delManifest = manifests.find(_._2 == 1).get._1
    assert(avroMeta(delManifest).get("content").contains("deletes"))
    val delEntries = IcebergInterop.readAvro(conf, delManifest)
    val byContent = delEntries.groupBy(
      _.get("data_file").asInstanceOf[GenericRecord].get("content"))
    assert(byContent.keySet === Set(1, 2),
      s"positional (1) and equality (2) delete files: ${byContent.keySet}")
    // equality_ids carry the PERSISTENT field id of the key column
    val eqRec = byContent(2).head.get("data_file").asInstanceOf[GenericRecord]
    val ids = eqRec.get("equality_ids").asInstanceOf[java.util.Collection[Integer]]
    val userFieldId = SnapshotTable.fieldIds(spark, root, v)("user")
    assert(ids.size == 1 && ids.iterator.next() == userFieldId, ids.toString)
    // Iceberg applies a position delete only to data files with
    // data_seq <= delete_seq — graft's pos-delete lines carry no seq
    // annotation, so the export must stamp them AT/ABOVE every data
    // sequence or external engines resurrect the deleted rows
    val dataManifest = manifests.find(_._2 == 0).get._1
    val maxDataSeq = IcebergInterop.readAvro(conf, dataManifest)
      .map(_.get("sequence_number").asInstanceOf[Long]).max
    byContent(1).foreach { r =>
      assert(r.get("sequence_number").asInstanceOf[Long] >= maxDataSeq,
        "positional delete sequence must cover every visible data file")
    }
  }

  test("pre-Avro cached metadata.json is regenerated, not served verbatim") {
    val root = "/tmp/graft_test/ice_stale_cache"
    SnapshotTable.drop(spark, root)
    SnapshotTable.commit(spark, root, Seq((1L, "a")).toDF("id", "v"))
    // plant a metadata file from the OLD renderer: its manifest-list
    // points at graft's text manifest, which no external engine reads
    val stale = new Path(s"$root/_iceberg/v1.metadata.json")
    val fs = stale.getFileSystem(conf)
    fs.mkdirs(stale.getParent)
    val out = fs.create(stale, true)
    out.write(
      s"""{"format-version":2,"current-snapshot-id":1,"snapshots":[{"snapshot-id":1,"manifest-list":"$root/_manifests/v1.manifest"}]}"""
        .getBytes("UTF-8"))
    out.close()
    val (_, metaJson) = IcebergInterop.writeMetadata(spark, root, 1)
    val list = listOf(metaJson, 1)
    assert(list.endsWith(".avro"), s"regenerated chain must be Avro: $list")
    assert(IcebergInterop.readManifestList(conf, list).nonEmpty)
    // and the regenerated file is now the durable cache
    val (_, again) = IcebergInterop.writeMetadata(spark, root, 1)
    assert(again === metaJson)
  }

  test("stats-annotated columns export as spec-encoded lower/upper bounds") {
    import org.apache.spark.sql.functions._
    val root = "/tmp/graft_test/ice_bounds"
    SnapshotTable.drop(spark, root)
    val df = (1 to 400).map(k =>
      (k.toLong, k * 0.5, f"name_$k%03d", java.sql.Date.valueOf("2024-01-01").toLocalDate.plusDays(k % 30).toString))
      .toDF("id", "score", "label", "d")
      .withColumn("d", to_date(col("d")))
    SnapshotTable.commit(spark, root, df.repartition(4),
      statsCols = Seq("id", "score", "label", "d"))
    val (_, metaJson) = IcebergInterop.writeMetadata(spark, root, 1)
    val manifest = IcebergInterop.readManifestList(conf, listOf(metaJson, 1)).head._1
    val entries = IcebergInterop.readAvro(conf, manifest)
    assert(entries.nonEmpty)
    val ids = SnapshotTable.fieldIds(spark, root, 1)
    def bounds(r: GenericRecord, which: String): Map[Int, Array[Byte]] = {
      import scala.jdk.CollectionConverters._
      r.get("data_file").asInstanceOf[GenericRecord].get(which)
        .asInstanceOf[java.util.Collection[GenericRecord]].asScala.map { kv =>
          val buf = kv.get("value").asInstanceOf[java.nio.ByteBuffer]
          val bytes = new Array[Byte](buf.remaining()); buf.duplicate().get(bytes)
          kv.get("key").asInstanceOf[Int] -> bytes
        }.toMap
    }
    def le(b: Array[Byte]) =
      java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    // per-file bounds must bracket (here: equal) the file's true
    // min/max — checked against a raw parquet scan of each file,
    // Iceberg Appendix D decoding: long/double little-endian, string
    // raw UTF-8, date int days
    entries.foreach { e =>
      val path = e.get("data_file").asInstanceOf[GenericRecord].get("file_path").toString
      val lo = bounds(e, "lower_bounds"); val hi = bounds(e, "upper_bounds")
      val agg = spark.read.parquet(path).agg(
        min("id"), max("id"), min("score"), max("score"),
        min("label"), max("label"),
        date_format(min("d"), "yyyy-MM-dd"), // string: stable across
        date_format(max("d"), "yyyy-MM-dd")  // java8/legacy date API
      ).collect()(0)
      assert(le(lo(ids("id"))).getLong === agg.getLong(0))
      assert(le(hi(ids("id"))).getLong === agg.getLong(1))
      assert(le(lo(ids("score"))).getDouble === agg.getDouble(2))
      assert(le(hi(ids("score"))).getDouble === agg.getDouble(3))
      assert(new String(lo(ids("label")), "UTF-8") === agg.getString(4))
      assert(new String(hi(ids("label")), "UTF-8") === agg.getString(5))
      assert(le(lo(ids("d"))).getInt ===
        java.time.LocalDate.parse(agg.getString(6)).toEpochDay.toInt)
      assert(le(hi(ids("d"))).getInt ===
        java.time.LocalDate.parse(agg.getString(7)).toEpochDay.toInt)
    }
  }

  test("day-partitioned tables export the real day spec + per-file partition values") {
    import org.apache.spark.sql.functions._
    val root = "/tmp/graft_test/ice_partspec"
    SnapshotTable.drop(spark, root)
    val df = (0 until 300).map { k =>
      (k.toLong, java.sql.Timestamp.valueOf(s"2024-03-${"%02d".format(k % 9 + 1)} 10:00:00"), k * 1.0)
    }.toDF("id", "ts", "v")
    SnapshotTable.commitPartitionedByDay(spark, root, df, "ts")
    val (_, metaJson) = IcebergInterop.writeMetadata(spark, root, 1)
    // metadata.json: the day spec is spec-id 1 and the default
    assert(metaJson.contains("\"default-spec-id\":1"), metaJson)
    assert(metaJson.contains(
      """{"spec-id":1,"fields":[{"name":"ts_day","transform":"day","source-id":2,"field-id":1000}]}"""),
      metaJson)
    assert(metaJson.contains("\"last-partition-id\":1000"), metaJson)
    // the data manifest declares spec 1 and carries per-file dates
    val manifests = IcebergInterop.readManifestList(conf, listOf(metaJson, 1))
    val m = avroMeta(manifests.head._1)
    assert(m.get("partition-spec-id").contains("1"), m.toString)
    assert(m("partition-spec").contains("\"transform\":\"day\""), m.toString)
    val entries = IcebergInterop.readAvro(conf, manifests.head._1)
    assert(entries.size >= 9, s"one file per (day, salt): ${entries.size}")
    // every file's exported partition date matches the actual day of
    // every row INSIDE the file — external pruning would be correct
    entries.foreach { e =>
      val dfr = e.get("data_file").asInstanceOf[GenericRecord]
      val day = dfr.get("partition").asInstanceOf[GenericRecord]
        .get("ts_day").asInstanceOf[Int]
      val rowDays = spark.read.parquet(dfr.get("file_path").toString)
        .select(datediff(to_date(col("ts")), lit("1970-01-01")))
        .distinct().collect().map(_.getInt(0)).toSet
      assert(rowDays === Set(day), s"file ${dfr.get("file_path")}")
    }
    // an external-style partition-pruned scan (files whose partition
    // value == the probe day) re-derives the SQL day filter exactly
    val probe = java.time.LocalDate.parse("2024-03-03").toEpochDay.toInt
    val pruned = entries.filter(
      _.get("data_file").asInstanceOf[GenericRecord]
        .get("partition").asInstanceOf[GenericRecord]
        .get("ts_day").asInstanceOf[Int] == probe)
      .map(_.get("data_file").asInstanceOf[GenericRecord].get("file_path").toString)
    assert(pruned.nonEmpty && pruned.size < entries.size)
    val got = spark.read.parquet(pruned: _*).count()
    val expect = df.filter(to_date(col("ts")) === lit("2024-03-03")).count()
    assert(got === expect)
  }

  test("partition export survives null days and a renamed source column") {
    import org.apache.spark.sql.functions._
    val root = "/tmp/graft_test/ice_partedge"
    SnapshotTable.drop(spark, root)
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-05-01 08:00:00"), 1.0),
      (2L, java.sql.Timestamp.valueOf("2024-05-02 08:00:00"), 2.0),
      (3L, null.asInstanceOf[java.sql.Timestamp], 3.0) // null day
    ).toDF("id", "ts", "v")
    SnapshotTable.commitPartitionedByDay(spark, root, df, "ts", saltBuckets = 1)
    // rename the partition SOURCE: the header keeps the physical name,
    // the exported spec must follow the rename (new name, same id)
    SnapshotTable.renameColumn(spark, root, "ts", "event_ts")
    val v = SnapshotTable.currentVersion(spark, root)
    val (_, metaJson) = IcebergInterop.writeMetadata(spark, root, v)
    assert(metaJson.contains(
      """{"spec-id":1,"fields":[{"name":"event_ts_day","transform":"day","source-id":2,"field-id":1000}]}"""),
      metaJson)
    assert(!metaJson.contains("\"source-id\":0"), "source-id must bind a schema field")
    val entries = IcebergInterop.readManifestList(conf, listOf(metaJson, v))
      .flatMap(m => IcebergInterop.readAvro(conf, m._1))
    // the null-day file exports a NULL partition value (day(null)),
    // never a sentinel parse crash; real days export their epoch day
    val days = entries.map(_.get("data_file").asInstanceOf[GenericRecord]
      .get("partition").asInstanceOf[GenericRecord].get("event_ts_day"))
    assert(days.contains(null), s"null-day file must export null: $days")
    assert(days.contains(
      Integer.valueOf(java.time.LocalDate.parse("2024-05-01").toEpochDay.toInt)), days)
  }

  test("field ids persist across rename and add; metadata.json serves them") {
    val root = "/tmp/graft_test/ice_fieldids"
    SnapshotTable.drop(spark, root)
    SnapshotTable.commit(spark, root, Seq((1L, "a")).toDF("id", "v"))
    assert(SnapshotTable.fieldIds(spark, root, 1) === Map("id" -> 1, "v" -> 2))
    SnapshotTable.renameColumn(spark, root, "v", "label")
    assert(SnapshotTable.fieldIds(spark, root, 2) === Map("id" -> 1, "label" -> 2),
      "rename keeps the field id (Iceberg rename = same id, new name)")
    SnapshotTable.addColumn(spark, root, "score", "double")
    SnapshotTable.renameColumn(spark, root, "label", "tag")
    val v = SnapshotTable.currentVersion(spark, root)
    assert(SnapshotTable.fieldIds(spark, root, v)
      === Map("id" -> 1, "tag" -> 2, "score" -> 3))
    // time travel reads the ids as of each version
    assert(SnapshotTable.fieldIds(spark, root, 2)("label") === 2)
    val (_, metaJson) = IcebergInterop.writeMetadata(spark, root, v)
    assert(metaJson.contains("""{"id":2,"name":"tag","required":false,"type":"string"}"""),
      metaJson)
    assert(metaJson.contains("\"last-column-id\":3"), metaJson)
  }

  test("lake parquet carries real Iceberg footer field ids across rename and compaction") {
    import scala.jdk.CollectionConverters._
    def footerIds(file: String): Map[String, Option[Int]] = {
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new Path(file), conf))
      try reader.getFooter.getFileMetaData.getSchema.getFields.asScala
        .map(f => f.getName -> Option(f.getId).map(_.intValue)).toMap
      finally reader.close()
    }
    val root = "/tmp/graft_test/ice_footerids"
    SnapshotTable.drop(spark, root)
    SnapshotTable.commit(spark, root, Seq((1L, "a", 1.5)).toDF("id", "v", "score"))
    // fresh commit: every footer field carries its persistent id
    SnapshotTable.dataFiles(spark, root, 1).foreach { f =>
      assert(footerIds(f) === Map("id" -> Some(1), "v" -> Some(2), "score" -> Some(3)), f)
    }
    // rename, then append: the new file keeps the PHYSICAL name but
    // the SAME field id — exactly how Iceberg encodes rename
    SnapshotTable.renameColumn(spark, root, "v", "label")
    SnapshotTable.commitAppend(spark, root, Seq((2L, "b", 2.5)).toDF("id", "label", "score"))
    val v3 = SnapshotTable.currentVersion(spark, root)
    val newFiles = SnapshotTable.dataFiles(spark, root, v3).toSet --
      SnapshotTable.dataFiles(spark, root, 1).toSet
    assert(newFiles.nonEmpty)
    newFiles.foreach { f =>
      val ids = footerIds(f)
      assert(ids.contains("v") && ids("v") === Some(2),
        s"renamed column must land under its physical name with its id: $ids")
    }
    // compaction rewrites keep the ids too
    val vPack = SnapshotTable.compactSmallFiles(spark, root)
    assert(vPack > v3, "two small files must pack")
    SnapshotTable.dataFiles(spark, root, vPack).foreach { f =>
      assert(footerIds(f)("v") === Some(2), s"packed file ids: ${footerIds(f)}")
    }
    // and the mixed-epoch table still reads green with current names
    assert(SnapshotTable.read(spark, root).columns.toSeq === Seq("id", "label", "score"))
    assert(SnapshotTable.read(spark, root).count() === 2L)
  }

  test("name-mapping property binds physical file columns to field ids across rename/widen") {
    val root = "/tmp/graft_test/ice_namemap"
    SnapshotTable.drop(spark, root)
    SnapshotTable.commit(spark, root, Seq((1L, "a", 2)).toDF("id", "v", "qty"))
    SnapshotTable.renameColumn(spark, root, "v", "label")
    SnapshotTable.widenColumn(spark, root, "qty", "bigint")
    val v = SnapshotTable.currentVersion(spark, root)
    val (_, metaJson) = IcebergInterop.writeMetadata(spark, root, v)
    // the property is a JSON-string property: unescape, then parse
    val nm = """"schema\.name-mapping\.default":"((?:[^"\\]|\\.)*)"""".r
      .findFirstMatchIn(metaJson).getOrElse(sys.error(s"no name-mapping in $metaJson"))
      .group(1).replace("\\\"", "\"")
    def names(id: Int): Seq[String] =
      (s"""\\{"field-id":$id,"names":\\[([^\\]]*)\\]\\}""").r
        .findFirstMatchIn(nm).map(m =>
          """"([^"]*)"""".r.findAllMatchIn(m.group(1)).map(_.group(1)).toSeq)
        .getOrElse(Nil)
    // renamed column: PHYSICAL name first (what the files carry), then
    // the current logical name — both resolve to the same field id
    assert(names(2) === Seq("v", "label"), nm)
    // unrenamed columns list their single name (widen changes no name)
    assert(names(1) === Seq("id"), nm)
    assert(names(3) === Seq("qty"), nm)
    // and the data files REALLY carry the physical name, which is what
    // makes the mapping load-bearing for external engines
    val fileCols = spark.read
      .parquet(SnapshotTable.dataFiles(spark, root, v): _*).columns.toSet
    assert(fileCols.contains("v") && !fileCols.contains("label"))
  }

  test("import mounts an exported chain zero-copy: eq-delete scoping, rename, partition pruning") {
    import graft.lake.IcebergInterop.importChain
    val src = "/tmp/graft_test/ice_imp_src"
    val dest = "/tmp/graft_test/ice_imp_dest"
    Seq(src, dest).foreach(SnapshotTable.drop(spark, _))
    // day-partitioned source across two days
    val rows = (0 until 20).map(k =>
      (k.toLong, java.sql.Timestamp.valueOf(s"2024-03-0${1 + k % 2} 10:00:00"), s"u$k", k * 10))
      .toDF("id", "ts", "user", "qty")
    SnapshotTable.commitPartitionedByDay(spark, src, rows, "ts")
    // v2: eq-delete ids 0..4 (suppresses only OLDER rows — v2 scoping)
    SnapshotTable.deleteWhereEq(spark, src, Seq("id"),
      (0L until 5L).toDF("id"))
    // v3: re-insert id 3 — must SURVIVE the older eq delete
    SnapshotTable.commitPartitionedByDay(spark, src,
      Seq((3L, java.sql.Timestamp.valueOf("2024-03-01 12:00:00"), "u3b", 999)).toDF(rows.columns: _*), "ts")
    // v4: rename + widen ride the metadata
    SnapshotTable.renameColumn(spark, src, "user", "username")
    SnapshotTable.widenColumn(spark, src, "qty", "bigint")
    val v = SnapshotTable.currentVersion(spark, src)
    val (metaPath, _) = graft.lake.IcebergInterop.writeMetadata(spark, src, v)

    assert(importChain(spark, metaPath, dest) === 1)
    val imp = SnapshotTable.read(spark, dest)
    // logical schema arrived: renamed + widened
    assert(imp.columns.toSeq === Seq("id", "ts", "username", "qty"))
    assert(imp.schema("qty").dataType === org.apache.spark.sql.types.LongType)
    // content matches the source's own current read exactly (ids 0-2,
    // 4 deleted; 3 resurrected by the newer insert)
    val got = imp.select("id", "username").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(!got.map(_._1).toSet.exists(Set(0L, 1L, 2L, 4L)))
    assert(got.count(_._1 == 3L) === 1 && got.find(_._1 == 3L).get._2 === "u3b")
    assert(got.length === 16)
    val srcRead = SnapshotTable.read(spark, src)
      .select(col("id"), col("username")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(got.toSeq === srcRead.toSeq)
    // partition pruning survives the import: the manifest-level prune
    // (the same candidateDataFiles pruning the DSv2 scan rule uses)
    // keeps strictly fewer files under a one-day filter — the imported
    // per-file day values and partition header are load-bearing
    val all = SnapshotTable.candidateDataFiles(spark, dest, None)
    val oneDay = SnapshotTable.candidateDataFiles(spark, dest,
      Some(col("ts") >= "2024-03-02" && col("ts") < "2024-03-03"))
    assert(oneDay.size < all.size,
      s"day filter must prune imported files (${oneDay.size}/${all.size})")
  }

  test("import inherits null entry sequence numbers from the manifest-list row") {
    // standard Iceberg writers leave ADDED entries' sequence_number
    // null — it inherits from the manifest-list row (spec "Sequence
    // Number Inheritance"). Importing such entries as 0 would order
    // every data file BEFORE every equality delete. Build a foreign
    // manifest with the plain avro library, no graft writer involved.
    import org.apache.avro.Schema
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter}
    val dir = new Path("/tmp/graft_test/ice_inherit")
    val fs = dir.getFileSystem(conf)
    fs.delete(dir, true); fs.mkdirs(dir)
    val entrySchema = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_entry","fields":[
        |{"name":"status","type":"int"},
        |{"name":"sequence_number","type":["null","long"],"default":null},
        |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
        |{"name":"content","type":"int"},
        |{"name":"file_path","type":"string"},
        |{"name":"record_count","type":"long"},
        |{"name":"partition","type":{"type":"record","name":"r102","fields":[]}},
        |{"name":"equality_ids","type":["null",{"type":"array","items":"int"}],"default":null}
        |]}}]}""".stripMargin)
    def entry(status: Int, seq: Option[Long], path: String): GenericData.Record = {
      val r = new GenericData.Record(entrySchema)
      r.put("status", status)
      r.put("sequence_number", seq.map(java.lang.Long.valueOf).orNull)
      val df = new GenericData.Record(entrySchema.getField("data_file").schema())
      df.put("content", 0)
      df.put("file_path", path)
      df.put("record_count", 7L)
      df.put("partition",
        new GenericData.Record(entrySchema.getField("data_file").schema()
          .getField("partition").schema()))
      df.put("equality_ids", null)
      r.put("data_file", df)
      r
    }
    val mp = new Path(dir, "foreign-m0.avro")
    val w = new DataFileWriter(new GenericDatumWriter[org.apache.avro.generic.GenericRecord](entrySchema))
    val out = fs.create(mp, true)
    w.create(entrySchema, out)
    w.append(entry(1, None, "/tmp/a.parquet"))      // ADDED, seq inherited
    w.append(entry(0, Some(2L), "/tmp/b.parquet"))  // EXISTING, explicit
    w.close()
    val got = IcebergInterop.readEntriesFull(conf, mp.toString, inheritSeq = 9L)
    assert(got.map(e => (e._1, e._5)).toSet ===
      Set(("/tmp/a.parquet", 9L), ("/tmp/b.parquet", 2L)),
      got.toString)
  }

  test("refs + snapshot-log export the travel surface; ref drift regenerates the cache") {
    val root = "/tmp/graft_test/ice_refs"
    SnapshotTable.drop(spark, root)
    SnapshotTable.commit(spark, root, Seq((1L, "a")).toDF("id", "v"))
    SnapshotTable.commitAppend(spark, root, Seq((2L, "b")).toDF("id", "v"))
    SnapshotTable.commitAppend(spark, root, Seq((3L, "c")).toDF("id", "v"))
    SnapshotTable.tag(spark, root, "rel-1", 1)
    SnapshotTable.createBranch(spark, root, "audit", 2)
    // a branch with a LOCAL staged commit must NOT export: its
    // snapshot is invisible to main readers until publish
    SnapshotTable.createBranch(spark, root, "staging")
    SnapshotTable.commitToBranch(spark, root, "staging", Seq((9L, "z")).toDF("id", "v"))
    val (_, metaJson) = IcebergInterop.writeMetadata(spark, root, 3)
    def ref(n: String): Option[(Int, String)] =
      (s""""$n":\\{"snapshot-id":(\\d+),"type":"(\\w+)"\\}""").r
        .findFirstMatchIn(metaJson).map(m => (m.group(1).toInt, m.group(2)))
    assert(ref("main") === Some((3, "branch")))
    assert(ref("rel-1") === Some((1, "tag")))
    assert(ref("audit") === Some((2, "branch")))
    assert(ref("staging").isEmpty, "staged branch heads must not export")
    // snapshot-log resolves FOR TIMESTAMP AS OF purely from the JSON
    val log = """\{"timestamp-ms":(\d+),"snapshot-id":(\d+)\}""".r
      .findAllMatchIn(metaJson).map(m => (m.group(1).toLong, m.group(2).toInt)).toSeq
    assert(log.map(_._2) === Seq(1, 2, 3), s"log must list live snapshots in order: $log")
    val t2 = SnapshotTable.version(spark, root, 2).committedAt
    assert(log.filter(_._1 <= t2).maxBy(e => (e._1, e._2))._2 === 2)
    // ref DRIFT: a tag created after the render must surface on the
    // next load (real Iceberg rewrites metadata.json on ref changes)
    SnapshotTable.tag(spark, root, "rel-2", 2)
    val (_, metaJson2) = IcebergInterop.writeMetadata(spark, root, 3)
    assert(metaJson2.contains(""""rel-2":{"snapshot-id":2,"type":"tag"}"""),
      "post-export tag must regenerate the cached metadata")
    // and with no further drift the file is served verbatim (immutable)
    val (_, metaJson3) = IcebergInterop.writeMetadata(spark, root, 3)
    assert(metaJson3 === metaJson2)
    // the wire's remove/move primitives drift the export the same way:
    // a dropped tag disappears, a moved branch re-points
    SnapshotTable.dropTag(spark, root, "rel-2")
    SnapshotTable.moveBranch(spark, root, "audit", 3)
    val (_, metaJson4) = IcebergInterop.writeMetadata(spark, root, 3)
    assert(!metaJson4.contains("\"rel-2\""), "dropped tag must leave the export")
    assert(metaJson4.contains(""""audit":{"snapshot-id":3,"type":"branch"}"""),
      "moved branch must re-point in the export")
    // moveBranch refuses versions the table doesn't have
    intercept[IllegalArgumentException] {
      SnapshotTable.moveBranch(spark, root, "audit", 9)
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.dropTag(spark, root, "rel-2") // already dropped
    }
  }

  test("import tolerates doc attrs and key order; refuses nested types loudly") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val root = "/tmp/graft_test/ice_imp_robust"
    SnapshotTable.drop(spark, root)
    SnapshotTable.commit(spark, root,
      Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "v", "score"))
    val (mp, metaJson) = IcebergInterop.writeMetadata(spark, root, 1)
    val fs = new Path(mp).getFileSystem(conf)
    def write(p: Path, body: String): Unit = {
      val out = fs.create(p, true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    // a foreign writer's shapes: every schema field gets a `doc`
    // attribute and REVERSED key order — the import must bind all
    // columns anyway (regex parsers silently dropped such fields)
    val mangled = JsonMethods.parse(metaJson).transformField {
      case ("fields", JArray(fields)) => ("fields", JArray(fields.map {
        case JObject(kvs) if kvs.exists(_._1 == "id") =>
          JObject(kvs.reverse :+ JField("doc", JString("from a foreign writer")))
        case o => o
      }))
    }
    val mangledPath = new Path("/tmp/graft_test/ice_imp_robust_meta/mangled.metadata.json")
    fs.mkdirs(mangledPath.getParent)
    write(mangledPath, JsonMethods.compact(JsonMethods.render(mangled)))
    val dest = "/tmp/graft_test/ice_imp_robust_dest"
    SnapshotTable.drop(spark, dest)
    IcebergInterop.importChain(spark, mangledPath.toString, dest)
    assert(SnapshotTable.read(spark, dest).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq ===
      Seq((1L, "a", 1.5), (2L, "b", 2.5)))
    // nested types: refused with a loud, named error — never silently
    // dropped from the imported schema
    val nested = JsonMethods.parse(metaJson).transformField {
      case ("fields", JArray(fields)) => ("fields", JArray(fields.map {
        case JObject(kvs) if kvs.exists(kv => kv._1 == "name" &&
            kv._2 == JString("score")) =>
          JObject(kvs.map {
            case ("type", _) => ("type", JObject(List(
              ("type", JString("struct")), ("fields", JArray(Nil)))))
            case kv => kv
          })
        case o => o
      }))
    }
    val nestedPath = new Path("/tmp/graft_test/ice_imp_robust_meta/nested.metadata.json")
    write(nestedPath, JsonMethods.compact(JsonMethods.render(nested)))
    val dest2 = "/tmp/graft_test/ice_imp_robust_dest2"
    SnapshotTable.drop(spark, dest2)
    val e = intercept[IllegalArgumentException] {
      IcebergInterop.importChain(spark, nestedPath.toString, dest2)
    }
    assert(e.getMessage.contains("nested type"), e.getMessage)
  }

  test("snapshots carry per-epoch schema-ids; time travel sees commit-time shape") {
    val root = "/tmp/graft_test/ice_epochs"
    SnapshotTable.drop(spark, root)
    SnapshotTable.commit(spark, root, Seq((1L, "a")).toDF("id", "v"))         // v1: epoch A
    SnapshotTable.commitAppend(spark, root, Seq((2L, "b")).toDF("id", "v"))   // v2: epoch A
    SnapshotTable.renameColumn(spark, root, "v", "label")                     // v3: epoch B
    SnapshotTable.addColumn(spark, root, "score", "double")                   // v4: epoch C
    SnapshotTable.dropColumn(spark, root, "label")                            // v5: epoch D
    val (_, metaJson) = IcebergInterop.writeMetadata(spark, root, 5)
    def snapSchemaId(snap: Int): Int =
      (s""""snapshot-id":$snap,"sequence-number":\\d+,"timestamp-ms":\\d+,"schema-id":(\\d+)""").r
        .findFirstMatchIn(metaJson).getOrElse(sys.error(s"no schema-id on snapshot $snap"))
        .group(1).toInt
    assert(snapSchemaId(1) === snapSchemaId(2), "same shape, same epoch")
    assert(snapSchemaId(3) !== snapSchemaId(1), "rename opens a new epoch")
    assert(snapSchemaId(4) !== snapSchemaId(3), "add-column opens a new epoch")
    assert(snapSchemaId(5) !== snapSchemaId(4), "drop-column opens a new epoch")
    // current-schema-id points at the head's epoch
    val cur = "\"current-schema-id\":(\\d+)".r.findFirstMatchIn(metaJson).get.group(1).toInt
    assert(cur === snapSchemaId(5))
    // schemas[] defines every referenced epoch, each with the shape an
    // engine needs to time-travel to that snapshot
    Seq(snapSchemaId(1), snapSchemaId(3), snapSchemaId(4), snapSchemaId(5)).foreach { sid =>
      assert(metaJson.contains(s"""{"type":"struct","schema-id":$sid,"fields":["""),
        s"schemas[] must define epoch $sid")
    }
    assert(metaJson.contains(""""name":"v""""), "epoch A keeps the pre-rename name")
    assert(metaJson.contains(""""name":"label""""), "pre-drop epochs keep the dropped column")
    assert(metaJson.contains(""""name":"score""""))
    // the head epoch lost it
    val headBlock = (s"""\\{"type":"struct","schema-id":$cur,"fields":\\[([^\\]]*)\\]\\}""").r
      .findFirstMatchIn(metaJson).get.group(1)
    assert(!headBlock.contains("label"), headBlock)
    // and the name-mapping keeps a tombstone entry (physical name "v",
    // field-id 2) so old snapshots stay bindable in external engines
    val nm = """"schema\.name-mapping\.default":"((?:[^"\\]|\\.)*)"""".r
      .findFirstMatchIn(metaJson).get.group(1).replace("\\\"", "\"")
    assert(nm.contains("""{"field-id":2,"names":["v"]}"""), nm)
  }

  test("exported metadata escapes strings byte-exactly and parses back") {
    val root = "/tmp/graft_test/ice_escape"
    SnapshotTable.drop(spark, root)
    SnapshotTable.commit(spark, root, Seq((1L, "a")).toDF("id", "v"))
    val (k, v) = ("q\"k", "a\\b\n\tc\u0001/é")
    val cur = SnapshotTable.setProperties(spark, root, Map(k -> v))
    val (_, metaJson) = IcebergInterop.writeMetadata(spark, root, cur)
    // quote, backslash, newline, tab and control chars escape; '/' and
    // non-ASCII pass through
    assert(metaJson.contains("\"q\\\"k\":\"a\\\\b\\n\\tc\\u0001/é\""), metaJson)
    assert(Json.str(Json.at(Json.parse(metaJson), "properties", k)).contains(v))
  }
}
