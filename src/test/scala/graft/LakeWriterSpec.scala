package graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, date_format, lit}
import org.apache.spark.sql.types.StringType

import graft.lake.{Manifest, SnapshotTable}

/** Every file graft writes into a day-partitioned table holds one day
  * and names it, and carries the table's registered stats, bloom
  * filters and field ids: the ten write ops share one writer, so each
  * data entry an op adds is checked against the registrations of the
  * version it lands in, and a one-day read plans only that day's data
  * files (plus delete files) after every op.
  */
class LakeWriterSpec extends SparkSpec {
  import spark.implicits._

  private def conf = spark.sparkContext.hadoopConfiguration
  private def canon(p: String) = SnapshotTable.canon(spark, p)
  private val Days = Seq("2024-03-01", "2024-03-02", "2024-03-03")

  private def rows(ids: Seq[Int], tag: String = "n"): DataFrame =
    ids.map { i =>
      (i.toLong, s"$tag$i", java.sql.Timestamp.valueOf(s"${Days(i % 3)} 10:00:${"%02d".format(i % 60)}"),
        s"u$i")
    }.toDF("id", "name", "ts", "user")

  /** The data entries of `after` that `before` does not hold. */
  private def added(before: Manifest.Version, after: Manifest.Version): Seq[Manifest.Entry] = {
    val old = before.dataEntries.map(e => canon(e.path)).toSet
    after.dataEntries.filterNot(e => old.contains(canon(e.path)))
  }

  private def footerIds(file: String): Map[String, Int] = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file), conf))
    try r.getFileMetaData.getSchema.getFields.asScala
      .map(f => f.getName -> Option(f.getId).map(_.intValue).getOrElse(-1)).toMap
    finally r.close()
  }

  /** The writer invariant for the entries `op` added at version `mv`. */
  private def checkEntries(op: String, root: String, v: Int, mv: Manifest.Version,
      entries: Seq[Manifest.Entry]): Unit = {
    assert(entries.nonEmpty, s"$op added no data file")
    val schema = SnapshotTable.schema(spark, root, v, mv)
    val ids = SnapshotTable.fieldIds(spark, root, v, mv)
    val statsAnnots = mv.statsColumns.flatMap { c =>
      if (schema(c).dataType == StringType) Seq(s"_smin_$c", s"_smax_$c")
      else Seq(s"_min_$c", s"_max_$c")
    }
    val required = Seq("_graft_day", "_rows", "_bytes", "_seq") ++ statsAnnots ++
      mv.bloomColumns.map(c => s"_bloom_$c")
    entries.foreach { e =>
      val missing = required.filterNot(e.annots.contains)
      assert(missing.isEmpty, s"$op: ${e.path} lacks ${missing.mkString(", ")}")
      val data = spark.read.parquet(e.path)
      val days = data.select(date_format(col("ts"), "yyyy-MM-dd")).distinct()
        .collect().map(_.getString(0)).toSet
      assert(days === Set(e.annots("_graft_day")), s"$op: ${e.path} holds days $days")
      assert(e.rows === data.count(), s"$op: ${e.path} _rows")
      val fileIds = footerIds(e.path)
      assert(fileIds === ids.filter { case (n, _) => fileIds.contains(n) } &&
        fileIds.keySet.subsetOf(ids.keySet),
        s"$op: ${e.path} footer ids $fileIds, table ids $ids")
    }
  }

  /** A one-day read plans that day's data files and the delete files. */
  private def checkPruning(op: String, root: String, mv: Manifest.Version): Unit =
    Days.foreach { d =>
      val planned = SnapshotTable.readWhere(spark, root,
        col("ts") >= lit(s"$d 00:00:00").cast("timestamp") &&
          col("ts") <= lit(s"$d 23:59:59").cast("timestamp"))
        .inputFiles.map(canon).toSet
      val deletes = (mv.deleteFiles ++ mv.eqDeletes.map(_.path)).map(canon).toSet
      val dayFiles = mv.dataEntries.filter(_.annots.get("_graft_day").contains(d))
        .map(e => canon(e.path)).toSet
      assert(planned -- deletes === dayFiles, s"$op: a read of $d planned ${planned -- deletes}")
    }

  test("every write op adds one-day files carrying the registered annotations and field ids") {
    val root = "/tmp/graft_test/writer_invariant"
    SnapshotTable.drop(spark, root)
    // every op is checked, so a failure names each writer that breaks
    // the invariant, not just the first
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    def checked(check: => Unit): Unit =
      try check catch { case e: org.scalatest.exceptions.TestFailedException =>
        failures += e.getMessage }
    def step(op: String)(run: => Int): Unit = {
      val cur = SnapshotTable.currentVersion(spark, root)
      val before = if (cur < 1) Manifest.Empty else SnapshotTable.version(spark, root, cur)
      val v = run
      checked {
        assert(v === cur + 1, s"$op did not commit")
        val mv = SnapshotTable.version(spark, root, v)
        checkEntries(op, root, v, mv, added(before, mv))
        checkPruning(op, root, mv)
      }
    }
    step("commitPartitionedByDay")(
      SnapshotTable.commitPartitionedByDay(spark, root, rows(1 to 30), "ts"))
    step("commit")(SnapshotTable.commit(spark, root, rows(31 to 45).repartition(2),
      statsCols = Seq("id", "name"), bloomCols = Seq("user")))
    step("commitAppend")(SnapshotTable.commitAppend(spark, root, rows(46 to 50)))
    step("upsertEq")(SnapshotTable.upsertEq(spark, root, Seq("id"), rows(1 to 5, "up")))
    step("updateWhereMor")(SnapshotTable.updateWhereMor(spark, root, col("id") === 10,
      Map("name" -> lit("updated"))))
    val image = spark.createDataFrame(
      SnapshotTable.read(spark, root).filter(col("id") === 20).collect().toSeq.asJava,
      SnapshotTable.read(spark, root).schema)
    step("applyChangesMor")(SnapshotTable.applyChangesMor(spark, root, rows(51 to 53), image))
    step("copyOnWrite")(SnapshotTable.deleteWhere(spark, root, col("id") === 31))
    step("compactDeletes")(SnapshotTable.compactDeletes(spark, root))
    step("compactSmallFiles")(SnapshotTable.compactSmallFiles(spark, root))
    val main = SnapshotTable.currentVersion(spark, root)
    assert(SnapshotTable.read(spark, root).count() === 51)
    SnapshotTable.createBranch(spark, root, "audit")
    val head = SnapshotTable.version(spark, root, main)
    SnapshotTable.commitToBranch(spark, root, "audit", rows(60 to 62))
    val branch = Manifest.at(conf, root, SnapshotTable.branchHead(spark, root, "audit"))
    checked(checkEntries("commitToBranch", root, main, branch, added(head, branch)))
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("a frame without a registered bloom column or the day source still commits") {
    val root = "/tmp/graft_test/writer_absent_cols"
    SnapshotTable.drop(spark, root)
    SnapshotTable.commitPartitionedByDay(spark, root, rows(1 to 9), "ts")
    SnapshotTable.commit(spark, root, rows(10 to 12), bloomCols = Seq("user"))
    def addedBy(run: => Int): Seq[Manifest.Entry] = {
      val before = SnapshotTable.version(spark, root, SnapshotTable.currentVersion(spark, root))
      added(before, SnapshotTable.version(spark, root, run))
    }
    // no bloom filter for a column the files lack: they always scan
    // (`user` must not resolve to current_user())
    intercept[IllegalArgumentException](
      SnapshotTable.commit(spark, root, rows(13 to 15).drop("user"), bloomCols = Seq("user")))
    val noBloom = addedBy(SnapshotTable.commitAppend(spark, root, rows(13 to 15).drop("user")))
    assert(noBloom.nonEmpty && noBloom.forall(e =>
      e.annots.contains("_graft_day") && !e.annots.contains("_bloom_user")))
    // rows without the source read back with a null ts: the null day
    val noDay = addedBy(SnapshotTable.commit(spark, root, rows(16 to 18).drop("ts")))
    assert(noDay.map(_.annots.get("_graft_day")).toSet ===
      Set(Some("__HIVE_DEFAULT_PARTITION__")))
    val mv = SnapshotTable.version(spark, root, SnapshotTable.currentVersion(spark, root))
    checkPruning("null day", root, mv)
    val all = SnapshotTable.read(spark, root)
    assert(all.count() === 18)
    assert(all.filter(col("ts").isNull).count() === 3)
  }

  test("zero-copy and SQL row-level files of one day name it, so a one-day read plans only them") {
    val wh = "/tmp/graft_test/writer_wh"
    spark.conf.set("spark.sql.catalog.gwriter", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gwriter.warehouse", wh)
    val root = s"$wh/lake/dg"
    SnapshotTable.drop(spark, root)
    SnapshotTable.commitPartitionedByDay(spark, root, rows(1 to 9), "ts")
    // a staged file whose rows all hold the first day, registered zero-copy
    val staged = "/tmp/graft_test/writer_staged"
    rows(Seq(12, 15)).coalesce(1).write.mode("overwrite").parquet(staged)
    val stagedFiles = spark.read.parquet(staged).inputFiles.toSeq
    SnapshotTable.commitFiles(spark, root, stagedFiles)
    spark.sql("UPDATE gwriter.lake.dg SET id = id + 100 WHERE id = 4")
    val mv = SnapshotTable.version(spark, root, SnapshotTable.currentVersion(spark, root))
    assert(mv.dataEntries.forall(_.day.isDefined), mv.dataEntries.map(_.line).mkString("\n"))
    checkPruning("commitFiles + SQL UPDATE", root, mv)
    assert(SnapshotTable.read(spark, root).count() === 11)
    assert(SnapshotTable.read(spark, root).filter(col("id") === 104).count() === 1)
  }

  test("a commit with stats opens each new file's footer once") {
    conf.set("fs.countfs.impl", classOf[CountingTestFs].getName)
    val root = "countfs:///tmp/graft_test/writer_opens/t"
    SnapshotTable.drop(spark, root)
    val v = {
      val o = CountingTestFs.dataOpens.get
      val v = SnapshotTable.commit(spark, root,
        (1 to 30).map(i => (i.toLong, s"r$i")).toDF("id", "v").repartition(3),
        statsCols = Seq("id", "v"))
      assert(CountingTestFs.dataOpens.get - o === 3, "one footer open per new file")
      v
    }
    val entries = SnapshotTable.version(spark, root, v).dataEntries
    assert(entries.size === 3)
    assert(entries.forall(e => Seq("_rows", "_bytes", "_min_id", "_smin_v").forall(e.annots.contains)))
  }
}
