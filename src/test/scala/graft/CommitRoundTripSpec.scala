package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.col

import graft.endpoint.RestCatalog
import graft.lake.{DeltaInterop, IcebergInterop, Manifest, SnapshotTable}
import graft.sources.PersistentCatalog

/** Metadata round trips per commit: how many files under `_manifests/`
  * one commit of each kind opens and creates ([[CountingTestFs]]),
  * each measured after every version on disk is past the racy window.
  * The counts are pinned: a commit path that starts re-reading a
  * manifest, or writes one more file, shows here as a changed count.
  * Wire commits through the REST catalog also pin how often they open
  * the client's staged files (footer reads). Reads made right after a
  * commit are pinned too: inside [[Manifest.RacyMs]] of its publish,
  * every lookup of the new version re-reads its manifest, so their
  * opens count the lookups one call makes.
  */
class CommitRoundTripSpec extends SparkSpec {
  import spark.implicits._

  private def conf = spark.sparkContext.hadoopConfiguration

  // (opens, creates) per commit kind. Opens include the first parse of
  // the version the previous step wrote (its manifest and fragments):
  // a commit never reads back what it published.
  private val Pinned: Map[String, (Int, Int)] = Map(
    "append" -> (2, 2), "overwrite" -> (3, 2), "commitAppend" -> (2, 2),
    "commitFiles" -> (3, 2), "mor_delete" -> (4, 2), "eq_upsert" -> (5, 3),
    "compact_deletes" -> (7, 3), "compact_small" -> (6, 2), "rollback" -> (2, 1),
    "branch_commit" -> (3, 2), "add_column" -> (0, 1), "rename_column" -> (3, 1))

  test("each commit kind opens and creates a fixed number of _manifests files") {
    conf.set("fs.countfs.impl", classOf[CountingTestFs].getName)
    val root = "countfs:///tmp/graft_test/commit_round_trips/t"
    val staged = "countfs:///tmp/graft_test/commit_round_trips/staged"
    SnapshotTable.drop(spark, root)
    SnapshotTable.drop(spark, staged)
    def rows(from: Int, to: Int) = (from to to).map(i => (i.toLong, s"r$i")).toDF("id", "v")
    val counts = scala.collection.mutable.LinkedHashMap.empty[String, (Int, Int)]
    def measure(kind: String)(commit: => Int): Unit = {
      Thread.sleep(Manifest.RacyMs + 200) // every version read so far is settled
      val (o, c) = (CountingTestFs.opens.get, CountingTestFs.creates.get)
      commit
      counts(kind) = (CountingTestFs.opens.get - o, CountingTestFs.creates.get - c)
    }
    SnapshotTable.commit(spark, root, rows(1, 20).coalesce(2))
    measure("append")(SnapshotTable.commit(spark, root, rows(21, 30).coalesce(1)))
    measure("overwrite")(SnapshotTable.commit(spark, root, rows(1, 40).coalesce(2), append = false))
    measure("commitAppend")(SnapshotTable.commitAppend(spark, root, rows(41, 45).coalesce(1)))
    rows(46, 50).coalesce(1).write.parquet(staged)
    val stagedFile = new Path(staged).getFileSystem(conf).listStatus(new Path(staged))
      .map(_.getPath.toString).filter(_.endsWith(".parquet")).head
    measure("commitFiles")(SnapshotTable.commitFiles(spark, root, Seq(stagedFile)))
    measure("mor_delete")(SnapshotTable.deleteWhereMor(spark, root, col("id") < 3))
    measure("eq_upsert")(SnapshotTable.upsertEq(spark, root, Seq("id"), rows(5, 7)))
    measure("compact_deletes")(SnapshotTable.compactDeletes(spark, root))
    measure("compact_small")(SnapshotTable.compactSmallFiles(spark, root))
    measure("rollback")(SnapshotTable.rollback(spark, root, 2))
    SnapshotTable.createBranch(spark, root, "audit")
    measure("branch_commit")(SnapshotTable.commitToBranch(spark, root, "audit", rows(60, 61)))
    measure("add_column")(SnapshotTable.addColumn(spark, root, "extra", "string"))
    measure("rename_column")(SnapshotTable.renameColumn(spark, root, "v", "w"))
    assert(SnapshotTable.currentVersion(spark, root) === 12)
    assert(counts.toMap === Pinned)
  }

  // _manifests/ opens of one call made right after an overwrite commit
  // (the new version: its manifest and its one fragment), every older
  // version settled: the first parse plus one re-read per further lookup
  private val RacyPinned: Map[String, Int] = Map(
    "read_schema" -> 2, "iceberg_metadata" -> 2, "delta_log" -> 2)

  test("a call right after a commit looks up the new version a fixed number of times") {
    conf.set("fs.countfs.impl", classOf[CountingTestFs].getName)
    val root = "countfs:///tmp/graft_test/commit_round_trips/racy"
    val export = "/tmp/graft_test/commit_round_trips/racy_delta"
    SnapshotTable.drop(spark, root)
    def rows(n: Int) = (1 to n).map(i => (i.toLong, s"r$i")).toDF("id", "v").coalesce(1)
    SnapshotTable.commit(spark, root, rows(5))
    val fs = new Path(root).getFileSystem(conf)
    val counts = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    def measure(kind: String)(call: Int => Unit): Unit = {
      var attempts = 0
      while (!counts.contains(kind)) {
        attempts += 1
        Thread.sleep(Manifest.RacyMs + 200)
        val cur = SnapshotTable.currentVersion(spark, root)
        (1 to cur).foreach(SnapshotTable.dataFiles(spark, root, _)) // settle every version
        val v = SnapshotTable.commit(spark, root, rows(5 + attempts), append = false)
        val o = CountingTestFs.opens.get
        call(v)
        val opened = CountingTestFs.opens.get - o
        val mtime = fs.getFileStatus(Manifest.path(root, s"v$v")).getModificationTime
        // a lookup after the window re-reads nothing: such a run is short
        if (System.currentTimeMillis - mtime < Manifest.RacyMs) counts(kind) = opened
        else assert(attempts < 3, s"$kind outlived the racy window $attempts times")
      }
    }
    measure("read_schema")(v => SnapshotTable.read(spark, root, v).schema)
    measure("iceberg_metadata")(v => IcebergInterop.writeMetadata(spark, root, v))
    measure("delta_log")(v => DeltaInterop.writeLog(spark, root, export, v))
    assert(counts.toMap === RacyPinned)
  }

  // (manifest opens, manifest creates, staged-file opens) per wire commit;
  // each includes rendering the response's metadata for the new version
  private val WirePinned: Map[String, (Int, Int, Int)] = Map(
    "add_snapshot" -> (4, 2, 2), "set_snapshot_ref" -> (1, 0, 0),
    "transaction" -> (1, 4, 2))

  test("each wire commit opens and creates a fixed number of files") {
    conf.set("fs.countfs.impl", classOf[CountingTestFs].getName)
    val area = "countfs:///tmp/graft_test/wire_round_trips"
    val registry = "/tmp/graft_test/wire_round_trips_registry"
    val db = "graft_wire_rt"
    Seq(area, registry).foreach(d => new Path(d).getFileSystem(conf).delete(new Path(d), true))
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    PersistentCatalog.save(spark, registry, db)
    val port = RestCatalog.serve(spark, registry, db)
    try {
      val base = s"/v1/namespaces/$db/tables"
      Seq("a", "b").foreach { t =>
        SnapshotTable.commit(spark, s"$area/$t",
          (1 to 10).map(i => (i.toLong, s"r$i")).toDF("id", "v").coalesce(1))
        val (c, r) = RestCatalog.post(port, "/v1/tables",
          s"""{"name":"$t","format":"graft-snapshot","location":"$area/$t"}""")
        assert(c == 201, r)
        assert(RestCatalog.get(port, s"$base/$t")._1 == 200)
      }
      def stage(tag: String): String = {
        val dir = s"$area/staged/$tag"
        Seq((100L, tag)).toDF("id", "v").coalesce(1).write.parquet(dir)
        new Path(dir).getFileSystem(conf).listStatus(new Path(dir))
          .map(_.getPath.toString).filter(_.endsWith(".parquet")).head
      }
      def addSnapshot(file: String, snap: Int): String =
        s"""{"requirements":[{"type":"assert-ref-snapshot-id","ref":"main","snapshot-id":$snap}],""" +
          s""""updates":[{"action":"add-snapshot","snapshot":{"added-data-files":["$file"]}}]}"""
      val counts = scala.collection.mutable.LinkedHashMap.empty[String, (Int, Int, Int)]
      def measure(kind: String, path: String, body: String, status: Int): Unit = {
        Thread.sleep(Manifest.RacyMs + 200)
        val (o, c, st) = (CountingTestFs.opens.get, CountingTestFs.creates.get,
          CountingTestFs.stagedOpens.get)
        val (code, resp) = RestCatalog.post(port, path, body)
        assert(code == status, resp)
        counts(kind) = (CountingTestFs.opens.get - o, CountingTestFs.creates.get - c,
          CountingTestFs.stagedOpens.get - st)
      }
      measure("add_snapshot", s"$base/a", addSnapshot(stage("s1"), 1), 200)
      measure("set_snapshot_ref", s"$base/a",
        """{"updates":[{"action":"set-snapshot-ref","ref-name":"rel","type":"tag","snapshot-id":2}]}""",
        200)
      val (fa, fb) = (stage("s2"), stage("s3"))
      measure("transaction", "/v1/transactions/commit",
        s"""{"table-changes":[${Seq("a" -> (fa, 2), "b" -> (fb, 1)).map { case (t, (f, v)) =>
          s"""{"identifier":{"namespace":["$db"],"name":"$t"},${addSnapshot(f, v).drop(1)}"""
        }.mkString(",")}]}""", 204)
      assert(SnapshotTable.currentVersion(spark, s"$area/a") === 3)
      assert(SnapshotTable.currentVersion(spark, s"$area/b") === 2)
      assert(counts.toMap === WirePinned)
    } finally {
      RestCatalog.stop(registry)
      spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    }
  }
}
