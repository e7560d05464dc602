package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.lake.{CommitArbiter, LakeSink, Maintenance, SnapshotTable}

/** The FULL lifecycle on MinIO-shaped storage semantics — the
  * reference's actual store (RUNBOOK.md §2: MinIO, where rename is
  * copy+delete and cannot arbitrate). `graftnar://` renames by
  * copy+overwrite+lie ([[NonAtomicRenameFs]]) and every commit
  * publishes through the lock-file CAS arbiter — so commit, row-level
  * write, schema evolution, the maintenance pipeline, and the
  * streaming sink all run under object-store semantics as a matrix
  * dimension, not just the CAS unit contract
  * (CommitConcurrencySpec/FsContractSpec).
  */
class NarMatrixSpec extends SparkSpec {
  import spark.implicits._

  private def conf = spark.sparkContext.hadoopConfiguration
  conf.set("fs.graftnar.impl", classOf[NonAtomicRenameFs].getName)

  private def withLockfile[A](body: => A): A = {
    conf.set(CommitArbiter.ConfKey, "lockfile")
    try body finally conf.unset(CommitArbiter.ConfKey)
  }

  private def freshRoot(name: String): String = {
    val r = s"graftnar:///tmp/graft_test/nar_matrix/$name"
    SnapshotTable.drop(spark, r)
    r
  }

  test("commit / row-level writes / schema evolution under lock-file CAS") {
    withLockfile {
      val root = freshRoot("lifecycle")
      SnapshotTable.commit(spark, root,
        (1 to 40).map(i => (i.toLong, s"v$i", i % 5)).toDF("id", "v", "grp")
          .repartition(2), statsCols = Seq("id"))
      SnapshotTable.commitAppend(spark, root,
        (41 to 50).map(i => (i.toLong, s"v$i", i % 5)).toDF("id", "v", "grp"))
      assert(SnapshotTable.read(spark, root).count() === 50)
      // merge-on-read delete: positions resolve across the scheme
      SnapshotTable.deleteWhereMor(spark, root, col("id") <= 5)
      assert(SnapshotTable.read(spark, root).count() === 45)
      // equality delete: sequence-numbered suppression
      SnapshotTable.deleteWhereEq(spark, root, Seq("id"),
        Seq(6L, 7L).toDF("id"))
      assert(SnapshotTable.read(spark, root).count() === 43)
      // schema evolution: rename + widen + add, all metadata-only
      SnapshotTable.renameColumn(spark, root, "v", "label")
      SnapshotTable.widenColumn(spark, root, "grp", "bigint")
      SnapshotTable.addColumn(spark, root, "score", "double")
      val got = SnapshotTable.read(spark, root)
      assert(got.schema.map(f => f.name -> f.dataType.simpleString) ===
        Seq("id" -> "bigint", "label" -> "string", "grp" -> "bigint",
          "score" -> "double"))
      assert(got.count() === 43)
      // time travel reads pre-delete content with the old schema
      assert(SnapshotTable.read(spark, root, 2).count() === 50)
      assert(SnapshotTable.read(spark, root, 2).columns.toSeq
        === Seq("id", "v", "grp"))
      // every version manifest was published through the lock-file
      // arbiter on a store whose rename lies — prove the chain intact
      val cur = SnapshotTable.currentVersion(spark, root)
      assert(cur === 7)
      (1 to cur).foreach(v =>
        assert(SnapshotTable.version(spark, root, v).header.nonEmpty))
    }
  }

  test("maintenance pipeline (fold / pack / expire / orphans) under lock-file CAS") {
    withLockfile {
      val root = freshRoot("maintenance")
      // several small commits → pack work; a trickle delete → fold work
      (0 until 4).foreach { b =>
        SnapshotTable.commitAppend(spark, root,
          (b * 10 until (b + 1) * 10).map(i => (i.toLong, s"r$i")).toDF("id", "v"))
      }
      SnapshotTable.deleteWhereMor(spark, root, col("id") === 3L)
      // orphan debris on the nar scheme
      val stray = new Path(s"$root/data/c-crashed/stray.parquet")
      val fs = stray.getFileSystem(conf)
      val out = fs.create(stray, false)
      try out.write("debris".getBytes("UTF-8")) finally out.close()
      val report = Maintenance.run(spark, root, Maintenance.Policy(
        maxDeleteRatio = 0.0, // force the delete fold
        smallBytes = Long.MaxValue, targetBytes = 8L << 30, // force packing
        keepVersions = 2, orphanGraceMs = 0))
      assert(report.deletesFoldedVersion.nonEmpty, report.toString)
      assert(report.packedVersion.nonEmpty, report.toString)
      assert(report.expiredVersions.nonEmpty, report.toString)
      assert(report.orphansReclaimed >= 1, report.toString)
      assert(!fs.exists(stray), "debris must be reclaimed on the nar scheme")
      // content preserved through the whole pipeline
      val ids = SnapshotTable.read(spark, root).select("id")
        .as[Long].collect().sorted
      assert(ids.toSeq === (0L until 40L).filterNot(_ == 3L))
    }
  }

  test("REST wire commits + maintain-over-the-wire under lock-file CAS") {
    import graft.endpoint.RestCatalog
    withLockfile {
      val root = freshRoot("wire")
      SnapshotTable.commit(spark, root,
        (1 to 20).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
      val registry = "/tmp/graft_test/nar_matrix_registry"
      SnapshotTable.drop(spark, registry)
      spark.sql("CREATE DATABASE IF NOT EXISTS graft")
      graft.sources.PersistentCatalog.save(spark, registry)
      val port = RestCatalog.serve(spark, registry)
      val (cReg, _) = RestCatalog.post(port, "/v1/tables",
        s"""{"name":"nar_wire","format":"graft-snapshot","location":"$root"}""")
      assert(cReg == 201)
      val base = "/v1/namespaces/graft/tables/nar_wire"
      // the "external engine" stages parquet ON THE NAR SCHEME and
      // lands its snapshot entirely over HTTP — the server publishes
      // the manifest through the lock-file arbiter (rename lies here)
      def stage(tag: String, rows: Seq[(Long, String)]): Seq[String] = {
        val dir = s"$root/data/wire-$tag"
        rows.toDF("id", "v").coalesce(1).write.mode("overwrite").parquet(dir)
        val p = new Path(dir)
        p.getFileSystem(conf).listStatus(p).map(_.getPath.toString)
          .filter(_.endsWith(".parquet")).sorted.toSeq
      }
      def snapId: Long = {
        val (c, ltr) = RestCatalog.get(port, base)
        assert(c == 200, ltr)
        Json.long(Json.at(Json.parse(ltr), "metadata", "current-snapshot-id")).get
      }
      def wireCommit(files: Seq[String], asserted: Long): (Int, String) =
        RestCatalog.post(port, base,
          s"""{"requirements":[{"type":"assert-ref-snapshot-id","ref":"main","snapshot-id":$asserted}],
             |"updates":[{"action":"add-snapshot","snapshot":{"summary":{"operation":"append"},
             |"added-data-files":[${files.map(f => "\"" + f + "\"").mkString(",")}]}}]}""".stripMargin)
      val s1 = snapId
      val (c1, r1) = wireCommit(stage("a", Seq((21L, "w21"))), s1)
      assert(c1 == 200, r1)
      // a CONCURRENT engine-side committer advances the chain between
      // the client's read and its commit: the stale wire commit must
      // CAS-fail (409), the refreshed one lands — the lock-file
      // arbiter decides both on a store whose rename cannot
      val stale = snapId
      SnapshotTable.commitAppend(spark, root, Seq((22L, "e22")).toDF("id", "v"))
      val staged = stage("b", Seq((23L, "w23")))
      val (cStale, rStale) = wireCommit(staged, stale)
      assert(cStale == 409, rStale)
      val (cFresh, rFresh) = wireCommit(staged, snapId)
      assert(cFresh == 200, rFresh)
      assert(SnapshotTable.read(spark, root).count() === 23)
      // maintenance over the wire, same lock-file CAS chain
      val (cM, rM) = RestCatalog.post(port, s"/v1/tables/nar_wire/maintain",
        """{"small_bytes": 9223372036854775807, "target_bytes": 8589934592,
          |"keep_versions": 2, "orphan_grace_ms": 0}""".stripMargin)
      assert(cM == 200, rM)
      assert(SnapshotTable.read(spark, root).count() === 23)
      assert(SnapshotTable.read(spark, root).select("id").as[Long]
        .collect().sorted.toSeq === ((1L to 23L)))
    }
  }

  test("streaming sink + interleaved compaction under lock-file CAS") {
    withLockfile {
      val root = freshRoot("stream")
      val ckpt = "/tmp/graft_test/nar_matrix_ckpt"
      SnapshotTable.drop(spark, ckpt)
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[(Long, String)]
      val q = LakeSink.start(input.toDF().toDF("id", "v"), root, ckpt)
      try {
        input.addData((1L, "a"), (2L, "b")); q.processAllAvailable()
        input.addData((3L, "c")); q.processAllAvailable()
        // nightly optimize lands between micro-batches, on the same
        // lock-file CAS chain the sink publishes through
        val before = SnapshotTable.dataFiles(
          spark, root, SnapshotTable.currentVersion(spark, root)).size
        val vOpt = SnapshotTable.compactSmallFiles(spark, root,
          smallBytes = Long.MaxValue, targetBytes = 8L << 30)
        assert(SnapshotTable.dataFiles(spark, root, vOpt).size < before)
        input.addData((4L, "d")); q.processAllAvailable()
        val got = SnapshotTable.read(spark, root).as[(Long, String)]
          .collect().sorted
        assert(got.toSeq === Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
      } finally q.stop()
    }
  }
}
