package graft

import org.apache.hadoop.fs.Path
import graft.lake.{CommitArbiter, LockFileCas, SnapshotTable}

/** An object-store-shaped filesystem for the suite: rename is
  * COPY+DELETE that silently clobbers an existing destination and
  * reports success — the S3-class behavior that makes rename-as-CAS
  * unsafe (two committers both "win"). Everything else is local disk.
  */
class NonAtomicRenameFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftnar:///")
  override def rename(src: Path, dst: Path): Boolean =
    exists(src) &&
      org.apache.hadoop.fs.FileUtil.copy(this, src, this, dst,
        true /* deleteSource */, true /* overwrite */, getConf)
}

/** VERDICT r6 items 6+7: the commit arbiter contract on a store whose
  * rename cannot arbitrate, and optimistic multi-writer appends.
  */
class CommitConcurrencySpec extends SparkSpec {
  import spark.implicits._

  private def conf = spark.sparkContext.hadoopConfiguration

  private def withArbiter[A](name: String)(body: => A): A = {
    conf.set(CommitArbiter.ConfKey, name)
    try body finally conf.unset(CommitArbiter.ConfKey)
  }

  conf.set("fs.graftnar.impl", classOf[NonAtomicRenameFs].getName)

  test("the hazard: a non-atomic store's rename clobbers and lies") {
    val dir = new Path("graftnar:///tmp/graft_test/nar_hazard")
    val fs = dir.getFileSystem(conf)
    fs.delete(dir, true); fs.mkdirs(dir)
    def put(name: String, body: String): Path = {
      val p = new Path(dir, name)
      val out = fs.create(p, true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
      p
    }
    val dst = put("dst", "winner")
    val tmp = put("tmp", "late writer")
    // rename onto an EXISTING destination: succeeds and overwrites —
    // the exists-check + rename CAS has no teeth on this store
    assert(fs.rename(tmp, dst), "object-store rename reports success")
    val in = fs.open(dst)
    val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    assert(body === "late writer", "…and silently clobbered the winner")
  }

  test("LockFileCas: at most one publisher wins per destination") {
    val dir = new Path("graftnar:///tmp/graft_test/nar_lock")
    val fs = dir.getFileSystem(conf)
    fs.delete(dir, true); fs.mkdirs(dir)
    def put(name: String, body: String): Path = {
      val p = new Path(dir, name)
      val out = fs.create(p, true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
      p
    }
    val t1 = put("t1", "first")
    val t2 = put("t2", "second")
    val dst = new Path(dir, "v1.manifest")
    assert(LockFileCas.publish(fs, t1, dst) === true)
    assert(LockFileCas.publish(fs, t2, dst) === false)
    val in = fs.open(dst)
    val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    assert(body === "first", "loser must not replace the winner's manifest")
  }

  test("optimistic multi-writer appends: 2 threads x 25 commits all serialize, no loss") {
    val root = "/tmp/graft_test/concurrent_appends"
    SnapshotTable.drop(spark, root)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec = scala.concurrent.ExecutionContext.fromExecutor(pool)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val writers = (0 until 2).map { w =>
      Future {
        (0 until 25).map { i =>
          SnapshotTable.commitAppend(spark, root,
            Seq(w * 1000 + i).toDF("x"),
            meta = Map("writer" -> w.toString, "seq" -> i.toString))
        }
      }
    }
    val versions = Await.result(Future.sequence(writers), 600.seconds).flatten
    pool.shutdown()
    // all 50 commits landed, serialized into exactly versions 1..50
    assert(versions.sorted === (1 to 50))
    assert(SnapshotTable.currentVersion(spark, root) === 50)
    // no row lost, none duplicated
    val rows = SnapshotTable.read(spark, root).collect().map(_.getInt(0)).sorted
    val expected = (0 until 2).flatMap(w => (0 until 25).map(i => w * 1000 + i)).sorted
    assert(rows.toSeq === expected)
    // every writer's per-commit meta is present exactly once
    val metas = (1 to 50).map(v => SnapshotTable.version(spark, root, v).header)
      .map(m => (m("writer"), m("seq")))
    assert(metas.distinct.size === 50)
  }

  test("a reader blocks on a torn (mid-publish) manifest until it completes") {
    // Deterministic replay of the race the lockfile round caught
    // intermittently: during a non-atomic publish a rebasing committer
    // could read a truncated manifest prefix and silently drop the
    // tail fragment refs. The EOF trailer must make the reader WAIT.
    val root = "/tmp/graft_test/torn_manifest"
    SnapshotTable.drop(spark, root)
    SnapshotTable.commit(spark, root, Seq(1, 2, 3).toDF("x"))
    val mdir = new java.io.File(s"$root/_manifests")
    val v1 = new java.io.File(mdir, "v1.manifest")
    val full = new String(java.nio.file.Files.readAllBytes(v1.toPath), "UTF-8")
    assert(full.trim.endsWith("#graft.eof"), "new manifests must carry the trailer")
    // stage v2 as a TORN copy of v1: header+partial body, no trailer
    val lines = full.linesIterator.toVector
    val v2 = new java.io.File(mdir, "v2.manifest")
    java.nio.file.Files.write(v2.toPath,
      lines.dropRight(2).mkString("\n").getBytes("UTF-8"))
    val completer = new Thread(() => {
      Thread.sleep(150)
      java.nio.file.Files.write(v2.toPath, full.getBytes("UTF-8"))
    })
    completer.start()
    // the read must land AFTER completion: full file set, full rows
    assert(SnapshotTable.dataFiles(spark, root, 2) ===
      SnapshotTable.dataFiles(spark, root, 1))
    assert(SnapshotTable.read(spark, root).count() === 3)
    completer.join()
    // and an EMPTY in-flight manifest is waited out the same way
    val v3 = new java.io.File(mdir, "v3.manifest")
    java.nio.file.Files.write(v3.toPath, Array.empty[Byte])
    val completer3 = new Thread(() => {
      Thread.sleep(150)
      java.nio.file.Files.write(v3.toPath, full.getBytes("UTF-8"))
    })
    completer3.start()
    assert(SnapshotTable.dataFiles(spark, root, 3) ===
      SnapshotTable.dataFiles(spark, root, 1))
    completer3.join()
  }

  test("the lockfile arbiter also serializes multi-writer appends on the non-atomic store") {
    withArbiter("lockfile") {
      val root = "graftnar:///tmp/graft_test/nar_appends"
      SnapshotTable.drop(spark, root)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      implicit val ec = scala.concurrent.ExecutionContext.fromExecutor(pool)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      val writers = (0 until 2).map { w =>
        Future {
          (0 until 5).map(i => SnapshotTable.commitAppend(spark, root,
            Seq(w * 100 + i).toDF("x")))
        }
      }
      val versions = Await.result(Future.sequence(writers), 300.seconds).flatten
      pool.shutdown()
      assert(versions.sorted === (1 to 10))
      assert(SnapshotTable.read(spark, root).count() === 10)
    }
  }
}
