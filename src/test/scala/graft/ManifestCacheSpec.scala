package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.functions.col

import graft.lake.{DeltaInterop, IcebergInterop, Manifest, SnapshotTable}

/** `countfs://`: [[GraftTestFs]] under its own scheme, counting every
  * open and every create of a file under a `_manifests/` directory
  * (version manifests, publish tmps and fragments alike), and every
  * open of a file under a `staged/` directory (a wire client's staged
  * parquet, whose footer a commit reads).
  */
class CountingTestFs extends GraftTestFs {
  override def getUri: java.net.URI = java.net.URI.create("countfs:///")
  private def count(f: Path, n: AtomicInteger): Unit =
    if (f.toString.contains("/_manifests/")) { n.incrementAndGet(); () }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    count(f, CountingTestFs.opens)
    if (f.toString.contains("/staged/")) { CountingTestFs.stagedOpens.incrementAndGet(); () }
    if (f.toString.contains("/data/")) { CountingTestFs.dataOpens.incrementAndGet(); () }
    super.open(f, bufferSize)
  }
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    count(f, CountingTestFs.creates)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    count(f, CountingTestFs.creates)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object CountingTestFs {
  val opens = new AtomicInteger()
  val creates = new AtomicInteger()
  val stagedOpens = new AtomicInteger()
  val dataOpens = new AtomicInteger()
}

/** The parsed-manifest cache ([[Manifest]]) serves a version only while
  * it is provably the same file: reads of a settled version open no
  * manifest at all, and no drop, foreign commit or torn publish ever
  * makes it serve entries the file does not hold.
  */
class ManifestCacheSpec extends SparkSpec {
  import spark.implicits._

  private def conf = spark.sparkContext.hadoopConfiguration

  private def fresh(name: String): String = {
    conf.set("fs.countfs.impl", classOf[CountingTestFs].getName)
    val root = s"countfs:///tmp/graft_test/manifest_cache/$name"
    SnapshotTable.drop(spark, root)
    root
  }

  private def manifest(root: String, v: Int) = new Path(s"$root/_manifests/v$v.manifest")

  private def fs(root: String) = new Path(root).getFileSystem(conf)

  // past the racy window: a (length, mtime) match alone vouches for the file
  private def settle(): Unit = Thread.sleep(Manifest.RacyMs + 200)

  test("planning a filtered read of a version already read opens no manifest or fragment") {
    val root = fresh("plan")
    def rows(from: Int, to: Int, tag: String) =
      (from to to).map(i => (i.toLong, s"$tag$i")).toDF("id", "v").coalesce(1)
    SnapshotTable.commit(spark, root, rows(1, 50, "a"), statsCols = Seq("id"))
    SnapshotTable.commit(spark, root, rows(51, 100, "b"), statsCols = Seq("id"))
    settle()
    assert(SnapshotTable.read(spark, root).filter(col("id") === 7).count() === 1)
    val before = CountingTestFs.opens.get
    // the optimizer's SnapshotScanPruning consults the manifest on every pass
    val q = SnapshotTable.read(spark, root).filter(col("id") === 77)
    q.queryExecution.executedPlan
    assert(q.inputFiles.length === 1, "stats pruning must still drop the non-matching file")
    SnapshotTable.readWhere(spark, root, col("id") === 77).queryExecution.executedPlan
    SnapshotTable.schema(spark, root)
    SnapshotTable.tableStats(spark, root)
    assert(CountingTestFs.opens.get === before,
      "a settled version must be served without opening its manifest or fragments")
    assert(q.collect().map(_.getString(1)).toSeq === Seq("b77"))
  }

  test("a drop and re-create at the same root never serves the old entries") {
    // two real tables whose v1 manifests have equal length (equal-length
    // roots, same shape), planted in turn at a third root — with the
    // second one's mtime forced onto the first's, the (length, mtime)
    // of a v1 committed within the same clock millisecond
    val a = fresh("twin_a")
    val b = fresh("twin_b")
    SnapshotTable.commit(spark, a, Seq((1L, "a")).toDF("id", "v"))
    SnapshotTable.commit(spark, b, Seq((2L, "b")).toDF("id", "v"))
    val bytesA = readAll(manifest(a, 1))
    val bytesB = readAll(manifest(b, 1))
    assert(bytesA.length === bytesB.length && !bytesA.sameElements(bytesB))
    def plantAndSwap(root: String, dropTable: () => Unit): Unit = {
      plant(manifest(root, 1), bytesA)
      assert(SnapshotTable.dataFiles(spark, root, 1) === SnapshotTable.dataFiles(spark, a, 1))
      val mtime = fs(root).getFileStatus(manifest(root, 1)).getModificationTime
      dropTable()
      plant(manifest(root, 1), bytesB)
      fs(root).setTimes(manifest(root, 1), mtime, -1)
      val st = fs(root).getFileStatus(manifest(root, 1))
      assert(st.getLen === bytesA.length && st.getModificationTime === mtime)
      assert(SnapshotTable.dataFiles(spark, root, 1) === SnapshotTable.dataFiles(spark, b, 1))
      assert(SnapshotTable.read(spark, root).as[(Long, String)].collect().toSeq === Seq((2L, "b")))
    }
    // through the engine's drop, which purges the root's entries
    val r1 = fresh("twin_r")
    plantAndSwap(r1, () => SnapshotTable.drop(spark, r1))
    // and behind the engine's back: a raw recursive delete
    val r2 = fresh("twin_s")
    plantAndSwap(r2, () => { fs(r2).delete(new Path(r2), true); () })
  }

  test("a commit from another JVM is seen by the next read here") {
    val root = "/tmp/graft_test/manifest_cache/forked"
    SnapshotTable.drop(spark, root)
    SnapshotTable.commit(spark, root, Seq((0L, "seed")).toDF("id", "v"))
    settle()
    assert(SnapshotTable.read(spark, root).count() === 1) // v1 cached and settled
    val child = ForkedJvm.start("graft.tools.CommitRacer", Seq(root, "1", "1000", "rename"))
    val (code, log) = child.await()
    assert(code == 0 && log.contains("RACER_DONE 2"), log.takeRight(2000))
    assert(SnapshotTable.currentVersion(spark, root) === 2)
    assert(SnapshotTable.read(spark, root).as[(Long, String)].collect().toSet ===
      Set((0L, "seed"), (1000L, "racer-0")))
    assert(SnapshotTable.read(spark, root, 1).count() === 1)
  }

  test("a manifest read before its EOF marker is never cached") {
    val root = fresh("torn")
    SnapshotTable.commit(spark, root, Seq((1L, "a")).toDF("id", "v"))
    SnapshotTable.commit(spark, root, Seq((2L, "b")).toDF("id", "v"))
    val want = SnapshotTable.dataFiles(spark, root, 2)
    val full = readAll(manifest(root, 2))
    val text = new String(full, "UTF-8")
    assert(text.trim.endsWith("#graft.eof"))
    // same length and mtime as the complete file, no trailer: only the
    // EOF rule can keep the waited read out of the cache
    val torn = text.replace("#graft.eof", "#graft.pad").getBytes("UTF-8")
    val old = System.currentTimeMillis - 60000L
    plant(manifest(root, 3), torn)
    fs(root).setTimes(manifest(root, 3), old, -1)
    val completer = new Thread(() => {
      Thread.sleep(150)
      plant(manifest(root, 3), full)
      fs(root).setTimes(manifest(root, 3), old, -1)
    })
    completer.start()
    assert(SnapshotTable.dataFiles(spark, root, 3) === want) // waited for the trailer
    completer.join()
    val o1 = CountingTestFs.opens.get
    assert(SnapshotTable.dataFiles(spark, root, 3) === want)
    assert(CountingTestFs.opens.get > o1, "the read that waited must not have been cached")
    val o2 = CountingTestFs.opens.get
    assert(SnapshotTable.read(spark, root, 3).count() === 2)
    assert(CountingTestFs.opens.get === o2, "the complete manifest is cached once read")
  }

  test("a torn old manifest fails an export instead of reading as expired") {
    val root = fresh("torn_export")
    SnapshotTable.commit(spark, root, Seq((1L, "a")).toDF("id", "v"))
    SnapshotTable.commit(spark, root, Seq((2L, "b")).toDF("id", "v"))
    // v1 loses its trailer for good (a publish that died mid-copy); the
    // table was never exported, so no earlier export can stand in for it
    val text = new String(readAll(manifest(root, 1)), "UTF-8")
    plant(manifest(root, 1), text.replace("#graft.eof\n", "").getBytes("UTF-8"))
    assert(!fs(root).exists(new Path(s"$root/_iceberg")))
    val iceberg = intercept[IllegalStateException](IcebergInterop.writeMetadata(spark, root, 2))
    assert(iceberg.getMessage.contains("incomplete"), iceberg.getMessage)
    val out = "/tmp/graft_test/manifest_cache/torn_export_delta"
    val delta = intercept[IllegalStateException](DeltaInterop.writeLog(spark, root, out))
    assert(delta.getMessage.contains("incomplete"), delta.getMessage)
  }

  private def readAll(p: Path): Array[Byte] = {
    val in = p.getFileSystem(conf).open(p)
    try in.readAllBytes() finally in.close()
  }

  private def plant(p: Path, bytes: Array[Byte]): Unit = {
    val out = p.getFileSystem(conf).create(p, true)
    try out.write(bytes) finally out.close()
  }
}
