package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.lake.SnapshotTable

/** The one-jar-away object-store claim, pinned by INTERCEPTION
  * (VERDICT r9 item 7): [[GraftShiftedFs]] serves `graftshift://`
  * paths from a RELOCATED local directory, so any component that
  * takes a table path and touches it with `java.io` (or any other
  * local-path assumption outside the Hadoop FileSystem API) reads a
  * path that does not exist on the raw local disk and fails loudly.
  * A representative lake lifecycle — partitioned ingest, append,
  * MoR delete, CoW update, stats-pruned read, CDF diff, compaction,
  * time travel, expire — runs end-to-end against the shifted scheme;
  * its success plus the spelled-path-absent assertion is the
  * machine-checked form of "swap the scheme for s3a:// and it runs".
  */
class FsContractSpec extends SparkSpec {
  import spark.implicits._

  private val root = s"graftshift://${FsContractSpec.SpelledRoot}"

  private def enable(): Unit = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftshift.impl", classOf[GraftShiftedFs].getName)
    // fresh store per run
    val store = new java.io.File(GraftShiftedFs.StoreRoot)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    if (store.exists) rm(store)
    GraftShiftedFs.ops.clear()
  }

  test("full lake lifecycle on a relocated filesystem — no local-path bypass") {
    enable()
    val days = Seq("2024-01-01", "2024-01-02", "2024-01-03")
    val rows = for (d <- days; i <- 1 to 40)
      yield (d, i.toLong, s"u${i % 7}", i * 1.5)
    val df = rows.toDF("day", "id", "user", "value")

    // ingest + append + row-level ops + maintenance, all through the
    // scheme that only the FileSystem API can resolve
    SnapshotTable.commit(spark, root, df, statsCols = Seq("id"))
    SnapshotTable.commit(spark, root,
      Seq(("2024-01-04", 200L, "u1", 9.0)).toDF("day", "id", "user", "value"))
    SnapshotTable.deleteWhereMor(spark, root, col("id") === 7L)
    SnapshotTable.updateWhere(spark, root, col("id") === 8L,
      Map("value" -> lit(88.0)))
    assert(SnapshotTable.read(spark, root).count() == 118) // 121 - 3 deleted

    // stats pruning still works through the shifted scheme
    val pruned = SnapshotTable.readWhere(spark, root, col("id") > 100L)
    assert(pruned.count() == 1)

    // CDF across the row-level ops
    val ch = SnapshotTable.changes(spark, root, 1, 4)
      .groupBy("change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // inserts: the appended row + the updated after-image;
    // deletes: 3 MoR-deleted rows + the updated before-image
    assert(ch == Map("insert" -> 4L, "delete" -> 6L), ch.toString)

    // delete-file consolidation before the fold: two more trickle
    // deletes, then 3 files → 1 with zero data movement — through the
    // shifted scheme
    SnapshotTable.deleteWhereMor(spark, root, col("id") === 9L)
    SnapshotTable.deleteWhereMor(spark, root, col("id") === 10L)
    val vdc = SnapshotTable.compactDeleteFiles(spark, root)
    assert(SnapshotTable.deleteFiles(spark, root, vdc).size == 1)
    assert(SnapshotTable.read(spark, root).count() == 112) // 118 - 6 more deleted

    // compaction folds the MoR deletes; time travel intact; expire
    // physically deletes through the FS
    val vc = SnapshotTable.compactDeletes(spark, root)
    assert(SnapshotTable.deleteFiles(spark, root, vc).isEmpty)
    assert(SnapshotTable.read(spark, root, 1).count() == 120)

    // bin-packing OPTIMIZE through the scheme (all files small)
    val vp = SnapshotTable.compactSmallFiles(spark, root,
      smallBytes = Long.MaxValue, targetBytes = 8L << 30)
    assert(vp > vc && SnapshotTable.read(spark, root).count() == 112)

    SnapshotTable.expire(spark, root, keepLast = 2)
    assert(SnapshotTable.read(spark, root).count() == 112)

    // orphan reclaim: the distributed listing + delete tasks rebuild
    // the Hadoop conf on executors — a java.io assumption anywhere in
    // that path would miss the shifted store entirely. Plant debris,
    // reclaim it, and prove the table is untouched.
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val debris = new Path(s"$root/data/c-crashed/stray.parquet")
    val out = fs.create(debris, false)
    try out.write("debris".getBytes("UTF-8")) finally out.close()
    val reclaimed = SnapshotTable.removeOrphans(spark, root, graceMs = 0)
    assert(reclaimed.exists(_.endsWith("stray.parquet")),
      s"planted debris must be found through the shifted scheme: $reclaimed")
    assert(!fs.exists(debris))
    assert(SnapshotTable.read(spark, root).count() == 112)

    // THE interception assertions: nothing ever materialized at the
    // spelled path (a java.io bypass would have), everything lives in
    // the relocated store, and the recorded FS traffic covers both
    // manifest and data I/O
    assert(!new java.io.File(FsContractSpec.SpelledRoot).exists,
      "spelled path exists on raw disk — some component bypassed the FileSystem API")
    val store = new java.io.File(
      GraftShiftedFs.StoreRoot + FsContractSpec.SpelledRoot + "/_manifests")
    assert(store.exists, s"relocated store missing manifests at $store")
    import scala.jdk.CollectionConverters._
    val ops = GraftShiftedFs.ops.keySet.asScala.toSet
    assert(ops.exists(p => p.contains("_manifests") && p.endsWith(".manifest")),
      s"manifest I/O not observed through the FS: $ops")
    assert(ops.exists(_.contains("/data/")),
      s"data-file I/O not observed through the FS")
  }
  test("hidden-partitioned commit on the relocated filesystem") {
    enable()
    val proot = FsContractSpec.SpelledRoot + "_part"
    SnapshotTable.drop(spark, s"graftshift://$proot")
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00")),
      (2L, java.sql.Timestamp.valueOf("2024-01-02 10:00:00"))).toDF("id", "ts")
    // the partitioned write's recursive manifest listing must go
    // through listStatus (listFiles' LocatedFileStatus permission
    // path throws on non-"file" schemes)
    SnapshotTable.commitPartitionedByDay(spark, s"graftshift://$proot", df, "ts")
    assert(SnapshotTable.read(spark, s"graftshift://$proot").count() == 2)
    assert(SnapshotTable.version(spark, s"graftshift://$proot", 1).dataEntries
      .map(e => (e.path, e.annots))
      .forall(_._2.contains("_graft_day")))
    assert(!new java.io.File(proot).exists,
      "spelled path exists on raw disk — partitioned write bypassed the FS API")
  }
}

object FsContractSpec {
  val SpelledRoot = "/tmp/graft_fs_contract/table"
}

/** RawLocalFileSystem under `graftshift://` whose storage is
  * RELOCATED: every path is served from [[GraftShiftedFs.StoreRoot]]
  * + path, and every resolution is recorded. See [[FsContractSpec]].
  */
class GraftShiftedFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftshift:///")

  override def pathToFile(path: Path): java.io.File = {
    // idempotent: statuses constructed by the superclass may already
    // carry the store prefix before unshift() strips it
    val p = path.toUri.getPath
    val rel = if (p.startsWith(GraftShiftedFs.StoreRoot)) p
      else GraftShiftedFs.StoreRoot + p
    GraftShiftedFs.ops.put(p.stripPrefix(GraftShiftedFs.StoreRoot),
      java.lang.Boolean.TRUE)
    new java.io.File(rel)
  }

  // the superclass builds FileStatus paths from the RESOLVED files;
  // strip the relocation so callers only ever see logical paths
  private def unshift(st: org.apache.hadoop.fs.FileStatus) = {
    val p = st.getPath.toUri.getPath
    if (p.startsWith(GraftShiftedFs.StoreRoot))
      st.setPath(new Path(
        "graftshift://" + p.stripPrefix(GraftShiftedFs.StoreRoot)))
    st
  }

  override def getFileStatus(f: Path): org.apache.hadoop.fs.FileStatus =
    unshift(super.getFileStatus(f))

  override def listStatus(f: Path): Array[org.apache.hadoop.fs.FileStatus] =
    super.listStatus(f).map(unshift)
}

object GraftShiftedFs {
  val StoreRoot = "/tmp/graft_shift_store"
  val ops = new ConcurrentHashMap[String, java.lang.Boolean]()
}
