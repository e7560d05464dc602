package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.col

import graft.lake.{Manifest, SnapshotTable}

/** Metadata round trips per commit: how many files under `_manifests/`
  * one commit of each kind opens and creates ([[CountingTestFs]]),
  * each measured after every version on disk is past the racy window.
  * The counts are pinned: a commit path that starts re-reading a
  * manifest, or writes one more file, shows here as a changed count.
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
}
