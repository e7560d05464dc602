package graft.tools

import graft.GraftSession
import graft.lake.{CommitArbiter, SnapshotTable}

/** The SECOND PROCESS of the cross-process commit race
  * (CrossProcessCommitSpec, VERDICT r16 task 8). Args:
  * `<root> <nCommits> <idBase> <scheme>` — runs nCommits optimistic
  * commitAppends of one row each against the table at `root` under
  * the named arbiter scheme, then prints `RACER_DONE <version>`.
  * The host JVM races its own appends on the same table; the spec
  * asserts v1..v(1+2n) with zero row loss.
  */
object CommitRacer {
  def main(args: Array[String]): Unit = {
    val Array(root, nStr, baseStr, scheme) = args.take(4)
    val n = nStr.toInt
    val base = baseStr.toLong
    val spark = GraftSession.build(4)
    spark.sparkContext.hadoopConfiguration.set(CommitArbiter.ConfKey, scheme)
    import spark.implicits._
    (0 until n).foreach { i =>
      SnapshotTable.commitAppend(spark, root,
        Seq((base + i, s"racer-$i")).toDF("id", "v"))
    }
    println(s"RACER_DONE ${SnapshotTable.currentVersion(spark, root)}")
    spark.stop()
  }
}
