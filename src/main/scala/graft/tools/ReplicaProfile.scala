package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.lake.{LakeSink, SnapshotTable}

/** Phase-level timing of the replicaSync loop at a given SF dir —
  * attribution for the replica streaming fixed cost (VERDICT r10
  * item 4). Not part of the registry; run by hand:
  * `runMain graft.tools.ReplicaProfile /root/testdata/sf0.1`
  */
object ReplicaProfile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val s = GraftSession.build()
    try run(s, dir) finally s.stop()
  }

  private def t[A](label: String)(body: => A): A = {
    val t0 = System.nanoTime()
    val r = body
    println(f"[profile] $label%-28s ${(System.nanoTime() - t0) / 1e9}%.3f s")
    r
  }

  def run(s: SparkSession, dir: String): Unit = {
    val base = "/tmp/graft_profile/replica"
    val (src, dst, ckpt) = (s"$base/src", s"$base/dst", s"$base/ckpt")
    Seq(src, dst, ckpt).foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    }
    val ev = graft.sources.Tables.load(s, dir, "events")
    val d11 = lit("2024-01-11").cast("timestamp")
    val d21 = lit("2024-01-21").cast("timestamp")
    val total = t("warm: events count")(ev.count())
    println(s"[profile] events rows: $total")
    t("commit v1 (src)")(SnapshotTable.commit(s, src, ev.filter(col("ts") < d11)))
    locally { // matches replicaSync: no state stores in the CDC query
      val cdc = s.readStream.format("graft-snapshot").option("path", src).load()
      val q = t("query start")(LakeSink.startCdc(cdc, dst, ckpt))
      try {
        t("wave 1 (v1 -> replica)")(q.processAllAvailable())
        t("commit v2 (src)")(
          SnapshotTable.commit(s, src, ev.filter(col("ts") >= d11 && col("ts") < d21)))
        t("wave 2")(q.processAllAvailable())
        t("commit v3 + delete (src)") {
          SnapshotTable.commit(s, src, ev.filter(col("ts") >= d21))
          SnapshotTable.deleteWhere(s, src, col("event_type") === "error")
        }
        t("wave 3 (append + delete)")(q.processAllAvailable())
      } finally t("query stop")(q.stop())
    }
    t("final counts + agg") {
      val a = SnapshotTable.read(s, src).count()
      val b = SnapshotTable.read(s, dst).count()
      require(a == b, s"diverged: $a vs $b")
      SnapshotTable.read(s, dst).groupBy("event_type")
        .agg(count(lit(1))).collect()
    }
  }
}
