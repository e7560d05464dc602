package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.Path

import graft.lake.SnapshotTable

/** `TIMESTAMP AS OF` resolution must be a BINARY SEARCH over
  * manifest headers, not a walk of every version: on a 100k-commit
  * streaming table the difference is ~17 header reads vs 100k
  * (VERDICT r11 item 5). Pinned by interception — a counting FS
  * records every `.manifest` open during [[SnapshotTable.versionAt]].
  */
class TimeTravelResolveSpec extends SparkSpec {
  import spark.implicits._

  private val versions = 32

  test("versionAt reads O(log n) manifest headers, and resolves exactly") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftmanifest.impl", classOf[ManifestCountingFs].getName)
    val root = "graftmanifest:///tmp/graft_test/tt_bsearch"
    SnapshotTable.drop(spark, root)
    (1 to versions).foreach { k =>
      if (k == 1) SnapshotTable.commit(spark, root, Seq((k.toLong, s"r$k")).toDF("id", "v"))
      else SnapshotTable.commitAppend(spark, root, Seq((k.toLong, s"r$k")).toDF("id", "v"))
    }
    val stamps =
      (1 to versions).map(v => v -> SnapshotTable.version(spark, root, v).committedAt).toMap
    // exact resolution at every boundary (stamps are strictly increasing)
    (1 to versions).foreach { v =>
      assert(SnapshotTable.versionAt(spark, root, stamps(v)) === v)
      assert(SnapshotTable.versionAt(spark, root, stamps(v) + (
        if (v < versions) (stamps(v + 1) - stamps(v)) / 2 else 5L)) === v)
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.versionAt(spark, root, stamps(1) - 1)
    }
    // the header-read count: log2(32) = 5 probes + the lower-bound
    // guard; currentVersion lists the directory without opening
    ManifestCountingFs.manifestOpens.set(0L)
    assert(SnapshotTable.versionAt(spark, root, stamps(21)) === 21)
    val opens = ManifestCountingFs.manifestOpens.get
    assert(opens <= 8,
      s"versionAt over $versions versions opened $opens manifests — " +
        "expected a binary search (~log2 n), not a linear walk")
  }
}

/** RawLocalFileSystem under `graftmanifest:///` counting `.manifest`
  * opens — the interception that proves timestamp resolution is a
  * header binary search.
  */
class ManifestCountingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftmanifest:///")
  override def open(f: Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    if (f.getName.endsWith(".manifest")) ManifestCountingFs.manifestOpens.incrementAndGet()
    super.open(f, bufferSize)
  }
}

object ManifestCountingFs {
  val manifestOpens = new AtomicLong(0L)
}
