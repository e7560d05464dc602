package graft

import org.apache.spark.sql.functions._

import graft.ann.IvfIndex
import graft.lake.SnapshotTable
import graft.sources.Tables

/** Centroid-drift policy (VERDICT r9 item 5): in-distribution appends
  * leave the index quiet; a distribution shift trips the sticky
  * `needs_rebuild` flag; [[IvfIndex.buildAt]] re-baselines and clears
  * it, after which the shifted distribution is in-distribution.
  */
class IvfDriftSpec extends SparkSpec {

  private val root = "/tmp/graft_ivf_drift_spec"

  private def vecs = Tables.load(spark, sf(), "embeddings")
    .select("vec_id", "embedding")

  // a genuinely different distribution: a tight topic cluster around
  // one direction — healthy-looking assignment cosines, but the whole
  // batch floods a single inverted list (the scale failure mode)
  private def clustered(base: org.apache.spark.sql.DataFrame, idOffset: Long) =
    base.withColumn("embedding", expr(
      "transform(embedding, (x, i) -> CASE WHEN i = 0 THEN CAST(1.0 AS FLOAT) " +
        "ELSE CAST(0.05 * x AS FLOAT) END)"))
      .withColumn("vec_id", col("vec_id") + idOffset)

  test("quiet appends stay quiet; drift trips a sticky flag; rebuild clears it") {
    Seq("lists", "centroids").foreach(t => SnapshotTable.drop(spark, s"$root/$t"))
    val even = vecs.filter(col("vec_id") % 2 === 0)
    val odd = vecs.filter(col("vec_id") % 2 === 1)

    IvfIndex.buildAt(spark, root, even, nLists = 16, lloydIters = 2)
    assert(!IvfIndex.needsRebuild(spark, root))

    // held-out but same distribution: no drift (its median assignment
    // cosine is legitimately below the build sample's — the relative
    // threshold must absorb that)
    IvfIndex.appendBatch(spark, root, odd)
    assert(!IvfIndex.needsRebuild(spark, root))

    // new tight cluster: drift detected (hottest-list share)
    IvfIndex.appendBatch(spark, root, clustered(odd, 1000000L))
    assert(IvfIndex.needsRebuild(spark, root))

    // sticky: a later quiet batch must not mask the earlier drift
    IvfIndex.appendBatch(spark, root,
      even.withColumn("vec_id", col("vec_id") + 2000000L))
    assert(IvfIndex.needsRebuild(spark, root))

    // the rebuild is the consumer: retrain over the lists table's
    // CURRENT corpus (what the index actually holds), flag clears.
    // A LAZY read of the very table being replaced stays valid
    // through the rebuild: buildAt publishes overwrite commits and
    // never deletes the old version's files
    val current = SnapshotTable.read(spark, s"$root/lists")
      .select("vec_id", "embedding")
    IvfIndex.buildAt(spark, root, current, nLists = 16, lloydIters = 2)
    assert(!IvfIndex.needsRebuild(spark, root))

    // post-rebuild the cluster is in-distribution: the retrained
    // quantizer gave it centroids of its own, so the same kind of
    // batch now scores a high assignment cosine and a hot share
    // within the (re-baselined) build's own balance — quiet
    IvfIndex.appendBatch(spark, root, clustered(even, 3000000L))
    assert(!IvfIndex.needsRebuild(spark, root))

    // and a plain quiet batch is quiet too
    IvfIndex.appendBatch(spark, root,
      odd.withColumn("vec_id", col("vec_id") + 4000000L))
    assert(!IvfIndex.needsRebuild(spark, root))
  }

  test("Maintenance.run consumes the drift flag: rebuild on trigger, no-op when quiet") {
    import graft.lake.Maintenance
    val mroot = "/tmp/graft_ivf_drift_maint"
    Seq("lists", "centroids").foreach(t => SnapshotTable.drop(spark, s"$mroot/$t"))
    // a plain snapshot table so the run has its usual lake stages
    val tbl = "/tmp/graft_ivf_drift_maint_tbl"
    SnapshotTable.drop(spark, tbl)
    import spark.implicits._
    SnapshotTable.commit(spark, tbl, Seq((1L, "a")).toDF("id", "v"))
    val policy = Maintenance.Policy(
      orphanGraceMs = 0, indexes = Seq(IvfIndex.maintenanceStage(mroot)))

    // nLists deliberately != any fallback: the rebuild must retrain at
    // the BUILT list count, which it can only know if appends carry
    // the n_lists header forward to the lists HEAD it reads
    IvfIndex.buildAt(spark, mroot, vecs.filter(col("vec_id") % 2 === 0),
      nLists = 8, lloydIters = 2)
    // quiet index: the nightly run must NOT rebuild
    val quiet = Maintenance.run(spark, tbl, policy)
    assert(quiet.indexesRebuilt.isEmpty, quiet.toString)

    // drift it; plan() previews the rebuild without acting
    IvfIndex.appendBatch(spark, mroot,
      clustered(vecs.filter(col("vec_id") % 2 === 1), 1000000L))
    assert(IvfIndex.needsRebuild(spark, mroot))
    // the append carried the build parameter to the head it created
    val headMeta = SnapshotTable.version(spark, s"$mroot/lists",
      SnapshotTable.currentVersion(spark, s"$mroot/lists")).header
    assert(headMeta.get("n_lists") === Some("8"), headMeta.toString)
    assert(Maintenance.plan(spark, tbl, policy).indexesRebuilt === Seq(mroot))
    assert(IvfIndex.needsRebuild(spark, mroot), "plan must not rebuild")

    // the run consumes the flag: retrains over the index's own corpus,
    // re-baselines, clears the stickiness
    val triggered = Maintenance.run(spark, tbl, policy)
    assert(triggered.indexesRebuilt === Seq(mroot), triggered.toString)
    assert(!IvfIndex.needsRebuild(spark, mroot))
    // the rebuilt index still holds every vector ever appended
    val held = SnapshotTable.read(spark, s"$mroot/lists").count()
    assert(held === vecs.count(), s"rebuild must preserve the corpus ($held)")
    // ...retrained at the built list count, not a fallback default
    assert(SnapshotTable.read(spark, s"$mroot/centroids").count() === 8L,
      "drift rebuild must reuse the built n_lists")
    // and the staged corpus copy was reclaimed after the commit landed
    val stagePath = new org.apache.hadoop.fs.Path(s"$mroot/_rebuild_stage")
    assert(!stagePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(stagePath), "successful rebuild reclaims its stage")
    // post-rebuild the shifted distribution is covered: same-shape
    // batch stays quiet, and the next run is a no-op again
    IvfIndex.appendBatch(spark, mroot,
      clustered(vecs.filter(col("vec_id") % 2 === 0), 3000000L))
    val after = Maintenance.run(spark, tbl, policy)
    assert(after.indexesRebuilt.isEmpty, after.toString)
  }

  test("a failed rebuild leaves the old index serving with its flag set, and retries") {
    val froot = "/tmp/graft_ivf_drift_fail"
    Seq("lists", "centroids").foreach(t => SnapshotTable.drop(spark, s"$froot/$t"))
    IvfIndex.buildAt(spark, froot, vecs.filter(col("vec_id") % 2 === 0),
      nLists = 8, lloydIters = 2)
    IvfIndex.appendBatch(spark, froot,
      clustered(vecs.filter(col("vec_id") % 2 === 1), 1000000L))
    assert(IvfIndex.needsRebuild(spark, froot))
    val vBefore = SnapshotTable.currentVersion(spark, s"$froot/lists")
    val countBefore = SnapshotTable.read(spark, s"$froot/lists").count()

    // a retrain whose corpus evaluation throws (the mid-rebuild crash
    // shape): the OLD index must remain fully intact — head version
    // unchanged, every vector still served, sticky flag still set —
    // because buildAt never drops before its overwrite commits land
    val poisoned = vecs.withColumn("embedding",
      expr("array(CAST(raise_error('retrain crashed') AS FLOAT))"))
    intercept[Exception] {
      IvfIndex.buildAt(spark, froot, poisoned, nLists = 8, lloydIters = 2)
    }
    assert(SnapshotTable.currentVersion(spark, s"$froot/lists") === vBefore)
    assert(SnapshotTable.read(spark, s"$froot/lists").count() === countBefore)
    assert(IvfIndex.needsRebuild(spark, froot), "flag must survive a failed rebuild")

    // the retry path the nightly job takes: plain rebuildFromLists
    // succeeds over the intact index and clears the flag
    IvfIndex.rebuildFromLists(spark, froot)
    assert(!IvfIndex.needsRebuild(spark, froot))
    assert(SnapshotTable.read(spark, s"$froot/lists").count() === countBefore)
  }

  test("Maintenance.run isolates a throwing rebuild: report kept, siblings rebuilt") {
    import graft.lake.Maintenance
    val okRoot = "/tmp/graft_ivf_drift_sib"
    Seq("lists", "centroids").foreach(t => SnapshotTable.drop(spark, s"$okRoot/$t"))
    val tbl = "/tmp/graft_ivf_drift_sib_tbl"
    SnapshotTable.drop(spark, tbl)
    import spark.implicits._
    SnapshotTable.commit(spark, tbl, Seq((1L, "a")).toDF("id", "v"))
    IvfIndex.buildAt(spark, okRoot, vecs.filter(col("vec_id") % 2 === 0),
      nLists = 8, lloydIters = 2)
    IvfIndex.appendBatch(spark, okRoot,
      clustered(vecs.filter(col("vec_id") % 2 === 1), 1000000L))
    val bad = new Maintenance.IndexStage {
      override val root: String = "/tmp/graft_ivf_drift_bad"
      override def needsRebuild(s: org.apache.spark.sql.SparkSession): Boolean = true
      override def rebuild(s: org.apache.spark.sql.SparkSession): Unit =
        throw new RuntimeException("index backend unavailable")
    }
    // bad FIRST: the failure must not starve the healthy sibling
    val report = Maintenance.run(spark, tbl, Maintenance.Policy(
      orphanGraceMs = 0,
      indexes = Seq(bad, IvfIndex.maintenanceStage(okRoot))))
    assert(report.indexRebuildFailures ===
      Seq(bad.root -> "index backend unavailable"), report.toString)
    assert(report.indexesRebuilt === Seq(okRoot), report.toString)
    assert(!IvfIndex.needsRebuild(spark, okRoot))
    assert(report.finalVersion > 0)
  }
}
