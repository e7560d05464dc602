package graft

import org.apache.spark.sql.SparkSession

/** The spark.sql.extensions installation path: a session built with
  * GraftExtensions gets the functions and the as-of strategy without
  * any runtime registration calls.
  */
class ExtensionsSpec extends SparkSpec {

  test("session built withExtensions resolves graft functions and as-of plans") {
    // materialize (or reuse) the shared context, then detach the
    // active session so the builder constructs a NEW session with
    // extensions applied on the same SparkContext
    val base = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = SparkSession.builder().master("local[8]")
        .withExtensions(new GraftExtensions)
        .config("spark.ui.enabled", "false").getOrCreate()
      val r = s.sql(
        """SELECT graft_cosine(array(1.0F,2.0F), array(1.0F,2.0F)) AS c,
          | graft_simhash('a b c') AS h,
          | graft_zvalue(3, 5) AS z""".stripMargin).collect()(0)
      assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
      // both registration paths expose the same surface: every name in
      // the shared builder list resolves through the extensions too
      graft.functions.GraftFunctions.names.foreach { n =>
        assert(s.catalog.functionExists(n), s"extensions path missing $n")
      }
      // as-of works without AsOf.ensureStrategy (strategy came from extensions)
      import s.implicits._
      val l = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"))).toDF("uid", "t")
      val rr = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 09:00:00"), "v")).toDF("r_uid", "r_t", "tag")
      val out = graft.plans.AsOf.join(l, rr, "uid", "r_uid", "t", "r_t")
        .select("tag").collect()(0).getString(0)
      assert(out === "v")
    } finally {
      SparkSession.setActiveSession(base)
      SparkSession.setDefaultSession(base)
    }
  }

  test("GraftSession's rules are installed once: the runtime install helpers add none") {
    import graft.plans._
    val s = GraftSession.build(8)
    assert(GraftExtensions.installedOn(s), "the shared session is built withExtensions")
    val injected: Seq[AnyRef] = Seq(PruneAsOfJoinColumns, PushLimitThroughAsOfJoin,
      PushFilterThroughAsOfJoin, SnapshotScanPruning)
    def ruleCounts = (injected :+ ForwardV1ScanStatistics).map(r =>
      s.sessionState.optimizer.batches.map(_.rules.count(_ eq r)).sum)
    val before = ruleCounts
    assert(before.init.forall(_ > 0), s"extension rules missing: ${injected.zip(before)}")
    // an as-of join, the wire-view install and two catalog-table loads
    // each run a runtime install helper before they touch the session
    import s.implicits._
    val l = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"))).toDF("uid", "t")
    val r = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 09:00:00"), "v")).toDF("r_uid", "r_t", "tag")
    assert(AsOf.join(l, r, "uid", "r_uid", "t", "r_t").select("tag").head().getString(0) === "v")
    graft.sources.RestBackedCatalog.ensureViewResolution(s)
    graft.sources.GraftCatalog.ensureStatsRule(s)
    graft.sources.GraftCatalog.ensureStatsRule(s)
    assert(s.sessionState.planner.strategies.count(_ eq AsOfJoinStrategy) === 1)
    assert(s.experimental.extraStrategies.isEmpty)
    // the stats rule is the one graft rule installed at runtime on
    // every session, and it is installed once
    assert(s.experimental.extraOptimizations === Seq(ForwardV1ScanStatistics))
    val after = ruleCounts
    assert(after.init === before.init)
    assert(after.last === 1)
  }
}
