package graft

import org.apache.hadoop.fs.Path

import graft.Json.{arr, at, long, parse, str}
import graft.endpoint.RestCatalog
import graft.lake.SnapshotTable
import graft.sources.{Catalog, PersistentCatalog, RestBackedCatalog}

/** Round-19/20 wire-parity surface: list-route pagination, the
  * metrics report sink, the REST views routes (server + the DSv2
  * ViewCatalog client + wireView resolution), multi-table
  * transactions, every-requirement validation, staged-schema conflict
  * detection, concurrent wire INSERT retry, wire-mount retention, the
  * rename-crash warehouse-restore dedupe — plus the round-20 tails:
  * row-level deletes THROUGH the wire (eq/positional delete files on
  * add-snapshot and transactions, upsertEq sequence scoping),
  * set-snapshot-ref transactions (coherent cross-table tagging),
  * fail-fast on uncurable schema-409s, bounded view-metadata
  * retention, and the wh_seq restore tie-break — the tails a real
  * mounting engine (Trino against Lakekeeper, reference
  * etc/catalog/iceberg.properties) touches on every session.
  */
class RestWireParitySpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {

  override def afterAll(): Unit = {
    spark.sql("SHOW TABLES IN graft").collect()
      .map(_.getAs[String]("tableName"))
      .filter(n => n.startsWith("rest_w19_") || n.startsWith("rest_w20_"))
      .foreach { n =>
        val isView = scala.util.Try(spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(n, Some("graft")))
          .tableType.name == "VIEW").getOrElse(false)
        if (isView) spark.sql(s"DROP VIEW IF EXISTS graft.$n")
        else spark.sql(s"DROP TABLE IF EXISTS graft.$n")
      }
    super.afterAll()
  }

  private val registryRoot = "/tmp/graft_wire19_registry"
  private val tableArea = "/tmp/graft_wire19_tables"

  private lazy val port: Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    Seq(registryRoot, s"${registryRoot}_ns", s"${registryRoot}_views",
      tableArea).foreach { d =>
      val p = new Path(d); p.getFileSystem(conf).delete(p, true)
    }
    Catalog.register(spark, sf())
    PersistentCatalog.save(spark, registryRoot)
    RestCatalog.serve(spark, registryRoot)
  }

  private def mkSnapshotTable(name: String, rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val loc = s"$tableArea/$name"
    SnapshotTable.drop(spark, loc)
    SnapshotTable.commit(spark, loc, rows.toDF("id", "v"))
    val (rc, rr) = RestCatalog.post(port, "/v1/tables",
      s"""{"name":"$name","format":"graft-snapshot","location":${Json.jstr(loc)}}""")
    assert(rc == 201, rr)
    loc
  }

  private def stageOne(name: String, rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = s"$tableArea/staged_$name"
    rows.toDF("id", "v").coalesce(1).write.mode("overwrite").parquet(dir)
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(p).map(_.getPath.toString)
      .filter(_.endsWith(".parquet")).head
  }

  // ----- pagination --------------------------------------------------

  test("paged table listing walks to exactly the unpaged listing") {
    val (c0, unpaged) = RestCatalog.get(port, "/v1/namespaces/graft/tables")
    assert(c0 == 200, unpaged)
    val all = RestCatalog.listedNames(unpaged)
    assert(all.size >= 10, all.toString) // the registered sf tables
    assert(!unpaged.contains("next-page-token"), unpaged)
    var token = Option.empty[String]
    var pages = Vector.empty[Seq[String]]
    var guard = 0
    while (guard == 0 || token.isDefined) {
      guard += 1; assert(guard < 20, "pagination did not terminate")
      val q = "?pageSize=3" + token.fold("")(t =>
        s"&pageToken=${java.net.URLEncoder.encode(t, "UTF-8")}")
      val (c, body) = RestCatalog.get(port, s"/v1/namespaces/graft/tables$q")
      assert(c == 200, body)
      pages :+= RestCatalog.listedNames(body)
      token = str(at(parse(body), "next-page-token"))
    }
    assert(pages.init.forall(_.size == 3), pages.toString)
    assert(pages.flatten == all.sorted, pages.flatten.toString)
  }

  test("paged namespaces listing serves the root page with no token") {
    val (c, body) = RestCatalog.get(port, "/v1/namespaces?pageSize=5")
    assert(c == 200 && body.contains("\"graft\""), body)
    assert(!body.contains("next-page-token"), body)
  }

  // ----- metrics sink -------------------------------------------------

  test("metrics reports are accepted, accounted, and served in statistics") {
    port
    val (cw, rw) = RestCatalog.post(port, "/management/v1/warehouse",
      """{"warehouse-name":"w19_metrics","storage-profile":{"type":"file"}}""")
    assert(cw == 201, rw)
    val ns = "graft_wh_w19_metrics"
    val (ct, ctr) = RestCatalog.post(port, s"/v1/w19_metrics/namespaces/$ns/tables",
      """{"name":"t_m","schema":{"type":"struct","fields":[
        |{"id":1,"name":"id","type":"long"}]}}""".stripMargin)
    assert(ct == 200, ctr)
    val report =
      """{"report-type":"scan-report","table-name":"t_m","snapshot-id":1,
        |"metrics":{"total-planning-duration":{"count":1}}}""".stripMargin
    val (m1, _) = RestCatalog.post(port,
      s"/v1/w19_metrics/namespaces/$ns/tables/t_m/metrics", report)
    val (m2, _) = RestCatalog.post(port,
      s"/v1/w19_metrics/namespaces/$ns/tables/t_m/metrics", report)
    assert(m1 == 204 && m2 == 204)
    // garbage is a client error, unknown tables 404
    assert(RestCatalog.post(port,
      s"/v1/w19_metrics/namespaces/$ns/tables/t_m/metrics", "")._1 == 400)
    assert(RestCatalog.post(port,
      s"/v1/w19_metrics/namespaces/$ns/tables/nope/metrics", report)._1 == 404)
    val (sc, stats) = RestCatalog.get(port,
      "/management/v1/warehouse/w19_metrics/statistics")
    assert(sc == 200, stats)
    assert(long(at(parse(stats), "metrics-reports")).contains(2L), stats)
    RestCatalog.delete(port, "/v1/w19_metrics/tables/t_m")
    assert(RestCatalog.delete(port, "/management/v1/warehouse/w19_metrics")._1 == 200)
  }

  // ----- views over the wire -------------------------------------------

  test("views: wire create -> list/head/load -> client resolution -> drop") {
    mkSnapshotTable("rest_w19_base", Seq(1L -> "a", 2L -> "b", 3L -> "c"))
    val mkView =
      """{"name":"rest_w19_view","view-version":{"version-id":1,
        |"default-namespace":["graft"],
        |"representations":[{"type":"sql",
        |"sql":"SELECT id, v FROM graft.rest_w19_base WHERE id >= 2",
        |"dialect":"spark"}]}}""".stripMargin
    val (vc, vr) = RestCatalog.post(port, "/v1/namespaces/graft/views", mkView)
    assert(vc == 200, vr)
    // duplicate create: AlreadyExists
    assert(RestCatalog.post(port, "/v1/namespaces/graft/views", mkView)._1 == 409)
    // a definition that doesn't analyze is the client's 400, and
    // nothing is registered
    val (badc, badr) = RestCatalog.post(port, "/v1/namespaces/graft/views",
      mkView.replace("rest_w19_view", "rest_w19_badview")
        .replace("rest_w19_base", "rest_w19_no_such_table"))
    assert(badc == 400, badr)
    assert(RestCatalog.head(port, "/v1/namespaces/graft/views/rest_w19_badview") == 404)
    // listing includes it (and the registry's events view)
    val (lc, listing) = RestCatalog.get(port, "/v1/namespaces/graft/views")
    val names = RestCatalog.listedNames(listing).toSet
    assert(lc == 200 && names.contains("rest_w19_view") && names.contains("events"),
      listing)
    assert(RestCatalog.head(port, "/v1/namespaces/graft/views/rest_w19_view") == 204)
    assert(RestCatalog.head(port, "/v1/namespaces/graft/views/no_such_view") == 404)
    // a TABLE is not served on the views route (and vice versa)
    assert(RestCatalog.get(port, "/v1/namespaces/graft/views/rest_w19_base")._1 == 404)
    // load: sql representation + a materialized metadata-location
    val (gc, lvr) = RestCatalog.get(port, "/v1/namespaces/graft/views/rest_w19_view")
    assert(gc == 200, lvr)
    val sqls = arr(at(parse(lvr), "metadata", "versions"))
      .flatMap(v => arr(at(v, "representations"))).flatMap(r => str(at(r, "sql")))
    assert(sqls.head.contains("rest_w19_base"), lvr)
    val metaLoc = str(at(parse(lvr), "metadata-location")).get
    val mp = new Path(metaLoc)
    assert(mp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(mp),
      metaLoc)
    // the second engine resolves the view ENTIRELY over the wire: view
    // SQL from the views route, base table through the wire mount
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.w19v", "graft.sources.RestBackedCatalog")
    s2.conf.set("spark.sql.catalog.w19v.uri", s"http://127.0.0.1:$port")
    s2.conf.set("spark.sql.catalog.w19v.mount-root", s"$tableArea/view_mounts")
    val rows = RestBackedCatalog.wireView(s2, "w19v", "graft", "rest_w19_view")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(rows.toSeq == Seq(2L -> "b", 3L -> "c"), rows.mkString(","))
    // the DSv2 ViewCatalog surface rides the same routes
    import org.apache.spark.sql.connector.catalog.Identifier
    val rbc = s2.sessionState.catalogManager.catalog("w19v")
      .asInstanceOf[RestBackedCatalog]
    assert(rbc.listViews("graft").map(_.name).contains("rest_w19_view"))
    val v = rbc.loadView(Identifier.of(Array("graft"), "rest_w19_view"))
    assert(v.query().contains("rest_w19_base"))
    assert(v.schema().fieldNames.toSeq == Seq("id", "v"), v.schema().treeString)
    // createView through the DSv2 interface rides the same wire route
    val info = new org.apache.spark.sql.connector.catalog.ViewInfo(
      Identifier.of(Array("graft"), "rest_w19_view2"),
      "SELECT id FROM graft.rest_w19_base WHERE id = 1",
      "w19v", Array("graft"),
      new org.apache.spark.sql.types.StructType(),
      Array.empty, Array.empty, Array.empty,
      java.util.Collections.emptyMap())
    val created = rbc.createView(info)
    assert(created.query().contains("id = 1"))
    assert(rbc.viewExists(Identifier.of(Array("graft"), "rest_w19_view2")))
    assert(rbc.dropView(Identifier.of(Array("graft"), "rest_w19_view2")))
    // drop over the wire; the engine-side view is gone too
    assert(rbc.dropView(Identifier.of(Array("graft"), "rest_w19_view")))
    assert(RestCatalog.head(port, "/v1/namespaces/graft/views/rest_w19_view") == 404)
    assert(!spark.catalog.tableExists("graft.rest_w19_view"))
    intercept[org.apache.spark.sql.catalyst.analysis.NoSuchViewException] {
      rbc.loadView(Identifier.of(Array("graft"), "rest_w19_view"))
    }
  }

  // ----- multi-table transactions ---------------------------------------

  test("transactions commit all tables or none") {
    mkSnapshotTable("rest_w19_txna", Seq(1L -> "a"))
    mkSnapshotTable("rest_w19_txnb", Seq(10L -> "x"))
    val fa = stageOne("txna", Seq(2L -> "b"))
    val fb = stageOne("txnb", Seq(11L -> "y"))
    def change(name: String, file: String, assertSnap: Long): String =
      s"""{"identifier":{"namespace":["graft"],"name":"$name"},
         |"requirements":[{"type":"assert-ref-snapshot-id","ref":"main","snapshot-id":$assertSnap}],
         |"updates":[{"action":"add-snapshot","snapshot":{"summary":{"operation":"append"},
         |"added-data-files":[${Json.jstr(file)}]}}]}""".stripMargin
    // both land atomically
    val (tc, tr) = RestCatalog.post(port, "/v1/transactions/commit",
      s"""{"table-changes":[${change("rest_w19_txna", fa, 1)},${change("rest_w19_txnb", fb, 1)}]}""")
    assert(tc == 204, tr)
    assert(SnapshotTable.currentVersion(spark, s"$tableArea/rest_w19_txna") == 2)
    assert(SnapshotTable.currentVersion(spark, s"$tableArea/rest_w19_txnb") == 2)
    assert(SnapshotTable.read(spark, s"$tableArea/rest_w19_txna").count() == 2)
    // one stale requirement aborts the WHOLE transaction: b's
    // assertion is fresh (2) but a's is stale (1) -> 409, NOTHING lands
    val (xc, xr) = RestCatalog.post(port, "/v1/transactions/commit",
      s"""{"table-changes":[${change("rest_w19_txna", fa, 1)},${change("rest_w19_txnb", fb, 2)}]}""")
    assert(xc == 409 && xr.contains("nothing applied"), xr)
    assert(SnapshotTable.currentVersion(spark, s"$tableArea/rest_w19_txna") == 2)
    assert(SnapshotTable.currentVersion(spark, s"$tableArea/rest_w19_txnb") == 2)
    // non-add-snapshot actions and duplicate tables are client errors
    val badAct = change("rest_w19_txna", fa, 2)
      .replace("add-snapshot", "set-properties")
    assert(RestCatalog.post(port, "/v1/transactions/commit",
      s"""{"table-changes":[$badAct]}""")._1 == 400)
    assert(RestCatalog.post(port, "/v1/transactions/commit",
      s"""{"table-changes":[${change("rest_w19_txna", fa, 2)},${change("rest_w19_txna", fa, 2)}]}""")._1 == 400)
    assert(RestCatalog.post(port, "/v1/transactions/commit",
      """{"table-changes":[]}""")._1 == 400)
  }

  test("transactions span nested namespaces under one prefix") {
    port
    // a nested namespace with its own table, plus a root-namespace one
    val (nc, nr) = RestCatalog.post(port, "/v1/namespaces",
      """{"namespace":["graft","txnspace"]}""")
    assert(nc == 200, nr)
    // the Iceberg REST multi-level namespace path segment: levels
    // joined by the PERCENT-ENCODED unit separator
    val nestedNs = java.net.URLEncoder.encode("graft\u001Ftxnspace", "UTF-8")
    // the nested table is born over the wire (Iceberg createTable,
    // catalog-assigned location, v1 = empty)
    val (rc, rr) = RestCatalog.post(port, s"/v1/namespaces/$nestedNs/tables",
      """{"name":"nested_txn_t","schema":{"type":"struct","fields":[
        |{"id":1,"name":"id","type":"long"},
        |{"id":2,"name":"v","type":"string"}]}}""".stripMargin)
    assert(rc == 200, rr)
    val nestedLoc = str(at(parse(rr), "metadata", "location")).get
    mkSnapshotTable("rest_w19_txnroot", Seq(1L -> "r"))
    val fRoot = stageOne("txnroot", Seq(2L -> "r2"))
    val fNested = stageOne("txnnested", Seq(101L -> "n2"))
    def change(nsJson: String, name: String, file: String, snap: Long): String =
      s"""{"identifier":{"namespace":[$nsJson],"name":"$name"},
         |"requirements":[{"type":"assert-ref-snapshot-id","ref":"main","snapshot-id":$snap}],
         |"updates":[{"action":"add-snapshot","snapshot":{
         |"added-data-files":[${Json.jstr(file)}]}}]}""".stripMargin
    // one transaction lands a root-namespace table AND a nested one
    val (tc, tr) = RestCatalog.post(port, "/v1/transactions/commit",
      s"""{"table-changes":[${change("\"graft\"", "rest_w19_txnroot", fRoot, 1)},${
        change("\"graft\",\"txnspace\"", "nested_txn_t", fNested, 1)}]}""")
    assert(tc == 204, tr)
    assert(SnapshotTable.currentVersion(spark, s"$tableArea/rest_w19_txnroot") == 2)
    assert(SnapshotTable.currentVersion(spark, nestedLoc) == 2)
    // a stale assertion on the NESTED half aborts the whole thing
    val (xc, xr) = RestCatalog.post(port, "/v1/transactions/commit",
      s"""{"table-changes":[${change("\"graft\"", "rest_w19_txnroot", fRoot, 2)},${
        change("\"graft\",\"txnspace\"", "nested_txn_t", fNested, 1)}]}""")
    assert(xc == 409 && xr.contains("nothing applied"), xr)
    assert(SnapshotTable.currentVersion(spark, s"$tableArea/rest_w19_txnroot") == 2)
    assert(SnapshotTable.currentVersion(spark, nestedLoc) == 2)
    // unknown nested namespace is a loud 404
    assert(RestCatalog.post(port, "/v1/transactions/commit",
      s"""{"table-changes":[${change("\"graft\",\"nope\"", "t", fRoot, 1)}]}""")._1 == 404)
    // cleanup: drop the nested table + namespace
    RestCatalog.delete(port, s"/v1/namespaces/$nestedNs/tables/nested_txn_t")
    assert(RestCatalog.delete(port, s"/v1/namespaces/$nestedNs")._1 == 200)
  }

  // ----- every requirement must hold (r18 ADVICE) -----------------------

  test("a commit carrying several ref assertions validates ALL of them") {
    mkSnapshotTable("rest_w19_multi", Seq(1L -> "a"))
    val loc = s"$tableArea/rest_w19_multi"
    SnapshotTable.commitAppend(spark, loc,
      { import spark.implicits._; Seq(2L -> "b").toDF("id", "v") })
    SnapshotTable.tag(spark, loc, "keep", 1)
    val f = stageOne("multi", Seq(3L -> "c"))
    def body(keepAt: Long): String =
      s"""{"requirements":[
         |{"type":"assert-ref-snapshot-id","ref":"main","snapshot-id":2},
         |{"type":"assert-ref-snapshot-id","ref":"keep","snapshot-id":$keepAt}],
         |"updates":[{"action":"add-snapshot","snapshot":{
         |"added-data-files":[${Json.jstr(f)}]}}]}""".stripMargin
    // main holds but the SECOND assertion (tag keep at 2) is stale:
    // first-match validation would silently ignore it and land
    val (c1, r1) = RestCatalog.post(port,
      "/v1/namespaces/graft/tables/rest_w19_multi", body(2))
    assert(c1 == 409 && r1.contains("keep"), r1)
    assert(SnapshotTable.currentVersion(spark, loc) == 2)
    // with every assertion true the same commit lands
    val (c2, r2) = RestCatalog.post(port,
      "/v1/namespaces/graft/tables/rest_w19_multi", body(1))
    assert(c2 == 200, r2)
    assert(SnapshotTable.currentVersion(spark, loc) == 3)
  }

  // ----- staged-schema conflicts (r18 ADVICE) ----------------------------

  test("add-snapshot 409s staged files whose schema no longer matches") {
    mkSnapshotTable("rest_w19_schema", Seq(1L -> "a"))
    val loc = s"$tableArea/rest_w19_schema"
    import spark.implicits._
    // staged against a WRONG type for v (double, table has string) —
    // the shape a client staged before a concurrent schema evolution
    val badDir = s"$tableArea/staged_badtype"
    Seq((2L, 2.5)).toDF("id", "v").coalesce(1)
      .write.mode("overwrite").parquet(badDir)
    val conf = spark.sparkContext.hadoopConfiguration
    def one(dir: String): String = {
      val p = new Path(dir)
      p.getFileSystem(conf).listStatus(p).map(_.getPath.toString)
        .filter(_.endsWith(".parquet")).head
    }
    def commit(file: String): (Int, String) = RestCatalog.post(port,
      "/v1/namespaces/graft/tables/rest_w19_schema",
      s"""{"requirements":[{"type":"assert-ref-snapshot-id","ref":"main",
         |"snapshot-id":${SnapshotTable.currentVersion(spark, loc)}}],
         |"updates":[{"action":"add-snapshot","snapshot":{
         |"added-data-files":[${Json.jstr(file)}]}}]}""".stripMargin)
    val (bc, br) = commit(one(badDir))
    assert(bc == 409 && br.contains("schema"), br)
    assert(SnapshotTable.currentVersion(spark, loc) == 1)
    // an UNKNOWN staged column is the same conflict
    val extraDir = s"$tableArea/staged_extracol"
    Seq((2L, "b", 9L)).toDF("id", "v", "zz").coalesce(1)
      .write.mode("overwrite").parquet(extraDir)
    val (ec, er) = commit(one(extraDir))
    assert(ec == 409 && er.contains("zz"), er)
    // a MISSING column is fine: the bound schema reads it as NULL
    val subsetDir = s"$tableArea/staged_subset"
    Seq(Tuple1(5L)).toDF("id").coalesce(1)
      .write.mode("overwrite").parquet(subsetDir)
    val (sc, sr) = commit(one(subsetDir))
    assert(sc == 200, sr)
    val got = SnapshotTable.read(spark, loc).where("id = 5").collect()
    assert(got.length == 1 && got.head.isNullAt(1), got.mkString(","))
  }

  // ----- concurrent wire INSERTs (bounded CAS retry) ---------------------

  test("concurrent wire INSERTs all land via bounded CAS retry") {
    mkSnapshotTable("rest_w19_cc", Seq(0L -> "seed"))
    val writers = 3
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to writers).map { i =>
      new Thread(() => {
        try {
          val s = spark.newSession()
          val cat = s"w19cc$i"
          s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.RestBackedCatalog")
          s.conf.set(s"spark.sql.catalog.$cat.uri", s"http://127.0.0.1:$port")
          s.conf.set(s"spark.sql.catalog.$cat.mount-root", s"$tableArea/cc_mounts$i")
          import s.implicits._
          (1 to 10).map(k => (i * 100L + k, s"w$i")).toDF("id", "v")
            .writeTo(s"$cat.graft.rest_w19_cc").append()
        } catch { case t: Throwable => errs.add(t); () }
      }, s"wire-writer-$i")
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    assert(errs.isEmpty, errs.toArray.mkString("; "))
    val loc = s"$tableArea/rest_w19_cc"
    // every writer landed its own snapshot: v1 seed + one per writer
    assert(SnapshotTable.currentVersion(spark, loc) == 1 + writers)
    assert(SnapshotTable.read(spark, loc).count() == 1 + writers * 10)
  }

  // ----- wire-mount retention --------------------------------------------

  test("mount retention keeps last-N and re-mounts evicted snapshots") {
    import spark.implicits._
    val loc = s"$tableArea/rest_w19_ret"
    SnapshotTable.drop(spark, loc)
    SnapshotTable.commit(spark, loc, Seq(1L -> "a").toDF("id", "v"))
    (2 to 4).foreach(k => SnapshotTable.commitAppend(spark, loc,
      Seq(k.toLong -> s"r$k").toDF("id", "v")))
    val (rc, _) = RestCatalog.post(port, "/v1/tables",
      s"""{"name":"rest_w19_ret","format":"graft-snapshot","location":${Json.jstr(loc)}}""")
    assert(rc == 201)
    val s3 = spark.newSession()
    val mroot = s"$tableArea/ret_mounts"
    s3.conf.set("spark.sql.catalog.w19r", "graft.sources.RestBackedCatalog")
    s3.conf.set("spark.sql.catalog.w19r.uri", s"http://127.0.0.1:$port")
    s3.conf.set("spark.sql.catalog.w19r.mount-root", mroot)
    s3.conf.set("spark.sql.catalog.w19r.mount-retain", "2")
    def readAt(v: Int): Long =
      s3.sql(s"SELECT * FROM w19r.graft.rest_w19_ret VERSION AS OF $v").count()
    (1 to 4).foreach(v => assert(readAt(v) == v.toLong))
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(mroot)
    val fs = root.getFileSystem(conf)
    def snapDirs(): Seq[String] = {
      val uuidDirs = fs.listStatus(root).filter(_.isDirectory)
      assert(uuidDirs.length == 1, uuidDirs.map(_.getPath).mkString(","))
      fs.listStatus(uuidDirs.head.getPath)
        .filter(_.getPath.getName.startsWith("snap-"))
        .map(_.getPath.getName).toSeq.sorted
    }
    assert(snapDirs().size == 2, snapDirs().mkString(","))
    // an evicted snapshot re-mounts correctly on its next load
    assert(readAt(1) == 1L)
    assert(snapDirs().size == 2, snapDirs().mkString(","))
    RestCatalog.delete(port, "/v1/tables/rest_w19_ret")
    ()
  }

  // ----- plain-SQL wire views via ResolveWireViews (r19 VERDICT #3) --------

  test("plain spark.sql resolves wire views via the injected analyzer rule") {
    port
    mkSnapshotTable("rest_w20_vsql_base", Seq(1L -> "a", 2L -> "b", 3L -> "c"))
    val (vc, vr) = RestCatalog.post(port, "/v1/tables",
      """{"name":"rest_w20_vsql","view_sql":
        |"SELECT id, v FROM graft.rest_w20_vsql_base WHERE id >= 2"}""".stripMargin)
    assert(vc == 201, vr)
    // inject BEFORE materializing the second engine's session: its
    // analyzer then consults the DSv2 ViewCatalog for unresolved
    // relations — no wireView shim anywhere in this test
    RestBackedCatalog.ensureViewResolution(spark)
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.w20v", "graft.sources.RestBackedCatalog")
    s2.conf.set("spark.sql.catalog.w20v.uri", s"http://127.0.0.1:$port")
    s2.conf.set("spark.sql.catalog.w20v.mount-root", s"$tableArea/vsql_mounts")
    val got = s2.sql("SELECT id, v FROM w20v.graft.rest_w20_vsql ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq(2L -> "b", 3L -> "c"), got.toString)
    // the view body's table names resolve in the VIEW's namespace
    // through the WIRE catalog, while CTE aliases stay bare
    val (c2, r2) = RestCatalog.post(port, "/v1/tables",
      """{"name":"rest_w20_vcte","view_sql":
        |"WITH t AS (SELECT id FROM graft.rest_w20_vsql_base WHERE id <= 2)
        | SELECT COUNT(*) AS n FROM t"}""".stripMargin.replace("\n", " "))
    assert(c2 == 201, r2)
    assert(s2.sql("SELECT n FROM w20v.graft.rest_w20_vcte")
      .collect().head.getLong(0) == 2L)
    // an absent name still errors loudly (the rule never swallows it)
    intercept[Exception](
      s2.sql("SELECT * FROM w20v.graft.rest_w20_nope").collect())
    Seq("rest_w20_vsql", "rest_w20_vcte", "rest_w20_vsql_base").foreach(n =>
      RestCatalog.delete(port, s"/v1/tables/$n"))
    ()
  }

  // ----- wire row-level deletes (r19 VERDICT #1) ---------------------------

  private def stageKeys(name: String, ids: Seq[Long]): String = {
    import spark.implicits._
    val dir = s"$tableArea/staged_keys_$name"
    ids.toDF("id").coalesce(1).write.mode("overwrite").parquet(dir)
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(p).map(_.getPath.toString)
      .filter(_.endsWith(".parquet")).head
  }

  private def rows(loc: String): Set[(Long, String)] =
    SnapshotTable.read(spark, loc).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1)))
      .toSet

  test("wire upsert: one commit lands eq-delete + append with upsertEq seq scoping") {
    val loc = mkSnapshotTable("rest_w20_cdc",
      Seq(1L -> "a", 2L -> "b", 3L -> "c"))
    val data = stageOne("w20cdc", Seq(2L -> "B2"))
    val keys = stageKeys("w20cdc", Seq(2L))
    def commit(assertSnap: Int, dataFiles: Seq[String],
        delEntries: Seq[String]): (Int, String) =
      RestCatalog.post(port, "/v1/namespaces/graft/tables/rest_w20_cdc",
        s"""{"requirements":[{"type":"assert-ref-snapshot-id","ref":"main",
           |"snapshot-id":$assertSnap}],
           |"updates":[{"action":"add-snapshot","snapshot":{
           |"summary":{"operation":"overwrite"},
           |"added-data-files":[${dataFiles.map(Json.jstr).mkString(",")}],
           |"added-delete-files":[${delEntries.mkString(",")}]}}]}""".stripMargin)
    def eqEntry(path: String): String =
      s"""{"content":"equality-deletes","path":${Json.jstr(path)},
         |"equality-field-names":["id"]}""".stripMargin
    // the CDC update batch: delete key 2, insert its replacement — ONE
    // commit; the same commit's own row survives (shared sequence
    // number, strict < comparison)
    val (uc, ur) = commit(1, Seq(data), Seq(eqEntry(keys)))
    assert(uc == 200, ur)
    assert(SnapshotTable.currentVersion(spark, loc) == 2)
    assert(rows(loc) == Set(1L -> "a", 3L -> "c", 2L -> "B2"), rows(loc))
    // a delete-ONLY wire commit (no data files) is legal
    val delOnlyKeys = stageKeys("w20cdc2", Seq(1L))
    val (dc, dr) = commit(2, Seq.empty, Seq(eqEntry(delOnlyKeys)))
    assert(dc == 200, dr)
    assert(rows(loc) == Set(3L -> "c", 2L -> "B2"), rows(loc))
    // seq scoping ACROSS commits: a later re-insert of a deleted key
    // survives — the delete suppresses only strictly older rows
    val reins = stageOne("w20cdc3", Seq(1L -> "A4"))
    val (ac, ar) = commit(3, Seq(reins), Seq.empty)
    assert(ac == 200, ar)
    assert(rows(loc) == Set(3L -> "c", 2L -> "B2", 1L -> "A4"), rows(loc))
    RestCatalog.delete(port, "/v1/tables/rest_w20_cdc")
    ()
  }

  test("wire positional deletes suppress exactly the named rows") {
    import org.apache.spark.sql.functions.col
    val loc = mkSnapshotTable("rest_w20_pos",
      Seq(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d"))
    // the wire client names the row to kill by (file_path, pos) — read
    // off the data files the way any Iceberg positional writer does
    val files = SnapshotTable.dataFiles(spark, loc, 1)
    val posDir = s"$tableArea/staged_pos_w20"
    spark.read.parquet(files: _*)
      .select(col("_metadata.file_path").as("file_path"),
        col("_metadata.row_index").as("pos"), col("id"))
      .where("id = 3").drop("id")
      .coalesce(1).write.mode("overwrite").parquet(posDir)
    val pp = new Path(posDir)
    val posFile = pp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(pp).map(_.getPath.toString).filter(_.endsWith(".parquet")).head
    val (uc, ur) = RestCatalog.post(port,
      "/v1/namespaces/graft/tables/rest_w20_pos",
      s"""{"requirements":[{"type":"assert-ref-snapshot-id","ref":"main",
         |"snapshot-id":1}],
         |"updates":[{"action":"add-snapshot","snapshot":{
         |"summary":{"operation":"delete"},
         |"added-delete-files":[{"content":"position-deletes",
         |"path":${Json.jstr(posFile)}}]}}]}""".stripMargin)
    assert(uc == 200, ur)
    assert(rows(loc) == Set(1L -> "a", 2L -> "b", 4L -> "d"), rows(loc))
    RestCatalog.delete(port, "/v1/tables/rest_w20_pos")
    ()
  }

  test("wire delete-file validation: malformed 400, schema conflicts 409") {
    mkSnapshotTable("rest_w20_dval", Seq(1L -> "a"))
    def commit(delEntries: String): (Int, String) =
      RestCatalog.post(port, "/v1/namespaces/graft/tables/rest_w20_dval",
        s"""{"requirements":[{"type":"assert-ref-snapshot-id","ref":"main",
           |"snapshot-id":1}],
           |"updates":[{"action":"add-snapshot","snapshot":{
           |"added-delete-files":[$delEntries]}}]}""".stripMargin)
    val keys = stageKeys("w20dval", Seq(1L))
    // no content field / unknown content / missing field names / a
    // path that doesn't exist — all client errors
    assert(commit(s"""{"path":${Json.jstr(keys)}}""")._1 == 400)
    assert(commit(s"""{"content":"verschmutzt","path":${
      Json.jstr(keys)}}""")._1 == 400)
    assert(commit(s"""{"content":"equality-deletes","path":${
      Json.jstr(keys)}}""")._1 == 400)
    assert(commit(s"""{"content":"equality-deletes","path":"/nope.parquet",
      |"equality-field-names":["id"]}""".stripMargin)._1 == 400)
    // empty everything is the documented 400
    assert(RestCatalog.post(port, "/v1/namespaces/graft/tables/rest_w20_dval",
      """{"requirements":[],"updates":[{"action":"add-snapshot",
        |"snapshot":{"added-data-files":[]}}]}""".stripMargin)._1 == 400)
    // a positional file without (file_path, pos) is a 400 naming the shape
    val badPos = stageOne("w20dvalpos", Seq(9L -> "z"))
    val (pc, pr) = commit(s"""{"content":"position-deletes","path":${
      Json.jstr(badPos)}}""")
    assert(pc == 400 && pr.contains("file_path"), pr)
    // an eq file whose declared column the file carries but the TABLE
    // schema does not — the schema-evolution 409 class
    import spark.implicits._
    val zzDir = s"$tableArea/staged_zz_w20"
    Seq(Tuple1(5L)).toDF("zz").coalesce(1)
      .write.mode("overwrite").parquet(zzDir)
    val zp = new Path(zzDir)
    val zzFile = zp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(zp).map(_.getPath.toString).filter(_.endsWith(".parquet")).head
    val (zc, zr) = commit(s"""{"content":"equality-deletes","path":${
      Json.jstr(zzFile)},"equality-field-names":["zz"]}""")
    assert(zc == 409 && zr.contains("re-stage"), zr)
    // a declared key column the FILE does not carry is a 400
    val (mc, mr) = commit(s"""{"content":"equality-deletes","path":${
      Json.jstr(keys)},"equality-field-names":["id","vv"]}""")
    assert(mc == 400 && mr.contains("vv"), mr)
    // nothing landed through any of that
    assert(SnapshotTable.currentVersion(spark,
      s"$tableArea/rest_w20_dval") == 1)
    RestCatalog.delete(port, "/v1/tables/rest_w20_dval")
    ()
  }

  test("transactions land mixed append/delete changes atomically") {
    val locD = mkSnapshotTable("rest_w20_txd", Seq(1L -> "a", 2L -> "b"))
    val locE = mkSnapshotTable("rest_w20_txe", Seq(10L -> "x"))
    val upData = stageOne("w20txd", Seq(1L -> "A2"))
    val upKeys = stageKeys("w20txd", Seq(1L))
    val appData = stageOne("w20txe", Seq(11L -> "y"))
    def tx(assertD: Int, assertE: Int): (Int, String) =
      RestCatalog.post(port, "/v1/transactions/commit",
        s"""{"table-changes":[
           |{"identifier":{"namespace":["graft"],"name":"rest_w20_txd"},
           |"requirements":[{"type":"assert-ref-snapshot-id","ref":"main","snapshot-id":$assertD}],
           |"updates":[{"action":"add-snapshot","snapshot":{
           |"added-data-files":[${Json.jstr(upData)}],
           |"added-delete-files":[{"content":"equality-deletes",
           |"path":${Json.jstr(upKeys)},"equality-field-names":["id"]}]}}]},
           |{"identifier":{"namespace":["graft"],"name":"rest_w20_txe"},
           |"requirements":[{"type":"assert-ref-snapshot-id","ref":"main","snapshot-id":$assertE}],
           |"updates":[{"action":"add-snapshot","snapshot":{
           |"added-data-files":[${Json.jstr(appData)}]}}]}]}""".stripMargin)
    // a stale assertion on the APPEND half aborts the upsert half too
    val (xc, xr) = tx(1, 9)
    assert(xc == 409 && xr.contains("nothing applied"), xr)
    assert(SnapshotTable.currentVersion(spark, locD) == 1)
    assert(SnapshotTable.currentVersion(spark, locE) == 1)
    // fresh assertions: the CDC upsert AND the append land atomically
    val (tc, tr) = tx(1, 1)
    assert(tc == 204, tr)
    assert(rows(locD) == Set(1L -> "A2", 2L -> "b"), rows(locD))
    assert(rows(locE) == Set(10L -> "x", 11L -> "y"), rows(locE))
    Seq("rest_w20_txd", "rest_w20_txe").foreach(n =>
      RestCatalog.delete(port, s"/v1/tables/$n"))
    ()
  }

  // ----- set-snapshot-ref in transactions (r19 VERDICT #5) -----------------

  test("transactions tag a coherent snapshot set across tables") {
    import spark.implicits._
    val locA = mkSnapshotTable("rest_w20_tga", Seq(1L -> "a"))
    val locB = mkSnapshotTable("rest_w20_tgb", Seq(10L -> "x"))
    Seq(locA, locB).foreach(l => SnapshotTable.commitAppend(spark, l,
      Seq(99L -> "more").toDF("id", "v")))
    def refChange(name: String, ref: String, rtype: String, sid: Int,
        assertSnap: Int): String =
      s"""{"identifier":{"namespace":["graft"],"name":"$name"},
         |"requirements":[{"type":"assert-ref-snapshot-id","ref":"main","snapshot-id":$assertSnap}],
         |"updates":[{"action":"set-snapshot-ref","ref-name":"$ref",
         |"type":"$rtype","snapshot-id":$sid}]}""".stripMargin
    // one transaction tags BOTH tables at one consistent point
    val (tc, tr) = RestCatalog.post(port, "/v1/transactions/commit",
      s"""{"table-changes":[${refChange("rest_w20_tga", "release_1", "tag", 2, 2)},${
        refChange("rest_w20_tgb", "release_1", "tag", 2, 2)}]}""")
    assert(tc == 204, tr)
    assert(SnapshotTable.tags(spark, locA).get("release_1").contains(2))
    assert(SnapshotTable.tags(spark, locB).get("release_1").contains(2))
    // a stale ref assertion aborts BOTH: neither table gets release_2
    val (xc, xr) = RestCatalog.post(port, "/v1/transactions/commit",
      s"""{"table-changes":[${refChange("rest_w20_tga", "release_2", "tag", 2, 2)},${
        refChange("rest_w20_tgb", "release_2", "tag", 2, 1)}]}""")
    assert(xc == 409 && xr.contains("nothing applied"), xr)
    assert(!SnapshotTable.tags(spark, locA).contains("release_2"))
    assert(!SnapshotTable.tags(spark, locB).contains("release_2"))
    // change kinds compose: one append + one branch in one transaction
    val f = stageOne("w20tga", Seq(2L -> "b"))
    val (mc, mr) = RestCatalog.post(port, "/v1/transactions/commit",
      s"""{"table-changes":[
         |{"identifier":{"namespace":["graft"],"name":"rest_w20_tga"},
         |"requirements":[{"type":"assert-ref-snapshot-id","ref":"main","snapshot-id":2}],
         |"updates":[{"action":"add-snapshot","snapshot":{
         |"added-data-files":[${Json.jstr(f)}]}}]},${
        refChange("rest_w20_tgb", "dev", "branch", 1, 2)}]}""".stripMargin)
    assert(mc == 204, mr)
    assert(SnapshotTable.currentVersion(spark, locA) == 3)
    assert(SnapshotTable.branches(spark, locB).get("dev").contains("v1"))
    // main is refused; an immutable-tag move is a 409 refusing atomically
    assert(RestCatalog.post(port, "/v1/transactions/commit",
      s"""{"table-changes":[${refChange("rest_w20_tga", "main", "tag", 1, 3)}]}""")._1 == 400)
    val (ic, ir) = RestCatalog.post(port, "/v1/transactions/commit",
      s"""{"table-changes":[${refChange("rest_w20_tga", "release_1", "tag", 1, 3)}]}""")
    assert(ic == 409 && ir.contains("immutable"), ir)
    // a DIVERGED branch refuses the move up front (no compensation lie)
    SnapshotTable.commitToBranch(spark, locB,
      "dev", Seq(500L -> "local").toDF("id", "v"))
    val (bc, br) = RestCatalog.post(port, "/v1/transactions/commit",
      s"""{"table-changes":[${refChange("rest_w20_tgb", "dev", "branch", 2, 2)}]}""")
    assert(bc == 409 && br.contains("branch-local"), br)
    Seq("rest_w20_tga", "rest_w20_tgb").foreach(n =>
      RestCatalog.delete(port, s"/v1/tables/$n"))
    ()
  }

  // ----- fail-fast on uncurable wire-commit 409s (r19 VERDICT #8) ----------

  test("staged-schema 409 fails fast; CAS 409 retries to the bound") {
    var posts = 0
    val schemaErr = intercept[IllegalStateException] {
      RestBackedCatalog.commitStagedWithRetry("t", () => 1L,
        _ => { posts += 1
          (409, "staged file x carries column zz not present in the " +
            "table's current schema — the schema evolved since write " +
            "planning; re-stage and retry") },
        Seq("/tmp/f.parquet"))
    }
    assert(posts == 1, s"schema conflict must fail after ONE attempt, got $posts")
    assert(schemaErr.getMessage.contains("failed fast"), schemaErr.getMessage)
    posts = 0
    val casErr = intercept[IllegalStateException] {
      RestBackedCatalog.commitStagedWithRetry("t", () => 1L,
        _ => { posts += 1; (409, "commit lost the version CAS") },
        Seq("/tmp/f.parquet"))
    }
    assert(posts == 5, s"a CAS race must burn the full budget, got $posts")
    assert(casErr.getMessage.contains("CAS lost 5 times"), casErr.getMessage)
    // a race that clears mid-budget lands silently
    posts = 0
    RestBackedCatalog.commitStagedWithRetry("t", () => 1L,
      _ => { posts += 1
        if (posts < 3) (409, "commit lost the version CAS") else (200, "{}") },
      Seq("/tmp/f.parquet"))
    assert(posts == 3, posts.toString)
    // non-409 statuses never retry
    posts = 0
    intercept[IllegalStateException] {
      RestBackedCatalog.commitStagedWithRetry("t", () => 1L,
        _ => { posts += 1; (500, "boom") }, Seq("/tmp/f.parquet"))
    }
    assert(posts == 1, posts.toString)
  }

  // ----- view-metadata retention + reclamation (r19 VERDICT #2) ------------

  test("view metadata files are retained bounded and reclaimed on drop") {
    port
    val name = "rest_w20_vlife"
    val conf = spark.sparkContext.hadoopConfiguration
    val vdir = new Path(s"${registryRoot}_views/$name")
    val vfs = vdir.getFileSystem(conf)
    def metaFiles(): Seq[String] =
      if (!vfs.exists(vdir)) Seq.empty
      else vfs.listStatus(vdir).map(_.getPath.getName)
        .filter(_.endsWith(".metadata.json")).toSeq
    def mkView(k: Int): Unit = {
      val (c, r) = RestCatalog.post(port, "/v1/tables",
        s"""{"name":"$name","view_sql":"SELECT $k AS k"}""")
      assert(c == 201, r)
      val (lc, lr) = RestCatalog.get(port, s"/v1/namespaces/graft/views/$name")
      assert(lc == 200 && lr.contains(s"SELECT $k AS k"), lr)
    }
    // REPLACE churn mints one immutable file per definition; retention
    // keeps the newest 8 instead of leaking one per REPLACE forever
    (1 to 10).foreach(mkView)
    assert(metaFiles().size == 8, metaFiles().mkString(","))
    // DROP VIEW reclaims the whole metadata dir
    val (dc, dr) = RestCatalog.delete(port, s"/v1/namespaces/graft/views/$name")
    assert(dc == 200, dr)
    assert(!vfs.exists(vdir), "dropped view must not leak its metadata dir")
    // a re-created same-name view serves a correct FRESH file
    mkView(99)
    assert(metaFiles().size == 1, metaFiles().mkString(","))
    RestCatalog.delete(port, s"/v1/namespaces/graft/views/$name")
    ()
  }

  // ----- rename-crash restore dedupe (r18 ADVICE) --------------------------

  test("restore dedupes warehouse records sharing one registry") {
    port // ensure the graft db exists (solo-filtered runs)
    val whRoot = "/tmp/graft_w19_whrestore"
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(whRoot)
    val fs = p.getFileSystem(conf)
    fs.delete(p, true)
    PersistentCatalog.save(spark, whRoot)
    val p1 = RestCatalog.serve(spark, whRoot)
    val (cw, rw) = RestCatalog.post(p1, "/management/v1/warehouse",
      """{"warehouse-name":"ren_a","storage-profile":{"type":"file"}}""")
    assert(cw == 201, rw)
    RestCatalog.stop(whRoot)
    // simulate a crash mid-rename: the NEW record (ren_b) was
    // published, the OLD one (ren_a) was never deleted — both point at
    // the same registry
    val aPath = new Path(s"$whRoot/_warehouses/ren_a.json")
    val in = fs.open(aPath)
    val aTxt = try new String(in.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8) finally in.close()
    val bPath = new Path(s"$whRoot/_warehouses/ren_b.json")
    val out = fs.create(bPath, true)
    try out.write(aTxt.replace("\"wh_name\":\"ren_a\"", "\"wh_name\":\"ren_b\"")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)) finally out.close()
    // the new record is strictly newer, like a real rename
    val aLocal = new java.io.File(aPath.toUri.getPath)
    assert(aLocal.setLastModified(aLocal.lastModified() - 10000))
    val p2 = RestCatalog.serve(spark, whRoot)
    val (lc, listing) = RestCatalog.get(p2, "/management/v1/warehouse")
    assert(lc == 200, listing)
    val names = arr(at(parse(listing), "warehouses"))
      .flatMap(w => str(at(w, "name"))).toSet
    assert(names.contains("ren_b") && !names.contains("ren_a"), listing)
    // the stale record was retired (the interrupted rename completed),
    // and the survivor is fully functional: drop reclaims cleanly
    assert(!fs.exists(aPath))
    assert(RestCatalog.delete(p2, "/management/v1/warehouse/ren_b")._1 == 200)
    RestCatalog.stop(whRoot)
  }

  test("restore tie-breaks same-mtime duplicate records by wh_seq") {
    port
    val whRoot = "/tmp/graft_w20_whseq"
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(whRoot)
    val fs = p.getFileSystem(conf)
    fs.delete(p, true)
    PersistentCatalog.save(spark, whRoot)
    val p1 = RestCatalog.serve(spark, whRoot)
    val (cw, rw) = RestCatalog.post(p1, "/management/v1/warehouse",
      """{"warehouse-name":"tie_z","storage-profile":{"type":"file"}}""")
    assert(cw == 201, rw)
    RestCatalog.stop(whRoot)
    // crash mid-rename tie_z -> tie_a on a store with COARSE mtime:
    // both records land in one timestamp. The old name sorts AFTER the
    // new one, so a name-order tie-break would keep the WRONG record
    // (deleting the rename target and resurrecting the old name); the
    // persisted wh_seq — strictly higher on the rename target — must
    // decide instead (r19 ADVICE)
    val zPath = new Path(s"$whRoot/_warehouses/tie_z.json")
    val in = fs.open(zPath)
    val zTxt = try new String(in.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8) finally in.close()
    assert(zTxt.contains("\"wh_seq\":"), zTxt)
    val aPath = new Path(s"$whRoot/_warehouses/tie_a.json")
    val out = fs.create(aPath, true)
    try out.write(zTxt.replace("\"wh_name\":\"tie_z\"", "\"wh_name\":\"tie_a\"")
      .replaceAll("\"wh_seq\":\\d+", "\"wh_seq\":99")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)) finally out.close()
    val sameStamp = 1700000000000L
    Seq(zPath, aPath).foreach { f =>
      assert(new java.io.File(f.toUri.getPath).setLastModified(sameStamp))
    }
    val p2 = RestCatalog.serve(spark, whRoot)
    val (lc, listing) = RestCatalog.get(p2, "/management/v1/warehouse")
    assert(lc == 200, listing)
    val names = arr(at(parse(listing), "warehouses"))
      .flatMap(w => str(at(w, "name"))).toSet
    assert(names.contains("tie_a") && !names.contains("tie_z"), listing)
    assert(!fs.exists(zPath))
    assert(RestCatalog.delete(p2, "/management/v1/warehouse/tie_a")._1 == 200)
    RestCatalog.stop(whRoot)
  }
}
