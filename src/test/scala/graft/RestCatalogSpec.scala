package graft

import org.apache.hadoop.fs.Path

import graft.Json.{arr, at, long, parse, present, str}
import graft.endpoint.RestCatalog
import graft.lake.SnapshotTable
import graft.sources.{Catalog, PersistentCatalog}

/** Drives the HTTP REST catalog the way the reference stack drives
  * Lakekeeper (RUNBOOK.md §4: curl against the catalog service) — two
  * concurrent HTTP clients going list → describe → create → read,
  * plus pointer resolution for snapshot tables and the DDL
  * durability loop.
  */
class RestCatalogSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {

  // the spec's DDL lands in the shared `graft` database; drop the
  // spec-created tables so suites asserting the exact lake listing
  // (CatalogSpec, PersistentCatalogSpec) see a clean catalog
  override def afterAll(): Unit = {
    spark.sql("SHOW TABLES IN graft").collect()
      .map(_.getAs[String]("tableName"))
      .filter(_.startsWith("rest_spec_"))
      .foreach(n => spark.sql(s"DROP TABLE IF EXISTS graft.$n"))
    super.afterAll()
  }

  private val registryRoot = "/tmp/graft_rest_spec_registry"
  private val tableArea = "/tmp/graft_rest_spec_tables"

  private lazy val port: Int = {
    // fresh registry + table area per JVM: stale versions from a prior
    // run would otherwise restore tables whose locations are gone
    val conf = spark.sparkContext.hadoopConfiguration
    Seq(registryRoot, s"${registryRoot}_ns", tableArea).foreach { d =>
      val p = new Path(d); p.getFileSystem(conf).delete(p, true)
    }
    Catalog.register(spark, sf())
    PersistentCatalog.save(spark, registryRoot)
    RestCatalog.serve(spark, registryRoot)
  }

  test("config, namespaces and listing serve the registry") {
    val (c1, cfg) = RestCatalog.get(port, "/v1/config")
    assert(c1 == 200 && cfg.contains("\"database\":\"graft\""), cfg)
    val (c2, ns) = RestCatalog.get(port, "/v1/namespaces")
    assert(c2 == 200 && ns.contains("\"graft\""), ns)
    val (c3, listing) = RestCatalog.get(port, "/v1/tables")
    assert(c3 == 200)
    val names = RestCatalog.listedNames(listing).toSet
    assert(Set("lineitem", "orders", "events", "documents").subsetOf(names), names.toString)
  }

  test("describe returns DESCRIBE-spelled columns over the wire") {
    val (code, body) = RestCatalog.get(port, "/v1/tables/lineitem")
    assert(code == 200, body)
    val columns = arr(at(parse(body), "columns"))
    val cols = columns.flatMap(c => str(at(c, "name")))
    val types = columns.flatMap(c => str(at(c, "type")))
    val byName = cols.zip(types).toMap
    assert(byName.get("l_orderkey").contains("bigint"), byName.toString)
    assert(byName.get("l_returnflag").contains("string"), byName.toString)
  }

  test("stats match the engine's own counts") {
    val (code, body) = RestCatalog.get(port, "/v1/tables/region/stats")
    assert(code == 200, body)
    assert(long(at(parse(body), "row_count")).contains(
      spark.table("graft.region").count()), body)
    assert(long(at(parse(body), "n_cols")).contains(
      spark.table("graft.region").schema.size.toLong), body)
  }

  test("POST create + pointer resolution + durable registry round-trip") {
    // a real snapshot table as the created table's storage
    val loc = s"$tableArea/created"
    import spark.implicits._
    SnapshotTable.commit(spark, loc,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    SnapshotTable.commitAppend(spark, loc, Seq((4L, "d")).toDF("id", "v"))

    val (code, resp) = RestCatalog.post(port, "/v1/tables",
      s"""{"name":"rest_spec_created","format":"parquet","location":"$loc"}""")
    assert(code == 201, resp)

    // visible in the listing, readable via stats — the snapshot root
    // itself is not directly a parquet dir, so register the CURRENT
    // data files' parent is not the point here: the catalog stores the
    // location verbatim; pointer is the snapshot-aware surface
    val (_, listing) = RestCatalog.get(port, "/v1/tables")
    assert(RestCatalog.listedNames(listing).contains("rest_spec_created"))

    val (c2, ptr) = RestCatalog.get(port, "/v1/tables/rest_spec_created/pointer")
    assert(c2 == 200, ptr)
    val v = SnapshotTable.currentVersion(spark, loc)
    assert(long(at(parse(ptr), "snapshot_version")).contains(v.toLong), ptr)
    assert(ptr.contains(s"_manifests/v$v.manifest"), ptr)

    // durability: the registry table's LATEST version records the DDL —
    // what a fresh JVM would restore from
    val reg = SnapshotTable.read(spark, registryRoot)
      .where(org.apache.spark.sql.functions.col("table_name") === "rest_spec_created")
      .collect()
    // DESCRIBE qualifies the path (file:/tmp/...) — compare path parts
    assert(reg.length == 1 &&
      reg(0).getAs[String]("location").stripPrefix("file:") == loc)

    // a non-snapshot table 404s on pointer
    val (c3, _) = RestCatalog.get(port, "/v1/tables/region/pointer")
    assert(c3 == 404)
  }

  test("two concurrent clients: reader loop while a writer issues DDL") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    import spark.implicits._

    val reader = Future {
      (1 to 25).map { _ =>
        val (c, listing) = RestCatalog.get(port, "/v1/tables")
        assert(c == 200, listing)
        val names = RestCatalog.listedNames(listing)
        assert(names.contains("lineitem"))
        val (c2, d) = RestCatalog.get(port, "/v1/tables/orders")
        assert(c2 == 200 && d.contains("o_orderkey"), d)
        names.size
      }.last
    }
    val writer = Future {
      (1 to 3).foreach { i =>
        val loc = s"$tableArea/conc_$i"
        SnapshotTable.commit(spark, loc, Seq((i.toLong, s"w$i")).toDF("id", "v"))
        val (c, resp) = RestCatalog.post(port, "/v1/tables",
          s"""{"name":"rest_spec_conc_$i","format":"parquet","location":"$loc"}""")
        assert(c == 201, resp)
        val (c2, stats) = RestCatalog.get(port, s"/v1/tables/rest_spec_conc_$i/stats")
        assert(c2 == 200 && long(at(parse(stats), "row_count")).contains(1L), stats)
      }
    }
    Await.result(writer, 120.seconds)
    val lastSeen = Await.result(reader, 120.seconds)
    assert(lastSeen >= 3) // sanity: listings stayed parseable throughout
    val (_, fin) = RestCatalog.get(port, "/v1/tables")
    val names = RestCatalog.listedNames(fin)
    (1 to 3).foreach(i => assert(names.contains(s"rest_spec_conc_$i"), names.toString))
  }

  test("error surfaces: unknown table 404, malformed create 400") {
    val (c1, _) = RestCatalog.get(port, "/v1/tables/no_such_table")
    assert(c1 == 404)
    val (c2, _) = RestCatalog.get(port, "/v1/tables/no_such_table/stats")
    assert(c2 == 404)
    val (c3, b3) = RestCatalog.post(port, "/v1/tables", """{"format":"parquet"}""")
    assert(c3 == 400, b3)
    val (c4, b4) = RestCatalog.post(port, "/v1/tables",
      """{"name":"bad name!","location":"/tmp/x"}""")
    assert(c4 == 400, b4)
    val (c5, _) = RestCatalog.delete(port, "/v1/tables/no_such_table")
    assert(c5 == 404)
  }

  test("POST with view_sql creates a durable view") {
    val (c, resp) = RestCatalog.post(port, "/v1/tables",
      """{"name":"rest_spec_view","view_sql":"SELECT r_regionkey, upper(r_name) AS region FROM graft.region"}""")
    assert(c == 201, resp)
    val (c2, d) = RestCatalog.get(port, "/v1/tables/rest_spec_view")
    assert(c2 == 200 && d.contains("\"kind\":\"view\"") && d.contains("region"), d)
    val (c3, stats) = RestCatalog.get(port, "/v1/tables/rest_spec_view/stats")
    assert(c3 == 200 && long(at(parse(stats), "row_count")).contains(
      spark.table("graft.region").count()), stats)
    // durably recorded with its defining SQL
    val reg = lake.SnapshotTable.read(spark, registryRoot)
      .where(org.apache.spark.sql.functions.col("table_name") === "rest_spec_view")
      .collect()
    assert(reg.length == 1 && reg(0).getAs[String]("kind") == "view" &&
      reg(0).getAs[String]("create_sql").toLowerCase.contains("upper"))
    val (c4, _) = RestCatalog.delete(port, "/v1/tables/rest_spec_view")
    assert(c4 == 200)
  }

  test("DELETE drops from session and registry") {
    import spark.implicits._
    val loc = s"$tableArea/dropme"
    SnapshotTable.commit(spark, loc, Seq((1L, "x")).toDF("id", "v"))
    val (c, _) = RestCatalog.post(port, "/v1/tables",
      s"""{"name":"rest_spec_dropme","format":"parquet","location":"$loc"}""")
    assert(c == 201)
    val (c2, resp) = RestCatalog.delete(port, "/v1/tables/rest_spec_dropme")
    assert(c2 == 200, resp)
    val (_, listing) = RestCatalog.get(port, "/v1/tables")
    assert(!RestCatalog.listedNames(listing).contains("rest_spec_dropme"))
    assert(!spark.catalog.tableExists("graft.rest_spec_dropme"))
  }

  test("POST maintain runs the composed maintenance job over the wire") {
    import spark.implicits._
    val loc = s"$tableArea/maintme"
    // 3 small-file commits worth of fold fodder
    (0 until 3).foreach { i =>
      SnapshotTable.commit(spark, loc,
        (0 until 8).map(k => (i * 8L + k, s"r$k")).toDF("id", "v").repartition(4))
    }
    val (c, _) = RestCatalog.post(port, "/v1/tables",
      s"""{"name":"rest_spec_maint","format":"parquet","location":"$loc"}""")
    assert(c == 201)
    val (c2, resp) = RestCatalog.post(port, "/v1/tables/rest_spec_maint/maintain",
      """{"small_bytes":1048576,"target_bytes":1073741824,"keep_versions":1,"orphan_grace_ms":0}""")
    assert(c2 == 200, resp)
    assert(long(at(parse(resp), "packed_version")).contains(4L), resp)
    assert(long(at(parse(resp), "final_version")).contains(4L), resp)
    assert(resp.contains("\"expired_versions\":[1,2,3]"), resp)
    assert(SnapshotTable.read(spark, loc).count() === 24,
      "content preserved through wire-driven maintenance")
    assert(SnapshotTable.dataFiles(spark, loc, 4).size === 1)
    // a non-snapshot (plain parquet) table 404s on maintain
    val (c3, _) = RestCatalog.post(port, "/v1/tables/region/maintain", "{}")
    assert(c3 == 404)
    val (c4, _) = RestCatalog.delete(port, "/v1/tables/rest_spec_maint")
    assert(c4 == 200)
  }

  test("Iceberg-REST-shaped routes use the documented field names") {
    import spark.implicits._
    val loc = s"$tableArea/icemeta"
    SnapshotTable.drop(spark, loc)
    SnapshotTable.commit(spark, loc,
      Seq((1L, "a", 1.5)).toDF("id", "v", "x"))
    SnapshotTable.commitAppend(spark, loc, Seq((2L, "b", 2.5)).toDF("id", "v", "x"))
    val (c0, createResp) = RestCatalog.post(port, "/v1/tables",
      s"""{"name":"rest_spec_ice","format":"parquet","location":"$loc"}""")
    assert(c0 == 201, createResp)
    // CatalogConfig: defaults / overrides
    val (cc, cfg) = RestCatalog.get(port, "/v1/config")
    assert(cc == 200 && cfg.contains("\"defaults\"") && cfg.contains("\"overrides\""), cfg)
    // GetNamespaceResponse
    val (cn, nsr) = RestCatalog.get(port, "/v1/namespaces/graft")
    assert(cn == 200 && nsr.contains("\"namespace\":[\"graft\"]"), nsr)
    // ListTablesResponse: identifiers of {namespace, name}
    val (cl, ids) = RestCatalog.get(port, "/v1/namespaces/graft/tables")
    assert(cl == 200, ids)
    assert(ids.contains("\"identifiers\""), ids)
    assert(ids.contains("""{"namespace":["graft"],"name":"rest_spec_ice"}"""), ids)
    // LoadTableResult: metadata-location + metadata fields
    val (ct, load) = RestCatalog.get(port, "/v1/namespaces/graft/tables/rest_spec_ice")
    assert(ct == 200, load)
    Seq("\"metadata-location\"", "\"format-version\":2", "\"table-uuid\"",
      "\"current-snapshot-id\":2", "\"current-schema-id\"", "\"schemas\"",
      "\"snapshots\"", "\"timestamp-ms\"", "\"summary\"", "\"operation\"",
      // the table spec's REQUIRED v2 keys spec-strict clients reject
      // without: column/sequence bookkeeping, partition spec + sort
      // order stubs, per-snapshot manifest-list + sequence-number
      "\"last-column-id\"", "\"last-sequence-number\":2", "\"last-updated-ms\"",
      "\"default-spec-id\":0", "\"partition-specs\"", "\"last-partition-id\"",
      "\"default-sort-order-id\":0", "\"sort-orders\"",
      "\"manifest-list\"", "\"sequence-number\":1")
      .foreach(f => assert(load.contains(f), s"missing $f in $load"))
    // Iceberg type spellings: bigint → long, double stays double
    assert(load.contains("""{"id":1,"name":"id","required":false,"type":"long"}"""), load)
    assert(load.contains("\"type\":\"double\""), load)
    // both snapshots listed, ids are the engine versions
    assert(load.contains("\"snapshot-id\":1") && load.contains("\"snapshot-id\":2"), load)
    // metadata-location is a MATERIALIZED Iceberg metadata.json: a
    // client can follow the pointer, parse it, and walk a snapshot's
    // manifest-list down to the engine manifest's file list
    val metaLoc = {
      val re = "\"metadata-location\"\\s*:\\s*\"([^\"]+)\"".r
      re.findFirstMatchIn(load).get.group(1)
    }
    assert(metaLoc.endsWith("/_iceberg/v2.metadata.json"), metaLoc)
    def localPath(p: String) = java.nio.file.Paths.get(p.stripPrefix("file:"))
    val metaJson = new String(java.nio.file.Files.readAllBytes(
      localPath(metaLoc)), "UTF-8")
    assert(metaJson.contains("\"format-version\":2") &&
      metaJson.contains("\"partition-specs\""), metaJson)
    val v1List = {
      val re = ("\"snapshot-id\":1,\"sequence-number\":1,[^}]*" +
        "\"manifest-list\"\\s*:\\s*\"([^\"]+)\"").r
      re.findFirstMatchIn(metaJson).get.group(1)
    }
    // the snapshot's manifest-list is REAL Iceberg v2 Avro — walk
    // manifest-list → manifests with the plain avro library, exactly
    // as an external engine following the chain would
    assert(v1List.endsWith("/_iceberg/snap-1.avro"), v1List)
    val hconf = spark.sparkContext.hadoopConfiguration
    val manifests = graft.lake.IcebergInterop.readManifestList(hconf, v1List)
    assert(manifests.nonEmpty && manifests.forall(_._2 == 0), manifests.toString)
    val derived = manifests
      .flatMap(m => graft.lake.IcebergInterop.readManifest(hconf, m._1))
      .map(_._1).sorted
    val truth = SnapshotTable.dataFiles(spark, loc, 1)
      .map(SnapshotTable.canon(spark, _)).sorted
    assert(derived === truth,
      s"metadata.json Avro chain must re-derive v1's file list: $derived vs $truth")
    // a non-snapshot table 404s on LoadTable (honest delta)
    val (c404, _) = RestCatalog.get(port, "/v1/namespaces/graft/tables/region")
    assert(c404 == 404)
    val (cD, _) = RestCatalog.delete(port, "/v1/tables/rest_spec_ice")
    assert(cD == 200)
  }

  test("maintain route: max_delete_ratio knob and dry_run preview") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val loc = s"$tableArea/maintknobs"
    (0 until 2).foreach { i =>
      SnapshotTable.commit(spark, loc,
        (0 until 10).map(k => (i * 10L + k, s"r$k")).toDF("id", "v").coalesce(1))
    }
    SnapshotTable.deleteWhereMor(spark, loc, col("id") === 0L) // v3, 1 pending delete
    val (c, _) = RestCatalog.post(port, "/v1/tables",
      s"""{"name":"rest_spec_knobs","format":"parquet","location":"$loc"}""")
    assert(c == 201)
    // dry_run: previews what expire would drop, mutates NOTHING
    val (cd, dresp) = RestCatalog.post(port, "/v1/tables/rest_spec_knobs/maintain",
      """{"dry_run":true,"keep_versions":1,"max_delete_ratio":0.999999}""")
    assert(cd == 200, dresp)
    assert(dresp.contains("\"dry_run\":true"), dresp)
    assert(dresp.contains("\"expired_versions\":[1,2]"), dresp)
    assert(SnapshotTable.currentVersion(spark, loc) === 3, "dry run must not commit")
    // max_delete_ratio high: the 5% pending-delete ratio stays MoR
    val (c1, r1) = RestCatalog.post(port, "/v1/tables/rest_spec_knobs/maintain",
      """{"max_delete_ratio":0.999999,"keep_versions":10,"small_bytes":1}""")
    assert(c1 == 200, r1)
    assert(r1.contains("\"deletes_folded_version\":null"), r1)
    // max_delete_ratio tiny: the same pending delete now folds
    val (c2, r2) = RestCatalog.post(port, "/v1/tables/rest_spec_knobs/maintain",
      """{"max_delete_ratio":0.000001,"keep_versions":10,"small_bytes":1}""")
    assert(c2 == 200, r2)
    assert(!r2.contains("\"deletes_folded_version\":null"), r2)
    assert(SnapshotTable.read(spark, loc).count() === 19)
    // present-but-malformed knobs are a 400, never a silent default
    val (cb1, rb1) = RestCatalog.post(port, "/v1/tables/rest_spec_knobs/maintain",
      """{"max_delete_ratio":"oops"}""")
    assert(cb1 == 400, rb1)
    val (cb2, rb2) = RestCatalog.post(port, "/v1/tables/rest_spec_knobs/maintain",
      """{"max_delete_ratio":-1}""")
    assert(cb2 == 400, rb2)
    // negative and leading-dot numbers PARSE (then validate)
    val (cb3, rb3) = RestCatalog.post(port, "/v1/tables/rest_spec_knobs/maintain",
      """{"max_delete_ratio":.5,"keep_versions":10}""")
    assert(cb3 == 200, rb3)
    // a fractional integer knob is a 400, never truncated to its prefix
    val (cb4, rb4) = RestCatalog.post(port, "/v1/tables/rest_spec_knobs/maintain",
      """{"keep_versions":3.5}""")
    assert(cb4 == 400, rb4)
    val (c5, _) = RestCatalog.delete(port, "/v1/tables/rest_spec_knobs")
    assert(c5 == 200)
  }

  test("OAuth2 client-credentials gate secures every route but config") {
    port // ensure the graft db + base registry exist first
    val authRoot = "/tmp/graft_rest_spec_auth_registry"
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(authRoot); p.getFileSystem(conf).delete(p, true)
    PersistentCatalog.save(spark, authRoot)
    val aport = RestCatalog.serve(spark, authRoot, auth = Some("trino" -> "s3cr3t"))
    try {
      // /v1/config stays open: Iceberg clients fetch it pre-auth
      assert(RestCatalog.get(aport, "/v1/config")._1 == 200)
      // every other route is 401 without a bearer token
      val (c401, b401) = RestCatalog.get(aport, "/v1/tables")
      assert(c401 == 401, b401)
      // wrong secret → OAuth invalid_client
      val form = Seq("Content-Type" -> "application/x-www-form-urlencoded")
      val (cBad, bBad) = RestCatalog.post(aport, "/v1/oauth/tokens",
        "grant_type=client_credentials&client_id=trino&client_secret=wrong", form)
      assert(cBad == 401 && bBad.contains("invalid_client"), bBad)
      // unsupported grant type → 400
      assert(RestCatalog.post(aport, "/v1/oauth/tokens",
        "grant_type=password&client_id=trino&client_secret=s3cr3t", form)._1 == 400)
      // the documented flow: mint a token, then present it as Bearer
      val (cTok, tok) = RestCatalog.post(aport, "/v1/oauth/tokens",
        "grant_type=client_credentials&client_id=trino&client_secret=s3cr3t", form)
      assert(cTok == 200 && tok.contains("\"token_type\":\"bearer\""), tok)
      val access = str(at(parse(tok), "access_token")).get
      val (cOk, listing) = RestCatalog.get(aport, "/v1/tables",
        Seq("Authorization" -> s"Bearer $access"))
      assert(cOk == 200 && listing.contains("lineitem"), listing)
      // a fabricated token is still rejected
      assert(RestCatalog.get(aport, "/v1/tables",
        Seq("Authorization" -> "Bearer not-a-token"))._1 == 401)
      // the management API is gated exactly like the catalog routes
      // (Lakekeeper secures both behind the same auth)
      assert(RestCatalog.get(aport, "/management/v1/warehouse")._1 == 401)
      assert(RestCatalog.post(aport, "/management/v1/warehouse",
        """{"warehouse-name":"w","storage-profile":{"type":"file"}}""")._1 == 401)
      val bearer = Seq("Authorization" -> s"Bearer $access")
      val (cWh, _) = RestCatalog.post(aport, "/management/v1/warehouse",
        """{"warehouse-name":"auth_wh","storage-profile":{"type":"file"}}""", bearer)
      assert(cWh == 201)
      // …and so are the warehouse-PREFIXED catalog routes
      assert(RestCatalog.get(aport, "/v1/auth_wh/tables")._1 == 401)
      assert(RestCatalog.get(aport, "/v1/auth_wh/tables", bearer)._1 == 200)
      assert(RestCatalog.delete(aport, "/management/v1/warehouse/auth_wh")._1 == 401)
      assert(RestCatalog.delete(aport,
        "/management/v1/warehouse/auth_wh", bearer)._1 == 200)
    } finally RestCatalog.stop(authRoot)
  }

  test("updateTable commit route: validation and requirement checks") {
    import spark.implicits._
    val loc = s"$tableArea/restcommit"
    SnapshotTable.drop(spark, loc)
    SnapshotTable.commit(spark, loc, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val (c0, _) = RestCatalog.post(port, "/v1/tables",
      s"""{"name":"rest_spec_commit","format":"graft-snapshot","location":"$loc"}""")
    assert(c0 == 201)
    val base = "/v1/namespaces/graft/tables/rest_spec_commit"
    // an unsupported update action is refused, not silently dropped
    val (cAct, rAct) = RestCatalog.post(port, base,
      """{"updates":[{"action":"set-location","location":"/elsewhere"}]}""")
    assert(cAct == 400 && rAct.contains("unsupported update action"), rAct)
    // add-snapshot must carry data files (the documented commit shape)
    val (cNf, rNf) = RestCatalog.post(port, base,
      """{"updates":[{"action":"add-snapshot","snapshot":{"added-data-files":[]}}]}""")
    assert(cNf == 400 && rNf.contains("added-data-files"), rNf)
    // a nonexistent staged file is a 400 before any commit happens
    val (cMiss, rMiss) = RestCatalog.post(port, base,
      s"""{"updates":[{"action":"add-snapshot","snapshot":{"added-data-files":["$loc/nope.parquet"]}}]}""")
    assert(cMiss == 400 && rMiss.contains("does not exist"), rMiss)
    // assert-table-uuid mismatch → 409 (CommitFailedException over the wire)
    val staged = s"$tableArea/restcommit_staged"
    Seq((3L, "c")).toDF("id", "v").coalesce(1)
      .write.mode("overwrite").parquet(staged)
    val file = new Path(staged).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(new Path(staged)).map(_.getPath.toString)
      .filter(_.endsWith(".parquet")).head
    val (cUuid, rUuid) = RestCatalog.post(port, base,
      s"""{"requirements":[{"type":"assert-table-uuid","uuid":"00000000-0000-0000-0000-000000000000"}],
         |"updates":[{"action":"add-snapshot","snapshot":{"added-data-files":["$file"]}}]}""".stripMargin)
    assert(cUuid == 409 && rUuid.contains("requirement failed"), rUuid)
    assert(SnapshotTable.currentVersion(spark, loc) == 1, "no commit may have landed")
    // matching uuid + matching ref snapshot-id commits zero-copy
    val (cL, load) = RestCatalog.get(port, base)
    assert(cL == 200, load)
    val uuid = str(at(parse(load), "metadata", "table-uuid")).get
    val (cOk, rOk) = RestCatalog.post(port, base,
      s"""{"requirements":[{"type":"assert-table-uuid","uuid":"$uuid"},
         |{"type":"assert-ref-snapshot-id","ref":"main","snapshot-id":1}],
         |"updates":[{"action":"add-snapshot","snapshot":{"summary":{"operation":"append"},
         |"added-data-files":["$file"]}}]}""".stripMargin)
    assert(cOk == 200 && rOk.contains("\"current-snapshot-id\":2"), rOk)
    assert(SnapshotTable.currentVersion(spark, loc) == 2)
    assert(SnapshotTable.read(spark, loc).count() == 3)
    val (cD, _) = RestCatalog.delete(port, "/v1/tables/rest_spec_commit")
    assert(cD == 200)
  }

  test("Iceberg createTable + HEAD + namespaced drop complete the loop") {
    import spark.implicits._
    val base = "/v1/namespaces/graft/tables"
    // HEAD on a missing table is 404, no body
    val h0 = RestCatalog.head(port, s"$base/rest_spec_icecreate")
    assert(h0 == 404,
      s"pre-create HEAD=$h0; graft tables: " + spark.sql("SHOW TABLES IN graft")
        .collect().map(_.getAs[String]("tableName")).sorted.mkString(","))
    // CreateTableRequest: name + Iceberg schema, catalog-assigned location
    val createBody =
      """{"name":"rest_spec_icecreate","schema":{"type":"struct","fields":[
        |{"id":1,"name":"id","required":true,"type":"long"},
        |{"id":2,"name":"v","required":false,"type":"string"}]}}""".stripMargin
    val (cc, created) = RestCatalog.post(port, base, createBody)
    assert(cc == 200, created)
    // the response is a full LoadTableResult for the empty v1
    assert(created.contains("\"current-snapshot-id\":1") &&
      created.contains("\"type\":\"long\""), created)
    assert(RestCatalog.head(port, s"$base/rest_spec_icecreate") == 204)
    // creating it again is an AlreadyExists 409
    assert(RestCatalog.post(port, base, createBody)._1 == 409)
    // unsupported (nested) field type is a 400, per the documented delta
    val (cNest, rNest) = RestCatalog.post(port, base,
      """{"name":"rest_spec_nested","schema":{"type":"struct","fields":[
        |{"id":1,"name":"m","required":false,"type":"map_of_things"}]}}""".stripMargin)
    assert(cNest == 400 && rNest.contains("unsupported field type"), rNest)
    // the created table is empty but readable through the session catalog
    assert(spark.table("graft.rest_spec_icecreate").count() == 0)
    assert(spark.table("graft.rest_spec_icecreate").schema.map(_.name) ==
      Seq("id", "v"))
    // an external writer can immediately commit staged parquet to it
    val staged = s"$tableArea/created_staged"
    Seq((10L, "x"), (11L, "y")).toDF("id", "v").coalesce(1)
      .write.mode("overwrite").parquet(staged)
    val file = new Path(staged).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(new Path(staged)).map(_.getPath.toString)
      .filter(_.endsWith(".parquet")).head
    val (cUp, _) = RestCatalog.post(port, s"$base/rest_spec_icecreate",
      s"""{"requirements":[{"type":"assert-ref-snapshot-id","ref":"main","snapshot-id":1}],
         |"updates":[{"action":"add-snapshot","snapshot":{"added-data-files":["$file"]}}]}""".stripMargin)
    assert(cUp == 200)
    assert(spark.table("graft.rest_spec_icecreate").count() == 2)
    // namespaced drop, then HEAD sees it gone
    val (cDrop, _) = RestCatalog.delete(port, s"$base/rest_spec_icecreate")
    assert(cDrop == 200)
    assert(RestCatalog.head(port, s"$base/rest_spec_icecreate") == 404)
  }

  test("add-schema evolves a table over the wire: add + widen") {
    import spark.implicits._
    val loc = s"$tableArea/evolve"
    SnapshotTable.drop(spark, loc)
    SnapshotTable.commit(spark, loc,
      Seq((1, "a", 1.5f), (2, "b", 2.5f)).toDF("n", "v", "x"))
    val (c0, _) = RestCatalog.post(port, "/v1/tables",
      s"""{"name":"rest_spec_evolve","format":"graft-snapshot","location":"$loc"}""")
    assert(c0 == 201)
    val base = "/v1/namespaces/graft/tables/rest_spec_evolve"
    def schemaBody(fields: String) =
      s"""{"requirements":[],"updates":[{"action":"add-schema","schema":{"type":"struct","fields":[$fields]}},
         |{"action":"set-current-schema","schema-id":-1}]}""".stripMargin
    // widen n int->long, keep v/x, add score double: one wire call
    val (c1, r1) = RestCatalog.post(port, base, schemaBody(
      """{"id":1,"name":"n","required":false,"type":"long"},
        |{"id":2,"name":"v","required":false,"type":"string"},
        |{"id":3,"name":"x","required":false,"type":"float"},
        |{"id":4,"name":"score","required":false,"type":"double"}""".stripMargin))
    assert(c1 == 200, r1)
    // the RESPONSE metadata carries the evolved fields (not a stale
    // pre-evolution DESCRIBE) …
    assert(r1.contains("\"name\":\"score\"") && r1.contains("\"type\":\"long\""), r1)
    // … and the session-catalog registration was refreshed, so SQL on
    // the registered name serves the evolved schema too
    assert(spark.table("graft.rest_spec_evolve").schema
      .map(f => f.name -> f.dataType.simpleString) ===
      Seq("n" -> "bigint", "v" -> "string", "x" -> "float", "score" -> "double"))
    val evolved = SnapshotTable.read(spark, loc)
    assert(evolved.schema.map(f => f.name -> f.dataType.simpleString) ===
      Seq("n" -> "bigint", "v" -> "string", "x" -> "float", "score" -> "double"))
    // old rows read back with the widened type and typed-NULL new column
    assert(evolved.orderBy("n").collect().map(r =>
      (r.getLong(0), r.getString(1), r.isNullAt(3))).toSeq ===
      Seq((1L, "a", true), (2L, "b", true)))
    // the same schema again is an idempotent no-op, version unchanged
    val vAfter = SnapshotTable.currentVersion(spark, loc)
    assert(RestCatalog.post(port, base, schemaBody(
      """{"id":1,"name":"n","required":false,"type":"long"},
        |{"id":2,"name":"v","required":false,"type":"string"},
        |{"id":3,"name":"x","required":false,"type":"float"},
        |{"id":4,"name":"score","required":false,"type":"double"}""".stripMargin))._1 == 200)
    assert(SnapshotTable.currentVersion(spark, loc) === vAfter)
    // a narrowing (long -> int) is not a promotion
    val (cNarrow, rNarrow) = RestCatalog.post(port, base, schemaBody(
      """{"id":1,"name":"n","required":false,"type":"int"},
        |{"id":2,"name":"v","required":false,"type":"string"},
        |{"id":3,"name":"x","required":false,"type":"float"},
        |{"id":4,"name":"score","required":false,"type":"double"}""".stripMargin))
    assert(cNarrow == 400 && rNarrow.contains("not a supported promotion"), rNarrow)
    // schema + snapshot in one commit is refused (documented delta)
    val (cBoth, rBoth) = RestCatalog.post(port, base,
      """{"updates":[{"action":"add-schema","schema":{"fields":[{"name":"n","type":"long"}]}},
        |{"action":"add-snapshot","snapshot":{"added-data-files":["/tmp/x.parquet"]}}]}""".stripMargin)
    assert(cBoth == 400 && rBoth.contains("separate"), rBoth)
    // a stale assert-ref-snapshot-id still gates schema commits: 409
    val (cStale, rStale) = RestCatalog.post(port, base,
      s"""{"requirements":[{"type":"assert-ref-snapshot-id","ref":"main","snapshot-id":1}],
         |"updates":[{"action":"add-schema","schema":{"fields":[
         |{"name":"n","type":"long"},{"name":"v","type":"string"},
         |{"name":"x","type":"float"},{"name":"score","type":"double"},
         |{"name":"extra","type":"int"}]}}]}""".stripMargin)
    assert(cStale == 409, rStale)
    val (cD, _) = RestCatalog.delete(port, "/v1/tables/rest_spec_evolve")
    assert(cD == 200)
  }

  test("add-schema RENAME rides persistent field ids; DROP works with time travel") {
    import spark.implicits._
    val loc = s"$tableArea/wire_rename"
    SnapshotTable.drop(spark, loc)
    SnapshotTable.commit(spark, loc,
      Seq((1L, "a", 1.5f), (2L, "b", 2.5f)).toDF("id", "v", "x"))
    val (c0, _) = RestCatalog.post(port, "/v1/tables",
      s"""{"name":"rest_spec_rename","format":"graft-snapshot","location":"$loc"}""")
    assert(c0 == 201)
    val base = "/v1/namespaces/graft/tables/rest_spec_rename"
    def schemaBody(fields: String) =
      s"""{"requirements":[],"updates":[{"action":"add-schema","schema":{"type":"struct","fields":[$fields]}},
         |{"action":"set-current-schema","schema-id":-1}]}""".stripMargin
    // loadTable advertises the persistent ids a client echoes back
    val (cL, load) = RestCatalog.get(port, base)
    assert(cL == 200 &&
      load.contains("""{"id":2,"name":"v","required":false,"type":"string"}"""), load)
    // RENAME v -> label: same field id 2, new name (Iceberg spec §4)
    val (c1, r1) = RestCatalog.post(port, base, schemaBody(
      """{"id":1,"name":"id","required":false,"type":"long"},
        |{"id":2,"name":"label","required":false,"type":"string"},
        |{"id":3,"name":"x","required":false,"type":"float"}""".stripMargin))
    assert(c1 == 200, r1)
    assert(r1.contains("""{"id":2,"name":"label","required":false,"type":"string"}"""), r1)
    assert(SnapshotTable.read(spark, loc).columns.toSeq === Seq("id", "label", "x"))
    // data survives under the new name; old versions read the OLD name
    assert(SnapshotTable.read(spark, loc).orderBy("id")
      .select("label").collect().map(_.getString(0)).toSeq === Seq("a", "b"))
    assert(SnapshotTable.read(spark, loc, 1).columns.toSeq === Seq("id", "v", "x"),
      "time travel must keep the pre-rename schema")
    // rename + widen in ONE entry: id 2 -> tag, x float -> double
    val (c2, r2) = RestCatalog.post(port, base, schemaBody(
      """{"id":1,"name":"id","required":false,"type":"long"},
        |{"id":2,"name":"tag","required":false,"type":"string"},
        |{"id":3,"name":"x","required":false,"type":"double"}""".stripMargin))
    assert(c2 == 200, r2)
    assert(SnapshotTable.read(spark, loc).schema
      .map(f => f.name -> f.dataType.simpleString) ===
      Seq("id" -> "bigint", "tag" -> "string", "x" -> "double"))
    // the id survived both renames
    assert(SnapshotTable.fieldIds(spark, loc,
      SnapshotTable.currentVersion(spark, loc))("tag") === 2)
    // a SWAP in one request is refused before anything commits
    val vSwap = SnapshotTable.currentVersion(spark, loc)
    val (cSwap, rSwap) = RestCatalog.post(port, base, schemaBody(
      """{"id":1,"name":"tag","required":false,"type":"long"},
        |{"id":2,"name":"id","required":false,"type":"string"},
        |{"id":3,"name":"x","required":false,"type":"double"}""".stripMargin))
    assert(cSwap == 400 && rSwap.contains("still in use"), rSwap)
    assert(SnapshotTable.currentVersion(spark, loc) === vSwap,
      "a refused swap must not half-commit")
    // ADD of a name still physically in use by the renamed column: 400
    val (cPhys, rPhys) = RestCatalog.post(port, base, schemaBody(
      """{"id":1,"name":"id","required":false,"type":"long"},
        |{"id":2,"name":"tag","required":false,"type":"string"},
        |{"id":3,"name":"x","required":false,"type":"double"},
        |{"name":"v","required":false,"type":"string"}""".stripMargin))
    assert(cPhys == 400 && rPhys.contains("physical"), rPhys)
    // DROP (field absent by name AND id): x goes; HEAD loses it, time
    // travel keeps it, the tombstoned id blocks aliasing
    val vPre = SnapshotTable.currentVersion(spark, loc)
    val (cDrop, rDrop) = RestCatalog.post(port, base, schemaBody(
      """{"id":1,"name":"id","required":false,"type":"long"},
        |{"id":2,"name":"tag","required":false,"type":"string"}""".stripMargin))
    assert(cDrop == 200, rDrop)
    assert(!rDrop.contains("\"name\":\"x\"") ||
      rDrop.contains("schema-id"), rDrop) // current schema has no x
    assert(SnapshotTable.read(spark, loc).columns.toSeq === Seq("id", "tag"))
    assert(SnapshotTable.read(spark, loc, vPre).columns.contains("x"),
      "time travel must keep the dropped column")
    // a later ADD gets a FRESH id past the tombstone, never 3
    val (cAdd, rAdd) = RestCatalog.post(port, base, schemaBody(
      """{"id":1,"name":"id","required":false,"type":"long"},
        |{"id":2,"name":"tag","required":false,"type":"string"},
        |{"name":"score","required":false,"type":"double"}""".stripMargin))
    assert(cAdd == 200, rAdd)
    assert(SnapshotTable.fieldIds(spark, loc,
      SnapshotTable.currentVersion(spark, loc))("score") === 4,
      "the dropped field's id must stay burned")
    val (cD, _) = RestCatalog.delete(port, "/v1/tables/rest_spec_rename")
    assert(cD == 200)
  }

  test("add-schema rename-plus-reuse resolves against the POST-rename schema") {
    import spark.implicits._
    val loc = s"$tableArea/wire_reuse"
    SnapshotTable.drop(spark, loc)
    SnapshotTable.commit(spark, loc, Seq((1L, 1.5f)).toDF("id", "x"))
    val (c0, _) = RestCatalog.post(port, "/v1/tables",
      s"""{"name":"rest_spec_reuse","format":"graft-snapshot","location":"$loc"}""")
    assert(c0 == 201)
    val base = "/v1/namespaces/graft/tables/rest_spec_reuse"
    def schemaBody(fields: String) =
      s"""{"requirements":[],"updates":[{"action":"add-schema","schema":{"type":"struct","fields":[$fields]}},
         |{"action":"set-current-schema","schema-id":-1}]}""".stripMargin
    val v0 = SnapshotTable.currentVersion(spark, loc)
    // Iceberg's rename-x-to-y-plus-new-x shape: the no-id "x" entry is
    // a fresh ADD of a name the rename just freed LOGICALLY but still
    // occupies physically — refused whole, version unchanged. The
    // frozen-schema resolution this pins against used to treat "x" as
    // the departing column: same type silently dropped the add (200
    // without the column), a widening type half-committed the rename
    // then threw mid-apply
    val (c1, r1) = RestCatalog.post(port, base, schemaBody(
      """{"id":1,"name":"id","required":false,"type":"long"},
        |{"id":2,"name":"y","required":false,"type":"float"},
        |{"name":"x","required":false,"type":"float"}""".stripMargin))
    assert(c1 == 400 && r1.contains("physical"), r1)
    assert(SnapshotTable.currentVersion(spark, loc) === v0,
      "refused rename+reuse must not half-commit")
    val (c2, r2) = RestCatalog.post(port, base, schemaBody(
      """{"id":1,"name":"id","required":false,"type":"long"},
        |{"id":2,"name":"y","required":false,"type":"float"},
        |{"name":"x","required":false,"type":"double"}""".stripMargin))
    assert(c2 == 400 && r2.contains("physical"), r2)
    assert(SnapshotTable.currentVersion(spark, loc) === v0,
      "refused rename+widen-reuse must not half-commit")
    assert(SnapshotTable.read(spark, loc).columns.toSeq === Seq("id", "x"),
      "schema untouched after both refusals")
    // ambiguous target schemas: duplicate field ids / names are 400
    val (c3, r3) = RestCatalog.post(port, base, schemaBody(
      """{"id":2,"name":"y","required":false,"type":"float"},
        |{"id":2,"name":"z","required":false,"type":"float"},
        |{"id":1,"name":"id","required":false,"type":"long"}""".stripMargin))
    assert(c3 == 400 && r3.contains("duplicate field ids"), r3)
    val (c4, r4) = RestCatalog.post(port, base, schemaBody(
      """{"id":1,"name":"id","required":false,"type":"long"},
        |{"id":2,"name":"x","required":false,"type":"float"},
        |{"name":"x","required":false,"type":"float"}""".stripMargin))
    assert(c4 == 400 && r4.contains("duplicate field names"), r4)
    assert(SnapshotTable.currentVersion(spark, loc) === v0)
    val (cD, _) = RestCatalog.delete(port, "/v1/tables/rest_spec_reuse")
    assert(cD == 200)
  }

  test("set/remove-properties ride updateTable; properties inherit + time-travel") {
    import spark.implicits._
    val loc = s"$tableArea/props"
    SnapshotTable.drop(spark, loc)
    SnapshotTable.commit(spark, loc, Seq((1L, "a")).toDF("id", "v"))
    val (c0, _r0) = RestCatalog.post(port, "/v1/tables",
      s"""{"name":"rest_spec_props","format":"graft-snapshot","location":"$loc"}""")
    assert(c0 == 201, _r0)
    val base = "/v1/namespaces/graft/tables/rest_spec_props"
    // set two properties — one value exercises the k=v,k=v header escaping
    val (c1, r1) = RestCatalog.post(port, base,
      """{"updates":[{"action":"set-properties","updates":{"owner":"team a,b=c","write.target":"512m"}}]}""")
    assert(c1 == 200, r1)
    // user properties plus the always-served name-mapping (sorted order)
    assert(r1.contains("\"owner\":\"team a,b=c\"") &&
      r1.contains("\"write.target\":\"512m\""), r1)
    assert(r1.contains("\"schema.name-mapping.default\""),
      s"loadTable must serve the name-mapping property: $r1")
    val vProps = SnapshotTable.currentVersion(spark, loc)
    // properties INHERIT across later engine commits
    SnapshotTable.commitAppend(spark, loc, Seq((2L, "b")).toDF("id", "v"))
    val (c2, r2) = RestCatalog.get(port, base)
    assert(c2 == 200 && r2.contains("\"owner\":\"team a,b=c\""), r2)
    // remove one; the other survives
    val (c3, r3) = RestCatalog.post(port, base,
      """{"updates":[{"action":"remove-properties","removals":["owner"]}]}""")
    assert(c3 == 200 && !r3.contains("owner") && r3.contains("write.target"), r3)
    // time travel: the pre-removal version still carries it
    assert(SnapshotTable.properties(spark, loc, vProps)
      === Map("owner" -> "team a,b=c", "write.target" -> "512m"))
    assert(SnapshotTable.properties(spark, loc,
      SnapshotTable.currentVersion(spark, loc)) === Map("write.target" -> "512m"))
    // an empty properties action is a client error
    val (c4, _) = RestCatalog.post(port, base,
      """{"updates":[{"action":"set-properties","updates":{}}]}""")
    assert(c4 == 400)
    // property commits cannot ride with snapshot commits
    val (c5, r5) = RestCatalog.post(port, base,
      """{"updates":[{"action":"set-properties","updates":{"k":"v"}},
        |{"action":"add-snapshot","snapshot":{"added-data-files":["/tmp/x.parquet"]}}]}""".stripMargin)
    assert(c5 == 400 && r5.contains("separate"), r5)
    val (cD, _) = RestCatalog.delete(port, "/v1/tables/rest_spec_props")
    assert(cD == 200)
  }

  test("set-properties values survive braces and escapes; no entry silently dropped") {
    import spark.implicits._
    val loc = s"$tableArea/props_esc"
    SnapshotTable.drop(spark, loc)
    SnapshotTable.commit(spark, loc, Seq((1L, "a")).toDF("id", "v"))
    val (c0, _) = RestCatalog.post(port, "/v1/tables",
      s"""{"name":"rest_spec_props_esc","format":"graft-snapshot","location":"$loc"}""")
    assert(c0 == 201)
    val base = "/v1/namespaces/graft/tables/rest_spec_props_esc"
    // the first value contains `}` — a greedy-stop regex would
    // truncate the updates object there and silently drop "retries";
    // the second value carries an escaped quote that must unescape
    val (c1, r1) = RestCatalog.post(port, base,
      """{"updates":[{"action":"set-properties","updates":{
        |"template":"{\"cols\":[1,2]} trailing","note":"say \"hi\"","retries":"3"}}]}""".stripMargin)
    assert(c1 == 200, r1)
    val props = SnapshotTable.properties(spark, loc,
      SnapshotTable.currentVersion(spark, loc))
    assert(props === Map(
      "template" -> """{"cols":[1,2]} trailing""",
      "note" -> """say "hi"""",
      "retries" -> "3"), props.toString)
    // and they round-trip loadTable (re-escaped on the way out)
    val (c2, r2) = RestCatalog.get(port, base)
    assert(c2 == 200 && r2.contains("\"retries\":\"3\"") &&
      r2.contains("""say \"hi\""""), r2)
    // remove-properties: a `]` inside a quoted key must not truncate
    // the removals array and silently drop the later elements
    val (c3, r3) = RestCatalog.post(port, base,
      """{"updates":[{"action":"set-properties","updates":{"weird]key":"1"}}]}""")
    assert(c3 == 200, r3)
    val (c4, _) = RestCatalog.post(port, base,
      """{"updates":[{"action":"remove-properties","removals":["weird]key","retries"]}]}""")
    assert(c4 == 200)
    val left = SnapshotTable.properties(spark, loc,
      SnapshotTable.currentVersion(spark, loc))
    assert(!left.contains("weird]key") && !left.contains("retries") &&
      left.contains("template"), left.toString)
    val (cD, _) = RestCatalog.delete(port, "/v1/tables/rest_spec_props_esc")
    assert(cD == 200)
  }

  test("wire commits race engine appends on one CAS-guarded chain") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    import spark.implicits._
    val loc = s"$tableArea/race"
    SnapshotTable.drop(spark, loc)
    SnapshotTable.commit(spark, loc, Seq((0L, "seed")).toDF("id", "v"))
    val (c0, _) = RestCatalog.post(port, "/v1/tables",
      s"""{"name":"rest_spec_race","format":"graft-snapshot","location":"$loc"}""")
    assert(c0 == 201)
    val base = "/v1/namespaces/graft/tables/rest_spec_race"
    // stage one parquet file per wire commit up front (the "external
    // engine" writes its data before ever talking to the catalog)
    val files = (1 to 3).map { i =>
      val d = s"$tableArea/race_staged_$i"
      Seq((100L + i, s"wire$i")).toDF("id", "v").coalesce(1)
        .write.mode("overwrite").parquet(d)
      new Path(d).getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listStatus(new Path(d)).map(_.getPath.toString)
        .filter(_.endsWith(".parquet")).head
    }
    // external writer: Iceberg optimistic concurrency over the wire —
    // refresh the snapshot-id via loadTable, commit, on 409 retry
    val wire = Future {
      files.foreach { f =>
        var done = false
        var attempts = 0
        while (!done) {
          val (lc, load) = RestCatalog.get(port, base)
          assert(lc == 200, load)
          val snap = long(at(parse(load), "metadata", "current-snapshot-id")).get
          val (c, r) = RestCatalog.post(port, base,
            s"""{"requirements":[{"type":"assert-ref-snapshot-id","ref":"main","snapshot-id":$snap}],
               |"updates":[{"action":"add-snapshot","snapshot":{"added-data-files":["$f"]}}]}""".stripMargin)
          if (c == 200) done = true
          else {
            assert(c == 409, s"only a CAS conflict may fail the commit: $c $r")
            attempts += 1
            assert(attempts < 50, "wire commit starved")
          }
        }
      }
    }
    // engine writer: three rebasing concurrent appends on the same table
    val engine = Future {
      (1 to 3).foreach { i =>
        SnapshotTable.commitAppend(spark, loc, Seq((200L + i, s"eng$i")).toDF("id", "v"))
      }
    }
    Await.result(wire, 180.seconds)
    Await.result(engine, 180.seconds)
    // all six commits landed on one strictly-sequential version chain
    assert(SnapshotTable.currentVersion(spark, loc) === 7)
    val ids = SnapshotTable.read(spark, loc).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids === (Seq(0L) ++ (1 to 3).map(100L + _) ++ (1 to 3).map(200L + _)).sorted)
    val (cD, _) = RestCatalog.delete(port, "/v1/tables/rest_spec_race")
    assert(cD == 200)
  }

  test("set/remove-snapshot-ref manage tags and branches over the wire") {
    import spark.implicits._
    val loc = s"$tableArea/restrefs"
    SnapshotTable.drop(spark, loc)
    SnapshotTable.commit(spark, loc, Seq((1L, "a")).toDF("id", "v"))
    SnapshotTable.commitAppend(spark, loc, Seq((2L, "b")).toDF("id", "v"))
    val (c0, _) = RestCatalog.post(port, "/v1/tables",
      s"""{"name":"rest_spec_refs","format":"graft-snapshot","location":"$loc"}""")
    assert(c0 == 201)
    val base = "/v1/namespaces/graft/tables/rest_spec_refs"
    // create a tag at v1, asserting it absent (requirement without id)
    val mk =
      """{"requirements":[{"type":"assert-ref-snapshot-id","ref":"rel"}],
        |"updates":[{"action":"set-snapshot-ref","ref-name":"rel","type":"tag","snapshot-id":1}]}""".stripMargin
    val (c1, r1) = RestCatalog.post(port, base, mk)
    assert(c1 == 200, r1)
    assert(SnapshotTable.tags(spark, loc).get("rel").contains(1))
    // the 200 response's metadata already serves the new ref
    assert(present(at(parse(r1), "metadata", "refs", "rel")), r1)
    // absent-assertion replay now 409s (the ref exists)
    val (c2, r2) = RestCatalog.post(port, base, mk)
    assert(c2 == 409 && r2.contains("requirement failed"), r2)
    // re-set to the SAME snapshot with a correct assertion: idempotent
    val (c3, _) = RestCatalog.post(port, base,
      """{"requirements":[{"type":"assert-ref-snapshot-id","ref":"rel","snapshot-id":1}],
        |"updates":[{"action":"set-snapshot-ref","ref-name":"rel","type":"tag","snapshot-id":1}]}""".stripMargin)
    assert(c3 == 200)
    // moving an existing tag is refused (immutable; remove first)
    val (c4, r4) = RestCatalog.post(port, base,
      """{"updates":[{"action":"set-snapshot-ref","ref-name":"rel","type":"tag","snapshot-id":2}]}""")
    assert(c4 == 409 && r4.contains("immutable"), r4)
    // main is the head: settable only to the current snapshot
    val (c5, _) = RestCatalog.post(port, base,
      """{"updates":[{"action":"set-snapshot-ref","ref-name":"main","type":"branch","snapshot-id":2}]}""")
    assert(c5 == 200)
    val (c6, r6) = RestCatalog.post(port, base,
      """{"updates":[{"action":"set-snapshot-ref","ref-name":"main","type":"branch","snapshot-id":1}]}""")
    assert(c6 == 400 && r6.contains("table head"), r6)
    val (c7, r7) = RestCatalog.post(port, base,
      """{"updates":[{"action":"remove-snapshot-ref","ref-name":"main"}]}""")
    assert(c7 == 400, r7)
    // a snapshot the table doesn't have is a 400
    val (c8, r8) = RestCatalog.post(port, base,
      """{"updates":[{"action":"set-snapshot-ref","ref-name":"nope","type":"tag","snapshot-id":9}]}""")
    assert(c8 == 400 && r8.contains("not a live snapshot"), r8)
    // branch create, move, remove; removed ref then 404s
    val (c9, _) = RestCatalog.post(port, base,
      """{"updates":[{"action":"set-snapshot-ref","ref-name":"dev","type":"branch","snapshot-id":1}]}""")
    assert(c9 == 200)
    assert(SnapshotTable.branches(spark, loc).get("dev").contains("v1"))
    val (c10, _) = RestCatalog.post(port, base,
      """{"updates":[{"action":"set-snapshot-ref","ref-name":"dev","type":"branch","snapshot-id":2}]}""")
    assert(c10 == 200)
    assert(SnapshotTable.branches(spark, loc).get("dev").contains("v2"))
    // a tag and a branch cannot share a name (refs are one namespace)
    val (c11, r11) = RestCatalog.post(port, base,
      """{"updates":[{"action":"set-snapshot-ref","ref-name":"dev","type":"tag","snapshot-id":1}]}""")
    assert(c11 == 409, r11)
    val (c12, _) = RestCatalog.post(port, base,
      """{"updates":[{"action":"remove-snapshot-ref","ref-name":"dev"}]}""")
    assert(c12 == 200)
    val (c13, _) = RestCatalog.post(port, base,
      """{"updates":[{"action":"remove-snapshot-ref","ref-name":"dev"}]}""")
    assert(c13 == 404)
    // remove the tag; loadTable's refs drop it (regeneration on drift)
    val (c14, _) = RestCatalog.post(port, base,
      """{"updates":[{"action":"remove-snapshot-ref","ref-name":"rel"}]}""")
    assert(c14 == 200)
    val (cL, load) = RestCatalog.get(port, base)
    assert(cL == 200)
    val refs = at(parse(load), "metadata", "refs")
    assert(!present(at(refs, "rel")) && present(at(refs, "main")), load)
    // ref commits may not mix with snapshot/schema/property commits
    val (c15, r15) = RestCatalog.post(port, base,
      """{"updates":[{"action":"set-snapshot-ref","ref-name":"x","type":"tag","snapshot-id":1},
        |{"action":"set-properties","updates":{"k":"v"}}]}""".stripMargin)
    assert(c15 == 400 && r15.contains("separate commits"), r15)
    // …and remove-snapshot-ref may not RIDE an add-snapshot either —
    // it would pass the allowed-actions gate and then be silently
    // ignored by the snapshot path: a 200 whose ref still exists
    val (c16, r16) = RestCatalog.post(port, base,
      """{"updates":[{"action":"add-snapshot","snapshot":{"added-data-files":["/nope.parquet"]}},
        |{"action":"remove-snapshot-ref","ref-name":"rel"}]}""".stripMargin)
    assert(c16 == 400 && r16.contains("separate commits"), r16)
    val (cD2, _) = RestCatalog.delete(port, "/v1/tables/rest_spec_refs")
    assert(cD2 == 200)
  }

  test("management API: warehouse create/list/mount; two warehouses stay isolated") {
    // RUNBOOK §4's loop: POST /management/v1/warehouse with a storage
    // profile, engines then mount warehouse=<name>
    val mk =
      """{"warehouse-name":"spec_wh_a","storage-profile":{"type":"s3",
        |"bucket":"demo-bucket","key-prefix":"a","flavor":"minio"},
        |"storage-credential":{"type":"s3","credential-type":"access-key",
        |"aws-access-key-id":"u","aws-secret-access-key":"sekrit"}}""".stripMargin
    val (c1, r1) = RestCatalog.post(port, "/management/v1/warehouse", mk)
    assert(c1 == 201 && r1.contains("spec_wh_a"), r1)
    // idempotency-adjacent guarantees: duplicate 409, unknown type 400,
    // reserved name 400, bucketless s3 400
    assert(RestCatalog.post(port, "/management/v1/warehouse", mk)._1 == 409)
    assert(RestCatalog.post(port, "/management/v1/warehouse",
      """{"warehouse-name":"x","storage-profile":{"type":"gopherfs"}}""")._1 == 400)
    assert(RestCatalog.post(port, "/management/v1/warehouse",
      """{"warehouse-name":"tables","storage-profile":{"type":"file"}}""")._1 == 400)
    assert(RestCatalog.post(port, "/management/v1/warehouse",
      """{"warehouse-name":"y","storage-profile":{"type":"s3"}}""")._1 == 400)
    val (c2, _) = RestCatalog.post(port, "/management/v1/warehouse",
      """{"warehouse-name":"spec_wh_b","storage-profile":{"type":"file"}}""")
    assert(c2 == 201)
    // listing serves profiles but NEVER credentials
    val (cL, listing) = RestCatalog.get(port, "/management/v1/warehouse")
    assert(cL == 200 && listing.contains("spec_wh_a") &&
      listing.contains("spec_wh_b") && listing.contains("demo-bucket") &&
      !listing.contains("sekrit"), listing)
    // config mounts each warehouse: own prefix, own namespace
    val (cca, cfgA) = RestCatalog.get(port, "/v1/config?warehouse=spec_wh_a")
    assert(cca == 200 && cfgA.contains("\"prefix\":\"spec_wh_a\"") &&
      cfgA.contains("\"database\":\"graft_wh_spec_wh_a\""), cfgA)
    assert(RestCatalog.get(port, "/v1/config?warehouse=nope")._1 == 404)
    // DDL + commit inside A over the prefixed Iceberg routes
    val nsA = "graft_wh_spec_wh_a"
    val (ct, ctr) = RestCatalog.post(port, s"/v1/spec_wh_a/namespaces/$nsA/tables",
      """{"name":"t1","schema":{"type":"struct","fields":[
        |{"id":1,"name":"id","type":"long"},{"id":2,"name":"v","type":"string"}]}}""".stripMargin)
    assert(ct == 200, ctr)
    import spark.implicits._
    val staged = s"$tableArea/wh_staged"
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1)
      .write.mode("overwrite").parquet(staged)
    val file = new Path(staged).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(new Path(staged)).map(_.getPath.toString)
      .filter(_.endsWith(".parquet")).head
    val (cm, rm) = RestCatalog.post(port, s"/v1/spec_wh_a/namespaces/$nsA/tables/t1",
      s"""{"requirements":[{"type":"assert-ref-snapshot-id","ref":"main","snapshot-id":1}],
         |"updates":[{"action":"add-snapshot","snapshot":{"added-data-files":["$file"]}}]}""".stripMargin)
    assert(cm == 200, rm)
    assert(spark.table(s"$nsA.t1").count() === 2)
    // isolation: A lists t1, B lists nothing, the root registry has no t1
    val (_, lA) = RestCatalog.get(port, "/v1/spec_wh_a/tables")
    val (_, lB) = RestCatalog.get(port, "/v1/spec_wh_b/tables")
    val (_, lRoot) = RestCatalog.get(port, "/v1/tables")
    assert(RestCatalog.listedNames(lA) == Seq("t1"), lA)
    assert(RestCatalog.listedNames(lB).isEmpty, lB)
    assert(!lRoot.contains("\"t1\""), "warehouse table leaked into the root catalog")
    // a non-empty warehouse refuses DELETE; after dropping its table it goes
    assert(RestCatalog.delete(port, "/management/v1/warehouse/spec_wh_a")._1 == 409)
    assert(RestCatalog.delete(port, "/v1/spec_wh_a/tables/t1")._1 == 200)
    assert(RestCatalog.delete(port, "/management/v1/warehouse/spec_wh_a")._1 == 200)
    assert(RestCatalog.get(port, "/management/v1/warehouse/spec_wh_a")._1 == 404)
    assert(RestCatalog.delete(port, "/management/v1/warehouse/spec_wh_b")._1 == 200)
  }

  test("management API: rename, delete-protection, statistics") {
    // Lakekeeper's remaining RUNBOOK-visible verbs: rename (stable
    // identity, new addressable name), the protection switch, and the
    // metadata-sized statistics route
    val mk =
      """{"warehouse-name":"mgmt_wh","delete-protection":true,
        |"storage-profile":{"type":"file"}}""".stripMargin
    assert(RestCatalog.post(port, "/management/v1/warehouse", mk)._1 == 201)
    // protected at birth: DELETE refuses until the flag is unset
    val (dp, dpr) = RestCatalog.delete(port, "/management/v1/warehouse/mgmt_wh")
    assert(dp == 409 && dpr.contains("delete-protected"), dpr)
    // a table created through the warehouse shows up in statistics
    val ns = "graft_wh_mgmt_wh"
    val (ct, _) = RestCatalog.post(port, s"/v1/mgmt_wh/namespaces/$ns/tables",
      """{"name":"s1","schema":{"type":"struct","fields":[
        |{"id":1,"name":"id","type":"long"}]}}""".stripMargin)
    assert(ct == 200)
    val (cs, stats) = RestCatalog.get(port,
      "/management/v1/warehouse/mgmt_wh/statistics")
    assert(cs == 200 && stats.contains("\"number-of-tables\":1") &&
      stats.contains("\"delete-protection\":true"), stats)
    // rename: new name answers, old 404s, contents + database SURVIVE
    val (cr, rr) = RestCatalog.post(port,
      "/management/v1/warehouse/mgmt_wh/rename", """{"new-name":"mgmt_wh2"}""")
    assert(cr == 200, rr)
    assert(RestCatalog.get(port, "/management/v1/warehouse/mgmt_wh")._1 == 404)
    assert(RestCatalog.get(port, "/management/v1/warehouse/mgmt_wh2")._1 == 200)
    val (lc, l) = RestCatalog.get(port, "/v1/mgmt_wh2/tables")
    assert(lc == 200 && RestCatalog.listedNames(l) == Seq("s1"), l)
    // rename collisions / validation refuse
    assert(RestCatalog.post(port, "/management/v1/warehouse/mgmt_wh2/rename",
      """{"new-name":"tables"}""")._1 == 400)
    assert(RestCatalog.post(port, "/management/v1/warehouse/nope/rename",
      """{"new-name":"x"}""")._1 == 404)
    // protection survives the rename; unset, then the lifecycle closes
    assert(RestCatalog.delete(port, "/management/v1/warehouse/mgmt_wh2")._1 == 409)
    assert(RestCatalog.post(port, "/management/v1/warehouse/mgmt_wh2/protection",
      """{"protected":false}""")._1 == 200)
    assert(RestCatalog.delete(port, s"/v1/mgmt_wh2/tables/s1")._1 == 200)
    assert(RestCatalog.delete(port, "/management/v1/warehouse/mgmt_wh2")._1 == 200)
    assert(!spark.catalog.databaseExists(ns),
      "renamed warehouse drop must still clean the provision-time database")
  }

  test("warehouse DELETE also drops its engine-side database (r17 ADVICE)") {
    val (c1, _) = RestCatalog.post(port, "/management/v1/warehouse",
      """{"warehouse-name":"spec_wh_c","storage-profile":{"type":"file"}}""")
    assert(c1 == 201)
    assert(spark.catalog.databaseExists("graft_wh_spec_wh_c"))
    assert(RestCatalog.delete(port, "/management/v1/warehouse/spec_wh_c")._1 == 200)
    // a re-created warehouse of the same name must start EMPTY — the
    // old database (and any tables registered in it) must not outlive
    // the warehouse
    assert(!spark.catalog.databaseExists("graft_wh_spec_wh_c"),
      "dropped warehouse left its database registered")
  }

  test("commit requirements are read per-object, not first-match-anywhere") {
    port // the lazy init DELETES tableArea — force it before creating state there
    import spark.implicits._
    val root = s"$tableArea/rest_spec_req"
    SnapshotTable.drop(spark, root)
    SnapshotTable.commit(spark, root, Seq((1L, "a")).toDF("id", "v"))
    val (rc, _) = RestCatalog.post(port, "/v1/tables",
      s"""{"name":"rest_spec_req","format":"graft-snapshot","location":"$root"}""")
    assert(rc == 201)
    val (lc, ltr) = RestCatalog.get(port, "/v1/namespaces/graft/tables/rest_spec_req")
    assert(lc == 200, ltr)
    val uuid = str(at(parse(ltr), "metadata", "table-uuid")).get
    // the FIRST requirement carries a stray snapshot-id field (999); a
    // whole-block scan would bind the assert-ref check to 999 and 409
    // a perfectly valid commit (r17 ADVICE). Per-object parsing reads
    // the ref assertion's OWN snapshot-id (1) and the commit lands.
    val body =
      s"""{"requirements":[
         |{"type":"assert-table-uuid","uuid":"$uuid","snapshot-id":999},
         |{"type":"assert-ref-snapshot-id","ref":"main","snapshot-id":1}],
         |"updates":[{"action":"set-properties","updates":{"graft.spec":"req-scope"}}]}""".stripMargin
    val (cc, cr) = RestCatalog.post(port, "/v1/namespaces/graft/tables/rest_spec_req", body)
    assert(cc == 200, s"compound-requirements commit -> $cc: $cr")
    // and a WRONG snapshot-id in the ref assertion itself still 409s,
    // even with the valid-looking stray value in the other object
    val stale = body.replace(""""ref":"main","snapshot-id":1""",
      """"ref":"main","snapshot-id":77""")
    assert(RestCatalog.post(port, "/v1/namespaces/graft/tables/rest_spec_req",
      stale)._1 == 409)
    assert(RestCatalog.delete(port, "/v1/tables/rest_spec_req")._1 == 200)
  }

  test("RestBackedCatalog: a second session resolves everything from the wire") {
    port // the lazy init DELETES tableArea — force it before creating state there
    import spark.implicits._
    val root = s"$tableArea/rest_spec_mnt"
    SnapshotTable.drop(spark, root)
    SnapshotTable.commit(spark, root,
      (1L to 30L).map(i => (i, s"g${i % 3}")).toDF("id", "grp"))
    SnapshotTable.tag(spark, root, "spec_tag", 1)
    Thread.sleep(20) // distinct commit stamps for TIMESTAMP AS OF
    SnapshotTable.commitAppend(spark, root,
      (31L to 50L).map(i => (i, s"g${i % 3}")).toDF("id", "grp"))
    val (rc, rcBody) = RestCatalog.post(port, "/v1/tables",
      s"""{"name":"rest_spec_mnt","format":"graft-snapshot","location":"$root"}""")
    assert(rc == 201, rcBody)
    try {
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.catalog.restspec", "graft.sources.RestBackedCatalog")
      s2.conf.set("spark.sql.catalog.restspec.uri", s"http://127.0.0.1:$port")
      s2.conf.set("spark.sql.catalog.restspec.mount-root",
        s"$tableArea/restspec_mounts")
      // head, tag-as-version, integer snapshot id, timestamp — all
      // resolved from LoadTableResult JSON, no registry access
      assert(s2.table("restspec.graft.rest_spec_mnt").count() === 50)
      assert(s2.sql(
        "SELECT * FROM restspec.graft.rest_spec_mnt VERSION AS OF 'spec_tag'")
        .count() === 30)
      assert(s2.sql(
        "SELECT * FROM restspec.graft.rest_spec_mnt VERSION AS OF 1")
        .count() === 30)
      val t1 = SnapshotTable.committedAt(spark, root, 1)
      val iso = java.time.Instant.ofEpochMilli(t1).toString
      assert(s2.sql(
        s"SELECT * FROM restspec.graft.rest_spec_mnt TIMESTAMP AS OF '$iso'")
        .count() === 30)
      // SHOW NAMESPACES rides GET /v1/namespaces
      assert(s2.sql("SHOW NAMESPACES IN restspec").collect()
        .map(_.getString(0)).contains("graft"))
      // unknown table → analysis-time TABLE_OR_VIEW_NOT_FOUND (the 404)
      intercept[org.apache.spark.sql.AnalysisException] {
        s2.table("restspec.graft.no_such_table").collect()
      }
      // unknown ref: loud, names the ref
      val e1 = intercept[Exception] {
        s2.sql("SELECT * FROM restspec.graft.rest_spec_mnt VERSION AS OF 'nope'")
          .collect()
      }
      assert(e1.getMessage.contains("no ref 'nope'"), e1.getMessage)
      // a negative "version" is NOT a snapshot id — it must fall
      // through to ref resolution and fail, never serve the head
      val eNeg = intercept[Exception] {
        s2.sql("SELECT * FROM restspec.graft.rest_spec_mnt VERSION AS OF '-1'")
          .collect()
      }
      assert(eNeg.getMessage.contains("no ref '-1'"), eNeg.getMessage)
      // DDL refuses with the wire-mount message
      val e2 = intercept[Exception] {
        s2.sql("DROP TABLE restspec.graft.rest_spec_mnt").collect()
      }
      assert(e2.getMessage.contains("read-only wire mount"), e2.getMessage)
      // APPEND writes THROUGH THE WIRE: parquet staged into the
      // table's location, snapshot committed over updateTable with a
      // fresh CAS assertion — the engine-side table sees v3
      s2.sql("INSERT INTO restspec.graft.rest_spec_mnt " +
        "VALUES (CAST(99 AS BIGINT), 'gx')").collect()
      assert(SnapshotTable.currentVersion(spark, root) === 3,
        "wire INSERT must land as an engine commit")
      assert(s2.table("restspec.graft.rest_spec_mnt").count() === 51)
      assert(SnapshotTable.read(spark, root)
        .where("id = 99 and grp = 'gx'").count() === 1)
      // the tagged snapshot stays immutable under the append
      assert(s2.sql(
        "SELECT * FROM restspec.graft.rest_spec_mnt VERSION AS OF 'spec_tag'")
        .count() === 30)
      // OVERWRITE refuses — restatements belong to an owning session
      val e3 = intercept[Exception] {
        s2.sql("INSERT OVERWRITE restspec.graft.rest_spec_mnt " +
          "VALUES (CAST(1 AS BIGINT), 'gy')").collect()
      }
      assert(e3.getMessage.contains("OVERWRITE belongs"), e3.getMessage)
    } finally {
      RestCatalog.delete(port, "/v1/tables/rest_spec_mnt")
      ()
    }
  }

  test("RestBackedCatalog OAuth: credential mints a token; tokenless is refused") {
    port // the lazy init DELETES tableArea — force it before creating state there
    val authRoot = "/tmp/graft_rest_spec_auth2_registry"
    val root = s"$tableArea/rest_spec_auth_mnt"
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(authRoot); p.getFileSystem(conf).delete(p, true)
    import spark.implicits._
    SnapshotTable.drop(spark, root)
    SnapshotTable.commit(spark, root, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    PersistentCatalog.save(spark, authRoot)
    val aport = RestCatalog.serve(spark, authRoot, auth = Some("engine" -> "pw"))
    val (tc, tok) = RestCatalog.post(aport, "/v1/oauth/tokens",
      "grant_type=client_credentials&client_id=engine&client_secret=pw",
      Seq("Content-Type" -> "application/x-www-form-urlencoded"))
    assert(tc == 200, tok)
    val bearer = str(at(parse(tok), "access_token")).get
    val (rc, _) = RestCatalog.post(aport, "/v1/tables",
      s"""{"name":"rest_spec_auth_mnt","format":"graft-snapshot","location":"$root"}""",
      Seq("Authorization" -> s"Bearer $bearer"))
    assert(rc == 201)
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.authmnt", "graft.sources.RestBackedCatalog")
    s2.conf.set("spark.sql.catalog.authmnt.uri", s"http://127.0.0.1:$aport")
    s2.conf.set("spark.sql.catalog.authmnt.credential", "engine:pw")
    s2.conf.set("spark.sql.catalog.authmnt.mount-root",
      s"$tableArea/authmnt_mounts")
    assert(s2.table("authmnt.graft.rest_spec_auth_mnt").count() === 2)
    // and with NO credential every resolution is a refused 401
    val s3 = spark.newSession()
    s3.conf.set("spark.sql.catalog.noauth", "graft.sources.RestBackedCatalog")
    s3.conf.set("spark.sql.catalog.noauth.uri", s"http://127.0.0.1:$aport")
    val e = intercept[Exception] {
      s3.table("noauth.graft.rest_spec_auth_mnt").collect()
    }
    assert(e.getMessage.contains("401"), e.getMessage)
    RestCatalog.stop(authRoot)
  }

  test("vended credentials: scoped, expiring, secrets never served") {
    port // ensure the graft db + base registry exist first
    // a SECURED server, so scoping is enforceable end-to-end
    val authRoot = "/tmp/graft_rest_spec_sts_registry"
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(authRoot); p.getFileSystem(conf).delete(p, true)
    PersistentCatalog.save(spark, authRoot)
    val aport = RestCatalog.serve(spark, authRoot, auth = Some("engine" -> "pw"))
    val form = Seq("Content-Type" -> "application/x-www-form-urlencoded")
    val (_, tokBody) = RestCatalog.post(aport, "/v1/oauth/tokens",
      "grant_type=client_credentials&client_id=engine&client_secret=pw", form)
    val bearer = Seq("Authorization" ->
      s"Bearer ${str(at(parse(tokBody), "access_token")).get}")
    // sts-enabled warehouse with an (in-memory-only) storage credential
    // and a 2-second vend TTL so expiry is testable
    val (cw, rw) = RestCatalog.post(aport, "/management/v1/warehouse",
      """{"warehouse-name":"sts_wh","storage-profile":{"type":"s3",
        |"bucket":"demo-bucket","sts-enabled":true,"sts-token-ttl-seconds":2},
        |"storage-credential":{"type":"s3","credential-type":"access-key",
        |"aws-access-key-id":"AKIA123","aws-secret-access-key":"sts-sekrit"}}""".stripMargin,
      bearer)
    assert(cw == 201, rw)
    val ns = "graft_wh_sts_wh"
    // two tables: one to vend for, one to prove the scope boundary
    Seq("t_sts", "t_other").foreach { t =>
      val (ct, ctr) = RestCatalog.post(aport, s"/v1/sts_wh/namespaces/$ns/tables",
        s"""{"name":"$t","schema":{"type":"struct","fields":[
           |{"id":1,"name":"id","type":"long"}]}}""".stripMargin, bearer)
      assert(ct == 200, ctr)
    }
    import spark.implicits._
    val staged = s"$tableArea/sts_staged"
    Seq(1L, 2L, 3L).toDF("id").coalesce(1).write.mode("overwrite").parquet(staged)
    val file = new Path(staged).getFileSystem(conf)
      .listStatus(new Path(staged)).map(_.getPath.toString)
      .filter(_.endsWith(".parquet")).head
    val (cm, _) = RestCatalog.post(aport, s"/v1/sts_wh/namespaces/$ns/tables/t_sts",
      s"""{"requirements":[{"type":"assert-ref-snapshot-id","ref":"main","snapshot-id":1}],
         |"updates":[{"action":"add-snapshot","snapshot":{"added-data-files":["$file"]}}]}""".stripMargin,
      bearer)
    assert(cm == 200)
    // loadTable vends: storage-credentials with expiry; the STORED
    // secret appears nowhere on the wire (load, listing, detail)
    val (lc, ltr) = RestCatalog.get(aport,
      s"/v1/sts_wh/namespaces/$ns/tables/t_sts", bearer)
    assert(lc == 200, ltr)
    assert(ltr.contains("\"storage-credentials\"") &&
      ltr.contains("s3.session-token-expires-at-ms"), ltr)
    assert(!ltr.contains("sts-sekrit") && !ltr.contains("AKIA123"), ltr)
    val (_, whList) = RestCatalog.get(aport, "/management/v1/warehouse", bearer)
    assert(!whList.contains("sts-sekrit"), whList)
    val vended = arr(at(parse(ltr), "storage-credentials"))
      .flatMap(c => str(at(c, "config", "s3.session-token"))).head
    val vBearer = Seq("Authorization" -> s"Bearer $vended")
    // the vended token is a SCOPED bearer: its own table's load ONLY;
    // other tables / writes / listings 401 — and it CANNOT refresh
    // itself (self-refresh would make the TTL bound nothing; refresh
    // requires the full catalog bearer, like real STS/Lakekeeper)
    assert(RestCatalog.get(aport,
      s"/v1/sts_wh/namespaces/$ns/tables/t_sts", vBearer)._1 == 200)
    assert(RestCatalog.get(aport,
      s"/v1/sts_wh/namespaces/$ns/tables/t_sts/credentials", vBearer)._1 == 401)
    assert(RestCatalog.get(aport,
      s"/v1/sts_wh/namespaces/$ns/tables/t_sts/credentials", bearer)._1 == 200)
    assert(RestCatalog.get(aport,
      s"/v1/sts_wh/namespaces/$ns/tables/t_other", vBearer)._1 == 401)
    assert(RestCatalog.get(aport, "/v1/sts_wh/tables", vBearer)._1 == 401)
    assert(RestCatalog.post(aport, s"/v1/sts_wh/namespaces/$ns/tables/t_sts",
      """{"updates":[]}""", vBearer)._1 == 401)
    // a mount riding ONLY the vended credential reads the table
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.stsmnt", "graft.sources.RestBackedCatalog")
    s2.conf.set("spark.sql.catalog.stsmnt.uri", s"http://127.0.0.1:$aport")
    s2.conf.set("spark.sql.catalog.stsmnt.warehouse", "sts_wh")
    s2.conf.set("spark.sql.catalog.stsmnt.token", vended)
    s2.conf.set("spark.sql.catalog.stsmnt.mount-root", s"$tableArea/sts_mounts")
    assert(s2.table(s"stsmnt.$ns.t_sts").count() === 3)
    // expiry is enforced server-side: past the TTL the token is 401
    Thread.sleep(2300)
    assert(RestCatalog.get(aport,
      s"/v1/sts_wh/namespaces/$ns/tables/t_sts", vBearer)._1 == 401)
    // a token-free catalog (no sts) vends nothing: flat loads keep
    // serving config {} and /credentials says vending is off
    val (fl, fltr) = RestCatalog.get(port, "/v1/namespaces/graft/tables/lineitem")
    assert(fl == 404 || !fltr.contains("storage-credentials"))
    // cleanup
    Seq("t_sts", "t_other").foreach { t =>
      RestCatalog.delete(aport, s"/v1/sts_wh/tables/$t", bearer)
    }
    assert(RestCatalog.delete(aport,
      "/management/v1/warehouse/sts_wh", bearer)._1 == 200)
    RestCatalog.stop(authRoot)
  }

  test("nested namespaces: %1F lifecycle, tables beneath, flat unaffected") {
    // namespace levels join with the %1F unit separator ON THE WIRE
    // (percent-encoded in the request path; the server decodes it)
    val sep = "%1F"
    // create graft.analytics, then graft.analytics.daily beneath it
    val (c1, r1) = RestCatalog.post(port, "/v1/namespaces",
      """{"namespace":["graft","analytics"]}""")
    assert(c1 == 200, r1)
    assert(RestCatalog.post(port, "/v1/namespaces",
      """{"namespace":["graft","analytics"]}""")._1 == 409)
    // parent must exist; levels are validated
    assert(RestCatalog.post(port, "/v1/namespaces",
      """{"namespace":["graft","nope","deep"]}""")._1 == 404)
    assert(RestCatalog.post(port, "/v1/namespaces",
      """{"namespace":["graft","bad__name"]}""")._1 == 400)
    assert(RestCatalog.post(port, "/v1/namespaces",
      """{"namespace":["other_root","x"]}""")._1 == 400)
    val (c2, _) = RestCatalog.post(port, "/v1/namespaces",
      """{"namespace":["graft","analytics","daily"]}""")
    assert(c2 == 200)
    // listing serves the nested paths as arrays; detail resolves
    val (cl, listing) = RestCatalog.get(port, "/v1/namespaces")
    assert(cl == 200 && listing.contains("""["graft","analytics"]""") &&
      listing.contains("""["graft","analytics","daily"]"""), listing)
    val nsPath = s"graft${sep}analytics"
    val (cd, detail) = RestCatalog.get(port, s"/v1/namespaces/$nsPath")
    assert(cd == 200 && detail.contains("\"analytics\""), detail)
    assert(RestCatalog.get(port, s"/v1/namespaces/graft${sep}zzz")._1 == 404)
    // the FULL table surface works beneath a nested namespace: create,
    // commit, load, list — delegated to the sub-handler
    val ndb = "graft__analytics"
    val (ct, ctr) = RestCatalog.post(port, s"/v1/namespaces/$nsPath/tables",
      """{"name":"nested_t","schema":{"type":"struct","fields":[
        |{"id":1,"name":"id","type":"long"}]}}""".stripMargin)
    assert(ct == 200, ctr)
    import spark.implicits._
    val staged = s"$tableArea/nested_staged"
    Seq(10L, 20L).toDF("id").coalesce(1).write.mode("overwrite").parquet(staged)
    val file = new Path(staged)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(new Path(staged)).map(_.getPath.toString)
      .filter(_.endsWith(".parquet")).head
    val (cm, rm) = RestCatalog.post(port, s"/v1/namespaces/$nsPath/tables/nested_t",
      s"""{"requirements":[{"type":"assert-ref-snapshot-id","ref":"main","snapshot-id":1}],
         |"updates":[{"action":"add-snapshot","snapshot":{"added-data-files":["$file"]}}]}""".stripMargin)
    assert(cm == 200, rm)
    assert(spark.table(s"$ndb.nested_t").count() === 2)
    val (ll, loadBody) = RestCatalog.get(port,
      s"/v1/namespaces/$nsPath/tables/nested_t")
    assert(ll == 200 && loadBody.contains("current-snapshot-id"), loadBody)
    // RestBackedCatalog addresses it as a multi-part identifier
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.nestmnt", "graft.sources.RestBackedCatalog")
    s2.conf.set("spark.sql.catalog.nestmnt.uri", s"http://127.0.0.1:$port")
    s2.conf.set("spark.sql.catalog.nestmnt.mount-root", s"$tableArea/nest_mounts")
    assert(s2.table("nestmnt.graft.analytics.nested_t").count() === 2)
    assert(s2.sql("SHOW NAMESPACES IN nestmnt").collect()
      .map(_.getString(0)).exists(_.contains("analytics")))
    // flat clients unaffected: root listing has no nested table
    val (_, rootListing) = RestCatalog.get(port, "/v1/tables")
    assert(!rootListing.contains("nested_t"), rootListing)
    // drop: non-empty 409; child-bearing 409; then bottom-up, and the
    // engine databases go with them
    assert(RestCatalog.delete(port, s"/v1/namespaces/$nsPath")._1 == 409)
    assert(RestCatalog.delete(port, s"/v1/namespaces/$nsPath/tables/nested_t")._1 == 200)
    assert(RestCatalog.delete(port, s"/v1/namespaces/$nsPath")._1 == 409,
      "child namespace must block the drop")
    assert(RestCatalog.delete(port,
      s"/v1/namespaces/graft${sep}analytics${sep}daily")._1 == 200)
    assert(RestCatalog.delete(port, s"/v1/namespaces/$nsPath")._1 == 200)
    assert(!spark.catalog.databaseExists(ndb))
    assert(!spark.catalog.databaseExists("graft__analytics__daily"))
  }
}
