package graft

import org.apache.hadoop.fs.Path
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.endpoint.RestCatalog
import graft.lake.SnapshotTable
import graft.sources.PersistentCatalog

/** The REST catalog reads request bodies by the structure the Iceberg
  * REST spec defines, not by which key comes first in the text: every
  * POST shape is answered the same with its keys in reverse order and
  * a decoy object — carrying `name`, `action`, `type`, `location`,
  * `snapshot-id`, `requirements` and friends — nested first in every
  * object. Pins the three first-match defects (a schema before the
  * name, a property named `action`, a `]` inside a ref name hiding a
  * stale assertion) and the malformed-body contract: a truncated
  * object, a top-level array or trailing content is a 400 on every
  * JSON route, with nothing applied.
  */
class RestWireStructureSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {

  private val registryRoot = "/tmp/graft_wirestruct_registry"
  private val tableArea = "/tmp/graft_wirestruct_tables"
  private val tables = "/v1/namespaces/graft/tables"

  override def afterAll(): Unit = {
    RestCatalog.stop(registryRoot)
    spark.sql("SHOW TABLES IN graft").collect()
      .map(_.getAs[String]("tableName"))
      .filter(n => n.startsWith("ws_") || n == "decoy" || n == "x")
      .foreach { n =>
        scala.util.Try(spark.sql(s"DROP VIEW IF EXISTS graft.$n"))
        scala.util.Try(spark.sql(s"DROP TABLE IF EXISTS graft.$n"))
      }
    spark.sql("SHOW DATABASES").collect().map(_.getString(0))
      .filter(_.startsWith("graft_wh_ws_"))
      .foreach(d => spark.sql(s"DROP DATABASE IF EXISTS $d CASCADE"))
    super.afterAll()
  }

  private lazy val port: Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    Seq(registryRoot, s"${registryRoot}_ns", s"${registryRoot}_views",
      tableArea).foreach { d =>
      val p = new Path(d); p.getFileSystem(conf).delete(p, true)
    }
    spark.sql("CREATE DATABASE IF NOT EXISTS graft")
    PersistentCatalog.save(spark, registryRoot)
    RestCatalog.serve(spark, registryRoot)
  }

  // ----- body rewriting ---------------------------------------------

  private val decoy: JObject = JsonMethods.parse(
    """{"name":"decoy","action":"set-location","type":"decoy",
      |"location":"/decoy","format":"decoy","view_sql":"SELECT 0",
      |"snapshot-id":999,"ref":"main","ref-name":"decoy","uuid":"decoy",
      |"new-name":"decoy","warehouse-name":"decoy","protected":true,
      |"namespace":["decoy"],"sql":"SELECT 0","dialect":"spark",
      |"fields":[{"id":9,"name":"decoy","type":"long"}],
      |"requirements":[{"type":"assert-ref-snapshot-id","ref":"main","snapshot-id":999}],
      |"updates":[{"action":"set-location","location":"/decoy"}],
      |"added-data-files":["/decoy.parquet"]}""".stripMargin)
    .asInstanceOf[JObject]

  // objects whose keys are data, not schema: a decoy there would be
  // a real entry (a property named x-decoy), not an unknown key
  private val mapKeys = Set("updates", "properties", "summary")

  /** `body` with every object's keys reversed and a decoy object
    * nested first in each — the same request to a structural reader.
    */
  private def scramble(body: String): String = {
    def go(v: JValue, isMap: Boolean): JValue = v match {
      case JObject(fs) =>
        val kids = fs.reverse.map { case (k, x) => k -> go(x, mapKeys(k)) }
        JObject(if (isMap) kids else ("x-decoy" -> decoy) :: kids)
      case JArray(xs) => JArray(xs.map(go(_, isMap = false)))
      case other => other
    }
    JsonMethods.compact(go(JsonMethods.parse(body), isMap = false))
  }

  private def post(path: String, body: String): (Int, String) =
    RestCatalog.post(port, path, body)

  private def doc(body: String): JValue = JsonMethods.parse(body)

  private def q(s: String): String = "\"" + s + "\""

  /** A snapshot table `name` at v1 (two rows), registered over the wire. */
  private def mkTable(name: String): String = {
    import spark.implicits._
    port // binding the server clears the table area
    val loc = s"$tableArea/$name"
    SnapshotTable.drop(spark, loc)
    SnapshotTable.commit(spark, loc, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val (c, r) = post("/v1/tables",
      s"""{"name":"$name","format":"graft-snapshot","location":"$loc"}""")
    assert(c == 201, r)
    loc
  }

  /** One staged parquet file fitting [[mkTable]]'s schema. */
  private def stage(tag: String): String = {
    import spark.implicits._
    val dir = s"$tableArea/staged_$tag"
    Seq((10L, tag)).toDF("id", "v").coalesce(1).write.mode("overwrite").parquet(dir)
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p)
      .map(_.getPath.toString).filter(_.endsWith(".parquet")).head
  }

  private def addSnapshot(file: String, asserted: Long): String =
    s"""{"requirements":[{"type":"assert-ref-snapshot-id","ref":"main","snapshot-id":$asserted}],
       |"updates":[{"action":"add-snapshot","snapshot":{"summary":{"operation":"append"},
       |"added-data-files":[${q(file)}]}}]}""".stripMargin

  private val schemaIdV =
    """{"type":"struct","schema-id":0,"fields":[
      |{"id":1,"name":"id","type":"long","required":false},
      |{"id":2,"name":"v","type":"string","required":false}]}""".stripMargin

  private def viewBody(name: String): String =
    s"""{"name":"$name","schema":$schemaIdV,
       |"view-version":{"version-id":1,"timestamp-ms":0,"schema-id":0,"summary":{},
       |"default-namespace":["graft"],
       |"representations":[{"type":"sql","sql":"SELECT 1 AS one","dialect":"spark"}]},
       |"properties":{"comment":"c"}}""".stripMargin

  // ----- each POST shape, canonical vs scrambled ---------------------

  test("scramble reverses keys and nests decoys without changing the document") {
    val s = scramble("""{"a":1,"b":{"c":[{"d":2}]},"updates":{"k":"v"}}""")
    val d = doc(s)
    assert((d \ "a") == JInt(1) && (d \ "b" \ "c")(0) \ "d" == JInt(2), s)
    assert(s.startsWith("""{"x-decoy":"""), s)
    assert((d \ "updates") == JObject("k" -> JString("v")), s)
  }

  test("createTable: same table, same schema, whatever the key order") {
    def create(name: String, f: String => String) = post(tables, f(
      s"""{"name":"$name","location":"$tableArea/$name","schema":$schemaIdV,
         |"properties":{}}""".stripMargin))
    val (ca, ra) = create("ws_create_a", identity)
    val (cb, rb) = create("ws_create_b", scramble)
    assert(ca == 200, ra)
    assert(cb == ca, rb)
    assert(doc(rb) \ "metadata" \ "schemas" == doc(ra) \ "metadata" \ "schemas", rb)
    assert(spark.table("graft.ws_create_b").schema == spark.table("graft.ws_create_a").schema)
    assert(!spark.catalog.tableExists("graft.decoy"))
  }

  test("register: same registration, whatever the key order") {
    import spark.implicits._
    port // binding the server clears the table area
    Seq("a", "b").foreach { s =>
      SnapshotTable.drop(spark, s"$tableArea/reg_$s")
      SnapshotTable.commit(spark, s"$tableArea/reg_$s", Seq(1L).toDF("id"))
    }
    def reg(s: String, f: String => String) = post("/v1/tables", f(
      s"""{"name":"ws_reg_$s","format":"graft-snapshot","location":"$tableArea/reg_$s"}"""))
    val (ca, ra) = reg("a", identity)
    val (cb, rb) = reg("b", scramble)
    assert(ca == 201, ra)
    assert(cb == ca, rb)
    val listed = (doc(RestCatalog.get(port, "/v1/tables")._2) \ "tables").children
      .map(t => ((t \ "name").values, (t \ "format").values,
        (t \ "location").values.toString.stripPrefix("file:")))
    assert(listed.contains(("ws_reg_b", "graft-snapshot", s"$tableArea/reg_b")), listed)
    assert(listed.contains(("ws_reg_a", "graft-snapshot", s"$tableArea/reg_a")), listed)
  }

  test("updateTable add-snapshot: same commit, same stale-replay 409") {
    val results = Seq("a" -> identity[String] _, "b" -> scramble _).map { case (s, f) =>
      val loc = mkTable(s"ws_snap_$s")
      val body = f(addSnapshot(stage(s"snap_$s"), 1))
      val first = post(s"$tables/ws_snap_$s", body)
      val replay = post(s"$tables/ws_snap_$s", body)
      (first._1, replay._1, SnapshotTable.currentVersion(spark, loc),
        SnapshotTable.read(spark, loc).count())
    }
    assert(results.head == ((200, 409, 2, 3L)), results.toString)
    assert(results(1) == results.head, results.toString)
  }

  test("updateTable add-schema: same evolution, whatever the key order") {
    val results = Seq("a" -> identity[String] _, "b" -> scramble _).map { case (s, f) =>
      val loc = mkTable(s"ws_schema_$s")
      val (c, r) = post(s"$tables/ws_schema_$s", f(
        s"""{"requirements":[{"type":"assert-ref-snapshot-id","ref":"main","snapshot-id":1}],
           |"updates":[{"action":"add-schema","schema":{"type":"struct","fields":[
           |{"id":1,"name":"id","type":"long"},{"id":2,"name":"v","type":"string"},
           |{"name":"n","type":"long"}]}},
           |{"action":"set-current-schema","schema-id":-1}]}""".stripMargin))
      (c, SnapshotTable.read(spark, loc).schema.simpleString, r)
    }
    assert(results.head._1 == 200, results.head._3)
    assert(results(1)._1 == 200 && results(1)._2 == results.head._2, results(1)._3)
    assert(results.head._2 == "struct<id:bigint,v:string,n:bigint>")
  }

  test("updateTable set/remove-properties: same properties, whatever the key order") {
    val results = Seq("a" -> identity[String] _, "b" -> scramble _).map { case (s, f) =>
      val loc = mkTable(s"ws_props_$s")
      val (c1, _) = post(s"$tables/ws_props_$s", f(
        """{"updates":[{"action":"set-properties","updates":{"owner":"team","tier":"gold"}}]}"""))
      val (c2, _) = post(s"$tables/ws_props_$s", f(
        """{"updates":[{"action":"remove-properties","removals":["tier"]}]}"""))
      (c1, c2,
        SnapshotTable.version(spark, loc, SnapshotTable.currentVersion(spark, loc)).properties)
    }
    assert(results.head == ((200, 200, Map("owner" -> "team"))), results.toString)
    assert(results(1) == results.head, results.toString)
  }

  test("updateTable set-snapshot-ref: same tag, same conflicting replay") {
    val results = Seq("a" -> identity[String] _, "b" -> scramble _).map { case (s, f) =>
      val loc = mkTable(s"ws_refs_$s")
      def tag(sid: Int) = post(s"$tables/ws_refs_$s", f(
        s"""{"requirements":[{"type":"assert-ref-snapshot-id","ref":"rel"}],
           |"updates":[{"action":"set-snapshot-ref","ref-name":"rel","type":"tag",
           |"snapshot-id":$sid}]}""".stripMargin))._1
      val c1 = tag(1)
      val c2 = tag(1) // rel now exists: the absence assertion fails
      (c1, c2, SnapshotTable.tags(spark, loc))
    }
    assert(results.head == ((200, 409, Map("rel" -> 1))), results.toString)
    assert(results(1) == results.head, results.toString)
  }

  test("transactions/commit: same all-or-nothing commit, whatever the key order") {
    val results = Seq("a" -> identity[String] _, "b" -> scramble _).map { case (s, f) =>
      val loc = mkTable(s"ws_txn_$s")
      val body = f(
        s"""{"table-changes":[{"identifier":{"namespace":["graft"],"name":"ws_txn_$s"},
           |"requirements":[{"type":"assert-ref-snapshot-id","ref":"main","snapshot-id":1}],
           |"updates":[{"action":"add-snapshot","snapshot":{"summary":{"operation":"append"},
           |"added-data-files":[${q(stage(s"txn_$s"))}]}}]}]}""".stripMargin)
      val first = post("/v1/transactions/commit", body)._1
      val replay = post("/v1/transactions/commit", body)._1
      (first, replay, SnapshotTable.currentVersion(spark, loc))
    }
    assert(results.head == ((204, 409, 2)), results.toString)
    assert(results(1) == results.head, results.toString)
  }

  test("createView: same view, whatever the key order") {
    val (ca, ra) = post("/v1/namespaces/graft/views", viewBody("ws_view_a"))
    val (cb, rb) = post("/v1/namespaces/graft/views", scramble(viewBody("ws_view_b")))
    assert(ca == 200, ra)
    assert(cb == ca, rb)
    def sql(r: String) =
      ((doc(r) \ "metadata" \ "versions")(0) \ "representations")(0) \ "sql"
    assert(sql(rb) == sql(ra) && sql(ra) == JString("SELECT 1 AS one"), rb)
    assert(!spark.catalog.tableExists("graft.decoy"))
  }

  test("warehouse create, protection and rename: same answers, whatever the key order") {
    val results = Seq("a" -> identity[String] _, "b" -> scramble _).map { case (s, f) =>
      val wh = s"ws_wh_$s"
      val (c1, _) = post("/management/v1/warehouse", f(
        s"""{"warehouse-name":"$wh","storage-profile":{"type":"file"},
           |"delete-protection":false}""".stripMargin))
      val (c2, _) = post(s"/management/v1/warehouse/$wh/protection",
        f("""{"protected":false}"""))
      val (c3, _) = post(s"/management/v1/warehouse/$wh/rename",
        f(s"""{"new-name":"${wh}_2"}"""))
      val detail = RestCatalog.get(port, s"/management/v1/warehouse/${wh}_2")._1
      val stats = doc(RestCatalog.get(port,
        s"/management/v1/warehouse/${wh}_2/statistics")._2)
      (c1, c2, c3, detail, stats \ "delete-protection")
    }
    assert(results.head == ((201, 200, 200, 200, JBool(false))), results.toString)
    assert(results(1) == results.head, results.toString)
    assert(RestCatalog.get(port, "/management/v1/warehouse/decoy")._1 == 404)
  }

  // ----- the three first-match defects ------------------------------

  test("a schema before the name creates the named table, not its first column") {
    val (c, r) = post(tables,
      s"""{"schema":{"type":"struct","fields":[{"id":1,"name":"x","type":"long"}]},
         |"name":"ws_schema_first"}""".stripMargin)
    assert(c == 200, r)
    assert(spark.catalog.tableExists("graft.ws_schema_first"))
    assert(!spark.catalog.tableExists("graft.x"))
  }

  test("a property named action is a property, not an update action") {
    val loc = mkTable("ws_prop_action")
    val (c, r) = post(s"$tables/ws_prop_action",
      """{"updates":[{"action":"set-properties","updates":{"action":"x"}}]}""")
    assert(c == 200, r)
    assert(SnapshotTable.version(spark, loc, SnapshotTable.currentVersion(spark, loc)).properties
      == Map("action" -> "x"))
  }

  test("a ] inside a ref name does not hide a later stale main assertion") {
    val loc = mkTable("ws_bracket")
    val file = stage("bracket")
    val (c1, r1) = post(s"$tables/ws_bracket", addSnapshot(file, 1))
    assert(c1 == 200, r1)
    val (c2, r2) = post(s"$tables/ws_bracket",
      s"""{"requirements":[{"type":"assert-ref-snapshot-id","ref":"we]ird"},
         |{"type":"assert-ref-snapshot-id","ref":"main","snapshot-id":1}],
         |"updates":[{"action":"add-snapshot","snapshot":{"summary":{"operation":"append"},
         |"added-data-files":[${q(stage("bracket2"))}]}}]}""".stripMargin)
    assert(c2 == 409, r2)
    assert(SnapshotTable.currentVersion(spark, loc) == 2)
  }

  // ----- malformed bodies ---------------------------------------------

  test("a malformed body is a 400 on every JSON route, never a 500 or a partial apply") {
    val loc = mkTable("ws_mal")
    val locM = mkTable("ws_mal_m")
    val locT = mkTable("ws_mal_t")
    val (cw, rw) = post("/management/v1/warehouse",
      """{"warehouse-name":"ws_malwh","storage-profile":{"type":"file"}}""")
    assert(cw == 201, rw)
    // route -> a valid body and the status it earns once well-formed
    val routes = Seq(
      ("/v1/tables",
        s"""{"name":"ws_mal_reg","format":"graft-snapshot","location":"$loc"}""", 201),
      ("/v1/tables/ws_mal_m/maintain", """{"keep_versions":10}""", 200),
      ("/v1/namespaces", """{"namespace":["graft","ws_malns"]}""", 200),
      (tables, s"""{"name":"ws_mal_create","schema":$schemaIdV}""", 200),
      (s"$tables/ws_mal", addSnapshot(stage("mal"), 1), 200),
      (s"$tables/ws_mal/metrics", """{"report-type":"scan-report"}""", 204),
      ("/v1/namespaces/graft/views", viewBody("ws_mal_view"), 200),
      ("/v1/transactions/commit",
        s"""{"table-changes":[{"identifier":{"namespace":["graft"],"name":"ws_mal_t"},
           |"requirements":[{"type":"assert-ref-snapshot-id","ref":"main","snapshot-id":1}],
           |"updates":[{"action":"add-snapshot","snapshot":{
           |"added-data-files":[${q(stage("mal_t"))}]}}]}]}""".stripMargin, 204),
      ("/management/v1/warehouse",
        """{"warehouse-name":"ws_malwh2","storage-profile":{"type":"file"}}""", 201),
      ("/management/v1/warehouse/ws_malwh/protection", """{"protected":true}""", 200),
      ("/management/v1/warehouse/ws_malwh/rename", """{"new-name":"ws_malwh3"}""", 200))
    routes.foreach { case (path, body, _) =>
      Seq(body.dropRight(1), s"[$body]", s"$body x", s"$body$body", "").foreach { bad =>
        val (c, r) = post(path, bad)
        assert(c == 400, s"POST $path with $bad -> $c: $r")
      }
    }
    // nothing applied
    assert(SnapshotTable.currentVersion(spark, loc) == 1)
    assert(SnapshotTable.currentVersion(spark, locM) == 1)
    assert(SnapshotTable.currentVersion(spark, locT) == 1)
    val listing = RestCatalog.get(port, "/v1/tables")._2
    Seq("ws_mal_reg", "ws_mal_create", "ws_mal_view").foreach(n =>
      assert(!listing.contains(q(n)), listing))
    assert(RestCatalog.get(port, "/v1/namespaces/graft%1Fws_malns")._1 == 404)
    assert(RestCatalog.get(port, "/management/v1/warehouse/ws_malwh2")._1 == 404)
    assert(RestCatalog.get(port, "/management/v1/warehouse/ws_malwh3")._1 == 404)
    assert(doc(RestCatalog.get(port, "/management/v1/warehouse/ws_malwh/statistics")._2)
      \ "delete-protection" == JBool(false))
    // and each body, well-formed, is served
    routes.foreach { case (path, body, want) =>
      val (c, r) = post(path, body)
      assert(c == want, s"POST $path -> $c: $r")
    }
    // unprotect so the warehouse can be dropped by a later run
    post("/management/v1/warehouse/ws_malwh3/protection", """{"protected":false}""")
  }
}
