package graft

import org.apache.hadoop.fs.Path
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.endpoint.RestCatalog
import graft.lake.SnapshotTable
import graft.sources.PersistentCatalog

/** Every string field a REST catalog request carries is decoded per
  * RFC 8259 before use: an escaped solidus in a location, a unicode
  * escape in a warehouse name, and an escaped backslash followed by
  * `n` in a view definition all arrive as the string the client meant,
  * and round-trip the next read byte-equal.
  */
class RestJsonEscapeSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {

  private val registryRoot = "/tmp/graft_jsonesc_registry"
  private val tableArea = "/tmp/graft_jsonesc_tables"

  override def afterAll(): Unit = {
    RestCatalog.stop(registryRoot)
    spark.sql("DROP VIEW IF EXISTS graft.esc_view")
    spark.sql("DROP TABLE IF EXISTS graft.esc_loc")
    spark.sql("DROP DATABASE IF EXISTS graft_wh_esc_wh CASCADE")
    super.afterAll()
  }

  private lazy val port: Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    Seq(registryRoot, s"${registryRoot}_views", tableArea).foreach { d =>
      val p = new Path(d); p.getFileSystem(conf).delete(p, true)
    }
    spark.sql("CREATE DATABASE IF NOT EXISTS graft")
    PersistentCatalog.save(spark, registryRoot)
    RestCatalog.serve(spark, registryRoot)
  }

  test("an escaped solidus in a location registers the decoded path") {
    import spark.implicits._
    port // binding the server clears the table area
    val loc = s"$tableArea/t"
    SnapshotTable.commit(spark, loc, Seq(1L).toDF("id"))
    val escaped = loc.replace("/", "\\/")
    val (c, r) = RestCatalog.post(port, "/v1/tables",
      s"""{"name":"esc_loc","format":"graft-snapshot","location":"$escaped"}""")
    assert(c == 201, r)
    val listed = (JsonMethods.parse(RestCatalog.get(port, "/v1/tables")._2) \ "tables")
      .children.find(t => (t \ "name") == JString("esc_loc"))
      .map(t => (t \ "location").values.toString.stripPrefix("file:"))
    assert(listed.contains(loc), listed.toString)
    val (pc, ptr) = RestCatalog.get(port, "/v1/tables/esc_loc/pointer")
    assert(pc == 200 && ptr.contains(s"$loc/_manifests/v1.manifest"), ptr)
  }

  test("a unicode escape in a warehouse name provisions the decoded name") {
    // the name's underscore sent as a unicode escape (backslash u005f)
    val escaped = "esc" + "\\" + "u005fwh"
    val (c, r) = RestCatalog.post(port, "/management/v1/warehouse",
      s"""{"warehouse-name":"$escaped","storage-profile":{"type":"file"}}""")
    assert(c == 201, r)
    assert(RestCatalog.get(port, "/management/v1/warehouse/esc_wh")._1 == 200)
  }

  test("an escaped backslash before n in view_sql round-trips byte-equal") {
    // the SQL text holds a backslash followed by n — not a newline
    val sql = "SELECT 'a\\nb' AS s"
    val body = s"""{"name":"esc_view","view_sql":"${sql.replace("\\", "\\\\")}"}"""
    val (c, r) = RestCatalog.post(port, "/v1/tables", body)
    assert(c == 201, r)
    val (lc, lvr) = RestCatalog.get(port, "/v1/namespaces/graft/views/esc_view")
    assert(lc == 200, lvr)
    val served =
      ((JsonMethods.parse(lvr) \ "metadata" \ "versions")(0) \ "representations")(0) \ "sql"
    assert(served == JString(sql), lvr)
  }
}
