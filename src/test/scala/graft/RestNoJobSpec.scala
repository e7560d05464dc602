package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.apache.spark.TestBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.Json.{at, long, parse}
import graft.endpoint.RestCatalog
import graft.lake.SnapshotTable
import graft.sources.PersistentCatalog

/** The REST catalog's metadata path runs no Spark work once warm:
  * loadTable and listTables are served from the registry version's
  * cached rows and each table's materialized metadata, so neither
  * starts a job nor executes a query — and a commit still shows up in
  * the next load.
  */
class RestNoJobSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {
  private val db = "graft_nojob"
  private val area = "/tmp/graft_test/rest_nojob"
  private val registry = s"$area/registry"

  override def afterAll(): Unit = {
    RestCatalog.stop(registry)
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    super.afterAll()
  }

  test("a warmed loadTable / listTables starts no job and executes no query") {
    import spark.implicits._
    val p = new Path(area)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    PersistentCatalog.save(spark, registry, db)
    val port = RestCatalog.serve(spark, registry, db)
    val names = (0 until 3).map(k => s"nojob_t$k")
    names.foreach { n =>
      val loc = s"$area/tables/$n"
      SnapshotTable.commit(spark, loc, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
      val (c, r) = RestCatalog.post(port, "/v1/tables",
        s"""{"name":"$n","format":"graft-snapshot","location":"$loc"}""")
      assert(c == 201, r)
    }
    val base = s"/v1/namespaces/$db/tables"
    def load(n: String) = RestCatalog.get(port, s"$base/$n")
    def list() = RestCatalog.get(port, base)
    def snapshotId(body: String) = long(at(parse(body), "metadata", "current-snapshot-id"))
    // warm-up: the registry rows and each table's metadata.json
    list()
    names.foreach(load)

    val sc = spark.sparkContext
    TestBusDrain(sc)
    val jobs = new AtomicInteger()
    val queries = new AtomicInteger()
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    val queryListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        queries.incrementAndGet(); ()
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = {
        queries.incrementAndGet(); ()
      }
    }
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(queryListener)
    try {
      (0 until 20).foreach { i =>
        val (c, body) = load(names(i % names.size))
        assert(c == 200 && snapshotId(body).contains(1L), body)
      }
      (0 until 5).foreach { _ =>
        val (c, body) = list()
        assert(c == 200 && names.forall(body.contains), body)
      }
      TestBusDrain(sc)
    } finally {
      sc.removeSparkListener(jobListener)
      spark.listenerManager.unregister(queryListener)
    }
    assert(jobs.get === 0, "loadTable/listTables started Spark jobs")
    assert(queries.get === 0, "loadTable/listTables executed queries")

    // an updateTable still lands in the next load
    val staged = s"$area/staged"
    Seq((3L, "c")).toDF("id", "v").coalesce(1).write.parquet(staged)
    val file = new java.io.File(staged).listFiles().map(_.getPath)
      .filter(_.endsWith(".parquet")).head
    val (c, r) = RestCatalog.post(port, s"$base/${names.head}",
      s"""{"requirements":[{"type":"assert-ref-snapshot-id","ref":"main","snapshot-id":1}],""" +
        s""""updates":[{"action":"add-snapshot","snapshot":{"added-data-files":["$file"]}}]}""")
    assert(c == 200, r)
    val (lc, body) = load(names.head)
    assert(lc == 200 && snapshotId(body).contains(2L), body)
  }
}
