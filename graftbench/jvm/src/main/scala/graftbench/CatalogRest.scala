package graftbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.functions.{col, concat, lit}

import graft.endpoint.RestCatalog
import graft.lake.SnapshotTable

/** catalog_rest: one Iceberg-REST client against `RestCatalog.serve`.
  *
  * The registry holds [[Tables]] snapshot tables. Each op is a
  * loadTable, a listTables or an updateTable that asserts the table's
  * current snapshot id and adds one or two parquet files staged at
  * set-up (`add-snapshot`, a zero-copy `commitFiles`). Ops follow the
  * fixed [[Cycle]], in which reads outnumber commits and one op replays
  * the last commit with its now stale snapshot id, which must be
  * answered 409. The seed picks the tables, skewed toward a few hot
  * ones. Status codes and each table's current-snapshot-id are checked
  * against the commits made.
  */
final class CatalogRest extends Workload {
  private val Tables = 4
  /** One schedule cycle: 13 loadTable, 2 listTables, 4 updateTable and a stale replay. */
  val Cycle = Seq("load", "load", "update", "load", "list", "load", "load", "update", "load",
    "stale", "load", "load", "update", "load", "list", "load", "load", "update", "load", "load")
  private val StagedFiles = 400
  private val Ns = graft.sources.Catalog.DB

  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  private var port = 0
  private var registry = ""
  private var rng: scala.util.Random = _
  private var staged: IndexedSeq[String] = IndexedSeq.empty
  private var nextFile = 0
  private val snapshot = mutable.HashMap.empty[String, Long] // table -> expected snapshot id
  private var lastCommit: Option[(String, String)] = None // (table, body) of the last commit
  private var staleSent = 0
  private var stale409 = 0
  private var commits = 0

  private def name(k: Int) = s"bench_t$k"

  private def call(method: String, path: String, body: String = ""): (Int, String) = {
    val b = HttpRequest.newBuilder().uri(URI.create(s"http://localhost:$port$path"))
    val req =
      if (method == "GET") b.GET().build()
      else b.header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body)).build()
    val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  def setup(ctx: Ctx, root: String): Unit = {
    if (registry.nonEmpty) RestCatalog.stop(registry)
    rng = new scala.util.Random(ctx.seed)
    registry = s"$root/registry"
    snapshot.clear(); lastCommit = None
    staleSent = 0; stale409 = 0; commits = 0; nextFile = 0
    ctx.spark.sql(s"CREATE DATABASE IF NOT EXISTS $Ns")
    graft.sources.PersistentCatalog.save(ctx.spark, registry)
    port = RestCatalog.serve(ctx.spark, registry)
    // one staged parquet file, copied to as many names as a run can commit
    val one = s"$root/staged_src"
    ctx.spark.range(64).select(col("id"), concat(lit("s"), col("id").cast("string")).as("v"))
      .coalesce(1).write.mode("overwrite").parquet(one)
    val src = Files.list(Paths.get(one)).filter(_.toString.endsWith(".parquet")).findFirst().get
    Files.createDirectories(Paths.get(s"$root/staged"))
    staged = (0 until StagedFiles).map { i =>
      val dst = Paths.get(s"$root/staged/f$i.parquet")
      Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING)
      dst.toString
    }
    for (k <- 0 until Tables) {
      val loc = s"$root/tables/${name(k)}"
      SnapshotTable.commitFiles(ctx.spark, loc, Seq(src.toString))
      val (c, r) = call("POST", "/v1/tables",
        s"""{"name":"${name(k)}","format":"graft-snapshot","location":"$loc"}""")
      require(c == 201, s"register ${name(k)} -> $c $r")
      snapshot(name(k)) = 1L
    }
  }

  def warmup(ctx: Ctx): Unit = {
    call("GET", s"/v1/namespaces/$Ns/tables")
    (0 until Tables).foreach(k => call("GET", s"/v1/namespaces/$Ns/tables/${name(k)}"))
  }

  def cycleOps: Int = Cycle.size
  def cyclesMeasured: Int = 2

  /** A response whose current-snapshot-id is one ahead of the commits made. */
  def wrong(result: Any): Any = result match {
    case (c: Int, b: String) =>
      (c, "\"current-snapshot-id\"\\s*:\\s*(-?\\d+)".r.replaceAllIn(b,
        m => "\"current-snapshot-id\":" + (m.group(1).toLong + 1)))
    case other => other
  }

  /** Hot-skewed table choice: table k with weight 1/(k+1). */
  private def pick(): String = {
    val w = (1 to Tables).map(1.0 / _)
    var u = rng.nextDouble() * w.sum
    var k = 0
    while (u > w(k) && k < Tables - 1) { u -= w(k); k += 1 }
    name(k)
  }

  private def jlong(body: String, key: String): Option[Long] =
    ("\"" + key + "\"\\s*:\\s*(-?\\d+)").r.findFirstMatchIn(body).map(_.group(1).toLong)

  private def commitBody(t: String, snap: Long, files: Seq[String]): String =
    s"""{"requirements":[{"type":"assert-ref-snapshot-id","ref":"main","snapshot-id":$snap}],""" +
      s""""updates":[{"action":"add-snapshot","snapshot":{"added-data-files":[""" +
      files.map(f => "\"" + f + "\"").mkString(",") + "]}}]}"

  def op(ctx: Ctx, i: Int): Op = {
    val t = pick()
    val base = s"/v1/namespaces/$Ns/tables"
    Cycle(i % Cycle.size) match {
      case "stale" =>
        val last = lastCommit
        staleSent += 1
        Op("stale", "stale_replay", run = () => {
          val (lt, body) = last.getOrElse(sys.error("no earlier commit to replay"))
          ctx.span("endpoint.POST updateTable")(call("POST", s"$base/$lt", body))
        }, check = r => {
          val (c, b) = r.asInstanceOf[(Int, String)]
          if (c == 409) { stale409 += 1; None }
          else Some(s"stale replay answered $c: ${b.take(200)}")
        })
      case "update" =>
        val n = 1 + commits % 2
        val files = (0 until n).map(j => staged((nextFile + j) % staged.size))
        nextFile += n
        val snap = snapshot(t)
        val body = commitBody(t, snap, files)
        Op("write", "updateTable", run = () => ctx.span("endpoint.POST updateTable")(
          call("POST", s"$base/$t", body)), check = r => {
          val (c, b) = r.asInstanceOf[(Int, String)]
          if (c != 200) Some(s"updateTable $t -> $c: ${b.take(200)}")
          else { snapshot(t) = snap + 1; commits += 1; lastCommit = Some((t, body)); None }
        })
      case "list" =>
        Op("read", "listTables", run = () => ctx.span("endpoint.GET listTables")(
          call("GET", base)), check = r => {
          val (c, b) = r.asInstanceOf[(Int, String)]
          if (c != 200) Some(s"listTables -> $c")
          else {
            val missing = (0 until Tables).map(name).filterNot(n => b.contains("\"" + n + "\""))
            if (missing.isEmpty) None else Some(s"listTables misses $missing")
          }
        })
      case "load" =>
        Op("read", "loadTable", run = () => ctx.span("endpoint.GET loadTable")(
          call("GET", s"$base/$t")), check = r => {
          val (c, b) = r.asInstanceOf[(Int, String)]
          if (ctx.traced) ctx.attrs("load_table_b") = b.length
          if (c != 200) Some(s"loadTable $t -> $c")
          else {
            val sid = jlong(b, "current-snapshot-id")
            if (sid.contains(snapshot(t))) None
            else Some(s"loadTable $t current-snapshot-id $sid, expected ${snapshot(t)}")
          }
        })
    }
  }

  def finish(ctx: Ctx): Map[String, Any] = {
    val info = Map(
      "tables" -> Tables, "cycle" -> Cycle,
      "staged_files" -> staged.size,
      "input_rows" -> (staged.size + Tables) * 64L,
      "input_bytes" -> (staged.size + Tables) * Files.size(Paths.get(staged.head)),
      "commits" -> commits, "stale_sent" -> staleSent, "stale_409" -> stale409,
      "conflict_ratio" -> (if (staleSent > 0) stale409.toDouble / staleSent else 1.0),
      "final_snapshots" -> snapshot.toMap)
    RestCatalog.stop(registry)
    info
  }
}
