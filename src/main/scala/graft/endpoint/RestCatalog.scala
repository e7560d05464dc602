package graft.endpoint

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.json4s.{JArray, JNothing, JNull, JObject, JString, JValue}
import org.json4s.jackson.JsonMethods.compact

import graft.Json.{arr, at, bool, double, jstr, long, optLong, parse, parseObject,
  present, str, strs}
import graft.lake.SnapshotTable
import graft.sources.{Catalog, PersistentCatalog}

/** HTTP REST catalog — the reference's Lakekeeper role as a WIRE
  * protocol, not just a durable registry. The reference stack runs
  * Lakekeeper as a standalone HTTP catalog service
  * (docker-compose.yaml `lakekeeper` service; RUNBOOK.md §4 drives it
  * with `curl http://localhost:8181/management/v1/warehouse` and POSTs
  * create-yfinance-warehouse.json) that Trino, Jupyter and StarRocks
  * all mount independently. graft's [[PersistentCatalog]] already
  * provides the durable registry; this endpoint serves that registry
  * over in-process HTTP (JDK `com.sun.net.httpserver` — zero new
  * jars), token-free JSON, so any HTTP client can list tables,
  * describe schemas, issue DDL, and resolve a lake table's current
  * snapshot pointer without speaking JVM or JDBC.
  *
  * Routes (all JSON; shaped after the public Iceberg REST catalog
  * surface — config / namespaces / tables — without claiming protocol
  * compatibility):
  *
  *   - `GET  /v1/config`                 server + registry version info
  *   - `GET  /v1/namespaces`             the served database
  *   - `GET  /v1/tables`                 registry listing (name, kind, format, location)
  *   - `GET  /v1/tables/{name}`          describe: columns from the live session catalog
  *   - `GET  /v1/tables/{name}/stats`    row_count + n_cols (computed engine-side)
  *   - `GET  /v1/tables/{name}/pointer`  SnapshotTable current version + manifest path
  *   - `POST /v1/tables`                 DDL create `{"name","format","location"}`
  *                                        (external table) or `{"name","view_sql"}`
  *                                        (view) → registers in the session AND
  *                                        commits a new registry version (durable
  *                                        across JVMs)
  *   - `DELETE /v1/tables/{name}`        drop from session + registry
  *
  * Wire JSON: every request body is parsed once into a json4s AST
  * ([[graft.Json]]) and its fields are read by the path the Iceberg
  * REST spec defines, so key order and unknown keys do not matter.
  * Malformed JSON — a truncated object, trailing content, a top-level
  * array — is a 400 before anything is applied, and integer fields
  * are strictly typed (`3.5` or `"3"` for an integer field is a 400).
  * Responses are rendered as strings with [[graft.Json.jstr]].
  *
  * Consistency: reads are served from the live session catalog (which
  * [[serve]] restores from the registry at bind time) and from the
  * registry SnapshotTable — whose versioned commits make every GET
  * see a complete catalog, never a half-applied DDL. Mutations
  * serialize on a server-side lock; concurrent GETs proceed
  * lock-free (RestCatalogSpec drives two concurrent clients).
  *
  * Scale notes: every handler is metadata-sized — listings are
  * O(tables), describe is a catalog lookup, `stats` row counts are
  * parquet footer counts, `pointer` is one manifest-dir listing. No
  * handler ships data rows; data access stays on engine surfaces
  * (JDBC via [[SqlEndpoint]], or Spark reads against `location`).
  */
object RestCatalog {

  private def jobj(fields: (String, String)*): String =
    fields.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")

  /** One commit requirement (Iceberg UpdateRequirement) this catalog
    * checks: `assert-ref-snapshot-id` — the named ref at `snapshotId`,
    * or absent when None — and `assert-table-uuid`.
    */
  private sealed trait Requirement
  private final case class AssertRef(ref: String, snapshotId: Option[Long])
      extends Requirement
  private final case class AssertUuid(uuid: String) extends Requirement

  /** The `requirements` array of a commit object (absent = none). A
    * `snapshot-id` that is null or missing asserts the ref ABSENT; an
    * unsupported type or a mistyped field is an IllegalArgumentException
    * (400).
    */
  private def requirements(commit: JValue): Seq[Requirement] = {
    val reqs = at(commit, "requirements") match {
      case JNothing | JNull => Nil
      case JArray(xs) => xs
      case _ => throw new IllegalArgumentException("requirements must be an array")
    }
    reqs.map { r =>
      str(at(r, "type")) match {
        case Some("assert-ref-snapshot-id") =>
          val ref = at(r, "ref") match {
            case JNothing | JNull => "main"
            case JString(n) => n
            case _ => throw new IllegalArgumentException(
              "assert-ref-snapshot-id ref must be a string")
          }
          AssertRef(ref, optLong(at(r, "snapshot-id"),
            "assert-ref-snapshot-id snapshot-id"))
        case Some("assert-table-uuid") =>
          AssertUuid(str(at(r, "uuid")).getOrElse(throw new IllegalArgumentException(
            "assert-table-uuid needs a uuid string")))
        case Some(t) =>
          throw new IllegalArgumentException(s"unsupported requirement type: $t")
        case None =>
          throw new IllegalArgumentException("every requirement needs a type string")
      }
    }
  }

  /** The `updates` array of a commit object as (action, update object)
    * pairs, in request order (absent = none).
    */
  private def updates(commit: JValue): List[(String, JValue)] =
    at(commit, "updates") match {
      case JNothing | JNull => Nil
      case JArray(xs) => xs.map(u => str(at(u, "action")).map(_ -> u).getOrElse(
        throw new IllegalArgumentException("every update needs an action string")))
      case _ => throw new IllegalArgumentException("updates must be an array")
    }

  /** The `snapshot` objects of a commit's add-snapshot updates. */
  private def snapshots(upds: Seq[(String, JValue)]): Seq[JValue] =
    upds.collect { case ("add-snapshot", u) => at(u, "snapshot") }

  // ---------------------------------------------------------------

  private final case class Server(http: HttpServer, registryRoot: String,
      db: String, auth: Option[(String, String)])

  // one server per registry root per JVM (specs, verify, bench reps)
  private val servers = scala.collection.mutable.Map.empty[String, Server]

  /** Restore the durable catalog from `registryRoot` into `spark`'s
    * session, then bind the HTTP endpoint on an ephemeral port —
    * the "Lakekeeper holds the catalog, clients mount it over HTTP"
    * split. Returns the bound port. Idempotent per registry root.
    *
    * `auth = Some(clientId -> clientSecret)` secures every route
    * except `/v1/config` and `/v1/oauth/tokens` behind OAuth2
    * client-credentials (the Iceberg REST `security: OAuth2` profile):
    * clients first POST the credentials to `/v1/oauth/tokens` and then
    * present the issued bearer token. `None` (default) keeps the
    * endpoint token-free, as Lakekeeper's bootstrap mode does.
    */
  def serve(spark: SparkSession, registryRoot: String, db: String = Catalog.DB,
      auth: Option[(String, String)] = None): Int =
    synchronized {
      servers.get(registryRoot) match {
        case Some(sv) =>
          // NEVER hand back a cached server under different auth: a
          // caller asking for OAuth must not silently get the earlier
          // token-free binding (or vice versa / different credentials)
          require(sv.auth == auth,
            s"a server for $registryRoot is already bound with different " +
              "auth settings — stop() it first")
          sv.http.getAddress.getPort
        case None =>
          PersistentCatalog.restore(spark, registryRoot)
          val http = HttpServer.create(new InetSocketAddress("localhost", 0), 0)
          // a small fixed pool: handlers are metadata-sized, and the
          // spec's two concurrent clients must genuinely overlap.
          // DAEMON threads throughout — the endpoint must never keep
          // the host JVM alive after main returns (the driver's Verify
          // main exits without System.exit)
          http.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4,
            (r: Runnable) => {
              val t = new Thread(r, "graft-rest-catalog")
              t.setDaemon(true); t
            }))
          val handler = new CatalogHandler(spark, registryRoot, db, auth,
            whStore = Some(new WarehouseStore(spark, registryRoot, auth)))
          http.createContext("/v1", handler)
          // Lakekeeper's management API lives under its own path root
          // (RUNBOOK.md §4: POST/GET /management/v1/warehouse)
          http.createContext("/management", handler)
          // the JDK dispatcher thread inherits daemon status from its
          // creator; start() from a short-lived daemon thread
          val starter = new Thread(() => http.start(), "graft-rest-starter")
          starter.setDaemon(true)
          starter.start()
          starter.join()
          servers(registryRoot) = Server(http, registryRoot, db, auth)
          http.getAddress.getPort
      }
    }

  /** Stop and forget the server bound for `registryRoot` (spec teardown). */
  def stop(registryRoot: String): Unit = synchronized {
    servers.remove(registryRoot).foreach(_.http.stop(0))
  }

  /** One named warehouse = an isolated (database, registry root) pair
    * served by its own [[CatalogHandler]] — the Lakekeeper model
    * (RUNBOOK.md §4: a warehouse is provisioned with a storage profile
    * and then mounted by engines via `warehouse=<name>`;
    * create-yfinance-warehouse.json is the reference's provisioning
    * body). Warehouses persist as one JSON file each under
    * `<rootRegistry>/_warehouses/` and are restored on server start.
    * Documented deltas: the storage PROFILE is validated and recorded
    * (served back by GET) but storage is backed by the server's local
    * filesystem area — no object-store jars ship in this environment
    * (FsContractSpec's relocated-FS lifecycle is the standing
    * substitute) — and `storage-credential` secrets are neither
    * persisted nor ever served back (Lakekeeper likewise never returns
    * them).
    */
  private final class WarehouseStore(spark: SparkSession, rootRegistry: String,
      auth: Option[(String, String)]) {

    private val reserved =
      Set("namespaces", "tables", "config", "oauth", "management", "v1")

    private def whDir = new Path(s"$rootRegistry/_warehouses")
    private def fs =
      whDir.getFileSystem(spark.sparkContext.hadoopConfiguration)

    // name -> (storage-profile object, handler)
    private val map =
      new java.util.concurrent.ConcurrentHashMap[String, (JObject, CatalogHandler)]()

    // name -> delete-protection flag (Lakekeeper's protection switch:
    // a protected warehouse refuses DELETE until unset); persisted in
    // the warehouse's identity record
    private val protectedFlags =
      new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

    // monotonic record sequence, persisted as wh_seq in every identity
    // record: the restore dedupe's tie-break. Filesystem mtime alone
    // has coarse granularity on some stores — a rename's publish-new
    // and the crash-orphaned old record can land in the same
    // timestamp, and a lexicographic tie-break could then delete the
    // rename TARGET and resurrect the old name (r19 ADVICE). The seq
    // is strictly increasing across every record write, so the
    // rename target always carries the higher one.
    private val recordSeq = new java.util.concurrent.atomic.AtomicLong(0L)

    locally { // restore persisted warehouses (server restart)
      if (fs.exists(whDir)) {
        val records = fs.listStatus(whDir)
          .filter(_.getPath.getName.endsWith(".json")).sortBy(_.getPath.getName)
          .map { st =>
            val in = fs.open(st.getPath)
            val txt = try new String(in.readAllBytes(), UTF_8) finally in.close()
            // a truncated record (see the unparseable-file branch below)
            // carries no fields
            (st.getPath, st.getModificationTime,
              scala.util.Try(parse(txt)).getOrElse(JNothing))
          }
        // a crash between rename's publish-new and delete-old leaves
        // BOTH names pointing at ONE registry; mounting both would put
        // two handlers over the same database, and dropping either
        // would reclaim the survivor's registry. The NEWER record is
        // the rename's fully-published target — completing the
        // interrupted rename means mounting it and retiring the stale
        // file (r18 ADVICE). Newest = highest persisted wh_seq (the
        // monotonic write counter — immune to coarse-mtime ties);
        // mtime only breaks ties among pre-seq-format records.
        recordSeq.set(records.iterator
          .map { case (_, _, rec) => long(at(rec, "wh_seq")).getOrElse(0L) }
          .maxOption.getOrElse(0L))
        val stale = records
          .groupBy { case (_, _, rec) => str(at(rec, "wh_registry")) }
          .collect { case (Some(_), dups) if dups.size > 1 =>
            dups.sortBy { case (_, mtime, rec) =>
              (long(at(rec, "wh_seq")).getOrElse(0L), mtime)
            }.dropRight(1)
          }.flatten.map(_._1).toSet
        stale.foreach { p =>
          System.err.println(s"[graft-rest] warehouse record $p shares its " +
            "registry with a newer record (interrupted rename) — retiring " +
            "the stale name")
          fs.delete(p, false)
        }
        records.filterNot { case (p, _, _) => stale(p) }.foreach { case (p, _, rec) =>
            (str(at(rec, "wh_name")), str(at(rec, "wh_db")),
              str(at(rec, "wh_registry"))) match {
              case (Some(name), Some(db), Some(reg)) =>
                scala.util.Try(PersistentCatalog.restore(spark, reg)) match {
                  case scala.util.Success(_) =>
                    val profile = at(rec, "storage-profile") match {
                      case o: JObject => o
                      case _ => JObject()
                    }
                    map.put(name,
                      (profile, new CatalogHandler(spark, reg, db, auth)))
                    protectedFlags.put(name, java.lang.Boolean.valueOf(
                      bool(at(rec, "delete-protection")).getOrElse(false)))
                    ()
                  case scala.util.Failure(e) =>
                    // a silently-mounted broken warehouse serves
                    // confusing empty listings with no operator-visible
                    // cause — skip it LOUDLY instead (r17 review)
                    System.err.println(s"[graft-rest] warehouse $name failed " +
                      s"to restore from $reg: $e — not mounted")
                }
              case _ =>
                // a crash between the name-reserving exclusive create
                // and the body write leaves a truncated file: the name
                // is CAS-wedged, so the operator must hear about it
                System.err.println(s"[graft-rest] unparseable warehouse " +
                  s"file $p (missing identity fields) — not mounted; " +
                  "delete it to free the name")
            }
          }
      }
    }

    def handlerFor(name: String): Option[CatalogHandler] =
      Option(map.get(name)).map(_._2)

    def listJson: String = {
      import scala.jdk.CollectionConverters._
      val rows = map.asScala.toSeq.sortBy(_._1).map { case (n, (profile, _)) =>
        s"""{"id":${jstr(n)},"name":${jstr(n)},"storage-profile":${compact(profile)}}"""
      }
      s"""{"warehouses":[${rows.mkString(",")}]}"""
    }

    def detailJson(name: String): Option[String] =
      Option(map.get(name)).map { case (profile, h) =>
        s"""{"id":${jstr(name)},"name":${jstr(name)},""" +
          s""""storage-profile":${compact(profile)},""" +
          s""""database":${jstr(h.database)},"registry":${jstr(h.registry)}}"""
      }

    /** Validate + provision; Left((status, message)) on refusal. */
    def create(body: JObject): Either[(Int, String), String] = synchronized {
      val name = str(at(body, "warehouse-name")).getOrElse(
        return Left(400 -> "warehouse-name is required"))
      if (!name.matches("[A-Za-z0-9_-]+"))
        return Left(400 -> s"invalid warehouse-name: $name")
      if (reserved(name))
        return Left(400 -> s"warehouse-name $name is reserved")
      if (map.containsKey(name))
        return Left(409 -> s"warehouse $name already exists")
      val profile = at(body, "storage-profile") match {
        case o: JObject => o
        case _ => return Left(400 -> "storage-profile object is required")
      }
      str(at(profile, "type")) match {
        case None => return Left(400 -> "storage-profile.type is required")
        case Some("s3") =>
          if (str(at(profile, "bucket")).forall(_.isEmpty))
            return Left(400 -> "s3 storage profile needs a non-empty bucket")
        case Some("file") | Some("local") => ()
        case Some(other) =>
          return Left(400 -> s"unknown storage-profile type: $other")
      }
      val db = "graft_wh_" + name.replace('-', '_')
      import scala.jdk.CollectionConverters._
      if (map.asScala.values.exists(_._2.database == db))
        return Left(409 -> (s"warehouse database $db already taken " +
          "(names differing only in -/_ collide)"))
      val reg = s"$rootRegistry/_warehouses/$name/registry"
      val protect = bool(at(body, "delete-protection")).getOrElse(false)
      // persist: identity + profile + protection flag only.
      // storage-credential is deliberately NOT written (secrets never
      // touch the store)
      val rendered = s"""{"wh_name":${jstr(name)},"wh_db":${jstr(db)},""" +
        s""""wh_registry":${jstr(reg)},"delete-protection":$protect,""" +
        s""""wh_seq":${recordSeq.incrementAndGet()},""" +
        s""""storage-profile":${compact(profile)}}"""
      fs.mkdirs(whDir)
      // name reservation is the cross-PROCESS arbiter, and it must be
      // won BEFORE any side effect: a duplicate create that first
      // re-saved the registry would wipe the WINNING warehouse's
      // registry head (its tables would vanish from listings and the
      // emptiness-checked DELETE would then reclaim live data) before
      // losing the race with a 409 (r17 review finding). On POSIX-local
      // stores the reservation is the kernel's O_EXCL create — the same
      // primitive CommitArbiter.linkCas rides — because Hadoop's
      // create(path, overwrite=false) is an exists-then-create PAIR
      // with exactly the cross-process window the comment above warns
      // about (r17 ADVICE).
      val jsonPath = new Path(whDir, s"$name.json")
      def reservePair(): Boolean =
        try { fs.create(jsonPath, false).close(); true }
        catch { case _: java.io.IOException => false }
      val won =
        if (graft.lake.CommitArbiter.isPosixLocal(fs)) {
          import java.nio.file.{Files, Paths}
          try { Files.createFile(Paths.get(jsonPath.toUri.getPath)); true }
          catch {
            case _: java.nio.file.FileAlreadyExistsException => false
            case _: UnsupportedOperationException | _: java.io.IOException =>
              reservePair() // no O_EXCL support: documented narrow window
          }
        } else reservePair()
      if (!won) return Left(409 -> s"warehouse $name already exists")
      var provisioned = false
      try {
        spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
        PersistentCatalog.save(spark, reg, db)
        // overwrite OUR zero-byte reservation with the identity record
        val out = fs.create(jsonPath, true)
        try out.write(rendered.getBytes(UTF_8)) finally out.close()
        provisioned = true
      } finally {
        // don't wedge the name on a half-provisioned warehouse
        if (!provisioned) { fs.delete(jsonPath, false); () }
      }
      val handler = new CatalogHandler(spark, reg, db, auth)
      // modeled STS (iceberg.properties:32 vended-credentials-enabled;
      // create-yfinance-warehouse.json sts-enabled): when the profile
      // opts in AND a storage credential rode the provisioning body,
      // hold it in MEMORY ONLY — it switches loadTable vending on; the
      // secret itself is never persisted or served (the rendered
      // record above deliberately excludes it)
      if (bool(at(profile, "sts-enabled")).contains(true))
        at(body, "storage-credential") match {
          case cred: JObject =>
            handler.stsCredential = Some(compact(cred))
            long(at(profile, "sts-token-ttl-seconds")).foreach(ttl =>
              handler.stsTtlMs = ttl * 1000)
          case _ =>
        }
      map.put(name, (profile, handler))
      protectedFlags.put(name, java.lang.Boolean.valueOf(protect))
      Right(name)
    }

    /** Re-render + atomically republish one warehouse's identity
      * record (rename / protection updates share this shape; the
      * registry itself never moves).
      */
    private def rewriteRecord(name: String, db: String, reg: String,
        protect: Boolean, profile: JObject): Unit = {
      val rendered = s"""{"wh_name":${jstr(name)},"wh_db":${jstr(db)},""" +
        s""""wh_registry":${jstr(reg)},"delete-protection":$protect,""" +
        s""""wh_seq":${recordSeq.incrementAndGet()},""" +
        s""""storage-profile":${compact(profile)}}"""
      val out = fs.create(new Path(whDir, s"$name.json"), true)
      try out.write(rendered.getBytes(UTF_8)) finally out.close()
    }

    /** RENAME a warehouse: the ADDRESSABLE name changes, the
      * underlying identity (database, registry root, contents) stays —
      * Lakekeeper's model exactly (the warehouse-id is stable; rename
      * touches the name). Left on refusal.
      */
    def rename(oldName: String, body: JObject): Either[(Int, String), String] =
      synchronized {
        val (profile, h) = Option(map.get(oldName)).getOrElse(
          return Left(404 -> s"no warehouse $oldName"))
        val newName = str(at(body, "new-name")).getOrElse(
          return Left(400 -> "new-name is required"))
        if (newName == oldName) return Right(newName) // idempotent
        if (!newName.matches("[A-Za-z0-9_-]+"))
          return Left(400 -> s"invalid warehouse-name: $newName")
        if (reserved(newName))
          return Left(400 -> s"warehouse-name $newName is reserved")
        if (map.containsKey(newName))
          return Left(409 -> s"warehouse $newName already exists")
        // reserve the NEW name with the same cross-process arbiter as
        // create, then retire the old record
        val newJson = new Path(whDir, s"$newName.json")
        val won =
          if (graft.lake.CommitArbiter.isPosixLocal(fs)) {
            import java.nio.file.{Files, Paths}
            try { Files.createFile(Paths.get(newJson.toUri.getPath)); true }
            catch {
              case _: java.nio.file.FileAlreadyExistsException => false
              case _: UnsupportedOperationException | _: java.io.IOException =>
                try { fs.create(newJson, false).close(); true }
                catch { case _: java.io.IOException => false }
            }
          } else {
            try { fs.create(newJson, false).close(); true }
            catch { case _: java.io.IOException => false }
          }
        if (!won) return Left(409 -> s"warehouse $newName already exists")
        val protect = Option(protectedFlags.get(oldName)).exists(_.booleanValue)
        rewriteRecord(newName, h.database, h.registry, protect, profile)
        fs.delete(new Path(whDir, s"$oldName.json"), false)
        map.put(newName, (profile, h))
        map.remove(oldName)
        protectedFlags.put(newName, java.lang.Boolean.valueOf(protect))
        protectedFlags.remove(oldName)
        Right(newName)
      }

    /** Set/unset delete-protection (Lakekeeper's protection switch);
      * persisted so a restart keeps refusing the drop.
      */
    def setProtection(name: String, body: JObject): Either[(Int, String), Boolean] =
      synchronized {
        val (profile, h) = Option(map.get(name)).getOrElse(
          return Left(404 -> s"no warehouse $name"))
        val want = bool(at(body, "protected")).getOrElse(
          return Left(400 -> "protected (boolean) is required"))
        protectedFlags.put(name, java.lang.Boolean.valueOf(want))
        rewriteRecord(name, h.database, h.registry, want, profile)
        Right(want)
      }

    def isProtected(name: String): Boolean =
      Option(protectedFlags.get(name)).exists(_.booleanValue)

    /** Metadata-sized statistics for one warehouse, from its registry:
      * table/view counts plus the registry version (Lakekeeper's
      * GET /management/v1/warehouse/{id}/statistics shape).
      */
    def statsJson(name: String): Option[String] =
      Option(map.get(name)).map { case (_, h) =>
        val rows = SnapshotTable.read(spark, h.registry)
          .select("kind").collect().map(_.getString(0))
        val tables = rows.count(_ != "view")
        val views = rows.length - tables
        s"""{"warehouse":${jstr(name)},"number-of-tables":$tables,""" +
          s""""number-of-views":$views,"delete-protection":${isProtected(name)},""" +
          s""""metrics-reports":${h.metricsReportCount},""" +
          s""""registry-version":${SnapshotTable.currentVersion(spark, h.registry)}}"""
      }

    /** Drop an EMPTY warehouse; Left on refusal (unknown / non-empty). */
    def drop(name: String): Either[(Int, String), String] = synchronized {
      val (_, h) = Option(map.get(name)).getOrElse(
        return Left(404 -> s"no warehouse $name"))
      if (isProtected(name))
        return Left(409 -> (s"warehouse $name is delete-protected; " +
          "unset protection first"))
      // emptiness is judged UNDER the handler's DDL lock: table create
      // on this warehouse serializes on the same lock, so a POST
      // …/tables can no longer land between the registry count and the
      // recursive delete and lose its registry (r17 ADVICE). Lock order
      // is store → handler only; handler routes never call back into
      // the store, so no inversion is possible.
      h.ddlLock.synchronized {
        if (SnapshotTable.read(spark, h.registry).count() > 0)
          return Left(409 -> s"warehouse $name still lists tables; drop them first")
        if (h.hasNested)
          return Left(409 -> (s"warehouse $name still has nested namespaces; " +
            "drop them first"))
        fs.delete(new Path(whDir, s"$name.json"), false)
        // the registry dir keeps its PROVISION-time name across
        // renames (stable identity) — reclaim by the registry's actual
        // parent, not the current addressable name
        fs.delete(new Path(h.registry).getParent, true)
        // the warehouse's engine-side database must not outlive it:
        // a re-created warehouse of the same name starts empty
        spark.sql(s"DROP DATABASE IF EXISTS ${h.database} CASCADE")
        map.remove(name)
        protectedFlags.remove(name)
        Right(name)
      }
    }
  }

  private final class CatalogHandler(spark: SparkSession, registryRoot: String,
      db: String, auth: Option[(String, String)],
      whStore: Option[WarehouseStore] = None)
      extends HttpHandler {

    // the warehouse store reads these when serving detail/config
    private[endpoint] def database: String = db
    private[endpoint] def registry: String = registryRoot

    // serializes DDL (POST/DELETE): session-catalog registration and
    // the registry commit must publish as one logical step. Visible to
    // WarehouseStore so drop can judge emptiness under the same lock.
    private[endpoint] val ddlLock = new Object

    // newest view-metadata files kept per view across REPLACE/schema
    // churn (the r19 mount-retention pattern; see loadViewResult)
    private val viewMetaRetain = 8

    /** The failure message of the first violated `assert-table-uuid`
      * requirement, if any (every one is checked).
      */
    private def uuidAssertionFailure(loc: String,
        reqs: Seq[Requirement]): Option[String] =
      if (reqs.exists { case AssertUuid(u) => u != tableUuid(loc); case _ => false })
        Some(s"requirement failed: table-uuid is ${tableUuid(loc)}")
      else None

    /** Validate EVERY `assert-ref-snapshot-id` requirement against the
      * table's refs at `cur` — a requirement may name any ref (main,
      * a tag, a branch whose head is a main version); asserting a
      * snapshot-id checks position, omitting it asserts ABSENCE
      * (Iceberg semantics: a commit carrying main PLUS a tag assertion
      * fails when either is stale). Returns the first violated
      * assertion's message, if any.
      */
    private def refAssertionFailure(loc: String, cur: Int,
        reqs: Seq[Requirement]): Option[String] = {
      // a ref's wire-visible position: main = the head; tags by
      // version; branches only when their head is a MAIN version
      // (branch-local staging is invisible to external catalogs)
      def refVersion(n: String): Option[Long] =
        if (n == "main") Some(cur.toLong)
        else SnapshotTable.tags(spark, loc).get(n).map(_.toLong)
          .orElse(SnapshotTable.branches(spark, loc).get(n).collect {
            case stem if stem.matches("v\\d+") => stem.drop(1).toLong
          })
      reqs.iterator.flatMap {
        case AssertRef(reqRef, wanted) =>
          (refVersion(reqRef), wanted) match {
            case (Some(have), Some(w)) if have == w => None // holds
            case (None, None) => None // asserted absent, is absent
            case (have, _) =>
              Some(s"requirement failed: ref $reqRef " +
                have.fold("does not exist")(h => s"snapshot-id is $h") +
                wanted.fold(" (asserted absent)")(w => s", not $w"))
          }
        case _ => None
      }.nextOption()
    }

    // bearer tokens issued by /v1/oauth/tokens → expiry instant (ms).
    // Bounded by issuance rate; expired entries are reaped on check.
    private val tokens =
      new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    private val tokenTtlMs = 3600L * 1000

    // ----- vended storage credentials (modeled STS) -----------------
    // The reference enables credential vending end-to-end:
    // iceberg.properties:32 `vended-credentials-enabled=true`,
    // create-yfinance-warehouse.json `sts-enabled: true` — Lakekeeper
    // mints short-lived scoped storage credentials per table into
    // LoadTableResult. Here the warehouse's storage credential lives
    // ONLY in memory (set at provisioning; never persisted, never
    // served back): its presence switches vending on, and each
    // loadTable mints a fresh scoped token. The vended session token
    // doubles as a SCOPED bearer (GET/HEAD on exactly its table's
    // load/credentials routes) with expiry enforced server-side — the
    // enforceable analog of STS scoping when storage is served by this
    // same process. A restarted server serves the warehouse but vends
    // nothing until re-provisioned (documented delta: Lakekeeper
    // persists credentials encrypted).
    @volatile private[endpoint] var stsCredential: Option[String] = None
    @volatile private[endpoint] var stsTtlMs: Long = 3600L * 1000
    // vended token -> (table name, expiry ms); reaped on touch
    private val vendedTokens =
      new java.util.concurrent.ConcurrentHashMap[String, (String, Long)]()

    /** Mint one scoped credential for `name`/`loc`: returns the
      * LoadTableResult `config` object body and the
      * `storage-credentials` array (Iceberg REST LoadCredentials
      * wire shape).
      */
    private def vendFor(name: String, loc: String): (String, String) = {
      val now = System.currentTimeMillis()
      vendedTokens.entrySet().removeIf(e => e.getValue._2 < now)
      val tok = "sts-" + java.util.UUID.randomUUID().toString
      val exp = now + stsTtlMs
      vendedTokens.put(tok, (name, exp))
      val cfg = s"""{"graft.vended-token":${jstr(tok)}}"""
      val creds = s"""[{"prefix":${jstr(loc)},"config":{""" +
        s""""s3.access-key-id":${jstr("GRAFTSTS" + tok.takeRight(8))},""" +
        s""""s3.secret-access-key":${jstr(java.util.UUID.randomUUID().toString)},""" +
        s""""s3.session-token":${jstr(tok)},""" +
        s""""s3.session-token-expires-at-ms":"$exp"}}]"""
      (cfg, creds)
    }

    // ----- nested namespaces ----------------------------------------
    // The reference mounts the catalog with
    // `iceberg.nested-namespace-enabled=true` (iceberg.properties:31);
    // the Iceberg REST spec addresses multi-level namespaces by
    // joining levels with the %1F unit separator. Each nested
    // namespace beneath this handler's root namespace [db] is served
    // by its OWN CatalogHandler — database `<db>__<levels…>`, registry
    // under `<registryRoot>_ns/<levels…>/registry` — so the ENTIRE
    // table surface (create/load/commit/maintain/drop) works beneath
    // it unchanged: nested table routes are delegated with the ns
    // segment rewritten to the sub-handler's database. Flat clients
    // are unaffected (a %1F-free ns never reaches the delegation).
    // Durability: sub-registries restore on handler construction, like
    // warehouses.
    private val nested =
      new java.util.concurrent.ConcurrentHashMap[String, CatalogHandler]()
    private def nsRoot = s"${registryRoot}_ns"
    private def dbOfTail(tail: Seq[String]): String = (db +: tail).mkString("__")
    private val NsSep = '\u001F'

    locally { // restore nested namespaces (server restart)
      val hconf = spark.sparkContext.hadoopConfiguration
      val base = new Path(nsRoot)
      val nfs = base.getFileSystem(hconf)
      def walk(dir: Path, tail: Vector[String]): Unit =
        if (tail.size < 5 && nfs.exists(dir))
          nfs.listStatus(dir).filter(_.isDirectory)
            .filterNot(_.getPath.getName == "registry").foreach { st =>
              val t = tail :+ st.getPath.getName
              val reg = new Path(st.getPath, "registry")
              if (nfs.exists(reg)) {
                val ndb = dbOfTail(t)
                scala.util.Try {
                  spark.sql(s"CREATE DATABASE IF NOT EXISTS $ndb")
                  PersistentCatalog.restore(spark, reg.toString)
                } match {
                  case scala.util.Success(_) =>
                    nested.put(t.mkString(NsSep.toString),
                      new CatalogHandler(spark, reg.toString, ndb, auth))
                    ()
                  case scala.util.Failure(e) =>
                    // same policy as broken warehouses: skip LOUDLY
                    System.err.println(s"[graft-rest] nested namespace " +
                      s"${(db +: t).mkString(".")} failed to restore from " +
                      s"$reg: $e — not mounted")
                }
              }
              walk(st.getPath, t)
            }
      walk(base, Vector.empty)
    }

    // a warehouse drop must not silently take nested namespaces with it
    private[endpoint] def hasNested: Boolean = !nested.isEmpty

    /** The sub-handler serving nested namespace `ns` (a %1F-joined
      * path whose first level must be this handler's root namespace).
      */
    private def nestedOf(ns: String): Option[CatalogHandler] = {
      val levels = ns.split(NsSep).toSeq
      if (levels.headOption.contains(db) && levels.size > 1)
        Option(nested.get(levels.drop(1).mkString(NsSep.toString)))
      else None
    }

    private def createNamespace(ex: HttpExchange, body: JObject): Unit = {
      val levels = strs(at(body, "namespace"), "namespace")
      if (levels.isEmpty) {
        err(ex, 400, "namespace must be a non-empty array"); return
      }
      if (!levels.headOption.contains(db) || levels.size < 2) {
        err(ex, 400, s"nested namespaces live beneath [$db] " +
          s"(got ${levels.mkString(".")})"); return
      }
      val tail = levels.drop(1)
      tail.find(p => !p.matches("[A-Za-z0-9_]+") || p.contains("__")) match {
        case Some(bad) =>
          err(ex, 400, s"invalid namespace level '$bad' " +
            "(levels are [A-Za-z0-9_]+ and must not contain '__')")
          return
        case None =>
      }
      val key = tail.mkString(NsSep.toString)
      ddlLock.synchronized {
        if (nested.containsKey(key)) {
          err(ex, 409, s"namespace ${levels.mkString(".")} already exists")
          return
        }
        if (tail.size > 1 &&
            !nested.containsKey(tail.dropRight(1).mkString(NsSep.toString))) {
          err(ex, 404, s"parent namespace ${levels.dropRight(1).mkString(".")} " +
            "does not exist"); return
        }
        val ndb = dbOfTail(tail)
        val reg = s"$nsRoot/${tail.mkString("/")}/registry"
        spark.sql(s"CREATE DATABASE IF NOT EXISTS $ndb")
        PersistentCatalog.save(spark, reg, ndb)
        nested.put(key, new CatalogHandler(spark, reg, ndb, auth))
      }
      send(ex, 200,
        s"""{"namespace":[${levels.map(jstr).mkString(",")}],"properties":{}}""")
    }

    private def dropNested(ex: HttpExchange, ns: String): Unit = {
      val levels = ns.split(NsSep).toSeq
      val tail = levels.drop(1)
      val key = tail.mkString(NsSep.toString)
      ddlLock.synchronized {
        val h = nestedOf(ns).getOrElse {
          err(ex, 404, s"unknown namespace: ${levels.mkString(".")}"); return
        }
        h.ddlLock.synchronized {
          // same guarantees as warehouse drop: emptiness judged under
          // the sub-handler's DDL lock; the engine database goes too
          if (SnapshotTable.read(spark, h.registry).count() > 0) {
            err(ex, 409, s"namespace ${levels.mkString(".")} still lists " +
              "tables; drop them first"); return
          }
          import scala.jdk.CollectionConverters._
          if (nested.keySet.asScala.exists(k =>
              k != key && k.startsWith(key + NsSep))) {
            err(ex, 409, s"namespace ${levels.mkString(".")} has child " +
              "namespaces; drop them first"); return
          }
          val p = new Path(s"$nsRoot/${tail.mkString("/")}")
          p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
          spark.sql(s"DROP DATABASE IF EXISTS ${h.database} CASCADE")
          nested.remove(key)
          send(ex, 200, s"""{"dropped":[${levels.map(jstr).mkString(",")}]}""")
        }
      }
    }

    /** Whether `tok` is a live vended credential whose scope covers
      * this request: GET/HEAD on exactly its table's LoadTableResult —
      * NOT the credentials-refresh route. Refresh requires the full
      * catalog bearer: if a vended token could re-vend itself, a
      * data-plane holder polling before expiry would hold storage
      * access forever and the server-enforced TTL would bound nothing
      * (r18 ADVICE) — real STS/Lakekeeper scopes refresh to the
      * catalog credential for the same reason. Everything else stays
      * 401.
      */
    private[endpoint] def vendedOk(method: String, segs: List[String],
        tok: String): Boolean = {
      val now = System.currentTimeMillis()
      vendedTokens.entrySet().removeIf(e => e.getValue._2 < now)
      Option(vendedTokens.get(tok)).exists { case (table, _) =>
        (method == "GET" || method == "HEAD") && (segs match {
          case List("v1", "namespaces", ns, "tables", t) =>
            ns == db && t == table
          case _ => false
        })
      }
    }

    private def bearerOk(ex: HttpExchange): Boolean = {
      val now = System.currentTimeMillis()
      tokens.entrySet().removeIf(e => e.getValue < now)
      Option(ex.getRequestHeaders.getFirst("Authorization"))
        .filter(_.startsWith("Bearer "))
        .map(_.stripPrefix("Bearer "))
        .exists(tokens.containsKey)
    }

    private def send(ex: HttpExchange, code: Int, json: String): Unit = {
      val bytes = json.getBytes(UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseBody(code, bytes)
    }

    // HttpExchange#sendResponseHeaders + body write, named for clarity
    implicit private class Ex(ex: HttpExchange) {
      def sendResponseBody(code: Int, bytes: Array[Byte]): Unit = {
        ex.sendResponseHeaders(code, bytes.length)
        val os = ex.getResponseBody
        try os.write(bytes) finally os.close()
      }
    }

    private def err(ex: HttpExchange, code: Int, msg: String): Unit =
      send(ex, code, jobj("error" -> jstr(msg)))

    /** The request body as a JSON object; malformed JSON raises
      * IllegalArgumentException, which [[handle]] answers with a 400
      * before anything is applied.
      */
    private def jsonBody(ex: HttpExchange): JObject =
      parseObject(new String(ex.getRequestBody.readAllBytes(), UTF_8))

    private[endpoint] def registryRows(): Seq[(String, String, String, String)] =
      SnapshotTable.read(spark, registryRoot)
        .collect()
        .map(r => (r.getAs[String]("table_name"), r.getAs[String]("kind"),
          Option(r.getAs[String]("format")).getOrElse(""),
          Option(r.getAs[String]("location")).getOrElse("")))
        .sortBy(_._1).toSeq

    /** Iceberg REST list-route pagination (`?pageToken=…&pageSize=N`
      * — Trino paginates every listing against big catalogs). The
      * token is the LAST key of the previous page: keys are served
      * sorted, so the cursor is stable under concurrent create/drop
      * (an index cursor would skip or repeat around a mutation).
      * Returns the page and the `next-page-token` to serve, if more
      * remain. No pageSize → the whole (remaining) listing, no token.
      */
    private def paged[T](ex: HttpExchange, all: Seq[T], keyOf: T => String)
        : (Seq[T], Option[String]) = {
      val q = Option(ex.getRequestURI.getQuery).getOrElse("")
      val params = q.split("&").toSeq.map(_.split("=", 2)).collect {
        case Array(k, v) => k -> java.net.URLDecoder.decode(v, "UTF-8")
      }.toMap
      val sorted = all.sortBy(keyOf)
      val rest = params.get("pageToken")
        .fold(sorted)(t => sorted.dropWhile(keyOf(_) <= t))
      params.get("pageSize").flatMap(_.toIntOption).filter(_ > 0) match {
        case None => (rest, None)
        case Some(n) =>
          val page = rest.take(n)
          (page, if (rest.size > n) page.lastOption.map(keyOf) else None)
      }
    }

    // the next-page-token field, rendered only when a next page exists
    private def nextTokenField(next: Option[String]): String =
      next.fold("")(t => s""","next-page-token":${jstr(t)}""")

    // metrics reports accepted per table (Iceberg ReportMetricsRequest
    // — engines POST scan/commit reports after reads); metadata-sized
    // accounting, served back through warehouse statistics
    private val metricsReports =
      new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    private[endpoint] def metricsReportCount: Long = {
      import scala.jdk.CollectionConverters._
      metricsReports.values.asScala.map(_.longValue).sum
    }

    override def handle(ex: HttpExchange): Unit =
      try route(ex)
      catch {
        case e: IllegalArgumentException => err(ex, 400, e.getMessage)
        case scala.util.control.NonFatal(e) =>
          err(ex, 500, s"${e.getClass.getSimpleName}: ${e.getMessage}")
      } finally ex.close()

    private def route(ex: HttpExchange): Unit = {
      val path = ex.getRequestURI.getPath.stripSuffix("/")
      val method = ex.getRequestMethod
      // OAuth gate: /v1/config stays open (Iceberg clients fetch it
      // before authenticating) and /v1/oauth/tokens IS the token mint.
      // /management and warehouse-prefixed routes are gated like the
      // rest — Lakekeeper secures its management API the same way.
      if (auth.isDefined && path != "/v1/config" && path != "/v1/oauth/tokens"
          && !bearerOk(ex) && !vendedReqOk(ex, method, path)) {
        ex.getResponseHeaders.set("WWW-Authenticate", "Bearer")
        err(ex, 401, "missing or invalid bearer token")
        return
      }
      path.split("/").drop(1).toList match {
        case "management" :: rest => management(ex, method, rest, path)
        // Iceberg REST's {prefix} path segment: /v1/<warehouse>/… —
        // the warehouse's own handler (db + registry) serves it; the
        // prefix is exactly what /v1/config?warehouse=<name> returned
        // in overrides.prefix, Lakekeeper's mounting contract
        case "v1" :: p :: rest if whStore.exists(_.handlerFor(p).isDefined) =>
          whStore.get.handlerFor(p).get.dispatch(ex, method, "v1" :: rest, path)
        case segs => dispatch(ex, method, segs, path)
      }
    }

    /** A vended storage credential doubling as a SCOPED bearer: the
      * holder may GET exactly its table's LoadTableResult — on the
      * owning handler (warehouse-prefixed paths resolve to that
      * warehouse's handler) — nothing else. Credentials REFRESH
      * requires the full catalog bearer (see [[vendedOk]]).
      */
    private def vendedReqOk(ex: HttpExchange, method: String,
        path: String): Boolean =
      Option(ex.getRequestHeaders.getFirst("Authorization"))
        .filter(_.startsWith("Bearer ")).map(_.stripPrefix("Bearer "))
        .exists { tok =>
          path.split("/").drop(1).toList match {
            case "v1" :: p :: rest if whStore.exists(_.handlerFor(p).isDefined) =>
              whStore.get.handlerFor(p).get.vendedOk(method, "v1" :: rest, tok)
            case segs => vendedOk(method, segs, tok)
          }
        }

    /** Lakekeeper-shaped management API: warehouse CRUD
      * (RUNBOOK.md §4; create-yfinance-warehouse.json is the documented
      * provisioning body). Root-handler only — warehouses don't nest.
      */
    private def management(ex: HttpExchange, method: String,
        rest: List[String], path: String): Unit = {
      val store = whStore.getOrElse { err(ex, 404, s"$method $path"); return }
      (method, rest) match {
        case ("GET", List("v1", "warehouse")) =>
          send(ex, 200, store.listJson)
        case ("POST", List("v1", "warehouse")) =>
          store.create(jsonBody(ex)) match {
            case Right(name) =>
              send(ex, 201, s"""{"warehouse-id":${jstr(name)}}""")
            case Left((code, msg)) => err(ex, code, msg)
          }
        case ("GET", List("v1", "warehouse", name)) =>
          store.detailJson(name) match {
            case Some(json) => send(ex, 200, json)
            case None => err(ex, 404, s"no warehouse $name")
          }
        case ("DELETE", List("v1", "warehouse", name)) =>
          store.drop(name) match {
            case Right(_) => send(ex, 200, s"""{"dropped":${jstr(name)}}""")
            case Left((code, msg)) => err(ex, code, msg)
          }
        case ("POST", List("v1", "warehouse", name, "rename")) =>
          store.rename(name, jsonBody(ex)) match {
            case Right(n) => send(ex, 200, s"""{"warehouse-id":${jstr(n)}}""")
            case Left((code, msg)) => err(ex, code, msg)
          }
        case ("POST", List("v1", "warehouse", name, "protection")) =>
          store.setProtection(name, jsonBody(ex)) match {
            case Right(p) => send(ex, 200, s"""{"protected":$p}""")
            case Left((code, msg)) => err(ex, code, msg)
          }
        case ("GET", List("v1", "warehouse", name, "statistics")) =>
          store.statsJson(name) match {
            case Some(json) => send(ex, 200, json)
            case None => err(ex, 404, s"no warehouse $name")
          }
        case _ => err(ex, 404, s"$method $path")
      }
    }

    private[endpoint] def dispatch(ex: HttpExchange, method: String,
        segs: List[String], path: String): Unit = {
      (method, segs) match {
        case ("POST", List("v1", "oauth", "tokens")) =>
          // OAuth2 client-credentials (the Iceberg REST catalog's
          // documented auth flow): form-encoded grant, JSON token
          auth match {
            case None =>
              err(ex, 400, "server is token-free (no OAuth configured)")
            case Some((cid, secret)) =>
              val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
              val form = body.split("&").toSeq
                .map(_.split("=", 2))
                .collect { case Array(k, v) =>
                  k -> java.net.URLDecoder.decode(v, "UTF-8") }
                .toMap
              if (!form.get("grant_type").contains("client_credentials"))
                err(ex, 400, "unsupported grant_type (want client_credentials)")
              else if (!form.get("client_id").contains(cid) ||
                  !form.get("client_secret").contains(secret))
                send(ex, 401, jobj("error" -> jstr("invalid_client")))
              else {
                val tok = java.util.UUID.randomUUID().toString
                tokens.put(tok, System.currentTimeMillis() + tokenTtlMs)
                send(ex, 200, jobj(
                  "access_token" -> jstr(tok),
                  "token_type" -> jstr("bearer"),
                  "expires_in" -> (tokenTtlMs / 1000).toString))
              }
          }

        case ("GET", List("v1", "config")) =>
          // Iceberg REST CatalogConfig shape (defaults/overrides), the
          // graft-specific fields ride along as extra keys; a
          // ?warehouse=<name> query resolves a provisioned warehouse
          configFor(ex)

        case ("GET", List("v1", "namespaces")) =>
          // root namespace first, then nested ones as full-level arrays
          val all = Seq(Seq(db)) ++ {
            import scala.jdk.CollectionConverters._
            nested.keySet.asScala.toSeq.sorted
              .map(k => db +: k.split(NsSep).toSeq)
          }
          val (page, next) = paged(ex, all, (_: Seq[String]).mkString(NsSep.toString))
          send(ex, 200, s"""{"namespaces":[${page.map(ns =>
            ns.map(jstr).mkString("[", ",", "]")).mkString(",")}]${
            nextTokenField(next)}}""")

        case ("POST", List("v1", "namespaces")) =>
          // Iceberg CreateNamespace: {"namespace":["<db>","sub",…]}
          createNamespace(ex, jsonBody(ex))

        case ("GET", List("v1", "namespaces", ns))
            if ns.indexOf(NsSep.toInt) >= 0 =>
          nestedOf(ns) match {
            case Some(_) => send(ex, 200, s"""{"namespace":[${ns.split(NsSep)
              .map(jstr).mkString(",")}],"properties":{}}""")
            case None =>
              err(ex, 404, s"unknown namespace: ${ns.split(NsSep).mkString(".")}")
          }

        case ("DELETE", List("v1", "namespaces", ns))
            if ns.indexOf(NsSep.toInt) >= 0 =>
          dropNested(ex, ns)

        // every other route beneath a NESTED namespace delegates to
        // its sub-handler with the ns segment rewritten to the
        // sub-database — the full table surface, unchanged
        case (m, "v1" :: "namespaces" :: ns :: rest)
            if ns.indexOf(NsSep.toInt) >= 0 =>
          nestedOf(ns) match {
            case Some(h) =>
              h.dispatch(ex, m, "v1" :: "namespaces" :: h.database :: rest, path)
            case None =>
              err(ex, 404, s"unknown namespace: ${ns.split(NsSep).mkString(".")}")
          }

        // ----- Iceberg-REST-shaped routes (public OpenAPI spelling:
        // ListTablesResponse / LoadTableResult). The graft-native
        // routes above stay; README documents the protocol deltas.
        case ("GET", List("v1", "namespaces", ns)) if ns == db =>
          send(ex, 200,
            s"""{"namespace":[${jstr(db)}],"properties":{}}""")

        case ("GET", List("v1", "namespaces", ns, "tables")) if ns == db =>
          val (page, next) = paged(ex, registryRows().map(_._1), identity[String])
          val ids = page.map(n =>
            s"""{"namespace":[${jstr(db)}],"name":${jstr(n)}}""")
          send(ex, 200,
            s"""{"identifiers":[${ids.mkString(",")}]${nextTokenField(next)}}""")

        case ("GET", List("v1", "namespaces", ns, "tables", name)) if ns == db =>
          loadTableResult(ex, name)

        case ("GET", List("v1", "namespaces", ns, "tables", name, "credentials"))
            if ns == db =>
          loadCredentials(ex, name)

        case ("POST", List("v1", "namespaces", ns, "tables")) if ns == db =>
          createTableIceberg(ex)

        case ("HEAD", List("v1", "namespaces", ns, "tables", name)) if ns == db =>
          // Iceberg tableExists: 204 when the table is registered,
          // 404 otherwise — no body either way
          val exists = spark.catalog.tableExists(s"$db.$name")
          ex.sendResponseHeaders(if (exists) 204 else 404, -1)
          ex.close()

        case ("DELETE", List("v1", "namespaces", ns, "tables", name)) if ns == db =>
          // the namespaced dropTable spelling; same semantics as
          // DELETE /v1/tables/{name} (registration dropped, data kept)
          dropTable(ex, name)

        case ("POST", List("v1", "namespaces", ns, "tables", name)) if ns == db =>
          commitTable(ex, name)

        case ("POST", List("v1", "namespaces", ns, "tables", name, "metrics"))
            if ns == db =>
          // Iceberg REST metrics-report sink (engines POST scan/commit
          // reports after every read) — tolerant accept-and-account:
          // the report body is engine-specific, so any JSON object
          // counts; the tally is served in warehouse statistics
          withTable(ex, name) { _ =>
            jsonBody(ex)
            metricsReports.merge(name, 1L, (a, b) =>
              java.lang.Long.valueOf(a.longValue + b.longValue))
            ex.sendResponseHeaders(204, -1)
            ex.close()
          }

        // ----- Iceberg REST views: the registry's views served over
        // the wire, so a mounted session resolves a VIEW the way
        // catalog_tables serves it locally (list/load here;
        // create/drop delegate to engine DDL under the same lock as
        // every other registry mutation)
        case ("GET", List("v1", "namespaces", ns, "views")) if ns == db =>
          val (page, next) =
            paged(ex, registryRows().filter(_._2 == "view").map(_._1),
              identity[String])
          val ids = page.map(n =>
            s"""{"namespace":[${jstr(db)}],"name":${jstr(n)}}""")
          send(ex, 200,
            s"""{"identifiers":[${ids.mkString(",")}]${nextTokenField(next)}}""")

        case ("GET", List("v1", "namespaces", ns, "views", name)) if ns == db =>
          loadViewResult(ex, name)

        case ("HEAD", List("v1", "namespaces", ns, "views", name)) if ns == db =>
          val isView = registryRows().exists(r => r._1 == name && r._2 == "view")
          ex.sendResponseHeaders(if (isView) 204 else 404, -1)
          ex.close()

        case ("POST", List("v1", "namespaces", ns, "views")) if ns == db =>
          createViewIceberg(ex)

        case ("DELETE", List("v1", "namespaces", ns, "views", name)) if ns == db =>
          withTable(ex, name) { case (_, kind, _, _) =>
            if (kind != "view") err(ex, 404, s"$name is not a view")
            else dropTable(ex, name)
          }

        // Iceberg REST multi-table transaction: every change's
        // requirements validated, then all tables committed
        // all-or-nothing (the route Trino uses for multi-table writes)
        case ("POST", List("v1", "transactions", "commit")) =>
          commitTransaction(ex)

        case ("GET", List("v1", "tables")) =>
          val rows = registryRows().map { case (n, kind, fmt, loc) =>
            jobj("name" -> jstr(n), "kind" -> jstr(kind),
              "format" -> jstr(fmt), "location" -> jstr(loc))
          }
          send(ex, 200, s"""{"registry_version":${SnapshotTable.currentVersion(spark, registryRoot)},"tables":[${rows.mkString(",")}]}""")

        case ("GET", List("v1", "tables", name)) =>
          describeTable(ex, name)

        case ("GET", List("v1", "tables", name, "stats")) =>
          withTable(ex, name) { case (_, _, _, loc) =>
            // a snapshot-table location must be counted through its
            // manifest (the CURRENT version's files), not a raw dir
            // listing that would double-count overwritten versions
            val t =
              if (loc.nonEmpty && SnapshotTable.currentVersion(spark, loc) > 0)
                SnapshotTable.read(spark, loc)
              else spark.table(s"$db.$name")
            send(ex, 200, jobj(
              "name" -> jstr(name),
              "row_count" -> t.count().toString,
              "n_cols" -> t.schema.size.toString))
          }

        case ("GET", List("v1", "tables", name, "pointer")) =>
          withTable(ex, name) { case (_, _, _, loc) =>
            if (loc.isEmpty) err(ex, 404, s"$name has no location (view)")
            else {
              val v = SnapshotTable.currentVersion(spark, loc)
              if (v == 0) err(ex, 404, s"$name is not a snapshot table (no _manifests under $loc)")
              else send(ex, 200, jobj(
                "name" -> jstr(name),
                "snapshot_version" -> v.toString,
                "manifest" -> jstr(s"$loc/_manifests/v$v.manifest")))
            }
          }

        case ("POST", List("v1", "tables")) =>
          val body = jsonBody(ex)
          val name = str(at(body, "name")).getOrElse(
            throw new IllegalArgumentException("missing field: name"))
          if (!name.matches("[A-Za-z_][A-Za-z0-9_]*"))
            throw new IllegalArgumentException(s"invalid table name: $name")
          val v = str(at(body, "view_sql")) match {
            case Some(sql) =>
              // CREATE VIEW: the body is the defining query; the
              // registry round-trips it via SHOW CREATE TABLE like
              // any other view
              ddlLock.synchronized {
                spark.sql(s"CREATE OR REPLACE VIEW $db.$name AS $sql")
                PersistentCatalog.save(spark, registryRoot, db)
              }
            case None =>
              val format = str(at(body, "format")).getOrElse("parquet")
              val location = str(at(body, "location")).getOrElse(
                throw new IllegalArgumentException(
                  "missing field: location (or view_sql for a view)"))
              ddlLock.synchronized {
                spark.sql(s"DROP TABLE IF EXISTS $db.$name")
                PersistentCatalog.registerTable(spark, s"$db.$name", format, location)
                PersistentCatalog.save(spark, registryRoot, db)
              }
          }
          send(ex, 201, jobj("registered" -> jstr(name),
            "registry_version" -> v.toString))

        case ("POST", List("v1", "tables", name, "maintain")) =>
          // the ops loop over the wire: Iceberg's maintenance
          // procedures (rewrite/expire/remove-orphans) as one REST
          // call against a catalog-registered snapshot table,
          // returning the Maintenance.Report a scheduler dashboards
          withTable(ex, name) { case (_, _, _, loc) =>
            if (loc.isEmpty || SnapshotTable.currentVersion(spark, loc) == 0)
              err(ex, 404, s"$name is not a snapshot table")
            else {
              val body = jsonBody(ex)
              def knob(k: String) = at(body, k)
              val d = graft.lake.Maintenance.Policy()
              // present-but-unparseable knobs are a client error, not
              // a silent fall-through to the default policy
              val badKnob = Seq("max_delete_ratio" -> double(knob("max_delete_ratio")).isEmpty,
                "small_bytes" -> long(knob("small_bytes")).isEmpty,
                "target_bytes" -> long(knob("target_bytes")).isEmpty,
                "min_delete_files" -> long(knob("min_delete_files")).isEmpty,
                "keep_versions" -> long(knob("keep_versions")).isEmpty,
                "orphan_grace_ms" -> long(knob("orphan_grace_ms")).isEmpty)
                .collectFirst { case (k, unparsed) if present(knob(k)) && unparsed => k }
              val badRatio = double(knob("max_delete_ratio"))
                .filter(r => r < 0 || r > 1)
              if (badKnob.isDefined)
                err(ex, 400, s"unparseable value for ${badKnob.get}")
              else if (badRatio.isDefined)
                err(ex, 400, s"max_delete_ratio must be in [0, 1], got ${badRatio.get}")
              else {
              val policy = graft.lake.Maintenance.Policy(
                maxDeleteRatio = double(knob("max_delete_ratio"))
                  .getOrElse(d.maxDeleteRatio),
                smallBytes = long(knob("small_bytes")).getOrElse(d.smallBytes),
                targetBytes = long(knob("target_bytes")).getOrElse(d.targetBytes),
                sortCols = str(knob("sort_cols")).toSeq
                  .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty),
                minDeleteFiles = long(knob("min_delete_files"))
                  .map(_.toInt).getOrElse(d.minDeleteFiles),
                keepVersions = long(knob("keep_versions"))
                  .map(_.toInt).getOrElse(d.keepVersions),
                orphanGraceMs = long(knob("orphan_grace_ms"))
                  .getOrElse(d.orphanGraceMs))
              // dry_run previews the destructive stages (expire /
              // orphan reclaim) without touching the table
              val dryRun = bool(knob("dry_run")).getOrElse(false)
              val r =
                if (dryRun) graft.lake.Maintenance.plan(spark, loc, policy)
                else graft.lake.Maintenance.run(spark, loc, policy)
              send(ex, 200, jobj(
                "name" -> jstr(name),
                "dry_run" -> dryRun.toString,
                "deletes_folded_version" ->
                  r.deletesFoldedVersion.map(_.toString).getOrElse("null"),
                "delete_files_consolidated_version" ->
                  r.deleteFilesConsolidatedVersion.map(_.toString).getOrElse("null"),
                "packed_version" -> r.packedVersion.map(_.toString).getOrElse("null"),
                "expired_versions" -> r.expiredVersions.mkString("[", ",", "]"),
                "expired_files_reclaimed" -> r.expiredFilesReclaimed.toString,
                "orphans_reclaimed" -> r.orphansReclaimed.toString,
                "final_version" -> r.finalVersion.toString))
              }
            }
          }

        case ("DELETE", List("v1", "tables", name)) =>
          dropTable(ex, name)

        case _ => err(ex, 404, s"$method $path")
      }
    }

    /** `?warehouse=<name>` on /v1/config: resolve the named warehouse
      * (Lakekeeper's mounting flow — Trino's iceberg.properties sets
      * `iceberg.rest-catalog.warehouse` and the catalog answers with
      * that warehouse's addressing; reference
      * etc/catalog/iceberg.properties:33). The response's
      * overrides.prefix is the path prefix clients then put between
      * /v1 and /namespaces.
      */
    private def configFor(ex: HttpExchange): Unit = {
      val q = Option(ex.getRequestURI.getQuery).getOrElse("")
      val wanted = q.split("&").collectFirst {
        case kv if kv.startsWith("warehouse=") =>
          java.net.URLDecoder.decode(kv.stripPrefix("warehouse="), "UTF-8")
      }
      // resolve (prefix override, database, registry) once, render once
      // — a config field added in only one branch would silently
      // diverge the warehouse-mounted and root responses
      val (prefixOpt, database, registry) = wanted match {
        case Some(w) =>
          whStore.flatMap(_.handlerFor(w)) match {
            case Some(h) => (Some(w), h.database, h.registry)
            case None => err(ex, 404, s"unknown warehouse: $w"); return
          }
        case None => (None, db, registryRoot)
      }
      send(ex, 200, jobj(
        "defaults" -> jobj("warehouse" -> jstr(registry)),
        "overrides" -> prefixOpt.fold(jobj())(w => jobj("prefix" -> jstr(w))),
        "catalog" -> jstr("graft"),
        "database" -> jstr(database),
        "registry" -> jstr(registry),
        "registry_version" ->
          SnapshotTable.currentVersion(spark, registry).toString))
    }

    private def withTable(ex: HttpExchange, name: String)(
        f: ((String, String, String, String)) => Unit): Unit =
      registryRows().find(_._1 == name) match {
        case Some(row) => f(row)
        case None => err(ex, 404, s"unknown table: $name")
      }

    private def describeTable(ex: HttpExchange, name: String): Unit =
      withTable(ex, name) { case (_, kind, fmt, loc) =>
        // columns through the real DESCRIBE surface of the restored
        // session catalog — the same spelling DESCRIBE gives any client
        val cols = spark.sql(s"DESCRIBE TABLE $db.$name").collect()
          .takeWhile(r => !r.getString(0).startsWith("#"))
          .filter(_.getString(0).nonEmpty)
          .map(r => jobj("name" -> jstr(r.getString(0)),
            "type" -> jstr(r.getString(1))))
        send(ex, 200, s"""{"name":${jstr(name)},"kind":${jstr(kind)},"format":${jstr(fmt)},"location":${jstr(loc)},"columns":[${cols.mkString(",")}]}""")
      }

    /** Iceberg REST `LoadTableResult` for a snapshot table: the
      * documented field names (`metadata-location`, `metadata` with
      * `format-version`/`table-uuid`/`location`/`current-snapshot-id`/
      * `schemas`/`snapshots`, a `config` map) carrying graft's actual
      * metadata, with `metadata-location` pointing at a materialized
      * Iceberg-format metadata.json whose snapshots reference REAL
      * Iceberg v2 Avro manifest-lists + manifests
      * ([[graft.lake.IcebergInterop]]) — an external engine can walk
      * metadata.json → Avro manifest-list → Avro manifests to the
      * parquet files and scan zero-copy (lake_export_iceberg gates
      * exactly that walk, deletes included). Remaining deltas (see
      * README): unpartitioned exported spec, no parquet field-ids in
      * data files. Commits ride [[commitTable]]; OAuth rides
      * `/v1/oauth/tokens` when the server is secured.
      */
    private def loadTableResult(ex: HttpExchange, name: String): Unit =
      withTable(ex, name) { case (_, _, _, loc) =>
        val v = if (loc.isEmpty) 0 else SnapshotTable.currentVersion(spark, loc)
        if (v == 0) err(ex, 404, s"$name is not a snapshot table")
        else {
          val (metaLocation, metadata) = icebergMetadata(name, loc, v)
          // sts-enabled warehouses vend a fresh scoped credential with
          // every load (Lakekeeper's vended-credentials-enabled flow)
          val (cfg, credsField) = stsCredential match {
            case Some(_) =>
              val (c, sc) = vendFor(name, loc)
              (c, s""","storage-credentials":$sc""")
            case None => ("{}", "")
          }
          send(ex, 200,
            s"""{"metadata-location":${jstr(metaLocation)},"metadata":$metadata,"config":$cfg$credsField}""")
        }
      }

    /** Iceberg REST loadCredentials: re-vend (refresh) the scoped
      * storage credential for one table. Callable only with the full
      * catalog bearer — a vended token cannot refresh itself, so a
      * lease's lifetime is bounded by its TTL unless the holder also
      * holds catalog credentials (r18 ADVICE).
      */
    private def loadCredentials(ex: HttpExchange, name: String): Unit =
      withTable(ex, name) { case (_, _, _, loc) =>
        stsCredential match {
          case None => err(ex, 404,
            "credential vending is not enabled for this catalog " +
              "(provision the warehouse with sts-enabled + a storage-credential)")
          case Some(_) =>
            val (_, sc) = vendFor(name, loc)
            send(ex, 200, s"""{"storage-credentials":$sc}""")
        }
      }

    /** A stable table uuid derived from the location ([[IcebergInterop
      * .tableUuid]]): the registry has no separate identity store, and
      * clients only require uniqueness + stability across loads.
      */
    private def tableUuid(loc: String): String =
      graft.lake.IcebergInterop.tableUuid(loc)

    /** The defining SQL of view `name` in this handler's database,
      * from the session catalog's stored view text (the exact query
      * CREATE VIEW ran — SHOW CREATE TABLE re-renders it, the metadata
      * stores it verbatim).
      */
    private def viewText(name: String): Option[String] =
      scala.util.Try(spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(name, Some(db))))
        .toOption.flatMap(_.viewText)

    /** Iceberg REST `LoadViewResult` for a registry view: view-uuid,
      * one SQL representation (dialect `spark`), the view's output
      * schema as Iceberg struct fields, and a materialized
      * metadata-location under `<registry>_views/` an external reader
      * can fetch without this server. Documented delta: graft views
      * are single-version (CREATE OR REPLACE restates; there is no
      * retained version history), so `versions` always carries exactly
      * the current one.
      */
    private def loadViewResult(ex: HttpExchange, name: String): Unit =
      withTable(ex, name) { case (_, kind, _, _) =>
        if (kind != "view") { err(ex, 404, s"$name is not a view"); return }
        val sql = viewText(name).getOrElse {
          err(ex, 500, s"view $name has no stored definition"); return
        }
        val fields = spark.table(s"$db.$name").schema.zipWithIndex.map {
          case (f, i) =>
            s"""{"id":${i + 1},"name":${jstr(f.name)},"required":false,""" +
              s""""type":${jstr(graft.lake.IcebergInterop.icebergType(
                f.dataType.simpleString))}}"""
        }
        val uuid = tableUuid(s"$registryRoot/_views/$name")
        // materialize so an external reader can walk to the definition
        // by path, like table metadata.json (the sql hash keys the
        // file: a REPLACEd view serves a fresh location, an unchanged
        // one re-serves the same IMMUTABLE file — the response body is
        // always the file's exact bytes, so metadata-location and the
        // inline metadata can never drift apart across loads)
        // the definition hash covers the OUTPUT SCHEMA too: a base
        // table evolving under an unchanged view sql must mint a fresh
        // metadata file, not re-serve the pre-evolution schema
        // cryptographic digest, NOT String.hashCode: the file is
        // treated as content-exact and never revalidated, so a 32-bit
        // collision between two versions of one view would re-serve
        // the stale pre-REPLACE definition forever (r19 ADVICE)
        val defDigest = java.security.MessageDigest.getInstance("SHA-256")
          .digest((sql + fields.mkString).getBytes(UTF_8))
          .map("%02x".format(_)).mkString
        val metaPath = new Path(s"${registryRoot}_views/$name",
          s"v1-$defDigest.metadata.json")
        val mfs = metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val metadata =
          if (mfs.exists(metaPath)) {
            val in = mfs.open(metaPath)
            try new String(in.readAllBytes(), UTF_8) finally in.close()
          } else {
            val ts = System.currentTimeMillis()
            val rendered =
              s"""{"view-uuid":${jstr(uuid)},"format-version":1,""" +
                s""""location":${jstr(s"${registryRoot}_views/$name")},""" +
                s""""current-version-id":1,"versions":[{"version-id":1,""" +
                s""""schema-id":0,"timestamp-ms":$ts,"summary":{},""" +
                s""""default-namespace":[${jstr(db)}],""" +
                s""""representations":[{"type":"sql","sql":${jstr(sql)},""" +
                s""""dialect":"spark"}]}],""" +
                s""""version-log":[{"version-id":1,"timestamp-ms":$ts}],""" +
                s""""schemas":[{"schema-id":0,"type":"struct",""" +
                s""""fields":[${fields.mkString(",")}]}],"properties":{}}"""
            val out = mfs.create(metaPath, true)
            try out.write(rendered.getBytes(UTF_8)) finally out.close()
            // retention (the r19 mount-retention pattern): REPLACE /
            // base-schema churn mints a fresh immutable file per
            // definition and nothing else would ever evict the old
            // ones — a metadata leak per long-lived churning view
            // (r19 VERDICT #2). Keep the newest `viewMetaRetain`
            // (never the file just written); an in-flight reader of an
            // evicted location re-loads and gets the current one, the
            // same contract as any metadata cache expiry.
            val dir = metaPath.getParent
            mfs.listStatus(dir)
              .filter(st => st.getPath.getName.endsWith(".metadata.json") &&
                st.getPath.getName != metaPath.getName)
              .sortBy(-_.getModificationTime)
              .drop(viewMetaRetain - 1)
              .foreach { st => mfs.delete(st.getPath, false); () }
            rendered
          }
        send(ex, 200,
          s"""{"metadata-location":${jstr(metaPath.toString)},"metadata":$metadata}""")
      }

    /** Iceberg REST `createView` (CreateViewRequest → POST
      * /v1/namespaces/{ns}/views): the body carries `name` and a
      * `view-version` whose `representations` include a
      * dialect-`spark` (or sole) SQL entry; the catalog runs the
      * engine DDL and registers durably, so the view appears in every
      * listing and loads back over [[loadViewResult]]. An existing
      * view or table of the name 409s (AlreadyExists).
      */
    private def createViewIceberg(ex: HttpExchange): Unit = {
      val body = jsonBody(ex)
      val name = str(at(body, "name")).getOrElse {
        err(ex, 400, "missing field: name"); return
      }
      if (!name.matches("[A-Za-z_][A-Za-z0-9_]*")) {
        err(ex, 400, s"invalid view name: $name"); return
      }
      // the spark-dialect representation, or the only one present
      val sql = arr(at(body, "view-version", "representations"))
        .find(r => str(at(r, "dialect")).forall(d => d == "spark" || d == "default"))
        .flatMap(r => str(at(r, "sql")))
        .getOrElse {
          err(ex, 400, "view-version.representations needs a sql entry " +
            "(dialect spark)"); return
        }
      ddlLock.synchronized {
        if (spark.catalog.tableExists(s"$db.$name")) {
          err(ex, 409, s"view or table $name already exists"); return
        }
        // a definition that doesn't analyze (unknown table, bad SQL)
        // is the CLIENT's error, not a server fault
        try spark.sql(s"CREATE VIEW $db.$name AS $sql")
        catch {
          // ParseException IS an AnalysisException in Spark 4 — it
          // must match first or its arm is dead code
          case e: org.apache.spark.sql.catalyst.parser.ParseException =>
            err(ex, 400, s"view definition does not parse: ${e.getMessage}")
            return
          case e: org.apache.spark.sql.AnalysisException =>
            err(ex, 400, s"view definition does not analyze: ${e.getMessage}")
            return
        }
        PersistentCatalog.save(spark, registryRoot, db)
      }
      loadViewResult(ex, name)
    }

    /** Render Iceberg v2 table metadata for version `v`, materialized
      * as an immutable per-version file under `_iceberg/` together
      * with its REAL Avro manifest-list + manifest chain
      * ([[graft.lake.IcebergInterop.writeMetadata]]) — an external
      * Iceberg engine can walk metadata.json → Avro manifest list →
      * Avro manifests to the parquet files with no graft code. Schema
      * comes from the ENGINE's read at this version (the session-
      * catalog registration freezes its inferred schema at register
      * time, so DESCRIBE would serve pre-evolution fields after a
      * wire add-schema commit); field ids are the persistent
      * [[SnapshotTable.fieldIds]] assignment.
      */
    private def icebergMetadata(name: String, loc: String, v: Int): (String, String) =
      graft.lake.IcebergInterop.writeMetadata(spark, loc, v)

    /** The `add-schema` update action: wire-driven schema evolution.
      * The action carries the FULL target schema; the handler diffs it
      * against the table's current logical schema and maps the changes
      * onto the engine's metadata-only commits — new fields →
      * [[SnapshotTable.addColumn]] (typed NULLs until appends carry
      * them), Iceberg's allowed primitive promotions (int → long,
      * float → double, decimal precision growth at equal scale) →
      * [[SnapshotTable.widenColumn]], and a field whose wire `id`
      * matches an existing PERSISTENT field id
      * ([[SnapshotTable.fieldIds]]) under a NEW name →
      * [[SnapshotTable.renameColumn]] — the Iceberg spec's rename
      * encoding (same field-id, new name), which loadTable's exported
      * schemas advertise so a client can echo ids back. A current
      * field absent from the target (by name AND id) is a DROP —
      * [[SnapshotTable.dropColumn]]: old versions keep reading it
      * (per-snapshot schema binding; the export serves per-snapshot
      * schema-ids), the field id is tombstoned; drops the engine
      * refuses (partition source, stats/bloom column, eq-delete key)
      * 400 the whole request before any commit. Rename SWAPS/chains
      * inside one request are refused (400) rather than half-applied. Each
      * change is its own metadata-only commit, but every change is
      * validated before ANY commit; the response carries the final
      * version's metadata. A schema identical to the current one is an
      * idempotent 200 no-op.
      */
    private def commitSchema(ex: HttpExchange, name: String, loc: String,
        upds: Seq[(String, JValue)], reqs: Seq[Requirement]): Unit = {
      val schema = upds.collect { case ("add-schema", u) => at(u, "schema") } match {
        case Seq(one) => one
        case _ => err(ex, 400, "exactly one add-schema action per request"); return
      }
      val want = icebergFields(schema) match {
        case Right(cs) => cs
        case Left(msg) => err(ex, 400, msg); return
      }
      def widens(from: String, to: String): Boolean =
        SnapshotTable.isWidening(from, to)
      uuidAssertionFailure(loc, reqs).foreach { msg =>
        err(ex, 409, msg); return
      }
      ddlLock.synchronized {
        val cur = SnapshotTable.currentVersion(spark, loc)
        refAssertionFailure(loc, cur, reqs).foreach { msg =>
          err(ex, 409, msg); return
        }
        val have = SnapshotTable.read(spark, loc).schema
          .map(f => f.name -> f.dataType.simpleString)
        val haveMap = have.toMap
        val idOf = SnapshotTable.fieldIds(spark, loc, cur) // name -> id
        val nameOfId = idOf.map(_.swap)
        val wantNames = want.map(_._2).toSet
        val wantIds = want.flatMap(_._1).toSet
        // a current field survives if its NAME or its persistent ID
        // appears in the target schema; anything else is a DROP —
        // supported since per-snapshot schema binding landed (old
        // versions keep reading the column; the id is tombstoned).
        // Validated HERE, before any commit: a refusable drop (the
        // partition source, a stats/bloom column, an eq-delete key)
        // 400s the whole request rather than half-applying it.
        val removed = have.map(_._1)
          .filterNot(n => wantNames.contains(n) || wantIds.contains(idOf(n)))
        removed.foreach { n =>
          SnapshotTable.dropRefusal(spark, loc, n).foreach { reason =>
            err(ex, 400, reason); return
          }
        }
        // validate EVERY change before applying ANY — a rejected
        // promotion must not leave earlier renames/adds half-committed
        sealed trait Change
        case class Add(n: String, t: String) extends Change
        case class Widen(n: String, t: String) extends Change
        case class Rename(from: String, to: String) extends Change
        // the target schema is a column LIST: duplicate names or
        // duplicate field-ids make it ambiguous — 400 before any
        // per-entry resolution can half-apply one of the twins
        val dupNames = want.groupBy(_._2).collect { case (n, es) if es.size > 1 => n }
        if (dupNames.nonEmpty) {
          err(ex, 400, s"duplicate field names in target schema: ${
            dupNames.toSeq.sorted.mkString(", ")}")
          return
        }
        val dupIds = want.flatMap(_._1).groupBy(identity)
          .collect { case (id, es) if es.size > 1 => id }
        if (dupIds.nonEmpty) {
          err(ex, 400, s"duplicate field ids in target schema: ${
            dupIds.toSeq.sorted.mkString(", ")}")
          return
        }
        // names CLAIMED by an id-matched entry refer to that existing
        // column even when the entry renames it; a no-id entry whose
        // name matches a claimed-and-renamed column is therefore a
        // fresh ADD (Iceberg's rename-a-to-b-plus-new-a shape), not a
        // reference to the departing column — resolving it against
        // the frozen pre-request schema would silently no-op the add
        // or widen a column the rename is about to take away
        val claimed: Set[String] =
          want.flatMap(_._1).flatMap(nameOfId.get).toSet
        val changes = want.flatMap { case (idOpt, n, t) =>
          idOpt.flatMap(nameOfId.get) match {
            case Some(oldName) => // field identified by persistent id
              val curT = haveMap(oldName)
              val rename =
                if (oldName == n) Seq.empty
                else Seq(Rename(oldName, n))
              val widen =
                if (curT == t) Seq.empty
                else if (widens(curT, t)) Seq(Widen(n, t))
                else {
                  err(ex, 400,
                    s"type change $n: $curT -> $t is not a supported promotion")
                  return
                }
              rename ++ widen
            case None =>
              haveMap.get(n).filterNot(_ => claimed.contains(n)) match {
                case None => Seq(Add(n, t))
                case Some(curT) if curT == t => Seq.empty
                case Some(curT) if widens(curT, t) => Seq(Widen(n, t))
                case Some(curT) =>
                  err(ex, 400,
                    s"type change $n: $curT -> $t is not a supported promotion")
                  return
              }
          }
        }
        // simulate the rename/add sequence against the current logical
        // AND physical names: a rename target that collides with a
        // surviving column (a swap/chain), or an add that collides
        // with an in-use physical name, must 400 here — not throw
        // mid-apply and half-commit
        val renames = changes.collect { case r: Rename => r }
        var names = haveMap.keySet
        renames.foreach { r =>
          // strict execution-order simulation: the target must be free
          // AT THE MOMENT this rename runs, or the engine would carry
          // two logical columns with one name mid-sequence. A chain
          // ordered free-target-first (b->c before x->b) passes;
          // swaps and badly-ordered chains 400 — split the request.
          if (names.contains(r.to)) {
            err(ex, 400, s"rename ${r.from} -> ${r.to}: target name is " +
              "still in use at this point in the request (rename swaps " +
              "are not supported in one request — split them)")
            return
          }
          names = names - r.from + r.to
        }
        val mapping = SnapshotTable.columnMapping(spark, loc, cur)
        val physInUse = haveMap.keySet.map(c => mapping.getOrElse(c, c))
        changes.collect { case a: Add => a }.foreach { a =>
          if (physInUse.contains(a.n)) {
            err(ex, 400, s"ADD COLUMN ${a.n}: collides with the physical " +
              "(in-file) name of a renamed column")
            return
          }
        }
        var nv = cur
        // renames first (ids pin identity), then widens (under the new
        // names), then adds, then drops (a dropped field is absent
        // from the target schema, so it can't participate in the
        // earlier changes — its pre-request name is still valid here)
        changes.sortBy {
          case _: Rename => 0
          case _: Widen => 1
          case _: Add => 2
        }.foreach {
          case Rename(from, to) => nv = SnapshotTable.renameColumn(spark, loc, from, to)
          case Widen(n, t) => nv = SnapshotTable.widenColumn(spark, loc, n, t)
          case Add(n, t) => nv = SnapshotTable.addColumn(spark, loc, n, t)
        }
        removed.foreach(n => nv = SnapshotTable.dropColumn(spark, loc, n))
        if (nv != cur) {
          // refresh the session-catalog registration: it froze its
          // inferred schema at register time, so spark.table/DESCRIBE
          // on the registered name would serve (or refuse) the stale
          // pre-evolution schema
          spark.sql(s"DROP TABLE IF EXISTS $db.$name")
          PersistentCatalog.registerTable(spark, s"$db.$name", "graft-snapshot", loc)
          PersistentCatalog.save(spark, registryRoot, db)
        }
        val (metaLocation, metadata) = icebergMetadata(name, loc, nv)
        send(ex, 200,
          s"""{"metadata-location":${jstr(metaLocation)},"metadata":$metadata}""")
      }
    }

    /** `set-properties` / `remove-properties` update actions
      * (Iceberg's UpdateProperties): one metadata-only engine commit
      * applying removals then updates; later reads and time travel see
      * the properties as of each version, and loadTable surfaces them
      * under metadata.properties.
      */
    private def commitProps(ex: HttpExchange, name: String, loc: String,
        upds: Seq[(String, JValue)], reqs: Seq[Requirement]): Unit = {
      // every set-properties action's `updates` object (string values)
      // and every remove-properties action's `removals` array
      val updates = upds.collect { case ("set-properties", u) => at(u, "updates") }
        .flatMap {
          case JObject(kvs) => kvs.map { case (k, v) =>
            k -> str(v).getOrElse(throw new IllegalArgumentException(
              s"set-properties value of $k must be a string"))
          }
          case JNothing => Nil
          case _ => throw new IllegalArgumentException(
            "set-properties updates must be an object")
        }.toMap
      val removals = upds.collect { case ("remove-properties", u) =>
        strs(at(u, "removals"), "remove-properties removals")
      }.flatten
      if (updates.isEmpty && removals.isEmpty) {
        err(ex, 400, "set-properties needs a non-empty updates object " +
          "(or remove-properties a removals array)"); return
      }
      uuidAssertionFailure(loc, reqs).foreach { msg =>
        err(ex, 409, msg); return
      }
      ddlLock.synchronized {
        val cur = SnapshotTable.currentVersion(spark, loc)
        refAssertionFailure(loc, cur, reqs).foreach { msg =>
          err(ex, 409, msg); return
        }
        val nv = SnapshotTable.setProperties(spark, loc, updates, removals)
        val (metaLocation, metadata) = icebergMetadata(name, loc, nv)
        send(ex, 200,
          s"""{"metadata-location":${jstr(metaLocation)},"metadata":$metadata}""")
      }
    }

    /** Standalone `set-snapshot-ref` / `remove-snapshot-ref` update
      * actions: WIRE-side tag/branch management — the write half of
      * the ref surface loadTable already serves (`refs` +
      * `snapshot-log` in the exported metadata.json). The reference's
      * catalog (Lakekeeper) accepts exactly these actions from any
      * mounted engine (Trino creates tags/branches through it;
      * /root/reference/etc/catalog/iceberg.properties mounts the REST
      * catalog that brokers them). Semantics on graft's refs:
      *
      *  - `set-snapshot-ref` type=tag creates an immutable tag;
      *    re-setting to the SAME snapshot is an idempotent 200,
      *    re-setting to a DIFFERENT one 409s (graft tags are
      *    immutable — documented delta: move = remove + set).
      *  - `set-snapshot-ref` type=branch creates a branch at the
      *    snapshot or MOVES an existing branch ref there (staged
      *    branch-local commits orphan, like dropBranch).
      *  - `ref-name` "main" is the table head: setting it to the
      *    current snapshot is an idempotent 200, anything else 400s
      *    (rollback is an engine operation, not a ref overwrite).
      *  - `remove-snapshot-ref` drops the named tag/branch; 404 when
      *    no such ref, 400 on "main".
      *
      * `assert-ref-snapshot-id` here resolves the REQUIREMENT's named
      * ref (not just main): a stale replay — asserting a ref position
      * that moved, or asserting absence of a ref that now exists —
      * 409s, Iceberg's CommitFailedException over the wire. One ref
      * action per request (documented delta, same separation as
      * schema/property commits). The 200 response carries metadata
      * whose `refs` include the change (writeMetadata regenerates on
      * refs drift), so a second client resolves `FOR VERSION AS OF
      * <tag>` from the exported JSON alone.
      */
    private def commitRefs(ex: HttpExchange, name: String, loc: String,
        upds: Seq[(String, JValue)], reqs: Seq[Requirement]): Unit = {
      val (refAction, upd) = upds.filter { case (a, _) =>
        a == "set-snapshot-ref" || a == "remove-snapshot-ref"
      } match {
        case Seq(one) => one
        case _ =>
          err(ex, 400, "exactly one set/remove-snapshot-ref action per " +
            "request (documented delta)"); return
      }
      val rname = str(at(upd, "ref-name")).getOrElse {
        err(ex, 400, s"$refAction needs a ref-name"); return
      }
      uuidAssertionFailure(loc, reqs).foreach { msg =>
        err(ex, 409, msg); return
      }
      ddlLock.synchronized {
        val cur = SnapshotTable.currentVersion(spark, loc)
        // EVERY assertion must hold, each read from its own object
        refAssertionFailure(loc, cur, reqs).foreach { msg =>
          err(ex, 409, msg); return
        }
        val isRemove = refAction == "remove-snapshot-ref"
        if (rname == "main") {
          val sid = long(at(upd, "snapshot-id"))
          if (!isRemove && sid.contains(cur.toLong)) {
            // idempotent: main already IS the head
          } else {
            err(ex, 400, "ref main is the table head: it cannot be removed " +
              "or moved over the wire (use engine rollback)"); return
          }
        } else if (isRemove) {
          val isTag = SnapshotTable.tags(spark, loc).contains(rname)
          val isBranch = !isTag && SnapshotTable.branches(spark, loc).contains(rname)
          if (isTag) SnapshotTable.dropTag(spark, loc, rname)
          else if (isBranch) SnapshotTable.dropBranch(spark, loc, rname)
          else { err(ex, 404, s"no ref $rname on $name"); return }
        } else {
          val rtype = str(at(upd, "type")).getOrElse("")
          if (rtype != "tag" && rtype != "branch") {
            err(ex, 400, s"set-snapshot-ref type must be tag|branch, got '$rtype'")
            return
          }
          val sid = long(at(upd, "snapshot-id")).getOrElse {
            err(ex, 400, "set-snapshot-ref needs a snapshot-id"); return
          }
          if (sid < 1 || sid > cur) {
            err(ex, 400, s"snapshot-id $sid is not a live snapshot of $name " +
              s"(current: $cur)"); return
          }
          val v = sid.toInt
          if (rtype == "tag") {
            SnapshotTable.tags(spark, loc).get(rname) match {
              case Some(at) if at == v => // idempotent re-set
              case Some(at) =>
                err(ex, 409, s"tag $rname already points at snapshot $at " +
                  "(graft tags are immutable: remove-snapshot-ref first)")
                return
              case None =>
                if (SnapshotTable.branches(spark, loc).contains(rname)) {
                  err(ex, 409, s"ref $rname already exists as a branch"); return
                }
                // a CROSS-PROCESS writer can land the tag between the
                // read above and this create (create-no-overwrite is
                // the CAS); surface the loss as the wire's 409
                try SnapshotTable.tag(spark, loc, rname, v)
                catch {
                  case e: IllegalStateException =>
                    err(ex, 409, e.getMessage); return
                }
            }
          } else {
            if (SnapshotTable.tags(spark, loc).contains(rname)) {
              err(ex, 409, s"ref $rname already exists as a tag"); return
            }
            if (SnapshotTable.branches(spark, loc).contains(rname))
              SnapshotTable.moveBranch(spark, loc, rname, v)
            else
              // same cross-process window as tags: a racing creator
              // past the contains() check loses as a wire 409
              try SnapshotTable.createBranch(spark, loc, rname, v)
              catch {
                case e: IllegalStateException =>
                  err(ex, 409, e.getMessage); return
              }
          }
        }
        val (metaLocation, metadata) = icebergMetadata(name, loc, cur)
        send(ex, 200,
          s"""{"metadata-location":${jstr(metaLocation)},"metadata":$metadata}""")
      }
    }

    private def dropTable(ex: HttpExchange, name: String): Unit =
      withTable(ex, name) { case (_, kind, _, _) =>
        val v = ddlLock.synchronized {
          if (kind == "view") {
            spark.sql(s"DROP VIEW IF EXISTS $db.$name")
            // reclaim the view's materialized wire-metadata files —
            // without this, ${registryRoot}_views/<name>/ outlives the
            // view forever (r19 VERDICT #2); a re-created same-name
            // view mints a fresh file on its next load
            val vdir = new Path(s"${registryRoot}_views/$name")
            val vfs = vdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
            if (vfs.exists(vdir)) { vfs.delete(vdir, true); () }
          }
          else spark.sql(s"DROP TABLE IF EXISTS $db.$name")
          PersistentCatalog.save(spark, registryRoot, db)
        }
        send(ex, 200, jobj("dropped" -> jstr(name),
          "registry_version" -> v.toString))
      }

    /** Iceberg REST `createTable` (CreateTableRequest → POST
      * /v1/namespaces/{ns}/tables): the catalog-assigns-everything
      * spelling an external engine's CREATE TABLE uses. The body
      * carries `name` and an Iceberg `schema` (struct fields with
      * string primitive types); `location` is optional — absent, the
      * catalog assigns `<registry>/_warehouse/<name>` (Lakekeeper's
      * managed-location behavior). The table is created EMPTY as
      * snapshot v1 and registered durably; the response is the same
      * LoadTableResult `loadTable` serves, so create → commit → load
      * is one client loop. Documented deltas (README): primitive field
      * types only (nested/parameterized types other than decimal →
      * 400), `stage-create` transactions unsupported.
      */
    /** Iceberg primitive type → Spark DDL type; None for complex /
      * unsupported types (the documented primitive-only delta).
      */
    private def sparkType(t: String): Option[String] = t match {
      case "long" => Some("bigint")
      case "int" => Some("int")
      case "string" => Some("string")
      case "double" => Some("double")
      case "float" => Some("float")
      case "boolean" => Some("boolean")
      case "date" => Some("date")
      case "timestamptz" => Some("timestamp")
      case "timestamp" => Some("timestamp_ntz")
      case "binary" => Some("binary")
      case d if d.matches("decimal\\(\\s*\\d+\\s*,\\s*\\d+\\s*\\)") => Some(d)
      case _ => None
    }

    /** The (field id, name, spark DDL type) list of an Iceberg
      * `schema` object's `fields` (a CreateTableRequest's schema or an
      * add-schema update action's), or a client-error message. The
      * optional per-field `id` is the Iceberg schema's field-id — the
      * channel that lets add-schema express RENAME (same id, new name).
      */
    private def icebergFields(schema: JValue): Either[String, Seq[(Option[Int], String, String)]] = {
      val fields = at(schema, "fields") match {
        case JArray(xs) => xs
        case _ => return Left("missing schema.fields")
      }
      if (fields.isEmpty) return Left("schema.fields is empty")
      Right(fields.map { o =>
        val fn = str(at(o, "name")).getOrElse {
          return Left(s"schema field without a name: ${compact(o)}")
        }
        if (!fn.matches("[A-Za-z_][A-Za-z0-9_]*"))
          return Left(s"invalid column name: $fn")
        val ft = str(at(o, "type")).flatMap(sparkType).getOrElse {
          return Left(s"unsupported field type in ${compact(o)} (primitive " +
            "Iceberg types only — documented delta)")
        }
        (optLong(at(o, "id"), s"field id of $fn").map(_.toInt), fn, ft)
      })
    }

    private def createTableIceberg(ex: HttpExchange): Unit = {
      val body = jsonBody(ex)
      val name = str(at(body, "name")).getOrElse {
        err(ex, 400, "missing field: name"); return
      }
      if (!name.matches("[A-Za-z_][A-Za-z0-9_]*")) {
        err(ex, 400, s"invalid table name: $name"); return
      }
      if (bool(at(body, "stage-create")).contains(true)) {
        err(ex, 400, "stage-create transactions are not supported"); return
      }
      val cols = icebergFields(at(body, "schema")) match {
        case Right(cs) => cs
        case Left(msg) => err(ex, 400, msg); return
      }
      val loc = str(at(body, "location")).map(_.stripSuffix("/"))
        .getOrElse(s"$registryRoot/_warehouse/$name")
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        cols.map { case (_, n, t) => s"$n $t" }.mkString(", "))
      ddlLock.synchronized {
        // existence checks INSIDE the DDL lock: two concurrent creates
        // for the same name/location must not both pass and commit
        if (spark.catalog.tableExists(s"$db.$name")) {
          // AlreadyExistsError in the Iceberg REST spec
          err(ex, 409, s"table $name already exists"); return
        }
        if (SnapshotTable.currentVersion(spark, loc) > 0) {
          err(ex, 409, s"location $loc already holds a snapshot table"); return
        }
        // v1 = an empty commit carrying the schema: loadTable/DESCRIBE
        // and the first wire commit (updateTable) both see a real table
        SnapshotTable.commit(spark, loc,
          spark.createDataFrame(java.util.Collections.emptyList[
            org.apache.spark.sql.Row](), schema).coalesce(1))
        PersistentCatalog.registerTable(spark, s"$db.$name", "graft-snapshot", loc)
        PersistentCatalog.save(spark, registryRoot, db)
      }
      val (metaLocation, metadata) = icebergMetadata(name, loc, 1)
      send(ex, 200,
        s"""{"metadata-location":${jstr(metaLocation)},"metadata":$metadata,"config":{}}""")
    }

    /** Iceberg REST `updateTable` (CommitTableRequest → POST
      * /v1/namespaces/{ns}/tables/{name}): the route an EXTERNAL
      * engine uses to commit against the catalog. Supported
      * requirements: `assert-ref-snapshot-id` (checked against the
      * table's current version — the `main` ref) and
      * `assert-table-uuid`; a failed requirement is a 409, Iceberg's
      * CommitFailedException over the wire. Supported update actions:
      * `add-snapshot` + optional `set-snapshot-ref` rider (graft's
      * main ref always tracks the latest commit). Documented protocol
      * delta (README): the snapshot carries its data files INLINE as
      * `added-data-files` (paths to parquet the client already staged)
      * instead of pointing at a client-written Avro manifest list —
      * the engine stamps row counts from the footers and commits
      * zero-copy through [[SnapshotTable.commitFiles]] (the Iceberg
      * `add_files` path), so REST writers and engine writers share the
      * same CAS-guarded manifest chain. Row-level deletes ride the
      * same shape: `added-delete-files` ([[parseDeleteFiles]]) lands
      * positional and equality delete files with upsertEq's sequence
      * stamping through [[SnapshotTable.commitFilesWithDeletes]], so
      * an external CDC writer commits (delete k, insert k) batches
      * entirely over HTTP.
      */
    private def commitTable(ex: HttpExchange, name: String): Unit =
      withTable(ex, name) { case (_, _, _, loc) =>
        val v0 = if (loc.isEmpty) 0 else SnapshotTable.currentVersion(spark, loc)
        if (v0 == 0) { err(ex, 404, s"$name is not a snapshot table"); return }
        val body = jsonBody(ex)
        val reqs = requirements(body)
        val upds = updates(body)
        val actions = upds.map(_._1)
        val allowedActs =
          Set("add-snapshot", "set-snapshot-ref", "remove-snapshot-ref",
            "add-schema", "set-current-schema",
            "set-properties", "remove-properties")
        val badAct = actions.find(!allowedActs.contains(_))
        if (badAct.isDefined) {
          err(ex, 400, s"unsupported update action: ${badAct.get}"); return
        }
        val hasSnap = actions.contains("add-snapshot")
        val hasSchema = actions.contains("add-schema")
        val hasProps = actions.contains("set-properties") ||
          actions.contains("remove-properties")
        // set-snapshot-ref WITH add-snapshot is the standard rider
        // (graft's main always tracks the latest commit); STANDALONE
        // ref actions are wire-side tag/branch management.
        // remove-snapshot-ref is a ref action UNCONDITIONALLY: riding
        // it with add-snapshot would pass the allowed-actions gate and
        // then be silently ignored by the snapshot path — a 200 whose
        // ref still exists (r17 review finding); the category check
        // below turns that mix into the documented 400.
        val hasRef = actions.contains("remove-snapshot-ref") ||
          (!hasSnap && actions.contains("set-snapshot-ref"))
        if (Seq(hasSnap, hasSchema, hasProps, hasRef).count(identity) > 1) {
          err(ex, 400, "snapshot, schema, property, and ref updates must be " +
            "separate commits (documented delta)"); return
        }
        if (!hasSnap && !hasSchema && !hasProps && !hasRef) {
          err(ex, 400, "updates must include an add-snapshot, add-schema, " +
            "set/remove-snapshot-ref, or set/remove-properties action")
          return
        }
        if (hasSchema) { commitSchema(ex, name, loc, upds, reqs); return }
        if (hasProps) { commitProps(ex, name, loc, upds, reqs); return }
        if (hasRef) { commitRefs(ex, name, loc, upds, reqs); return }
        val snaps = snapshots(upds)
        val files = snaps.flatMap(sn => strs(at(sn, "added-data-files"), "added-data-files"))
        val (posDels, eqDels) = parseDeleteFiles(snaps) match {
          case Left(m) => err(ex, 400, m); return
          case Right(parsed) => parsed
        }
        if (files.isEmpty && posDels.isEmpty && eqDels.isEmpty) {
          err(ex, 400, "add-snapshot must carry a non-empty added-data-files " +
            "or added-delete-files array (this catalog's documented commit " +
            "shape — see README)"); return
        }
        val hconf = spark.sparkContext.hadoopConfiguration
        (files ++ posDels ++ eqDels.map(_._1)).find { f =>
          val p = new org.apache.hadoop.fs.Path(f)
          !p.getFileSystem(hconf).exists(p)
        } match {
          case Some(missing) =>
            err(ex, 400, s"added file does not exist: $missing"); return
          case None =>
        }
        uuidAssertionFailure(loc, reqs).foreach { msg =>
          err(ex, 409, msg); return
        }
        // the commit itself: serialized with DDL so a registry restore
        // never sees a half-applied step; engine-side writers racing
        // this route lose or win the SAME manifest CAS (commitFiles
        // publishes through writeManifestAtomic)
        ddlLock.synchronized {
          val cur = SnapshotTable.currentVersion(spark, loc)
          refAssertionFailure(loc, cur, reqs).foreach { msg =>
            err(ex, 409, msg); return
          }
          // staged files are validated against the table's schema AS
          // OF THIS COMMIT (under the lock): a schema commit landing
          // between the client's write planning and this commit must
          // surface as a 409 — the schema analog of the snapshot CAS —
          // never land files in an outdated shape (r18 ADVICE)
          stagedSchemaConflict(loc, files).foreach { msg =>
            err(ex, 409, msg); return
          }
          deleteSchemaConflict(loc, posDels, eqDels).foreach {
            case (status, msg) => err(ex, status, msg); return
          }
          val nv =
            try {
              if (posDels.isEmpty && eqDels.isEmpty)
                SnapshotTable.commitFiles(spark, loc, files, append = true)
              else
                SnapshotTable.commitFilesWithDeletes(spark, loc, files,
                  posDels, eqDels)
            } catch {
              case e: IllegalStateException =>
                err(ex, 409, s"commit lost the version CAS: ${e.getMessage}"); return
            }
          val (metaLocation, metadata) = icebergMetadata(name, loc, nv)
          send(ex, 200,
            s"""{"metadata-location":${jstr(metaLocation)},"metadata":$metadata}""")
        }
      }

    /** Parse an add-snapshot's `added-delete-files` array — ROW-LEVEL
      * delete files the wire client already staged, Iceberg content
      * naming (`position-deletes` / `equality-deletes`). Equality keys
      * are declared by NAME (`equality-field-names`) rather than field
      * id — the documented delta of a catalog whose clients see the
      * served schema's names, not an id registry. This is what lets an
      * external CDC writer land the upsert shape (one eq-delete + one
      * append per batch) entirely over HTTP — the Flink-CDC-against-
      * Lakekeeper loop (reference RUNBOOK.md §7: Trino row-level DML
      * on Iceberg through the same catalog). Left = client error.
      */
    private def parseDeleteFiles(snaps: Seq[JValue])
        : Either[String, (Seq[String], Seq[(String, Seq[String])])] = {
      val pos = scala.collection.mutable.ArrayBuffer.empty[String]
      val eq = scala.collection.mutable.ArrayBuffer.empty[(String, Seq[String])]
      snaps.flatMap(sn => arr(at(sn, "added-delete-files"))).foreach { o =>
        val path = str(at(o, "path")).getOrElse(
          return Left("every added-delete-files entry needs a path"))
        str(at(o, "content")) match {
          case Some("position-deletes") => pos += path
          case Some("equality-deletes") =>
            val cols = strs(at(o, "equality-field-names"), "equality-field-names")
            if (cols.isEmpty)
              return Left(s"equality delete $path needs a non-empty " +
                "equality-field-names array")
            eq += ((path, cols))
          case other => return Left(
            "added-delete-files content must be position-deletes or " +
              s"equality-deletes (got ${other.getOrElse("no content field")} " +
              s"for $path)")
        }
      }
      Right((pos.toSeq, eq.toSeq))
    }

    /** Validate staged row-level delete files against the table's
      * CURRENT schema, under the commit lock — the delete analog of
      * [[stagedSchemaConflict]]. A positional file must carry
      * (file_path string, pos bigint) — Iceberg's position-delete
      * shape; an equality file must carry every declared key column,
      * and its columns must fit the table's schema (names and types —
      * a key staged as the wrong type would silently anti-join
      * nothing, so it 409s here instead). Returns (status, message).
      */
    private def deleteSchemaConflict(loc: String,
        posDels: Seq[String], eqDels: Seq[(String, Seq[String])])
        : Option[(Int, String)] = {
      posDels.iterator.flatMap { f =>
        val sch = graft.sources.Footer.schemaOf(spark, f)
        def typ(n: String) = sch.find(_.name == n).map(_.dataType.simpleString)
        if (typ("file_path").contains("string") && typ("pos").contains("bigint"))
          None
        else Some(400 -> (s"positional delete file $f must carry " +
          "(file_path string, pos bigint); got " +
          sch.map(x => s"${x.name} ${x.dataType.simpleString}").mkString(", ")))
      }.nextOption().orElse {
        eqDels.iterator.flatMap { case (f, cols) =>
          val fileCols = graft.sources.Footer.schemaOf(spark, f).fieldNames.toSet
          cols.find(!fileCols.contains(_)).map(c => 400 ->
            (s"equality delete file $f does not carry declared key column $c"))
            .orElse(stagedSchemaConflict(loc, Seq(f)).map(409 -> _))
        }.nextOption()
      }
    }

    /** Whether `files` (parquet a wire client staged) fit the table's
      * CURRENT schema: a staged field may be ABSENT from a file (reads
      * as NULL under the bound schema), but a field unknown to the
      * current schema, or carrying a different type, is a conflict —
      * the staged write was planned against a schema that has since
      * evolved, and the files must be re-staged. Cost: one footer read
      * per file, the same order as commitFiles' own row-count stamping.
      */
    private def stagedSchemaConflict(loc: String,
        files: Seq[String]): Option[String] = {
      val curTypes = SnapshotTable.read(spark, loc).schema
        .map(f => f.name -> f.dataType.simpleString).toMap
      files.iterator.flatMap { f =>
        graft.sources.Footer.schemaOf(spark, f).iterator.flatMap { sf =>
          curTypes.get(sf.name) match {
            case Some(t) if t == sf.dataType.simpleString => None
            case Some(t) => Some(s"staged file $f column ${sf.name} has type " +
              s"${sf.dataType.simpleString} but the table's current schema has " +
              s"$t — the schema evolved since write planning; re-stage and retry")
            case None => Some(s"staged file $f carries column ${sf.name} not " +
              "present in the table's current schema — the schema evolved " +
              "since write planning; re-stage and retry")
          }
        }
      }.nextOption()
    }

    /** Iceberg REST `POST /v1/transactions/commit`
      * (CommitTransactionRequest): atomic commits spanning tables —
      * the route Trino uses for multi-table writes. Each
      * `table-changes` entry carries its identifier, requirements and
      * EITHER `add-snapshot` update(s) — data files AND/OR row-level
      * delete files ([[parseDeleteFiles]]), so an external CDC writer
      * can land a multi-table upsert batch atomically — OR exactly one
      * `set-snapshot-ref` (tag/branch several tables at one consistent
      * point: the "release a coherent snapshot set" flow). Other
      * actions 400 — schema/property/ref-removal changes stay
      * single-table commits. A transaction may span THIS handler's
      * namespace and any NESTED namespace beneath it (the {prefix}
      * scopes the request, Iceberg's model); each table commits
      * through its own handler, and every involved handler's DDL lock
      * is acquired in one global deterministic order (registry path;
      * parent before child, the same order dropNested uses) so
      * overlapping transactions cannot deadlock. EVERY table's
      * requirements and staged schemas are validated under the locks
      * BEFORE any commit, so one stale assertion 409s the whole
      * transaction with nothing applied. Wire writers serialize on
      * the same locks; the only mid-apply loser is an engine-side
      * writer racing a manifest CAS from outside the endpoint — then
      * the already-committed tables are compensated by
      * [[SnapshotTable.rollback]] (a restating commit, the engine's
      * rollback shape) and the transaction 409s.
      * Success is the spec's 204 (no content).
      */
    private def commitTransaction(ex: HttpExchange): Unit = {
      val changes = arr(at(jsonBody(ex), "table-changes"))
      if (changes.isEmpty) {
        err(ex, 400, "table-changes must be a non-empty array of " +
          "per-table commit objects"); return
      }
      val hconf = spark.sparkContext.hadoopConfiguration
      // a change is EITHER an add-snapshot commit (data files and/or
      // row-level delete files) OR one set-snapshot-ref (`ref` set:
      // name, tag|branch, snapshot version) — the "release a coherent
      // snapshot set" flow that tags several tables at one consistent
      // point (r19 VERDICT #5)
      case class Change(name: String, loc: String, reqs: Seq[Requirement],
        files: Seq[String], posDels: Seq[String],
        eqDels: Seq[(String, Seq[String])],
        ref: Option[(String, String, Long)], handler: CatalogHandler)
      val parsed = changes.map { ch =>
        val ident = at(ch, "identifier") match {
          case o: JObject => o
          case _ =>
            err(ex, 400, "every table change needs an identifier " +
              "{namespace, name}"); return
        }
        val ns = strs(at(ident, "namespace"), "identifier namespace")
        // a transaction may span THIS handler's namespace and any
        // nested namespace beneath it (Iceberg REST: the {prefix}
        // scopes the whole request, identifiers address namespaces
        // within it); each table commits through its own handler
        val handler: CatalogHandler =
          if (ns == Seq(db)) this
          else if (ns.headOption.contains(db) && ns.size > 1)
            Option(nested.get(ns.drop(1).mkString(NsSep.toString))).getOrElse {
              err(ex, 404, s"unknown namespace: ${ns.mkString(".")}"); return
            }
          else {
            err(ex, 400, s"transaction identifiers must live in [$db] " +
              s"or a namespace nested beneath it (got ${ns.mkString(".")})")
            return
          }
        val name = str(at(ident, "name")).getOrElse {
          err(ex, 400, "identifier needs a name"); return
        }
        val loc = handler.registryRows().find(_._1 == name).map(_._4).getOrElse {
          err(ex, 404, s"unknown table: ${ns.mkString(".")}.$name"); return
        }
        if (loc.isEmpty || SnapshotTable.currentVersion(spark, loc) == 0) {
          err(ex, 404, s"$name is not a snapshot table"); return
        }
        val upds = updates(ch)
        val actions = upds.map(_._1)
        val isSnap = actions.nonEmpty && actions.forall(_ == "add-snapshot")
        val isRef = actions == Seq("set-snapshot-ref")
        if (!isSnap && !isRef) {
          err(ex, 400, s"$name: transactions support add-snapshot updates " +
            "or exactly one set-snapshot-ref per table (documented delta — " +
            "schema/property/ref-removal changes are single-table commits)")
          return
        }
        val reqs =
          try requirements(ch)
          catch {
            case e: IllegalArgumentException =>
              err(ex, 400, s"$name: ${e.getMessage}"); return
          }
        if (isRef) {
          val upd = upds.head._2
          val rname = str(at(upd, "ref-name")).getOrElse {
            err(ex, 400, s"$name: set-snapshot-ref needs a ref-name"); return
          }
          if (rname == "main") {
            err(ex, 400, s"$name: ref main is the table head — it cannot " +
              "be moved in a transaction (use engine rollback)"); return
          }
          val rtype = str(at(upd, "type")).getOrElse("")
          if (rtype != "tag" && rtype != "branch") {
            err(ex, 400, s"$name: set-snapshot-ref type must be tag|branch, " +
              s"got '$rtype'"); return
          }
          val sid = long(at(upd, "snapshot-id")).getOrElse {
            err(ex, 400, s"$name: set-snapshot-ref needs a snapshot-id"); return
          }
          Change(name, loc, reqs, Seq.empty, Seq.empty, Seq.empty,
            Some((rname, rtype, sid)), handler)
        } else {
          val snaps = snapshots(upds)
          val files = snaps.flatMap(sn =>
            strs(at(sn, "added-data-files"), "added-data-files"))
          val (posDels, eqDels) = parseDeleteFiles(snaps) match {
            case Left(m) => err(ex, 400, s"$name: $m"); return
            case Right(parsed) => parsed
          }
          if (files.isEmpty && posDels.isEmpty && eqDels.isEmpty) {
            err(ex, 400, s"$name: add-snapshot must carry a non-empty " +
              "added-data-files or added-delete-files array"); return
          }
          (files ++ posDels ++ eqDels.map(_._1)).find { f =>
            val p = new Path(f); !p.getFileSystem(hconf).exists(p)
          }.foreach { missing =>
            err(ex, 400, s"$name: added file does not exist: $missing")
            return
          }
          Change(name, loc, reqs, files, posDels, eqDels, None, handler)
        }
      }
      if (parsed.map(c => (c.handler.registry, c.name)).distinct.size
          != parsed.size) {
        err(ex, 400, "a table may appear at most once per transaction")
        return
      }
      // every involved handler's DDL lock, acquired in a GLOBAL
      // deterministic order (registry path — a nested registry sorts
      // after its parent's, matching dropNested's parent→child order)
      // so two transactions over overlapping namespace sets can never
      // deadlock
      val handlers = parsed.map(_.handler).distinct.sortBy(_.registry).toList
      def withLocks[T](hs: List[CatalogHandler])(body: => T): T = hs match {
        case Nil => body
        case h :: rest => h.ddlLock.synchronized(withLocks(rest)(body))
      }
      withLocks(handlers) {
        // phase 1: validate EVERYTHING before committing ANYTHING
        parsed.foreach { c =>
          uuidAssertionFailure(c.loc, c.reqs).foreach { m =>
            err(ex, 409, s"${c.name}: $m — transaction aborted, nothing " +
              "applied"); return
          }
          val cur = SnapshotTable.currentVersion(spark, c.loc)
          refAssertionFailure(c.loc, cur, c.reqs).foreach { m =>
            err(ex, 409, s"${c.name}: $m — transaction aborted, nothing " +
              "applied"); return
          }
          stagedSchemaConflict(c.loc, c.files).foreach { m =>
            err(ex, 409, s"${c.name}: $m — transaction aborted, nothing " +
              "applied"); return
          }
          deleteSchemaConflict(c.loc, c.posDels, c.eqDels).foreach {
            case (status, m) =>
              err(ex, status, s"${c.name}: $m — transaction aborted, " +
                "nothing applied"); return
          }
          c.ref.foreach { case (rname, rtype, sid) =>
            if (sid < 1 || sid > cur) {
              err(ex, 400, s"${c.name}: snapshot-id $sid is not a live " +
                s"snapshot (current: $cur) — transaction aborted, nothing " +
                "applied"); return
            }
            val tags = SnapshotTable.tags(spark, c.loc)
            val branches = SnapshotTable.branches(spark, c.loc)
            if (rtype == "tag") {
              tags.get(rname) match {
                case Some(at) if at != sid.toInt =>
                  err(ex, 409, s"${c.name}: tag $rname already points at " +
                    s"snapshot $at (graft tags are immutable) — transaction " +
                    "aborted, nothing applied"); return
                case None if branches.contains(rname) =>
                  err(ex, 409, s"${c.name}: ref $rname already exists as a " +
                    "branch — transaction aborted, nothing applied"); return
                case _ => // free, or idempotent re-set
              }
            } else if (tags.contains(rname)) {
              err(ex, 409, s"${c.name}: ref $rname already exists as a tag " +
                "— transaction aborted, nothing applied"); return
            } else branches.get(rname).foreach { head =>
              // a DIVERGED branch (branch-local head, not a main
              // version) can't be compensated by a pointer move-back —
              // refuse up front rather than break all-or-nothing
              if (!head.matches("v\\d+")) {
                err(ex, 409, s"${c.name}: branch $rname has branch-local " +
                  "commits (head $head) — move it in a single-table commit " +
                  "— transaction aborted, nothing applied"); return
              }
            }
          }
        }
        // phase 2: publish all-or-nothing. Every applied step records
        // its own UNDO (snapshot rollback / drop created ref / move a
        // branch back) so a mid-apply loser compensates in reverse.
        val applied =
          scala.collection.mutable.ArrayBuffer.empty[(Change, () => Unit)]
        parsed.foreach { c =>
          try {
            c.ref match {
              case Some((rname, "tag", sid)) =>
                if (!SnapshotTable.tags(spark, c.loc).get(rname)
                    .contains(sid.toInt)) {
                  SnapshotTable.tag(spark, c.loc, rname, sid.toInt)
                  applied += ((c,
                    () => SnapshotTable.dropTag(spark, c.loc, rname)))
                }
              case Some((rname, _, sid)) =>
                SnapshotTable.branches(spark, c.loc).get(rname) match {
                  case Some(prev) if prev == s"v${sid.toInt}" => // idempotent
                  case Some(prev) =>
                    // phase 1 guaranteed prev is a main version stem
                    val prevV = prev.stripPrefix("v").toInt
                    SnapshotTable.moveBranch(spark, c.loc, rname, sid.toInt)
                    applied += ((c, () =>
                      SnapshotTable.moveBranch(spark, c.loc, rname, prevV)))
                  case None =>
                    SnapshotTable.createBranch(spark, c.loc, rname, sid.toInt)
                    applied += ((c,
                      () => SnapshotTable.dropBranch(spark, c.loc, rname)))
                }
              case None =>
                val before = SnapshotTable.currentVersion(spark, c.loc)
                if (c.posDels.isEmpty && c.eqDels.isEmpty)
                  SnapshotTable.commitFiles(spark, c.loc, c.files, append = true)
                else
                  SnapshotTable.commitFilesWithDeletes(spark, c.loc, c.files,
                    c.posDels, c.eqDels)
                applied += ((c, () => {
                  SnapshotTable.rollback(spark, c.loc, before); ()
                }))
            }
            ()
          } catch {
            // ANY mid-apply failure — CAS loss (IllegalStateException)
            // but also IO/Analysis errors from an unreadable footer or
            // a full disk — must run the same reverse-order
            // compensation, or the advertised all-or-nothing contract
            // breaks with earlier tables already committed (r19 ADVICE)
            case e if scala.util.control.NonFatal(e) =>
              applied.reverseIterator.foreach { case (_, undo) =>
                scala.util.Try(undo())
              }
              val (status, why) = e match {
                case _: IllegalStateException =>
                  (409, "an engine-side writer won the manifest CAS")
                case _ => (500, "the per-table commit failed mid-apply")
              }
              err(ex, status, s"transaction failed at ${c.name} ($why): " +
                s"${e.getMessage} — ${applied.size} already-applied " +
                "step(s) rolled back")
              return
          }
        }
        ex.sendResponseHeaders(204, -1)
        ex.close()
      }
    }
  }

  // ---------------------------------------------------------------
  // client helpers (java.net.http — JDK 11+) used by the spec and the
  // oracle entry: graft exercises its own wire surface as a client.

  private lazy val client = java.net.http.HttpClient.newHttpClient()

  def get(port: Int, path: String,
      headers: Seq[(String, String)] = Nil): (Int, String) = {
    val b = java.net.http.HttpRequest.newBuilder()
      .uri(java.net.URI.create(s"http://localhost:$port$path")).GET()
    headers.foreach { case (k, v) => b.header(k, v) }
    val resp = client.send(b.build(), java.net.http.HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  def post(port: Int, path: String, body: String,
      headers: Seq[(String, String)] = Nil): (Int, String) = {
    val b = java.net.http.HttpRequest.newBuilder()
      .uri(java.net.URI.create(s"http://localhost:$port$path"))
      .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
    if (!headers.exists(_._1.equalsIgnoreCase("Content-Type")))
      b.header("Content-Type", "application/json")
    headers.foreach { case (k, v) => b.header(k, v) }
    val resp = client.send(b.build(), java.net.http.HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  def head(port: Int, path: String): Int = {
    val req = java.net.http.HttpRequest.newBuilder()
      .uri(java.net.URI.create(s"http://localhost:$port$path"))
      .method("HEAD", java.net.http.HttpRequest.BodyPublishers.noBody()).build()
    client.send(req, java.net.http.HttpResponse.BodyHandlers.discarding()).statusCode()
  }

  def delete(port: Int, path: String,
      headers: Seq[(String, String)] = Nil): (Int, String) = {
    val b = java.net.http.HttpRequest.newBuilder()
      .uri(java.net.URI.create(s"http://localhost:$port$path")).DELETE()
    headers.foreach { case (k, v) => b.header(k, v) }
    val resp = client.send(b.build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  /** The table names of a listing response: `identifiers` (Iceberg
    * ListTablesResponse) or graft's own `tables`.
    */
  private[graft] def listedNames(listing: String): Seq[String] = {
    val doc = parse(listing)
    (arr(at(doc, "identifiers")) ++ arr(at(doc, "tables"))).flatMap(t => str(at(t, "name")))
  }

  // ---------------------------------------------------------------
  /** §2B registry entry: the full Lakekeeper loop under the oracle
    * gate — register the lake catalog, save it to a durable registry,
    * serve the registry over HTTP, then rebuild the catalog listing
    * AS AN HTTP CLIENT: `GET /v1/tables` for the names, `GET
    * /v1/tables/{name}/stats` for each row/column count. Every value
    * in the emitted DataFrame crossed the wire as JSON. Hash-matches
    * the same DuckDB oracle as catalog_tables — proving the HTTP
    * surface serves exactly what the engine serves.
    */
  def restListing(s: SparkSession, dir: String): DataFrame = {
    Catalog.register(s, dir)
    val root = "/tmp/graft_rest_registry_" + dir.replaceAll("[^A-Za-z0-9]", "_")
    PersistentCatalog.save(s, root)
    val port = serve(s, root)
    // nested-namespace loop (iceberg.properties:31
    // nested-namespace-enabled): create graft.staging over the wire,
    // register a table BENEATH it, list it there — and prove the flat
    // root listing (the emitted, oracled output below) is unaffected.
    // Self-cleaning so bench reps re-run idempotently.
    val nsPath = s"${Catalog.DB}%1Fstaging"
    val (cn, _) = post(port, "/v1/namespaces",
      s"""{"namespace":[${jstr(Catalog.DB)},"staging"]}""")
    require(cn == 200 || cn == 409, s"create nested namespace -> $cn")
    // a PRIOR PROCESS crashing mid-entry leaves the probe table in the
    // persisted registry (restored at serve) — clear it best-effort so
    // re-runs self-heal instead of wedging on the create below
    delete(port, s"/v1/namespaces/$nsPath/tables/nested_probe")
    val (ctn, ctr) = post(port, s"/v1/namespaces/$nsPath/tables",
      """{"name":"nested_probe","schema":{"type":"struct","fields":[
        |{"id":1,"name":"id","type":"long"}]}}""".stripMargin)
    require(ctn == 200, s"create nested table -> $ctn: $ctr")
    val (ln, nestedListing) = get(port, s"/v1/namespaces/$nsPath/tables")
    require(ln == 200 && listedNames(nestedListing).contains("nested_probe"),
      s"nested namespace must list its table: $nestedListing")
    require(delete(port, s"/v1/namespaces/$nsPath/tables/nested_probe")._1 == 200,
      "nested table cleanup failed")
    require(delete(port, s"/v1/namespaces/$nsPath")._1 == 200,
      "nested namespace cleanup failed")
    val (code, listing) = get(port, "/v1/tables")
    require(code == 200, s"GET /v1/tables -> $code: $listing")
    require(!listing.contains("nested_probe"),
      "nested table leaked into the flat root listing")
    val rows = listedNames(listing).map { n =>
      val (c2, stats) = get(port, s"/v1/tables/$n/stats")
      require(c2 == 200, s"GET /v1/tables/$n/stats -> $c2: $stats")
      val doc = parse(stats)
      Row(n,
        long(at(doc, "row_count")).getOrElse(sys.error(s"no row_count for $n")),
        long(at(doc, "n_cols")).getOrElse(sys.error(s"no n_cols for $n")))
    }
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types._
    s.createDataFrame(rows.asJava, StructType(Seq(
      StructField("table_name", StringType, nullable = false),
      StructField("n_rows", LongType, nullable = false),
      StructField("n_cols", LongType, nullable = false))))
      .orderBy("table_name")
  }

  // ---------------------------------------------------------------
  /** §2B registry entry: an EXTERNAL writer committing through the
    * Iceberg REST `updateTable` route — the write half of the
    * Lakekeeper loop (the reference's Trino/StarRocks commit against
    * the same catalog service every other client reads;
    * docker-compose.yaml `lakekeeper`). v1 is seeded engine-side; the
    * "external engine" then stages parquet files and lands v2 ENTIRELY
    * over HTTP: loadTable for the current snapshot id, then
    * `POST /v1/namespaces/{ns}/tables/{t}` with
    * `assert-ref-snapshot-id` + `add-snapshot(added-data-files)`. A
    * stale replay of the same commit is asserted 409 in-entry
    * (optimistic concurrency over the wire). The emitted aggregate
    * reads the snapshot table AFTER the REST commit, so the oracle
    * hash proves the wire commit is a real, content-exact engine
    * commit. Scale: the route ships only file PATHS; the engine stamps
    * row counts from parquet footers (commitFiles — the Iceberg
    * `add_files` path), so commit cost is O(files in the commit),
    * independent of table size.
    */
  def restCommit(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.operators.OracleSafe.sumMoney
    val base = "/tmp/graft_rest_commit/" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    val tableRoot = s"$base/events_rest"
    val stageDir = s"$base/staged"
    SnapshotTable.drop(s, tableRoot)
    SnapshotTable.drop(s, stageDir)
    val events = s.read.parquet(s"$dir/events.parquet")
    // v1: the engine's own seed commit
    SnapshotTable.commit(s, tableRoot, events.filter(col("event_id") % 3 === 0))
    // the external writer stages its data files...
    events.filter(col("event_id") % 3 === 1).coalesce(2).write
      .mode("overwrite").parquet(stageDir)
    val hfs = new org.apache.hadoop.fs.Path(stageDir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val staged = hfs.listStatus(new org.apache.hadoop.fs.Path(stageDir))
      .map(_.getPath.toString).filter(_.endsWith(".parquet")).sorted
    // ...and commits them purely over the wire
    Catalog.register(s, dir) // ensure the graft db exists when run standalone
    val registryRoot = s"$base/registry"
    PersistentCatalog.save(s, registryRoot)
    val port = serve(s, registryRoot)
    val (rc, _) = post(port, "/v1/tables",
      s"""{"name":"events_rest","format":"graft-snapshot","location":${jstr(tableRoot)}}""")
    require(rc == 201, s"register events_rest -> $rc")
    val (lc, ltr) = RestCatalog.get(port, s"/v1/namespaces/${Catalog.DB}/tables/events_rest")
    require(lc == 200, s"loadTable -> $lc: $ltr")
    val snapId = long(at(parse(ltr), "metadata", "current-snapshot-id"))
      .getOrElse(sys.error("no current-snapshot-id in LoadTableResult"))
    val commitBody =
      s"""{"requirements":[{"type":"assert-ref-snapshot-id","ref":"main","snapshot-id":$snapId}],
         |"updates":[{"action":"add-snapshot","snapshot":{"summary":{"operation":"append"},
         |"added-data-files":[${staged.map(jstr).mkString(",")}]}}]}""".stripMargin
    val (cc, cr) = post(port, s"/v1/namespaces/${Catalog.DB}/tables/events_rest", commitBody)
    require(cc == 200, s"updateTable -> $cc: $cr")
    // a stale replay (same asserted snapshot id) must CAS-fail: 409
    val (sc, sr) = post(port, s"/v1/namespaces/${Catalog.DB}/tables/events_rest", commitBody)
    require(sc == 409, s"stale updateTable -> $sc (want 409): $sr")
    require(SnapshotTable.currentVersion(s, tableRoot) == 2,
      "REST commit must have produced exactly version 2")
    val out = SnapshotTable.read(s, tableRoot)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sumMoney(col("value")).as("total_value"))
      .orderBy("event_type")
    // un-register from the shared graft db so catalog-listing entries
    // in the same session keep their exact 10-table shape (the emitted
    // plan reads by ROOT, not by catalog name — dropping the
    // registration leaves it intact)
    val (dc, dr) = delete(port, "/v1/tables/events_rest")
    require(dc == 200, s"cleanup DELETE events_rest -> $dc: $dr")
    out
  }

  val restCommitOracle: String = {
    import graft.operators.OracleSafe.sqlSumMoney
    s"""SELECT event_type, COUNT(*) AS n, ${sqlSumMoney("value", "total_value")}
       |FROM events WHERE event_id % 3 IN (0, 1)
       |GROUP BY event_type ORDER BY event_type""".stripMargin
  }

  // ---------------------------------------------------------------
  /** §2B registry entry: WIRE-side ref management — an external
    * client creates a TAG over the Iceberg REST `set-snapshot-ref`
    * update action, a conflicting replay 409s (optimistic concurrency
    * on refs), branches are created/moved/removed over the same
    * route, and a SECOND client then resolves `FOR VERSION AS OF
    * <tag>` purely from the served LoadTableResult JSON (`refs` →
    * snapshot-id → read at that version) — the loop Lakekeeper serves
    * to Trino in the reference (etc/catalog/iceberg.properties). The
    * emitted aggregate reads the TAGGED (v1) state of a table whose
    * head moved on to v2, so the oracle hash proves the wire-created
    * ref pins the right immutable snapshot.
    */
  def restRefs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.operators.OracleSafe.sumMoney
    val base = "/tmp/graft_rest_refs/" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    val tableRoot = s"$base/events_refs"
    SnapshotTable.drop(s, tableRoot)
    val events = s.read.parquet(s"$dir/events.parquet")
    SnapshotTable.commit(s, tableRoot, events.filter(col("event_id") % 3 === 0))
    SnapshotTable.commitAppend(s, tableRoot,
      events.filter(col("event_id") % 3 === 1))
    Catalog.register(s, dir)
    val registryRoot = s"$base/registry"
    PersistentCatalog.save(s, registryRoot)
    val port = serve(s, registryRoot)
    val tablesPath = s"/v1/namespaces/${Catalog.DB}/tables/events_refs"
    val (rc, _) = post(port, "/v1/tables",
      s"""{"name":"events_refs","format":"graft-snapshot","location":${jstr(tableRoot)}}""")
    require(rc == 201, s"register events_refs -> $rc")
    // the external client creates the tag, asserting it absent first
    val mkTag =
      s"""{"requirements":[{"type":"assert-ref-snapshot-id","ref":"audit_v1"}],
         |"updates":[{"action":"set-snapshot-ref","ref-name":"audit_v1",
         |"type":"tag","snapshot-id":1}]}""".stripMargin
    val (tc, tr) = post(port, tablesPath, mkTag)
    require(tc == 200, s"set-snapshot-ref tag -> $tc: $tr")
    // idempotent re-set to the same snapshot: 200
    val (ic, _) = post(port, tablesPath, mkTag.replace(
      """{"type":"assert-ref-snapshot-id","ref":"audit_v1"}""",
      """{"type":"assert-ref-snapshot-id","ref":"audit_v1","snapshot-id":1}"""))
    require(ic == 200, s"idempotent set-snapshot-ref -> $ic")
    // conflicting replay — same absent-assertion, different target: 409
    val (xc, xr) = post(port, tablesPath, mkTag.replace(
      """"snapshot-id":1}]}""", """"snapshot-id":2}]}"""))
    require(xc == 409, s"stale set-snapshot-ref -> $xc (want 409): $xr")
    // branch lifecycle over the wire: create at v1, move to v2, remove
    def refBody(action: String, extra: String) =
      s"""{"updates":[{"action":"$action","ref-name":"wip"$extra}]}"""
    val (bc, br) = post(port, tablesPath,
      refBody("set-snapshot-ref", ""","type":"branch","snapshot-id":1"""))
    require(bc == 200, s"create branch -> $bc: $br")
    val (mc, _) = post(port, tablesPath,
      refBody("set-snapshot-ref", ""","type":"branch","snapshot-id":2"""))
    require(mc == 200, s"move branch -> $mc")
    require(SnapshotTable.branches(s, tableRoot).get("wip").contains("v2"),
      "wire-moved branch must point at v2 engine-side")
    val (dc0, _) = post(port, tablesPath, refBody("remove-snapshot-ref", ""))
    require(dc0 == 200, s"remove branch -> $dc0")
    val (dc1, _) = post(port, tablesPath, refBody("remove-snapshot-ref", ""))
    require(dc1 == 404, s"remove of a removed ref -> $dc1 (want 404)")
    // the SECOND client: loadTable, resolve the tag from the JSON alone
    val (lc, ltr) = RestCatalog.get(port, tablesPath)
    require(lc == 200, s"loadTable -> $lc")
    val taggedV = long(at(parse(ltr), "metadata", "refs", "audit_v1", "snapshot-id"))
      .getOrElse(sys.error(s"LoadTableResult refs carry no audit_v1 snapshot-id: $ltr"))
      .toInt
    require(taggedV == 1, s"audit_v1 must resolve to snapshot 1, got $taggedV")
    require(SnapshotTable.currentVersion(s, tableRoot) == 2,
      "head must still be v2 (ref management moves no data)")
    val out = SnapshotTable.read(s, tableRoot, taggedV)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sumMoney(col("value")).as("total_value"))
      .orderBy("event_type")
    val (delc, delr) = delete(port, "/v1/tables/events_refs")
    require(delc == 200, s"cleanup DELETE events_refs -> $delc: $delr")
    out
  }

  val restRefsOracle: String = {
    import graft.operators.OracleSafe.sqlSumMoney
    s"""SELECT event_type, COUNT(*) AS n, ${sqlSumMoney("value", "total_value")}
       |FROM events WHERE event_id % 3 = 0
       |GROUP BY event_type ORDER BY event_type""".stripMargin
  }

  // ---------------------------------------------------------------
  /** §2B registry entry: the Lakekeeper MANAGEMENT surface — the
    * reference's RUNBOOK §4 loop (`POST /management/v1/warehouse` with
    * a storage profile, then engines mount `warehouse=<name>`;
    * create-yfinance-warehouse.json) re-expressed over graft's
    * catalog. Two warehouses are provisioned over HTTP (unknown
    * storage-profile types 400, duplicates 409), `/v1/config?
    * warehouse=<name>` resolves each to its own database + registry +
    * path prefix, a table is CREATED and COMMITTED inside each purely
    * over the prefixed Iceberg routes, and the emitted aggregates read
    * both tables back — hash-proving the wire DDL+commit landed the
    * right rows in the right warehouse. Isolation is asserted
    * in-entry: each warehouse's listing shows exactly its own table.
    * Entry is self-cleaning (tables then warehouses dropped over the
    * wire) so bench reps re-run it idempotently.
    */
  def restWarehouses(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.operators.OracleSafe.sumMoney
    val base = "/tmp/graft_rest_wh/" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    val registryRoot = s"$base/registry"
    Catalog.register(s, dir)
    PersistentCatalog.save(s, registryRoot)
    val port = serve(s, registryRoot)
    val whs = Seq("fin_a" -> 0, "fin_b" -> 1)
    // best-effort cleanup from a prior rep (tables first, then the
    // warehouse — DELETE refuses non-empty warehouses)
    whs.foreach { case (w, _) =>
      val (c, _) = RestCatalog.get(port, s"/management/v1/warehouse/$w")
      if (c == 200) {
        val (lc, listing) = RestCatalog.get(port, s"/v1/$w/tables")
        if (lc == 200) listedNames(listing).foreach { t =>
          delete(port, s"/v1/$w/tables/$t"); ()
        }
        delete(port, s"/management/v1/warehouse/$w"); ()
      }
    }
    // provisioning validation: unknown profile type 400, missing name 400
    val (cBad, rBad) = post(port, "/management/v1/warehouse",
      """{"warehouse-name":"zzz","storage-profile":{"type":"carrier-pigeon"}}""")
    require(cBad == 400 && rBad.contains("unknown storage-profile type"),
      s"bad profile type -> $cBad: $rBad")
    val (cNn, _) = post(port, "/management/v1/warehouse",
      """{"storage-profile":{"type":"s3","bucket":"b"}}""")
    require(cNn == 400, s"missing warehouse-name -> $cNn")
    // the reference's provisioning body shape (create-yfinance-warehouse.json)
    def profileBody(w: String) =
      s"""{"warehouse-name":"$w","project-id":"00000000-0000-0000-0000-000000000000",
         |"storage-profile":{"type":"s3","bucket":"demo-bucket","key-prefix":"$w",
         |"endpoint":"http://localhost:9000","region":"local-01",
         |"path-style-access":true,"flavor":"minio","sts-enabled":true},
         |"storage-credential":{"type":"s3","credential-type":"access-key",
         |"aws-access-key-id":"u","aws-secret-access-key":"p"}}""".stripMargin
    whs.foreach { case (w, _) =>
      val (c, r) = post(port, "/management/v1/warehouse", profileBody(w))
      require(c == 201, s"create warehouse $w -> $c: $r")
    }
    // duplicate is a 409; the listing serves both profiles back
    val (cDup, _) = post(port, "/management/v1/warehouse", profileBody("fin_a"))
    require(cDup == 409, s"duplicate warehouse -> $cDup")
    val (cList, listing) = RestCatalog.get(port, "/management/v1/warehouse")
    require(cList == 200 && Seq("fin_a", "fin_b").forall(listing.contains)
      && listing.contains("demo-bucket") && !listing.contains("aws-secret"),
      s"warehouse listing must serve profiles, never credentials: $listing")
    val events = s.read.parquet(s"$dir/events.parquet")
      .select("event_id", "event_type", "value")
    whs.foreach { case (w, parity) =>
      // mount: config resolves the warehouse to its prefix + namespace
      val (cc, cfg) = RestCatalog.get(port, s"/v1/config?warehouse=$w")
      require(cc == 200, s"config?warehouse=$w -> $cc: $cfg")
      val cfgDoc = parse(cfg)
      val prefix = str(at(cfgDoc, "overrides", "prefix"))
        .getOrElse(sys.error(s"no prefix override for $w"))
      val ns = str(at(cfgDoc, "database"))
        .getOrElse(sys.error(s"no database for $w"))
      // DDL inside the warehouse: Iceberg createTable over the prefix
      val (ct, ctr) = post(port, s"/v1/$prefix/namespaces/$ns/tables",
        s"""{"name":"wh_events","schema":{"type":"struct","fields":[
           |{"id":1,"name":"event_id","type":"long"},
           |{"id":2,"name":"event_type","type":"string"},
           |{"id":3,"name":"value","type":"double"}]}}""".stripMargin)
      require(ct == 200, s"createTable in $w -> $ct: $ctr")
      // stage this warehouse's slice and commit it over the wire
      val staged = s"$base/staged_$w"
      events.filter(col("event_id") % 2 === parity).coalesce(1)
        .write.mode("overwrite").parquet(staged)
      val hfs = new Path(staged).getFileSystem(s.sparkContext.hadoopConfiguration)
      val files = hfs.listStatus(new Path(staged))
        .map(_.getPath.toString).filter(_.endsWith(".parquet")).sorted
      val (cm, rm) = post(port, s"/v1/$prefix/namespaces/$ns/tables/wh_events",
        s"""{"requirements":[{"type":"assert-ref-snapshot-id","ref":"main","snapshot-id":1}],
           |"updates":[{"action":"add-snapshot","snapshot":{"summary":{"operation":"append"},
           |"added-data-files":[${files.map(jstr).mkString(",")}]}}]}""".stripMargin)
      require(cm == 200, s"wire commit in $w -> $cm: $rm")
    }
    // isolation: each warehouse lists exactly its own table; the root
    // registry is untouched by warehouse DDL
    whs.foreach { case (w, _) =>
      val (lc, l) = RestCatalog.get(port, s"/v1/$w/tables")
      require(lc == 200 && listedNames(l) == Seq("wh_events"),
        s"warehouse $w listing must contain exactly wh_events: $l")
    }
    val (rl, rootListing) = RestCatalog.get(port, "/v1/tables")
    require(rl == 200 && !rootListing.contains("wh_events"),
      "warehouse tables must not leak into the root catalog")
    // read both slices back through the session catalog the wire DDL
    // populated; the oracle hash proves end-to-end content
    val out = whs.map { case (w, _) =>
      s.table(s"graft_wh_$w.wh_events")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sumMoney(col("value")).as("total_value"))
        .withColumn("warehouse", lit(w))
    }.reduce(_ unionByName _)
      .select("warehouse", "event_type", "n", "total_value")
      .orderBy("warehouse", "event_type")
    val collected = out.collect()
    // cleanup so the next rep re-provisions from scratch
    whs.foreach { case (w, _) =>
      val (dc, dr) = delete(port, s"/v1/$w/tables/wh_events")
      require(dc == 200, s"drop wh_events in $w -> $dc: $dr")
      val (wc, wr) = delete(port, s"/management/v1/warehouse/$w")
      require(wc == 200, s"drop warehouse $w -> $wc: $wr")
    }
    import scala.jdk.CollectionConverters._
    s.createDataFrame(collected.toSeq.asJava, out.schema)
  }

  val restWarehousesOracle: String = {
    import graft.operators.OracleSafe.sqlSumMoney
    s"""SELECT 'fin_a' AS warehouse, event_type, COUNT(*) AS n,
       |${sqlSumMoney("value", "total_value")}
       |FROM events WHERE event_id % 2 = 0 GROUP BY event_type
       |UNION ALL
       |SELECT 'fin_b' AS warehouse, event_type, COUNT(*) AS n,
       |${sqlSumMoney("value", "total_value")}
       |FROM events WHERE event_id % 2 = 1 GROUP BY event_type
       |ORDER BY warehouse, event_type""".stripMargin
  }

  // ---------------------------------------------------------------
  /** §2B registry entry: the REST-MOUNTED READ side — the reference's
    * central loop, where an engine mounts the catalog OVER THE WIRE
    * and resolves every table, ref and snapshot pointer from
    * LoadTableResult JSON, never from a local registry (Trino mounting
    * Lakekeeper: etc/catalog/iceberg.properties:28-31
    * `iceberg.catalog.type=rest` + `warehouse=yfinance`). A SECOND
    * SparkSession — fresh session state: no graft database, no
    * registry path, nothing but the server URI — is configured with
    * [[graft.sources.RestBackedCatalog]] and reads (a) the table HEAD
    * and (b) `VERSION AS OF 'audit_v1'`, a tag resolved purely from
    * the served `refs` block. The emitted union aggregates both reads,
    * so the oracle hash proves the wire-resolved head AND the
    * wire-resolved tag serve content-exact snapshots. The airtight
    * twin is RestMountCrossProcessSpec: a forked JVM with no
    * engine-side state at all runs the same loop. Scale: resolution is
    * one GET per load; the data mount is a zero-copy manifest walk
    * cached per immutable (table-uuid, snapshot, stamp) — data files
    * are referenced by path, exactly how the reference's engines read
    * MinIO objects the catalog points them at.
    */
  def restMount(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.operators.OracleSafe.sumMoney
    val base = "/tmp/graft_rest_mount/" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    val tableRoot = s"$base/events_mount"
    SnapshotTable.drop(s, tableRoot)
    val events = s.read.parquet(s"$dir/events.parquet")
    SnapshotTable.commit(s, tableRoot, events.filter(col("event_id") % 3 === 0))
    SnapshotTable.tag(s, tableRoot, "audit_v1", 1)
    SnapshotTable.commitAppend(s, tableRoot,
      events.filter(col("event_id") % 3 === 1))
    Catalog.register(s, dir)
    val registryRoot = s"$base/registry"
    PersistentCatalog.save(s, registryRoot)
    val port = serve(s, registryRoot)
    val (rc, _) = post(port, "/v1/tables",
      s"""{"name":"events_mount","format":"graft-snapshot","location":${jstr(tableRoot)}}""")
    require(rc == 201, s"register events_mount -> $rc")
    // the second engine: a fresh session whose ONLY knowledge is the
    // server URI — resolution must come from the wire or fail
    val s2 = s.newSession()
    val cat = "restmnt"
    s2.conf.set(s"spark.sql.catalog.$cat", "graft.sources.RestBackedCatalog")
    s2.conf.set(s"spark.sql.catalog.$cat.uri", s"http://127.0.0.1:$port")
    s2.conf.set(s"spark.sql.catalog.$cat.mount-root", s"$base/mounts")
    def agg(df: DataFrame, label: String): DataFrame =
      df.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sumMoney(col("value")).as("total_value"))
        .withColumn("at_ref", lit(label))
    val head = agg(s2.table(s"$cat.${Catalog.DB}.events_mount"), "head")
    val tagged = agg(s2.sql(
      s"SELECT * FROM $cat.${Catalog.DB}.events_mount VERSION AS OF 'audit_v1'"),
      "tag_audit_v1")
    val out = head.unionByName(tagged)
      .select("at_ref", "event_type", "n", "total_value")
      .orderBy("at_ref", "event_type")
    val (dc, dr) = delete(port, "/v1/tables/events_mount")
    require(dc == 200, s"cleanup DELETE events_mount -> $dc: $dr")
    out
  }

  val restMountOracle: String = {
    import graft.operators.OracleSafe.sqlSumMoney
    s"""SELECT 'head' AS at_ref, event_type, COUNT(*) AS n,
       |${sqlSumMoney("value", "total_value")}
       |FROM events WHERE event_id % 3 IN (0, 1) GROUP BY event_type
       |UNION ALL
       |SELECT 'tag_audit_v1' AS at_ref, event_type, COUNT(*) AS n,
       |${sqlSumMoney("value", "total_value")}
       |FROM events WHERE event_id % 3 = 0 GROUP BY event_type
       |ORDER BY at_ref, event_type""".stripMargin
  }

  // ---------------------------------------------------------------
  /** §2B registry entry: wire WRITE-THROUGH — the full engine-switch
    * loop. A second engine (fresh SparkSession; only the server URI)
    * INSERTs INTO a REST-mounted table: [[graft.sources
    * .RestBackedCatalog]]'s write path stages parquet into the table's
    * shared-storage location (the data plane Lakekeeper's vended
    * credentials authorize) and lands the snapshot over the catalog's
    * `updateTable` route with a FRESH `assert-ref-snapshot-id` — the
    * same CAS every other writer rides, so concurrent commits 409
    * loudly. The emitted aggregate then READS the table back through
    * the wire mount (post-commit head), so the oracle hash proves the
    * whole control-plane/data-plane loop is content-exact:
    * name→metadata over HTTP, files by path, commit over HTTP, fresh
    * read over HTTP. Trino INSERTing through Lakekeeper is exactly
    * this shape (reference RUNBOOK §7/§9). Scale: the INSERT ships
    * only file paths over the wire; staging is a normal distributed
    * parquet write; commit cost is O(files in the commit).
    */
  def restMountWrite(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.operators.OracleSafe.sumMoney
    val base = "/tmp/graft_rest_mount_write/" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    val tableRoot = s"$base/events_wiredml"
    SnapshotTable.drop(s, tableRoot)
    val events = s.read.parquet(s"$dir/events.parquet")
    SnapshotTable.commit(s, tableRoot, events.filter(col("event_id") % 3 === 0))
    Catalog.register(s, dir)
    val registryRoot = s"$base/registry"
    PersistentCatalog.save(s, registryRoot)
    val port = serve(s, registryRoot)
    val (rc, _) = post(port, "/v1/tables",
      s"""{"name":"events_wiredml","format":"graft-snapshot","location":${jstr(tableRoot)}}""")
    require(rc == 201, s"register events_wiredml -> $rc")
    val s2 = s.newSession()
    val cat = "restw"
    s2.conf.set(s"spark.sql.catalog.$cat", "graft.sources.RestBackedCatalog")
    s2.conf.set(s"spark.sql.catalog.$cat.uri", s"http://127.0.0.1:$port")
    s2.conf.set(s"spark.sql.catalog.$cat.mount-root", s"$base/mounts")
    // the second engine reads source rows from the shared data plane
    // and commits them through the CATALOG — no registry, no engine
    // API, just the wire
    s2.read.parquet(s"$dir/events.parquet")
      .filter(col("event_id") % 3 === 1)
      .writeTo(s"$cat.${Catalog.DB}.events_wiredml").append()
    require(SnapshotTable.currentVersion(s, tableRoot) == 2,
      "the wire INSERT must have landed exactly version 2")
    // read the post-commit head back through the wire mount
    val out = s2.table(s"$cat.${Catalog.DB}.events_wiredml")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sumMoney(col("value")).as("total_value"))
      .orderBy("event_type")
    val cnt = out.count() // materialize before un-registering
    require(cnt > 0, "wire-mounted read returned no groups")
    val (dc, dr) = delete(port, "/v1/tables/events_wiredml")
    require(dc == 200, s"cleanup DELETE events_wiredml -> $dc: $dr")
    out
  }

  val restMountWriteOracle: String = {
    import graft.operators.OracleSafe.sqlSumMoney
    s"""SELECT event_type, COUNT(*) AS n, ${sqlSumMoney("value", "total_value")}
       |FROM events WHERE event_id % 3 IN (0, 1)
       |GROUP BY event_type ORDER BY event_type""".stripMargin
  }

  // ---------------------------------------------------------------
  /** §2B registry entry: the REST VIEWS surface — a view CREATED over
    * the wire (`POST /v1/namespaces/{ns}/views`, Iceberg's
    * CreateViewRequest) and then RESOLVED by a second engine entirely
    * over the wire: the view's spark-dialect SQL representation from
    * `GET …/views/{name}` (LoadViewResult), its base table through the
    * wire mount — the loop Lakekeeper serves when Trino creates a view
    * one engine and queries it from another. Resolution is PLAIN
    * `spark.sql` through the injected [[graft.plans.ResolveWireViews]]
    * analyzer rule (r20 — Spark 4.1's analyzer does not consult the
    * DSv2 ViewCatalog itself); the wireView shim stays pinned in-entry
    * as the documented fallback for pre-materialized sessions. The
    * emitted aggregate reads THROUGH the wire-resolved view, so the
    * oracle hash proves the served definition is content-exact.
    * In-entry assertions pin the lifecycle: duplicate create 409s,
    * HEAD sees it, the DSv2 [[graft.sources.RestBackedCatalog]]
    * ViewCatalog lists and loads it, DELETE retires it. Scale: a view
    * is pure metadata — create/load/list are O(1) wire calls; the
    * resolved query rides the full lake read path of its base tables
    * (pruning, stats, broadcast).
    */
  def restViews(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.operators.OracleSafe.sumMoney
    val base = "/tmp/graft_rest_views/" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    val tableRoot = s"$base/events_vbase"
    SnapshotTable.drop(s, tableRoot)
    val events = s.read.parquet(s"$dir/events.parquet")
    SnapshotTable.commit(s, tableRoot, events)
    Catalog.register(s, dir)
    val registryRoot = s"$base/registry"
    PersistentCatalog.save(s, registryRoot)
    val port = serve(s, registryRoot)
    s.sql(s"DROP VIEW IF EXISTS ${Catalog.DB}.events_wview")
    val (rc, _) = post(port, "/v1/tables",
      s"""{"name":"events_vbase","format":"graft-snapshot","location":${jstr(tableRoot)}}""")
    require(rc == 201, s"register events_vbase -> $rc")
    val mkView =
      s"""{"name":"events_wview","view-version":{"version-id":1,
         |"default-namespace":["${Catalog.DB}"],
         |"representations":[{"type":"sql","sql":
         |"SELECT event_type, value FROM ${Catalog.DB}.events_vbase WHERE event_id % 3 = 0",
         |"dialect":"spark"}]}}""".stripMargin
    val (vc, vr) = post(port, s"/v1/namespaces/${Catalog.DB}/views", mkView)
    require(vc == 200, s"createView -> $vc: $vr")
    val (dupc, _) = post(port, s"/v1/namespaces/${Catalog.DB}/views", mkView)
    require(dupc == 409, s"duplicate createView -> $dupc (want 409)")
    require(head(port, s"/v1/namespaces/${Catalog.DB}/views/events_wview") == 204,
      "HEAD on the created view must be 204")
    // the second engine: only the server URI; view SQL + base table
    // both resolve over the wire. ensureViewResolution BEFORE the
    // newSession so its analyzer carries ResolveWireViews — PLAIN
    // spark.sql then resolves the wire view with no shim (r20; the
    // production install is spark.sql.extensions=graft.GraftExtensions)
    graft.sources.RestBackedCatalog.ensureViewResolution(s)
    val s2 = s.newSession()
    val cat = "restvw"
    s2.conf.set(s"spark.sql.catalog.$cat", "graft.sources.RestBackedCatalog")
    s2.conf.set(s"spark.sql.catalog.$cat.uri", s"http://127.0.0.1:$port")
    s2.conf.set(s"spark.sql.catalog.$cat.mount-root", s"$base/mounts")
    val rbc = {
      val prev = SparkSession.getActiveSession
      SparkSession.setActiveSession(s2)
      try s2.sessionState.catalogManager.catalog(cat)
        .asInstanceOf[graft.sources.RestBackedCatalog]
      finally prev.foreach(SparkSession.setActiveSession)
    }
    require(rbc.listViews(Catalog.DB).exists(_.name == "events_wview"),
      "wire listViews must include events_wview")
    val out = s2.sql(s"SELECT * FROM $cat.${Catalog.DB}.events_wview")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sumMoney(col("value")).as("total_value"))
      .orderBy("event_type")
    val groups = out.collect()
    require(groups.nonEmpty, "wire-resolved view returned no groups")
    // the wireView shim stays pinned as the documented fallback for
    // sessions whose analyzer predates the rule: same row universe
    val viewRows = groups.map(_.getAs[Long]("n")).sum
    val shimRows = graft.sources.RestBackedCatalog
      .wireView(s2, cat, Catalog.DB, "events_wview").count()
    require(shimRows == viewRows,
      s"shim ($shimRows rows) and analyzer-rule ($viewRows rows) resolution diverge")
    val (delc, delr) = RestCatalog.delete(port,
      s"/v1/namespaces/${Catalog.DB}/views/events_wview")
    require(delc == 200, s"cleanup DELETE events_wview -> $delc: $delr")
    require(head(port, s"/v1/namespaces/${Catalog.DB}/views/events_wview") == 404,
      "dropped view must HEAD 404")
    val (dtc, _) = RestCatalog.delete(port, "/v1/tables/events_vbase")
    require(dtc == 200, "cleanup DELETE events_vbase")
    out
  }

  val restViewsOracle: String = {
    import graft.operators.OracleSafe.sqlSumMoney
    s"""SELECT event_type, COUNT(*) AS n, ${sqlSumMoney("value", "total_value")}
       |FROM events WHERE event_id % 3 = 0
       |GROUP BY event_type ORDER BY event_type""".stripMargin
  }

  // ---------------------------------------------------------------
  /** §2B registry entry: MULTI-TABLE TRANSACTIONS —
    * `POST /v1/transactions/commit` (Iceberg's CommitTransactionRequest,
    * the route engines use for atomic multi-table writes). Two
    * snapshot tables are seeded engine-side; an external writer stages
    * parquet for BOTH and lands ONE transaction: every table's
    * `assert-ref-snapshot-id` validated under the catalog's lock, then
    * both commits published all-or-nothing. A second transaction
    * carrying one stale assertion is asserted 409 in-entry with
    * NEITHER table advancing — the atomicity contract. The emitted
    * union aggregate reads both tables after the transaction, so the
    * oracle hash proves both halves landed content-exact. Scale: the
    * wire carries file PATHS only; validation is O(files) footer
    * reads (same order as commit stamping); publication cost is one
    * O(files) manifest commit per table.
    */
  def restTxn(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.operators.OracleSafe.sumMoney
    val base = "/tmp/graft_rest_txn/" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    val rootA = s"$base/events_txn_a"
    val rootB = s"$base/events_txn_b"
    SnapshotTable.drop(s, rootA)
    SnapshotTable.drop(s, rootB)
    val events = s.read.parquet(s"$dir/events.parquet")
    SnapshotTable.commit(s, rootA, events.filter(col("event_id") % 4 === 0))
    SnapshotTable.commit(s, rootB, events.filter(col("event_id") % 4 === 2))
    Catalog.register(s, dir)
    val registryRoot = s"$base/registry"
    PersistentCatalog.save(s, registryRoot)
    val port = serve(s, registryRoot)
    Seq("events_txn_a" -> rootA, "events_txn_b" -> rootB).foreach {
      case (n, loc) =>
        val (rc, _) = post(port, "/v1/tables",
          s"""{"name":"$n","format":"graft-snapshot","location":${jstr(loc)}}""")
        require(rc == 201, s"register $n -> $rc")
    }
    // the external writer stages files for both tables
    val hconf = s.sparkContext.hadoopConfiguration
    def stage(sub: String, mod: Int): Seq[String] = {
      val dirOut = s"$base/staged_$sub"
      events.filter(col("event_id") % 4 === mod).coalesce(2)
        .write.mode("overwrite").parquet(dirOut)
      val p = new org.apache.hadoop.fs.Path(dirOut)
      p.getFileSystem(hconf).listStatus(p).map(_.getPath.toString)
        .filter(_.endsWith(".parquet")).sorted.toSeq
    }
    val stagedA = stage("a", 1)
    val stagedB = stage("b", 3)
    def change(name: String, files: Seq[String], assertSnap: Long): String =
      s"""{"identifier":{"namespace":["${Catalog.DB}"],"name":"$name"},
         |"requirements":[{"type":"assert-ref-snapshot-id","ref":"main","snapshot-id":$assertSnap}],
         |"updates":[{"action":"add-snapshot","snapshot":{"summary":{"operation":"append"},
         |"added-data-files":[${files.map(jstr).mkString(",")}]}}]}""".stripMargin
    // ...and lands ONE transaction across both
    val (tc, tr) = post(port, "/v1/transactions/commit",
      s"""{"table-changes":[${change("events_txn_a", stagedA, 1)},${
        change("events_txn_b", stagedB, 1)}]}""")
    require(tc == 204, s"transactions/commit -> $tc: $tr")
    require(SnapshotTable.currentVersion(s, rootA) == 2 &&
      SnapshotTable.currentVersion(s, rootB) == 2,
      "the transaction must have landed BOTH tables at v2")
    // a stale replay must 409 with NEITHER table advancing (atomicity)
    val (xc, xr) = post(port, "/v1/transactions/commit",
      s"""{"table-changes":[${change("events_txn_a", stagedA, 2)},${
        change("events_txn_b", stagedB, 1)}]}""")
    require(xc == 409, s"stale transaction -> $xc (want 409): $xr")
    require(SnapshotTable.currentVersion(s, rootA) == 2 &&
      SnapshotTable.currentVersion(s, rootB) == 2,
      "a failed transaction must leave every table untouched")
    def agg(root: String, label: String): DataFrame =
      SnapshotTable.read(s, root)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sumMoney(col("value")).as("total_value"))
        .withColumn("tbl", lit(label))
    val out = agg(rootA, "a").unionByName(agg(rootB, "b"))
      .select("tbl", "event_type", "n", "total_value")
      .orderBy("tbl", "event_type")
    Seq("events_txn_a", "events_txn_b").foreach { n =>
      val (dc, dr) = delete(port, s"/v1/tables/$n")
      require(dc == 200, s"cleanup DELETE $n -> $dc: $dr")
    }
    out
  }

  val restTxnOracle: String = {
    import graft.operators.OracleSafe.sqlSumMoney
    s"""SELECT 'a' AS tbl, event_type, COUNT(*) AS n,
       |${sqlSumMoney("value", "total_value")}
       |FROM events WHERE event_id % 4 IN (0, 1) GROUP BY event_type
       |UNION ALL
       |SELECT 'b' AS tbl, event_type, COUNT(*) AS n,
       |${sqlSumMoney("value", "total_value")}
       |FROM events WHERE event_id % 4 IN (2, 3) GROUP BY event_type
       |ORDER BY tbl, event_type""".stripMargin
  }

  // ---------------------------------------------------------------
  /** §2B registry entry: ROW-LEVEL DELETES THROUGH THE WIRE — the
    * external-CDC-writer loop (reference RUNBOOK.md §7: Flink CDC
    * landing row-level DML on Iceberg through the same Lakekeeper
    * catalog Trino reads). A snapshot table is seeded engine-side;
    * then a wire client — raw HTTP, no engine API — lands ONE
    * `add-snapshot` commit carrying BOTH an equality-delete file
    * (CDC update keys) and the replacement data files: the
    * lake_upsert_eq shape entirely over the catalog route
    * (`added-delete-files`, Iceberg content naming). Sequence
    * scoping is pinned by construction: the batch's own rows share
    * the delete's sequence number, so the strict `<` comparison
    * suppresses the v1 copies of the updated keys while the SAME
    * commit's replacements survive. The emitted aggregate reads the
    * post-upsert head back THROUGH THE WIRE MOUNT (fresh session,
    * URI only), so the oracle hash proves delete application —
    * server-side seq stamping, Iceberg metadata export (content=2 +
    * equality_ids), zero-copy import, MoR anti-join — is
    * content-exact end to end. Scale: the wire carries file PATHS;
    * the eq delete is O(batch) with NO table read (the
    * streaming-writer property that makes per-batch CDC viable at
    * 100 TB); validation is O(files) footer reads under the commit
    * lock.
    */
  def restUpsert(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.operators.OracleSafe.sumMoney
    val base = "/tmp/graft_rest_upsert/" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    val tableRoot = s"$base/events_cdc"
    SnapshotTable.drop(s, tableRoot)
    val events = s.read.parquet(s"$dir/events.parquet")
    SnapshotTable.commit(s, tableRoot, events.filter(col("event_id") % 3 === 0))
    Catalog.register(s, dir)
    val registryRoot = s"$base/registry"
    PersistentCatalog.save(s, registryRoot)
    val port = serve(s, registryRoot)
    val (rc, _) = post(port, "/v1/tables",
      s"""{"name":"events_cdc","format":"graft-snapshot","location":${jstr(tableRoot)}}""")
    require(rc == 201, s"register events_cdc -> $rc")
    // the external CDC writer's batch: UPDATE every event_id%6==3 row
    // (negated value) — staged as one eq-delete key file + data files
    val hconf = s.sparkContext.hadoopConfiguration
    def staged(dirOut: String): Seq[String] = {
      val p = new org.apache.hadoop.fs.Path(dirOut)
      p.getFileSystem(hconf).listStatus(p).map(_.getPath.toString)
        .filter(_.endsWith(".parquet")).sorted.toSeq
    }
    val batch = events.filter(col("event_id") % 6 === 3)
      .withColumn("value", -col("value"))
    val dataDir = s"$base/staged_data"
    batch.coalesce(2).write.mode("overwrite").parquet(dataDir)
    val keyDir = s"$base/staged_keys"
    batch.select("event_id").distinct().coalesce(1)
      .write.mode("overwrite").parquet(keyDir)
    val delEntries = staged(keyDir).map(f =>
      s"""{"content":"equality-deletes","path":${jstr(f)},"equality-field-names":["event_id"]}""")
    val (uc, ur) = post(port, s"/v1/namespaces/${Catalog.DB}/tables/events_cdc",
      s"""{"requirements":[{"type":"assert-ref-snapshot-id","ref":"main","snapshot-id":1}],
         |"updates":[{"action":"add-snapshot","snapshot":{"summary":{"operation":"overwrite"},
         |"added-data-files":[${staged(dataDir).map(jstr).mkString(",")}],
         |"added-delete-files":[${delEntries.mkString(",")}]}}]}""".stripMargin)
    require(uc == 200, s"wire upsert commit -> $uc: $ur")
    require(SnapshotTable.currentVersion(s, tableRoot) == 2,
      "the wire upsert must have landed exactly version 2")
    // read the post-upsert head back through the wire mount: a fresh
    // session whose only knowledge is the server URI
    val s2 = s.newSession()
    val cat = "restu"
    s2.conf.set(s"spark.sql.catalog.$cat", "graft.sources.RestBackedCatalog")
    s2.conf.set(s"spark.sql.catalog.$cat.uri", s"http://127.0.0.1:$port")
    s2.conf.set(s"spark.sql.catalog.$cat.mount-root", s"$base/mounts")
    val out = s2.table(s"$cat.${Catalog.DB}.events_cdc")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sumMoney(col("value")).as("total_value"))
      .orderBy("event_type")
    val cnt = out.count() // materialize before un-registering
    require(cnt > 0, "wire-mounted post-upsert read returned no groups")
    val (dc, dr) = delete(port, "/v1/tables/events_cdc")
    require(dc == 200, s"cleanup DELETE events_cdc -> $dc: $dr")
    out
  }

  val restUpsertOracle: String = {
    import graft.operators.OracleSafe.sqlSumMoney
    s"""SELECT event_type, COUNT(*) AS n, ${sqlSumMoney("value", "total_value")}
       |FROM (SELECT event_type, value FROM events WHERE event_id % 6 = 0
       |      UNION ALL
       |      SELECT event_type, -value AS value FROM events WHERE event_id % 6 = 3)
       |GROUP BY event_type ORDER BY event_type""".stripMargin
  }

  def queries: Seq[graft.Q] = Seq(
    graft.Q("catalog_rest", restListing, Some(Catalog.tablesOracleSql)),
    graft.Q("catalog_rest_commit", restCommit, Some(restCommitOracle)),
    graft.Q("catalog_rest_refs", restRefs, Some(restRefsOracle)),
    graft.Q("catalog_rest_mount", restMount, Some(restMountOracle)),
    graft.Q("catalog_rest_mount_write", restMountWrite, Some(restMountWriteOracle)),
    graft.Q("catalog_rest_views", restViews, Some(restViewsOracle)),
    graft.Q("catalog_rest_txn", restTxn, Some(restTxnOracle)),
    graft.Q("catalog_rest_upsert", restUpsert, Some(restUpsertOracle)),
    graft.Q("catalog_warehouses", restWarehouses, Some(restWarehousesOracle)))
}
