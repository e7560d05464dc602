package graft.sources

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.lake.SnapshotTable

/** Durable, cross-JVM table registry — the reference's Lakekeeper REST
  * catalog role (reference docker-compose.yaml `lakekeeper` service,
  * create-yfinance-warehouse.json): Trino, Jupyter and Metabase all
  * resolve `iceberg.yfinance.*` independently of any one engine
  * process. Spark's default in-memory session catalog dies with the
  * JVM, so graft persists the catalog as a SnapshotTable-of-tables:
  * each `save` commits one row per permanent table/view of the `graft`
  * database — (table_name, kind, format, location, create_sql) — into
  * a lake table at `registryRoot`. A fresh session (or a fresh JVM —
  * the registry lives on the table store, not in process memory) calls
  * [[restore]] to re-issue the DDL and serve every table again, e.g.
  * through the Thrift endpoint ([[graft.endpoint.SqlEndpoint.serve]]).
  *
  * Dogfooding SnapshotTable buys the catalog the lake's own
  * guarantees: atomic visibility (a half-written registry version is
  * never readable), versioned history (`read(v)` shows the catalog as
  * of any save — DROP-recovery for free), and object-store
  * compatibility (manifest I/O is Hadoop-FS API).
  *
  * Definitions are introspected through the *public SQL surfaces*
  * (`SHOW TABLES` / `DESCRIBE TABLE EXTENDED` / `SHOW CREATE TABLE`),
  * not catalog internals, so any table a user registered by any means
  * round-trips — not just the ones [[Catalog.register]] created.
  */
object PersistentCatalog {

  private val schema = StructType(Seq(
    StructField("table_name", StringType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("format", StringType, nullable = true),
    StructField("location", StringType, nullable = true),
    StructField("create_sql", StringType, nullable = true)))

  private val DbKey = "graft.catalog.db"

  /** Snapshot every permanent table and view of `db` into the registry
    * at `registryRoot` (overwrite — the registry's latest version IS
    * the catalog; older versions remain readable history). Returns the
    * committed registry version.
    */
  def save(s: SparkSession, registryRoot: String, db: String = Catalog.DB): Int = {
    val names = s.sql(s"SHOW TABLES IN $db")
      .where(!col("isTemporary"))
      .select("tableName").collect().map(_.getString(0)).sorted
    val rows = names.map { n =>
      // DESCRIBE EXTENDED's trailing "# Detailed Table Information"
      // block carries Type/Provider/Location as ordinary rows
      val ext = s.sql(s"DESCRIBE TABLE EXTENDED $db.$n").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      if (ext.getOrElse("Type", "") == "VIEW") {
        // the engine's own canonical DDL, replayable verbatim
        val create = s.sql(s"SHOW CREATE TABLE $db.$n").first().getString(0)
        Row(n, "view", null, null, create)
      } else
        Row(n, "table", ext.getOrElse("Provider", "parquet"),
          ext.getOrElse("Location",
            throw new IllegalStateException(s"$db.$n has no Location — " +
              "managed tables without a path cannot be re-registered")), null)
    }
    // O(tables) rows of metadata: write the single part file on the
    // DRIVER (no Spark job — the distributed write of ten rows cost a
    // full job+commit round, paid on EVERY wire DDL's re-save) and
    // register it zero-copy. Same commit semantics as before:
    // overwrite, one version per save (registry versions are catalog
    // history — pinned by PersistentCatalogSpec).
    val v = SnapshotTable.currentVersion(s, registryRoot) + 1
    val file = s"$registryRoot/data/v$v/part-00000.parquet"
    GraftDriverParquet.writeRows(s, schema, rows.toSeq, file)
    SnapshotTable.commitFiles(s, registryRoot, Seq(file), append = false,
      meta = Map(DbKey -> db))
  }

  /** Register an external table, handling [[SnapshotTable]] roots. */
  def registerTable(s: SparkSession, qualified: String, format: String,
      location: String): Unit =
    if (SnapshotTable.currentVersion(s, location) > 0)
      // a snapshot root registers through the graft-snapshot BATCH
      // relation, so `spark.table`/SQL serve the table's true state
      // (current version, MoR deletes applied, renames resolved,
      // pushed filters pruning through the manifest). Registering it
      // as raw parquet-on-root-dir would serve ZERO rows — the data
      // lives in versioned subdirectories no flat scan finds — while
      // the stats route showed real counts. Schema is inferred by the
      // relation, so it stays current across later evolution.
      s.catalog.createTable(qualified, "graft-snapshot", Map("path" -> location))
    else
      s.catalog.createTable(qualified, format, Map("path" -> location))

  /** Re-register every table/view recorded at `registryRoot` into
    * `s`'s (possibly brand-new) session catalog, newest registry
    * version. This is what a fresh JVM runs before serving the
    * catalog. Returns the restored names.
    */
  def restore(s: SparkSession, registryRoot: String): Seq[String] = {
    val db = SnapshotTable
      .version(s, registryRoot, SnapshotTable.currentVersion(s, registryRoot)).header
      .getOrElse(DbKey, Catalog.DB)
    // the events view rebuilds TIMESTAMP(NANOS); a fresh session needs
    // the same read conf Catalog.register sets
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    val entries = SnapshotTable.read(s, registryRoot).collect()
      .map(r => (r.getAs[String]("table_name"), r.getAs[String]("kind"),
        r.getAs[String]("format"), r.getAs[String]("location"),
        r.getAs[String]("create_sql")))
      .sortBy { case (n, kind, _, _, _) => (kind, n) } // tables before views
    entries.foreach {
      case (n, "table", format, location, _) =>
        s.sql(s"DROP TABLE IF EXISTS $db.$n")
        registerTable(s, s"$db.$n", format, location)
      case (n, "view", _, _, create) =>
        // SHOW CREATE TABLE emits plain CREATE VIEW; restore must win
        // over any stale definition already in the session
        s.sql(s"DROP VIEW IF EXISTS $db.$n")
        s.sql(create)
      case (n, kind, _, _, _) =>
        throw new IllegalArgumentException(s"registry entry $n: unknown kind $kind")
    }
    entries.map(_._1).toSeq
  }

  // ---------------------------------------------------------------
  /** §2B registry entry: full durability round-trip under the oracle
    * gate — register the lake catalog, save it to a registry table,
    * DROP the database (simulating JVM death: the in-memory session
    * catalog is gone, only the registry's files survive), restore from
    * the registry alone, and emit the listing from the restored
    * catalog. Hash-matches the same DuckDB oracle as catalog_tables —
    * proving restore loses nothing.
    */
  def roundtrip(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    Catalog.register(s, dir)
    val root = "/tmp/graft_registry_" +
      dir.replaceAll("[^A-Za-z0-9]", "_")
    save(s, root)
    s.sql(s"DROP DATABASE ${Catalog.DB} CASCADE")
    restore(s, root)
    Catalog.listing(s)
  }

  def queries: Seq[graft.Q] = Seq(
    graft.Q("catalog_persistent", roundtrip, Some(Catalog.tablesOracleSql)))
}
