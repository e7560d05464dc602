package graft.endpoint

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.hive.thriftserver.HiveThriftServer2

/** Multi-client SQL endpoint: the reference serves Metabase /
  * CloudBeaver / DBeaver through Trino's JDBC surface (reference
  * RUNBOOK.md §10); graft serves the same clients through Spark's
  * Thrift/JDBC server started IN-PROCESS against the live session —
  * every `graft.*` catalog table, temp view, and graft_* SQL function
  * is visible to any HiveServer2-protocol client
  * (`jdbc:hive2://host:port`). On a real cluster this runs on the
  * driver and fans queries out to the executors like any other job.
  */
object SqlEndpoint {

  /** Start the Thrift server on `port` against `spark`'s catalog.
    * Returns after the server is bound. Embedded metastore/scratch
    * state is pointed at /tmp so the repo tree stays clean.
    */
  def start(spark: SparkSession, port: Int): Unit = {
    // Single-session mode serves every client from THIS session, so
    // temp views and runtime-registered graft_* functions stay
    // visible. It is a STATIC conf — set it when building the host
    // session. The per-client-isolation alternative: build the host
    // session .withExtensions(new GraftExtensions), whose injected
    // functions survive the newSession() each connection gets.
    val single = spark.conf.getOption(
      "spark.sql.hive.thriftServer.singleSession").contains("true")
    if (!single) throw new IllegalStateException(
      "SqlEndpoint needs spark.sql.hive.thriftServer.singleSession=true " +
        "at session build time (static conf), or a session built with " +
        "GraftExtensions for per-client isolation")
    graft.functions.GraftFunctions.register(spark)
    System.setProperty("derby.stream.error.file", s"/tmp/graft_derby_$port.log")
    val sc = spark.sqlContext
    sc.setConf("hive.server2.thrift.port", port.toString)
    sc.setConf("hive.server2.thrift.bind.host", "localhost")
    sc.setConf("javax.jdo.option.ConnectionURL",
      s"jdbc:derby:;databaseName=/tmp/graft_metastore_$port;create=true")
    sc.setConf("hive.exec.scratchdir", s"/tmp/graft_hive_scratch_$port")
    sc.setConf("hive.server2.enable.doAs", "false")
    HiveThriftServer2.startWithContext(sc)
  }

  // HiveThriftServer2 is a JVM singleton — one bound endpoint serves
  // every caller (specs, registry queries, bench reps). startOnce
  // memoizes the port of the first successful start.
  private var boundPort: Option[Int] = None
  private var startFailure: Option[Throwable] = None

  def startOnce(spark: SparkSession): Int = synchronized {
    // a failed start is memoized too: HiveThriftServer2 is a JVM
    // singleton, so a half-initialized server would make every later
    // attempt fail with a confusing secondary error — surface the
    // ORIGINAL failure once, clearly, instead
    startFailure.foreach(t => throw new IllegalStateException(
      "Thrift endpoint failed to start earlier in this JVM", t))
    boundPort.getOrElse {
      val ss = new java.net.ServerSocket(0)
      val port = try ss.getLocalPort finally ss.close()
      // the probe socket is closed before HiveThriftServer2 binds, so
      // another process could grab the port in the window; the
      // connection retry in jdbcQuery absorbs transient losses, and a
      // genuine bind failure surfaces via startFailure
      try {
        start(spark, port)
        boundPort = Some(port)
        port
      } catch { case t: Throwable => startFailure = Some(t); throw t }
    }
  }

  /** Fresh-JVM serving path: restore the durable catalog from
    * `registryRoot` ([[graft.sources.PersistentCatalog]]) into this
    * session, then expose it over Thrift — the reference's "Lakekeeper
    * holds the catalog, Trino serves it" split (docker-compose.yaml),
    * where no table depends on the process that registered it.
    * Returns the bound port.
    */
  def serve(spark: SparkSession, registryRoot: String): Int = {
    graft.sources.PersistentCatalog.restore(spark, registryRoot)
    startOnce(spark)
  }

  /** Run one SQL statement the way a BI client does — over the wire
    * via hive-jdbc — and return the rows. The endpoint fans the query
    * out through the live session's executors; JDBC transports only
    * the (small) result set. Retries briefly: the server binds
    * asynchronously after startWithContext.
    */
  def jdbcQuery(spark: SparkSession, sql: String): (Seq[String], Seq[Seq[Any]]) = {
    val port = startOnce(spark)
    // retry only the CONNECTION (the server binds asynchronously after
    // startWithContext); a failing statement must fail fast, not spin
    // the retry budget
    var conn: java.sql.Connection = null
    var last: java.sql.SQLException = null
    var attempts = 0
    while (conn == null && attempts < 30) {
      attempts += 1
      // SQLException ONLY: fatal errors (OOM, linkage) must propagate,
      // and an interrupt must not be swallowed by the retry sleep
      try conn = java.sql.DriverManager.getConnection(
        s"jdbc:hive2://localhost:$port/default", "", "")
      catch {
        case e: java.sql.SQLException =>
          last = e
          try Thread.sleep(1000)
          catch {
            case ie: InterruptedException =>
              Thread.currentThread().interrupt()
              throw new RuntimeException(
                "interrupted while waiting for the Thrift endpoint to bind", ie)
          }
      }
    }
    if (conn == null) throw last
    try {
      val rs = conn.createStatement().executeQuery(sql)
      val md = rs.getMetaData
      val cols = (1 to md.getColumnCount).map(md.getColumnLabel)
      val rows = Iterator.continually(rs).takeWhile(_.next())
        .map(r => (1 to md.getColumnCount).map(r.getObject): Seq[Any]).toList
      (cols, rows)
    } finally conn.close()
  }

  // ---------------------------------------------------------------
  /** §2H registry entry: the reference's BI loop (RUNBOOK.md §10 —
    * Metabase/CloudBeaver over Trino JDBC) end-to-end: catalog tables
    * registered, Thrift endpoint up, an aggregate submitted over the
    * WIRE via hive-jdbc, executed by the session's executors, result
    * set transported back — then gated against the DuckDB oracle like
    * any other query. Only the 5-row aggregate crosses JDBC.
    */
  def endpointAgg(s: SparkSession, dir: String): DataFrame = {
    graft.sources.Catalog.register(s, dir)
    val (_, rows) = jdbcQuery(s,
      """SELECT event_type, COUNT(*) AS n,
        | CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value
        |FROM graft.events GROUP BY event_type ORDER BY event_type""".stripMargin)
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("total_value",
        org.apache.spark.sql.types.DoubleType)))
    val data = rows.map(r => org.apache.spark.sql.Row(
      r(0).asInstanceOf[String],
      r(1).asInstanceOf[Number].longValue,
      r(2).asInstanceOf[Number].doubleValue))
    s.createDataFrame(data.asJava, schema).orderBy("event_type")
  }

  val endpointAggOracle: String =
    """SELECT event_type, COUNT(*) AS n,
      | CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------
  /** Point-lookup serving table (VERDICT r6 item 8): events
    * range-clustered by event_id, committed with per-file min/max
    * stats AND bloom filters on the key, registered as a view. With
    * plans.SnapshotScanPruning injected, ANY client filter that
    * reaches the scan — including a JDBC `WHERE event_id = ?` arriving
    * over Thrift — is checked against the manifest and the scan opens
    * only the file(s) whose stats/bloom admit the key (inputFiles-
    * pinned by EndpointPointLookupSpec). Build is fingerprint-guarded:
    * reused across reps/JVMs while the source is unchanged.
    */
  private[graft] val IndexedEventsView = "graft_events_indexed"

  private[graft] def indexedEventsRoot(dir: String): String =
    s"/tmp/graft_endpoint/${dir.replaceAll("[^A-Za-z0-9.]", "_")}/events_indexed"

  private[graft] def ensureIndexedEvents(s: SparkSession, dir: String): Unit = {
    import graft.lake.SnapshotTable
    val root = indexedEventsRoot(dir)
    val src = java.nio.file.Paths.get(s"$dir/events.parquet")
    val fp =
      if (java.nio.file.Files.isDirectory(src)) {
        val st = java.nio.file.Files.list(src)
        try {
          import scala.jdk.CollectionConverters._
          st.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
            .sortBy(_.toString).map(p => s"${p.getFileName}:${java.nio.file.Files.size(p)}")
            .mkString("|")
        } finally st.close()
      } else s"${java.nio.file.Files.size(src)}:${java.nio.file.Files.getLastModifiedTime(src).toMillis}"
    val cur = SnapshotTable.currentVersion(s, root)
    // an unreadable memoized table (pre-trailer format, torn publish)
    // is simply stale — rebuild, same as a source change
    val fresh = try {
      cur > 0 &&
        SnapshotTable.version(s, root, cur).header.get("source_fp").contains(fp)
    } catch { case _: IllegalStateException => false }
    if (!fresh) {
      SnapshotTable.drop(s, root)
      val ev = graft.sources.Tables.load(s, dir, "events")
      SnapshotTable.commit(s, root,
        ev.repartitionByRange(8, org.apache.spark.sql.functions.col("event_id")),
        meta = Map("source_fp" -> fp),
        statsCols = Seq("event_id"), bloomCols = Seq("event_id"))
    }
    // the pruning rule rides the optimizer, so it applies to JDBC
    // queries the same as session queries
    if (!graft.GraftExtensions.installedOn(s)) {
      val rules = s.experimental.extraOptimizations
      if (!rules.contains(graft.plans.SnapshotScanPruning))
        s.experimental.extraOptimizations = rules :+ graft.plans.SnapshotScanPruning
    }
    SnapshotTable.read(s, root).createOrReplaceTempView(IndexedEventsView)
  }

  /** §2H registry entry: three point lookups arrive over the WIRE as
    * plain SQL; the manifest prunes the scan to the files holding the
    * keys before execution. Only 3 rows cross JDBC.
    */
  def endpointPointLookup(s: SparkSession, dir: String): DataFrame = {
    ensureIndexedEvents(s, dir)
    val (_, rows) = jdbcQuery(s,
      s"""SELECT event_id, user_id, event_type,
         | CAST(ROUND(value * 100) AS BIGINT) AS value_cents
         |FROM $IndexedEventsView WHERE event_id IN (7, 77, 777)
         |ORDER BY event_id""".stripMargin)
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value_cents",
        org.apache.spark.sql.types.LongType)))
    val data = rows.map(r => org.apache.spark.sql.Row(
      r(0).asInstanceOf[Number].longValue,
      r(1).asInstanceOf[Number].longValue,
      r(2).asInstanceOf[String],
      r(3).asInstanceOf[Number].longValue))
    s.createDataFrame(data.asJava, schema).orderBy("event_id")
  }

  val endpointPointLookupOracle: String =
    """SELECT event_id, user_id, event_type,
      | CAST(ROUND(value * 100) AS BIGINT) AS value_cents
      |FROM events WHERE event_id IN (7, 77, 777)
      |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------
  /** §2H registry entry: a BI client reads a LAKE table over JDBC —
    * the snapshot root registers through the graft-snapshot relation
    * (PersistentCatalog.registerTable), so the wire query serves the
    * table's TRUE state: current version with a pending merge-on-read
    * delete applied, exactly what the Scala read API serves. This is
    * the Metabase-over-Trino-over-Iceberg loop (RUNBOOK.md §9/§10)
    * end-to-end under the oracle gate; only the aggregate crosses
    * JDBC. The scratch table is dropped before returning so the
    * catalog-listing entries see the canonical table set.
    */
  def endpointLakeTable(s: SparkSession, dir: String): DataFrame = {
    import graft.lake.SnapshotTable
    val root = s"/tmp/graft_endpoint/${dir.replaceAll("[^A-Za-z0-9.]", "_")}/lake_jdbc"
    SnapshotTable.drop(s, root)
    val ev = graft.sources.Tables.load(s, dir, "events")
      .select("event_id", "user_id", "event_type", "value")
    SnapshotTable.commit(s, root, ev)
    val victim = SnapshotTable.read(s, root)
      .agg(org.apache.spark.sql.functions.min("event_id")).head.getLong(0)
    SnapshotTable.deleteWhereMor(s, root,
      org.apache.spark.sql.functions.col("event_id") === victim)
    s.sql("CREATE DATABASE IF NOT EXISTS graft")
    s.sql("DROP TABLE IF EXISTS graft.events_lake_jdbc")
    graft.sources.PersistentCatalog.registerTable(
      s, "graft.events_lake_jdbc", "parquet", root)
    val (_, rows) = jdbcQuery(s,
      """SELECT event_type, COUNT(*) AS n,
        | CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value
        |FROM graft.events_lake_jdbc GROUP BY event_type ORDER BY event_type""".stripMargin)
    s.sql("DROP TABLE IF EXISTS graft.events_lake_jdbc")
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("total_value",
        org.apache.spark.sql.types.DoubleType)))
    val data = rows.map(r => org.apache.spark.sql.Row(
      r(0).asInstanceOf[String],
      r(1).asInstanceOf[Number].longValue,
      r(2).asInstanceOf[Number].doubleValue))
    s.createDataFrame(data.asJava, schema).orderBy("event_type")
  }

  val endpointLakeTableOracle: String =
    """SELECT event_type, COUNT(*) AS n,
      | CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value
      |FROM events WHERE event_id <> (SELECT MIN(event_id) FROM events)
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------
  /** §2H registry entry (VERDICT r10 item 5): PLAIN SQL TIME TRAVEL
    * over the wire. The events land in a [[graft.sources.GraftCatalog]]
    * (DataSourceV2) table in two versions — even event_ids (v1), then
    * the odds appended (v2) — and a JDBC client reads
    * `FROM glake_<dirhash>.lake.events_tt VERSION AS OF 1` through the Thrift
    * endpoint: Spark's parser resolves the clause against the V2
    * catalog, the scan runs the same manifest-pruned read path, and
    * the v1-only aggregate (provably missing every odd id) crosses
    * the wire. This is Trino's `FOR VERSION AS OF` on Iceberg
    * (reference RUNBOOK.md §7) as a graft-native SQL surface.
    */
  def endpointTimeTravel(s: SparkSession, dir: String): DataFrame = {
    import graft.lake.SnapshotTable
    import org.apache.spark.sql.functions.col
    val wh = s"/tmp/graft_endpoint/${dir.replaceAll("[^A-Za-z0-9.]", "_")}/v2_wh"
    // catalog name derived from dir: Spark's CatalogManager caches the
    // instance (and thus its warehouse) per session after first use,
    // so a fixed "glake" would silently keep serving the FIRST dir's
    // events_tt to a session later pointed at another dir
    val cat = s"glake_${Integer.toHexString(dir.hashCode).takeRight(6)}"
    s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val root = s"$wh/lake/events_tt"
    SnapshotTable.drop(s, root)
    val ev = graft.sources.Tables.load(s, dir, "events")
      .select("event_id", "event_type", "value")
    SnapshotTable.commit(s, root, ev.filter(col("event_id") % 2 === 0))
    SnapshotTable.commitAppend(s, root, ev.filter(col("event_id") % 2 =!= 0))
    require(SnapshotTable.currentVersion(s, root) == 2)
    val (_, rows) = jdbcQuery(s,
      s"""SELECT event_type, COUNT(*) AS n,
         | CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value
         |FROM $cat.lake.events_tt VERSION AS OF 1
         |GROUP BY event_type ORDER BY event_type""".stripMargin)
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("total_value",
        org.apache.spark.sql.types.DoubleType)))
    val data = rows.map(r => org.apache.spark.sql.Row(
      r(0).asInstanceOf[String],
      r(1).asInstanceOf[Number].longValue,
      r(2).asInstanceOf[Number].doubleValue))
    s.createDataFrame(data.asJava, schema).orderBy("event_type")
  }

  val endpointTimeTravelOracle: String =
    """SELECT event_type, COUNT(*) AS n,
      | CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value
      |FROM events WHERE event_id % 2 = 0
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------
  /** §2H registry entry (VERDICT r15 item 7): a JOIN of two LAKE
    * tables over JDBC, asserting the two scale-critical plan
    * decisions SURVIVE the Thrift wire: (1) the small lake dim
    * auto-broadcasts from its manifest statistics (EXPLAIN text
    * fetched over the same JDBC connection — no hint anywhere), and
    * (2) the pushed ts predicate prunes the day-partitioned fact's
    * files through the manifest (scan-hook file counts). This is the
    * BI dashboard shape the reference serves through Trino's
    * stats-fed CBO over Iceberg (RUNBOOK.md §9's fact-to-dim joins) —
    * the shape that decides whether a 100 TB fact shuffles.
    */
  def endpointLakeJoin(s: SparkSession, dir: String): DataFrame = {
    import graft.lake.SnapshotTable
    import org.apache.spark.sql.functions.{col, concat, lit, pmod}
    val wh = s"/tmp/graft_endpoint/${dir.replaceAll("[^A-Za-z0-9.]", "_")}/join_wh"
    val cat = s"gjoin_${Integer.toHexString(dir.hashCode).takeRight(6)}"
    s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val factRoot = s"$wh/lake/factj"
    val dimRoot = s"$wh/lake/dimj"
    Seq(factRoot, dimRoot).foreach(SnapshotTable.drop(s, _))
    val ev = graft.sources.Tables.load(s, dir, "events")
      .select("event_id", "user_id", "event_type", "value", "ts")
    SnapshotTable.commitPartitionedByDay(s, factRoot, ev, "ts")
    SnapshotTable.commit(s, dimRoot, ev.select("user_id").distinct()
      .withColumn("segment", concat(lit("seg_"), pmod(col("user_id"), lit(5)))))
    val wire =
      s"""SELECT d.segment, COUNT(*) AS n,
         | CAST(SUM(CAST(ROUND(f.value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value
         |FROM $cat.lake.factj f JOIN $cat.lake.dimj d ON f.user_id = d.user_id
         |WHERE f.ts < TIMESTAMP '2024-01-15'
         |GROUP BY d.segment ORDER BY d.segment""".stripMargin
    // the broadcast decision, observed THROUGH the wire
    val (_, planRows) = jdbcQuery(s, s"EXPLAIN $wire")
    val planText = planRows.flatten.mkString("\n")
    require(planText.contains("BroadcastHashJoin") && !planText.contains("SortMergeJoin"),
      s"the lake dim must auto-broadcast over JDBC:\n${planText.take(1500)}")
    // manifest pruning, observed on the serving session's scan hook
    graft.streaming.GraftSnapshotRelation.recordScans = true
    val (_, rows) =
      try jdbcQuery(s, wire)
      finally graft.streaming.GraftSnapshotRelation.recordScans = false
    val total = SnapshotTable.dataFiles(s, factRoot,
      SnapshotTable.currentVersion(s, factRoot)).size
    val opened = graft.streaming.GraftSnapshotRelation.lastScanFilesFor(factRoot)
    require(opened > 0 && opened < total,
      s"the wire query's ts filter must prune day partitions: opened $opened of $total")
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("segment",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("total_value",
        org.apache.spark.sql.types.DoubleType)))
    val data = rows.map(r => org.apache.spark.sql.Row(
      r(0).asInstanceOf[String],
      r(1).asInstanceOf[Number].longValue,
      r(2).asInstanceOf[Number].doubleValue))
    s.createDataFrame(data.asJava, schema).orderBy("segment")
  }

  val endpointLakeJoinOracle: String =
    """SELECT ('seg_' || CAST(user_id % 5 AS VARCHAR)) AS segment, COUNT(*) AS n,
      | CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value
      |FROM events WHERE ts < TIMESTAMP '2024-01-15'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Seq[graft.Q] = Seq(
    graft.Q("endpoint_time_travel", endpointTimeTravel, Some(endpointTimeTravelOracle)),
    graft.Q("endpoint_sql_agg", endpointAgg, Some(endpointAggOracle)),
    graft.Q("endpoint_point_lookup", endpointPointLookup, Some(endpointPointLookupOracle)),
    graft.Q("endpoint_lake_table", endpointLakeTable, Some(endpointLakeTableOracle)),
    graft.Q("endpoint_lake_join", endpointLakeJoin, Some(endpointLakeJoinOracle)))
}
