package graft.streaming

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftSqlInternals, Row, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.lake.SnapshotTable

/** Structured Streaming CDC source over a [[SnapshotTable]]:
  * `spark.readStream.format("graft-snapshot").option("path", root)`
  * turns the table's commit log into a stream of row changes. The
  * offset IS the snapshot version — each micro-batch is
  * `changes(startVersion, endVersion)` (insert/delete images,
  * manifest-diff file skipping), so a batch reads only the data files
  * the covered commits touched, never the table. Restart recovery is
  * the engine's own offset checkpointing; the source is stateless.
  *
  * This is the streaming face of the reference's ingest-then-query
  * loop (Airflow appends → consumers read, RUNBOOK.md §8): downstream
  * syncs subscribe to the table instead of polling
  * [[SnapshotTable.changesSince]] by hand.
  */
class SnapshotSource(
    sqlContext: SQLContext, root: String, sourceSchema: StructType) extends Source {

  private def spark = sqlContext.sparkSession

  override def getOffset: Option[Offset] = {
    val v = SnapshotTable.currentVersion(spark, root)
    if (v == 0) None else Some(SnapshotSource.VersionOffset(v))
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val from = start.map(SnapshotSource.versionOf).getOrElse(0)
    val to = SnapshotSource.versionOf(end)
    GraftSqlInternals.asStreaming(SnapshotTable.changes(spark, root, from, to))
  }

  override def schema: StructType = sourceSchema

  override def stop(): Unit = ()
}

object SnapshotSource {
  final case class VersionOffset(version: Int) extends Offset {
    override def json: String = version.toString
  }

  private[streaming] def versionOf(o: Offset): Int = o match {
    case VersionOffset(v) => v
    case other => other.json.trim.toInt // engine replays SerializedOffset from the checkpoint log
  }

  /** The changes() schema for a table: its current read schema plus
    * the change_type column.
    */
  def changeSchema(spark: org.apache.spark.sql.SparkSession, root: String): StructType =
    StructType(SnapshotTable.schema(spark, root).fields :+
      StructField("change_type", StringType, nullable = false))
}

/** BATCH face of `format("graft-snapshot")`: a SQL-queryable relation
  * over a [[SnapshotTable]] with filter pushdown INTO MANIFEST
  * PRUNING. `spark.read.format("graft-snapshot").option("path", root)`
  * — or `CREATE TABLE t USING \`graft-snapshot\` OPTIONS (path '…')` —
  * serves the table's current (or time-traveled) state: merge-on-read
  * deletes applied, renames/widens resolved, and pushed filters
  * driving the partition/stats/bloom file skip through
  * [[SnapshotTable.readWhere]]. This is what lets any SQL client (the
  * JDBC endpoint, a notebook, `spark.sql`) hit a lake table without
  * calling the Scala API — the Trino-over-Iceberg query surface
  * (RUNBOOK.md §7/§9) as a first-class Spark relation.
  *
  * Pushdown is for FILE PRUNING only: every filter is returned as
  * unhandled, so Spark re-evaluates the full predicate above the scan
  * and correctness never depends on the Filter→Column translation
  * being complete — an untranslatable shape just prunes less.
  */
class GraftSnapshotRelation(
    @transient override val sqlContext: SQLContext,
    root: String, version: Int)
  extends BaseRelation with PrunedFilteredScan with InsertableRelation {

  private def spark = sqlContext.sparkSession

  override lazy val schema: StructType =
    SnapshotTable.schema(spark, root, version)

  /** SQL `INSERT INTO` / `INSERT OVERWRITE` on a registered lake
    * table: an append goes through the concurrency-safe commitAppend
    * (staged data + CAS rebase — SQL writers coexist with streams and
    * maintenance), an overwrite is a new full snapshot (history
    * intact, time travel to the pre-overwrite version still works).
    */
  override def insert(data: DataFrame, overwrite: Boolean): Unit = {
    require(version < 0,
      "cannot INSERT into a time-traveled relation (version/timestamp_ms option set)")
    if (overwrite) SnapshotTable.commit(spark, root, data, append = false)
    else SnapshotTable.commitAppend(spark, root, data)
    ()
  }

  // rows come straight off the engine's own plan as InternalRow
  // (toRdd); declaring no conversion skips the Row round-trip a V1
  // relation would otherwise pay per row
  override def needConversion: Boolean = false

  /** Manifest-derived table size — the statistic that lets Catalyst
    * AUTO-BROADCAST a small lake dim in a lake⋈lake join. Without the
    * override BaseRelation reports `spark.sql.defaultSizeInBytes`
    * (Long.MaxValue), and every such join plans a full shuffle at any
    * scale. Metadata-priced (`_bytes` annotations, no data read) and
    * scaled by `spark.sql.sources.fileCompressionFactor` exactly like
    * Spark's own HadoopFsRelation; floored at 1 so an empty table
    * never reports 0 (the "unknown" sentinel some rules special-case).
    */
  override lazy val sizeInBytes: Long = {
    val (bytes, _) = SnapshotTable.tableStats(spark, root,
      if (version < 0) SnapshotTable.currentVersion(spark, root) else version)
    math.max(1L,
      (bytes * spark.sessionState.conf.fileCompressionFactor).toLong)
  }

  override def unhandledFilters(filters: Array[Filter]): Array[Filter] = filters

  override def buildScan(
      requiredColumns: Array[String], filters: Array[Filter]): RDD[Row] = {
    val pred = filters.toSeq.flatMap(GraftSnapshotRelation.toColumn)
      .reduceOption(_ && _)
    val base = pred match {
      case Some(p) => SnapshotTable.readWhere(spark, root, p, version)
      case None => SnapshotTable.read(spark, root, version)
    }
    // observability hook (spec-pinned): how many files the pruned scan
    // actually opens. Opt-in — the inputFiles listing is metadata-sized
    // but not free, and production scans shouldn't pay it — and keyed
    // by root so concurrent scans of DIFFERENT tables don't clobber
    // each other's reading.
    if (GraftSnapshotRelation.recordScans)
      GraftSnapshotRelation.scanFiles.put(
        GraftSnapshotRelation.scanKey(root), base.inputFiles.length)
    val projected =
      if (requiredColumns.isEmpty) base.select() // count(*)-style scan
      else base.select(requiredColumns.map(col).toIndexedSeq: _*)
    projected.queryExecution.toRdd.asInstanceOf[RDD[Row]]
  }
}

object GraftSnapshotRelation {

  /** Files opened by the most recent buildScan PER TABLE ROOT — the
    * spec's window onto whether pushed filters reached the manifest
    * prune. Recorded only while [[recordScans]] is on; test/entry
    * observability only, never consulted by the engine. (Two
    * concurrent scans of the SAME root still race on their own entry
    * — the pruning pins each use a root unique to that check.)
    */
  private[graft] val scanFiles =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  @volatile private[graft] var recordScans: Boolean = false

  // scheme-insensitive key: the SQL catalog qualifies an OPTIONS path
  // to `file:/…` while callers hold the raw `/…` string — both must
  // land on the same entry (authority collisions don't matter for a
  // test-only observation map)
  private[graft] def scanKey(root: String): String =
    new org.apache.hadoop.fs.Path(root).toUri.getPath

  private[graft] def lastScanFilesFor(root: String): Int =
    Option(scanFiles.get(scanKey(root))).fold(-1)(_.intValue)

  /** Source Filter → Column, for pruning. `None` = shape we don't
    * translate (it then simply doesn't prune; Spark still applies it
    * above the scan).
    */
  private[graft] def toColumn(f: Filter): Option[Column] = translate(f).map(_._1)

  /** Exact-only translation — for consumers where a WEAKENED
    * predicate is unsound (SQL DELETE: weaker = deletes more rows
    * than requested), unlike file pruning where it only over-scans.
    */
  private[graft] def translateExact(f: Filter): Option[Column] =
    translate(f).collect { case (c, true) => c }

  /** Filter → (Column, exact). `exact = false` marks a deliberately
    * WEAKER translation (an AND that kept only the sides that
    * translate) — sound for pruning, since a weaker predicate only
    * keeps extra files, but NOT negatable: `Not` of a weakened child
    * is STRONGER than `Not` of the original (e.g. `Not(And(a, b))`
    * with `b` untranslatable would become `Not(a)`, pruning files
    * whose rows satisfy `a && !b`), and rows a file-level prune drops
    * are gone — Spark's re-filter above the scan can't resurrect
    * them. So `Not` translates only an EXACT child, and `Or`/`And`
    * propagate exactness for nested `Not`s.
    */
  private[graft] def translate(f: Filter): Option[(Column, Boolean)] = f match {
    case EqualTo(a, v) => Some((col(a) === lit(v), true))
    case EqualNullSafe(a, v) => Some((col(a) <=> lit(v), true))
    case GreaterThan(a, v) => Some((col(a) > lit(v), true))
    case GreaterThanOrEqual(a, v) => Some((col(a) >= lit(v), true))
    case LessThan(a, v) => Some((col(a) < lit(v), true))
    case LessThanOrEqual(a, v) => Some((col(a) <= lit(v), true))
    case In(a, vs) => Some((col(a).isin(vs.toIndexedSeq: _*), true))
    case IsNull(a) => Some((col(a).isNull, true))
    case IsNotNull(a) => Some((col(a).isNotNull, true))
    case StringStartsWith(a, v) => Some((col(a).startsWith(v), true))
    case StringEndsWith(a, v) => Some((col(a).endsWith(v), true))
    case StringContains(a, v) => Some((col(a).contains(v), true))
    case And(l, r) =>
      (translate(l), translate(r)) match {
        case (Some((lc, le)), Some((rc, re))) => Some((lc && rc, le && re))
        case (Some((lc, _)), None) => Some((lc, false))
        case (None, Some((rc, _))) => Some((rc, false))
        case (None, None) => None
      }
    case Or(l, r) => // weakened sides stay sound: l ⇒ lc, r ⇒ rc gives l∨r ⇒ lc∨rc
      for ((lc, le) <- translate(l); (rc, re) <- translate(r))
        yield (lc || rc, le && re)
    case Not(c) => translate(c).collect { case (cc, true) => (!cc, true) }
    // DELETE FROM t (no WHERE) reaches SupportsDelete as AlwaysTrue
    case _: AlwaysTrue => Some((lit(true), true))
    case _: AlwaysFalse => Some((lit(false), true))
    case _ => None
  }
}

/** Relation over a driver-built metadata DataFrame — serves the
  * Iceberg-style inspection tables (`$files`, `$history`) through the
  * same format.
  */
private[streaming] class DataFrameRelation(
    @transient override val sqlContext: SQLContext, df: DataFrame)
  extends BaseRelation with TableScan {
  override lazy val schema: StructType = df.schema
  override def needConversion: Boolean = false
  override def buildScan(): RDD[Row] =
    df.queryExecution.toRdd.asInstanceOf[RDD[Row]]
}

/** `format("graft-snapshot")` registration (META-INF service file).
  * Streaming: the CDC source above. Batch read:
  * [[GraftSnapshotRelation]], with time travel via
  * `.option("version", n)` or `.option("timestamp_ms", epochMillis)`,
  * and Iceberg-style INSPECTION tables via `.option("metadata",
  * "files" | "history")` — per-file rows/sequence/partition straight
  * off the manifest annotations, per-version op/instant/row-count off
  * the headers (all metadata-sized; no data file is opened). Batch
  * write: `df.write.format("graft-snapshot")` with the standard
  * SaveModes (Append = concurrency-safe commitAppend, Overwrite = new
  * full snapshot with history intact).
  */
class SnapshotSourceProvider extends StreamSourceProvider with DataSourceRegister
    with RelationProvider with CreatableRelationProvider {

  override def shortName(): String = "graft-snapshot"

  private def rootOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path",
      throw new IllegalArgumentException("graft-snapshot requires .option(\"path\", <table root>)"))

  override def createRelation(
      sqlContext: SQLContext, parameters: Map[String, String]): BaseRelation = {
    val root = rootOf(parameters)
    val s = sqlContext.sparkSession
    val version = parameters.get("version").map(_.trim.toInt)
      .orElse(parameters.get("timestamp_ms").map { raw =>
        val ts = raw.trim.toLong
        val cur = SnapshotTable.currentVersion(s, root)
        (1 to cur).filter(SnapshotTable.version(s, root, _).committedAt <= ts)
          .maxOption.getOrElse(throw new IllegalArgumentException(
            s"no version of $root committed at or before $ts"))
      })
      .getOrElse(-1)
    parameters.get("metadata") match {
      case Some("files") =>
        new DataFrameRelation(sqlContext,
          SnapshotSourceProvider.filesMeta(s, root, version))
      case Some("history") =>
        new DataFrameRelation(sqlContext,
          SnapshotSourceProvider.historyMeta(s, root))
      case Some(other) => throw new IllegalArgumentException(
        s"unknown metadata table: $other (files | history)")
      case None => new GraftSnapshotRelation(sqlContext, root, version)
    }
  }

  override def createRelation(
      sqlContext: SQLContext, mode: org.apache.spark.sql.SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val root = rootOf(parameters)
    val s = sqlContext.sparkSession
    val cur = SnapshotTable.currentVersion(s, root)
    import org.apache.spark.sql.SaveMode._
    mode match {
      case Append => SnapshotTable.commitAppend(s, root, data); ()
      case Overwrite => SnapshotTable.commit(s, root, data, append = false); ()
      case ErrorIfExists =>
        if (cur > 0) throw new IllegalStateException(
          s"snapshot table already exists at $root (version $cur)")
        SnapshotTable.commit(s, root, data); ()
      case Ignore => if (cur == 0) { SnapshotTable.commit(s, root, data); () }
    }
    new GraftSnapshotRelation(sqlContext, root, -1)
  }

  override def sourceSchema(
      sqlContext: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) =
    (shortName(), schema.getOrElse(
      SnapshotSource.changeSchema(sqlContext.sparkSession, rootOf(parameters))))

  override def createSource(
      sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val root = rootOf(parameters)
    new SnapshotSource(sqlContext, root,
      schema.getOrElse(SnapshotSource.changeSchema(sqlContext.sparkSession, root)))
  }
}

object SnapshotSourceProvider {
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.types.LongType

  /** Iceberg `table$files`: one row per live data file of the chosen
    * version, values straight off the manifest annotations — no data
    * file is opened. `partition` is the file's day annotation as
    * written ([[graft.lake.Manifest.Entry.partition]]) or null.
    */
  private[streaming] def filesMeta(
      s: SparkSession, root: String, version: Int): DataFrame = {
    val v = if (version < 0) SnapshotTable.currentVersion(s, root) else version
    val rows = SnapshotTable.version(s, root, v).dataEntries.map { e =>
      Row(e.path, e.rowsOpt.getOrElse(-1L), e.bytesOpt.getOrElse(-1L), e.seq, e.partition.orNull)
    }
    import scala.jdk.CollectionConverters._
    s.createDataFrame(rows.asJava, StructType(Seq(
      StructField("file", StringType, nullable = false),
      StructField("rows", LongType, nullable = false),
      StructField("size", LongType, nullable = false),
      StructField("seq", LongType, nullable = false),
      StructField("partition", StringType, nullable = true))))
  }

  /** Iceberg `table$history`/`$snapshots`: one row per version —
    * commit instant, recorded op, and the version's visible row count
    * (from the `_rows` annotations; metadata-only unless equality
    * deletes force the documented fallback count).
    */
  private[streaming] def historyMeta(s: SparkSession, root: String): DataFrame = {
    val cur = SnapshotTable.currentVersion(s, root)
    val rows = (1 to cur).map { v =>
      val mv = SnapshotTable.version(s, root, v)
      Row(v.toLong, mv.committedAt, mv.header.getOrElse("op", ""),
        SnapshotTable.recordCount(s, root, v))
    }
    import scala.jdk.CollectionConverters._
    s.createDataFrame(rows.asJava, StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("committed_at", LongType, nullable = false),
      StructField("op", StringType, nullable = false),
      StructField("n_rows", LongType, nullable = false))))
  }
}
