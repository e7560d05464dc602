package graft.sources

import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import graft.lake.SnapshotTable
import graft.streaming.GraftSnapshotRelation

/** Group-based COPY-ON-WRITE row-level operation — what puts UPDATE
  * and MERGE INTO (and DELETE with predicates the metadata path can't
  * translate, e.g. subqueries) behind plain SQL on catalog tables,
  * the way Trino runs them on Iceberg (reference RUNBOOK.md §7):
  *
  * {{{
  *   UPDATE glake.lake.t SET price = price * 2 WHERE region = 'EU'
  *   MERGE INTO glake.lake.t USING src ON t.id = src.id
  *     WHEN MATCHED THEN UPDATE SET ...
  *     WHEN NOT MATCHED THEN INSERT ...
  * }}}
  *
  * Spark's own rewrite rules (RewriteUpdateTable / RewriteMergeIntoTable /
  * RewriteDeleteFromTable) plan the operation: they read affected
  * GROUPS (files) through [[newScanBuilder]]'s scan, compute the full
  * replacement row set, and hand it to [[newWriteBuilder]]'s write.
  * The contract that makes this correct: the scan returns EVERY row
  * of every file it reads (a row the scan drops is a row the commit
  * deletes), and the commit replaces EXACTLY the scanned files.
  *
  * Scale shape (the Iceberg COW shape):
  *  - the scan is Spark's OWN vectorized [[ParquetScanBuilder]] scan
  *    over the candidate file list — whole-stage codegen, no
  *    per-row interpretation; candidates come from the engine's
  *    manifest pruning ([[SnapshotTable.candidateDataFiles]]), so a
  *    selective UPDATE on a stats/partition-annotated table reads a
  *    handful of files, not the table. Pushed filters select FILES
  *    only — they are never forwarded as parquet row filters, which
  *    would silently delete the filtered-out rows;
  *  - replacement rows are written by EXECUTOR-side parquet writers
  *    ([[GraftParquetDataWriter]] via Spark's ParquetWriteSupport —
  *    INT64-micros timestamps like every engine write), no
  *    driver-side materialization;
  *  - the commit ([[SnapshotTable.publishReplaceFiles]]) re-lists
  *    untouched manifest fragments verbatim and swaps only the
  *    scanned files for the new ones — metadata I/O O(touched), and
  *    optimistic: a concurrent commit to the same table wins the
  *    version slot and this commit fails loudly instead of silently
  *    dropping it.
  *
  * Tables whose raw files are NOT the logical view (pending MoR
  * deletes, column mapping, type overrides) are rejected up front
  * with guidance ([[SnapshotTable.sqlRowLevelBlocker]]); translatable
  * DELETEs never reach this path (the SupportsDelete metadata route
  * rides the engine's own CoW/MoR, which handles those tables fully).
  */
private[graft] class GraftRowLevelOperation(
    root: String, cmd: RowLevelOperation.Command, tableSchema: StructType)
  extends RowLevelOperation {

  private def spark: SparkSession = SparkSession.active

  /** Version pinned at operation creation: the scan plans against it
    * and the commit targets its successor, so a racing writer
    * surfaces as a version conflict, never as lost rows.
    */
  private[sources] val version: Int = SnapshotTable.currentVersion(spark, root)

  /** Files the scan planned — exactly the set the commit replaces. */
  @volatile private[sources] var scannedFiles: Seq[String] = Seq.empty

  override def command(): RowLevelOperation.Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // checked here, not at construction: the operation is built
    // eagerly at ANALYSIS for every DELETE too, including ones the
    // optimizer then routes to the SupportsDelete metadata path
    // (which reads through the logical view and handles these
    // tables fully) — only an actual group-based scan needs raw
    // files to equal the logical table
    SnapshotTable.sqlRowLevelBlocker(spark, root, version).foreach { why =>
      throw new UnsupportedOperationException(
        s"SQL ${cmd.name()} cannot run on $root: $why")
    }
    new GraftCowScanBuilder(this, root, tableSchema)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write =
        new GraftReplaceWrite(GraftRowLevelOperation.this, root, info.schema())
    }

  override def description(): String = s"graft-cow-${cmd.name().toLowerCase}"
}

/** Scan builder for the COW operation: pushed filters prune candidate
  * FILES through the manifest (weakened translation is sound — it
  * can only over-include, i.e. rewrite a file unchanged) and are all
  * returned as residual, so Spark's plan keeps the real row-level
  * condition. The built scan is Spark's vectorized parquet Batch
  * over exactly the candidate list, which is recorded on the
  * operation for the commit.
  */
private class GraftCowScanBuilder(
    op: GraftRowLevelOperation, root: String, schema: StructType)
  extends ScanBuilder with SupportsPushDownFilters {

  private var filters: Array[Filter] = Array.empty

  override def pushFilters(fs: Array[Filter]): Array[Filter] = { filters = fs; fs }
  override def pushedFilters(): Array[Filter] = Array.empty

  override def build(): Scan = {
    val spark = SparkSession.active
    val pred = filters.toSeq.flatMap(GraftSnapshotRelation.toColumn)
      .reduceOption(_ && _)
    val candidates = SnapshotTable.candidateDataFiles(spark, root, pred, op.version)
    op.scannedFiles = candidates
    val index = new InMemoryFileIndex(
      spark, candidates.map(new Path(_)), Map.empty, Some(schema))
    // no filters pushed into the parquet builder: row-group skipping
    // there would DELETE the skipped rows from the rewrite
    ParquetScanBuilder(spark, index, schema, schema,
      CaseInsensitiveStringMap.empty).build()
  }
}

/** The replace-files write: executor-side parquet data writers, one
  * commit that swaps the scanned files for the written ones.
  */
private class GraftReplaceWrite(
    op: GraftRowLevelOperation, root: String, writeSchema: StructType) extends Write {

  override def toBatch: BatchWrite = new BatchWrite {
    private val dir = s"$root/data/rlw-${UUID.randomUUID().toString.take(8)}"

    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
      val spark = SparkSession.active
      val conf = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
      // stamp persistent Iceberg field ids so the rewritten parquet
      // footers are self-describing to external engines (the factory
      // already enables PARQUET_FIELD_ID_WRITE)
      new GraftParquetWriterFactory(
        SnapshotTable.withFieldIdMetadata(spark, root, op.version, writeSchema),
        conf, dir)
    }

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val added = messages.collect { case m: GraftWrittenFiles => m.paths }.flatten.toSeq
      SnapshotTable.publishReplaceFiles(
        SparkSession.active, root, op.version,
        removed = op.scannedFiles, added = added,
        meta = Map("op" -> s"sql_${op.command().name().toLowerCase}",
          "rewrote" -> op.scannedFiles.size.toString))
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit = {
      val spark = SparkSession.active
      val p = new Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) { fs.delete(p, true); () }
    }
  }
}

private case class GraftWrittenFiles(paths: Seq[String]) extends WriterCommitMessage

/** Driver-side single-file parquet writer for METADATA-SIZED frames
  * (the persistent-catalog registry: one row per table). A
  * distributed write of ten rows pays a whole Spark job — scheduling,
  * a task, the commit protocol — ~0.2-0.3 s for ~10 ms of actual
  * parquet I/O; with the REST handlers re-saving the registry after
  * every wire DDL, those jobs were a visible slice of the catalog
  * entries (opt guide §1.2 step 2). Writes through the SAME
  * ParquetWriteSupport + conf the executor-side engine writers use,
  * so footer physics (micros timestamps, Spark schema metadata,
  * CORRECTED rebase) are identical to a distributed write.
  */
private[graft] object GraftDriverParquet {
  /** A SNAPPY parquet writer of `schema` rows at `path`, through
    * ParquetWriteSupport with the engine's parquet physics set on a
    * copy of `base`.
    */
  def writer(base: Configuration, schema: StructType, path: Path): ParquetWriter[InternalRow] = {
    val hconf = new Configuration(base)
    ParquetWriteSupport.setSchema(schema, hconf)
    hconf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key, "false")
    hconf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key, "TIMESTAMP_MICROS")
    hconf.set(SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key, "CORRECTED")
    hconf.set(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key, "CORRECTED")
    hconf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key, "true")
    hconf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key, "true")
    new ParquetRowWriterBuilder(path, hconf).withConf(hconf)
      .withCompressionCodec(CompressionCodecName.SNAPPY).build()
  }

  def writeRows(s: SparkSession, schema: StructType,
      rows: Seq[org.apache.spark.sql.Row], path: String): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p.getParent)) { fs.mkdirs(p.getParent); () }
    val out = writer(s.sparkContext.hadoopConfiguration, schema, p)
    val toCatalyst = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToCatalystConverter(schema)
    try rows.foreach(r => out.write(toCatalyst(r).asInstanceOf[InternalRow]))
    finally out.close()
  }
}

/** Factory shipped to executors: each task writes one parquet file
  * (or nothing, when its partition is empty) under the write's
  * unique data dir, through Spark's own ParquetWriteSupport with the
  * same parquet physics as driver-side engine writes — INT64-micros
  * timestamps (never INT96, which has no usable footer min/max for
  * stats skipping), no legacy format, proleptic dates.
  */
private class GraftParquetWriterFactory(
    schema: StructType, conf: SerializableConfiguration, dir: String)
  extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    val path = new Path(f"$dir/part-$partitionId%05d-$taskId.parquet")
    new GraftParquetDataWriter(path, conf.value, schema)
  }
}

private class GraftParquetDataWriter(path: Path, conf: Configuration, schema: StructType)
  extends DataWriter[InternalRow] {

  private val writer: ParquetWriter[InternalRow] = GraftDriverParquet.writer(conf, schema, path)
  private var rows = 0L

  // Spark's group-based rewrite prepends an int `__row_operation`
  // column to every replacement row, and ReplaceDataExec strips it
  // only when the operation declares required metadata attributes
  // (DataAndMetadataWritingSparkTask); with none declared the raw
  // [op | data] rows reach the writer. Detect the shape on the first
  // row and strip through a codegen'd projection — and stay correct
  // if a future Spark applies the projection itself.
  private var decided = false
  private var strip: org.apache.spark.sql.catalyst.expressions.UnsafeProjection = _

  override def write(row: InternalRow): Unit = {
    if (!decided) {
      decided = true
      if (row.numFields == schema.length + 1) {
        val op = row.getInt(0)
        require(op >= 1 && op <= 6,
          s"unexpected leading column (value $op) in a ${schema.length}-field replace write")
        strip = org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(
          schema.fields.indices.map(i =>
            org.apache.spark.sql.catalyst.expressions.BoundReference(
              i + 1, schema(i).dataType, nullable = true)))
      } else require(row.numFields == schema.length,
        s"replace write row has ${row.numFields} fields, schema has ${schema.length}")
    }
    writer.write(if (strip != null) strip(row) else row)
    rows += 1
  }

  override def commit(): WriterCommitMessage = {
    writer.close()
    if (rows == 0L) { // empty partition: no zero-row files in the manifest
      path.getFileSystem(conf).delete(path, false)
      GraftWrittenFiles(Seq.empty)
    } else GraftWrittenFiles(Seq(path.toString))
  }

  override def abort(): Unit = {
    try writer.close() catch { case _: Exception => () }
    path.getFileSystem(conf).delete(path, false); ()
  }

  override def close(): Unit = ()
}

private class ParquetRowWriterBuilder(path: Path, conf: Configuration)
  extends ParquetWriter.Builder[InternalRow, ParquetRowWriterBuilder](
    HadoopOutputFile.fromPath(path, conf)) {
  override def self(): ParquetRowWriterBuilder = this
  override def getWriteSupport(c: Configuration): WriteSupport[InternalRow] =
    new ParquetWriteSupport
}
