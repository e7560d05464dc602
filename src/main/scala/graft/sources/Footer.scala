package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** The one reader of parquet footers: every footer open in the engine
  * goes through [[read]], so a caller that needs several facts of one
  * file (its schema, row count, size, column statistics) opens it once.
  *
  * Driver-side schema probes ([[schemaOf]]):
  *
  * `s.read.parquet(f).schema` schedules a 1-task schema-inference JOB
  * even for a single file — ~25-50 ms of scheduling latency per probe
  * against ~2 ms of actual footer I/O. The operation-shaped entries
  * (lake_*, catalog_*) probe schemas dozens of times each, so the
  * probes alone were a visible slice of their wall time (opt guide
  * §1.2 step 2 / §7.3: driver-side work shows up as gaps between
  * jobs). This helper reads the footer directly on the driver and
  * reproduces what inference returns:
  *
  *  - a Spark-written file carries the original Spark schema JSON in
  *    its footer metadata (`org.apache.spark.sql.parquet.row.metadata`)
  *    — inference returns THAT, so we do too (exact logical types
  *    across timestamp/NTZ variants);
  *  - otherwise the parquet MessageType converts through Spark's own
  *    [[ParquetToSparkSchemaConverter]] honoring the session SQLConf
  *    (binaryAsString, int96AsTimestamp, NTZ inference, nanosAsLong);
  *  - file-source relations force every field nullable, so the result
  *    is deep-nullable like an inferred schema.
  */
object Footer {

  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  private def toNullable(dt: DataType): DataType = dt match {
    case st: StructType => StructType(st.map(f =>
      f.copy(dataType = toNullable(f.dataType), nullable = true)))
    case at: ArrayType => at.copy(elementType = toNullable(at.elementType),
      containsNull = true)
    case mt: MapType => mt.copy(keyType = toNullable(mt.keyType),
      valueType = toNullable(mt.valueType), valueContainsNull = true)
    case other => other
  }

  /** What one footer read of a parquet file yields: the file's byte
    * length and its parsed footer (schema, key-value metadata, row
    * groups with their column statistics).
    */
  final class Facts(val bytes: Long, val footer: ParquetMetadata) {
    def rows: Long = footer.getBlocks.asScala.iterator.map(_.getRowCount).sum
    def parquetSchema: MessageType = footer.getFileMetaData.getSchema
  }

  /** Open `file`'s footer once. */
  def read(conf: Configuration, file: String): Facts = {
    val in = HadoopInputFile.fromPath(new Path(file), conf)
    val r = ParquetFileReader.open(in)
    try new Facts(in.getLength, r.getFooter)
    finally r.close()
  }

  /** Spark schema of one parquet file OR directory-shaped table (a
    * Spark-written table is a dir of uniform-schema part files — one
    * leaf's footer is exactly what no-mergeSchema inference reads),
    * footer-only, no Spark job.
    */
  def schemaOf(s: SparkSession, file: String): StructType = {
    val conf = s.sparkContext.hadoopConfiguration
    val p0 = new Path(file)
    val fs = p0.getFileSystem(conf)
    val leaf =
      if (!fs.getFileStatus(p0).isDirectory) p0
      else fs.listStatus(p0).map(_.getPath)
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
        .headOption.getOrElse(
          throw new IllegalArgumentException(s"no parquet leaves under $file"))
    sparkSchema(s, read(conf, leaf.toString))
  }

  /** The Spark schema inference derives from an already-read footer. */
  def sparkSchema(s: SparkSession, facts: Facts): StructType = {
    val meta = facts.footer.getFileMetaData
    val fromMeta = Option(meta.getKeyValueMetaData.get(SparkSchemaKey)).flatMap { json =>
      try Some(DataType.fromJson(json).asInstanceOf[StructType])
      catch { case scala.util.control.NonFatal(_) => None }
    }
    val raw = fromMeta.getOrElse(
      new ParquetToSparkSchemaConverter(s.sessionState.conf).convert(meta.getSchema))
    toNullable(raw).asInstanceOf[StructType]
  }
}
