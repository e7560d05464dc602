package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

import graft.lake.SnapshotTable

/** Lake data files always carry INT64 TIMESTAMP(MICROS) timestamps, so
  * min/max stats can skip on them. GraftSession pre-sets that output
  * type; a user session that did not (Spark's default is INT96) takes
  * the locked branch of `writingMicrosTimestamps`, which sets MICROS
  * for the write and restores the session's own value afterwards.
  */
class TimestampToggleSpec extends SparkSpec {

  private val key = "spark.sql.parquet.outputTimestampType"

  private def tsFooterType(file: String): (PrimitiveTypeName, String) = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new Path(file), spark.sparkContext.hadoopConfiguration))
    try {
      val schema = reader.getFooter.getFileMetaData.getSchema
      val ts = schema.getType(schema.getFieldIndex("ts")).asPrimitiveType()
      (ts.getPrimitiveTypeName, String.valueOf(ts.getLogicalTypeAnnotation))
    } finally reader.close()
  }

  test("commits on an INT96 session write MICROS footers and restore INT96") {
    val user = spark.newSession()
    user.conf.set(key, "INT96")
    // built on the user session: a write runs under its frame's session
    val df = user.createDataFrame(Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00")),
      (2L, java.sql.Timestamp.valueOf("2024-01-02 11:00:00")))).toDF("id", "ts")
    val plain = "/tmp/graft_test/ts_toggle_plain"
    val byDay = "/tmp/graft_test/ts_toggle_by_day"
    Seq(plain, byDay).foreach(SnapshotTable.drop(user, _))
    SnapshotTable.commit(user, plain, df)
    SnapshotTable.commitPartitionedByDay(user, byDay, df, "ts")
    Seq(plain, byDay).foreach { root =>
      val files = SnapshotTable.dataFiles(user, root, 1)
      assert(files.nonEmpty, root)
      files.foreach { f =>
        assert(tsFooterType(f) === ((PrimitiveTypeName.INT64, "TIMESTAMP(MICROS,true)")), f)
      }
      assert(SnapshotTable.read(user, root).count() === 2)
    }
    assert(user.conf.get(key) === "INT96", "the session's own output type must come back")
    assert(spark.conf.get(key) === "TIMESTAMP_MICROS")
  }
}
