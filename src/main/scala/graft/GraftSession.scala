package graft

import org.apache.spark.sql.SparkSession

/** The one session config graft runs under: Bench times it, Verify
  * checks it against the oracle, the dev tools and the test suites
  * build it. Lake commits on it take the lock-free path of
  * `SnapshotTable.writingMicrosTimestamps`, because parquet timestamps
  * are MICROS from the start.
  */
object GraftSession {

  /** `$SPARK_GRAFT_CPUS`, else every core of the box. */
  private def defaultCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  def build(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      // the JDBC endpoint serves clients from this session, so its
      // temp views stay visible to them (see SqlEndpoint.start)
      .config("spark.sql.hive.thriftServer.singleSession", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
