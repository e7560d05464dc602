package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB oracle compare. Runs on the same
  * GraftSession config that Bench times.
  *
  * Usage: Verify <sfDir> <outDir> [name…] — with names, only the
  * entries whose name contains any of them run (dev loop).
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val nameFilters = args.drop(2).toSeq
    val spark = GraftSession.build()
    new java.io.File(outDir).mkdirs()
    var failures = 0
    SparkEntry.queries
      .filter { case (name, _) => nameFilters.isEmpty || nameFilters.exists(name.contains) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failures += 1
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    if (failures > 0)
      System.err.println(s"[verify] $failures quer${if (failures == 1) "y" else "ies"} FAILED (absent from $outDir → driver records them as failing)")
    // every control char escaped: a tab or CR in an oracle's SQL would
    // otherwise make the reader's json.load fail and zero the check
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.jstr(k)}: ${Json.jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
