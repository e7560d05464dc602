package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** VERDICT r16 task 7: one entry's fatal executor loss (OOM stops a
  * local-mode SparkContext) must not truncate the whole sweep — the
  * r16 sf5 artifact lost every entry after one OOM. Forks a REAL
  * `graft.Bench` JVM with a planted context-killing entry and asserts
  * the bench records err:1 for it, RESTARTS the session, and still
  * measures the remaining entries.
  */
class BenchResilienceSpec extends AnyFunSuite {

  test("a context-killing entry records err:1 and the sweep still measures the rest") {
    val outDir = "/tmp/graft_bench_resilience"
    val out = Paths.get(outDir)
    if (Files.exists(out))
      Files.walk(out).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { Files.delete(p); () })
    Files.createDirectories(out)
    val (code, log) = ForkedJvm.start("graft.Bench", Nil, Map(
      "SPARK_GRAFT_SF_DIR" -> "/root/testdata/sf0.001",
      "SPARK_GRAFT_CPUS" -> "4",
      "SPARK_GRAFT_BENCH_REPS" -> "1",
      "SPARK_GRAFT_BENCH_PLANT" -> "die",
      "SPARK_GRAFT_BENCH_ONLY" ->
        "^(_planted_die|q01_pricing_summary|q06_revenue_filter)$",
      "SPARK_GRAFT_OUT_DIR" -> outDir)).await(600)
    // a sweep with failures exits nonzero — by design, not a crash
    assert(code == 1, s"bench exit $code; tail: ${log.takeRight(1500)}")
    val full = Files.readString(Paths.get(outDir, "bench_full.json"))
    assert(full.contains("\"errors\":1"), full.take(800))
    assert(full.contains("\"restarts\":1"), full.take(800))
    assert(full.contains("\"_planted_die\":"), s"errored map must name the entry: $full")
    // the entries AFTER the context death still measured real times
    // (parse the queries block only — the spread block holds 0.000s)
    val qBlock = "\"queries\":\\{([^}]*)\\}".r
      .findFirstMatchIn(full).map(_.group(1)).getOrElse("")
    val q = "\"(q01_pricing_summary|q06_revenue_filter)\":([0-9.]+)".r
    val measured = q.findAllMatchIn(qBlock).map(m => m.group(1) -> m.group(2).toDouble).toMap
    assert(measured.keySet === Set("q01_pricing_summary", "q06_revenue_filter"), full)
    assert(measured.values.forall(_ > 0.0), full)
    assert(log.contains("restarting the session"), log.takeRight(1500))
  }
}
