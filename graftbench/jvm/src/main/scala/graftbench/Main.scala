package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One closed-loop op: `run` is the timed part; `check` runs after the
  * clock stops and returns an error when the result is wrong. Kinds are
  * `read`, `write`, `maintain` and `stale` (a replay that must be refused).
  */
final case class Op(kind: String, name: String, run: () => Any,
    check: Any => Option[String] = _ => None, rows: Long = 0L)

/** What a workload sees: the session, the tracer, and where to put things. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val nproc: Int,
    val seed: Long, val inputs: String, val work: String) {
  /** Time a call into an engine layer as a child span of the current op. */
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
  def traced: Boolean = tracer.on
  /** Per-op counts recorded at layer boundaries (traced ops only). */
  val attrs = scala.collection.mutable.LinkedHashMap.empty[String, Any]
}

trait Workload {
  /** Build this workload's tables and state under `root` in a fresh session. */
  def setup(ctx: Ctx, root: String): Unit
  /** Runs at the end of every set-up, so each set-up is timed alike. */
  def warmup(ctx: Ctx): Unit
  /** The i-th op of the closed loop (i counts from 0). */
  def op(ctx: Ctx, i: Int): Op
  /** Length of the fixed op schedule; latency and throughput are taken
    * over its first [[cyclesMeasured]] whole cycles. */
  def cycleOps: Int
  def cyclesMeasured: Int
  /** A plausible but wrong version of `result`, which `check` must refuse.
    * Used only by `--wrong-op`, to show a wrong result counts as a failure. */
  def wrong(result: Any): Any
  /** Input sizes, workload-level metrics and end-of-run checks. */
  def finish(ctx: Ctx): Map[String, Any]
}

/** Harness entry point. Builds a `local[nproc]` session, sets the
  * workload up `--setups` times (each in a fresh session and a fresh
  * scratch root, warm-up included, timing each), then drives one client
  * thread through a closed loop and writes every op, the provenance and
  * (with `--trace 1`) the trace to `--out` as JSON.
  *
  * The loop runs for `--seconds`, and past them until the measured whole
  * cycles have finished, so every run times the same op mix.
  *
  * With `--trace 1` even-numbered ops are traced and odd ones are not, so
  * the same run yields the tracing overhead; the loop then runs at least
  * twice the measured ops, so every op name of a one-op or odd-length
  * cycle has a traced and an untraced run.
  */
object Main {
  private def arg(args: Array[String], k: String, dflt: String): String = {
    val i = args.indexOf(s"--$k")
    if (i >= 0 && i + 1 < args.length) args(i + 1) else dflt
  }

  val sessionConf: Seq[(String, String)] = Seq(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.ui.enabled" -> "false",
    "spark.ui.showConsoleProgress" -> "false")

  def session(nproc: Int, work: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
    val spark = sessionConf.foldLeft(b) { case (acc, (k, v)) => acc.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def closeSession(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def workload(name: String): Workload = name match {
    case "lake_ingest" => new LakeIngest
    case "dedup_corpus" => new DedupCorpus
    case "catalog_rest" => new CatalogRest
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime max 0L).sum

  private def cpuNanos: Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  private def peakRssMb: Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
    line.map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
  }

  def main(args: Array[String]): Unit = {
    val name = arg(args, "workload", "")
    val seed = arg(args, "seed", "1").toLong
    val seconds = arg(args, "seconds", "10").toDouble
    val trace = arg(args, "trace", "0") == "1"
    val nproc = arg(args, "nproc", Runtime.getRuntime.availableProcessors.toString).toInt
    val setups = arg(args, "setups", "3").toInt
    val inputs = arg(args, "inputs", "")
    val work = arg(args, "work", "")
    val out = arg(args, "out", "")
    // seconds the caller spent generating each set-up's inputs
    val genSecs = arg(args, "gen-s", "").split(",").filter(_.nonEmpty).map(_.toDouble).toSeq
    // the op whose result is replaced by a wrong one before its check (self-test only)
    val wrongOp = arg(args, "wrong-op", "-1").toInt
    val wl = workload(name)
    val tracer = new Tracer
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    // ---- set-up, repeated in fresh sessions and fresh roots ----------
    val setupSecs = ArrayBuffer.empty[Double]
    var ctx: Ctx = null
    for (rep <- 0 until setups) {
      val t0 = System.nanoTime()
      if (ctx != null) closeSession(ctx.spark)
      val spark = session(nproc, work)
      ctx = new Ctx(spark, tracer, nproc, seed, inputs, work)
      wl.setup(ctx, s"$work/root$rep")
      wl.warmup(ctx)
      // the first set-up runs from JVM start, so it also pays class loading
      val jvmPart =
        if (rep == 0) (System.currentTimeMillis() - jvmStartMs) / 1e3
        else (System.nanoTime() - t0) / 1e9
      setupSecs += jvmPart + genSecs.lift(rep).getOrElse(0.0)
    }
    val spark = ctx.spark
    val firstOpEpochMs = System.currentTimeMillis()

    // ---- the closed loop --------------------------------------------
    val ops = ArrayBuffer.empty[Map[String, Any]]
    val loopT0 = Clock.now
    val cpu0 = cpuNanos
    val gc0 = gcMillis
    var checkNs = 0L
    var i = 0
    val deadline = loopT0 + (seconds * 1e9).toLong
    val minOps = wl.cycleOps * wl.cyclesMeasured * (if (trace) 2 else 1)
    // checks run off the clock, so they do not shorten the measured time
    while (i < minOps || Clock.now - checkNs < deadline) {
      val wantTrace = trace && i % 2 == 0
      if (wantTrace != tracer.on) {
        if (wantTrace) tracer.start(spark) else tracer.stop(spark)
      }
      val op = wl.op(ctx, i)
      ctx.attrs.clear()
      tracer.beginOp(i)
      spark.sparkContext.setJobGroup(s"op-$i", op.name, interruptOnCancel = false)
      val gcBefore = gcMillis
      val cpuBefore = cpuNanos
      val t0 = Clock.now
      var err: Option[String] = None
      var result: Any = null
      try result = tracer.span(s"op.${op.name}")(op.run())
      catch { case e: Throwable =>
        err = Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
          .replaceAll("\\s+", " ").take(300))
      }
      val t1 = Clock.now
      val cpuNs = cpuNanos - cpuBefore
      val gcMs = gcMillis - gcBefore
      spark.sparkContext.clearJobGroup()
      if (i == wrongOp && err.isEmpty) result = wl.wrong(result)
      val c0 = Clock.now
      if (err.isEmpty) {
        err = try op.check(result) catch { case e: Throwable =>
          Some(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
      }
      val t2 = Clock.now
      checkNs += t2 - c0
      ops += Map("i" -> i, "kind" -> op.kind, "name" -> op.name,
        "t0" -> t0, "t1" -> t1, "t2" -> t2,
        "ok" -> err.isEmpty, "err" -> err.getOrElse(""), "rows" -> op.rows,
        "traced" -> tracer.on, "gc_ms" -> gcMs, "cpu_ns" -> cpuNs, "attrs" -> ctx.attrs.toMap)
      err.foreach(e => System.err.println(s"[graftbench] op $i ${op.name} failed: $e"))
      i += 1
    }
    val loopT1 = Clock.now
    if (tracer.on) tracer.stop(spark)
    val cpu1 = cpuNanos
    val gc1 = gcMillis

    val info = try wl.finish(ctx) catch { case e: Throwable =>
      Map("finish_error" -> s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val result = Map(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "nproc" -> nproc,
      "provenance" -> Map(
        "spark_version" -> spark.version,
        "java_version" -> sys.props("java.version"),
        "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
        "master" -> spark.sparkContext.master,
        "session_conf" -> (sessionConf ++ Seq(
          "spark.sql.shuffle.partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
          "spark.master" -> spark.sparkContext.master)).toMap),
      "setup_s" -> setupSecs.toSeq,
      "min_ops" -> minOps, "cycle_ops" -> wl.cycleOps, "cycles_measured" -> wl.cyclesMeasured,
      "first_op_after_jvm_start_s" -> (firstOpEpochMs - jvmStartMs) / 1e3,
      "loop" -> Map("t0" -> loopT0, "t1" -> loopT1, "check_ns" -> checkNs,
        "cpu_ns" -> (cpu1 - cpu0), "gc_ms" -> (gc1 - gc0)),
      "peak_rss_mb" -> peakRssMb,
      "epoch_ms0" -> Clock.epochMs0,
      "ops" -> ops.toSeq,
      "info" -> info) ++ (if (trace) Map("tracing" -> tracer.toJson) else Map.empty)
    Files.write(Paths.get(out), Json(result).getBytes(StandardCharsets.UTF_8))
    closeSession(spark)
    sys.exit(0)
  }
}
