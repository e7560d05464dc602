package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every registry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line. Queries materialize
  * through the `noop` sink so the full plan executes (a bare
  * `count()` would let Catalyst prune the projections being timed).
  *
  * Each query runs SPARK_GRAFT_BENCH_REPS times (default 3) and
  * reports the per-query MEDIAN — round-1 single runs carried
  * multi-second GC/JIT artifacts (a trivial codegen'd agg once
  * clocked 35 s cold vs 0.5 s warm), so one sample is not a gate.
  *
  * The printed line must stay SHORT: the driver that consumes it
  * keeps only the final ~2000 characters of process output, and in
  * rounds 1–2 the full 122-query map blew past that window, so the
  * line was truncated mid-JSON and never parsed. The line therefore
  * carries the totals plus a HEADLINE subset of per-query medians
  * (TPC-H sweep + one flagship per operator family) and is pinned
  * under 1800 chars by BenchLineSpec; the complete per-query
  * median/spread/per-rep detail goes to bench_full.json next to the
  * repo.
  */
object Bench {
  private def fmt(d: Double): String = f"$d%.3f"

  /** Flagship per-family queries always included in the printed line
    * (TPC-H q01..q22 are added by pattern). Order = keep priority when
    * trimming to the length budget.
    */
  private val flagships = Seq(
    "q_date_trunc_daily", "q_asof_join", "q_bucketed_join", "q_window_rank",
    "q_percentiles", "q_range_join", "q_ntile",
    "lake_merge_upsert", "lake_partition_pruning", "lake_zorder_cluster",
    "lake_delete", "lake_incremental",
    "dedup_exact", "dedup_minhash_lsh", "dedup_embedding_ann",
    "dedup_incremental",
    "ann_bruteforce", "ann_ivf",
    "text_quality", "text_bm25_search", "text_token_count",
    "q_fin_ohlc_daily", "q_fin_vwap",
    "mm_frame_sample", "stream_window_agg",
    "stream_stream_join", "lake_replica_sync", "endpoint_sql_agg")

  def buildLine(results: Seq[(String, Double)], reps: Int, sfDir: String,
                budget: Int = 1800, errors: Int = 0): String = {
    val byName = results.toMap
    val tpch = results.map(_._1).filter(_.matches("q\\d\\d_.*")).sorted
    val picks = (tpch ++ flagships.filter(byName.contains)).distinct
    val total = results.map(_._2).sum
    def line(names: Seq[String]): String = {
      val qs = names.map(n => "\"" + n + "\":" + fmt(byName(n))).mkString("{", ",", "}")
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","reps":$reps,"nq":${results.size},"errors":$errors,"queries":$qs,"full":"bench_full.json","sf":"$sfDir"}"""
    }
    // Trim lowest-priority flagships if ever over the driver's window.
    var names = picks
    var out = line(names)
    while (out.length > budget && names.size > 1) {
      names = names.dropRight(1)
      out = line(names)
    }
    out
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt)
    var spark = GraftSession.build()
    var restarts = 0
    // JIT/codegen warmup so the first measured query isn't charged
    // for JVM compilation of the whole scan/agg stack. Besides the
    // scan+agg the entry exercises, warm the WINDOW and JOIN
    // machinery once on the tiny sf0.001 slice: the r20 profiling
    // showed window/join-heavy entries paying multi-second
    // first-measured-use JIT (q_ntile 9.5 s cold vs 1.9 s warm in the
    // SAME session) — compilation cost, not query cost, and the
    // per-query medians should measure the computation (guide §1).
    try {
      SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
      val w = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      val byUser = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("event_id")
      w.select(org.apache.spark.sql.functions.col("user_id"),
          org.apache.spark.sql.functions.col("event_id"))
        .withColumn("rn", org.apache.spark.sql.functions.row_number().over(byUser))
        .join(w.groupBy("user_id").count(), "user_id")
        .write.format("noop").mode("overwrite").save()
    } catch { case _: Throwable => () }
    // optional dev filter: SPARK_GRAFT_BENCH_ONLY=<regex> restricts the
    // swept queries (unset → full registry, the driver's mode)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.r)
    // dev-only resilience probe (BenchResilienceSpec): plant a
    // synthetic entry that kills the SparkContext mid-sweep, the way
    // a fatal executor OOM does in local mode (the r16 sf5 sweep lost
    // every entry after one OOM — a 15-minute artifact truncated by
    // one bad query)
    val planted: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] =
      if (!sys.env.get("SPARK_GRAFT_BENCH_PLANT").contains("die")) Seq.empty
      else Seq("_planted_die" -> ((s: SparkSession, _: String) => {
        s.sparkContext.stop()
        throw new IllegalStateException("planted context death")
      }))
    // A query whose plan throws must surface as an ERROR, never as a
    // fake sub-second "time to throw" (the round-8 sweep recorded 85
    // broken entries at 0.06 s each and the committed artifact looked
    // like a 2× speedup). First failing rep marks the query errored
    // and skips its remaining reps. A failure that took the
    // SPARKCONTEXT with it (fatal executor loss / OOM stops local-mode
    // contexts) additionally RESTARTS the session, so one bad entry
    // records err:1 and the rest of the sweep still measures.
    val swept = (planted ++ SparkEntry.queries.toSeq.sortBy(_._1))
      .filter { case (name, _) => only.forall(_.findFirstIn(name).isDefined) }
      .map { case (name, fn) =>
        var err: Option[String] = None
        val times = scala.collection.mutable.ArrayBuffer.empty[Double]
        var rep = 0
        while (rep < reps && err.isEmpty) {
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            times += (System.nanoTime() - t0) / 1e9
          } catch { case e: Throwable =>
            err = Some(Option(e.getMessage).getOrElse(e.getClass.getName)
              .replaceAll("\\s+", " ").take(200))
            if (spark.sparkContext.isStopped) {
              System.err.println(s"[graft-bench] SparkContext died during " +
                s"$name; restarting the session for the remaining entries")
              SparkSession.clearActiveSession()
              SparkSession.clearDefaultSession()
              spark = GraftSession.build()
              restarts += 1
            }
          }
          rep += 1
        }
        err match {
          case Some(m) =>
            System.err.println(s"[graft-bench] $name FAILED: $m")
            (name, Left(m): Either[String, (Double, Double, List[Double])])
          case None =>
            val sortedT = times.sorted
            // TRUE median: even rep counts average the middle two
            // (VERDICT r15 "wrong" #2 — the upper-middle pick made
            // reps=2 report the WORST of cold/warm while the docs
            // said mean; now the number and the description agree)
            val mid = sortedT.length / 2
            val median =
              if (sortedT.length % 2 == 1) sortedT(mid)
              else (sortedT(mid - 1) + sortedT(mid)) / 2.0
            (name, Right((median, sortedT.last - sortedT.head, times.toList))
              : Either[String, (Double, Double, List[Double])])
        }
      }
    val results = swept.collect { case (k, Right((m, s, ts))) => (k, m, s, ts) }
    val failed = swept.collect { case (k, Left(m)) => (k, m) }
    val qs = results.map { case (k, m, _, _) => "\"" + k + "\":" + fmt(m) }
      .mkString("{", ",", "}")
    val spreads = results.map { case (k, _, s, _) => "\"" + k + "\":" + fmt(s) }
      .mkString("{", ",", "}")
    // per-rep times IN RUN ORDER (rep 1 = coldest): the decode-bound
    // entries (mm_phash_pixels, mm_video_frames) carry wide GC/JIT
    // spreads, and without the raw reps every cross-sweep delta cost
    // a quiet re-run to attribute (r19 VERDICT #7) — now the artifact
    // itself shows whether a mover was a one-rep outlier
    val repTimes = results.map { case (k, _, _, ts) =>
      "\"" + k + "\":[" + ts.map(fmt).mkString(",") + "]" }
      .mkString("{", ",", "}")
    val errs = failed.map { case (k, m) => "\"" + k + "\":" + Json.jstr(m) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val full = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","reps":$reps,"errors":${failed.size},"restarts":$restarts,"queries":$qs,"spread":$spreads,"rep_times":$repTimes,"errored":$errs,"sf":"$sfDir"}"""
    // detail artifact lands in the launch cwd by default (portable),
    // SPARK_GRAFT_OUT_DIR overrides; an I/O failure there must never
    // eat the summary line. Written TWICE: the canonical
    // bench_full.json (what the driver/judge read) and an SF-suffixed
    // copy — VERDICT r11 item 2: the end-of-round sf0.1 sweep
    // clobbered the sf5 full sweep, leaving SURVEY §6's α table
    // underivable from committed artifacts. The suffixed copy makes
    // cross-SF clobbering impossible.
    val outDir = sys.env.getOrElse("SPARK_GRAFT_OUT_DIR", sys.props("user.dir"))
    // a missing override dir must not silently eat the sweep's only
    // full per-query record (a 15-min artifact)
    try Files.createDirectories(Paths.get(outDir))
    catch { case _: Throwable => () }
    val sfTag = Paths.get(sfDir).getFileName.toString.replaceAll("[^A-Za-z0-9.]", "_")
    Seq("bench_full.json", s"bench_full_$sfTag.json").foreach { fn =>
      val fullPath = Paths.get(outDir, fn)
      try Files.write(fullPath, full.getBytes(StandardCharsets.UTF_8))
      catch { case e: Throwable =>
        System.err.println(s"[graft-bench] could not write $fullPath: $e") }
    }
    val line = buildLine(results.map(r => (r._1, r._2)).toSeq, reps, sfDir,
      errors = failed.size)
    // log-free copy of the printed summary line (VERDICT r20 item 9:
    // the driver's r19 tail parse failed because the stdout line was
    // interleaved with a log line — this sibling artifact carries the
    // line alone, nothing else on any line)
    try Files.write(Paths.get(outDir, "bench_line.json"),
      (line + "\n").getBytes(StandardCharsets.UTF_8))
    catch { case e: Throwable =>
      System.err.println(s"[graft-bench] could not write bench_line.json: $e") }
    println(line)
    spark.stop()
    // A sweep with failures must be visible in the exit code too.
    if (failed.nonEmpty) sys.exit(1)
  }
}
