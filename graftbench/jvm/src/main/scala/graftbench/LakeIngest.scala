package graftbench

import java.time.{Instant, LocalDate, ZoneOffset}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

import graft.lake.SnapshotTable

/** lake_ingest: the reference ingest DAG plus its SQL read-back, on one
  * day(ts)-partitioned OHLCV snapshot table.
  *
  * Writes: an append adds one new trading day
  * (`commitPartitionedByDay`), a restatement rewrites a tenth of the
  * bars of one of the last three days (`upsertEq` on ticker, ts), and after every
  * two writes a maintenance op runs `compactDeletes`,
  * `compactSmallFiles` and `expire`. Reads are SQL through a
  * `GraftCatalog` table registered by LOCATION: the flagship
  * `AVG(close) … GROUP BY ticker, DATE(ts)` over a look-back window that
  * favours recent days, and a one-ticker one-day lookup. Look-backs and
  * restated days follow a fixed cycle; the seed picks the bars, the
  * prices and the tickers. Every read is
  * checked against an in-memory model of every committed row.
  */
final class LakeIngest extends Workload {
  import LakeIngest.Bar

  private val Tickers = (0 until 16).map(i => f"T$i%02d")
  private val BarsPerDay = 39 // 10-minute bars, 09:30 to 16:00
  private val HistoryDays = 5
  /** One schedule cycle: two writes, four reads and the maintenance they earn. */
  val Cycle = Seq("append", "flagship", "lookup", "restate", "flagship", "lookup", "maintain")
  private val Day0 = LocalDate.of(2024, 1, 1)
  /** Fixed-width user row: ticker 8, ts 8, four prices 32, volume 8, date 4. */
  val RowBytes = 60L

  private val schema = StructType(Seq(
    StructField("ticker", StringType), StructField("ts", TimestampType),
    StructField("open", DoubleType), StructField("high", DoubleType),
    StructField("low", DoubleType), StructField("close", DoubleType),
    StructField("volume", LongType), StructField("ingest_date", DateType)))

  private var root = ""
  private var table = ""
  private var rng: scala.util.Random = _
  private val model = mutable.HashMap.empty[(String, Long), Bar] // (ticker, ts µs)
  private val lastClose = mutable.HashMap.empty[String, Double]
  private var days = 0 // days committed so far
  private var writes = 0
  private val known = mutable.HashMap.empty[String, Long] // file -> bytes, under root
  private var bytesWritten = 0L
  private var userBytes = 0L
  private var manifestBytes = 0L

  private def micros(day: Int, bar: Int): Long =
    Day0.plusDays(day).atStartOfDay(ZoneOffset.UTC).toEpochSecond * 1000000L +
      (9L * 3600 + 30 * 60 + bar * 600L) * 1000000L

  private def bar(t: String): Bar = {
    val prev = lastClose.getOrElse(t, 50.0 + rng.nextInt(200))
    val close = math.rint(prev * (1 + rng.nextGaussian() * 0.002) * 10000) / 10000
    lastClose(t) = close
    val open = math.rint(prev * 10000) / 10000
    Bar(open, math.max(open, close) + 0.01, math.min(open, close) - 0.01, close,
      100L + rng.nextInt(10000))
  }

  private def frame(ctx: Ctx, rows: Seq[((String, Long), Bar)], ingestDay: Int): DataFrame = {
    val d = Day0.plusDays(ingestDay)
    ctx.spark.createDataFrame(rows.map { case ((t, us), b) =>
      Row(t, Instant.ofEpochSecond(us / 1000000L, (us % 1000000L) * 1000L),
        b.open, b.high, b.low, b.close, b.volume, d)
    }.asJava, schema)
  }

  private def dayRows(day: Int): Seq[((String, Long), Bar)] =
    for (b <- 0 until BarsPerDay; t <- Tickers) yield ((t, micros(day, b)), bar(t))

  private def listRoot(ctx: Ctx): Map[String, Long] = {
    val p = new Path(root)
    val fs = p.getFileSystem(ctx.spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    val out = mutable.HashMap.empty[String, Long]
    while (it.hasNext) { val s = it.next(); out(s.getPath.toString) = s.getLen }
    out.toMap
  }

  /** Count the bytes of files that appeared under the root since the last listing. */
  private def account(ctx: Ctx): Long = {
    val now = listRoot(ctx)
    val fresh = now.collect { case (f, n) if !known.contains(f) => n }.sum
    known.clear(); known ++= now
    bytesWritten += fresh
    fresh
  }

  private def manifestDirBytes: Long =
    known.collect { case (f, n) if f.contains("/_manifests/") => n }.sum

  def setup(ctx: Ctx, r: String): Unit = {
    root = r
    rng = new scala.util.Random(ctx.seed)
    model.clear(); lastClose.clear(); known.clear()
    days = 0; writes = 0; reads = 0; bytesWritten = 0L; userBytes = 0L
    val hist = (0 until HistoryDays).flatMap(dayRows)
    days = HistoryDays
    SnapshotTable.commitPartitionedByDay(ctx.spark, root, frame(ctx, hist, HistoryDays - 1), "ts")
    model ++= hist
    account(ctx)
    manifestBytes = manifestDirBytes
    // amplification counts the loop's writes only
    bytesWritten = 0L; userBytes = 0L
    val wh = s"${r}_wh"
    ctx.spark.conf.set("spark.sql.catalog.glake", classOf[graft.sources.GraftCatalog].getName)
    ctx.spark.conf.set("spark.sql.catalog.glake.warehouse", wh)
    ctx.spark.sql("CREATE NAMESPACE IF NOT EXISTS glake.bench")
    ctx.spark.sql("DROP TABLE IF EXISTS glake.bench.ohlcv")
    ctx.spark.sql("CREATE TABLE glake.bench.ohlcv (ticker STRING, ts TIMESTAMP, open DOUBLE, " +
      s"high DOUBLE, low DOUBLE, close DOUBLE, volume BIGINT, ingest_date DATE) LOCATION '$root'")
    table = "glake.bench.ohlcv"
  }

  def warmup(ctx: Ctx): Unit =
    ctx.spark.sql(flagshipSql(days - 1)).collect()

  def cycleOps: Int = Cycle.size
  // two cycles: the median of 14 ops leans on no single op, and the
  // reads cover every look-back
  def cyclesMeasured: Int = 2

  /** A read whose first row has every count and volume sum one too high. */
  def wrong(result: Any): Any = result match {
    case rows: Array[Row] if rows.nonEmpty =>
      rows.updated(0, Row.fromSeq(rows(0).toSeq.map { case n: Long => n + 1; case x => x }))
    case other => other
  }

  private def dayStr(d: Int): String = Day0.plusDays(d).toString

  private def flagshipSql(fromDay: Int): String =
    s"SELECT ticker, CAST(DATE(ts) AS STRING) AS d, AVG(close) AS avg_close, " +
      s"COUNT(*) AS n, SUM(volume) AS vol FROM $table " +
      s"WHERE ts >= TIMESTAMP '${dayStr(fromDay)} 00:00:00' GROUP BY ticker, DATE(ts)"

  /** Look-backs in days, cycled: most reads ask for the latest days. */
  private val LookBacks = Seq(1, 2, 1, 4, 1, 2, 1, 8)
  private var reads = 0

  /** The first day of the next read's look-back window. */
  private def readDay(): Int = {
    reads += 1
    math.max(0, days - LookBacks(reads % LookBacks.size))
  }

  private def near(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b))

  /** Compare (key -> (count, volume sum, close avg)) groups with the model's. */
  private def compare(what: String, got: Map[String, (Long, Long, Double)],
      want: Map[String, (Long, Long, Double)]): Option[String] = {
    if (got.keySet != want.keySet)
      return Some(s"$what: groups ${got.size} vs model ${want.size}")
    want.collectFirst {
      case (k, (n, v, a)) if got(k)._1 != n || got(k)._2 != v || !near(got(k)._3, a) =>
        s"$what: group $k got ${got(k)} want ${(n, v, a)}"
    }
  }

  private def modelGroups(keep: ((String, Long)) => Boolean,
      key: ((String, Long)) => String): Map[String, (Long, Long, Double)] =
    model.iterator.filter(e => keep(e._1)).toSeq.groupBy(e => key(e._1)).map { case (k, es) =>
      k -> (es.size.toLong, es.map(_._2.volume).sum, es.map(_._2.close).sum / es.size)
    }

  private def dayOf(us: Long): String =
    Instant.ofEpochSecond(us / 1000000L).atOffset(ZoneOffset.UTC).toLocalDate.toString

  /** Read through SQL: planning up to the executed plan, then execution. */
  private def sqlRead(ctx: Ctx, sql: String): Array[Row] = {
    val df = ctx.span("lake.read_plan") {
      val d = ctx.spark.sql(sql); d.queryExecution.executedPlan; d
    }
    ctx.span("lake.read_exec")(df.collect())
  }

  /** Traced runs only: files the pruned read path plans, against live files. */
  private def recordScan(ctx: Ctx, pred: Column): Unit = if (ctx.traced) {
    val v = SnapshotTable.currentVersion(ctx.spark, root)
    ctx.attrs("files_scanned") = SnapshotTable.readWhere(ctx.spark, root, pred).inputFiles.length
    ctx.attrs("files_live") = SnapshotTable.dataFiles(ctx.spark, root, v).size
    ctx.attrs("delete_files_live") = SnapshotTable.deleteFiles(ctx.spark, root, v).size +
      SnapshotTable.eqDeleteEntries(ctx.spark, root, v).size
  }

  private def afterWrite(ctx: Ctx): Unit = {
    val fresh = account(ctx)
    if (ctx.traced) {
      val m = manifestDirBytes
      ctx.attrs("bytes_written") = fresh
      ctx.attrs("manifest_growth_b") = m - manifestBytes
      manifestBytes = m
    } else manifestBytes = manifestDirBytes
  }

  def op(ctx: Ctx, i: Int): Op = {
    Cycle(i % Cycle.size) match {
      case "append" =>
        val day = days
        val rows = dayRows(day)
        val df = frame(ctx, rows, day)
        writeOp(ctx, "append", rows.size, () => ctx.span("lake.commitPartitionedByDay")(
          SnapshotTable.commitPartitionedByDay(ctx.spark, root, df, "ts")), () => {
          model ++= rows; days += 1 })
      case "restate" =>
        val day = days - 1 - writes % 3
        val all = for (b <- 0 until BarsPerDay; t <- Tickers) yield (t, micros(day, b))
        val keys = rng.shuffle(all).take(all.size / 10)
        val rows = keys.map(k => k -> bar(k._1))
        val df = frame(ctx, rows, days - 1)
        writeOp(ctx, "restate", rows.size, () => ctx.span("lake.upsertEq")(
          SnapshotTable.upsertEq(ctx.spark, root, Seq("ticker", "ts"), df)), () => model ++= rows)
      case "maintain" =>
        Op("maintain", "maintain", run = () => {
          ctx.span("lake.compactDeletes")(SnapshotTable.compactDeletes(ctx.spark, root))
          ctx.span("lake.compactSmallFiles")(SnapshotTable.compactSmallFiles(ctx.spark, root))
          ctx.span("lake.expire")(SnapshotTable.expire(ctx.spark, root, keepLast = 3))
        }, check = _ => { afterWrite(ctx); None })
      case "flagship" =>
        val from = readDay()
        val fromUs = micros(from, 0) - (9L * 3600 + 30 * 60) * 1000000L
        Op("read", "flagship", run = () => sqlRead(ctx, flagshipSql(from)), check = r => {
          recordScan(ctx, col("ts") >= lit(Instant.ofEpochSecond(fromUs / 1000000L)))
          val got = r.asInstanceOf[Array[Row]].map(x =>
            s"${x.getString(0)}|${x.getString(1)}" -> (x.getLong(3), x.getLong(4), x.getDouble(2))).toMap
          compare("flagship", got, modelGroups(_._2 >= fromUs, k => s"${k._1}|${dayOf(k._2)}"))
        })
      case "lookup" =>
        val day = readDay()
        val t = Tickers(rng.nextInt(Tickers.size))
        val lo = micros(day, 0) - (9L * 3600 + 30 * 60) * 1000000L
        val hi = lo + 86400L * 1000000L
        val sql = s"SELECT COUNT(*) AS n, SUM(volume) AS vol, AVG(close) AS avg_close FROM $table " +
          s"WHERE ticker = '$t' AND ts >= TIMESTAMP '${dayStr(day)} 00:00:00' " +
          s"AND ts < TIMESTAMP '${dayStr(day + 1)} 00:00:00'"
        Op("read", "lookup", run = () => sqlRead(ctx, sql), check = r => {
          recordScan(ctx, col("ticker") === t &&
            col("ts") >= lit(Instant.ofEpochSecond(lo / 1000000L)) &&
            col("ts") < lit(Instant.ofEpochSecond(hi / 1000000L)))
          val x = r.asInstanceOf[Array[Row]].head
          compare("lookup", Map("g" -> (x.getLong(0), x.getLong(1), x.getDouble(2))),
            modelGroups(k => k._1 == t && k._2 >= lo && k._2 < hi, _ => "g"))
        })
    }
  }

  private def writeOp(ctx: Ctx, name: String, rows: Int, run: () => Any,
      onSuccess: () => Unit): Op = {
    writes += 1
    Op("write", name, run = run, rows = rows.toLong, check = _ => {
      onSuccess()
      userBytes += rows * RowBytes
      afterWrite(ctx)
      None
    })
  }

  def finish(ctx: Ctx): Map[String, Any] = {
    val v = SnapshotTable.currentVersion(ctx.spark, root)
    val live = SnapshotTable.read(ctx.spark, root).count()
    val onDisk = listRoot(ctx).values.sum
    Map(
      "tickers" -> Tickers.size, "bars_per_day" -> BarsPerDay, "history_days" -> HistoryDays,
      "days_committed" -> days, "cycle" -> Cycle,
      "row_bytes" -> RowBytes, "version" -> v,
      "live_rows" -> live, "model_rows" -> model.size,
      "live_rows_match_model" -> (live == model.size),
      "bytes_written" -> bytesWritten, "user_bytes_committed" -> userBytes,
      "bytes_on_disk" -> onDisk,
      "write_amp" -> bytesWritten.toDouble / userBytes,
      "space_amp" -> onDisk.toDouble / (model.size * RowBytes),
      "input_rows" -> (HistoryDays * BarsPerDay * Tickers.size),
      "input_bytes" -> (HistoryDays * BarsPerDay * Tickers.size * RowBytes))
  }
}

object LakeIngest {
  private final case class Bar(open: Double, high: Double, low: Double, close: Double, volume: Long)
}
