package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

import graft.GraftSession

/** Dev-only: run named registry entries once each and print every
  * Spark JOB the entry scheduled — wall duration, task count, and the
  * call site — plus the wall gaps BETWEEN jobs (driver-side work:
  * footer reads, manifest I/O, HTTP round-trips). This is the
  * measure-first tool for the operation-shaped entries (lake_*,
  * catalog_rest_*) whose cost is many small jobs rather than one big
  * plan; `.explain` attribution covers only the final returned frame.
  */
object ProfileOne {
  private case class JobRec(id: Int, start: Long, var end: Long = -1L,
      var site: String = "", var ntasks: Int = 0)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build()
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        // the result stage's name IS the short call site (e.g.
        // "parquet at SnapshotTable.scala:2704")
        val site = e.stageInfos.lastOption.map(_.name).getOrElse("?")
        val nt = e.stageInfos.map(_.numTasks).sum
        val r = JobRec(e.jobId, System.nanoTime(), site = site, ntasks = nt)
        jobs.put(e.jobId, r)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(jobs.get(e.jobId)).foreach(_.end = System.nanoTime())
      }
    }
    spark.sparkContext.addSparkListener(listener)
    // warm the JIT/scan stack once so the profiled entry is not
    // charged for first-query compilation
    try graft.SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    args.foreach { name =>
      jobs.clear()
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      // give the async listener bus a beat to drain before reading
      Thread.sleep(300)
      import scala.jdk.CollectionConverters._
      val recs = jobs.values.asScala.toSeq.filter(_.end > 0).sortBy(_.start)
      val jobSecs = recs.map(r => (r.end - r.start) / 1e9).sum
      println(f"PROFILE $name wall=$wall%.2f s jobs=${recs.size} jobTime=$jobSecs%.2f s driverGap=${wall - jobSecs}%.2f s")
      // jobs merged by call site, heaviest first
      recs.groupBy(_.site).toSeq
        .map { case (site, rs) =>
          (site, rs.size, rs.map(r => (r.end - r.start) / 1e9).sum, rs.map(_.ntasks).sum)
        }
        .sortBy(-_._3)
        .take(25)
        .foreach { case (site, n, secs, nt) =>
          println(f"  JOBSITE $secs%7.3f s  n=$n%-4d tasks=$nt%-5d $site")
        }
      // the biggest BETWEEN-job gaps (driver-side phases)
      val gaps = (recs.sliding(2).collect {
        case Seq(a, b) if b.start > a.end => ((b.start - a.end) / 1e9, a.site, b.site)
      }).toSeq.sortBy(-_._1).take(8)
      gaps.foreach { case (g, from, to) =>
        println(f"  GAP     $g%7.3f s  after=$from -> next=$to")
      }
    }
    spark.stop()
  }
}
