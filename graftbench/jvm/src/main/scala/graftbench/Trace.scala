package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory trace of a traced run.
  *
  * Spans come from the harness itself: one root span per op and one
  * child span around every call the harness makes into an engine layer
  * (`lake.upsertEq`, `dedup.embedding`, `endpoint.POST updateTable`,
  * ...). Spark jobs, stages and query executions come from a
  * [[SparkListener]] and a [[QueryExecutionListener]] that are only
  * registered while tracing is on; the summariser hangs them under the
  * harness spans by job group and time. Nothing is written until the
  * run ends.
  *
  * Times: spans use `System.nanoTime` relative to [[Clock.base]];
  * listener records keep Spark's epoch-millisecond stamps, which
  * [[Clock.epochMs0]] converts onto the same axis.
  */
object Clock {
  val base: Long = System.nanoTime()
  val epochMs0: Long = System.currentTimeMillis()
  def now: Long = System.nanoTime() - base
}

final case class Span(op: Int, id: Int, parent: Int, name: String, t0: Long, t1: Long)

final class Tracer {
  val spans = ArrayBuffer.empty[Span]
  val jobs = ArrayBuffer.empty[Map[String, Any]]
  val stages = ArrayBuffer.empty[Map[String, Any]]
  val queries = ArrayBuffer.empty[Map[String, Any]]

  @volatile var on = false
  private var op = -1
  private var nextId = 0
  private var stack: List[Int] = Nil

  /** Spans opened from here on belong to op `id`. */
  def beginOp(id: Int): Unit = { op = id; stack = Nil }

  def span[T](name: String)(body: => T): T = {
    if (!on) return body
    val id = { nextId += 1; nextId }
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = Clock.now
    try body
    finally {
      spans += Span(op, id, parent, name, t0, Clock.now)
      stack = stack.tail
    }
  }

  // ---- Spark listeners -------------------------------------------------

  private final class StageAcc {
    var tasks = 0; var runMs = 0L; var cpuNs = 0L
    var shufR = 0L; var shufW = 0L; var spill = 0L; var in = 0L; var out = 0L
    val durations = ArrayBuffer.empty[Long]
  }
  private val stageAcc = scala.collection.mutable.Map.empty[(Int, Int), StageAcc]
  private val stageJob = scala.collection.mutable.Map.empty[Int, Int]
  private val jobStart = scala.collection.mutable.Map.empty[Int, Map[String, Any]]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
      val props = Option(e.properties)
      jobStart(e.jobId) = Map(
        "job" -> e.jobId, "t0_ms" -> e.time,
        "group" -> props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""),
        "exec_id" -> props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).getOrElse(""))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach { m =>
        jobs += m ++ Map("t1_ms" -> e.time,
          "ok" -> (e.jobResult == JobSucceeded))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val a = stageAcc.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageAcc)
      a.tasks += 1
      a.durations += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.shufR += m.shuffleReadMetrics.totalBytesRead
        a.shufW += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.in += m.inputMetrics.bytesRead
        a.out += m.outputMetrics.bytesWritten
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val info = e.stageInfo
      stageAcc.remove((info.stageId, info.attemptNumber())).foreach { a =>
        val d = a.durations.sorted
        stages += Map(
          "stage" -> info.stageId, "job" -> stageJob.getOrElse(info.stageId, -1),
          "t0_ms" -> info.submissionTime.getOrElse(0L),
          "t1_ms" -> info.completionTime.getOrElse(0L),
          "tasks" -> a.tasks, "run_ms" -> a.runMs, "cpu_ns" -> a.cpuNs,
          "shuffle_read_b" -> a.shufR, "shuffle_write_b" -> a.shufW,
          "spill_b" -> a.spill, "input_b" -> a.in, "output_b" -> a.out,
          "task_max_ms" -> (if (d.isEmpty) 0L else d.last),
          "task_med_ms" -> (if (d.isEmpty) 0L else d(d.size / 2)))
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    private def record(qe: QueryExecution, ok: Boolean, durNs: Long): Unit = {
      val phases = qe.tracker.phases.map { case (k, p) =>
        k -> Seq(p.startTimeMs, p.endTimeMs) }
      Tracer.this.synchronized {
        queries += Map("id" -> qe.id, "ok" -> ok, "dur_ns" -> durNs,
          "end_ms" -> System.currentTimeMillis(), "phases" -> phases)
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, durNs: Long): Unit =
      record(qe, ok = true, durNs)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe, ok = false, 0L)
  }

  def start(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    on = true
  }

  /** Stop tracing after every queued listener event has been delivered. */
  def stop(spark: SparkSession): Unit = {
    on = false
    org.apache.spark.BusDrain(spark.sparkContext)
    spark.listenerManager.unregister(queryListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  def toJson: Map[String, Any] = synchronized {
    Map(
      "spans" -> spans.map(s => Seq(s.op, s.id, s.parent, s.name, s.t0, s.t1)),
      "jobs" -> jobs.toSeq, "stages" -> stages.toSeq, "queries" -> queries.toSeq)
  }
}
