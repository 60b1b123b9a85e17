package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into the engine. Times are wall-clock milliseconds,
  * the clock Spark stamps its own events with, so jobs and stages can
  * be placed inside operations. */
final class Op(val id: Int, val kind: String, val window: Boolean,
    val traced: Boolean) {
  var start = 0.0
  var end = 0.0
  /** Process CPU time across all threads, in ms. */
  var cpuStart = 0.0
  var cpuEnd = 0.0
  var error: Option[String] = None
  val phases = mutable.ArrayBuffer.empty[(String, Double, Double)]
  /** Facts about the call the analysis needs (rows, bytes, ...). */
  val info = mutable.LinkedHashMap.empty[String, Any]

  def ms: Double = end - start

  /** Time one phase of the call: `build` constructs the result,
    * `exec` materialises it. */
  def phase[T](name: String)(body: => T): T = {
    val s = Recorder.nowMs
    try body finally phases += ((name, s, Recorder.nowMs))
  }

  def toJson: Map[String, Any] = Map(
    "id" -> id, "kind" -> kind, "window" -> window, "traced" -> traced,
    "start" -> start, "end" -> end, "cpu_ms" -> (cpuEnd - cpuStart),
    "error" -> error,
    "phases" -> phases.map { case (n, s, e) => Map("name" -> n, "start" -> s, "end" -> e) },
    "info" -> info)
}

/** Times the harness's calls and, in a traced run, records the Spark
  * jobs, stages, tasks and query-planning phases each call caused.
  *
  * Tracing alternates per operation kind: every other call of a kind
  * runs with the listeners attached, the rest without, so one run gives
  * both the per-layer numbers and the tracing overhead on the same
  * warm process. Spark jobs are tied to the call that caused them by a
  * local property set on the calling thread. */
final class Recorder(spark: SparkSession, trace: Boolean) {
  private val sc = spark.sparkContext
  val ops = mutable.ArrayBuffer.empty[Op]
  private val listener = new Recorder.Jobs
  private val plans = new Recorder.Plans
  private val perKind = mutable.HashMap.empty[String, Int]

  /** Run `body` as one operation. A failure is recorded on the
    * operation and returned as None; the run goes on. */
  def run[T](kind: String, window: Boolean = true)(body: Op => T): Option[T] = {
    val n = perKind.getOrElse(kind, 0)
    perKind(kind) = n + 1
    val op = new Op(ops.length, kind, window, trace && (!window || n % 2 == 0))
    if (op.traced) {
      sc.addSparkListener(listener)
      spark.listenerManager.register(plans)
    }
    sc.setLocalProperty(Recorder.OpKey, op.id.toString)
    op.cpuStart = Recorder.cpuMs
    op.start = Recorder.nowMs
    try Some(body(op))
    catch {
      case NonFatal(e) =>
        op.error = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500))
        None
    } finally {
      op.end = Recorder.nowMs
      op.cpuEnd = Recorder.cpuMs
      sc.setLocalProperty(Recorder.OpKey, null)
      if (op.traced) {
        org.apache.spark.perfbench.Bus.drain(sc)
        sc.removeSparkListener(listener)
        spark.listenerManager.unregister(plans)
      }
      ops += op
    }
  }

  def toJson: Map[String, Any] = Map(
    "ops" -> ops.map(_.toJson),
    "jobs" -> listener.jobsJson,
    "stages" -> listener.stagesJson,
    "plans" -> plans.json)
}

object Recorder {
  val OpKey = "perfbench.op"

  private val epochMs = System.currentTimeMillis().toDouble
  private val epochNs = System.nanoTime()
  /** Wall-clock ms with nanosecond resolution. */
  def nowMs: Double = epochMs + (System.nanoTime() - epochNs) / 1e6

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuMs: Double = os.getProcessCpuTime / 1e6

  private final class StageAgg(val id: Int, val attempt: Int, val job: Int,
      val submitted: Long, val tasks: Int) {
    var completed = 0L
    var name = ""
    var done = 0
    var runMs = 0L
    var gcMs = 0L
    var schedMs = 0L
    var queueMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var input = 0L
  }

  /** Jobs, stages and per-stage task totals. Callbacks run on Spark's
    * listener thread; the harness reads only after draining the bus. */
  private final class Jobs extends SparkListener {
    private val jobs = mutable.LinkedHashMap.empty[Int, mutable.Map[String, Any]]
    private val stageJob = mutable.HashMap.empty[Int, Int]
    private val stages = mutable.LinkedHashMap.empty[(Int, Int), StageAgg]
    private val sqlSites = mutable.HashMap.empty[String, String]

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        synchronized(sqlSites(s.executionId.toString) = s.description)
      case _ =>
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      val op = prop(OpKey)
      // the call site of the action that started the job, e.g.
      // "collect at IvfPq.scala:212": that of its SQL execution when it
      // has one (jobs of adaptive query stages start on pool threads,
      // whose own call site names no user code), else the name of the
      // result stage, which is created last
      val site = prop("spark.sql.execution.id").flatMap(sqlSites.get).getOrElse(
        if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
      jobs(e.jobId) = mutable.LinkedHashMap("id" -> e.jobId,
        "op" -> op.map(_.toInt).getOrElse(-1), "start" -> e.time,
        "end" -> e.time, "site" -> site, "ok" -> true)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach { j =>
        j("end") = e.time
        j("ok") = e.jobResult == JobSucceeded
      }
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      val i = e.stageInfo
      stages((i.stageId, i.attemptNumber())) = new StageAgg(i.stageId,
        i.attemptNumber(), stageJob.getOrElse(i.stageId, -1),
        i.submissionTime.getOrElse(System.currentTimeMillis()), i.numTasks)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      stages.get((i.stageId, i.attemptNumber())).foreach { s =>
        s.completed = i.completionTime.getOrElse(System.currentTimeMillis())
        s.name = i.name
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stages.get((e.stageId, e.stageAttemptId)).foreach { s =>
        val t = e.taskInfo
        s.done += 1
        s.queueMs += math.max(0L, t.launchTime - s.submitted)
        val m = e.taskMetrics
        if (m != null) {
          s.runMs += m.executorRunTime
          s.gcMs += m.jvmGCTime
          // the Spark UI's scheduler delay: task time not spent running,
          // deserialising, serialising or fetching the result
          s.schedMs += math.max(0L, (t.finishTime - t.launchTime) - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - t.gettingResultTime)
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.input += m.inputMetrics.bytesRead
        }
      }
    }

    def jobsJson: Seq[Map[String, Any]] = synchronized(jobs.values.map(_.toMap).toSeq)

    def stagesJson: Seq[Map[String, Any]] = synchronized(stages.values.map { s =>
      Map("id" -> s.id, "attempt" -> s.attempt, "job" -> s.job,
        "start" -> s.submitted, "end" -> math.max(s.completed, s.submitted),
        "name" -> s.name, "tasks" -> s.tasks, "tasks_done" -> s.done,
        "run_ms" -> s.runMs, "gc_ms" -> s.gcMs, "sched_ms" -> s.schedMs,
        "queue_ms" -> s.queueMs, "shuffle_read" -> s.shuffleRead,
        "shuffle_write" -> s.shuffleWrite, "input" -> s.input)
    }.toSeq)
  }

  /** Analysis, optimisation and planning time of each executed query,
    * from Spark's own planning tracker. */
  private final class Plans extends QueryExecutionListener {
    private val rows = mutable.ArrayBuffer.empty[Map[String, Any]]

    private def record(func: String, qe: QueryExecution, ok: Boolean): Unit = synchronized {
      val phases = qe.tracker.phases.map { case (n, p) =>
        n -> Seq(p.startTimeMs, p.endTimeMs) }
      rows += Map("func" -> func, "ok" -> ok, "phases" -> phases)
    }

    override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit =
      record(func, qe, ok = true)
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
      record(func, qe, ok = false)

    def json: Seq[Map[String, Any]] = synchronized(rows.toSeq)
  }
}
