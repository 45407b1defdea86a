package perfbench

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Totals of what Spark did, as seen by the listeners. Differences of two
  * snapshots give the work of the code that ran between them.
  */
final case class Counters(
    jobs: Long = 0, stageSlots: Long = 0, stages: Long = 0, tasks: Long = 0,
    taskFailures: Long = 0, runMs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0,
    shuffleWrite: Long = 0, shuffleRead: Long = 0, fetchWaitMs: Long = 0,
    spillDisk: Long = 0, input: Long = 0, leafStageMs: Long = 0,
    plans: Long = 0, analysisMs: Long = 0, optimizationMs: Long = 0,
    planningMs: Long = 0) {

  def -(o: Counters): Counters = Counters(
    jobs - o.jobs, stageSlots - o.stageSlots, stages - o.stages,
    tasks - o.tasks, taskFailures - o.taskFailures, runMs - o.runMs,
    cpuNs - o.cpuNs, gcMs - o.gcMs, shuffleWrite - o.shuffleWrite,
    shuffleRead - o.shuffleRead, fetchWaitMs - o.fetchWaitMs,
    spillDisk - o.spillDisk, input - o.input, leafStageMs - o.leafStageMs,
    plans - o.plans, analysisMs - o.analysisMs,
    optimizationMs - o.optimizationMs, planningMs - o.planningMs)

  /** Stages a job listed but never ran, because their output existed. */
  def stagesSkipped: Long = math.max(0L, stageSlots - stages)
}

/** One `SparkListener` and one `QueryExecutionListener`, registered on the
  * session under test. Events arriving while `on` is false are dropped, so
  * an untraced pass costs the listener bus one branch per event.
  */
final class Probe extends SparkListener with QueryExecutionListener {
  @volatile var on = false
  private var c = Counters()

  private def add(f: Counters => Counters): Unit =
    if (on) synchronized { c = f(c) }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    add(x => x.copy(jobs = x.jobs + 1, stageSlots = x.stageSlots + e.stageInfos.size))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add { x =>
    val i = e.stageInfo
    val ms = (for (s <- i.submissionTime; d <- i.completionTime) yield d - s).getOrElse(0L)
    x.copy(stages = x.stages + 1,
      leafStageMs = x.leafStageMs + (if (i.parentIds.isEmpty) ms else 0L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = add { x =>
    val failed = if (e.reason == org.apache.spark.Success) 0L else 1L
    Option(e.taskMetrics) match {
      case None => x.copy(tasks = x.tasks + 1, taskFailures = x.taskFailures + failed)
      case Some(m) => x.copy(
        tasks = x.tasks + 1,
        taskFailures = x.taskFailures + failed,
        runMs = x.runMs + m.executorRunTime,
        cpuNs = x.cpuNs + m.executorCpuTime,
        gcMs = x.gcMs + m.jvmGCTime,
        shuffleWrite = x.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
        shuffleRead = x.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
        fetchWaitMs = x.fetchWaitMs + m.shuffleReadMetrics.fetchWaitTime,
        spillDisk = x.spillDisk + m.diskBytesSpilled,
        input = x.input + m.inputMetrics.bytesRead)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    plan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    plan(qe)

  private def plan(qe: QueryExecution): Unit = add { x =>
    val ph = qe.tracker.phases
    def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
    x.copy(plans = x.plans + 1,
      analysisMs = x.analysisMs + ms("analysis"),
      optimizationMs = x.optimizationMs + ms("optimization"),
      planningMs = x.planningMs + ms("planning"))
  }

  /** Counters after every event posted so far has been delivered. */
  def snapshot(spark: SparkSession): Counters = {
    PerfbenchBridge.drain(spark.sparkContext)
    synchronized(c)
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
}

/** Spans (name, start, end, parent, run id) kept in memory and written out
  * once at the end of the run.
  */
final case class Span(name: String, start: Long, end: Long, parent: String)

final class Spans(runId: String) {
  private val done = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[String]

  def apply[A](name: String)(body: => A): A = {
    val parent = stack.headOption.getOrElse("")
    stack = name :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      done += Span(name, t0, System.nanoTime(), parent)
      stack = stack.tail
    }
  }

  def json: String = done.map { s =>
    s"""{"name":${Json.str(s.name)},"start_ns":${s.start},"end_ns":${s.end},""" +
      s""""parent":${Json.str(s.parent)},"run":${Json.str(runId)}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch => ch.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
