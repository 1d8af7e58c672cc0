package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One timed call into a layer. `start`/`end` are `System.nanoTime`,
  * `startMs`/`endMs` the wall clock that Spark's task times use; `parent`
  * is -1 for a root span. All spans of one daily run share `run`. `work`
  * is the Spark work of tasks that ended inside the span.
  */
final case class Span(id: Int, name: String, parent: Int, run: Int,
                      start: Long, end: Long, startMs: Long, endMs: Long,
                      work: SparkWork) {
  def dur: Long = end - start
  def seconds: Double = dur / 1e9
}

/** In-memory span recorder, written out once when the benchmark ends. The
  * benchmark issues its calls from one thread, so a stack gives parents.
  * Every span edge drains the listener bus, so `work` is exact.
  */
final class Tracer(probe: SparkProbe) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var run: Int = 0

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val w0 = probe.snapshot()
    val (ms0, t0) = (System.currentTimeMillis(), System.nanoTime())
    stack = id :: stack
    try body
    finally {
      stack = stack.tail
      val (t1, ms1) = (System.nanoTime(), System.currentTimeMillis())
      done += Span(id, name, parent, run, t0, t1, ms0, ms1, probe.snapshot() - w0)
    }
  }

  def spans: Seq[Span] = done.toSeq.sortBy(_.id)
}

object Tracer {

  /** Self time per span id: duration minus the part of the span's
    * interval that its children cover (children may overlap each other;
    * their union is what is subtracted).
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ivs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }
      s.id -> (s.dur - unionLength(ivs))
    }.toMap
  }

  /** Total length covered by a set of [start, end) intervals. */
  def unionLength(ivs: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    ivs.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) covered += curB - curA
    covered
  }
}

/** Spark work summed over a window of the driver's timeline. */
final case class SparkWork(taskCpuNs: Long = 0, taskRunMs: Long = 0,
                           gcMs: Long = 0, shuffleWriteBytes: Long = 0,
                           fetchWaitMs: Long = 0, jobs: Int = 0,
                           stages: Int = 0, tasks: Int = 0) {
  def +(o: SparkWork): SparkWork = SparkWork(taskCpuNs + o.taskCpuNs,
    taskRunMs + o.taskRunMs, gcMs + o.gcMs,
    shuffleWriteBytes + o.shuffleWriteBytes, fetchWaitMs + o.fetchWaitMs,
    jobs + o.jobs, stages + o.stages, tasks + o.tasks)
  def -(o: SparkWork): SparkWork = SparkWork(taskCpuNs - o.taskCpuNs,
    taskRunMs - o.taskRunMs, gcMs - o.gcMs,
    shuffleWriteBytes - o.shuffleWriteBytes, fetchWaitMs - o.fetchWaitMs,
    jobs - o.jobs, stages - o.stages, tasks - o.tasks)
}

/** A SQL execution as the listener saw it: the first `graft.*` stack frame
  * of the action that started it, and its wall interval (epoch ms).
  */
final case class Execution(id: Long, root: Long, frames: Seq[Frame],
                           startMs: Long, endMs: Long)

/** One parsed stack frame, e.g.
  * `graft.query.CorpusPipeline$.runDaily(CorpusPipeline.scala:76)`.
  */
final case class Frame(cls: String, method: String, file: String, line: Int)

object Frame {
  private val Re = """\s*(?:at\s+)?([\w.$]+)\.([\w$]+)\(([^:()]+)(?::(\d+))?\)\s*""".r

  /** The `graft.*` frames of an execution's call-site description,
    * innermost first. Lambda frames (`$anonfun$runDaily$1`) are reported
    * under their enclosing method.
    */
  def graftFrames(details: String): Seq[Frame] =
    details.split("\n").toSeq.flatMap {
      case Re(cls, m, file, line) if cls.startsWith("graft.") =>
        val method = m.split("\\$").filter(p => p.nonEmpty && p != "anonfun" &&
          !p.forall(_.isDigit)).lastOption.getOrElse(m)
        Some(Frame(cls, method, file, Option(line).fold(-1)(_.toInt)))
      case _ => None
    }
}

/** Benchmark-side Spark listener. It sums task metrics into running
  * counters (windows are differences of two drained snapshots), keeps each
  * task's run interval, and maps every stage to its SQL execution through
  * the job property `spark.sql.execution.id` so task work can be charged
  * to the library call that started it.
  */
final class SparkProbe(sc: SparkContext) extends SparkListener {
  private var total = SparkWork()
  private val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val stageExec = mutable.Map.empty[Int, Long]
  private val execWork = mutable.Map.empty[Long, SparkWork]
  private val execs = mutable.LinkedHashMap.empty[Long, Execution]

  /** Listen from now on; the untraced days of a run are not listened to. */
  def attach(): Unit = sc.addSparkListener(this)

  def detach(): Unit = { drain(); sc.removeSparkListener(this) }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    total = total.copy(jobs = total.jobs + 1)
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach { x => e.stageIds.foreach(s => stageExec(s) = x.toLong) }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized { total = total.copy(stages = total.stages + 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val w = if (m == null) SparkWork(tasks = 1) else SparkWork(
      m.executorCpuTime, m.executorRunTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.fetchWaitTime,
      tasks = 1)
    total = total + w
    taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    stageExec.get(e.stageId).foreach { x =>
      execWork(x) = execWork.getOrElse(x, SparkWork()) + w
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        execs(s.executionId) = Execution(s.executionId,
          s.rootExecutionId.getOrElse(s.executionId),
          Frame.graftFrames(s.details), s.time, -1L)
      case s: SparkListenerSQLExecutionEnd =>
        execs.get(s.executionId).foreach(x => execs(x.id) = x.copy(endMs = s.time))
      case _ =>
    }
  }

  /** Deliver every queued event before reading the counters. */
  def drain(): Unit = org.apache.spark.GraftListenerSync.drain(sc)

  def snapshot(): SparkWork = { drain(); synchronized(total) }

  /** Wall time in [fromMs, toMs) during which no task was running. */
  def driverOnlyMs(fromMs: Long, toMs: Long): Long = {
    drain()
    val ivs = synchronized(taskIntervals.toSeq)
      .map { case (a, b) => (math.max(a, fromMs), math.min(b, toMs)) }
      .filter { case (a, b) => b > a }
    (toMs - fromMs) - Tracer.unionLength(ivs)
  }

  /** Executions that started in [fromMs, toMs], with the task work of all
    * their stages and of their nested executions folded into the root.
    */
  def executions(fromMs: Long, toMs: Long): Seq[(Execution, SparkWork)] = {
    drain()
    synchronized {
      val inWindow = execs.values.filter(x => x.startMs >= fromMs && x.startMs <= toMs).toSeq
      val work = inWindow.groupBy(_.root).map { case (r, xs) =>
        r -> xs.map(x => execWork.getOrElse(x.id, SparkWork())).reduce(_ + _)
      }
      inWindow.filter(x => x.id == x.root).map(x => (x, work.getOrElse(x.id, SparkWork())))
    }
  }

  /** Forget the per-task and per-execution records of finished runs. */
  def clearRecords(): Unit = synchronized {
    taskIntervals.clear(); stageExec.clear(); execWork.clear(); execs.clear()
  }
}
