package graft.etlbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{BenchHooks, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are `System.nanoTime` values; `parent` is the
  * id of the enclosing span on the same thread (0 at top level) and `unit`
  * the unit of work the span belongs to.
  */
final case class Span(id: Int, layer: String, name: String, unit: String,
                      parent: Int, t0: Long, t1: Long)

/** In-memory span recorder. Off, `span` only runs its body. */
object Trace {
  @volatile var on = false
  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicInteger
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }

  def span[A](layer: String, name: String, unit: String)(body: => A): A =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, layer, name, unit, parent, t0, System.nanoTime()))
        stack.set(stack.get.tail)
      }
    }

  /** Record an interval measured elsewhere (listener callbacks). */
  def add(layer: String, name: String, unit: String, t0: Long, t1: Long): Unit =
    if (on) spans.add(Span(ids.incrementAndGet(), layer, name, unit, 0, t0, t1))

  /** Run `body` with the calling thread's Spark jobs and SQL executions
    * tagged as `unit`'s, so [[Probe]] can attribute their tasks, sink writes
    * and planning phases to it. Off, only runs `body`.
    */
  def tagged[A](spark: SparkSession, unit: String)(body: => A): A =
    if (!on) body
    else {
      val tag = TagPrefix + unit
      spark.sparkContext.addJobTag(tag)
      try body finally spark.sparkContext.removeJobTag(tag)
    }

  private val TagPrefix = "etlbench-unit:"
  def unitOf(tags: Iterable[String]): String =
    tags.collectFirst { case t if t.startsWith(TagPrefix) => t.stripPrefix(TagPrefix) }
      .getOrElse("")

  /** Spans recorded after the id watermark `mark` (see [[mark]]). */
  def since(mark: Int): Seq[Span] = spans.asScala.filter(_.id > mark).toSeq
  def mark: Int = ids.get

  /** Epoch-millisecond timestamps (Spark task and phase times) to the
    * nanoTime domain spans use.
    */
  private val epochToNano: Long =
    System.nanoTime() - System.currentTimeMillis() * 1000000L
  def fromEpochMs(ms: Long): Long = ms * 1000000L + epochToNano
}

/** Cumulative engine counters; pass metrics are differences of snapshots. */
final case class Counters(
    jobs: Long, stages: Long, tasks: Long, taskRunMs: Long, taskCpuNs: Long,
    gcMs: Long, shuffleRead: Long, shuffleWrite: Long, fetchWaitMs: Long,
    spill: Long, input: Long, output: Long, rowsWritten: Long, writeNs: Long,
    compiles: Long, compileNs: Long, cpuNs: Long) {
  def -(o: Counters): Counters = Counters(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks, taskRunMs - o.taskRunMs,
    taskCpuNs - o.taskCpuNs, gcMs - o.gcMs, shuffleRead - o.shuffleRead,
    shuffleWrite - o.shuffleWrite, fetchWaitMs - o.fetchWaitMs,
    spill - o.spill, input - o.input, output - o.output,
    rowsWritten - o.rowsWritten, writeNs - o.writeNs,
    compiles - o.compiles, compileNs - o.compileNs, cpuNs - o.cpuNs)
  def +(o: Counters): Counters = Counters(
    jobs + o.jobs, stages + o.stages, tasks + o.tasks, taskRunMs + o.taskRunMs,
    taskCpuNs + o.taskCpuNs, gcMs + o.gcMs, shuffleRead + o.shuffleRead,
    shuffleWrite + o.shuffleWrite, fetchWaitMs + o.fetchWaitMs,
    spill + o.spill, input + o.input, output + o.output,
    rowsWritten + o.rowsWritten, writeNs + o.writeNs,
    compiles + o.compiles, compileNs + o.compileNs, cpuNs + o.cpuNs)
}

object Counters {
  val zero: Counters = Counters(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
}

/** Scheduler listener behind the engine counters. Always registered (the
  * end-to-end shuffle and sink figures come from it); task and sink-write
  * intervals, each with the unit its job was tagged with (see
  * [[Trace.tagged]]), are kept only while [[Trace.on]]. A job is a sink
  * write when any of its tasks wrote output; its wall is sink time.
  */
final class Probe extends SparkListener {
  private val jobs, stages, tasks, runMs, cpuNs, gcMs, shRead, shWrite,
    fetchWaitMs, spill, input, output, rowsWritten, writeNs = new AtomicLong
  private val taskIntervals, writeIntervals = new ConcurrentLinkedQueue[(String, Long, Long)]
  private val jobStart = new ConcurrentHashMap[Int, Long]
  private val jobUnit = new ConcurrentHashMap[Int, String]
  private val stageJob = new ConcurrentHashMap[Int, Int]
  private val writingJobs = ConcurrentHashMap.newKeySet[Int]
  private val executionUnit = new ConcurrentHashMap[Long, String]
  /** Unit of each tagged SQL execution's QueryExecution (identity equality). */
  private val queryUnit = new ConcurrentHashMap[QueryExecution, String]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    jobStart.put(e.jobId, Trace.fromEpochMs(e.time))
    e.stageIds.foreach(stageJob.put(_, e.jobId))
    if (Trace.on) jobUnit.put(e.jobId, Trace.unitOf(
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
        .toSeq.flatMap(_.split(","))))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val t0 = jobStart.remove(e.jobId)
    val unit = Option(jobUnit.remove(e.jobId)).getOrElse("")
    if (writingJobs.remove(e.jobId)) {
      val t1 = Trace.fromEpochMs(e.time)
      writeNs.addAndGet(t1 - t0)
      if (Trace.on) writeIntervals.add((unit, t0, t1))
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    stageJob.remove(e.stageInfo.stageId)
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if Trace.on =>
      executionUnit.put(s.executionId, Trace.unitOf(s.jobTags))
    case x: SparkListenerSQLExecutionEnd =>
      Option(executionUnit.remove(x.executionId)).foreach { unit =>
        Option(BenchHooks.queryExecution(x)).foreach(qe => queryUnit.put(qe, unit))
      }
    case _ =>
  }

  /** The unit whose thread ran `qe`'s SQL execution ("" when untagged);
    * forgets it.
    */
  def unitOf(qe: QueryExecution): String =
    Option(queryUnit.remove(qe)).getOrElse("")
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      fetchWaitMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      input.addAndGet(m.inputMetrics.bytesRead)
      output.addAndGet(m.outputMetrics.bytesWritten)
      rowsWritten.addAndGet(m.outputMetrics.recordsWritten)
      if (m.outputMetrics.bytesWritten > 0)
        Option(stageJob.get(e.stageId)).foreach(j => writingJobs.add(j))
    }
    if (Trace.on && e.taskInfo != null)
      taskIntervals.add((Option(stageJob.get(e.stageId)).flatMap(j => Option(jobUnit.get(j)))
        .getOrElse(""), Trace.fromEpochMs(e.taskInfo.launchTime),
        Trace.fromEpochMs(e.taskInfo.finishTime)))
  }

  def snapshot(): Counters = {
    val codegen = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    Counters(jobs.get, stages.get, tasks.get, runMs.get, cpuNs.get, gcMs.get,
      shRead.get, shWrite.get, fetchWaitMs.get, spill.get, input.get, output.get,
      rowsWritten.get, writeNs.get, codegen.getCount,
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
      Probe.processCpuNs())
  }

  /** (unit, start, end) of the task runs and sink-write jobs recorded so
    * far, removed from the probe; forgets the SQL executions' units.
    */
  def takeIntervals(): (Seq[(String, Long, Long)], Seq[(String, Long, Long)]) = {
    executionUnit.clear()
    queryUnit.clear()
    (Probe.drain(taskIntervals), Probe.drain(writeIntervals))
  }
}

object Probe {
  def drain[A](q: ConcurrentLinkedQueue[A]): Seq[A] = {
    val out = Seq.newBuilder[A]
    var x = q.poll()
    while (x != null) { out += x; x = q.poll() }
    out.result()
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def processCpuNs(): Long = os.getProcessCpuTime
}

/** Planning figures of the actions the engine issues itself (a frame the
  * benchmark forces through `toRdd` never reaches a QueryExecutionListener;
  * the harness reads its tracker directly).
  */
final class ActionProbe extends QueryExecutionListener {
  val actions = new AtomicLong
  /** Nanoseconds per phase, in [[ActionProbe.Phases]] order. */
  val phaseNs: Seq[AtomicLong] = ActionProbe.Phases.map(_ => new AtomicLong)
  private val seen = new ConcurrentLinkedQueue[QueryExecution]

  def reset(): Unit = {
    (actions +: phaseNs).foreach(_.set(0))
    seen.clear()
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    actions.incrementAndGet()
    ActionProbe.phases(qe.tracker).foreach { case (phase, t0, t1) =>
      phaseNs(ActionProbe.Phases.indexOf(phase)).addAndGet(t1 - t0)
    }
    seen.add(qe)
  }

  /** Record the planning phases of the actions seen since [[reset]] as
    * catalyst spans of the units that issued them. Call once the listeners
    * are drained: the unit of an action is known only after `probe` has
    * seen its SQL execution end, which may be delivered after this
    * listener's callback.
    */
  def addSpans(probe: Probe): Unit =
    Probe.drain(seen).foreach { qe =>
      val unit = probe.unitOf(qe)
      ActionProbe.phases(qe.tracker).foreach { case (phase, t0, t1) =>
        Trace.add("catalyst", phase, unit, t0, t1)
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    actions.incrementAndGet()
}

object ActionProbe {
  val Phases: Seq[String] = Seq(QueryPlanningTracker.ANALYSIS,
    QueryPlanningTracker.OPTIMIZATION, QueryPlanningTracker.PLANNING)

  /** (phase, start, end) in the nanoTime domain for the planning phases a
    * tracker has recorded.
    */
  def phases(t: QueryPlanningTracker): Seq[(String, Long, Long)] =
    Phases.flatMap { p =>
      t.phases.get(p).map(s =>
        (p, Trace.fromEpochMs(s.startTimeMs), Trace.fromEpochMs(s.endTimeMs)))
    }
}
