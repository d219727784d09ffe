package graftbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Task-metric sums, in the units Spark reports them. */
final class TaskTotals {
  var tasks, cpuNs, runMs, gcMs, inputBytes, shuffleWriteBytes, shuffleReadBytes,
      fetchWaitMs, memSpillBytes, diskSpillBytes = 0L

  def add(m: org.apache.spark.executor.TaskMetrics): Unit = {
    tasks += 1
    cpuNs += m.executorCpuTime; runMs += m.executorRunTime; gcMs += m.jvmGCTime
    inputBytes += m.inputMetrics.bytesRead
    shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    shuffleReadBytes += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
    fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
    memSpillBytes += m.memoryBytesSpilled; diskSpillBytes += m.diskBytesSpilled
  }

  def minus(o: TaskTotals): TaskTotals = {
    val d = new TaskTotals
    d.tasks = tasks - o.tasks; d.cpuNs = cpuNs - o.cpuNs; d.runMs = runMs - o.runMs
    d.gcMs = gcMs - o.gcMs; d.inputBytes = inputBytes - o.inputBytes
    d.shuffleWriteBytes = shuffleWriteBytes - o.shuffleWriteBytes
    d.shuffleReadBytes = shuffleReadBytes - o.shuffleReadBytes
    d.fetchWaitMs = fetchWaitMs - o.fetchWaitMs
    d.memSpillBytes = memSpillBytes - o.memSpillBytes; d.diskSpillBytes = diskSpillBytes - o.diskSpillBytes
    d
  }

  def copy: TaskTotals = minus(new TaskTotals)

  def toMap: Map[String, Any] = Map(
    "tasks" -> tasks, "cpu_ns" -> cpuNs, "run_ms" -> runMs, "gc_ms" -> gcMs,
    "input_bytes" -> inputBytes, "shuffle_write_bytes" -> shuffleWriteBytes,
    "shuffle_read_bytes" -> shuffleReadBytes, "fetch_wait_ms" -> fetchWaitMs,
    "mem_spill_bytes" -> memSpillBytes, "disk_spill_bytes" -> diskSpillBytes)
}

/** A traced interval. Times are epoch milliseconds; `op` is the id of
  * the client op that caused it. Parents are assigned afterwards, by
  * containment (metrics.py). */
final case class Span(name: String, start: Double, end: Double, op: Int, detail: String = "")

/** The benchmark's only view into Spark: one listener on the shared
  * listener queue. Untraced it just sums task metrics; traced it also
  * keeps job, stage and SQL-execution spans, attributing each to the op
  * whose job tag it carries. All callbacks run on the single bus thread;
  * the client reads the state only after [[drain]]. */
final class BenchListener(sc: SparkContext, traced: Boolean) extends SparkListener {
  import BenchListener._

  val total = new TaskTotals
  val perOp = mutable.Map.empty[Int, TaskTotals]
  val spans = mutable.ArrayBuffer.empty[Span]
  val stagesPerOp = mutable.Map.empty[Int, Int].withDefaultValue(0)
  private val stageOp = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, (Int, Long, Int)]
  private val sqlStart = mutable.Map.empty[Long, (Int, Long)]
  private val pendingDrain = mutable.Map.empty[Int, String]
  private val drainStages = mutable.Set.empty[Int]
  private val drained = mutable.Set.empty[String]
  /** The op of the latest SQL execution the bus has seen start. Read by
    * [[ActionCounter]], which runs on the same bus thread, after it. */
  @volatile var busOp: Int = NoOp

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tags = tagsOf(Option(e.properties).map(_.getProperty(JobTagsProperty)).orNull)
    tags.find(_.startsWith(DrainTag)) match {
      case Some(tag) =>
        pendingDrain(e.jobId) = tag
        drainStages ++= e.stageIds
      case None if traced =>
        val op = opOf(tags)
        e.stageIds.foreach(stageOp(_) = op)
        jobStart(e.jobId) = (op, e.time, e.stageIds.size)
      case None => ()
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    pendingDrain.remove(e.jobId) match {
      case Some(tag) => drained += tag; notifyAll()
      case None if traced =>
        jobStart.remove(e.jobId).foreach { case (op, t0, nStages) =>
          spans += Span("spark.job", t0.toDouble, e.time.toDouble, op, s"job ${e.jobId}, $nStages stages")
        }
      case None => ()
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (traced) stageOp.get(e.stageInfo.stageId).foreach(op => stagesPerOp(op) += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null && !drainStages(e.stageId)) {
      total.add(m)
      if (traced) stageOp.get(e.stageId).foreach(op => perOp.getOrElseUpdate(op, new TaskTotals).add(m))
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = if (traced) synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        val op = opOf(s.jobTags)
        busOp = op
        sqlStart(s.executionId) = (op, s.time)
      case s: SparkListenerSQLExecutionEnd =>
        sqlStart.remove(s.executionId).foreach { case (op, t0) =>
          spans += Span("catalyst.action", t0.toDouble, s.time.toDouble, op)
        }
      case _ => ()
    }
  }

  private var drains = 0

  /** Returns once the bus has delivered every event posted before the
    * call: a one-task marker job is submitted after them, and the queue
    * delivers in order. */
  def drain(): Unit = {
    drains += 1
    val tag = s"$DrainTag$drains"
    sc.addJobTag(tag)
    try sc.parallelize(Seq(1), 1).count() finally sc.removeJobTag(tag)
    val deadline = System.nanoTime() + 60L * 1000000000L
    synchronized {
      while (!drained(tag)) {
        val left = (deadline - System.nanoTime()) / 1000000L
        if (left <= 0) throw new IllegalStateException("listener bus did not drain in 60 s")
        wait(left)
      }
    }
  }

  def snapshot(): TaskTotals = synchronized(total.copy)
}

object BenchListener {
  val NoOp: Int = -1
  /** Where SparkContext.addJobTag stores a job's tags. */
  val JobTagsProperty = "spark.job.tags"
  val OpTag = "graftbench-op-"
  val DrainTag = "graftbench-drain-"

  def tagsOf(s: String): Set[String] =
    if (s == null || s.isEmpty) Set.empty else s.split(",").toSet

  def opOf(tags: Set[String]): Int =
    tags.collectFirst { case t if t.startsWith(OpTag) => t.drop(OpTag.length).toInt }.getOrElse(NoOp)
}

/** Counts the actions Catalyst ran per op, by name, and collects the
  * planning phases of each: the QueryExecution of every action — the
  * client's own collect and the checkpoints and collects graft runs
  * inside a kernel. Runs on the shared bus queue right after the
  * listener above, so `busOp` names the op the action belongs to. */
final class ActionCounter(listener: BenchListener) extends QueryExecutionListener {
  val actions = mutable.ArrayBuffer.empty[(Int, String)]
  val planSpans = mutable.ArrayBuffer.empty[Span]

  private def record(funcName: String, qe: QueryExecution): Unit = listener.synchronized {
    val op = listener.busOp
    actions += ((op, funcName))
    qe.tracker.phases.foreach { case (phase, p) =>
      planSpans += Span("catalyst.plan", p.startTimeMs.toDouble, p.endTimeMs.toDouble, op, phase)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(funcName, qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(funcName, qe)
}
