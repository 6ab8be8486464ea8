package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer: `parent` is the enclosing span's id (0 =
  * the run itself). Jobs the call starts carry the job group `pb-<id>`. */
final case class Span(
    id: Int, parent: Int, name: String,
    startMs: Long, endMs: Long, nanos: Long, attrs: Map[String, Double])

/** Spark work seen by the listener, per job group. */
final case class SparkWork(
    jobs: Int, stages: Int, tasks: Int, failedTasks: Int,
    runS: Double, cpuS: Double, gcS: Double, schedDelayS: Double,
    fetchWaitS: Double, shuffleReadB: Double, shuffleWriteB: Double,
    spillB: Double, jobIntervals: Seq[(Long, Long)]) {
  def +(o: SparkWork): SparkWork = SparkWork(
    jobs + o.jobs, stages + o.stages, tasks + o.tasks, failedTasks + o.failedTasks,
    runS + o.runS, cpuS + o.cpuS, gcS + o.gcS, schedDelayS + o.schedDelayS,
    fetchWaitS + o.fetchWaitS, shuffleReadB + o.shuffleReadB,
    shuffleWriteB + o.shuffleWriteB, spillB + o.spillB, jobIntervals ++ o.jobIntervals)
}

object SparkWork {
  val zero: SparkWork = SparkWork(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, Nil)
}

/**
 * Records job, stage and task events by job group. Attached only in a
 * traced run; everything it keeps is summed per group when the run ends.
 */
final class GroupListener extends SparkListener {
  private final class Job(val group: String, val start: Long) { var end: Long = -1L }
  private final class Stage(val group: String) {
    var tasks, failed = 0
    var runMs, cpuNs, gcMs, delayMs, fetchMs, readB, writeB, spillB = 0L
    val taskRunMs = mutable.ArrayBuffer.empty[Long]
  }
  private val jobs = mutable.HashMap.empty[Int, Job]
  private val stages = mutable.HashMap.empty[Int, Stage]
  @volatile private var lastJobEnd = -1

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobs(e.jobId) = new Job(group, e.time)
    e.stageIds.foreach(s => if (!stages.contains(s)) stages(s) = new Stage(group))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
    lastJobEnd = e.jobId
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get(e.stageId).foreach { s =>
      s.tasks += 1
      if (!e.taskInfo.successful) s.failed += 1
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.taskRunMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.delayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        s.fetchMs += m.shuffleReadMetrics.fetchWaitTime
        s.readB += m.shuffleReadMetrics.totalBytesRead
        s.writeB += m.shuffleWriteMetrics.bytesWritten
        s.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def lastEndedJob: Int = lastJobEnd

  /** Work of the given groups. Stages skipped by a job (shuffle reuse)
    * ran no tasks and count as no stage. */
  def work(groups: Set[String]): SparkWork = synchronized {
    val js = jobs.values.filter(j => groups.contains(j.group))
    val ss = stages.values.filter(s => groups.contains(s.group) && s.tasks > 0)
    SparkWork(
      jobs = js.size, stages = ss.size, tasks = ss.iterator.map(_.tasks).sum,
      failedTasks = ss.iterator.map(_.failed).sum,
      runS = ss.iterator.map(_.runMs).sum / 1e3, cpuS = ss.iterator.map(_.cpuNs).sum / 1e9,
      gcS = ss.iterator.map(_.gcMs).sum / 1e3, schedDelayS = ss.iterator.map(_.delayMs).sum / 1e3,
      fetchWaitS = ss.iterator.map(_.fetchMs).sum / 1e3,
      shuffleReadB = ss.iterator.map(_.readB).sum.toDouble,
      shuffleWriteB = ss.iterator.map(_.writeB).sum.toDouble,
      spillB = ss.iterator.map(_.spillB).sum.toDouble,
      jobIntervals = js.filter(_.end >= 0).map(j => (j.start, j.end)).toSeq)
  }

  /** Executor run times (s) of the tasks of the groups' heaviest stage —
    * for a seal, the stage that builds one segment per task. */
  def heaviestStageTaskSeconds(groups: Set[String]): Seq[Double] = synchronized {
    val ss = stages.values.filter(s => groups.contains(s.group) && s.tasks > 0)
    if (ss.isEmpty) Nil else ss.maxBy(_.runMs).taskRunMs.map(_ / 1e3).toSeq
  }
}

/**
 * Spans around the benchmark's calls into each layer. Untraced, `span`
 * only runs the body; traced, it records the span, tags the jobs the body
 * starts with the span's job group, and counts its own bookkeeping time
 * as tracing overhead.
 */
final class Tracer(sc: SparkContext, val on: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = List(0)
  private var nextId = 1
  private var overheadNanos = 0L
  val listener: GroupListener = new GroupListener
  if (on) sc.addSparkListener(listener)

  def group(id: Int): String = s"pb-$id"

  /** Times `body` as a span named `name`; `attrs` adds numbers known only
    * after the body ran (rows returned, bytes written). */
  def span[A](name: String, attrs: A => Map[String, Double] = (_: A) => Map.empty[String, Double])(body: => A): A = {
    if (!on) return body
    val o0 = System.nanoTime()
    val id = nextId
    nextId += 1
    val parent = stack.head
    stack = id :: stack
    sc.setJobGroup(group(id), name, interruptOnCancel = false)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    overheadNanos += t0 - o0
    val result = try body finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      if (parent == 0) sc.clearJobGroup() else sc.setJobGroup(group(parent), "", interruptOnCancel = false)
      spans += Span(id, parent, name, startMs, System.currentTimeMillis(), t1 - t0, Map.empty)
      overheadNanos += System.nanoTime() - t1
    }
    val o1 = System.nanoTime()
    val extra = attrs(result)
    if (extra.nonEmpty) {
      val i = spans.lastIndexWhere(_.id == id)
      spans(i) = spans(i).copy(attrs = extra)
    }
    overheadNanos += System.nanoTime() - o1
    result
  }

  /** Runs tracing-only work (directory walks, accumulator reads) and
    * counts it as overhead. */
  def measure[A](body: => A): A = {
    val t0 = System.nanoTime()
    try body finally overheadNanos += System.nanoTime() - t0
  }

  def overheadSeconds: Double = overheadNanos / 1e9
  def all: Seq[Span] = spans.toSeq

  /** Ids of a span and all its descendants. */
  def subtree(id: Int): Set[Int] = {
    val children = spans.groupBy(_.parent)
    def go(i: Int): Set[Int] = Set(i) ++ children.getOrElse(i, Nil).flatMap(s => go(s.id))
    go(id)
  }

  def work(span: Span): SparkWork = listener.work(subtree(span.id).map(group))

  /** Wall time of the span not covered by any of its jobs. */
  def driverGapSeconds(span: Span): Double = {
    val iv = work(span).jobIntervals
      .map { case (a, b) => (math.max(a, span.startMs), math.min(b, span.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0.0, span.nanos / 1e9 - covered / 1e3)
  }

  /** Waits until the listener has seen every job started so far: runs a
    * one-task marker job and waits for its end event, which the listener
    * bus delivers after all earlier events. */
  def drain(): Unit = if (on) measure {
    sc.setJobGroup("pb-drain", "drain", interruptOnCancel = false)
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    val marker = sc.statusTracker.getJobIdsForGroup("pb-drain").max
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (listener.lastEndedJob < marker && System.nanoTime() < deadline) Thread.sleep(5)
  }

  /** Spans as JSON lines, for the trace file. */
  def spansJson: Seq[String] = spans.toSeq.map { s =>
    val attrs = s.attrs.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
    s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"start_ms":${s.startMs},""" +
      s""""end_ms":${s.endMs},"seconds":${Json.num(s.nanos / 1e9)},"attrs":{$attrs}}"""
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
