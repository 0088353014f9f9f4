package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval at a layer boundary; times are epoch seconds.
  * `run` groups the spans of one benchmark operation; `parent` 0 = root;
  * `kind` is `call` (a benchmark call into a layer), `job` or `stage`. */
final case class Span(
    id: Long, name: String, parent: Long, run: Long, start: Double, end: Double,
    kind: String = "call")

/**
 * Outside-in tracer: the benchmark wraps each call into a layer in
 * [[span]]; the Spark listeners below add job and stage spans beneath the
 * benchmark span that was open when the job started (carried to the
 * scheduler as a job-local property). Spans stay in memory until
 * [[writeJsonl]]. While `enabled` is false, [[span]] only runs its body.
 */
final class Tracer(sc: SparkContext) {
  private val t0Nanos = System.nanoTime()
  private val t0Epoch = System.currentTimeMillis() / 1e3
  def now(): Double = t0Epoch + (System.nanoTime() - t0Nanos) / 1e9

  private val ids = new AtomicLong(0L)
  private val buf = mutable.ArrayBuffer.empty[Span]
  /** name and operation of every span opened so far (listeners resolve
    * a job's parent here, possibly after the span has closed) */
  private val opened = mutable.HashMap.empty[Long, (String, Long)]
  private var stack = List.empty[Long]
  @volatile var run = 0L
  @volatile var enabled = false

  def newId(): Long = ids.incrementAndGet()
  def opener(id: Long): Option[(String, Long)] = synchronized(opened.get(id))

  def span[T](name: String)(f: => T): T = if (!enabled) f else {
    val id = newId()
    val parent = stack.headOption.getOrElse(0L)
    synchronized(opened(id) = (name, run))
    stack = id :: stack
    sc.setLocalProperty(Tracer.SpanKey, id.toString)
    val start = now()
    try f
    finally {
      val end = now()
      stack = stack.tail
      sc.setLocalProperty(Tracer.SpanKey, stack.headOption.map(_.toString).orNull)
      record(Span(id, name, parent, run, start, end))
    }
  }

  def record(s: Span): Unit = synchronized(buf += s)
  def spans: Seq[Span] = synchronized(buf.toList)

  def writeJsonl(file: File): Unit = {
    val out = new PrintWriter(file, "UTF-8")
    try spans.sortBy(_.start).foreach { s =>
      out.println(Json.obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "run" -> s.run, "start" -> s.start, "end" -> s.end, "kind" -> s.kind))
    } finally out.close()
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  /**
   * Self time per span name. Each root span's interval is split at its
   * children's boundaries; a piece no child covers is the span's own, and
   * a covered piece is handed to the latest-started covering child, down
   * the tree. Every instant of a root is therefore counted exactly once,
   * so the self times of a root's subtree add up to its wall time.
   */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val known = spans.map(_.id).toSet
    val kids = spans.groupBy(_.parent)
    val acc = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    def attr(s: Span, lo: Double, hi: Double): Unit = {
      val cs = kids.getOrElse(s.id, Nil)
        .map(c => (c, math.max(c.start, lo), math.min(c.end, hi)))
        .filter(c => c._2 < c._3)
      if (cs.isEmpty) acc(s.name) += hi - lo
      else {
        val cuts = (Seq(lo, hi) ++ cs.flatMap(c => Seq(c._2, c._3))).distinct.sorted
        cuts.sliding(2).foreach { case Seq(a, b) =>
          val covering = cs.filter(c => c._2 <= a && c._3 >= b)
          if (covering.isEmpty) acc(s.name) += b - a
          else attr(covering.maxBy(_._1.start)._1, a, b)
        }
      }
    }
    spans.filterNot(s => known(s.parent)).foreach(s => attr(s, s.start, s.end))
    acc.toMap
  }
}

/**
 * Scheduler-side counters and job/stage spans, registered by the
 * benchmark (never by the program). Jobs are named by `jobLabel` from
 * their call site; a stage can get its own span from `stageLabel`.
 * Events arrive on the listener thread; read only after [[BusDrain]].
 */
final class SparkProbe(
    tracer: Tracer,
    cores: Int,
    jobLabel: (String, Long, Option[Long], String) => String,
    stageLabel: (String, StageInfo) => Option[String]) extends SparkListener {

  private final class Job(val spanId: Long, val parent: Long, val run: Long, val label: String, val start: Double)
  private val jobs = mutable.HashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val execSite = mutable.HashMap.empty[Long, String]
  private val fileAccums = mutable.HashSet.empty[Long]
  private val execLabel = mutable.HashMap.empty[Long, String]
  private val taskDurations = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]

  var taskS = 0.0
  var shuffleBytes = 0L
  var spillBytes = 0L
  var serialStageS = 0.0
  var maxSkew = 1.0
  /** Rows written by the stages of jobs, by job label. */
  val rowsWritten = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
  private val filesByExec = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)

  /** Files read by each SQL execution whose jobs carry `label`. */
  def filesReadBy(label: String): Seq[Long] = synchronized {
    execLabel.collect { case (e, l) if l == label => filesByExec(e) }.toSeq
  }

  private def scans(p: SparkPlanInfo): Unit = {
    p.metrics.filter(_.name == "number of files read").foreach(m => fileAccums += m.accumulatorId)
    p.children.foreach(scans)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        execSite(s.executionId) = s.details
        scans(s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate => scans(u.sparkPlanInfo)
      case d: SparkListenerDriverAccumUpdates =>
        d.accumUpdates.foreach { case (id, v) =>
          if (fileAccums(id)) filesByExec(d.executionId) += v
        }
      case _ =>
    }
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    val props = Option(j.properties)
    val parent = props.flatMap(p => Option(p.getProperty(Tracer.SpanKey))).map(_.toLong).getOrElse(0L)
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    val site = exec.flatMap(execSite.get)
      .getOrElse(j.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse(""))
    val (parentName, run) = tracer.opener(parent).getOrElse(("spark", 0L))
    val label = jobLabel(site, parent, exec, parentName)
    exec.foreach(execLabel(_) = label)
    jobs(j.jobId) = new Job(tracer.newId(), parent, run, label, j.time / 1e3)
    j.stageIds.foreach(stageJob(_) = j.jobId)
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(j.jobId).filter(_.parent != 0L).foreach { job =>
      tracer.record(Span(job.spanId, job.label, job.parent, job.run, job.start, j.time / 1e3, "job"))
    }
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    taskDurations.getOrElseUpdate(t.stageId, mutable.ArrayBuffer.empty) += t.taskInfo.duration
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
    val info = s.stageInfo
    val durations = taskDurations.remove(info.stageId).map(_.sorted).getOrElse(mutable.ArrayBuffer.empty[Long])
    // only work started inside a benchmark span counts (not the checks)
    for (jobId <- stageJob.remove(info.stageId); job <- jobs.get(jobId) if job.parent != 0L;
         a <- info.submissionTime; b <- info.completionTime) {
      val wall = (b - a) / 1e3
      val m = info.taskMetrics
      if (m != null) {
        taskS += m.executorRunTime / 1e3
        shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        spillBytes += m.diskBytesSpilled
        rowsWritten(job.label) += m.outputMetrics.recordsWritten
      }
      if (info.numTasks < cores) serialStageS += wall
      if (durations.length >= 2 && wall >= 0.05)
        maxSkew = math.max(maxSkew, durations.last.toDouble / math.max(durations(durations.length / 2), 1L))
      stageLabel(job.label, info).foreach(name =>
        tracer.record(Span(tracer.newId(), name, job.spanId, job.run, a / 1e3, b / 1e3, "stage")))
    }
  }
}

/** Micro-batch counters from the streaming queries the program runs. */
final class StreamProbe extends StreamingQueryListener {
  var batches = 0L
  var batchS = 0.0
  var rows = 0L
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    batches += 1
    batchS += e.progress.batchDuration / 1e3
    rows += e.progress.numInputRows
  }
}

/** Process-wide GC time and heap occupancy, read through the JVM's MXBeans. */
object Jvm {
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  /** JIT compile time so far, summed over the compiler threads. */
  def jitSeconds(): Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  def usedHeapMb(): Double = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

  def maxHeapMb(): Double = Runtime.getRuntime.maxMemory / 1048576.0
}
