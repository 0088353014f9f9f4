package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.perfbench.BusDrain
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.scheduler.StageInfo

/** One benchmark operation. `run` does the timed work and returns the
  * output check, which runs untimed and yields an error message on a
  * wrong answer. */
final case class Op(name: String, inputRows: Long, run: () => () => Option[String])

/** A named workload: how to set it up, warm it and run one pass. */
trait Workload {
  /** Set-up is repeated before every pass (inputs a pass consumes);
    * otherwise it runs three times before the warm-up. */
  def setupPerPass: Boolean
  def setup(rep: Int): Unit
  /** Untimed first touch (class loading, codegen, JIT) before timing. */
  def warm(): Unit
  def pass(p: Int): Seq[Op]
  def afterPass(p: Int): Unit = ()
  def storedBytesRatio: Double
  /** Names the jobs a traced run sees; default: the enclosing span. */
  def jobLabel(site: String, parent: Long, exec: Option[Long], parentName: String): String = parentName
  def stageLabel(job: String, s: StageInfo): Option[String] = None
  /** Workload-specific per-layer counters over the traced operations. */
  def layerCounts(probe: SparkProbe): Map[String, Double]
}

/** Closed loop, one client: passes run back to back until the measured
  * time is spent; every pass runs the same operations in the same order. */
final class Runner(spark: SparkSession, tracer: Tracer, cores: Int) {

  private val opTimes = mutable.ArrayBuffer.empty[Double]
  private val passTimes = mutable.ArrayBuffer.empty[Double]
  private val setupTimes = mutable.ArrayBuffer.empty[Double]
  private val errors = mutable.ArrayBuffer.empty[String]
  private var attempted, failed, rows, passNo = 0L
  private var opWall = 0.0
  private var liveHeap = 0.0
  // GC time of the benchmark's own System.gc() calls, left out of spark.gc_s
  private var forcedGc = 0.0

  private def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val v = f; (v, (System.nanoTime() - t0) / 1e9)
  }

  private def runPass(wl: Workload): Double = {
    val p = passNo.toInt
    passNo += 1
    if (wl.setupPerPass) setupTimes += time(wl.setup(p))._2
    var wall = 0.0
    wl.pass(p).foreach { op =>
      attempted += 1
      tracer.run = attempted
      val (check, dt) = time {
        try op.run() catch { case e: Throwable => () => Some(s"${op.name}: threw $e") }
      }
      wall += dt
      val err = try check() catch { case e: Throwable => Some(s"${op.name}: check threw $e") }
      // every operation starts from a collected heap; what stays live after
      // an operation is the Spark driver memory it holds on to
      val gc0 = Jvm.gcSeconds()
      System.gc()
      forcedGc += Jvm.gcSeconds() - gc0
      liveHeap = math.max(liveHeap, Jvm.usedHeapMb())
      err match {
        case Some(m) => failed += 1; if (errors.size < 20) errors += m
        case None => opTimes += dt; opWall += dt; rows += op.inputRows
      }
    }
    wl.afterPass(p)
    passTimes += wall
    wall
  }

  /** Whole passes until `seconds` of operation time is spent, and at
    * least `MinPasses`: a pass is one short sample of each operation, and
    * a fixed count keeps the measured work the same on a slow host. */
  private def measure(wl: Workload, seconds: Double): Unit = {
    var (spent, n) = (0.0, 0)
    do { spent += runPass(wl); n += 1 } while (spent < seconds || n < Runner.MinPasses)
  }

  def run(wl: Workload, seconds: Double, trace: Boolean, spanFile: Option[File]): Map[String, Any] = {
    val phases = mutable.LinkedHashMap.empty[String, Double]
    // JVM and Spark session start, before the workload's set-up
    phases("start") = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    // JIT compile time in each phase: compiler threads share the cores
    // with the measured operations
    val jit = mutable.LinkedHashMap.empty[String, Double]
    def timed[T](name: String)(f: => T): T = {
      val j0 = Jvm.jitSeconds()
      val (v, dt) = time(f)
      phases(name) = dt; jit(name) = Jvm.jitSeconds() - j0
      v
    }
    timed("setup")(if (!wl.setupPerPass) (0 until 3).foreach(i => setupTimes += time(wl.setup(i))._2))
    timed("warm")(wl.warm())
    var layers = Map.empty[String, Double]
    if (!trace) timed("measure")(measure(wl, seconds))
    else {
      BusDrain(spark.sparkContext)
      val probe = new SparkProbe(tracer, cores, wl.jobLabel, wl.stageLabel)
      val streams = new StreamProbe
      spark.sparkContext.addSparkListener(probe)
      spark.streams.addListener(streams)
      tracer.enabled = true
      val (gc0, forced0) = (Jvm.gcSeconds(), forcedGc)
      timed("measure")(measure(wl, seconds))
      BusDrain(spark.sparkContext)
      tracer.enabled = false
      // the program's GC: all collection time minus the forced collections
      val gc = Jvm.gcSeconds() - gc0 - (forcedGc - forced0)
      spark.sparkContext.removeSparkListener(probe)
      spark.streams.removeListener(streams)
      // the traced pass wall; minus pass_s of an untraced run of the same
      // seed, it is the tracing overhead
      layers = layerMetrics(wl, probe, streams, math.max(1, opTimes.size), opWall, gc) +
        ("trace.pass_s" -> Stats.median(passTimes.toSeq))
      spanFile.foreach(tracer.writeJsonl)
    }
    // at least three set-ups, so set-up time is a median
    while (setupTimes.size < 3) {
      val p = passNo.toInt; passNo += 1
      setupTimes += time(wl.setup(p))._2
      wl.afterPass(p)
    }

    val ops = opTimes.toVector
    val e2e = Map[String, Any](
      "setup_s" -> Stats.median(setupTimes.toSeq),
      "pass_s" -> Stats.median(passTimes.toSeq),
      "op_p50_s" -> Stats.median(ops),
      "op_geomean_s" -> Stats.geomean(ops),
      "input_rows_per_s" -> rows / opWall,
      "live_heap_mb" -> liveHeap,
      "stored_bytes_ratio" -> wl.storedBytesRatio)
    Map(
      "attempted" -> attempted, "failed" -> failed, "errors" -> errors.toList,
      "end_to_end" -> e2e, "per_layer" -> layers,
      "info" -> Map(
        "ops_measured" -> ops.size, "op_times_s" -> ops, "passes" -> passTimes.size,
        "pass_walls_s" -> passTimes.toVector,
        "setups" -> setupTimes.size, "cores" -> cores, "max_heap_mb" -> Jvm.maxHeapMb(),
        "spark_version" -> spark.version, "job_floor_s" -> jobFloor(), "phase_s" -> phases,
        "phase_jit_s" -> jit))
  }

  /** The existing 1000-row one-shuffle probe: min of five. An environment
    * covariate (scheduler latency), not a target. */
  def jobFloor(): Double = (1 to 5).map { _ =>
    time(spark.range(0, 1000, 1, cores).groupBy(col("id") % 7).count().collect())._2
  }.min

  private def layerMetrics(wl: Workload, probe: SparkProbe, streams: StreamProbe,
      n: Int, wall: Double, gc: Double): Map[String, Double] = {
    val spans = tracer.spans
    val self = Tracer.selfTimes(spans)
    val byId = spans.map(s => s.id -> s).toMap
    def under(s: Span, name: String): Boolean =
      Iterator.iterate(byId.get(s.parent))(_.flatMap(p => byId.get(p.parent)))
        .takeWhile(_.isDefined).exists(_.get.name == name)
    val jobs = spans.filter(_.kind == "job")
    def per(x: Double) = x / n
    val spanMetrics = Seq(
      "clf.read_s" -> "clf.read", "clf.parse_s" -> "clf.parse", "clf.rejects_s" -> "clf.rejects",
      "stage.write_s" -> "stage.write", "stage.read_day_s" -> "stage.read_day",
      "analytics.aggregate_s" -> "analytics.aggregate", "analytics.session_s" -> "analytics.session",
      "sinks.write_s" -> "sinks.write", "pipeline.other_s" -> "pipeline.run",
      "query.build_s" -> "query.build", "query.execute_s" -> "query.execute",
      "materialize.release_s" -> "materialize.release"
    ).map { case (m, s) => m -> per(self.getOrElse(s, 0.0)) }
    // the whole Pipeline.run span, to check the layer self times add up to it
    val runWall = spans.filter(s => s.kind == "call" && s.name == "pipeline.run").map(s => s.end - s.start).sum
    val base = Map(
      "clf.lines" -> 0.0, "clf.rejected" -> 0.0, "stage.write_files" -> 0.0, "stage.write_bytes" -> 0.0,
      "stage.files_scanned_per_read" -> 0.0,
      "sinks.rows" -> per(probe.rowsWritten("sinks.write").toDouble),
      "pipeline.jobs" -> per(jobs.count(under(_, "pipeline.run")).toDouble),
      "query.build_jobs" -> per(jobs.count(under(_, "query.build")).toDouble),
      "streaming.batches" -> per(streams.batches.toDouble),
      "streaming.batch_s" -> per(streams.batchS),
      "streaming.rows_per_s" -> (if (streams.batchS > 0) streams.rows / streams.batchS else 0.0),
      "spark.task_s" -> per(probe.taskS),
      "spark.busy_frac" -> probe.taskS / (cores * wall),
      "spark.serial_stage_s" -> per(probe.serialStageS),
      "spark.max_task_skew" -> probe.maxSkew,
      "spark.shuffle_bytes" -> per(probe.shuffleBytes.toDouble),
      "spark.spill_bytes" -> per(probe.spillBytes.toDouble),
      "spark.gc_s" -> per(gc),
      "spark.job_floor_s" -> jobFloor())
    base ++ spanMetrics ++ wl.layerCounts(probe) + ("pipeline.run_wall_s" -> per(runWall))
  }
}

object Runner {
  val MinPasses = 2
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)
}
