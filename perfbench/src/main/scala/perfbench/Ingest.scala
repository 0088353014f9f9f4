package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.scheduler.StageInfo
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.Pipeline
import graft.sinks.{ParquetSink, Sink}
import graft.stage.Staging

/** The benchmark's own wrapper around the result sink: one span per write. */
final class TracedSink(inner: Sink, tracer: Tracer) extends Sink {
  def overwrite(df: DataFrame, table: String): Unit = tracer.span("sinks.write")(inner.overwrite(df, table))
  def append(df: DataFrame, table: String): Unit = tracer.span("sinks.write")(inner.append(df, table))
}

/**
 * `ingest`: the paper's daily job. Set-up writes `Days` consecutive days of
 * seeded CLF text (24 hourly files each) into an inbox and stages the
 * `Prior` days before them with the program's `Staging.withDate`/
 * `Staging.stage`; one operation is one day's `Pipeline.run` into that
 * staging root, so each pruned day read meets a history that grows by a
 * day. Checks every Report and both sink tables against the generator's
 * ground truth.
 */
final class Ingest(spark: SparkSession, tracer: Tracer, seed: Long, work: File, corrupt: Boolean)
    extends Workload {
  val Days = 3
  val Lines = 10000
  val Prior = 20
  val PriorLines = 2000

  def setupPerPass = true

  private var truths = Vector.empty[Gen.Truth]
  private var ratio = Double.NaN
  // per-layer counters, over the operations run while tracing
  private var tracedOps, writeFiles, writeBytes, lines, rejected, tableFiles = 0L

  private def dir(p: Int) = new File(work, s"ingest/p$p")

  def setup(p: Int): Unit = {
    truths = (0 until Days).toVector.map(d => Gen.writeDay(seed, d, Lines, new File(dir(p), s"inbox/d$d")))
    stagePrior(seed, s"${dir(p)}/staged")
  }

  private def stagePrior(s: Long, staged: String): Unit = {
    val n = PriorLines
    val typed = spark.sparkContext.parallelize(-Prior until 0, Prior)
      .flatMap(d => Gen.events(s, d, n).filterNot(_.malformed).map(History.row))
    Staging.stage(Staging.withDate(spark.createDataFrame(typed, History.schema), "time"), staged)
  }

  /** Set-up and three days of another seed, through the catalog path too:
    * after two, the first measured day still ran about a fifth slower than
    * the rest of its pass. */
  def warm(): Unit = {
    val w = new File(work, "ingest/warm")
    stagePrior(seed + 1, s"$w/staged")
    (0 until 3).foreach { d =>
      Gen.writeDay(seed + 1, d, Lines, new File(w, s"inbox/d$d"))
      Pipeline.run(spark, s"$w/inbox/d$d", s"$w/staged", Gen.date(d), new ParquetSink(s"$w/results"),
        Some(s"$w/archive"), catalogTable = Some("ingest_warm"))
    }
    spark.sql("DROP TABLE IF EXISTS ingest_warm")
    Files.delete(w)
  }

  def pass(p: Int): Seq[Op] = {
    val d0 = dir(p)
    val sink = new TracedSink(new ParquetSink(s"$d0/results"), tracer)
    (0 until Days).map { d =>
      Op(s"pipeline.run day $d", Lines, () => {
        val r = tracer.span("pipeline.run") {
          Pipeline.run(spark, s"$d0/inbox/d$d", s"$d0/staged", Gen.date(d), sink,
            Some(s"$d0/archive"), catalogTable = Some(s"ingest_p$p"))
        }
        () => check(r, d, d0)
      })
    }
  }

  private def check(r: Pipeline.Report, d: Int, d0: File): Option[String] = {
    val t0 = truths(d)
    val t = if (corrupt) t0.copy(status200 = t0.status200 + 1) else t0
    val date = Gen.date(d)
    val part = Files.parquet(new File(d0, s"staged/date=$date"))
    if (tracer.enabled) {
      tracedOps += 1
      writeFiles += part.size
      writeBytes += part.map(_.length).sum
      lines += r.parsedRows
      rejected += r.rejectRows
      tableFiles += Files.parquet(new File(d0, "staged")).size
    }
    val errs = mutable.ArrayBuffer.empty[String]
    def expect(what: String, got: Any, want: Any): Unit =
      if (got != want) errs += s"$what: got $got, want $want"
    expect("input files", r.inputFiles.size, 24)
    // parsedRows counts the all-NULL rows of rejected lines too
    expect("parsedRows", r.parsedRows, t.lines)
    expect("rejectRows", r.rejectRows, t.malformed)
    expect("userCount", r.userCount, t.distinctUsers)
    expect("totalSuccessful", r.totalSuccessful, t.status200)
    expect("inbox left", Files.list(new File(d0, s"inbox/d$d")).size, 0)
    val perUser = spark.read.parquet(s"$d0/results/user_requests").collect()
      .map(row => (if (row.isNullAt(0)) None else Some(row.getLong(0))) -> row.getLong(1)).toMap
    val wantPerUser = t.perUser.map { case (u, c) => (Some(u): Option[Long]) -> c } ++
      (if (t.nullUserLines + t.malformed > 0) Map((None: Option[Long]) -> t.nullUserLines) else Map.empty)
    expect("user_requests rows", perUser.size, wantPerUser.size)
    if (perUser != wantPerUser) errs += "user_requests differs from the generated per-user counts"
    val totals = spark.read.parquet(s"$d0/results/total_requests")
      .filter(col("run_date") === date).collect()
    expect("total_requests rows for the day", totals.length, 1)
    totals.headOption.foreach { row =>
      expect("total_requests.user_count", row.getAs[Long]("user_count"), t.distinctUsers)
      expect("total_requests.total_successful_requests",
        row.getAs[Long]("total_successful_requests"), t.status200)
    }
    if (errs.isEmpty) None else Some(s"ingest day $d: ${errs.mkString("; ")}")
  }

  override def afterPass(p: Int): Unit = {
    // the days the pass ingested, not the prior history
    val staged = (0 until Days).flatMap(d => Files.parquet(new File(dir(p), s"staged/date=${Gen.date(d)}")))
      .map(_.length).sum
    if (staged > 0) ratio = staged.toDouble / truths.map(_.rawBytes).sum
    spark.sql(s"DROP TABLE IF EXISTS ingest_p$p")
    Files.delete(dir(p))
  }

  def storedBytesRatio: Double = ratio

  // Pipeline.run's own actions, in the order it runs them; jobs from
  // inside Staging.stage and the sink are named by their call site.
  private val steps = Vector("clf.read", "clf.rejects", "stage.read_day", "analytics.aggregate")
  private val execOrder = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]

  override def jobLabel(site: String, parent: Long, exec: Option[Long], parentName: String): String = {
    val frame = site.linesIterator.map(_.trim).find(_.startsWith("graft.")).getOrElse("")
    if (frame.startsWith("graft.Pipeline$.run")) {
      val seen = execOrder.getOrElseUpdate(parent, mutable.ArrayBuffer.empty)
      exec.foreach(e => if (!seen.contains(e)) seen += e)
      exec.map(seen.indexOf).flatMap(steps.lift).getOrElse(parentName)
    } else if (frame.startsWith("graft.stage.Staging$.stage")) "stage.write"
    else if (frame.startsWith("graft.sinks.")) "sinks.write"
    else parentName
  }

  // the staging write's map side is the parse (plus the date shuffle)
  override def stageLabel(job: String, s: StageInfo): Option[String] =
    if (job == "stage.write" && s.taskMetrics != null &&
        s.taskMetrics.shuffleWriteMetrics.bytesWritten > 0) Some("clf.parse")
    else None

  def layerCounts(probe: SparkProbe): Map[String, Double] = {
    val n = math.max(1L, tracedOps).toDouble
    Map(
      "clf.lines" -> lines / n, "clf.rejected" -> rejected / n,
      "stage.write_files" -> writeFiles / n, "stage.write_bytes" -> writeBytes / n,
      "stage.files_scanned_per_read" ->
        probe.filesReadBy("stage.read_day").sum.toDouble / math.max(1L, tableFiles))
  }
}

/** Small filesystem helpers (local paths only). */
object Files {
  def list(d: File): Seq[File] = Option(d.listFiles()).map(_.toSeq).getOrElse(Nil)

  /** Every `*.parquet` file under `d`, recursively. */
  def parquet(d: File): Seq[File] =
    list(d).flatMap(f => if (f.isDirectory) parquet(f) else if (f.getName.endsWith(".parquet")) Seq(f) else Nil)

  def delete(f: File): Unit = {
    if (f.isDirectory) list(f).foreach(delete)
    f.delete()
  }
}
