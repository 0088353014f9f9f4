package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.SparkSession

import graft.Harness

/**
 * The benchmark's JVM (launched by `perfbench/run.py`):
 *
 *   perfbench.Main --workload ingest|history --seed N --seconds S
 *     --trace 0|1 --work DIR --out FILE
 *     [--data DIR --queries q1,q2,...] [--corrupt-truth]
 *
 * One session on `local[cores]` with the engine's harness settings; the
 * workload's set-up, warm-up and timed passes; the record (end-to-end
 * metrics, per-layer metrics when tracing, check failures and run facts)
 * goes to `--out` as one JSON object. `--corrupt-truth` perturbs the ground
 * truth the checks compare against, to show a wrong answer fails the run.
 */
object Main {
  def main(args: Array[String]): Unit = {
    val corrupt = args.contains("--corrupt-truth")
    val opts = args.filterNot(_ == "--corrupt-truth").grouped(2)
      .collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = new File(opt("work"))
    val cores = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config(Harness.parallelismFloors.head._1, Harness.parallelismFloors.head._2)
      .config(Harness.parallelismFloors(1)._1, Harness.parallelismFloors(1)._2)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Harness.quietRddWarnings()

    val tracer = new Tracer(spark.sparkContext)
    val wl: Workload = workload match {
      case "ingest"  => new Ingest(spark, tracer, seed, work, corrupt)
      case "history" => new History(spark, tracer, seed, work, corrupt,
        new Queries(spark, tracer, opt("data"), new File(work, "query_out"), opt("queries").split(",").toSeq))
      case other => sys.error(s"unknown workload $other")
    }
    val record = new Runner(spark, tracer, cores)
      .run(wl, seconds, trace, if (trace) Some(new File(work, "spans.jsonl")) else None)
    java.nio.file.Files.write(new File(opt("out")).toPath,
      Json.value(record + ("workload" -> workload) + ("seed" -> seed)).getBytes(UTF_8))
    spark.stop()
  }
}
