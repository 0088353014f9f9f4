package graft

import graft.sinks.ParquetSink

/**
 * CLI entry point for the batch pipeline — "ingest this log directory":
 *
 *   runMain graft.RunPipeline <inputDir> <stagingPath> <date> <resultsDir> [archiveDir]
 *
 * Reads `*.log` CLF files from `inputDir`, stages them under `stagingPath`
 * partitioned by `date`, writes the per-user counts + totals tables under
 * `resultsDir`, and (if given) archives processed inputs to `archiveDir`.
 */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: RunPipeline <inputDir> <stagingPath> <date> <resultsDir> [archiveDir]")
    val Array(inputDir, stagingPath, date, resultsDir) = args.take(4)
    val archiveDir = args.lift(4)
    val spark = Harness.session(Harness.cpus)
    val r = Pipeline.run(spark, inputDir, stagingPath, date,
      new ParquetSink(resultsDir), archiveDir)
    println(s"[pipeline] files=${r.inputFiles.length} parsed=${r.parsedRows} " +
      s"rejects=${r.rejectRows} users=${r.userCount} successful=${r.totalSuccessful}")
    spark.stop()
  }
}
