package graft

import java.net.URI

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.clf.ClfParser
import graft.stage.Staging
import graft.analytics.LogAnalytics
import graft.sinks.Sink

/**
 * End-to-end batch pipeline: the reference's two entry points fused into
 * one Spark job.
 *
 * Reference behavior reproduced (SURVEY.md §3):
 *  - Lambda cleanse (`/root/reference/sree-etl-tdk-lambda.py:145-221`):
 *    list `*.log` under the input dir → parse CLF → stage as Snappy
 *    Parquet partitioned by ingest date → archive each processed input
 *    file out of the inbox (`:128-142`).
 *  - Glue aggregate (`/root/reference/sree-etl-tdk-glue-job.py:42-94`):
 *    partition-pruned read of the ingest day → per-user request counts
 *    (sink overwrite) + one totals row (sink append).
 *
 * Spark-first deltas: the whole-file-in-memory fetch becomes a distributed
 * text scan; the reference's three scans of the day become one per-user
 * aggregate whose sink write also records the totals row; the S3
 * copy+delete archive becomes an atomic `FileSystem.rename`; staging uses
 * dynamic partition overwrite so a day re-run is idempotent.
 *
 * Passes: the raw text is scanned once, by the staging write, which parses
 * each line in one native byte scan, observes the line and reject counts
 * (`Dataset.observe`, no job of its own) and writes the day without a
 * shuffle ([[graft.stage.Staging.stageDay]]: the scan's partitions
 * coalesced to as many files as the text's size calls for, one for a day
 * under `spark.sql.files.maxPartitionBytes`); the input-file list and the
 * text's size come from the scan's file listing. The staged day is then
 * scanned once, by the per-user sink write: it reads only the day's
 * directory with the declared schema (no inference job) and observes the
 * totals row over the per-user groups, which is appended from the driver
 * as a one-row local table. A day costs four Spark jobs — the staging
 * write, the per-user aggregate's shuffle and write, the totals append —
 * and at small volume the job count, not the data, sets the run's wall
 * time, so each extra action shows.
 *
 * Scale: nothing here collects data rows to the driver — the only
 * driver-side values are the input-file listing (metadata, one string per
 * file), the two observed counts and the observed 3-scalar totals row.
 * Registering a new day in the catalog is one metadata call for that
 * partition, not a repair of the table.
 */
object Pipeline {

  /** Small run summary (driver-side scalars only). */
  final case class Report(
      inputFiles: Seq[String],
      parsedRows: Long,
      rejectRows: Long,
      userCount: Long,
      totalSuccessful: Long)

  /**
   * Run the full pipeline for one ingest date.
   *
   * @param inputDir    inbox directory of raw `*.log` files
   * @param stagingPath root of the partitioned parquet staging layout
   * @param date        ingest date (`yyyy-MM-dd`) — explicit for
   *                    determinism, where the reference used "today"
   * @param sink        result-table sink (JDBC in production, parquet here)
   * @param archiveDir  where processed inputs move; None = leave in place
   * @param catalogTable register the staged layout under this catalog name
   *                     (the reference's Glue-table ensure,
   *                     `sree-etl-tdk-lambda.py:196-200`) and add the
   *                     day's partition to it; None = skip
   */
  def run(
      spark: SparkSession,
      inputDir: String,
      stagingPath: String,
      date: String,
      sink: Sink,
      archiveDir: Option[String] = None,
      glob: String = "*.log",
      catalogTable: Option[String] = None): Report = {

    val raw = ClfParser.read(spark, inputDir, glob)
    // the scan's own file listing (no job), so the files archived below
    // are exactly the files the staging write parsed
    val inputFiles = raw.inputFiles.toSeq.sorted

    // one pass over the text: parse, count lines and rejects, stage, in
    // as many files as the text's size (from the listing) calls for
    val counts = Observation()
    Staging.stageDay(
      ClfParser.parse(raw, Some(counts)).withColumn("date", lit(date)), stagingPath,
      raw.queryExecution.optimizedPlan.stats.sizeInBytes)
    val observed = counts.get
    val parsedRows = observed(ClfParser.LinesMetric).asInstanceOf[Long]
    catalogTable.foreach { t =>
      Staging.register(spark, t, stagingPath)
      if (parsedRows > 0) Staging.addDay(spark, t, date)
    }

    // One pass over the staged day slice (partition-pruned re-read, as
    // the reference's Glue job does) so the sinks reflect what was staged:
    // the per-user sink write also records the totals row.
    val day = Staging.readDay(spark, stagingPath, date, Some(Staging.stagedSchema))
    val runDate = lit(date)
    val successful = col("status_code") === 200
    val totals = Observation()
    sink.overwrite(
      LogAnalytics.requestsPerUserObserved(day, runDate, successful, totals),
      "user_requests")
    sink.append(
      LogAnalytics.observedTotals(spark, totals,
        LogAnalytics.totalsRow(day, runDate, successful).schema),
      "total_requests")

    archiveDir.foreach(moveFiles(spark, inputFiles, _))
    val t = totals.get
    Report(inputFiles, parsedRows,
      observed(ClfParser.RejectsMetric).asInstanceOf[Long],
      t("user_count").asInstanceOf[Long],
      t("total_successful_requests").asInstanceOf[Long])
  }

  /** Archive processed inputs: atomic rename into `archiveDir` (the
    * reference's S3 copy+delete, `sree-etl-tdk-lambda.py:128-142`, made
    * exactly-once by construction). */
  private def moveFiles(spark: SparkSession, files: Seq[String], archiveDir: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dest = new Path(archiveDir)
    val fs   = dest.getFileSystem(conf)
    fs.mkdirs(dest)
    files.foreach { f =>
      // the listing's URI strings are percent-encoded (`a%20b.log`)
      val src = new Path(new URI(f))
      // a silently-failed rename would leave the file in the inbox to be
      // re-ingested under the NEXT run's date — fail the run instead
      require(fs.rename(src, new Path(dest, src.getName)),
        s"archive: could not move $src to $dest")
    }
  }
}
