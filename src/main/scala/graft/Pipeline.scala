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
 * text scan; the reference's three separate aggregate actions become one
 * cached day-slice with a single multi-aggregate totals pass; the S3
 * copy+delete archive becomes an atomic `FileSystem.rename`; staging uses
 * dynamic partition overwrite so a day re-run is idempotent.
 *
 * Passes: the raw text is scanned once, by the staging write, which also
 * observes the line and reject counts (`Dataset.observe`, no job of its
 * own); the input-file list is the scan's file listing. The pruned day
 * slice is read once into a cache that the per-user sink write fills and
 * the totals aggregate reuses; the totals row is collected once and
 * appended from the driver. A day at small volume costs about a dozen
 * Spark jobs, so each extra action shows in the run's wall time.
 *
 * Scale: nothing here collects data rows to the driver — the only
 * driver-side values are the input-file listing (metadata, one string per
 * file), the two observed counts and the 3-scalar totals row.
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
   *                     `sree-etl-tdk-lambda.py:196-200`); None = skip
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

    // one pass over the text: parse, count lines and rejects, stage
    val counts = Observation()
    Staging.stage(
      ClfParser.parse(raw, Some(counts)).withColumn("date", lit(date)), stagingPath)
    val observed = counts.get
    catalogTable.foreach(Staging.register(spark, _, stagingPath))

    // Aggregate over the staged day slice (partition-pruned re-read, as
    // the reference's Glue job does) so the sink reflects what was staged.
    // The first sink write fills the cache; the totals read it.
    val day = Staging.readDay(spark, stagingPath, date).cache()
    try {
      sink.overwrite(
        LogAnalytics.requestsPerUser(day).orderBy(col("user_id").asc_nulls_last),
        "user_requests")
      val totals = LogAnalytics.totalsRow(
        day, runDate = lit(date), successPred = col("status_code") === 200)
      val t = totals.collect()(0)
      sink.append(spark.createDataFrame(java.util.List.of(t), totals.schema), "total_requests")

      archiveDir.foreach(moveFiles(spark, inputFiles, _))
      Report(inputFiles,
        observed(ClfParser.LinesMetric).asInstanceOf[Long],
        observed(ClfParser.RejectsMetric).asInstanceOf[Long],
        t.getAs[Long]("user_count"), t.getAs[Long]("total_successful_requests"))
    } finally day.unpersist()
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
