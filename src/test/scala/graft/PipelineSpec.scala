package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.testbus.BusDrain
import graft.sinks.ParquetSink

/** Golden end-to-end test: fixture CLF files through the full pipeline,
  * compared to hand-computed values (the reference's Athena validation
  * checks, `/root/reference/README.md:64-66`, as assertions). */
class PipelineSpec extends GraftSpec {

  private val lines1 = Seq(
    // user 7: two GETs, one 200 one 404
    """10.0.0.1 - 7 [13/Nov/2015:11:45:42 +0000] "GET /a HTTP/1.0" 200 100 "-" "ua/1"""",
    """10.0.0.1 - 7 [13/Nov/2015:11:46:00 +0000] "GET /b HTTP/1.0" 404 50 "-" "ua/1"""",
    // user 9: one POST 200, null identity and size
    """10.0.0.2 - 9 [13/Nov/2015:12:00:00 +0000] "POST /c HTTP/1.1" 200 - "http://r" "ua/2""""
  )
  private val lines2 = Seq(
    // anonymous user (null user_id), 200
    """10.0.0.3 - - [13/Nov/2015:13:00:00 +0000] "GET /d HTTP/1.1" 200 10 "-" "ua/3"""",
    "this line is not CLF at all" // reject
  )

  /** A fresh root whose `inbox` holds the given files; returns the root. */
  private def withInbox(files: (String, Seq[String])*): String = {
    val root = Files.createTempDirectory("graft_pipeline").toString
    val inbox = s"$root/inbox"; Files.createDirectories(Paths.get(inbox))
    files.foreach { case (name, lines) =>
      Files.write(Paths.get(inbox, name), String.join("\n", lines: _*).getBytes)
    }
    root
  }

  test("fixture logs → staged partition, golden aggregates, archived inputs") {
    val root = withInbox("2015-11-13.log" -> lines1, "2015-11-13b.log" -> lines2,
      "notes.txt" -> Seq("ignore me"))
    val inbox = s"$root/inbox"

    val report = Pipeline.run(spark,
      inputDir = inbox,
      stagingPath = s"$root/staging",
      date = "2015-11-13",
      sink = new ParquetSink(s"$root/results"),
      archiveDir = Some(s"$root/processed"),
      catalogTable = Some("graft_pipeline_staged"))

    // only *.log files admitted
    assert(report.inputFiles.length == 2)
    assert(report.inputFiles.forall(_.endsWith(".log")))
    // 5 lines parsed into rows (malformed → all-null row), 1 reject counted
    assert(report.parsedRows == 5)
    assert(report.rejectRows == 1)
    // golden scalars: distinct users {7, 9}; successful = 3 (two users + anon)
    assert(report.userCount == 2)
    assert(report.totalSuccessful == 3)

    // staged layout is partition-pruned readable, directly and via catalog
    val day = graft.stage.Staging.readDay(spark, s"$root/staging", "2015-11-13")
    assert(day.count() == 5)
    assert(Files.exists(Paths.get(s"$root/staging/date=2015-11-13")))
    assert(spark.table("graft_pipeline_staged").count() == 5)
    // catalog schema is the DECLARED canonical cleansed schema (SURVEY
    // §1.3) + date partition — not whatever inference produced
    assert(spark.table("graft_pipeline_staged").schema ==
      graft.stage.Staging.stagedSchema)

    // per-user counts golden: 7→2, 9→1 (null user counted too: count(request_resource))
    val rpu = spark.read.parquet(s"$root/results/user_requests")
      .collect().map(r => Option(r.get(0)) -> r.getLong(1)).toMap
    assert(rpu(Some(7L)) == 2L && rpu(Some(9L)) == 1L)

    // totals appended exactly one row
    val totals = spark.read.parquet(s"$root/results/total_requests").collect()
    assert(totals.length == 1 && totals(0).getAs[String]("run_date") == "2015-11-13")

    // inputs archived out of the inbox; non-log file untouched
    assert(!Files.exists(Paths.get(inbox, "2015-11-13.log")))
    assert(Files.exists(Paths.get(s"$root/processed/2015-11-13.log")))
    assert(Files.exists(Paths.get(s"$root/processed/2015-11-13b.log")))
    assert(Files.exists(Paths.get(inbox, "notes.txt")))

    // second run on the drained inbox: nothing to do, earlier staging intact
    val again = Pipeline.run(spark, inbox, s"$root/staging", "2015-11-14",
      new ParquetSink(s"$root/results"), Some(s"$root/processed"))
    assert(again == Pipeline.Report(Seq.empty, 0L, 0L, 0L, 0L))
    assert(graft.stage.Staging.readDay(spark, s"$root/staging", "2015-11-13").count() == 5)
    // ...and its sinks: user_requests is overwritten empty, and the empty
    // day's totals row (an aggregate over no rows: no max, no sum) is
    // appended after the first day's
    assert(spark.read.parquet(s"$root/results/user_requests").count() == 0)
    val totals2 = spark.read.parquet(s"$root/results/total_requests")
      .collect().map(_.toSeq).toSet
    assert(totals2 == Set(Seq("2015-11-13", 2L, 3L), Seq(null, 0L, null)))
  }

  test("inbox names that need URL escaping are parsed and archived") {
    val root = withInbox("a b.log" -> lines1, "c%41.log" -> lines2)
    val report = Pipeline.run(spark, s"$root/inbox", s"$root/staging", "2015-11-13",
      new ParquetSink(s"$root/results"), Some(s"$root/processed"))
    assert(report.inputFiles.length == 2)
    assert(report.parsedRows == 5 && report.rejectRows == 1)
    Seq("a b.log", "c%41.log").foreach { name =>
      assert(!Files.exists(Paths.get(root, "inbox", name)), name)
      assert(Files.exists(Paths.get(root, "processed", name)), name)
    }
  }

  test("one run over the fixture stays within its Spark job budget") {
    // the staging write (one job: its scan observes the counts, parses
    // and writes), the per-user sink write (its shuffle and the write,
    // which observes the totals) and the driver-side totals append; a
    // stray count(), a re-added orderBy, a second totals aggregate or a
    // date shuffle in the stage goes over
    val root = withInbox("2015-11-13.log" -> lines1, "2015-11-13b.log" -> lines2)
    val (report, jobs) = countingJobs(Pipeline.run(spark, s"$root/inbox",
      s"$root/staging", "2015-11-13", new ParquetSink(s"$root/results"),
      Some(s"$root/processed")))
    assert(report.parsedRows == 5)
    assert(jobs <= 4, s"$jobs jobs")
  }

  /** Runs the fixture day into a fresh root; returns the root, the staging
    * write's executed plan and the day's part files. */
  private def stagedFixture(): (String, SparkPlan, Seq[java.nio.file.Path]) = {
    val root = withInbox("2015-11-13.log" -> lines1, "2015-11-13b.log" -> lines2)
    val writes = new ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qe.executedPlan.foreach {
          case w: DataWritingCommandExec => w.cmd match {
            case c: InsertIntoHadoopFsRelationCommand
                if c.outputPath.toString.endsWith("/staging") => writes.add(w)
            case _ =>
          }
          case _ =>
        }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Pipeline.run(spark, s"$root/inbox", s"$root/staging", "2015-11-13",
        new ParquetSink(s"$root/results"))
      BusDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    assert(writes.size == 1)
    val parts = Files.list(Paths.get(root, "staging", "date=2015-11-13")).iterator.asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq
    (root, writes.peek, parts)
  }

  private def stagedRows(root: String) =
    graft.stage.Staging.readDay(spark, s"$root/staging", "2015-11-13").collect()
      .map(_.toSeq).groupBy(identity).map { case (r, rs) => r -> rs.length }

  test("the day stages without a shuffle: one file, or k files below the split size") {
    val (root, write, parts) = stagedFixture()
    assert(write.find(_.isInstanceOf[Exchange]).isEmpty &&
      !write.toString.contains("Exchange"), write.toString)
    assert(parts.length == 1, parts)

    // a split size below the day's text bytes: k = ceil(bytes / split) > 1
    // coalesced scan partitions, each its own file, and the same rows
    val key = "spark.sql.files.maxPartitionBytes"
    val prior = spark.conf.getAll.get(key)
    val (lowRoot, lowWrite, lowParts) =
      try { spark.conf.set(key, "64"); stagedFixture() }
      finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(spark.conf.getAll.get(key) == prior)
    assert(!lowWrite.toString.contains("Exchange"), lowWrite.toString)
    assert(lowParts.length > 1, lowParts)
    assert(stagedRows(lowRoot) == stagedRows(root))
    assert(stagedRows(root).values.sum == 5)
  }

  test("days staged after the catalog table exists are visible through it") {
    val root = withInbox()
    val table = "graft_pipeline_two_days"
    try {
      Seq("2015-11-13" -> lines1, "2015-11-14" -> lines2).foreach { case (date, lines) =>
        Files.write(Paths.get(root, "inbox", s"$date.log"), String.join("\n", lines: _*).getBytes)
        Pipeline.run(spark, s"$root/inbox", s"$root/staging", date,
          new ParquetSink(s"$root/results"), Some(s"$root/processed"), catalogTable = Some(table))
      }
      val perDay = spark.table(table).groupBy("date").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(perDay == Map("2015-11-13" -> 3L, "2015-11-14" -> 2L))
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("dynamic partition overwrite: re-staging one day leaves others intact") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_stage_dyn").toString
    val d1 = Seq(("a", "2020-01-01"), ("b", "2020-01-02")).toDF("v", "date")
    graft.stage.Staging.stage(d1, root)
    val d2 = Seq(("c", "2020-01-02")).toDF("v", "date") // re-stage day 2 only
    graft.stage.Staging.stage(d2, root)
    val all = spark.read.parquet(root)
      .select(col("v"), col("date").cast("string")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(all == Set(("a", "2020-01-01"), ("c", "2020-01-02")))
  }
}
