package graft.sinks

import org.apache.spark.sql.{Observation, Row}
import org.apache.spark.sql.functions.{col, lit}

import graft.GraftSpec
import graft.analytics.LogAnalytics
import graft.stage.Staging

class SinksSpec extends GraftSpec {
  import spark.implicits._

  test("ParquetSink: overwrite replaces, append accumulates") {
    val root = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val sink = new ParquetSink(root)

    sink.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "t1")
    sink.overwrite(Seq((3L, "c")).toDF("k", "v"), "t1")
    assert(spark.read.parquet(s"$root/t1").count() == 1L) // replaced

    sink.append(Seq((1L, 10L)).toDF("d", "n"), "t2")
    sink.append(Seq((2L, 20L)).toDF("d", "n"), "t2")
    val rows = spark.read.parquet(s"$root/t2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows == Set((1L, 10L), (2L, 20L))) // accumulated
  }

  test("JdbcSink: overwrite/append execute through DataFrameWriter.jdbc (Derby)") {
    // Embedded Derby (on Spark's classpath for the Hive metastore) stands in
    // for the reference's Oracle endpoint — same writer path, same modes
    // (`sree-etl-tdk-glue-job.py:71-77` overwrite, `:88-94` append), no
    // network. In-memory DB, unique per run, lives for the JVM.
    val url = s"jdbc:derby:memory:graft${System.nanoTime()};create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val sink = new JdbcSink(url, props)

    // overwrite: second write fully replaces the table
    sink.overwrite(Seq((1L, 5L), (2L, 7L)).toDF("user_id", "requests_count"),
      "user_requests")
    sink.overwrite(Seq((3L, 9L)).toDF("user_id", "requests_count"),
      "user_requests")
    val ur = spark.read.jdbc(url, "user_requests", props)
    assert(ur.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == Set((3L, 9L)))

    // append: one totals row per run accumulates
    val t1 = Seq(("2026-08-12", 10L, 42L))
      .toDF("run_date", "user_count", "total_successful_requests")
    val t2 = Seq(("2026-08-13", 11L, 43L))
      .toDF("run_date", "user_count", "total_successful_requests")
    sink.append(t1, "total_requests")
    sink.append(t2, "total_requests")
    val tot = spark.read.jdbc(url, "total_requests", props)
    assert(tot.count() == 2L)
    assert(tot.select("run_date").collect().map(_.getString(0)).toSet ==
      Set("2026-08-12", "2026-08-13"))
  }

  test("observed totals equal totalsRow over the staged day, through both sinks") {
    // staged rows with the declared schema: (user_id, request_resource,
    // status_code, date), the other columns NULL
    def row(user: java.lang.Long, resource: String, status: java.lang.Long, date: String) =
      Row("10.0.0.1", null, user, null, "GET", resource, "HTTP/1.0", status, null, null, null, date)
    val staged = java.nio.file.Files.createTempDirectory("graft_observed").toString
    Staging.stage(spark.createDataFrame(java.util.List.of(
      row(7L, "/a", 200L, "2024-05-06"),
      row(7L, "/b", 404L, "2024-05-06"),
      row(null, "/c", 200L, "2024-05-06"),          // null user, counted as a success
      row(null, null, null, "2024-05-06"),          // a rejected line's all-NULL row
      row(9L, "/d", 500L, "2024-05-07"),            // a day with no 200s
      row(null, "/e", 404L, "2024-05-07")), Staging.stagedSchema), staged)
    val days = Seq("2024-05-06", "2024-05-07", "2024-05-08") // the last never staged
    val successful = col("status_code") === 200

    def check(sink: Sink, readBack: String => org.apache.spark.sql.DataFrame): Unit = {
      days.foreach { date =>
        val day = Staging.readDay(spark, staged, date, Some(Staging.stagedSchema))
        val totals = Observation()
        sink.overwrite(
          LogAnalytics.requestsPerUserObserved(day, lit(date), successful, totals), "user_requests")
        val twin = LogAnalytics.totalsRow(day, lit(date), successful)
        val got = LogAnalytics.observedTotals(spark, totals, twin.schema)
        assert(got.schema == twin.schema, date)
        assert(got.collect().toSeq == twin.collect().toSeq, date)
        sink.append(got, "total_requests")

        def perUser(df: org.apache.spark.sql.DataFrame) =
          df.collect().map(r => Option(r.get(0)).map(_.toString.toLong) -> r.getLong(1)).toSet
        assert(perUser(readBack("user_requests")) == perUser(LogAnalytics.requestsPerUser(day)), date)
      }
      val appended = readBack("total_requests").collect().map(_.toSeq).toSet
      assert(appended == Set(Seq("2024-05-06", 1L, 2L), Seq("2024-05-07", 1L, 0L), Seq(null, 0L, null)))
    }

    val root = java.nio.file.Files.createTempDirectory("graft_observed_sink").toString
    check(new ParquetSink(root), t => spark.read.parquet(s"$root/$t"))

    val url = s"jdbc:derby:memory:graftobs${System.nanoTime()};create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    check(new JdbcSink(url, props), t => spark.read.jdbc(url, t, props))
  }
}
