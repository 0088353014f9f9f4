package graft.clf

import graft.GraftSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

class ClfParserSpec extends GraftSpec {
  import spark.implicits._

  // FIXTURES.md §1 lines: happy path, `-` NULLs, spaces+escaped quotes in
  // quoted fields, negative TZ offset, malformed line.
  private val fixtures = Seq(
    """10.0.0.1 - 1001 [13/Nov/2015:11:45:42 +0000] "GET /index.html HTTP/1.1" 200 5120 "https://example.com/start?a=1" "Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36"""",
    """10.0.0.2 - - [13/Nov/2015:23:59:59 -0530] "POST /api/v1/items HTTP/1.1" 404 - "-" "curl/8.0.1"""",
    """10.0.0.3 - 1002 [01/Jan/2016:00:00:00 +0100] "HEAD /img/a b.png HTTP/1.0" 304 0 "http://ref.example/page with space" "Agent \"quoted\" UA"""",
    """this line is not a valid log record"""
  )

  private lazy val parsed =
    ClfParser.parse(fixtures.toDF("value")).collect()

  test("happy path: all 11 fields parsed and typed") {
    val r = parsed(0)
    assert(r.getAs[String]("ip_address") == "10.0.0.1")
    assert(r.isNullAt(r.fieldIndex("rfc_1413_identity"))) // '-' → NULL
    assert(r.getAs[Long]("user_id") == 1001L)
    assert(r.getAs[java.sql.Timestamp]("time").toInstant.toString
      == "2015-11-13T11:45:42Z")
    assert(r.getAs[String]("request_method") == "GET")
    assert(r.getAs[String]("request_resource") == "/index.html")
    assert(r.getAs[String]("request_protocol") == "HTTP/1.1")
    assert(r.getAs[Long]("status_code") == 200L)
    assert(r.getAs[Long]("size") == 5120L)
    assert(r.getAs[String]("referer") == "https://example.com/start?a=1")
    assert(r.getAs[String]("user_agent")
      == "Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36")
  }

  test("'-' means NULL for user_id, size and referer") {
    val r = parsed(1)
    assert(r.isNullAt(r.fieldIndex("user_id")))
    assert(r.isNullAt(r.fieldIndex("size")))
    assert(r.isNullAt(r.fieldIndex("referer")))
    assert(r.getAs[Long]("status_code") == 404L)
  }

  test("negative TZ offset normalizes to UTC instant") {
    val r = parsed(1)
    // 23:59:59 -0530 == 05:29:59 UTC next day
    assert(r.getAs[java.sql.Timestamp]("time").toInstant.toString
      == "2015-11-14T05:29:59Z")
  }

  test("spaces inside quoted fields and resource survive; quotes unescape") {
    val r = parsed(2)
    assert(r.getAs[String]("request_resource") == "/img/a b.png")
    assert(r.getAs[String]("request_protocol") == "HTTP/1.0")
    assert(r.getAs[String]("referer") == "http://ref.example/page with space")
    assert(r.getAs[String]("user_agent") == "Agent \"quoted\" UA")
    // +0100 → 2015-12-31T23:00:00Z
    assert(r.getAs[java.sql.Timestamp]("time").toInstant.toString
      == "2015-12-31T23:00:00Z")
  }

  test("malformed line yields an all-NULL row, not a failure") {
    val r = parsed(3)
    assert((0 until r.length).forall(i => r.isNullAt(i) ||
      (r.get(i) == "" )))
  }

  test("rejects() counts exactly the malformed lines") {
    assert(ClfParser.rejects(fixtures.toDF("value")).count() == 1L)
  }

  test("parse's observed counts equal the line count and rejects(), regex once per line") {
    val valid = fixtures.head
    val lines = fixtures ++ Seq(
      "", "   ", valid + "   ", valid + "\t", " " + valid,
      // grammar matches that the tolerance contract nulls: not rejects
      valid.replace("Mozilla", "Moz\u0001illa"), valid.replace("Mozilla", "Moz\u0002illa"),
      "\u0001" + valid,
      // no match, including text shaped like the parser's own rewrite
      "\u0001", "\u0002", "\u0001a" + "\u0002b" * 8, "not \u0001 a \u0002 log")
    val dir = java.nio.file.Files.createTempDirectory("graft_clf_counts")
    java.nio.file.Files.write(dir.resolve("a.log"),
      String.join("\n", lines: _*).getBytes("UTF-8"))
    val raw = ClfParser.read(spark, dir.toString)
    assert(raw.count() == lines.length)

    val counts = org.apache.spark.sql.Observation()
    val parsedDf = ClfParser.parse(raw, Some(counts))
    parsedDf.write.format("noop").mode("overwrite").save()
    val observed = counts.get
    val want = ClfParser.rejects(raw).count()
    assert(want == 8L)
    assert(observed(ClfParser.RejectsMetric) == want)
    assert(observed(ClfParser.LinesMetric) == lines.length.toLong)

    // the counts ride on the parse's one line rewrite: the line regex
    // appears once in the executed plan
    val plan = parsedDf.queryExecution.executedPlan.toString
    assert(plan.split(java.util.regex.Pattern.quote(ClfParser.clfRegex), -1).length - 1 == 1, plan)
  }

  test("a line embedding the parser's control chars is malformed, never garbled") {
    // these lines MATCH the CLF grammar, but the / inside a
    // quoted field would corrupt the single-pass rewrite's field
    // boundaries — the tolerance contract sends them to the all-NULL
    // path instead of emitting shifted garbage fields
    val sneaky = Seq(
      "10.0.0.9 - 9 [13/Nov/2015:11:45:42 +0000] \"GET /a HTTP/1.1\" 200 1 \"-\" \"UAx\"",
      "10.0.0.9 - 9 [13/Nov/2015:11:45:42 +0000] \"GET /a HTTP/1.1\" 200 1 \"-\" \"UAx\"")
    ClfParser.parse(sneaky.toDF("value")).collect().foreach { r =>
      assert((0 until r.length).forall(i => r.isNullAt(i) || r.get(i) == ""),
        r.toString)
    }
  }

  test("format∘parse round-trip preserves all fields") {
    val df = Seq((7L, "2021-03-04 05:06:07")).toDF("uid", "t")
      .select(ClfParser.format(
        ip = lit("192.168.1.9"), userId = col("uid"),
        ts = to_timestamp(col("t")),
        method = lit("GET"), resource = lit("/x/y?z=1"),
        protocol = lit("HTTP/2"), status = lit(301L), size = lit(42L),
        referer = lit("http://r.example/"), agent = lit("ua/1.0")
      ).as("value"))
    val r = ClfParser.parse(df).collect()(0)
    assert(r.getAs[String]("ip_address") == "192.168.1.9")
    assert(r.getAs[Long]("user_id") == 7L)
    assert(r.getAs[java.sql.Timestamp]("time").toInstant.toString
      == "2021-03-04T05:06:07Z")
    assert(r.getAs[String]("request_resource") == "/x/y?z=1")
    assert(r.getAs[Long]("status_code") == 301L)
    assert(r.getAs[Long]("size") == 42L)
  }

  test("parseTyped: typed Dataset[LogLine] with None for '-' and malformed") {
    import spark.implicits._
    val raw = Seq(
      """10.0.0.1 - 7 [13/Nov/2015:11:45:42 +0000] "GET /a HTTP/1.0" 200 - "-" "ua"""",
      "not a log line"
    ).toDF("value")
    val rows = ClfParser.parseTyped(raw).collect()
    assert(rows(0).user_id.contains(7L))
    assert(rows(0).size.isEmpty)          // '-' → None
    assert(rows(0).referer.isEmpty)
    assert(rows(0).request_resource.contains("/a"))
    assert(rows(1).ip_address.isEmpty)    // malformed → all-None
    assert(rows(1).time.isEmpty)
  }
}
