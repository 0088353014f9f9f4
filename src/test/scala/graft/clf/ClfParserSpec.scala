package graft.clf

import graft.GraftSpec
import graft.functions.ClfLine
import org.apache.spark.sql.catalyst.expressions.{RLike, RegExpExtract, RegExpReplace, StringSplit}
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

  test("the parse is invariant under the session time zone: America/New_York " +
    "gives the same instants and rejects as UTC") {
    // the fixtures' canonical stamps are computed by hand; case-variant
    // months go to the formatter fallback, which reads the session zone.
    // Stamps on New York's DST switch days (a 02:30 that does not exist
    // locally, a 01:30 that exists twice) must keep their written offset.
    val lines = fixtures ++ Seq(
      """10.0.0.4 - 7 [08/mar/2015:02:30:00 -0500] "GET /a HTTP/1.1" 200 1 "-" "ua"""",
      """10.0.0.5 - 8 [01/NOV/2015:01:30:00 -0400] "GET /b HTTP/1.1" 200 2 "-" "ua"""",
      """10.0.0.6 - 9 [01/Nov/2015:01:30:00 -0500] "GET /c HTTP/1.1" 200 3 "-" "ua"""",
      """10.0.0.7 - 10 [08/Mar/2015:02:30:00 +0000] "GET /d HTTP/1.1" 200 4 "-" "ua"""")
    def run(zone: String): (Seq[Option[java.time.Instant]], Any) = {
      val key = "spark.sql.session.timeZone"
      val prior = spark.conf.getAll.get(key)
      try {
        spark.conf.set(key, zone)
        val counts = org.apache.spark.sql.Observation()
        val times = ClfParser.parse(lines.toDF("value"), Some(counts))
          .select("time").collect().toSeq
          .map(r => Option(r.getAs[java.sql.Timestamp](0)).map(_.toInstant))
        (times, counts.get(ClfParser.RejectsMetric))
      } finally {
        prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
        assert(spark.conf.getAll.get(key) == prior)
      }
    }
    val (utcTimes, utcRejects) = run("UTC")
    val (nyTimes, nyRejects) = run("America/New_York")
    assert(nyTimes == utcTimes)
    assert(nyRejects == utcRejects && utcRejects == 1L)
    assert(utcTimes.count(_.isDefined) == lines.size - 1, utcTimes)
    assert(utcTimes.drop(4) == Seq("2015-03-08T07:30:00Z", "2015-11-01T05:30:00Z",
      "2015-11-01T06:30:00Z", "2015-03-08T02:30:00Z")
      .map(t => Some(java.time.Instant.parse(t))))
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

  test("parse's observed counts equal the line count and rejects(); one native scan, no regex over value") {
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

    // the counts ride on the parse's one native scan: it appears once in
    // the executed plan, and no regex expression reads the line
    val plan = parsedDf.queryExecution.executedPlan
    val exprs = plan.collect { case p => p.expressions }.flatten.flatMap(_.collect { case e => e })
    assert(exprs.count(_.isInstanceOf[ClfLine]) == 1, plan.toString)
    val regexOverValue = exprs.collect {
      case e @ (_: RLike | _: RegExpReplace | _: RegExpExtract | _: StringSplit)
          if e.references.exists(_.name == "value") => e
    }
    assert(regexOverValue.isEmpty, plan.toString)
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

  test("an out-of-range number is NULL on a matched line, not a job failure") {
    def line(v: String) =
      s"""1.2.3.4 - $v [13/Nov/2015:11:45:42 +0000] "GET /a HTTP/1.1" $v $v "-" "curl""""
    val outOfRange = Seq("99999999999999999999", "-9223372036854775809", "9223372036854775808")
    val lines = (outOfRange ++ Seq("9223372036854775807", "-9223372036854775808", "-0",
      "000000000000000000000042")).map(line) :+
      """1.2.3.4 - 99999999999999999999 [13/Nov/2015:11:45:42 +0000] "GET /a HTTP/1.1" 200 512 "-" "curl""""
    val raw = lines.toDF("value")
    val counts = org.apache.spark.sql.Observation()
    val rows = ClfParser.parse(raw, Some(counts)).collect()
    assert(counts.get(ClfParser.RejectsMetric) == 0L)
    val want = outOfRange.map(_ => None) ++
      Seq(Some(Long.MaxValue), Some(Long.MinValue), Some(0L), Some(42L))
    rows.zip(want).foreach { case (r, w) =>
      Seq("user_id", "status_code", "size").foreach { c =>
        assert(Option(r.getAs[java.lang.Long](c)).map(_.longValue) == w, s"$c in $r")
      }
      assert(r.getAs[String]("request_resource") == "/a")
    }
    val last = rows.last
    assert(last.isNullAt(last.fieldIndex("user_id")))
    assert(last.getAs[Long]("status_code") == 200L && last.getAs[Long]("size") == 512L)
    // the regex twin agrees, and no longer fails on an overflowing cast
    assert(ClfRegexParser.parse(raw).collect().toSeq == rows.toSeq)
  }

  test("a line that is not valid UTF-8 parses as its decoded form; a reject still counts") {
    val valid = fixtures.head.getBytes("UTF-8")
    val bad = Array(0xff.toByte, 0xc2.toByte)
    // invalid bytes inside the user agent (matched), and a line of them (a reject)
    val lines = Seq(valid.patch(valid.length - 5, bad, 0), bad ++ "x".getBytes("UTF-8"))
    val dir = java.nio.file.Files.createTempDirectory("graft_clf_utf8")
    java.nio.file.Files.write(dir.resolve("a.log"), lines.reduce(_ ++ Array('\n'.toByte) ++ _))
    val raw = ClfParser.read(spark, dir.toString)
    val counts = org.apache.spark.sql.Observation()
    val rows = ClfParser.parse(raw, Some(counts)).collect()
    assert(counts.get(ClfParser.RejectsMetric) == ClfParser.rejects(raw).count())
    assert(counts.get(ClfParser.RejectsMetric) == 1L)
    assert(rows(0).getAs[String]("user_agent").contains("\ufffd"), rows(0))
    assert(rows(0) == ClfRegexParser.parse(raw).collect()(0))
    assert((0 until rows(1).length).forall(rows(1).isNullAt))
  }

  test("native scan ≡ regex twin: row for row and both observed counts, on generated lines") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def pick(xs: String*): Gen[String] = Gen.oneOf(xs)
    val odd = pick("\u00e9", "\u00a0", "\u2003", "\u2028", "\u2029", "\u0085", "\u0001", "\u0002",
      "\u00ff", "\ud83d\ude80", "\t", "\r", "\n", "\u000b", "\f", "\"", "\\", "[", "]")
    val word: Gen[String] = Gen.frequency(
      8 -> Gen.chooseNum(1, 8).flatMap(n => Gen.listOfN(n, Gen.alphaNumChar).map(_.mkString)),
      2 -> Gen.listOfN(3, Gen.frequency(4 -> Gen.alphaNumChar.map(_.toString), 1 -> odd)).map(_.mkString))
    val gap = Gen.frequency(20 -> pick(" "), 4 -> pick("  ", "\t", " \t "),
      2 -> pick("\u000b", "\f", "\r", "\n", " \r\n "), 1 -> pick("", "\u00a0", "\u2028"))
    val number = Gen.frequency(6 -> Gen.chooseNum(0L, 99999L).map(_.toString),
      3 -> pick("-", "-0", "+5", "007", "-12", "1a", "12\u2028", "12\u0085", "1.5", "-2.25",
        "1.", ".5", "99999999999999999999", "-9223372036854775809", "9223372036854775807",
        "-9223372036854775808", "9223372036854775808", "\u0661\u0662"))
    val month = Gen.frequency(10 -> pick("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug",
      "Sep", "Oct", "Nov", "Dec"), 2 -> pick("nov", "NOV", "jAn", "Foo", "Sept", "No"))
    val two = (lo: Int, hi: Int) => Gen.chooseNum(lo, hi).map(v => f"$v%02d")
    val canonical = for {
      d <- Gen.frequency(9 -> two(1, 28), 1 -> pick("29", "30", "31", "00", "32", "1", "x1"))
      m <- month
      y <- Gen.frequency(9 -> Gen.chooseNum(1990, 2030).map(_.toString),
        1 -> pick("0000", "0001", "1582", "9999", "20155", "15"))
      h <- Gen.frequency(9 -> two(0, 23), 1 -> pick("24", "99"))
      mi <- Gen.frequency(9 -> two(0, 59), 1 -> pick("60", "5"))
      sec <- Gen.frequency(9 -> two(0, 59), 1 -> pick("60", "61"))
      off <- Gen.frequency(6 -> pick("+0000", "-0500", "+0530", "-0930", "+1200", "-0000",
        "+1700", "-1759"), 2 -> pick("+1800", "-1800", "+1900", "+0060", "+2500", "Z", "+00:00",
        "0000", "+000", "UTC", "+0000 "))
      sp <- Gen.frequency(9 -> pick(" "), 1 -> pick("  ", "\t", ""))
    } yield s"$d/$m/$y:$h:$mi:$sec$sp$off"
    val ts = Gen.frequency(12 -> canonical, 1 -> pick("", "-", "13/Nov/2015", "garbage",
      "13/Nov/2015:11:45:42 +0000]", "13/Nov/2015:11:45:42 +0000\u2028"))
    def quoted(inner: Gen[String]) = Gen.frequency(
      12 -> inner,
      2 -> pick("", "-", "\\-", "\\\"", "\\\\", "a\\\"b\\\\c\\d", "\\\\\\\"", "-\\\\"),
      1 -> pick("a\\ b", "a\\\u0085", "a\\\u2028", "a\\\nb", "a\\\rb", "a\\", "x\"y"))
    val method = Gen.frequency(8 -> pick("GET", "POST", "HEAD"), 1 -> word)
    val request = for {
      m <- method
      g1 <- Gen.frequency(8 -> pick(" "), 2 -> pick("  ", "\t", "\n", "   ", "\u2028", ""))
      res <- Gen.chooseNum(0, 3).flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))
      g2 <- Gen.frequency(8 -> pick(" "), 2 -> pick("  ", "\t", "\n", "\u0085", "\r\n", ""))
      p <- Gen.frequency(8 -> pick("HTTP/1.1", "HTTP/1.0"), 1 -> word)
      tail <- Gen.frequency(8 -> pick(""), 1 -> pick(" ", "\n", "\r", "\r\n", "\n\r", "\u2028",
        " \u2028", "\r\n\r\n"))
      lead <- Gen.frequency(12 -> pick(""), 1 -> pick(" ", "\t"))
      esc <- Gen.frequency(10 -> pick(""), 1 -> pick("\\\"", "\\\\", "\\ "))
    } yield s"$lead$m$g1$res$esc$g2$p$tail"
    val free = Gen.chooseNum(0, 4).flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))
    val line = for {
      lead <- Gen.frequency(20 -> pick(""), 1 -> pick(" ", "\t"))
      ip <- Gen.frequency(8 -> Gen.listOfN(4, Gen.chooseNum(0, 255)).map(_.mkString(".")),
        1 -> pick("-"), 1 -> word)
      g <- Gen.listOfN(8, gap)
      ident <- Gen.frequency(8 -> pick("-"), 2 -> number)
      user <- number
      t <- ts
      req <- quoted(request)
      st <- number
      sz <- number
      ref <- quoted(free)
      ua <- quoted(free)
      trail <- Gen.frequency(16 -> pick(""), 4 -> pick(" ", "\t", " \r\n", "\u2028", "\u0085",
        " \u2029", "\n\u2028", "\u2028\u2028", "x", " \"", "\u2028 "))
    } yield s"""$lead$ip${g(0)}$ident${g(1)}$user${g(2)}[$t]${g(3)}"$req"${g(4)}$st${g(5)}$sz${g(6)}"$ref"${g(7)}"$ua"$trail"""
    val lines: Seq[String] =
      Gen.listOfN(3000, Gen.frequency(40 -> line, 1 -> pick("", "   ", "not a log line"),
        1 -> Gen.const(null: String))).pureApply(Gen.Parameters.default, Seed(7L))
    val raw = lines.toDF("value").repartition(4).cache()

    def run(parse: (org.apache.spark.sql.DataFrame, Option[org.apache.spark.sql.Observation])
        => org.apache.spark.sql.DataFrame) = {
      val counts = org.apache.spark.sql.Observation()
      val rows = parse(raw, Some(counts)).collect()
      (rows.toSeq, counts.get)
    }
    val (native, nativeCounts) = run(ClfParser.parse)
    val (twin, twinCounts) = run(ClfRegexParser.parse)
    val value = raw.collect().map(_.getString(0))
    val diffs = native.indices.filter(i => native(i) != twin(i))
    assert(diffs.isEmpty, diffs.take(3).map(i =>
      s"\n${value(i).flatMap(c => if (c < ' ' || c > '~') f"\\u${c.toInt}%04x" else c.toString)}" +
        s"\n  native ${native(i)}\n  twin   ${twin(i)}").mkString)
    assert(nativeCounts == twinCounts)
    // the generator reaches both sides of every rule
    val matched = native.count(r => !r.isNullAt(r.fieldIndex("ip_address")))
    assert(nativeCounts(ClfParser.RejectsMetric).asInstanceOf[Long] > 300L && matched > 1000,
      s"$nativeCounts, $matched matched")
    Seq("rfc_1413_identity", "user_id", "time", "request_resource", "status_code", "referer")
      .foreach { c =>
        val i = native.head.fieldIndex(c)
        assert(native.exists(_.isNullAt(i)) && native.exists(!_.isNullAt(i)), c)
      }
    raw.unpersist()
  }
}
