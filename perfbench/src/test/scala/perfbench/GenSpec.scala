package perfbench

import java.io.File
import java.nio.file.{Files => JFiles}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, countDistinct}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.clf.ClfParser

class GenSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = {
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = spark.stop()

  private def tmp(): File = JFiles.createTempDirectory("gen-spec").toFile

  test("a generated day parses back to its ground truth through ClfParser") {
    val dir = tmp()
    val t = Gen.writeDay(seed = 7L, day = 2, lines = 5000, dir)
    assert(Files.list(dir).size == 24)
    assert(t.malformed > 0 && t.nullUserLines > 0 && t.perUser.nonEmpty)

    val raw = ClfParser.read(spark, dir.getPath)
    val parsed = ClfParser.parse(raw).cache()
    assert(parsed.count() == t.lines)
    assert(ClfParser.rejects(raw).count() == t.malformed)
    // a rejected line is an all-NULL row
    assert(parsed.filter(col("ip_address").isNull && col("time").isNull).count() == t.malformed)
    assert(parsed.filter(col("status_code") === 200).count() == t.status200)
    assert(parsed.agg(countDistinct(col("user_id"))).head().getLong(0) == t.distinctUsers)
    val perUser = parsed.filter(col("ip_address").isNotNull)
      .groupBy(col("user_id")).agg(count(col("request_resource"))).collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0)) -> r.getLong(1)).toMap
    assert(perUser == t.perUser + (-1L -> t.nullUserLines))
    // every line's timestamp falls on the generated day
    assert(parsed.filter(col("time").isNotNull)
      .filter(org.apache.spark.sql.functions.to_date(col("time")).cast("string") =!= Gen.date(2))
      .count() == 0)
  }

  test("escaped quotes and spaced resources survive the parse") {
    val dir = tmp()
    Gen.writeDay(seed = 3L, day = 0, lines = 2000, dir)
    val parsed = ClfParser.parse(ClfParser.read(spark, dir.getPath))
    assert(parsed.filter(col("request_resource").contains(" ")).count() > 0)
    assert(parsed.filter(col("user_agent").contains("\"ExampleBot\"")).count() > 0)
  }

  test("the same seed gives the same lines; another seed does not") {
    val a = Gen.events(11L, 0, 500).map(Gen.render).toList
    assert(a == Gen.events(11L, 0, 500).map(Gen.render).toList)
    assert(a != Gen.events(12L, 0, 500).map(Gen.render).toList)
    assert(Gen.truth(11L, 0, 500) == Gen.writeDay(11L, 0, 500, tmp()))
  }

  test("self times of a span tree add up to the root's wall time") {
    val spans = Seq(
      Span(1, "root", 0, 1, 0.0, 10.0),
      Span(2, "a", 1, 1, 1.0, 4.0, "job"),
      Span(3, "b", 1, 1, 3.0, 6.0, "job"),
      Span(4, "c", 2, 1, 1.5, 2.0, "stage"))
    val self = Tracer.selfTimes(spans)
    assert(math.abs(self.values.sum - 10.0) < 1e-9)
    assert(math.abs(self("root") - 5.0) < 1e-9)
    assert(math.abs(self("c") - 0.5) < 1e-9)
  }
}
