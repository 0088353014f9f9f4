package graft

import org.json4s.JString
import org.json4s.jackson.JsonMethods

/** The harness mains' shared plumbing: the one session shape, the
  * `SPARK_GRAFT_ONLY` filter, the JSON string escaper and Explain's
  * `SPARK_GRAFT_EXTRA_CONF` parse. */
class HarnessSpec extends GraftSpec {

  test("session: local[cpus], one shuffle partition per core, UTC, no " +
    "session extensions and both parallelism floors") {
    val conf = spark.conf
    assert(spark.sparkContext.master == "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.getOption("spark.sql.extensions").isEmpty)
    assert(conf.get("spark.ui.enabled") == "false")
    Harness.parallelismFloors.foreach { case (k, v) => assert(conf.get(k) == v) }
  }

  private val names = Seq("q06_sessions", "q106_x", "q20_near_dedup", "q21_other")
  private def selected(raw: Option[String]): Seq[String] =
    Harness.onlyFilter(raw).fold(names)(f => names.filter(f))

  test("onlyFilter: unset and set-but-empty select every query") {
    Seq(None, Some(""), Some(" , ")).foreach { raw =>
      assert(Harness.onlyFilter(raw).isEmpty, raw)
      assert(selected(raw) == names)
    }
  }

  test("onlyFilter: comma-separated name substrings, any one selects") {
    assert(selected(Some("q06")) == Seq("q06_sessions"))
    assert(selected(Some("q06,near_dedup")) == Seq("q06_sessions", "q20_near_dedup"))
    assert(selected(Some(" q21 ,")) == Seq("q21_other"))
  }

  test("jsonString: quotes, backslashes and every control char parse back") {
    val s = "a\"b\\c\nd\re\tf\u0001g'h"
    assert(JsonMethods.parse(Harness.jsonString(s)) == JString(s))
    assert(Harness.jsonString("x\ny") == "\"x\\ny\"")
  }

  test("Explain.extraConf: empty segments skipped, value after the first =") {
    assert(Explain.extraConf("a=b;") == Seq("a" -> "b"))
    assert(Explain.extraConf("k=v=w") == Seq("k" -> "v=w"))
    assert(Explain.extraConf(" ; ") == Nil)
    assert(Explain.extraConf(" x = 1 ;y=2") == Seq("x" -> "1", "y" -> "2"))
  }

  test("Verify and Explain reject bad arguments with their usage line") {
    def usage(main: Array[String] => Unit, name: String, args: String*) = {
      val e = intercept[IllegalArgumentException](main(args.toArray))
      assert(e.getMessage.contains(s"usage: $name"), e.getMessage)
    }
    usage(Verify.main, "Verify", "x")
    usage(Explain.main, "Explain")
    usage(Explain.main, "Explain", "no_such_query")
  }

  test("Explain.extraConf: a segment without = names itself") {
    val e = intercept[IllegalArgumentException](Explain.extraConf("a=b;a"))
    assert(e.getMessage.contains("'a'"))
    intercept[IllegalArgumentException](Explain.extraConf("a"))
  }
}
