package graft.functions

import graft.GraftSpec
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

class JaroWinklerSpec extends GraftSpec {
  import spark.implicits._

  private def jw(a: String, b: String): Double =
    JaroWinkler.compute(
      UTF8String.fromString(a), UTF8String.fromString(b))

  test("published reference vectors (Winkler's examples + the DuckDB-" +
    "probed edges the oracle relies on)") {
    val cases = Seq(
      ("MARTHA", "MARHTA", 0.9611111111111111),   // 1 transposition
      ("DWAYNE", "DUANE", 0.8400000000000001),
      ("DIXON", "DICKSONX", 0.8133333333333332),
      ("TRATE", "TRACE", 0.9066666666666667),     // prefix caps at 3 here
      ("ABCDEF", "FEDCBA", 0.38888888888888884),  // window-bounded matches
      ("abcdxxxx", "abcdyyyy", 0.6666666666666666), // jaro ≤ 0.7: no boost
      ("ab", "a", 0.8500000000000001),
      // odd mismatch count: floored transpositions (t=1, not 1.5) —
      // the rapidfuzz/DuckDB convention this expression pins
      ("cba", "bacccc", 0.7222222222222222),
      ("abc", "abc", 1.0),
      ("", "", 0.0), ("a", "", 0.0), ("", "a", 0.0),
      ("abcd", "wxyz", 0.0))
    cases.foreach { case (a, b, want) =>
      assert(jw(a, b) == want, s"jw($a, $b) = ${jw(a, b)}, want $want")
    }
  }

  test("similarity is symmetric and bounded on a fuzz corpus") {
    val rng = new scala.util.Random(42)
    val words = Vector("small", "ring", "smal", "rng", "blue", "bolt",
      "widget", "wdgiet", "", "a", "ab")
    (0 until 500).foreach { _ =>
      val a = Seq.fill(rng.nextInt(3) + 1)(words(rng.nextInt(words.size)))
        .mkString(" ")
      val b = Seq.fill(rng.nextInt(3) + 1)(words(rng.nextInt(words.size)))
        .mkString(" ")
      val f = jw(a, b); val r = jw(b, a)
      assert(f == r, s"asymmetric on ($a, $b)")
      assert(f >= 0.0 && f <= 1.0)
    }
  }

  test("interpreted eval matches codegen; NULL propagates") {
    val df = Seq(("martha", "marhta"), ("dixon", "dicksonx"),
      (null, "x"), ("x", null)).toDF("a", "b")
    val viaPlan = df.select(
      column(JaroWinkler(expression(col("a")), expression(col("b"))))).collect()
    assert(viaPlan(0).getDouble(0) == 0.9611111111111111)
    assert(viaPlan(1).getDouble(0) == 0.8133333333333332)
    assert(viaPlan(2).isNullAt(0) && viaPlan(3).isNullAt(0))
    // interpreted path (no codegen): drive eval() directly
    val expr = JaroWinkler(
      org.apache.spark.sql.catalyst.expressions.Literal(
        UTF8String.fromString("martha")),
      org.apache.spark.sql.catalyst.expressions.Literal(
        UTF8String.fromString("marhta")))
    assert(expr.eval(null) == 0.9611111111111111)
  }

  test("non-ASCII operands fall back to CODE-POINT comparison — no " +
    "partial matches of multi-byte fragments") {
    // é (C3 A9) vs è (C3 A8): byte-wise the shared C3 lead byte would
    // score 2/3 — code-point-wise they are single distinct characters
    assert(jw("é", "è") == 0.0)
    assert(jw("é", "é") == 1.0) // equality short-circuit still holds
    // 3 code points, 2 matching, no transpositions, no common prefix
    val jaro3of2 = (2.0 / 3 + 2.0 / 3 + 2.0 / 2.0) / 3.0
    assert(jw("ébc", "èbc") == jaro3of2)
    // mixed ASCII/non-ASCII operand pair also routes to code points,
    // and the prefix boost runs on code points (l = 2 here)
    assert(jw("abc", "abç") == jaro3of2 + 2 * 0.1 * (1.0 - jaro3of2))
    // symmetric on the fallback path too
    assert(jw("èbc", "ébc") == jw("ébc", "èbc"))
  }
}
