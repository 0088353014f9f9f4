package graft.functions

import graft.GraftSpec
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.functions._

/** Twin-specs for the [[TokenLengthSum]] / [[MarkerHits]] native folds:
  * each must equal its interpreted HOF formulation element-for-element on
  * fuzzed token soups, including the NULL-element poisoning corner of the
  * sum and the NULL-never-matches corner of the marker probe. */
class TokenFoldsSpec extends GraftSpec {
  import spark.implicits._

  private val soup = (1 to 300).map { i =>
    val words = Vector("the", "a", "Ünïcödé", "x", "", "and", "of", "rocket")
    val toks: Seq[String] = (0 until (i % 17)).map { j =>
      if ((i * 7 + j) % 29 == 0) null
      else words((i * 31 + j * 11) % words.size)
    }
    (i.toLong, if (i % 23 == 0) null else toks)
  }.toDF("id", "toks")

  test("graft_len_sum ≡ aggregate(toks, 0, acc + length(t)) incl. NULL poisoning") {
    val out = soup.select(
      column(TokenLengthSum(expression(col("toks")))).as("native"),
      aggregate(col("toks"), lit(0), (acc, t) => acc + length(t)).as("hof"))
    assert(out.filter(!(col("native") <=> col("hof"))).count() == 0)
  }

  test("graft_marker_hits ≡ size(filter(toks, array_contains(markers, t)))") {
    val markers = Seq("the", "a", "and", "of")
    val out = soup.select(
      column(MarkerHits(expression(col("toks")), markers)).as("native"),
      size(filter(col("toks"),
        t => array_contains(typedLit(markers), t))).as("hof"))
    assert(out.filter(!(col("native") <=> col("hof"))).count() == 0)
  }

  test("corners: empty array sums 0 / hits 0; NULL array is NULL") {
    val df = Seq((1L, Some(Seq.empty[String])), (2L, None))
      .toDF("id", "toks")
    val got = df.select(col("id"),
      column(TokenLengthSum(expression(col("toks")))).as("s"),
      column(MarkerHits(expression(col("toks")), Seq("x"))).as("h"))
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getInt(1),
        if (r.isNullAt(2)) null else r.getInt(2))).toSet
    assert(got == Set((1L, 0, 0), (2L, null, null)))
  }
}
