package graft.functions

import graft.GraftSpec
import graft.ext.{TextOps, TextOpsTwins}
import org.apache.spark.sql.functions._

/** Twin-spec for [[TopTokenCount]]: the native O(n) hash pass must equal
  * the interpreted HOF formulation (`array_max(transform(array_distinct,
  * …re-filter…))`) element-for-element on fuzzed text, including the
  * empty-array → NULL and all-null-element → 0 corners. Same discipline
  * as [[TopBigramCount]]/graft_shingles: prove the twin, then swap the
  * production rule. */
class TopTokenCountSpec extends GraftSpec {
  import spark.implicits._

  test("native graft_top_token ≡ the distinct-refilter HOF twin on fuzzed text") {
    val words = Vector("the", "cat", "sat", "on", "mat", "a", "dog", "ran")
    val docs = (1 to 400).map { i =>
      val n = i % 37
      val txt =
        if (i % 19 == 0) null
        else if (i % 17 == 0) ""
        else if (i % 13 == 0) "   "
        else (1 to n).map(j => words(((i * 31 + j * 7) % words.size)))
          .mkString(" ")
      (i.toLong, txt)
    }.toDF("id", "text")

    val tk = TextOps.tokens(col("text"))
    val out = docs.select(
      TextOps.topTokenCount(tk).as("native"),
      TextOpsTwins.topTokenCountHof(tk).cast("long").as("hof"))
    val diverged = out.filter(!(col("native") <=> col("hof"))).count()
    assert(diverged == 0,
      s"$diverged rows diverged between graft_top_token and its HOF twin")
  }

  test("corners: empty array NULL, all-null elements 0, plain counts") {
    val df = Seq(
      (1L, Seq.empty[String]),
      (2L, Seq[String](null, null)),
      (3L, Seq("a", "b", "a", "a")),
      (4L, Seq("x"))).toDF("id", "toks")
    val got = df.select(col("id"), TextOps.topTokenCount(col("toks")).as("c"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getLong(1)))
      .toMap
    assert(got == Map(1L -> null, 2L -> 0L, 3L -> 3L, 4L -> 1L))
  }

  test("the funnel rule value is identical under the swap for degenerate docs") {
    // rule value = top_count/wc <= 0.12; at wc = 0 both forms are NULL
    val df = Seq((1L, ""), (2L, null.asInstanceOf[String])).toDF("id", "text")
    val tk = TextOps.tokens(col("text"))
    val wc = size(tk)
    val nat = TextOps.topTokenCount(tk).cast("double") / wc <= 0.12
    val hof = TextOpsTwins.topTokenCountHof(tk).cast("double") / wc <= 0.12
    assert(df.filter(!(nat <=> hof)).count() == 0)
  }
}
