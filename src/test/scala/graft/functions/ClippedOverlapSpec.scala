package graft.functions

import graft.GraftSpec
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions.{array, col, lit}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String

class ClippedOverlapSpec extends GraftSpec {
  import spark.implicits._

  private def arr(xs: String*) =
    new GenericArrayData(xs.map(x =>
      if (x == null) null else UTF8String.fromString(x)).toArray[Any])

  /** Brute-force reference: build the order-n gram list with the
    * array_join convention (nulls skipped inside a window; a side
    * shorter than n has no grams), then clip = Σ_g min counts. */
  private def reference(a: Seq[String], b: Seq[String], n: Int): Long = {
    def grams(t: Seq[String]): Seq[String] =
      if (t.length < n) Seq.empty
      else if (n == 1) t.filter(_ != null)
      else t.sliding(n).map(w => w.filter(_ != null).mkString(" ")).toSeq
    val ca = grams(a).groupBy(identity).view.mapValues(_.size.toLong)
    val cb = grams(b).groupBy(identity).view.mapValues(_.size.toLong)
    ca.map { case (g, c) => math.min(c, cb.getOrElse(g, 0L)) }.sum
  }

  test("clipped multiset semantics: repeats clip at the smaller count; " +
    "symmetric; null tokens never match at n = 1; empties are 0") {
    // a: {ab:2, ba:1}; b: {ab:3, ba:2} → min(2,3) + min(1,2) = 3
    assert(ClippedOverlap.compute(
      arr("ab", "ba", "ab"), arr("ab", "ba", "ab", "ba", "ab"), 1) == 3L)
    assert(ClippedOverlap.compute(
      arr("ab", "ba", "ab", "ba", "ab"), arr("ab", "ba", "ab"), 1) == 3L)
    assert(ClippedOverlap.compute(arr("x"), arr("y"), 1) == 0L)
    assert(ClippedOverlap.compute(arr(), arr("y"), 1) == 0L)
    assert(ClippedOverlap.compute(arr(null, "x"), arr(null, "x"), 1) == 1L)
  }

  test("order-n grams: bigram windows match the hand-computed clip; a " +
    "side shorter than n contributes no grams") {
    // a tokens: the cat sat on the mat → 5 bigrams, b shares 4
    assert(ClippedOverlap.compute(
      arr("the", "cat", "sat", "on", "the", "mat"),
      arr("the", "cat", "sat", "on", "the", "cat"), 2) == 4L)
    // a: {a b:2, b a:1}; b: {a b:3, b a:2} → 3
    assert(ClippedOverlap.compute(
      arr("a", "b", "a", "b"), arr("a", "b", "a", "b", "a", "b"), 2) == 3L)
    assert(ClippedOverlap.compute(arr("only"), arr("a", "b"), 2) == 0L)
  }

  test("fuzz: matches the brute-force array_join-convention reference " +
    "across random token arrays, n = 1..4, including null tokens") {
    val rng = new scala.util.Random(13)
    val vocab = Vector("a", "b", "c", "ab", "b c", "", null)
    (0 until 400).foreach { _ =>
      val n = 1 + rng.nextInt(4)
      def mk() = Seq.fill(rng.nextInt(12))(vocab(rng.nextInt(vocab.size)))
      val (a, b) = (mk(), mk())
      val got = ClippedOverlap.compute(arr(a: _*), arr(b: _*), n)
      val want = reference(a, b, n)
      assert(got == want, s"n=$n a=$a b=$b got=$got want=$want")
    }
  }

  test("codegen path matches interpreted eval; gram order is a " +
    "parameter; NULL array propagates; bad order rejected") {
    val df = Seq(
      (Seq("a", "b", "a"), Seq("a", "a", "a")),
      (Seq.empty[String], Seq("a")))
      .toDF("x", "y")
    def clip(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column,
        n: Int) = column(ClippedOverlap(expression(a), expression(b), n))
    val unigram = df.select(clip(col("x"), col("y"), 1)).collect()
    assert(unigram(0).getLong(0) == 2L) // min(2,3) for "a"
    assert(unigram(1).getLong(0) == 0L)
    val bigram = df.select(clip(col("x"), col("y"), 2)).collect()
    assert(bigram(0).getLong(0) == 0L) // {a b, b a} vs {a a, a a} share none
    val nulls = spark.range(1)
      .select(clip(lit(null).cast("array<string>"), array(lit("a")), 1))
      .collect()
    assert(nulls(0).isNullAt(0))
    // interpreted path: drive eval() directly
    val e = ClippedOverlap(
      Literal.create(arr("g", "g", "h"), ArrayType(StringType)),
      Literal.create(arr("g", "h", "h"), ArrayType(StringType)), 1)
    assert(e.eval(null) == 2L)
    intercept[Exception] {
      spark.range(1).select(clip(array(lit("a")), array(lit("a")), 0)).collect()
    }
  }
}
