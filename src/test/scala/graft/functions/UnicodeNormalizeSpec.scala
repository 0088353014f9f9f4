package graft.functions

import java.text.Normalizer

import graft.GraftSpec
import graft.ext.Scrub
import org.apache.spark.sql.functions._

class UnicodeNormalizeSpec extends GraftSpec {
  import spark.implicits._

  // source stays pure-ASCII: all non-ASCII test data via \u escapes
  private val decomposed = "cafe\u0301" // e + COMBINING ACUTE, 5 chars
  private val composed = "caf\u00e9" // precomposed e-acute, 4 chars

  test("NFC composes, NFD decomposes, results match java.text.Normalizer " +
    "on a fuzz corpus") {
    val r = Seq(decomposed).toDF("t")
      .select(Scrub.normalize(col("t")).as("nfc"),
        Scrub.normalize(col("t"), "NFD").as("nfd"))
      .collect().head
    assert(r.getString(0) == composed && r.getString(0).length == 4)
    assert(r.getString(1) == decomposed && r.getString(1).length == 5)

    // differential fuzz vs the JVM reference on mixed snippets:
    // decomposed accents, the ANGSTROM SIGN (U+212B, composes under NFC),
    // the fi ligature (U+FB01) and vulgar half (U+00BD) - compat forms
    // that only NFKC/NFKD rewrite
    val seeds = (0 until 200).map { i =>
      val base = s"w$i " + ("e\u0301a\u0308 \u212b \ufb01 \u00bd " * (i % 4))
      base + (if (i % 3 == 0) "ascii tail" else "\u212b")
    }
    for (form <- UnicodeNormalize.Forms) {
      val got = seeds.toDF("t")
        .select(Scrub.normalize(col("t"), form)).as[String].collect()
      val want = seeds.map(s =>
        Normalizer.normalize(s, Normalizer.Form.valueOf(form)))
      assert(got.toSeq == want, s"form $form diverged from the JVM reference")
    }
  }

  test("ASCII and already-normalized inputs pass through; NULL stays NULL") {
    val r = Seq(Some("plain ascii"), Some(composed), None).toDF("t")
      .select(Scrub.normalize(col("t")).as("n")).collect()
    assert(r(0).getString(0) == "plain ascii")
    assert(r(1).getString(0) == composed)
    assert(r(2).isNullAt(0))
  }

  test("constant operands fold to the same forms; a bad form is rejected") {
    val folded = spark.range(1)
      .select(Scrub.normalize(lit(decomposed)).as("a"),
        Scrub.normalize(lit(decomposed), "NFD").as("b")).collect().head
    assert(folded.getString(0) == composed && folded.getString(1) == decomposed)
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")
    val e1 = intercept[Throwable](
      spark.range(1).select(Scrub.normalize(lit("x"), "NFX")).collect())
    assert(messages(e1).contains("NFC/NFD/NFKC/NFKD"), messages(e1))
  }

  test("interpreted eval matches codegen (twin paths share compute)") {
    val viaPlan = Seq(decomposed).toDF("t")
      .select(Scrub.normalize(col("t"))).as[String].collect().head
    val viaEval = UnicodeNormalize.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString(decomposed),
      Normalizer.Form.NFC).toString
    assert(viaPlan == viaEval)
  }
}
