package graft.functions

import graft.GraftSpec
import graft.ext.{TextOps, TextOpsTwins}
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.functions._

/** Twin-spec for [[WhitespaceTokens]]: the native byte-scan tokenizer
  * must equal `filter(split(lower(text), "\\s+"), length > 0)` — full
  * array equality, order included — across the separator class (the six
  * ASCII `\s` chars, and ONLY those: Unicode spaces must not split),
  * Unicode lowercasing (same `UTF8String.toLowerCase` kernel, pinned on
  * the classic corner cases), and the empty/null/whitespace-only
  * degenerates. The graft_shingles discipline: prove the twin, then the
  * production `TextOps.tokens` swap is value-free. */
class WhitespaceTokensSpec extends GraftSpec {
  import spark.implicits._

  private def assertTwin(rows: Seq[String]): Unit = {
    val df = rows.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val out = df.select(
      TextOps.tokens(col("text")).as("native"),
      TextOpsTwins.tokensHof(col("text")).as("hof"))
    val bad = out.filter(!(col("native") <=> col("hof")))
    assert(bad.count() == 0, {
      val r = bad.take(1).headOption.map(_.toString).getOrElse("")
      s"native tokens diverged from the HOF twin, e.g. $r"
    })
  }

  test("separator class: exactly Java-regex \\s — the six ASCII chars") {
    assertTwin(Seq(
      "plain words here",
      " leading  and   trailing  ",
      "tab\tsplit\nnewline\rcarriage\fformfeedvtab",
      "\t\n \r", // separators only
      "", // empty string: split yields [\"\"], filter drops it
      null, // NULL propagates
      "nbsp stays together", // Unicode space must NOT split
      "em\u2003space\u2028line-sep\u3000ideographic", // none of these split
      "mixed\u00A0unicode and ascii separators\ttogether"))
  }

  test("lowercasing: the same UTF8String.toLowerCase kernel as `lower`") {
    assertTwin(Seq(
      "ASCII UPPER Case",
      "ÄÖÜ SS ẞ STRASSE", // German sharp S
      "İstanbul IJssel", // dotted capital I, Dutch IJ
      "ΣΟΦΟΣ ΟΔΥΣΣΕΥΣ", // Greek final sigma context
      "ПРИВЕТ МИР", // Cyrillic
      "ÉCOLE ÀGRAVE Ç",
      "emoji 🚀 SURVIVES 🎉ok"))
  }

  test("fuzzed token soup matches element-for-element") {
    val seps = Array(" ", "\t", "\n", "  ", " \r ", "\f")
    val words = Array("The", "QUICK", "brown", "FoX", "ünïcödé", "ΛΟΓΟΣ",
      "x", "", "123", "a-b_c")
    val rows = (1 to 500).map { i =>
      (0 until (i % 23)).map { j =>
        words((i * 31 + j * 7) % words.length) +
          seps((i * 13 + j * 5) % seps.length)
      }.mkString
    }
    assertTwin(rows)
  }

  test("the expression schema matches the twin's array type") {
    val df = Seq("a b").toDF("text")
    val nat = df.select(TextOps.tokens(col("text")).as("t")).schema("t")
    val hof = df.select(TextOpsTwins.tokensHof(col("text")).as("t")).schema("t")
    assert(nat.dataType == hof.dataType && nat.nullable == hof.nullable,
      s"schema drifted: native=$nat twin=$hof")
  }

  test("shingles over graft_tokens ≡ shingles over the raw split " +
      "(graft_shingles' own empty filter absorbs the difference)") {
    val df = Seq("  The  quick\tbrown fox ", "", "one two", null)
      .toDF("text")
    val viaTokens = graft.ext.Dedup.shingles(col("text"), 2)
    val viaRawSplit = column(WordShingles(
      expression(split(lower(col("text")), "\\s+")), 2))
    assert(df.filter(!(viaTokens <=> viaRawSplit)).count() == 0)
  }
}
