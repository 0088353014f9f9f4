package graft.functions

import java.util.zip.Deflater

import graft.GraftSpec
import graft.ext.TextOps
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.functions._

class DeflateLengthSpec extends GraftSpec {
  import spark.implicits._

  /** Direct library call — the twin the expression must match. */
  private def refLen(s: String, level: Int): Long = {
    val d = new Deflater(level)
    try {
      d.setInput(s.getBytes("UTF-8")); d.finish()
      val buf = new Array[Byte](8192)
      var n = 0L
      while (!d.finished()) n += d.deflate(buf)
      n
    } finally d.end()
  }

  test("expression matches a direct Deflater call on a fuzz corpus, at " +
    "every level used") {
    val seeds = (0 until 120).map { i =>
      ("lorem ipsum " * (i % 7 + 1)) + s"tail-$i " + ("z" * (i % 31))
    }
    for (level <- Seq(1, 6, 9)) {
      val got = seeds.toDF("t")
        .select(column(DeflateLength(expression(col("t")), level)))
        .as[Long].collect().toSeq
      assert(got == seeds.map(refLen(_, level)), s"level $level diverged")
    }
  }

  test("semantics: repetition compresses below prose; higher level never " +
    "compresses worse; empty text still pays framing; NULL stays NULL") {
    val spam = "buy now " * 200
    val prose = (1 to 200).map(i => s"w${i * 2654435761L % 9973}")
      .mkString(" ")
    val r = Seq((spam, prose)).toDF("a", "b")
      .select(TextOps.compressionRatio(col("a")).as("ra"),
        TextOps.compressionRatio(col("b")).as("rb"))
      .collect().head
    assert(r.getDouble(0) < r.getDouble(1) / 2,
      s"spam ${r.getDouble(0)} should compress far below prose ${r.getDouble(1)}")
    assert(refLen(spam, 9) <= refLen(spam, 1))
    val edge = Seq((Some(""), Some("x"), Option.empty[String]))
      .toDF("e", "x", "n")
      .select(column(DeflateLength(expression(col("e")), 6)).as("le"),
        TextOps.compressionRatio(col("e")).as("re"),
        TextOps.compressionRatio(col("x")).as("rx"),
        TextOps.compressionRatio(col("n")).as("rn"))
      .collect().head
    assert(edge.getLong(0) > 0, "empty input still has framing bytes")
    assert(edge.isNullAt(1), "ratio of empty text is NULL (0 raw bytes)")
    assert(edge.getDouble(2) > 1.0, "1-byte text: framing dominates")
    assert(edge.isNullAt(3))
  }

  test("a constant operand folds to the library length; a level outside " +
    "0..9 is rejected") {
    val folded = spark.range(1)
      .select(column(DeflateLength(expression(lit("aaaaaaaaaa")), 6)))
      .as[Long].collect().head
    assert(folded == refLen("aaaaaaaaaa", 6))
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")
    val e1 = intercept[Throwable](
      spark.range(1).select(TextOps.compressionRatio(lit("x"), 99)).collect())
    assert(messages(e1).contains("0..9"), messages(e1))
  }
}
