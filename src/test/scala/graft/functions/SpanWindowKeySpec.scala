package graft.functions

import graft.GraftSpec
import graft.ext.SpanDedup
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.functions._

/** Twin-spec for [[SpanWindowKey]]: the native one-pass window digest
  * must be BYTE-equal to `unhex(md5(concat_ws(" ", slice(toks, pos, n))))`
  * — the built-in formulation [[SpanDedup.windowKeyHof]] keeps as the
  * engine-agnostic reference — across in-range windows, the slice edge
  * cases (pos past the array, negative pos, short tails), concat_ws's
  * null-element skipping, Unicode token bytes, and NULL propagation.
  * `unhex` is a bijection on md5 hex output, so byte equality here
  * certifies that every census group and join under the binary key
  * partitions rows exactly as the historical hex key did. */
class SpanWindowKeySpec extends GraftSpec {
  import spark.implicits._

  private def assertTwin(rows: Seq[(Seq[String], Long)], n: Int): Unit = {
    val df = rows.zipWithIndex
      .map { case ((toks, pos), i) => (i.toLong, toks, pos) }
      .toDF("id", "toks", "pos")
    val out = df.select(
      column(SpanWindowKey(expression(col("toks")), expression(col("pos")), n))
        .as("native"),
      SpanDedup.windowKeyHof(col("toks"), col("pos"), n).as("twin"))
    val bad = out.filter(!(col("native") <=> col("twin")))
    assert(bad.count() == 0, {
      val r = bad.take(1).headOption.map(_.toString).getOrElse("")
      s"native window key diverged from the built-in twin, e.g. $r"
    })
  }

  test("in-range windows, ASCII and Unicode tokens, n = 1..5") {
    val toks = Seq("the", "quick", "ünïcödé", "ΛΟΓΟΣ", "跑", "fox", "",
      "a b", "emoji🚀", "tail")
    for (n <- 1 to 5)
      assertTwin((1L to toks.size.toLong).map(p => (toks, p)), n)
  }

  test("slice edge cases: pos past the end, short tails, negative pos") {
    val toks = Seq("alpha", "beta", "gamma")
    assertTwin(Seq(
      (toks, 3L), (toks, 4L), (toks, 5L), (toks, 99L), // tail / beyond
      (toks, -1L), (toks, -3L), (toks, -4L), (toks, -99L), // from the end
      (Seq.empty[String], 1L), (Seq.empty[String], -1L)), n = 3)
  }

  test("null tokens inside the window skip without a separator (concat_ws)") {
    val rows = Seq(
      (Seq("a", null, "b"), 1L),
      (Seq(null, null, "x"), 1L),
      (Seq("a", null, "b", null), 2L),
      (Seq[String](null, null), 1L))
    val df = rows.zipWithIndex
      .map { case ((toks, pos), i) => (i.toLong, toks, pos) }
      .toDF("id", "toks", "pos")
    val out = df.select(
      column(SpanWindowKey(expression(col("toks")), expression(col("pos")), 3))
        .as("native"),
      SpanDedup.windowKeyHof(col("toks"), col("pos"), 3).as("twin"))
    assert(out.filter(!(col("native") <=> col("twin"))).count() == 0)
  }

  test("NULL array and NULL pos propagate") {
    val df = Seq(
      (1L, null.asInstanceOf[Seq[String]], java.lang.Long.valueOf(1L)),
      (2L, Seq("a", "b", "c"), null.asInstanceOf[java.lang.Long]))
      .toDF("id", "toks", "pos")
    val out = df.select(column(SpanWindowKey(
      expression(col("toks")), expression(col("pos")), 2)).as("k"))
    assert(out.collect().forall(_.isNullAt(0)))
  }

  test("int-typed pos (the goodTuring census path) matches the long form") {
    val toks = Seq("one", "two", "three", "four")
    val df = (1 to 4).map(p => (toks, p)).toDF("toks", "posi")
    val out = df.select(
      column(SpanWindowKey(expression(col("toks")), expression(col("posi")), 2))
        .as("native"),
      SpanDedup.windowKeyHof(col("toks"), col("posi"), 2).as("twin"))
    assert(out.filter(!(col("native") <=> col("twin"))).count() == 0)
  }

  test("fuzz: 600 random (toks, pos, n) cases match byte-for-byte") {
    // deterministic LCG so the case set is stable across runs
    var s = 0x9E3779B97F4A7C15L
    def next(bound: Int): Int = {
      s = s * 6364136223846793005L + 1442695040888963407L
      (math.abs(s >>> 17) % bound).toInt
    }
    val vocab = Array("a", "bb", "ccc", "käse", "Σσς", "x y", "", "🚀",
      "longer-token-here", "0")
    for (n <- Seq(1, 2, 3, 5)) {
      val rows = (1 to 150).map { _ =>
        val len = next(12)
        val toks = Seq.fill(len)(vocab(next(vocab.length)))
        val pos = (next(len + 6) - 2).toLong match {
          case 0L => 1L // slice throws on 0; call sites never emit it
          case p => p
        }
        (toks, pos)
      }
      assertTwin(rows, n)
    }
  }
}
