package graft.functions

import graft.GraftSpec
import graft.ext.Similarity
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.functions._

/** Twin-spec for [[PrefixDots]]: element `i` of the fused one-pass
  * result must BIT-equal `graft_dot(slice(a, 1, prefixes(i)), slice(b,
  * 1, prefixes(i)))` — the built-in-composed formulation q352 used —
  * including the NULL corners (NULL vector → NULL array; NULL float
  * inside a prefix → NULL from that checkpoint on; diverging slice
  * lengths → NULL element). Bit-equality holds by construction (the
  * ascending fold's partial sums ARE the slice dots), and this spec pins
  * it with adversarial floats (denormals, huge/tiny mixes, ±0.0, NaN,
  * Inf) where any reordering would show in the last ulp. */
class PrefixDotsSpec extends GraftSpec {
  import spark.implicits._

  private val pfx = Seq(2, 4, 8)

  private def assertTwin(rows: Seq[(Seq[java.lang.Float], Seq[java.lang.Float])]): Unit = {
    val df = rows.zipWithIndex
      .map { case ((a, b), i) => (i.toLong, a, b) }
      .toDF("id", "a", "b")
    val fused = column(PrefixDots(expression(col("a")), expression(col("b")), pfx))
    val twins = pfx.zipWithIndex.map { case (m, i) =>
      val t = Similarity.nativeDot(slice(col("a"), 1, m), slice(col("b"), 1, m))
      (element_at(fused, i + 1) <=> t).as(s"eq$i")
    }
    val bad = df.select(col("id") +: twins: _*)
      .filter(!pfx.indices.map(i => col(s"eq$i")).reduce(_ && _))
    assert(bad.count() == 0, {
      val r = bad.take(1).headOption.map(_.toString).getOrElse("")
      s"fused prefix dots diverged from the slice twin, e.g. $r"
    })
  }

  private def f(xs: Double*): Seq[java.lang.Float] =
    xs.map(x => java.lang.Float.valueOf(x.toFloat))

  test("plain vectors: every checkpoint equals the slice dot") {
    assertTwin(Seq(
      (f(1, 2, 3, 4, 5, 6, 7, 8), f(8, 7, 6, 5, 4, 3, 2, 1)),
      (f(0.1, -0.2, 0.3, -0.4, 0.5, -0.6, 0.7, -0.8),
        f(-1.5, 2.5, -3.5, 4.5, -5.5, 6.5, -7.5, 8.5)),
      (f(0, 0, 0, 0, 0, 0, 0, 0), f(1, 1, 1, 1, 1, 1, 1, 1))))
  }

  test("adversarial floats: cancellation, denormals, NaN, Inf, ±0.0") {
    assertTwin(Seq(
      (f(1e30, -1e30, 1e-30, 1e30, -1e30, 1, 2, 3),
        f(1e8, 1e8, 1e8, 1, 1, 1, 1, 1)),
      (f(Float.MinPositiveValue, 2, 3, 4, 5, 6, 7, 8),
        f(Float.MinPositiveValue, 2, 3, 4, 5, 6, 7, 8)),
      (f(Double.NaN, 1, 2, 3, 4, 5, 6, 7), f(1, 1, 1, 1, 1, 1, 1, 1)),
      (f(Float.PositiveInfinity, 1, 2, 3, 4, 5, 6, 7),
        f(0.0, 1, 1, 1, 1, 1, 1, 1)),
      (f(-0.0, 0.0, -0.0, 0.0, -0.0, 0.0, -0.0, 0.0),
        f(0.0, -0.0, 0.0, -0.0, 0.0, -0.0, 0.0, -0.0))))
  }

  test("short vectors: diverging slice lengths → NULL element; equal " +
    "clamped lengths → dot over what exists") {
    assertTwin(Seq(
      (f(1, 2, 3), f(1, 2, 3)), // prefixes 4 and 8 clamp both to 3
      (f(1, 2, 3), f(1, 2, 3, 4, 5)), // m=4: lengths 3 vs 4 → NULL
      (f(1), f(1)),
      (Seq.empty[java.lang.Float], Seq.empty[java.lang.Float])))
  }

  test("NULL elements: checkpoints before the null keep their value, " +
    "checkpoints spanning it go NULL") {
    assertTwin(Seq(
      (Seq[java.lang.Float](1f, 2f, null, 4f, 5f, 6f, 7f, 8f),
        f(1, 1, 1, 1, 1, 1, 1, 1)),
      (f(1, 1, 1, 1, 1, 1, 1, 1),
        Seq[java.lang.Float](1f, 2f, 3f, 4f, 5f, 6f, 7f, null))))
  }

  test("NULL vectors propagate to a NULL array") {
    val df = Seq(
      (1L, null.asInstanceOf[Seq[java.lang.Float]], f(1, 2)),
      (2L, f(1, 2), null.asInstanceOf[Seq[java.lang.Float]]))
      .toDF("id", "a", "b")
    val out = df.select(column(PrefixDots(
      expression(col("a")), expression(col("b")), pfx)).as("pd"))
    assert(out.collect().forall(_.isNullAt(0)))
  }

  test("fuzz: 400 random float vectors match at every checkpoint") {
    var s = 0x2545F4914F6CDD1DL
    def next(): Double = {
      s = s * 6364136223846793005L + 1442695040888963407L
      ((s >>> 11).toDouble / (1L << 53).toDouble - 0.5) * 2e3
    }
    val rows = (1 to 400).map { i =>
      val len = i % 11
      (f(Seq.fill(len)(next()): _*), f(Seq.fill(len)(next()): _*))
    }
    assertTwin(rows)
  }
}
