package graft.ext

import graft.GraftSpec
import org.apache.spark.sql.functions._

class ProbeSpec extends GraftSpec {
  import spark.implicits._

  /** Deterministic pseudo-random features (no RNG state, reproducible). */
  private def synth(n: Int, dim: Int): Seq[(Long, Seq[Float])] =
    (0 until n).map { r =>
      (r.toLong, (0 until dim).map { c =>
        (math.sin(r * 12.9898 + c * 78.233) * 43758.5453 % 1.0).toFloat
      })
    }

  /**
   * Independent reference: same 12-dp decimal term rounding, but plain
   * Scala loops and an UNPIVOTED Gauss–Jordan solve — a genuinely
   * different elimination path than the engine's partial-pivot solver.
   */
  private def referenceFit(
      rows: Seq[(Seq[Float], Double)], dim: Int,
      lambda: Double): Array[Double] = {
    val d1 = dim + 1
    def r12(x: Double) =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    val a = Array.fill(d1, d1)(BigDecimal(0))
    val b = Array.fill(d1)(BigDecimal(0))
    rows.foreach { case (v, y) =>
      val x = v.map(_.toDouble) :+ 1.0
      for (i <- 0 until d1; j <- 0 until d1)
        a(i)(j) += r12(x(i) * x(j))
      for (i <- 0 until d1) b(i) += r12(x(i) * y)
    }
    val m = Array.tabulate(d1, d1)((i, j) =>
      a(i)(j).toDouble + (if (i == j && i < dim) lambda else 0.0))
    val rhs = b.map(_.toDouble)
    for (p <- 0 until d1) {
      val f = m(p)(p)
      for (c <- 0 until d1) m(p)(c) /= f
      rhs(p) /= f
      for (r <- 0 until d1 if r != p) {
        val g = m(r)(p)
        if (g != 0.0) {
          for (c <- 0 until d1) m(r)(c) -= g * m(p)(c)
          rhs(r) -= g * rhs(p)
        }
      }
    }
    rhs.map(w =>
      BigDecimal(w).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("noiseless linear target is recovered exactly (lambda 0)") {
    val df = synth(40, 2).map { case (id, v) =>
      (id, v, 2.0 * v(0) - 3.0 * v(1) + 1.0)
    }.toDF("vec_id", "embedding", "y")
    val w = Probe.fitRidge(df, "embedding", col("y"), dim = 2, lambda = 0.0)
    assert(math.abs(w(0) - 2.0) < 1e-6 && math.abs(w(1) + 3.0) < 1e-6 &&
      math.abs(w(2) - 1.0) < 1e-6, w.toSeq.toString)
  }

  test("fit is partitioning-invariant (decimal folds) and matches the " +
    "independent Gauss-Jordan reference") {
    val data = synth(200, 5)
    val rows = data.map { case (_, v) =>
      (v, v.map(_.toDouble).sum * 0.5 + 0.25)
    }
    val df = data.zip(rows).map { case ((id, v), (_, y)) => (id, v, y) }
      .toDF("vec_id", "embedding", "y")
    val w1 = Probe.fitRidge(df.repartition(1), "embedding", col("y"), 5)
    val w7 = Probe.fitRidge(df.repartition(7), "embedding", col("y"), 5)
    assert(w1.toSeq == w7.toSeq, "exact partitioning invariance")
    val ref = referenceFit(rows, 5, 1e-3)
    val maxDiff = w1.zip(ref).map { case (x, y) => math.abs(x - y) }.max
    assert(maxDiff < 1e-6, s"engine ${w1.toSeq} vs reference ${ref.toSeq}")
  }

  test("ridge shrinks feature weights; NULL/wrong-dim rows drop; " +
    "empty input is rejected") {
    val base = synth(60, 3).map { case (id, v) =>
      (id, Some(v), Some(v(0) * 4.0 - v(2) + 0.5))
    }
    val dirty = base ++ Seq(
      (900L, Option.empty[Seq[Float]], Some(1.0)),
      (901L, Some(Seq(1.0f)), Some(1.0)), // wrong dim
      (902L, Some(Seq(0.1f, 0.2f, 0.3f)), Option.empty[Double]))
    val df = dirty.toDF("vec_id", "embedding", "y")
    val w0 = Probe.fitRidge(df, "embedding", col("y"), 3, lambda = 0.0)
    val wBig = Probe.fitRidge(df, "embedding", col("y"), 3, lambda = 50.0)
    def featNorm(w: Array[Double]) = math.sqrt(w.init.map(x => x * x).sum)
    assert(featNorm(wBig) < featNorm(w0), "lambda shrinks the features")
    val clean = base.toDF("vec_id", "embedding", "y")
    assert(Probe.fitRidge(clean, "embedding", col("y"), 3, 0.0).toSeq ==
      w0.toSeq, "dirty rows were invisible to the fit")
    intercept[IllegalArgumentException] {
      Probe.fitRidge(df.filter(col("vec_id") < 0), "embedding", col("y"), 3)
    }
  }

  test("report: perfect linear fit scores r2 = 1, mse 0; constant " +
    "target yields NULL r2; binary accuracy thresholds at 0.5") {
    val df = synth(50, 2).map { case (id, v) =>
      (id, v, 2.0 * v(0) - 3.0 * v(1) + 1.0)
    }.toDF("vec_id", "embedding", "y")
    val r = Probe.report(df, "embedding", col("y"), 2, lambda = 0.0)
      .collect().head
    assert(r.getLong(0) == 50L)
    assert(r.getDouble(1) == 0.0 && r.getDouble(2) == 1.0)
    val const = synth(50, 2).map { case (id, v) => (id, v, 1.0) }
      .toDF("vec_id", "embedding", "y")
    assert(Probe.report(const, "embedding", col("y"), 2)
      .collect().head.isNullAt(2), "SST 0 => r2 NULL")
    // separable binary target: accuracy 1.0
    val bin = synth(50, 2).map { case (id, v) =>
      (id, v, if (v(0) > 0) 1.0 else 0.0)
    }.toDF("vec_id", "embedding", "y")
    val acc = Probe.report(bin, "embedding", col("y"), 2, lambda = 0.0)
      .collect().head.getDouble(3)
    assert(acc > 0.8, s"linearly separable target should probe well: $acc")
  }

  test("Aggregator moment path equals the explode+decimal path at " +
    "d = 64 on the real embeddings table (<= 1e-9 per weight)") {
    val df = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val y = when(col("label") === 0, 1.0)
      .when(col("label").isNotNull, 0.0)
    val agg = Probe.fitRidge(df, "embedding", y, dim = 64)
    val exp = ProbeTwins.fitRidgeExploded(df, "embedding", y, dim = 64)
    val maxDiff = agg.zip(exp).map { case (a, b) => math.abs(a - b) }.max
    assert(agg.length == 65 && maxDiff <= 1e-9,
      s"paths diverge: maxDiff=$maxDiff")
  }

  test("moment merge law: partials of arbitrary slices fold to the " +
    "one-pass fit exactly, empty slices are merge-neutral (q207)") {
    val data = synth(150, 4)
    val rows = data.map { case (id, v) =>
      (id, v, v.map(_.toDouble).sum * 0.5 + 0.25)
    }
    val df = rows.toDF("vec_id", "embedding", "y")
    val onePass = Probe.fitRidge(df, "embedding", col("y"), 4)
    val partials = Seq(
      df.filter(col("vec_id") < 30),
      df.filter(col("vec_id") >= 30 && col("vec_id") < 110),
      df.filter(col("vec_id") >= 110),
      df.filter(col("vec_id") < 0)) // empty slice: all-zero partial
      .map(Probe.momentPartials(_, "embedding", col("y"), 4))
      .reduce(_ unionByName _)
    val merged = Probe.fitRidgeFromMoments(Probe.mergeMoments(partials), 4)
    assert(merged.toSeq == onePass.toSeq, "lossless integer merge")
    intercept[IllegalArgumentException] {
      Probe.fitRidgeFromMoments(
        Probe.momentPartials(df.filter(col("vec_id") < 0),
          "embedding", col("y"), 4), 4)
    }
  }

  test("score is the in-order augmented dot against literal weights") {
    val w = Array(0.5, -1.0, 2.0)
    val got = Seq((1L, Seq(4.0f, 3.0f))).toDF("id", "v")
      .select(Probe.score(col("v"), w)).collect().head.getDouble(0)
    assert(got == 4.0 * 0.5 - 3.0 + 2.0)
  }

  test("crossValWeights: each fold's subtraction fit equals the direct " +
    "fit on the filtered training set; the report scores held-out " +
    "rows only") {
    val dim = 4
    val rows = synth(90, dim)
    val df = rows.toDF("vec_id", "embedding")
    val y = element_at(col("embedding"), 1).cast("double")
    val fold = pmod(col("vec_id"), lit(3))
    val cv = Probe.crossValWeights(spark, df, "embedding", y, fold,
        dim, lambda = 1e-3)
      .collect()
      .groupBy(_.getLong(0))
      .map { case (f, rs) =>
        f -> rs.sortBy(_.getLong(1)).map(_.getDouble(2)).toSeq
      }
    assert(cv.keySet == Set(0L, 1L, 2L))
    (0L to 2L).foreach { f =>
      val direct = Probe.fitRidge(
        df.filter(pmod(col("vec_id"), lit(3)) =!= f),
        "embedding", y, dim, lambda = 1e-3).toSeq
      assert(cv(f) == direct,
        s"fold $f: subtraction fit must equal the direct train fit")
    }
    // the target IS a feature, so every held-out fold fits ~perfectly
    val rep = Probe.crossValReport(df, "embedding", y, fold, dim,
      lambda = 1e-3).collect()
    assert(rep.length == 3 && rep.map(_.getLong(1)).sum == 90L)
    rep.foreach(r =>
      assert(r.getDouble(2) < 1e-4, s"held-out mse must be tiny: $r"))

    intercept[IllegalArgumentException] {
      Probe.crossValWeights(spark, df, "embedding", y, lit(0), dim)
    }
  }

  test("learningCurve: each prefix fit equals the direct fit on the " +
    "prefix; the self-feature target saturates immediately") {
    val dim = 4
    val df = synth(80, dim).toDF("vec_id", "embedding")
    val y = element_at(col("embedding"), 2).cast("double")
    val stratum = pmod(col("vec_id"), lit(4))
    val w = Probe.learningCurveWeights(spark, df, "embedding", y,
        stratum, dim, lambda = 1e-3)
      .collect()
      .groupBy(_.getLong(0))
      .map { case (s, rs) =>
        s -> rs.sortBy(_.getLong(1)).map(_.getDouble(2)).toSeq
      }
    assert(w.keySet == Set(0L, 1L, 2L), s"${w.keySet}")
    (0L to 2L).foreach { s =>
      val direct = Probe.fitRidge(
        df.filter(pmod(col("vec_id"), lit(4)) <= s),
        "embedding", y, dim, lambda = 1e-3).toSeq
      assert(w(s) == direct,
        s"prefix $s: cumulative fit must equal the direct prefix fit")
    }
    val curve = Probe.learningCurve(df, "embedding", y, stratum, dim,
      lambda = 1e-3).collect()
    assert(curve.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    assert(curve.map(_.getLong(1)).toSeq == curve.map(_.getLong(1))
      .toSeq.sorted, "n_train must grow with the prefix")
    assert(curve.forall(_.getLong(2) == 20L), "fixed held-out stratum")
    curve.foreach(r =>
      assert(r.getDouble(3) < 1e-4, s"self-feature mse must be tiny: $r"))
  }

  test("ablationWeights: the full-width step equals fitRidge; a " +
    "budget containing the signal dimension fits it; dims validated") {
    val dim = 6
    val df = synth(60, dim).toDF("vec_id", "embedding")
    val y = element_at(col("embedding"), 2).cast("double") // feature 1
    val steps = Probe.ablationWeights(spark, df, "embedding", y,
        dims = Seq(2, dim), dim = dim, lambda = 1e-3)
      .collect()
      .groupBy(_.getLong(0))
      .map { case (du, rs) =>
        du -> rs.map(r => r.getLong(1) -> r.getDouble(2)).toMap
      }
    assert(steps.keySet == Set(2L, dim.toLong))
    // full budget = plain fitRidge on original indices
    val direct = Probe.fitRidge(df, "embedding", y, dim, lambda = 1e-3)
    direct.zipWithIndex.foreach { case (w, i) =>
      assert(steps(dim.toLong)(i.toLong) == w, s"full-width idx $i")
    }
    // the 2-dim budget includes feature 1 → near-perfect sub-fit
    val curve = Probe.ablationCurve(df, "embedding", y,
        dims = Seq(2, dim), dim = dim, lambda = 1e-3)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(curve(2L) < 1e-4 && curve(dim.toLong) < 1e-4, s"$curve")
    intercept[IllegalArgumentException] {
      Probe.ablationWeights(spark, df, "embedding", y, Seq(0), dim)
    }
    intercept[IllegalArgumentException] {
      Probe.ablationWeights(spark, df, "embedding", y, Seq(dim + 1), dim)
    }
  }

  test("term12 fast path is bit-identical to the BigDecimal reference " +
      "across magnitudes and at adversarial half boundaries") {
    // deterministic fuzz: magnitudes 1e-15..1e3, both signs, float-origin
    // products (the MomentAgg input shape), plus exact decimal halves
    val rnd = new scala.util.Random(0x5eed17)
    var n = 0
    while (n < 2000000) {
      val scale = math.pow(10.0, rnd.nextInt(19) - 15)
      val x = (rnd.nextDouble() * 2 - 1) * scale
      assert(Probe.term12(x) == Probe.term12Reference(x),
        s"fuzz mismatch at x=$x (${java.lang.Double.toHexString(x)})")
      val a = rnd.nextFloat().toDouble * (if (rnd.nextBoolean()) 1 else -1)
      val b = rnd.nextFloat().toDouble
      assert(Probe.term12(a * b) == Probe.term12Reference(a * b),
        s"product mismatch at ${a * b}")
      n += 1
    }
    // adversarial: doubles whose shortest decimal lands ON or NEXT TO a
    // 12-dp half boundary (m + 0.5)/1e12 -- the only region where the
    // binary and shortest-decimal roundings could diverge; the guard
    // must route every one of these through the reference path
    (0L until 200000L).foreach { m =>
      Seq((m.toDouble + 0.5) / 1e12, -(m.toDouble + 0.5) / 1e12,
          (m.toDouble + 0.5) * 1e-12,
          Math.nextUp((m.toDouble + 0.5) / 1e12),
          Math.nextDown((m.toDouble + 0.5) / 1e12)).foreach { x =>
        assert(Probe.term12(x) == Probe.term12Reference(x),
          s"half-boundary mismatch at x=$x (${java.lang.Double.toHexString(x)})")
      }
    }
    // exact-representable halves at larger magnitudes + specials
    Seq(2.5e-12, 0.0000000000005, 1.0000000000005, -1.0000000000005,
        123.4567890123455, 4.4999999999995e3, 0.0, -0.0,
        Double.MinPositiveValue, -Double.MinPositiveValue).foreach { x =>
      assert(Probe.term12(x) == Probe.term12Reference(x), s"special $x")
    }
    // non-finite and overflow behavior matches (both throw)
    Seq(Double.NaN, Double.PositiveInfinity, 1e7).foreach { x =>
      val ref = scala.util.Try(Probe.term12Reference(x))
      val fast = scala.util.Try(Probe.term12(x))
      assert(ref.isFailure == fast.isFailure, s"throw parity at $x")
      if (ref.isSuccess) assert(ref.get == fast.get)
    }
  }
}
