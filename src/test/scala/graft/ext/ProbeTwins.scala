package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import Probe.{aug, dec, finishFit}

/** The explode+hash-aggregate formulation of [[Probe]]'s moment sums and
  * ridge fit, kept as the twin the spec cross-checks the one-pass
  * aggregate against. */
object ProbeTwins {

  /**
   * The previous explode+hash-aggregate formulation of the moment sums
   * (upper-triangle terms keyed `(i, j)`, moment vector tagged j = −1,
   * DECIMAL(38,12) folds) — retained ONLY as the independent spec
   * cross-check for [[MomentAgg]]; the fit itself never calls it.
   */
  private[ext] def momentSumsExploded(
      df: DataFrame, vecCol: String, y: Column, dim: Int): DataFrame = {
    val d1 = dim + 1
    val rows = df
      .filter(col(vecCol).isNotNull && y.isNotNull &&
        size(col(vecCol)) === dim)
      .select(aug(col(vecCol)).as("_v"), y.cast("double").as("_y"))
    val aTerms = flatten(transform(col("_v"), (xi, i) =>
      transform(slice(col("_v"), i + lit(1), lit(d1) - i), (xj, k) =>
        struct(i.cast("int").as("i"), (i + k).cast("int").as("j"),
          round(xi * xj, 12).cast(dec).as("t")))))
    val bTerms = transform(col("_v"), (xi, i) =>
      struct(i.cast("int").as("i"), lit(-1).as("j"),
        round(xi * col("_y"), 12).cast(dec).as("t")))
    rows.select(explode(concat(aTerms, bTerms)).as("_e"))
      .groupBy(col("_e.i").as("i"), col("_e.j").as("j"))
      .agg(sum(col("_e.t")).as("s"))
  }

  /** Explode-path twin of [[Probe.fitRidge]] — spec cross-check only. */
  private[ext] def fitRidgeExploded(
      df: DataFrame, vecCol: String, y: Column, dim: Int,
      lambda: Double = 1e-3): Array[Double] = {
    val d1 = dim + 1
    val a = Array.ofDim[Double](d1, d1)
    val b = new Array[Double](d1)
    var seen = 0L
    momentSumsExploded(df, vecCol, y, dim).collect().foreach { r =>
      val i = r.getInt(0); val j = r.getInt(1)
      val s = r.getDecimal(2).doubleValue()
      if (j < 0) b(i) = s
      else { a(i)(j) = s; a(j)(i) = s; seen += 1 }
    }
    require(seen > 0, "no rows matched (empty input or wrong dim)")
    finishFit(a, b, dim, lambda)
  }
}
