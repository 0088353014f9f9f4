package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Top principal component of an embedding column — the anisotropy probe
 * of representation health (a corpus whose embeddings collapse onto one
 * direction carries less usable signal than its dimension suggests;
 * Mu & Viswanath 2018's "all-but-the-top" postprocessing starts from
 * exactly this component) and the first step of PCA whitening.
 *
 * Reference scope: the reference engine has no vector surface; this
 * extends the X3/X+ embedding-audit family (q182's per-vector health
 * screens look at rows; this looks at the SPECTRUM).
 *
 * Scale shape (the [[Probe]] split): ONE distributed pass builds the
 * exact (d+1)² second-moment matrix through the same scaled-long
 * `Aggregator` the ridge probe uses — one flat buffer per task, no
 * per-term rows, shuffle is dimension²-sized regardless of corpus
 * size. Everything after that pass is driver-side arithmetic on a d×d
 * matrix: centering (C = (Σxxᵀ − n·μμᵀ)/n from the moment matrix's own
 * Σx row), then fixed-count power iteration — deterministic because
 * the input moments are order-invariant integers, the start vector and
 * iteration count are constants, and the result rounds to 9 dp before
 * leaving the driver.
 *
 * Sign convention: the component is normalized to unit length and
 * oriented so its largest-|coordinate| entry is positive (ties → the
 * lowest index), making the output unique — eigenvectors are only
 * defined up to sign.
 */
object Pca {

  /** Power-iteration step count: fixed, not convergence-tested, so the
    * arithmetic chain is identical on every run. Near-isotropic inputs
    * converge slowly (measured λ₂/λ₁ = 0.9874 on the synthetic
    * embeddings ⇒ error ratio e^(−2000·0.0127) ≈ 10⁻¹¹ at 2000 steps),
    * and 2000 steps on a d×d driver matrix is microseconds — so the
    * count is sized for the near-degenerate worst case, not the easy
    * one. */
  private val Iters = 2000

  /**
   * Compute the top eigenpair of the covariance of `vecCol`. Returns
   * `(component: Array[Double] of length dim (unit, 9-dp), lambda,
   * trace)` — `lambda/trace` is the top component's share of total
   * variance. Rows with NULL or wrong-dimension vectors drop.
   */
  def topComponent(
      df: DataFrame, vecCol: String, dim: Int): (Array[Double], Double, Double) = {
    val (_, v, lambda, trace) = decomposition(df, vecCol, dim)
    (v, lambda, trace)
  }

  /**
   * [[topComponent]] plus the 9-dp per-dimension mean vector — all four
   * read off the SAME single moment pass (the augmented matrix's Σxᵢ
   * row is the mean numerator). The mean is what a centering transform
   * ([[removalReport]]) subtracts; exposing it here keeps "center" and
   * "component" consistent by construction.
   */
  def decomposition(
      df: DataFrame, vecCol: String,
      dim: Int): (Array[Double], Array[Double], Double, Double) = {
    require(dim >= 1, s"dim must be >= 1, got $dim")
    // y = 0: only the moment matrix side of the shared aggregator is used
    val (a, _, n) = Probe.momentSumsAgg(df, vecCol, lit(0.0), dim)
    require(n > 0, "no rows matched (empty input or wrong dim)")
    decomposeMoments(a, n, dim)
  }

  /**
   * [[decomposition]] from a (possibly merged) [[Probe.momentPartials]]
   * frame — identical output by the q207 merge law, so a standing
   * moment index yields the corpus component without re-touching a
   * single vector (q212).
   */
  def decompositionFromMoments(
      moments: DataFrame,
      dim: Int): (Array[Double], Array[Double], Double, Double) = {
    require(dim >= 1, s"dim must be >= 1, got $dim")
    val d1 = dim + 1
    val a = Array.ofDim[Double](d1, d1)
    moments.filter(col("j") >= 0).collect().foreach { r =>
      val i = r.getInt(0); val j = r.getInt(1)
      val s = r.getDecimal(2).doubleValue() / 1e12
      a(i)(j) = s; a(j)(i) = s
    }
    val n = math.round(a(dim)(dim))
    require(n > 0, "no rows matched (empty moments)")
    decomposeMoments(a, n, dim)
  }

  /** The shared driver tail: centered covariance from the augmented
    * moment matrix, fixed-start power iteration, orientation, 9-dp
    * rounding. `a(i)(dim)` = Σxᵢ, `a(dim)(dim)` = n. */
  private def decomposeMoments(
      a: Array[Array[Double]], n: Long,
      dim: Int): (Array[Double], Array[Double], Double, Double) = {
    val nd = n.toDouble
    val c = Array.ofDim[Double](dim, dim)
    var i = 0
    while (i < dim) {
      var j = 0
      while (j < dim) {
        c(i)(j) = (a(i)(j) - a(i)(dim) * a(j)(dim) / nd) / nd
        j += 1
      }
      i += 1
    }
    var trace = 0.0
    i = 0
    while (i < dim) { trace += c(i)(i); i += 1 }
    // fixed-start power iteration: v₀ = 1/√d
    var v = Array.fill(dim)(1.0 / math.sqrt(dim.toDouble))
    var it = 0
    while (it < Iters) {
      val w = new Array[Double](dim)
      i = 0
      while (i < dim) {
        var s = 0.0
        var j = 0
        while (j < dim) { s += c(i)(j) * v(j); j += 1 }
        w(i) = s
        i += 1
      }
      var norm = 0.0
      i = 0
      while (i < dim) { norm += w(i) * w(i); i += 1 }
      norm = math.sqrt(norm)
      require(norm > 0.0, "zero-variance input (power iteration collapsed)")
      i = 0
      while (i < dim) { w(i) /= norm; i += 1 }
      v = w
      it += 1
    }
    // Rayleigh quotient (v is unit)
    var lambda = 0.0
    i = 0
    while (i < dim) {
      var s = 0.0
      var j = 0
      while (j < dim) { s += c(i)(j) * v(j); j += 1 }
      lambda += v(i) * s
      i += 1
    }
    // orientation: largest-|coordinate| entry positive, lowest index wins
    var am = 0
    i = 1
    while (i < dim) {
      if (math.abs(v(i)) > math.abs(v(am))) am = i
      i += 1
    }
    if (v(am) < 0.0) { i = 0; while (i < dim) { v(i) = -v(i); i += 1 } }
    def r9(x: Double): Double =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val mean = Array.tabulate(dim)(j => r9(a(j)(dim) / nd))
    (mean, v.map(r9), r9(lambda), r9(trace))
  }

  /**
   * All-but-the-top removal report (Mu & Viswanath 2018): project every
   * centered vector onto the top component and report what removing
   * that direction would change — `(n_rows, mean_proj, ms_proj,
   * removed_share)` with ms_proj the mean squared projection (≈ λ when
   * the component converged — the spec-pinned internal consistency)
   * and removed_share = ms_proj/trace, the anisotropy fraction a
   * downstream whitening step deletes. The projection is a per-row
   * in-order fold against PLAN-LITERAL mean/component (the q19/q185
   * bit-parity convention — an oracle's `list_aggregate` replays it
   * exactly); squared terms round 12-dp and fold as decimal. One
   * narrow corpus pass after the [[decomposition]] pass — no shuffle
   * beyond the final 1-row aggregate.
   */
  def removalReport(
      df: DataFrame, vecCol: String, dim: Int): DataFrame = {
    val (mu, v, _, trace) = decomposition(df, vecCol, dim)
    val mv = mu.zip(v).map { case (m, c) => m * c }.sum // in-order fold
    val dec = org.apache.spark.sql.types.DecimalType(38, 12)
    val proj = aggregate(
      zip_with(transform(col(vecCol), _.cast("double")),
        lit(v), (x, w) => x * w),
      lit(0.0), (acc, t) => acc + t) - lit(mv)
    df.filter(col(vecCol).isNotNull && size(col(vecCol)) === dim)
      .select(proj.as("_p"))
      .agg(count(lit(1)).as("n_rows"),
        sum(round(col("_p"), 12).cast(dec)).as("_sp"),
        sum(round(col("_p") * col("_p"), 12).cast(dec)).as("_sp2"))
      .select(col("n_rows"),
        round(col("_sp").cast("double") / col("n_rows").cast("double"), 6)
          .as("mean_proj"),
        round(col("_sp2").cast("double") / col("n_rows").cast("double"), 6)
          .as("ms_proj"),
        round(col("_sp2").cast("double") / col("n_rows").cast("double")
          / lit(trace), 6).as("removed_share"))
  }

  /** The declared-query face of [[topComponent]]: one row per
    * coordinate `(idx, v)` plus two tagged scalar rows
    * `(idx = -1, lambda)` and `(idx = -2, trace)` — a single frame an
    * oracle can verify as an eigenpair (the q184 residual pattern). */
  def topComponentFrame(
      spark: SparkSession, df: DataFrame, vecCol: String,
      dim: Int): DataFrame = {
    import spark.implicits._
    val (v, lambda, trace) = topComponent(df, vecCol, dim)
    (v.zipWithIndex.map { case (x, i) => (i.toLong, x) } ++
      Seq((-1L, lambda), (-2L, trace)))
      .toSeq.toDF("idx", "v")
  }

  /** [[topComponentFrame]] from a merged moment frame — the q212 face;
    * shares q206's eigenpair-residual oracle shape. */
  def topComponentFrameFromMoments(
      spark: SparkSession, moments: DataFrame, dim: Int): DataFrame = {
    import spark.implicits._
    val (_, v, lambda, trace) = decompositionFromMoments(moments, dim)
    (v.zipWithIndex.map { case (x, i) => (i.toLong, x) } ++
      Seq((-1L, lambda), (-2L, trace)))
      .toSeq.toDF("idx", "v")
  }
}
