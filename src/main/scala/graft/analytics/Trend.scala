package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/**
 * Per-group trend statistics over the event log — ordinary least
 * squares, serial autocorrelation, and exponentially-weighted smoothing.
 * The monitoring layer a pipeline runs over its own telemetry ("is this
 * source's quality score drifting?", "is load autocorrelated hour to
 * hour?") before acting on it.
 *
 * Reference scope: the reference engine reports static grouped counts
 * (`/root/reference/sree-etl-tdk-glue-job.py:51-68`); the trend surface
 * extends the same per-key aggregation to time-indexed statistics.
 *
 * Determinism contract (shared with [[graft.ext.Eval]] /
 * [[graft.ext.GraphOps]]): cross-row sums fold exact DECIMAL(38,12)
 * terms — each a `round(double, 12)` of IEEE ops — so every moment is
 * order-independent over any partitioning, and the closed-form scalars
 * derived from the moments are the same fixed sequence of double ops in
 * both engines. Condition the regressor yourself (e.g. hours since a
 * fixed epoch, not raw epoch seconds): the closed forms subtract
 * same-magnitude products, and a well-centered x keeps the full double
 * mantissa in the difference.
 */
object Trend {

  private val dec = DecimalType(38, 12)

  /** Exact, order-independent sum term: `round(v, 12)` as DECIMAL(38,12). */
  private def term(v: Column): Column = round(v, 12).cast(dec)

  private def d(c: Column): Column = c.cast("double")

  /**
   * Per-group OLS of `y` on `x` from five decimal moment sums — one hash
   * aggregate, group-sized output, no window and no second pass:
   *
   *   slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
   *   intercept = (Σy − slope·Σx) / n
   *   r2 = (n·Σxy − Σx·Σy)² / ((n·Σx² − (Σx)²)·(n·Σy² − (Σy)²))
   *
   * Degenerate groups (constant x → zero denominator) yield NULL slope /
   * intercept / r2 (`nullif` guard, identical in the oracle dialect).
   * NULL x or y rows drop. Outputs round to 6 dp.
   *
   * Returns `(groupCol, n, slope, intercept, r2)`.
   */
  def trend(
      df: DataFrame, groupCol: String,
      x: Column, y: Column): DataFrame =
    trendFromMoments(momentPartials(df, groupCol, x, y), groupCol)

  /**
   * The five decimal moment sums + count per group — [[trend]]'s
   * mergeable state. Partials are ASSOCIATIVE: the moments of a corpus
   * equal the column-wise sums of any partition's partials
   * ([[mergeMoments]]), exactly — the terms are decimals, so the fold
   * order never matters. This is what makes the trend a standing index:
   * per-batch partials fold at load, and re-fits never rescan history.
   */
  def momentPartials(
      df: DataFrame, groupCol: String, x: Column, y: Column): DataFrame =
    df.select(col(groupCol), d(x).as("_x"), d(y).as("_y"))
      .filter(col("_x").isNotNull && col("_y").isNotNull)
      .groupBy(groupCol)
      .agg(
        count(lit(1)).as("n"),
        sum(term(col("_x"))).as("sx"),
        sum(term(col("_y"))).as("sy"),
        sum(term(col("_x") * col("_x"))).as("sxx"),
        sum(term(col("_y") * col("_y"))).as("syy"),
        sum(term(col("_x") * col("_y"))).as("sxy"))

  /** Column-wise fold of moment partials (exact decimal sums — merging
    * is associative and commutative, so any split of the corpus folds to
    * the same state). */
  def mergeMoments(partials: DataFrame, groupCol: String): DataFrame =
    partials.groupBy(groupCol).agg(
      sum(col("n")).as("n"),
      sum(col("sx")).as("sx"), sum(col("sy")).as("sy"),
      sum(col("sxx")).as("sxx"), sum(col("syy")).as("syy"),
      sum(col("sxy")).as("sxy"))

  /** The OLS closed forms evaluated over a moments frame
    * ([[momentPartials]] or a [[mergeMoments]] fold). */
  def trendFromMoments(moments: DataFrame, groupCol: String): DataFrame = {
    val nD = d(col("n"))
    val sx = d(col("sx")); val sy = d(col("sy"))
    val sxx = d(col("sxx")); val syy = d(col("syy"))
    val sxy = d(col("sxy"))
    val cov = nD * sxy - sx * sy
    val varx = nD * sxx - sx * sx
    val vary = nD * syy - sy * sy
    val slope = cov / nullif(varx, lit(0.0))
    moments.select(col(groupCol), col("n").cast("long").as("n"),
      round(slope, 6).as("slope"),
      round((sy - slope * sx) / nD, 6).as("intercept"),
      round(cov * cov / nullif(varx * vary, lit(0.0)), 6).as("r2"))
  }

  /**
   * OLS influence diagnostics over a series — WHICH points steer
   * [[trend]]'s fitted line: per point the leverage
   * `h = 1/n + (x−x̄)²/Σ(x−x̄)²` (how unusual its x-position is) and
   * Cook's distance `D = e²·h / (p·s²·(1−h)²)` with p = 2 and
   * `s² = SSE/(n−2)` (how much the whole fit moves if the point
   * drops). The audit run AFTER a trend is fit and BEFORE it is
   * believed: a hot day with D ≫ 4/n is dragging the slope, and
   * [[Robust.theilSen]] is the second opinion.
   *
   * Everything derives from the SAME six decimal moment sums as
   * [[trend]] (one 1-row aggregate, cross-joined back — the
   * [[momentPartials]] fold, so a [[mergeMoments]] standing state
   * serves too); per-point fitted/residual/leverage/D are one IEEE
   * chain each, 6-dp. Leverage is NULL when x has no spread; D is
   * additionally NULL when n < 3, s² = 0, or h = 1 (a point that IS
   * the fit). Returns `(at, y, fitted, residual, leverage, cooks_d)`
   * ordered by the series key rendered as a string (date-safe).
   *
   * Same series contract as [[Changepoint.cusum]]: aggregate first;
   * output is series-sized and the only sort is the final
   * presentation ORDER BY.
   */
  def influence(
      series: DataFrame, orderCol: String,
      x: Column, y: Column): DataFrame = {
    val base = series
      .select(col(orderCol).cast("string").as("_o"),
        d(x).as("_x"), d(y).as("_y"))
      .filter(col("_o").isNotNull && col("_x").isNotNull &&
        col("_y").isNotNull)
    val tot = base.agg(
      count(lit(1)).as("_n"),
      sum(term(col("_x"))).as("_sx"),
      sum(term(col("_y"))).as("_sy"),
      sum(term(col("_x") * col("_x"))).as("_sxx"),
      sum(term(col("_y") * col("_y"))).as("_syy"),
      sum(term(col("_x") * col("_y"))).as("_sxy"))
    val nD = d(col("_n"))
    val sx = d(col("_sx")); val sy = d(col("_sy"))
    val sxx = d(col("_sxx")); val syy = d(col("_syy"))
    val sxy = d(col("_sxy"))
    val varx = nD * sxx - sx * sx
    val slope = (nD * sxy - sx * sy) / nullif(varx, lit(0.0))
    val intercept = (sy - slope * sx) / nD
    val xbar = sx / nD
    val sxxc = sxx - sx * sx / nD
    val syyc = syy - sy * sy / nD
    val sxyc = sxy - sx * sy / nD
    val sse = syyc - slope * sxyc
    val s2 = sse / (nD - 2.0)
    val fitted = intercept + slope * col("_x")
    val resid = col("_y") - fitted
    val h = lit(1.0) / nD + (col("_x") - xbar) * (col("_x") - xbar) /
      nullif(sxxc, lit(0.0))
    val cook = resid * resid * h /
      (lit(2.0) * s2 * (lit(1.0) - h) * (lit(1.0) - h))
    base.crossJoin(broadcast(tot))
      .select(col("_o").as("at"), col("_y").as("y"),
        round(fitted, 6).as("fitted"),
        round(resid, 6).as("residual"),
        round(h, 6).as("leverage"),
        when(col("_n") >= 3 && s2 > 0.0 && h < 1.0, round(cook, 6))
          .as("cooks_d"))
      .orderBy(col("at").asc)
  }

  /**
   * Per-group serial autocorrelation at `lag`: Pearson r between the
   * series and its `lag`-shifted self, the series ordered by
   * `(orderCol, idCol)` (the id tiebreak makes equal-timestamp rows
   * reproducible). Rows whose lagged partner falls before the series
   * start — or whose own/partner value is NULL — drop; the correlation
   * is over the surviving aligned pairs, from the same decimal moment
   * algebra as [[trend]]. Groups with < 2 pairs or zero variance on
   * either axis yield NULL r.
   *
   * One group-partitioned window (state: `lag` rows per group) + one
   * hash aggregate — no global window, group-sized output.
   *
   * Returns `(groupCol, n_pairs, r)`.
   */
  def autocorr(
      df: DataFrame, groupCol: String, orderCol: String, idCol: String,
      valueCol: String, lagN: Int = 1): DataFrame = {
    require(lagN >= 1, s"lagN must be >= 1, got $lagN")
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(orderCol), col(idCol))
    val pairs = df
      .filter(col(groupCol).isNotNull && col(orderCol).isNotNull)
      .select(col(groupCol), d(col(valueCol)).as("_y"),
        lag(d(col(valueCol)), lagN).over(w).as("_x"))
      .filter(col("_x").isNotNull && col("_y").isNotNull)
    val m = pairs.groupBy(groupCol).agg(
      count(lit(1)).as("n_pairs"),
      sum(term(col("_x"))).as("_sx"),
      sum(term(col("_y"))).as("_sy"),
      sum(term(col("_x") * col("_x"))).as("_sxx"),
      sum(term(col("_y") * col("_y"))).as("_syy"),
      sum(term(col("_x") * col("_y"))).as("_sxy"))
    val nD = d(col("n_pairs"))
    val sx = d(col("_sx")); val sy = d(col("_sy"))
    val sxx = d(col("_sxx")); val syy = d(col("_syy"))
    val sxy = d(col("_sxy"))
    val r = (nD * sxy - sx * sy) /
      nullif(sqrt((nD * sxx - sx * sx) * (nD * syy - sy * sy)), lit(0.0))
    m.select(col(groupCol), col("n_pairs"), round(r, 6).as("r"))
  }

  /**
   * Lead–lag cross-correlation profile between two bucketed series —
   * "does series A move BEFORE series B?" (views leading purchases,
   * ingest leading errors): for every lag ℓ in [−maxLag, maxLag],
   * Pearson r between x_t and y_{t+ℓ} over the buckets where both
   * exist; the argmax-|r| lag is the lead estimate. [[autocorr]]'s
   * arithmetic (12-dp decimal moment folds, one closed-form double
   * chain) applied to a bucket-key equi-join instead of a window, so
   * NOTHING here is single-partition: the lag fan-out is the
   * (2·maxLag+1)-row broadcast, pairs join on the bucket key.
   *
   * SCALE CONTRACT: inputs are SERIES frames (one row per bucket —
   * aggregate first, the [[graft.analytics.Changepoint.cusum]] rule).
   * `orderCol` must cast to long (bucket index). Lags with < 2
   * overlapping buckets or zero variance on either side yield NULL r.
   * Returns `(lag, n_pairs, r)`, r 6-dp.
   */
  def crossCorr(
      a: DataFrame, b: DataFrame, orderCol: String, valueCol: String,
      maxLag: Int): DataFrame = {
    require(maxLag >= 0, s"maxLag must be >= 0, got $maxLag")
    def series(df: DataFrame, out: String): DataFrame = df
      .filter(col(orderCol).isNotNull && col(valueCol).isNotNull)
      .select(col(orderCol).cast("long").as("_t"),
        d(col(valueCol)).as(out))
    val spark = a.sparkSession
    import spark.implicits._
    val lags = (-maxLag to maxLag).map(_.toLong).toDF("lag")
    val pairs = series(a, "_x").crossJoin(broadcast(lags))
      .select(col("lag"), (col("_t") + col("lag")).as("_tb"), col("_x"))
      .join(series(b, "_y").withColumnRenamed("_t", "_tb"), Seq("_tb"))
    val m = pairs.groupBy(col("lag")).agg(
      count(lit(1)).as("n_pairs"),
      sum(term(col("_x"))).as("_sx"),
      sum(term(col("_y"))).as("_sy"),
      sum(term(col("_x") * col("_x"))).as("_sxx"),
      sum(term(col("_y") * col("_y"))).as("_syy"),
      sum(term(col("_x") * col("_y"))).as("_sxy"))
    val nD = d(col("n_pairs"))
    val r = (nD * d(col("_sxy")) - d(col("_sx")) * d(col("_sy"))) /
      nullif(sqrt(
        (nD * d(col("_sxx")) - d(col("_sx")) * d(col("_sx"))) *
          (nD * d(col("_syy")) - d(col("_sy")) * d(col("_sy")))),
        lit(0.0))
    m.select(col("lag"), col("n_pairs"),
      when(col("n_pairs") >= 2, round(r, 6)).as("r"))
  }

  /**
   * Periodogram power at CANDIDATE periods — "is this series weekly?":
   * for each period p, the squared projection of the mean-centered
   * series onto the p-cycle,
   *
   *   P(p) = ((Σ c_t·cos(2π·(t mod p)/p))² + (Σ c_t·sin(…))²) · 2/n
   *
   * with c_t = v_t − mean. The trig argument reduces through
   * `t mod p` BEFORE cos/sin so both engines evaluate small
   * well-conditioned angles (libm argument-reduction differences on
   * large angles are the one cross-engine trig hazard); each product
   * term then rounds to 12 dp and folds as decimal (the [[trend]]
   * rule). Same series-frame scale contract as [[crossCorr]].
   * Returns `(period, n, power)`, power 6-dp.
   */
  def periodogram(
      series: DataFrame, orderCol: String, valueCol: String,
      periods: Seq[Int]): DataFrame = {
    require(periods.nonEmpty && periods.forall(_ >= 2),
      s"periods must all be >= 2, got $periods")
    val spark = series.sparkSession
    import spark.implicits._
    val base = series
      .filter(col(orderCol).isNotNull && col(valueCol).isNotNull)
      .select(col(orderCol).cast("long").as("_t"),
        d(col(valueCol)).as("_v"))
    val tot = base.agg(count(lit(1)).as("_n"), sum(term(col("_v"))).as("_s"))
    val ps = periods.map(_.toLong).toDF("period")
    val ang = lit(2.0 * math.Pi) *
      pmod(col("_t"), col("period")).cast("double") /
      col("period").cast("double")
    base.crossJoin(broadcast(tot))
      .select(col("_t"), col("_n"),
        (col("_v") - d(col("_s")) / d(col("_n"))).as("_c"))
      .crossJoin(broadcast(ps))
      .select(col("period"), col("_n"),
        term(col("_c") * cos(ang)).as("_tc"),
        term(col("_c") * sin(ang)).as("_ts"))
      .groupBy(col("period"))
      .agg(max(col("_n")).as("n"),
        sum(col("_tc")).as("_cs"), sum(col("_ts")).as("_ss"))
      .select(col("period"), col("n"),
        round((d(col("_cs")) * d(col("_cs")) +
          d(col("_ss")) * d(col("_ss"))) * 2.0 / d(col("n")), 6)
          .as("power"))
  }

  /**
   * Truncated-kernel exponentially-weighted moving average: per group,
   * rows ordered by `(orderCol, idCol)`,
   *
   *   ewma_t = Σ_{j<k, v_{t−j} present} (1−α)^j·v_{t−j}
   *          / Σ_{j<k, v_{t−j} present} (1−α)^j
   *
   * — the pandas `ewm(adjust=True)` weighting cut at `k` taps, so the
   * window is bounded (a k-row frame per group, never unbounded
   * recursive state) and the kernel weights are plan-time literals both
   * engines share digit-for-digit. A NULL (or before-series) tap drops
   * from numerator AND denominator — gaps look through, they don't decay
   * toward zero. A row whose own window holds no present tap (all-NULL
   * neighborhood) yields NULL.
   *
   * One group-partitioned window, k lag taps folded left-to-right in a
   * fixed order (the oracle mirrors the same chain, so the float fold is
   * the identical IEEE sequence). Output rounds to 6 dp.
   *
   * Returns the input keys + `(value, ewma)`.
   */
  def ewma(
      df: DataFrame, groupCol: String, orderCol: String, idCol: String,
      valueCol: String, alpha: Double = 0.5, k: Int = 4): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0, s"alpha must be in (0,1), got $alpha")
    require(k >= 1 && k <= 16, s"k must be in [1, 16], got $k")
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(orderCol), col(idCol))
    val weights = ewmaWeights(alpha, k)
    val taps = (0 until k).map { j =>
      val v = if (j == 0) d(col(valueCol))
        else lag(d(col(valueCol)), j).over(w)
      (v, weights(j))
    }
    val num = taps.map { case (v, wt) =>
      coalesce(v * lit(wt), lit(0.0)) }.reduce(_ + _)
    val den = taps.map { case (v, wt) =>
      when(v.isNotNull, lit(wt)).otherwise(lit(0.0)) }.reduce(_ + _)
    df.filter(col(groupCol).isNotNull && col(orderCol).isNotNull)
      .select(col(groupCol), col(orderCol), col(idCol),
        col(valueCol),
        round(num / nullif(den, lit(0.0)), 6).as("ewma"))
  }

  /** The `(1−α)^j` kernel, j < k — exposed so oracle SQL can embed the
    * SAME double literals the plan folds (`Double.toString` round-trips). */
  def ewmaWeights(alpha: Double, k: Int): Seq[Double] =
    (0 until k).map(j => math.pow(1.0 - alpha, j.toDouble))

  /**
   * Exponentially-decayed event counts per key — the TRENDING detector
   * ("what is hot NOW?") that a plain count can't express: each event
   * contributes `e^(−ln2·(T−t)/halflife)` where `T` is the corpus's
   * latest timestamp (1-row broadcast), so an event one half-life old
   * counts half. Unlike [[ewma]]'s row-recursive smoothing this is a
   * PLAIN SUM over per-event terms — associative and mergeable as long
   * as partials share `T` — so it folds map-side like any aggregate.
   *
   * Each term is one exp chain rounded 12 dp and folded as
   * DECIMAL(38,12) (the q219 ln-parity rule, applied to exp). Returns
   * `(keyCol, n, decayed)` per key, decayed 6-dp, ordered by
   * `decayed` descending (key tiebreak).
   */
  def decayedCounts(
      df: DataFrame, keyCol: Column, tsCol: Column,
      halflifeSeconds: Long): DataFrame = {
    require(halflifeSeconds > 0,
      s"halflifeSeconds must be positive, got $halflifeSeconds")
    val dec12 = DecimalType(38, 12)
    val base = df
      .select(keyCol.as("key"), tsCol.cast("long").as("_t"))
      .filter(col("key").isNotNull && col("_t").isNotNull)
    val tMax = base.agg(max(col("_t")).as("_tmax"))
    base.crossJoin(broadcast(tMax))
      .select(col("key"),
        round(exp((col("_t") - col("_tmax")).cast("double")
          * lit(math.log(2.0) / halflifeSeconds)), 12).cast(dec12)
          .as("_w"))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("_w")).cast("double"), 6).as("decayed"))
      .orderBy(col("decayed").desc, col("key").asc)
  }
}
