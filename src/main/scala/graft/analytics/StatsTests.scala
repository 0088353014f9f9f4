package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/**
 * Classical statistical screens over event data — the χ² independence
 * test ("does the event mix change by day of week?") and a Benford
 * leading-digit audit ("do these amounts look organically generated?").
 * Both are data-quality instruments a pipeline runs before trusting a
 * source: independence drift flags logging changes, Benford deviation
 * flags synthetic/fabricated numeric columns (Nigrini's forensic
 * standard).
 *
 * Reference scope: extends the reference's static grouped counting
 * (`/root/reference/sree-etl-tdk-glue-job.py:51-68`) with the tests a
 * reviewer would run on those counts.
 *
 * Determinism: all counts are exact longs; per-cell float terms round
 * to 12 dp and fold as DECIMAL(38,12) (partitioning-invariant); the
 * Benford expectations are plan-time literals generated driver-side
 * (`log10(1 + 1/d)` printed via Double.toString) that an oracle embeds
 * verbatim.
 */
object StatsTests {

  private val dec = DecimalType(38, 12)

  /** Poisson(1) CDF at 0..5, printed via Double.toString so an oracle
    * embeds the SAME literals the plan folds (the [[benfordExpected]]
    * convention). A bootstrap weight is the count of thresholds at or
    * below the row's uniform — support truncated at 6
    * (P(X > 5) ≈ 5.9·10⁻⁴; the tail mass lands on w = 6). */
  val poisson1Cdf: Seq[Double] = Seq(
    0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
    0.9810118431238463, 0.9963401531726563, 0.9994058151824183)

  /**
   * Pearson χ² test of independence between two categorical columns:
   * one pass for the cell counts, row/column margins re-aggregated from
   * the CELLS (R + C rows — never a second data scan), expected counts
   * `e = rowTot·colTot/n` in doubles, statistic `Σ (o−e)²/e` as a
   * decimal fold. NULL categories drop. Returns one row:
   * `(n, n_rows, n_cols, dof, chi2)` — compare `chi2` against the
   * caller's critical value (the p-value lookup is a client-side table;
   * shipping an incomplete-gamma implementation here would add a
   * float-precision surface with no query-side value).
   */
  def chiSquared(df: DataFrame, aCol: Column, bCol: Column): DataFrame = {
    val cells = df.select(aCol.as("_a"), bCol.as("_b"))
      .filter(col("_a").isNotNull && col("_b").isNotNull)
      .groupBy("_a", "_b").agg(count(lit(1)).as("o"))
    val rowTot = cells.groupBy("_a").agg(sum(col("o")).as("rt"))
    val colTot = cells.groupBy("_b").agg(sum(col("o")).as("ct"))
    val tot = cells.agg(sum(col("o")).as("n"),
      countDistinct(col("_a")).as("n_rows"),
      countDistinct(col("_b")).as("n_cols"))
    val e = col("rt").cast("double") * col("ct").cast("double") /
      col("n").cast("double")
    // densify: UNOBSERVED cells still carry (0−e)²/e — dropping them
    // understates the statistic exactly when association is strongest.
    // rowTot × colTot is category²-sized, never data-sized.
    rowTot.crossJoin(colTot)
      .join(cells, Seq("_a", "_b"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .crossJoin(broadcast(tot))
      .select(col("n"), col("n_rows"), col("n_cols"),
        round((col("o").cast("double") - e) *
          (col("o").cast("double") - e) / e, 12).cast(dec).as("_t"))
      .groupBy(col("n"), col("n_rows"), col("n_cols"))
      .agg(round(sum(col("_t")).cast("double"), 6).as("chi2"))
      .select(col("n"), col("n_rows"), col("n_cols"),
        ((col("n_rows") - 1) * (col("n_cols") - 1)).as("dof"),
        col("chi2"))
  }

  /**
   * Wilson score lower bound per group — "rank slices by
   * reliability-adjusted rate": a 2-of-2 slice must NOT outrank a
   * 90-of-100 slice, and the Wilson interval's lower bound is the
   * standard correction (the sort key behind every "sort by rating"
   * system that works). At z = 1.959964 (95%, pinned):
   *
   *   lb = (p̂ + z²/2n − z·√(p̂(1−p̂)/n + z²/4n²)) / (1 + z²/n)
   *
   * Counts are exact; the bound is one double chain per GROUP row,
   * rounded 6 dp. Returns `(groupCol, n, n_pass, rate, wilson_lb)`
   * ordered by the bound descending (group tiebreak) — group-sized
   * output from one hash aggregate.
   */
  def wilsonLowerBound(
      df: DataFrame, groupCol: Column, pass: Column): DataFrame = {
    val z = 1.959964
    val n = col("n").cast("double")
    val p = col("n_pass").cast("double") / n
    val lb = (p + lit(z * z) / (lit(2.0) * n) -
      lit(z) * sqrt(p * (lit(1.0) - p) / n +
        lit(z * z) / (lit(4.0) * n * n))) /
      (lit(1.0) + lit(z * z) / n)
    df.filter(groupCol.isNotNull && pass.isNotNull)
      .groupBy(groupCol.as("g"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(pass.cast("boolean").cast("long")), lit(0L))
          .as("n_pass"))
      .select(col("g"), col("n"), col("n_pass"),
        round(p, 6).as("rate"),
        round(lb, 6).as("wilson_lb"))
      .orderBy(col("wilson_lb").desc, col("g").asc)
  }

  /**
   * Empirical-Bayes (beta-binomial) shrinkage of per-group rates — the
   * POINT-ESTIMATE companion to [[wilsonLowerBound]]'s ranking bound:
   * small groups borrow strength from the corpus-wide rate
   * distribution instead of reporting noise. Method-of-moments prior
   * from the UNWEIGHTED group rates (mean m, variance v across the
   * group frame, 12-dp decimal folds):
   *
   *   α+β = m(1−m)/v − 1 ,  α = m·(α+β) ,
   *   shrunk_g = (x_g + α) / (n_g + α + β)
   *
   * When v = 0 or v ≥ m(1−m) the prior is degenerate (no
   * between-group structure to borrow) and `shrunk` is NULL — the
   * honest "don't shrink" answer. Returns
   * `(groupCol, n, n_pass, rate, shrunk)` ordered by group;
   * group-sized output, the prior a 1-row broadcast.
   */
  def ebShrunkRates(
      df: DataFrame, groupCol: Column, pass: Column): DataFrame = {
    val d12 = DecimalType(38, 12)
    val cells = df.filter(groupCol.isNotNull && pass.isNotNull)
      .groupBy(groupCol.as("g"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(pass.cast("boolean").cast("long")), lit(0L))
          .as("n_pass"))
      .withColumn("rate",
        col("n_pass").cast("double") / col("n").cast("double"))
    val prior = cells.agg(
      count(lit(1)).as("_k"),
      sum(round(col("rate"), 12).cast(d12)).as("_sr"),
      sum(round(col("rate") * col("rate"), 12).cast(d12)).as("_sr2"))
    val kD = col("_k").cast("double")
    val m = col("_sr").cast("double") / kD
    val v = col("_sr2").cast("double") / kD - m * m
    val ab = m * (lit(1.0) - m) / v - lit(1.0)
    cells.crossJoin(broadcast(prior))
      .select(col("g"), col("n"), col("n_pass"),
        round(col("rate"), 6).as("rate"),
        when(v > 0.0 && v < m * (lit(1.0) - m),
          round((col("n_pass").cast("double") + m * ab) /
            (col("n").cast("double") + ab), 6))
          .as("shrunk"))
      .orderBy(col("g").asc)
  }

  /**
   * Cramér's V on the [[chiSquared]] contingency — the EFFECT-SIZE
   * companion ("how strong is the association?") to that test's
   * significance, bounded [0, 1] and comparable across table sizes:
   *
   *   V = √( χ² / (n · min(r−1, c−1)) )
   *
   * Computed from the 6-dp χ² the test itself reports (one √ chain);
   * NULL when either axis is single-category (no association to
   * size). Same category²-bounded shape as [[chiSquared]]. Returns
   * one row `(n, dof, chi2, v)`.
   */
  def cramersV(df: DataFrame, aCol: Column, bCol: Column): DataFrame =
    chiSquared(df, aCol, bCol)
      .select(col("n"), col("dof"), col("chi2"),
        when(col("n_rows") > 1 && col("n_cols") > 1,
          round(sqrt(col("chi2") /
            (col("n").cast("double") *
              least(col("n_rows") - 1, col("n_cols") - 1)
                .cast("double"))), 6))
          .as("v"))

  /**
   * Cochran's Q over k ≥ 2 PAIRED binary screens — the k-screen
   * omnibus of [[mcnemar]] ("do ANY of these screens differ in pass
   * rate on the same items?"), the gate before running pairwise
   * McNemars. Complete panels only (any-NULL items drop — the
   * [[graft.ext.Eval.fleissKappaBinary]] rule; an abstaining screen
   * is [[graft.ext.Eval.krippendorffAlphaBinary]]'s regime). With
   * per-screen pass totals C_j, per-item pass counts R_i, S = ΣR_i:
   *
   *   Q = (k−1)·(k·ΣC_j² − S²) / (k·S − ΣR_i²)   (χ², k−1 df)
   *
   * Every aggregate is an exact integer; Q is the single float
   * division, rounded 6 dp — NULL when the denominator is 0 (every
   * item unanimous: no within-item variation to test). Returns one
   * row `(n_items, dof, q_stat)` from one aggregate — scale-free.
   */
  def cochranQ(df: DataFrame, raters: Seq[Column]): DataFrame = {
    require(raters.size >= 2, s"need >= 2 raters, got ${raters.size}")
    val k = raters.size
    val r = raters.map(_.cast("boolean").cast("long"))
    val anyNull = raters.map(_.isNull).reduce(_ || _)
    val ri = r.reduce(_ + _)
    val cSq = (0 until k)
      .map(i => col(s"_c$i") * col(s"_c$i")).reduce(_ + _)
    df.filter(!anyNull)
      .select((ri.as("_ri") +: r.zipWithIndex.map { case (c, i) =>
        c.as(s"_c$i")
      }): _*)
      .agg(count(lit(1)).as("n_items"),
        (coalesce(sum(col("_ri")), lit(0L)).as("_s") +:
          coalesce(sum(col("_ri") * col("_ri")), lit(0L)).as("_r2") +:
          (0 until k).map(i =>
            coalesce(sum(col(s"_c$i")), lit(0L)).as(s"_c$i"))): _*)
      .select(col("n_items"), lit(k - 1).as("dof"),
        when(lit(k.toLong) * col("_s") - col("_r2") > 0,
          round((lit((k - 1).toLong) *
            (lit(k.toLong) * cSq - col("_s") * col("_s"))).cast("double")
            / (lit(k.toLong) * col("_s") - col("_r2")).cast("double"), 6))
          .as("q_stat"))
  }

  /**
   * Total-variation distance between two samples' binned value
   * distributions: fixed-width bins (`⌊v/binWidth⌋`), per-sample shares
   * from exact counts over the UNION bin set (an absent bin is share
   * 0 — the full-outer join keeps it), `TV = ½·Σ|p−q|` with 12-dp
   * decimal terms. The numeric-drift companion to the χ² tests: TV is
   * a bounded [0,1] DISTANCE (how much probability mass moved), χ² a
   * significance statistic. NULL values drop. Returns one row
   * `(n_bins, na, nb, tv)`.
   */
  def tvDistance(
      a: DataFrame, b: DataFrame, value: Column,
      binWidth: Double): DataFrame = {
    require(binWidth > 0.0, s"binWidth must be positive, got $binWidth")
    def bins(df: DataFrame, out: String): DataFrame =
      df.select(floor(value.cast("double") / lit(binWidth)).as("_bin"))
        .filter(col("_bin").isNotNull)
        .groupBy("_bin").agg(count(lit(1)).as(out))
    val joined = bins(a, "ca").join(bins(b, "cb"), Seq("_bin"), "full_outer")
      .select(col("_bin"), coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
    val tot = joined.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"),
      count(lit(1)).as("n_bins"))
    joined.crossJoin(broadcast(tot))
      .select(col("n_bins"), col("na"), col("nb"),
        round(abs(col("ca").cast("double") / col("na").cast("double") -
          col("cb").cast("double") / col("nb").cast("double")), 12)
          .cast(dec).as("_t"))
      .groupBy(col("n_bins"), col("na"), col("nb"))
      .agg(round(lit(0.5) * sum(col("_t")).cast("double"), 6).as("tv"))
  }

  /**
   * Two-proportion z-test (pooled): one row per cohort frame (a trial
   * per row, `success` boolean; NULL success drops),
   *
   *   z = (p₁ − p₂) / √(p̂(1−p̂)(1/n₁ + 1/n₂)),  p̂ pooled
   *
   * — the A/B-test arithmetic over exact counts, one IEEE chain, 6-dp.
   * Degenerate pools (p̂ ∈ {0,1} → zero variance) yield NULL z.
   * Returns `(n1, s1, n2, s2, p1, p2, z)`.
   */
  def twoProportionZ(
      a: DataFrame, b: DataFrame, success: Column): DataFrame = {
    def counts(df: DataFrame, n: String, s: String): DataFrame =
      df.filter(success.isNotNull)
        .agg(count(lit(1)).as(n),
          sum(success.cast("long")).as(s))
    val p1 = col("s1").cast("double") / col("n1").cast("double")
    val p2 = col("s2").cast("double") / col("n2").cast("double")
    val pp = (col("s1") + col("s2")).cast("double") /
      (col("n1") + col("n2")).cast("double")
    counts(a, "n1", "s1").crossJoin(counts(b, "n2", "s2"))
      .select(col("n1"), col("s1"), col("n2"), col("s2"),
        round(p1, 6).as("p1"), round(p2, 6).as("p2"),
        round((p1 - p2) /
          nullif(sqrt(pp * (lit(1.0) - pp) *
            (lit(1.0) / col("n1").cast("double") +
              lit(1.0) / col("n2").cast("double"))), lit(0.0)), 6)
          .as("z"))
  }

  /**
   * Power analysis for the [[twoProportionZ]] A/B design: given the
   * two arms as OBSERVED (their sizes and the pooled baseline rate),
   * what absolute lift could this experiment actually detect, and how
   * big would each arm need to be to detect a 10% relative lift? The
   * planning companion every "the z was insignificant" reading needs —
   * an insignificant z from an underpowered design says nothing.
   *
   * Closed forms at the conventional α = 0.05 two-sided / power = 0.8
   * (z_{α/2} + z_{power} pinned as the single literal 2.801585, so the
   * whole chain is engine-replayable):
   *
   *   mde_abs   = 2.801585 · √(p̄(1−p̄)·(1/n₁ + 1/n₂))
   *   n_per_arm = ⌈2.801585² · 2·p̄(1−p̄) / (0.1·p̄)²⌉
   *
   * Counts are exact integers; p̄ and the two outputs are the only
   * float ops (one √ chain each), rounded 6 dp; n_per_arm is NULL when
   * p̄ = 0 (no baseline conversions — nothing to lift). Returns one row
   * `(n1, n2, p_pool, mde_abs, n_per_arm)`.
   *
   * Two 1-row aggregates and a broadcast cross — scale-free.
   */
  def abPower(a: DataFrame, b: DataFrame, success: Column): DataFrame = {
    def counts(df: DataFrame, n: String, s: String): DataFrame =
      df.filter(success.isNotNull)
        .agg(count(lit(1)).as(n),
          sum(success.cast("long")).as(s))
    val z = lit(2.801585)
    val pp = (col("s1") + col("s2")).cast("double") /
      (col("n1") + col("n2")).cast("double")
    counts(a, "n1", "s1").crossJoin(broadcast(counts(b, "n2", "s2")))
      .select(col("n1"), col("n2"),
        round(pp, 6).as("p_pool"),
        round(z * sqrt(pp * (lit(1.0) - pp) *
          (lit(1.0) / col("n1").cast("double") +
            lit(1.0) / col("n2").cast("double"))), 6).as("mde_abs"),
        when(pp > 0.0,
          ceil(z * z * lit(2.0) * pp * (lit(1.0) - pp)
            / (lit(0.1) * pp * lit(0.1) * pp)).cast("long"))
          .as("n_per_arm"))
  }

  /**
   * Mann–Whitney U with tie-corrected normal approximation: sample A
   * vs sample B on a numeric column. Ranks are tie-averaged over the
   * COMBINED sample via the doubled-rank identity on GROUPED counts
   * (the [[ksTest]] lift): per distinct value v with c₁+c₂ = t rows
   * and B rows strictly below it, the doubled tie-averaged rank is
   *   r₂(v) = 2B + t + 1   (always an integer — no float until z)
   * so R₁·2 = Σ_v c₁(v)·r₂(v) and Σ(t³−t) = Σ_v t(t²−1) come straight
   * from the value-frequency frame:
   *
   *   U₁ = R₁ − n₁(n₁+1)/2
   *   z  = (U₁ − n₁n₂/2) / √(n₁n₂/12 · ((N+1) − Σ(t³−t)/(N(N−1))))
   *
   * NULL values drop. All-tied samples (zero variance) yield NULL z.
   * SCALE CONTRACT: the rows aggregate map-side into per-value counts
   * first; the single ordered cumulative window runs over the DISTINCT-
   * value frame, so cost is value-cardinality, not row count (the same
   * contract as [[ksTest]]). Returns `(n1, n2, u1, z)`.
   */
  def mannWhitneyU(
      a: DataFrame, b: DataFrame, value: Column): DataFrame = {
    def counts(df: DataFrame, out: String): DataFrame =
      df.select(value.cast("double").as("_v"))
        .filter(col("_v").isNotNull)
        .groupBy("_v").agg(count(lit(1)).as(out))
    val j = counts(a, "_c1").join(counts(b, "_c2"), Seq("_v"), "full_outer")
      .select(col("_v"), coalesce(col("_c1"), lit(0L)).as("_c1"),
        coalesce(col("_c2"), lit(0L)).as("_c2"))
      .withColumn("_t", col("_c1") + col("_c2"))
    val wB = org.apache.spark.sql.expressions.Window.orderBy(col("_v"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val ranked = j
      .withColumn("_r2", lit(2L) *
        coalesce(sum(col("_t")).over(wB), lit(0L)) + col("_t") + 1L)
    val m = ranked.agg(
      sum(col("_c1")).as("n1"),
      sum(col("_c2")).as("n2"),
      sum(col("_c1") * col("_r2")).as("_r1d"),
      // Σ(t³−t) over tie groups, directly from the value frame
      sum(col("_t") * (col("_t") * col("_t") - 1L)).as("_tie"))
    val n1 = col("n1").cast("double"); val n2 = col("n2").cast("double")
    val nn = (col("n1") + col("n2")).cast("double")
    val u1 = col("_r1d").cast("double") / 2.0 -
      n1 * (n1 + lit(1.0)) / 2.0
    val varU = n1 * n2 / 12.0 *
      ((nn + 1.0) - col("_tie").cast("double") / (nn * (nn - 1.0)))
    m.select(col("n1"), col("n2"),
      round(u1, 6).as("u1"),
      round((u1 - n1 * n2 / 2.0) / nullif(sqrt(varU), lit(0.0)), 6)
        .as("z"))
  }

  /**
   * Cochran–Mantel–Haenszel test of a binary arm→outcome association
   * ACROSS strata — the confounding-aware A/B: [[twoProportionZ]]
   * pools everything and can be Simpson-reversed by a stratum mix
   * (older cohorts convert less AND skew into one arm); CMH compares
   * within each stratum and pools the evidence. Per stratum with n
   * rows, n₁ in the arm, m₁ successes and a arm-successes:
   *
   *   χ² = (Σ_s (a − n₁m₁/n))² / Σ_s n₁n₂m₁m₀/(n²(n−1))   (1 df)
   *
   * with `p = normalTwoSidedP(√χ²)` (the χ²(1) survival function IS
   * the two-sided normal tail — closed form, no table). Strata with
   * n < 2 carry no variance and drop. Counts exact; per-stratum
   * gap/variance terms are one double chain rounded 12-dp and folded
   * DECIMAL(38,12). Returns one row
   * `(n_strata, o_minus_e, var_sum, chi2, p)`, 6-dp — NULL when the
   * pooled variance is 0.
   *
   * Shape: one hash aggregate to the stratum frame, one fold.
   */
  /** Per-stratum 2×2 margins `(_s, _n, _n1, _m1, _aa)` behind
    * [[cmhTest]] and [[mhOddsRatio]] — one hash aggregate; strata with
    * n < 2 carry no variance and drop. */
  private def stratumCells(
      df: DataFrame, stratum: Column, arm: Column,
      success: Column): DataFrame =
    df.select(stratum.as("_s"),
        arm.cast("boolean").as("_a"), success.cast("boolean").as("_y"))
      .filter(col("_s").isNotNull && col("_a").isNotNull &&
        col("_y").isNotNull)
      .groupBy(col("_s"))
      .agg(count(lit(1)).as("_n"),
        coalesce(sum(col("_a").cast("long")), lit(0L)).as("_n1"),
        coalesce(sum(col("_y").cast("long")), lit(0L)).as("_m1"),
        coalesce(sum((col("_a") && col("_y")).cast("long")), lit(0L))
          .as("_aa"))
      .filter(col("_n") >= 2)

  def cmhTest(
      df: DataFrame, stratum: Column, arm: Column,
      success: Column): DataFrame = {
    val d12 = DecimalType(38, 12)
    val cells = stratumCells(df, stratum, arm, success)
    val nD = col("_n").cast("double")
    val n1 = col("_n1").cast("double"); val m1 = col("_m1").cast("double")
    val e = n1 * m1 / nD
    val v = n1 * (nD - n1) * m1 * (nD - m1) /
      (nD * nD * (nD - 1.0))
    val folded = cells.agg(count(lit(1)).as("n_strata"),
      coalesce(sum(round(col("_aa").cast("double") - e, 12).cast(d12)),
        lit(0).cast(d12)).as("_gap"),
      coalesce(sum(round(v, 12).cast(d12)), lit(0).cast(d12)).as("_var"))
    val gapD = col("_gap").cast("double")
    val varD = col("_var").cast("double")
    val chi2 = gapD * gapD / varD
    folded.select(col("n_strata"),
      round(gapD, 6).as("o_minus_e"),
      round(varD, 6).as("var_sum"),
      when(varD > 0.0, round(chi2, 6)).as("chi2"),
      when(varD > 0.0, normalTwoSidedP(sqrt(chi2))).as("p"))
  }

  /**
   * Mantel–Haenszel pooled odds ratio across strata — the EFFECT SIZE
   * behind [[cmhTest]]'s significance (the pair answers "is there a
   * within-stratum effect, and how big?"): with per-stratum 2×2 cells
   * `a, b = n₁−a, c = m₁−a, d = n−n₁−m₁+a`,
   *
   *   OR_MH = Σ_s (a·d/n) / Σ_s (b·c/n)
   *
   * — the precision-weighted pooling that stays stable when sparse
   * strata would make per-stratum ORs blow up. Per-stratum terms are
   * one double chain rounded 12-dp and folded DECIMAL(38,12). NULL
   * when the denominator sum is 0 (no discordant evidence). Returns
   * one row `(n_strata, r_sum, s_sum, or_mh)`, 6-dp. Same
   * stratum-frame shape as [[cmhTest]].
   */
  def mhOddsRatio(
      df: DataFrame, stratum: Column, arm: Column,
      success: Column): DataFrame = {
    val d12 = DecimalType(38, 12)
    val cells = stratumCells(df, stratum, arm, success)
    val nD = col("_n").cast("double")
    val a = col("_aa").cast("double")
    val b = (col("_n1") - col("_aa")).cast("double")
    val c = (col("_m1") - col("_aa")).cast("double")
    val d = (col("_n") - col("_n1") - col("_m1") + col("_aa"))
      .cast("double")
    val folded = cells.agg(count(lit(1)).as("n_strata"),
      coalesce(sum(round(a * d / nD, 12).cast(d12)), lit(0).cast(d12))
        .as("_r"),
      coalesce(sum(round(b * c / nD, 12).cast(d12)), lit(0).cast(d12))
        .as("_ss"))
    folded.select(col("n_strata"),
      round(col("_r").cast("double"), 6).as("r_sum"),
      round(col("_ss").cast("double"), 6).as("s_sum"),
      when(col("_ss").cast("double") > 0.0,
        round(col("_r").cast("double") / col("_ss").cast("double"), 6))
        .as("or_mh"))
  }

  /**
   * Delta-method confidence interval for a RATIO metric between two
   * arms — value-per-event, revenue-per-session: the ratio of sums
   * `R = Σy/Σn` is NOT a mean of per-user ratios, so the naive t-test
   * is wrong; the delta method gives the correct first-order variance
   *
   *   var(R) ≈ (var_y − 2R·cov(y,n) + R²·var_n) / (N·n̄²)
   *
   * per arm (sample moments), then `diff ± z₀.₉₇₅·√(var_A + var_B)`.
   * The standard experimentation answer to per-user exposure
   * imbalance. Sums fold as 9-dp decimals (pairwise products 12-dp);
   * the chains are fixed double ops with the z literal, 6-dp. NULL
   * interval when either arm has N < 2 or a zero denominator mean.
   * Returns one row
   * `(n_a, n_b, ratio_a, ratio_b, diff, se, ci_lo, ci_hi)`.
   */
  def ratioMetricDelta(
      users: DataFrame, arm: Column, num: Column,
      den: Column): DataFrame = {
    val d9 = DecimalType(38, 9)
    val d12 = DecimalType(38, 12)
    val base = users.select(arm.cast("boolean").as("_arm"),
        num.cast("double").as("_y"), den.cast("double").as("_n"))
      .filter(col("_arm").isNotNull && col("_y").isNotNull &&
        col("_n").isNotNull)
    val arms = base.groupBy(col("_arm"))
      .agg(count(lit(1)).as("_c"),
        sum(round(col("_y"), 9).cast(d9)).as("_sy"),
        sum(round(col("_n"), 9).cast(d9)).as("_sn"),
        sum(round(col("_y") * col("_y"), 12).cast(d12)).as("_syy"),
        sum(round(col("_n") * col("_n"), 12).cast(d12)).as("_snn"),
        sum(round(col("_y") * col("_n"), 12).cast(d12)).as("_syn"))
    def side(flag: Boolean, sfx: String): DataFrame = {
      val f = arms.filter(if (flag) col("_arm") else !col("_arm"))
      val cD = col("_c").cast("double")
      val sy = col("_sy").cast("double"); val sn = col("_sn").cast("double")
      val r = sy / sn
      val varY = (col("_syy").cast("double") - sy * sy / cD) / (cD - 1.0)
      val varN = (col("_snn").cast("double") - sn * sn / cD) / (cD - 1.0)
      val covYN = (col("_syn").cast("double") - sy * sn / cD) / (cD - 1.0)
      val nbar = sn / cD
      val varR = (varY - lit(2.0) * r * covYN + r * r * varN) /
        (cD * nbar * nbar)
      f.select(col("_c").as("n" + sfx), r.as("r" + sfx),
        when(col("_c") >= 2 && nbar =!= 0.0, varR).as("v" + sfx))
    }
    val z = lit(1.959963984540054)
    val j = side(flag = true, "_a").crossJoin(broadcast(
      side(flag = false, "_b")))
    val diff = col("r_a") - col("r_b")
    val se = sqrt(col("v_a") + col("v_b"))
    j.select(col("n_a"), col("n_b"),
      round(col("r_a"), 6).as("ratio_a"),
      round(col("r_b"), 6).as("ratio_b"),
      round(diff, 6).as("diff"),
      round(se, 6).as("se"),
      round(diff - z * se, 6).as("ci_lo"),
      round(diff + z * se, 6).as("ci_hi"))
  }

  /**
   * CUPED adjustment for an A/B metric (Deng et al. 2013) — the
   * industry-standard variance reduction: with a pre-period covariate
   * x and the experiment metric y,
   *
   *   θ = cov(x, y)/var(x) ,   y′ = y − θ·(x − x̄)
   *
   * and the adjusted arm difference collapses to arm-level moments:
   * `diff′ = (ȳ_A − ȳ_B) − θ·(x̄_A − x̄_B)` — no per-row second pass.
   * The achievable variance reduction is ρ²(x, y); at ρ² = 0.5 an
   * experiment needs HALF the users for the same power. θ/ρ² pool
   * both arms (the standard, null-robust choice). Moments fold as
   * 9-dp decimals (pairwise products 12-dp); everything after is one
   * double chain, 6-dp. NULL adjusted outputs when var(x) = 0 (no
   * covariate signal). Returns one row
   * `(n_a, n_b, theta, rho2, diff_raw, diff_cuped)`.
   *
   * Shape: one hash aggregate per arm + one pooled fold — the user
   * frame is touched once per moment set, no windows.
   */
  def cuped(
      users: DataFrame, arm: Column, x: Column, y: Column): DataFrame = {
    val d9 = DecimalType(38, 9)
    val d12 = DecimalType(38, 12)
    val base = users.select(arm.cast("boolean").as("_arm"),
        x.cast("double").as("_x"), y.cast("double").as("_y"))
      .filter(col("_arm").isNotNull && col("_x").isNotNull &&
        col("_y").isNotNull)
    val arms = base.groupBy(col("_arm"))
      .agg(count(lit(1)).as("_n"),
        sum(round(col("_x"), 9).cast(d9)).as("_sx"),
        sum(round(col("_y"), 9).cast(d9)).as("_sy"))
    val pooled = base.agg(count(lit(1)).as("_nn"),
      sum(round(col("_x"), 9).cast(d9)).as("_px"),
      sum(round(col("_y"), 9).cast(d9)).as("_py"),
      sum(round(col("_x") * col("_x"), 12).cast(d12)).as("_pxx"),
      sum(round(col("_x") * col("_y"), 12).cast(d12)).as("_pxy"),
      sum(round(col("_y") * col("_y"), 12).cast(d12)).as("_pyy"))
    val a = arms.filter(col("_arm"))
      .select(col("_n").as("n_a"), col("_sx").as("_sxa"),
        col("_sy").as("_sya"))
    val b = arms.filter(!col("_arm"))
      .select(col("_n").as("n_b"), col("_sx").as("_sxb"),
        col("_sy").as("_syb"))
    val j = a.crossJoin(broadcast(b)).crossJoin(broadcast(pooled))
    val nD = col("_nn").cast("double")
    val cov = nD * col("_pxy").cast("double") -
      col("_px").cast("double") * col("_py").cast("double")
    val varx = nD * col("_pxx").cast("double") -
      col("_px").cast("double") * col("_px").cast("double")
    val vary = nD * col("_pyy").cast("double") -
      col("_py").cast("double") * col("_py").cast("double")
    val theta = cov / nullif(varx, lit(0.0))
    val mxa = col("_sxa").cast("double") / col("n_a").cast("double")
    val mya = col("_sya").cast("double") / col("n_a").cast("double")
    val mxb = col("_sxb").cast("double") / col("n_b").cast("double")
    val myb = col("_syb").cast("double") / col("n_b").cast("double")
    val diffRaw = mya - myb
    j.select(col("n_a"), col("n_b"),
      round(theta, 6).as("theta"),
      round(cov * cov / nullif(varx * vary, lit(0.0)), 6).as("rho2"),
      round(diffRaw, 6).as("diff_raw"),
      round(diffRaw - theta * (mxa - mxb), 6).as("diff_cuped"))
  }

  /**
   * Sample-ratio-mismatch check — the A/B gate that runs BEFORE any
   * effect test: with an intended allocation `ratioA` and observed
   * arm sizes n_a/n_b, the 1-df χ²
   *
   *   χ² = (n_a − E_a)²/E_a + (n_b − E_b)²/E_b
   *
   * (E from the intended split) with the closed-form
   * `p = normalTwoSidedP(√χ²)`. A significant SRM means the
   * randomizer, logging, or bot filtering is broken — every
   * downstream conversion number ([[twoProportionZ]], [[cmhTest]]) is
   * suspect until it passes. Counts exact; one double chain, 6-dp;
   * NULL when either expectation is 0. Returns one row
   * `(n_a, n_b, expected_a, chi2, p)`.
   */
  def srmCheck(
      a: DataFrame, b: DataFrame, ratioA: Double = 0.5): DataFrame = {
    require(ratioA > 0.0 && ratioA < 1.0,
      s"ratioA must be in (0,1), got $ratioA")
    val na = a.agg(count(lit(1)).as("n_a"))
    val nb = b.agg(count(lit(1)).as("n_b"))
    val j = na.crossJoin(broadcast(nb))
    val nD = (col("n_a") + col("n_b")).cast("double")
    val ea = nD * lit(ratioA)
    val eb = nD * lit(1.0 - ratioA)
    val chi2 = (col("n_a").cast("double") - ea) *
      (col("n_a").cast("double") - ea) / ea +
      (col("n_b").cast("double") - eb) *
        (col("n_b").cast("double") - eb) / eb
    val ok = ea > 0.0 && eb > 0.0
    j.select(col("n_a"), col("n_b"),
      round(ea, 6).as("expected_a"),
      when(ok, round(chi2, 6)).as("chi2"),
      when(ok, normalTwoSidedP(sqrt(chi2))).as("p"))
  }

  /**
   * Simpson's-paradox detector — the one-row audit that says whether
   * the POOLED arm effect and the WITHIN-STRATUM evidence even agree
   * in sign: pooled conversion rates per arm next to [[cmhTest]]'s
   * Σ(a − E) (positive = the arm over-converts within strata). When
   * the two signs disagree the pooled read is confounded by the
   * stratum mix — act on the stratified one. `simpson_flag` is NULL
   * when either side is exactly 0 (no direction to compare). Counts
   * exact; two rate divisions; the gap is [[cmhTest]]'s 12-dp fold.
   * Returns one row
   * `(p_arm, p_ctrl, diff_pooled, o_minus_e, simpson_flag)`.
   */
  def simpsonCheck(
      df: DataFrame, stratum: Column, arm: Column,
      success: Column): DataFrame = {
    val d12 = DecimalType(38, 12)
    val cells = stratumCells(df, stratum, arm, success)
    val nD = col("_n").cast("double")
    val n1 = col("_n1").cast("double"); val m1 = col("_m1").cast("double")
    val e = n1 * m1 / nD
    val folded = cells.agg(
      coalesce(sum(col("_n1")), lit(0L)).as("_na"),
      coalesce(sum(col("_aa")), lit(0L)).as("_ca"),
      coalesce(sum(col("_n") - col("_n1")), lit(0L)).as("_nb"),
      coalesce(sum(col("_m1") - col("_aa")), lit(0L)).as("_cb"),
      coalesce(sum(round(col("_aa").cast("double") - e, 12).cast(d12)),
        lit(0).cast(d12)).as("_gap"))
    val pA = col("_ca").cast("double") / col("_na").cast("double")
    val pB = col("_cb").cast("double") / col("_nb").cast("double")
    val diff = pA - pB
    val gapD = col("_gap").cast("double")
    folded.select(
      round(pA, 6).as("p_arm"), round(pB, 6).as("p_ctrl"),
      round(diff, 6).as("diff_pooled"),
      round(gapD, 6).as("o_minus_e"),
      when(diff =!= 0.0 && gapD =!= 0.0, (diff > 0.0) =!= (gapD > 0.0))
        .as("simpson_flag"))
  }

  /**
   * Wilcoxon signed-rank test over PAIRED differences — the paired
   * complement to [[mannWhitneyU]] (unpaired) the way a
   * before/after per-user comparison demands: zero differences drop
   * (the standard reduction), |d| ranks tie-average over the
   * DISTINCT-|d| frame via the same doubled-rank lift (`r₂ = 2B+t+1`,
   * always integer), and with n nonzero pairs and doubled positive-
   * rank sum W₂ = 2·W⁺:
   *
   *   E₂ = n(n+1)/2 ,
   *   Var(W⁺) = [2n(n+1)(2n+1) − Σ(t³−t)] / 48 ,
   *   z = (W₂ − E₂) / (2·√Var)      (p via [[normalTwoSidedP]])
   *
   * — integer-exact to the final chain. Returns one row
   * `(n_pairs, w_plus, z, p)`; z/p NULL when n < 2 or Var ≤ 0 (all
   * |d| tied). Same value-cardinality window contract as
   * [[mannWhitneyU]].
   */
  def wilcoxonSignedRank(
      pairs: DataFrame, diff: Column): DataFrame = {
    val base = pairs.select(diff.cast("double").as("_d"))
      .filter(col("_d").isNotNull && col("_d") =!= 0.0)
    val cells = base.groupBy(abs(col("_d")).as("_v"))
      .agg(count(lit(1)).as("_t"),
        coalesce(sum(when(col("_d") > 0, 1L)), lit(0L)).as("_tp"))
    val wB = Window.orderBy(col("_v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = cells.withColumn("_r2",
      lit(2L) * coalesce(sum(col("_t")).over(wB), lit(0L)) +
        col("_t") + 1L)
    val m = ranked.agg(
      coalesce(sum(col("_t")), lit(0L)).as("n_pairs"),
      coalesce(sum(col("_tp") * col("_r2")), lit(0L)).as("_w2"),
      coalesce(sum(col("_t") * (col("_t") * col("_t") - 1L)), lit(0L))
        .as("_tie"))
    val nD = col("n_pairs").cast("double")
    val e2 = nD * (nD + 1.0) / 2.0
    val varW = (lit(2.0) * nD * (nD + 1.0) * (lit(2.0) * nD + 1.0) -
      col("_tie").cast("double")) / 48.0
    val z = (col("_w2").cast("double") - e2) /
      (lit(2.0) * sqrt(varW))
    val ok = col("n_pairs") >= 2 && varW > 0.0
    m.select(col("n_pairs"),
      round(col("_w2").cast("double") / 2.0, 6).as("w_plus"),
      when(ok, round(z, 6)).as("z"),
      when(ok, normalTwoSidedP(z)).as("p"))
  }

  /**
   * Two-sample Kolmogorov–Smirnov D: the maximum gap between the two
   * empirical CDFs, evaluated at the combined DISTINCT values (where
   * every extremum lives):
   *
   *   D = max_v |F₁(v) − F₂(v)|,  F from exact cumulative counts
   *
   * NULL values drop. Same global-order sample-size contract as
   * [[mannWhitneyU]] (a CDF is a global cumulative by definition);
   * the cumulative window runs over the DISTINCT-value frame, so cost
   * is value-cardinality, not row count. Returns `(n1, n2, d)` — D is
   * a single max of exact-fraction gaps, 6-dp.
   */
  def ksTest(a: DataFrame, b: DataFrame, value: Column): DataFrame = {
    def counts(df: DataFrame, out: String): DataFrame =
      df.select(value.cast("double").as("_v"))
        .filter(col("_v").isNotNull)
        .groupBy("_v").agg(count(lit(1)).as(out))
    val j = counts(a, "ca").join(counts(b, "cb"), Seq("_v"), "full_outer")
      .select(col("_v"), coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
    val wCum = org.apache.spark.sql.expressions.Window.orderBy(col("_v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    val tot = j.agg(sum(col("ca")).as("n1"), sum(col("cb")).as("n2"))
    j.withColumn("_c1", sum(col("ca")).over(wCum))
      .withColumn("_c2", sum(col("cb")).over(wCum))
      .crossJoin(broadcast(tot))
      .select(col("n1"), col("n2"),
        abs(col("_c1").cast("double") / col("n1").cast("double") -
          col("_c2").cast("double") / col("n2").cast("double")).as("_g"))
      .groupBy(col("n1"), col("n2"))
      .agg(round(max(col("_g")), 6).as("d"))
  }

  /**
   * Odds ratio with a 95% Wald interval between two cohorts'
   * conversion — the EFFECT-SIZE face of [[twoProportionZ]] (the z
   * says whether the gap is real; the OR says how big it is in the
   * form downstream models and meta-analyses consume). With the 2×2
   * cells (conv/non-conv per cohort),
   *
   *   OR = (a·d)/(b·c) ,  SE(ln OR) = √(1/a + 1/b + 1/c + 1/d) ,
   *   CI = exp(ln OR ∓ z₀.₉₇₅·SE)
   *
   * under the Haldane–Anscombe +0.5 correction applied to ALL cells
   * when ANY cell is zero (keeps every quantity finite,
   * deterministically). Counts exact; the chains are fixed double
   * ops with the z literal below, 6-dp. Returns one row
   * `(n_a, conv_a, n_b, conv_b, odds_ratio, ci_lo, ci_hi)`.
   */
  def oddsRatio(
      a: DataFrame, b: DataFrame, success: Column): DataFrame = {
    def counts(df: DataFrame, n: String, s: String): DataFrame =
      df.agg(count(lit(1)).as(n),
        coalesce(sum(success.cast("long")), lit(0L)).as(s))
    val j = counts(a, "n_a", "conv_a")
      .crossJoin(broadcast(counts(b, "n_b", "conv_b")))
    val zero = col("conv_a") === 0 || col("conv_a") === col("n_a") ||
      col("conv_b") === 0 || col("conv_b") === col("n_b")
    def cell(c: Column): Column =
      when(zero, c.cast("double") + 0.5).otherwise(c.cast("double"))
    val aa = cell(col("conv_a"))
    val bb = cell(col("n_a") - col("conv_a"))
    val cc = cell(col("conv_b"))
    val dd = cell(col("n_b") - col("conv_b"))
    val lor = log(aa * dd / (bb * cc))
    val se = sqrt(lit(1.0) / aa + lit(1.0) / bb + lit(1.0) / cc +
      lit(1.0) / dd)
    val z = lit(1.959963984540054)
    j.select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
      round(exp(lor), 6).as("odds_ratio"),
      round(exp(lor - z * se), 6).as("ci_lo"),
      round(exp(lor + z * se), 6).as("ci_hi"))
  }

  /**
   * Negative-binomial fit of a count column by the method of moments
   * — the MODEL the [[dispersionTest]] overdispersion points at: when
   * variance exceeds the mean, counts are NB(r, p) with
   *
   *   r = m² / (v − m) ,  p = m / v
   *
   * (v the sample variance; Poisson is the v → m limit). The
   * generative summary a load-simulator or synthetic-data generator
   * consumes — "per-user event counts are NB(0.8, 0.05)", heavier-
   * tailed than any Poisson. Moments fold as 9-dp decimals; r/p are
   * one double chain, 6-dp; NULL when n < 2, m ≤ 0 or v ≤ m (no
   * overdispersion — NB degenerates, use Poisson). Returns one row
   * `(n, mean, variance, r, p)`. One hash aggregate.
   */
  def negBinomialFit(df: DataFrame, valueCol: Column): DataFrame = {
    val d9 = DecimalType(38, 9)
    val agg = df.select(valueCol.cast("double").as("_v"))
      .filter(col("_v").isNotNull)
      .agg(count(lit(1)).as("n"),
        sum(round(col("_v"), 9).cast(d9)).as("_s1"),
        sum(round(col("_v") * col("_v"), 9).cast(d9)).as("_s2"))
    val nD = col("n").cast("double")
    val m = col("_s1").cast("double") / nD
    val v = (col("_s2").cast("double") -
      col("_s1").cast("double") * col("_s1").cast("double") / nD) /
      (nD - 1.0)
    val ok = col("n") >= 2 && m > 0.0 && v > m
    agg.select(col("n"),
      when(col("n") >= 1, round(m, 6)).as("mean"),
      when(col("n") >= 2, round(v, 6)).as("variance"),
      when(ok, round(m * m / (v - m), 6)).as("r"),
      when(ok, round(m / v, 6)).as("p"))
  }

  /**
   * Chapman capture–recapture estimate of the total population behind
   * two overlapping samples — "how many users/documents EXIST that
   * neither sample saw?": with n₁, n₂ distinct keys per sample and m
   * in both,
   *
   *   N̂ = (n₁+1)(n₂+1)/(m+1) − 1 ,
   *   SE = √[ (n₁+1)(n₂+1)(n₁−m)(n₂−m) / ((m+1)²(m+2)) ]
   *
   * (Chapman 1951 — the bias-corrected Lincoln–Petersen, defined even
   * at m = 0). The corpus-size estimator for overlapping crawls or
   * split observation windows: a N̂ far above n₁+n₂−m says the
   * samples barely scratched the population. Counts exact; the two
   * chains are fixed double ops, 6-dp. Validity rests on
   * independent-ish samples — document the sampling frame. Returns
   * one row `(n_a, n_b, n_both, n_est, se)`.
   *
   * Shape: two distincts + one key-keyed join — all shuffles on the
   * key, 1-row output.
   */
  def captureRecapture(
      a: DataFrame, b: DataFrame, key: Column): DataFrame = {
    def ids(df: DataFrame) =
      df.select(key.as("_k")).filter(col("_k").isNotNull).distinct()
    val sa = ids(a); val sb = ids(b)
    val na = sa.agg(count(lit(1)).as("n_a"))
    val nb = sb.agg(count(lit(1)).as("n_b"))
    val m = sa.join(sb, Seq("_k")).agg(count(lit(1)).as("n_both"))
    val d = (c: String) => col(c).cast("double")
    val est = (d("n_a") + 1.0) * (d("n_b") + 1.0) /
      (d("n_both") + 1.0) - 1.0
    val se = sqrt((d("n_a") + 1.0) * (d("n_b") + 1.0) *
      (d("n_a") - d("n_both")) * (d("n_b") - d("n_both")) /
      ((d("n_both") + 1.0) * (d("n_both") + 1.0) *
        (d("n_both") + 2.0)))
    na.crossJoin(broadcast(nb)).crossJoin(broadcast(m))
      .select(col("n_a"), col("n_b"), col("n_both"),
        round(est, 6).as("n_est"), round(se, 6).as("se"))
  }

  /**
   * Delete-a-group jackknife for the mean of a column — the variance
   * companion to [[bootstrapMeanCI]] with k corpus passes' worth of
   * arithmetic from ONE pass: rows hash into k deterministic folds
   * ([[graft.ext.Sampling.shuffleKey]]'s md5 — engine-portable, no
   * RNG state), per-fold decimal sums fold once, and each leave-one-
   * fold-out mean θ_i = (S−s_i)/(N−n_i) comes by SUBTRACTION (the
   * probe-CV moment-subtraction economics at the scalar level). Then
   *
   *   SE² = (k−1)/k · Σ_i (θ_i − θ̄)²
   *
   * (θ̄ the mean of the k θ_i). Returns one row
   * `(n_rows, k_folds, mean, se_jack)`, 6-dp — NULL SE when any fold
   * is empty or holds everything (k must actually partition the
   * data). Fold sums are 9-dp decimals; θ terms fold 12-dp over the
   * k-row frame.
   */
  def jackknifeMeanSE(
      df: DataFrame, value: Column, idCol: String, k: Int = 10,
      salt: String = "jk42"): DataFrame = {
    require(k >= 2, s"need >= 2 folds, got $k")
    val d9 = DecimalType(38, 9)
    val d12 = DecimalType(38, 12)
    val fold = conv(substring(
      graft.ext.Sampling.shuffleKey(col(idCol), salt), 1, 4), 16, 10)
      .cast("long") % k
    val folds = df.select(value.cast("double").as("_v"), col(idCol))
      .filter(col("_v").isNotNull)
      .groupBy(fold.as("_f"))
      .agg(count(lit(1)).as("_n"),
        sum(round(col("_v"), 9).cast(d9)).as("_s"))
    val tot = folds.agg(sum(col("_n")).as("n_rows"),
      sum(col("_s")).as("_st"), count(lit(1)).as("_kf"))
    val theta = (col("_st").cast("double") - col("_s").cast("double")) /
      (col("n_rows") - col("_n")).cast("double")
    val withTheta = folds.crossJoin(broadcast(tot))
      .filter(col("_n") > 0 && col("_n") < col("n_rows"))
      .select(col("n_rows"), col("_st"), col("_kf"),
        round(theta, 12).cast(d12).as("_th"))
    val tbar = withTheta.groupBy(col("n_rows"), col("_st"), col("_kf"))
      .agg(count(lit(1)).as("_kused"),
        (sum(col("_th")).cast("double") / count(lit(1)).cast("double"))
          .as("_tbar"))
    val dev = withTheta
      .join(tbar, Seq("n_rows", "_st", "_kf"))
      .groupBy(col("n_rows"), col("_st"), col("_kf"), col("_kused"))
      .agg(sum(round((col("_th").cast("double") - col("_tbar")) *
        (col("_th").cast("double") - col("_tbar")), 12).cast(d12))
        .as("_ss"))
    val kD = col("_kused").cast("double")
    val ok = col("_kused") === col("_kf") && col("_kf") === k
    dev.select(col("n_rows"), col("_kf").as("k_folds"),
      round(col("_st").cast("double") / col("n_rows").cast("double"), 6)
        .as("mean"),
      when(ok, round(sqrt((kD - 1.0) / kD *
        col("_ss").cast("double")), 6)).as("se_jack"))
  }

  /**
   * Gumbel block-maxima fit by the method of moments — capacity
   * planning's extreme-value question: "what peak should we expect
   * once every T blocks?". Block maxima of an i.i.d.-ish series
   * converge to a Gumbel (EVT type I); with block-max mean m and
   * sample sd s,
   *
   *   β = s·√6/π ,  μ = m − γ·β ,
   *   level(T) = μ − β·ln(−ln(1 − 1/T))
   *
   * (γ the Euler–Mascheroni constant; both constants are the
   * Double.toString literals below, so an oracle replays them
   * verbatim). The tail-risk complement to [[grubbs]]' single-outlier
   * test and [[hillTailIndex]]'s power-law exponent: Grubbs asks "was
   * that one real?", this asks "how bad does NORMAL get?". Moments
   * fold as 9-dp decimals over the BLOCK frame; everything after is
   * one double chain, 6-dp. NULL fit when fewer than 2 blocks or zero
   * spread. Returns one row
   * `(n_blocks, mean_max, sd_max, beta, mu, level)`.
   *
   * Shape: the caller aggregates to blocks (a group-by max — any
   * cardinality); this folds the block frame in one pass.
   */
  def gumbelFit(
      blockMaxima: DataFrame, valueCol: Column,
      returnPeriod: Int = 12): DataFrame = {
    require(returnPeriod >= 2,
      s"returnPeriod must be >= 2, got $returnPeriod")
    val d9 = DecimalType(38, 9)
    val agg = blockMaxima.select(valueCol.cast("double").as("_v"))
      .filter(col("_v").isNotNull)
      .agg(count(lit(1)).as("n_blocks"),
        sum(round(col("_v"), 9).cast(d9)).as("_s1"),
        sum(round(col("_v") * col("_v"), 9).cast(d9)).as("_s2"))
    val nD = col("n_blocks").cast("double")
    val m = col("_s1").cast("double") / nD
    val sd = sqrt((col("_s2").cast("double") -
      col("_s1").cast("double") * col("_s1").cast("double") / nD) /
      (nD - 1.0))
    // √6/π and γ as fixed literals (engine-replayable)
    val beta = sd * lit(0.7796968012336761)
    val mu = m - lit(0.5772156649015329) * beta
    val level = mu - beta *
      log(-log(lit(1.0) - lit(1.0) / lit(returnPeriod.toDouble)))
    val ok = col("n_blocks") >= 2 && sd > 0.0
    agg.select(col("n_blocks"),
      when(col("n_blocks") >= 1, round(m, 6)).as("mean_max"),
      when(col("n_blocks") >= 2, round(sd, 6)).as("sd_max"),
      when(ok, round(beta, 6)).as("beta"),
      when(ok, round(mu, 6)).as("mu"),
      when(ok, round(level, 6)).as("level"))
  }

  /**
   * Poisson overdispersion screen over a bucketed count series — "is
   * the variance consistent with independent arrivals, or is the
   * traffic clumped?": the index of dispersion `s²/x̄` (1 under
   * Poisson) and the χ² form `(n−1)·s²/x̄` (χ², n−1 df under the
   * null). The moment-level companion to [[expGapFit]]'s
   * distributional KS and the per-group Fano screens: overdispersion
   * here says the DAILY totals clump, before any per-user analysis.
   * Exact 9-dp decimal moments, sample (n−1) variance, one double
   * chain; NULL statistics when n < 2 or x̄ = 0. Returns one row
   * `(n, mean, variance, dispersion, chi2)`, 6-dp. One hash
   * aggregate — any cardinality.
   */
  def dispersionTest(df: DataFrame, valueCol: Column): DataFrame = {
    val d9 = DecimalType(38, 9)
    val agg = df.select(valueCol.cast("double").as("_v"))
      .filter(col("_v").isNotNull)
      .agg(count(lit(1)).as("n"),
        sum(round(col("_v"), 9).cast(d9)).as("_s1"),
        sum(round(col("_v") * col("_v"), 9).cast(d9)).as("_s2"))
    val nD = col("n").cast("double")
    val m = col("_s1").cast("double") / nD
    val v = (col("_s2").cast("double") -
      col("_s1").cast("double") * col("_s1").cast("double") / nD) /
      (nD - 1.0)
    val ok = col("n") >= 2 && m > 0.0
    agg.select(col("n"),
      when(col("n") >= 1, round(m, 6)).as("mean"),
      when(col("n") >= 2, round(v, 6)).as("variance"),
      when(ok, round(v / m, 6)).as("dispersion"),
      when(ok, round((nD - 1.0) * v / m, 6)).as("chi2"))
  }

  /**
   * Mann–Kendall trend test over a series — the SIGNIFICANCE face of
   * [[graft.analytics.Robust.theilSen]]'s robust slope (Theil–Sen says
   * how steep; Mann–Kendall says whether the monotone trend is real):
   * `S = Σ_{i<j} sign(v_j − v_i)` over all ordered pairs, the
   * tie-corrected variance
   *
   *   Var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)] / 18
   *
   * (t = tied-value group sizes), and the continuity-corrected
   * `z = (S ∓ 1)/√Var` with p via [[normalTwoSidedP]]. S and both
   * variance terms are exact longs — floats enter only at z.
   *
   * SERIES CONTRACT (the [[Robust.theilSen]] rule): the pairs frame is
   * series²-sized — aggregate to buckets first. The contract is
   * ENFORCED: a [[graft.Guards.requireRowsAtMost]] probe fails fast
   * when the series exceeds `maxPoints` (default 100k — far above any
   * bucketed series, fatal for a raw event frame whose self-join would
   * be 10¹⁰+ pairs). `maxPoints = 0` opts out. z/p are NULL when
   * n < 2 or Var ≤ 0 (all values tied). Returns one row
   * `(n_points, s, var_s, z, p)`.
   */
  def mannKendall(
      series: DataFrame, orderCol: String, valueCol: String,
      maxPoints: Long = 100000L): DataFrame = {
    val base = series
      .filter(col(orderCol).isNotNull && col(valueCol).isNotNull)
      .select(col(orderCol).as("_o"), col(valueCol).cast("double").as("_v"))
    graft.Guards.requireRowsAtMost(base, maxPoints,
      "StatsTests.mannKendall series contract (all-pairs self-join is series²)")
    val s = base.as("a").join(base.as("b"), col("a._o") < col("b._o"))
      .agg(coalesce(sum(
        when(col("b._v") > col("a._v"), 1L)
          .when(col("b._v") < col("a._v"), -1L).otherwise(0L)),
        lit(0L)).as("s"))
    val ties = base.groupBy(col("_v")).agg(count(lit(1)).as("_t"))
      .agg(count(lit(1)).as("_nvals"),
        coalesce(sum(col("_t") * (col("_t") - 1L) *
          (lit(2L) * col("_t") + 5L)), lit(0L)).as("_tie"),
        coalesce(sum(col("_t")), lit(0L)).as("n_points"))
    val n = col("n_points")
    val varS = (n * (n - 1L) * (lit(2L) * n + 5L) - col("_tie"))
      .cast("double") / 18.0
    val z = when(col("s") > 0,
        (col("s").cast("double") - 1.0) / sqrt(varS))
      .when(col("s") < 0, (col("s").cast("double") + 1.0) / sqrt(varS))
      .otherwise(lit(0.0))
    val ok = n >= 2 && varS > 0.0
    ties.crossJoin(broadcast(s))
      .select(col("n_points"), col("s"),
        when(n >= 2, round(varS, 6)).as("var_s"),
        when(ok, round(z, 6)).as("z"),
        when(ok, normalTwoSidedP(z)).as("p"))
  }

  /**
   * Exponential-arrival goodness of fit over per-user inter-event
   * gaps — "do events arrive memorylessly, or do users batch/session?"
   * The distributional sibling of [[graft.ext.TextOps]]' Fano
   * burstiness screen: fit `λ = 1/mean(gap)` by maximum likelihood
   * over the pooled per-user gaps, then the ONE-SAMPLE
   * Kolmogorov–Smirnov D against `F(v) = 1 − e^{−λv}`, evaluated at
   * both sides of every empirical CDF step (the step-function supremum
   * needs the pre-jump side too — a mid-step excursion hides from the
   * post-jump comparison alone). A large D says arrivals are NOT
   * exponential — sessionization (gap cutoffs, [[graft.analytics
   * .LogAnalytics]]' session family) is modeling structure, not noise.
   *
   * Gap seconds are exact longs (same-second repeats allowed, gap 0);
   * the gap sum folds as 9-dp decimal; λ and every CDF comparison are
   * one double chain. Returns one row `(n_gaps, lambda, d_stat)`,
   * 6-dp; EMPTY when no user has two events.
   *
   * Shape at scale: one user-partitioned lag window (the
   * [[graft.analytics.Trend.autocorr]] contract) + a hash aggregate
   * to the DISTINCT-GAP frame; the one ordered cumulative runs over
   * gap-value cardinality, never rows (the [[ksTest]] rule).
   */
  def expGapFit(
      df: DataFrame, userCol: String, tsCol: String,
      idCol: String): DataFrame = {
    val d9 = DecimalType(38, 9)
    val w = Window.partitionBy(col("_u"))
      .orderBy(col("_t").asc, col("_id").asc)
    val gaps = df
      .filter(col(userCol).isNotNull && col(tsCol).isNotNull)
      .select(col(userCol).as("_u"), col(tsCol).cast("long").as("_t"),
        col(idCol).as("_id"))
      .withColumn("_gap", col("_t") - lag(col("_t"), 1).over(w))
      .filter(col("_gap").isNotNull)
    val cells = gaps.groupBy(col("_gap")).agg(count(lit(1)).as("_c"))
    val tot = cells.agg(sum(col("_c")).as("n_gaps"),
      sum(round(col("_gap").cast("double") * col("_c").cast("double"), 9)
        .cast(d9)).as("_s1"))
    val nD = col("n_gaps").cast("double")
    val lambda = nD / col("_s1").cast("double")
    val wCum = Window.orderBy(col("_gap").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val fExp = lit(1.0) - exp(-(lambda * col("_gap").cast("double")))
    cells
      .withColumn("_cum", sum(col("_c")).over(wCum))
      .crossJoin(broadcast(tot))
      .select(col("n_gaps"), lambda.as("_l"),
        greatest(
          abs(col("_cum").cast("double") / nD - fExp),
          abs((col("_cum") - col("_c")).cast("double") / nD - fExp))
          .as("_g"))
      .groupBy(col("n_gaps"))
      .agg(round(max(col("_l")), 6).as("lambda"),
        round(max(col("_g")), 6).as("d_stat"))
  }

  /**
   * Deterministic Poisson-bootstrap confidence interval for the mean of
   * a column — error bars for a corpus metric, reproducible across
   * engines and reruns: replicate b reweights row id by a Poisson(1)
   * draw w = |{c ∈ [[poisson1Cdf]] : u ≥ c}| where u is the first 12
   * md5 hex nibbles of `salt:b:id` scaled by 16⁻¹² (the
   * [[graft.ext.Sampling.weightedTake]] uniform — a pure function of
   * salt + id, no RNG state). Poisson rather than multinomial because
   * the weights factorize PER ROW — no cross-row coordination, so the
   * pass is one narrow projection + a B-group aggregate (the standard
   * scale-out bootstrap). Replicate means fold as exact decimal
   * (9-dp-rounded terms × integer weights), round to 6 dp BEFORE
   * ranking (so engines rank identical values, b as tiebreak), and the
   * CI is the rank-exact percentile pick at ⌈α/2·B⌉ / ⌈(1−α/2)·B⌉ —
   * no interpolation, every pick is a value that actually occurred.
   *
   * SCALE CONTRACT: the pass fans each row out B-fold (the price of B
   * resamples — partials collapse map-side, the shuffle carries
   * tasks×B rows), and the ranking window runs over the B-row
   * replicate frame, never data rows. Returns one row
   * `(n_rows, mean, ci_lo, ci_hi)`; degenerate replicates (all
   * weights 0 — vanishing probability beyond toy inputs) drop before
   * the rank.
   */
  def bootstrapMeanCI(
      df: DataFrame, value: Column, idCol: String, b: Int = 200,
      alpha: Double = 0.05, salt: String = "bs42"): DataFrame = {
    require(b >= 2, s"need >= 2 replicates, got $b")
    require(alpha > 0.0 && alpha < 1.0, s"alpha must be in (0,1): $alpha")
    val base = df.filter(value.isNotNull && col(idCol).isNotNull)
      .select(col(idCol).cast("string").as("_id"),
        round(value.cast("double"), 9).cast(dec).as("_x"))
    val u = conv(substring(
        md5(concat(lit(s"$salt:"), col("_b").cast("string"), lit(":"),
          col("_id")).cast("binary")), 1, 12), 16, 10)
      .cast("double") / lit(281474976710656.0) // 16^12
    val w = poisson1Cdf.map(c => (col("_u") >= c).cast("long"))
      .reduce(_ + _)
    val reps = base
      .select(col("_id"), col("_x"),
        explode(sequence(lit(0), lit(b - 1))).as("_b"))
      .withColumn("_u", u)
      .select(col("_b"), col("_x"), w.as("_w"))
      .groupBy(col("_b"))
      .agg(sum(col("_w")).as("_wn"), sum(col("_w") * col("_x")).as("_ws"))
      .filter(col("_wn") > 0L)
      .select(col("_b"),
        round(col("_ws").cast("double") / col("_wn").cast("double"), 6)
          .as("_mean"))
    val rn = row_number().over(
      Window.orderBy(col("_mean").asc, col("_b").asc)).cast("long")
    val loRank = math.ceil(alpha / 2.0 * b).toLong.max(1L)
    val hiRank = math.ceil((1.0 - alpha / 2.0) * b).toLong.min(b.toLong)
    val tot = base.agg(count(lit(1)).as("n_rows"), sum(col("_x")).as("_s"))
    reps.withColumn("_rn", rn)
      .agg(
        max(when(col("_rn") === loRank, col("_mean"))).as("ci_lo"),
        max(when(col("_rn") === hiRank, col("_mean"))).as("ci_hi"))
      .crossJoin(broadcast(tot)) // 1×1 scalar frames
      .select(col("n_rows"),
        round(col("_s").cast("double") /
          nullif(col("n_rows").cast("double"), lit(0.0)), 6).as("mean"),
        col("ci_lo"), col("ci_hi"))
  }

  /**
   * Group-vs-rest two-sample KS D for every group at once — the
   * NONPARAMETRIC companion to [[groupWelchZ]] ("which sources'
   * documents are DISTRIBUTED differently?", not just located
   * differently): for each group g, D_g = max_v |F_g(v) − F_rest(v)|
   * over the combined distinct values, with both CDFs from exact
   * cumulative counts (the [[ksTest]] arithmetic, densified per group
   * — the chiSquared cells rule: the grid is groups × distinct values,
   * so cost is CATEGORY×VALUE-cardinality, never row count; the
   * cumulative windows partition by group). The rest side is exact
   * subtraction from the global counts — one corpus pass total.
   * Groups with an empty complement yield NULL d. NULL group/value
   * rows drop. Returns `(g, n_g, n_rest, d)`, D 6-dp.
   */
  def groupKsD(
      df: DataFrame, groupCol: Column, valueCol: Column): DataFrame = {
    val cells = df
      .select(groupCol.as("g"), valueCol.cast("double").as("_v"))
      .filter(col("g").isNotNull && col("_v").isNotNull)
      .groupBy(col("g"), col("_v"))
      .agg(count(lit(1)).as("_c"))
    val values = cells.select(col("_v")).distinct()
    val groups = cells.groupBy(col("g")).agg(sum(col("_c")).as("n_g"))
    val totals = cells.groupBy(col("_v")).agg(sum(col("_c")).as("_ct"))
    val tot = cells.agg(sum(col("_c")).as("_tn"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("_v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    // dense grid: every group evaluated at every combined distinct
    // value (a gap extremum can sit where only the OTHER side jumps) —
    // the deliberate category×value-cardinality cross
    groups.crossJoin(values)
      .join(cells, Seq("g", "_v"), "left")
      .join(totals, Seq("_v"))
      .select(col("g"), col("n_g"), col("_v"),
        coalesce(col("_c"), lit(0L)).as("_c"), col("_ct"))
      .withColumn("_cg", sum(col("_c")).over(wCum))
      .withColumn("_call", sum(col("_ct")).over(wCum))
      .crossJoin(broadcast(tot))
      .select(col("g"), col("n_g"),
        (col("_tn") - col("n_g")).as("n_rest"),
        abs(col("_cg").cast("double") / col("n_g").cast("double") -
          (col("_call") - col("_cg")).cast("double") /
            nullif((col("_tn") - col("n_g")).cast("double"), lit(0.0)))
          .as("_gap"))
      .groupBy(col("g"), col("n_g"), col("n_rest"))
      .agg(round(max(col("_gap")), 6).as("d"))
  }

  /**
   * Hill estimator of the right-tail index — "how heavy is this
   * distribution's tail?" (α ≈ 1–2 ⇒ power-law-heavy: a few giant
   * documents/users dominate any sample; α large ⇒ light tail). Over
   * the top k+1 positive values X₍₁₎ ≥ … ≥ X₍ₖ₊₁₎ (value desc, id
   * tiebreak),
   *
   *   1/α̂ = (1/k)·Σᵢ₌₁..ₖ ln(X₍ᵢ₎ / X₍ₖ₊₁₎)
   *
   * — the standard POT tail-index MLE. Each log-ratio term rounds to
   * 12 dp and folds as decimal (the engine float rule), the picks are
   * rank-exact. The top-(k+1) plans as TakeOrdered (per-partition
   * top-k + driver merge — no global sort; the one scale-shaped way to
   * touch order statistics). All-tied tails (Σ = 0) yield NULL alpha.
   * Returns one row `(k, x_k1, inv_alpha, alpha)`, 6-dp.
   */
  def hillTailIndex(
      df: DataFrame, value: Column, idCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val top = df
      .select(value.cast("double").as("_v"), col(idCol).as("_id"))
      .filter(col("_v").isNotNull && col("_v") > 0.0)
      .orderBy(col("_v").desc, col("_id").asc)
      .limit(k + 1)
    val w = Window.orderBy(col("_v").desc, col("_id").asc)
    val ranked = top.withColumn("_rn", row_number().over(w).cast("long"))
    val xk1 = ranked.filter(col("_rn") === (k + 1).toLong)
      .select(col("_v").as("_xk1"))
    val s = ranked.filter(col("_rn") <= k)
      .crossJoin(broadcast(xk1))
      .agg(count(lit(1)).as("_n"),
        sum(round(log(col("_v") / col("_xk1")), 12).cast(dec)).as("_s"),
        max(col("_xk1")).as("x_k1"))
    s.select(lit(k.toLong).as("k"),
        round(col("x_k1"), 6).as("x_k1"),
        round(col("_s").cast("double") / col("_n").cast("double"), 6)
          .as("inv_alpha"),
        when(col("_s").cast("double") > 0.0,
          round(col("_n").cast("double") / col("_s").cast("double"), 6))
          .as("alpha"))
  }

  /** Benford's expected leading-digit probabilities, `log10(1 + 1/d)`
    * for d = 1..9 — exposed so oracle SQL can embed the SAME literals
    * the plan folds. */
  def benfordExpected: Seq[Double] =
    (1 to 9).map(d => math.log10(1.0 + 1.0 / d))

  /**
   * Concentration profile of a categorical share distribution (how
   * dominated is the corpus by its biggest sources?): Herfindahl–
   * Hirschman index `Σ shareᵢ²`, Gini coefficient over the ascending
   * group-size ranking
   *
   *   G = 2·Σ i·cᵢ / (g·Σc) − (g+1)/g   (cᵢ ascending, i = 1..g)
   *
   * and the largest single share. Everything is exact integers (counts,
   * the rank-weighted sum) until the final divisions; HHI folds 12-dp
   * decimal share-square terms. The rank window runs over GROUPS
   * (category-sized, ties broken by group value). NULL groups drop.
   * Returns one row `(n_groups, n_rows, hhi, gini, top_share)`.
   */
  /**
   * Group-vs-rest Welch z for every group at once — the screening form
   * of the two-sample location test ("which sources' documents are
   * unusually long/short?"): one pass builds per-group exact moments
   * (n, Σv, Σv² as 9-dp decimal folds), the complement's moments are
   * exact decimal SUBTRACTIONS from the re-aggregated totals (the
   * [[chiSquared]] cells-not-rescans rule), and
   * `z = (mean_g − mean_rest)/√(s²_g/n_g + s²_rest/n_rest)` with
   * sample variances. `z` is NULL when either side has < 2 rows or the
   * pooled spread is 0; it rounds to 6 dp (the engine float rule —
   * downstream p-values are computed FROM the rounded z, so the whole
   * chain replays cross-engine). Returns `(g, n, mean, z)`,
   * group-count-sized.
   */
  def groupWelchZ(
      df: DataFrame, groupCol: Column, valueCol: Column): DataFrame =
    welchFromMoments(welchPartials(df, groupCol, valueCol))

  /**
   * The per-group exact Welch moments `(g, n, _s1, _s2)` — counts and
   * 9-dp decimal Σv/Σv² folds, [[groupWelchZ]]'s one corpus pass.
   * ADDITIVE standing state (the [[Trend.momentPartials]] law): moments
   * of a corpus split into any partition of slices equal
   * [[mergeWelchMoments]] of the slices' partials, exactly — decimal
   * sums are associative and commutative, so the merge is lossless and
   * a standing screen never re-scans history (q200 proves the law
   * against q189's oracle).
   */
  def welchPartials(
      df: DataFrame, groupCol: Column, valueCol: Column): DataFrame =
    df.select(groupCol.as("g"), valueCol.cast("double").as("_v"))
      .filter(col("g").isNotNull && col("_v").isNotNull)
      .groupBy("g")
      .agg(count(lit(1)).as("n"),
        sum(round(col("_v"), 9).cast(dec)).as("_s1"),
        sum(round(col("_v") * col("_v"), 9).cast(dec)).as("_s2"))

  /** Fold any union of [[welchPartials]] frames back to one moment row
    * per group — exact decimal/long sums, so merge ∘ split ≡ one pass. */
  def mergeWelchMoments(partials: DataFrame): DataFrame =
    partials.groupBy("g")
      .agg(sum(col("n")).as("n"),
        sum(col("_s1")).cast(dec).as("_s1"),
        sum(col("_s2")).cast(dec).as("_s2"))

  /** [[groupWelchZ]]'s closed-form tail over a `(g, n, _s1, _s2)`
    * moment frame (one row per group — [[welchPartials]] output or a
    * [[mergeWelchMoments]] fold). */
  def welchFromMoments(cells: DataFrame): DataFrame = {
    val tot = cells.agg(sum(col("n")).as("_tn"),
      sum(col("_s1")).as("_ts1"), sum(col("_s2")).as("_ts2"))
    def mean(s1: Column, n: Column) = s1.cast("double") / n
    def sVar(s1: Column, s2: Column, n: Column) =
      (s2.cast("double") - s1.cast("double") * s1.cast("double") / n) /
        (n - lit(1L))
    val nR = col("_tn") - col("n")
    val s1R = (col("_ts1") - col("_s1")).cast(dec)
    val s2R = (col("_ts2") - col("_s2")).cast(dec)
    cells.crossJoin(broadcast(tot))
      .select(col("g"), col("n"),
        round(mean(col("_s1"), col("n")), 6).as("mean"),
        when(col("n") >= 2 && nR >= 2,
          round((mean(col("_s1"), col("n")) - mean(s1R, nR)) /
            nullif(sqrt(
              sVar(col("_s1"), col("_s2"), col("n")) / col("n") +
                sVar(s1R, s2R, nR) / nR), lit(0.0)), 6))
          .as("z"))
  }

  /**
   * Two-sided normal p-value from a (6-dp-rounded) z — the
   * Abramowitz–Stegun 7.1.26 erf polynomial (|ε| < 1.5·10⁻⁷),
   * evaluated in a FIXED Horner order so an oracle embedding the same
   * literals reproduces it: `p = P(t)·exp(−x²)`, `x = |z|/√2`,
   * `t = 1/(1 + 0.3275911x)`. Rounds to 6 dp (absorbing the one
   * last-ulp `exp` divergence allowed between engines). A closed-form
   * approximation is deliberate: an exact incomplete-gamma would add an
   * iterative float surface with no screening value at 6 dp.
   */
  def normalTwoSidedP(z: Column): Column = {
    val x = abs(z) * lit(0.7071067811865476)
    val t = lit(1.0) / (lit(1.0) + lit(0.3275911) * x)
    val horner =
      ((((lit(1.061405429) * t + lit(-1.453152027)) * t +
        lit(1.421413741)) * t + lit(-0.284496736)) * t +
        lit(0.254829592)) * t
    round(horner * exp(-(x * x)), 6)
  }

  /**
   * Benjamini–Hochberg step-up at level `alpha` over a frame of tests:
   * rank p ascending (ties by `idCol`), find the LARGEST rank k with
   * `p_k ≤ α·k/m`, and flag every rank ≤ k significant — the standard
   * FDR control for "I just ran one test per source/shard/slice, which
   * rejections survive multiplicity?". NULL p rows are untestable and
   * drop; windows run over the TEST frame (group-count-sized by
   * construction — never data rows). Adds `(rank, significant)`.
   */
  def bhSignificance(
      tests: DataFrame, pCol: String, idCol: String,
      alpha: Double = 0.05): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    val byP = org.apache.spark.sql.expressions.Window
      .orderBy(col(pCol).asc, col(idCol).asc)
    val all = org.apache.spark.sql.expressions.Window
      .orderBy(col(pCol).asc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    tests.filter(col(pCol).isNotNull)
      .withColumn("rank", row_number().over(byP).cast("long"))
      .withColumn("_m", count(lit(1)).over(all))
      .withColumn("_cut", max(when(
        col(pCol) <= lit(alpha) * col("rank") / col("_m"), col("rank")))
        .over(all))
      .withColumn("significant",
        coalesce(col("rank") <= col("_cut"), lit(false)))
      .drop("_m", "_cut")
  }

  /**
   * Holm–Bonferroni step-down at level `alpha` — the FWER member of
   * the multiplicity family ([[bhSignificance]]/[[bySignificance]]
   * control the false-DISCOVERY rate; Holm controls the probability
   * of ANY false rejection, the standard when each rejection triggers
   * an expensive action): rank p ascending, reject while
   * `p_k ≤ α/(m−k+1)`, and STOP at the first failure — ranks past it
   * stay unrejected even if their own inequality holds (the
   * step-down, implemented as the min failing rank over the test
   * frame). Uniformly more powerful than plain Bonferroni, no
   * dependence assumptions at all. Windows run over the TEST frame
   * (the [[bhSignificance]] contract). Adds `(rank, significant)`.
   */
  def holmSignificance(
      tests: DataFrame, pCol: String, idCol: String,
      alpha: Double = 0.05): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    val byP = Window.orderBy(col(pCol).asc, col(idCol).asc)
    val all = Window.orderBy(col(pCol).asc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    tests.filter(col(pCol).isNotNull)
      .withColumn("rank", row_number().over(byP).cast("long"))
      .withColumn("_m", count(lit(1)).over(all))
      .withColumn("_firstFail", min(when(
        col(pCol) > lit(alpha) /
          (col("_m") - col("rank") + 1L).cast("double"),
        col("rank"))).over(all))
      .withColumn("significant",
        coalesce(col("rank") < col("_firstFail"), lit(true)))
      .drop("_m", "_firstFail")
  }

  /**
   * TOST equivalence test for two proportions — the question a
   * FAILED rejection should trigger: "can we positively conclude the
   * arms are the SAME within margin δ?" (absence of significance is
   * not evidence of absence; TOST is). Two one-sided z-tests against
   * ±δ on the pooled-free Wald SE:
   *
   *   z_lo = (diff + δ)/SE ,  z_hi = (δ − diff)/SE ,
   *   equivalent ⇔ min(z_lo, z_hi) > z₀.₉₅
   *
   * (z₀.₉₅ = 1.6448536269514722, the literal below — both one-sided
   * tests at 5%). Counts exact; chains fixed double ops, 6-dp;
   * NULL/false verdict when SE = 0 degenerately. Returns one row
   * `(n_a, n_b, p_a, p_b, diff, se, z_lower, z_upper, equivalent)`.
   */
  def tostEquivalence(
      a: DataFrame, b: DataFrame, success: Column,
      margin: Double): DataFrame = {
    require(margin > 0.0 && margin < 1.0,
      s"margin must be in (0,1), got $margin")
    def counts(df: DataFrame, n: String, s: String): DataFrame =
      df.agg(count(lit(1)).as(n),
        coalesce(sum(success.cast("long")), lit(0L)).as(s))
    val j = counts(a, "n_a", "conv_a")
      .crossJoin(broadcast(counts(b, "n_b", "conv_b")))
    val pA = col("conv_a").cast("double") / col("n_a").cast("double")
    val pB = col("conv_b").cast("double") / col("n_b").cast("double")
    val se = sqrt(pA * (lit(1.0) - pA) / col("n_a").cast("double") +
      pB * (lit(1.0) - pB) / col("n_b").cast("double"))
    val diff = pA - pB
    // nullif guard: boundary rates (everyone or no one converts in
    // both arms) make SE exactly 0 — the verdict is then "cannot
    // conclude", never a division error or a spurious ∞ pass
    val zLo = (diff + lit(margin)) / nullif(se, lit(0.0))
    val zHi = (lit(margin) - diff) / nullif(se, lit(0.0))
    val zCrit = lit(1.6448536269514722)
    j.select(col("n_a"), col("n_b"),
      round(pA, 6).as("p_a"), round(pB, 6).as("p_b"),
      round(diff, 6).as("diff"), round(se, 6).as("se"),
      when(se > 0.0, round(zLo, 6)).as("z_lower"),
      when(se > 0.0, round(zHi, 6)).as("z_upper"),
      coalesce(zLo > zCrit && zHi > zCrit, lit(false))
        .as("equivalent"))
  }

  /**
   * Cohen's h effect size for two proportions — the magnitude the
   * [[twoProportionZ]] significance cannot convey (at web scale
   * everything is significant; h says whether it MATTERS):
   *
   *   h = 2·arcsin√p₁ − 2·arcsin√p₂
   *
   * (the variance-stabilizing transform, so |h| thresholds 0.2/0.5/
   * 0.8 read small/medium/large at ANY base rate — unlike a raw
   * difference, which means different things at p = 0.5 and
   * p = 0.01). Counts exact; one double chain, 6-dp. Returns one row
   * `(n_a, conv_a, n_b, conv_b, p_a, p_b, h)`.
   */
  def cohensH(
      a: DataFrame, b: DataFrame, success: Column): DataFrame = {
    def counts(df: DataFrame, n: String, s: String): DataFrame =
      df.agg(count(lit(1)).as(n),
        coalesce(sum(success.cast("long")), lit(0L)).as(s))
    val j = counts(a, "n_a", "conv_a")
      .crossJoin(broadcast(counts(b, "n_b", "conv_b")))
    val pA = col("conv_a").cast("double") / col("n_a").cast("double")
    val pB = col("conv_b").cast("double") / col("n_b").cast("double")
    val h = lit(2.0) * asin(sqrt(pA)) - lit(2.0) * asin(sqrt(pB))
    j.select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
      round(pA, 6).as("p_a"), round(pB, 6).as("p_b"),
      round(h, 6).as("h"))
  }

  /**
   * Benjamini–Yekutieli step-up — [[bhSignificance]] under ARBITRARY
   * dependence between the tests: BH's FDR guarantee assumes
   * independence/PRDS, and per-source screens over a SHARED corpus
   * baseline are exactly the correlated case, so the dependence-robust
   * variant divides the level by the harmonic number
   * `c(m) = Σ_{i≤m} 1/i` (each 1/i term rounds 12 dp into a decimal
   * fold over the test frame — order-independent). Strictly more
   * conservative than BH: every BY rejection is a BH rejection.
   * Same test-frame-sized windows; adds `(rank, significant)`.
   */
  def bySignificance(
      tests: DataFrame, pCol: String, idCol: String,
      alpha: Double = 0.05): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    val d12 = DecimalType(38, 12)
    val byP = org.apache.spark.sql.expressions.Window
      .orderBy(col(pCol).asc, col(idCol).asc)
    val all = org.apache.spark.sql.expressions.Window
      .orderBy(col(pCol).asc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    tests.filter(col(pCol).isNotNull)
      .withColumn("rank", row_number().over(byP).cast("long"))
      .withColumn("_m", count(lit(1)).over(all))
      .withColumn("_cm",
        sum(round(lit(1.0) / col("rank").cast("double"), 12).cast(d12))
          .over(all))
      .withColumn("_cut", max(when(
        col(pCol) <= lit(alpha) * col("rank").cast("double")
          / (col("_m").cast("double") * col("_cm").cast("double")),
        col("rank"))).over(all))
      .withColumn("significant",
        coalesce(col("rank") <= col("_cut"), lit(false)))
      .drop("_m", "_cm", "_cut")
  }

  def concentration(df: DataFrame, groupCol: Column): DataFrame = {
    val counts = df.select(groupCol.as("_g")).filter(col("_g").isNotNull)
      .groupBy("_g").agg(count(lit(1)).as("c"))
    val wAsc = org.apache.spark.sql.expressions.Window
      .orderBy(col("c").asc, col("_g").asc)
    val tot = counts.agg(sum(col("c")).as("n_rows"),
      count(lit(1)).as("n_groups"))
    val g = col("n_groups").cast("double")
    val n = col("n_rows").cast("double")
    counts
      .withColumn("_i", row_number().over(wAsc).cast("long"))
      .crossJoin(broadcast(tot))
      .select(col("n_groups"), col("n_rows"),
        (col("_i") * col("c")).as("_ic"),
        round(
          (col("c").cast("double") / n) * (col("c").cast("double") / n),
          12).cast(dec).as("_sq"),
        col("c"))
      .groupBy(col("n_groups"), col("n_rows"))
      .agg(round(sum(col("_sq")).cast("double"), 6).as("hhi"),
        round(lit(2.0) * sum(col("_ic")).cast("double") / (g * n) -
          (g + lit(1.0)) / g, 6).as("gini"),
        round(max(col("c")).cast("double") / n, 6).as("top_share"))
  }

  /**
   * Kendall's W (coefficient of concordance) across k rankings of the
   * same subjects — "do my independent quality metrics AGREE on how
   * the sources rank?" (0 = no agreement, 1 = identical orders; the
   * k-judge generalization of rank correlation, the gate before
   * trusting any single metric's ordering). Each metric ranks by
   * `(metric, id)` row_number (the q110 total-order convention — an
   * id tiebreak, so W is exact rather than tie-averaged; run on
   * aggregate metrics where real ties are measure-zero).
   *
   * Integer-exact: with rank sums R_i, `4S = Σ(2R_i − k(n+1))²` stays
   * integer and `W = 3·(4S)/(k²·(n³−n))` needs one division, 6-dp.
   * NULL when n < 2. The k rank windows run over the SUBJECT frame
   * (group-cardinality — aggregate first). Returns one row
   * `(n_subjects, k_judges, w)`.
   */
  def kendallW(
      df: DataFrame, idCol: String, metrics: Seq[Column]): DataFrame = {
    val k = metrics.size
    rankDeviationS4(df, idCol, metrics)
      .select(col("n_subjects"), lit(k.toLong).as("k_judges"),
        when(col("n_subjects") >= 2,
          round(lit(3.0) * col("_s4").cast("double") /
            (lit((k * k).toLong).cast("double") *
              (col("n_subjects").cast("double") *
                col("n_subjects").cast("double") *
                col("n_subjects").cast("double") -
                col("n_subjects").cast("double"))), 6))
          .as("w"))
  }

  /** Shared rank-deviation aggregate behind [[kendallW]] and
    * [[friedman]]: each metric ranks the subjects by `(metric, id)`
    * row_number, and with rank sums R_i the integer
    * `4S = Σ(2R_i − k(n+1))²` folds in one pass. Returns one row
    * `(n_subjects, _s4)`; the k rank windows run over the SUBJECT
    * frame (group-cardinality — aggregate first). */
  private def rankDeviationS4(
      df: DataFrame, idCol: String, metrics: Seq[Column]): DataFrame = {
    require(metrics.size >= 2, s"need >= 2 judges, got ${metrics.size}")
    val k = metrics.size
    val base = df.filter(col(idCol).isNotNull &&
      metrics.map(_.isNotNull).reduce(_ && _))
    val ranked = metrics.zipWithIndex.foldLeft(base) {
      case (acc, (m, i)) =>
        acc.withColumn(s"_r$i", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(m.asc, col(idCol).asc)).cast("long"))
    }
    val rs = (0 until k).map(i => col(s"_r$i")).reduce(_ + _)
    val withN = ranked.select(rs.as("_rs"))
      .crossJoin(broadcast(base.agg(count(lit(1)).as("_n"))))
    val dev = lit(2L) * col("_rs") - lit(k.toLong) * (col("_n") + 1L)
    withN.agg(max(col("_n")).as("n_subjects"),
      coalesce(sum(dev * dev), lit(0L)).as("_s4"))
  }

  /**
   * Friedman rank test over the same k-judges-rank-n-subjects frame as
   * [[kendallW]] — the SIGNIFICANCE face of the same arithmetic: W
   * asks "how much do the judges agree?", Friedman asks "do the
   * subjects genuinely differ, or is every ranking noise?". With the
   * shared integer `4S`:
   *
   *   χ²_F = k(n−1)·W = 3·(4S) / (k·n·(n+1))     (χ², n−1 df)
   *
   * — integer-exact until the single division (6-dp). NULL when
   * n < 2. Returns one row `(n_subjects, k_judges, dof, chi2_f)`; the
   * p-value lookup is client-side, the [[chiSquared]] convention.
   * Same subject-frame window contract as [[kendallW]].
   */
  def friedman(
      df: DataFrame, idCol: String, metrics: Seq[Column]): DataFrame = {
    val k = metrics.size
    rankDeviationS4(df, idCol, metrics)
      .select(col("n_subjects"), lit(k.toLong).as("k_judges"),
        when(col("n_subjects") >= 2, col("n_subjects") - 1L).as("dof"),
        when(col("n_subjects") >= 2,
          round(lit(3.0) * col("_s4").cast("double") /
            (lit(k.toLong).cast("double") *
              col("n_subjects").cast("double") *
              (col("n_subjects").cast("double") + 1.0)), 6))
          .as("chi2_f"))
  }

  /**
   * Jarque–Bera normality test — "are these values plausibly normal,
   * or should every z-score screen upstream be distrusted?": the
   * moment-based check behind the gaussian assumptions the z-tests
   * ([[groupWelchZ]], [[grubbs]], [[twoProportionZ]]) lean on. From
   * exact power sums S₁..S₄ the central moments m₂..m₄ derive in one
   * double chain, then
   *
   *   g₁ = m₃/m₂^1.5 ,  g₂ = m₄/m₂² − 3 ,
   *   JB = n/6 · (g₁² + g₂²/4) ,  p = e^(−JB/2)
   *
   * — the χ²(2) survival function is closed-form, so this test ships
   * its OWN exact p (unlike the table-lookup χ² family). Power sums
   * fold as 9-dp decimals (partitioning-invariant); skew/kurtosis/JB/p
   * round to 6 dp; NULL when n < 3 or m₂ ≤ 0. Returns one row
   * `(n, skewness, ex_kurtosis, jb, p)`. One hash aggregate, no
   * windows — any cardinality.
   */
  def jarqueBera(df: DataFrame, valueCol: Column): DataFrame = {
    val agg = powerSums4(df, valueCol)
    val nD = col("n").cast("double")
    val mu = col("_s1").cast("double") / nD
    val m2 = col("_s2").cast("double") / nD - mu * mu
    val m3 = col("_s3").cast("double") / nD -
      lit(3.0) * mu * (col("_s2").cast("double") / nD) +
      lit(2.0) * mu * mu * mu
    val m4 = col("_s4").cast("double") / nD -
      lit(4.0) * mu * (col("_s3").cast("double") / nD) +
      lit(6.0) * mu * mu * (col("_s2").cast("double") / nD) -
      lit(3.0) * mu * mu * mu * mu
    val g1 = m3 / sqrt(m2 * m2 * m2)
    val g2 = m4 / (m2 * m2) - 3.0
    val jb = nD / 6.0 * (g1 * g1 + g2 * g2 / 4.0)
    val ok = col("n") >= 3 && m2 > 0.0
    agg.select(col("n"),
      when(ok, round(g1, 6)).as("skewness"),
      when(ok, round(g2, 6)).as("ex_kurtosis"),
      when(ok, round(jb, 6)).as("jb"),
      when(ok, round(exp(-jb / 2.0), 6)).as("p"))
  }

  /** The exact 9-dp decimal power sums S₁..S₄ + count behind
    * [[jarqueBera]] and [[bimodality]] — one hash aggregate. */
  private def powerSums4(df: DataFrame, valueCol: Column): DataFrame = {
    val d9 = DecimalType(38, 9)
    df.select(valueCol.cast("double").as("_v"))
      .filter(col("_v").isNotNull)
      .agg(count(lit(1)).as("n"),
        sum(round(col("_v"), 9).cast(d9)).as("_s1"),
        sum(round(col("_v") * col("_v"), 9).cast(d9)).as("_s2"),
        sum(round(col("_v") * col("_v") * col("_v"), 9).cast(d9))
          .as("_s3"),
        sum(round(col("_v") * col("_v") * col("_v") * col("_v"), 9)
          .cast(d9)).as("_s4"))
  }

  /**
   * Bimodality coefficient from the same four power sums as
   * [[jarqueBera]]: `b = (g₁² + 1)/(g₂ + 3)` with population skewness
   * g₁ and excess kurtosis g₂ — b exceeds 5/9 (the uniform's value)
   * when the distribution looks like a MIXTURE of two modes rather
   * than one population. The screen behind "are these two encoder
   * versions mixed in one embedding column?" ([[graft.ext.VectorOps
   * .embeddingHealth]] flags the drifting norm; this flags the
   * two-norm-population shape) or "two traffic regimes in one
   * metric?". Pearson's inequality makes the denominator ≥ g₁²+1 > 0,
   * so b is always defined when the variance is. Same chains as
   * [[jarqueBera]], 6-dp; NULL when n < 3 or zero variance. Returns
   * one row `(n, skewness, ex_kurtosis, bimodality)`.
   */
  def bimodality(df: DataFrame, valueCol: Column): DataFrame = {
    val agg = powerSums4(df, valueCol)
    val nD = col("n").cast("double")
    val mu = col("_s1").cast("double") / nD
    val m2 = col("_s2").cast("double") / nD - mu * mu
    val m3 = col("_s3").cast("double") / nD -
      lit(3.0) * mu * (col("_s2").cast("double") / nD) +
      lit(2.0) * mu * mu * mu
    val m4 = col("_s4").cast("double") / nD -
      lit(4.0) * mu * (col("_s3").cast("double") / nD) +
      lit(6.0) * mu * mu * (col("_s2").cast("double") / nD) -
      lit(3.0) * mu * mu * mu * mu
    val g1 = m3 / sqrt(m2 * m2 * m2)
    val g2 = m4 / (m2 * m2) - 3.0
    val b = (g1 * g1 + 1.0) / (g2 + 3.0)
    val ok = col("n") >= 3 && m2 > 0.0
    agg.select(col("n"),
      when(ok, round(g1, 6)).as("skewness"),
      when(ok, round(g2, 6)).as("ex_kurtosis"),
      when(ok, round(b, 6)).as("bimodality"))
  }

  /**
   * Grubbs statistic over a series — "is the single worst bucket an
   * OUTLIER, and which one is it?": `G = max|vᵢ−m|/s` with the sample
   * (n−1) standard deviation, plus the arg-max bucket (latest-bucket
   * tiebreak via the [[Changepoint.cusum]] lexicographic-max trick —
   * one 1-row aggregate, no sort). The single-point complement to
   * [[Robust.madOutliers]]' per-group censuses: Grubbs asks about THE
   * extreme, MAD about the population. Moments fold as 9-dp decimals;
   * G is one double chain, NULL when n < 3 or s = 0. Returns one row
   * `(n, at, value, g_stat)` — `at` is the flagged bucket's order key
   * rendered as a string (date-safe).
   *
   * Same series contract as [[Changepoint.cusum]].
   */
  def grubbs(
      series: DataFrame, orderCol: String, valueCol: String): DataFrame = {
    val d9 = DecimalType(38, 9)
    val base = series
      .filter(col(orderCol).isNotNull && col(valueCol).isNotNull)
      .select(col(orderCol).cast("string").as("_o"),
        col(valueCol).cast("double").as("_v"))
    val tot = base.agg(count(lit(1)).as("_n"),
      sum(round(col("_v"), 9).cast(d9)).as("_s1"),
      sum(round(col("_v") * col("_v"), 9).cast(d9)).as("_s2"))
    val nD = col("_n").cast("double")
    val m = col("_s1").cast("double") / nD
    val sd = sqrt((col("_s2").cast("double") -
      col("_s1").cast("double") * col("_s1").cast("double") / nD) /
      (nD - 1.0))
    base.crossJoin(broadcast(tot))
      .select(col("_n"), col("_o"), col("_v"), m.as("_m"), sd.as("_sd"),
        abs(col("_v") - m).as("_dev"))
      .agg(max(col("_n")).as("n"),
        max(struct(col("_dev").as("_d"), col("_o").as("_at"),
          col("_v").as("_val"), col("_sd").as("_s"))).as("_mx"))
      .select(col("n"),
        col("_mx._at").as("at"), col("_mx._val").as("value"),
        when(col("n") >= 3 && col("_mx._s") > 0.0,
          round(col("_mx._d") / col("_mx._s"), 6)).as("g_stat"))
  }

  /**
   * Ljung–Box portmanteau test over a series — "is there ANY
   * autocorrelation left through lag h?", the residual-whiteness
   * check run after a trend/seasonal fit ([[graft.analytics.Trend
   * .autocorr]] reads one lag; this pools the first h):
   *
   *   r_k = Σᵢ (vᵢ−m)(vᵢ₋ₖ−m) / Σᵢ (vᵢ−m)²
   *   Q_h = n(n+2) Σ_{k≤h} r_k²/(n−k)     (χ², h df under whiteness)
   *
   * The mean comes from exact decimal sums; every cross-product term
   * is one double chain rounded 12 dp and folded as DECIMAL(38,12).
   * Returns one row per lag `(lag, r, q_lb)` with `q_lb` the
   * cumulative statistic through that lag (NULL when the series
   * variance is 0). Same series contract as [[Changepoint.cusum]]:
   * the lag window and the h-row cumulative run over the SERIES.
   */
  def ljungBox(
      series: DataFrame, orderCol: String, valueCol: String,
      maxLag: Int = 7): DataFrame = {
    require(maxLag >= 1, s"maxLag must be >= 1, got $maxLag")
    val d12 = DecimalType(38, 12)
    val base = series
      .filter(col(orderCol).isNotNull && col(valueCol).isNotNull)
      .select(col(orderCol).as("_o"),
        col(valueCol).cast("double").as("_v"))
    val tot = base.agg(count(lit(1)).as("_n"),
      sum(round(col("_v"), 9).cast(DecimalType(38, 9))).as("_s1"))
    val wOrd = org.apache.spark.sql.expressions.Window.orderBy(col("_o"))
    val m = col("_s1").cast("double") / col("_n").cast("double")
    val lagged = base
      .select((col("_v") +: (1 to maxLag).map(k =>
        lag(col("_v"), k).over(wOrd).as(s"_l$k"))): _*)
      .crossJoin(broadcast(tot))
    val terms = lagged.agg(
      sum(round((col("_v") - m) * (col("_v") - m), 12).cast(d12))
        .as("_den"),
      (1 to maxLag).map(k =>
        coalesce(sum(round((col("_v") - m) * (col(s"_l$k") - m), 12)
          .cast(d12)), lit(0).cast(d12)).as(s"_num$k")): _*)
      .crossJoin(broadcast(tot))
    // fan the single aggregate row into the lag frame via explode —
    // one pass, never per-lag recomputation of the upstream series
    val perLag = terms
      .select(col("_n"), col("_den"),
        explode(array((1 to maxLag).map(k =>
          struct(lit(k.toLong).as("lag"),
            col(s"_num$k").as("_num"))): _*)).as("_x"))
      .select(col("_x.lag").as("lag"), col("_n"),
        when(col("_den").cast("double") > 0.0,
          col("_x._num").cast("double") / col("_den").cast("double"))
          .as("_r"))
    val cumW = org.apache.spark.sql.expressions.Window
      .orderBy(col("lag").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    perLag
      .withColumn("_term",
        round(col("_r") * col("_r") /
          (col("_n").cast("double") - col("lag").cast("double")), 12)
          .cast(d12))
      .withColumn("q_lb",
        when(col("_r").isNotNull,
          round(col("_n").cast("double") *
            (col("_n").cast("double") + 2.0) *
            sum(col("_term")).over(cumW).cast("double"), 6)))
      .select(col("lag"), round(col("_r"), 6).as("r"), col("q_lb"))
      .orderBy(col("lag").asc)
  }

  /**
   * Turning-points test over a series — the second randomness lens
   * next to [[runsTest]] (runs catch level drift; turning points
   * catch over/under-smoothing): a point is a turning point when it
   * is a STRICT local extremum of its 3-point neighborhood (any tie
   * is not a turn — documented). Under randomness
   * `E = 2(n−2)/3`, `Var = (16n−29)/90`, `z = (T−E)/√Var`
   * (p via [[normalTwoSidedP]]). Counts exact; z one double chain;
   * NULL z when n < 4 (no variance). Series-sized lag/lead window.
   * Returns one row `(n, n_turning, z, p)`.
   */
  def turningPoints(
      series: DataFrame, orderCol: String, valueCol: String): DataFrame = {
    val wOrd = org.apache.spark.sql.expressions.Window.orderBy(col("_o"))
    val prev = lag(col("_v"), 1).over(wOrd)
    val next = lead(col("_v"), 1).over(wOrd)
    val turn = when(prev.isNotNull && next.isNotNull &&
      ((col("_v") > prev && col("_v") > next) ||
        (col("_v") < prev && col("_v") < next)), 1L).otherwise(0L)
    val agg = series
      .filter(col(orderCol).isNotNull && col(valueCol).isNotNull)
      .select(col(orderCol).as("_o"),
        col(valueCol).cast("double").as("_v"))
      .select(turn.as("_t"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(col("_t")), lit(0L)).as("n_turning"))
    val nD = col("n").cast("double")
    val e = lit(2.0) * (nD - 2.0) / 3.0
    val v = (lit(16.0) * nD - 29.0) / 90.0
    val z = (col("n_turning").cast("double") - e) / sqrt(v)
    agg.select(col("n"), col("n_turning"),
      when(col("n") >= 4, round(z, 6)).as("z"),
      when(col("n") >= 4, normalTwoSidedP(z)).as("p"))
  }

  /**
   * Wald–Wolfowitz runs test of a series around its median — "is this
   * sequence RANDOM, or does it drift/oscillate?" The trend family
   * ([[graft.analytics.Trend]], [[Changepoint]]) asks what the
   * structure is; this asks whether there is structure at all: too few
   * runs of same-side values = drift, too many = oscillation.
   *
   * The reference level is the LOWER MEDIAN picked by rank over
   * `(value, order)` ([[Robust]]'s percentile_disc rule — an actual
   * value, engine-exact); values EQUAL to it drop (the standard
   * two-category reduction). With n₁ above / n₂ below and R observed
   * runs (1 + sign changes along the order):
   *
   *   μ = 2n₁n₂/n + 1 ,  σ² = 2n₁n₂(2n₁n₂ − n)/(n²(n−1)) ,
   *   z = (R − μ)/σ     (p via [[normalTwoSidedP]])
   *
   * All counts exact; z is one double chain. z/p are NULL when either
   * side is empty or n < 2 (no variance). Returns one row
   * `(n_above, n_below, runs, z, p)`.
   *
   * Same series contract as [[Changepoint.cusum]]: aggregate first;
   * the two ordered windows (median rank, lag) are series-sized.
   */
  def runsTest(
      series: DataFrame, orderCol: String, valueCol: String): DataFrame = {
    val base = series
      .filter(col(orderCol).isNotNull && col(valueCol).isNotNull)
      .select(col(orderCol).as("_o"), col(valueCol).cast("double").as("_v"))
    val wMed = org.apache.spark.sql.expressions.Window
      .orderBy(col("_v").asc, col("_o").asc)
    val nTot = base.agg(count(lit(1)).as("_n"))
    val med = base
      .withColumn("_r", row_number().over(wMed).cast("long"))
      .crossJoin(broadcast(nTot))
      .filter(col("_r") === ceil(col("_n").cast("double") / 2.0)
        .cast("long"))
      .select(col("_v").as("_med"))
    val wOrd = org.apache.spark.sql.expressions.Window.orderBy(col("_o"))
    val signed = base.crossJoin(broadcast(med))
      .filter(col("_v") =!= col("_med"))
      .select(col("_o"), (col("_v") > col("_med")).cast("int").as("_s"))
      .withColumn("_prev", lag(col("_s"), 1).over(wOrd))
    val agg = signed.agg(
      coalesce(sum(col("_s").cast("long")), lit(0L)).as("_n1"),
      coalesce(sum((col("_s") === 0).cast("long")), lit(0L)).as("_n2"),
      coalesce(sum(when(col("_prev").isNull || col("_prev") =!= col("_s"),
        1L).otherwise(0L)), lit(0L)).as("runs"))
    val n1 = col("_n1").cast("double"); val n2 = col("_n2").cast("double")
    val nn = n1 + n2
    val mu = lit(2.0) * n1 * n2 / nn + lit(1.0)
    val v = lit(2.0) * n1 * n2 * (lit(2.0) * n1 * n2 - nn) /
      (nn * nn * (nn - lit(1.0)))
    val z = (col("runs").cast("double") - mu) / sqrt(v)
    agg.select(col("_n1").as("n_above"), col("_n2").as("n_below"),
      col("runs"),
      when(col("_n1") > 0 && col("_n2") > 0 && v > 0.0, round(z, 6))
        .as("z"),
      when(col("_n1") > 0 && col("_n2") > 0 && v > 0.0,
        normalTwoSidedP(z)).as("p"))
  }

  /**
   * One-way ANOVA F across k groups — the omnibus "do ANY of these
   * slices differ in mean?" that precedes [[groupWelchZ]]'s per-group
   * screens (k per-group tests without an omnibus gate invite
   * multiplicity fishing; [[bhSignificance]] is the other guard).
   *
   * Sum-of-squares identities from exact per-group moments
   * (n_g, Σx, Σx²):
   *
   *   SSB = Σ_g (Σx_g)²/n_g − (Σx)²/N ,  SSW = Σx² − Σ_g (Σx_g)²/n_g
   *   F   = (SSB/(k−1)) / (SSW/(N−k))
   *
   * Values fold as 9-dp decimals (the [[groupWelchZ]] rule); each
   * (Σx_g)²/n_g term is ONE double division rounded 12 dp and summed
   * as DECIMAL(38,12) (order-independent over the group frame). F is
   * NULL when k < 2, N ≤ k, or SSW = 0 (no within-group spread —
   * undefined). Returns one row
   * `(n_groups, n_rows, ss_between, ss_within, f)`, 6-dp.
   *
   * Shape: one hash aggregate to the GROUP frame, one fold — the
   * corpus is touched once.
   */
  def anovaF(df: DataFrame, groupCol: Column, value: Column): DataFrame = {
    val d12 = DecimalType(38, 12)
    val d9 = DecimalType(38, 9)
    val cells = df
      .select(groupCol.as("_g"), value.cast("double").as("_v"))
      .filter(col("_g").isNotNull && col("_v").isNotNull)
      .groupBy(col("_g"))
      .agg(count(lit(1)).as("_n"),
        sum(round(col("_v"), 9).cast(d9)).as("_s1"),
        sum(round(col("_v") * col("_v"), 9).cast(d9)).as("_s2"))
    val folded = cells.agg(
      count(lit(1)).as("_k"),
      coalesce(sum(col("_n")), lit(0L)).as("_nn"),
      sum(col("_s1")).as("_ts1"),
      sum(col("_s2")).as("_ts2"),
      sum(round(col("_s1").cast("double") * col("_s1").cast("double")
        / col("_n").cast("double"), 12).cast(d12)).as("_bsum"))
    val ssb = col("_bsum").cast("double") -
      col("_ts1").cast("double") * col("_ts1").cast("double") /
        col("_nn").cast("double")
    val ssw = col("_ts2").cast("double") - col("_bsum").cast("double")
    folded.select(
      col("_k").as("n_groups"), col("_nn").as("n_rows"),
      round(ssb, 6).as("ss_between"),
      round(ssw, 6).as("ss_within"),
      when(col("_k") >= 2 && col("_nn") > col("_k"),
        round((ssb / (col("_k") - 1).cast("double"))
          / nullif(ssw / (col("_nn") - col("_k")).cast("double"),
            lit(0.0)), 6))
        .as("f"))
  }

  /**
   * Brown–Forsythe test of variance homogeneity across k groups —
   * "do these slices differ in SPREAD?", the third omnibus lens next
   * to [[anovaF]] (means) and [[kruskalWallis]] (ranks), and the
   * precondition check for pooled-variance tests: each value maps to
   * its absolute deviation from the GROUP's lower median
   * (`z = |v − med_g|`, the median-centered Levene variant — robust
   * to the skew that breaks mean-centered Levene), then the one-way F
   * on the z-frame is exactly [[anovaF]]'s arithmetic. The median is
   * the rank-exact pick at `⌈n/2⌉` over `(value, id)`
   * ([[Robust.madOutliers]]'s percentile_disc rule — an actual value,
   * engine-exact), so z is one IEEE subtraction per row.
   *
   * Returns [[anovaF]]'s row: `(n_groups, n_rows, ss_between,
   * ss_within, f)`. Shape: one group-partitioned rank window over the
   * data (the [[Robust.winsorizedMean]] contract), one group-keyed
   * join back, then the group-frame fold.
   */
  def brownForsythe(
      df: DataFrame, groupCol: Column, value: Column,
      idCol: Column): DataFrame = {
    val base = df
      .select(groupCol.as("_g"), value.cast("double").as("_v"),
        idCol.as("_id"))
      .filter(col("_g").isNotNull && col("_v").isNotNull)
    val w = Window.partitionBy(col("_g"))
      .orderBy(col("_v").asc, col("_id").asc)
    val med = base
      .select(col("_g"), col("_v"),
        row_number().over(w).cast("long").as("_rn"),
        count(lit(1)).over(Window.partitionBy(col("_g"))).as("_n"))
      .groupBy(col("_g"))
      .agg(max(when(col("_rn") ===
        greatest(ceil(lit(0.5) * col("_n").cast("double")).cast("long"),
          lit(1L)), col("_v"))).as("_med"))
    val z = base.join(med, Seq("_g"))
      .select(col("_g"), abs(col("_v") - col("_med")).as("_z"))
    anovaF(z, col("_g"), col("_z"))
  }

  /**
   * Kruskal–Wallis H across k groups — the rank-based omnibus
   * companion to [[anovaF]] for skewed metrics (document lengths,
   * latencies) where the F-test's normality lean is wrong. Built on
   * the [[mannWhitneyU]] doubled-rank lift, generalized to k groups:
   * per distinct value v with t(v) total rows and B(v) strictly below,
   * the doubled tie-averaged rank is `r₂(v) = 2B + t + 1` (always an
   * integer), per-group doubled rank sums R₂_g come from the grouped
   * count frame, and
   *
   *   H = 12/(N(N+1)) · Σ_g R₂_g²/(4·n_g) − 3(N+1)
   *   H_c = H / (1 − Σ(t³−t)/(N³−N))      (tie correction)
   *
   * Each R₂_g²/(4n_g) term is one double division rounded 12 dp,
   * folded as DECIMAL(38,12). H_c is NULL when every value ties (the
   * correction denominator hits 0). Returns one row
   * `(n_groups, n, h, h_corrected)`, 6-dp.
   *
   * Same scale contract as [[mannWhitneyU]]: rows aggregate map-side
   * into per-(group, value) counts; the one ordered cumulative window
   * runs over the DISTINCT-VALUE frame (value cardinality, not rows).
   */
  def kruskalWallis(
      df: DataFrame, groupCol: Column, value: Column): DataFrame = {
    val d12 = DecimalType(38, 12)
    val gv = df.filter(groupCol.isNotNull)
      .select(groupCol.as("_g"), value.cast("double").as("_v"))
      .filter(col("_v").isNotNull)
      .groupBy(col("_g"), col("_v"))
      .agg(count(lit(1)).as("_c"))
    val vt = gv.groupBy(col("_v")).agg(sum(col("_c")).as("_t"))
    val wB = org.apache.spark.sql.expressions.Window.orderBy(col("_v"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val ranked = vt.withColumn("_r2",
      lit(2L) * coalesce(sum(col("_t")).over(wB), lit(0L))
        + col("_t") + 1L)
    val perGroup = gv.join(ranked.select(col("_v"), col("_r2")), Seq("_v"))
      .groupBy(col("_g"))
      .agg(sum(col("_c")).as("_ng"),
        sum(col("_c") * col("_r2")).cast("decimal(38,0)").as("_rg2"))
    val ties = ranked.agg(
      coalesce(sum(col("_t") * (col("_t") * col("_t") - 1L)), lit(0L))
        .as("_tie"))
    val folded = perGroup.agg(
      count(lit(1)).as("_k"),
      coalesce(sum(col("_ng")), lit(0L)).as("_nn"),
      sum(round(col("_rg2").cast("double") * col("_rg2").cast("double")
        / (lit(4L) * col("_ng")).cast("double"), 12).cast(d12))
        .as("_rsum"))
      .crossJoin(broadcast(ties))
    val nD = col("_nn").cast("double")
    val h = lit(12.0) * col("_rsum").cast("double") / (nD * (nD + 1.0)) -
      lit(3.0) * (nD + 1.0)
    val corr = lit(1.0) -
      col("_tie").cast("double") / (nD * nD * nD - nD)
    folded.select(
      col("_k").as("n_groups"), col("_nn").as("n"),
      round(h, 6).as("h"),
      round(h / nullif(corr, lit(0.0)), 6).as("h_corrected"))
  }

  /**
   * Lorenz curve of volume concentration over a categorical key — the
   * point-by-point picture behind [[concentration]]'s Gini scalar
   * ("the bottom 60% of sources hold 11% of the corpus"): groups rank
   * ascending by count (id tiebreak — the [[concentration]] order) and
   * each row reports the cumulative share of groups and of rows at
   * that rank. Diagonal = perfect equality; the Gini is twice the area
   * between. All counts exact longs; the two shares are the only float
   * divisions, rounded 6 dp.
   *
   * Same scale contract as [[concentration]]: the ordered window runs
   * over the GROUP frame (group-cardinality, never data rows); the
   * totals are a broadcast 1-row fan-in. Returns one row per group
   * `(rank, grp, c, cum_group_share, cum_row_share)` ordered by rank.
   */
  def lorenzCurve(df: DataFrame, groupCol: Column): DataFrame = {
    val counts = df.select(groupCol.as("grp")).filter(col("grp").isNotNull)
      .groupBy("grp").agg(count(lit(1)).as("c"))
    val wAsc = org.apache.spark.sql.expressions.Window
      .orderBy(col("c").asc, col("grp").asc)
    val cumW = wAsc.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.currentRow)
    val tot = counts.agg(sum(col("c")).as("_n"), count(lit(1)).as("_g"))
    counts
      .withColumn("rank", row_number().over(wAsc).cast("long"))
      .withColumn("_cum", sum(col("c")).over(cumW))
      .crossJoin(broadcast(tot))
      .select(col("rank"), col("grp"), col("c"),
        round(col("rank").cast("double") / col("_g").cast("double"), 6)
          .as("cum_group_share"),
        round(col("_cum").cast("double") / col("_n").cast("double"), 6)
          .as("cum_row_share"))
      .orderBy(col("rank").asc)
  }

  /**
   * McNemar's test over two PAIRED binary screens — "screen A and
   * screen B disagree; does one systematically pass what the other
   * fails?" ([[graft.ext.Eval.cohensKappa]] measures how OFTEN they
   * agree; McNemar tests whether the disagreements are one-sided).
   * Only the discordant cells matter: with `b` = A-only passes and
   * `c` = B-only passes, `χ² = (b−c)²/(b+c)` (1 df, no continuity
   * correction — documented choice) and the signed
   * `z = (b−c)/√(b+c)` p-values via [[normalTwoSidedP]]. Items where
   * either screen is NULL drop (a screen that abstains is
   * [[graft.ext.Eval.krippendorffAlphaBinary]]'s regime, not a pair).
   * χ²/p are NULL when `b + c = 0` (no disagreements — nothing to
   * test). All counts exact; two float ops. Returns one row
   * `(n_items, b, c, chi2, p)` from a single aggregate — scale-free.
   */
  def mcnemar(df: DataFrame, screenA: Column, screenB: Column)
      : DataFrame = {
    val a = screenA.cast("boolean")
    val b = screenB.cast("boolean")
    val gap = (col("b") - col("c")).cast("double")
    df.filter(a.isNotNull && b.isNotNull)
      .agg(count(lit(1)).as("n_items"),
        coalesce(sum((a && !b).cast("long")), lit(0L)).as("b"),
        coalesce(sum((!a && b).cast("long")), lit(0L)).as("c"))
      .select(col("n_items"), col("b"), col("c"),
        when(col("b") + col("c") > 0,
          round(gap * gap / (col("b") + col("c")).cast("double"), 6))
          .as("chi2"),
        when(col("b") + col("c") > 0,
          normalTwoSidedP(gap
            / sqrt((col("b") + col("c")).cast("double"))))
          .as("p"))
  }

  /**
   * Standardized effect size between two samples — the magnitude
   * companion to [[twoProportionZ]]/[[mannWhitneyU]] significance ("the
   * difference is real; is it LARGE?"): Cohen's d on the pooled sample
   * SD and the small-sample Hedges' g correction,
   *
   *   d = (m₁ − m₂) / s_p,   s_p² = ((n₁−1)s₁² + (n₂−1)s₂²)/(n₁+n₂−2)
   *   g = d · (1 − 3/(4(n₁+n₂) − 9))
   *
   * from exact 9-dp decimal moments per side (one aggregate each, the
   * [[groupWelchZ]] rule); the closed forms are one double chain.
   * Degenerate inputs (either side < 2 rows, or zero pooled spread)
   * yield NULL d and g. NULL values drop. Returns one row
   * `(n1, n2, mean1, mean2, pooled_sd, cohens_d, hedges_g)`, 6-dp.
   */
  def effectSize(a: DataFrame, b: DataFrame, value: Column): DataFrame = {
    def moments(df: DataFrame, sfx: String): DataFrame =
      df.select(value.cast("double").as("_v"))
        .filter(col("_v").isNotNull)
        .agg(count(lit(1)).as(s"n$sfx"),
          sum(round(col("_v"), 9).cast(dec)).as(s"_s1$sfx"),
          sum(round(col("_v") * col("_v"), 9).cast(dec)).as(s"_s2$sfx"))
    def m(i: Int) = col(s"_s1$i").cast("double") / col(s"n$i").cast("double")
    def ss(i: Int) = col(s"_s2$i").cast("double") -
      col(s"_s1$i").cast("double") * col(s"_s1$i").cast("double") /
        col(s"n$i").cast("double")
    val df2 = (col("n1") + col("n2") - 2L).cast("double")
    val sp = sqrt((ss(1) + ss(2)) / df2)
    val dEff = (m(1) - m(2)) / nullif(sp, lit(0.0))
    val j = lit(1.0) - lit(3.0) /
      (lit(4.0) * (col("n1") + col("n2")).cast("double") - lit(9.0))
    moments(a, "1").crossJoin(moments(b, "2"))
      .select(col("n1"), col("n2"),
        round(m(1), 6).as("mean1"), round(m(2), 6).as("mean2"),
        when(col("n1") >= 2 && col("n2") >= 2, round(sp, 6))
          .as("pooled_sd"),
        when(col("n1") >= 2 && col("n2") >= 2, round(dEff, 6))
          .as("cohens_d"),
        when(col("n1") >= 2 && col("n2") >= 2, round(dEff * j, 6))
          .as("hedges_g"))
  }

  /**
   * Per-entity burstiness over a fixed bucket grid — "does this user /
   * source emit steadily or in bursts?": with the grid size H = the
   * number of DISTINCT buckets observed in the whole frame (zero
   * buckets count — an entity active in one hour of a 720-hour log is
   * bursty, not steady), per entity the bucket-count series has exact
   * moments (c = Σ events, q = Σ per-bucket count²), so
   *
   *   μ = c/H,  σ² = q/H − μ²  (population, zeros included — no
   *                             per-zero-row work, pure arithmetic)
   *   fano = σ²/μ          (1 ≈ Poisson, >1 overdispersed)
   *   burstiness = (σ−μ)/(σ+μ)   (Goh–Barabási, [−1, 1])
   *
   * One hash aggregate to bucket, one to entity — entity-sized output,
   * no window, no grid materialization. NULL entity/bucket rows drop.
   * Returns `(entity, n_events, n_active, fano, burstiness)`, 6-dp.
   */
  def burstiness(
      df: DataFrame, entityCol: Column, bucketCol: Column): DataFrame = {
    val cells = df.select(entityCol.as("_e"), bucketCol.as("_b"))
      .filter(col("_e").isNotNull && col("_b").isNotNull)
      .groupBy("_e", "_b").agg(count(lit(1)).as("c"))
    val grid = cells.agg(countDistinct(col("_b")).as("_h"))
    val per = cells.groupBy("_e")
      .agg(sum(col("c")).as("n_events"),
        count(lit(1)).as("n_active"),
        sum(col("c") * col("c")).as("_q"))
    val h = col("_h").cast("double")
    val mu = col("n_events").cast("double") / h
    // clamp at 0: a zero-variance series can land at −1 ulp in float
    val v = greatest(col("_q").cast("double") / h - mu * mu, lit(0.0))
    val sd = sqrt(v)
    per.crossJoin(broadcast(grid))
      .select(col("_e").as("entity"), col("n_events"), col("n_active"),
        round(v / mu, 6).as("fano"),
        round((sd - mu) / (sd + mu), 6).as("burstiness"))
  }

  /**
   * Leading-digit profile of a positive numeric column against
   * Benford's law: per digit, the observed count and share, the
   * expected share (plan literal), and the digit's χ² contribution
   * `(p_obs − p_exp)²·n/p_exp`. Digits derive arithmetically
   * (`⌊v/10^⌊log10 v⌋⌋` — no engine-specific float formatting); NULL /
   * non-positive values drop. 9-row output, 6-dp shares.
   */
  def benfordProfile(df: DataFrame, valueCol: Column): DataFrame = {
    val v = valueCol.cast("double")
    val digit = floor(v / pow(lit(10.0), floor(log10(v)))).cast("int")
    val counts = df.filter(v.isNotNull && v > 0.0)
      .select(digit.as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n_obs"))
    val tot = counts.agg(sum(col("n_obs")).as("_n"))
    val expected = benfordExpected
    val pExp = (1 to 9).foldLeft(lit(null).cast("double")) { (acc, d) =>
      when(col("digit") === d, lit(expected(d - 1))).otherwise(acc)
    }
    counts.crossJoin(broadcast(tot))
      .withColumn("p_exp", pExp)
      .select(col("digit"), col("n_obs"),
        round(col("n_obs").cast("double") / col("_n").cast("double"), 6)
          .as("p_obs"),
        round(col("p_exp"), 6).as("p_benford"),
        round(
          (col("n_obs").cast("double") / col("_n").cast("double") -
            col("p_exp")) *
          (col("n_obs").cast("double") / col("_n").cast("double") -
            col("p_exp")) *
          col("_n").cast("double") / col("p_exp"), 6).as("chi2_term"))
      .orderBy(col("digit").asc)
  }
}
