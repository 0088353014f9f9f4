package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/**
 * Linear probing of embedding quality — the standard representation
 * eval (Alain & Bengio 2016): fit a LINEAR model from frozen embeddings
 * to a target and read the fit quality as "how linearly accessible is
 * this signal in the representation". Closed-form ridge least squares,
 * not SGD: the normal equations `(XᵀX + λI)w = Xᵀy` need exactly ONE
 * pass over the corpus to build dimension²-sized sums, after which the
 * solve is a driver-side (d+1)×(d+1) dense operation — no iteration,
 * no learning rate, deterministic.
 *
 * Reference scope: the reference engine has no vector surface; this
 * extends the X3 eval family ([[Eval.knnClassify]] probes labels
 * through NEIGHBORHOODS, this probes them through a linear map — the
 * two standard complementary views).
 *
 * Scale shape: the corpus pass is a typed `Aggregator` carrying ONE
 * flat buffer per task — the upper triangle `(d+1)(d+2)/2` plus the
 * `(d+1)` moment vector as 12-dp scaled longs — merged associatively;
 * the shuffle moves one buffer per partition (dimension²-sized,
 * independent of corpus size) and no per-term rows ever materialize.
 * The sums stay EXACT decimal: each term rounds to 12 dp
 * (`BigDecimal.valueOf`, HALF_UP — the same value the previous
 * explode+DECIMAL(38,12) hash aggregate folded) and accumulates as an
 * integer, so the result is order-invariant and partitioning-invariant,
 * not last-ulp float. `Math.addExact` guards the scaled-long range
 * (per-cell |Σ terms| < 9.2·10⁶ — comfortable for unit-scale
 * embeddings; overflow fails loudly rather than wrapping). The
 * explode+hash-aggregate formulation is kept in the test tree
 * (`ProbeTwins`) purely as a spec cross-check.
 * Scoring is a zero-shuffle in-order fold against plan-literal weights
 * (the [[Similarity.dot]] fold-order contract an oracle's
 * `list_aggregate` reproduces bit-for-bit).
 *
 * Determinism: every aggregated term rounds to 12 dp and folds as
 * decimal; the solve runs single-threaded driver-side in a fixed
 * elimination order; weights round to 9 dp before they become plan
 * literals — so fit and score are partitioning-invariant and identical
 * across reruns and engines.
 */
object Probe {

  private[ext] val dec = DecimalType(38, 12)

  /** Features + trailing 1.0 intercept slot, as doubles. */
  private[ext] def aug(vecCol: Column): Column =
    concat(transform(vecCol, _.cast("double")), array(lit(1.0)))

  /**
   * One-pass normal-equation sums as a typed [[Aggregator]]: the flat
   * buffer packs the upper triangle `Σ x_i·x_j` (row-major, j = i..d
   * over the augmented vector) followed by the moment vector `Σ x_i·y`,
   * every term pre-rounded to 12-dp decimal and accumulated as a scaled
   * long — exact, associative, commutative, so the global aggregate is
   * order- and partitioning-invariant with one buffer per task and no
   * exploded term rows.
   */
  /** Reference form of the 12-dp term rounding: the decimal value of the
    * double's SHORTEST representation (`BigDecimal.valueOf` ≡
    * `Double.toString`), rounded HALF_UP at 12 dp, as a scaled long. */
  private[ext] def term12Reference(x: Double): Long =
    java.math.BigDecimal.valueOf(x)
      .setScale(12, java.math.RoundingMode.HALF_UP)
      .movePointRight(12).longValueExact()

  /**
   * [[term12Reference]] with a PROVABLY-IDENTICAL fast path (guide §1.2
   * step 2 — per-task work: the reference form costs a `Double.toString`
   * + decimal parse + decimal division per term, ~0.6 µs on JDK 17, and
   * [[MomentAgg]] evaluates it (d+1)(d+4)/2 ≈ 2 210 times per row).
   *
   * Let B = the double's exact binary value and D = the decimal value of
   * its shortest representation (what the reference rounds). Both round
   * to the same double, so |D − B| ≤ ½·ulp(x). The fast path computes
   * B·10¹² EXACTLY as a double-double via an FMA two-product
   * (10¹² is exact; `e = fma(x, 1e12, −p)` is the exact residual of
   * `p = x·1e12`), splits it as `n0 + frac` around the nearest integer
   * (`p − n0` exact by Sterbenz for |p| < 2⁵², the |x| < 4.5·10³ guard),
   * and accepts `n0` whenever
   *
   *   |frac| + ½·ulp(x)·10¹² + 1e-9  <  0.5
   *
   * — then BOTH B·10¹² and D·10¹² lie strictly inside
   * (n0 − ½, n0 + ½), where HALF_UP is plain nearest-rounding for either
   * sign, so the reference answer IS n0. Anything near the half
   * boundary (≈0.1% of uniform inputs), non-finite, or ≥ 4.5·10³ falls
   * back to the reference form — never a different value, only a
   * different speed. Equivalence is additionally fuzz-pinned across
   * magnitudes and adversarial half-boundary values in ProbeSpec.
   */
  private[ext] def term12(x: Double): Long = {
    if (x == 0.0) return 0L // ±0 → 0, as the reference
    val ax = math.abs(x)
    if (!(ax < 4.5e3)) return term12Reference(x) // non-finite/huge → exact
    val p = x * 1e12
    val e = Math.fma(x, 1e12, -p)
    val n0 = Math.rint(p)
    val frac = (p - n0) + e
    if (math.abs(frac) + 0.5e12 * Math.ulp(x) + 1e-9 >= 0.5)
      term12Reference(x)
    else n0.toLong
  }

  private[ext] final class MomentAgg(d1: Int)
      extends Aggregator[(Array[Double], Double), Array[Long], Array[Long]] {
    private val tri = d1 * (d1 + 1) / 2
    private def term12(x: Double): Long = Probe.term12(x)
    override def zero: Array[Long] = new Array[Long](tri + d1)
    override def reduce(
        buf: Array[Long], r: (Array[Double], Double)): Array[Long] = {
      val v = r._1; val y = r._2
      var k = 0; var i = 0
      while (i < d1) {
        val xi = v(i)
        var j = i
        while (j < d1) {
          buf(k) = Math.addExact(buf(k), term12(xi * v(j)))
          j += 1; k += 1
        }
        buf(tri + i) = Math.addExact(buf(tri + i), term12(xi * y))
        i += 1
      }
      buf
    }
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) = Math.addExact(a(i), b(i)); i += 1 }
      a
    }
    override def finish(r: Array[Long]): Array[Long] = r
    override def bufferEncoder: Encoder[Array[Long]] =
      ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Array[Long]] =
      ExpressionEncoder[Array[Long]]()
  }

  /** Moment sums via [[MomentAgg]], unpacked to `(a, b)` doubles plus
    * the matched-row count (read off `Σ 1·1` at the intercept-intercept
    * cell). With the intercept slot, `a` also carries Σxᵢ (row/col
    * `dim`) — everything a centered second-moment consumer ([[Pca]])
    * needs from the same single pass. */
  private[ext] def momentSumsAgg(
      df: DataFrame, vecCol: String, y: Column,
      dim: Int): (Array[Array[Double]], Array[Double], Long) = {
    val d1 = dim + 1
    val spark = df.sparkSession
    import spark.implicits._
    val flat = df
      .filter(col(vecCol).isNotNull && y.isNotNull &&
        size(col(vecCol)) === dim)
      .select(aug(col(vecCol)).as("_1"), y.cast("double").as("_2"))
      .as[(Array[Double], Double)]
      .select(new MomentAgg(d1).toColumn)
      .head()
    val tri = d1 * (d1 + 1) / 2
    val a = Array.ofDim[Double](d1, d1)
    val b = new Array[Double](d1)
    var k = 0; var i = 0
    while (i < d1) {
      var j = i
      while (j < d1) {
        val s = flat(k) / 1e12
        a(i)(j) = s; a(j)(i) = s
        j += 1; k += 1
      }
      b(i) = flat(tri + i) / 1e12
      i += 1
    }
    (a, b, flat(tri - 1) / 1000000000000L) // Σ 1·1 scaled
  }

  /**
   * The one-pass moment sums as an ADDITIVE partial frame
   * `(i, j, s)` — the [[MomentAgg]] buffer exploded into its
   * upper-triangle cells (j = −1 tags the Σxᵢ·y moment vector), with
   * `s` the 12-dp scaled sum carried as DECIMAL(38,0) so ANY union of
   * partials folds exactly ([[mergeMoments]] — integer sums are
   * associative and commutative, the q154/q200 standing-state law). An
   * empty slice contributes an all-zero partial — merge-neutral by
   * construction.
   */
  def momentPartials(
      df: DataFrame, vecCol: String, y: Column, dim: Int): DataFrame = {
    require(dim >= 1, s"dim must be >= 1, got $dim")
    val d1 = dim + 1
    val tri = d1 * (d1 + 1) / 2
    val spark = df.sparkSession
    import spark.implicits._
    val flat = df
      .filter(col(vecCol).isNotNull && y.isNotNull &&
        size(col(vecCol)) === dim)
      .select(aug(col(vecCol)).as("_1"), y.cast("double").as("_2"))
      .as[(Array[Double], Double)]
      .select(new MomentAgg(d1).toColumn)
      .toDF("_flat")
    val cells =
      (for { i <- 0 until d1; j <- i until d1 } yield (i, j))
        .zipWithIndex.map { case ((i, j), p) => (p, i, j) } ++
        (0 until d1).map(i => (tri + i, i, -1))
    val mapping = cells.toDF("_pos", "i", "j")
    flat.select(posexplode(col("_flat")).as(Seq("_pos", "_s")))
      .join(broadcast(mapping), Seq("_pos"))
      .select(col("i"), col("j"), col("_s").cast("decimal(38,0)").as("s"))
  }

  /**
   * Per-fold moment partials in ONE corpus pass — the grouped face of
   * [[momentPartials]] behind k-fold probe cross-validation:
   * `(fold, i, j, s)`, one [[MomentAgg]] buffer per fold key. Rows
   * with a NULL fold drop.
   */
  def foldMomentPartials(
      df: DataFrame, vecCol: String, y: Column, fold: Column,
      dim: Int): DataFrame = {
    require(dim >= 1, s"dim must be >= 1, got $dim")
    val d1 = dim + 1
    val tri = d1 * (d1 + 1) / 2
    val spark = df.sparkSession
    import spark.implicits._
    val flat = df
      .filter(col(vecCol).isNotNull && y.isNotNull &&
        size(col(vecCol)) === dim && fold.isNotNull)
      .select(fold.cast("long").as("_f"), aug(col(vecCol)).as("_v"),
        y.cast("double").as("_y"))
      .as[(Long, Array[Double], Double)]
      .groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(new MomentAgg(d1).toColumn)
      .toDF("fold", "_flat")
    val cells =
      (for { i <- 0 until d1; j <- i until d1 } yield (i, j))
        .zipWithIndex.map { case ((i, j), p) => (p, i, j) } ++
        (0 until d1).map(i => (tri + i, i, -1))
    val mapping = cells.toDF("_pos", "i", "j")
    flat.select(col("fold"), posexplode(col("_flat")).as(Seq("_pos", "_s")))
      .join(broadcast(mapping), Seq("_pos"))
      .select(col("fold"), col("i"), col("j"),
        col("_s").cast("decimal(38,0)").as("s"))
  }

  /** The k leave-one-fold-out ridge fits by CELL SUBTRACTION: fold f's
    * training moments are (Σ all folds − fold f) — exact integer
    * subtraction of the scaled-decimal cells, so k fits cost ONE
    * corpus pass total (never k re-scans). Driver state is k·cells —
    * metadata-sized. */
  private def cvFits(
      df: DataFrame, vecCol: String, y: Column, fold: Column,
      dim: Int, lambda: Double): Seq[(Long, Array[Double])] = {
    require(lambda >= 0.0, s"lambda must be >= 0, got $lambda")
    val d1 = dim + 1
    val parts = foldMomentPartials(df, vecCol, y, fold, dim).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getDecimal(3).toBigInteger))
    val folds = parts.map(_._1).distinct.sorted
    require(folds.length >= 2, s"need >= 2 folds, got ${folds.length}")
    val total = parts.groupBy(p => (p._2, p._3))
      .map { case (c, ps) => c -> ps.map(_._4).reduce(_ add _) }
    folds.toSeq.map { f =>
      val own = parts.filter(_._1 == f)
        .map(p => (p._2, p._3) -> p._4).toMap
      val a = Array.ofDim[Double](d1, d1)
      val b = new Array[Double](d1)
      total.foreach { case ((i, j), s) =>
        val train = s.subtract(
          own.getOrElse((i, j), java.math.BigInteger.ZERO))
        val v = new java.math.BigDecimal(train).doubleValue() / 1e12
        if (j < 0) b(i) = v
        else { a(i)(j) = v; a(j)(i) = v }
      }
      require(a(dim)(dim) > 0, s"fold $f leaves an empty training set")
      f -> finishFit(a, b, dim, lambda)
    }
  }

  /** Fits on STRATUM PREFIXES — the learning-curve fits: with strata
    * s₀ < s₁ < … < s_{k−1}, fit on {≤ s₀}, {≤ s₁}, …, {≤ s_{k−2}}
    * (the LAST stratum is always held out for evaluation). Prefix
    * moments are cumulative sums of the per-stratum cells — exact
    * integer addition, one corpus pass for all fits. Returns
    * `(sMax, n_train, weights)` per prefix. */
  private def prefixFits(
      df: DataFrame, vecCol: String, y: Column, stratum: Column,
      dim: Int, lambda: Double): Seq[(Long, Long, Array[Double])] = {
    require(lambda >= 0.0, s"lambda must be >= 0, got $lambda")
    val d1 = dim + 1
    val parts = foldMomentPartials(df, vecCol, y, stratum, dim).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getDecimal(3).toBigInteger))
    val strata = parts.map(_._1).distinct.sorted
    require(strata.length >= 2,
      s"need >= 2 strata (last is held out), got ${strata.length}")
    val acc = scala.collection.mutable.Map
      .empty[(Int, Int), java.math.BigInteger]
    strata.toSeq.init.map { s =>
      parts.filter(_._1 == s).foreach { p =>
        val k = (p._2, p._3)
        acc(k) = acc.getOrElse(k, java.math.BigInteger.ZERO).add(p._4)
      }
      val a = Array.ofDim[Double](d1, d1)
      val b = new Array[Double](d1)
      var nTrain = 0L
      acc.foreach { case ((i, j), v) =>
        val dv = new java.math.BigDecimal(v).doubleValue() / 1e12
        if (j < 0) b(i) = dv
        else {
          a(i)(j) = dv; a(j)(i) = dv
          if (i == dim && j == dim)
            nTrain = v.divide(java.math.BigInteger.valueOf(1000000000000L))
              .longValueExact()
        }
      }
      require(a(dim)(dim) > 0, s"empty training prefix at stratum $s")
      (s, nTrain, finishFit(a, b, dim, lambda))
    }
  }

  /** Learning-curve weights as a frame `(train_upto, idx, w)` — one
    * ridge fit per stratum prefix ([[prefixFits]]); pairs with
    * [[learningCurve]] the way q184 pairs with q185. */
  def learningCurveWeights(
      spark: SparkSession, df: DataFrame, vecCol: String, y: Column,
      stratum: Column, dim: Int, lambda: Double = 1e-3): DataFrame = {
    import spark.implicits._
    prefixFits(df, vecCol, y, stratum, dim, lambda)
      .flatMap { case (s, _, w) =>
        w.zipWithIndex.map { case (wv, i) => (s, i.toLong, wv) }
      }.toDF("train_upto", "idx", "w")
  }

  /**
   * The learning curve: held-out metrics of each stratum-prefix fit
   * against the FIXED last stratum — "does the probe keep improving
   * with more data, or has the representation's linear signal
   * saturated?" (the scaling-law instrument, measured instead of
   * extrapolated). Returns
   * `(train_upto, n_train, n_test, mse, r2)` per prefix, ordered.
   */
  def learningCurve(
      df: DataFrame, vecCol: String, y: Column, stratum: Column,
      dim: Int, lambda: Double = 1e-3): DataFrame = {
    val fits = prefixFits(df, vecCol, y, stratum, dim, lambda)
    val last = fits.map(_._1).max
    val test = df
      .filter(col(vecCol).isNotNull && y.isNotNull &&
        size(col(vecCol)) === dim && stratum.isNotNull &&
        stratum.cast("long") > last)
      .select(y.cast("double").as("_y"), col(vecCol).as("_v"))
    // ONE pass over the held-out stratum (guide §7.2): the per-prefix
    // scores are per-row expressions against literal weights, so all
    // |prefixes| curves ride a single explode instead of |prefixes|
    // unioned re-scans — and the narrow scored frame is cut because it
    // feeds both the per-prefix totals and the SSE/SST fold (without
    // the cut each consumer would re-run the scan). Same rows, same
    // expression trees per prefix, so every aggregate is unchanged.
    val scored = Materialize.cut(
      test.select(col("_y"), explode(array(fits.map { case (s, nTrain, w) =>
        struct(lit(s).as("train_upto"), lit(nTrain).as("n_train"),
          score(col("_v"), w).as("_p"))
      }: _*)).as("__f"))
        .select(col("__f.train_upto").as("train_upto"),
          col("__f.n_train").as("n_train"), col("_y"),
          col("__f._p").as("_p")))
    val tot = scored.groupBy(col("train_upto"))
      .agg(count(lit(1)).as("n_test"), sum(col("_y")).as("_sy"))
    scored.join(broadcast(tot), Seq("train_upto"))
      .select(col("train_upto"), col("n_train"), col("n_test"),
        col("_y"), col("_p"), (col("_sy") / col("n_test")).as("_my"))
      .groupBy(col("train_upto"), col("n_train"), col("n_test"))
      .agg(
        sum(round((col("_y") - col("_p")) * (col("_y") - col("_p")), 12)
          .cast(dec)).as("_sse"),
        sum(round((col("_y") - col("_my")) * (col("_y") - col("_my")), 12)
          .cast(dec)).as("_sst"))
      .select(col("train_upto"), col("n_train"), col("n_test"),
        round(col("_sse").cast("double") / col("n_test"), 6).as("mse"),
        when(col("_sst").cast("double") > 0.0,
          round(lit(1.0) - col("_sse").cast("double") /
            col("_sst").cast("double"), 6)).as("r2"))
      .orderBy(col("train_upto").asc)
  }

  /** Ridge fits on LEADING-DIMENSION SUBSETS from one moment frame —
    * the ablation fits: for each d' in `dims`, solve the
    * (d'+1)×(d'+1) principal subsystem over features 0..d'−1 plus the
    * intercept (moment cells are shared — the submatrix of a moment
    * matrix IS the subset's moment matrix, so every ablation step
    * reuses the single corpus pass). Returns
    * `(dimsUsed, weights-with-original-indices)` per step. */
  private def ablationFits(
      df: DataFrame, vecCol: String, y: Column, dims: Seq[Int],
      dim: Int, lambda: Double): Seq[(Int, Seq[(Int, Double)])] = {
    require(dims.nonEmpty && dims.forall(d => d >= 1 && d <= dim),
      s"dims must be non-empty within [1, $dim], got $dims")
    require(lambda >= 0.0, s"lambda must be >= 0, got $lambda")
    val cells = momentPartials(df, vecCol, y, dim).collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        new java.math.BigDecimal(r.getDecimal(2).toBigInteger)
          .doubleValue() / 1e12).toMap
    dims.sorted.map { du =>
      val sel = (0 until du) :+ dim // original indices of the subsystem
      val d1 = du + 1
      val a = Array.ofDim[Double](d1, d1)
      val b = new Array[Double](d1)
      for (pi <- 0 until d1; pj <- pi until d1) {
        val (oi, oj) = (sel(pi), sel(pj))
        val v = cells.getOrElse((oi, oj), cells.getOrElse((oj, oi), 0.0))
        a(pi)(pj) = v; a(pj)(pi) = v
      }
      (0 until d1).foreach(pi => b(pi) = cells.getOrElse((sel(pi), -1), 0.0))
      require(a(du)(du) > 0, "no rows matched (empty moments)")
      du -> finishFit(a, b, du, lambda).toSeq.zip(sel)
        .map { case (w, oi) => (oi, w) }
    }
  }

  /** Ablation weights as a frame `(dims_used, idx, w)` — idx keeps the
    * ORIGINAL feature index (intercept = `dim`), so the oracle can
    * certify each step's subsystem equations directly. */
  def ablationWeights(
      spark: SparkSession, df: DataFrame, vecCol: String, y: Column,
      dims: Seq[Int], dim: Int, lambda: Double = 1e-3): DataFrame = {
    import spark.implicits._
    ablationFits(df, vecCol, y, dims, dim, lambda)
      .flatMap { case (du, ws) =>
        ws.map { case (oi, w) => (du.toLong, oi.toLong, w) }
      }.toDF("dims_used", "idx", "w")
  }

  /**
   * The dimension-ablation curve: in-sample fit quality per leading-
   * dimension budget — "how many dimensions carry the linearly
   * accessible signal?" (the representation-compression instrument
   * next to the [[learningCurve]]'s data axis). Each step scores with
   * its subsystem weights zero-extended to the full width (identical
   * arithmetic, one [[score]] fold per step). Returns
   * `(dims_used, n, mse, r2)` ordered by the budget.
   */
  def ablationCurve(
      df: DataFrame, vecCol: String, y: Column, dims: Seq[Int],
      dim: Int, lambda: Double = 1e-3): DataFrame = {
    val fits = ablationFits(df, vecCol, y, dims, dim, lambda)
    val base = df
      .filter(col(vecCol).isNotNull && y.isNotNull &&
        size(col(vecCol)) === dim)
      .select(y.cast("double").as("_y"), col(vecCol).as("_v"))
    // ONE corpus pass (the [[learningCurve]] rule): all |dims| ablation
    // scores ride a single explode over per-row literal-weight score
    // expressions, and the narrow scored frame is cut because it feeds
    // both the totals and the SSE/SST fold. Identical rows/expressions.
    val scored = Materialize.cut(
      base.select(col("_y"), explode(array(fits.map { case (du, ws) =>
        val full = Array.fill(dim + 1)(0.0)
        ws.foreach { case (oi, w) => full(oi) = w }
        struct(lit(du.toLong).as("dims_used"), score(col("_v"), full).as("_p"))
      }: _*)).as("__f"))
        .select(col("__f.dims_used").as("dims_used"), col("_y"),
          col("__f._p").as("_p")))
    val tot = scored.groupBy(col("dims_used"))
      .agg(count(lit(1)).as("n"), sum(col("_y")).as("_sy"))
    scored.join(broadcast(tot), Seq("dims_used"))
      .select(col("dims_used"), col("n"), col("_y"), col("_p"),
        (col("_sy") / col("n")).as("_my"))
      .groupBy(col("dims_used"), col("n"))
      .agg(
        sum(round((col("_y") - col("_p")) * (col("_y") - col("_p")), 12)
          .cast(dec)).as("_sse"),
        sum(round((col("_y") - col("_my")) * (col("_y") - col("_my")), 12)
          .cast(dec)).as("_sst"))
      .select(col("dims_used"), col("n"),
        round(col("_sse").cast("double") / col("n"), 6).as("mse"),
        when(col("_sst").cast("double") > 0.0,
          round(lit(1.0) - col("_sse").cast("double") /
            col("_sst").cast("double"), 6)).as("r2"))
      .orderBy(col("dims_used").asc)
  }

  /** k-fold CV weights as a frame `(fold, idx, w)` — fold f's row
    * holds the ridge fit on everything EXCEPT fold f (the held-out
    * evaluation pairs with [[crossValReport]]). */
  def crossValWeights(
      spark: SparkSession, df: DataFrame, vecCol: String, y: Column,
      fold: Column, dim: Int, lambda: Double = 1e-3): DataFrame = {
    import spark.implicits._
    cvFits(df, vecCol, y, fold, dim, lambda)
      .flatMap { case (f, w) =>
        w.zipWithIndex.map { case (wv, i) => (f, i.toLong, wv) }
      }.toDF("fold", "idx", "w")
  }

  /**
   * Held-out metrics per fold: every row is scored by the fit that
   * NEVER saw its fold (a zero-shuffle literal-weights fold per row —
   * the [[score]] contract, dispatched by a fold-keyed when-chain),
   * then `(fold, n_test, mse, r2, accuracy)` from the [[report]]
   * decimal folds; r2 centers on the TEST fold's own mean (NULL when
   * the fold's target is constant).
   */
  def crossValReport(
      df: DataFrame, vecCol: String, y: Column, fold: Column,
      dim: Int, lambda: Double = 1e-3): DataFrame = {
    val fits = cvFits(df, vecCol, y, fold, dim, lambda)
    val base = df
      .filter(col(vecCol).isNotNull && y.isNotNull &&
        size(col(vecCol)) === dim && fold.isNotNull)
      .select(fold.cast("long").as("_f"), y.cast("double").as("_y"),
        col(vecCol).as("_v"))
    val pred = fits.foldLeft(lit(null).cast("double")) {
      case (acc, (f, w)) => when(col("_f") === f, score(col("_v"), w))
        .otherwise(acc)
    }
    // cut: `rows` feeds both the per-fold totals and the metric fold —
    // without it the corpus scan (and the k-way scored when-chain) runs
    // twice (guide §7.2). Narrow (3-column) frame; values unchanged.
    val rows = Materialize.cut(
      base.select(col("_f"), col("_y"), pred.as("_p")))
    val tot = rows.groupBy(col("_f"))
      .agg(count(lit(1)).as("n_test"), sum(col("_y")).as("_sy"))
    rows.join(broadcast(tot), Seq("_f"))
      .select(col("_f"), col("n_test"), col("_y"), col("_p"),
        (col("_sy") / col("n_test")).as("_my"))
      .groupBy(col("_f"), col("n_test"))
      .agg(
        sum(round((col("_y") - col("_p")) * (col("_y") - col("_p")), 12)
          .cast(dec)).as("_sse"),
        sum(round((col("_y") - col("_my")) * (col("_y") - col("_my")), 12)
          .cast(dec)).as("_sst"),
        sum(when((col("_p") >= 0.5) === (col("_y") === 1.0), 1L)
          .otherwise(0L)).as("_hit"))
      .select(col("_f").as("fold"), col("n_test"),
        round(col("_sse").cast("double") / col("n_test"), 6).as("mse"),
        when(col("_sst").cast("double") > 0.0,
          round(lit(1.0) - col("_sse").cast("double") /
            col("_sst").cast("double"), 6)).as("r2"),
        round(col("_hit").cast("double") / col("n_test"), 6)
          .as("accuracy"))
      .orderBy(col("fold").asc)
  }

  /** Fold any union of [[momentPartials]] frames back to one row per
    * cell — exact integer sums, so merge ∘ split ≡ one pass. */
  def mergeMoments(partials: DataFrame): DataFrame =
    partials.groupBy(col("i"), col("j"))
      .agg(sum(col("s")).cast("decimal(38,0)").as("s"))

  /** [[fitRidge]] from a (possibly merged) [[momentPartials]] frame —
    * identical weights by the merge law; the collect is the
    * (d+1)²-cell frame, metadata-sized. */
  def fitRidgeFromMoments(
      moments: DataFrame, dim: Int, lambda: Double = 1e-3): Array[Double] = {
    require(dim >= 1, s"dim must be >= 1, got $dim")
    require(lambda >= 0.0, s"lambda must be >= 0, got $lambda")
    val d1 = dim + 1
    val a = Array.ofDim[Double](d1, d1)
    val b = new Array[Double](d1)
    moments.collect().foreach { r =>
      val i = r.getInt(0); val j = r.getInt(1)
      val s = r.getDecimal(2).doubleValue() / 1e12
      if (j < 0) b(i) = s
      else { a(i)(j) = s; a(j)(i) = s }
    }
    require(a(dim)(dim) > 0, "no rows matched (empty moments)")
    finishFit(a, b, dim, lambda)
  }

  /** The declared-query face of [[fitRidgeFromMoments]] — the
    * [[ridgeWeights]] frame shape, so a merge-law query can share the
    * from-scratch fit's oracle. */
  def ridgeWeightsFromMoments(
      spark: SparkSession, moments: DataFrame, dim: Int,
      lambda: Double = 1e-3): DataFrame = {
    import spark.implicits._
    fitRidgeFromMoments(moments, dim, lambda).zipWithIndex
      .map { case (w, i) => (i.toLong, w) }.toSeq
      .toDF("idx", "w")
  }

  /**
   * Fit ridge weights. Returns `dim + 1` doubles — feature weights then
   * the intercept (index `dim`), each rounded to 9 dp. `lambda` is added
   * to the FEATURE diagonal only (regularizing the intercept would bias
   * the mean). The collect is the (d+1)²-entry moment matrix —
   * metadata-sized by construction, never corpus rows.
   */
  def fitRidge(
      df: DataFrame, vecCol: String, y: Column, dim: Int,
      lambda: Double = 1e-3): Array[Double] = {
    require(dim >= 1, s"dim must be >= 1, got $dim")
    require(lambda >= 0.0, s"lambda must be >= 0, got $lambda")
    val (a, b, n) = momentSumsAgg(df, vecCol, y, dim)
    require(n > 0, "no rows matched (empty input or wrong dim)")
    finishFit(a, b, dim, lambda)
  }

  /** Shared tail of every fit path: feature-diagonal ridge, pivoted
    * solve, 9-dp weight rounding. */
  private[ext] def finishFit(
      a: Array[Array[Double]], b: Array[Double], dim: Int,
      lambda: Double): Array[Double] = {
    var i = 0
    while (i < dim) { a(i)(i) += lambda; i += 1 } // not the intercept
    solve(a, b).map(w =>
      BigDecimal(w).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  /** Gaussian elimination with partial pivoting, in place; fixed
    * driver-side order ⇒ bit-reproducible for identical inputs. */
  private[ext] def solve(
      a: Array[Array[Double]], b: Array[Double]): Array[Double] = {
    val n = b.length
    var col0 = 0
    while (col0 < n) {
      var p = col0
      var r = col0 + 1
      while (r < n) {
        if (math.abs(a(r)(col0)) > math.abs(a(p)(col0))) p = r
        r += 1
      }
      require(a(p)(col0) != 0.0, s"singular moment matrix at column $col0")
      if (p != col0) {
        val tmp = a(p); a(p) = a(col0); a(col0) = tmp
        val tb = b(p); b(p) = b(col0); b(col0) = tb
      }
      r = col0 + 1
      while (r < n) {
        val f = a(r)(col0) / a(col0)(col0)
        if (f != 0.0) {
          var c = col0
          while (c < n) { a(r)(c) -= f * a(col0)(c); c += 1 }
          b(r) -= f * b(col0)
        }
        r += 1
      }
      col0 += 1
    }
    val x = new Array[Double](n)
    var i = n - 1
    while (i >= 0) {
      var s = b(i)
      var c = i + 1
      while (c < n) { s -= a(i)(c) * x(c); c += 1 }
      x(i) = s / a(i)(i)
      i -= 1
    }
    x
  }

  /** The fitted weights as a frame `(idx, w)` — idx 0..dim-1 are feature
    * weights, idx = dim is the intercept. The declared-query face of
    * [[fitRidge]]. */
  def ridgeWeights(
      spark: SparkSession, df: DataFrame, vecCol: String, y: Column,
      dim: Int, lambda: Double = 1e-3): DataFrame = {
    import spark.implicits._
    fitRidge(df, vecCol, y, dim, lambda).zipWithIndex
      .map { case (w, i) => (i.toLong, w) }.toSeq
      .toDF("idx", "w")
  }

  /** Linear score `w · [x, 1]` as an in-order fold against literal
    * weights (zero shuffle; `weights.length = dim + 1`). */
  def score(vecCol: Column, weights: Array[Double]): Column =
    aggregate(
      zip_with(aug(vecCol), lit(weights), (x, w) => x * w),
      lit(0.0), (acc, t) => acc + t)

  /**
   * Fit + evaluate in one call: one row
   * `(n, mse, r2, accuracy)` over the same row universe the fit used —
   * `accuracy` thresholds the linear score at 0.5 (meaningful for 0/1
   * targets; still reported, just less meaningful, for regression).
   * SSE/SST fold 12-dp decimal terms; `r2` is NULL when the target is
   * constant (SST = 0).
   */
  def report(
      df: DataFrame, vecCol: String, y: Column, dim: Int,
      lambda: Double = 1e-3): DataFrame = {
    val w = fitRidge(df, vecCol, y, dim, lambda)
    // cut: `rows` feeds both the scalar totals and the metric fold —
    // without it the corpus scan + score runs twice (guide §7.2).
    val rows = Materialize.cut(df
      .filter(col(vecCol).isNotNull && y.isNotNull &&
        size(col(vecCol)) === dim)
      .select(y.cast("double").as("_y"),
        score(col(vecCol), w).as("_p")))
    val tot = rows.agg(count(lit(1)).as("n"), sum(col("_y")).as("_sy"))
    rows.crossJoin(broadcast(tot))
      .select(col("n"), col("_y"), col("_p"),
        (col("_sy") / col("n")).as("_my"))
      .groupBy(col("n"))
      .agg(
        sum(round((col("_y") - col("_p")) * (col("_y") - col("_p")), 12)
          .cast(dec)).as("_sse"),
        sum(round((col("_y") - col("_my")) * (col("_y") - col("_my")), 12)
          .cast(dec)).as("_sst"),
        sum(when((col("_p") >= 0.5) === (col("_y") === 1.0), 1L)
          .otherwise(0L)).as("_hit"))
      .select(col("n"),
        round(col("_sse").cast("double") / col("n"), 6).as("mse"),
        when(col("_sst").cast("double") > 0.0,
          round(lit(1.0) - col("_sse").cast("double") /
            col("_sst").cast("double"), 6)).as("r2"),
        round(col("_hit").cast("double") / col("n"), 6).as("accuracy"))
  }
}
