package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Embedding-quality evaluation: does the vector space agree with the
 * labels? Leave-one-out kNN classification is the standard probe — if
 * a vector's nearest neighbors mostly carry its own label, the space
 * separates the classes (kNN-recall/probe accuracy in the embedding
 * literature). This is an EVAL-family operator: it runs on a labeled
 * sample, not the corpus — sample-sized all-pairs is the honest exact
 * baseline (the q19 contract), and a corpus-scale variant plugs an ANN
 * neighbor frame ([[AnnIvf.knnJoin]]) into the same vote.
 */
object Eval {

  /**
   * Leave-one-out kNN label agreement: for each labeled vector, its
   * `k` nearest OTHER vectors by cosine vote on a predicted label
   * (majority; vote ties break to the smallest label — deterministic,
   * no hash-map order anywhere). Sims are rounded to 6 dp BEFORE
   * ranking (the q89 determinism rule: an unrounded 1-ulp fold
   * difference must not flip a rank), ranks tie-break by neighbor id.
   * Returns `(idCol, labelCol, pred, correct)` one row per vector —
   * `avg(correct)` is the probe accuracy.
   *
   * Shape: the query side broadcasts (sample-sized by the eval
   * contract); the corpus side never shuffles until the per-query
   * top-k window. Zero-norm vectors get NULL sims and rank last (the
   * [[Similarity]] convention).
   */
  def knnClassify(
      emb: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      labelCol: String = "label",
      k: Int = 5): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val base = emb.filter(col(vecCol).isNotNull && col(labelCol).isNotNull)
    val q = broadcast(base.select(
      col(idCol).as("q_id"), col(vecCol).as("q_emb"),
      Similarity.norm(col(vecCol)).as("q_n"), col(labelCol).as("q_label")))
    val c = base.select(
      col(idCol).as("nn_id"), col(vecCol).as("nn_emb"),
      Similarity.norm(col(vecCol)).as("nn_n"), col(labelCol).as("nn_label"))
    val byRank = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("nn_id").asc)
    val neighbors = c.join(q)
      .filter(col("nn_id") =!= col("q_id"))
      .withColumn("sim", round(
        Similarity.nativeDot(col("q_emb"), col("nn_emb"))
          / nullif(col("q_n") * col("nn_n"), lit(0.0)), 6))
      .withColumn("rank", row_number().over(byRank))
      .filter(col("rank") <= k)
    majorityVote(neighbors, idCol, labelCol)
  }

  /**
   * The shared vote: collapse `(q_id, q_label, nn_label)` neighbor rows
   * to one prediction per query — majority label, vote ties to the
   * smallest label (deterministic, no hash-map order anywhere). One
   * implementation under both [[knnClassify]] and [[knnClassifyAnn]],
   * so the exact and ANN-fed paths can never drift.
   */
  private def majorityVote(
      neighbors: DataFrame, idCol: String, labelCol: String): DataFrame = {
    val byVotes = Window.partitionBy(col("q_id"))
      .orderBy(col("votes").desc, col("nn_label").asc)
    neighbors
      .groupBy(col("q_id"), col("q_label"), col("nn_label"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("_vr", row_number().over(byVotes))
      .filter(col("_vr") === 1)
      .select(col("q_id").as(idCol), col("q_label").as(labelCol),
        col("nn_label").as("pred"),
        (col("q_label") === col("nn_label")).cast("long").as("correct"))
  }

  /**
   * Corpus-scale kNN label agreement: the [[knnClassify]] vote fed by a
   * precomputed ANN neighbor frame (`(q_id, nn_id, sim, rank)` — the
   * [[AnnIvf.knnJoin]] shape, `excludeSelf` already applied) instead of
   * the all-pairs scan. This is how the probe runs on the FULL corpus: candidate generation is the IVF cell
   * equi-join (bounded per cell, never all-pairs), and the vote itself
   * is two shuffled label joins plus the shared [[majorityVote]].
   *
   * `labels` maps `idCol → labelCol`; rows with NULL labels are
   * dropped on BOTH sides (a labelless vector neither votes nor gets
   * classified). For strict leave-one-out equivalence with
   * [[knnClassify]], build the neighbor frame over the labeled subset
   * only — an unlabeled neighbor inside the frame's top-k would
   * otherwise consume a rank that [[knnClassify]] never ranked — and
   * with `kNeighbors >= k` at full probe coverage (`nprobe >=` the
   * centroid count); under partial probes the vote is approximate in
   * exactly the way the neighbor frame is (EvalSpec pins the
   * equivalence law).
   */
  def knnClassifyAnn(
      neighbors: DataFrame, labels: DataFrame,
      idCol: String = "vec_id", labelCol: String = "label",
      k: Int = 5): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val lab = labels.filter(col(labelCol).isNotNull)
      .select(col(idCol), col(labelCol))
    majorityVote(
      neighbors.filter(col("rank") <= k)
        .join(lab.select(col(idCol).as("nn_id"),
          col(labelCol).as("nn_label")), "nn_id")
        .join(lab.select(col(idCol).as("q_id"),
          col(labelCol).as("q_label")), "q_id"),
      idCol, labelCol)
  }

  /**
   * Hard-negative mining for contrastive training: per anchor, the
   * top-`k` most-similar vectors with a DIFFERENT label — the pairs
   * that carry the training signal (an easy negative teaches nothing;
   * a near-duplicate with a different label is exactly the decision
   * boundary). Returns `(q_id, q_label, nn_id, nn_label, sim, rank)`;
   * sims round to 6 dp before ranking (the [[knnClassify]] float rule),
   * ranks tie-break by neighbor id.
   *
   * It carries the same broadcast-probe eval contract as
   * [[knnClassify]] (anchor side sample-sized).
   */
  def hardNegatives(
      emb: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      labelCol: String = "label",
      k: Int = 5): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val base = emb.filter(col(vecCol).isNotNull && col(labelCol).isNotNull)
    val q = broadcast(base.select(
      col(idCol).as("q_id"), col(vecCol).as("q_emb"),
      Similarity.norm(col(vecCol)).as("q_n"), col(labelCol).as("q_label")))
    val c = base.select(
      col(idCol).as("nn_id"), col(vecCol).as("nn_emb"),
      Similarity.norm(col(vecCol)).as("nn_n"), col(labelCol).as("nn_label"))
    rankCrossLabel(
      c.join(q)
        .filter(col("nn_id") =!= col("q_id"))
        .withColumn("sim", round(
          Similarity.nativeDot(col("q_emb"), col("nn_emb"))
            / nullif(col("q_n") * col("nn_n"), lit(0.0)), 6)), k)
  }

  /** The hard-negative core: keep cross-label pairs, re-rank by
    * `(sim desc, nn_id)` per anchor, cut at `k`. */
  private def rankCrossLabel(pairs: DataFrame, k: Int): DataFrame = {
    val byRank = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("nn_id").asc)
    pairs
      .filter(col("q_label") =!= col("nn_label"))
      .withColumn("rank", row_number().over(byRank))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("q_label"), col("nn_id"), col("nn_label"),
        col("sim"), col("rank").cast("long").as("rank"))
  }

  /**
   * Label-noise candidates by neighborhood disagreement (the
   * confident-learning heuristic, Northcutt 2021-style): a labeled item
   * whose in-frame neighbors vote its OWN label below `flagBelow` is
   * flagged, with the strongest competing label attached — the triage
   * list an annotation-quality pass starts from. Fed by the same
   * neighbor frame as [[knnClassifyAnn]] (self-pairs excluded, ANN or
   * exact), so at corpus scale candidates come from the bounded IVF
   * cell join, never all-pairs.
   *
   * `own_frac` rounds to 6 dp BEFORE the threshold compare (the engine
   * float rule), and the competing label breaks vote ties to the
   * smallest label. An item whose neighbors ALL share its label has a
   * NULL `top_other` (and can't be flagged). NULL-label rows drop on
   * both sides.
   *
   * Returns the flagged rows only:
   * `(idCol, labelCol, n_votes, own_votes, own_frac, top_other,
   * other_votes)`.
   */
  def labelNoise(
      neighbors: DataFrame, labels: DataFrame,
      idCol: String = "vec_id", labelCol: String = "label",
      k: Int = 5, flagBelow: Double = 0.4): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(flagBelow > 0.0 && flagBelow <= 1.0,
      s"flagBelow must be in (0, 1], got $flagBelow")
    val lab = labels.filter(col(labelCol).isNotNull)
      .select(col(idCol), col(labelCol))
    val n = neighbors.filter(col("rank") <= k)
      .join(lab.select(col(idCol).as("nn_id"),
        col(labelCol).as("nn_label")), "nn_id")
      .join(lab.select(col(idCol).as("q_id"),
        col(labelCol).as("q_label")), "q_id")
    val agg = n.groupBy(col("q_id"), col("q_label"))
      .agg(count(lit(1)).as("n_votes"),
        sum((col("nn_label") === col("q_label")).cast("long"))
          .as("own_votes"))
    val byVotes = Window.partitionBy(col("q_id"))
      .orderBy(col("votes").desc, col("nn_label").asc)
    val others = n
      .filter(col("nn_label") =!= col("q_label"))
      .groupBy(col("q_id"), col("nn_label"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("_r", row_number().over(byVotes))
      .filter(col("_r") === 1)
      .select(col("q_id"), col("nn_label").as("top_other"),
        col("votes").as("other_votes"))
    agg.join(others, Seq("q_id"), "left")
      .withColumn("own_frac", round(
        col("own_votes").cast("double") / col("n_votes").cast("double"), 6))
      .filter(col("own_frac") < flagBelow)
      .select(col("q_id").as(idCol), col("q_label").as(labelCol),
        col("n_votes"), col("own_votes"), col("own_frac"),
        col("top_other"), coalesce(col("other_votes"), lit(0L))
          .as("other_votes"))
  }

  /**
   * Contingency matrix over a classified frame (the [[knnClassify]]
   * output, or any (label, pred) pairing): cell counts plus the
   * within-label share (per-class recall on the diagonal — "which
   * classes does the space confuse?"). The share is one IEEE division
   * of exact counts rounded to 6 dp; output is CLASS²-sized regardless
   * of sample size.
   */
  def confusion(
      classified: DataFrame,
      labelCol: String = "label",
      predCol: String = "pred"): DataFrame = {
    // ONE pass over `classified` (guide §7.2 — the input is typically an
    // expensive classifier pipeline, e.g. q116's all-pairs kNN vote): the
    // class²-sized cell frame is cut once and the row marginal folds from
    // it by exact integer sums — identical counts, not a re-scan.
    val cells = Materialize.cut(
      classified.groupBy(col(labelCol), col(predCol))
        .agg(count(lit(1)).as("n")))
    val totals = cells.groupBy(col(labelCol))
      .agg(sum(col("n")).as("_row_n"))
    cells.join(broadcast(totals), Seq(labelCol))
      .select(col(labelCol), col(predCol), col("n"),
        round(col("n") / col("_row_n"), 6).as("share"))
  }

  /**
   * Per-class precision / recall / F1 over a classified frame (the
   * [[knnClassify]] / [[knnClassifyAnn]] output, or any (label, pred)
   * pairing) — the summary an eval report ships next to the
   * [[confusion]] matrix. One row per label observed on EITHER axis:
   * `support` (true count), `precision` (diag / predicted count, NULL
   * when the label is never predicted), `recall` (diag / support, NULL
   * when the label never truly occurs), `f1` (harmonic mean, NULL when
   * either side is NULL or both are zero). All three are derived from
   * exact integer counts with IEEE divisions in a fixed order, rounded
   * 6 dp — cross-engine reproducible. Output is CLASS-sized.
   */
  def classificationReport(
      classified: DataFrame,
      labelCol: String = "label",
      predCol: String = "pred"): DataFrame = {
    // ONE pass over `classified` (the [[confusion]] rule): both axis
    // marginals and the diagonal fold from the cut class²-sized cell
    // frame by exact integer sums — identical counts to the three
    // direct scans this replaced.
    val cells = Materialize.cut(
      classified.groupBy(col(labelCol).as("__l"), col(predCol).as("__p"))
        .agg(count(lit(1)).as("__n")))
    val truth = cells.groupBy(col("__l").as("class"))
      .agg(sum(col("__n")).as("support"))
    val predicted = cells.groupBy(col("__p").as("class"))
      .agg(sum(col("__n")).as("_pred_n"))
    val diag = cells.filter(col("__l") === col("__p"))
      .groupBy(col("__l").as("class"))
      .agg(sum(col("__n")).as("_diag"))
    // a missing diagonal row means ZERO correct predictions, not unknown:
    // coalesce so "predicted but always wrong" reads precision 0.0 and
    // "occurs but never found" reads recall 0.0; the NULLs that remain
    // are the genuinely undefined axes (never predicted / never true)
    val d = coalesce(col("_diag"), lit(0L))
    val p = d / col("_pred_n")
    val r = d / col("support")
    truth
      .join(predicted, Seq("class"), "full_outer")
      .join(diag, Seq("class"), "left")
      .select(col("class"),
        coalesce(col("support"), lit(0L)).as("support"),
        round(p, 6).as("precision"),
        round(r, 6).as("recall"),
        round(lit(2.0) * p * r / nullif(p + r, lit(0.0)), 6).as("f1"))
  }

  /**
   * Exact Spearman rank correlation between two columns — the
   * monotone-association check an audit runs between metrics that
   * should agree (token count vs char count, quality score vs LM
   * score). Returns one row `(n, rho)`; `n < 2` yields NULL rho.
   *
   * Default (`tieAverage = true`) is the TEXTBOOK form every stats
   * package computes: fractional average ranks for ties, then the
   * Pearson correlation of the two rank vectors (integer metrics like
   * token counts tie heavily, where the simplified `1 − 6Σd²/…`
   * formula diverges). Exactness trick: a tie group's average rank is
   * `(min + max)/2` of its `row_number`s, so the DOUBLED rank
   * `min + max` is always an integer — all sums (Σr, Σr², Σr·r') run
   * in exact decimal arithmetic, Pearson is scale-invariant so the
   * doubling cancels, and the only float ops are the final two sqrts
   * and one division, rounded 6 dp. A zero-variance column (all values
   * tied) has no defined rank correlation → NULL rho (the NaN of
   * scipy/R, surfaced as SQL NULL).
   *
   * `tieAverage = false` keeps the prior deterministic variant: ranks
   * from `row_number` over the `(value, idCol)` total order (id
   * tiebreak in place of averaged tie-ranks) and the `1 − 6Σd²/…`
   * simplification — useful when a downstream contract needs a total
   * order even under ties, at the cost of diverging from textbook ρ
   * on tied data.
   *
   * SCALE shape (tieAverage = true): doubled tie-averaged ranks come
   * from the GROUPED value frames — per distinct value v with t rows
   * and B rows strictly below, `2B + t + 1` — so the only ordered
   * windows run over the two DISTINCT-value frames (value-cardinality
   * cost, the ksTest lift) and ranks reach rows through two equi-joins
   * on the value, fully shuffle-parallel. The `tieAverage = false`
   * variant genuinely needs a row-level global total order (its id
   * tiebreak is per-row), so ITS `row_number` windows stay
   * single-partition — that variant keeps the labeled-sample contract
   * (the q108 contract), not the raw corpus.
   */
  /**
   * Cohen's kappa over a classified frame — chance-corrected agreement
   * between the label and prediction axes, the companion scalar to
   * [[confusion]]/[[classificationReport]] (κ = (p_o − p_e)/(1 − p_e)).
   * Everything up to the final division is EXACT: p_o's numerator is the
   * diagonal count, p_e's is Σ_c support_c·predicted_c, and the kappa
   * ratio is algebraically cleared of both denominators —
   * κ = (N·diag − S)/(N² − S) with S = Σ support·predicted — so the only
   * float ops are the three final divisions, each rounded 6 dp.
   * Returns one row `(n, po, pe, kappa)`; kappa is NULL when the
   * expected agreement is 1 (a single class on both axes — κ undefined,
   * the NaN of sklearn surfaced as SQL NULL) or when `n = 0`.
   *
   * Output is 1-row from CLASS-sized partials — scale-free.
   */
  def cohensKappa(
      classified: DataFrame,
      labelCol: String = "label",
      predCol: String = "pred"): DataFrame = {
    val dec = "decimal(38,0)"
    // ONE pass over `classified` (the [[confusion]] rule): marginals,
    // total and diagonal all fold from the cut class²-sized cell frame
    // by exact integer sums — identical counts to the three direct
    // scans this replaced. NULL semantics preserved: a NULL label/pred
    // forms its own cell (groupBy keeps NULL keys) exactly as before,
    // and the original per-row `(label === pred).cast(long)` summed
    // NULL for any NULL-keyed row — i.e. contributed nothing — which
    // the null-safe filter below reproduces.
    val cells = Materialize.cut(
      classified.groupBy(col(labelCol).as("__l"), col(predCol).as("__p"))
        .agg(count(lit(1)).as("__n")))
    val truth = cells.groupBy(col("__l").as("class"))
      .agg(sum(col("__n")).cast(dec).as("_sup"))
    val predicted = cells.groupBy(col("__p").as("class"))
      .agg(sum(col("__n")).cast(dec).as("_prd"))
    val s = truth.join(predicted, Seq("class"))
      .agg(coalesce(sum(col("_sup") * col("_prd")), lit(0).cast(dec))
        .as("_s"))
      .withColumn("_j", lit(1))
    val totals = cells.agg(
      coalesce(sum(col("__n")), lit(0L)).cast(dec).as("_n"),
      coalesce(sum(when(col("__l") === col("__p"), col("__n"))), lit(0L))
        .cast(dec).as("_diag"))
      .withColumn("_j", lit(1))
    totals.join(s, Seq("_j")) // 1×1 — two scalar frames, not a data join
      .select(col("_n").cast("long").as("n"),
        round(col("_diag").cast("double")
          / nullif(col("_n").cast("double"), lit(0.0)), 6).as("po"),
        round(col("_s").cast("double")
          / nullif((col("_n") * col("_n")).cast("double"), lit(0.0)), 6)
          .as("pe"),
        round((col("_n") * col("_diag") - col("_s")).cast("double")
          / nullif((col("_n") * col("_n") - col("_s")).cast("double"),
            lit(0.0)), 6).as("kappa"))
  }

  /**
   * Fleiss' kappa over k ≥ 2 BINARY raters — chance-corrected
   * multi-rater agreement, the curation audit "do my independent
   * keep/drop quality screens agree beyond chance, or only as often as
   * their base rates force?" ([[cohensKappa]] compares exactly two
   * axes; Fleiss generalizes to a fixed rater panel). Items with any
   * NULL rating drop (Fleiss requires a complete rating matrix).
   *
   * Exact arithmetic (the [[cohensKappa]] rule): with M = N·k,
   * A = Σᵢ(n₁ᵢ² + n₀ᵢ²) and Q = S₁² + (M − S₁)² (all integer
   * aggregates; n₁ᵢ = positive votes on item i, S₁ = Σn₁ᵢ),
   * P̄ = (A − M)/(M(k−1)), P̄ₑ = Q/M², and the kappa ratio clears every
   * denominator — κ = (M(A−M) − (k−1)Q)/((k−1)(M² − Q)) — so the only
   * float ops are the three final divisions, each rounded 6 dp. κ is
   * NULL when P̄ₑ = 1 (one unanimous category everywhere — undefined).
   * Returns one row `(n_items, p_bar, p_e, kappa)`.
   *
   * 1-row output from a narrow projection + one aggregate — scale-free.
   */
  def fleissKappaBinary(df: DataFrame, raters: Seq[Column]): DataFrame = {
    require(raters.size >= 2, s"need >= 2 raters, got ${raters.size}")
    val k = raters.size
    val dec = "decimal(38,0)"
    val n1 = raters.map(_.cast("boolean").cast("long")).reduce(_ + _)
    val anyNull = raters.map(_.isNull).reduce(_ || _)
    df.filter(!anyNull)
      .select(n1.as("_n1"))
      .agg(count(lit(1)).cast(dec).as("_n"),
        coalesce(sum(col("_n1")), lit(0L)).cast(dec).as("_s1"),
        coalesce(sum(col("_n1") * col("_n1") +
          (lit(k.toLong) - col("_n1")) * (lit(k.toLong) - col("_n1"))),
          lit(0L)).cast(dec).as("_a"))
      .withColumn("_m", col("_n") * k)
      .withColumn("_q", col("_s1") * col("_s1") +
        (col("_m") - col("_s1")) * (col("_m") - col("_s1")))
      .select(col("_n").cast("long").as("n_items"),
        round((col("_a") - col("_m")).cast("double")
          / nullif((col("_m") * (k - 1)).cast("double"), lit(0.0)), 6)
          .as("p_bar"),
        round(col("_q").cast("double")
          / nullif((col("_m") * col("_m")).cast("double"), lit(0.0)), 6)
          .as("p_e"),
        round((col("_m") * (col("_a") - col("_m")) - lit(k - 1) * col("_q"))
          .cast("double")
          / nullif((lit(k - 1) * (col("_m") * col("_m") - col("_q")))
            .cast("double"), lit(0.0)), 6).as("kappa"))
  }

  /**
   * Krippendorff's alpha over k ≥ 2 BINARY raters with MISSING ratings
   * allowed — the agreement coefficient for the realistic panel where
   * screens ABSTAIN ([[fleissKappaBinary]] requires a complete rating
   * matrix and drops any item with a NULL; alpha keeps the item and
   * weights it by its pairable ratings). Items with fewer than 2
   * non-NULL ratings carry no pairable information and drop (the
   * textbook rule).
   *
   * Coincidence-matrix closed form for the binary nominal case:
   * with per-item positive votes n₁ᵢ of mᵢ ratings,
   * `D_o·n = Σᵢ 2·n₁ᵢ·(mᵢ−n₁ᵢ)/(mᵢ−1)` and
   * `D_e·n = 2·n₁·n₀/(n−1)` over the marginals, so
   * `α = 1 − (n−1)·Σᵢ[...] / (2·n₁·n₀)`. EXACT arithmetic: items
   * group by mᵢ (≤ k−1 groups), the per-group pair sums are integers,
   * and scaling by `L = lcm(1..k−1)` clears the `mᵢ−1` denominators —
   * every aggregate is integer/decimal, the only float ops are the
   * three output divisions, rounded 6 dp. Returns one row
   * `(n_items, n_ratings, d_o, d_e, alpha)`; alpha is NULL when a
   * single category owns every rating (D_e = 0 — undefined).
   *
   * 1-row output from one narrow projection, a ≤(k−1)-row group frame,
   * and one fold — scale-free.
   */
  def krippendorffAlphaBinary(
      df: DataFrame, raters: Seq[Column]): DataFrame = {
    require(raters.size >= 2, s"need >= 2 raters, got ${raters.size}")
    val k = raters.size
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    val L = (1 until k).foldLeft(1L)((acc, m) => acc / gcd(acc, m) * m)
    val dec = "decimal(38,0)"
    val ratings = raters.map(_.cast("boolean").cast("long"))
    val m = ratings.map(r => when(r.isNotNull, 1L).otherwise(0L))
      .reduce(_ + _)
    val n1 = ratings.map(r => coalesce(r, lit(0L))).reduce(_ + _)
    // L/(m-1) is exact by construction ((m-1) | L for m ≤ k), so the
    // double round-trip is a safe integer carrier for these tiny values
    val lOverM1 = (lit(L.toDouble) / (col("_m") - 1).cast("double"))
      .cast("long")
    df.select(m.as("_m"), n1.as("_n1"))
      .filter(col("_m") >= 2)
      .groupBy(col("_m"))
      .agg(count(lit(1)).as("_items"),
        coalesce(sum(col("_n1")), lit(0L)).as("_s1"),
        coalesce(sum(col("_n1") * (col("_m") - col("_n1"))), lit(0L))
          .as("_t"))
      .agg(
        coalesce(sum(col("_items")), lit(0L)).cast(dec).as("_ni"),
        coalesce(sum(col("_items") * col("_m")), lit(0L)).cast(dec)
          .as("_n"),
        coalesce(sum(col("_s1")), lit(0L)).cast(dec).as("_p"),
        coalesce(sum(lit(2L) * col("_t") * lOverM1), lit(0L)).cast(dec)
          .as("_do_scaled"))
      .withColumn("_q", col("_n") - col("_p")) // negative-vote marginal
      .select(col("_ni").cast("long").as("n_items"),
        col("_n").cast("long").as("n_ratings"),
        round(col("_do_scaled").cast("double")
          / nullif((lit(L) * col("_n")).cast("double"), lit(0.0)), 6)
          .as("d_o"),
        round((lit(2L) * col("_p") * col("_q")).cast("double")
          / nullif((col("_n") * (col("_n") - 1)).cast("double"),
            lit(0.0)), 6).as("d_e"),
        round((lit(2L) * lit(L) * col("_p") * col("_q")
            - (col("_n") - 1) * col("_do_scaled")).cast("double")
          / nullif((lit(2L) * lit(L) * col("_p") * col("_q"))
            .cast("double"), lit(0.0)), 6).as("alpha"))
  }

  /**
   * Exact ROC-AUC of a score against a binary label via the
   * Mann–Whitney U statistic with TEXTBOOK tie handling: tied scores get
   * fractional average ranks, and AUC = (ΣR₊ − P(P+1)/2)/(P·N). The
   * [[spearman]] doubled-rank trick keeps it exact — a tie group's
   * average rank is (min+max)/2 of its positions, so the DOUBLED
   * rank is an integer, all sums run in decimal, and
   * AUC = (Σ2R₊ − P(P+1))/(2·P·N) needs exactly one float division,
   * rounded 6 dp. Rows with a NULL score or label are dropped; any
   * non-zero label is positive. Returns one row `(n_pos, n_neg, auc)`;
   * AUC is NULL when either class is absent (undefined, sklearn's
   * error surfaced as SQL NULL).
   *
   * SCALE shape: ranks come from the GROUPED score frame (per distinct
   * score s with t rows and B rows strictly below, the doubled
   * tie-averaged rank is 2B + t + 1 — an integer), so the rows
   * aggregate map-side into per-score (t, pos) counts first and the one
   * ordered cumulative window runs over the DISTINCT-score frame:
   * cost is score-cardinality, not row count (the ksTest lift).
   * `idCol` is kept for API stability; tie-averaged ranks never depend
   * on the id tiebreak.
   */
  def rocAuc(
      df: DataFrame, scoreCol: String, labelCol: String,
      idCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val wB = Window.orderBy(col("_s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.filter(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .select(col(scoreCol).as("_s"),
        (col(labelCol) =!= 0).cast("long").as("_pos"))
      .groupBy(col("_s"))
      .agg(count(lit(1)).as("_t"), sum(col("_pos")).as("_gp"))
      .select(col("_t"), col("_gp"),
        (lit(2L) * coalesce(sum(col("_t")).over(wB), lit(0L)) +
          col("_t") + 1L).cast(dec).as("_dr"))
      .agg(
        coalesce(sum(col("_gp")), lit(0L)).cast(dec).as("_p"),
        coalesce(sum(col("_t") - col("_gp")), lit(0L)).cast(dec).as("_m"),
        coalesce(sum(col("_gp").cast(dec) * col("_dr")), lit(0).cast(dec))
          .as("_srp"))
      .select(col("_p").cast("long").as("n_pos"),
        col("_m").cast("long").as("n_neg"),
        round((col("_srp") - col("_p") * (col("_p") + 1)).cast("double")
          / nullif((lit(2).cast(dec) * col("_p") * col("_m")).cast("double"),
            lit(0.0)), 6).as("auc"))
  }

  /** Shared binning core of [[calibrationCurve]] and [[ece]]: confidence
    * rounded to 6 dp as decimal BEFORE binning (bin edges then agree
    * across engines bit-for-bit), clamped to [0,1], bucketed into
    * `bins` equal-width bins with 1.0 folded into the top bin. Per-bin
    * decimal conf sums keep everything order-independent. */
  private def binned(
      df: DataFrame, confCol: String, labelCol: String,
      bins: Int): DataFrame = {
    require(bins > 0, s"bins must be positive, got $bins")
    val c6 = least(greatest(round(col(confCol), 6), lit(0.0)), lit(1.0))
      .cast("decimal(10,6)")
    df.filter(col(confCol).isNotNull && col(labelCol).isNotNull)
      .select(
        least(floor(c6 * bins).cast("long"), lit(bins - 1L)).as("bin"),
        c6.as("_c"), (col(labelCol) =!= 0).cast("long").as("_pos"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(col("_c")).cast("decimal(28,6)").as("_sc"),
        sum(col("_pos")).as("_np"))
  }

  /**
   * Reliability-diagram bins (sklearn's `calibration_curve`): equal-width
   * confidence bins, one row `(bin, n, mean_conf, frac_pos)` per
   * NON-EMPTY bin — does P(y=1 | conf ∈ bin) track the stated
   * confidence? Confidences are rounded 6 dp and summed as decimals
   * (order-independent, cross-engine exact); the two per-bin means are
   * the only float divisions, rounded 6 dp. Output is BIN-sized.
   */
  def calibrationCurve(
      df: DataFrame, confCol: String, labelCol: String,
      bins: Int = 10): DataFrame =
    binned(df, confCol, labelCol, bins)
      .select(col("bin"), col("n"),
        round(col("_sc").cast("double") / col("n"), 6).as("mean_conf"),
        round(col("_np").cast("double") / col("n"), 6).as("frac_pos"))

  /**
   * Expected calibration error over the same equal-width bins:
   * ECE = Σ_b (n_b/N)·|mean_conf_b − frac_pos_b|. Because both means in
   * a bin share the denominator n_b, the weighted gap telescopes to
   * EXACT decimal arithmetic — ECE = (Σ_b |Σconf_b − n_pos_b|)/N — so
   * the whole statistic is one decimal sum and one final float
   * division, rounded 6 dp. Returns one row `(n, ece)`; NULL when
   * `n = 0`.
   */
  def ece(
      df: DataFrame, confCol: String, labelCol: String,
      bins: Int = 10): DataFrame =
    binned(df, confCol, labelCol, bins)
      .agg(coalesce(sum(col("n")), lit(0L)).as("n"),
        sum(abs(col("_sc") - col("_np").cast("decimal(28,6)"))).as("_gap"))
      .select(col("n"),
        round(col("_gap").cast("double")
          / nullif(col("n").cast("double"), lit(0.0)), 6).as("ece"))

  /**
   * Isotonic calibration over [[calibrationCurve]]'s equal-width bins:
   * the pool-adjacent-violators fit that [[ece]] diagnoses the need
   * for. PAV's closed form is the minimax identity
   * `iso(k) = max_{i≤k} min_{j≥k} rate(i..j)` over weighted block
   * averages, so instead of the sequential pooling loop (inherently
   * serial) the fit is three BOUNDED relational steps on the bin
   * frame: prefix sums over the bin order, all `(i, j)` block averages
   * from prefix differences (bins² rows), and a bins³-row grid reduced
   * by min-then-max. Every block average is ONE double division of
   * exact long counts and min/max only SELECT among those doubles
   * (no float accumulation) — bit-identical cross-engine, rounded 6 dp
   * at the very end.
   *
   * Output: one row `(bin, n, mean_conf, frac_pos, iso_rate)` per
   * non-empty bin; `iso_rate` is non-decreasing in `bin` (the PAV
   * guarantee) and pools exactly the adjacent bins whose raw
   * `frac_pos` inverts. Empty bins carry zero weight, so running PAV
   * on the non-empty subsequence is the exact fit.
   *
   * Shape at scale: one hash aggregate to BIN-sized, then windows and
   * joins over frames of at most `bins` rows (broadcast
   * nested-loop by construction) — the corpus is touched once.
   */
  def isotonicCalibration(
      df: DataFrame, confCol: String, labelCol: String,
      bins: Int = 10): DataFrame = {
    val wOrd = Window.orderBy(col("bin").asc)
    val wPre = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pre = binned(df, confCol, labelCol, bins)
      .select(col("bin"), col("n"), col("_sc"), col("_np"),
        row_number().over(wOrd).cast("long").as("_k"),
        sum(col("n")).over(wPre).as("_cn"),
        sum(col("_np")).over(wPre).as("_cp"))
    val lo = pre.select(col("_k").as("_i"),
      (col("_cn") - col("n")).as("_n0"), (col("_cp") - col("_np")).as("_p0"))
    val hi = pre.select(col("_k").as("_j"),
      col("_cn").as("_n1"), col("_cp").as("_p1"))
    val blocks = broadcast(lo).join(hi, col("_i") <= col("_j"))
      .select(col("_i"), col("_j"),
        ((col("_p1") - col("_p0")).cast("double")
          / (col("_n1") - col("_n0")).cast("double")).as("_avg"))
    val fit = blocks
      .join(broadcast(pre.select(col("_k"))),
        col("_i") <= col("_k") && col("_j") >= col("_k"))
      .groupBy(col("_k"), col("_i")).agg(min(col("_avg")).as("_m"))
      .groupBy(col("_k")).agg(max(col("_m")).as("_iso"))
    pre.join(fit, Seq("_k"))
      .select(col("bin"), col("n"),
        round(col("_sc").cast("double") / col("n"), 6).as("mean_conf"),
        round(col("_np").cast("double") / col("n"), 6).as("frac_pos"),
        round(col("_iso"), 6).as("iso_rate"))
  }

  /** Shared threshold chain of [[prCurve]] and [[averagePrecision]]:
    * scores collapse to distinct-threshold groups (ties predict
    * together — the sklearn convention), then two cumulative sums over
    * descending threshold order give predicted-count and TP-count at
    * each cut. The ordered window is THRESHOLD-sized (distinct scores),
    * not row-sized. */
  private def thresholds(
      df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val desc = Window.orderBy(col("threshold").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.filter(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .groupBy(col(scoreCol).as("threshold"))
      .agg(count(lit(1)).as("_n"),
        coalesce(sum((col(labelCol) =!= 0).cast("long")), lit(0L))
          .as("_np"))
      .withColumn("predicted", sum(col("_n")).over(desc))
      .withColumn("tp", sum(col("_np")).over(desc))
  }

  /**
   * Precision-recall curve at every distinct score threshold: predict
   * positive where `score >= threshold`, one row per distinct score
   * with exact `(predicted, tp)` counts and their two IEEE divisions,
   * rounded 6 dp. Recall is NULL when no positives exist (undefined,
   * not 0). Tied scores enter together — the highest-precision point a
   * threshold can actually realize (the sklearn convention).
   *
   * EVAL-contract shape: output and the ordered window are
   * DISTINCT-SCORE-sized — run on a labeled sample or a
   * rounded/banded score.
   */
  def prCurve(
      df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val p = thresholds(df, scoreCol, labelCol)
      .withColumn("_j", lit(1))
    val totals = p.groupBy(col("_j"))
      .agg(max(col("tp")).as("_pos")) // the last cumsum = total positives
    p.join(totals, Seq("_j"))
      .select(col("threshold"), col("predicted"), col("tp"),
        round(col("tp").cast("double") / col("predicted"), 6)
          .as("precision"),
        round(col("tp").cast("double")
          / nullif(col("_pos").cast("double"), lit(0.0)), 6).as("recall"))
  }

  /**
   * Average precision (the area under [[prCurve]] by the step rule
   * sklearn uses): AP = Σ_t ΔR_t·P_t = (1/P)·Σ_t n_pos_t·(tp_t/k_t).
   * Each threshold's term is rounded to 9 dp and summed as a decimal
   * (order-independent); the only other float op is the final /P,
   * rounded 6 dp. Returns one row `(n, n_pos, ap)`; AP is NULL when no
   * positives exist.
   */
  def averagePrecision(
      df: DataFrame, scoreCol: String, labelCol: String): DataFrame =
    thresholds(df, scoreCol, labelCol)
      .select(col("_n"), col("_np"),
        when(col("_np") > 0, round(
          col("_np").cast("double")
            * (col("tp").cast("double") / col("predicted").cast("double")),
          9).cast("decimal(28,9)"))
          .otherwise(lit(0).cast("decimal(28,9)")).as("_term"))
      .agg(coalesce(sum(col("_n")), lit(0L)).as("n"),
        coalesce(sum(col("_np")), lit(0L)).as("n_pos"),
        coalesce(sum(col("_term")), lit(0).cast("decimal(38,9)"))
          .as("_s"))
      .select(col("n"), col("n_pos"),
        round(col("_s").cast("double")
          / nullif(col("n_pos").cast("double"), lit(0.0)), 6).as("ap"))

  /**
   * Brier score — the squared-error companion to [[ece]] on the same
   * confidence contract: mean((conf − y)²) over 6-dp decimal
   * confidences (clamped to [0,1] like [[calibrationCurve]]), so every
   * squared term is an EXACT decimal and the only float op is the final
   * mean, rounded 6 dp. Returns one row `(n, brier)`; NULL when `n = 0`.
   * Unlike ECE it needs no binning choice — the two together separate
   * calibration error from resolution.
   */
  def brierScore(
      df: DataFrame, confCol: String, labelCol: String): DataFrame = {
    val c6 = least(greatest(round(col(confCol), 6), lit(0.0)), lit(1.0))
      .cast("decimal(10,6)")
    df.filter(col(confCol).isNotNull && col(labelCol).isNotNull)
      .select((c6 - (col(labelCol) =!= 0).cast("int")).as("_d"))
      .select((col("_d") * col("_d")).as("_sq"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(col("_sq")), lit(0).cast("decimal(38,12)")).as("_s"))
      .select(col("n"),
        round(col("_s").cast("double")
          / nullif(col("n").cast("double"), lit(0.0)), 6).as("brier"))
  }

  /**
   * Corpus-level retrieval metrics over a ranked result frame (the
   * [[ndcgAtK]] input shape plus a per-query relevant-total frame):
   * one row `(n_q, mrr, p_at_k, r_at_k)` —
   * MRR averages 1/first-relevant-rank (0 for a query with nothing
   * relevant retrieved — the standard convention), precision@k averages
   * in-top-k relevant/k over ALL queries, recall@k averages
   * in-top-k relevant/total-relevant over the queries where
   * `totalRel.n_rel > 0` (the others have no defined recall). Per-query
   * terms are exact rationals rounded to 9-dp decimals, so the three
   * means are order-independent; the final divisions round 6 dp.
   *
   * `ranked` rows beyond rank `k` are ignored; queries present in
   * `totalRel` but absent from `ranked` (retrieved nothing) still count
   * — with zero relevant retrieved — which is what makes the metrics
   * honest about recall failures, not just ranking quality.
   */
  def retrievalMetrics(
      ranked: DataFrame, totalRel: DataFrame, qCol: String,
      rankCol: String, relCol: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val dec = "decimal(28,9)"
    val perQ = ranked.filter(col(rankCol) <= k)
      .groupBy(col(qCol))
      .agg(
        coalesce(sum((col(relCol) =!= 0).cast("long")), lit(0L))
          .as("_hits"),
        min(when(col(relCol) =!= 0, col(rankCol))).as("_first"))
    totalRel
      .join(perQ, Seq(qCol), "left")
      .select(
        coalesce(col("_hits"), lit(0L)).as("_hits"),
        col("_first"), col("n_rel"))
      .select(
        when(col("_first").isNotNull,
          round(lit(1.0) / col("_first").cast("double"), 9).cast(dec))
          .otherwise(lit(0).cast(dec)).as("_rr"),
        round(col("_hits").cast("double") / k, 9).cast(dec).as("_p"),
        when(col("n_rel") > 0,
          round(col("_hits").cast("double") / col("n_rel").cast("double"),
            9).cast(dec)).as("_r"))
      .agg(count(lit(1)).as("n_q"),
        coalesce(sum(col("_rr")), lit(0).cast(dec)).as("_srr"),
        coalesce(sum(col("_p")), lit(0).cast(dec)).as("_sp"),
        coalesce(sum(col("_r")), lit(0).cast(dec)).as("_sr"),
        coalesce(sum(col("_r").isNotNull.cast("long")), lit(0L)).as("_nr"))
      .select(col("n_q"),
        round(col("_srr").cast("double")
          / nullif(col("n_q").cast("double"), lit(0.0)), 6).as("mrr"),
        round(col("_sp").cast("double")
          / nullif(col("n_q").cast("double"), lit(0.0)), 6).as("p_at_k"),
        round(col("_sr").cast("double")
          / nullif(col("_nr").cast("double"), lit(0.0)), 6).as("r_at_k"))
  }

  /** The [[rbo]] weight table: w(m) = Σ_{d=m..depth} p^{d−1}/d, rounded
    * to 12 dp — an item overlapping from depth m up contributes w(m) to
    * the UNSCALED sum, and RBO = (1−p)·Σ. Driver-computed literals (the
    * same values ride in the plan and in any replaying oracle), so
    * cross-engine agreement is by construction, not float luck. */
  def rboWeights(p: Double, depth: Int): Seq[BigDecimal] = {
    require(depth > 0, s"depth must be positive, got $depth")
    require(p > 0.0 && p < 1.0, s"p must be in (0,1), got $p")
    (1 to depth).map { m =>
      (m to depth).foldLeft(BigDecimal(0)) { (acc, d) =>
        acc + BigDecimal(math.pow(p, (d - 1).toDouble) / d)
          .setScale(14, BigDecimal.RoundingMode.HALF_UP)
      }.setScale(12, BigDecimal.RoundingMode.HALF_UP)
    }
  }

  /**
   * Rank-biased overlap (Webber et al. 2010) of two rankings at fixed
   * depth: RBO_D = (1−p)·Σ_{d≤D} p^{d−1}·|A_d ∩ B_d|/d — how much two
   * rankers agree, top-weighted by persistence `p` (p=0.9 ≈ the
   * evaluator examines ~10 items). The per-depth intersection telescopes
   * per ITEM: an item ranked (ra, rb) joins every prefix from depth
   * max(ra,rb) on, so it contributes the precomputed [[rboWeights]]
   * tail-sum w(max(ra,rb)) — ONE equi-join on the item id and one
   * literal-array lookup replace the per-depth scan entirely. Weights
   * are 12-dp decimals; the item sum is exact decimal; the only float
   * op is the final (1−p) scale, rounded 6 dp. Returns one row
   * `(n_overlap, rbo)` — `n_overlap` the items both rankers place in
   * their top-D.
   *
   * Inputs are single-list frames `(idCol, rankCol)` (the
   * [[TextSearch.bm25TopK]] / dense top-k shape); join per-query frames
   * on (query, id) upstream if comparing per query.
   */
  def rbo(
      a: DataFrame, b: DataFrame, idCol: String,
      rankCol: String = "rank", p: Double = 0.9,
      depth: Int = 20): DataFrame = {
    val w = rboWeights(p, depth)
    val wArr = typedLit(w.map(_.toDouble))
    a.select(col(idCol).as("_id"), col(rankCol).as("_ra"))
      .join(b.select(col(idCol).as("_id"), col(rankCol).as("_rb")), "_id")
      .filter(greatest(col("_ra"), col("_rb")) <= depth)
      .select(element_at(wArr,
          greatest(col("_ra"), col("_rb")).cast("int"))
        // recover the exact 12-dp decimal from its double literal —
        // the sum is then order-independent
        .cast("decimal(18,12)").as("_w"))
      .agg(count(lit(1)).as("n_overlap"),
        coalesce(sum(col("_w")), lit(0).cast("decimal(28,12)")).as("_s"))
      .select(col("n_overlap"),
        round(lit(1.0 - p) * col("_s").cast("double"), 6).as("rbo"))
  }

  /**
   * Exact Kendall's τ-b between two columns — the pair-concordance
   * companion to [[spearman]] (less tie-distorted, the form scipy's
   * `kendalltau` computes). Over all unordered pairs i<j (by `idCol`):
   * C = concordant, D = discordant, n1 = pairs tied in A, n2 = pairs
   * tied in B, n0 = n(n−1)/2, and τ-b = (C − D)/√((n0−n1)(n0−n2)).
   * Every count is an exact integer off one equi-free pair join; the
   * only float ops are the two final sqrts and one division, rounded
   * 6 dp. Returns one row `(n, concordant, discordant, tau)`; τ is
   * NULL when either side is all-tied (zero variance — undefined, the
   * NaN of scipy surfaced as SQL NULL) or `n < 2`.
   *
   * EVAL-contract shape: the pair join is O(n²) by definition of the
   * statistic — run it on a labeled sample or dimension-sized frame
   * (the q108 contract). The left side broadcasts; pairs are counted,
   * never materialized wider than the running aggregation.
   */
  def kendallTau(
      df: DataFrame, colA: String, colB: String, idCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    // cut: `base` feeds THREE subtrees (both pair sides + the n count),
    // so the input derivation ran 3× — and, fused into the
    // nested-loop-join stage, its expressions inflated the generated
    // method past the JIT limit, de-JIT-ing the whole O(n²) pair loop
    // (q135 measured 0.7 s interpreted vs 2.5 s "codegen'd"; the q370
    // too-large-to-JIT class). The cut runs the derivation once and
    // leaves the pair stage a small method over three longs.
    val base = Materialize.cut(
      df.filter(col(colA).isNotNull && col(colB).isNotNull)
        .select(col(idCol).as("_id"), col(colA).as("_a"), col(colB).as("_b")))
    val pairs = broadcast(base.select(col("_id").as("_id1"),
        col("_a").as("_a1"), col("_b").as("_b1")))
      .join(base.select(col("_id").as("_id2"), col("_a").as("_a2"),
        col("_b").as("_b2")), col("_id1") < col("_id2"))
    val sa = signum(col("_a1").cast("double") - col("_a2").cast("double"))
    val sb = signum(col("_b1").cast("double") - col("_b2").cast("double"))
    val n = base.agg(count(lit(1)).cast(dec).as("_n"))
      .withColumn("_j", lit(1))
    pairs
      .agg(
        coalesce(sum((sa * sb > 0).cast("long")), lit(0L)).cast(dec)
          .as("_c"),
        coalesce(sum((sa * sb < 0).cast("long")), lit(0L)).cast(dec)
          .as("_d"),
        coalesce(sum((sa === 0).cast("long")), lit(0L)).cast(dec).as("_t1"),
        coalesce(sum((sb === 0).cast("long")), lit(0L)).cast(dec).as("_t2"))
      .withColumn("_j", lit(1))
      .join(n, Seq("_j")) // 1×1 — scalar frames
      .select(col("_n").cast("long").as("n"),
        col("_c").cast("long").as("concordant"),
        col("_d").cast("long").as("discordant"),
        round((col("_c") - col("_d")).cast("double")
          / nullif(
            sqrt((col("_n") * (col("_n") - 1) / 2 - col("_t1"))
              .cast("double")) *
            sqrt((col("_n") * (col("_n") - 1) / 2 - col("_t2"))
              .cast("double")),
            lit(0.0)), 6).as("tau"))
  }

  /**
   * NDCG@k per query over a ranked result frame (`(qCol, rankCol,
   * relCol)` — the [[Similarity.bruteForceTopK]] / [[AnnIvf.knnJoin]]
   * shape joined to graded relevance): DCG sums the standard
   * exponential gain (2^rel − 1)/log₂(rank+1) over ranks ≤ k, the ideal
   * ordering re-ranks the SAME retrieved set by (rel DESC, rank ASC),
   * and NDCG = DCG/IDCG, NULL when the query retrieved nothing relevant
   * (IDCG 0 — undefined, not 0: a no-relevant query says nothing about
   * ranking quality). Each gain term is rounded to 9 dp and summed as a
   * decimal, so the ≤k-term sums are order-independent and cross-engine
   * exact; the final division is rounded 6 dp.
   *
   * Shape: both windows partition by query — fully parallel, no global
   * sort; output is QUERY-sized.
   */
  def ndcgAtK(
      ranked: DataFrame, qCol: String, rankCol: String, relCol: String,
      k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val ideal = Window.partitionBy(col(qCol))
      .orderBy(col(relCol).desc, col(rankCol).asc)
    def term(rank: Column): Column =
      round((pow(lit(2.0), col(relCol)) - 1.0)
        / log2(rank.cast("double") + 1.0), 9).cast("decimal(28,9)")
    ranked
      .filter(col(relCol).isNotNull)
      .withColumn("_irank", row_number().over(ideal).cast("long"))
      .groupBy(col(qCol))
      .agg(
        sum(when(col(rankCol) <= k, term(col(rankCol)))).as("_dcg"),
        sum(when(col("_irank") <= k, term(col("_irank")))).as("_idcg"))
      .select(col(qCol),
        round(col("_dcg").cast("double")
          / nullif(col("_idcg").cast("double"), lit(0.0)), 6).as("ndcg"))
  }

  /**
   * [[spearman]] with its Fisher-z confidence interval — the error
   * bars a point correlation needs before anyone acts on it:
   * `z = atanh(ρ) ± 1.959964/√(n−3)`, mapped back through tanh
   * (ρ is the 6-dp value the test itself reports, so the interval is
   * replayable from the dump). The ln and exp steps round 12 dp (the
   * q219 libm-parity rule); the interval is NULL when n ≤ 3 or
   * |ρ| = 1 (degenerate transform). Returns one row
   * `(n, rho, ci_lo, ci_hi)` — same shape/cost as [[spearman]].
   */
  def spearmanCI(
      df: DataFrame, colA: String, colB: String, idCol: String,
      tieAverage: Boolean = true): DataFrame = {
    val r = col("rho")
    val nD = col("n").cast("double")
    val f = round(lit(0.5) * log((lit(1.0) + r) / (lit(1.0) - r)), 12)
    val half = lit(1.959964) / sqrt(nD - lit(3.0))
    def bound(x: Column): Column = {
      val t = round(exp(lit(2.0) * x), 12)
      round((t - lit(1.0)) / (t + lit(1.0)), 6)
    }
    val ok = col("n") > 3 && abs(r) < 1.0 && r.isNotNull
    spearman(df, colA, colB, idCol, tieAverage)
      .select(col("n"), col("rho"),
        when(ok, bound(f - half)).as("ci_lo"),
        when(ok, bound(f + half)).as("ci_hi"))
  }

  def spearman(
      df: DataFrame, colA: String, colB: String, idCol: String,
      tieAverage: Boolean = true): DataFrame = {
    val base = df.filter(col(colA).isNotNull && col(colB).isNotNull)
    if (tieAverage) {
      // doubled tie-averaged rank per DISTINCT value: 2B + t + 1 with B
      // the count strictly below — the ordered window runs over the
      // value-cardinality frame, then joins back to rows on the value
      def doubledRanks(c: String, vOut: String, rOut: String): DataFrame = {
        val wB = Window.orderBy(col("_v"))
          .rowsBetween(Window.unboundedPreceding, -1)
        base.groupBy(col(c).as("_v")).agg(count(lit(1)).as("_t"))
          .select(col("_v").as(vOut),
            (lit(2L) * coalesce(sum(col("_t")).over(wB), lit(0L)) +
              col("_t") + 1L).cast("decimal(19,0)").as(rOut))
      }
      base
        .select(col(colA).as("_a"), col(colB).as("_b"))
        .join(doubledRanks(colA, "_va", "_ra"), col("_a") === col("_va"))
        .join(doubledRanks(colB, "_vb", "_rb"), col("_b") === col("_vb"))
        .agg(
          count(lit(1)).cast("decimal(19,0)").as("_n"),
          sum(col("_ra")).as("_sa"), sum(col("_rb")).as("_sb"),
          sum(col("_ra") * col("_ra")).as("_saa"),
          sum(col("_rb") * col("_rb")).as("_sbb"),
          sum(col("_ra") * col("_rb")).as("_sab"))
        .select(col("_n").cast("long").as("n"),
          when(col("_n") < 2, lit(null).cast("double"))
            .otherwise(round(
              (col("_n") * col("_sab") - col("_sa") * col("_sb"))
                .cast("double") /
                nullif(
                  sqrt((col("_n") * col("_saa") - col("_sa") * col("_sa"))
                    .cast("double")) *
                  sqrt((col("_n") * col("_sbb") - col("_sb") * col("_sb"))
                    .cast("double")),
                  lit(0.0)), 6))
            .as("rho"))
    } else {
      val ra = row_number().over(
        Window.orderBy(col(colA).asc, col(idCol).asc)).cast("long")
      val rb = row_number().over(
        Window.orderBy(col(colB).asc, col(idCol).asc)).cast("long")
      base
        .select(col(idCol), ra.as("_ra"), rb.as("_rb"))
        .select(col(idCol),
          ((col("_ra") - col("_rb")) * (col("_ra") - col("_rb"))).as("_d2"))
        .agg(count(lit(1)).as("n"), sum(col("_d2")).as("_sd2"))
        .select(col("n"),
          when(col("n") < 2, lit(null).cast("double"))
            .otherwise(round(lit(1.0) - lit(6.0) * col("_sd2")
              / (col("n") * (col("n") * col("n") - lit(1L))), 6))
            .as("rho"))
    }
  }

  /**
   * Best-F1 operating point — the DECISION the [[prCurve]] hands the
   * operator: the threshold maximizing F1 over every realizable cut
   * (unrounded precision/recall inside the argmax — rounding first
   * could flip near-ties), with the higher threshold breaking exact
   * F1 ties (the conservative pick: same F1, fewer positives
   * flagged). Returns one row
   * `(threshold, predicted, tp, precision, recall, f1)`, 6-dp —
   * EMPTY when no cut yields a defined F1 (no positives). Same
   * threshold-frame window contract as [[prCurve]].
   */
  def bestF1Threshold(
      df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val p = thresholds(df, scoreCol, labelCol).withColumn("_j", lit(1))
    // total positives straight from the scored frame — NOT max(tp) over
    // the thresholds frame, which was only correct because thresholds()
    // happens to emit the minimum score as a cut capturing every row
    // (an implicit coupling that would silently under-count recall if
    // thresholds() ever pruned the lowest cut)
    val totals = df
      .filter(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .agg(coalesce(sum((col(labelCol) =!= 0).cast("long")), lit(0L))
        .as("_pos"))
      .withColumn("_j", lit(1))
    val prec = col("tp").cast("double") / col("predicted").cast("double")
    val rec = col("tp").cast("double") /
      nullif(col("_pos").cast("double"), lit(0.0))
    val f1 = lit(2.0) * prec * rec / (prec + rec)
    p.join(totals, Seq("_j"))
      .select(col("threshold"), col("predicted"), col("tp"),
        prec.as("_p"), rec.as("_r"),
        when(prec + rec > 0.0, f1).as("_f1"))
      .filter(col("_f1").isNotNull)
      .agg(max(struct(col("_f1"), col("threshold"), col("predicted"),
        col("tp"), col("_p"), col("_r"))).as("_m"))
      .select(col("_m.threshold").as("threshold"),
        col("_m.predicted").as("predicted"), col("_m.tp").as("tp"),
        round(col("_m._p"), 6).as("precision"),
        round(col("_m._r"), 6).as("recall"),
        round(col("_m._f1"), 6).as("f1"))
      .filter(col("threshold").isNotNull)
  }

  /**
   * Decile lift table for a scored binary outcome — the business face
   * of the threshold metrics ([[prCurve]]/[[rocAuc]] speak in rates;
   * this speaks in "the top decile holds 3.2× its share of
   * churners"): rows ntile into `buckets` by `(score desc, id)` (the
   * deterministic total order DuckDB's ntile cuts identically — the
   * q260 RFM precedent), and each bucket reports its positive rate,
   * lift over the base rate, and the cumulative capture of all
   * positives down to it. Counts exact; the ratios are one double
   * chain each, 6-dp.
   *
   * Same global-rank EVAL-SAMPLE contract as [[rocAuc]] — but unlike
   * rocAuc (which got a value-grouped formulation), ntile NEEDS exact
   * row positions (a score group straddling a bucket boundary splits
   * by id), so the contract is ENFORCED instead: a
   * [[graft.Guards.requireRowsAtMost]] probe fails fast when the
   * scored frame exceeds `maxRows` (default 5M — generous for any
   * eval sample, fatal for a raw corpus). `maxRows = 0` opts out.
   * Returns `(bucket, n, n_pos, rate, lift, cum_capture)`
   * ordered by bucket (1 = highest scores).
   */
  def liftTable(
      df: DataFrame, score: Column, label: Column, id: Column,
      buckets: Int = 10, maxRows: Long = 5000000L): DataFrame = {
    require(buckets >= 2, s"need >= 2 buckets, got $buckets")
    val base = df.select(score.cast("double").as("_s"),
        label.cast("boolean").cast("long").as("_y"), id.as("_id"))
      .filter(col("_s").isNotNull && col("_y").isNotNull)
    graft.Guards.requireRowsAtMost(base, maxRows,
      "Eval.liftTable eval-sample contract (global ntile over the scored frame)")
    val w = Window.orderBy(col("_s").desc, col("_id").asc)
    val cells = base
      .withColumn("bucket", ntile(buckets).over(w).cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), coalesce(sum(col("_y")), lit(0L))
        .as("n_pos"))
    val tot = cells.agg(sum(col("n")).as("_nn"),
      sum(col("n_pos")).as("_pp"))
    val wCum = Window.orderBy(col("bucket").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val baseRate = col("_pp").cast("double") / col("_nn").cast("double")
    val rate = col("n_pos").cast("double") / col("n").cast("double")
    cells.crossJoin(broadcast(tot))
      .withColumn("_cp", sum(col("n_pos")).over(wCum))
      .select(col("bucket"), col("n"), col("n_pos"),
        round(rate, 6).as("rate"),
        round(rate / nullif(baseRate, lit(0.0)), 6).as("lift"),
        round(col("_cp").cast("double") /
          nullif(col("_pp").cast("double"), lit(0.0)), 6)
          .as("cum_capture"))
      .orderBy(col("bucket").asc)
  }

  /**
   * Population stability index between a reference and a current
   * sample of one numeric column — the model-monitoring drift number
   * ("has the scored population shifted since the reference
   * window?"), with the conventional reading PSI < 0.1 stable,
   * 0.1–0.25 watch, > 0.25 act. Bin edges are the REFERENCE sample's
   * rank-exact decile picks (actual values — the [[graft.analytics
   * .Robust]] percentile_disc rule), applied to both sides:
   * `bin(v) = Σ_edges (v > edge)`. Bins where either side is empty
   * drop from the sum (no epsilon smoothing — the count is reported
   * instead, deterministic). Per-bin terms
   * `(p_cur − p_ref)·ln(p_cur/p_ref)` are one double chain rounded
   * 12-dp and folded DECIMAL(38,12). Returns one row
   * `(n_ref, n_cur, n_bins_used, n_bins_dropped, psi)`, 6-dp.
   *
   * Shape: one reference-frame rank window (eval-sample contract) to
   * pick ≤ `buckets`−1 edges (a broadcast-sized frame), then per-row
   * bin assignment via the edge join and two bin-frame folds.
   */
  def psi(
      ref: DataFrame, cur: DataFrame, value: Column,
      buckets: Int = 10): DataFrame = {
    require(buckets >= 2, s"need >= 2 buckets, got $buckets")
    val d12 = org.apache.spark.sql.types.DecimalType(38, 12)
    def clean(df: DataFrame) = df.select(value.cast("double").as("_v"))
      .filter(col("_v").isNotNull)
    val r = clean(ref); val c = clean(cur)
    val wOrd = Window.orderBy(col("_v").asc)
    val nRef = r.agg(count(lit(1)).as("_n"))
    val edges = r
      .withColumn("_rn", row_number().over(wOrd).cast("long"))
      .crossJoin(broadcast(nRef))
      .filter((1 to (buckets - 1)).map(i =>
        col("_rn") === greatest(ceil(lit(i.toDouble / buckets) *
          col("_n").cast("double")).cast("long"), lit(1L)))
        .reduce(_ || _))
      .select(col("_v").as("_edge")).distinct()
    // bin DISTINCT values carrying their multiplicity — binning raw
    // rows and grouping by value would collapse duplicates, and the
    // edge join stays value-cardinality-sized this way
    def binned(df: DataFrame, out: String): DataFrame = df
      .groupBy(col("_v")).agg(count(lit(1)).as("_m"))
      .join(broadcast(edges), col("_v") > col("_edge"), "left")
      .groupBy(col("_v"), col("_m")).agg(count(col("_edge")).as("_bin"))
      .groupBy(col("_bin")).agg(sum(col("_m")).as(out))
    val j = binned(r, "_cr").join(binned(c, "_cc"), Seq("_bin"),
      "full_outer")
      .select(coalesce(col("_cr"), lit(0L)).as("_cr"),
        coalesce(col("_cc"), lit(0L)).as("_cc"))
    val tot = j.agg(sum(col("_cr")).as("n_ref"),
      sum(col("_cc")).as("n_cur"))
    val pR = col("_cr").cast("double") / col("n_ref").cast("double")
    val pC = col("_cc").cast("double") / col("n_cur").cast("double")
    val usable = col("_cr") > 0 && col("_cc") > 0
    j.crossJoin(broadcast(tot))
      .select(col("n_ref"), col("n_cur"),
        usable.cast("long").as("_u"),
        when(usable, round((pC - pR) * log(pC / pR), 12).cast(d12))
          .otherwise(lit(0).cast(d12)).as("_t"))
      .groupBy(col("n_ref"), col("n_cur"))
      .agg(sum(col("_u")).as("n_bins_used"),
        (count(lit(1)) - sum(col("_u"))).as("n_bins_dropped"),
        round(sum(col("_t")).cast("double"), 6).as("psi"))
  }

  /**
   * Clustering-agreement report — grade one clustering against another
   * (a dedup/linkage clustering vs a gold partition, or two candidate
   * dedup configurations against each other) with the three standard
   * external measures:
   *
   *  - **purity** — Σ_p max_g |p∩g| / n: the fraction of items whose
   *    predicted cluster's majority gold class they carry (Manning et
   *    al., IIR §16.3); trivially gamed by over-splitting, which is why
   *    the other two ride along;
   *  - **NMI** — I(P;G)/√(H(P)·H(G)): information-theoretic agreement,
   *    penalizes both over- and under-splitting (Strehl & Ghosh 2002);
   *    NULL when either side is a single cluster (zero entropy — no
   *    information to normalize by);
   *  - **ARI** — the Adjusted Rand Index (Hubert & Arabie 1985):
   *    pair-counting agreement corrected for chance, the most-reported
   *    external measure; exact integer pair sums, two final divisions;
   *    NULL when the chance correction degenerates (both sides all
   *    singletons or both one cluster — agreement is vacuous);
   *  - **B³ precision/recall/F1** — per-ITEM overlap of predicted and
   *    gold clusters (Bagga & Baldwin 1998), the measure the entity-
   *    resolution literature standardized on because it weights items,
   *    not pairs, so one mega-cluster cannot drown the tail;
   *  - **homogeneity / completeness / V-measure** (Rosenberg &
   *    Hirschberg 2007): homogeneity = I(P;G)/H(G) — does each
   *    predicted cluster hold one gold class? — completeness =
   *    I(P;G)/H(P) — does each gold class land in one predicted
   *    cluster? — and V = their harmonic mean = 2·I/(H(P)+H(G)), the
   *    decomposition ablation sweeps report beside NMI because it
   *    names WHICH direction a configuration fails in. Same NULL
   *    convention as NMI when the normalizing entropy is zero (a
   *    single-cluster side carries no information to normalize by;
   *    sklearn's "vacuously 1.0" convention is NOT used — a NULL says
   *    "undefined", a 1.0 would read as a perfect score).
   *
   * Determinism: every measure reduces over the CONTINGENCY frame
   * (one row per (pred, gold) cell — at most min-side-cluster-count ×
   * items/cluster, metadata-shaped for real clusterings); cell terms
   * round to 12 dp and sum as DECIMAL(38,12) (the [[psi]] log-term
   * convention), integer counts stay exact, and each output rounds
   * once at 6 dp. F1 folds from the ROUNDED precision/recall so the
   * published triple is self-consistent.
   *
   * Shape at scale: one hash aggregate to the contingency frame, two
   * cluster-frame aggregates for the margins, equi-joins back — no
   * windows, no item-level pairs (B³'s naive form is per-pair; the
   * n_pg²/margin identity reduces it to the contingency cells). Rows
   * with a NULL label on either side are excluded (no evidence).
   */
  def clusteringAgreement(
      df: DataFrame, idCol: String,
      predCol: String, goldCol: String): DataFrame = {
    val d12 = org.apache.spark.sql.types.DecimalType(38, 12)
    val cells = Materialize.cut(
      df.filter(col(predCol).isNotNull && col(goldCol).isNotNull)
        .select(col(predCol).cast("string").as("__p"),
          col(goldCol).cast("string").as("__g"))
        .groupBy(col("__p"), col("__g"))
        .agg(count(lit(1)).as("n_pg")))
    val pc = cells.groupBy(col("__p")).agg(sum(col("n_pg")).as("n_p"))
    val gc = cells.groupBy(col("__g")).agg(sum(col("n_pg")).as("n_g"))
    val nn = cells.agg(sum(col("n_pg")).as("__n"))
    val purity = cells.groupBy(col("__p")).agg(max(col("n_pg")).as("__mx"))
      .agg(sum(col("__mx")).as("__pur"))
    val nPred = pc.agg(count(lit(1)).as("n_pred_clusters"))
    val nGold = gc.agg(count(lit(1)).as("n_gold_clusters"))
    val terms = cells
      .join(pc, Seq("__p")).join(gc, Seq("__g"))
      .crossJoin(broadcast(nn))
    val sums = terms.agg(
      sum(round(col("n_pg").cast("double") * col("n_pg") / col("n_p"), 12)
        .cast(d12)).as("__bp"),
      sum(round(col("n_pg").cast("double") * col("n_pg") / col("n_g"), 12)
        .cast(d12)).as("__br"),
      sum(round((col("n_pg").cast("double") / col("__n")) *
        log(col("__n").cast("double") * col("n_pg") /
          (col("n_p").cast("double") * col("n_g"))), 12)
        .cast(d12)).as("__mi"),
      // pair-counting sums for ARI — exact longs via integral div
      // (Spark's `/` is double division; x·(x−1) stays inside 2^63 to
      // cluster sizes ≈ 3·10^9, and Σ C(x,2) ≤ C(n,2))
      sum(expr("(n_pg * (n_pg - 1)) div 2")).as("__idx"))
    val pairP = pc.agg(sum(expr("(n_p * (n_p - 1)) div 2")).as("__a"))
    val pairG = gc.agg(sum(expr("(n_g * (n_g - 1)) div 2")).as("__b"))
    def entropy(margin: DataFrame, cnt: String, out: String): DataFrame =
      margin.crossJoin(broadcast(nn)).agg(
        sum(round(-(col(cnt).cast("double") / col("__n")) *
          log(col(cnt).cast("double") / col("__n")), 12)
          .cast(d12)).as(out))
    val prec = round(col("__bp").cast("double") / col("__n"), 6)
    val rec = round(col("__br").cast("double") / col("__n"), 6)
    // ARI (Hubert & Arabie 1985): (idx − a·b/t) / ((a+b)/2 − a·b/t)
    // over the exact pair sums; NULL when the correction degenerates
    // (all singletons on both sides, or one cluster on both sides).
    val t2 = col("__n").cast("double") * (col("__n") - 1) / 2.0
    val expIdx = col("__a").cast("double") * col("__b") / t2
    val ari = round(
      (col("__idx").cast("double") - expIdx) /
        nullif((col("__a").cast("double") + col("__b")) / 2.0 - expIdx,
          lit(0.0)), 6)
    nn.crossJoin(broadcast(purity))
      .crossJoin(broadcast(nPred)).crossJoin(broadcast(nGold))
      .crossJoin(broadcast(sums))
      .crossJoin(broadcast(pairP)).crossJoin(broadcast(pairG))
      .crossJoin(broadcast(entropy(pc, "n_p", "__hp")))
      .crossJoin(broadcast(entropy(gc, "n_g", "__hg")))
      .select(
        col("__n").as("n_items"),
        col("n_pred_clusters"), col("n_gold_clusters"),
        round(col("__pur").cast("double") / col("__n"), 6).as("purity"),
        round(col("__mi").cast("double") /
          nullif(sqrt(col("__hp").cast("double") *
            col("__hg").cast("double")), lit(0.0)), 6).as("nmi"),
        ari.as("ari"),
        prec.as("b3_precision"),
        rec.as("b3_recall"),
        round(lit(2.0) * prec * rec / nullif(prec + rec, lit(0.0)), 6)
          .as("b3_f1"),
        round(col("__mi").cast("double") /
          nullif(col("__hg").cast("double"), lit(0.0)), 6)
          .as("homogeneity"),
        round(col("__mi").cast("double") /
          nullif(col("__hp").cast("double"), lit(0.0)), 6)
          .as("completeness"),
        round(lit(2.0) * col("__mi").cast("double") /
          nullif(col("__hp").cast("double") + col("__hg").cast("double"),
            lit(0.0)), 6)
          .as("v_measure"))
  }
}
