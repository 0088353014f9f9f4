package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/**
 * Information-theoretic corpus comparison — KL / Jensen–Shannon
 * divergence between two corpora's smoothed term distributions, and the
 * per-term contributions that explain WHERE the drift lives. The domain-
 * shift instrument a training-data pipeline runs before mixing a new
 * source in ("how far is this crawl from what the model already eats?")
 * and after dedup/filtering ("did cleaning change the distribution?").
 * Lin 1991 for JS; the add-α smoothing is the same Laplace rule
 * [[LmScore]] uses.
 *
 * Reference scope: the reference engine has no text statistics
 * (`/root/reference/sree-etl-tdk-glue-job.py`); this extends the X2
 * family's corpus-level view.
 *
 * Determinism: both distributions are exact integer counts over the
 * UNION vocabulary plus plan-literal smoothing; every cross-term sum
 * folds `round(·,12)` DECIMAL(38,12) contributions (order-independent
 * over any partitioning), and the per-term float algebra is one fixed
 * IEEE sequence an oracle mirrors.
 *
 * Shape at scale: one tokenize+count aggregate per corpus
 * (vocabulary-sized), a full-outer term join, the totals as broadcast
 * 1-row frames, then either a 1-row fold ([[jsDivergence]]) or a
 * vocabulary-sized top-k ([[driftTerms]], TakeOrdered). Nothing is ever
 * corpus-row-sized after the first aggregate.
 */
object CorpusCompare {

  private val dec = DecimalType(38, 12)

  /** Exact term counts of a corpus — the ADDITIVE state every divergence
    * view derives from: counts of a union of corpus splits are the
    * column-wise sums of each split's counts, so this is a mergeable
    * partial (q161 declares the merge law). Returns `(term, n)`. */
  def termCounts(df: DataFrame, textCol: String = "text"): DataFrame =
    df.select(explode(TextOps.tokens(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("n"))

  /** Column-wise fold of [[termCounts]] partials. */
  def mergeCounts(partials: DataFrame): DataFrame =
    partials.groupBy("term").agg(sum(col("n")).as("n"))

  /** Per-term decimal contribution frame shared by both public views:
    * `(term, cp, cq, p, q, m, t_p, t_q)` where `p`/`q` are the smoothed
    * probabilities, `m` the mixture, and `t_p`/`t_q` the KL(P‖M) /
    * KL(Q‖M) decimal terms. */
  private def termFrame(
      a: DataFrame, b: DataFrame, textCol: String,
      alpha: Double): DataFrame =
    termFrameFromCounts(
      termCounts(a, textCol).withColumnRenamed("n", "cp"),
      termCounts(b, textCol).withColumnRenamed("n", "cq"), alpha)

  /** [[termFrame]] over precomputed count frames (`(term, cp)` /
    * `(term, cq)` — [[termCounts]] outputs or [[mergeCounts]] folds). */
  private[ext] def termFrameFromCounts(
      ca: DataFrame, cb: DataFrame, alpha: Double): DataFrame = {
    val joined = ca.join(cb, Seq("term"), "full_outer")
      .select(col("term"),
        coalesce(col("cp"), lit(0L)).as("cp"),
        coalesce(col("cq"), lit(0L)).as("cq"))
    val totals = joined.agg(
      sum(col("cp")).as("np"), sum(col("cq")).as("nq"),
      count(lit(1)).as("v"))
    val p = (col("cp").cast("double") + lit(alpha)) /
      (col("np").cast("double") + lit(alpha) * col("v").cast("double"))
    val q = (col("cq").cast("double") + lit(alpha)) /
      (col("nq").cast("double") + lit(alpha) * col("v").cast("double"))
    val m = (col("p") + col("q")) / 2.0
    joined.crossJoin(broadcast(totals))
      .withColumn("p", p).withColumn("q", q)
      .withColumn("m", m)
      .withColumn("t_p",
        round(col("p") * log(col("p") / col("m")), 12).cast(dec))
      .withColumn("t_q",
        round(col("q") * log(col("q") / col("m")), 12).cast(dec))
  }

  /**
   * One-row summary: union vocabulary size, both corpus token totals,
   * KL(P‖M), KL(Q‖M), and JS = (KL(P‖M)+KL(Q‖M))/2 in nats (bounded by
   * ln 2 ≈ 0.693; 0 = identical distributions). Smoothing keeps every
   * log finite, so no term needs a guard. Outputs round to 6 dp.
   */
  def jsDivergence(
      a: DataFrame, b: DataFrame, textCol: String = "text",
      alpha: Double = 0.5): DataFrame = {
    require(alpha > 0.0, s"alpha must be positive (smoothing), got $alpha")
    summarize(termFrame(a, b, textCol, alpha))
  }

  /** The 1-row fold shared by [[jsDivergence]] and
    * [[jsDivergenceFromCounts]]. */
  private def summarize(frame: DataFrame): DataFrame =
    frame
      .groupBy()
      .agg(max(col("v")).as("n_terms"),
        max(col("np")).as("np"), max(col("nq")).as("nq"),
        sum(col("t_p")).as("_kp"), sum(col("t_q")).as("_kq"))
      .select(col("n_terms"), col("np"), col("nq"),
        round(col("_kp").cast("double"), 6).as("kl_pm"),
        round(col("_kq").cast("double"), 6).as("kl_qm"),
        round((col("_kp").cast("double") + col("_kq").cast("double"))
          / 2.0, 6).as("js"))

  /** [[jsDivergence]] over precomputed/merged count frames: each side's
    * counts are computed once or folded from partials ([[mergeCounts]]),
    * and no text is re-tokenized. */
  def jsDivergenceFromCounts(
      countsA: DataFrame, countsB: DataFrame,
      alpha: Double = 0.5): DataFrame = {
    require(alpha > 0.0, s"alpha must be positive (smoothing), got $alpha")
    summarize(termFrameFromCounts(
      countsA.withColumnRenamed("n", "cp"),
      countsB.withColumnRenamed("n", "cq"), alpha))
  }

  /**
   * The `k` terms contributing most to the divergence, with their
   * per-corpus counts and signed drift direction (`p > q` ⇒ the term is
   * over-represented in corpus A). Contribution = t_p + t_q (each
   * term's share of 2·JS); rank by `(contribution desc, term asc)` —
   * total, TakeOrdered-shaped. Returns
   * `(term, cp, cq, contribution, direction)`.
   */
  def driftTerms(
      a: DataFrame, b: DataFrame, textCol: String = "text",
      alpha: Double = 0.5, k: Int = 20): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    termFrame(a, b, textCol, alpha)
      .select(col("term"), col("cp"), col("cq"),
        round((col("t_p") + col("t_q")).cast("double"), 6)
          .as("contribution"),
        when(col("p") > col("q"), lit("a")).otherwise(lit("b"))
          .as("direction"))
      .orderBy(col("contribution").desc, col("term").asc)
      .limit(k)
  }
}
