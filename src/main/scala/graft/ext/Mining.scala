package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Contrastive-pair mining over an ANN neighbor frame — the training-data
 * op that turns a labeled embedding corpus into (anchor, positive) and
 * (anchor, hard-negative) pairs for metric-learning / InfoNCE-style
 * objectives (hard negatives — the most similar items with a DIFFERENT
 * label — are the pairs that carry gradient; random negatives are
 * trivially separable). Standard practice in the retrieval literature
 * (DPR's in-batch + hard negatives, Sentence-BERT mining).
 *
 * Input is a precomputed neighbor frame (`(q_id, nn_id, sim, rank)` —
 * [[AnnIvf.knnJoin]], self-pairs already excluded), so mining cost is
 * label joins + one query-partitioned re-rank, never a similarity scan of
 * its own: at corpus scale the ANN
 * frame is the bounded cell equi-join, and this composes downstream of
 * it exactly like [[Eval.knnClassifyAnn]] (same frame can feed both).
 *
 * Mine with the neighbor frame's `kNeighbors` well above `kPos + kNeg`:
 * pairs are taken from WITHIN the frame's top-k, so a frame that is all
 * positives for some anchor yields fewer than `kNeg` negatives for it —
 * that is the honest answer at mining depth k, not a gap to backfill
 * with worse candidates. Anchors or neighbors without labels drop
 * (mining is defined on labeled data).
 */
object Mining {

  /**
   * Label each in-frame neighbor `pos` (same label as the anchor) or
   * `neg` (different), re-rank within `(q_id, kind)` by the frame's
   * similarity rank, and keep the top `kPos` / `kNeg` of each kind.
   * Returns `(q_id, nn_id, kind, pair_rank)` — deterministic: the
   * underlying frame's rank is already total (sim desc, nn_id asc).
   */
  def contrastivePairs(
      neighbors: DataFrame, labels: DataFrame,
      idCol: String = "vec_id", labelCol: String = "label",
      kPos: Int = 2, kNeg: Int = 3): DataFrame = {
    require(kPos >= 0 && kNeg >= 0 && kPos + kNeg > 0,
      s"need kPos >= 0, kNeg >= 0, kPos + kNeg > 0; got ($kPos, $kNeg)")
    val lab = labels.filter(col(labelCol).isNotNull)
      .select(col(idCol), col(labelCol))
    val byKind = Window.partitionBy(col("q_id"), col("kind"))
      .orderBy(col("rank").asc)
    neighbors
      .join(lab.select(col(idCol).as("nn_id"),
        col(labelCol).as("_nn_label")), "nn_id")
      .join(lab.select(col(idCol).as("q_id"),
        col(labelCol).as("_q_label")), "q_id")
      .withColumn("kind",
        when(col("_q_label") === col("_nn_label"), lit("pos"))
          .otherwise(lit("neg")))
      .withColumn("pair_rank", row_number().over(byKind).cast("long"))
      .filter(
        (col("kind") === "pos" && col("pair_rank") <= kPos) ||
        (col("kind") === "neg" && col("pair_rank") <= kNeg))
      .select(col("q_id"), col("nn_id"), col("kind"), col("pair_rank"))
  }

  /**
   * Association rules over `(basket, item)` memberships — Agrawal &
   * Srikant's support/confidence/lift for every ORDERED item pair whose
   * joint support clears `minSupport` baskets: the co-consumption
   * signal behind "users who did A also did B" and source-mix analyses.
   * Duplicate memberships collapse first (support counts BASKETS).
   *
   *   support(a→b)    = n_ab / n_baskets
   *   confidence(a→b) = n_ab / n_a
   *   lift(a→b)       = n_ab·n_baskets / (n_a·n_b)   (> 1 ⇒ positive
   *                      association; symmetric, but confidence isn't)
   *
   * All three are single IEEE divisions of exact longs, 6-dp. Shape at
   * scale: one dedup aggregate, a basket-keyed self-join bounded by
   * per-basket item counts (the [[GraphOps.coOccurrence]] cost note
   * applies — cap degenerate hot baskets upstream), item-keyed margin
   * joins, and a broadcast 1-row basket total.
   *
   * Returns `(antecedent, consequent, n_ab, support, confidence,
   * lift)`.
   */
  def associationRules(
      memberships: DataFrame, basketCol: String, itemCol: String,
      minSupport: Long = 1L): DataFrame = {
    require(minSupport >= 1, s"minSupport must be >= 1, got $minSupport")
    val m = memberships
      .select(col(basketCol).as("_b"), col(itemCol).as("_i"))
      .filter(col("_b").isNotNull && col("_i").isNotNull)
      .distinct()
    val itemN = m.groupBy(col("_i")).agg(count(lit(1)).as("_ni"))
    val total = m.agg(countDistinct(col("_b")).as("_n"))
    val joint = m.as("a").join(m.as("b"),
        col("a._b") === col("b._b") && col("a._i") =!= col("b._i"))
      .groupBy(col("a._i").as("antecedent"), col("b._i").as("consequent"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minSupport)
    joint
      .join(itemN.select(col("_i").as("antecedent"), col("_ni").as("_na")),
        "antecedent")
      .join(itemN.select(col("_i").as("consequent"), col("_ni").as("_nb")),
        "consequent")
      .crossJoin(broadcast(total))
      .select(col("antecedent"), col("consequent"), col("n_ab"),
        round(col("n_ab").cast("double") / col("_n").cast("double"), 6)
          .as("support"),
        round(col("n_ab").cast("double") / col("_na").cast("double"), 6)
          .as("confidence"),
        round(col("n_ab").cast("double") * col("_n").cast("double") /
          (col("_na").cast("double") * col("_nb").cast("double")), 6)
          .as("lift"))
  }
}
