package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.FloatDotProduct

/**
 * Embedding similarity search over `array<float>` columns, built from
 * codegen'd higher-order functions (`zip_with` + `aggregate`) — no UDFs.
 *
 * Scale design (100 TB): the query set is the small side and is broadcast;
 * the corpus is scanned once, partition-parallel, with the per-query top-k
 * reduced through a ranking window on (query, -sim). No corpus shuffle
 * beyond the final top-k exchange, whose size is |queries| × k, not |corpus|.
 * For corpus×corpus all-pairs use the LSH/IVF bucketed variant ([[Dedup]] /
 * [[AnnLsh]]) so candidates co-locate by bucket instead of cross-joining.
 *
 * Zero-norm vectors: cosine against an all-zero vector is undefined, and
 * the naive 0/0 yields NaN — which Spark orders ABOVE every double, so an
 * unguarded zero corpus vector would rank as the TOP neighbor of every
 * query it meets (and pass every `sim >= threshold` filter). Every scoring
 * site here and in [[AnnLsh]]/[[AnnIvf]] therefore divides by
 * `nullif(norm_product, 0)`: a zero vector scores NULL — last under the
 * descending rank windows, false in every threshold filter — and can never
 * displace a real neighbor.
 */
object Similarity {

  /** Σ aᵢ·bᵢ in double precision (order-independent per element, exact
    * w.r.t. evaluation order only in the array fold — deterministic). */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** Codegen'd dot product over `array<float>` columns — same value as
    * [[dot]] (ascending-index double accumulation), ~none of its cost:
    * higher-order functions evaluate interpreted and allocate a zipped
    * array per pair, while [[graft.functions.FloatDotProduct]] emits a
    * tight primitive loop inside whole-stage codegen. */
  def nativeDot(a: Column, b: Column): Column =
    column(FloatDotProduct(expression(a), expression(b)))

  /** Vector norm via the codegen'd dot (bit-identical to `sqrt(dot(a,a))`
    * — FloatDotProductSpec pins the twins — but stays inside whole-stage
    * codegen, which matters because every scoring site here hoists a norm
    * into a per-corpus-row projection). */
  def norm(a: Column): Column = sqrt(nativeDot(a, a))

  /** NULL (not NaN) when either vector has zero norm — see the object doc. */
  def cosine(a: Column, b: Column): Column =
    nativeDot(a, b) / nullif(norm(a) * norm(b), lit(0.0))

  /**
   * Exact embedding near-duplicate pairs within a blocking key (e.g. a
   * cluster id, language, or length bucket): shuffle both sides once by
   * `blockCol`, compare only within-block pairs, keep cosine ≥ threshold.
   * The blocked join is the deterministic scale path for near-dup mining —
   * work is Σ|block|² instead of |corpus|²; for unblocked data use
   * [[AnnLsh]] buckets as the block key instead.
   *
   * Σ|block|² is still quadratic in block SIZE: a low-cardinality block
   * key (the 10-value label column at 10× data = 100× pairs, measured
   * 27.6× wall at sf1) melts at 100× regardless of cluster size. The
   * [[graft.Guards.requireBlockPairsAtMost]] probe therefore fails fast —
   * at plan-build time, before any quadratic work — when the within-block
   * pair count exceeds `maxBlockPairs` (default 2×10⁸ ≈ the largest job
   * this stays an interactive-scale exact baseline for), naming the LSH
   * (q21) / ANN-cell (q84) block keys as the scale path. Pass
   * `maxBlockPairs = 0` to opt out when the scale is intended (a real
   * cluster absorbing a priced Σ|block|² is a legitimate choice — the
   * guard makes it explicit instead of implicit).
   */
  def nearDupPairsBlocked(
      df: DataFrame, idCol: String, vecCol: String, blockCol: String,
      threshold: Double,
      maxBlockPairs: Long = 200000000L): DataFrame = {
    graft.Guards.requireBlockPairsAtMost(df, blockCol, maxBlockPairs,
      "Similarity.nearDupPairsBlocked")
    // norms once per ROW before the join — computing cosine() inline would
    // re-fold both norms once per PAIR (|block|× redundant work); the
    // value is the identical double, so oracle equivalence is unaffected
    val withNorm = df.select(col(blockCol).as("block"), col(idCol).as("id"),
      col(vecCol).as("vec"), norm(col(vecCol)).as("nrm"))
    val a = withNorm.select(col("block"), col("id").as("a_id"),
      col("vec").as("a_vec"), col("nrm").as("a_n"))
    val b = withNorm.select(col("block"), col("id").as("b_id"),
      col("vec").as("b_vec"), col("nrm").as("b_n"))
    a.join(b, Seq("block"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("sim",
        nativeDot(col("a_vec"), col("b_vec")) / nullif(col("a_n") * col("b_n"), lit(0.0)))
      .filter(col("sim") >= threshold) // NULL sim (zero norm) fails here
      .select(col("block"), col("a_id"), col("b_id"), round(col("sim"), 6).as("sim"))
  }

  /**
   * Exact brute-force cosine top-k: every query vector against the whole
   * corpus. Queries are broadcast (small side); corpus partitions stream.
   */
  /**
   * Sparse cosine top-k over a long-format feature frame
   * `(idCol, featCol, valCol)` — entity similarity when the vector
   * space is a sparse vocabulary (users × event types, docs × terms,
   * baskets × items) and densifying would be madness. The classic
   * inverted-index shape: pairs meet ONLY through features they share
   * (one equi-join keyed on the feature), dots are exact integer/long
   * sums when the values are counts, and norms come from one per-entity
   * aggregate. Pairs sharing no feature never materialize (their cosine
   * is 0 — absent, not padded).
   *
   * Shape at scale: the feature-keyed self-join costs Σ per-feature
   * count² — a HOT feature (a stop-word-like event every entity has) is
   * the quadratic cliff; drop or downweight such features upstream
   * (the df-cut every TF-IDF pipeline applies) or salt via [[SkewJoin]].
   * Orientation `a < b` finds each pair once; `rank` is total
   * (`sim desc, nn asc`). Returns `(q_id, nn_id, sim, rank)` with BOTH
   * orientations of each surviving pair (so per-query top-k is
   * complete), rank ≤ k.
   */
  def sparseCosineTopK(
      features: DataFrame, idCol: String, featCol: String, valCol: String,
      k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val f = features
      .select(col(idCol).as("_id"), col(featCol).as("_f"),
        col(valCol).cast("double").as("_v"))
      .filter(col("_id").isNotNull && col("_f").isNotNull &&
        col("_v").isNotNull && col("_v") =!= 0.0)
    val norms = f.groupBy(col("_id"))
      .agg(sqrt(sum(col("_v") * col("_v"))).as("_n"))
    val dots = f.as("a")
      .join(f.as("b"),
        col("a._f") === col("b._f") && col("a._id") < col("b._id"))
      .groupBy(col("a._id").as("_ua"), col("b._id").as("_ub"))
      .agg(sum(col("a._v") * col("b._v")).as("_dot"))
    val sims = dots
      .join(norms.select(col("_id").as("_ua"), col("_n").as("_na")), "_ua")
      .join(norms.select(col("_id").as("_ub"), col("_n").as("_nb")), "_ub")
      .select(col("_ua"), col("_ub"),
        round(col("_dot") / nullif(col("_na") * col("_nb"), lit(0.0)), 6)
          .as("sim"))
    val both = sims.select(col("_ua").as("q_id"), col("_ub").as("nn_id"),
        col("sim"))
      .unionByName(sims.select(col("_ub").as("q_id"),
        col("_ua").as("nn_id"), col("sim")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("nn_id").asc)
    both.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = broadcast(
      queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        norm(col("embedding")).as("q_n")))
    val c = corpus.select(col("vec_id").as("nn_id"), col("embedding").as("nn_emb"),
      norm(col("embedding")).as("nn_n"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("nn_id").asc)
    c.join(q) // broadcast nested-loop: corpus stays partitioned, no shuffle
      .withColumn("sim",
        nativeDot(col("q_emb"), col("nn_emb")) / nullif(col("q_n") * col("nn_n"), lit(0.0)))
      .select(col("q_id"), col("nn_id"), col("sim"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .orderBy(col("q_id"), col("rank"))
  }
}
