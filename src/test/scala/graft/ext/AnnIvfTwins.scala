package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import AnnIvf.{Cents, collectCents, iterPlan, nearestCells, vNorm}

/**
 * The built-ins-only formulations of [[AnnIvf]]'s native centroid
 * selection, kept as the twins the specs check the native expression
 * against, plus the spec-side entry points into its private plans.
 */
object AnnIvfTwins {

  /** One `struct(dist, cell)` per centroid, fully UNROLLED: every distance
    * a separate codegen'd `graft_dot` against an `array<float>` literal.
    * Retired from the production path by [[nearestCells]] (one term per
    * centroid caps k — see its doc); kept, with [[nearestCellsUnrolled]],
    * as the built-ins-only semantics reference the spec checks the native
    * expression against (the [[TextOpsTwins.topBigramCountHof]]
    * pattern). The higher-order-function formulation (`transform` over an
    * array literal) is NOT used even here — HOFs evaluate via CodegenFallback, which drags the whole
    * per-row argmin subtree into interpreted mode (measured 30s vs 1.3s
    * on q33). */
  private def distStructs(vec: Column, vn: Column, cents: Cents): Seq[Column] =
    cents.map { case (cell, v, n) =>
      // undefined distance (zero-norm side → nullif'd denominator, or an
      // indeterminate dot → NULL) coalesces to +Infinity: sorts last,
      // same rule as the native expression — and a bare Divide would
      // THROW under ANSI mode the moment a zero norm appeared
      struct(
        coalesce(
          lit(1.0) - Similarity.nativeDot(vec, typedLit(v))
            / nullif(vn * lit(n), lit(0.0)),
          lit(Double.PositiveInfinity)).as("dist"),
        lit(cell).as("cell"))
    }

  /** Unrolled-form probe cells: per-row sort of the k struct distances,
    * sliced to `nprobe`, projected to cell ids — dev-only reference for
    * [[nearestCells]] (the `transform` HOF is acceptable here only
    * because this never runs in a production plan). */
  private[ext] def nearestCellsUnrolled(vec: Column, cents: Cents, nprobe: Int): Column =
    transform(
      slice(sort_array(array(distStructs(vec, vNorm(vec), cents): _*)), 1, nprobe),
      s => s.getField("cell"))

  /** Dev-only: the native probe-cell selection as a frame, for spec
    * comparison against [[nearestCellsUnrolled]]. */
  private[graft] def probeCellsNative(
      queries: DataFrame, centroids: DataFrame, nprobe: Int): DataFrame =
    queries.select(col("vec_id"),
      nearestCells(col("embedding"), collectCents(centroids), nprobe).as("cells"))

  /** Dev-only: [[iterPlan]] on collected centroids, for PlanAuditSpec. */
  private[graft] def iterPlanProbe(corpus: DataFrame, centroids: DataFrame): DataFrame =
    iterPlan(corpus.select(col("vec_id"), col("embedding")),
      collectCents(centroids))
}
