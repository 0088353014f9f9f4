package graft.functions

import graft.GraftSpec
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.functions._

/** Twin-spec for [[TriangleCredits]]: on sorted duplicate-free neighbor
  * lists (the shape [[graft.ext.GraphOps.triangleCountsSimple]] builds),
  * the fused flat credits must equal the built-in composition —
  * `c = size(array_intersect(nx, ny))`; empty when c = 0, else
  * `[x ×c] ++ [y ×c] ++ array_intersect(nx, ny)` (sorted lists → sorted
  * intersection, matching the merge's emit order). GraphOpsSpec
  * separately pins the END result (triangle counts) against brute force
  * on hub-skewed random graphs. */
class TriangleCreditsSpec extends GraftSpec {
  import spark.implicits._

  private def assertTwin(rows: Seq[(Long, Long, Seq[Long], Seq[Long])]): Unit = {
    val df = rows.toDF("x", "y", "nx", "ny")
    val twin = {
      val zs = array_intersect(col("nx"), col("ny"))
      val c = size(zs)
      when(c > 0,
        concat(array_repeat(col("x"), c), array_repeat(col("y"), c), zs))
        .otherwise(array().cast("array<bigint>"))
    }
    val out = df.select(
      column(TriangleCredits(expression(col("x")), expression(col("y")),
        expression(col("nx")), expression(col("ny")))).as("native"),
      twin.as("twin"))
    val bad = out.filter(!(col("native") <=> col("twin")))
    assert(bad.count() == 0, {
      val r = bad.take(1).headOption.map(_.toString).getOrElse("")
      s"fused credits diverged from the built-in twin, e.g. $r"
    })
  }

  test("hand cases: full overlap, partial, disjoint, empty lists") {
    assertTwin(Seq(
      (1L, 2L, Seq(2L, 3L, 4L), Seq(3L, 4L, 5L)), // ∩ = {3,4}
      (1L, 2L, Seq(2L, 3L), Seq(3L)), // ∩ = {3}
      (1L, 2L, Seq(2L), Seq(5L, 6L)), // disjoint → empty
      (1L, 2L, Seq.empty[Long], Seq(3L)), // empty side
      (7L, 9L, Seq(9L, 11L, 13L, 15L), Seq(11L, 13L, 15L, 17L))))
  }

  test("fuzz: 500 random sorted duplicate-free list pairs") {
    var s = 0x9E3779B97F4A7C15L
    def next(bound: Int): Int = {
      s = s * 6364136223846793005L + 1442695040888963407L
      (math.abs(s >>> 17) % bound).toInt
    }
    val rows = (1 to 500).map { _ =>
      def mk(): Seq[Long] =
        Seq.fill(next(20))(next(30).toLong).distinct.sorted
      (next(100).toLong, next(100).toLong, mk(), mk())
    }
    assertTwin(rows)
  }

  test("NULL inputs propagate") {
    val df = Seq((1L, 2L)).toDF("x", "y")
      .withColumn("nx", lit(null).cast("array<bigint>"))
      .withColumn("ny", array(lit(1L)))
    val out = df.select(column(TriangleCredits(expression(col("x")),
      expression(col("y")), expression(col("nx")), expression(col("ny")))).as("c"))
    assert(out.collect().forall(_.isNullAt(0)))
  }
}
