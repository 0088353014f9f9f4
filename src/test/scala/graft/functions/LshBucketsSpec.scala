package graft.functions

import graft.{GraftSpec, Tables}
import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.functions._

class LshBucketsSpec extends GraftSpec {
  import spark.implicits._

  /** The engine-agnostic HOF formulation graft_lsh_buckets replaced —
    * per-plane `aggregate(zip_with(...))` sign bits, per-table left-fold
    * MSB-first pack — rebuilt here as the semantics reference. */
  private def hofBuckets(
      vec: Column, bits: Int, tables: Int, dim: Int, seed: Long): Column = {
    val planes = LshBuckets.planeRows(bits * tables, dim, seed)
      .map(_.toDouble).toSeq.grouped(dim).toSeq
    val entries = (0 until tables).map { t =>
      (0 until bits).map { h =>
        val p = typedLit(planes(t * bits + h))
        when(
          aggregate(
            zip_with(vec, p, (x, pl) => x.cast("double") * pl),
            lit(0.0), (acc, x) => acc + x) > 0d,
          1L).otherwise(0L)
      }.foldLeft(lit(0L): Column)((acc, b) => acc * 2 + b)
    }
    array(entries: _*)
  }

  test("graft_lsh_buckets matches the HOF twin bit-exactly on real embeddings") {
    val emb = Tables(spark, "/root/testdata/sf0.01", "embeddings").limit(300)
    val (bits, tables, dim) = (4, 32, 64)
    val mismatches = emb.select(
        column(LshBuckets(expression(col("embedding")), bits, tables, dim, 42L))
          .as("native"),
        hofBuckets(col("embedding"), bits, tables, dim, 42L).as("hof"))
      .filter(not(col("native") <=> col("hof")))
      .count()
    assert(mismatches == 0)
  }

  test("null and wrong-dim semantics: null vector → NULL; bad dim → 0 bits") {
    val df = Seq(
      (1L, Some(Seq.fill(8)(1.0f))),
      (2L, None),                      // null vector
      (3L, Some(Seq(1.0f, 2.0f)))     // dim mismatch → every bit 0
    ).toDF("id", "v")
    val r = df.select(col("id"),
        column(LshBuckets(expression(col("v")), 4, 2, 8, 42L)).as("b"))
      .orderBy("id").collect()
    assert(!r(0).isNullAt(1))
    assert(r(1).isNullAt(1))
    assert(r(2).getSeq[Long](1) == Seq(0L, 0L))
  }

  test("deterministic across invocations; seed changes buckets") {
    val emb = Tables(spark, "/root/testdata/sf0.01", "embeddings").limit(50)
    def run(seed: Long) = emb.select(col("vec_id"),
        column(LshBuckets(expression(col("embedding")), 4, 8, 64, seed)).as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(run(42L) == run(42L))
    assert(run(42L) != run(43L))
  }
}
