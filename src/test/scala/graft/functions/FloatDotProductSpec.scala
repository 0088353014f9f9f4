package graft.functions

import graft.{GraftSpec, Tables}
import graft.ext.Similarity
import org.apache.spark.sql.functions._

class FloatDotProductSpec extends GraftSpec {
  import spark.implicits._

  test("graft_dot matches the higher-order-function fold bit-exactly") {
    val emb = Tables(spark, "/root/testdata/sf0.01", "embeddings").limit(100)
    val a = emb.select(col("vec_id").as("a_id"), col("embedding").as("a"))
    val b = emb.select(col("vec_id").as("b_id"), col("embedding").as("b"))
    val mismatches = a.crossJoin(b.limit(5))
      .select(
        Similarity.dot(col("a"), col("b")).as("hof"),
        Similarity.nativeDot(col("a"), col("b")).as("native"))
      .filter(col("hof") =!= col("native")) // exact double compare
      .count()
    assert(mismatches == 0)
  }

  test("null semantics: length mismatch, null element, null array → NULL") {
    val df = Seq(
      (Some(Seq(1.0f, 2.0f)), Some(Seq(3.0f, 4.0f))),         // 11.0
      (Some(Seq(1.0f, 2.0f)), Some(Seq(3.0f))),               // length mismatch
      (Some(Seq(1.0f, 2.0f)), None)                           // null array
    ).toDF("a", "b")
    val r = df.select(Similarity.nativeDot(col("a"), col("b"))).collect()
    assert(r(0).getDouble(0) == 11.0)
    assert(r(1).isNullAt(0))
    assert(r(2).isNullAt(0))

    // literal operands constant-fold, so this row runs the interpreted eval
    def floats(xs: java.lang.Float*) =
      array(xs.map(x => lit(x).cast("float")): _*)
    val folded = spark.range(1).select(
      Similarity.nativeDot(floats(1.0f, 2.0f, 3.0f), floats(4.0f, 5.0f, 6.0f)),
      Similarity.nativeDot(floats(1.0f, null), floats(1.0f, 2.0f)))
    val row = folded.collect()(0)
    info(s"constant-folded row: $row")
    assert(row.getDouble(0) == 32.0)
    assert(row.isNullAt(1))
  }
}
