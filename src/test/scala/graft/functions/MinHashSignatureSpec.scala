package graft.functions

import graft.{GraftSpec, Tables}
import graft.ext.Dedup
import org.apache.spark.sql.functions._

class MinHashSignatureSpec extends GraftSpec {
  import spark.implicits._

  test("graft_minhash matches the higher-order-function twin bit-exactly") {
    val docs = Tables(spark, "/root/testdata/sf0.01", "documents").limit(200)
    val sh = docs.select(col("doc_id"), Dedup.shingles(col("text")).as("sh"))
    val mismatches = sh.select(
        Dedup.minhashSignature(col("sh"), 32).as("native"),
        Dedup.minhashSignatureHof(col("sh"), 32).as("hof"))
      .filter(not(col("native") <=> col("hof")))
      .count()
    assert(mismatches == 0)
  }

  test("edge semantics match the twin: empty array, null element, null array") {
    val df = Seq(
      (1L, Some(Seq("a b c", "b c d"))),
      (2L, Some(Seq.empty[String])),        // k NULL elements
      (3L, None),                           // native: NULL out (documented divergence)
      (4L, Some(Seq("x y z", null)))        // null shingle folds seed only
    ).toDF("id", "sh")
    val rows = df.select(col("id"),
        Dedup.minhashSignature(col("sh"), 4).as("native"),
        Dedup.minhashSignatureHof(col("sh"), 4).as("hof"))
      .orderBy("id").collect()
    rows.filterNot(_.getLong(0) == 3L).foreach { r =>
      assert(r.isNullAt(1) == r.isNullAt(2), s"null mismatch on id=${r.getLong(0)}")
      if (!r.isNullAt(1))
        assert(r.getSeq[Any](1) == r.getSeq[Any](2), s"value mismatch on id=${r.getLong(0)}")
    }
    // null array: native is null-intolerant; the HOF tree's k-NULLs output
    // is an artifact its scaladoc documents as the one divergence
    assert(rows(2).isNullAt(1))
    assert(rows(2).getSeq[Any](2) == Seq(null, null, null, null))
    assert(rows(1).getSeq[Any](1) == Seq(null, null, null, null)) // empty array
    assert(rows(0).getSeq[Long](1).length == 4)
    intercept[IllegalArgumentException](Dedup.minhashSignature(col("sh"), 0))
  }
}
