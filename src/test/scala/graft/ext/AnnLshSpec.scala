package graft.ext

import graft.{GraftSpec, Tables}
import org.apache.spark.sql.functions._

class AnnLshSpec extends GraftSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.01"

  test("plane matrix is deterministic and ±1-valued") {
    val p1 = AnnLshTwins.planeMatrix(8, 16, seed = 42L)
    val p2 = AnnLshTwins.planeMatrix(8, 16, seed = 42L)
    assert(p1 == p2)
    assert(p1.flatten.forall(v => v == 1.0 || v == -1.0))
    assert(AnnLshTwins.planeMatrix(8, 16, seed = 43L) != p1)
  }

  test("buckets: one row per table, bucket within [0, 2^bits)") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val b = AnnLsh.buckets(vecs, "vec_id", "embedding", dim = 3,
      bitsPerTable = 4, numTables = 6)
    assert(b.count() == 12)
    val range = b.agg(min("bucket"), max("bucket")).collect()(0)
    assert(range.getLong(0) >= 0L && range.getLong(1) < 16L)
  }

  test("identical vectors always share every bucket") {
    val vecs = Seq(
      (0L, Array(0.3f, -1.2f, 0.8f, 0.1f)),
      (1L, Array(0.3f, -1.2f, 0.8f, 0.1f))
    ).toDF("vec_id", "embedding")
    val shared = AnnLsh
      .buckets(vecs, "vec_id", "embedding", dim = 4, bitsPerTable = 8, numTables = 4)
      .groupBy("table", "bucket").count().filter(col("count") === 2)
    assert(shared.count() == 4)
  }

  test("recall vs brute force >= 0.9 on sf0.01 embeddings") {
    val emb = Tables(spark, sfDir, "embeddings")
    val queries = emb.filter(col("vec_id") < 8)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("q_id", "nn_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs(Similarity.bruteForceTopK(queries, emb, k = 5))
    val ann   = pairs(AnnLsh.annTopK(queries, emb, k = 5, dim = 64))
    val recall = (truth & ann).size.toDouble / truth.size
    info(f"ANN recall on near-uniform embeddings: $recall%.3f")
    assert(recall >= 0.9)
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double, Long)] =
    df.collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("nn_id"),
      r.getAs[Double]("sim"), r.getAs[Long]("rank"))).toSeq

  test("persisted index: indexed topK ≡ self-contained; index append ≡ from-scratch rebuild") {
    val emb = Tables(spark, sfDir, "embeddings")
    val queries = emb.filter(col("vec_id") < 8)

    // the parquet round-trip IS the production shape — spec it, not just
    // the in-memory frame
    val tmp = java.nio.file.Files.createTempDirectory("graft_lsh_idx").toString
    try {
      AnnLsh.buildLshIndex(emb, dim = 64).write.mode("overwrite").parquet(tmp)
      val index = spark.read.parquet(tmp)
      val self = rows(AnnLsh.annTopK(queries, emb, k = 5, dim = 64))
      assert(rows(AnnLsh.annTopKIndexed(queries, index, k = 5, dim = 64)) == self)

      // append half of the maintenance loop: index(old) ∪ buildLshIndex(new)
      // equals buildLshIndex(old ∪ new) under the SAME parameter generation
      val oldHalf = emb.filter(col("vec_id") % 2 === 0)
      val newHalf = emb.filter(col("vec_id") % 2 === 1)
      val appended = AnnLsh.buildLshIndex(oldHalf, dim = 64)
        .unionAll(AnnLsh.buildLshIndex(newHalf, dim = 64))
      def idxRows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getAs[Long]("nn_id"),
          r.getSeq[Long](r.fieldIndex("bkts")).toSeq,
          r.getSeq[Float](r.fieldIndex("nn_emb")).toSeq,
          r.getAs[Double]("nn_n"))).toSet
      assert(idxRows(appended) == idxRows(AnnLsh.buildLshIndex(emb, dim = 64)))

      // and the probe against the appended index screens identically
      assert(rows(AnnLsh.annTopKIndexed(queries, appended, k = 5, dim = 64)) == self)
    } finally {
      val p = new org.apache.hadoop.fs.Path(tmp)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }
}
