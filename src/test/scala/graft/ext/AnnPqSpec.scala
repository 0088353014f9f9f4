package graft.ext

import org.apache.spark.sql.functions._

import graft.GraftSpec

class AnnPqSpec extends GraftSpec {
  import spark.implicits._

  private def emb(dir: String) = graft.Tables(spark, dir, "embeddings")

  test("sub-code assignment matches a JVM brute-force squared-L2 argmin") {
    val corpus = emb("/root/testdata/sf0.001")
    val cb = AnnPq.trainCodebooks(corpus, m = 8, ksub = 16, iters = 2)
    assert(cb.books.size == 8 && cb.books.forall(_.size == 16))
    val got = AnnPq.buildPqIndex(corpus, cb)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val raw = corpus.select("vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1))
    raw.take(50).foreach { case (id, v) =>
      val expect = (0 until cb.m).map { j =>
        val sub = v.slice(j * cb.subDim, (j + 1) * cb.subDim)
        cb.books(j).zipWithIndex.map { case (c, ci) =>
          val d = sub.zip(c).map { case (a, b) =>
            (a.toDouble - b.toDouble) * (a.toDouble - b.toDouble) }.sum
          (d, ci.toLong)
        }.minBy(x => (x._1, x._2))._2
      }
      assert(got(id) == expect, s"codes drifted for vec $id")
    }
  }

  test("rerank = |corpus| makes PQ exactly brute force (approximation only prunes)") {
    val corpus = emb("/root/testdata/sf0.001")
    val n = corpus.count().toInt
    val cb = AnnPq.trainCodebooks(corpus, m = 8, ksub = 16, iters = 1)
    val queries = corpus.filter(col("vec_id") < 4)
    val pq = AnnPq.topK(queries, corpus, cb, kNeighbors = 5, rerank = n)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val bf = Similarity.bruteForceTopK(queries, corpus, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(pq.toSeq == bf.toSeq)
  }

  test("ADC recall vs brute force at rerank 50/2000 on sf0.01 embeddings") {
    val corpus = emb("/root/testdata/sf0.01")
    val cb = AnnPq.trainCodebooks(corpus, m = 8, ksub = 16, iters = 2)
    val queries = corpus.filter(col("vec_id") < 8)
    val got = AnnPq.topK(queries, corpus, cb, kNeighbors = 5, rerank = 50)
      .select("q_id", "nn_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = Similarity.bruteForceTopK(queries, corpus, k = 5)
      .select("q_id", "nn_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (got & truth).size.toDouble / truth.size
    info(f"PQ recall at rerank 50 (m=8, ksub=16): $recall%.3f")
    assert(recall >= 0.5, f"PQ recall $recall%.3f collapsed")
    // exact re-rank contract: every returned sim is the exact cosine
    assert(got.size == truth.size)
  }

  test("index append with same codebooks equals from-scratch rebuild") {
    val corpus = emb("/root/testdata/sf0.001")
    val cb = AnnPq.trainCodebooks(corpus, m = 8, ksub = 8, iters = 1)
    val old = corpus.filter(col("vec_id") % 2 === 0)
    val batch = corpus.filter(col("vec_id") % 2 === 1)
    val unioned = AnnPq.buildPqIndex(old, cb).unionByName(AnnPq.buildPqIndex(batch, cb))
    val rebuilt = AnnPq.buildPqIndex(corpus, cb)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getDouble(2))).toSet
    assert(key(unioned) == key(rebuilt))
  }

  test("ivfPqTopK with nprobe = all cells degrades exactly to topKIndexed") {
    val corpus = emb("/root/testdata/sf0.001")
    val cb = AnnPq.trainCodebooks(corpus, m = 8, ksub = 16, iters = 1)
    val centroids = AnnIvf.trainCentroids(corpus, k = 16, iters = 1)
    val queries = corpus.filter(col("vec_id") < 4)
    val combined = AnnPq.buildIvfPqIndex(corpus, centroids, cb)
    val full = AnnPq.ivfPqTopK(queries, combined, corpus, centroids, cb,
      kNeighbors = 5, nprobe = 16, rerank = 30)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val flat = AnnPq.topKIndexed(queries, AnnPq.buildPqIndex(corpus, cb), corpus, cb,
      kNeighbors = 5, rerank = 30)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(full.toSeq == flat.toSeq)
  }

  test("ivfPqTopK recall vs brute force (nprobe 10/16, rerank 50) on sf0.01") {
    val corpus = emb("/root/testdata/sf0.01")
    val cb = AnnPq.trainCodebooks(corpus, m = 8, ksub = 16, iters = 2)
    val centroids = AnnIvf.trainCentroids(corpus, k = 16, iters = 2)
    val queries = corpus.filter(col("vec_id") < 8)
    val combined = AnnPq.buildIvfPqIndex(corpus, centroids, cb)
    val got = AnnPq.ivfPqTopK(queries, combined, corpus, centroids, cb,
      kNeighbors = 5, nprobe = 10, rerank = 50)
      .select("q_id", "nn_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = Similarity.bruteForceTopK(queries, corpus, k = 5)
      .select("q_id", "nn_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (got & truth).size.toDouble / truth.size
    info(f"IVF-PQ recall (nprobe 10/16, rerank 50): $recall%.3f")
    assert(recall >= 0.4, f"IVF-PQ recall $recall%.3f collapsed")
    assert(got.size == truth.size)
  }

  test("empty corpus: empty books, empty index, empty topK — never a throw") {
    val empty = emb("/root/testdata/sf0.001").filter(lit(false))
    val cb = AnnPq.trainCodebooks(empty, m = 8, ksub = 16)
    assert(cb.books.isEmpty)
    assert(AnnPq.buildPqIndex(empty, cb).count() == 0)
    val q = emb("/root/testdata/sf0.001").filter(col("vec_id") < 2)
    assert(AnnPq.topK(q, empty, cb, 5, 10).count() == 0)
    val cents = AnnIvf.trainCentroids(empty, k = 4, iters = 1)
    assert(AnnPq.buildIvfPqIndex(empty, cents, cb).count() == 0)
    assert(AnnPq.ivfPqTopK(q, AnnPq.buildIvfPqIndex(empty, cents, cb),
      empty, cents, cb, 5, 2, 10).count() == 0)
  }

  test("suggestedKsub/suggestedRerank: fixture floors hold the certified " +
      "small-SF geometry, the sqrt(n) ramp engages between, the 8-bit " +
      "cap binds at depth") {
    // floors: the harness fixtures (200 and 2000 vectors at sf0.01) must
    // keep their certified ksub=16 / rerank=50 behavior at sf0.01 scale
    assert(AnnPq.suggestedKsub(200L) == 16)
    assert(AnnPq.suggestedRerank(200L, 5) == 50)
    // ramp: ceil(sqrt(n)) and 2*ceil... at the sf1 point
    assert(AnnPq.suggestedKsub(20000L) == 142)
    assert(AnnPq.suggestedRerank(20000L, 5) == 283)
    // cap: the FAISS 8-bit convention from ~65k vectors up (sf10 = 200k)
    assert(AnnPq.suggestedKsub(200000L) == 256)
    assert(AnnPq.suggestedKsub(2000000000L) == 256)
    // rerank keeps growing (it prices point lookups, not codebook size)
    assert(AnnPq.suggestedRerank(200000L, 5) == 895)
    // monotone non-decreasing on a scale ladder
    val ladder = Seq(100L, 1000L, 10000L, 100000L, 1000000L)
    assert(ladder.map(AnnPq.suggestedKsub) == ladder.map(AnnPq.suggestedKsub).sorted)
    assert(ladder.map(AnnPq.suggestedRerank(_, 5)) ==
      ladder.map(AnnPq.suggestedRerank(_, 5)).sorted)
  }
}
