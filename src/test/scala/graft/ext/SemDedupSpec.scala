package graft.ext

import org.apache.spark.sql.functions._

import graft.GraftSpec

class SemDedupSpec extends GraftSpec {
  import spark.implicits._

  test("dedupExact: transitive chain collapses to the least id, blocks isolate") {
    // 1≈2 and 2≈3 but 1 and 3 are not directly similar (chain: transitive
    // closure must still collapse all three); 4 matches 1 but sits in
    // another block; 5 is a zero vector (NULL sims — always survives)
    val docs = Seq(
      (1L, Seq(1.0f, 0.0f), "x"),
      (2L, Seq(0.9f, 0.44f), "x"),   // cos(1,2) ≈ 0.898
      (3L, Seq(0.62f, 0.78f), "x"),  // cos(2,3) ≈ 0.90, cos(1,3) ≈ 0.62
      (4L, Seq(1.0f, 0.0f), "y"),
      (5L, Seq(0.0f, 0.0f), "x")
    ).toDF("vec_id", "embedding", "label")
    val out = SemDedup.dedupExact(docs, "vec_id", "embedding", "label", 0.8)
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(out == Seq(1L, 4L, 5L))
  }

  test("shared closure: q84's survivor rule matches a driver-side union-find") {
    val emb = graft.Tables(spark, "/root/testdata/sf0.01", "embeddings")
    val pairs = Similarity.nearDupPairsBlocked(
        emb, "vec_id", "embedding", "label", 0.40)
      .select("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val losers = parent.keys.filter(x => find(x) != x).toSet
    val all = emb.select("vec_id").as[Long].collect().toSet
    val got = SemDedup.dedupExact(emb, "vec_id", "embedding", "label", 0.40)
      .select("vec_id").as[Long].collect().toSet
    assert(got == all -- losers)
  }
}
