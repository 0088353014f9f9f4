package graft.ext

import graft.GraftSpec
import org.apache.spark.sql.functions.{lit, when}

class MiningSpec extends GraftSpec {
  import spark.implicits._

  // the EvalSpec geometry: two orthogonal clusters + a plant inside the
  // wrong cluster — its nearest same-cluster vectors are its NEGATIVES
  private lazy val emb = Seq(
    (1L, Array(1.0f, 0.0f, 0.01f), 0),
    (2L, Array(1.0f, 0.01f, 0.0f), 0),
    (3L, Array(0.99f, 0.0f, 0.02f), 0),
    (4L, Array(0.0f, 1.0f, 0.01f), 1),
    (5L, Array(0.01f, 1.0f, 0.0f), 1),
    (6L, Array(0.0f, 0.99f, 0.02f), 1),
    (7L, Array(0.0f, 1.0f, 0.03f), 0) // mislabeled plant
  ).toDF("vec_id", "embedding", "label")

  private def fullNeighbors = {
    val centroids = AnnIvf.trainCentroids(emb, k = 2, iters = 2)
    AnnIvf.knnJoin(emb, centroids, kNeighbors = 6, nprobe = 2)
  }

  test("hard negatives are the most-similar OTHER-label items; positives " +
    "the most-similar same-label; ranks re-numbered per kind") {
    val pairs = Mining.contrastivePairs(fullNeighbors, emb,
        kPos = 2, kNeg = 2)
      .collect().map(r => ((r.getLong(0), r.getString(2), r.getLong(3)),
        r.getLong(1))).toMap
    // vector 1 (cluster A, label 0): positives are its cluster mates,
    // negatives the cross-axis cluster — which one leads is the frame's
    // sim order, re-ranked densely per kind
    assert(Set(2L, 3L).contains(pairs((1L, "pos", 1L))))
    assert(Set(2L, 3L, 7L).contains(pairs((1L, "pos", 2L))))
    val neg1 = Seq(pairs((1L, "neg", 1L)), pairs((1L, "neg", 2L)))
    assert(neg1.forall(Set(4L, 5L, 6L).contains), s"neg1=$neg1")
    // the PLANT (7, labeled 0, sitting in cluster B): its hard negatives
    // are its geometric neighbors 4/5/6 — maximally similar, other label;
    // exactly the pairs a contrastive objective learns most from
    val plantNegs = Seq(pairs((7L, "neg", 1L)), pairs((7L, "neg", 2L)))
    assert(plantNegs.toSet.subsetOf(Set(4L, 5L, 6L)), s"plant=$plantNegs")
  }

  test("an anchor whose frame holds fewer than kNeg other-label items " +
    "yields fewer pairs — no backfill; labelless rows drop") {
    // frame depth 2: vector 1's two nearest are both label 0 → 0 negatives
    val centroids = AnnIvf.trainCentroids(emb, k = 2, iters = 2)
    val shallow = AnnIvf.knnJoin(emb, centroids, kNeighbors = 2, nprobe = 2)
    val got = Mining.contrastivePairs(shallow, emb, kPos = 2, kNeg = 3)
    assert(got.filter($"q_id" === 1L && $"kind" === "neg").count() == 0L)
    assert(got.filter($"q_id" === 1L && $"kind" === "pos").count() == 2L)

    val noLabel = emb.withColumn("label",
      when($"vec_id" === 4L, lit(null: Integer)).otherwise($"label"))
    val dropped = Mining.contrastivePairs(fullNeighbors, noLabel)
    assert(dropped.filter($"nn_id" === 4L || $"q_id" === 4L).count() == 0L)
  }

  test("k bounds validated") {
    intercept[IllegalArgumentException] {
      Mining.contrastivePairs(fullNeighbors, emb, kPos = 0, kNeg = 0)
    }
    intercept[IllegalArgumentException] {
      Mining.contrastivePairs(fullNeighbors, emb, kPos = -1, kNeg = 2)
    }
  }

  test("associationRules: textbook support/confidence/lift on a " +
    "4-basket corpus; duplicates collapse; minSupport cuts") {
    val m = Seq((1L, "A"), (1L, "B"), (1L, "B"), // dup membership
      (2L, "A"), (2L, "B"), (3L, "A"), (4L, "B"), (4L, "C"))
      .toDF("b", "i")
    def rules(minSup: Long) =
      Mining.associationRules(m, "b", "i", minSup)
        .collect().map(r => (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getDouble(3), r.getDouble(4),
            r.getDouble(5)))).toMap
    val all = rules(1L)
    // n=4 baskets; n_A=3, n_B=3, n_C=1; AB together in 2, BC in 1
    assert(all(("A", "B")) == ((2L, 0.5, 0.666667, 0.888889)))
    assert(all(("B", "A"))._3 == 0.666667, "confidence is directional")
    assert(all(("B", "C")) == ((1L, 0.25, 0.333333, 1.333333)))
    assert(all(("C", "B")) == ((1L, 0.25, 1.0, 1.333333)))
    assert(!all.contains(("A", "C")), "never co-basketed")
    assert(rules(2L).keySet == Set(("A", "B"), ("B", "A")),
      "minSupport cut")
  }
}
