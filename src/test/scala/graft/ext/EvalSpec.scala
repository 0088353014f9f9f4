package graft.ext

import graft.GraftSpec
import org.apache.spark.sql.functions.{lit, nullif, round}

class EvalSpec extends GraftSpec {
  import spark.implicits._

  // two tight clusters on orthogonal axes + one vector planted INSIDE
  // the wrong cluster — its neighbors all vote the other label
  private lazy val emb = Seq(
    (1L, Array(1.0f, 0.0f, 0.01f), 0),
    (2L, Array(1.0f, 0.01f, 0.0f), 0),
    (3L, Array(0.99f, 0.0f, 0.02f), 0),
    (4L, Array(0.0f, 1.0f, 0.01f), 1),
    (5L, Array(0.01f, 1.0f, 0.0f), 1),
    (6L, Array(0.0f, 0.99f, 0.02f), 1),
    (7L, Array(0.0f, 1.0f, 0.03f), 0) // mislabeled plant
  ).toDF("vec_id", "embedding", "label")

  test("clean cluster members classify correctly; the planted vector " +
    "gets outvoted") {
    val got = Eval.knnClassify(emb, k = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getLong(3)))).toMap
    (1L to 3L).foreach(i => assert(got(i) == ((0, 0, 1L)), s"vec $i"))
    (4L to 6L).foreach(i => assert(got(i) == ((1, 1, 1L)), s"vec $i"))
    assert(got(7L) == ((0, 1, 0L)), "plant must be outvoted by its cluster")
  }

  test("vote ties break to the smallest label") {
    // k=2: each query sees one neighbor of each label → 1-1 tie → label 0
    val tied = Seq(
      (1L, Array(1.0f, 0.0f), 5),
      (2L, Array(0.9f, 0.1f), 0),
      (3L, Array(0.9f, -0.1f), 1)
    ).toDF("vec_id", "embedding", "label")
    val got = Eval.knnClassify(tied, k = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(got(1L) == 0, "1-1 tie must resolve to the smallest label")
  }

  test("NULL labels and NULL vectors are excluded from both sides") {
    val withNulls = emb.unionByName(Seq(
      (8L, Array(1.0f, 0.0f, 0.0f), Option.empty[Int]),
      (9L, null.asInstanceOf[Array[Float]], Option(0))
    ).toDF("vec_id", "embedding", "label"))
    val got = Eval.knnClassify(withNulls, k = 3)
    assert(got.count() == 7L)
    // and the labeled rows' votes are unchanged by the excluded rows
    assert(got.filter($"vec_id" === 7L).head().getInt(2) == 1)
  }

  test("k must be positive") {
    intercept[IllegalArgumentException] { Eval.knnClassify(emb, k = 0) }
    intercept[IllegalArgumentException] {
      Eval.knnClassifyAnn(emb.limit(0), emb, k = 0)
    }
  }

  test("knnClassifyAnn: the ANN-fed vote equals exact knnClassify under " +
    "full probe coverage") {
    // full coverage: nprobe = centroid count → the cell equi-join
    // enumerates every labeled vector as a candidate, so the neighbor
    // frame IS the exact top-k and the shared vote must reproduce
    // knnClassify row for row — including the outvoted plant
    val centroids = AnnIvf.trainCentroids(emb, k = 2, iters = 2)
    val neighbors = AnnIvf.knnJoin(emb, centroids, kNeighbors = 3, nprobe = 2)
    val ann = Eval.knnClassifyAnn(neighbors, emb, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getLong(3))).toSet
    val exact = Eval.knnClassify(emb, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getLong(3))).toSet
    assert(ann == exact, s"ann=$ann exact=$exact")
  }

  test("knnClassifyAnn: labelless rows neither vote nor get classified") {
    val withNulls = emb.unionByName(Seq(
      (8L, Array(0.0f, 1.0f, 0.02f), Option.empty[Int])
    ).toDF("vec_id", "embedding", "label"))
    val centroids = AnnIvf.trainCentroids(emb, k = 2, iters = 2)
    // neighbor frame over the LABELED subset (the documented leave-one-out
    // contract); labels frame still carries the NULL row — it must drop
    val neighbors = AnnIvf.knnJoin(emb, centroids, kNeighbors = 3, nprobe = 2)
    val got = Eval.knnClassifyAnn(neighbors, withNulls, k = 3)
    assert(got.count() == 7L)
    assert(got.filter($"vec_id" === 7L).head().getInt(2) == 1)
  }

  test("labelNoise: the planted vector is flagged with the cluster's " +
    "label as its competitor; clean members are not flagged") {
    val centroids = AnnIvf.trainCentroids(emb, k = 2, iters = 2)
    val neighbors = AnnIvf.knnJoin(emb, centroids, kNeighbors = 3, nprobe = 2)
    val got = Eval.labelNoise(neighbors, emb, k = 3, flagBelow = 0.4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4), r.getInt(5),
          r.getLong(6)))).toMap
    // only the plant: its 3 nearest are all label 1 → own_frac 0
    assert(got.keySet == Set(7L), got)
    assert(got(7L) == ((3L, 0L, 0.0, 1, 3L)))
    // every clean member's top-3 is 2 cluster mates + one outsider
    // (own_frac = 2/3): a 0.7 threshold flags them all — the rounded
    // fraction, not the flag set, is what separates clean from planted
    val loose = Eval.labelNoise(neighbors, emb, k = 3, flagBelow = 0.7)
      .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
    assert(loose(7L) == 0.0)
    assert((1L to 6L).forall(i => loose(i) == 0.666667), loose)
  }

  test("confusion: cells with within-label shares; the plant shows up " +
    "off-diagonal") {
    val got = Eval.confusion(Eval.knnClassify(emb, k = 3))
      .collect().map(r => ((r.getInt(0), r.getInt(1)),
        (r.getLong(2), r.getDouble(3)))).toMap
    // label 0: 3 correct + the plant predicted 1 → shares 0.75 / 0.25
    assert(got((0, 0)) == ((3L, 0.75)))
    assert(got((0, 1)) == ((1L, 0.25)))
    assert(got((1, 1)) == ((3L, 1.0)))
    assert(!got.contains((1, 0)))
  }

  test("classificationReport: per-class precision/recall/F1 from exact " +
    "counts; zero-vs-undefined axes distinguished") {
    // labels:  a a a b b c   preds: a a b b b a
    // class a: support 3, predicted 3, diag 2 → p=2/3 r=2/3 f1=2/3
    // class b: support 2, predicted 3, diag 2 → p=2/3 r=1   f1=0.8
    // class c: support 1, predicted 0, diag 0 → p NULL, r 0, f1 NULL
    val cls = Seq(("a", "a"), ("a", "a"), ("a", "b"), ("b", "b"),
      ("b", "b"), ("c", "a")).toDF("label", "pred")
    val got = Eval.classificationReport(cls)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), Option(r.get(2)), Option(r.get(3)),
          Option(r.get(4))))).toMap
    assert(got("a") == ((3L, Some(0.666667), Some(0.666667), Some(0.666667))))
    assert(got("b") == ((2L, Some(0.666667), Some(1.0), Some(0.8))))
    assert(got("c") == ((1L, None, Some(0.0), None)))
    // a prediction onto a label that never truly occurs: support 0,
    // precision 0.0 (predicted, always wrong), recall NULL (undefined)
    val phantom = Eval.classificationReport(
        cls.unionByName(Seq(("a", "z")).toDF("label", "pred")))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), Option(r.get(2)), Option(r.get(3))))).toMap
    assert(phantom("z") == ((0L, Some(0.0), None)))
  }

  test("spearman: +1 on a monotone pair, -1 on a reversed pair, ties " +
    "broken by id; n<2 yields NULL") {
    def frame(rows: Seq[(Long, Long, Long)]) =
      rows.toDF("id", "a", "b")
    val mono = Eval.spearman(frame(Seq((1L, 1L, 10L), (2L, 2L, 20L),
      (3L, 3L, 30L))), "a", "b", "id").head()
    assert(mono.getLong(0) == 3L && mono.getDouble(1) == 1.0)
    val rev = Eval.spearman(frame(Seq((1L, 1L, 30L), (2L, 2L, 20L),
      (3L, 3L, 10L))), "a", "b", "id").head()
    assert(rev.getDouble(1) == -1.0)
    // all-tied values: no rank variance → textbook rho undefined (NULL);
    // the deterministic id-tiebreak variant ranks by id on both axes → 1
    val allTied = frame(Seq((1L, 5L, 7L), (2L, 5L, 7L)))
    assert(Eval.spearman(allTied, "a", "b", "id").head().isNullAt(1))
    assert(Eval.spearman(allTied, "a", "b", "id", tieAverage = false)
      .head().getDouble(1) == 1.0)
    val single = Eval.spearman(frame(Seq((1L, 1L, 1L))), "a", "b", "id")
      .head()
    assert(single.getLong(0) == 1L && single.isNullAt(1))
  }

  test("golden vectors from tools/golden_stats.py — independent " +
    "brute-force pair-count AUC and sort-based rho (a third " +
    "implementation against the Spark/oracle formula pair)") {
    // 9 scored rows with a cross-class tie at 0.8 and a same-sign tie
    // at 0.5 → brute-force P(s+ > s-) + 0.5 P(=) = 0.55
    val scored = Seq((0.9, 1), (0.8, 0), (0.8, 1), (0.7, 0), (0.6, 1),
        (0.5, 0), (0.5, 1), (0.4, 0), (0.3, 1))
      .zipWithIndex.map { case ((s, y), i) => (i.toLong, s, y) }
      .toDF("id", "score", "y")
    val auc = Eval.rocAuc(scored, "score", "y", "id").head()
    assert(auc.getLong(0) == 5L && auc.getLong(1) == 4L &&
      auc.getDouble(2) == 0.55, s"$auc")
    // spearman(a=[1,2,2,4,5], b=[2,1,3,3,5]) → rho = 0.763158
    val sp = Eval.spearman(
      Seq((1L, 1L, 2L), (2L, 2L, 1L), (3L, 2L, 3L), (4L, 4L, 3L),
        (5L, 5L, 5L)).toDF("id", "a", "b"),
      "a", "b", "id").head()
    assert(sp.getDouble(1) == 0.763158, s"$sp")
  }

  test("spearman: tie-heavy data matches the textbook fractional-rank rho") {
    // a = [1,2,2,4,5], b = [2,1,3,4,4]
    // avg ranks: ra = [1, 2.5, 2.5, 4, 5], rb = [2, 1, 3, 4.5, 4.5]
    // Pearson(ra, rb) = 7.5 / 9.5 = 0.7894736... (scipy.stats.spearmanr
    // gives the same) → 0.789474 at 6 dp. The id-tiebreak variant on the
    // same data gives 1 - 6*2/120 = 0.9 — demonstrably NOT textbook rho.
    val df = Seq((1L, 1L, 2L), (2L, 2L, 1L), (3L, 2L, 3L),
      (4L, 4L, 4L), (5L, 5L, 4L)).toDF("id", "a", "b")
    val got = Eval.spearman(df, "a", "b", "id").head()
    assert(got.getLong(0) == 5L && got.getDouble(1) == 0.789474,
      s"rho = ${got.getDouble(1)}")
    val fallback =
      Eval.spearman(df, "a", "b", "id", tieAverage = false).head()
    assert(fallback.getDouble(1) == 0.9)
  }

  test("cohensKappa: hand-computed kappa on the report fixture; perfect " +
    "agreement is 1; a single class on both axes is NULL") {
    // labels a a a b b c, preds a a b b b a:
    // n=6, diag=4 → po = 4/6; S = Σ sup·prd = 3·3 + 2·3 = 15 → pe = 15/36
    // κ = (6·4 − 15)/(36 − 15) = 9/21 = 0.428571
    val cls = Seq(("a", "a"), ("a", "a"), ("a", "b"), ("b", "b"),
      ("b", "b"), ("c", "a")).toDF("label", "pred")
    val got = Eval.cohensKappa(cls).head()
    assert(got.getLong(0) == 6L && got.getDouble(1) == 0.666667 &&
      got.getDouble(2) == 0.416667 && got.getDouble(3) == 0.428571,
      s"got $got")
    val perfect = Eval.cohensKappa(
      Seq(("a", "a"), ("b", "b")).toDF("label", "pred")).head()
    assert(perfect.getDouble(3) == 1.0)
    // one class on both axes: pe = 1 → κ undefined → NULL
    val degenerate = Eval.cohensKappa(
      Seq(("a", "a"), ("a", "a")).toDF("label", "pred")).head()
    assert(degenerate.isNullAt(3))
  }

  test("fleissKappaBinary: hand-computed panel; perfect agreement is 1; " +
    "unanimous single category is NULL; NULL-rated items drop") {
    // items (1,1,1),(1,1,0),(0,0,0),(1,0,0): A = 9+5+9+5 = 28, S1 = 6,
    // M = 12, Q = 72 → P̄ = 16/24 = 2/3, P̄e = 1/2,
    // κ = (12·16 − 2·72)/(2·(144 − 72)) = 48/144 = 1/3
    val df = Seq((1, 1, 1), (1, 1, 0), (0, 0, 0), (1, 0, 0))
      .toDF("a", "b", "c")
    val got = Eval.fleissKappaBinary(df,
      Seq($"a" === 1, $"b" === 1, $"c" === 1)).head()
    assert(got.getLong(0) == 4L && got.getDouble(1) == 0.666667 &&
      got.getDouble(2) == 0.5 && got.getDouble(3) == 0.333333, s"$got")
    // all raters always agree, both categories present: κ = 1
    val perfect = Eval.fleissKappaBinary(
      Seq((1, 1), (0, 0)).toDF("a", "b"),
      Seq($"a" === 1, $"b" === 1)).head()
    assert(perfect.getDouble(3) == 1.0)
    // one unanimous category everywhere: P̄e = 1 → NULL
    val degenerate = Eval.fleissKappaBinary(
      Seq((1, 1), (1, 1)).toDF("a", "b"),
      Seq($"a" === 1, $"b" === 1)).head()
    assert(degenerate.isNullAt(3))
    // an item with any NULL rating is invisible
    val withNull = Seq((Some(1), Some(1), Some(1)), (Some(1), Some(1),
      Some(0)), (Some(0), Some(0), Some(0)), (Some(1), Some(0), Some(0)),
      (Some(1), Option.empty[Int], Some(1)))
      .toDF("a", "b", "c")
    val dropped = Eval.fleissKappaBinary(withNull,
      Seq($"a" === 1, $"b" === 1, $"c" === 1)).head()
    assert(dropped.toSeq == got.toSeq)
    intercept[IllegalArgumentException] {
      Eval.fleissKappaBinary(df, Seq($"a" === 1))
    }
  }

  test("rocAuc: perfect separation 1.0, reversed 0.0, tied scores " +
    "average to 0.5, single-class is NULL") {
    def frame(rows: Seq[(Long, Double, Int)]) =
      rows.toDF("id", "score", "y")
    def auc(rows: Seq[(Long, Double, Int)]): Option[Double] = {
      val r = Eval.rocAuc(frame(rows), "score", "y", "id").head()
      if (r.isNullAt(2)) None else Some(r.getDouble(2))
    }
    assert(auc(Seq((1L, 0.9, 1), (2L, 0.8, 1), (3L, 0.2, 0),
      (4L, 0.1, 0))) == Some(1.0))
    assert(auc(Seq((1L, 0.1, 1), (2L, 0.9, 0))) == Some(0.0))
    // one positive and one negative share a score: both take average
    // rank 1.5 → AUC 0.5 exactly (the doubled-rank path, no floats)
    assert(auc(Seq((1L, 0.5, 1), (2L, 0.5, 0))) == Some(0.5))
    // textbook tie case: pos [3, 1], neg [2, 1]: ranks 1.5 1.5 3 4 →
    // ΣR₊ = 4 + 1.5 = 5.5 → AUC = (5.5 − 3)/4 = 0.625
    assert(auc(Seq((1L, 3.0, 1), (2L, 1.0, 1), (3L, 2.0, 0),
      (4L, 1.0, 0))) == Some(0.625))
    assert(auc(Seq((1L, 0.5, 1), (2L, 0.6, 1))) == None)
    // counts surface even when AUC is undefined
    val r = Eval.rocAuc(frame(Seq((1L, 0.5, 1))), "score", "y", "id").head()
    assert(r.getLong(0) == 1L && r.getLong(1) == 0L)
  }

  test("calibrationCurve/ece: bin stats from exact decimals; clamping " +
    "and the 1.0-into-top-bin fold; the telescoped ECE identity") {
    val df = Seq(
      (0.05, 0), (0.05, 1), // bin 0: mean 0.05, frac_pos 0.5
      (1.0, 1), (0.95, 1), // bin 9 (1.0 folds in): mean 0.975, frac 1.0
      (-0.2, 0), (1.3, 1) // clamp to 0 → bin 0, and 1 → bin 9
    ).toDF("conf", "y")
    val curve = Eval.calibrationCurve(df, "conf", "y", bins = 10)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(curve(0L) == ((3L, 0.033333, 0.333333)), s"bin0 ${curve(0L)}")
    assert(curve(9L) == ((3L, 0.983333, 1.0)), s"bin9 ${curve(9L)}")
    assert(curve.size == 2, "only non-empty bins appear")
    // ECE = (|0.1 − 1| + |2.95 − 3|)/6 = 0.95/6 = 0.158333
    val e = Eval.ece(df, "conf", "y", bins = 10).head()
    assert(e.getLong(0) == 6L && e.getDouble(1) == 0.158333, s"ece $e")
    // empty input: n = 0, ECE NULL
    val empty = Eval.ece(df.limit(0), "conf", "y").head()
    assert(empty.getLong(0) == 0L && empty.isNullAt(1))
  }

  test("ndcgAtK: matches a driver-side reference, the ideal ordering " +
    "re-ranks the retrieved set, and no-relevant queries are NULL") {
    // q1: rel by rank [0, 1, 1] — misordered, ndcg < 1
    // q2: rel [1, 1, 0] — already ideal → exactly 1.0
    // q3: rel [0, 0, 0] — IDCG 0 → NULL
    val ranked = Seq(
      (1L, 1L, 0.0), (1L, 2L, 1.0), (1L, 3L, 1.0),
      (2L, 1L, 1.0), (2L, 2L, 1.0), (2L, 3L, 0.0),
      (3L, 1L, 0.0), (3L, 2L, 0.0), (3L, 3L, 0.0)
    ).toDF("q_id", "rank", "rel")
    def term(rel: Double, rank: Long): BigDecimal =
      BigDecimal((math.pow(2.0, rel) - 1.0) /
          (math.log(rank + 1.0) / math.log(2.0)))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP)
    val dcg1 = term(0.0, 1L) + term(1.0, 2L) + term(1.0, 3L)
    val idcg1 = term(1.0, 1L) + term(1.0, 2L) + term(0.0, 3L)
    val want1 = BigDecimal(dcg1.toDouble / idcg1.toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = Eval.ndcgAtK(ranked, "q_id", "rank", "rel", k = 3)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(got(1L) == Some(want1), s"got ${got(1L)} want $want1")
    assert(got(2L) == Some(1.0))
    assert(got(3L) == None)
    // k cuts BOTH sums: with k=2 the ideal keeps the two relevant docs
    // but DCG only sees rank 2's → ndcg = (1/log2(3))/(1 + 1/log2(3))
    val k2 = Eval.ndcgAtK(ranked.filter($"q_id" === 1L),
      "q_id", "rank", "rel", k = 2).head()
    val wantK2 = BigDecimal(term(1.0, 2L).toDouble /
        (term(1.0, 1L) + term(1.0, 2L)).toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(k2.getDouble(1) == wantK2)
  }

  test("kendallTau: monotone +1, reversed -1, the textbook tau-b tie " +
    "case, and all-tied NULL") {
    def frame(rows: Seq[(Long, Long, Long)]) = rows.toDF("id", "a", "b")
    def tau(rows: Seq[(Long, Long, Long)]) = {
      val r = Eval.kendallTau(frame(rows), "a", "b", "id").head()
      (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))
    }
    assert(tau(Seq((1L, 1L, 10L), (2L, 2L, 20L), (3L, 3L, 30L))) ==
      ((3L, 3L, 0L, Some(1.0))))
    assert(tau(Seq((1L, 1L, 30L), (2L, 2L, 20L), (3L, 3L, 10L)))._4 ==
      Some(-1.0))
    // a = [1,2,2,3], b = [1,2,3,4]: pairs = 6, ties in a: (2,3) → t1=1
    // C = 5, D = 0 → τ-b = 5/sqrt((6−1)·6) = 5/sqrt(30) = 0.912871
    assert(tau(Seq((1L, 1L, 1L), (2L, 2L, 2L), (3L, 2L, 3L),
      (4L, 3L, 4L))) == ((4L, 5L, 0L, Some(0.912871))))
    // one side all-tied: zero variance → undefined → NULL
    assert(tau(Seq((1L, 5L, 1L), (2L, 5L, 2L)))._4 == None)
    assert(tau(Seq((1L, 1L, 1L)))._4 == None)
  }

  test("prCurve: thresholds from distinct scores, ties predict " +
    "together, exact cumulative counts") {
    // scores desc: 0.9(+), 0.8(−), 0.5(+,+ tie), 0.1(−)
    val df = Seq((0.9, 1), (0.8, 0), (0.5, 1), (0.5, 1), (0.1, 0))
      .toDF("score", "y")
    val got = Eval.prCurve(df, "score", "y")
      .collect().map(r => r.getDouble(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    assert(got(0.9) == ((1L, 1L, 1.0, 0.333333)))
    assert(got(0.8) == ((2L, 1L, 0.5, 0.333333)))
    assert(got(0.5) == ((4L, 3L, 0.75, 1.0)), s"tie group: ${got(0.5)}")
    assert(got(0.1) == ((5L, 3L, 0.6, 1.0)))
    // no positives anywhere: recall is NULL, precision still defined
    val none = Eval.prCurve(Seq((0.5, 0)).toDF("score", "y"), "score", "y")
      .head()
    assert(none.getDouble(3) == 0.0 && none.isNullAt(4))
  }

  test("averagePrecision: the sklearn step rule on a hand case; " +
    "no-positive input is NULL") {
    // same fixture: AP = Σ ΔR·P = (1/3)·1.0 + 0 + (2/3)·0.75 + 0
    //             = 0.333333 + 0.5 = 0.833333
    val df = Seq((0.9, 1), (0.8, 0), (0.5, 1), (0.5, 1), (0.1, 0))
      .toDF("score", "y")
    val got = Eval.averagePrecision(df, "score", "y").head()
    assert(got.getLong(0) == 5L && got.getLong(1) == 3L, s"$got")
    assert(got.getDouble(2) == 0.833333, s"ap = ${got.getDouble(2)}")
    val none = Eval.averagePrecision(
      Seq((0.5, 0)).toDF("score", "y"), "score", "y").head()
    assert(none.getLong(1) == 0L && none.isNullAt(2))
  }

  test("rbo: identical lists score (1-p)*sum(weights), disjoint lists 0, " +
    "and a swapped tail discounts by depth") {
    def list(rows: (Long, Long)*) = rows.toSeq.toDF("doc_id", "rank")
    val w = Eval.rboWeights(0.9, 20)
    val a = list((10L, 1L), (11L, 2L), (12L, 3L))
    // identical top-3: every item overlaps from its own depth →
    // rbo = (1−p)·(w(1)+w(2)+w(3))
    val same = Eval.rbo(a, a, "doc_id", depth = 20).head()
    val wantSame = BigDecimal(0.09999999999999998 *
        (w(0) + w(1) + w(2)).toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(same.getLong(0) == 3L && same.getDouble(1) == wantSame,
      s"$same want $wantSame")
    // disjoint lists: zero overlap, rbo 0
    val disj = Eval.rbo(a, list((20L, 1L), (21L, 2L)), "doc_id").head()
    assert(disj.getLong(0) == 0L && disj.getDouble(1) == 0.0)
    // item ranked 1 in A but 3 in B joins prefixes only from depth 3
    val swap = Eval.rbo(a, list((10L, 3L), (11L, 2L), (12L, 1L)),
      "doc_id").head()
    val wantSwap = BigDecimal(0.09999999999999998 *
        (w(2) + w(1) + w(2)).toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(swap.getDouble(1) == wantSwap && swap.getDouble(1) < wantSame)
    // depth cuts: rank 3 beyond depth 2 drops
    val cut = Eval.rbo(a, a, "doc_id", depth = 2).head()
    assert(cut.getLong(0) == 2L)
    intercept[IllegalArgumentException] { Eval.rboWeights(0.9, 0) }
    intercept[IllegalArgumentException] { Eval.rboWeights(1.0, 5) }
  }

  test("brierScore: exact decimal squares, clamping, and the empty NULL") {
    // (0.8−1)² + (0.2−0)² + (0.5−1)² = 0.04 + 0.04 + 0.25 = 0.33 → /3
    val df = Seq((0.8, 1), (0.2, 0), (0.5, 1)).toDF("conf", "y")
    val got = Eval.brierScore(df, "conf", "y").head()
    assert(got.getLong(0) == 3L && got.getDouble(1) == 0.11, s"$got")
    // clamped: conf 1.3 → 1.0 (perfect on a positive), −0.2 → 0.0
    val clamped = Eval.brierScore(
      Seq((1.3, 1), (-0.2, 0)).toDF("conf", "y"), "conf", "y").head()
    assert(clamped.getDouble(1) == 0.0)
    val empty = Eval.brierScore(df.limit(0), "conf", "y").head()
    assert(empty.getLong(0) == 0L && empty.isNullAt(1))
  }

  test("hardNegatives: the nearest CROSS-label vector ranks first, " +
    "same-label near-duplicates are invisible") {
    // anchor 1 (label 0): vector 3 is nearly parallel but label 0 (no
    // signal — skipped); vector 2 (label 1) is the true hard negative;
    // vector 4 (label 1) is orthogonal — an easy negative, rank 2.
    val df = Seq(
      (1L, Seq(1.0f, 0.0f), 0),
      (2L, Seq(0.96f, 0.28f), 1),
      (3L, Seq(0.99f, 0.141f), 0),
      (4L, Seq(0.0f, 1.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val hn = Eval.hardNegatives(df, k = 2)
      .filter($"q_id" === 1L).orderBy("rank").collect()
    assert(hn.map(_.getLong(2)).toSeq == Seq(2L, 4L), hn.mkString(";"))
    assert(hn.head.getDouble(4) == 0.96 && hn.head.getInt(3) == 1)
    intercept[IllegalArgumentException] {
      Eval.hardNegatives(df, k = 0)
    }
  }

  test("retrievalMetrics: MRR/precision/recall conventions — zero for " +
    "no-relevant, recall excluded when undefined, absent queries count") {
    // q1: rel at ranks 2,3 of 3; 5 relevant exist → rr .5, p 2/3, r .4
    // q2: nothing relevant in the list, 2 exist → all-zero contributions
    // q3: retrieved NOTHING (absent from ranked) and 0 exist → recall
    //     undefined (excluded), rr/p honest zeros
    val ranked = Seq(
      (1L, 1L, 0.0), (1L, 2L, 1.0), (1L, 3L, 1.0),
      (2L, 1L, 0.0), (2L, 2L, 0.0)
    ).toDF("q_id", "rank", "rel")
    val totalRel = Seq((1L, 5L), (2L, 2L), (3L, 0L))
      .toDF("q_id", "n_rel")
    val got = Eval.retrievalMetrics(ranked, totalRel, "q_id", "rank",
      "rel", k = 3).head()
    assert(got.getLong(0) == 3L, s"$got")
    assert(got.getDouble(1) == 0.166667, s"mrr ${got.getDouble(1)}")
    assert(got.getDouble(2) == 0.222222, s"p ${got.getDouble(2)}")
    assert(got.getDouble(3) == 0.2, s"r ${got.getDouble(3)}")
    // k cuts the list: at k=2, q1's hits drop to 1 (rank 3 ignored)
    val k2 = Eval.retrievalMetrics(ranked, totalRel, "q_id", "rank",
      "rel", k = 2).head()
    assert(k2.getDouble(1) == 0.166667 && k2.getDouble(3) == 0.1, s"$k2")
    intercept[IllegalArgumentException] {
      Eval.retrievalMetrics(ranked, totalRel, "q_id", "rank", "rel", k = 0)
    }
  }

  // (conf, n, n_pos) → n rows in conf's bin, n_pos of them positive
  private def confRows(spec: (Double, Int, Int)*) =
    spec.flatMap { case (c, n, np) =>
      (0 until n).map(i => (c, if (i < np) 1 else 0))
    }.toDF("conf", "is_pos")

  test("isotonicCalibration: a single inversion pools exactly its two " +
    "bins; already-monotone bins pass through untouched") {
    // bin rates .2 / .6 / .4 / .8 — the middle pair inverts
    val got = Eval.isotonicCalibration(
        confRows((0.05, 10, 2), (0.35, 10, 6), (0.45, 10, 4),
          (0.75, 10, 8)),
        "conf", "is_pos", bins = 10)
      .orderBy("bin").collect()
      .map(r => r.getLong(0) -> r.getDouble(4)).toMap
    assert(got == Map(0L -> 0.2, 3L -> 0.5, 4L -> 0.5, 7L -> 0.8), s"$got")

    val mono = Eval.isotonicCalibration(
        confRows((0.05, 10, 1), (0.35, 10, 5), (0.75, 10, 9)),
        "conf", "is_pos", bins = 10)
      .orderBy("bin").collect()
    mono.foreach(r =>
      assert(r.getDouble(3) == r.getDouble(4),
        s"monotone input must be a fixed point: $r"))
  }

  test("isotonicCalibration: pooling is WEIGHTED — a 1-row outlier " +
    "barely moves the merged rate; fit is non-decreasing") {
    // rates 1.0 (n=1) then .1 (n=10): pooled (1 + 1)/11 = 0.181818…
    val got = Eval.isotonicCalibration(
        confRows((0.15, 1, 1), (0.85, 10, 1)),
        "conf", "is_pos", bins = 10)
      .orderBy("bin").collect()
    assert(got.map(_.getDouble(4)).toSeq == Seq(0.181818, 0.181818),
      s"${got.toSeq}")
    // a longer mixed fixture: only assert the PAV guarantee
    val fit = Eval.isotonicCalibration(
        confRows((0.05, 3, 2), (0.15, 5, 1), (0.25, 4, 3), (0.35, 2, 0),
          (0.55, 6, 4), (0.65, 3, 1), (0.95, 4, 4)),
        "conf", "is_pos", bins = 10)
      .orderBy("bin").collect().map(_.getDouble(4)).toSeq
    assert(fit == fit.sorted, s"iso_rate must be non-decreasing: $fit")
  }

  test("spearmanCI: the interval brackets rho and tightens with n; " +
    "perfect correlation and tiny n are NULL") {
    // mostly-increasing with a genuine scrambled component (ρ < 1)
    def mono(n: Int) = (1 to n).map(i =>
      (i.toLong, i.toLong * 2, (i % 7).toLong * 100 + i))
      .toDF("id", "a", "b")
    val small = Eval.spearmanCI(mono(8), "a", "b", "id").head()
    val big = Eval.spearmanCI(mono(80), "a", "b", "id").head()
    Seq(small, big).foreach { r =>
      assert(r.getDouble(2) < r.getDouble(1) &&
        r.getDouble(1) < r.getDouble(3), s"bracket: $r")
    }
    assert(big.getDouble(3) - big.getDouble(2) <
      small.getDouble(3) - small.getDouble(2),
      "more data must tighten the interval")

    val perfect = (1 to 10).map(i => (i.toLong, i.toLong, i.toLong))
      .toDF("id", "a", "b")
    val p = Eval.spearmanCI(perfect, "a", "b", "id").head()
    assert(p.getDouble(1) == 1.0 && p.isNullAt(2) && p.isNullAt(3),
      s"degenerate transform: $p")
    val tiny = Eval.spearmanCI(mono(3), "a", "b", "id").head()
    assert(tiny.isNullAt(2) && tiny.isNullAt(3), s"n <= 3: $tiny")
  }

  test("krippendorffAlphaBinary: hand-computed incomplete panel; " +
    "items with <2 ratings drop; perfect agreement is 1; a unanimous " +
    "single category is NULL") {
    // (r0, r1, r2), None = missing; coincidence-matrix hand result:
    // n=10, n1=5, Do=0.4, De=5/9, alpha=0.28 — i5 (one rating) drops
    val panel = Seq(
      (Some(true), Some(true), None),
      (Some(true), Some(false), Some(true)),
      (Some(false), Some(false), Some(false)),
      (Some(true), None, Some(false)),
      (None, None, Some(true))
    ).toDF("r0", "r1", "r2")
    val raters = Seq($"r0", $"r1", $"r2")
    val got = Eval.krippendorffAlphaBinary(panel, raters).head()
    assert(got.getLong(0) == 4L, s"n_items $got")
    assert(got.getLong(1) == 10L, s"n_ratings $got")
    assert(got.getDouble(2) == 0.4, s"d_o $got")
    assert(got.getDouble(3) == 0.555556, s"d_e $got")
    assert(got.getDouble(4) == 0.28, s"alpha $got")

    val perfect = Seq(
      (Some(true), Some(true), Some(true)),
      (Some(false), Some(false), None)
    ).toDF("r0", "r1", "r2")
    assert(Eval.krippendorffAlphaBinary(perfect, raters)
      .head().getDouble(4) == 1.0)

    val unanimous = Seq(
      (Some(true), Some(true), Some(true)),
      (Some(true), Some(true), None)
    ).toDF("r0", "r1", "r2")
    assert(Eval.krippendorffAlphaBinary(unanimous, raters)
      .head().isNullAt(4), "single-category panel must be NULL")

    intercept[IllegalArgumentException] {
      Eval.krippendorffAlphaBinary(panel, Seq($"r0"))
    }
  }

  test("liftTable: hand-computed decile lift over a ranked score " +
    "frame; cumulative capture reaches 1") {
    import org.apache.spark.sql.functions.col
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // scores 10..1; positives at scores {10, 9, 1} -> base rate 0.3
    val df = (1 to 10).map { i =>
      val score = i.toDouble
      (11L - i, score, score >= 9.0 || score == 1.0)
    }.toDF("id", "s", "y")
    val got = Eval.liftTable(df, col("s"), col("y"), col("id"),
      buckets = 5).collect()
    assert(got.length == 5)
    val b1 = got.head
    assert(b1.getLong(0) == 1L && b1.getLong(1) == 2L &&
      b1.getLong(2) == 2L)
    assert(b1.getDouble(3) == 1.0 && b1.getDouble(4) == r6(1.0 / 0.3))
    assert(b1.getDouble(5) == r6(2.0 / 3.0), s"$b1")
    val b5 = got.last
    assert(b5.getDouble(3) == 0.5 && b5.getDouble(5) == 1.0, s"$b5")
    intercept[IllegalArgumentException] {
      Eval.liftTable(df, col("s"), col("y"), col("id"), buckets = 1)
    }
  }

  test("bestF1Threshold: picks the hand-computed argmax cut; exact " +
    "ties resolve to the higher threshold") {
    import org.apache.spark.sql.functions.col
    // scores 4,3,2,1; positives at {4,3} → cut at 3: P=1, R=1, F1=1
    val df = Seq((4.0, 1), (3.0, 1), (2.0, 0), (1.0, 0))
      .toDF("score", "y")
    val got = Eval.bestF1Threshold(df, "score", "y").head()
    assert(got.getDouble(0) == 3.0 && got.getLong(1) == 2L &&
      got.getLong(2) == 2L)
    assert(got.getDouble(5) == 1.0, s"$got")
    // no positives → no defined F1 anywhere → empty
    val none = Seq((1.0, 0), (2.0, 0)).toDF("score", "y")
    assert(Eval.bestF1Threshold(none, "score", "y").count() == 0L)
  }

  test("psi: identical populations score 0 over full bins; a shifted " +
    "population scores positive drift; duplicates weigh correctly") {
    import org.apache.spark.sql.functions.col
    val ref = (1 to 100).map(_.toDouble).toDF("v")
    val same = Eval.psi(ref, ref, col("v"), buckets = 10).head()
    assert(same.getLong(0) == 100L && same.getLong(1) == 100L)
    assert(same.getLong(2) == 10L && same.getLong(3) == 0L)
    assert(same.getDouble(4) == 0.0, s"$same")
    val shifted = (51 to 150).map(_.toDouble).toDF("v")
    val drift = Eval.psi(ref, shifted, col("v"), buckets = 10).head()
    assert(drift.getDouble(4) > 0.25, s"top-half shift must alarm: $drift")
    // duplicate rows carry multiplicity: doubling every current row
    // leaves the proportions (and PSI) unchanged
    val doubled = Eval.psi(ref, ref.union(ref), col("v"), buckets = 10)
      .head()
    assert(doubled.getLong(1) == 200L && doubled.getDouble(4) == 0.0)
  }

  test("clusteringAgreement: hand-computed purity/NMI/B3 on a 5-item " +
      "contingency; identity scores 1.0; single-cluster gold nulls NMI") {
    val d = Seq(
      (1L, "a", "x"), (2L, "a", "x"), (3L, "a", "y"),
      (4L, "b", "x"), (5L, "b", "y"),
      (6L, null.asInstanceOf[String], "x") // NULL label: excluded
    ).toDF("id", "pred", "gold")
    val r = Eval.clusteringAgreement(d, "id", "pred", "gold").head()
    assert(r.getLong(0) == 5L && r.getLong(1) == 2L && r.getLong(2) == 2L)
    assert(r.getDouble(3) == 0.6) // (max(2,1) + max(1,1)) / 5
    // cells (a,x)=2 (a,y)=1 (b,x)=1 (b,y)=1; margins a=3 b=2 x=3 y=2
    val mi = 0.4 * math.log(10.0 / 9) + 0.2 * math.log(5.0 / 6) +
      0.2 * math.log(5.0 / 6) + 0.2 * math.log(5.0 / 4)
    val h = -0.6 * math.log(0.6) - 0.4 * math.log(0.4)
    assert(math.abs(r.getDouble(4) - mi / h) < 1e-6)
    // V-measure family: margins are equal here (a/b = x/y = 3/2), so
    // homogeneity = I/H(G), completeness = I/H(P) and V = 2I/(Hp+Hg)
    // all collapse to the same value as NMI
    assert(math.abs(r.getDouble(9) - mi / h) < 1e-6)
    assert(math.abs(r.getDouble(10) - mi / h) < 1e-6)
    assert(math.abs(r.getDouble(11) - mi / h) < 1e-6)
    // ARI: idx=C(2,2)=1, a=b=C(3,2)+C(2,2)=4, t=C(5,2)=10 →
    // (1 − 16/10) / (4 − 16/10) = −0.6/2.4 = −0.25 (worse than chance)
    assert(r.getDouble(5) == -0.25)
    // B3 prec = rec here: (4/3 + 1/3 + 1/2 + 1/2) / 5 = 8/15
    assert(math.abs(r.getDouble(6) - 8.0 / 15) < 1e-6)
    assert(math.abs(r.getDouble(7) - 8.0 / 15) < 1e-6)
    assert(math.abs(r.getDouble(8) - 8.0 / 15) < 1e-6) // F1 of equals
    // identity: everything 1.0
    val same = Eval.clusteringAgreement(
      d.filter($"pred".isNotNull).withColumn("gold", $"pred"),
      "id", "pred", "gold").head()
    assert(Seq(3, 4, 5, 6, 7, 8, 9, 10, 11).forall(same.getDouble(_) == 1.0))
    // a single-cluster gold has zero entropy: NMI must be NULL, not
    // NaN — while ARI is DEFINED there and reads exactly chance level
    val flat = Eval.clusteringAgreement(
      d.filter($"pred".isNotNull).withColumn("gold", lit("all")),
      "id", "pred", "gold").head()
    assert(flat.isNullAt(4))
    assert(flat.getDouble(5) == 0.0) // idx=4=exp → no better than chance
    assert(flat.getDouble(3) == 1.0) // every cluster is pure against one class
    // single-cluster gold: H(G)=0 → homogeneity NULL (same convention as
    // NMI, not sklearn's vacuous 1.0); I=0 → completeness and V read 0
    assert(flat.isNullAt(9))
    assert(flat.getDouble(10) == 0.0)
    assert(flat.getDouble(11) == 0.0)
    // asymmetric direction check: over-split preds against 2-class gold
    // — perfectly homogeneous (each cluster one class), incomplete
    val split = Seq(
      (1L, "p1", "x"), (2L, "p1", "x"), (3L, "p2", "x"),
      (4L, "p3", "y"), (5L, "p3", "y")
    ).toDF("id", "pred", "gold")
    val sr = Eval.clusteringAgreement(split, "id", "pred", "gold").head()
    assert(sr.getDouble(9) == 1.0, s"over-split stays homogeneous: $sr")
    assert(sr.getDouble(10) < 1.0, s"over-split loses completeness: $sr")
    val h2 = sr.getDouble(9); val c2 = sr.getDouble(10)
    assert(math.abs(sr.getDouble(11) - 2 * h2 * c2 / (h2 + c2)) < 1e-5)
  }
}
