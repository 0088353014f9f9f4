package graft.ext

import graft.GraftSpec

class CorpusCompareSpec extends GraftSpec {
  import spark.implicits._

  private def docs(texts: String*) =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")

  test("identical corpora diverge by exactly zero, term for term") {
    val a = docs("x y z", "x x q")
    val row = CorpusCompare.jsDivergence(a, a).collect().head
    assert(row.getLong(0) == 4L) // x y z q
    assert(row.getDouble(3) == 0.0 && row.getDouble(4) == 0.0 &&
      row.getDouble(5) == 0.0)
    assert(CorpusCompare.driftTerms(a, a)
      .collect().forall(_.getDouble(3) == 0.0))
  }

  test("hand-computed two-term case matches the smoothed JS formula") {
    val a = docs("x x x") // counts: x=3
    val b = docs("y y y") // counts: y=3
    // union V=2, np=nq=3, α=.5: p(x)=(3.5)/4=.875, p(y)=.5/4=.125
    val p = Map("x" -> 0.875, "y" -> 0.125)
    val q = Map("x" -> 0.125, "y" -> 0.875)
    def r12(x: Double) =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    val kp = Seq("x", "y").map(t =>
      r12(p(t) * math.log(p(t) / ((p(t) + q(t)) / 2.0)))).sum.toDouble
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val row = CorpusCompare.jsDivergence(a, b).collect().head
    assert(row.getDouble(3) == r6(kp)) // symmetric construction: kq = kp
    assert(row.getDouble(4) == r6(kp))
    assert(row.getDouble(5) == r6(kp)) // (kp+kq)/2 = kp
    assert(row.getDouble(5) < math.log(2.0), "JS is bounded by ln 2")
  }

  test("swapping the corpora swaps the KL sides and flips direction; " +
    "JS is symmetric") {
    val a = docs("alpha alpha beta", "gamma")
    val b = docs("beta beta beta", "delta delta")
    val ab = CorpusCompare.jsDivergence(a, b).collect().head
    val ba = CorpusCompare.jsDivergence(b, a).collect().head
    assert(ab.getDouble(3) == ba.getDouble(4))
    assert(ab.getDouble(4) == ba.getDouble(3))
    assert(ab.getDouble(5) == ba.getDouble(5))
    val dirAb = CorpusCompare.driftTerms(a, b)
      .collect().map(r => r.getString(0) -> r.getString(4)).toMap
    assert(dirAb("alpha") == "a" && dirAb("delta") == "b")
  }

  test("jsDivergenceFromCounts over merged split counts equals " +
    "jsDivergence (the q161 merge law)") {
    val a = docs("x y z", "x x q", "y w")
    val b = docs("q q w", "z")
    val merged = CorpusCompare.mergeCounts(
      CorpusCompare.termCounts(a.filter($"doc_id" === 0L))
        .unionByName(CorpusCompare.termCounts(a.filter($"doc_id" =!= 0L))))
    assert(CorpusCompare.jsDivergenceFromCounts(
        merged, CorpusCompare.termCounts(b)).collect().toSeq ==
      CorpusCompare.jsDivergence(a, b).collect().toSeq)
  }

  test("drift contributions are partitioning-invariant (decimal terms) " +
    "and rank deterministically") {
    val a = docs(Seq.fill(30)("hot cold warm").mkString(" "))
    val b = docs(Seq.fill(30)("cold cold ice").mkString(" "))
    def top(parts: Int) = CorpusCompare.driftTerms(
        a.repartition(parts), b.repartition(parts), k = 4)
      .collect().map(_.toSeq).toSeq
    assert(top(1) == top(7))
  }
}
