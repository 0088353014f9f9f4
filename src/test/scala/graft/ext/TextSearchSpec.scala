package graft.ext

import org.apache.spark.sql.functions._

import graft.GraftSpec

class TextSearchSpec extends GraftSpec {
  import spark.implicits._

  test("bm25: hand-computed scores on a 3-doc corpus") {
    // N=3, dl = 4,4,2, avgdl = 10/3
    val docs = Seq(
      (1L, "cat dog cat bird"),
      (2L, "dog dog dog dog"),
      (3L, "fish whale")
    ).toDF("doc_id", "text")
    val got = TextSearch.bm25TopK(docs, "doc_id", "text", "cat dog", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))

    def idf(df: Int) = math.log(1.0 + (3.0 - df + 0.5) / (df + 0.5))
    def w(tf: Long, dl: Long, idfV: Double) =
      idfV * tf / (tf + 1.2 * (0.25 + 0.75 * dl / (10.0 / 3.0)))
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val d1 = r6(w(2, 4, idf(1)) + w(1, 4, idf(2))) // cat df=1, dog df=2
    val d2 = r6(w(4, 4, idf(2)))
    val expect = Seq((1L, 2L, d1), (2L, 1L, d2)).sortBy(x => (-x._3, x._1))
      .zipWithIndex.map { case ((id, m, s), i) => (id, m, s, i + 1L) }
    assert(got.toSeq == expect)
    assert(!got.exists(_._1 == 3L)) // no query term → not retrieved
  }

  test("single matching term ranks by tf then id; k truncates") {
    val docs = Seq(
      (1L, "x x x y"), (2L, "x y y y"), (3L, "x x y y"), (4L, "y y y y")
    ).toDF("doc_id", "text")
    val got = TextSearch.bm25TopK(docs, "doc_id", "text", "x", k = 2)
      .select("doc_id").as[Long].collect().toSeq
    assert(got == Seq(1L, 3L)) // tf 3 > tf 2 > tf 1; k=2 cuts doc 2
  }

  test("query casing and duplicate terms cannot desync the match") {
    val docs = Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("doc_id", "text")
    val a = TextSearch.bm25TopK(docs, "doc_id", "text", "ALPHA alpha", k = 5).collect()
    val b = TextSearch.bm25TopK(docs, "doc_id", "text", "alpha", k = 5).collect()
    assert(a.toSeq == b.toSeq)
    assert(a.map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("hybridTopK: dense re-rank reorders lexical candidates; " +
    "missing embeddings rank last") {
    val docs = Seq(
      (1L, "x x x"),   // strongest BM25 for "x"
      (2L, "x x y"),
      (3L, "x y y"),
      (4L, "z z z")    // no query term → never a candidate
    ).toDF("doc_id", "text")
    // embeddings: doc 3 is closest to the query vector, doc 1 farthest,
    // doc 2 has NO embedding row
    val emb = Seq(
      (1L, Seq(-1.0f, 0.0f)),
      (3L, Seq(1.0f, 0.0f)),
      (4L, Seq(1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val got = TextSearch.hybridTopK(docs, "doc_id", "text", "x",
        emb, "vec_id", "embedding", queryVec = Seq(1.0f, 0.0f),
        candidates = 3, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSeq
    // BM25 order was 1, 2, 3; cosine re-rank: 3 (sim 1) > 1 (sim -1) >
    // 2 (NULL sim, last). Doc 4 never entered the candidate set.
    assert(got == Seq((3L, 1L), (1L, 2L), (2L, 3L)))
  }

  test("empty corpus and empty query degrade loudly or emptily") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(TextSearch.bm25TopK(empty, "doc_id", "text", "x", k = 5).count() == 0)
    intercept[IllegalArgumentException] {
      TextSearch.bm25TopK(empty, "doc_id", "text", "   ", k = 5)
    }
    val emptyIdx = TextSearch.buildLexicalIndex(empty, "doc_id", "text")
    assert(TextSearch.bm25TopKIndexed(emptyIdx, "x", k = 5).count() == 0)
  }

  private def topRows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
      r.getLong(3))).toSeq

  test("persisted lexical index: indexed probe ≡ self-contained; " +
    "index append ≡ from-scratch rebuild") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.01", "documents")
    val self = topRows(
      TextSearch.bm25TopK(docs, "doc_id", "text", "dup key window", k = 20))

    // the parquet round-trip IS the production shape — spec it, not just
    // the in-memory frame
    val tmp = java.nio.file.Files.createTempDirectory("graft_lex_idx").toString
    try {
      TextSearch.buildLexicalIndex(docs, "doc_id", "text")
        .write.mode("overwrite").parquet(tmp)
      val index = spark.read.parquet(tmp)
      assert(topRows(TextSearch.bm25TopKIndexed(index, "dup key window",
        k = 20, idCol = "doc_id")) == self)

      // append half of the maintenance loop: index(old) ∪ build(new)
      // equals build(old ∪ new) — per-doc-local stripes make it exact
      val oldHalf = docs.filter(col("doc_id") % 2 === 0)
      val newHalf = docs.filter(col("doc_id") % 2 === 1)
      val appended = TextSearch.buildLexicalIndex(oldHalf, "doc_id", "text")
        .unionAll(TextSearch.buildLexicalIndex(newHalf, "doc_id", "text"))
      def idxRows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("term"),
          if (r.isNullAt(r.fieldIndex("tf"))) -1L else r.getAs[Long]("tf"),
          r.getAs[Long]("dl"))).toSet
      assert(idxRows(appended) ==
        idxRows(TextSearch.buildLexicalIndex(docs, "doc_id", "text")))

      // and the probe's N/avgdl/df over the appended index reflect the
      // union automatically — same ranking as from-scratch
      assert(topRows(TextSearch.bm25TopKIndexed(appended, "dup key window",
        k = 20, idCol = "doc_id")) == self)
    } finally {
      val p = new org.apache.hadoop.fs.Path(tmp)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  test("zero-token docs stay in the index's corpus stats (N, avgdl)") {
    val docs = Seq((1L, "cat dog"), (2L, "   "), (3L, "cat")).toDF("doc_id", "text")
    val index = TextSearch.buildLexicalIndex(docs, "doc_id", "text")
    // doc-length stripe carries ALL 3 docs, incl. the tokenless one
    assert(index.filter(col("term").isNull).count() == 3)
    assert(topRows(TextSearch.bm25TopKIndexed(index, "cat", k = 5, idCol = "doc_id"))
      == topRows(TextSearch.bm25TopK(docs, "doc_id", "text", "cat", k = 5)))
  }

  test("rrfFuse: agreement wins, single-list docs score one term, ranks " +
    "fuse by the 1/(K+r) sum") {
    // list A ranks: 1→d1, 2→d2, 3→d3; list B: 1→d2, 2→d4
    val a = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("doc_id", "rank")
    val b = Seq((2L, 1L), (4L, 2L)).toDF("doc_id", "rank")
    val got = TextSearch.rrfFuse(a, b, "doc_id", k = 4, rrfK = 60)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    // d2: 1/62 + 1/61 = 0.0325224... — both lists, wins
    // d1: 1/61 = 0.016393; d4: 1/62 = 0.016129; d3: 1/63 = 0.015873
    assert(got.map(_._1).toSeq == Seq(2L, 1L, 4L, 3L), got.mkString(","))
    assert(got(0)._2 == 0.032522 && got(1)._2 == 0.016393)
    assert(got(3) == ((3L, 0.015873, 4L)))
    // k caps the fused list; score ties (same ranks both ways) break by id
    val sym = TextSearch.rrfFuse(
        Seq((7L, 1L)).toDF("doc_id", "rank"),
        Seq((5L, 1L)).toDF("doc_id", "rank"), "doc_id", k = 1)
      .collect()(0)
    assert(sym.getLong(0) == 5L && sym.getLong(2) == 1L)
  }

  test("kwicSnippets: window around the FIRST hit of any term, clamped " +
    "at document edges; no-match docs emit nothing") {
    val docs = Seq(
      (1L, "alpha beta key gamma delta epsilon zeta"),
      (2L, "key starts here and more words follow"),
      (3L, "window appears late in this longer document window"),
      (4L, "nothing relevant at all")).toDF("doc_id", "text")
    val got = TextSearch.kwicSnippets(docs, "doc_id", "text",
        query = "key window", context = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getString(2)))).toMap
    assert(got(1L) == ((3L, "alpha beta key gamma delta")))
    assert(got(2L) == ((1L, "key starts here")), "left edge clamps")
    assert(got(3L) == ((1L, "window appears late")),
      "FIRST occurrence, not last")
    assert(!got.contains(4L))
  }

  test("tfidfKeywords: corpus-wide terms score below distinctive ones, " +
    "ties break by term, empty docs count in N but emit nothing") {
    val docs = Seq(
      (1L, "common rare1 rare1 common common"),
      (2L, "common rare2"),
      (3L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val got = TextSearch.tfidfKeywords(docs, "doc_id", "text", kTop = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(3)) -> ((r.getString(1),
        r.getDouble(2)))).toMap
    // N=3 (the NULL-text doc counts); df(common)=2, df(rare*)=1
    val idfCommon = math.log(4.0 / 3.0) + 1.0
    val idfRare = math.log(4.0 / 2.0) + 1.0
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // doc 1: tf(common)=3 → 3·idfCommon ≈ 3.863 beats tf(rare1)=2 → 3.386
    assert(got((1L, 1L)) == (("common", r6(3 * idfCommon))))
    assert(got((1L, 2L)) == (("rare1", r6(2 * idfRare))))
    // doc 2: equal tf — rare2's higher idf wins rank 1
    assert(got((2L, 1L))._1 == "rare2")
    assert(got((2L, 2L))._1 == "common")
    assert(!got.keySet.exists(_._1 == 3L), "empty doc emits no keywords")
  }
}
