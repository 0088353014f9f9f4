package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Lexical retrieval over the document corpus — BM25 (the Robertson /
 * Lucene formulation), the term-based complement to the embedding ANN
 * family: [[Similarity]]/[[AnnIvf]] answer "what is semantically near
 * this vector"; this answers "which documents match these terms" — the
 * other half of a retrieval-augmented pipeline, and the standard
 * first-stage ranker in front of an embedding re-ranker.
 *
 * Relational shape, one aggregation spine: explode tokens → keep query
 * terms only (a literal `isin` filter, so the explode's output shrinks to
 * |matching postings| immediately — the inverted-index access pattern
 * without materializing an index) → per-(doc, term) counts → per-doc
 * score fold. Corpus statistics (N, average doc length) are two scalars
 * collected once at plan time — the [[AnnIvf]] centroid-metadata class —
 * and per-term document frequencies ride through a tiny per-term
 * aggregate joined back on the term key. At 100 TB: one corpus scan, two
 * bounded shuffles (doc-term counts, per-doc fold), df/idf frames sized
 * by |query terms|.
 *
 * Scoring: `idf_t = ln(1 + (N - df_t + 0.5)/(df_t + 0.5))` (Lucene's
 * non-negative variant), `score = Σ_t idf_t · tf/(tf + k1·(1 − b +
 * b·dl/avgdl))`. Documents matching no query term score zero and are
 * omitted (retrieval returns matches, not the corpus).
 */
object TextSearch {

  /**
   * Top-`k` documents for a bag-of-words `query`: `(idCol, matched,
   * score, rank)` — matched distinct query terms, BM25 score (round-6,
   * the engine's float-compare armor), rank by (score desc, id asc).
   * Duplicate query terms count once; query terms are tokenized with the
   * corpus tokenizer, so casing differences cannot desync the match.
   */
  def bm25TopK(
      docs: DataFrame, idCol: String, textCol: String, query: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val terms = queryTerms(query)
    require(k > 0, s"k must be positive, got $k")

    val lengths = docs.select(col(idCol),
      size(TextOps.tokens(col(textCol))).cast("long").as("dl"))
    // corpus stats: two metadata scalars, one pass
    val statsRow = lengths.agg(
      count(lit(1)).as("n"), sum(col("dl")).as("sumdl")).head()
    val n = statsRow.getLong(0)
    if (n == 0L) {
      return docs.filter(lit(false)).select(col(idCol),
        lit(0L).as("matched"), lit(0.0d).as("score"), lit(0L).as("rank"))
    }
    val avgdl = statsRow.getLong(1).toDouble / n

    // postings: the explode shrinks to matching terms immediately
    val postings = docs
      .select(col(idCol), explode(TextOps.tokens(col(textCol))).as("term"))
      .filter(col("term").isin(terms: _*))
    val tf = postings.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    rankCore(tf.join(lengths, Seq(idCol)), idCol, n, avgdl, k, k1, b)
  }

  /** The corpus tokenizer applied to the query string — casing or
    * duplicate terms cannot desync the match; shared by both probe
    * paths. */
  private def queryTerms(query: String): Seq[String] = {
    val terms = query.toLowerCase.split("\\s+").filter(_.nonEmpty).distinct.toSeq
    require(terms.nonEmpty, "empty query")
    terms
  }

  /**
   * The scoring/ranking core shared by [[bm25TopK]] and
   * [[bm25TopKIndexed]] — the two probe paths can never drift. Input is
   * the matched postings WITH doc length attached `(idCol, term, tf,
   * dl)` plus the two corpus scalars; df/idf are derived HERE (per query
   * term, a |terms|-row broadcast), so both paths share the same idf
   * arithmetic, fold order, and round-6 armor.
   */
  private def rankCore(
      tfdl: DataFrame, idCol: String, n: Long, avgdl: Double,
      k: Int, k1: Double, b: Double): DataFrame = {
    // document frequency per query term → idf (|terms| rows, broadcast)
    val idf = tfdl.groupBy(col("term"))
      .agg(count(lit(1)).cast("double").as("df"))
      .withColumn("idf",
        log(lit(1.0) + (lit(n.toDouble) - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
    tfdl.join(broadcast(idf.select("term", "idf")), "term")
      .withColumn("_s",
        col("idf") * col("tf") /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / lit(avgdl))))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("matched"), round(sum(col("_s")), 6).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("score").desc, col(idCol).asc)).cast("long"))
  }

  /**
   * Derive the PERSISTED inverted index of the corpus — the amortized
   * form of [[bm25TopK]]'s per-call re-tokenization, completing the
   * standing-index symmetry of [[Dedup.buildDedupIndex]] /
   * [[AnnIvf.buildIvfIndex]] / [[AnnLsh.buildLshIndex]] for the lexical
   * family. Two stripes in one frame (the Dedup-index columnar
   * convention — each probe stage reads only its own columns):
   *
   *  - doc-length stripe: `(id, term = NULL, tf = NULL, dl)` — one row
   *    per document, INCLUDING zero-token docs, so N and avgdl derived
   *    from it are exactly [[bm25TopK]]'s corpus stats;
   *  - postings stripe: `(id, term, tf, dl)` — one row per (doc,
   *    distinct term), tf the in-doc term count, dl denormalized onto
   *    the row so a term lookup needs NO join back to doc lengths (8
   *    bytes/posting buys the scale path a pure point-read).
   *
   * Derive ONCE per corpus generation, persist as parquet, probe with
   * [[bm25TopKIndexed]]: the self-contained form re-tokenizes EVERY
   * document on EVERY query — at 100 TB the dominant cost for a corpus
   * that did not change between queries. The build itself scans the
   * corpus twice (lengths stripe, postings stripe) — a one-time cost the
   * daily probes amortize. New documents append without touching
   * history: both stripes are per-doc-local projections, so `index ∪
   * buildLexicalIndex(newDocs)` equals a from-scratch build over the
   * unioned corpus (spec-asserted), and df/N/avgdl derived at probe time
   * reflect the union automatically.
   */
  def buildLexicalIndex(
      docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("id"),
      TextOps.tokens(col(textCol)).as("_t"))
    val lens = toks.select(col("id"),
      lit(null).cast("string").as("term"), lit(null).cast("long").as("tf"),
      size(col("_t")).cast("long").as("dl"))
    val postings = toks
      .select(col("id"), size(col("_t")).cast("long").as("dl"),
        explode(col("_t")).as("term"))
      .groupBy(col("id"), col("term"), col("dl"))
      .agg(count(lit(1)).as("tf"))
      .select(col("id"), col("term"), col("tf"), col("dl"))
    lens.unionByName(postings)
  }

  /**
   * [[bm25TopK]] against a precomputed [[buildLexicalIndex]] table
   * instead of raw documents — per call, the corpus pays a columnar
   * index scan shrunk by the term predicate instead of a full
   * re-tokenization. Same scoring core as [[bm25TopK]], so the two can
   * never drift; `idCol` names the output id column (the index stores a
   * fixed `id`). The postings stripe is filtered out of the flat index
   * scan by a pushed-down `term IN (...)`, which skips row-groups via
   * footer min/max when the parquet was written sorted.
   */
  def bm25TopKIndexed(
      index: DataFrame, query: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75, idCol: String = "id"): DataFrame = {
    val terms = queryTerms(query)
    require(k > 0, s"k must be positive, got $k")
    // corpus stats from the doc-length stripe (IsNull pushed to the scan)
    val statsRow = index.filter(col("term").isNull)
      .agg(count(lit(1)).as("n"), sum(col("dl")).as("sumdl")).head()
    val n = statsRow.getLong(0)
    if (n == 0L) {
      return index.filter(lit(false)).select(col("id").as(idCol),
        lit(0L).as("matched"), lit(0.0d).as("score"), lit(0L).as("rank"))
    }
    val avgdl = statsRow.getLong(1).toDouble / n
    val tfdl = index.filter(col("term").isNotNull)
      .filter(col("term").isin(terms: _*))
      .select(col("id"), col("term"), col("tf"), col("dl"))
    rankCore(tfdl, "id", n, avgdl, k, k1, b)
      .withColumnRenamed("id", idCol)
  }

  /**
   * Hybrid retrieval — the standard two-stage ranker: [[bm25TopK]]
   * recalls `candidates` documents lexically, then the EXACT cosine of
   * each candidate's embedding against `queryVec` re-ranks to the final
   * `k`. Lexical recall bounds the expensive stage (only `candidates`
   * rows touch embeddings — a point-lookup join at scale); the dense
   * re-rank fixes vocabulary mismatch inside that budget. Candidates
   * without an embedding row rank by NULL sim (last — no evidence
   * doesn't outrank evidence); zero-norm embeddings likewise, the
   * [[Similarity]] convention. Returns `(idCol, score, sim, rank)` —
   * both signals kept, rank by (sim desc, id asc), sims rounded to 6 dp.
   */
  def hybridTopK(
      docs: DataFrame, idCol: String, textCol: String, query: String,
      embeddings: DataFrame, embIdCol: String, embCol: String,
      queryVec: Seq[Float], candidates: Int, k: Int): DataFrame = {
    require(k <= candidates,
      s"final k $k exceeds the candidate budget $candidates")
    val qNorm = {
      var acc = 0.0
      queryVec.foreach(x => acc += x.toDouble * x.toDouble)
      math.sqrt(acc)
    }
    val cands = bm25TopK(docs, idCol, textCol, query, candidates)
      .select(col(idCol), col("score"))
    cands
      .join(embeddings.select(col(embIdCol).as(idCol), col(embCol).as("_e")),
        Seq(idCol), "left")
      .withColumn("sim", round(
        Similarity.nativeDot(col("_e"), typedLit(queryVec)) /
          nullif(Similarity.norm(col("_e")) * lit(qNorm), lit(0.0)), 6))
      .select(col(idCol), col("score"), col("sim"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("sim").desc_nulls_last, col(idCol).asc)).cast("long"))
      .filter(col("rank") <= k)
      .orderBy(col("rank").asc_nulls_last)
  }

  /**
   * Reciprocal-rank fusion — the OTHER standard hybrid combiner next to
   * [[hybridTopK]]'s rerank: where rerank lets the dense score overrule
   * the lexical one inside its candidate set, RRF treats both rankers as
   * black boxes and sums `1/(rrfK + rank)` per list (Cormack et al.
   * 2009, the TREC fusion baseline; `rrfK = 60` is the paper's
   * constant). Score-scale-free, so it fuses rankers whose scores are
   * incomparable (BM25 vs cosine) without calibration — a document
   * missing from one list simply contributes nothing for it.
   *
   * Inputs are two ranked frames (`idCol, rank` — [[bm25TopK]],
   * [[hybridTopK]], an ANN top-k with `nn_id` aliased, any ranker);
   * output `(idCol, rrf_score, rank)`, fused rank by
   * `(rrf_score desc, id)`. The fused score is two IEEE divisions
   * summed in fixed list order then rounded 6 dp BEFORE ranking (the
   * q89 rule) — cross-engine reproducible. Shape: one full-outer
   * equi-join of two top-k-BOUNDED lists plus a ranking window over
   * their union — retrieval-result-sized by construction, the same
   * contract as [[hybridTopK]]'s candidate window.
   */
  def rrfFuse(
      a: DataFrame, b: DataFrame, idCol: String,
      k: Int, rrfK: Int = 60): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(rrfK >= 0, s"rrfK must be non-negative, got $rrfK")
    a.select(col(idCol), col("rank").as("_ra"))
      .join(b.select(col(idCol), col("rank").as("_rb")),
        Seq(idCol), "full_outer")
      .withColumn("rrf_score", round(
        coalesce(lit(1.0) / (lit(rrfK) + col("_ra")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(rrfK) + col("_rb")), lit(0.0)), 6))
      .select(col(idCol), col("rrf_score"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("rrf_score").desc, col(idCol).asc)).cast("long"))
      .filter(col("rank") <= k)
      .orderBy(col("rank").asc_nulls_last)
  }

  /**
   * KWIC (keyword-in-context) snippets: per document, the ±`context`
   * token window around the FIRST occurrence of any query term — the
   * "why did this match" string a retrieval result page shows next to
   * each hit. First = the minimum `array_position` across the
   * tokenized query terms (absent terms drop via the 0→NULL map;
   * `least` ignores NULLs in both engines); documents matching no term
   * emit nothing. The slice clamps at the document edges. Zero-shuffle
   * narrow projection; compose downstream of [[bm25TopK]]'s rank cut.
   *
   * Returns `(idCol, pos, snippet)` for matching documents.
   */
  def kwicSnippets(
      docs: DataFrame, idCol: String, textCol: String, query: String,
      context: Int = 3): DataFrame = {
    require(context >= 0, s"context must be non-negative, got $context")
    val terms = queryTerms(query)
    val toks = TextOps.tokens(col(textCol))
    val pos = least(terms.map(t =>
      nullif(array_position(toks, t), lit(0L))): _*)
    val start = greatest(col("pos") - context, lit(1L)).cast("int")
    docs.select(col(idCol), pos.as("pos"), toks.as("_t"))
      .filter(col("pos").isNotNull)
      .select(col(idCol), col("pos"),
        concat_ws(" ", slice(col("_t"), start,
          (col("pos") + context - start + 1L).cast("int"))).as("snippet"))
  }

  /**
   * Top-`kTop` TF-IDF keywords per document — the unsupervised
   * "what is this document about" extractor (tag clouds, dedup
   * explanations, topic drift monitoring). Smoothed-idf (sklearn's
   * formula): `score = tf · (ln((N+1)/(df+1)) + 1)`, round-6 before
   * ranking; per-document rank by `(score desc, term asc)` is total, so
   * the cut is deterministic. N counts every row of `docs` (a NULL/empty
   * text contributes no terms but is still corpus mass).
   *
   * Shape at scale: tokenize-explode → `(doc, term)` hash aggregate →
   * term-keyed df aggregate (vocabulary-sized) joined back, corpus count
   * rides as a broadcast 1-row frame, and the final window partitions by
   * document (never global). The doc-term frame is the same
   * postings shape [[buildLexicalIndex]] persists — at index scale,
   * feed that table in here instead of re-tokenizing.
   *
   * Returns `(idCol, term, score, rank)`, rank ≤ `kTop`.
   */
  def tfidfKeywords(
      docs: DataFrame, idCol: String, textCol: String,
      kTop: Int): DataFrame = {
    require(kTop > 0, s"kTop must be positive, got $kTop")
    val tf = docs
      .select(col(idCol), explode(TextOps.tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("_n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("score").desc, col("term").asc)
    tf.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("score", round(col("tf").cast("double") *
        (log((col("_n").cast("double") + 1.0) /
          (col("df").cast("double") + 1.0)) + 1.0), 6))
      .select(col(idCol), col("term"), col("score"),
        row_number().over(w).cast("long").as("rank"))
      .filter(col("rank") <= kTop)
  }
}
