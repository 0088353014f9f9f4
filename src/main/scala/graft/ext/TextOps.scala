package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{ClippedOverlap, DeflateLength, LangId, MarkerHits,
  SimHash48, SpanWindowKey, TokenLengthSum, TopBigramCount, TopTokenCount,
  VocabEncodeBc, WhitespaceTokens, WhitespaceTokensNoFuse}

/**
 * Text-analysis operators for a training-data pipeline (SURVEY.md §2.11 /
 * north-star): language identification, quality scoring, regex ("BPE-ish")
 * tokenization, document fingerprinting, and SimHash near-duplicate
 * mining. Every operator is a composition of built-in codegen'd
 * expressions — deterministic, UDF-free, shuffle-free per row — so results
 * are exactly reproducible by any engine (the DuckDB oracles recompute
 * them all-pairs / per-row).
 *
 * The reference has no text analytics beyond grouped counting
 * (`/root/reference/sree-etl-tdk-glue-job.py:51-68`); these extend the same
 * declarative style to the document domain.
 */
object TextOps {

  /** Whitespace tokens of lowercased text, empties removed. Backed by
    * the codegen'd `graft_tokens` expression
    * ([[graft.functions.WhitespaceTokens]]): one lowercase (the same
    * `UTF8String.toLowerCase` kernel the `lower` built-in calls) + one
    * byte scan, replacing the regex split + interpreted `filter` lambda
    * that sat under every text operator in the engine ([[tokensHof]] is
    * the semantics twin the spec asserts full equality against). */
  def tokens(text: Column): Column =
    column(WhitespaceTokens(expression(text)))

  /** HOF formulation of [[tokens]] — kept as the engine-agnostic
    * semantics reference the spec checks the native expression against. */
  private[graft] def tokensHof(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => length(t) > 0)

  /** [[tokens]] behind a deliberate CodegenFallback
    * ([[graft.functions.WhitespaceTokensNoFuse]] — same kernel, same
    * value): for the quality-stat expressions, whose call sites (the
    * q78 screen) fuse scrub + three token-bearing filters into one
    * generated method that de-optimizes when the scans inline; the
    * window/census paths keep the inline [[tokens]] (3 s faster on q79).
    * Measured at sf1: q78 37 s inline-fused → 28 s with this, q24
    * unchanged. */
  private def tokensNoFuse(text: Column): Column =
    column(WhitespaceTokensNoFuse(expression(text)))

  /**
   * Overlapping token-window chunking — the context-window prep step for
   * long documents: each document becomes ceil-many chunks of up to
   * `chunkSize` tokens, each advanced by `stride` tokens (stride <
   * chunkSize ⇒ adjacent chunks share `chunkSize - stride` tokens, so no
   * training sequence straddles a hard cut). The final chunk keeps the
   * tail even when shorter; empty documents produce no chunks.
   *
   * Narrow and shuffle-free: one Generate (explode of the per-row chunk
   * index range) per document, chunk extraction is an O(chunkSize) array
   * slice — at 100 TB this is a pure map stage that scales with input
   * splits. Chunk content is certified compactly as an md5 over the
   * space-rejoined tokens (both engines hash identical UTF-8 bytes)
   * instead of shipping chunk text through the dump.
   */
  def chunkTokens(
      docs: DataFrame, idCol: String, textCol: String,
      chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize > 0, s"chunkSize must be positive, got $chunkSize")
    require(stride > 0 && stride <= chunkSize,
      s"stride must be in [1, chunkSize], got $stride")
    val lastChunk = floor(
      (greatest(col("_n") - chunkSize, lit(0L)) + (stride - 1).toLong) /
        lit(stride))
    docs
      .select(col(idCol), tokens(col(textCol)).as("_toks"))
      .withColumn("_n", size(col("_toks")).cast("long"))
      .filter(col("_n") > 0)
      .select(col(idCol), col("_toks"), col("_n"),
        explode(sequence(lit(0L), lastChunk)).as("chunk_id"))
      .withColumn("_chunk",
        slice(col("_toks"), (col("chunk_id") * stride + 1).cast("int"),
          lit(chunkSize)))
      .select(col(idCol), col("chunk_id"),
        size(col("_chunk")).cast("long").as("n_tok"),
        md5(concat_ws(" ", col("_chunk"))).as("chunk_md5"))
  }

  // ---- language identification (marker-word heuristic) ----

  /** Marker words per language — tiny fixed stopword cores. Order of this
    * seq is the tie-break order (alphabetical by code). */
  /** The marker table — aliased from the native expression's companion
    * so the two formulations (and every oracle generated from the
    * table) can never drift. */
  private[ext] val langMarkers: Seq[(String, Seq[String])] =
    graft.functions.LangId.markers

  private def markerHits(toks: Column, markers: Seq[String]): Column =
    size(filter(toks, t => array_contains(typedLit(markers), t)))

  /**
   * Heuristic language ID: count marker-word occurrences per language,
   * pick the max (ties → alphabetically first code); no hits → "und".
   * One codegen'd pass per row via `graft_langid`
   * ([[graft.functions.LangId]]) — zero shuffle, zero HOFs. (The
   * declarative twin below re-ran its interpreted tokenize+count
   * pipeline ~10× per row through the argmax `when` chain: q23
   * measured 170 µs/row at the r13 sf1 sweep before this lift.)
   */
  def langId(text: Column): Column =
    coalesce(column(LangId(expression(text))), lit("und"))

  /** Relational formulation of [[langId]] — the engine-agnostic
    * semantics reference the spec checks the native expression
    * against; also the shape the DuckDB oracle mirrors. */
  private[graft] def langIdRelational(text: Column): Column = {
    val toks   = tokens(text)
    val scores = langMarkers.map { case (code, ms) => code -> markerHits(toks, ms) }
    val best   = greatest(scores.map(_._2): _*)
    scores.foldRight(lit("und"): Column) { case ((code, s), acc) =>
      when(best > 0 && s === best, lit(code)).otherwise(acc)
    }
  }

  // ---- quality scoring ----

  /**
   * Document quality score in [0,1]: length component (saturating at 100
   * tokens), English-stopword ratio, and mean-token-length closeness to 5.
   * Pure double arithmetic in a fixed operation order → bit-reproducible.
   * A tokenless doc scores 0.0 — without the guard the 0/0 ratios make
   * the score NaN, and Spark orders NaN ABOVE every double, so a
   * `score >= floor` quality gate would admit exactly the empty/
   * whitespace-only junk it exists to reject.
   */
  def qualityScore(text: Column): Column = {
    val toks = tokensNoFuse(text)
    val nTok = size(toks).cast("double")
    // native folds (graft_marker_hits / graft_len_sum — TokenFoldsSpec
    // pins them against the interpreted HOF twins): the set-probe filter
    // and the aggregate lambda were the last per-row CodegenFallbacks in
    // the quality screen
    val stopRatio = column(MarkerHits(expression(toks),
      langMarkers.toMap.apply("en"))).cast("double") / nTok
    val sumLen = column(TokenLengthSum(expression(toks)))
    val meanLen = sumLen.cast("double") / nTok
    when(size(toks) === 0, lit(0.0d)).otherwise(round(
      least(nTok / 100.0d, lit(1.0d)) * 0.4d
        + stopRatio * 0.3d
        + greatest(lit(0.0d), lit(1.0d) - abs(meanLen - 5.0d) / 5.0d) * 0.3d,
      6))
  }

  // ---- repetition / duplication quality signals ----

  /** All word bigrams of the token array in order, repeats kept — the
    * frequency-bearing variant of [[Dedup.shingles]] (which distincts). */
  private[ext] def bigramsAll(toks: Column): Column = {
    val z = arrays_zip(toks, slice(toks, lit(2), greatest(size(toks) - 1, lit(0))))
    transform(
      filter(z, x => x.getField("0").isNotNull && x.getField("1").isNotNull),
      x => concat_ws(" ", x.getField("0"), x.getField("1")))
  }

  /** Occurrence count of the most frequent element of a string array,
    * computed per row: sort, then scan runs inside one `aggregate` HOF.
    * O(k log k) per row and ZERO shuffle — the mode-by-groupBy formulation
    * would explode 100 TB of corpus into a corpus-sized shuffle to answer
    * a per-document question. Empty array → 0. */
  private[ext] def topRunCount(arr: Column): Column =
    aggregate(
      array_sort(arr),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))

  /** Count of the most frequent word bigram — the repeated-phrase signal
    * (a high value marks boilerplate/spam the way Gopher's top-n-gram
    * fraction does; Rae et al. 2021, arXiv:2112.11446 §A1.1). Backed by
    * the codegen'd `graft_top_bigram` expression
    * ([[graft.functions.TopBigramCount]]): one O(n) hash-count pass per
    * row instead of the five interpreted HOF trees of
    * [[topBigramCountHof]], its semantics twin (spec-asserted equal). */
  def topBigramCount(text: Column): Column =
    column(TopBigramCount(expression(tokensNoFuse(text))))

  /** HOF formulation of [[topBigramCount]] — kept as the engine-agnostic
    * semantics reference the spec checks the native expression against. */
  private[ext] def topBigramCountHof(text: Column): Column =
    topRunCount(bigramsAll(tokens(text)))

  /** Occurrence count of the most frequent single token — the
    * top-token-dominance signal of the q345/q349 funnel (Gopher's
    * top-1-gram fraction; Rae et al. 2021 §A1.1). Backed by the
    * codegen'd `graft_top_token` expression
    * ([[graft.functions.TopTokenCount]]): one O(n) hash-count pass per
    * row instead of the O(distinct·n) interpreted re-filter of
    * [[topTokenCountHof]], its semantics twin (spec-asserted equal,
    * including the empty-array → NULL corner). */
  def topTokenCount(toks: Column): Column =
    column(TopTokenCount(expression(toks)))

  /** HOF formulation of [[topTokenCount]] — kept as the engine-agnostic
    * semantics reference the spec checks the native expression against:
    * for every distinct token, re-filter the array and count, then max. */
  private[graft] def topTokenCountHof(toks: Column): Column =
    array_max(transform(array_distinct(toks),
      w => size(filter(toks, x => x === w))))

  /** Fraction of words that are repeats of an earlier word:
    * (n - n_distinct) / n, 0 for empty docs. Integer-derived double with a
    * single division → bit-reproducible across engines. */
  def dupWordFrac(text: Column): Column = {
    val toks = tokensNoFuse(text)
    val n = size(toks).cast("long")
    when(n > 0,
      (n - size(array_distinct(toks)).cast("long")).cast("double")
        / n.cast("double"))
      .otherwise(lit(0.0d))
  }

  /**
   * Per-document Shannon entropy of the TOKEN distribution — the
   * vocabulary-diversity axis of quality: boilerplate and keyword spam
   * score low even when [[dupWordFrac]]'s any-repeat fraction saturates
   * (a 50%-duplicated doc can repeat one word or many; entropy tells
   * them apart). Computed via the aggregation identity
   * `H = ln(n) − (Σ c·ln c)/n` — one token explode, one (doc, token)
   * count, one per-doc fold; no per-row HOFs, no second pass for the
   * total. Returns `(idCol, n_tokens, entropy)` with entropy in nats,
   * rounded to 6 dp (the engine's float-compare armor); single-token
   * docs score exactly 0.0, tokenless docs are absent.
   */
  def wordEntropy(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), explode(tokens(col(textCol))).as("_w"))
      .groupBy(col(idCol), col("_w"))
      .agg(count(lit(1)).cast("double").as("_c"))
      .groupBy(col(idCol))
      .agg(
        sum(col("_c")).cast("long").as("n_tokens"),
        round(
          log(sum(col("_c"))) -
            sum(col("_c") * log(col("_c"))) / sum(col("_c")),
          6).as("entropy"))

  /**
   * Adaptive token-length floor: keep documents whose token count is at
   * or above the corpus's `q`-quantile — the data-driven form of the
   * fixed "drop docs under N tokens" rule (Gopher-style pipelines tune N
   * per corpus; the quantile IS that tuning, recomputed from the data it
   * filters). Returns `(idCol, n_tokens)` survivors.
   *
   * The threshold is an EXACT interpolated percentile collected as a
   * plan-time scalar (the bm25TopK corpus-stats class). Token counts are
   * small integers, so the interpolation arithmetic is exact in a double
   * and engine-independent — a DuckDB `quantile_cont` replays it
   * bit-identically, which a quantile of arbitrary doubles would NOT
   * (the reason this filters on token count, not on a derived score).
   * At 100 TB exact percentile sorts each group in memory — swap
   * `exact = false` for the GK-sketch `approx_percentile` (the q49
   * machinery, bounded error, one pass) once the corpus outgrows the
   * exact sort; the filter shape is unchanged.
   */
  def adaptiveTokenFloor(
      docs: DataFrame, idCol: String, textCol: String, q: Double,
      exact: Boolean = true): DataFrame = {
    require(q > 0.0 && q < 1.0, s"quantile must be in (0,1), got $q")
    def withN = docs.select(col(idCol),
      size(tokens(col(textCol))).cast("long").as("n_tokens"))
    val thrExpr =
      if (exact) percentile(col("n_tokens"), lit(q))
      else percentile_approx(col("n_tokens"), lit(q), lit(10000))
    val statsRow = withN.agg(thrExpr.cast("double")).head()
    if (statsRow.isNullAt(0)) return withN.filter(lit(false))
    withN.filter(col("n_tokens") >= lit(statsRow.getDouble(0)))
  }

  // ---- corpus-distinctive terms (TF-IDF-shaped data-mix report) ----

  /**
   * Top-k corpus-distinctive terms per language: for each language, the
   * terms whose document frequency concentrates in that language — the
   * data-mix report a multilingual training pipeline publishes (and the
   * classic TF-IDF shape: a per-slice tf weighted against a corpus-wide
   * df). `tf` counts documents of the language containing the term (one
   * per doc via the distinct-token explode), `df` counts containing
   * documents corpus-wide, and `weight = tf / df` ∈ (0, 1]. The idf is
   * deliberately LOG-FREE: tf and df are exact integers and one IEEE-754
   * division is correctly rounded, so the doubles are bit-identical in any
   * engine — `ln` is libm-dependent and would break the oracle hash.
   *
   * Scale: one explode pass, a (lang, term) partial+final count, a
   * term-keyed rollup of those counts (no second corpus pass — `df` is the
   * sum of the per-language tfs), one join on term, and a per-language
   * top-k window with `WindowGroupLimit` rank pushdown. Ties break
   * (weight desc, tf desc, term asc) — deterministic.
   */
  def distinctiveTerms(
      df: DataFrame, langCol: String, textCol: String, k: Int = 5): DataFrame = {
    val perDoc = df.select(col(langCol).as("lang"),
      explode(array_distinct(tokens(col(textCol)))).as("term"))
    val tf = perDoc.groupBy(col("lang"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(sum(col("tf")).as("df"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("weight").desc, col("tf").desc, col("term").asc)
    tf.join(dfreq, "term")
      .withColumn("weight", col("tf").cast("double") / col("df").cast("double"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("lang"), col("term"), col("tf"), col("df"),
        col("weight"), col("rank"))
  }

  /**
   * PMI collocations: adjacent-token bigrams scored by pointwise mutual
   * information — PMI(x,y) = ln(P(x,y)/(P(x)·P(y))) with P(x,y) over the
   * bigram total and P(x) over the unigram total (the standard corpus
   * convention; Church & Hanks 1990). Bigrams below `minCount` are cut
   * FIRST (rare pairs have unboundedly inflated PMI — the classic
   * artifact), then the top `k` by (PMI DESC, x, y). All counts are
   * exact; PMI is one ln of a ratio of exact integers, rounded 6 dp.
   *
   * Scale shape: one Generate per document (the bigram explode — narrow,
   * no shuffle), two hash aggregations (bigram and unigram counts), two
   * count-frame equi-joins (vocabulary-sized, AQE-broadcast), TakeOrdered
   * top-k. Totals ride as 1-row frames joined on a literal key, not
   * driver collects.
   */
  def pmiBigrams(
      docs: DataFrame, textCol: String,
      minCount: Long = 5L, k: Int = 50): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val toks = docs.filter(col(textCol).isNotNull)
      .select(tokens(col(textCol)).as("_tk"))
      .filter(size(col("_tk")) >= 2)
    // (t[i], t[i+1]) pairs via an index explode — one narrow Generate
    val bi = toks
      .select(explode(sequence(lit(1), size(col("_tk")) - 1)).as("_i"),
        col("_tk"))
      .select(element_at(col("_tk"), col("_i")).as("x"),
        element_at(col("_tk"), col("_i") + 1).as("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("n_xy"))
    val uni = docs.filter(col(textCol).isNotNull)
      .select(explode(tokens(col(textCol))).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("_cnt"))
    val totals = bi.agg(sum(col("n_xy")).as("_n2"))
      .withColumn("_j", lit(1))
    val uniTotal = uni.agg(sum(col("_cnt")).as("_n1")).withColumn("_j", lit(1))
    bi.filter(col("n_xy") >= minCount)
      .join(uni.select(col("t").as("x"), col("_cnt").as("_cx")), "x")
      .join(uni.select(col("t").as("y"), col("_cnt").as("_cy")), "y")
      .withColumn("_j", lit(1))
      .join(totals, Seq("_j")).join(uniTotal, Seq("_j")) // 1-row totals
      // probabilities first, then the ratio: integer cross-products
      // overflow any fixed width at corpus scale (N1² alone passes 2⁶³
      // near 10¹⁰ tokens), while this shape is IEEE-deterministic —
      // identical exact-int→double conversions and operation order in
      // both engines — and never overflows
      .withColumn("pmi", round(log(
        (col("n_xy").cast("double") / col("_n2").cast("double"))
          / ((col("_cx").cast("double") / col("_n1").cast("double"))
            * (col("_cy").cast("double") / col("_n1").cast("double")))), 6))
      .orderBy(col("pmi").desc, col("x").asc, col("y").asc)
      .limit(k)
      .select(col("x"), col("y"), col("n_xy"), col("pmi"))
  }

  /**
   * Dunning log-likelihood-ratio collocations (Dunning 1993) — the
   * sparse-count-robust companion to [[pmiBigrams]]: PMI inflates
   * rare pairs (two hapaxes that co-occur once score maximal PMI);
   * G² weighs the evidence, so a pair must be BOTH surprising and
   * well-attested to rank. Over the adjacent-bigram universe with
   * self-consistent marginals (row = first-position count, col =
   * second-position count, N = total bigram positions), each pair's
   * 2×2 table scores
   *
   *   G² = 2 Σ_cells O·ln(O/E) ,  E = rowTot·colTot/N
   *
   * (O = 0 cells contribute 0). Cell terms follow [[pmiBigrams]]'
   * probabilities-first double shape — integer cross-products would
   * overflow at corpus scale; this chain is IEEE-deterministic and
   * never does. Returns the top-k by `(llr desc, x, y)`:
   * `(x, y, n_xy, llr)`, 6-dp.
   *
   * Shape at scale: one narrow Generate for pairs, token-keyed hash
   * aggregates for marginals, two token-keyed joins + the 1-row total
   * fan-in, TakeOrdered top-k — no data-sized window.
   */
  def llrBigrams(
      docs: DataFrame, textCol: String,
      minCount: Long = 5L, k: Int = 50): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val toks = docs.filter(col(textCol).isNotNull)
      .select(tokens(col(textCol)).as("_tk"))
      .filter(size(col("_tk")) >= 2)
    val bi = toks
      .select(explode(sequence(lit(1), size(col("_tk")) - 1)).as("_i"),
        col("_tk"))
      .select(element_at(col("_tk"), col("_i")).as("x"),
        element_at(col("_tk"), col("_i") + 1).as("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("n_xy"))
    val rx = bi.groupBy(col("x")).agg(sum(col("n_xy")).as("_rx"))
    val cy = bi.groupBy(col("y")).agg(sum(col("n_xy")).as("_cy"))
    val tot = bi.agg(sum(col("n_xy")).as("_n"))
    val nD = col("_n").cast("double")
    def cell(o: Column, row: Column, colm: Column): Column =
      when(o > 0,
        o.cast("double") * log((o.cast("double") / nD) /
          ((row.cast("double") / nD) * (colm.cast("double") / nD))))
        .otherwise(lit(0.0))
    val o11 = col("n_xy")
    val o12 = col("_rx") - col("n_xy")
    val o21 = col("_cy") - col("n_xy")
    val o22 = col("_n") - col("_rx") - col("_cy") + col("n_xy")
    val llr = round(lit(2.0) * (
      cell(o11, col("_rx"), col("_cy")) +
      cell(o12, col("_rx"), col("_n") - col("_cy")) +
      cell(o21, col("_n") - col("_rx"), col("_cy")) +
      cell(o22, col("_n") - col("_rx"), col("_n") - col("_cy"))), 6)
    bi.filter(col("n_xy") >= minCount)
      .join(rx, Seq("x")).join(cy, Seq("y"))
      .crossJoin(broadcast(tot))
      .withColumn("llr", llr)
      .orderBy(col("llr").desc, col("x").asc, col("y").asc)
      .limit(k)
      .select(col("x"), col("y"), col("n_xy"), col("llr"))
  }

  /**
   * Heaps-law vocabulary growth curve at BUCKET granularity: documents
   * are grouped into fixed-width id buckets (`idCol div bucketWidth`,
   * the corpus's natural ingest order), a term is "new" in the bucket
   * of its FIRST occurrence (`min(idCol)` over the corpus), and the
   * running totals give the V(N) curve — cumulative vocabulary size
   * against cumulative tokens seen. Sub-linear growth is the healthy
   * power law; a kink toward linear means boilerplate or spam entered
   * the stream (each doc minting "new" terms), the diagnostic a corpus
   * audit reads next to [[freqSpectrum]].
   *
   * Scale shape: one explode + two hash aggregations (per-token min-id
   * is a map-side-combinable min); the ONLY ordered window runs on the
   * BUCKET-sized frame (corpus-length / bucketWidth rows — metadata, not
   * data), which is what makes the curve safe where a per-doc cumsum
   * would be a global-sort cliff. Returns one row per non-empty bucket:
   * `(bucket, n_docs, n_tokens, new_terms, cum_tokens, vocab_size)`.
   */
  def vocabGrowth(
      docs: DataFrame, idCol: String, textCol: String,
      bucketWidth: Long = 1000L): DataFrame =
    vocabGrowthFrom(
      docBucketStats(docs, idCol, textCol, bucketWidth),
      firstOccurrences(docs, idCol, textCol), bucketWidth)

  /** The additive half of the growth curve's standing state: per-bucket
    * doc and token counts. `merge ≡ from-scratch` for doc-disjoint
    * corpora (sums associate) — the [[termFrequencies]] law. */
  def docBucketStats(
      docs: DataFrame, idCol: String, textCol: String,
      bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive, got $bucketWidth")
    docs.filter(col(textCol).isNotNull)
      .select(expr(s"`$idCol` div ${bucketWidth}L").as("bucket"),
        size(tokens(col(textCol))).cast("long").as("_nt"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("_nt")).as("n_tokens"))
  }

  /** Additive merge of [[docBucketStats]] partials. */
  def mergeDocBucketStats(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("bucket"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"))

  /** The min-mergeable half: each term's FIRST document id — the
    * standing index that makes the growth curve incrementally
    * maintainable without re-tokenizing history (min associates, so
    * `merge(fo(A), fo(B)) ≡ fo(A ∪ B)` for ANY split, even an id-
    * interleaved one). Vocabulary-sized, the [[buildVocab]] scale class. */
  def firstOccurrences(
      docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("_id"), explode(tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(min(col("_id")).as("first_id"))

  /** Min-merge of [[firstOccurrences]] partials. */
  def mergeFirstOccurrences(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("token"))
      .agg(min(col("first_id")).as("first_id"))

  /** Assemble the curve from its two standing pieces — shared by the
    * self-contained [[vocabGrowth]] and the merged/persisted path, so
    * the incremental form can never drift from the from-scratch one. */
  def vocabGrowthFrom(
      stats: DataFrame, firstOcc: DataFrame,
      bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive, got $bucketWidth")
    val newTerms = firstOcc
      .select(expr(s"first_id div ${bucketWidth}L").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("new_terms"))
    val cum = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    stats.join(newTerms, Seq("bucket"), "left")
      .select(col("bucket"), col("n_docs"), col("n_tokens"),
        coalesce(col("new_terms"), lit(0L)).as("new_terms"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(cum))
      .withColumn("vocab_size", sum(col("new_terms")).over(cum))
  }

  // ---- regex ("BPE-ish") tokenization ----

  /** Letter-runs, digit-runs, and single punctuation marks — the shape of a
    * byte-pair-encoder pre-tokenizer, as one RE2-safe regex. */
  val bpeTokenPattern = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

  def bpeTokens(text: Column): Column =
    regexp_extract_all(lower(text), lit(bpeTokenPattern), lit(0))

  // ---- document fingerprinting ----

  /**
   * Deterministic document fingerprint: the lexicographic minimum of the
   * md5 hex digests of the word n-gram shingles (a 1-hash MinHash — docs
   * sharing their min shingle collide). Content-addressed, engine-agnostic.
   */
  def fingerprint(text: Column, n: Int = 3): Column =
    array_min(transform(Dedup.shingles(text, n), s => md5(s)))

  // ---- SimHash near-duplicate mining ----

  /** SimHash width: 48 bits (12 md5 hex digits × 4). Packed into a long
    * with headroom — 64-bit packing would overflow LongType, which ANSI
    * mode turns into a runtime error. */
  val simhashBits = 48

  /**
   * 48-bit SimHash over the token multiset: bit j of a token is bit
   * (j % 4) of hex digit (j / 4) of the token's md5; the document bit j is
   * the sign of Σ_tokens (±1). One narrow pass via the codegen'd
   * `graft_simhash` expression ([[graft.functions.SimHash48]]) — zero
   * shuffle, one raw-digest md5 per token. Tokenless docs are dropped,
   * matching the relational twin below (explode emits no row for them).
   */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    Materialize.fan(df.select(col(idCol), col(textCol)))
      .select(col(idCol), tokens(col(textCol)).as("tk"))
      .filter(size(col("tk")) > 0)
      .select(col(idCol), column(SimHash48(expression(col("tk")))).as("simhash"))

  /** Relational formulation of [[simhash]] — explode tokens, one md5 per
    * token, 48 map-side partial sums in one hash aggregate (O(tokens) rows
    * through a partial agg, not O(tokens × 48)). Kept as the
    * engine-agnostic semantics reference the spec checks the native
    * expression against; also the shape the DuckDB oracle mirrors. */
  private[graft] def simhashRelational(
      df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol), explode(tokens(col(textCol))).as("t"))
      .withColumn("h", md5(col("t")))
    val sums: Seq[Column] = (0 until simhashBits).map { j =>
      val digit = instr(lit("0123456789abcdef"), substring(col("h"), j / 4 + 1, 1)) - 1
      val bit   = shiftright(digit, j % 4).bitwiseAND(lit(1))
      sum(when(bit === 1, 1).otherwise(-1)).as(s"s$j")
    }
    val packed = (0 until simhashBits).reverse
      .foldLeft(lit(0L): Column)((acc, j) =>
        acc * 2 + when(col(s"s$j") > 0, 1L).otherwise(0L))
    tok.groupBy(col(idCol)).agg(sums.head, sums.tail: _*)
      .select(col(idCol), packed.as("simhash"))
  }

  /**
   * SimHash near-dup pairs with Hamming distance ≤ maxHamming, found by
   * pigeonhole bucketing: split the 48 bits into `chunks` equal chunks and
   * equi-join on (chunk index, chunk value) — any pair within distance
   * < `chunks` shares at least one identical chunk, so recall is EXACTLY 1
   * (pigeonhole, not probabilistic) while the join stays linear per bucket.
   *
   * SCALE LAW — the parameters set a quadratic collision floor. Random
   * (non-dup) pairs collide on a chunk at rate chunks / 2^(48/chunks), so
   * the join evaluates ~n² · chunks / 2^(48/chunks) candidate pairs on top
   * of the true near-dups. The defaults are the Manku/Jain/Sarma web-dedup
   * operating point (WWW'07): hamming ≤ 3 with 4 chunks of 12 bits —
   * collision floor n²/1024. The loose point this engine shipped first
   * (hamming ≤ 6, which pigeonhole forces into 8 chunks of 6 bits = only
   * 64 bucket values) has floor n²/8 and measured 100× superlinear on the
   * 10× scale run (r13); it also marks ~1% of ALL pairs "near-dup" at
   * sf0.1 — too loose to mean anything. Callers needing a wider radius
   * must accept the floor knowingly or pre-block on another key.
   *
   * (Chunk-PAIR keys — C(chunks,2) combos, which square the bucket count
   * the quadratic within-bucket term divides by — were measured SLOWER
   * here: on a near-dup-heavy corpus every true pair is re-found under
   * every clean combo, so the 3.5× row fan-out and the bigger distinct
   * outweigh the random-collision saving. Worth revisiting only for
   * corpora where buckets are collision-dominated, not duplicate-heavy.)
   */
  def simhashNearDupPairs(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, chunks: Int = 4): DataFrame = {
    require(maxHamming < chunks, "pigeonhole recall needs maxHamming < chunks")
    val bitsPerChunk = simhashBits / chunks
    // materialized once — the self-join below reads it from both sides,
    // which would otherwise re-run the md5 token pass twice (at corpus
    // scale: re-scan the full text twice vs store a 2-column table)
    val sh = Materialize.cut(simhash(df, idCol, textCol))
    // one (id, chunk, ckey) row per chunk in a single posexplode pass —
    // chunk values via literal shifts of the simhash ATTRIBUTE, so the
    // hash is never recomputed per chunk
    val chunkRows = sh.select(col(idCol), col("simhash"),
      posexplode(array((0 until chunks).map(c =>
        shiftrightunsigned(col("simhash"), c * bitsPerChunk)
          .bitwiseAND(lit((1L << bitsPerChunk) - 1))): _*))
        .as(Seq("chunk", "ckey")))
    val a = chunkRows.select(col(idCol).as("a_id"), col("simhash").as("a_sh"),
      col("chunk"), col("ckey"))
    val b = chunkRows.select(col(idCol).as("b_id"), col("simhash").as("b_sh"),
      col("chunk"), col("ckey"))
    a.join(b, Seq("chunk", "ckey"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        bit_count(col("a_sh").bitwiseXOR(col("b_sh"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming) // prune BEFORE the dedup shuffle
      .distinct()
  }

  /**
   * Token vocabulary with stable dense ids: the top `k` tokens by
   * corpus frequency (ties broken lexically), each assigned a 1-based
   * id in that order — the id-assignment step of tokenizer / embedding-
   * table construction ("vocab.json"), where training and inference
   * must agree on the same token→id map and reruns must reproduce it
   * bit-for-bit (hence the total (freq DESC, token ASC) order, no
   * hash-map iteration order anywhere).
   *
   * Shape at scale: the term-frequency aggregate is the one data-sized
   * shuffle (map-side partial counts); `orderBy.limit(k)` plans as
   * TakeOrdered — per-partition top-k then a k-row driver merge, never
   * a global sort of the term space. Id assignment is a row_number
   * window over those k rows: single-partition by construction, but
   * over VOCAB-sized metadata (k ≤ ~10⁵), not data — the same bounded
   * contract as the IVF centroid frame.
   */
  def buildVocab(
      docs: DataFrame,
      textCol: String,
      k: Int,
      minFreq: Long = 1L): DataFrame =
    vocabFromTf(termFrequencies(docs, textCol), k, minFreq)

  /** The corpus-sized half of [[buildVocab]]: per-token counts
    * `(token, freq)` — ADDITIVE, so a persisted tf table maintains by
    * [[mergeTermFrequencies]] with each batch's partials instead of
    * re-tokenizing history (the vocab's standing-index form; q104's
    * algebraic-rollup argument applied to terms). */
  def termFrequencies(docs: DataFrame, textCol: String): DataFrame =
    Materialize.fan(docs.filter(col(textCol).isNotNull).select(col(textCol)))
      .select(explode(tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))

  /**
   * DEFLATE compression ratio of the text's UTF-8 bytes — compressed
   * size / raw size at the given zlib level, the cheap long-range
   * redundancy signal ([[graft.functions.DeflateLength]]): boilerplate
   * and generated spam land far below organic prose, so quality passes
   * threshold on it next to [[qualityScore]]'s local ratios. Rounds to
   * 6 dp; NULL for NULL or empty text (no bytes, no ratio). Zero
   * shuffle — fuses into the surrounding scan.
   */
  def compressionRatio(text: Column, level: Int = 6): Column =
    round(
      column(DeflateLength(expression(text), level)).cast("double") /
        nullif(octet_length(text).cast("double"), lit(0.0)), 6)

  /**
   * Token-coverage curve of the top-`topK` vocabulary — "how much of the
   * corpus does a K-term vocab cover?", the curve a tokenizer-size
   * decision reads (the q103 [[vocabFromTf]] build picks K; this shows
   * what each K buys). Returns `(rank, token, freq, cum_share)` for
   * ranks 1..topK, `cum_share` = cumulative frequency / total tokens
   * rounded 6.
   *
   * Scale shape: the candidate cut is an `ORDER BY freq DESC LIMIT K` —
   * Spark plans TakeOrdered (per-partition top-K, driver merge of K
   * rows), NEVER a data-sized sort or single-partition window; the rank
   * and cumulative windows then run over the K-row frame (bounded by
   * the caller's constant — the q179 contract). The total is one
   * separate aggregate of the full tf frame.
   */
  def vocabCoverage(tf: DataFrame, topK: Int): DataFrame = {
    require(topK > 0, s"topK must be positive, got $topK")
    val byFreq = org.apache.spark.sql.expressions.Window
      .orderBy(col("freq").desc, col("token").asc)
    val cum = byFreq.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.currentRow)
    val total = tf.agg(sum(col("freq")).as("_n"))
    tf.orderBy(col("freq").desc, col("token").asc).limit(topK)
      .withColumn("rank", row_number().over(byFreq).cast("long"))
      .withColumn("_cum", sum(col("freq")).over(cum))
      .crossJoin(broadcast(total))
      .select(col("rank"), col("token"), col("freq"),
        round(col("_cum").cast("double") / col("_n"), 6).as("cum_share"))
  }

  /** Frequency-of-frequencies spectrum of a [[termFrequencies]] frame —
    * the Zipf/Heaps corpus diagnostic (`n_terms` distinct terms occur
    * exactly `freq` times; the hapax count is the `freq = 1` row, and a
    * log-log plot of the spectrum is the standard power-law check a
    * corpus audit runs before/after dedup). One further hash
    * aggregation over the tf frame — output is at most
    * distinct-frequency-sized, far smaller than the vocabulary. */
  def freqSpectrum(tf: DataFrame): DataFrame =
    tf.groupBy(col("freq")).agg(count(lit(1)).as("n_terms"))

  /** Additive merge of term-frequency partials; `merge(a,b)` ≡
    * [[termFrequencies]] over the concatenated corpora (spec-pinned),
    * shuffling only tf-sized rows. */
  def mergeTermFrequencies(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("token"))
      .agg(sum(col("freq")).as("freq"))

  /** The vocab-sized half of [[buildVocab]]: rank a tf frame into the
    * dense-id map (top-`k` by (freq DESC, token), ids 1-based in that
    * total order; TakeOrdered + a k-row id window). */
  def vocabFromTf(tf: DataFrame, k: Int, minFreq: Long = 1L): DataFrame = {
    require(k > 0, s"vocab size k must be positive, got $k")
    tf.filter(col("freq") >= minFreq)
      .orderBy(col("freq").desc, col("token").asc).limit(k)
      .withColumn("id",
        row_number().over(
          Window.orderBy(col("freq").desc, col("token").asc)).cast("long"))
      .select(col("token"), col("id"), col("freq"))
  }

  /**
   * Apply a [[buildVocab]] vocabulary to documents — the encode step
   * of the tokenizer pair: every token maps to its dense id,
   * out-of-vocabulary tokens to 0 (the UNK convention, which is why
   * [[buildVocab]] ids start at 1). Documents with no tokens are
   * dropped (nothing to encode). Returns `(idCol, n_tokens, n_oov,
   * ids_md5)` — the id sequence certified compactly as an md5 over the
   * space-joined ids (the [[chunkTokens]] precedent: both engines hash
   * identical UTF-8 bytes) instead of shipping id arrays through the
   * dump.
   *
   * Shape at scale: the vocab reaches every executor as vocab-sized
   * metadata, never via a join (the per-token join alternative would
   * shuffle the exploded corpus by token — data-sized — to look up a
   * metadata-sized table), so encoding is a pure narrow projection:
   * zero shuffle, zero joins, one codegen'd lookup per token. The
   * TRANSPORT dispatches on vocabulary size (the
   * [[AnnIvf.nearestCells]] carrier pattern, r15-verdict item): below
   * [[LiteralVocabCeiling]] entries the map rides as a `typedLit` plan
   * literal (self-contained plans, stable plan fingerprints); above it
   * — `vocabFromTf`'s k is caller-chosen, and a real 10⁵–10⁶-token
   * tokenizer vocabulary would bloat EVERY serialized task plan — the
   * map ships once per executor as a `Broadcast` consumed by the
   * [[graft.functions.VocabEncodeBc]] expression (TextOpsSpec pins the
   * two paths bit-equal).
   */
  def encodeWithVocab(
      docs: DataFrame, idCol: String, textCol: String,
      vocab: DataFrame): DataFrame = {
    val entries = vocab.select(col("token"), col("id")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    require(entries.nonEmpty, "empty vocabulary — build it first")
    if (entries.size > LiteralVocabCeiling)
      encodeWith(docs, idCol, textCol, bcastIds(entries))
    else {
      val vmap = typedLit(entries)
      encodeWith(docs, idCol, textCol,
        toks => transform(toks, t => coalesce(element_at(vmap, t), lit(0L))))
    }
  }

  /** Above this vocabulary size the id map rides as a `Broadcast`
    * instead of a plan-resident `typedLit` — same rationale and value
    * as [[AnnIvf.LiteralCentroidCeiling]]: a few thousand entries are
    * comfortably inside normal plan sizes, a tokenizer-scale
    * vocabulary is megabytes shipped with every task plan. */
  private[ext] val LiteralVocabCeiling = 4096

  /** The broadcast id-lookup column builder ([[encodeWithVocab]]'s
    * above-ceiling transport), exposed so the spec can pin it bit-equal
    * to the literal path at sub-ceiling sizes. */
  private[ext] def bcastIds(
      entries: Map[String, Long]): Column => Column = {
    val bc = org.apache.spark.sql.SparkSession.active
      .sparkContext.broadcast(entries)
    toks => column(VocabEncodeBc(expression(toks), bc))
  }

  /** [[encodeWithVocab]]'s shared projection over either id transport. */
  private def encodeWith(
      docs: DataFrame, idCol: String, textCol: String,
      idsOf: Column => Column): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .withColumn("_toks", tokens(col(textCol)))
      .filter(size(col("_toks")) > 0)
      .withColumn("_ids", idsOf(col("_toks")))
      .select(col(idCol),
        size(col("_toks")).cast("long").as("n_tokens"),
        size(filter(col("_ids"), i => i === 0L)).cast("long").as("n_oov"),
        md5(concat_ws(" ", transform(col("_ids"), _.cast("string")))
          .cast("binary")).as("ids_md5"))

  /**
   * LIX readability (Björnsson 1968 — language-neutral, no syllable
   * heuristics): `words/sentences + 100·longwords/words`, where a long
   * word has > 6 characters and sentences count terminal punctuation
   * (`.`/`!`/`?`, floor 1 so headline-style fragments read as one
   * sentence). Word = whitespace token ([[tokens]] — punctuation stays
   * attached; the SAME definition on both engine and oracle is the
   * contract, not linguistic precision). Zero-word texts yield NULL.
   * Conventional bands: < 40 easy, > 60 very hard — the quick prose-
   * difficulty facet next to [[qualityScore]]'s spam facets.
   *
   * Returns `(n_words, n_sentences, n_long, lix)` columns appended via
   * one narrow zero-shuffle projection.
   */
  def readability(df: DataFrame, textCol: String): DataFrame = {
    val toks = tokens(col(textCol))
    val w = size(toks).cast("long")
    val s = greatest(
      size(regexp_extract_all(col(textCol), lit("[.!?]"), lit(0)))
        .cast("long"), lit(1L))
    val lw = size(filter(toks, t => length(t) > 6)).cast("long")
    df.withColumn("n_words", w)
      .withColumn("n_sentences", when(col(textCol).isNotNull, s))
      .withColumn("n_long", lw)
      .withColumn("lix", round(
        col("n_words").cast("double") / col("n_sentences").cast("double") +
          lit(100.0) * col("n_long").cast("double") /
            nullif(col("n_words").cast("double"), lit(0.0)), 6))
  }

  /**
   * Distinct-n diversity per group — the text-generation-eval metric
   * ("what share of this slice's word n-grams are unique?") applied as
   * a corpus facet: a low distinct-2 flags template/boilerplate-heavy
   * or mode-collapsed sources the way [[repetitionScore]] flags single
   * documents. N-grams are [[tokens]]-space joined windows
   * (`array_join(slice(toks, i+1, n), " ")` over `i < len−n+1`);
   * documents shorter than `n` tokens contribute nothing.
   *
   * Shape at scale: one explode + two hash aggregates (group×n-gram,
   * then group) — the [[termFrequencies]] shuffle shape, data-sized
   * once, group-sized after. Returns
   * `(groupCol, n_ngrams, n_distinct, distinct_ratio)`, ratio 6-dp.
   */
  def ngramDiversity(
      docs: DataFrame, groupCol: String, textCol: String,
      n: Int = 2): DataFrame = {
    require(n >= 1 && n <= 8, s"n must be in [1, 8], got $n")
    val toks = tokens(col(textCol))
    val grams = transform(
      sequence(lit(0), size(col("_toks")) - n),
      i => array_join(slice(col("_toks"), i + lit(1), lit(n)), " "))
    val cells = docs.filter(col(textCol).isNotNull)
      .select(col(groupCol), toks.as("_toks"))
      .filter(size(col("_toks")) >= n)
      .select(col(groupCol), explode(grams).as("_g"))
      .groupBy(col(groupCol), col("_g"))
      .agg(count(lit(1)).as("_c"))
    cells.groupBy(groupCol)
      .agg(sum(col("_c")).as("n_ngrams"),
        count(lit(1)).as("n_distinct"))
      .withColumn("distinct_ratio", round(
        col("n_distinct").cast("double") /
          col("n_ngrams").cast("double"), 6))
  }

  /**
   * Good–Turing frequency-of-frequencies profile of the corpus
   * vocabulary (or its `gramN`-gram occurrences — the tail the
   * estimator needs may only exist at n-gram granularity on a small
   * token vocabulary): for each low count r ≤ rMax, the number of terms seen
   * exactly r times (N_r), the Good–Turing smoothed count
   * r* = (r+1)·N_{r+1}/N_r (NULL when N_{r+1} = 0 — the estimator is
   * undefined there, not zero), and r·N_r/N — the share of corpus
   * probability mass held at that count. Row r = 1's mass share IS the
   * Good–Turing estimate of the UNSEEN mass (how much probability the
   * next token has of being a word this corpus never saw) — the
   * coverage-planning scalar next to the Heaps/Zipf fits and the vocab
   * OOV audit. All counts exact longs; three final divisions, 6-dp.
   *
   * Scale shape: one token explode into a term-keyed hash aggregate
   * (map-side partial), then everything is frequency-of-frequency
   * sized (≤ corpus-distinct terms, grouped again to ≤ max count rows).
   */
  def goodTuring(
      docs: DataFrame, textCol: String, rMax: Int = 5,
      gramN: Int = 1): DataFrame = {
    require(rMax >= 1, s"rMax must be >= 1, got $rMax")
    require(gramN >= 1, s"gramN must be >= 1, got $gramN")
    val toks = tokens(col(textCol))
    // unit = token (gramN 1) or space-joined n-gram occurrence — the
    // tail only exists at n-gram granularity on small vocabularies.
    // The n-gram path keys the census by the RAW 16-byte md5 OF the
    // joined window (`graft_window_key`, byte-equal to
    // unhex(md5(concat_ws(" ", slice(...)))) — the
    // [[SpanDedup.tokenWindows]] key; guide §2.3, shuffle keys not
    // payloads): the unit string never reaches the output — only its
    // occurrence count does — so a 128-bit content key counts the same
    // multiset (collision odds ~2⁻¹²⁸·pairs, the repo's established
    // md5-keying contract) while the shuffle carries a fixed 16-byte
    // binary key instead of the window text or its 32-char hex, and the
    // per-window slice/concat/hex allocations collapse into one digest
    // pass (explode stays in codegen).
    // fan before the tokenize + explode: fused into a 1-row-group scan
    // the whole census pass runs on 1-2 tasks (Materialize.fan doc)
    val fanned = Materialize.fan(
      docs.filter(col(textCol).isNotNull).select(col(textCol)))
    val counts =
      if (gramN == 1)
        fanned
          .filter(size(toks) >= gramN)
          .select(explode(toks).as("_t"))
          .groupBy(col("_t")).agg(count(lit(1)).as("_r"))
      else
        fanned
          .select(toks.as("_tk"))
          .filter(size(col("_tk")) >= gramN)
          .select(col("_tk"), explode(
            sequence(lit(1), size(col("_tk")) - (gramN - 1))).as("_pos"))
          .select(column(SpanWindowKey(
            expression(col("_tk")), expression(col("_pos")), gramN)).as("_t"))
          .groupBy(col("_t")).agg(count(lit(1)).as("_r"))
    // ONE corpus pass (guide §7.2, duplicated subtrees): `fof` feeds both
    // sides of the shift self-join and the total, so without a cut the
    // tokenize+explode+groupBy `counts` subtree runs three times. The cut
    // pins the tiny frequency-of-frequencies frame; the unit total is
    // Σ r·n_r over it — exact long arithmetic, identical to summing `_r`
    // over `counts` directly (each of the n_r units of count r contributes
    // r), so the released numbers are unchanged.
    val fof = Materialize.cut(counts.groupBy(col("_r").as("r"))
      .agg(count(lit(1)).as("n_r")))
    val tot = fof.agg(sum(col("r") * col("n_r")).as("_nt"))
    fof.filter(col("r") <= rMax)
      .join(fof.select((col("r") - 1).as("r"), col("n_r").as("_next")),
        Seq("r"), "left")
      .crossJoin(broadcast(tot))
      .select(col("r"), col("n_r"),
        round((col("r") + 1).cast("double") * col("_next").cast("double")
          / col("n_r").cast("double"), 6).as("r_star"),
        round(col("r").cast("double") * col("n_r").cast("double")
          / col("_nt").cast("double"), 6).as("mass_share"))
      .orderBy(col("r").asc)
  }

  /**
   * Zipf-exponent fit over the rank–frequency head — the NUMBER the
   * q-rank/frequency table gestures at: OLS of ln(freq) on ln(rank)
   * over the top-`topN` terms (the power-law region; the tail bends
   * away and would bias the exponent). A healthy natural-language
   * corpus sits near slope −1; a much flatter slope flags synthetic
   * or template-heavy text, much steeper flags boilerplate
   * domination — a corpus-level quality screen next to the per-doc
   * Gopher rules. Rank is the deterministic `(count desc, term)`
   * row_number; moments fold as 12-dp decimals (the
   * [[graft.analytics.Trend]] rule); closed forms are one double
   * chain each, 6-dp. Returns one row
   * `(n_terms, slope, intercept, r2)`.
   *
   * The one global window runs over the VOCABULARY frame (the
   * rank–frequency family's documented contract), and only the
   * top-`topN` rows proceed to the fit.
   */
  def zipfSlope(
      docs: DataFrame, textCol: String, topN: Int = 1000): DataFrame =
    zipfSlopeFromCounts(termCounts(docs, textCol), topN)

  /** Corpus term totals `(_t, _c)` — the shared first stage of the
    * vocabulary estimators, and exactly the `sum(tf)` rollup of a
    * [[TextSearch.buildLexicalIndex]] postings stripe (same tokenizer
    * by library contract), so a standing retrieval index serves the
    * estimators without re-tokenizing history. */
  private[ext] def termCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .select(explode(tokens(col(textCol))).as("_t"))
      .groupBy(col("_t")).agg(count(lit(1)).as("_c"))

  /** [[zipfSlope]] evaluated over an already-built term-count frame
    * (`(_t, _c)` — [[termCounts]] or an index rollup).
    *
    * SCALE SHAPE: limit-FIRST — `.orderBy(count desc, term).limit(topN)`
    * compiles to TakeOrderedAndProject (per-partition top-N heaps, one
    * tiny merge), and the rank window then runs over the topN-row frame
    * only. The previous rank-then-filter shape moved the FULL vocabulary
    * (billions of distinct tokens at 100 TB) through one unpartitioned
    * WindowExec partition; this is the [[StatsTests.hillTailIndex]]
    * shape instead. */
  def zipfSlopeFromCounts(counts: DataFrame, topN: Int = 1000): DataFrame = {
    require(topN >= 3, s"need >= 3 ranks to fit, got $topN")
    val d12 = org.apache.spark.sql.types.DecimalType(38, 12)
    val top = counts
      .orderBy(col("_c").desc, col("_t").asc)
      .limit(topN)
    val w = Window.orderBy(col("_c").desc, col("_t").asc)
    val xy = top
      .withColumn("_r", row_number().over(w).cast("long"))
      .select(log(col("_r").cast("double")).as("_x"),
        log(col("_c").cast("double")).as("_y"))
    val m = xy.agg(count(lit(1)).as("n_terms"),
      sum(round(col("_x"), 12).cast(d12)).as("_sx"),
      sum(round(col("_y"), 12).cast(d12)).as("_sy"),
      sum(round(col("_x") * col("_x"), 12).cast(d12)).as("_sxx"),
      sum(round(col("_y") * col("_y"), 12).cast(d12)).as("_syy"),
      sum(round(col("_x") * col("_y"), 12).cast(d12)).as("_sxy"))
    val nD = col("n_terms").cast("double")
    val sx = col("_sx").cast("double"); val sy = col("_sy").cast("double")
    val sxx = col("_sxx").cast("double")
    val syy = col("_syy").cast("double")
    val sxy = col("_sxy").cast("double")
    val cov = nD * sxy - sx * sy
    val varx = nD * sxx - sx * sx
    val vary = nD * syy - sy * sy
    val slope = cov / nullif(varx, lit(0.0))
    m.select(col("n_terms"),
      round(slope, 6).as("slope"),
      round((sy - slope * sx) / nD, 6).as("intercept"),
      round(cov * cov / nullif(varx * vary, lit(0.0)), 6).as("r2"))
  }

  /**
   * Lexical diversity per source — "is this source saying NEW things,
   * or the same things many times?": tokens, distinct types, and the
   * root type–token ratio `RTTR = V/√N` (Guiraud's index — raw V/N
   * shrinks mechanically with corpus size, RTTR is the standard
   * size-robust correction). A low-RTTR source is template/boilerplate
   * mass the quality family should down-weight before mixing. Counts
   * exact; RTTR is one chain, 6-dp. Returns
   * `(source, n_tokens, vocab, ttr, rttr)` ordered by source —
   * source-keyed hash aggregates, no windows.
   */
  def lexicalDiversity(
      docs: DataFrame, sourceCol: String, textCol: String): DataFrame =
    docs.filter(col(sourceCol).isNotNull && col(textCol).isNotNull)
      .select(col(sourceCol).as("source"),
        explode(tokens(col(textCol))).as("_t"))
      .groupBy(col("source"), col("_t"))
      .agg(count(lit(1)).as("_c"))
      .groupBy(col("source"))
      .agg(sum(col("_c")).as("n_tokens"),
        count(lit(1)).as("vocab"))
      .select(col("source"), col("n_tokens"), col("vocab"),
        round(col("vocab").cast("double") /
          col("n_tokens").cast("double"), 6).as("ttr"),
        round(col("vocab").cast("double") /
          sqrt(col("n_tokens").cast("double")), 6).as("rttr"))
      .orderBy(col("source").asc)

  /**
   * Pairwise Jensen–Shannon divergence matrix between sources over
   * the top-`topN` GLOBAL terms — the distribution-level redundancy
   * map next to the exact cross-source duplicate matrix: two sources
   * with near-zero JS say the same things even when no document is
   * copied (a mixture weighting both is buying the same data twice).
   * Restricting to the shared global head keeps the pair join
   * `topN × k²`-bounded and makes every source comparable on the same
   * support; per-source probabilities renormalize over that head.
   * Each JS term is one double chain rounded 12-dp and folded
   * DECIMAL(38,12) (the corpus-divergence convention); absent terms
   * carry p = 0 and contribute only through the other side (the
   * 0·ln 0 = 0 convention). Returns `(source_lo, source_hi, js)`
   * ordered lexicographically, k²/2 rows.
   */
  def sourceJsMatrix(
      docs: DataFrame, sourceCol: String, textCol: String,
      topN: Int = 200): DataFrame = {
    require(topN >= 2, s"topN must be >= 2, got $topN")
    val d12 = org.apache.spark.sql.types.DecimalType(38, 12)
    val cells = docs
      .filter(col(sourceCol).isNotNull && col(textCol).isNotNull)
      .select(col(sourceCol).as("_s"),
        explode(tokens(col(textCol))).as("_t"))
      .groupBy(col("_s"), col("_t")).agg(count(lit(1)).as("_c"))
    val head = cells.groupBy(col("_t"))
      .agg(sum(col("_c")).as("_g"))
      .orderBy(col("_g").desc, col("_t").asc)
      .limit(topN)
      .select(col("_t"))
    val kept = cells.join(broadcast(head), Seq("_t"))
    val tot = kept.groupBy(col("_s")).agg(sum(col("_c")).as("_n"))
    val p = kept.join(tot, Seq("_s"))
      .select(col("_t"), col("_s"),
        (col("_c").cast("double") / col("_n").cast("double")).as("_p"))
    val srcs = tot.select(col("_s"))
    val srcPairs = srcs.as("x").join(srcs.as("y"),
      col("x._s") < col("y._s"))
      .select(col("x._s").as("_sa"), col("y._s").as("_sb"))
    val pa = p.select(col("_t"), col("_s").as("_sa"), col("_p").as("_pa"))
    val pb = p.select(col("_t"), col("_s").as("_sb"), col("_p").as("_pb"))
    // explicit bounded support: every pair × every head term, absent
    // sides left-joined to p = 0 (k²/2 × topN rows by construction)
    val joined = srcPairs.crossJoin(broadcast(head))
      .join(pa, Seq("_sa", "_t"), "left")
      .join(pb, Seq("_sb", "_t"), "left")
    val qa = coalesce(col("_pa"), lit(0.0))
    val qb = coalesce(col("_pb"), lit(0.0))
    val mm = (qa + qb) / 2.0
    val term =
      when(qa > 0.0, qa * log(qa / mm)).otherwise(lit(0.0)) +
        when(qb > 0.0, qb * log(qb / mm)).otherwise(lit(0.0))
    joined
      .groupBy(col("_sa").as("source_lo"), col("_sb").as("source_hi"))
      .agg(round(sum(round(term, 12).cast(d12)).cast("double") / 2.0 /
        lit(0.6931471805599453), 6).as("js"))
      .orderBy(col("source_lo").asc, col("source_hi").asc)
  }

  /**
   * Coverage targets — "how big must a vocabulary be to cover X% of
   * the token mass?", the tokenizer-sizing inverse of
   * [[vocabCoverage]] (which reports the share a FIXED top-K holds):
   * terms rank by `(count desc, term)` and each target reports the
   * smallest rank whose cumulative share reaches it, plus the actual
   * share there. The number a BPE budget negotiation starts from.
   * Counts exact; shares are one division per rank; the pick is a
   * min-struct over the qualifying frame. Returns
   * `(target, k_terms, share_at_k)` ordered by target.
   *
   * SCALE SHAPE: the needed cumulative is a function of the COUNT
   * VALUE alone — every term holding the same count contributes the
   * same mass, so the vocabulary first collapses to its
   * count-of-counts frame `(count value c, t_c terms)` by hash
   * aggregate, and the one ordered window runs over that
   * value-cardinality frame (heavy-tailed corpora: ~√N distinct
   * counts for N tokens, vs billions of distinct terms at 100 TB).
   * The in-group offset j for a target is then located
   * arithmetically: ranks `rankBefore+1 … rankBefore+t_c` carry
   * cumulative mass `cumBefore + j·c`, so the smallest qualifying
   * rank is `ceil`-computed and ±1-corrected against the EXACT
   * long-arithmetic share (bit-identical to the per-rank division
   * the ranked formulation used). Same contract lift as
   * [[StatsTests.mannWhitneyU]]'s tie-rank form.
   */
  def coverageTargets(
      counts: DataFrame, targets: Seq[Double]): DataFrame = {
    require(targets.nonEmpty && targets.forall(t => t > 0.0 && t <= 1.0),
      s"targets must be in (0, 1]: $targets")
    val tot = counts.agg(sum(col("_c")).as("_nn"))
    // count-of-counts: one row per distinct count value
    val byValue = counts.groupBy(col("_c"))
      .agg(count(lit(1)).as("_t_c"))
    val wB = Window.orderBy(col("_c").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val grouped = byValue
      .withColumn("_rank_before",
        coalesce(sum(col("_t_c")).over(wB), lit(0L)))
      .withColumn("_cum_before",
        coalesce(sum(col("_c") * col("_t_c")).over(wB), lit(0L)))
      .crossJoin(broadcast(tot))
    val nnD = col("_nn").cast("double")
    // exact share at in-group offset j (long arithmetic, then one cast:
    // bit-identical to the per-rank cum/total the ranked form computed)
    def shareAt(j: Column): Column =
      (col("_cum_before") + j * col("_c")).cast("double") / nnD
    val j0 = greatest(
      ceil((col("target") * nnD - col("_cum_before").cast("double")) /
        col("_c").cast("double")).cast("long"),
      lit(1L))
    val jFinal = when(
        j0 - 1L >= 1L && shareAt(j0 - 1L) >= col("target"), j0 - 1L)
      .when(shareAt(j0) >= col("target"), j0)
      .otherwise(j0 + 1L)
    grouped
      .select(col("_c"), col("_t_c"), col("_rank_before"),
        col("_cum_before"), col("_nn"),
        explode(array(targets.map(lit): _*)).as("target"))
      .withColumn("_j", jFinal)
      // target reached inside this group (exact-share re-check guards
      // the ceil locator's ±1 window)
      .filter(col("_j") <= col("_t_c") &&
        shareAt(col("_j")) >= col("target"))
      .select(col("target"),
        (col("_rank_before") + col("_j")).as("_k"),
        shareAt(col("_j")).as("_s"))
      .groupBy(col("target"))
      .agg(min(struct(col("_k").as("k"), col("_s").as("s"))).as("_m"))
      .select(col("target"), col("_m.k").as("k_terms"),
        round(col("_m.s"), 6).as("share_at_k"))
      .orderBy(col("target").asc)
  }

  /**
   * Template census — how much of the corpus is the SAME document
   * with the numbers swapped? Each text reduces to its skeleton
   * (lowercased, every digit run masked to `#`), skeletons hash, and
   * hashes held by ≥ 2 docs are templates — the generated-page /
   * receipt / log-line mass a C4-style cleanup removes BEFORE
   * near-dup LSH spends shingles on it (templated docs are exact
   * duplicates at the skeleton level, far cheaper to catch here).
   * Counts exact. Returns one row `(n_docs, n_skeletons,
   * n_templates, n_templated_docs, top_template_size)`.
   *
   * Shape: one narrow projection (mask + md5) → skeleton-keyed hash
   * aggregate → one bounded fold. No windows, no joins.
   */
  def templateCensus(docs: DataFrame, textCol: String): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .select(md5(regexp_replace(lower(col(textCol)), "[0-9]+", "#"))
        .as("_sk"))
      .groupBy(col("_sk")).agg(count(lit(1)).as("_c"))
      .agg(coalesce(sum(col("_c")), lit(0L)).as("n_docs"),
        count(lit(1)).as("n_skeletons"),
        coalesce(sum(when(col("_c") >= 2, 1L)), lit(0L))
          .as("n_templates"),
        coalesce(sum(when(col("_c") >= 2, col("_c"))), lit(0L))
          .as("n_templated_docs"),
        coalesce(max(when(col("_c") >= 2, col("_c"))), lit(0L))
          .as("top_template_size"))

  /**
   * PII census per source — the AUDIT face of [[Scrub]]'s masking
   * (scrub rewrites; this reports what WOULD be rewritten, the number
   * a release review wants BEFORE deciding to scrub): per source, the
   * docs containing email-shaped strings and long digit runs
   * (phone/account-number shaped), and the total match counts. The
   * patterns are [[Scrub.maskEmails]]' email shape and `[0-9]{7,}` —
   * both plain character-class regexes that Java and RE2 engines
   * read identically. Counts exact; source-frame output, one narrow
   * projection + one hash aggregate.
   */
  def piiCensus(
      docs: DataFrame, sourceCol: String, textCol: String): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val digits = "[0-9]{7,}"
    docs.filter(col(sourceCol).isNotNull && col(textCol).isNotNull)
      .select(col(sourceCol).as("source"),
        size(regexp_extract_all(col(textCol), lit(email), lit(0)))
          .cast("long").as("_ne"),
        size(regexp_extract_all(col(textCol), lit(digits), lit(0)))
          .cast("long").as("_nd"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum((col("_ne") > 0).cast("long")), lit(0L))
          .as("n_with_email"),
        coalesce(sum(col("_ne")), lit(0L)).as("n_email_matches"),
        coalesce(sum((col("_nd") > 0).cast("long")), lit(0L))
          .as("n_with_digit_run"),
        coalesce(sum(col("_nd")), lit(0L)).as("n_digit_matches"))
      .orderBy(col("source").asc)
  }

  /**
   * Chao1 vocabulary-richness estimate — "how many word types exist
   * that this corpus has NOT yet seen?": from the observed vocabulary
   * V and the hapax/doubleton counts f₁/f₂,
   *
   *   V̂ = V + f₁(f₁−1) / (2(f₂+1))
   *
   * (the bias-corrected Chao1, defined even at f₂ = 0). The
   * closed-form summary sitting above [[goodTuring]]'s per-rank
   * discounts and beside [[vocabGrowth]]'s Heaps curve: a V̂ far
   * above V says the crawl frontier still holds vocabulary — more
   * data genuinely diversifies; V̂ ≈ V says the corpus has saturated
   * its domain. Counts exact longs; the correction is one double
   * chain, 6-dp. Returns one row `(vocab, f1, f2, chao1)`.
   *
   * Shape: one token explode → token-keyed hash aggregate → one fold
   * of the count frame. Any cardinality, no windows.
   */
  def chao1(docs: DataFrame, textCol: String): DataFrame =
    chao1FromCounts(termCounts(docs, textCol))

  /** [[chao1]] evaluated over an already-built term-count frame
    * (`(_t, _c)` — [[termCounts]] or an index rollup). */
  def chao1FromCounts(counts: DataFrame): DataFrame = {
    val agg = counts.agg(count(lit(1)).as("vocab"),
      coalesce(sum(when(col("_c") === 1, 1L)), lit(0L)).as("f1"),
      coalesce(sum(when(col("_c") === 2, 1L)), lit(0L)).as("f2"))
    val f1D = col("f1").cast("double")
    agg.select(col("vocab"), col("f1"), col("f2"),
      round(col("vocab").cast("double") +
        f1D * (f1D - 1.0) /
          (lit(2.0) * (col("f2").cast("double") + 1.0)), 6).as("chao1"))
  }

  /** All order-`n` token windows joined by single spaces, repeats kept
    * — [[bigramsAll]] generalized (n = 1 is the token list itself).
    * DEV-ONLY semantics reference since r13: the production clip path
    * is the native [[graft.functions.ClippedOverlap]] (these HOF
    * chains are CodegenFallback — re-evaluated per USE and invisible
    * to codegen subexpression elimination; the q274 find). Kept, like
    * [[AnnIvf.nearestCellsUnrolled]], as the built-ins-only twin the
    * native expression's spec documents its key convention against. */
  private[ext] def ngramsAll(toks: Column, n: Int): Column =
    if (n == 1) toks
    // guard BEFORE sequence: sequence(0, -1) descends, it is not empty
    else when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(toks) - n),
        i => array_join(slice(toks, i + lit(1), lit(n)), " ")))

  /**
   * ROUGE-N between text pairs (Lin 2004) — the MULTISET overlap
   * grade for a candidate/reference pair, where [[graft.ext.SpanDedup
   * .containment]]'s set semantics under-read repeated phrases: with
   * clipped counts `clip = Σ_g min(cnt_ref(g), cnt_cand(g))` over
   * order-`n` grams,
   *
   *   recall = clip/|grams_ref| , precision = clip/|grams_cand| ,
   *   f1 = 2PR/(P+R)
   *
   * — the standard summarization/duplication grade, here the
   * near-dup-pair auditor: a pair the LSH family flags should score
   * high; a flagged pair scoring low is a false positive worth eyes.
   *
   * Counts are exact longs; the three ratios are one double chain
   * each, 6-dp. A side with no grams yields NULL ratios (its text is
   * shorter than n tokens); f1 is additionally NULL when P + R = 0.
   *
   * Shape at scale: both token lists sit in the SAME row of the pair
   * frame, so the clip is computed per-row by the native codegen'd
   * [[graft.functions.ClippedOverlap]] expression straight off the
   * token arrays — a two-hash-pass O(n·(|a|+|b|)) scan that never
   * materializes a gram array. NO gram HOF chain, NO explode, NO
   * shuffle, NO join: the only non-narrow steps are the caller's own
   * pair construction and the output sort. (The previous exploded
   * formulation built both gram arrays through interpreted
   * `transform`+`slice`+`array_join` chains, shuffled the whole gram
   * multiset on the pair key and joined it back — ~9 s at sf0.1 on
   * the q274 audit, the sweep's slowest entry, dominated by the HOF
   * chains.) The tokenized pair frame is lineage-cut: its token
   * arrays feed the two size projections and the clip — without the
   * cut, each use would re-run the caller's pair window and the
   * tokenizer (HOFs are CodegenFallback: evaluated once per USE,
   * invisible to codegen subexpression elimination). Output
   * pair-sized. Returns
   * `(a_id, b_id, n_a, n_b, clip, recall, precision, f1)` with `a`
   * the reference side.
   */
  def rougeN(
      pairs: DataFrame, aId: Column, bId: Column,
      aText: Column, bText: Column, n: Int = 2): DataFrame = {
    require(n >= 1 && n <= 5, s"gram order must be in [1, 5], got $n")
    val base = Materialize.cut(
      pairs.select(aId.as("a_id"), bId.as("b_id"),
        tokens(aText).as("_ta"), tokens(bText).as("_tb")))
    def grams(toks: Column): Column = // null tokens (null text) → null count
      when(toks.isNotNull,
        greatest(size(toks).cast("long") - (n - 1), lit(0L)))
    val scored = base
      .select(col("a_id"), col("b_id"),
        grams(col("_ta")).as("n_a"),
        grams(col("_tb")).as("n_b"),
        // coalesce restores the exploded formulation's convention on
        // NULL-text pairs: the join-based count was 0 when a side had no
        // grams INCLUDING null text, while the native expression is
        // null-intolerant (BinaryExpression) — without this, callers
        // passing nullable text would see clip flip 0 → NULL (the r13
        // advice; the ratio columns were never affected, their n_a/n_b
        // guards already gate NULL sides)
        coalesce(column(ClippedOverlap(
          expression(col("_ta")), expression(col("_tb")), n)), lit(0L)).as("clip"))
    val r = col("clip").cast("double") / col("n_a").cast("double")
    val p = col("clip").cast("double") / col("n_b").cast("double")
    scored
      .select(col("a_id"), col("b_id"), col("n_a"), col("n_b"),
        col("clip"),
        when(col("n_a") > 0 && col("n_b") > 0, round(r, 6)).as("recall"),
        when(col("n_a") > 0 && col("n_b") > 0, round(p, 6))
          .as("precision"),
        when(col("n_a") > 0 && col("n_b") > 0 && r + p > 0.0,
          round(lit(2.0) * p * r / (p + r), 6)).as("f1"))
      .orderBy(col("a_id").asc, col("b_id").asc)
  }
}
