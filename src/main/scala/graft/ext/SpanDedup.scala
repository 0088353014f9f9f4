package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.functions._

import graft.functions.SpanWindowKey

/**
 * Exact substring (duplicate-span) detection — the token-window form of
 * "Deduplicating Training Data Makes Language Models Better" (Lee et al.,
 * 2022): find token spans of length `spanLen` that recur across documents
 * and measure, per document, how much of it is covered by such spans.
 * Complements [[Dedup]]'s whole-document similarity family: MinHash/SimHash
 * find documents that are MOSTLY the same; span detection finds boilerplate
 * (licenses, headers, templated paragraphs) embedded in otherwise-unique
 * documents — the duplication mode document-level Jaccard is blind to.
 *
 * Relational shape (no suffix arrays — those are a single-node design;
 * this is the shuffle-bounded equivalent):
 *
 *   1. window pass: one narrow Generate per document emits every
 *      `spanLen`-token window as a row `(doc, pos, wkey)` where `wkey` is
 *      the md5 of the space-rejoined window — 128-bit content addressing,
 *      so the shuffle carries a fixed-width key instead of the window text
 *      (collision odds at 2^64 windows ≈ 10^-20; the tradeoff
 *      [[Multimodal.contentHash]] already documents).
 *   2. span census: windows seen in ≥ `minDocs` DISTINCT documents — a
 *      hash aggregate on `wkey`. Never all-pairs: a span shared by m
 *      documents costs m census rows, not m² pair rows.
 *   3. coverage: duplicated windows join back on `wkey` (the census side
 *      arrives partitioned on exactly that key from step 2 — one shuffle
 *      for the window side, none for the census), then per-document
 *      interval union via DISTINCT covered positions — the explode is
 *      `spanLen`× only on DUPLICATED windows, so clean corpora pay ~zero.
 *
 * At 100 TB every stage is a bounded hash shuffle on a fixed-width key;
 * the window fan-out (one row per token position) is the inherent cost of
 * substring-granular dedup and stays linear in corpus tokens.
 */
object SpanDedup {

  /** All `spanLen`-token windows of `textCol`: `(idCol, pos, wkey)` with
    * 1-based `pos` and `wkey` = RAW 16-byte md5 of the space-rejoined
    * window (`graft_window_key` — byte-equal to
    * `unhex(md5(concat_ws(" ", slice(_toks, pos, spanLen))))`, the
    * spec-pinned twin; `unhex` is a bijection on md5 hex, so groups and
    * joins partition identically to the historical hex key while the
    * census shuffle carries HALF the key bytes and skips the per-window
    * slice/concat/hex allocations). `wkey` never reaches a query output.
    * Documents shorter than `spanLen` tokens emit no rows. */
  def tokenWindows(
      docs: DataFrame, idCol: String, textCol: String, spanLen: Int): DataFrame = {
    require(spanLen > 0, s"spanLen must be positive, got $spanLen")
    // fan the narrow (id, text) projection before the tokenize + window
    // explode: fused into a 1-row-group scan, the whole window pass runs
    // on 1-2 tasks (Materialize.fan doc; no-op at corpus scale)
    Materialize.fan(docs.select(col(idCol), col(textCol)))
      .select(col(idCol), TextOps.tokens(col(textCol)).as("_toks"))
      .withColumn("_n", size(col("_toks")).cast("long"))
      .filter(col("_n") >= spanLen)
      .select(col(idCol), col("_toks"),
        explode(sequence(lit(1L), col("_n") - (spanLen - 1).toLong)).as("pos"))
      .select(col(idCol), col("pos"),
        column(SpanWindowKey(expression(col("_toks")), expression(col("pos")),
          spanLen)).as("wkey"))
  }

  /** Built-in-only formulation of the window key — the engine-agnostic
    * semantics reference [[graft.functions.SpanWindowKeySpec]] pins the
    * native expression against (the graft_shingles twin discipline). */
  private[graft] def windowKeyHof(toks: Column, pos: Column, spanLen: Int): Column =
    unhex(md5(concat_ws(" ", slice(toks, pos.cast("int"), lit(spanLen)))))

  /** Window keys occurring in at least `minDocs` distinct documents, with
    * their document frequency: `(wkey, span_docs)`. */
  def duplicatedSpans(windows: DataFrame, idCol: String, minDocs: Int): DataFrame =
    windows
      .groupBy(col("wkey"))
      .agg(countDistinct(col(idCol)).as("span_docs"))
      .filter(col("span_docs") >= minDocs)

  /** The `(idCol, pos)` rows of every duplicated window — census joined
    * back to the window stream, LINEAGE-CUT before return (the repo's
    * cut-before-fan-out rule: [[dupSpanStats]] forks this frame into a
    * count and a coverage branch, and without the cut each branch would
    * re-run the whole census aggregate; the cut is cheap because only
    * DUPLICATED windows survive the join). */
  private def dupWindows(
      docs: DataFrame, idCol: String, textCol: String,
      spanLen: Int, minDocs: Int): DataFrame = {
    val wins = tokenWindows(docs, idCol, textCol, spanLen)
    Materialize.cut(
      wins.join(duplicatedSpans(wins, idCol, minDocs).select("wkey"), "wkey")
        .select(col(idCol), col("pos")))
  }

  /** Interval union of a [[dupWindows]] frame as DISTINCT covered
    * positions — the one implementation both the counter and the cutter
    * consume. */
  private def coveredOf(dupWins: DataFrame, idCol: String, spanLen: Int): DataFrame =
    dupWins
      .select(col(idCol),
        explode(sequence(col("pos"), col("pos") + (spanLen - 1).toLong)).as("p"))
      .distinct()

  /**
   * The CUT step of exact substring dedup (Lee et al. remove the
   * duplicated substrings themselves, not whole documents): rebuild each
   * document's text from the tokens NOT covered by any cross-document
   * duplicated span — every occurrence goes, boilerplate does not get a
   * "first copy" pass. Returns `(idCol, clean_text, n_kept)` for every
   * document with at least one token; a fully-boilerplate document comes
   * back as the empty string with `n_kept` 0 — deletion is a result.
   *
   * Scale: the per-document rebuild is a hash aggregate whose groups are
   * single documents (collect + sort is bounded by document length, the
   * same envelope as [[TextOps.chunkTokens]]'s slices); covered positions
   * arrive from the census join, so clean corpora pay one narrow
   * anti-join and re-concatenation.
   */
  def removeDupSpans(
      docs: DataFrame, idCol: String, textCol: String,
      spanLen: Int, minDocs: Int = 2): DataFrame = {
    val covered = coveredOf(
      dupWindows(docs, idCol, textCol, spanLen, minDocs), idCol, spanLen)
    val toks = Materialize.fan(docs.select(col(idCol), col(textCol)))
      .select(col(idCol), posexplode(TextOps.tokens(col(textCol))).as(Seq("p0", "w")))
      .select(col(idCol), (col("p0") + 1).cast("long").as("p"), col("w"))
    // field extraction via GetArrayStructFields (codegen), not a
    // `transform` lambda: HOFs evaluate through CodegenFallback and drag
    // the per-element rebuild into interpreted mode (the graft_shingles
    // lesson, applied with a built-in)
    val kept = toks.join(covered, Seq(idCol, "p"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        concat_ws(" ",
          array_sort(collect_list(struct(col("p"), col("w"))))
            .getField("w")).as("clean_text"),
        count(lit(1)).as("n_kept"))
    Materialize.fan(docs.select(col(idCol), col(textCol)))
      .select(col(idCol), size(TextOps.tokens(col(textCol))).as("_n"))
      .filter(col("_n") > 0)
      .join(kept, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /**
   * Per-document duplicated-span statistics: for each document with at
   * least one token, the token count, the number of its windows that
   * recur in ≥ `minDocs` distinct documents, the number of token
   * positions covered by at least one such window (overlapping spans
   * union, not sum), and the covered fraction. Documents with zero
   * duplicated windows (including those shorter than `spanLen`) report
   * zeros — absence of duplication is a result, not a missing row.
   */
  def dupSpanStats(
      docs: DataFrame, idCol: String, textCol: String,
      spanLen: Int, minDocs: Int = 2): DataFrame = {
    // ONE census execution behind the cut, forked into both branches
    val dupWins = dupWindows(docs, idCol, textCol, spanLen, minDocs)

    val winCnt = dupWins.groupBy(col(idCol))
      .agg(count(lit(1)).as("dup_windows"))

    // interval union = the same coveredOf rows [[removeDupSpans]]
    // subtracts — count and cut can never disagree
    val covered = coveredOf(dupWins, idCol, spanLen)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("covered_tokens"))

    Materialize.fan(docs.select(col(idCol), col(textCol)))
      .select(col(idCol),
        size(TextOps.tokens(col(textCol))).cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .join(winCnt, Seq(idCol), "left")
      .join(covered, Seq(idCol), "left")
      .select(
        col(idCol),
        col("n_tokens"),
        coalesce(col("dup_windows"), lit(0L)).as("dup_windows"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"))
      .withColumn("dup_frac",
        round(col("covered_tokens").cast("double") / col("n_tokens"), 6))
  }

  /**
   * n-gram novelty of a candidate slice against a training corpus — the
   * memorization/contamination screen at SUBSTRING granularity (the
   * doc-level cousin is [[Contamination]]): per candidate document, the
   * fraction of its `spanLen`-token windows that appear NOWHERE in the
   * training side. An eval set whose novelty collapses is leaking
   * training text; a generation sample whose novelty collapses is
   * memorizing. Candidates shorter than `spanLen` tokens emit no row
   * (no windows ⇒ novelty undefined, not 1.0).
   *
   * Scale shape: train windows collapse to a DISTINCT-key census
   * (hash shuffle on the fixed-width `wkey`), the candidate side joins
   * on that key — both linear in corpus tokens, never all-pairs; the
   * train census can be persisted and appended exactly like the q79
   * span census. Returns `(idCol, n_windows, seen_windows, novelty)`,
   * novelty 6-dp.
   */
  def spanNovelty(
      candidates: DataFrame, train: DataFrame, idCol: String,
      textCol: String, spanLen: Int): DataFrame = {
    val candW = tokenWindows(candidates, idCol, textCol, spanLen)
    val trainW = tokenWindows(train, idCol, textCol, spanLen)
      .select(col("wkey")).distinct()
      .withColumn("_hit", lit(1L))
    candW.join(trainW, Seq("wkey"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_windows"),
        coalesce(sum(col("_hit")), lit(0L)).as("seen_windows"))
      .select(col(idCol), col("n_windows"), col("seen_windows"),
        round(lit(1.0) - col("seen_windows").cast("double")
          / col("n_windows").cast("double"), 6).as("novelty"))
  }
}
