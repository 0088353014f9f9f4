package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.clf.ClfParser
import graft.sinks.JdbcSink
import graft.stage.Staging
import graft.streaming.StreamHarness
import graft.analytics.{Changepoint, LogAnalytics, Robust, Rollup, StatsTests, Survival, TimeSeries, Trend}
import graft.ext.{AnnIvf, AnnLsh, AnnPq, AsofJoin, Audit, BmpDecoder, Boilerplate, Conformal, Contamination, CorpusCompare, DataPrep, Dedup, Eval, FeatureScreen, FuzzyJoin, GraphOps, LmScore, Materialize, Mining, Multimodal, Pca, NetpbmDecoder, Packing, Privacy, Probe, Quantize, RangeJoin, RecordLinkage, Sampling, BloomIndex, Scrub, Selection, SemDedup, Similarity, SkewJoin, Sketches, SpanDedup, TextOps, TextSearch, VectorOps, WavDecoder}

/**
 * Driver contract (SURVEY.md §7.2): one declared query per implemented
 * operator, each with DuckDB-equivalent oracle SQL where SQL-expressible.
 *
 * Determinism rules (SURVEY.md §5.2): every query ends with an explicit
 * orderBy; aggregates are integer-exact or string-exact (no raw double
 * sums); timestamps are emitted as formatted strings; column names are
 * identical between the Spark result and the oracle SQL.
 */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** q361/q362's shared audit projection: screen `batch` against the
    * standing Bloom `bloom` (built over history text keys, words=4096,
    * k=3) and pair each verdict with the authoritative exact answer —
    * `(doc_id, maybe_dup, true_dup)`. The exact side is a null-safe
    * semi-join flag, so a NULL batch text matches a NULL history text
    * exactly like the screen's sentinel does. */
  private def bloomAudit(
      batch: DataFrame, hist: DataFrame, bloom: DataFrame): DataFrame = {
    val scr = BloomIndex.bloomScreen(batch, "doc_id", col("text"),
      bloom, words = 4096, k = 3, salt = "bloom-r16")
    val truth = batch.select(col("doc_id"), col("text"))
      .join(hist.select(col("text").as("__ht")).distinct()
          .withColumn("__seen", lit(true)),
        col("text") <=> col("__ht"), "left")
      .select(col("doc_id"),
        coalesce(col("__seen"), lit(false)).as("true_dup"))
    scr.join(truth, Seq("doc_id")).orderBy(col("doc_id").asc)
  }

  /** Scratch path for queries that persist an intermediate (staged
    * layouts, round-tripped indexes): keyed by the data dir AND the JVM
    * pid, so concurrent harness runs over the same dir never race on one
    * parquet path, and a path can never serve STALE state across harness
    * runs (the driver regenerates testdata between rounds; a dir-keyed
    * path would survive it). Within one JVM the pid is constant, so the
    * exists-check caching the staged queries rely on still holds; across
    * JVMs, every issued path is deleted by a shutdown hook — pid-keying
    * must not turn repeated runs into unbounded /tmp growth (the
    * accumulation ADVICE r1 fixed, re-fixed for the pid scheme). */
  private val scratchIssued =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private lazy val scratchCleanupHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      scratchIssued.forEach { p =>
        try {
          val root = java.nio.file.Paths.get(p)
          if (java.nio.file.Files.exists(root)) {
            val walk = java.nio.file.Files.walk(root)
            try walk.sorted(java.util.Comparator.reverseOrder())
              .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
            finally walk.close()
          }
        } catch { case _: Throwable => () } // best-effort: never block exit
      }))
  private def scratch(tag: String, d: String): String = {
    scratchCleanupHook
    val p = s"${sys.props("java.io.tmpdir")}/graft_${tag}_p${ProcessHandle.current().pid()}_${d.hashCode.toHexString}"
    scratchIssued.add(p)
    p
  }

  /** q345/q349's shared Gopher/C4-style rule chain (ordered): word-count
    * floor, type-token-ratio floor, top-token-dominance cap, stopword
    * presence — all per-row expressions over the token array. */
  private def funnelRules: Seq[(String, Column)] = {
    val tk = graft.ext.TextOps.tokens(col("text"))
    val wc = size(tk)
    Seq(
      "min_words_20" -> (wc >= 20),
      "ttr_0.35" ->
        (size(array_distinct(tk)).cast("double") / wc >= 0.35),
      // native O(n) hash pass (graft_top_token) — the HOF form re-ran an
      // interpreted filter over the whole token array once per DISTINCT
      // token (O(n²)/row); TopTokenCountSpec pins rule-level equality
      "top_token_0.12" ->
        (graft.ext.TextOps.topTokenCount(tk).cast("double") / wc
          <= 0.12),
      "has_stopword" ->
        (array_contains(tk, "the") || array_contains(tk, "a")))
  }

  /** q339/q340's shared input: multi-paragraph documents synthesized
    * from groups of 4 consecutive docs — a shared license header, the
    * texts in doc_id order, and a trailing repeat of the group's first
    * text (so both cross-doc and within-doc paragraph repeats exist),
    * mirroring the paragraph oracle's CTE byte-for-byte. */
  private def paraDocs(s: SparkSession, d: String): DataFrame = {
    val lic = "licensed under the apache license version 2.0"
    t(s, d, "documents").filter(col("text").isNotNull)
      .groupBy(floor(col("doc_id") / 4).cast("long").as("pid"))
      .agg(array_sort(collect_list(struct(col("doc_id"), col("text"))))
        .as("xs"))
      .select(col("pid"),
        array_join(concat(
          array(lit(lic)),
          transform(col("xs"), x => x.getField("text")),
          array(element_at(col("xs"), 1).getField("text"))), "\n\n")
          .as("text"))
  }

  /** q123/q124's shared input: documents with a synthetic per-source
    * footer (cut — df ≥ minDocs in every source) and an under-threshold
    * promo line (kept) appended, mirroring the boilerplate oracle's
    * preamble byte-for-byte. */
  private def templatedDocs(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .filter(col("text").isNotNull && col("source").isNotNull)
      .select(col("doc_id"), col("source"),
        concat_ws("\n", col("text"),
          concat(lit("(c) footer of "), col("source")),
          concat(lit("promo "),
            pmod(col("doc_id"), lit(250L)).cast("string"))).as("text"))

  /** q119/q122's shared input: the labeled, embedded eval sample (the
    * q108 vec_id cap — the eval contract's fixed-size sample). */
  private def labeledSample(s: SparkSession, d: String): DataFrame =
    t(s, d, "embeddings").filter(col("vec_id") < 1000 &&
      col("embedding").isNotNull && col("label").isNotNull)

  /** The q133/q144 ranked-retrieval preamble: the labeled sample's exact
    * top-10 per vec_id<100 query (rounded sims, the q108 convention),
    * graded by label match — returns (base, ranked) so metric queries
    * can also derive per-query relevant totals from the SAME base. */
  private def labelMatchRanked(
      s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val base = t(s, d, "embeddings")
      .filter(col("embedding").isNotNull && col("label").isNotNull)
    val q = broadcast(base.filter(col("vec_id") < 100).select(
      col("vec_id").as("q_id"), col("embedding").as("q_emb"),
      Similarity.norm(col("embedding")).as("q_n"),
      col("label").as("q_label")))
    val c = base.select(
      col("vec_id").as("nn_id"), col("embedding").as("nn_emb"),
      Similarity.norm(col("embedding")).as("nn_n"),
      col("label").as("nn_label"))
    val byRank = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("nn_id").asc)
    val ranked = c.join(q).filter(col("nn_id") =!= col("q_id"))
      .withColumn("sim", round(
        Similarity.nativeDot(col("q_emb"), col("nn_emb"))
          / nullif(col("q_n") * col("nn_n"), lit(0.0)), 6))
      .withColumn("rank", row_number().over(byRank).cast("long"))
      .filter(col("rank") <= 10)
      .select(col("q_id"), col("rank"),
        (col("q_label") === col("nn_label")).cast("double").as("rel"))
    (base, ranked)
  }

  /** The q128/q140 hybrid-retrieval preamble: the fixed "dup key window"
    * BM25 top-20 and the exact dense top-20 for the vec_id-0 query
    * vector (the q19 convention — unrounded bit-identical folds, id
    * tiebreak), both carrying a `rank` column. One implementation so
    * fusion (q128) and ranking-agreement (q140) compare the SAME lists. */
  private def hybridRankers(
      s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val emb = t(s, d, "embeddings")
    val qv = emb.filter(col("vec_id") === 0L)
      .select(col("embedding")).head().getSeq[Float](0)
    val qNorm = math.sqrt(qv.foldLeft(0.0)((a, x) => a + x.toDouble * x))
    // limit-FIRST so the top-20 plans as TakeOrderedAndProject (per-
    // partition top-k + driver merge); the ranking window then runs over
    // a 20-row frame, never the full corpus (the q64 shape).
    val dense = emb
      .select(col("vec_id").as("doc_id"),
        (Similarity.nativeDot(col("embedding"), typedLit(qv)) /
          nullif(Similarity.norm(col("embedding")) * lit(qNorm),
            lit(0.0))).as("sim"))
      .orderBy(col("sim").desc_nulls_last, col("doc_id").asc).limit(20)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("sim").desc_nulls_last, col("doc_id").asc))
        .cast("long"))
    val lexical = TextSearch.bm25TopK(t(s, d, "documents"),
      "doc_id", "text", query = "dup key window", k = 20)
    (lexical, dense)
  }

  // ---- deterministic CLF-line synthesis from `events` ----
  // `events` stands in for the cleansed log table (SURVEY.md §7.2); parse
  // queries synthesize a CLF line from its columns so DuckDB can recompute
  // the expected output directly from the same columns.
  private def synthStatus: Column =
    when(col("event_type") === "purchase", 200L)
      .when(col("event_type") === "error", 500L)
      .otherwise(302L)

  private def synthMethod: Column =
    when(col("event_type") === "purchase", "POST")
      .when(col("event_type") === "signup", "PUT")
      .when(col("event_type") === "view", "HEAD")
      .otherwise("GET")

  private def synthLine: Column = ClfParser.format(
    ip       = concat(lit("10."), (col("user_id") % 256).cast("string"), lit(".0.1")),
    userId   = col("user_id"),
    ts       = col("ts"),
    method   = synthMethod,
    resource = concat(lit("/r/"), col("event_type")),
    protocol = lit("HTTP/1.1"),
    status   = synthStatus,
    size     = col("event_id"),
    referer  = concat(lit("https://example.com/"), col("event_type")),
    agent    = lit("graft/1.0")
  )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q02_requests_per_user")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map[String, (SparkSession, String) => DataFrame](

    // X+ — DSIR data selection (Xie et al. 2023): the fitted model
    // itself — the 40 most target-indicative buckets of the top-256
    // raw-vocabulary + OOV space, target = the English slice. The
    // whole frame is metadata-sized (V+1 rows); exact-decimal ratios.
    "q335_dsir_ratios" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Selection.ngramLogRatios(docs,
          docs.filter(col("lang") === "en"), "text", vocabK = 256)
        .orderBy(col("log_ratio").desc, col("bucket").asc)
        .limit(40)
        .select(col("bucket"), col("raw_cnt"), col("target_cnt"),
          round(col("log_ratio").cast("double"), 6).as("log_ratio"))
    }),

    // X+ — DSIR importance weights, audited by language: English (the
    // target slice) must dominate — the sanity curve of the selection.
    // Weights are exact decimal sums; one corpus shuffle.
    "q336_dsir_weights" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val ratios = Selection.ngramLogRatios(docs,
        docs.filter(col("lang") === "en"), "text", vocabK = 256)
      Selection.importanceWeights(docs, "doc_id", "text", ratios)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          round(sum(col("weight")).cast("double") / count(lit(1)), 6)
            .as("avg_weight"))
        .orderBy(col("lang").asc_nulls_last)
    }),

    // X+ — the DSIR selection step: top-200 pool documents by exact
    // log importance weight (weight DESC, doc_id ASC — deterministic),
    // TakeOrdered-bounded; the rank window runs over 200 rows.
    "q337_dsir_select" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val ratios = Selection.ngramLogRatios(docs,
        docs.filter(col("lang") === "en"), "text", vocabK = 256)
      Selection.select(
          Selection.importanceWeights(docs, "doc_id", "text", ratios),
          "doc_id", k = 200)
        .select(col("doc_id"), col("n_tokens"),
          round(col("weight").cast("double"), 6).as("weight"), col("rank"))
        .orderBy(col("rank").asc)
    }),

    // X+ — DSIR as a STANDING index (the q75/q124 pattern): the fitted
    // ratio table persists to parquet once, then scores any new batch
    // (here doc_id ≡ 0 mod 7) with zero passes over the pool. Oracle
    // recomputes from scratch: persisted ≡ from-scratch is the
    // maintained invariant.
    "q338_dsir_indexed" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val tmp = scratch("q338", d)
      Selection.ngramLogRatios(docs,
          docs.filter(col("lang") === "en"), "text", vocabK = 256)
        .write.mode("overwrite").parquet(tmp)
      val ratios = s.read.parquet(tmp)
      val batch = docs.filter(col("doc_id") % 7 === 0)
      Selection.select(
          Selection.importanceWeights(batch, "doc_id", "text", ratios),
          "doc_id", k = 100)
        .select(col("doc_id"), col("n_tokens"),
          round(col("weight").cast("double"), 6).as("weight"), col("rank"))
        .orderBy(col("rank").asc)
    }),

    // X1+ — CCNet paragraph-level exact dedup (Wenzek et al. 2020):
    // multi-paragraph documents synthesized from consecutive docs with
    // a shared license header and a trailing within-doc repeat, then
    // every paragraph's globally-first occurrence kept — the license
    // survives only in pid 0, the trailing repeat in no document.
    // Certified by the rebuilt text's md5 (the q113 manifest idiom).
    "q339_paragraph_dedup" -> ((s, d) =>
      Dedup.dedupParagraphs(paraDocs(s, d), "pid", "text", "\n\n")
        .select(col("pid"), col("n_paras"), col("n_kept"),
          md5(col("text").cast("binary")).as("clean_md5"))
        .orderBy(col("pid").asc)),

    // X1+ — paragraph dedup against a STANDING index (the CCNet
    // production shape: every new crawl screens against all prior
    // shards' paragraph hashes). History = the first ~60% of pids,
    // persisted as (h, first_id, first_pos) parquet; the batch joins
    // it on the 16-byte hash only — history text is never re-read.
    // Oracle replays the full-corpus dedup restricted to batch pids
    // (the id contract: history pids all precede batch pids).
    "q340_paragraph_indexed" -> ((s, d) => {
      val grouped = paraDocs(s, d)
      val cut = broadcast(grouped.agg(
        floor(max(col("pid")) * 6 / 10).cast("long").as("__cut")))
      val tmp = scratch("q340", d)
      Dedup.buildParagraphIndex(
          grouped.crossJoin(cut).filter(col("pid") < col("__cut"))
            .select(col("pid"), col("text")),
          "pid", "text")
        .write.mode("overwrite").parquet(tmp)
      Dedup.dedupParagraphsIndexed(
          grouped.crossJoin(cut).filter(col("pid") >= col("__cut"))
            .select(col("pid"), col("text")),
          s.read.parquet(tmp), "pid", "text")
        .select(col("pid"), col("n_paras"), col("n_kept"),
          md5(col("text").cast("binary")).as("clean_md5"))
        .orderBy(col("pid").asc)
    }),

    // X2+ — the DSIR merge law as a declared query: the ratio table
    // refit from MERGED per-shard term frequencies (raw and target
    // both split on doc_id parity) is byte-identical to q335's
    // from-scratch fit — the standing-tf maintenance path certified
    // against the same oracle.
    "q341_dsir_merge" -> ((s, d) => {
      val docs = t(s, d, "documents")
      def tf(df: DataFrame) = TextOps.termFrequencies(df, "text")
      val rawTf = TextOps.mergeTermFrequencies(
        tf(docs.filter(col("doc_id") % 2 === 0)),
        tf(docs.filter(col("doc_id") % 2 === 1)))
      val tgt = docs.filter(col("lang") === "en")
      val tgtTf = TextOps.mergeTermFrequencies(
        tf(tgt.filter(col("doc_id") % 2 === 0)),
        tf(tgt.filter(col("doc_id") % 2 === 1)))
      Selection.ngramLogRatiosFromTf(rawTf, tgtTf, vocabK = 256)
        .orderBy(col("log_ratio").desc, col("bucket").asc)
        .limit(40)
        .select(col("bucket"), col("raw_cnt"), col("target_cnt"),
          round(col("log_ratio").cast("double"), 6).as("log_ratio"))
    }),

    // X4 — REAL video-style frame sampling end-to-end: per-doc
    // concatenated-Netpbm containers (2–4 complete P5 frames laid end to
    // end, per-frame dims and pixels from integer formulas), walked and
    // every-2nd-frame-decoded by the actual multi-frame parser
    // (MediaCodec.parseNetpbmFrames — skipped frames are header-hopped,
    // never pixel-read); moments come out exact, so the oracle recomputes
    // them from the formula WITHOUT parsing (the q120/q121 principle
    // extended to the time axis).
    "q342_frame_sample" -> ((s, d) => {
      def frame(i: Column): Column = {
        val w = lit(3L) + pmod(col("doc_id") + i, lit(4L))
        val h = lit(2L) + pmod(col("doc_id") + i * 2, lit(3L))
        val rasterHex = array_join(
          transform(sequence(lit(0L), w * h - 1), j =>
            lpad(hex(pmod(col("doc_id") * 17 + i * 11 + j * 5, lit(256))),
              2, "0")), "")
        concat(
          concat(lit("P5\n"), w.cast("string"), lit(" "),
            h.cast("string"), lit("\n255\n")).cast("binary"),
          unhex(rasterHex))
      }
      val assets = t(s, d, "documents")
        .select(col("doc_id"),
          aggregate(
            sequence(lit(0L), lit(1L) + pmod(col("doc_id"), lit(3L))),
            lit("").cast("binary"),
            (acc, fi) => concat(acc, frame(fi))).as("payload"))
      Multimodal.sampleNetpbmFrames(assets, "payload", every = 2)
        .select(col("doc_id"), col("frame_idx"),
          col("frame_width").as("width"), col("frame_height").as("height"),
          round(col("frame_sum").cast("double")
            / (col("frame_width") * col("frame_height")), 6).as("mean_px"),
          round(col("frame_sq_sum").cast("double")
            / (col("frame_width") * col("frame_height")), 6).as("ms_px"))
        .orderBy(col("doc_id").asc, col("frame_idx").asc)
    }),

    // X1+ — SOFT dedup (SoftDeDup, He et al. 2024): duplicated content
    // is down-WEIGHTED (1/cluster_size sampling weight), never dropped —
    // the gradient-preserving alternative to q14's hard drop. Cluster
    // key here = the 5-token prefix fingerprint (the corpus's real
    // cluster structure at this SF; md5-exact and Dedup.components keys
    // plug into the same seam). One window shuffle, rows preserved.
    "q343_soft_dedup" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val key = array_join(
        slice(graft.ext.TextOps.tokens(col("text")), 1, 5), " ")
      Selection.softDedupWeights(
          docs.withColumn("__pfp", key), "doc_id", "__pfp")
        .select(col("doc_id"), col("cluster_size"),
          round(col("weight").cast("double"), 6).as("weight"))
        .orderBy(col("doc_id").asc)
    }),

    // X2+ — CCNet perplexity buckets (Wenzek et al. 2020 §4.4): within
    // each language, head/middle/tail terciles by reference-LM score
    // (head = most reference-like third — the slice CCNet ships).
    // Scores are q80's own 6-dp nll; NTILE over (nll, doc_id) is
    // engine-invariant because q80's hash-match certifies the scores
    // equal. One window shuffle on the language key.
    "q344_ccnet_buckets" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val lm = LmScore.train(docs.filter(col("source") === "src0"), "text")
      val scored = LmScore.score(docs, "doc_id", "text", lm)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      Selection.perplexityBuckets(scored, "doc_id", "lang", "nll")
        .select(col("doc_id"), col("lang"), col("nll"), col("ppl_bucket"))
        .orderBy(col("doc_id").asc)
    }),

    // X2+ — filter-funnel census over a Gopher/C4-style rule chain:
    // first-fail attribution (marginal removals, not double-booked
    // per-rule counts) + survivors after each stage. ONE corpus pass
    // (all rules are per-row expressions in one projection) into a
    // rules-sized census; the cumulative window never sees the corpus.
    "q345_filter_funnel" -> ((s, d) =>
      DataPrep.filterFunnel(t(s, d, "documents"), funnelRules)
        .orderBy(col("rule_idx").asc)),

    // X2+ — the funnel MERGE LAW as a declared query: per-shard censuses
    // (doc_id parity halves) fold additively to the whole-corpus funnel
    // — the standing-report shape for a sharded corpus, certified
    // against q345's own oracle.
    "q349_funnel_merge" -> ((s, d) => {
      val docs = t(s, d, "documents")
      DataPrep.mergeFunnels(
          DataPrep.filterFunnel(
            docs.filter(pmod(col("doc_id"), lit(2L)) === 0), funnelRules)
          .unionByName(DataPrep.filterFunnel(
            docs.filter(pmod(col("doc_id"), lit(2L)) === 1), funnelRules)))
        .orderBy(col("rule_idx").asc)
    }),

    // X1+ — soft dedup against a STANDING count index (the q75/q340
    // pattern): history's (key, cluster_size) table persists once; a
    // new batch's weights come from the merged counts — history text is
    // never re-read, and the result equals the full-corpus weights
    // restricted to batch ids (the oracle replays exactly that).
    "q350_soft_dedup_indexed" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val keyed = docs.withColumn("__pfp", array_join(
        slice(graft.ext.TextOps.tokens(col("text")), 1, 5), " "))
      val cut = broadcast(docs.agg(
        floor(max(col("doc_id")) * 6 / 10).cast("long").as("__cut")))
      val tmp = scratch("q350", d)
      Selection.buildSoftDedupIndex(
          keyed.crossJoin(cut).filter(col("doc_id") < col("__cut")),
          "__pfp")
        .write.mode("overwrite").parquet(tmp)
      Selection.softDedupWeightsIndexed(
          keyed.crossJoin(cut).filter(col("doc_id") >= col("__cut")),
          s.read.parquet(tmp), "doc_id", "__pfp")
        .select(col("doc_id"), col("cluster_size"),
          round(col("weight").cast("double"), 6).as("weight"))
        .orderBy(col("doc_id").asc)
    }),

    // X2+ — CCNet buckets against STANDING thresholds: the history
    // corpus's per-language tercile cut scores persist (fit once per
    // snapshot, like CCNet's released per-language models), then the
    // batch buckets by score compare alone — zero passes over history.
    // The LM itself is history-trained (the index must not see the
    // batch). Ties with a cut land in the lower bucket by contract.
    "q351_ccnet_indexed" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val cut = broadcast(docs.agg(
        floor(max(col("doc_id")) * 6 / 10).cast("long").as("__cut")))
      val hist = docs.crossJoin(cut).filter(col("doc_id") < col("__cut"))
      val lm = LmScore.train(hist.filter(col("source") === "src0"), "text")
      def scoredOf(df: DataFrame) =
        LmScore.score(df, "doc_id", "text", lm)
          .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      val tmp = scratch("q351", d)
      Selection.buildBucketThresholds(
          scoredOf(hist), "doc_id", "lang", "nll")
        .write.mode("overwrite").parquet(tmp)
      val batch = docs.crossJoin(cut).filter(col("doc_id") >= col("__cut"))
      Selection.bucketsIndexed(
          scoredOf(batch).select(col("doc_id"), col("lang"), col("nll")),
          s.read.parquet(tmp), "lang", "nll")
        .orderBy(col("doc_id").asc)
    }),

    // X2+ — DoReMi-style domain reweighting (Xie et al. 2023), one
    // linearized multiplicative-weights step: per-source mean reference-
    // LM loss (exact decimal sum / one division), excess vs the domain
    // mean, weight ∝ max(0, 1 + η·excess) renormalized — the data-MIXING
    // member of the selection family (DSIR picks documents, this sets
    // source rates). All frames past the q80-style scoring shuffle are
    // domain-sized metadata.
    "q346_domain_reweight" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val lm = LmScore.train(docs.filter(col("source") === "src0"), "text")
      val losses = LmScore.score(docs, "doc_id", "text", lm)
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy(col("source"))
        .agg(round(
          sum(col("nll").cast(org.apache.spark.sql.types.DecimalType(38, 12)))
            .cast("double") / count(lit(1)), 6).as("loss"))
      Selection.domainReweight(losses, "source", "loss", eta = 0.5)
        .select(col("source"), col("loss"),
          round(col("excess").cast("double"), 6).as("excess"), col("weight"))
        .orderBy(col("source").asc_nulls_last)
    }),

    // X3+ — Matryoshka truncation eval (Kusupati et al. 2022): exact
    // recall@10 of prefix-truncated cosine retrieval vs the full 64
    // dims, for prefixes 8/16/32/64 — the number that decides whether
    // the ANN index runs at m/64 of the memory. Queries broadcast, the
    // corpus is touched once, all prefixes share the projection.
    "q352_matryoshka_eval" -> ((s, d) =>
      VectorOps.matryoshkaEval(t(s, d, "embeddings"), "vec_id",
          "embedding", prefixes = Seq(8, 16, 32, 64), k = 10,
          col("vec_id") < 50)
        .orderBy(col("dims").asc)),

    // X+/S — ε-DP Laplace count release (Dwork et al. 2006) over the
    // lang×source census: exact counts + seeded Laplace(1/ε) noise,
    // released as clamped integers — the mechanism the reference's own
    // published per-group tables lack. One hash agg + a per-group
    // projection; the exact count never leaves.
    "q347_dp_counts" -> ((s, d) =>
      Privacy.dpCounts(t(s, d, "documents"), Seq("lang", "source"),
          epsilon = 0.5, secretSalt = "dp-r14")
        .orderBy(col("lang").asc_nulls_last, col("source").asc_nulls_last)),

    // X+/S — the DP release as a STANDING CENSUS: per-batch class
    // partials (doc_id parity halves) fold additively, then ONE noisy
    // projection releases with zero passes over any batch's rows —
    // noise seeds on the group key, so merged ≡ whole-data (q347's
    // oracle verbatim).
    "q355_dp_merge" -> ((s, d) => {
      val docs = t(s, d, "documents")
      def cls(df: DataFrame) = Privacy.equivalenceClasses(
        df, Seq(col("lang"), col("source")))
      Privacy.dpCountsFromClasses(
          Privacy.mergeClasses(
            cls(docs.filter(pmod(col("doc_id"), lit(2L)) === 0))
              .unionByName(
                cls(docs.filter(pmod(col("doc_id"), lit(2L)) === 1))),
            Seq(col("lang"), col("source"))),
          Seq("lang", "source"), epsilon = 0.5, secretSalt = "dp-r14")
        .orderBy(col("lang").asc_nulls_last, col("source").asc_nulls_last)
    }),

    // X1+/X+ — clustering-agreement report: grade the MinHash dedup
    // clustering (threshold 0.6 — q190's exact-certified labels)
    // against the language partition with purity, NMI and B³ —
    // the external measures an entity-resolution/dedup config sweep
    // compares on. Everything reduces over the contingency frame; B³'s
    // per-item form collapses to n_pg²/margin cells.
    "q354_cluster_agreement" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val pred = Dedup.clusterLabels(docs, "doc_id", "text",
        threshold = 0.6)
      val gold = docs.select(col("doc_id"), col("lang").as("gold"))
      Eval.clusteringAgreement(pred.join(gold, Seq("doc_id")),
        "doc_id", "cluster", "gold")
    }),

    // X+/S — ε-DP top-k via the exponential mechanism in Gumbel form
    // (McSherry–Talwar 2007; one-shot top-k per Durfee–Rogers 2019):
    // release WHICH languages dominate, ranked, with no count of any
    // kind leaving — the release for when even a noised count says too
    // much. Key frame is metadata-sized; TakeOrdered-bounded.
    "q353_dp_topk" -> ((s, d) =>
      Privacy.dpTopK(t(s, d, "documents"), "lang", k = 3,
          epsilon = 1.0, secretSalt = "dpk-r14")
        .orderBy(col("rank").asc)),

    // X+/S — randomized response (Warner 1965), the LOCAL-DP companion:
    // each doc reports "long document?" flipped with seeded prob 0.25
    // (the collector never holds the true bit), then the per-language
    // prevalence debiases as (rate − p)/(1 − 2p). Per-row projection +
    // one hash agg.
    "q348_randomized_response" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val reports = Privacy.randomizedResponse(docs, "doc_id",
        col("n_chars") > 300, flipProb = 0.25, secretSalt = "rr-r14")
      Privacy.rrPrevalence(reports, Seq("lang"), flipProb = 0.25)
        .orderBy(col("lang").asc_nulls_last)
    }),

    // X+/S — (ε,δ)-DP GAUSSIAN count release (Dwork & Roth Thm A.1)
    // over the same lang×source census: seeded N(0,σ²) noise via the
    // engine-bit-matched Acklam probit (pure arithmetic + ln + sqrt),
    // σ = √(2·ln(1.25/δ))/ε embedded driver-side. The mechanism real
    // release pipelines run — √k composition where Laplace pays k·ε.
    "q356_dp_gaussian" -> ((s, d) =>
      Privacy.dpCountsGaussian(t(s, d, "documents"), Seq("lang", "source"),
          epsilon = 0.5, delta = 1e-6, secretSalt = "dpg-r15")
        .orderBy(col("lang").asc_nulls_last, col("source").asc_nulls_last)),

    // X+/S — the Gaussian release as a STANDING CENSUS (q355's merge
    // law with Gaussian tails): parity-split class partials fold
    // additively, one noisy projection releases — noise seeds on the
    // group key, so merged ≡ whole-data (q356's oracle verbatim).
    "q358_dp_gaussian_merge" -> ((s, d) => {
      val docs = t(s, d, "documents")
      def cls(df: DataFrame) = Privacy.equivalenceClasses(
        df, Seq(col("lang"), col("source")))
      Privacy.dpCountsGaussianFromClasses(
          Privacy.mergeClasses(
            cls(docs.filter(pmod(col("doc_id"), lit(2L)) === 0))
              .unionByName(
                cls(docs.filter(pmod(col("doc_id"), lit(2L)) === 1))),
            Seq(col("lang"), col("source"))),
          Seq("lang", "source"), epsilon = 0.5, delta = 1e-6,
          secretSalt = "dpg-r15")
        .orderBy(col("lang").asc_nulls_last, col("source").asc_nulls_last)
    }),

    // X+/S — the privacy LEDGER: one (ε,δ) row per per-source release
    // (heterogeneous ε ∈ {0.25,0.5,0.75} keyed off the source name),
    // priced under basic (Σε) and advanced (DRV'10 √Σε²) composition —
    // the budget gate that decides whether the NEXT release ships.
    // Releases-sized metadata end to end; the corpus never appears.
    "q357_dp_compose" -> ((s, d) => {
      val rel = t(s, d, "documents").select(col("source")).distinct()
        .withColumn("eps", lit(0.25) * (lit(1.0) +
          expr("ascii(right(coalesce(source, '0'), 1)) % 3")
            .cast("double")))
        .withColumn("delta", lit(1e-6))
      Privacy.composeBudget(rel, "eps", "delta", deltaSlack = 1e-6)
    }),

    // X+/S — the q356 census re-released under zCDP calibration (Bun &
    // Steinke 2016): \u03c3 = 1/\u221a(2\u03c1) with NO \u03b5 ceiling, additive \u03c1
    // composition, priced in both currencies via the \u03c1 + 2\u221a(\u03c1\u00b7ln(1/\u03b4))
    // conversion. Same seeded-probit noise, same one-agg shape.
    "q359_zcdp_gaussian" -> ((s, d) =>
      Privacy.dpCountsZcdp(t(s, d, "documents"), Seq("lang", "source"),
          rho = 0.125, delta = 1e-6, secretSalt = "zcdp-r16")
        .orderBy(col("lang").asc_nulls_last, col("source").asc_nulls_last)),

    // X+/S — the R\u00e9nyi accountant (Mironov 2017) over a heterogeneous
    // ledger (mechanism and noise scale keyed off the source name):
    // per-order RDP curves compose additively, each order converts via
    // Prop 3, the minimizing order is flagged. The tight frame q357's
    // DRV'10 bound upper-bounds; releases-sized metadata end to end.
    "q360_rdp_account" -> ((s, d) => {
      val a = expr("ascii(right(coalesce(source, '0'), 1))")
      val rel = t(s, d, "documents").select(col("source")).distinct()
        .withColumn("mechanism",
          when(a % 2 === 0, "gaussian").otherwise("laplace"))
        .withColumn("scale",
          lit(0.5) * (lit(1.0) + (a % 4).cast("double")))
      Privacy.rdpAccount(rel, "mechanism", "scale", delta = 1e-6)
    }),

    // X1 — Bloom-filter standing dedup screen (Bloom 1970): history's
    // text keys summarized into a fixed-size bit frame, the batch
    // screened with zero false negatives (maybe_dup \u2287 true_dup,
    // BloomIndexSpec) and one broadcast join. The memory-bounded front
    // door to the exact standing indexes (q62/q75) at 100-TB history.
    "q361_bloom_screen" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val hist = docs.filter(pmod(col("doc_id"), lit(2L)) === 0)
      val batch = docs.filter(pmod(col("doc_id"), lit(2L)) === 1)
      val bloom = BloomIndex.bloomBuild(hist, col("text"),
        words = 4096, k = 3, salt = "bloom-r16")
      bloomAudit(batch, hist, bloom)
    }),

    // X1/X++idx — the Bloom filter's merge law: per-batch partials
    // fold by bit_or (associative, commutative, idempotent), so
    // merge(build(A), build(B)) screens EXACTLY like build(A \u222a B) —
    // q361's oracle verbatim.
    "q362_bloom_merge" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val hist = docs.filter(pmod(col("doc_id"), lit(2L)) === 0)
      val batch = docs.filter(pmod(col("doc_id"), lit(2L)) === 1)
      def part(r: Long) = BloomIndex.bloomBuild(
        docs.filter(pmod(col("doc_id"), lit(4L)) === r), col("text"),
        words = 4096, k = 3, salt = "bloom-r16")
      val bloom = BloomIndex.bloomMerge(part(0L).unionByName(part(2L)))
      bloomAudit(batch, hist, bloom)
    }),

    // X1bloom — the Bloom screen's OPERATING POINT certified: geometry
    // from suggestedShape (textbook m = ⌈−n·ln p/(ln 2)²⌉, k =
    // round((m/n)·ln 2) — the formula both engines replay from the
    // distinct-key count), fill telemetry off the built filter, and the
    // predicted FPP (fill^k via the engine-shared exp/ln tree) measured
    // against the realized rate on PROVABLY-NOVEL probes — batch keys
    // absent from history, so every maybe_dup is a false positive by
    // construction. 1-row output; the filter stays words-sized.
    "q372_bloom_fpp" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val key = coalesce(col("text").cast("string"), lit("\u0000"))
      val hist = docs.filter(pmod(col("doc_id"), lit(2L)) === 0)
      val batch = docs.filter(pmod(col("doc_id"), lit(2L)) === 1)
      val n = hist.select(key.as("k")).distinct().count()
      val (words, k) = BloomIndex.suggestedShape(n, targetFpp = 0.01)
      val bloom = BloomIndex.bloomBuild(hist, col("text"), words, k,
        salt = "bloom-r17")
      val novel = batch.join(
        hist.select(key.as("__hk")).distinct(),
        key === col("__hk"), "left_anti")
      val meas = BloomIndex.bloomScreen(novel, "doc_id", col("text"),
          bloom, words, k, salt = "bloom-r17")
        .agg(count(lit(1)).cast("long").as("n_probed"),
          coalesce(sum(col("maybe_dup").cast("long")), lit(0L))
            .as("n_false_pos"))
      BloomIndex.fppTelemetry(bloom)
        .withColumn("n_keys", lit(n))
        .crossJoin(meas)
        .select(col("m_bits"), col("k_hashes"), col("n_keys"),
          col("set_bits"), col("fill_ratio"), col("predicted_fpp"),
          col("n_probed"), col("n_false_pos"),
          round(col("n_false_pos").cast("double") /
            col("n_probed").cast("double"), 6).as("fp_rate"))
    }),

    // X1+++/X3++ — prototypicality pruning (Sorscher et al. 2022):
    // rank every embedding by cosine to its label centroid (the q30
    // centroid, 6-dp pinned), prune the most-prototypical 30% per
    // label — "beyond neural scaling laws" data pruning as an audit
    // frame. Centroids broadcast; one per-label ranking window.
    "q363_prototypicality" -> ((s, d) =>
      Selection.prototypicalityPrune(t(s, d, "embeddings"),
          "vec_id", "embedding", "label", pruneFrac = 0.3)
        .orderBy(col("label").asc_nulls_last, col("rank").asc)),

    // X1+ — q20's computation re-declared under the READ-BACK partial
    // oracle (the q33 precedent) so the flagship dedup pair is
    // hash-certifiable at sf10, where the full all-pairs oracle is
    // priced out: every returned pair's (n_common, n_union, jaccard)
    // is recomputed exactly and sub-threshold/duplicate/unknown-id rows
    // poison the compare (soundness, corpus-wide), and the pair set is
    // checked COMPLETE on the deterministic doc_id < 2000 slice — a
    // slice that CONTAINS real near-dup pairs at every scale point (45
    // at sf0.1; measured, not assumed — a modulus slice held zero) and
    // equals the whole corpus at sf0.01, where it reduces to the full
    // oracle. Every true pair inside the slice missing from the dump
    // emits a sentinel row. q20 keeps the full oracle at sf0.01/sf1.
    "q364_near_dedup_cert" -> ((s, d) =>
      Dedup.nearDuplicatePairs(t(s, d, "documents"), "doc_id", "text",
          threshold = 0.6)
        .orderBy(col("a_id").asc_nulls_last, col("b_id").asc_nulls_last)),

    // X1+ — q37's computation under the chained partial oracle: the
    // survivor set is recomputed INDEPENDENTLY (DuckDB recursive CC +
    // min-reachable-is-self) over q364's sound-certified pair dump, so
    // the only inherited assumption is q364's slice-bounded
    // completeness. Requires q364 in the same Verify dump.
    "q365_dedup_survivors_cert" -> ((s, d) =>
      Dedup.dedupTransitive(t(s, d, "documents"), "doc_id", "text",
          threshold = 0.6)
        .select(col("doc_id"))
        .orderBy(col("doc_id").asc_nulls_last)),

    // X+/S — the zCDP release as a STANDING CENSUS (q358's merge law in
    // the zCDP currency): parity-split class partials fold additively,
    // one noisy projection releases — noise seeds on the group key, so
    // merged ≡ whole-data (q359's oracle verbatim). Closes the
    // front-door/standing-census pair for every release family.
    "q366_zcdp_merge" -> ((s, d) => {
      val docs = t(s, d, "documents")
      def cls(df: DataFrame) = Privacy.equivalenceClasses(
        df, Seq(col("lang"), col("source")))
      Privacy.dpCountsZcdpFromClasses(
          Privacy.mergeClasses(
            cls(docs.filter(pmod(col("doc_id"), lit(2L)) === 0))
              .unionByName(
                cls(docs.filter(pmod(col("doc_id"), lit(2L)) === 1))),
            Seq(col("lang"), col("source"))),
          Seq("lang", "source"), rho = 0.125, delta = 1e-6,
          secretSalt = "zcdp-r16")
        .orderBy(col("lang").asc_nulls_last, col("source").asc_nulls_last)
    }),

    // X+/S — privacy amplification by subsampling (Mironov, Talwar &
    // Zhang 2019): the Sampled-Gaussian-Mechanism RDP accountant over a
    // heterogeneous (q, σ) ledger — the accounting frame minibatched
    // (DP-SGD-style) pipelines actually run, whose curves the full-data
    // q360 accountant upper-bounds. Integer-order binomial closed form
    // with exact-BigInt ln C(α,j) literals and a max-subtracted
    // log-sum-exp, engine-shared tree (oracle generated from the same
    // fold). Releases-sized metadata end to end.
    "q370_sgm_rdp" -> ((s, d) => {
      val a = expr("ascii(right(coalesce(source, '0'), 1))")
      val rel = t(s, d, "documents").select(col("source")).distinct()
        .withColumn("q_samp",
          lit(0.01) * (lit(1.0) + (a % 3).cast("double")))
        .withColumn("sigma",
          lit(1.5) + lit(0.5) * (a % 4).cast("double"))
      Privacy.sgmRdpAccount(rel, "q_samp", "sigma", delta = 1e-6)
    }),

    // §2.10 — the first ORACLED streaming entry: a REAL Structured
    // Streaming run (checkpointed file source, one file per micro-batch,
    // Trigger.AvailableNow) over the events table sharded into 8 files —
    // the reference's one-file-one-pass deployment
    // (sree-etl-tdk-lambda.py:145-221) re-expressed as a stateful
    // streaming aggregate whose state-across-batches census must equal
    // the batch GROUP BY. StreamHarness THROWS unless >= 4 micro-batches
    // carried rows, so a degenerate single-batch run poisons the compare
    // instead of passing it. Complete output mode; decimal value sums
    // for batch-order independence.
    "q367_stream_census" -> ((s, d) => {
      val dir = scratch("q367shards", d)
      val ev = t(s, d, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
      StreamHarness.shard(ev,
        pmod(coalesce(col("event_id"), lit(0L)), lit(8L)), 8, dir)
      // state = one row per event_type: store count DERIVED from the
      // measured key cardinality (statePartitionsFor — state volume /
      // target store size, clamped), not a fixture-sized literal; on
      // this fixture the derivation lands on the floor of 4
      val keys = ev.agg(approx_count_distinct(col("event_type")))
        .first().getLong(0)
      StreamHarness.drain(s, dir, "complete", minDataBatches = 4,
          statePartitions =
            Some(StreamHarness.statePartitionsFor(s, keys))) { src =>
        src.groupBy(col("event_type"))
          .agg(count(lit(1)).as("cnt"),
            sum(round(col("value"), 6)
              .cast(org.apache.spark.sql.types.DecimalType(38, 12)))
              .as("__sv"))
      }
        .select(col("event_type"), col("cnt"),
          round(col("__sv").cast("double"), 6).as("sum_value"))
        .orderBy(col("event_type").asc_nulls_last)
    }),

    // §2.10 — EVENT-TIME semantics under the hash gate: watermarked
    // 1-day tumbling windows in APPEND mode over time-range shards
    // drained in watermark order (mod-time-ordered files), with two
    // far-future sentinel batches whose only job is to push the
    // watermark past every real window so append mode emits ALL of them
    // — each exactly once, which is precisely what the oracle's batch
    // census checks. Late-drop correctness is structural: shards are
    // contiguous day ranges, so no row ever arrives below the watermark.
    "q368_stream_windows" -> ((s, d) => {
      val dir = scratch("q368shards", d)
      val ev = t(s, d, "events").filter(col("ts").isNotNull)
        .select(col("ts"), col("event_type"))
      val b = ev.agg(
        min(to_date(col("ts"))).cast("string"),
        max(to_date(col("ts"))).cast("string"),
        max(col("ts")).cast("string"),
        approx_count_distinct(col("event_type"))).collect()(0)
      val (minD, nDays) = (b.getString(0),
        java.time.temporal.ChronoUnit.DAYS.between(
          java.time.LocalDate.parse(b.getString(0)),
          java.time.LocalDate.parse(b.getString(1))) + 1)
      // open state ≈ (day windows × types) + the 2 sentinels — derived,
      // not the fixture literal (lands on the 4-store floor here)
      val stateKeys = nDays * b.getLong(3) + 2L
      val sentinels = s.range(2).select(
        (to_timestamp(lit(b.getString(2))) +
          expr("make_interval(0, 0, 0, CAST(100 * (id + 1) AS INT), " +
            "0, 0, 0)")).as("ts"),
        lit("__sentinel__").as("event_type"))
      val shardOf = when(col("event_type") === "__sentinel__",
          when(col("ts") <= to_timestamp(lit(b.getString(2))) +
            expr("interval 150 days"), lit(6)).otherwise(lit(7)))
        .otherwise(expr(
          s"CAST((datediff(to_date(ts), date'$minD') * 6) DIV $nDays AS INT)"))
      StreamHarness.shard(ev.unionByName(sentinels), shardOf, 8, dir)
      StreamHarness.drain(s, dir, "append", minDataBatches = 4,
          statePartitions =
            Some(StreamHarness.statePartitionsFor(s, stateKeys))) { src =>
        src.withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 day"), col("event_type"))
          .agg(count(lit(1)).as("cnt"))
      }
        .filter(col("event_type").isNull ||
          col("event_type") =!= "__sentinel__")
        .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
          col("event_type"), col("cnt"))
        .orderBy(col("day").asc_nulls_last, col("event_type").asc_nulls_last)
    }),

    // §2.10/X1 — STREAMING exact dedup under the hash gate: the q14
    // first-occurrence election as a streaming dropDuplicates whose
    // dedup state spans micro-batches — a key seen in batch 1 must
    // suppress its re-arrivals in batches 2..8, so the appended union
    // of per-batch emissions equals the batch DISTINCT exactly. The
    // front door of the standing dedup indexes (q62/q75/q361) run as a
    // stream; production swaps dropDuplicatesWithinWatermark to bound
    // the state store.
    "q369_stream_dedup" -> ((s, d) => {
      val dir = scratch("q367shards", d)
      val ev = t(s, d, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
      StreamHarness.shard(ev,
        pmod(coalesce(col("event_id"), lit(0L)), lit(8L)), 8, dir)
      // state = one row per distinct (user_id, event_type): derived from
      // the measured pair cardinality (8 stores on this fixture; at a
      // 100 TB user population the same rule scales the count with the
      // state volume instead of pinning it at a fixture literal)
      val keys = ev.agg(approx_count_distinct(
        struct(col("user_id"), col("event_type")))).first().getLong(0)
      StreamHarness.drain(s, dir, "append", minDataBatches = 4,
          statePartitions =
            Some(StreamHarness.statePartitionsFor(s, keys))) { src =>
        src.select(col("user_id"), col("event_type"))
          .dropDuplicates("user_id", "event_type")
      }
        .orderBy(col("user_id").asc_nulls_last,
          col("event_type").asc_nulls_last)
    }),

    // §2.10 — the CUSTOM-STATE operator under the hash gate: the typed
    // flatMapGroupsWithState sessionizer (StreamingAnalytics.sessionize,
    // per-user gap-rule state + event-time timeout) run as a REAL
    // checkpointed streaming query over epoch-range shards drained in
    // watermark order. With in-order arrival its late-event machinery is
    // provably inert and the gap rule reduces exactly to q34's batch
    // rule, so the per-user count of emitted sessions must equal the
    // batch lag-then-running-sum answer — q34's oracle VERBATIM is the
    // certificate. Two far-future sentinel batches (one to advance the
    // watermark past every idle deadline, one to fire the resulting
    // event-time timeouts) flush every still-open session exactly once;
    // sessions spanning shard boundaries certify state across batches.
    "q371_stream_sessions" -> ((s, d) => {
      val dir = scratch("q371shards", d)
      val ev = t(s, d, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id"), col("ts"), col("event_id"))
      val b = ev.agg(
        min(unix_timestamp(col("ts"))), max(unix_timestamp(col("ts"))),
        max(col("ts")).cast("string"),
        approx_count_distinct(col("user_id"))).collect()(0)
      val (lo, hi) = (b.getLong(0), b.getLong(1))
      val span = math.max(hi - lo + 1, 1L)
      val sentinels = s.range(2).select(
        lit(-1L).as("user_id"),
        (to_timestamp(lit(b.getString(2))) +
          expr("make_interval(0, 0, 0, CAST(100 * (id + 1) AS INT), " +
            "0, 0, 0)")).as("ts"),
        (lit(-1L) - col("id")).as("event_id"))
      val shardOf = when(col("user_id") === -1L,
          when(col("event_id") === -1L, lit(8)).otherwise(lit(9)))
        .otherwise(least(
          floor((unix_timestamp(col("ts")) - lit(lo)) * lit(8L) / lit(span)),
          lit(7L)).cast("int"))
      StreamHarness.shard(ev.unionByName(sentinels), shardOf, 10, dir)
      // state = one open session struct (~512 B) per active user —
      // derived from the measured user cardinality (8 stores here; at
      // millions of users the rule sizes stores to state volume)
      StreamHarness.drain(s, dir, "append", minDataBatches = 6,
          statePartitions = Some(StreamHarness.statePartitionsFor(
            s, b.getLong(3), bytesPerKey = 512L))) { src =>
        graft.streaming.StreamingAnalytics.sessionize(
          src.select(col("user_id"), col("ts").as("time")),
          gapSeconds = 1800L, watermarkDelay = "10 minutes").toDF()
      }
        .filter(col("user_id") =!= -1L)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"))
        .orderBy(col("user_id").asc_nulls_last)
    }),

    // X+/S — k-anonymity release audit over the customer dimension's
    // quasi-identifiers (nation × market segment): the re-identification
    // gate a published per-user table must pass. One hash agg to the
    // class frame; threshold fan-out explodes classes, never rows.
    "q267_k_anonymity" -> ((s, d) =>
      Privacy.kAnonymityProfile(t(s, d, "customer"),
        Seq(col("c_nationkey"), col("c_mktsegment")),
        ks = Seq(2, 5, 10, 25))),

    // X+/S — l-diversity histogram on the same classes with the
    // account-balance band as the sensitive attribute: the homogeneity
    // leak k-anonymity misses (diversity-1 classes disclose the band
    // by membership alone). Class-frame aggregates, bounded output.
    "q268_l_diversity" -> ((s, d) =>
      Privacy.diversityHistogram(t(s, d, "customer"),
        Seq(col("c_nationkey"), col("c_mktsegment")),
        floor(col("c_acctbal").cast("double") / lit(1000.0))
          .cast("long"))),

    // X+/S — Jarque–Bera normality screen on the daily series: the
    // gaussian-assumption audit behind every upstream z-test, with the
    // closed-form χ²(2) p. One 4-moment decimal aggregate, no windows.
    "q269_jarque_bera" -> ((s, d) =>
      StatsTests.jarqueBera(
        t(s, d, "events").filter(col("ts").isNotNull)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n_events")),
        col("n_events"))),

    // X+/S — Friedman rank test over q266's three source-quality
    // judges: the significance face of the same integer 4S (do the
    // sources GENUINELY differ, or is every ranking noise?).
    // Subject-frame windows, one division.
    "q270_friedman" -> ((s, d) =>
      StatsTests.friedman(
        t(s, d, "documents")
          .filter(col("source").isNotNull && col("n_chars").isNotNull)
          .groupBy(col("source"))
          .agg(
            (sum(col("n_chars")).cast("double") /
              count(lit(1)).cast("double")).as("mean_chars"),
            count(lit(1)).cast("long").as("n_docs"),
            max(col("n_chars")).as("max_chars")),
        "source",
        Seq(col("mean_chars"), col("n_docs"), col("max_chars")))),

    // X+/S — Poisson overdispersion of the daily series: is traffic
    // clumped beyond independent arrivals (variance/mean, χ² form)?
    // The moment-level lens next to q278's distributional KS. One
    // aggregate, any cardinality.
    "q279_dispersion" -> ((s, d) =>
      StatsTests.dispersionTest(
        t(s, d, "events").filter(col("ts").isNotNull)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n_events")),
        col("n_events"))),

    // X+/S — Mann–Kendall monotone-trend significance on the daily
    // series: the significance face of q233's Theil–Sen slope
    // (tie-corrected variance, continuity-corrected z). Series²
    // pairs frame per the Theil–Sen contract.
    "q280_mann_kendall" -> ((s, d) =>
      StatsTests.mannKendall(
        t(s, d, "events").filter(col("ts").isNotNull)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n_events")),
        "day", "n_events")),

    // X+/S — exponential goodness of fit over per-user inter-event
    // gaps: are arrivals memoryless, or is sessionization modeling
    // real structure? MLE λ then one-sample KS at both sides of every
    // CDF step; cumulative over gap-value cardinality only.
    "q278_exp_gap_fit" -> ((s, d) =>
      StatsTests.expGapFit(t(s, d, "events"),
        "user_id", "ts", "event_id")),

    // X+/S — q267's k-anonymity audit through the MERGE law: parity
    // halves' class-size partials fold by additive union (sizes sum
    // under disjoint batches), then the identical threshold profile.
    // SHARES q267's oracle verbatim.
    "q276_privacy_merge" -> ((s, d) => {
      val cust = t(s, d, "customer")
      val quasi = Seq(col("c_nationkey"), col("c_mktsegment"))
      Privacy.kAnonymityFromClasses(
        Privacy.mergeClasses(
          Privacy.equivalenceClasses(
            cust.filter(col("c_custkey") % 2 === 0), quasi)
            .union(Privacy.equivalenceClasses(
              cust.filter(col("c_custkey") % 2 =!= 0), quasi)),
          quasi),
        ks = Seq(2, 5, 10, 25))
    }),

    // X+/A — information-gain screen over the q258 churn features:
    // which engineered behavior signals carry label signal AT ALL
    // (median-split mutual information, the univariate gate before the
    // ridge probe spends a fit). Dim-sized cell frame, no global
    // windows.
    "q275_info_gain" -> ((s, d) =>
      FeatureScreen.infoGain(
        LogAnalytics.churnFeatures(t(s, d, "events")),
        col("features"), col("churned"), col("user_id"))),

    // X2+/X1 — ROUGE-2 over within-source adjacent doc pairs: the
    // multiset-clipped overlap grade (set-based containment q208
    // under-reads repeated phrases), the near-dup-pair auditor's
    // numeric face. Pair-keyed explode+join, linear in grams,
    // never all-pairs.
    "q274_rouge" -> ((s, d) => {
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      val pairs = t(s, d, "documents")
        .filter(col("source").isNotNull && col("text").isNotNull)
        .select(col("doc_id"), col("text"),
          lead(col("doc_id"), 1).over(w).as("_bid"),
          lead(col("text"), 1).over(w).as("_btext"))
        .filter(col("_bid").isNotNull)
      TextOps.rougeN(pairs, col("doc_id"), col("_bid"),
        col("text"), col("_btext"), n = 2)
    }),

    // X+/S — CUSUM over the ADJUSTED series: change-point detection
    // with the weekly rhythm removed — a real level shift stands out
    // where q193 on the raw series would chase weekday texture.
    "q333_adjusted_cusum" -> ((s, d) =>
      Changepoint.cusum(
        Changepoint.seasonallyAdjusted(
          t(s, d, "events").filter(col("ts").isNotNull)
            .groupBy(to_date(col("ts")).as("day"))
            .agg(count(lit(1)).cast("double").as("n_events")),
          "day", "n_events")
          .select(col("day"), col("adjusted")),
        "day", "adjusted")),

    // A+/S — hour-of-day × day-of-week load heatmap: the operational
    // fingerprint (when does this system actually work?) as exact
    // cell shares. ≤ 168 rows.
    "q334_load_heatmap" -> ((s, d) => {
      val ev = t(s, d, "events").filter(col("ts").isNotNull)
      val cells = ev.groupBy(
        dayofweek(to_date(col("ts"))).cast("int").as("dow"),
        hour(col("ts")).cast("int").as("hour_of_day"))
        .agg(count(lit(1)).as("n_events"))
      val tot = cells.agg(sum(col("n_events")).as("_tot"))
      cells.crossJoin(broadcast(tot))
        .select(col("dow"), col("hour_of_day"), col("n_events"),
          round(col("n_events").cast("double") /
            col("_tot").cast("double"), 6).as("share"))
        .orderBy(col("dow").asc, col("hour_of_day").asc)
    }),

    // X+/S — the seasonally-adjusted daily series: the published face
    // of q329's decomposition (weekly rhythm out, trend in) — what
    // the monitors should watch when rhythm would drown real shifts.
    "q331_seasonal_adjust" -> ((s, d) =>
      Changepoint.seasonallyAdjusted(
        t(s, d, "events").filter(col("ts").isNotNull)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).cast("double").as("n_events")),
        "day", "n_events")),

    // X+/S — ensemble anomaly report: the q291 Poisson chart and the
    // q330 moving-range chart joined per day — a day BOTH flag is an
    // incident, one flag is a look.
    "q332_anomaly_ensemble" -> ((s, d) => {
      val ev = t(s, d, "events").filter(col("ts").isNotNull)
      val counts = Changepoint.cChart(
        ev.groupBy(to_date(col("ts")).cast("string").as("day"))
          .agg(count(lit(1)).as("n_events")),
        "day", "n_events")
        .select(col("day"), col("n_events"),
          col("out_of_control").as("count_flag"))
      val values = Changepoint.imrChart(
        ev.filter(col("value").isNotNull)
          .groupBy(to_date(col("ts")).cast("string").as("day"))
          .agg((sum(round(col("value"), 9)
            .cast(org.apache.spark.sql.types.DecimalType(38, 9)))
            .cast("double") / count(lit(1)).cast("double"))
            .as("mean_value")),
        "day", "mean_value")
        .select(col("day"), col("out_of_control").as("value_flag"))
      counts.join(values, Seq("day"), "left")
        .select(col("day"), col("n_events"), col("count_flag"),
          coalesce(col("value_flag"), lit(false)).as("value_flag"),
          (col("count_flag").cast("int") +
            coalesce(col("value_flag"), lit(false)).cast("int"))
            .cast("long").as("n_flags"))
        .orderBy(col("day").asc)
    }),

    // X+/S — structural variance decomposition of the daily series:
    // how much is trend, how much weekly rhythm, how much noise (the
    // SS ledger a forecaster reads before modeling anything).
    "q329_variance_decomp" -> ((s, d) =>
      Changepoint.varianceDecomposition(
        t(s, d, "events").filter(col("ts").isNotNull)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n_events")),
        "day", "n_events")),

    // X+/S — individuals/moving-range chart over the daily MEAN
    // value: q291's continuous sibling (spread from the moving range,
    // the 2.66·MR̄ limits — robust to slow drift).
    "q330_imr_chart" -> ((s, d) =>
      Changepoint.imrChart(
        t(s, d, "events")
          .filter(col("ts").isNotNull && col("value").isNotNull)
          .groupBy(to_date(col("ts")).cast("string").as("day"))
          .agg((sum(round(col("value"), 9)
            .cast(org.apache.spark.sql.types.DecimalType(38, 9)))
            .cast("double") / count(lit(1)).cast("double"))
            .as("mean_value")),
        "day", "mean_value")),

    // X+/S — TOST equivalence between the parity cohorts at a 2%
    // margin: the question a failed rejection should trigger — can we
    // positively conclude "the same"? (absence of significance is not
    // evidence of absence).
    "q327_tost_equivalence" -> ((s, d) => {
      // the q180 retention label (interior rate at every SF — the
      // universal-purchase metric would degenerate SE to 0)
      val sp = t(s, d, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .groupBy(col("user_id"))
        .agg(max(floor(col("ts").cast("long") / lit(3600L))
          .cast("long")).as("_lb"))
      val mx = sp.agg(max(col("_lb")).as("_maxd"))
      val users = sp.crossJoin(broadcast(mx))
        .select(col("user_id"),
          (col("_lb") > col("_maxd") - lit(12L)).cast("int").as("conv"))
      StatsTests.tostEquivalence(
        users.filter(col("user_id") % 2 === 0),
        users.filter(col("user_id") % 2 =!= 0),
        col("conv") === 1, margin = 0.02)
    }),

    // X+/S — Nelson–Aalen cumulative hazard off the q180 spans: churn
    // PRESSURE accumulated by lifetime (the hazard-space reading of
    // the same censored data). Lifetime-frame cumulative only.
    "q328_nelson_aalen" -> ((s, d) =>
      Survival.nelsonAalen(
        Survival.kaplanMeier(t(s, d, "events"),
          bucketSeconds = 3600L, horizonBuckets = 12))),

    // X+/S — Holm step-down screen over the q189 per-source Welch
    // tests: the FWER member of the multiplicity family (BH/BY bound
    // discoveries; Holm bounds ANY false rejection — the gate when
    // each rejection triggers an expensive action).
    "q325_holm_screen" -> ((s, d) =>
      StatsTests.holmSignificance(
        StatsTests.groupWelchZ(t(s, d, "documents"),
          col("source"), col("n_chars"))
          .withColumn("p", StatsTests.normalTwoSidedP(col("z"))),
        "p", "g", alpha = 0.05)
        .orderBy(col("rank").asc)),

    // X+/S — Cohen's h between the parity cohorts' conversion: the
    // base-rate-free effect size (at web scale everything is
    // significant; h says whether it matters).
    "q326_cohens_h" -> ((s, d) => {
      val users = t(s, d, "events")
        .filter(col("user_id").isNotNull)
        .groupBy(col("user_id"))
        .agg(max((col("event_type") === "purchase").cast("int"))
          .as("conv"))
      StatsTests.cohensH(
        users.filter(col("user_id") % 2 === 0),
        users.filter(col("user_id") % 2 =!= 0),
        col("conv") === 1)
    }),

    // X2+/S — lexical diversity per source: Guiraud's RTTR (the
    // size-robust type–token ratio) — low-RTTR sources are template
    // mass the mixture should down-weight.
    "q323_lexical_diversity" -> ((s, d) =>
      TextOps.lexicalDiversity(t(s, d, "documents"), "source", "text")),

    // X2+/S — pairwise source JS matrix over the top-200 global
    // terms: the distribution-level redundancy map next to q318's
    // exact duplicates — near-zero JS sources buy the same data
    // twice. Pair × head support is k²·topN-bounded.
    "q324_source_js_matrix" -> ((s, d) =>
      TextOps.sourceJsMatrix(t(s, d, "documents"), "source", "text",
        topN = 200)),

    // X+/E — best-F1 operating point off the q138 PR frame: the
    // threshold the curve actually recommends (unrounded argmax,
    // higher threshold breaks exact ties).
    "q321_best_threshold" -> ((s, d) =>
      Eval.bestF1Threshold(
        t(s, d, "embeddings").filter(col("vec_id") < 1000)
          .select(element_at(col("embedding"), 1).cast("double")
            .as("score"),
            (col("label") === 0).cast("int").as("is_pos")),
        "score", "is_pos")),

    // X+/S — Borda source scorecard: the executive face of q266's
    // judge frame — per-metric DESC ranks summed into one league
    // table (rank 1 = best). Subject-frame windows only.
    "q322_source_scorecard" -> ((s, d) => {
      val m = t(s, d, "documents")
        .filter(col("source").isNotNull && col("n_chars").isNotNull)
        .groupBy(col("source"))
        .agg(
          (sum(col("n_chars")).cast("double") /
            count(lit(1)).cast("double")).as("mean_chars"),
          count(lit(1)).cast("long").as("n_docs"),
          max(col("n_chars")).as("max_chars"))
      def rk(c: Column, name: String): Column =
        row_number().over(Window.orderBy(c.desc, col("source").asc))
          .cast("long").as(name)
      m.select(col("source"), col("mean_chars"), col("n_docs"),
          col("max_chars"),
          rk(col("mean_chars"), "rank_mean"),
          rk(col("n_docs"), "rank_docs"),
          rk(col("max_chars"), "rank_max"))
        .withColumn("rank_sum",
          col("rank_mean") + col("rank_docs") + col("rank_max"))
        .orderBy(col("rank_sum").asc, col("source").asc)
    }),

    // X+/S — delta-method CI for the value-per-event ratio between
    // the parity arms: the correct variance for a ratio of sums
    // (per-user exposure imbalance breaks the naive t-test).
    "q320_ratio_metric" -> ((s, d) => {
      val users = t(s, d, "events")
        .filter(col("user_id").isNotNull && col("value").isNotNull)
        .groupBy(col("user_id"))
        .agg(sum(round(col("value"), 9)
          .cast(org.apache.spark.sql.types.DecimalType(38, 9)))
          .cast("double").as("_y"),
          count(lit(1)).cast("double").as("_n"))
      StatsTests.ratioMetricDelta(users, col("user_id") % 2 === 0,
        col("_y"), col("_n"))
    }),

    // X+/S — CUPED-adjusted A/B: the pre-period activity covariate
    // soaks up user-level variance (ρ² is the power you get back);
    // adjusted diff from arm-level moments only, no second pass.
    "q319_cuped" -> ((s, d) => {
      val dd = t(s, d, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id"),
          floor(col("ts").cast("long") / lit(86400L)).cast("long")
            .as("_day"))
      val bounds = dd.agg(min(col("_day")).as("_lo"),
        max(col("_day")).as("_hi"))
      val mid = (col("_lo") + col("_hi")).cast("double") / lit(2.0)
      val users = dd.crossJoin(broadcast(bounds))
        .groupBy(col("user_id"))
        .agg(
          coalesce(sum(when(col("_day").cast("double") <= mid, 1L)),
            lit(0L)).as("_x"),
          coalesce(sum(when(col("_day").cast("double") > mid, 1L)),
            lit(0L)).as("_y"))
      StatsTests.cuped(users, col("user_id") % 2 === 0,
        col("_x"), col("_y"))
    }),

    // X+/S — sample-ratio-mismatch gate on the parity "assignment":
    // the A/B check that runs BEFORE any effect test — a broken
    // randomizer poisons every downstream number.
    "q317_srm_check" -> ((s, d) => {
      val users = t(s, d, "events").filter(col("user_id").isNotNull)
        .select(col("user_id")).distinct()
      StatsTests.srmCheck(
        users.filter(col("user_id") % 2 === 0),
        users.filter(col("user_id") % 2 =!= 0),
        ratioA = 0.5)
    }),

    // X1+/X+ — cross-source duplication matrix: q20's exact near-dup
    // pairs joined back to their sources — WHO copies from WHOM, the
    // provenance view a licensing/contamination review needs.
    "q318_cross_source_dups" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val src = docs.select(col("doc_id"), col("source"))
      Dedup.nearDuplicatePairs(docs, "doc_id", "text", threshold = 0.6)
        .join(src.select(col("doc_id").as("a_id"),
          col("source").as("source_a")), Seq("a_id"))
        .join(src.select(col("doc_id").as("b_id"),
          col("source").as("source_b")), Seq("b_id"))
        .groupBy(
          least(col("source_a"), col("source_b")).as("source_lo"),
          greatest(col("source_a"), col("source_b")).as("source_hi"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("source_lo").asc, col("source_hi").asc)
    }),

    // X2+/S — coverage targets: the vocabulary size needed to cover
    // 50/90/99% of token mass — the number a BPE budget negotiation
    // starts from (the inverse of q191's fixed-top-K share).
    "q315_coverage_targets" -> ((s, d) =>
      TextOps.coverageTargets(
        t(s, d, "documents").filter(col("text").isNotNull)
          .select(explode(TextOps.tokens(col("text"))).as("_t"))
          .groupBy(col("_t")).agg(count(lit(1)).as("_c")),
        targets = Seq(0.5, 0.9, 0.99))),

    // A+/S — journey memory gain: does the SECOND step of history
    // make the next action more predictable (H(c|b) − H(c|a,b) in
    // bits)? Near zero = the q218/q238 order-1 chain captures
    // everything. TYPE²/TYPE³-sized after one double-lag window.
    "q316_journey_memory" -> ((s, d) =>
      LogAnalytics.journeyMemory(t(s, d, "events"))),

    // X2+/X1 — template census over docs with an injected receipt
    // template (the q181 deterministic-injection pattern): how much
    // mass is the SAME page with numbers swapped — caught at the
    // skeleton level before LSH spends shingles on it.
    "q313_template_census" -> ((s, d) =>
      TextOps.templateCensus(
        t(s, d, "documents").filter(col("text").isNotNull)
          .select(when(col("doc_id") % 5 === 0,
            concat(lit("Order "), col("doc_id"),
              lit(" shipped to client "), col("doc_id") * 7L,
              lit(" total 42 units")))
            .otherwise(col("text")).as("text")),
        "text")),

    // X2+/X+ — PII census per source with injected email-shaped
    // strings (deterministic, the q181 pattern): what WOULD Scrub
    // rewrite — the release-review number before deciding to mask.
    "q314_pii_census" -> ((s, d) =>
      TextOps.piiCensus(
        t(s, d, "documents")
          .filter(col("text").isNotNull && col("source").isNotNull)
          .select(col("source"),
            when(col("doc_id") % 7 === 0,
              concat(col("text"), lit(" contact user"), col("doc_id"),
                lit("@example.com now")))
              .otherwise(col("text")).as("text")),
        "source", "text")),

    // X+/S — Simpson's-paradox detector: do the pooled arm effect and
    // the within-stratum evidence even agree in sign? The one-row
    // audit that decides whether q176 or q296 is the number to act on.
    "q311_simpson_check" -> ((s, d) => {
      val users = t(s, d, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .groupBy(col("user_id"))
        .agg(min(floor(col("ts").cast("long") / lit(604800L))
          .cast("long")).as("_wk"),
          max((col("event_type") === "purchase").cast("int")).as("_cv"))
      StatsTests.simpsonCheck(users, col("_wk"),
        col("user_id") % 2 === 0, col("_cv") === 1)
    }),

    // A+/S — week-over-week mix-shift decomposition of the mean event
    // value: did types get better, or did traffic move between types?
    // Exact rate/mix split (Δmean = rate + mix term-by-term).
    "q312_mix_shift" -> ((s, d) =>
      TimeSeries.mixShiftDecomposition(t(s, d, "events"),
        "ts", "event_type", "value")),

    // X+/S — negative-binomial fit of per-user event counts: the
    // generative model q279's overdispersion points at (the summary a
    // load simulator or synthetic-data generator consumes).
    "q309_negbin_fit" -> ((s, d) =>
      StatsTests.negBinomialFit(
        t(s, d, "events").filter(col("user_id").isNotNull)
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events")),
        col("n_events"))),

    // X1+/S — dedup threshold sweep: duplicate-pair counts at every
    // cut from ONE LSH+verify pass at the 0.6 banding floor — the
    // tuning view before q37/q190 commit to a threshold (counts below
    // the banding floor would be recall-incomplete; the sweep stays
    // at or above it by construction).
    "q310_dedup_sweep" -> ((s, d) => {
      val pairs = Dedup.nearDuplicatePairs(t(s, d, "documents"),
        "doc_id", "text", threshold = 0.6)
      pairs
        .select(col("jaccard"),
          explode(array(Seq(0.6, 0.7, 0.8, 0.9).map(lit): _*))
            .as("threshold"))
        .groupBy(col("threshold"))
        .agg(coalesce(sum((col("jaccard") >= col("threshold"))
          .cast("long")), lit(0L)).as("n_pairs"))
        .orderBy(col("threshold").asc)
    }),

    // A+/S — weekly growth accounting: the canonical new / retained /
    // resurrected / churned decomposition (active = new + retained +
    // resurrected, exactly). User-keyed distinct + shift join,
    // week-frame output.
    "q308_growth_accounting" -> ((s, d) =>
      TimeSeries.growthAccounting(t(s, d, "events"), "user_id", "ts")),

    // X+/G — degree assortativity of the supplier co-occurrence
    // graph: do hub suppliers co-appear with hubs (social fabric) or
    // fan to leaves (star fabric)? Endpoint-degree Pearson over both
    // orientations, decimal moments.
    "q306_assortativity" -> ((s, d) =>
      GraphOps.assortativity(
        GraphOps.coOccurrence(t(s, d, "lineitem"),
          "l_orderkey", "l_suppkey", minSupport = 6L),
        "src", "dst")),

    // X+/G — global clustering coefficient of the same graph: how
    // often do shared neighbors close into triangles (3Δ/W)? The
    // closure fingerprint next to q306's mixing and q155's per-node
    // counts. Integer-exact to one division.
    "q307_clustering_coef" -> ((s, d) =>
      GraphOps.clusteringCoefficient(
        GraphOps.coOccurrence(t(s, d, "lineitem"),
          "l_orderkey", "l_suppkey", minSupport = 6L),
        "src", "dst")),

    // X2+/E — langid confusion matrix against the labeled lang
    // column: the EVAL face of q23's heuristic (which languages does
    // the n-gram detector confuse, and how often?). Cell-frame
    // output, aggregates only.
    "q304_langid_eval" -> ((s, d) =>
      t(s, d, "documents")
        .filter(col("lang").isNotNull)
        .select(col("lang"), TextOps.langId(col("text")).as("lang_pred"))
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang").asc, col("lang_pred").asc)),

    // A+/S — weekly top-10 source leaderboard turnover: week-over-week
    // Jaccard of the top set (is the head of the corpus stable, or
    // churning?). Week-partitioned rank windows, set-sized join.
    "q305_topk_turnover" -> ((s, d) => {
      val wk = floor(col("ts").cast("long") / lit(604800L)).cast("long")
      val weekly = t(s, d, "events")
        .filter(col("ts").isNotNull && col("event_type").isNotNull)
        .groupBy(wk.as("_w"), col("user_id").as("_src"))
        .agg(count(lit(1)).as("_n"))
      val w = Window.partitionBy(col("_w"))
        .orderBy(col("_n").desc, col("_src").asc)
      val top = weekly
        .withColumn("_r", row_number().over(w))
        .filter(col("_r") <= 10)
        .select(col("_w"), col("_src"))
      val sizes = top.groupBy(col("_w")).agg(count(lit(1)).as("_k"))
      val both = top
        .join(top.select(col("_src"), (col("_w") + 1L).as("_w")),
          Seq("_src", "_w"))
        .groupBy(col("_w")).agg(count(lit(1)).as("n_both"))
      sizes.select(col("_w"), col("_k").as("k_cur"))
        .join(sizes.select((col("_w") + 1L).as("_w"),
          col("_k").as("k_prev")), Seq("_w"))
        .join(both, Seq("_w"), "left")
        .select(
          date_format(timestamp_seconds(col("_w") * 604800L),
            "yyyy-MM-dd").as("week_start"),
          col("k_prev"), col("k_cur"),
          coalesce(col("n_both"), lit(0L)).as("n_both"),
          round(coalesce(col("n_both"), lit(0L)).cast("double") /
            (col("k_prev") + col("k_cur") -
              coalesce(col("n_both"), lit(0L))).cast("double"), 6)
            .as("jaccard"))
        .orderBy(col("week_start").asc)
    }),

    // X+/E — decile lift table for the churn probe's scores: the
    // business face of the threshold metrics ("the top decile holds
    // N× its share of churners"), deterministic ntile over the scored
    // user frame. CHAINED oracle: scores replay from q258's dumped
    // weights.
    "q301_lift_curve" -> ((s, d) => {
      val feats = LogAnalytics.churnFeatures(t(s, d, "events"))
      val wts = Probe.fitRidge(feats, "features", col("churned"),
        dim = 7, lambda = 1e-3)
      Eval.liftTable(
        feats.withColumn("_score", Probe.score(col("features"), wts)),
        col("_score"), col("churned") === 1.0, col("user_id"),
        buckets = 10)
    }),

    // X+/E — population stability index of the event-value
    // distribution, first half of the time range vs second: the
    // model-monitoring drift number (PSI > 0.25 = act), reference-
    // decile bins via rank-exact picks.
    "q302_psi" -> ((s, d) => {
      val dd = t(s, d, "events")
        .filter(col("ts").isNotNull && col("value").isNotNull)
        .select(floor(col("ts").cast("long") / lit(86400L))
          .cast("long").as("_day"), col("value"))
      val bounds = dd.agg(min(col("_day")).as("_lo"),
        max(col("_day")).as("_hi"))
      // double midpoint: long / on Spark longs is already a double
      // divide — make that explicit so the oracle mirrors it exactly
      val mid = (col("_lo") + col("_hi")).cast("double") / lit(2.0)
      val withMid = dd.crossJoin(broadcast(bounds))
      Eval.psi(
        withMid.filter(col("_day").cast("double") <= mid),
        withMid.filter(col("_day").cast("double") > mid),
        col("value"), buckets = 10)
    }),

    // X+/S — Mantel–Haenszel pooled odds ratio over the q296 strata:
    // the effect size behind the CMH significance (stable where
    // sparse per-stratum ORs blow up).
    "q300_mh_odds" -> ((s, d) => {
      val users = t(s, d, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .groupBy(col("user_id"))
        .agg(min(floor(col("ts").cast("long") / lit(604800L))
          .cast("long")).as("_wk"),
          max((col("event_type") === "purchase").cast("int")).as("_cv"))
      StatsTests.mhOddsRatio(users, col("_wk"),
        col("user_id") % 2 === 0, col("_cv") === 1)
    }),

    // X2+/S — q287/q292 read from the STANDING lexical index instead
    // of re-tokenizing: the postings stripe's sum(tf) rollup IS the
    // term-count frame (same tokenizer by library contract), so the
    // corpus pays one tokenization for retrieval AND the estimators.
    // SHARES q287's oracle verbatim.
    "q298_chao1_indexed" -> ((s, d) =>
      TextOps.chao1FromCounts(
        TextSearch.buildLexicalIndex(
          t(s, d, "documents").filter(col("text").isNotNull),
          "doc_id", "text")
          .filter(col("term").isNotNull)
          .groupBy(col("term").as("_t"))
          .agg(sum(col("tf")).as("_c")))),

    // X2+/S — the Zipf fit off the same index rollup. SHARES q292's
    // oracle verbatim.
    "q299_zipf_indexed" -> ((s, d) =>
      TextOps.zipfSlopeFromCounts(
        TextSearch.buildLexicalIndex(
          t(s, d, "documents").filter(col("text").isNotNull),
          "doc_id", "text")
          .filter(col("term").isNotNull)
          .groupBy(col("term").as("_t"))
          .agg(sum(col("tf")).as("_c")),
        topN = 1000)),

    // X3+/S — bimodality coefficient of the per-vector norm
    // distribution: is ONE encoder behind this embedding column, or
    // a mixture of two (q182's norm-drift comment made testable)?
    // Same 4-moment fold as q269.
    "q295_norm_bimodality" -> ((s, d) =>
      StatsTests.bimodality(
        t(s, d, "embeddings").filter(col("embedding").isNotNull)
          .select(sqrt(aggregate(
            transform(col("embedding"),
              x => x.cast("double") * x.cast("double")),
            lit(0.0), (acc, x) => acc + x)).as("nrm")),
        col("nrm"))),

    // X+/S — Cochran–Mantel–Haenszel A/B stratified by signup week:
    // the confounding-aware conversion test (q176 pools and can be
    // Simpson-reversed by cohort mix; CMH compares within cohorts).
    // χ²(1) p is the closed-form normal tail.
    "q296_cmh" -> ((s, d) => {
      val users = t(s, d, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .groupBy(col("user_id"))
        .agg(min(floor(col("ts").cast("long") / lit(604800L))
          .cast("long")).as("_wk"),
          max((col("event_type") === "purchase").cast("int")).as("_cv"))
      StatsTests.cmhTest(users, col("_wk"),
        col("user_id") % 2 === 0, col("_cv") === 1)
    }),

    // X2+/X1 — self-similarity diversity audit: mean pairwise ROUGE-2
    // F1 over a 50-doc hash sample (SF-independent TakeOrdered pick) —
    // the synthetic-data mode-collapse screen: a high mean says the
    // corpus repeats itself. Sample-sized pair frame (1225 pairs).
    "q297_self_similarity" -> ((s, d) => {
      val docs = t(s, d, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"), col("text"),
          Sampling.shuffleKey(col("doc_id"), "selfsim").as("_h"))
        .orderBy(col("_h").asc, col("doc_id").asc).limit(50)
        .select(col("doc_id"), col("text"))
      val pairs = docs.select(col("doc_id").as("_ai"),
          col("text").as("_at"))
        .join(docs.select(col("doc_id").as("_bi"),
          col("text").as("_bt")), col("_ai") < col("_bi"))
      TextOps.rougeN(pairs, col("_ai"), col("_bi"),
          col("_at"), col("_bt"), n = 2)
        .agg(countDistinct(col("a_id")).as("_na"),
          count(lit(1)).as("n_pairs"),
          count(col("f1")).as("n_scored"),
          round(sum(round(col("f1"), 9)
            .cast(org.apache.spark.sql.types.DecimalType(38, 9)))
            .cast("double") /
            count(col("f1")).cast("double"), 6).as("mean_f1"))
        .select(col("n_pairs"), col("n_scored"), col("mean_f1"))
    }),

    // X2+/S — Zipf-exponent fit over the top-1000 rank–frequency
    // head: the corpus-level naturalness screen (healthy text sits
    // near slope −1; flat = synthetic, steep = boilerplate).
    // Vocabulary-frame window, then a 1000-row OLS.
    "q292_zipf_slope" -> ((s, d) =>
      TextOps.zipfSlope(t(s, d, "documents"), "text", topN = 1000)),

    // X+/S — Goh–Barabási burstiness histogram over per-user gaps:
    // WHO clumps (bots vs humans), where q278 asks whether the pool
    // does. User-keyed lag + two hash aggregates, ≤ 21 rows out.
    "q293_burstiness_param" -> ((s, d) =>
      TimeSeries.burstinessHistogram(t(s, d, "events"),
        "user_id", "ts", "event_id", minGaps = 5)),

    // X+/S — Wilcoxon signed-rank over per-user paired means (parity
    // halves): the PAIRED complement to q177's Mann–Whitney, doubled
    // ranks over the distinct-|d| frame, integer-exact to z.
    "q294_wilcoxon" -> ((s, d) => {
      val ev = t(s, d, "events")
        .filter(col("user_id").isNotNull && col("value").isNotNull)
      def half(even: Boolean) = ev
        .filter(if (even) col("event_id") % 2 === 0
          else col("event_id") % 2 =!= 0)
        .groupBy(col("user_id"))
        .agg((sum(round(col("value"), 9)
          .cast(org.apache.spark.sql.types.DecimalType(38, 9)))
          .cast("double") / count(lit(1)).cast("double"))
          .as(if (even) "_ma" else "_mb"))
      StatsTests.wilcoxonSignedRank(
        half(even = true).join(half(even = false), Seq("user_id")),
        col("_ma") - col("_mb"))
    }),

    // X+/S — odds ratio with a 95% Wald interval between the parity
    // cohorts' conversion: the effect-size face of q176's z-test,
    // Haldane-corrected so every cell stays finite.
    "q289_odds_ratio" -> ((s, d) => {
      val users = t(s, d, "events")
        .filter(col("user_id").isNotNull)
        .groupBy(col("user_id"))
        .agg(max((col("event_type") === "purchase").cast("int"))
          .as("conv"))
      StatsTests.oddsRatio(
        users.filter(col("user_id") % 2 === 0),
        users.filter(col("user_id") % 2 =!= 0),
        col("conv") === 1)
    }),

    // X+/S — median survival off q180's KM curve: the one number the
    // stakeholder asks of the whole curve (NULL = most of the
    // population outlives the window — itself the finding).
    "q290_km_median" -> ((s, d) =>
      Survival.kmMedian(
        Survival.kaplanMeier(t(s, d, "events"),
          bucketSeconds = 3600L, horizonBuckets = 12))),

    // X+/S — Shewhart c-chart over daily counts: 3σ Poisson control
    // limits and special-cause flags — the monitoring gate BEFORE
    // q193's change-point modeling. One 1-row aggregate fanned back.
    "q291_c_chart" -> ((s, d) =>
      Changepoint.cChart(
        t(s, d, "events").filter(col("ts").isNotNull)
          .groupBy(to_date(col("ts")).cast("string").as("day"))
          .agg(count(lit(1)).as("n_events")),
        "day", "n_events")),

    // X+/S — Chapman capture–recapture over the event-id parity
    // samples: how many users exist that NEITHER sample saw — the
    // population estimator for overlapping crawls/windows.
    "q286_capture_recapture" -> ((s, d) => {
      val ev = t(s, d, "events")
      StatsTests.captureRecapture(
        ev.filter(col("event_id") % 2 === 0),
        ev.filter(col("event_id") % 2 =!= 0),
        col("user_id"))
    }),

    // X2+/S — Chao1 unseen-vocabulary estimate from hapax/doubleton
    // counts: does the crawl frontier still hold vocabulary, or has
    // the corpus saturated its domain? One fold over the count frame.
    "q287_chao1" -> ((s, d) =>
      TextOps.chao1(t(s, d, "documents"), "text")),

    // X+/S — delete-a-group jackknife SE for the mean event value:
    // k fold means by SUBTRACTION from one pass of decimal sums (the
    // probe-CV economics at the scalar level), portable md5 folds.
    "q288_jackknife" -> ((s, d) =>
      StatsTests.jackknifeMeanSE(t(s, d, "events"),
        col("value"), "event_id", k = 10)),

    // X+/S — seasonal strength as forecast skill on the daily series:
    // does last week beat yesterday as a predictor (MASE ratio)?
    // The gate before q230's weekday profile is trusted.
    "q283_seasonal_strength" -> ((s, d) =>
      TimeSeries.seasonalStrength(
        t(s, d, "events").filter(col("ts").isNotNull)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n_events")),
        "day", "n_events", seasonLag = 7)),

    // X+/S — Gumbel fit of monthly peak days (method of moments):
    // the once-a-year peak capacity planning should expect — the
    // tail-risk complement to q264's Grubbs and q219's Hill index.
    "q284_gumbel_maxima" -> ((s, d) =>
      StatsTests.gumbelFit(
        t(s, d, "events").filter(col("ts").isNotNull)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n_events"))
          .groupBy(date_format(col("day"), "yyyy-MM").as("month"))
          .agg(max(col("n_events")).as("max_daily")),
        col("max_daily"), returnPeriod = 12)),

    // A+/S — weekly event-mix entropy: is the SHAPE of activity
    // concentrating or diversifying week to week (the within-stream
    // drift monitor next to the two-corpus divergences)?
    "q285_mix_entropy" -> ((s, d) =>
      TimeSeries.mixEntropy(t(s, d, "events"), "ts", "event_type")),

    // A+/S — q285 through the MERGE law: parity halves' (week, type)
    // cell partials fold additively, then the identical entropy
    // derivation. SHARES q285's oracle verbatim.
    "q303_mix_merge" -> ((s, d) => {
      val ev = t(s, d, "events")
      TimeSeries.mixEntropyFromCells(
        TimeSeries.mergeMixCells(
          TimeSeries.mixCells(ev.filter(col("event_id") % 2 === 0),
            "ts", "event_type")
            .union(TimeSeries.mixCells(
              ev.filter(col("event_id") % 2 =!= 0),
              "ts", "event_type"))))
    }),

    // X2+/S — Dunning LLR collocations: the sparse-robust companion to
    // q136's PMI (a pair must be surprising AND well-attested to
    // rank). Self-consistent bigram-position marginals, TakeOrdered
    // top-k.
    "q282_llr_bigrams" -> ((s, d) =>
      TextOps.llrBigrams(t(s, d, "documents"), "text",
        minCount = 5L, k = 50)),

    // X3+/X+ — Davies–Bouldin cluster quality of the label partition
    // in embedding space (per-label worst compactness-vs-separation
    // ratio): do the labels actually carve the space? The
    // embedding-space sibling of q273's graph modularity. Label-keyed
    // aggregates; the pair frame is k²-sized.
    "q281_davies_bouldin" -> ((s, d) =>
      VectorOps.daviesBouldin(t(s, d, "embeddings"),
        "embedding", "label", "vec_id")),

    // X+/G — modularity of the nation partition over the
    // customer–supplier trade graph (disjoint node ids by parity): does
    // nationality explain who trades with whom, scored by Newman's Q —
    // the audit for any clustering the dedup/linkage families emit.
    // Integer-exact to two divisions; per-community state, 1-row out.
    "q273_modularity" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val o = t(s, d, "orders")
      val edges = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select((col("o_custkey") * 2L).as("src"),
          (col("l_suppkey") * 2L + 1L).as("dst"))
      val labels = t(s, d, "customer")
        .select((col("c_custkey") * 2L).as("node"),
          col("c_nationkey").as("nat"))
        .union(t(s, d, "supplier")
          .select((col("s_suppkey") * 2L + 1L).as("node"),
            col("s_nationkey").as("nat")))
      GraphOps.modularity(edges, "src", "dst", labels, "node", "nat")
    }),

    // X+/S — OLS influence diagnostics on the daily series: which
    // days STEER the fitted trend (leverage + Cook's D from the same
    // six moment sums as q147's fit — one 1-row aggregate fanned back,
    // the audit before the slope is believed; q233 is the robust
    // second opinion).
    "q272_influence" -> ((s, d) =>
      Trend.influence(
        t(s, d, "events").filter(col("ts").isNotNull)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n_events")),
        "day",
        x = floor(col("day").cast("timestamp").cast("long") /
          lit(86400.0)).cast("double"),
        y = col("n_events"))),

    // X+/S — Brown–Forsythe variance homogeneity across event types:
    // do the slices differ in SPREAD (the precondition pooled-variance
    // tests assume away)? Median-centered Levene z over the rank-exact
    // group median, then q231's F arithmetic on the z-frame.
    "q271_brown_forsythe" -> ((s, d) =>
      StatsTests.brownForsythe(t(s, d, "events"),
        col("event_type"), col("value"), col("event_id"))),

    // X+/S — Ljung–Box whiteness test through lag 7 on the daily
    // series: any autocorrelation left for a forecaster, pooled into
    // one cumulative statistic per lag (the per-lag companion q148
    // reads one lag of). Series-sized windows; the single aggregate
    // row fans into the lag frame by explode — never per-lag rescans.
    "q250_ljung_box" -> ((s, d) =>
      StatsTests.ljungBox(
        t(s, d, "events").filter(col("ts").isNotNull)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n_events")),
        "day", "n_events", maxLag = 7)),

    // X+/S — turning-points randomness test on the same series: the
    // oscillation lens next to q235's runs test (strict 3-point
    // extrema, ties are not turns). Closed-form moments, one z.
    "q251_turning_points" -> ((s, d) =>
      StatsTests.turningPoints(
        t(s, d, "events").filter(col("ts").isNotNull)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n_events")),
        "day", "n_events")),

    // X1+/S — duplicate-cluster size histogram: the shape of the
    // corpus's redundancy (how much mass sits in big near-dup
    // families vs singletons — the dedup-ratio forecast) from q190's
    // labels-for-all clustering; two bounded aggregates past the
    // banded-LSH pair generation.
    "q249_cluster_histogram" -> ((s, d) =>
      Dedup.clusterLabels(t(s, d, "documents"), "doc_id", "text",
          threshold = 0.6)
        .groupBy(col("cluster")).agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
        .orderBy(col("cluster_size").asc)),

    // X+/S — temporal split with a 2-day embargo (the purged
    // time-series split): per-split audit rows make the no-overlap
    // property visible — train's max day, the excluded gap, test's
    // min day. Rank-exact day cutoff, per-row assignment.
    "q248_temporal_split" -> ((s, d) =>
      Sampling.temporalSplit(t(s, d, "events"), col("ts"),
          testFraction = 0.2, embargoDays = 2)
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(floor(col("ts").cast("long") / lit(86400L)))
            .as("n_days"),
          min(floor(col("ts").cast("long") / lit(86400L)).cast("long"))
            .as("min_day"),
          max(floor(col("ts").cast("long") / lit(86400L)).cast("long"))
            .as("max_day"))
        .orderBy(col("min_day").asc)),

    // X+/S — Kendall's W across three source-quality judges (mean
    // length, volume, max length): do independent metrics agree on
    // the source ranking before any single ordering is trusted?
    // Integer-exact 4S identity, subject-frame windows.
    "q266_kendall_w" -> ((s, d) =>
      StatsTests.kendallW(
        t(s, d, "documents")
          .filter(col("source").isNotNull && col("n_chars").isNotNull)
          .groupBy(col("source"))
          .agg(
            (sum(col("n_chars")).cast("double") /
              count(lit(1)).cast("double")).as("mean_chars"),
            count(lit(1)).cast("long").as("n_docs"),
            max(col("n_chars")).as("max_chars")),
        "source",
        Seq(col("mean_chars"), col("n_docs"), col("max_chars")))),

    // X+/S — Grubbs max-outlier day: is the single worst day a
    // statistical outlier, and WHICH day (argmax via one lexicographic
    // 1-row aggregate, no sort). Series-sized.
    "q264_grubbs" -> ((s, d) =>
      StatsTests.grubbs(
        t(s, d, "events").filter(col("ts").isNotNull)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n_events")),
        "day", "n_events")),

    // A+/S — day-over-day active-set Jaccard: audience turnover (the
    // population dial behind q262's stickiness ratio). User-keyed
    // adjacent-day self-join over the distinct user-day store.
    "q265_audience_overlap" -> ((s, d) =>
      TimeSeries.activeSetOverlap(t(s, d, "events"), "user_id", "ts")),

    // A+/S — q265 through HLL sketches (the q229 whole-corpus swap):
    // one sketch per day, overlap by inclusion–exclusion — state is
    // days × 2^lgK and the user-keyed shuffle disappears. Exact below
    // the sketch promotion threshold; SHARES q265's oracle verbatim.
    "q277_hll_overlap" -> ((s, d) =>
      TimeSeries.activeSetOverlapHll(t(s, d, "events"),
        "user_id", "ts")),

    // A+/S — q168's rolling actives through the MERGE law: parity
    // halves' distinct user-day frames fold by idempotent union (the
    // q239 pattern one bucket finer), then the identical derivation.
    // SHARES q168's oracle verbatim.
    "q263_actives_merge" -> ((s, d) => {
      val ev = t(s, d, "events")
      TimeSeries.rollingFromUserDays(
        TimeSeries.mergeUserDays(
          TimeSeries.userDays(ev.filter(col("event_id") % 2 === 0),
            "user_id", "ts"),
          TimeSeries.userDays(ev.filter(col("event_id") % 2 =!= 0),
            "user_id", "ts")),
        windowDays = 7)
    }),

    // A+/S — RFM segmentation: the recency/frequency/monetary user
    // grid (555 = champions), quintiles over deterministic total
    // orders, segment-sized output (q110's rank-arithmetic contract
    // at extreme user counts).
    "q260_rfm" -> ((s, d) =>
      LogAnalytics.rfmSegments(t(s, d, "events"))),

    // A+/S — cohort LTV curve: cumulative value per cohort user by
    // week offset — the VALUE companion to q87's headcount matrix.
    // Weekly cells aggregate first; the cumulative runs per cohort
    // over the offset frame.
    "q261_cohort_ltv" -> ((s, d) =>
      LogAnalytics.cohortLtv(t(s, d, "events"))),

    // A+/S — DAU/MAU stickiness: daily actives over trailing-30-day
    // actives — the habit-vs-occasional engagement ratio, composed
    // from q168's exact rolling machinery.
    "q262_stickiness" -> ((s, d) =>
      TimeSeries.stickiness(t(s, d, "events"), "user_id", "ts",
        windowDays = 30)),

    // A+/X3+ — churn-probe weights: the classic churn baseline as a
    // ridge fit over ENGINEERED behavior features (per-type counts,
    // lifespan, volume — all relational aggregates) against the q180
    // horizon label. The oracle replays the feature engineering AND
    // residual-certifies the fit (the q184 pattern at dim 7).
    "q258_churn_probe" -> ((s, d) =>
      Probe.ridgeWeights(s,
        LogAnalytics.churnFeatures(t(s, d, "events")),
        "features", col("churned"), dim = 7, lambda = 1e-3)),

    // A+/X3+ — churn-probe report: n/mse/r2/accuracy@0.5 of the same
    // fit ("is churn linearly predictable from behavior, and how
    // well?"). Oracle replays from q258's dump (the q185 pattern).
    "q259_churn_report" -> ((s, d) =>
      Probe.report(
        LogAnalytics.churnFeatures(t(s, d, "events")),
        "features", col("churned"), dim = 7, lambda = 1e-3)),

    // A+/S — top-10 three-step journeys: the order-3 sequence-mining
    // view above q105's pairs. Double-lag user window, TYPE³-bounded
    // aggregate, TakeOrdered.
    "q257_journey_trigrams" -> ((s, d) =>
      LogAnalytics.topJourneyTrigrams(t(s, d, "events"), k = 10)),

    // X+/E — q117's Spearman with Fisher-z error bars: the interval a
    // point correlation needs before anyone acts on it. CHAINED
    // oracle (the q238 pattern): the interval replays from q117's own
    // dumped (n, rho).
    "q256_spearman_ci" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Eval.spearmanCI(
        docs.filter(col("text").isNotNull).select(col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("long").as("ntok"),
          length(col("text")).cast("long").as("nchr")),
        "ntok", "nchr", "doc_id")
    }),

    // A+/S — whole-log session profile: bounce rate (one event and
    // gone), mean session depth, longest session — the engagement
    // dashboard row over q34's exact gap rule. User-partitioned
    // window, 1-row output.
    "q255_session_profile" -> ((s, d) =>
      LogAnalytics.sessionProfile(t(s, d, "events"),
        userCol = "user_id", tsCol = "ts", tieCol = "event_id",
        gapSeconds = 1800L)),

    // X+/S — q189's source screen under Benjamini–Yekutieli: the
    // dependence-robust FDR cut for per-source tests that share one
    // corpus baseline (every BY rejection is a BH rejection — the
    // conservative direction is visible against q189).
    "q254_by_screen" -> ((s, d) =>
      StatsTests.bySignificance(
        StatsTests.groupWelchZ(t(s, d, "documents"),
          col("source"), col("n_chars"))
          .withColumn("p", StatsTests.normalTwoSidedP(col("z"))),
        "p", "g", alpha = 0.05)
        .orderBy(col("rank").asc)),

    // X3+/S — dimension-ablation weights: ridge fits on the leading
    // 16/32/64 dims from ONE moment pass (a moment matrix's principal
    // submatrix IS the subset's moment matrix). Residual-certified
    // per budget over the subsystem equations.
    "q252_ablation_weights" -> ((s, d) =>
      Probe.ablationWeights(s, t(s, d, "embeddings"), "embedding",
          when(col("label") === 0, 1.0)
            .when(col("label").isNotNull, 0.0),
          dims = Seq(16, 32, 64), dim = 64, lambda = 1e-3)
        .orderBy(col("dims_used").asc, col("idx").asc)),

    // X3+/S — the ablation curve: in-sample fit quality per leading-
    // dimension budget — how many dimensions carry the linearly
    // accessible signal? (the compression axis next to q247's data
    // axis). Oracle replays from q252's dump.
    "q253_ablation_curve" -> ((s, d) =>
      Probe.ablationCurve(t(s, d, "embeddings"), "embedding",
        when(col("label") === 0, 1.0)
          .when(col("label").isNotNull, 0.0),
        dims = Seq(16, 32, 64), dim = 64, lambda = 1e-3)),

    // X3+/S — learning-curve weights: one ridge fit per stratum
    // PREFIX (strata 0, 0-1, 0-2 of vec_id%4; stratum 3 held out) —
    // prefix moments are cumulative sums of the per-stratum cells,
    // one corpus pass for all fits. Residual-certified per prefix.
    "q246_learning_weights" -> ((s, d) =>
      Probe.learningCurveWeights(s, t(s, d, "embeddings"), "embedding",
          when(col("label") === 0, 1.0)
            .when(col("label").isNotNull, 0.0),
          stratum = pmod(col("vec_id"), lit(4)), dim = 64,
          lambda = 1e-3)
        .orderBy(col("train_upto").asc, col("idx").asc)),

    // X3+/S — the learning curve itself: each prefix fit evaluated on
    // the FIXED held-out stratum — is the probe still improving with
    // data, or has the linear signal saturated? (the scaling-law
    // instrument, measured not extrapolated). Oracle replays from
    // q246's dump.
    "q247_learning_curve" -> ((s, d) =>
      Probe.learningCurve(t(s, d, "embeddings"), "embedding",
        when(col("label") === 0, 1.0)
          .when(col("label").isNotNull, 0.0),
        stratum = pmod(col("vec_id"), lit(4)), dim = 64,
        lambda = 1e-3)),

    // X3+/S — k-fold probe cross-validation, weights face: three
    // leave-one-fold-out ridge fits from ONE corpus pass — fold f's
    // training moments are (total − fold f) by exact cell subtraction
    // of the q207 scaled-decimal partials, never a re-scan. The
    // oracle residual-certifies each fold's weights against its own
    // replayed train normal equations (the q184 pattern × k).
    "q244_probe_cv" -> ((s, d) =>
      Probe.crossValWeights(s, t(s, d, "embeddings"), "embedding",
          when(col("label") === 0, 1.0)
            .when(col("label").isNotNull, 0.0),
          fold = pmod(col("vec_id"), lit(3)), dim = 64, lambda = 1e-3)
        .orderBy(col("fold").asc, col("idx").asc)),

    // X3+/S — k-fold probe CV, metrics face: every row scored by the
    // fit that never saw its fold (literal-weight folds dispatched by
    // a fold-keyed when-chain, zero shuffle), per-fold held-out
    // mse/r2/accuracy. The oracle replays everything downstream of
    // the solves from q244's dump (the q185 pattern).
    "q245_probe_cv_report" -> ((s, d) =>
      Probe.crossValReport(t(s, d, "embeddings"), "embedding",
        when(col("label") === 0, 1.0)
          .when(col("label").isNotNull, 0.0),
        fold = pmod(col("vec_id"), lit(3)), dim = 64, lambda = 1e-3)),

    // X+/S — exponentially-decayed event counts (half-life 7 days):
    // the trending detector a plain count can't express — per-event
    // exp terms fold as a PLAIN mergeable sum (unlike ewma's
    // recursion), type-sized output.
    "q241_decayed_counts" -> ((s, d) =>
      Trend.decayedCounts(t(s, d, "events"),
        col("event_type"), col("ts"), halflifeSeconds = 604800L)),

    // X+/S — Wilson lower bound per source on the length screen: rank
    // sources by reliability-adjusted quality (a 2-of-2 source must
    // not outrank a 90-of-100 one). Group-sized, one aggregate.
    "q242_wilson_bound" -> ((s, d) =>
      StatsTests.wilsonLowerBound(t(s, d, "documents"),
        col("source"), col("n_chars") >= 200)),

    // X+/S — empirical-Bayes shrinkage of the same per-source rates:
    // the method-of-moments beta prior pulls small sources toward the
    // corpus rate (the point-estimate companion to q242's bound).
    "q243_eb_shrink" -> ((s, d) =>
      StatsTests.ebShrunkRates(t(s, d, "documents"),
        col("source"), col("n_chars") >= 200)),

    // A5+/J — CMS inner-product join-size estimate: how many
    // (view, purchase) same-user pairs WOULD a join produce, answered
    // from two depth×width sketches instead of key-domain frequency
    // tables — the cardinality-planning primitive, never-undercount
    // visible against the exact size.
    "q240_cms_join_size" -> ((s, d) => {
      val ev = t(s, d, "events").filter(col("user_id").isNotNull)
      def side(tp: String) = ev.filter(col("event_type") === tp)
      val est = Sketches.cmsJoinSize(
        Sketches.cmsBuild(side("view"), col("user_id")),
        Sketches.cmsBuild(side("purchase"), col("user_id")))
      val exact = side("view").groupBy(col("user_id"))
        .agg(count(lit(1)).as("_cv"))
        .join(side("purchase").groupBy(col("user_id"))
          .agg(count(lit(1)).as("_cp")), Seq("user_id"))
        .agg(coalesce(sum(col("_cv") * col("_cp")), lit(0L))
          .as("true_join_size"))
      exact.crossJoin(broadcast(est))
        .select(col("true_join_size"), col("est_join_size"),
          (col("est_join_size") - col("true_join_size")).as("over"))
    }),

    // A+/S — q87's retention matrix through the MERGE law: the
    // parity halves' distinct user-week frames fold by idempotent
    // union (the q186 span pattern — no replay mark needed), then the
    // identical matrix derivation. SHARES q87's oracle verbatim.
    "q239_retention_merge" -> ((s, d) => {
      val ev = t(s, d, "events")
      LogAnalytics.cohortRetentionFromWeeks(
          LogAnalytics.mergeWeeks(
            LogAnalytics.userWeeks(ev.filter(col("event_id") % 2 === 0)),
            LogAnalytics.userWeeks(ev.filter(col("event_id") % 2 =!= 0))))
        .orderBy(col("cohort_week").asc_nulls_last,
          col("week_offset").asc_nulls_last)
    }),

    // A+/S — entropy rate of the user-journey Markov chain: how
    // predictable is the next action, as one scalar (perplexity = the
    // effective branching factor) — q105's matrix and q218's π folded
    // into ln-parity decimal terms over the TYPE²-sized frame.
    "q238_entropy_rate" -> ((s, d) =>
      LogAnalytics.entropyRate(t(s, d, "events"))),

    // X+/E — Cochran's Q over the full q202 screen panel: the
    // k-screen omnibus of q227's pairwise McNemar (gate first, then
    // pairwise). Exact integer aggregates, one division.
    "q236_cochran_q" -> ((s, d) => {
      val ntok = size(TextOps.tokens(col("text")))
      StatsTests.cochranQ(
        t(s, d, "documents").filter(col("text").isNotNull),
        Seq(length(col("text")) >= 200,
          ntok >= 40,
          length(col("text")) <= ntok * 8))
    }),

    // X+/S — Cramér's V on q166's event-type × weekday contingency:
    // the bounded [0,1] effect size for the χ² the test reports —
    // "significant, but is it LARGE?". Category²-bounded.
    "q237_cramers_v" -> ((s, d) =>
      StatsTests.cramersV(
        t(s, d, "events").filter(col("ts").isNotNull),
        col("event_type"),
        pmod(floor(col("ts").cast("long") / lit(86400L)), lit(7L)))),

    // X+/S — Wald–Wolfowitz runs test of the daily event-count series
    // around its rank-exact median: is there ANY structure (drift =
    // too few runs, oscillation = too many) before q147/q234 ask what
    // the structure is? Series-sized windows only.
    "q235_runs_test" -> ((s, d) =>
      StatsTests.runsTest(
        t(s, d, "events").filter(col("ts").isNotNull)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n_events")),
        "day", "n_events")),

    // X+/S — segmented trend at q193's CUSUM change point: localize,
    // then QUANTIFY — per-side OLS over the row-index clock, the
    // q147 moment algebra grouped by segment. Series-sized frames.
    "q234_segmented_trend" -> ((s, d) =>
      Changepoint.segmentedTrend(
        t(s, d, "events").filter(col("ts").isNotNull)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n_events")),
        "day", "n_events")),

    // X+/S — Theil–Sen robust slope of the daily event-count series:
    // the outlier-proof companion to q147's OLS trend (lower-median of
    // pairwise slopes — one hot day cannot drag it). Day²-sized pairs
    // under the aggregate-first series contract.
    "q233_theil_sen" -> ((s, d) =>
      Robust.theilSen(
        t(s, d, "events").filter(col("ts").isNotNull)
          .groupBy(floor(col("ts").cast("long") / lit(86400L))
            .cast("long").as("day_no"))
          .agg(count(lit(1)).as("n_events")),
        col("day_no"), col("n_events"))),

    // X+/S — one-way ANOVA F across sources on document length: the
    // omnibus gate before q189's per-source screens (k tests without
    // an omnibus invite multiplicity fishing). Exact decimal moments,
    // 12-dp between-term folds, one double chain.
    "q231_anova" -> ((s, d) =>
      StatsTests.anovaF(t(s, d, "documents"),
        col("source"), col("n_chars"))),

    // X+/S — Kruskal–Wallis H across sources on document length: the
    // rank omnibus for skewed metrics (the q177 doubled-rank lift at
    // k groups; the cumulative window runs over distinct VALUES).
    "q232_kruskal_wallis" -> ((s, d) =>
      StatsTests.kruskalWallis(t(s, d, "documents"),
        col("source"), col("n_chars"))),

    // X+/S — day-of-week seasonal index of the daily event-count
    // series (the multiplicative profile a forecaster divides out
    // before q147's trend fit; the spec-only operator promoted to the
    // oracle contract): 7-row output, exact decimal sums, two
    // divisions per row.
    "q230_seasonal_index" -> ((s, d) =>
      Changepoint.seasonalIndex(
        t(s, d, "events").filter(col("ts").isNotNull)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n_events")),
        "day", "n_events")
        .orderBy(col("dow").asc)),

    // A5+/S — q168's rolling 7-day actives through MERGEABLE HLL
    // sketches: each day reduces to ONE sketch before the window
    // fan-out, so the shuffle is day-sized (not user-day-sized) — the
    // whole-corpus swap q168's scaladoc promises, SHARING its exact
    // oracle (lgK 14 stays in exact mode at harness cardinality).
    "q229_rolling_hll" -> ((s, d) =>
      TimeSeries.rollingDistinctUsersHll(
        t(s, d, "events"), "user_id", "ts", windowDays = 7)),

    // X+/E — McNemar's paired test on two q202 screens: the length
    // screen vs the repetition screen disagree on some docs — is the
    // disagreement one-sided (one screen strictly laxer)? Discordant
    // cells only, one aggregate, scale-free.
    "q227_mcnemar" -> ((s, d) => {
      val ntok = size(TextOps.tokens(col("text")))
      StatsTests.mcnemar(
        t(s, d, "documents").filter(col("text").isNotNull),
        length(col("text")) >= 200,
        length(col("text")) <= ntok * 8)
    }),

    // X+/S — Lorenz curve of corpus volume over sources: the
    // point-by-point view behind q179's Gini scalar ("the bottom k
    // sources hold x% of the docs"), ascending-rank cumulative shares
    // over the group-cardinality frame.
    "q228_lorenz" -> ((s, d) =>
      StatsTests.lorenzCurve(t(s, d, "documents"), col("source"))),

    // X+/S — log-rank (Mantel–Cox) churn test between the q176 user
    // arms: do even- and odd-id users leave on the same hazard? The
    // significance gate for q180's KM curves — hypergeometric
    // variance terms folded as 12-dp decimals, lifetime-space windows
    // only (the kaplanMeier bounded contract).
    "q226_log_rank" -> ((s, d) => {
      val spans = Survival.userSpans(t(s, d, "events"),
        bucketSeconds = 3600L)
      Survival.logRank(
        spans.filter(col("user") % 2 === 0),
        spans.filter(col("user") % 2 =!= 0),
        horizonBuckets = 12)
    }),

    // A+/S — HITS top authorities over the customer→part purchase
    // graph (which parts do the heaviest buyers concentrate on?): two
    // unnormalized mutual-reinforcement rounds — exact integer scores,
    // rank-invariant to the skipped normalization — each half-round
    // one edge join + hash agg (the pageRank step shape), TakeOrdered
    // top-10.
    "q224_hits" -> ((s, d) =>
      GraphOps.hits(
        t(s, d, "orders").join(t(s, d, "lineitem"),
          col("o_orderkey") === col("l_orderkey")),
        "o_custkey", "l_partkey", iters = 2, topK = 10)),

    // X+/S — power analysis for the q176 A/B design: the minimum
    // detectable absolute lift at the observed arm sizes and the
    // required per-arm n for a 10% relative lift (α=.05 two-sided,
    // power .8, constants pinned). Two 1-row aggregates — scale-free.
    "q225_ab_power" -> ((s, d) => {
      val users = t(s, d, "events")
        .filter(col("user_id").isNotNull)
        .groupBy(col("user_id"))
        .agg(max((col("event_type") === "purchase").cast("int"))
          .as("conv"))
      StatsTests.abPower(
        users.filter(col("user_id") % 2 === 0),
        users.filter(col("user_id") % 2 =!= 0),
        col("conv") === 1)
    }),

    // X+/E — Krippendorff's alpha over the q202 quality-screen panel
    // with a genuinely ABSTAINING rater (the token screen passes on
    // sub-100-char docs): the agreement coefficient for incomplete
    // rating matrices Fleiss can't score — lcm-scaled integer
    // aggregates, three output divisions total.
    "q223_krippendorff" -> ((s, d) => {
      val ntok = size(TextOps.tokens(col("text")))
      Eval.krippendorffAlphaBinary(
        t(s, d, "documents").filter(col("text").isNotNull),
        Seq(length(col("text")) >= 200,
          when(col("n_chars") >= 100, ntok >= 40),
          length(col("text")) <= ntok * 8))
    }),

    // X+/E — isotonic (PAV) calibration over q131's reliability bins:
    // the monotone recalibrator q132's ECE diagnoses the need for,
    // via the minimax identity (max-min over block averages) instead
    // of the serial pooling loop — three bounded relational steps on
    // the BIN-sized frame, one corpus pass.
    "q220_isotonic" -> ((s, d) =>
      Eval.isotonicCalibration(
          t(s, d, "embeddings").filter(col("vec_id") < 1000)
            .select(
              ((element_at(col("embedding"), 1).cast("double") + 1.0) / 2.0)
                .as("conf"),
              (col("label") === 0).cast("int").as("is_pos")),
          "conf", "is_pos", bins = 10)
        .orderBy(col("bin").asc_nulls_last)),

    // A5+/S — count-min sketch point estimates vs exact truth for the
    // top-10 users: the REPLAYABLE mergeable frequency summary (q58's
    // opaque-sketch counterpart) — Carter-Wegman bucket arithmetic the
    // oracle reproduces cell-for-cell, never-undercount visible in the
    // `over` column (1500 keys into 64 buckets collide by design).
    "q221_cms_estimate" -> ((s, d) => {
      val keys = t(s, d, "events").filter(col("user_id").isNotNull)
      val sketch = Sketches.cmsBuild(keys, col("user_id"))
      val top = keys.groupBy(col("user_id"))
        .agg(count(lit(1)).as("exact_n"))
        .orderBy(col("exact_n").desc, col("user_id").asc)
        .limit(10)
      top.join(
          Sketches.cmsEstimate(sketch, top.select("user_id"), "user_id"),
          Seq("user_id"))
        .select(col("user_id"), col("exact_n"), col("est_n"),
          (col("est_n") - col("exact_n")).as("over"))
        .orderBy(col("user_id").asc)
    }),

    // A5+/S — q221 through the MERGE law: per-event-type sub-sketches
    // folded element-wise (CMS linearity — the persist-per-partition
    // workflow), then the identical readout. SHARES q221's oracle
    // verbatim: the fold loses nothing by construction.
    "q222_cms_merge" -> ((s, d) => {
      val keys = t(s, d, "events").filter(col("user_id").isNotNull)
      val sketch = Sketches.cmsMerge(
        Sketches.cmsBuildPartitioned(keys, col("event_type"),
            col("user_id"))
          .drop("part"))
      val top = keys.groupBy(col("user_id"))
        .agg(count(lit(1)).as("exact_n"))
        .orderBy(col("exact_n").desc, col("user_id").asc)
        .limit(10)
      top.join(
          Sketches.cmsEstimate(sketch, top.select("user_id"), "user_id"),
          Seq("user_id"))
        .select(col("user_id"), col("exact_n"), col("est_n"),
          (col("est_n") - col("exact_n")).as("over"))
        .orderBy(col("user_id").asc)
    }),

    // X+/S — CUSUM change-point localization over the daily event-count
    // series: exact decimal cumulatives, one double chain per row for
    // the standardized excursion, argmax flag with first-day tiebreak.
    // Windows run over DAYS (30 rows at any SF) — the aggregate-first
    // series contract.
    "q193_cusum" -> ((s, d) =>
      Changepoint.cusum(
        t(s, d, "events").filter(col("ts").isNotNull)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n_events")),
        "day", "n_events")
        .orderBy(col("day").asc)),

    // X+/S — effect size of purchase-vs-click values: Cohen's d on the
    // pooled SD + Hedges' g, exact 9-dp decimal moments per side (one
    // aggregate each), closed forms in one IEEE chain.
    "q194_effect_size" -> ((s, d) => {
      val ev = t(s, d, "events")
      StatsTests.effectSize(
        ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") === "click"),
        col("value"))
    }),

    // X2+ — distinct-2 diversity per language: the generation-eval
    // uniqueness metric as a corpus facet (template-heavy slices score
    // low). One explode + two hash aggregates, lang-sized output.
    "q195_distinct_ngrams" -> ((s, d) =>
      TextOps.ngramDiversity(t(s, d, "documents"), "lang", "text", n = 2)
        .orderBy(col("lang").asc)),

    // X+/S — per-user burstiness over the hourly grid: Fano factor and
    // Goh–Barabási B from exact bucket moments (zero-hours enter by
    // arithmetic, never materialized). Two hash aggregates, user-sized.
    "q196_burstiness" -> ((s, d) =>
      StatsTests.burstiness(t(s, d, "events").filter(col("ts").isNotNull),
        col("user_id"), date_trunc("hour", col("ts")))
        .withColumnRenamed("entity", "user_id")
        .orderBy(col("user_id").asc)),

    // X+/S — split conformal prediction bands per event type: the
    // group-mean predictor from the md5-hash calibration half, the
    // rank-exact Vovk quantile of its residuals, and the test-half
    // empirical coverage self-audit. Group-partitioned windows only.
    "q197_conformal" -> ((s, d) => {
      val ev = Sampling.hashSplit(
        t(s, d, "events").filter(col("value").isNotNull),
        col("event_id").cast("string"), Seq("cal", "test"), Seq("8"))
      Conformal.splitConformal(
        ev.filter(col("split") === "cal"),
        ev.filter(col("split") === "test"),
        "event_type", "value", "event_id", alpha = 0.1)
        .orderBy(col("event_type").asc)
    }),

    // X+/J — phonetic (Soundex) block census over part names: the
    // blocking-quality audit before record linkage. Pure builtin
    // string-op projection (translate + regexp collapse) + one hash
    // aggregate; code-space-sized output.
    "q198_phonetic_blocks" -> ((s, d) =>
      RecordLinkage.phoneticBlocks(t(s, d, "part"), col("p_name"))
        .orderBy(col("block").asc)),

    // X1+/§2.9 — Jaro–Winkler similarity pairs over the q102 prefix
    // blocks, scored by the native codegen'd graft_jaro_winkler: the
    // linkage-literature scorer next to the Levenshtein screen. Heads
    // are filtered to printable ASCII so the byte-wise oracle engine
    // compares the identical sequences; the keep-filter runs on the
    // 6-dp ROUNDED similarity on both sides.
    "q199_jw_pairs" -> ((s, d) =>
      FuzzyJoin.jaroWinklerPairs(
        t(s, d, "documents").filter(
          substring(col("text"), 1, 64)
            .rlike("^[\\t\\n\\r\\x20-\\x7e]*$")),
        minSim = 0.85)
        .orderBy(col("doc_id").asc, col("dup_id").asc)),

    // X+/S — MERGE LAW for the Welch screen family (the q154/q161
    // standing-state pattern): the corpus split into doc_id-parity
    // halves, per-half moment partials (n, Σv, Σv² decimal folds)
    // merged losslessly, then the SAME closed-form tail + BH step-up
    // as q189 — shares q189's oracle verbatim, so the law is
    // hash-certified.
    "q200_welch_merge" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val a = StatsTests.welchPartials(
        docs.filter(col("doc_id") % 2 === 0), col("source"), col("n_chars"))
      val b = StatsTests.welchPartials(
        docs.filter(col("doc_id") % 2 =!= 0), col("source"), col("n_chars"))
      StatsTests.bhSignificance(
        StatsTests.welchFromMoments(
          StatsTests.mergeWelchMoments(a.unionByName(b)))
          .withColumn("p", StatsTests.normalTwoSidedP(
            col("z"))),
        "p", "g", alpha = 0.05)
        .orderBy(col("rank").asc)
    }),

    // X4 — REAL BMP decode end-to-end, the third hand-parseable codec
    // through the q120/q121 batch core: per-doc uncompressed 24-bit
    // BMPs with little-endian headers and VARYING row padding (w = 3,
    // 4, 5 ⇒ pads 3, 0, 1 — the layout feature Netpbm lacks), pixels
    // from an integer formula in storage (B,G,R) order. The oracle
    // recomputes the per-channel moments from the same formula without
    // parsing a byte, so a header/stride/pad bug breaks the hash.
    "q201_bmp_decode" -> ((s, d) => {
      def le16h(c: Column): Column = concat(
        lpad(hex(pmod(c, lit(256L))), 2, "0"),
        lpad(hex(pmod(shiftright(c, 8), lit(256L))), 2, "0"))
      def le32h(c: Column): Column =
        concat(le16h(pmod(c, lit(65536L))), le16h(shiftright(c, 16)))
      val w = lit(3L) + pmod(col("doc_id"), lit(3L))
      val h = lit(2L) + pmod(col("doc_id"), lit(2L))
      val pad = pmod(lit(4L) - pmod(w * 3, lit(4L)), lit(4L))
      val stride = w * 3 + pad
      val headerHex = concat(
        lit("424D"), le32h(lit(54L) + stride * h), // bfSize
        lit("00000000"), le32h(lit(54L)),          // reserved, bfOffBits
        le32h(lit(40L)), le32h(w), le32h(h),       // biSize, w, h (bottom-up)
        lit("0100"), lit("1800"),                  // planes 1, 24-bit
        lit("00000000"), le32h(stride * h),        // BI_RGB, biSizeImage
        lit("00000000"), lit("00000000"),          // ppm x/y
        lit("00000000"), lit("00000000"))          // colors used/important
      val rasterHex = array_join(
        transform(sequence(lit(0L), h - 1), y => concat(
          array_join(transform(sequence(lit(0L), w * 3 - 1), j =>
            lpad(hex(pmod(col("doc_id") * 37 + (y * w * 3 + j) * 11,
              lit(256L))), 2, "0")), ""),
          lit("000000").substr(lit(1), (pad * 2).cast("int")))), "")
      val assets = t(s, d, "documents").select(col("doc_id"),
        unhex(concat(headerHex, rasterHex)).as("payload"))
      new BmpDecoder().decode(assets, "payload", "f")
        .select(col("doc_id"),
          element_at(col("f"), 1).cast("long").as("width"),
          element_at(col("f"), 2).cast("long").as("height"),
          round(element_at(col("f"), 3)
            / (element_at(col("f"), 1) * element_at(col("f"), 2)), 6)
            .as("mean_b"),
          round(element_at(col("f"), 5)
            / (element_at(col("f"), 1) * element_at(col("f"), 2)), 6)
            .as("mean_g"),
          round(element_at(col("f"), 7)
            / (element_at(col("f"), 1) * element_at(col("f"), 2)), 6)
            .as("mean_r"),
          round(element_at(col("f"), 4)
            / (element_at(col("f"), 1) * element_at(col("f"), 2)), 6)
            .as("ms_b"))
        .orderBy(col("doc_id").asc_nulls_last)
    }),

    // X+/E — Fleiss' kappa across three REAL keep/drop quality screens
    // (char floor, token floor, mean-token-length cap as an integer
    // inequality — no division): the multi-rater curation audit "do my
    // filters agree beyond what their base rates force?". Integer-exact
    // until three final divisions.
    "q202_fleiss_kappa" -> ((s, d) => {
      val ntok = size(TextOps.tokens(col("text")))
      Eval.fleissKappaBinary(
        t(s, d, "documents").filter(col("text").isNotNull),
        Seq(length(col("text")) >= 200,
          ntok >= 40,
          length(col("text")) <= ntok * 8))
    }),

    // X+/S — deterministic Poisson-bootstrap CI for mean document
    // length: error bars for a corpus metric from 200 md5-seeded
    // resamples (per-row factorizing weights — the scale-out
    // bootstrap), decimal replicate folds, rank-exact percentile picks.
    "q203_bootstrap_ci" -> ((s, d) =>
      StatsTests.bootstrapMeanCI(
        t(s, d, "documents"), col("n_chars"), "doc_id", b = 200)),

    // X+ — q142's temperature rates as a pure frame computation (zero
    // driver collect — the shape that survives domain-cardinality
    // strata): same α = 0.7 / target 250 chain as q142's Map form, so
    // the two faces are law-bound (SamplingSpec pins frame == Map).
    "q204_temperature_mix" -> ((s, d) =>
      Sampling.temperatureRatesFrame(
          t(s, d, "documents").filter(col("text").isNotNull),
          "source", alpha = 0.7, target = 250L)
        .orderBy(col("g").asc_nulls_last)),

    // X3+ — top principal component of the embedding corpus: ONE
    // distributed pass (the q184 scaled-long moment Aggregator, reused)
    // then driver-side power iteration on the d×d covariance — the
    // anisotropy/health probe of the representation. The oracle
    // recomputes the covariance from the same 12-dp decimal folds and
    // certifies the dump IS a unit eigenpair with the claimed λ and
    // trace (λ ≥ max diagonal — the q184 residual-check pattern).
    "q206_pca_top" -> ((s, d) =>
      Pca.topComponentFrame(s, t(s, d, "embeddings"), "embedding",
          dim = 64)
        .orderBy(col("idx").asc)),

    // X+/S — Hill tail-index of per-user activity: how heavy is the
    // user-volume tail (the skew q106 profiles, as one calibrated
    // scalar)? Top-(k+1) order statistics via TakeOrdered, decimal
    // log-ratio folds. k = 10 fits every SF (>= 15 users at sf0.001).
    "q219_hill_tail" -> ((s, d) =>
      StatsTests.hillTailIndex(
        t(s, d, "events").filter(col("user_id").isNotNull)
          .groupBy(col("user_id")).agg(count(lit(1)).as("n_events")),
        col("n_events"), "user_id", k = 10)),

    // A+/S — stationary distribution of the user-journey Markov chain
    // (the long-run view of q105's one-step transitions): dangling
    // states get the uniform PageRank fix, the iteration is
    // driver-side on the event-type² matrix, and the oracle certifies
    // the dump IS stationary (π·P = π — the q206 residual pattern).
    "q218_stationary_dist" -> ((s, d) =>
      LogAnalytics.stationaryDistribution(t(s, d, "events"))
        .orderBy(col("state").asc)),

    // X+/S — per-source KS screen: which sources' document-length
    // DISTRIBUTIONS deviate from the rest of the corpus (the
    // nonparametric companion to q189's Welch location screen)?
    // Category×value-cardinality grid, group-partitioned cumulatives.
    "q217_group_ks" -> ((s, d) =>
      StatsTests.groupKsD(t(s, d, "documents"),
          col("source"), col("n_chars"))
        .orderBy(col("d").desc_nulls_last, col("g").asc)),

    // X1+ — provenance overlap matrix: which SOURCES copy from each
    // other? q20's verified near-dup pairs joined to the source dim on
    // both sides, normalized to unordered source pairs — the curation
    // view that turns pair-level dedup output into a per-source
    // contract (diagonal = within-source duplication).
    "q216_source_overlap" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val src = docs.filter(col("source").isNotNull)
        .select(col("doc_id"), col("source"))
      Dedup.nearDuplicatePairs(docs, "doc_id", "text", threshold = 0.6)
        .join(src.select(col("doc_id").as("a_id"),
          col("source").as("_sa")), "a_id")
        .join(src.select(col("doc_id").as("b_id"),
          col("source").as("_sb")), "b_id")
        .select(least(col("_sa"), col("_sb")).as("source_a"),
          greatest(col("_sa"), col("_sb")).as("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("n_pairs").desc, col("source_a").asc,
          col("source_b").asc)
    }),

    // X1+/S — the containment screen against a PERSISTED posting index
    // (the q75/q111 amortization): a held-out seventh screens against
    // the other six-sevenths' postings; document frequencies stay
    // corpus-wide, historical pairs never recompute. The oracle is
    // q208's computation restricted to pairs involving the batch.
    "q214_containment_screen" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val idx = Dedup.buildContainmentIndex(
        docs.filter(pmod(col("doc_id"), lit(7L)) =!= 0L),
        "doc_id", "text")
      Dedup.containmentScreenIndexed(
          docs.filter(pmod(col("doc_id"), lit(7L)) === 0L), idx,
          "doc_id", "text", threshold = 0.5)
        .orderBy(col("a_id").asc, col("b_id").asc)
    }),

    // X+ — per-group weighted sample: the q164 exponential keys ranked
    // inside group-partitioned windows — every source's 3 best-keyed
    // docs, fully shuffle-parallel on the group key.
    "q215_weighted_group_take" -> ((s, d) =>
      Sampling.weightedTakePerGroup(
          t(s, d, "documents").filter(col("source").isNotNull),
          "source", col("n_chars"), "doc_id", k = 3)
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("es_key"))
        .orderBy(col("source").asc, col("es_key").desc,
          col("doc_id").asc)),

    // X3+/S — PCA over MERGED moment partials (the q207 law applied to
    // the spectrum face): parity halves' (i, j, s) frames fold, the
    // driver tail decomposes the fold — certified by q206's eigenpair
    // residual oracle against THIS dump. A standing moment index yields
    // the corpus component with zero corpus re-scan.
    "q212_pca_merge" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val a = Probe.momentPartials(
        emb.filter(col("vec_id") % 2 === 0), "embedding", lit(0.0), 64)
      val b = Probe.momentPartials(
        emb.filter(col("vec_id") % 2 =!= 0), "embedding", lit(0.0), 64)
      Pca.topComponentFrameFromMoments(s,
        Probe.mergeMoments(a.unionByName(b)), dim = 64)
        .orderBy(col("idx").asc)
    }),

    // X2+ — Good–Turing frequency-of-frequencies profile: the unseen-
    // probability mass (singleton share) and smoothed counts
    // r* = (r+1)·N_{r+1}/N_r for the low frequencies — the coverage
    // companion to the q191 vocab audit (how much corpus probability
    // lives in words we have NOT seen yet?). Integer counts, three
    // final divisions.
    "q213_good_turing" -> ((s, d) =>
      TextOps.goodTuring(t(s, d, "documents"), "text", rMax = 5,
        gramN = 3)),

    // X3+ — all-but-the-top removal report: project every centered
    // embedding onto q206's component (plan-literal mean + component
    // from the SAME moment pass) and report the anisotropy share that
    // removal deletes. Everything downstream of the decomposition is
    // replayed by the oracle from q206's dump (the q184→q185 pattern).
    "q211_abtt_report" -> ((s, d) =>
      Pca.removalReport(t(s, d, "embeddings"), "embedding", dim = 64)),

    // X+/S — lead–lag cross-correlation between the daily view and
    // purchase series: which stream moves first? Bucket-key equi-joins
    // only (the lag fan-out is a 7-row broadcast) — nothing
    // single-partition.
    "q209_cross_corr" -> ((s, d) => {
      val ev = t(s, d, "events").filter(col("ts").isNotNull)
      def daily(et: String) = ev.filter(col("event_type") === et)
        .groupBy(datediff(to_date(col("ts")), lit("1970-01-01"))
          .as("day_idx"))
        .agg(count(lit(1)).as("cnt"))
      Trend.crossCorr(daily("view"), daily("purchase"),
          "day_idx", "cnt", maxLag = 3)
        .orderBy(col("lag").asc)
    }),

    // X+/S — periodogram power of the daily event series at candidate
    // periods (weekly? biweekly?): mean-centered cycle projections with
    // mod-reduced trig arguments, decimal term folds.
    "q210_periodogram" -> ((s, d) =>
      Trend.periodogram(
        t(s, d, "events").filter(col("ts").isNotNull)
          .groupBy(datediff(to_date(col("ts")), lit("1970-01-01"))
            .as("day_idx"))
          .agg(count(lit(1)).as("cnt")),
        "day_idx", "cnt", periods = Seq(3, 5, 7, 14))
        .orderBy(col("period").asc)),

    // X1+ — asymmetric containment pairs over a df-capped shingle
    // posting-list join: the quote/subset detector Jaccard-LSH can't
    // see (tiny union, one-sided overlap). Exact full-set verify on
    // candidates only; 6-dp rounding before the threshold.
    "q208_containment" -> ((s, d) =>
      Dedup.containmentPairs(t(s, d, "documents"), "doc_id", "text",
          threshold = 0.5, n = 3, maxDf = 64)
        .orderBy(col("a_id").asc, col("b_id").asc)),

    // X3+/S — MERGE LAW for the normal-equation moment family: the
    // corpus split into vec_id-parity halves, per-half additive moment
    // partials (the q184 Aggregator buffer as an (i, j, s) frame)
    // folded losslessly, then the SAME driver solve — certified by
    // q184's A·w = b residual oracle run against THIS dump.
    "q207_probe_merge" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val y = when(col("label") === 0, 1.0)
        .when(col("label").isNotNull, 0.0)
      val a = Probe.momentPartials(
        emb.filter(col("vec_id") % 2 === 0), "embedding", y, dim = 64)
      val b = Probe.momentPartials(
        emb.filter(col("vec_id") % 2 =!= 0), "embedding", y, dim = 64)
      Probe.ridgeWeightsFromMoments(s,
        Probe.mergeMoments(a.unionByName(b)), dim = 64, lambda = 1e-3)
        .orderBy(col("idx").asc)
    }),

    // X1+/X+ — n-gram novelty of a held-out tenth against the rest:
    // the substring-granular memorization/contamination screen (q79's
    // window census machinery, anti-membership instead of multiplicity).
    "q205_span_novelty" -> ((s, d) => {
      val docs = t(s, d, "documents")
      SpanDedup.spanNovelty(
        docs.filter(pmod(col("doc_id"), lit(10L)) === 0L),
        docs.filter(pmod(col("doc_id"), lit(10L)) =!= 0L),
        "doc_id", "text", spanLen = 8)
        .orderBy(col("doc_id").asc)
    }),

    // A1/P5 — exact distinct count
    "q01_distinct_users" -> ((s, d) =>
      LogAnalytics.distinctUsers(t(s, d, "events"))),

    // A2/P7 — grouped count (partial+final hash agg)
    "q02_requests_per_user" -> ((s, d) =>
      LogAnalytics.requestsPerUser(t(s, d, "events"), "user_id", "event_type")
        .orderBy(col("user_id").asc_nulls_last)),

    // A3/P2 — filtered global count ("HTTP 200" stand-in)
    "q03_success_count" -> ((s, d) =>
      t(s, d, "events").filter(col("event_type") === "purchase")
        .agg(count(lit(1)).as("success_count"))),

    // A4/P3/W1 — count with IS NOT NULL, limit after agg
    "q04_nonnull_count" -> ((s, d) =>
      t(s, d, "events").filter(col("user_id").isNotNull)
        .agg(count(lit(1)).as("nonnull_count")).limit(10)),

    // S3/S4/P1/P8/F1 — full CLF parse round-trip. The raw-line repartition
    // exists because the harness tables are single-row-group parquet files
    // (one scan split), which would serialize the CPU-bound parse onto one
    // core; a real ingest reads many log files (and the text source splits
    // within files), so source splits provide this parallelism and
    // ClfParser itself never repartitions. Shuffling the narrow line
    // column costs ~ms; it buys the full cluster width for the regex work.
    "q05_parse_clf" -> ((s, d) =>
      ClfParser.parse(t(s, d, "events")
          .repartition(s.sparkContext.defaultParallelism)
          .select(synthLine.as("value")))
        .select(
          col("ip_address"), col("user_id"),
          date_format(col("time"), "yyyy-MM-dd HH:mm:ss").as("time_s"),
          col("request_method"), col("request_resource"),
          col("request_protocol"), col("status_code"), col("size"),
          col("referer"))
        .orderBy(col("size").asc_nulls_last)),

    // S5/P4 — REAL partition pruning: stage events once into a
    // date-partitioned layout (cached across runs — testdata is immutable),
    // then read one day with a literal predicate; the plan lists exactly
    // one partition directory (PartitionFilters in .explain), like the
    // reference's push_down_predicate day read.
    "q06_partition_pruned_scan" -> ((s, d) => {
      val tmp = scratch("q06", d)
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(tmp)))
        Staging.stage(Staging.withDate(t(s, d, "events"), "ts"), tmp)
      // the ingest-day literal (the reference computes "today" driver-side)
      val minDate = t(s, d, "events")
        .agg(min(date_format(col("ts"), "yyyy-MM-dd"))).collect()(0).getString(0)
      Staging.readDay(s, tmp, minDate)
        .groupBy(col("date").cast("string").as("date"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("date").asc_nulls_last)
    }),

    // F2 — CLF timestamp format → parse round-trip, min/max
    "q07_ts_parse" -> ((s, d) =>
      t(s, d, "events")
        .select(try_to_timestamp(
          date_format(col("ts"), ClfParser.tsPattern),
          lit(ClfParser.tsPattern)).as("tt"))
        .agg(
          date_format(min(col("tt")), "yyyy-MM-dd HH:mm:ss").as("min_ts"),
          date_format(max(col("tt")), "yyyy-MM-dd HH:mm:ss").as("max_ts"))),

    // F3 — positional request split
    "q08_split_request" -> ((s, d) =>
      t(s, d, "events")
        .select(split(
          concat(synthMethod, lit(" /r/"), col("event_type"), lit(" HTTP/1.1")),
          " ").getItem(0).as("request_method"))
        .groupBy("request_method").agg(count(lit(1)).as("cnt"))
        .orderBy(col("request_method").asc_nulls_last)),

    // A5 — HLL++ sketch (no oracle; bounded vs q01 by rsd)
    "q09_approx_distinct" -> ((s, d) =>
      LogAnalytics.approxDistinctUsers(t(s, d, "events"))),

    // J1 — equi inner join, small dims broadcast
    "q10_join_users_dim" -> ((s, d) =>
      t(s, d, "events")
        .join(broadcast(t(s, d, "customer")),
          col("user_id") === col("c_custkey"))
        .join(broadcast(t(s, d, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name").agg(count(lit(1)).as("cnt"))
        .orderBy(col("n_name").asc_nulls_last)),

    // J2 — left anti join (NOT EXISTS)
    "q11_anti_join" -> ((s, d) =>
      t(s, d, "customer")
        .join(t(s, d, "events"), col("c_custkey") === col("user_id"), "left_anti")
        .agg(count(lit(1)).as("cnt"))),

    // W2 — ranking window top-k per key
    "q12_topk_per_user" -> ((s, d) => {
      val counts = t(s, d, "events")
        .groupBy("user_id", "event_type").agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("cnt").desc, col("event_type").asc)
      counts.withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .orderBy(col("user_id").asc_nulls_last, col("rn").asc_nulls_last)
    }),

    // X2 — JSON path extraction
    "q13_json_extract" -> ((s, d) =>
      t(s, d, "events")
        .select(get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("k").agg(count(lit(1)).as("cnt"))
        .orderBy(col("k").asc_nulls_last)),

    // X1 — exact dedup (dropDuplicates)
    "q14_dedup" -> ((s, d) =>
      t(s, d, "events").dropDuplicates("user_id", "event_type")
        .agg(count(lit(1)).as("cnt"))),

    // S10/F4 — totals row assembled in ONE scan (vs the reference's three)
    "q15_totals_row" -> ((s, d) =>
      LogAnalytics.totalsRow(
        t(s, d, "events"),
        runDate = date_format(col("ts"), "yyyy-MM-dd"),
        successPred = col("event_type") === "purchase")),

    // S7/P6/S5 — partitioned parquet stage → pruned re-read → per-day counts
    "q16_roundtrip_parquet" -> ((s, d) => {
      // per-JVM scratch path: reused within the run (overwrite-mode),
      // deleted by the scratch shutdown hook on exit (ADVICE r1)
      val tmp = scratch("q16", d)
      Staging.stage(Staging.withDate(t(s, d, "events"), "ts"), tmp)
      Staging.readAll(s, tmp)
        .withColumn("date", col("date").cast("string"))
        .groupBy("date").agg(count(lit(1)).as("cnt"))
        .orderBy(col("date").asc_nulls_last)
    }),

    // S1/S2 — source file enumeration via metadata column (no oracle)
    "q17_input_files" -> ((s, d) =>
      s.read.option("pathGlobFilter", "*.parquet")
        .parquet(s"$d/events.parquet")
        .select(col("_metadata.file_path").as("file_path"))
        .agg(count_distinct(col("file_path")).as("n_files"))),

    // X2 — tokenize + term counts (explode = built-in generator)
    "q18_token_counts" -> ((s, d) =>
      t(s, d, "documents")
        .select(explode(split(lower(col("text")), "\\s+")).as("term"))
        .filter(length(col("term")) > 0)
        .groupBy("term").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc_nulls_first, col("term").asc_nulls_last)
        .limit(20)),

    // X3/W2 — brute-force cosine top-k (no oracle; property: rank-1 = self)
    "q19_cosine_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.bruteForceTopK(emb.filter(col("vec_id") < 8), emb, k = 5)
    }),

    // X1+ — MinHash/LSH near-dup pairs, exact-Jaccard verified. The LSH
    // banding only finds candidates; the output is the deterministic set of
    // pairs with true Jaccard ≥ 0.6, so DuckDB can recompute it all-pairs.
    "q20_near_dedup" -> ((s, d) =>
      Dedup.nearDuplicatePairs(t(s, d, "documents"), "doc_id", "text",
          threshold = 0.6)
        .orderBy(col("a_id").asc_nulls_last, col("b_id").asc_nulls_last)),

    // X3+ — bucketed ANN top-k (no oracle; recall-vs-brute-force property
    // test in AnnLshSpec). Same query set as q19 so recall is comparable.
    "q21_ann_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      AnnLsh.annTopK(emb.filter(col("vec_id") < 8), emb, k = 5, dim = 64)
    }),

    // X3+ — exact embedding near-dup pairs within a blocking key (label):
    // deterministic (no LSH in the result path), so fully oracle-able.
    "q22_embedding_neardup" -> ((s, d) =>
      Similarity.nearDupPairsBlocked(t(s, d, "embeddings"),
          "vec_id", "embedding", "label", threshold = 0.40)
        .orderBy(col("a_id").asc_nulls_last, col("b_id").asc_nulls_last)),

    // X2+ — marker-word language identification, grouped
    "q23_langid" -> ((s, d) =>
      t(s, d, "documents")
        .select(TextOps.langId(col("text")).as("lang_pred"))
        .groupBy("lang_pred").agg(count(lit(1)).as("cnt"))
        .orderBy(col("lang_pred").asc_nulls_last)),

    // X2+ — per-doc quality score (length / stopword / token-shape mix)
    "q24_quality_score" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"),
          TextOps.qualityScore(col("text")).as("score"))
        .filter(col("n_tokens") > 0)
        .orderBy(col("doc_id").asc_nulls_last)),

    // X2+ — BPE-ish regex tokenization, corpus totals
    "q25_bpe_tokens" -> ((s, d) =>
      t(s, d, "documents")
        .select(explode(TextOps.bpeTokens(col("text"))).as("tok"))
        .agg(count(lit(1)).as("n_tokens"),
          count_distinct(col("tok")).as("n_distinct"))),

    // X2+ — content-addressed document fingerprint (min shingle md5)
    "q26_fingerprint" -> ((s, d) =>
      t(s, d, "documents").filter(col("doc_id") < 100)
        .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id").asc_nulls_last)),

    // X1+ — SimHash near-dup pairs via pigeonhole chunk bucketing (recall
    // is exactly 1 for hamming ≤ 3 by construction → oracle-able all-pairs;
    // the Manku WWW'07 operating point — 4 chunks × 12 bits, collision
    // floor n²/1024 vs n²/8 at the looser hamming-6/6-bit-chunk point the
    // r13 10x scale run measured quadratic)
    "q27_simhash_neardup" -> ((s, d) =>
      TextOps.simhashNearDupPairs(t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("a_id").asc_nulls_last, col("b_id").asc_nulls_last)),

    // X4 — exact binary dedup by content hash over BinaryType payloads
    "q28_binary_dedup" -> ((s, d) =>
      t(s, d, "documents")
        .select(Multimodal.syntheticPayload(col("text")).as("payload"))
        .agg(count(lit(1)).as("n_assets"),
          count_distinct(Multimodal.contentHash(col("payload"))).as("n_distinct"))),

    // X4 — multimodal metadata accounting: per-mime byte totals, content
    // dedup, and frame-slice counts over binary payloads
    "q29_multimodal_meta" -> ((s, d) =>
      t(s, d, "documents")
        .select(concat(lit("text/"), col("lang")).as("mime"),
          Multimodal.syntheticPayload(col("text")).as("payload"))
        .groupBy("mime")
        .agg(count(lit(1)).as("n_assets"),
          sum(Multimodal.byteLength(col("payload"))).as("total_bytes"),
          count_distinct(Multimodal.contentHash(col("payload"))).as("n_distinct_content"),
          sum(size(Multimodal.frames(col("payload"), 64)).cast("long")).as("n_frames"))
        .orderBy(col("mime").asc_nulls_last)),

    // X3+ — per-label embedding centroids, one value per (label, dim):
    // posexplode → partial+final avg, map-side combined; no array
    // reassembly, no collect. Rounded to 6 dp (cross-partition float-sum
    // order makes ~1e-16 noise; rounding absorbs it for the oracle).
    "q30_centroids" -> ((s, d) =>
      t(s, d, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("label"), col("pos").cast("long").as("pos"))
        .agg(round(avg(col("v").cast("double")), 6).as("c"))
        .orderBy(col("label").asc_nulls_last, col("pos").asc_nulls_last)),

    // §2.7 — set operations: EXCEPT / INTERSECT / UNION over user-id sets
    "q31_set_ops" -> ((s, d) => {
      def users(et: String) = t(s, d, "events")
        .filter(col("event_type") === et).select("user_id").distinct()
      val purch = users("purchase"); val err = users("error")
      purch.except(err).agg(lit("except").as("op"), count(lit(1)).as("cnt"))
        .unionAll(purch.intersect(err)
          .agg(lit("intersect").as("op"), count(lit(1)).as("cnt")))
        .unionAll(purch.unionAll(err).distinct()
          .agg(lit("union").as("op"), count(lit(1)).as("cnt")))
        .orderBy(col("op").asc_nulls_last)
    }),

    // §2.8 — rollup: per-event-type counts plus the grand-total row
    "q32_rollup" -> ((s, d) =>
      t(s, d, "events")
        .rollup(col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("event_type").asc_nulls_last)),

    // X3+ — IVF ANN: coarse-quantizer cells + nprobe probing (no oracle;
    // recall ≥ 0.9 property in AnnIvfSpec — 0.925 measured at nprobe 10/16)
    "q33_ivf_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val centroids = AnnIvf.trainCentroids(emb, k = 16, iters = 2)
      AnnIvf.annTopK(emb.filter(col("vec_id") < 8), emb, centroids,
        kNeighbors = 5, nprobe = 10)
    }),

    // W+ — batch sessionization: lag + running-sum window (the analytic
    // window family beyond ranking; batch twin of the streaming sessionizer)
    "q34_session_counts" -> ((s, d) =>
      LogAnalytics.sessionCounts(t(s, d, "events"),
          userCol = "user_id", tsCol = "ts", tieCol = "event_id",
          gapSeconds = 1800L)
        .orderBy(col("user_id").asc_nulls_last)),

    // X2+ — structured JSON parsing into MapType + map explode (the typed
    // counterpart of q13's path extraction). The parsed map is materialized
    // (lineage cut) before the explode: InferFiltersFromGenerate +
    // projection collapse otherwise evaluate from_json 3× per row (twice in
    // the inferred size/isnotnull generator filter, once in the projection)
    // — invisible on toy props, 3× the dominant cost when props is a real
    // multi-KB document. After the cut the plan holds exactly ONE from_json.
    "q35_json_map" -> ((s, d) =>
      Materialize.cut(
        t(s, d, "events")
          .filter(col("props").isNotNull)
          .select(from_json(col("props"), lit("MAP<STRING, BIGINT>")).as("m")))
        .select(explode(col("m")).as(Seq("key", "v")))
        .groupBy("key")
        .agg(count(lit(1)).as("cnt"), sum(col("v")).as("sum_v"))
        .orderBy(col("key").asc_nulls_last)),

    // J+ — star-schema join over the big fact table. The big-big pair
    // (lineitem ⋈ orders) is left to the planner: at harness scale orders
    // fits the auto-broadcast threshold; at cluster scale the same
    // declarative plan becomes a shuffle join — that choice is Catalyst's,
    // which is the point. Dims are broadcast explicitly. Revenue summed as
    // exact integral 1e-4 units (per-item round to long) so the aggregate
    // is order-independent.
    "q36_star_join" -> ((s, d) =>
      t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, d, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name", "o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 10000d, 0)
            .cast("long")).as("revenue_e4"))
        .orderBy(col("n_name").asc_nulls_last, col("o_orderpriority").asc_nulls_last)),

    // X1+ — TRANSITIVE near-dup dedup: connected components (bounded
    // min-label propagation) over the exact-Jaccard-verified pair graph,
    // one survivor (least id) per component. Deterministic like q20 — LSH
    // affects only candidate recall — so DuckDB can recompute it all-pairs
    // and close the graph with a recursive CTE.
    "q37_dedup_survivors" -> ((s, d) =>
      Dedup.dedupTransitive(t(s, d, "documents"), "doc_id", "text",
          threshold = 0.6)
        .select(col("doc_id"))
        .orderBy(col("doc_id").asc_nulls_last)),

    // X2+ — repetition/duplication quality signals (Gopher-style): every
    // metric is per-row HOF arithmetic — the whole query is a projection,
    // zero shuffles before the output sort
    "q38_repetition" -> ((s, d) => {
      val toks = TextOps.tokens(col("text"))
      t(s, d, "documents")
        .select(
          col("doc_id"),
          size(toks).cast("long").as("n_words"),
          size(array_distinct(toks)).cast("long").as("n_distinct_words"),
          TextOps.dupWordFrac(col("text")).as("dup_word_frac"),
          TextOps.topBigramCount(col("text")).as("top_bigram_cnt"))
        .withColumn("top_bigram_frac",
          when(col("n_words") > 1,
            col("top_bigram_cnt").cast("double")
              / (col("n_words") - 1L).cast("double"))
            .otherwise(lit(0.0d)))
        .orderBy(col("doc_id").asc_nulls_last)
    }),

    // X1+/X3+ — benchmark contamination screen: 5-gram shingle overlap of
    // each non-benchmark doc against the broadcast benchmark shingle set
    // (benchmark = doc_id % 97, a deterministic stand-in eval suite)
    "q39_contamination" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Contamination.contamination(
          docs.filter(col("doc_id") % 97 =!= 0),
          docs.filter(col("doc_id") % 97 === 0),
          "doc_id", "text", n = 5)
        .orderBy(col("doc_id").asc_nulls_last)
    }),

    // X+ — stratified quota by stable content-hash order: exactly 20 docs
    // per language, reproducible across engines/reruns (no rand())
    "q40_stratified_sample" -> ((s, d) =>
      Sampling.stratifiedTake(t(s, d, "documents"), "lang", col("text"),
          "doc_id", k = 20)
        .select(col("doc_id"), col("lang"), col("rk"))
        .orderBy(col("lang").asc_nulls_last, col("rk").asc_nulls_last)),

    // X+ — sequence packing (concat-and-chunk into 256-token contexts,
    // hash-sharded 8 ways): one shuffle by shard, integer window arithmetic
    "q41_packing" -> ((s, d) =>
      Packing.pack(t(s, d, "documents"), "doc_id",
          size(TextOps.tokens(col("text"))), contextLen = 256L, shards = 8)
        .select("doc_id", "shard", "n_tokens", "tok_offset", "bin")
        .orderBy(col("doc_id").asc_nulls_last)),

    // S8/S9 — JDBC sink + source round-trip through embedded Derby (the
    // offline stand-in for the reference's Oracle endpoint): the aggregate
    // is written with DataFrameWriter.jdbc in overwrite mode and read back
    // with spark.read.jdbc; the oracle recomputes the aggregate directly
    // from events, so any value or type corrupted by the JDBC path
    // hash-mismatches. max (not sum) keeps the double deterministic.
    "q42_jdbc_roundtrip" -> ((s, d) => {
      val url = "jdbc:derby:memory:graft_q42;create=true"
      val props = new java.util.Properties()
      props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      val agg = t(s, d, "events").groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"), max(col("value")).as("max_value"))
      new JdbcSink(url, props).overwrite(agg, "user_event_stats")
      s.read.jdbc(url, "user_event_stats", props)
        .orderBy(col("user_id").asc_nulls_last)
    }),

    // X3+ — corpus-wide kNN self-join via IVF cells (semantic-dedup
    // primitive): within-cell equi-join, never all-pairs; partial oracle
    // recomputes every returned sim exactly and checks rank structure.
    // Cells scale √n with the corpus (suggestedCells): a fixed k made
    // the self-join quadratic — the r13 sf1 scale run measured 10× rows
    // → 103× wall at k=16; √n caps candidates at the IVF-canonical
    // nprobe·n^1.5.
    "q44_knn_join" -> ((s, d) => {
      val corpus = t(s, d, "embeddings")
      val centroids = AnnIvf.trainCentroids(corpus,
        k = AnnIvf.suggestedCells(corpus.count()))
      AnnIvf.knnJoin(corpus, centroids, kNeighbors = 3)
        .orderBy(col("q_id").asc_nulls_last, col("rank").asc_nulls_last)
    }),

    // A+/S+ — table profiling ("analyze table"): per-column null and
    // exact distinct counts in ONE scan — a single multi-distinct
    // aggregate (Catalyst plans it as one Expand + partial/final agg),
    // then a stack unpivot of the 1-row result. The declared-schema
    // companion: register() catches shape drift, this catches value drift.
    "q45_profile" -> ((s, d) => {
      val profCols = Seq("event_id", "user_id", "event_type", "value")
      val aggs = count(lit(1)).as("n_rows") +: profCols.flatMap(c => Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"),
        count_distinct(col(c)).as(s"${c}_distinct")))
      t(s, d, "events")
        .agg(aggs.head, aggs.tail: _*)
        .select(expr(
          s"stack(${profCols.size}, " + profCols.map(c =>
            s"'$c', n_rows, ${c}_nulls, ${c}_distinct").mkString(", ") +
            ") AS (col_name, n_rows, n_nulls, n_distinct)"))
        .orderBy(col("col_name").asc_nulls_last)
    }),

    // A+ — per-language token-distribution report (exact interpolated
    // percentiles): the data-mix summary a training pipeline publishes.
    // Spark's exact `percentile` and DuckDB's `quantile_cont` share the
    // (n-1)·p linear-interpolation definition, so the doubles match
    // bit-for-bit. One partial+final aggregation by lang.
    "q43_token_mix" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("lang"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          call_function("percentile", col("n_tokens"), lit(0.5d)).as("p50"),
          call_function("percentile", col("n_tokens"), lit(0.9d)).as("p90"))
        .orderBy(col("lang").asc_nulls_last)),

    // X2+/A+ — TF-IDF-shaped distinctive terms per language. The idf is
    // log-free (weight = tf/df, one correctly-rounded division of exact
    // integers) so the doubles hash-match any IEEE engine — ln is
    // libm-dependent and would break the oracle.
    "q46_distinctive_terms" -> ((s, d) =>
      TextOps.distinctiveTerms(t(s, d, "documents"), "lang", "text", k = 5)
        .orderBy(col("lang").asc_nulls_last, col("rank").asc_nulls_last)),

    // X3+ — symmetric per-vector int8 quantization with an exact
    // reconstruction-error audit; every step is an exact IEEE operation,
    // so codes, scales, and errors hash-match DuckDB's recompute.
    "q47_quantize_int8" -> ((s, d) =>
      Quantize.quantizeInt8(t(s, d, "embeddings"), "vec_id", "embedding")
        // codes serialized to one scalar: the driver's pandas comparator
        // sorts every column, and an array cell is unhashable there. A
        // NULL code array stays NULL (concat_ws alone would render "")
        // to match the oracle's array_to_string(NULL, ',') = NULL.
        .withColumn("q",
          when(col("q").isNull, lit(null).cast("string"))
            .otherwise(concat_ws(",", transform(col("q"), _.cast("string")))))
        .orderBy(col("vec_id").asc_nulls_last)),

    // S7+ — range-sorted ("cluster by") layout round-trip: write events
    // range-partitioned + sorted on (user_id, ts), then a selective
    // re-read that parquet footer min/max skipping serves from ~1 of the
    // 8 files (StagingSpec asserts the disjoint per-file key ranges).
    "q48_sorted_layout" -> ((s, d) => {
      // per-JVM scratch path: reused within the run, hook-cleaned (as q16)
      val tmp = scratch("q48", d)
      Staging.stageRangeSorted(t(s, d, "events"), tmp,
        numFiles = 8, Seq("user_id", "ts"))
      s.read.parquet(tmp)
        .filter(col("user_id").between(10L, 19L))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("cnt"), max(col("value")).as("max_value"))
        .orderBy(col("user_id").asc_nulls_last)
    }),

    // A5+ — approx percentiles (Greenwald-Khanna sketch): the
    // bounded-memory scale path next to q43's exact percentiles (exact
    // `percentile` buffers every value per group; the sketch holds
    // O(1/ε) — the difference between a report and an OOM at 100 TB).
    // Partial oracle in the q09 style: DuckDB brackets each sketch value
    // with the exact 0.45/0.55 (0.85/0.95) discrete quantiles.
    "q49_approx_quantiles" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("lang"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          call_function("approx_percentile",
            col("n_tokens"), lit(0.5d), lit(10000)).as("p50a"),
          call_function("approx_percentile",
            col("n_tokens"), lit(0.9d), lit(10000)).as("p90a"))
        .orderBy(col("lang").asc_nulls_last)),

    // X1+ — q39's contamination screen through the Bloom-pruned path:
    // same exact output (it shares q39's full oracle — false positives
    // are removed by the verify join), but the benchmark set rides as a
    // ~10-bit-per-shingle binary instead of a broadcast string table and
    // the corpus stream is pruned narrowly before any join.
    "q50_bloom_contamination" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Contamination.contaminationBloom(
          docs.filter(col("doc_id") % 97 =!= 0),
          docs.filter(col("doc_id") % 97 === 0),
          "doc_id", "text", n = 5)
        .orderBy(col("doc_id").asc_nulls_last)
    }),

    // J1+ — salted shuffle join: hot-key volume spread over 8 synthetic
    // sub-keys, small side replicated 8×; result proven identical to the
    // plain join by a plain-join oracle.
    "q51_salted_join" -> ((s, d) =>
      SkewJoin.saltedJoin(t(s, d, "events"), t(s, d, "customer"),
          "user_id", "c_custkey", saltSrc = col("event_id"), salts = 8)
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("c_mktsegment").asc_nulls_last)),

    // F+/P+ — PII scrub of the parsed log stream: /24-coarsened client
    // IP, peppered sha2-256 user token. Both are deterministic built-ins,
    // so DuckDB recomputes the scrubbed values exactly.
    "q52_anonymize" -> ((s, d) =>
      ClfParser.parse(t(s, d, "events")
          .repartition(s.sparkContext.defaultParallelism)
          .select(synthLine.as("value")))
        .select(
          Scrub.anonymizeIpv4(col("ip_address")).as("ip_masked"),
          Scrub.pseudonymizeId(col("user_id"), "graft-pepper").as("user_token"),
          col("status_code"), col("size"))
        .orderBy(col("size").asc_nulls_last)),

    // J+ — backward as-of join: each purchase matched to the same user's
    // most recent click at or before it (ties: greatest event_id). Union-tag
    // + running-window formulation — one shuffle, |L|+|R| rows through it,
    // no (purchase × earlier-click) pair blowup; the oracle computes the
    // identical join the naive way (left join + row_number prune).
    "q53_asof_join" -> ((s, d) => {
      val e = t(s, d, "events")
      AsofJoin.asofBackward(
          left = e.filter(col("event_type") === "purchase")
            .select(col("event_id"), col("user_id"), col("ts")),
          right = e.filter(col("event_type") === "click")
            .select(col("event_id"), col("user_id"), col("ts")),
          leftKey = "user_id", rightKey = "user_id",
          leftTime = "ts", rightTime = "ts",
          rightPayload = Seq("event_id", "ts"), rightTie = "event_id")
        .select(
          col("event_id").as("p_event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("p_ts"),
          col("asof_event_id").as("c_event_id"),
          date_format(col("asof_ts"), "yyyy-MM-dd HH:mm:ss").as("c_ts"))
        .orderBy(col("p_event_id").asc_nulls_last)
    }),

    // J+ — bucketized range join: events banded by value into half-open
    // [lo, hi) classes through an EQUI join on bucket id + residual bound
    // filter (never a nested-loop/cartesian plan — PlanAuditSpec asserts);
    // the oracle runs the plain BETWEEN join.
    "q54_range_join" -> ((s, d) => {
      val bands = s.range(0, 10).select(
        col("id").as("band"),
        (col("id") * 50.0d).as("lo"),
        (col("id") * 50.0d + 50.0d).as("hi"))
      RangeJoin.pointInRange(
          t(s, d, "events").select(col("event_id"), col("value")),
          "value", bands, "lo", "hi", bucketWidth = 50.0d)
        .groupBy(col("band"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("event_id")).as("sum_eid"))
        .orderBy(col("band").asc_nulls_last)
    }),

    // X2+ — overlapping token-window chunking (64-token chunks, stride
    // 48 ⇒ 16-token overlap): the long-document context-window prep step
    // as a pure narrow Generate — zero shuffles before the output sort.
    // Chunk content certified as an md5 over the rejoined tokens, which
    // the oracle recomputes with DuckDB list slicing.
    "q55_chunk" -> ((s, d) =>
      TextOps.chunkTokens(t(s, d, "documents"), "doc_id", "text",
          chunkSize = 64, stride = 48)
        .orderBy(col("doc_id").asc_nulls_last, col("chunk_id").asc_nulls_last)),

    // J+ — forward as-of join, q53's mirror: each signup matched to the
    // same user's FIRST error at or after it (nearest following event).
    // Same single-shuffle union-tag window, ordered by descending time.
    "q56_asof_forward" -> ((s, d) => {
      val e = t(s, d, "events")
      AsofJoin.asofForward(
          left = e.filter(col("event_type") === "signup")
            .select(col("event_id"), col("user_id"), col("ts")),
          right = e.filter(col("event_type") === "error")
            .select(col("event_id"), col("user_id"), col("ts")),
          leftKey = "user_id", rightKey = "user_id",
          leftTime = "ts", rightTime = "ts",
          rightPayload = Seq("event_id", "ts"), rightTie = "event_id")
        .select(
          col("event_id").as("s_event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("s_ts"),
          col("asof_event_id").as("e_event_id"),
          date_format(col("asof_ts"), "yyyy-MM-dd HH:mm:ss").as("e_ts"))
        .orderBy(col("s_event_id").asc_nulls_last)
    }),

    // J+/W2+ — keyed range join composed with sessionization: day-gap
    // click sessions per user become [start, last_click + 1 day) epoch
    // intervals — disjoint BY the gap rule (the next session starts more
    // than a day after the last click) — and each error event range-joins
    // into its own user's attribution window. The interval join is the
    // bucketized equi-join on (user, bucket) — the per-entity interval
    // case — never a nested loop.
    "q57_session_attribution" -> ((s, d) => {
      val day = 86400L
      val e = t(s, d, "events")
      val sessions = LogAnalytics.sessionIntervals(
          e.filter(col("event_type") === "click")
            .select(col("user_id"), col("ts"), col("event_id")),
          userCol = "user_id", tsCol = "ts", tieCol = "event_id",
          gapSeconds = day)
        .select(col("user_id").as("s_user"), col("session_idx"),
          col("start_ep").cast("double").as("lo"),
          (col("end_ep") + day).cast("double").as("hi"))
      val errors = e
        .filter(col("event_type") === "error" &&
          col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("event_id"), col("user_id"),
          unix_timestamp(col("ts")).cast("double").as("ep"))
      RangeJoin.pointInRange(errors, "ep", sessions, "lo", "hi",
          bucketWidth = day.toDouble, keys = Seq("user_id" -> "s_user"))
        .select(col("event_id").as("e_event_id"), col("user_id"),
          col("session_idx"))
        .orderBy(col("e_event_id").asc_nulls_last)
    }),

    // A5+ — sketch-based frequent items (DataSketches via approx_top_k):
    // the 100-TB heavy-hitters path where an exact groupBy's key space no
    // longer fits. Harness domains fit the sketch's tracked map
    // (maxItemsTracked=1024 ≥ 150 users), so no purge ever happens and the
    // sketch counts are EXACT — the oracle is the plain exact top-k, with
    // the deterministic (cnt desc, user) tie-break applied on our side of
    // the sketch output rather than trusting sketch ordering.
    "q58_heavy_hitters" -> ((s, d) =>
      t(s, d, "events")
        .filter(col("user_id").isNotNull)
        .agg(call_function("approx_top_k",
          col("user_id"), lit(200), lit(1024)).as("tk"))
        .select(explode(col("tk")).as("s"))
        .select(col("s.item").as("user_id"), col("s.count").as("cnt"))
        .orderBy(col("cnt").desc, col("user_id").asc_nulls_last)
        .limit(10)),

    // A5+ — q58 through the MERGEABLE sketch workflow: per-event-type
    // sub-sketches (accumulate) folded into one (combine) and read out
    // (estimate) — the shape a 100-TB pipeline persists per day/partition
    // and folds at query time instead of re-scanning history. SHARES
    // q58's exact oracle verbatim: combining purge-free sub-sketches
    // loses nothing.
    "q59_heavy_hitters_merge" -> ((s, d) =>
      t(s, d, "events")
        .filter(col("user_id").isNotNull)
        .groupBy(col("event_type"))
        .agg(call_function("approx_top_k_accumulate",
          col("user_id"), lit(1024)).as("sk"))
        .agg(call_function("approx_top_k_combine", col("sk"), lit(1024)).as("sk"))
        .select(explode(call_function("approx_top_k_estimate",
          col("sk"), lit(200))).as("s"))
        .select(col("s.item").as("user_id"), col("s.count").as("cnt"))
        .orderBy(col("cnt").desc, col("user_id").asc_nulls_last)
        .limit(10)),

    // S7++ — Z-ORDERED layout: files are rectangles in the
    // (l_orderkey, l_partkey) plane via a Morton-interleave sort key, so
    // parquet footer min/max skip files for selective predicates on
    // EITHER key — q48's single-key "cluster by" generalized to two
    // dimensions (StagingSpec contrasts the layouts: a k1-sort leaves k2
    // spanning the full domain in every file). The read-back filters on
    // the NON-leading key, exactly the scan a plain sort is blind to.
    // Aggregates are order-insensitive (count/max), immune to layout-
    // induced summation reorder.
    "q60_zorder_layout" -> ((s, d) => {
      // per-JVM scratch path: reused within the run, hook-cleaned (as q16)
      val tmp = scratch("q60", d)
      Staging.stageZOrdered(t(s, d, "lineitem"), tmp, numFiles = 16,
        "l_orderkey", "l_partkey")
      s.read.parquet(tmp)
        .filter(col("l_partkey").between(1L, 200L))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("cnt"),
          max(col("l_extendedprice")).as("max_price"))
        .orderBy(col("l_returnflag").asc_nulls_last)
    }),

    // W2+/A2+ — top-k per group as a MERGEABLE AGGREGATE (typed
    // Aggregator via functions.udaf): the window formulation (q12) must
    // shuffle + sort every counted row per group; the k-bounded buffer
    // ships at most k candidates per group per map task through the
    // shuffle — at 100 TB the difference between sorting the table and
    // merging kilobytes. Exactness + the partial/final ObjectHashAggregate
    // plan shape are spec'd (TopKAggSpec); deterministic
    // (cnt desc, user asc) tie-break hash-matches the row_number oracle.
    "q61_topk_agg" -> ((s, d) => {
      val topk5 = udaf(new graft.functions.TopKAggregator(5),
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[graft.functions.TopKEntry]())
      t(s, d, "events")
        .filter(col("user_id").isNotNull)
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("event_type"))
        .agg(topk5(col("cnt"), col("user_id")).as("tk"))
        .select(col("event_type"), posexplode(col("tk")).as(Seq("pos", "e")))
        .select(col("event_type"), (col("pos") + 1).cast("long").as("rk"),
          col("e.item").as("user_id"), col("e.metric").as("cnt"))
        .orderBy(col("event_type").asc_nulls_last, col("rk").asc)
    }),

    // X1+ — INCREMENTAL dedup: today's batch (odd doc_ids) screened
    // against the settled corpus (even doc_ids) — exact content-hash
    // anti-join plus cross-side-only LSH with exact-Jaccard verify, the
    // continuous-corpus-growth twin of q20/q37 (which re-dedup a whole
    // corpus). Batch-internal duplicates survive by contract: that's
    // dedup()'s job; this operator answers "is it new vs what we
    // accepted already". Deterministic (LSH affects recall only; band
    // params put recall ≈ 1 at τ = 0.6, same argument as q20).
    "q62_incremental_dedup" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Dedup.dedupIncremental(
          docs.filter(col("doc_id") % 2 === 1),
          docs.filter(col("doc_id") % 2 === 0),
          "doc_id", "text", threshold = 0.6)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id").asc_nulls_last)
    }),

    // P+/X2+ — deterministic train/val/test split: content-hash cut
    // points, a pure projection (no shuffle until the audit groupBy).
    // Split membership is a function of the text alone — rebuilds,
    // repartitions, and engine swaps cannot leak eval rows into train,
    // and exact duplicates can never straddle a boundary (SamplingSpec).
    "q63_hash_split" -> ((s, d) =>
      Sampling.hashSplit(t(s, d, "documents"), col("text"),
          Seq("train", "val", "test"), Seq("cc", "e6"))
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("split").asc_nulls_last, col("lang").asc_nulls_last)),

    // X2+ — deterministic corpus shuffle: a salted content hash IS the
    // epoch's permutation; the head-20 here plans as TakeOrdered (per-
    // partition top-k + driver merge, never a global sort).
    "q64_corpus_shuffle" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("shuffle_key"))
      t(s, d, "documents")
        .select(col("doc_id"),
          Sampling.shuffleKey(col("doc_id"), "epoch42").as("shuffle_key"))
        .orderBy(col("shuffle_key")).limit(20)
        .withColumn("pos", row_number().over(w).cast("long"))
        .select("pos", "doc_id", "shuffle_key")
        .orderBy("pos")
    }),

    // S+ — JSONL roundtrip with a DECLARED schema: the interchange
    // format LLM corpora actually ship in. Schema inference would scan
    // the data once just to guess types (and guess differently per
    // sample) — at 100 TB the schema is a contract, so it's declared on
    // read exactly like the parquet staging DDL (S13).
    "q65_jsonl_roundtrip" -> ((s, d) => {
      // per-JVM scratch path: reused within the run, hook-cleaned (as q16)
      val tmp = scratch("q65", d)
      t(s, d, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
        .coalesce(4)
        .write.mode("overwrite").json(tmp)
      s.read.schema("doc_id BIGINT, lang STRING, n_chars BIGINT").json(tmp)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
        .orderBy(col("lang").asc_nulls_last)
    }),

    // §2.8+ — PIVOT with DECLARED value list: one shuffle, counts fan
    // out to columns map-side. Declaring the values matters at scale:
    // `pivot(col)` without them runs a whole extra distinct-collect job
    // over the corpus just to learn the column set (and the plan then
    // depends on the data). Missing cells filled to 0 to keep the wide
    // row total (pivot's count yields null for empty cells).
    "q66_pivot" -> ((s, d) =>
      t(s, d, "documents")
        .groupBy(col("source"))
        .pivot("lang", Seq("de", "en", "es", "fr", "zh"))
        .agg(count(lit(1)))
        .na.fill(0L, Seq("de", "en", "es", "fr", "zh"))
        .orderBy(col("source").asc_nulls_last)),

    // §2.8+ — UNPIVOT (melt): the wide pivot back to long form — the
    // roundtrip proves the two operators are exact inverses on a
    // 0-filled matrix. Unpivot is a pure narrow Expand (no shuffle).
    "q67_unpivot" -> ((s, d) => {
      val langs = Seq("de", "en", "es", "fr", "zh")
      t(s, d, "documents")
        .groupBy(col("source"))
        .pivot("lang", langs)
        .agg(count(lit(1)))
        .na.fill(0L, langs)
        .unpivot(Array(col("source")), langs.map(col).toArray, "lang", "cnt")
        .orderBy(col("source").asc_nulls_last, col("lang").asc_nulls_last)
    }),

    // §2.8+ — CUBE: all four grouping sets of (lang, source) in one
    // pass — the Expand-based twin of q32's ROLLUP, completing the
    // grouping-sets family.
    "q68_cube" -> ((s, d) =>
      t(s, d, "documents")
        .cube(col("lang"), col("source"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("lang").asc_nulls_last, col("source").asc_nulls_last)),

    // A5+ — MERGEABLE distinct-count sketches (DataSketches HLL):
    // accumulate per event_type, union the sub-sketches, estimate —
    // q59's workflow for COUNT DISTINCT. This is what a 100 TB pipeline
    // persists per day/partition and folds at query time instead of
    // re-scanning history for every distinct-users question. Exactness
    // argument mirrors q58: at harness cardinalities the sketch stays
    // in its coupon (exact) regime, so the estimate equals the exact
    // count — HllMergeSpec pins both that and merge-losslessness, plus
    // the 3-sigma envelope in the dense regime.
    "q69_hll_merge" -> ((s, d) =>
      t(s, d, "events")
        .filter(col("user_id").isNotNull)
        .groupBy(col("event_type"))
        .agg(hll_sketch_agg(col("user_id"), lit(14)).as("sk"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk")))
          .as("distinct_users"))),

    // S+/A2+ — CDC log compaction: the latest event per user as ONE
    // max_by aggregation over the packed row struct — each map task
    // reduces to one candidate per key before the shuffle, where the
    // ranking-window twin must shuffle and sort the whole change log
    // (StagingSpec proves window-equality; the upsert write built on
    // this rewrites only touched partitions). Order = (ts, event_id):
    // total per key, and DuckDB's CAST(ts AS TIMESTAMP) truncates to
    // the same micros Spark reads (q53 precedent).
    "q70_cdc_compact" -> ((s, d) =>
      Staging.latestByKey(
          t(s, d, "events")
            .filter(col("user_id").isNotNull && col("ts").isNotNull)
            .select("user_id", "event_id", "event_type", "ts"),
          Seq("user_id"), Seq("ts", "event_id"))
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("event_type").as("last_event_type"))
        .orderBy(col("user_id").asc_nulls_last)),

    // W+/A2+ — BATCH tumbling event-time buckets: the batch twin of the
    // streamed q368 windows (§2.10), same epoch-aligned window(). One
    // shuffle on (bucket, type); bucket rendered as a string so both
    // engines compare the same value (q16's date-string precedent).
    "q71_time_buckets" -> ((s, d) =>
      t(s, d, "events")
        .filter(col("ts").isNotNull)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .select(
          date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("bucket_start"),
          col("event_type"), col("cnt"))
        .orderBy(col("bucket_start").asc_nulls_last,
          col("event_type").asc_nulls_last)),

    // W+ — RANGE-frame trailing window: per-user daily counts with a
    // 3-day trailing sum via rangeBetween on the day epoch — the VALUE-
    // based frame family next to q34's row-based lag. Two shuffles
    // total: the daily pre-aggregate collapses the event stream to
    // ≤ users × days rows BEFORE the window sees it — the window never
    // sorts raw events.
    "q72_trailing_window" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("day_ep"))
        .rangeBetween(-2, 0)
      t(s, d, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id"),
          expr("unix_timestamp(ts) div 86400").as("day_ep"))
        .groupBy(col("user_id"), col("day_ep"))
        .agg(count(lit(1)).as("day_cnt"))
        .withColumn("trail3", sum(col("day_cnt")).over(w))
        .orderBy(col("user_id").asc_nulls_last, col("day_ep").asc)
    }),

    // S+/J+ — snapshot diff (change feed): yesterday's corpus vs a
    // synthesized today (every 13th doc dropped, every 7th edited,
    // every 17th re-ingested under a new id) classified
    // insert/update/delete by one full-outer equi-join with null-safe
    // value compare — downstream consumers scale with the delta, not
    // the corpus. Unchanged keys never appear.
    "q73_snapshot_diff" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val after = docs
        .filter(col("doc_id") % 13 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .unionAll(docs.filter(col("doc_id") % 17 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Staging.snapshotDiff(docs, after, Seq("doc_id"), Seq("text"))
        .orderBy(col("doc_id").asc_nulls_last)
    }),

    // S+ — CSV roundtrip with DECLARED schema and FAILFAST: the other
    // interchange format (q65's JSONL sibling). The text column rides
    // through the writer's quoting/escaping and must come back byte-
    // identical — the audit hashes every text, so one mangled quote or
    // delimiter breaks the compare. FAILFAST because at scale a silent
    // PERMISSIVE null-out is corruption, not tolerance (the CLF parser
    // keeps its explicit reject channel for the lenient path).
    "q74_csv_roundtrip" -> ((s, d) => {
      // per-JVM scratch path: reused within the run, hook-cleaned (as q16)
      val tmp = scratch("q74", d)
      t(s, d, "documents").select(col("doc_id"), col("lang"), col("text"))
        .coalesce(4)
        .write.mode("overwrite")
        .option("header", "true").option("escape", "\"")
        .csv(tmp)
      s.read
        .schema("doc_id BIGINT, lang STRING, text STRING")
        .option("header", "true").option("escape", "\"")
        .option("mode", "FAILFAST")
        .csv(tmp)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          count_distinct(md5(col("text").cast("binary"))).as("n_texts"),
          sum(length(col("text")).cast("long")).as("total_len"))
        .orderBy(col("lang").asc_nulls_last)
    }),

    // X1+ — q62's PERSISTED-INDEX twin: the corpus side arrives as a
    // buildDedupIndex table written to parquet and read back — the actual
    // production shape (derive once, append per accepted batch), and the
    // shape the screen is tuned for: from a columnar scan the band explode
    // reads only `sig` and the verify join only `sh`; an inline index plan
    // would instead re-inline the minhash expression into every band
    // (projection collapse). Same screen
    // core as q62 → identical semantics, same oracle.
    "q75_indexed_dedup" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // per-JVM scratch path: reused within the run, hook-cleaned (as q16)
      val tmp = scratch("q75", d)
      Dedup.buildDedupIndex(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
        .write.mode("overwrite").parquet(tmp)
      Dedup.dedupIncrementalIndexed(
          docs.filter(col("doc_id") % 2 === 1),
          s.read.parquet(tmp),
          "doc_id", "text", threshold = 0.6)
        .accepted
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id").asc_nulls_last)
    }),

    // X3+ — q33's PERSISTED-INDEX twin (the ANN side of the q75 story):
    // the inverted file — cell assignment, embedding, precomputed norm per
    // vector — is derived once by buildIvfIndex, written to parquet, read
    // back, and probed by annTopKIndexed, so a standing 100-TB corpus pays
    // cell assignment once per centroid generation (append per new batch),
    // not once per query batch. Same probe/score core as q33's annTopK →
    // identical output; same partial oracle (every returned sim recomputed
    // exactly, 8×5-rank structural guard).
    "q76_ivf_indexed" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val centroids = AnnIvf.trainCentroids(emb, k = 16, iters = 2)
      // per-JVM scratch path: reused within the run, hook-cleaned (as q16)
      val tmp = scratch("q76", d)
      AnnIvf.buildIvfIndex(emb, centroids).write.mode("overwrite").parquet(tmp)
      AnnIvf.annTopKIndexed(emb.filter(col("vec_id") < 8), s.read.parquet(tmp),
        centroids, kNeighbors = 5, nprobe = 10)
    }),

    // X3+ — q21's PERSISTED-INDEX twin (completing the q75/q76 symmetry
    // for the LSH side): the bucket hashes, embedding, and norm per
    // corpus vector are derived once by buildLshIndex, written to
    // parquet, read back, and probed by annTopKIndexed — a standing
    // 100-TB corpus pays its numTables × bitsPerTable plane dots once,
    // not once per query batch. Same probe/score core as q21's annTopK →
    // identical output; same brute-force oracle (recall 1.0 at these
    // settings on the harness embeddings, candidates scored exactly).
    "q77_lsh_indexed" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      // per-JVM scratch path: reused within the run, hook-cleaned (as q16)
      val tmp = scratch("q77", d)
      AnnLsh.buildLshIndex(emb, dim = 64).write.mode("overwrite").parquet(tmp)
      AnnLsh.annTopKIndexed(emb.filter(col("vec_id") < 8),
        s.read.parquet(tmp), k = 5, dim = 64)
    }),

    // X1-X4 composition — the END-TO-END corpus-prep operator a
    // RedPajama-style user actually invokes, hash-gated as one query:
    // scrub → quality/repetition screen → decontaminate (vs the q39-style
    // doc_id % 97 bench, RAW text — prepare scrubs only the corpus side)
    // → transitive near-dup dedup → per-lang quota → sequence packing,
    // all over the same frame, so stage INTERACTION (who feeds whom, in
    // which text form) is oracle-verified, not just each stage alone.
    // The DuckDB oracle is the CTE-chain composition of the per-stage
    // oracles (q52's mask regex, q24's score, q38's repetition counts,
    // q39's 5-gram overlap, q37's recursive-CC survivors, q40's md5
    // quota, q41's shard/offset/bin arithmetic).
    "q78_dataprep" -> ((s, d) => {
      val docs = t(s, d, "documents")
      DataPrep.prepare(docs,
          bench = docs.filter(col("doc_id") % 97 === 0).select("doc_id", "text"),
          idCol = "doc_id", textCol = "text", stratumCol = "lang",
          config = DataPrep.Config(
            maskEmails = true, dedupThreshold = 0.6,
            perStratumQuota = Some(20), contextLen = 256L, shards = 8))
        .select(col("doc_id"), col("lang"), col("rk"), col("shard"),
          col("n_tokens"), col("tok_offset"), col("bin"))
        .orderBy(col("doc_id").asc_nulls_last)
    }),

    // X1+ — exact substring (duplicate-span) detection: 12-token windows
    // recurring across documents, per-doc coverage by interval union —
    // the boilerplate-detection mode document-level Jaccard is blind to
    "q79_dup_spans" -> ((s, d) =>
      SpanDedup.dupSpanStats(t(s, d, "documents"), "doc_id", "text",
          spanLen = 12, minDocs = 2)
        .orderBy(col("doc_id").asc_nulls_last)),

    // X2+ — reference-LM quality scoring (CCNet-style): add-one bigram
    // model trained on the src0 slice, every document scored by mean
    // negative log-probability against it
    "q80_lm_score" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val lm = LmScore.train(docs.filter(col("source") === "src0"), "text")
      LmScore.score(docs, "doc_id", "text", lm)
        .orderBy(col("doc_id").asc_nulls_last)
    }),

    // X3+ — product quantization ADC: 8×16 sub-codebooks (squared-L2
    // k-means via the native l2 metric), broadcast ADC sweep over the
    // 32×-smaller code table, exact re-rank of the top-50 — sims are
    // exact cosine, PQ decides only which candidates surface (no full
    // oracle; recall + rerank=|corpus|≡brute-force properties in AnnPqSpec)
    "q81_pq_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      // SCALE-AWARE geometry (the suggestedCells lesson, r17): fixed
      // ksub=16/rerank=50 held recall 0.925 on the 2k fixture but
      // collapsed to 0.05 at the 200k sf10 point; the √n rules keep the
      // fixture behavior and restore recall at depth.
      val n = emb.count()
      val cb = AnnPq.trainCodebooks(emb, m = 8,
        ksub = AnnPq.suggestedKsub(n), iters = 2)
      AnnPq.topK(emb.filter(col("vec_id") < 8), emb, cb,
        kNeighbors = 5, rerank = AnnPq.suggestedRerank(n, 5))
    }),

    // X3+ — IVF-PQ (the FAISS IVFPQ layout): coarse cells bound COMPUTE
    // (nprobe/k of the corpus touched), PQ codes bound MEMORY/IO (touched
    // rows are m-byte codes); exact re-rank keeps sims exact (no full
    // oracle; nprobe=k ≡ flat-PQ + recall properties in AnnPqSpec)
    "q82_ivfpq_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      // scale-aware on BOTH axes (q81's PQ rules + q44's cell rule):
      // cells and nprobe grow as √n so a probe touches ~nprobe/√n of
      // the corpus, ksub/rerank grow so the codes keep contrast and the
      // true neighbors reach the exact re-rank.
      val n = emb.count()
      val cells = AnnIvf.suggestedCells(n)
      val cb = AnnPq.trainCodebooks(emb, m = 8,
        ksub = AnnPq.suggestedKsub(n), iters = 2)
      val centroids = AnnIvf.trainCentroids(emb, k = cells, iters = 2)
      AnnPq.ivfPqTopK(emb.filter(col("vec_id") < 8),
        AnnPq.buildIvfPqIndex(emb, centroids, cb), emb, centroids, cb,
        kNeighbors = 5, nprobe = math.max(10, cells / 8),
        rerank = AnnPq.suggestedRerank(n, 5))
    }),

    // X1+ — the CUT step of exact substring dedup: rebuild text from the
    // tokens not covered by any cross-doc duplicated 12-token span (every
    // occurrence removed; a fully-boilerplate doc becomes empty)
    "q83_span_removal" -> ((s, d) =>
      SpanDedup.removeDupSpans(t(s, d, "documents"), "doc_id", "text",
          spanLen = 12, minDocs = 2)
        .orderBy(col("doc_id").asc_nulls_last)),

    // X1+/X3+ — semantic dedup (SemDeDup): embedding-cosine pairs within
    // label blocks → shared transitive closure → least-id survivors; the
    // duplication mode token-level dedup can't see (threshold 0.40 sits
    // in q22's value gap, so the float compare is safe)
    "q84_semantic_dedup" -> ((s, d) =>
      SemDedup.dedupExact(t(s, d, "embeddings"), "vec_id", "embedding",
          "label", threshold = 0.40)
        .select(col("vec_id"), col("label"))
        .orderBy(col("vec_id").asc_nulls_last)),

    // X2+/X3+ — lexical retrieval: BM25 top-20 for a 3-term query — the
    // term-based first-stage ranker beside the embedding ANN family
    "q85_bm25" -> ((s, d) =>
      TextSearch.bm25TopK(t(s, d, "documents"), "doc_id", "text",
        query = "dup key window", k = 20)),

    // A+/W+ — ordered funnel: users reaching view → click → purchase in
    // strict timestamp order, 1-day step cap; N event-log scans for N
    // stages, anchors cut between steps
    "q86_funnel" -> ((s, d) =>
      LogAnalytics.funnel(t(s, d, "events"),
          stages = Seq("view", "click", "purchase"),
          maxStepSeconds = Some(86400L))
        .orderBy(col("step").asc_nulls_last)),

    // A+ — weekly cohort retention: users by first-event week × active
    // week offset (offset 0 = the 100% column)
    "q87_cohort_retention" -> ((s, d) =>
      LogAnalytics.cohortRetention(t(s, d, "events"))
        .orderBy(col("cohort_week").asc_nulls_last,
          col("week_offset").asc_nulls_last)),

    // X+ — training-mixture sampling: per-source rates over the content
    // hash (prefix-of-hash-order property: raising a rate only adds rows)
    "q88_mixture_sample" -> ((s, d) =>
      Sampling.mixtureSample(t(s, d, "documents"), "source", col("text"),
          rates = Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25),
          defaultRate = 0.1)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id").asc_nulls_last)),

    // X2+ — generative classification (the CCNet language-ID move over
    // domain models): per-source bigram LMs, label = argmin mean NLL on
    // the rounded scores (ties → smallest label, cross-engine safe)
    "q89_lm_classify" -> ((s, d) => {
      val docs = t(s, d, "documents")
      def lmOf(src: String) =
        LmScore.train(docs.filter(col("source") === src), "text")
      LmScore.classify(docs, "doc_id", "text",
          Map("src0" -> lmOf("src0"), "src1" -> lmOf("src1")))
        .orderBy(col("doc_id").asc_nulls_last)
    }),

    // X2+ — token-distribution entropy (vocabulary diversity): the
    // quality axis dup_word_frac saturates on — H = ln(n) − (Σ c·ln c)/n
    // in one explode + two hash aggregates
    "q90_word_entropy" -> ((s, d) =>
      TextOps.wordEntropy(t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id").asc_nulls_last)),

    // X2+/X3+ — hybrid retrieval: BM25 recalls 50 candidates lexically,
    // exact cosine against vec 0's embedding re-ranks to 10 — the
    // two-stage ranker (query embedding collected as plan metadata)
    "q91_hybrid_retrieval" -> ((s, d) => {
      val qv = t(s, d, "embeddings").filter(col("vec_id") === 0L)
        .select(col("embedding")).head().getSeq[Float](0)
      TextSearch.hybridTopK(t(s, d, "documents"), "doc_id", "text",
        query = "dup key window",
        embeddings = t(s, d, "embeddings"), embIdCol = "vec_id",
        embCol = "embedding", queryVec = qv, candidates = 50, k = 10)
    }),

    // X1+ — registry decontamination with attribution: two synthetic
    // benchmarks (doc_id % 97 and % 89 slices), one row per contaminated
    // (doc, benchmark) pair with that benchmark's own overlap
    "q92_multi_contamination" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val benches = docs.filter(col("doc_id") % 97 === 0)
        .select(lit("bench_a").as("bench"), col("text"))
        .unionByName(docs.filter(col("doc_id") % 89 === 0)
          .select(lit("bench_b").as("bench"), col("text")))
      Contamination.multiContamination(
          docs.filter(col("doc_id") % 97 =!= 0 && col("doc_id") % 89 =!= 0),
          benches, "doc_id", "text", "bench")
        .orderBy(col("doc_id").asc_nulls_last, col("bench").asc_nulls_last)
    }),

    // X+ — the per-epoch composition: mixture rates → salted epoch
    // permutation → packed context windows; same (rates, salt) =
    // byte-identical epoch, new salt = new order without resampling
    "q93_epoch_build" -> ((s, d) =>
      DataPrep.buildEpoch(t(s, d, "documents"), "doc_id", "text", "source",
          rates = Map("src0" -> 1.0, "src1" -> 0.5), defaultRate = 0.2,
          salt = "epoch1", contextLen = 256L, shards = 4)
        .select(col("doc_id"), col("source"), col("epoch_key"),
          col("shard"), col("n_tokens"), col("tok_offset"), col("bin"))
        .orderBy(col("doc_id").asc_nulls_last)),

    // X2+/X3+ — q85's lexical retrieval against the PERSISTED inverted
    // index (build → parquet round-trip → probe, the q75/q76/q77
    // timing convention: the build + write is paid INSIDE the query).
    // Completes the standing-index symmetry for the lexical family: the
    // 100-TB corpus pays tokenization once per generation, not once per
    // query batch. Same scoring core as q85's bm25TopK → identical
    // output, same exact-BM25 oracle.
    "q94_bm25_indexed" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // per-JVM scratch path: reused within the run, hook-cleaned (as q16)
      val tmp = scratch("q94", d)
      TextSearch.buildLexicalIndex(docs, "doc_id", "text")
        .write.mode("overwrite").parquet(tmp)
      TextSearch.bm25TopKIndexed(s.read.parquet(tmp), "dup key window",
        k = 20, idCol = "doc_id")
    }),

    // S+ — JSONL round-trip, the de-facto LLM-corpus interchange format
    // (one JSON object per line; what a crawler hands the pipeline and
    // what an exporter ships). Unlike q74's flat CSV this exercises the
    // NESTED surface — a struct column and an array column survive the
    // trip — read back schema-explicit + FAILFAST (silent-null corruption
    // is a dropped corpus shard at 100 TB, fail loudly). Line-splittable,
    // so a 100-TB dump parallelizes like text: one task per split, no
    // multiline mode.
    "q95_jsonl_roundtrip" -> ((s, d) => {
      // per-JVM scratch path: reused within the run, hook-cleaned (as q16)
      val tmp = scratch("q95", d)
      t(s, d, "documents").select(col("doc_id"),
          struct(col("lang"), col("source"), col("n_chars")).as("meta"),
          TextOps.tokens(col("text")).as("toks"))
        .coalesce(4)
        .write.mode("overwrite").json(tmp)
      s.read
        .schema("doc_id BIGINT, meta STRUCT<lang: STRING, source: STRING, n_chars: BIGINT>, toks ARRAY<STRING>")
        .option("mode", "FAILFAST")
        .json(tmp)
        .groupBy(col("meta.lang").as("lang"), col("meta.source").as("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(col("toks")).cast("long")).as("total_toks"),
          max(col("meta.n_chars")).as("max_chars"))
        .orderBy(col("lang").asc_nulls_last, col("source").asc_nulls_last)
    }),

    // A+ — ingest pre-flight: per-column profile of the documents table
    // (null rates, exact cardinality, native-type min/max) in ONE scan —
    // the check that catches a silently-corrupted corpus shard before it
    // feeds the pipeline. Exact mode here (oracle-replayable); the 100-TB
    // form is exact=false (HLL++ fold, no Expand — plan spec'd).
    "q96_audit_profile" -> ((s, d) =>
      Audit.profile(t(s, d, "documents"),
        Seq("doc_id", "text", "lang", "source", "n_chars"))),

    // A+/J+ — referential integrity between documents and embeddings:
    // null/dup keys, orphans on both sides, matched count — each side
    // collapsed to distinct-key counts BEFORE the reconciling join.
    "q97_audit_integrity" -> ((s, d) =>
      Audit.integrity(t(s, d, "documents"), "doc_id",
        t(s, d, "embeddings"), "vec_id")),

    // X+ — per-source TOKEN budget (the other quota axis beside q40's
    // doc-count cap): each source keeps its stable-hash-order prefix of
    // docs while running tokens stay <= 2000 — what training actually
    // spends. Under-budget sources pass through with no window; only
    // over-budget sources pay the ordered prefix-sum.
    "q98_token_budget" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Sampling.perKeyTokenBudget(docs, "source", col("text"), "doc_id",
          size(TextOps.tokens(col("text"))).cast("long"), budget = 2000L)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id").asc_nulls_last)
    }),

    // X2+ — adaptive token floor: drop docs under the corpus's own 25th-
    // percentile token count — the data-driven form of the fixed
    // "min N tokens" rule. Integer token counts make the interpolated
    // percentile engine-exact (a quantile of derived doubles would not
    // be).
    "q99_adaptive_floor" -> ((s, d) =>
      TextOps.adaptiveTokenFloor(t(s, d, "documents"), "doc_id", "text",
          q = 0.25)
        .orderBy(col("doc_id").asc_nulls_last)),

    // A+ — hourly traffic anomaly z-scores over the event log: the
    // "did something spike?" alerting check, z against the mean/stddev
    // of all hourly buckets (time-dimension-sized stats, plan-time
    // scalars — no cross join, no global window).
    "q100_hourly_anomaly" -> ((s, d) =>
      LogAnalytics.hourlyAnomaly(t(s, d, "events"))),

    // A+ — fixed-interval LOCF resample: each user's irregular value
    // series regularized onto a 6-hour grid, last observation carried
    // forward across empty buckets (per-user grid, time-dimension-sized
    // explode, user-keyed LOCF window — no global window).
    "q101_resample_locf" -> ((s, d) =>
      TimeSeries.resampleLocf(t(s, d, "events"), intervalSec = 21600L)
        .orderBy(col("user_id").asc_nulls_last,
          col("bucket_start").asc_nulls_last)),

    // X+ — character-level fuzzy matching: Levenshtein ≤ 10 over
    // 64-char lowered heads, candidates from two-pass prefix blocking
    // (never all-pairs) — the edit-distance member of the near-dup
    // family next to MinHash (token-set) and SimHash (bit-sketch).
    "q102_fuzzy_pairs" -> ((s, d) =>
      FuzzyJoin.editDistancePairs(t(s, d, "documents"))
        .orderBy(col("doc_id").asc_nulls_last,
          col("dup_id").asc_nulls_last)),

    // X+ — vocabulary construction: top-500 tokens by corpus frequency
    // with stable dense ids (total (freq DESC, token) order — the
    // reproducible token→id map of tokenizer/embedding-table builds).
    // TakeOrdered bounds the sort to k; the id window runs over k rows.
    "q103_vocab" -> ((s, d) =>
      TextOps.buildVocab(t(s, d, "documents"), "text", k = 500)
        .orderBy(col("id").asc_nulls_last)),

    // A+ — incremental rollup maintenance (the materialized-view
    // pattern): history rollup persisted to parquet (round-tripped, the
    // q75/q77 standing-table mechanics), then merged with the new
    // batch's partial — algebraic combine only touches rollup-sized
    // rows, never rescans history. Oracle recomputes from ALL events:
    // merged ≡ from-scratch is the maintained invariant.
    "q104_rollup_merge" -> ((s, d) => {
      val ev = t(s, d, "events")
      val cutoff = "2024-01-21"
      val tmp = scratch("q104", d)
      Rollup.dailyRollup(ev.filter(col("ts") < lit(cutoff)))
        .write.mode("overwrite").parquet(tmp)
      Rollup.merge(s.read.parquet(tmp),
          Rollup.dailyRollup(ev.filter(col("ts") >= lit(cutoff))))
        .orderBy(col("day").asc_nulls_last,
          col("event_type").asc_nulls_last)
    }),

    // A+ — first-order event-type transitions per user (the
    // Markov-chain view behind funnel discovery): user-partitioned lag
    // window, (ts, event_id) order, TYPE×TYPE-sized output.
    "q105_transitions" -> ((s, d) =>
      LogAnalytics.transitions(t(s, d, "events"))
        .orderBy(col("src").asc_nulls_last, col("dst").asc_nulls_last)),

    // A+/J — join-key skew profile: top-20 heaviest user_ids with row
    // share — the pre-join diagnostic feeding the q51 salt decision.
    "q106_skew_profile" -> ((s, d) =>
      Audit.skewProfile(t(s, d, "events"), "user_id", k = 20)
        .orderBy(col("rank").asc_nulls_last)),

    // X+ — the encode half of the tokenizer pair: q103's vocab applied
    // as a driver-literal map (vocab-sized metadata) → pure narrow
    // projection, ids certified as md5 over the space-joined sequence.
    "q107_encode_vocab" -> ((s, d) => {
      val docs = t(s, d, "documents")
      TextOps.encodeWithVocab(docs, "doc_id", "text",
          TextOps.buildVocab(docs, "text", k = 500))
        .orderBy(col("doc_id").asc_nulls_last)
    }),

    // X+/E — embedding-quality eval: leave-one-out 5-NN label vote over
    // the labeled PROBE SAMPLE (exact cosine, rounded before ranking;
    // vote ties to the smallest label). avg(correct) is the probe
    // accuracy. Leave-one-out is quadratic by definition, so the
    // declared query fixes the eval sample (vec_id < 1000 — the whole
    // table at small SFs) rather than letting eval cost scale with the
    // corpus; corpus-wide neighbor quality is the ANN-pluggable path
    // (Eval doc).
    "q108_knn_classify" -> ((s, d) =>
      Eval.knnClassify(
          t(s, d, "embeddings").filter(col("vec_id") < 1000), k = 5)
        .orderBy(col("vec_id").asc_nulls_last)),

    // X+ — incremental vocab maintenance: the persisted term-frequency
    // table (round-tripped) merged with the new batch's partials, then
    // ranked — history is never re-tokenized; shares q103's oracle
    // because merged-tf ranking ≡ the from-scratch vocab.
    "q109_vocab_merge" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val tmp = scratch("q109", d)
      TextOps.termFrequencies(docs.filter(col("doc_id") < 250), "text")
        .write.mode("overwrite").parquet(tmp)
      TextOps.vocabFromTf(
          TextOps.mergeTermFrequencies(s.read.parquet(tmp),
            TextOps.termFrequencies(
              docs.filter(col("doc_id") >= 250), "text")),
          k = 500)
        .orderBy(col("id").asc_nulls_last)
    }),

    // A+/E — per-type value deciles (empirical-quantile calibration
    // bins): ntile over the (value, id) total order inside each group,
    // exact per-bucket bounds — GROUP×10-sized output.
    "q110_value_deciles" -> ((s, d) =>
      Audit.valueDeciles(t(s, d, "events"), "event_type", "value",
          "event_id", bins = 10)
        .orderBy(col("event_type").asc_nulls_last,
          col("bin").asc_nulls_last)),

    // X+ — the persisted-index form of q102 (the q75/q77 amortization
    // for edit distance): block rows built once, parquet round-trip,
    // probe through the shared matchBlocks core — shares q102's exact
    // oracle because indexed ≡ self-contained by construction.
    "q111_fuzzy_indexed" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val tmp = scratch("q111", d)
      FuzzyJoin.buildFuzzyIndex(docs).write.mode("overwrite").parquet(tmp)
      FuzzyJoin.editDistancePairsIndexed(docs, s.read.parquet(tmp))
        .orderBy(col("doc_id").asc_nulls_last,
          col("dup_id").asc_nulls_last)
    }),

    // A+/E — exact per-type value quantiles (type-7 interpolation, the
    // convention both engines share), 6-dp armored — the exact
    // companion of the q49 GK sketch at group-sized data.
    "q112_group_quantiles" -> ((s, d) =>
      Audit.groupQuantiles(t(s, d, "events"), "event_type", "value",
          Seq(0.5, 0.9))
        .orderBy(col("event_type").asc_nulls_last)),

    // A+ — fixed-window debounce: per-(user, type) timelines quantized
    // into 300 s windows anchored at the key's first event, first event
    // per occupied window kept — closed-form (replay-idempotent), the
    // retry-storm cleaner. Output projected to the stable id triple +
    // rendered ts.
    "q113_debounce" -> ((s, d) =>
      LogAnalytics.debounce(t(s, d, "events"), withinSeconds = 300L)
        .select(col("event_id"), col("user_id"), col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"))
        .orderBy(col("event_id").asc_nulls_last)),

    // X+ — GROUP-aware split: q63's content-hash split keyed on the
    // SOURCE instead of the document, so a source's docs land in one
    // split together (the leakage rule: near-dups cluster within
    // sources, so source-level assignment keeps them off the
    // train/eval boundary). Zero new machinery — hashSplit is
    // key-generic; the per-(split, source) counts make the no-straddle
    // property visible row-by-row.
    "q114_group_split" -> ((s, d) =>
      Sampling.hashSplit(t(s, d, "documents"), col("source"),
          Seq("train", "val", "test"), Seq("cc", "e6"))
        .groupBy(col("split"), col("source"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("split").asc_nulls_last,
          col("source").asc_nulls_last)),

    // A+ — hourly event-type co-occurrence with lift (unordered
    // counterpart of q105): bucket-level distinct cells, type²-bounded
    // bucket self-join, exact-int lift division rounded 6 dp.
    "q115_cooccurrence" -> ((s, d) =>
      LogAnalytics.cooccurrence(t(s, d, "events"))
        .orderBy(col("type_a").asc_nulls_last,
          col("type_b").asc_nulls_last)),

    // X+/E — the eval family's contingency view: q108's classified
    // sample folded to CLASS²-sized cells with within-label shares
    // (diagonal = per-class recall).
    "q116_confusion" -> ((s, d) =>
      Eval.confusion(Eval.knnClassify(
          t(s, d, "embeddings").filter(col("vec_id") < 1000), k = 5))
        .orderBy(col("label").asc_nulls_last, col("pred").asc_nulls_last)),

    // X+/E — exact tie-averaged Spearman between token and char counts
    // over the document sample: integer metrics tie heavily, so the
    // textbook fractional-rank form (exact doubled-rank arithmetic,
    // floats only at the final sqrt/divide) is the default.
    "q117_spearman" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Eval.spearman(
        docs.filter(col("text").isNotNull).select(col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("long").as("ntok"),
          length(col("text")).cast("long").as("nchr")),
        "ntok", "nchr", "doc_id")
    }),

    // S+/X — export-integrity manifest: per-shard row counts + the
    // order-defined chained checksum any engine can replay from the
    // data alone (catches loss, duplication, cross-shard moves, and
    // mutation). Two-level definition: md5-chain per id-derived bucket
    // (bounded collect), then chain bucket digests in bucket order —
    // no aggregation buffer ever holds a whole shard. rowsPerBucket=16
    // forces multi-bucket chains even at oracle scale.
    "q118_manifest" -> ((s, d) =>
      graft.stage.Staging.exportManifest(
          t(s, d, "documents").withColumn("shard",
            pmod(col("doc_id"), lit(8L))),
          "shard", "doc_id", col("text"), rowsPerBucket = 16L)
        .orderBy(col("shard").asc_nulls_last))
  ) ++ Map[String, (SparkSession, String) => DataFrame](

    // X+/E — corpus-scale kNN eval: the q108 vote fed by an ANN
    // neighbor frame (AnnIvf.knnJoin) instead of the all-pairs scan —
    // the path that runs on the FULL corpus. Declared at full probe
    // coverage (nprobe = centroid count → candidate set exhaustive, the
    // q21 recall-1.0 precedent), so the oracle is the exact
    // leave-one-out vote; partial-probe behavior is the neighbor
    // frame's own (EvalSpec pins the equivalence law). Sample-capped by
    // the eval contract (the q108 rule).
    "q119_knn_classify_ann" -> ((s, d) => {
      val labeled = labeledSample(s, d)
      val centroids = AnnIvf.trainCentroids(labeled, k = 16, iters = 2)
      Eval.knnClassifyAnn(
          AnnIvf.knnJoin(labeled, centroids, kNeighbors = 5, nprobe = 16),
          labeled, k = 5)
        .orderBy(col("vec_id").asc_nulls_last)
    }),

    // X4 — REAL image decode end-to-end: per-doc PGM payloads are
    // synthesized byte-for-byte from an integer formula (header + hex
    // raster → unhex), parsed by the actual NetpbmDecoder
    // (mapPartitions batch core), and the extracted moments must equal
    // what the oracle computes from the FORMULA — an engine that never
    // parses a byte checks the parser. Moments are exact ints; the one
    // division happens here, identically in both engines.
    "q120_image_decode" -> ((s, d) => {
      val w = lit(4L) + pmod(col("doc_id"), lit(5L))
      val h = lit(3L) + pmod(col("doc_id"), lit(3L))
      val rasterHex = array_join(
        transform(sequence(lit(0L), w * h - 1), i =>
          lpad(hex(pmod(col("doc_id") * 31 + i * 7, lit(256))), 2, "0")), "")
      val payload = concat(
        concat(lit("P5\n"), w.cast("string"), lit(" "),
          h.cast("string"), lit("\n255\n")).cast("binary"),
        unhex(rasterHex))
      val assets = t(s, d, "documents").select(col("doc_id"),
        payload.as("payload"))
      val dec = new NetpbmDecoder(channels = 1)
      dec.decode(assets, "payload", "f")
        .select(col("doc_id"),
          element_at(col("f"), 1).cast("long").as("width"),
          element_at(col("f"), 2).cast("long").as("height"),
          round(element_at(col("f"), 3)
            / (element_at(col("f"), 1) * element_at(col("f"), 2)), 6)
            .as("mean_px"),
          round(element_at(col("f"), 4)
            / (element_at(col("f"), 1) * element_at(col("f"), 2)), 6)
            .as("ms_px"))
        .orderBy(col("doc_id").asc_nulls_last)
    }),

    // X4 — REAL audio decode end-to-end: per-doc RIFF/WAV PCM16
    // payloads (full 44-byte header, little-endian fields, signed
    // samples from an integer formula), parsed by the actual
    // WavDecoder; RMS and duration derive from the decoder's exact
    // moments and must match the oracle's formula recompute.
    "q121_audio_decode" -> ((s, d) => {
      def le16h(c: Column): Column = concat(
        lpad(hex(pmod(c, lit(256L))), 2, "0"),
        lpad(hex(pmod(shiftright(c, 8), lit(256L))), 2, "0"))
      def le32h(c: Column): Column =
        concat(le16h(pmod(c, lit(65536L))), le16h(shiftright(c, 16)))
      val n = lit(16L) + pmod(col("doc_id"), lit(16L))
      val samplesHex = array_join(
        transform(sequence(lit(0L), n - 1), i =>
          le16h(pmod(col("doc_id") * 13 + i * 257, lit(65536L)))), "")
      // canonical PCM header: RIFF(36+2n) WAVE fmt(16) pcm mono 8000Hz
      // 16000B/s block 2 bits 16, data(2n)
      val headerHex = concat(
        lit("52494646"), le32h(lit(36L) + n * 2), lit("57415645"),
        lit("666d7420"), lit("10000000"), lit("0100"), lit("0100"),
        lit("401f0000"), lit("803e0000"), lit("0200"), lit("1000"),
        lit("64617461"), le32h(n * 2))
      val assets = t(s, d, "documents").select(col("doc_id"),
        unhex(concat(headerHex, samplesHex)).as("payload"))
      new WavDecoder().decode(assets, "payload", "f")
        .select(col("doc_id"),
          element_at(col("f"), 1).cast("long").as("sample_rate"),
          element_at(col("f"), 3).cast("long").as("n_samples"),
          round(element_at(col("f"), 3) / element_at(col("f"), 1), 6)
            .as("duration_sec"),
          round(sqrt(element_at(col("f"), 5) / element_at(col("f"), 3)), 6)
            .as("rms"))
        .orderBy(col("doc_id").asc_nulls_last)
    }),

    // X+/E — contrastive-pair mining: hard negatives (most-similar
    // OTHER-label) and positives from the q119 ANN neighbor frame —
    // the metric-learning data op downstream of the same frame the
    // eval vote consumes. Full probe coverage + frame depth 20, so the
    // oracle replays it exactly: rank all pairs, keep top-20, split by
    // label agreement, re-rank per kind. Sample-capped (eval contract).
    "q122_contrastive_pairs" -> ((s, d) => {
      val labeled = labeledSample(s, d)
      val centroids = AnnIvf.trainCentroids(labeled, k = 16, iters = 2)
      Mining.contrastivePairs(
          AnnIvf.knnJoin(labeled, centroids, kNeighbors = 20, nprobe = 16),
          labeled, kPos = 2, kNeg = 3)
        .orderBy(col("q_id").asc_nulls_last, col("kind").asc_nulls_last,
          col("pair_rank").asc_nulls_last)
    }),

    // X2 — CCNet-style boilerplate removal: a synthetic per-source
    // footer line (the nav-banner shape, appearing in every doc of its
    // source ≥ minDocs) plus a rare under-threshold promo line are
    // appended to each doc; the strip must cut exactly the footer and
    // keep the promo — the threshold boundary, exercised from both
    // sides in every group. Oracle replays the whole pipeline.
    "q123_boilerplate" -> ((s, d) =>
      Boilerplate.stripBoilerplate(templatedDocs(s, d), minDocs = 5)
        .orderBy(col("doc_id").asc_nulls_last)),

    // X2 — the persisted-index twin of q123: the line-frequency table is
    // built once, round-tripped through parquet, and the batch cuts
    // against the standing index (same cut core — can't drift; the
    // threshold applies at strip time, so one index serves any
    // minDocs). Shares q123's oracle because indexed ≡ self-contained.
    "q124_boilerplate_indexed" -> ((s, d) => {
      val webby = templatedDocs(s, d)
      val tmp = scratch("q124", d)
      Boilerplate.buildBoilerplateIndex(webby)
        .write.mode("overwrite").parquet(tmp)
      Boilerplate.stripBoilerplateIndexed(webby, s.read.parquet(tmp),
          minDocs = 5)
        .orderBy(col("doc_id").asc_nulls_last)
    }),

    // X+/E — the per-class eval summary: precision/recall/F1 from the
    // q108 classified sample's exact counts (the report next to q116's
    // confusion matrix). NULL axes distinguish "never predicted" /
    // "never true" from honest zeros.
    "q125_class_report" -> ((s, d) =>
      Eval.classificationReport(Eval.knnClassify(
          t(s, d, "embeddings").filter(col("vec_id") < 1000), k = 5))
        .orderBy(col("class").asc_nulls_last)),

    // S+ — schema-evolution read: a table whose later batches grew a
    // column (the 100-TB reality — schemas evolve, history is never
    // rewritten) reads as ONE frame under mergeSchema, early rows
    // NULL-filled in the grown column. Written as two generation
    // directories, read from the root; per-generation aggregates prove
    // the merge NULL-filled exactly the pre-evolution rows.
    "q126_schema_merge" -> ((s, d) => {
      val tmp = scratch("q126", d)
      val ev = t(s, d, "events")
      // generation 1: before the event_type column existed
      ev.filter(pmod(col("event_id"), lit(2L)) === 0)
        .select(col("event_id"), col("user_id"))
        .write.mode("overwrite").parquet(s"$tmp/gen=1")
      // generation 2: the evolved schema
      ev.filter(pmod(col("event_id"), lit(2L)) === 1)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .write.mode("overwrite").parquet(s"$tmp/gen=2")
      s.read.option("mergeSchema", "true").parquet(tmp)
        .groupBy(col("gen"))
        .agg(count(lit(1)).as("n_rows"),
          count(col("user_id")).as("n_user"),
          count(col("event_type")).as("n_type"))
        .orderBy(col("gen").asc_nulls_last)
    }),

    // X2+/X3 — reciprocal-rank fusion: the OTHER standard hybrid
    // combiner next to q91's dense rerank — BM25 top-20 and the exact
    // dense top-20 (same query vector as q91) fused score-free by
    // 1/(60+rank) sums. The dense list reuses the q19 convention
    // (unrounded bit-identical folds, id tiebreak) so the oracle
    // replays both rankers and the fusion arithmetic exactly.
    "q128_rrf_fusion" -> ((s, d) => {
      val (lexical, dense) = hybridRankers(s, d)
      TextSearch.rrfFuse(lexical, dense, "doc_id", k = 10)
    }),

    // X+ — length-bucketed padded batching (the inference/SFT sibling
    // of q41's concat-packing): like-length docs batch together, so the
    // per-batch padding bill (batch max − own length) is the homogeneity
    // the sort buys. Per-batch summary over the doc assignments —
    // deterministic integer arithmetic end to end.
    "q127_pad_batches" -> ((s, d) =>
      Packing.padBatches(
          t(s, d, "documents").filter(col("text").isNotNull),
          "doc_id", size(TextOps.tokens(col("text"))),
          batchSize = 8, shards = 4)
        .groupBy(col("shard"), col("batch"))
        .agg(count(lit(1)).as("n_docs"),
          max(col("n_tokens")).as("max_len"),
          sum(col("n_tokens")).as("sum_len"),
          sum(col("pad")).as("padding"))
        .orderBy(col("shard").asc_nulls_last, col("batch").asc_nulls_last)),

    // X+/E — Cohen's kappa over the q108 classified sample:
    // chance-corrected agreement, the one-scalar summary next to q116's
    // matrix and q125's per-class report. Exact integer/decimal
    // arithmetic until three final divisions (κ cleared of both
    // denominators: (N·diag − Σsup·prd)/(N² − Σsup·prd)).
    "q129_cohens_kappa" -> ((s, d) =>
      Eval.cohensKappa(Eval.knnClassify(
        t(s, d, "embeddings").filter(col("vec_id") < 1000), k = 5))),

    // X+/E — exact tie-averaged ROC-AUC (Mann–Whitney U) of a raw
    // embedding coordinate as a scorer of the label-0 class: the
    // doubled-rank trick keeps every sum integer, one float division
    // total. The score is a stored float (no arithmetic before
    // ranking), so both engines rank identical values.
    "q130_roc_auc" -> ((s, d) =>
      Eval.rocAuc(
        t(s, d, "embeddings").filter(col("vec_id") < 1000)
          .select(col("vec_id"),
            element_at(col("embedding"), 1).cast("double").as("score"),
            (col("label") === 0).cast("int").as("is_pos")),
        "score", "is_pos", "vec_id")),

    // X+/E — reliability-diagram bins for an affine confidence
    // ((emb[0]+1)/2 — pure halving, bit-identical cross-engine) against
    // the label-0 class: per-bin mean confidence vs empirical positive
    // rate, decimal conf sums so bin stats are order-independent.
    "q131_calibration" -> ((s, d) =>
      Eval.calibrationCurve(
          t(s, d, "embeddings").filter(col("vec_id") < 1000)
            .select(
              ((element_at(col("embedding"), 1).cast("double") + 1.0) / 2.0)
                .as("conf"),
              (col("label") === 0).cast("int").as("is_pos")),
          "conf", "is_pos", bins = 10)
        .orderBy(col("bin").asc_nulls_last)),

    // X+/E — expected calibration error over q131's bins, telescoped to
    // exact decimals: ECE = Σ_b |Σconf_b − n_pos_b| / N (the shared-
    // denominator identity), one float division at the end.
    "q132_ece" -> ((s, d) =>
      Eval.ece(
        t(s, d, "embeddings").filter(col("vec_id") < 1000)
          .select(
            ((element_at(col("embedding"), 1).cast("double") + 1.0) / 2.0)
              .as("conf"),
            (col("label") === 0).cast("int").as("is_pos")),
        "conf", "is_pos", bins = 10)),

    // X+/E — NDCG@10 per query over the rounded-sim exact top-10 (the
    // q108 neighbor convention) with label-match graded relevance: the
    // ranking-quality eval for the retrieval family. Gain terms are
    // 9-dp-rounded decimals (order-independent sums); IDCG re-ranks the
    // SAME retrieved set, so NDCG isolates ORDER quality from recall.
    "q133_ndcg" -> ((s, d) =>
      Eval.ndcgAtK(labelMatchRanked(s, d)._2, "q_id", "rank", "rel",
          k = 10)
        .orderBy(col("q_id").asc_nulls_last)),

    // X2+/A — token frequency-of-frequencies spectrum (Zipf/Heaps
    // diagnostic): how many distinct terms occur exactly `freq` times.
    // Two hash aggregations, output distinct-frequency-sized; the
    // hapax share and power-law slope a corpus audit reads off it.
    "q134_zipf" -> ((s, d) =>
      TextOps.freqSpectrum(
          TextOps.termFrequencies(t(s, d, "documents"), "text"))
        .orderBy(col("freq").asc_nulls_last)),

    // X+/E — exact Kendall τ-b between token and char counts on the
    // q117 sample: pair concordance off one broadcast pair join, exact
    // integer counts, two sqrts + one division at the end. The
    // less-tie-distorted companion to Spearman on the same metrics.
    "q135_kendall" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Eval.kendallTau(
        docs.filter(col("text").isNotNull && col("doc_id") < 1000)
          .select(col("doc_id"),
            size(TextOps.tokens(col("text"))).cast("long").as("ntok"),
            length(col("text")).cast("long").as("nchr")),
        "ntok", "nchr", "doc_id")
    }),

    // X2+ — PMI collocations: adjacent-bigram pointwise mutual
    // information with a min-count cut (rare-pair PMI inflation is the
    // classic artifact), top-50 by (PMI DESC, x, y). Probabilities
    // divide BEFORE the ratio — integer cross-products overflow at
    // corpus scale; this shape is IEEE-deterministic and never does.
    "q136_pmi" -> ((s, d) =>
      TextOps.pmiBigrams(t(s, d, "documents"), "text",
          minCount = 5L, k = 50)
        .orderBy(col("pmi").desc, col("x").asc, col("y").asc)),

    // X2+/A — Heaps-law vocabulary growth at bucket granularity: new
    // terms land in the bucket of their FIRST occurrence (min doc id),
    // the cumulative window runs on the BUCKET-sized frame only — the
    // per-doc cumsum would be the global-sort cliff this avoids.
    "q137_vocab_growth" -> ((s, d) =>
      TextOps.vocabGrowth(t(s, d, "documents"), "doc_id", "text",
          bucketWidth = 100L)
        .orderBy(col("bucket").asc_nulls_last)),

    // X+/E — precision-recall curve over the q130 scorer: one row per
    // distinct score threshold (ties predict together), exact
    // cumulative counts off a DISTINCT-SCORE-sized ordered window.
    "q138_pr_curve" -> ((s, d) =>
      Eval.prCurve(
          t(s, d, "embeddings").filter(col("vec_id") < 1000)
            .select(element_at(col("embedding"), 1).cast("double")
              .as("score"),
              (col("label") === 0).cast("int").as("is_pos")),
          "score", "is_pos")
        .orderBy(col("threshold").desc)),

    // X+/E — average precision (the sklearn step rule): per-threshold
    // terms rounded to 9-dp decimals so the sum is order-independent;
    // the final /P is the only other float op.
    "q139_avg_precision" -> ((s, d) =>
      Eval.averagePrecision(
        t(s, d, "embeddings").filter(col("vec_id") < 1000)
          .select(element_at(col("embedding"), 1).cast("double")
            .as("score"),
            (col("label") === 0).cast("int").as("is_pos")),
        "score", "is_pos")),

    // X+/E — rank-biased overlap between q128's two rankers: the
    // per-depth intersection telescoped per item onto precomputed
    // tail-sum weights (one equi-join + one literal lookup — no
    // per-depth scan), driver-literal 12-dp decimal weights shared
    // with the oracle by construction.
    "q140_rbo" -> ((s, d) => {
      val (lexical, dense) = hybridRankers(s, d)
      Eval.rbo(lexical, dense, "doc_id", p = 0.9, depth = 20)
    }),

    // X2+ — the growth curve's standing-state form (the q109/q111
    // amortization applied to the Heaps diagnostic): per-bucket stats
    // and the first-occurrence index built once over history, parquet
    // round-tripped, min/sum-merged with the new batch's partials, then
    // assembled through the shared curve core — history is never
    // re-tokenized. Shares q137's oracle: the merges are associative,
    // so merged ≡ from-scratch by construction.
    "q141_growth_merge" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val tmp = scratch("q141", d)
      val hist = docs.filter(col("doc_id") < 250)
      TextOps.docBucketStats(hist, "doc_id", "text", 100L)
        .write.mode("overwrite").parquet(s"$tmp/stats")
      TextOps.firstOccurrences(hist, "doc_id", "text")
        .write.mode("overwrite").parquet(s"$tmp/fo")
      val batch = docs.filter(col("doc_id") >= 250)
      TextOps.vocabGrowthFrom(
          TextOps.mergeDocBucketStats(s.read.parquet(s"$tmp/stats"),
            TextOps.docBucketStats(batch, "doc_id", "text", 100L)),
          TextOps.mergeFirstOccurrences(s.read.parquet(s"$tmp/fo"),
            TextOps.firstOccurrences(batch, "doc_id", "text")),
          100L)
        .orderBy(col("bucket").asc_nulls_last)
    }),

    // X+ — temperature-flattened mixture (α = 0.7, the multilingual
    // convention): per-source rates from 6-dp decimal weights (exact,
    // order-independent Z) feed the q88 content-hash sampler — the
    // stratum counts are a metadata-sized collect (the q128 precedent).
    // Per-source kept counts certify both the rate algebra and the
    // hash-prefix filter.
    "q142_temperature_mix" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .filter(col("source").isNotNull && col("text").isNotNull)
      val counts = docs.groupBy(col("source"))
        .agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      Sampling.mixtureSample(docs, "source", col("text"),
          Sampling.temperatureRates(counts, alpha = 0.7, target = 250L))
        .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
        .orderBy(col("source").asc_nulls_last)
    }),

    // X+/E — Brier score on the q131 confidence contract: every squared
    // term is an exact decimal (6-dp confidences), one float mean at the
    // end. Next to q132's ECE it separates calibration from resolution.
    "q143_brier" -> ((s, d) =>
      Eval.brierScore(
        t(s, d, "embeddings").filter(col("vec_id") < 1000)
          .select(
            ((element_at(col("embedding"), 1).cast("double") + 1.0) / 2.0)
              .as("conf"),
            (col("label") === 0).cast("int").as("is_pos")),
        "conf", "is_pos")),

    // X+/E — corpus retrieval metrics over the q133 frame: MRR (0 for
    // no-relevant-retrieved queries), precision@10 over all queries,
    // recall@10 against each query's TRUE relevant total (class count
    // minus self — exact from the same base, no second scan). 9-dp
    // decimal per-query terms keep the three means order-independent.
    "q144_retrieval_metrics" -> ((s, d) => {
      val (base, ranked) = labelMatchRanked(s, d)
      val classCounts = base.groupBy(col("label"))
        .agg(count(lit(1)).as("_cn"))
      val totalRel = base.filter(col("vec_id") < 100)
        .join(broadcast(classCounts), "label")
        .select(col("vec_id").as("q_id"), (col("_cn") - 1L).as("n_rel"))
      Eval.retrievalMetrics(ranked, totalRel, "q_id", "rank", "rel",
        k = 10)
    }),

    // X+/G — PageRank over the customer→supplier order graph (3 power
    // iterations, d=0.85, dangling mass redistributed). Suppliers are all
    // dangling (no out-edges) and customers have no in-edges, so both
    // completion paths are exercised; DECIMAL(38,12) contribution sums +
    // 9-dp per-iteration rounding make every iteration engine-portable.
    "q145_pagerank" -> ((s, d) => {
      val pr = GraphOps.pageRank(orderGraph(s, d), "src", "dst",
        iters = 3, damping = 0.85)
      pr.orderBy(col("r").desc, col("node").asc).limit(20)
    }),

    // X+/G — degree profile of the same graph (node-sized output).
    "q146_degree_profile" -> ((s, d) =>
      GraphOps.degreeProfile(orderGraph(s, d), "src", "dst")
        .orderBy(col("node").asc)),

    // X+/T — per-type OLS trend of event value on hours since 2024-01-01
    // (fixed-literal recentring keeps the closed-form differences well
    // inside the double mantissa; moments are exact decimal sums).
    "q147_trend" -> ((s, d) =>
      Trend.trend(
        t(s, d, "events").filter(col("event_type").isNotNull),
        "event_type",
        x = floor((col("ts").cast("long") - lit(1704067200L)) / lit(3600.0))
          .cast("double"),
        y = col("value"))
        .orderBy(col("event_type").asc)),

    // X+/T — per-user lag-1 serial autocorrelation of event values (the
    // series ordered by (ts, event_id); pairs with a NULL side drop).
    "q148_autocorr" -> ((s, d) =>
      Trend.autocorr(
        t(s, d, "events").filter(col("user_id") < 40),
        "user_id", "ts", "event_id", "value", lagN = 1)
        .orderBy(col("user_id").asc)),

    // X+/T — truncated-kernel EWMA (α=0.5, 4 taps) per user; the kernel
    // weights ride as shared plan/oracle literals, the float fold is a
    // fixed left-to-right chain in both engines.
    "q149_ewma" -> ((s, d) =>
      Trend.ewma(
        t(s, d, "events").filter(col("user_id") < 30),
        "user_id", "ts", "event_id", "value", alpha = 0.5, k = 4)
        .select(col("user_id"), col("event_id"), col("value"), col("ewma"))
        .orderBy(col("user_id").asc, col("event_id").asc)),

    // X+/R — winsorized mean per event type at rank-exact [p05, p95]
    // bounds (actual data values — bit-exact across engines), clipped
    // mean folded as exact decimals.
    "q150_winsorized_mean" -> ((s, d) =>
      Robust.winsorizedMean(
        t(s, d, "events"), "event_type", "value", "event_id",
        pLo = 0.05, pHi = 0.95)
        .orderBy(col("event_type").asc)),

    // X3+ — per-dimension z-scored embeddings: the stats pass is one hash
    // aggregate (dimension-sized out, 9-dp), the apply side a zero-shuffle
    // literal-stats transform; dumped per-element for vec_id < 8.
    "q151_embed_zscore" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val z = VectorOps.standardize(emb, "embedding",
        VectorOps.dimStats(emb, "embedding"))
      z.filter(col("vec_id") < 8)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("_p", "z")))
        .select(col("vec_id"), (col("_p") + 1).cast("int").as("dim"),
          col("z"))
        .orderBy(col("vec_id").asc, col("dim").asc)
    }),

    // X3+ — seeded ±1 random projection (JL sketch) of the 64-d
    // embeddings to 8 dims; the sign matrix is derived driver-side from
    // md5("rp:<salt>:<i>:<j>") so plan and oracle share it literally.
    "q152_random_projection" -> ((s, d) =>
      VectorOps.randomProject(
        t(s, d, "embeddings").filter(col("vec_id") < 40),
        "embedding", dIn = 64, kOut = 8, salt = "rp42")
        .select(col("vec_id") +: (1 to 8).map(j => col(s"p$j")): _*)
        .orderBy(col("vec_id").asc)),

    // X+/T — the trend standing-index law, declared: the same fit as
    // q147 assembled from MERGED moment partials of an id-interleaved
    // split — exact decimal sums make the merge lossless, so this shares
    // q147's oracle verbatim (the q141 growth-merge precedent).
    "q154_trend_merge" -> ((s, d) => {
      val ev = t(s, d, "events").filter(col("event_type").isNotNull)
      val x = floor((col("ts").cast("long") - lit(1704067200L)) /
        lit(3600.0)).cast("double")
      val a = Trend.momentPartials(
        ev.filter(col("event_id") % 2 === 0), "event_type", x, col("value"))
      val b = Trend.momentPartials(
        ev.filter(col("event_id") % 2 =!= 0), "event_type", x, col("value"))
      Trend.trendFromMoments(
        Trend.mergeMoments(a.unionByName(b), "event_type"), "event_type")
        .orderBy(col("event_type").asc)
    }),

    // X+/G — per-node triangle counts of the supplier co-order graph
    // (edges = supplier pairs sharing ≥ 6 orders — the support threshold
    // every co-occurrence projection needs to keep the graph sparse; the
    // oriented wedge join finds each triangle once).
    "q155_triangles" -> ((s, d) => {
      val co = GraphOps.coOccurrence(
        t(s, d, "lineitem"), "l_orderkey", "l_suppkey", minSupport = 6L)
      GraphOps.triangleCounts(co, "src", "dst")
        .orderBy(col("n_tri").desc, col("node").asc).limit(15)
    }),

    // X4+ — REAL image transform end-to-end: the q120 synthetic P5
    // payloads resized 3×2 by the actual nearest-neighbor re-encoder,
    // then re-DECODED by the production codec (transform → decode
    // composition through the same batch cores). The oracle recomputes
    // the exact output BYTES (md5) from the integer source-pixel map.
    "q156_image_resize" -> ((s, d) => {
      val w = lit(4L) + pmod(col("doc_id"), lit(5L))
      val h = lit(3L) + pmod(col("doc_id"), lit(3L))
      val rasterHex = array_join(
        transform(sequence(lit(0L), w * h - 1), i =>
          lpad(hex(pmod(col("doc_id") * 31 + i * 7, lit(256))), 2, "0")), "")
      val payload = concat(
        concat(lit("P5\n"), w.cast("string"), lit(" "),
          h.cast("string"), lit("\n255\n")).cast("binary"),
        unhex(rasterHex))
      val assets = t(s, d, "documents").select(col("doc_id"),
        payload.as("payload"))
      val resized = Multimodal.resizeNetpbm(assets, "payload", "thumb",
        outW = 3, outH = 2)
      new NetpbmDecoder(channels = 1).decode(resized, "thumb", "f")
        .select(col("doc_id"),
          // md5 over the HEX rendering (not raw bytes): the oracle
          // dialect's md5 is VARCHAR-only, and hex() is uppercase in both
          md5(hex(col("thumb"))).as("checksum"),
          element_at(col("f"), 1).cast("long").as("width"),
          element_at(col("f"), 2).cast("long").as("height"),
          round(element_at(col("f"), 3) / 6.0, 6).as("mean_px"))
        .orderBy(col("doc_id").asc_nulls_last)
    }),

    // X+/L — probabilistic record linkage (Fellegi–Sunter) between the
    // customer file and a content-perturbed copy (name typo %9, segment
    // swap %7, balance shift %5, even keys only): nation-blocked
    // candidates, per-field log-likelihood weights as shared plan/oracle
    // literals, best match per left record at threshold 4.
    "q157_record_linkage" -> ((s, d) =>
      customerLinks(s, d).orderBy(col("a_id").asc)),

    // X/L+X1 — the links composed with transitive components: each
    // entity cluster (an A-record star around its linked B-record,
    // closed transitively by Dedup.components) summarized as a cluster
    // size histogram — how much of the file collapses per entity.
    "q162_entity_clusters" -> ((s, d) => {
      val labels = Dedup.components(
        customerLinks(s, d)
          .select(col("a_id"), (col("b_id") + 1000000L).as("b_id")))
      labels.groupBy(col("component")).agg(count(lit(1)).as("_sz"))
        .groupBy(col("_sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
        .orderBy(col("cluster_size").asc)
    }),

    // X2+ — Jensen–Shannon divergence between the even- and odd-id
    // document corpora: smoothed term distributions over the union
    // vocabulary, decimal per-term contributions, one-row summary.
    "q158_js_divergence" -> ((s, d) => {
      val docs = t(s, d, "documents")
      CorpusCompare.jsDivergence(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 =!= 0))
    }),

    // X2+ — the divergence standing-state law, declared: q158's summary
    // rebuilt with the P side's counts MERGED from a further split
    // (exact integer count sums — lossless), via the same count-fed
    // summary the streaming drift monitor reads. Shares q158's oracle.
    "q161_drift_merge" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val even = docs.filter(col("doc_id") % 2 === 0)
      val odd = docs.filter(col("doc_id") % 2 =!= 0)
      val mergedP = CorpusCompare.mergeCounts(
        CorpusCompare.termCounts(even.filter(col("doc_id") % 4 === 0))
          .unionByName(CorpusCompare.termCounts(
            even.filter(col("doc_id") % 4 =!= 0))))
      CorpusCompare.jsDivergenceFromCounts(
        mergedP, CorpusCompare.termCounts(odd))
    }),

    // X2+ — the 20 terms driving that divergence, with counts and the
    // over-represented side (the actionable face of q158).
    "q159_drift_terms" -> ((s, d) => {
      val docs = t(s, d, "documents")
      CorpusCompare.driftTerms(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 =!= 0), k = 20)
    }),

    // X+/E — label-noise triage over the q119 neighbor frame: probes
    // whose neighborhood votes their own label below 0.4, with the
    // strongest competing label attached (confident-learning heuristic;
    // at 10 uniform classes 0.2 flags only zero-own-vote probes).
    "q160_label_noise" -> ((s, d) => {
      val labeled = labeledSample(s, d)
      val centroids = AnnIvf.trainCentroids(labeled, k = 16, iters = 2)
      Eval.labelNoise(
          AnnIvf.knnJoin(labeled, centroids, kNeighbors = 5, nprobe = 16),
          labeled, k = 5, flagBelow = 0.2)
        .orderBy(col("vec_id").asc_nulls_last)
    }),

    // X+/W2 — last-touch attribution: each purchase credits its value to
    // the user's most recent prior non-purchase event within 24 h (or
    // "(none)"); per attributed type, conversion count + decimal value.
    "q163_attribution" -> ((s, d) =>
      LogAnalytics.lastTouchAttribution(
        t(s, d, "events"), "user_id", "ts", "event_id", "event_type",
        "value", convType = "purchase", windowSec = 86400L)
        .orderBy(col("attr_type").asc_nulls_last)),

    // X+ — Efraimidis–Spitsas weighted sample without replacement: 40
    // docs weighted by length, exponential keys from content-derived
    // uniforms (salt "es42"), keys rounded 12-dp before ranking.
    "q164_weighted_sample" -> ((s, d) =>
      Sampling.weightedTake(
        t(s, d, "documents"), col("n_chars"), "doc_id", k = 40)
        .select(col("doc_id"), col("n_chars"), col("es_key"))
        .orderBy(col("es_key").desc, col("doc_id").asc)),

    // X+/R — median/MAD modified-z outlier profile per event type
    // (rank-exact median and MAD — actual data values; 0.6745·|dev| >
    // 3.5·MAD is the Iglewicz–Hoaglin rule without a division).
    "q165_mad_outliers" -> ((s, d) =>
      Robust.madOutliers(
        t(s, d, "events"), "event_type", "value", "event_id")
        .orderBy(col("event_type").asc)),

    // X+/S — Pearson χ² independence of event type vs day-of-week
    // (arithmetic dow — no engine week-start convention): exact cell
    // counts, margins re-aggregated from cells, decimal term fold.
    "q166_chi2_independence" -> ((s, d) =>
      StatsTests.chiSquared(
        t(s, d, "events").filter(col("ts").isNotNull),
        col("event_type"),
        pmod(floor(col("ts").cast("long") / lit(86400L)), lit(7L)))),

    // X+/S — Benford leading-digit audit of event values: arithmetic
    // digit extraction, expected shares as generated plan/oracle
    // literals, per-digit χ² contributions.
    "q167_benford" -> ((s, d) =>
      StatsTests.benfordProfile(t(s, d, "events"), col("value"))),

    // X+/W2 — exact trailing-7-day distinct actives per active day via
    // contribution fan-out (dedup to user-days, explode each into the
    // ≤7 window-ends it serves — one day-keyed shuffle, no self-join).
    "q168_rolling_active" -> ((s, d) =>
      TimeSeries.rollingDistinctUsers(
        t(s, d, "events"), "user_id", "ts", windowDays = 7)),

    // X2+ — LIX readability per document (language-neutral: words per
    // sentence + % long words; floor-1 sentences), zero-shuffle.
    "q169_readability" -> ((s, d) =>
      TextOps.readability(t(s, d, "documents"), "text")
        .filter(col("doc_id") < 100)
        .select(col("doc_id"), col("n_words"), col("n_sentences"),
          col("n_long"), col("lix"))
        .orderBy(col("doc_id").asc)),

    // X/S+X2 — the q166 χ² composed on a new domain: corpus-half ×
    // term homogeneity (are the two halves drawn from one vocabulary
    // distribution?); densified cells are the point — a term absent
    // from one half IS the evidence.
    "q170_term_homogeneity" -> ((s, d) =>
      StatsTests.chiSquared(
        t(s, d, "documents")
          .withColumn("_c", when(col("doc_id") % 2 === 0, lit("a"))
            .otherwise(lit("b")))
          .select(col("_c"),
            explode(TextOps.tokens(col("text"))).as("term")),
        col("_c"), col("term"))),

    // X3+/W2 — behavioral similarity via sparse cosine over the
    // inverted (user × event-type count) features: pairs meet only
    // through shared features, dots from exact counts, top-3 per user.
    "q171_similar_users" -> ((s, d) => {
      val feats = t(s, d, "events")
        .filter(col("user_id").isNotNull && col("event_type").isNotNull)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("c"))
      Similarity.sparseCosineTopK(feats, "user_id", "event_type", "c",
          k = 3)
        .filter(col("q_id") < 20)
        .orderBy(col("q_id").asc, col("rank").asc)
    }),

    // X+ — association rules over user × event-type baskets
    // (support/confidence/lift per ordered pair at joint support ≥ 5).
    "q172_assoc_rules" -> ((s, d) =>
      Mining.associationRules(
        t(s, d, "events"), "user_id", "event_type", minSupport = 5L)
        .orderBy(col("antecedent").asc, col("consequent").asc)),

    // X2+ — KWIC snippets for the q85 retrieval's top-10: the ±3-token
    // window around each hit's first query-term occurrence.
    "q173_snippets" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val hits = TextSearch.bm25TopK(docs, "doc_id", "text",
          query = "dup key window", k = 10)
        .select(col("doc_id"), col("rank"))
      hits.join(
          TextSearch.kwicSnippets(docs, "doc_id", "text",
            query = "dup key window", context = 3),
          Seq("doc_id"))
        .select(col("doc_id"), col("rank"), col("pos"), col("snippet"))
        .orderBy(col("rank").asc)
    }),

    // X3+ — semantic drift between the embedding half-corpora: cosine
    // and L2 between the per-dimension mean vectors (the embedding-
    // space companion to q158's lexical JS).
    "q174_centroid_drift" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      VectorOps.centroidDrift(
        emb.filter(col("vec_id") % 2 === 0),
        emb.filter(col("vec_id") % 2 =!= 0), "embedding")
    }),

    // X+/S — total-variation distance between the view and purchase
    // value distributions (width-5 bins over the union bin set).
    "q175_tv_distance" -> ((s, d) => {
      val ev = t(s, d, "events")
      StatsTests.tvDistance(
        ev.filter(col("event_type") === "view"),
        ev.filter(col("event_type") === "purchase"),
        col("value"), binWidth = 5.0)
    }),

    // X+/S — pooled two-proportion z-test: user-parity cohorts, per-user
    // conversion (any purchase), one IEEE chain over exact counts.
    "q176_ab_test" -> ((s, d) => {
      val users = t(s, d, "events")
        .filter(col("user_id").isNotNull)
        .groupBy(col("user_id"))
        .agg(max((col("event_type") === "purchase").cast("int"))
          .as("conv"))
      StatsTests.twoProportionZ(
        users.filter(col("user_id") % 2 === 0),
        users.filter(col("user_id") % 2 =!= 0),
        col("conv") === 1)
    }),

    // X+/S — tie-corrected Mann–Whitney U between view and purchase
    // values (doubled-average combined ranks — integers until the final
    // z; global-rank sample-size contract as q117).
    "q177_mann_whitney" -> ((s, d) => {
      val ev = t(s, d, "events")
      StatsTests.mannWhitneyU(
        ev.filter(col("event_type") === "view"),
        ev.filter(col("event_type") === "purchase"),
        col("value"))
    }),

    // X+/S — two-sample Kolmogorov–Smirnov D between view and purchase
    // values: CDF gaps at the combined distinct values, exact fractions.
    "q178_ks_test" -> ((s, d) => {
      val ev = t(s, d, "events")
      StatsTests.ksTest(
        ev.filter(col("event_type") === "view"),
        ev.filter(col("event_type") === "purchase"),
        col("value"))
    }),

    // X+/S — corpus concentration by source: HHI, Gini over the
    // ascending size ranking, and the top source's share — exact
    // integers until the final divisions.
    "q179_concentration" -> ((s, d) =>
      StatsTests.concentration(t(s, d, "documents"), col("source"))),

    // X+/S — Kaplan–Meier churn curve over user lifetimes: integer-hour
    // spans (the corpus's churn dynamics live at hour scale), 12-hour
    // churn horizon, product-limit fold as 12-dp decimal ln terms
    // (lifetime-space windows — never data-sized).
    "q180_kaplan_meier" -> ((s, d) =>
      Survival.kaplanMeier(t(s, d, "events"),
        bucketSeconds = 3600L, horizonBuckets = 12)),

    // X2+/§2.9 — Unicode NFC pre-hash normalization via the codegen'd
    // graft_normalize expression: decomposed accents (e + U+0301) are
    // injected deterministically, then the per-lang report counts docs
    // and characters the normalizer composed. Zero-shuffle projection
    // into a lang-sized aggregate.
    "q181_nfc_normalize" -> ((s, d) => {
      val acc = regexp_replace(col("text"), "e", "e\u0301")
      t(s, d, "documents")
        .select(col("lang"), acc.as("_a"))
        .select(col("lang"), col("_a"), Scrub.normalize(col("_a")).as("_c"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("_c") =!= col("_a"), 1L).otherwise(0L))
            .as("n_changed"),
          sum((length(col("_a")) - length(col("_c"))).cast("long"))
            .as("chars_composed"))
        .orderBy(col("lang").asc)
    }),

    // X3+ — one-row embedding-corpus health report: zero-norm census,
    // norm mean/std, and the Ethayarajh anisotropy (squared norm of the
    // mean unit vector). Per-row folds are in-order HOFs (zero shuffle);
    // corpus stats fold 9/12-dp decimal terms.
    "q182_embedding_health" -> ((s, d) =>
      VectorOps.embeddingHealth(t(s, d, "embeddings"))),

    // X2+ — tokenizer fertility by language: tokens/doc, chars/token,
    // bytes/token from exact long totals (UTF-8 bytes vs codepoints —
    // the multilingual cost asymmetry a tokenizer budget must price).
    "q183_token_fertility" -> ((s, d) =>
      t(s, d, "documents")
        .filter(col("text").isNotNull)
        .select(col("lang"),
          size(TextOps.tokens(col("text"))).cast("long").as("_tk"),
          length(col("text")).cast("long").as("_ch"),
          octet_length(col("text")).cast("long").as("_by"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("_tk")).as("tokens"),
          sum(col("_ch")).as("chars"),
          sum(col("_by")).as("bytes"),
          round(sum(col("_tk")).cast("double") / count(lit(1)), 6)
            .as("tokens_per_doc"),
          when(sum(col("_tk")) > 0,
            round(sum(col("_ch")).cast("double") / sum(col("_tk")), 6))
            .as("chars_per_token"),
          when(sum(col("_tk")) > 0,
            round(sum(col("_by")).cast("double") / sum(col("_tk")), 6))
            .as("bytes_per_token"))
        .orderBy(col("lang").asc)),

    // X2+/§2.9 — DEFLATE compression-ratio quality signal per language
    // (native graft_deflate_len — the long-range redundancy screen):
    // avg folds 9-dp decimal terms; min/max are exact 6-dp ratios. The
    // partial oracle checks every recomputable property (doc universe,
    // ratio bounds from per-lang byte floors, min<=avg<=max).
    "q192_compression_signal" -> ((s, d) =>
      t(s, d, "documents")
        .filter(col("text").isNotNull && octet_length(col("text")) > 0)
        .select(col("lang"),
          TextOps.compressionRatio(col("text")).as("_r"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          round(sum(round(col("_r"), 9)
            .cast(org.apache.spark.sql.types.DecimalType(38, 12)))
            .cast("double") / count(lit(1)), 6).as("avg_ratio"),
          min(col("_r")).as("min_ratio"),
          max(col("_r")).as("max_ratio"))
        .orderBy(col("lang").asc)),

    // X2+ — token-coverage curve of the top-100 vocabulary (what does
    // each vocab size buy?): TakeOrdered candidate cut, bounded-frame
    // rank/cumulative windows, exact long counts until the final share.
    "q191_vocab_coverage" -> ((s, d) =>
      TextOps.vocabCoverage(
        TextOps.termFrequencies(t(s, d, "documents"), "text"), topK = 100)
        .orderBy(col("rank").asc)),

    // X1+ — leakage-safe train/test split: split on the DEDUP CLUSTER's
    // hash (Dedup.clusterLabels — exact copies inherit their text
    // group's rep, near-dups their component), so contaminated pairs
    // can never straddle the boundary; the naive row-keyed split's
    // leak count is reported alongside as the counterfactual.
    "q190_cluster_split" -> ((s, d) => {
      val labeled = Dedup.clusterLabels(
        t(s, d, "documents"), "doc_id", "text", threshold = 0.6)
      // cut: `sp` feeds three consumers (the per-split census and both
      // leakage audits) — without it the clusterLabels tail (two joins +
      // ghash agg over the corpus) re-runs per consumer (guide §7.2)
      val sp = graft.ext.Materialize.cut(Sampling.hashSplit(
        Sampling.hashSplit(labeled, col("cluster").cast("string"),
          Seq("train", "test"), Seq("c0")),
        col("doc_id").cast("string"),
        Seq("train", "test"), Seq("c0"), "naive_split")
        .select(col("cluster"), col("split"), col("naive_split")))
      sp.groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("cluster")).as("n_clusters"))
        .crossJoin(broadcast(
          Sampling.splitLeakage(sp, col("cluster"), col("split"))
            .select(col("leaky_groups").as("leaky_clusters"))))
        .crossJoin(broadcast(
          Sampling.splitLeakage(sp, col("cluster"), col("naive_split"))
            .select(col("leaky_groups").as("naive_leaky_clusters"))))
        .orderBy(col("split").asc)
    }),

    // X+/S — multiplicity-controlled source screening: group-vs-rest
    // Welch z on document lengths for EVERY source at once (exact
    // decimal moments, complement by subtraction), A&S-polynomial
    // p-values from the rounded z, Benjamini–Hochberg step-up at 5%
    // FDR. Windows run over the test frame — source-count-sized.
    "q189_source_screen" -> ((s, d) =>
      StatsTests.bhSignificance(
        StatsTests.groupWelchZ(t(s, d, "documents"),
          col("source"), col("n_chars"))
          .withColumn("p", StatsTests.normalTwoSidedP(col("z"))),
        "p", "g", alpha = 0.05)
        .orderBy(col("rank").asc)),

    // X+/S — exact mid-rank quantile normalization of event values as a
    // two-level cumulative (bucket offsets + within-bucket windows —
    // data-sized single partitions nowhere); the oracle is the
    // equivalent ONE-window form.
    "q188_quantile_normalize" -> ((s, d) =>
      Robust.quantileNormalize(t(s, d, "events"), col("value"),
        bucketWidth = 10.0)
        .orderBy(col("value").asc)),

    // X3+ — hard-negative mining for contrastive training: per anchor,
    // the top-3 most-similar DIFFERENT-label vectors. Exact form under
    // the q108 broadcast-probe contract (vec_id < 200 bounds the eval
    // sample).
    "q187_hard_negatives" -> ((s, d) =>
      Eval.hardNegatives(
        t(s, d, "embeddings").filter(col("vec_id") < 200), k = 3)
        .orderBy(col("q_id").asc, col("rank").asc)),

    // X+/S/§2.10 — the KM curve's merge law as a query: spans built on
    // the event-id-parity halves fold by per-user min/max into EXACTLY
    // the whole-corpus spans (the oracle computes the whole-corpus curve
    // directly — equality is the law). Horizon 24 h to keep the result
    // distinct from q180.
    "q186_survival_merge" -> ((s, d) => {
      val ev = t(s, d, "events")
      Survival.kaplanMeierFromSpans(
        Survival.mergeSpans(
          Survival.userSpans(ev.filter(col("event_id") % 2 === 0),
            bucketSeconds = 3600L),
          Survival.userSpans(ev.filter(col("event_id") % 2 =!= 0),
            bucketSeconds = 3600L)),
        horizonBuckets = 24)
    }),

    // X3+ — linear probe of embedding quality, part 1: closed-form
    // ridge weights (one corpus pass builds the dim²-sized normal
    // equations as 12-dp decimal folds; the solve is driver-side). The
    // partial oracle certifies OPTIMALITY: it rebuilds (XᵀX + λI, Xᵀy)
    // in DuckDB and checks the dumped weights satisfy them.
    "q184_linear_probe" -> ((s, d) =>
      Probe.ridgeWeights(s, t(s, d, "embeddings"), "embedding",
        when(col("label") === 0, 1.0)
          .when(col("label").isNotNull, 0.0),
        dim = 64, lambda = 1e-3)),

    // X3+ — linear probe, part 2: the fit-quality report (n, mse, r2,
    // accuracy@0.5) for the same one-vs-rest target. The oracle
    // recomputes every metric in DuckDB from q184's dumped weights —
    // everything downstream of the solve is independently replayed.
    "q185_probe_report" -> ((s, d) =>
      Probe.report(t(s, d, "embeddings"), "embedding",
        when(col("label") === 0, 1.0)
          .when(col("label").isNotNull, 0.0),
        dim = 64, lambda = 1e-3)),

    // X2+ — top-3 smoothed-TF-IDF keywords per document (score cut by a
    // per-doc total-order rank); df/N come from the FULL corpus, the
    // doc_id bound only trims the dumped rows.
    "q153_keywords" -> ((s, d) =>
      TextSearch.tfidfKeywords(t(s, d, "documents"), "doc_id", "text",
        kTop = 3)
        .filter(col("doc_id") < 60)
        .orderBy(col("doc_id").asc, col("rank").asc))
  )

  /** q145/q146's shared edge list: customer→supplier through their own
    * orders (suppliers offset by 1e6 into a disjoint node-id range). */
  private def orderGraph(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
      .join(t(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"),
        (col("l_suppkey") + 1000000L).as("dst"))

  /** Exact all-pairs cosine top-k for vec_id < 8 — dot and norm are
    * left-folds in array order in both engines → bit-identical doubles, so
    * ranks and sims hash-match exactly. Shared by q19 (brute force) and q21
    * (LSH ANN: its 4-bit × 32-table settings hold measured recall 1.0 on
    * the harness embeddings and candidates are scored exactly, so its
    * output EQUALS brute force — AnnLshSpec guards the recall property). */
  /** Exact contamination recompute (same 5-gram shingling as
    * Dedup.shingles; benchmark = doc_id % 97 docs) — shared by q39 (the
    * broadcast-join path) and q50 (the Bloom-pruned path): both must
    * produce this identical exact result. */
  /** Shared by q123 (self-contained) and q124 (persisted line-frequency
    * index): the two strip paths share one cut core, so one SQL replay —
    * lockstep unnest of (pos, line), trim-keyed per-source doc
    * frequency, threshold cut, ordered string_agg rebuild — oracles
    * both. */
  private val boilerplateOracleSql: String =
    """WITH d0 AS (
      |  SELECT doc_id, source,
      |         text || chr(10) || '(c) footer of ' || source
      |              || chr(10) || 'promo ' ||
      |              CAST(doc_id % 250 AS VARCHAR) AS text
      |  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL),
      |l0 AS (
      |  SELECT doc_id, source, string_split(text, chr(10)) AS ls
      |  FROM d0),
      |lines AS (
      |  SELECT doc_id, source,
      |         unnest(range(0, len(ls))) AS pos, unnest(ls) AS line
      |  FROM l0),
      |keyed AS (
      |  SELECT doc_id, source, pos, line, trim(line) AS key FROM lines),
      |boiler AS (
      |  SELECT source, key FROM keyed WHERE length(key) > 0
      |  GROUP BY source, key HAVING count(DISTINCT doc_id) >= 5),
      |kept AS (
      |  SELECT k.doc_id, k.pos, k.line FROM keyed k
      |  LEFT JOIN boiler b ON k.source = b.source AND k.key = b.key
      |  WHERE b.key IS NULL),
      |reb AS (
      |  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean,
      |         count(*) AS nk
      |  FROM kept GROUP BY doc_id)
      |SELECT d.doc_id, coalesce(r.clean, '') AS text_clean,
      |       CAST(len(l.ls) - coalesce(r.nk, 0) AS BIGINT) AS n_cut
      |FROM d0 d JOIN l0 l USING (doc_id) LEFT JOIN reb r USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  private val contaminationOracleSql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
      |                       x -> length(x) > 0) AS t
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |         t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
      |              || ' ' || t[i+4] AS s
      |  FROM (SELECT doc_id, t, unnest(range(1, greatest(len(t) - 3, 1))) AS i
      |        FROM toks)),
      |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0),
      |agg AS (
      |  SELECT sh.doc_id,
      |         CAST(count(*) AS BIGINT) AS n_shingles,
      |         CAST(count(b.s) AS BIGINT) AS n_contaminated
      |  FROM sh LEFT JOIN bench b USING (s)
      |  WHERE sh.doc_id % 97 <> 0
      |  GROUP BY sh.doc_id)
      |SELECT doc_id, n_shingles, n_contaminated,
      |       CAST(n_contaminated AS DOUBLE) / CAST(n_shingles AS DOUBLE)
      |         AS contamination
      |FROM agg ORDER BY doc_id""".stripMargin

  /** Exact BM25 recompute (Lucene idf variant, k1=1.2 b=0.75, query
    * "dup key window"): integer-derived doubles + ln, round-6 armor over
    * the per-doc term-fold order. Shared by q85 (self-contained corpus
    * scan) and q94 (persisted inverted index): both probe paths fold
    * through TextSearch.rankCore, so they must produce this identical
    * exact result. */
  /** The BM25 CTE chain up to the per-doc aggregate — shared by
    * q85/q94's ranked tail and q173's snippet tail. */
  private val bm25CtesSql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
      |                       x -> length(x) > 0) AS t
      |  FROM documents),
      |lens AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM toks),
      |stats AS (SELECT count(*) AS n,
      |                 CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
      |          FROM lens),
      |post AS (
      |  SELECT doc_id, term FROM (
      |    SELECT doc_id, unnest(t) AS term FROM toks)
      |  WHERE term IN ('dup', 'key', 'window')),
      |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      |       FROM post GROUP BY 1, 2),
      |idf AS (
      |  SELECT term,
      |         ln(1.0 + ((SELECT n FROM stats) - CAST(count(*) AS DOUBLE) + 0.5)
      |                  / (CAST(count(*) AS DOUBLE) + 0.5)) AS idf
      |  FROM tf GROUP BY term),
      |scored AS (
      |  SELECT tf.doc_id,
      |         idf.idf * tf.tf /
      |           (tf.tf + 1.2 * (0.25 + 0.75 * lens.dl / (SELECT avgdl FROM stats)))
      |           AS s
      |  FROM tf JOIN idf USING (term) JOIN lens USING (doc_id)),
      |agg AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS matched,
      |         round(sum(s), 6) AS score
      |  FROM scored GROUP BY doc_id)""".stripMargin

  private val bm25OracleSql: String =
    bm25CtesSql + """
      |SELECT doc_id, matched, score,
      |       CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
      |         AS rank
      |FROM agg ORDER BY score DESC, doc_id LIMIT 20""".stripMargin

  /** q173's oracle — the q85 ranking joined to the same first-hit KWIC
    * window: min list_position across the query terms (0 = absent →
    * nullif), ±3 tokens via the clamped slice. */
  private val snippetsOracleSql: String =
    bm25CtesSql + """,
      |rk AS (
      |  SELECT doc_id,
      |         CAST(row_number() OVER (ORDER BY score DESC, doc_id)
      |              AS BIGINT) AS rank
      |  FROM agg ORDER BY rank LIMIT 10),
      |sn AS (
      |  SELECT t.doc_id,
      |         least(nullif(list_position(t.t, 'dup'), 0),
      |               nullif(list_position(t.t, 'key'), 0),
      |               nullif(list_position(t.t, 'window'), 0)) AS pos,
      |         t.t
      |  FROM toks t)
      |SELECT r.doc_id, r.rank, CAST(sn.pos AS BIGINT) AS pos,
      |       array_to_string(
      |         array_slice(sn.t, greatest(sn.pos - 3, 1), sn.pos + 3),
      |         ' ') AS snippet
      |FROM rk r JOIN sn ON sn.doc_id = r.doc_id
      |WHERE sn.pos IS NOT NULL
      |ORDER BY r.rank""".stripMargin

  /** Two-pass prefix-blocked Levenshtein pairs — shared by q102 (self-
    * contained) and q111 (persisted block index), which must produce the
    * identical pair set. */
  private val fuzzyPairsOracleSql: String =
    """WITH h AS (SELECT doc_id, lower(substr(text, 1, 64)) AS head
      |           FROM documents WHERE text IS NOT NULL),
      |b AS (
      |  SELECT a.doc_id AS d1, c.doc_id AS d2, a.head AS ha, c.head AS hb
      |  FROM h a JOIN h c
      |    ON substr(a.head, 1, 16) = substr(c.head, 1, 16)
      |   AND a.doc_id < c.doc_id
      |  UNION
      |  SELECT a.doc_id, c.doc_id, a.head, c.head
      |  FROM h a JOIN h c
      |    ON substr(a.head, 17, 16) = substr(c.head, 17, 16)
      |   AND length(a.head) >= 32 AND length(c.head) >= 32
      |   AND a.doc_id < c.doc_id)
      |SELECT d1 AS doc_id, d2 AS dup_id,
      |       CAST(levenshtein(ha, hb) AS BIGINT) AS dist
      |FROM b WHERE levenshtein(ha, hb) <= 10
      |ORDER BY doc_id, dup_id""".stripMargin

  /** Top-500 token vocabulary with dense ids — shared by q103 (direct
    * build) and q109 (persisted-tf merge), which must produce the
    * identical map. */
  private val vocabOracleSql: String =
    """WITH tf AS (
      |  SELECT t AS token, count(*) AS freq FROM (
      |    SELECT unnest(list_filter(string_split_regex(lower(text),
      |                  '\s+'), x -> length(x) > 0)) AS t
      |    FROM documents WHERE text IS NOT NULL)
      |  GROUP BY 1)
      |SELECT token,
      |       CAST(row_number() OVER (ORDER BY freq DESC, token)
      |            AS BIGINT) AS id,
      |       freq
      |FROM tf ORDER BY id LIMIT 500""".stripMargin

  /** First-occurrence bucketing and the bucket-frame cumulative windows
    * (unique bucket keys, so RANGE/ROWS framing agree) — shared by q137
    * (self-contained) and q141 (persisted standing state merged with
    * batch partials): min/sum merges are associative, so merged ≡
    * from-scratch. */
  private val vocabGrowthOracleSql: String =
    """WITH base AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text),
      |           '\s+'), x -> length(x) > 0) AS tk
      |  FROM documents WHERE text IS NOT NULL),
      |pb AS (
      |  SELECT doc_id // 100 AS bucket, count(*) AS n_docs,
      |         coalesce(sum(len(tk)), 0) AS n_tokens
      |  FROM base GROUP BY 1),
      |ft AS (
      |  SELECT t, min(doc_id) AS first
      |  FROM (SELECT doc_id, unnest(tk) AS t FROM base) GROUP BY 1),
      |nt AS (
      |  SELECT first // 100 AS bucket, count(*) AS new_terms
      |  FROM ft GROUP BY 1)
      |SELECT p.bucket, CAST(p.n_docs AS BIGINT) AS n_docs,
      |       CAST(p.n_tokens AS BIGINT) AS n_tokens,
      |       CAST(coalesce(nt.new_terms, 0) AS BIGINT) AS new_terms,
      |       CAST(sum(p.n_tokens) OVER (ORDER BY p.bucket) AS BIGINT)
      |         AS cum_tokens,
      |       CAST(sum(coalesce(nt.new_terms, 0)) OVER (ORDER BY p.bucket)
      |            AS BIGINT) AS vocab_size
      |FROM pb p LEFT JOIN nt ON p.bucket = nt.bucket
      |ORDER BY p.bucket""".stripMargin

  /** q140's oracle — generated so the 12-dp RBO tail-sum weights are the
    * SAME literals the plan carries ([[graft.ext.Eval.rboWeights]]):
    * cross-engine agreement on the weights is by construction. Replays
    * q128's two rankers (the shared [[hybridRankers]] lists), joins on
    * doc, and folds `list_extract(weights, max(ra, rb))` as exact
    * decimals; the only float op is the final (1−p) scale. */
  private val rboOracleSql: String = {
    val p = 0.9
    val weights = graft.ext.Eval.rboWeights(p, 20)
      .map(_.toDouble).mkString("[", ", ", "]")
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
       |                       x -> length(x) > 0) AS t
       |  FROM documents),
       |lens AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM toks),
       |stats AS (SELECT count(*) AS n,
       |                 CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
       |          FROM lens),
       |post AS (
       |  SELECT doc_id, term FROM (
       |    SELECT doc_id, unnest(t) AS term FROM toks)
       |  WHERE term IN ('dup', 'key', 'window')),
       |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       |       FROM post GROUP BY 1, 2),
       |idf AS (
       |  SELECT term,
       |         ln(1.0 + ((SELECT n FROM stats) - CAST(count(*) AS DOUBLE) + 0.5)
       |                  / (CAST(count(*) AS DOUBLE) + 0.5)) AS idf
       |  FROM tf GROUP BY term),
       |scored AS (
       |  SELECT tf.doc_id,
       |         idf.idf * tf.tf /
       |           (tf.tf + 1.2 * (0.25 + 0.75 * lens.dl / (SELECT avgdl FROM stats)))
       |           AS s
       |  FROM tf JOIN idf USING (term) JOIN lens USING (doc_id)),
       |lex AS (
       |  SELECT doc_id,
       |         CAST(row_number() OVER (
       |           ORDER BY round(sum(s), 6) DESC, doc_id) AS BIGINT) AS ra
       |  FROM scored GROUP BY doc_id
       |  ORDER BY ra LIMIT 20),
       |qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 0),
       |dense AS (
       |  SELECT vec_id AS doc_id,
       |         CAST(row_number() OVER (ORDER BY
       |           list_aggregate(list_transform(list_zip(embedding, (SELECT q FROM qv)),
       |               x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum')
       |           / nullif(
       |               sqrt(list_aggregate(list_transform(embedding,
       |                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
       |             * sqrt(list_aggregate(list_transform((SELECT q FROM qv),
       |                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')), 0)
       |           DESC NULLS LAST, vec_id) AS BIGINT) AS rb
       |  FROM embeddings ORDER BY rb LIMIT 20),
       |j AS (
       |  SELECT CAST(list_extract($weights,
       |           CAST(greatest(l.ra, de.rb) AS INTEGER))
       |         AS DECIMAL(18,12)) AS wt
       |  FROM lex l JOIN dense de ON l.doc_id = de.doc_id
       |  WHERE greatest(l.ra, de.rb) <= 20)
       |SELECT CAST(count(*) AS BIGINT) AS n_overlap,
       |       round(${1.0 - p} * CAST(coalesce(sum(wt), 0) AS DOUBLE), 6)
       |         AS rbo
       |FROM j""".stripMargin
  }

  private val bruteForceTopkSql: String =
    """WITH s AS (
      |  SELECT q.vec_id AS q_id, c.vec_id AS nn_id,
      |    list_aggregate(list_transform(list_zip(q.embedding, c.embedding),
      |        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum')
      |    / (sqrt(list_aggregate(list_transform(q.embedding,
      |          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
      |     * sqrt(list_aggregate(list_transform(c.embedding,
      |          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))) AS sim
      |  FROM embeddings q, embeddings c
      |  WHERE q.vec_id < 8),
      |r AS (
      |  SELECT q_id, nn_id, sim,
      |         row_number() OVER (PARTITION BY q_id
      |                            ORDER BY sim DESC, nn_id) AS rank
      |  FROM s)
      |SELECT q_id, nn_id, sim, rank FROM r WHERE rank <= 5
      |ORDER BY q_id, rank""".stripMargin

  /** DuckDB-equivalent SQL per oracled query (same column names & types).
    * Oracles containing `__OUT__` are partial oracles: Verify substitutes
    * the dump directory, and the SQL reads the Spark result back to check a
    * recomputable property of it (documented per query). */
  /** Shared DSIR oracle scaffolding (q335–q338): tokens → top-256
    * (freq DESC, token) vocabulary → bucketed token stream (OOV = '')
    * → Laplace-smoothed per-bucket 12-dp DECIMAL(38,12) log-ratios —
    * the exact arithmetic [[graft.ext.Selection.ngramLogRatios]]
    * folds. */
  private val dsirRatioCtes: String =
    """tok AS (
      |  SELECT doc_id, lang,
      |         unnest(list_filter(string_split_regex(lower(text),
      |                '\s+'), x -> length(x) > 0)) AS t
      |  FROM documents WHERE text IS NOT NULL),
      |vocab AS (
      |  SELECT t AS bucket FROM (
      |    SELECT t, count(*) AS f FROM tok GROUP BY 1
      |    ORDER BY f DESC, t LIMIT 256)),
      |bk AS (
      |  SELECT tok.doc_id, tok.lang,
      |         CASE WHEN v.bucket IS NULL THEN '' ELSE tok.t END
      |           AS bucket
      |  FROM tok LEFT JOIN vocab v ON v.bucket = tok.t),
      |dom AS (SELECT bucket FROM vocab
      |        UNION ALL SELECT '' AS bucket),
      |cnts AS (
      |  SELECT d.bucket, coalesce(r.c, 0) AS raw_cnt,
      |         coalesce(g.c, 0) AS target_cnt
      |  FROM dom d
      |  LEFT JOIN (SELECT bucket, count(*) AS c FROM bk
      |             GROUP BY 1) r ON r.bucket = d.bucket
      |  LEFT JOIN (SELECT bucket, count(*) AS c FROM bk
      |             WHERE lang = 'en' GROUP BY 1) g
      |    ON g.bucket = d.bucket),
      |tot AS (SELECT sum(raw_cnt) AS nr, sum(target_cnt) AS nt,
      |               count(*) - 1 AS v FROM cnts),
      |lr AS (
      |  SELECT bucket, raw_cnt, target_cnt,
      |         CAST(round(ln((target_cnt + 1.0) / (nt + v + 1.0))
      |                  - ln((raw_cnt + 1.0) / (nr + v + 1.0)), 12)
      |              AS DECIMAL(38,12)) AS log_ratio
      |  FROM cnts, tot)""".stripMargin

  /** [[dsirRatioCtes]] extended with the per-document weight fold:
    * exact decimal Σ log_ratio over the bucketed token stream, NULL-
    * text and token-free documents restored at weight 0. */
  private val dsirWeightCtes: String =
    s"""$dsirRatioCtes,
       |w AS (
       |  SELECT b.doc_id, count(*) AS n_tokens,
       |         sum(l.log_ratio) AS w
       |  FROM bk b JOIN lr l ON l.bucket = b.bucket GROUP BY 1),
       |wd AS (
       |  SELECT d.doc_id, d.lang, coalesce(w.n_tokens, 0) AS n_tokens,
       |         coalesce(w.w, CAST(0 AS DECIMAL(38,12))) AS weight
       |  FROM documents d LEFT JOIN w ON w.doc_id = d.doc_id)""".stripMargin

  /** Shared paragraph-dedup oracle scaffolding (q339/q340): the
    * synthesized paragraph docs (`g` — [[paraDocs]] byte-for-byte),
    * positional split, global first occurrence by (pid, pos), and the
    * per-document rebuild census `r`. */
  private val paraDedupCtes: String =
    """g AS (
      |  SELECT doc_id // 4 AS pid,
      |         'licensed under the apache license version 2.0' ||
      |           e'\n\n' ||
      |           string_agg(text, e'\n\n' ORDER BY doc_id) ||
      |           e'\n\n' || min_by(text, doc_id) AS text
      |  FROM documents WHERE text IS NOT NULL GROUP BY 1),
      |p AS (
      |  SELECT pid, unnest(range(0, len(ps))) AS pos,
      |         unnest(ps) AS para
      |  FROM (SELECT pid, string_split(text, e'\n\n') AS ps FROM g)),
      |k AS (
      |  SELECT pid, pos, para,
      |         row_number() OVER (PARTITION BY para
      |                            ORDER BY pid, pos) AS rn
      |  FROM p),
      |r AS (
      |  SELECT pid, count(*) AS n_paras,
      |         sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS n_kept,
      |         coalesce(string_agg(CASE WHEN rn = 1 THEN para END,
      |                             e'\n\n' ORDER BY pos), '') AS clean
      |  FROM k GROUP BY 1)""".stripMargin

  /** q80's reference-LM scoring as shared CTEs (add-one smoothing over
    * the training slice's vocabulary, per-doc 6-dp mean NLL) — the
    * scoring base q344/q346/q351 build on; `trainCond` selects the
    * training corpus; ends with `perdoc(doc_id, n_bigrams, nll)`. */
  private def lmScoreCtes(
      trainCond: String = "source = 'src0'"): String =
    s"""toks AS (
      |  SELECT doc_id, source,
      |         list_filter(string_split_regex(lower(text), '\\s+'),
      |                     x -> length(x) > 0) AS t
      |  FROM documents),
      |bg AS (
      |  SELECT doc_id, source, t[i] AS w1, t[i+1] AS w2
      |  FROM (SELECT doc_id, source, t,
      |               unnest(range(1, greatest(len(t), 1))) AS i
      |        FROM toks)),
      |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg
      |        WHERE $trainCond GROUP BY 1, 2),
      |c1 AS (SELECT w1, sum(c12) AS c1 FROM c12 GROUP BY 1),
      |v AS (SELECT count(DISTINCT w) AS v
      |      FROM (SELECT unnest(t) AS w FROM toks WHERE $trainCond)),
      |sc AS (
      |  SELECT bg.doc_id,
      |         -ln((coalesce(c12.c12, 0) + 1.0) /
      |             (coalesce(c1.c1, 0) + (SELECT v FROM v))) AS nl
      |  FROM bg
      |  LEFT JOIN c12 USING (w1, w2)
      |  LEFT JOIN c1 USING (w1)),
      |perdoc AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |         round(avg(nl), 6) AS nll
      |  FROM sc GROUP BY doc_id)""".stripMargin

  /** q345/q349's shared funnel oracle: the same one-pass rule flags,
    * first-fail CASE chain, and rules-sized cumulative census — q349's
    * merged per-shard censuses must equal it exactly (additivity). */
  private val funnelOracleSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |         list_filter(string_split_regex(lower(text), '\s+'),
      |                     x -> length(x) > 0) AS tk
      |  FROM documents),
      |m AS (
      |  SELECT doc_id, len(tk) AS wc, len(list_distinct(tk)) AS dt,
      |         list_max(list_transform(list_distinct(tk),
      |           w -> len(list_filter(tk, x -> x = w)))) AS topc,
      |         list_contains(tk, 'the') OR list_contains(tk, 'a')
      |           AS has_stop
      |  FROM t),
      |f AS (
      |  SELECT doc_id,
      |         CASE WHEN NOT coalesce(wc >= 20, false) THEN 1
      |              WHEN NOT coalesce(
      |                CAST(dt AS DOUBLE) / wc >= 0.35, false) THEN 2
      |              WHEN NOT coalesce(
      |                CAST(topc AS DOUBLE) / wc <= 0.12, false) THEN 3
      |              WHEN NOT coalesce(has_stop, false) THEN 4
      |              ELSE 0 END AS ff
      |  FROM m),
      |r AS (SELECT * FROM (VALUES
      |        (1, 'min_words_20'), (2, 'ttr_0.35'),
      |        (3, 'top_token_0.12'), (4, 'has_stopword'))
      |        AS v(rule_idx, rule)),
      |c AS (SELECT ff, count(*) AS n FROM f GROUP BY ff),
      |tot AS (SELECT count(*) AS total FROM f)
      |SELECT CAST(r.rule_idx AS BIGINT) AS rule_idx, r.rule,
      |       CAST(coalesce(c.n, 0) AS BIGINT) AS n_failed_here,
      |       CAST(total - sum(coalesce(c.n, 0))
      |              OVER (ORDER BY r.rule_idx) AS BIGINT) AS n_remaining
      |FROM r LEFT JOIN c ON c.ff = r.rule_idx CROSS JOIN tot
      |ORDER BY rule_idx""".stripMargin

  /** q347/q355's shared DP count-release oracle: the same seeded
    * uniform, Laplace inverse CDF, and clamped floor release — q355's
    * merged-partial census must reproduce it exactly (noise seeds on
    * the key, counts are additive). */
  private val dpCountsOracleSql: String =
    """WITH g AS (
      |  SELECT lang, source, count(*) AS n,
      |         (CAST(('0x' || substr(md5('dp-r14:' ||
      |            concat_ws(chr(1),
      |              coalesce(CAST(lang AS VARCHAR), chr(0)),
      |              coalesce(CAST(source AS VARCHAR), chr(0)))), 1, 12))
      |            AS UBIGINT) + 0.5) / 281474976710656.0 AS u
      |  FROM documents GROUP BY lang, source)
      |SELECT lang, source,
      |       CAST(greatest(0, floor(
      |         n + (-sign(u - 0.5) * ln(1 - 2 * abs(u - 0.5)) / 0.5)
      |           + 0.5)) AS BIGINT) AS released_count,
      |       CAST(0.5 AS DOUBLE) AS epsilon
      |FROM g ORDER BY lang, source""".stripMargin

  /** DuckDB mirror of [[graft.ext.Privacy.probit]] — Acklam's inverse
    * normal CDF with the IDENTICAL expression tree (same literals, same
    * parenthesization): every op is IEEE `+ − * /` plus `ln`/`sqrt`,
    * both engine-bit-matched, so the scalar is bit-equal to the Spark
    * plan's. `u` is the caller's uniform-in-(0,1) SQL expression. */
  private def probitSql(u: String): String = {
    // Horner folds generated, not hand-parenthesized: the fold IS the
    // Scala expression tree, so the two sides cannot drift. Coefficient
    // literals stay in e-notation — DuckDB parses e-notation as DOUBLE
    // (a bare decimal would parse as DECIMAL and change the arithmetic);
    // the few bare decimals (0.5, 1.0, 2.0, the branch cuts) are either
    // exactly representable or only compared, so DECIMAL→DOUBLE
    // promotion is value-identical. Verified bit-equal to the reference
    // fold over both tails, the central region, and the branch cuts.
    def lp(x: String): String = if (x.startsWith("-")) s"($x)" else x
    def horner(cs: Seq[String], v: String): String =
      cs.tail.foldLeft(lp(cs.head))((s, c) => s"($s * $v + ${lp(c)})")
    val a = Seq("-3.969683028665376e1", "2.209460984245205e2",
      "-2.759285104469687e2", "1.383577518672690e2",
      "-3.066479806614716e1", "2.506628277459239e0")
    val b = Seq("-5.447609879822406e1", "1.615858368580409e2",
      "-1.556989798598866e2", "6.680131188771972e1",
      "-1.328068155288572e1")
    val c = Seq("-7.784894002430293e-3", "-3.223964580411365e-1",
      "-2.400758277161838e0", "-2.549732539343734e0",
      "4.374664141464968e0", "2.938163982698783e0")
    val d = Seq("7.784695709041462e-3", "3.224671290700398e-1",
      "2.445134137142996e0", "3.754408661907416e0")
    def tl(q: String) = s"(${horner(c, q)} / ${horner(d :+ "1.0", q)})"
    val ql = s"sqrt(-2.0 * ln($u))"
    val qu = s"sqrt(-2.0 * ln(1.0 - $u))"
    val qc = s"($u - 0.5)"
    val rc = s"($qc * $qc)"
    val central =
      s"((${horner(a, rc)} * $qc) / (${horner(b, rc)} * $rc + 1.0))"
    s"(CASE WHEN $u < 0.02425 THEN ${tl(ql)}" +
      s" WHEN $u > 0.97575 THEN -${tl(qu)}" +
      s" ELSE $central END)"
  }

  /** q356/q358's shared Gaussian count-release oracle: the q347 census
    * + seeded uniform, [[probitSql]] noise scaled by the driver-side σ
    * (embedded with round-trip precision so both engines hold the
    * identical double), clamped floor release — q358's merged-partial
    * census must reproduce it exactly. */
  private val dpGaussianOracleSql: String = {
    val sigma = java.lang.Double.toString(
      graft.ext.Privacy.gaussianSigma(0.5, 1e-6))
    s"""WITH g AS (
       |  SELECT lang, source, count(*) AS n,
       |         (CAST(('0x' || substr(md5('dpg-r15:' ||
       |            concat_ws(chr(1),
       |              coalesce(CAST(lang AS VARCHAR), chr(0)),
       |              coalesce(CAST(source AS VARCHAR), chr(0)))), 1, 12))
       |            AS UBIGINT) + 0.5) / 281474976710656.0 AS u
       |  FROM documents GROUP BY lang, source)
       |SELECT lang, source,
       |       CAST(greatest(0, floor(
       |         n + ($sigma * ${probitSql("u")}) + 0.5)) AS BIGINT)
       |         AS released_count,
       |       CAST(0.5 AS DOUBLE) AS epsilon,
       |       CAST(1e-6 AS DOUBLE) AS delta
       |FROM g ORDER BY lang, source""".stripMargin
  }

  /** q359's zCDP release oracle: the q356 census + probit shape with
    * \u03c3 = 1/\u221a(2\u03c1) and the Bun & Steinke conversion, every driver-side
    * double embedded with round-trip precision. */
  private val zcdpGaussianOracleSql: String = {
    val sigma = java.lang.Double.toString(graft.ext.Privacy.zcdpSigma(0.125))
    val eps = java.lang.Double.toString(
      graft.ext.Privacy.zcdpEpsilon(0.125, 1e-6))
    s"""WITH g AS (
       |  SELECT lang, source, count(*) AS n,
       |         (CAST(('0x' || substr(md5('zcdp-r16:' ||
       |            concat_ws(chr(1),
       |              coalesce(CAST(lang AS VARCHAR), chr(0)),
       |              coalesce(CAST(source AS VARCHAR), chr(0)))), 1, 12))
       |            AS UBIGINT) + 0.5) / 281474976710656.0 AS u
       |  FROM documents GROUP BY lang, source)
       |SELECT lang, source,
       |       CAST(greatest(0, floor(
       |         n + ($sigma * ${probitSql("u")}) + 0.5)) AS BIGINT)
       |         AS released_count,
       |       CAST(0.125 AS DOUBLE) AS rho,
       |       CAST($eps AS DOUBLE) AS epsilon,
       |       CAST(1e-6 AS DOUBLE) AS delta
       |FROM g ORDER BY lang, source""".stripMargin
  }

  /** q370's sampled-Gaussian RDP oracle, GENERATED from the same fold
    * as [[graft.ext.Privacy.sgmRdpAccount]] (the probitSql discipline:
    * the Scala fold IS the expression tree on both sides, so they
    * cannot drift): per order α, the integer-binomial closed form with
    * exact-BigInt `ln C(α,j)` literals in e-notation, the identical
    * max-subtracted log-sum-exp left-fold, 12-dp decimal sums, Prop-3
    * conversion, grid-min flag. */
  private val sgmRdpOracleSql: String = {
    def dl(x: Double): String =
      String.format(java.util.Locale.ROOT, "%.17e", Double.box(x))
    val orders = Seq(2, 3, 4, 8, 16, 32)
    val perAlpha = orders.map { a =>
      val es = (0 to a).map { j =>
        s"(${dl(graft.ext.Privacy.lnBinom(a, j))} + " +
          s"${dl((a - j).toDouble)} * ln1q + ${dl(j.toDouble)} * lnq + " +
          s"${dl((j.toLong * j - j).toDouble)} / s2x2) AS e$j"
      }
      val names = (0 to a).map(j => s"e$j")
      val sumExp = names.map(n => s"exp($n - m)").mkString(" + ")
      s"""ea$a AS (SELECT ${es.mkString(",\n         ")} FROM r),
         |em$a AS (SELECT *, greatest(${names.mkString(", ")}) AS m
         |         FROM ea$a),
         |tm$a AS (SELECT ${dl(a.toDouble)} AS alpha,
         |                round((m + ln($sumExp)) / ${dl((a - 1).toDouble)},
         |                      12) AS term
         |         FROM em$a)""".stripMargin
    }
    val unioned = orders.map(a => s"SELECT alpha, term FROM tm$a")
      .mkString("\n      UNION ALL ")
    s"""WITH led AS (
       |  SELECT CAST(1e-2 AS DOUBLE) *
       |           (1.0e0 + (ascii(right(coalesce(source, '0'), 1)) % 3))
       |           AS q_samp,
       |         1.5e0 + 5.0e-1 * (ascii(right(coalesce(source, '0'), 1)) % 4)
       |           AS sigma
       |  FROM (SELECT DISTINCT source FROM documents)),
       |r AS (SELECT q_samp, sigma, ln(q_samp) AS lnq,
       |             ln(1.0e0 - q_samp) AS ln1q,
       |             2.0e0 * sigma * sigma AS s2x2
       |      FROM led),
       |${perAlpha.mkString(",\n")},
       |t AS (
       |      $unioned),
       |c AS (SELECT alpha,
       |             CAST(sum(CAST(term AS DECIMAL(38,12))) AS DOUBLE)
       |               AS rdp
       |      FROM t GROUP BY alpha),
       |x AS (SELECT alpha, rdp,
       |             rdp + ln(1.0 / 1e-6) / (alpha - 1.0) AS conv
       |      FROM c),
       |b AS (SELECT min(round(conv, 12)) AS best FROM x)
       |SELECT alpha, round(rdp, 6) AS rdp_epsilon,
       |       round(conv, 6) AS converted_epsilon,
       |       round(conv, 12) = best AS is_best
       |FROM x CROSS JOIN b ORDER BY alpha""".stripMargin
  }

  /** q361/q362's shared Bloom-screen oracle: the identical seeded
    * buckets (12 md5 nibbles of salt:j:key mod 4096\u00b763), the identical
    * 63-bit words and bit_or fold, the identical all-k-bits screen,
    * plus the exact null-safe truth flag. q362 (merged partials) must
    * reproduce it bit-for-bit \u2014 OR's merge law. */
  private val bloomScreenOracleSql: String =
    """WITH hist AS (SELECT text FROM documents WHERE doc_id % 2 = 0),
      |batch AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
      |js AS (SELECT unnest(range(3)) AS j),
      |hp AS (
      |  SELECT DISTINCT
      |    CAST(('0x' || substr(md5('bloom-r16:' || j || ':' ||
      |      coalesce(h.text, chr(0))), 1, 12)) AS UBIGINT) % 258048
      |      AS bucket
      |  FROM hist h CROSS JOIN js),
      |bloom AS (
      |  SELECT CAST(bucket // 63 AS BIGINT) AS word,
      |         bit_or(1::BIGINT << CAST(bucket % 63 AS INT)) AS bits
      |  FROM hp GROUP BY 1),
      |probes AS (
      |  SELECT b.doc_id,
      |    CAST(('0x' || substr(md5('bloom-r16:' || j || ':' ||
      |      coalesce(b.text, chr(0))), 1, 12)) AS UBIGINT) % 258048
      |      AS bucket
      |  FROM batch b CROSS JOIN js),
      |scr AS (
      |  SELECT p.doc_id,
      |         min(CASE WHEN (coalesce(bl.bits, 0) &
      |               (1::BIGINT << CAST(p.bucket % 63 AS INT))) =
      |               (1::BIGINT << CAST(p.bucket % 63 AS INT))
      |             THEN 1 ELSE 0 END) AS hit
      |  FROM probes p
      |  LEFT JOIN bloom bl ON bl.word = CAST(p.bucket // 63 AS BIGINT)
      |  GROUP BY p.doc_id),
      |tr AS (
      |  SELECT b.doc_id,
      |         EXISTS(SELECT 1 FROM hist h
      |                WHERE h.text IS NOT DISTINCT FROM b.text)
      |           AS true_dup
      |  FROM batch b)
      |SELECT s.doc_id, s.hit = 1 AS maybe_dup, tr.true_dup
      |FROM scr s JOIN tr USING (doc_id) ORDER BY doc_id""".stripMargin

  /** q364's read-back partial oracle (the q33 precedent, extended with
    * a completeness slice): recompute every dumped pair's exact shingle
    * arithmetic — linear in the dump, no candidate generation — poison
    * anything malformed, and append a sentinel row for every true pair
    * inside the deterministic doc_id < 2000 slice that the dump missed
    * (the slice holds 45 true pairs at sf0.1 and is the WHOLE corpus at
    * sf0.01, where this reduces to full completeness). Sound
    * corpus-wide, complete on the slice; the full-oracle q20 covers
    * completeness corpus-wide at sf0.01/sf1. */
  private val nearDedupCertOracleSql: String =
    """WITH dump AS (
      |  SELECT DISTINCT a_id, b_id
      |  FROM read_parquet('__OUT__/q364_near_dedup_cert/*.parquet')),
      |toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
      |                       x -> length(x) > 0) AS t FROM documents),
      |sh AS MATERIALIZED (
      |  SELECT doc_id, list(DISTINCT (t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
      |  FROM (SELECT doc_id, t, unnest(range(1, greatest(len(t) - 1, 1))) AS i
      |        FROM toks)
      |  GROUP BY doc_id),
      |re AS (
      |  SELECT d.a_id, d.b_id,
      |         CAST(len(list_intersect(sa.s, sb.s)) AS BIGINT) AS c,
      |         CAST(len(sa.s) AS BIGINT) AS na,
      |         CAST(len(sb.s) AS BIGINT) AS nb
      |  FROM dump d JOIN sh sa ON sa.doc_id = d.a_id
      |              JOIN sh sb ON sb.doc_id = d.b_id),
      |chk AS (
      |  SELECT a_id, b_id,
      |         CASE WHEN ok THEN c ELSE CAST(-1 AS BIGINT) END AS n_common,
      |         CASE WHEN ok THEN na + nb - c
      |              ELSE CAST(-1 AS BIGINT) END AS n_union,
      |         CASE WHEN ok THEN CAST(c AS DOUBLE) / CAST(na + nb - c AS DOUBLE)
      |              ELSE CAST(-1 AS DOUBLE) END AS jaccard
      |  FROM (SELECT *, a_id < b_id AND c > 0 AND
      |               CAST(c AS DOUBLE) / CAST(na + nb - c AS DOUBLE) >= 0.6
      |               AS ok
      |        FROM re)),
      |ss AS (SELECT doc_id, s, len(s) AS n FROM sh WHERE doc_id < 2000),
      |strue AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
      |  FROM ss a JOIN ss b
      |    ON a.doc_id < b.doc_id
      |   AND 5 * least(a.n, b.n) >= 3 * greatest(a.n, b.n)
      |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      |        / CAST(a.n + b.n - len(list_intersect(a.s, b.s)) AS DOUBLE)
      |        >= 0.6),
      |missing AS (
      |  SELECT a_id, b_id FROM strue
      |  EXCEPT SELECT a_id, b_id FROM dump)
      |SELECT a_id, b_id, n_common, n_union, jaccard FROM chk
      |UNION ALL
      |SELECT a_id, b_id, CAST(-2 AS BIGINT), CAST(-2 AS BIGINT),
      |       CAST(-2 AS DOUBLE)
      |FROM missing
      |ORDER BY a_id, b_id""".stripMargin

  /** q365's chained partial oracle: recompute the survivor set from
    * scratch — recursive reachability closure seeded with every
    * document, survivors = min-reachable-is-self (the q37 tail
    * verbatim) — over the CERTIFIED pair dump of [[q364]] instead of a
    * regenerated pair set. Independent CC, inherited pair set: the one
    * assumption is q364's slice-bounded completeness, which is the
    * honest shape of a certification the full oracle prices out. */
  private val dedupSurvivorsCertOracleSql: String =
    """WITH RECURSIVE pairs AS (
      |  SELECT DISTINCT a_id, b_id
      |  FROM read_parquet('__OUT__/q364_near_dedup_cert/*.parquet')),
      |edges AS MATERIALIZED (
      |  SELECT a_id AS src, b_id AS dst FROM pairs
      |  UNION ALL
      |  SELECT b_id, a_id FROM pairs),
      |reach(src, dst) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
      |SELECT src AS doc_id FROM reach GROUP BY src HAVING min(dst) = src
      |ORDER BY doc_id""".stripMargin

  def oracleSql: Map[String, String] = Map(

    // q356: the q347 seeded-uniform census through the Acklam probit —
    // engine-bit-matched noise (see probitSql) — with the analytic σ
    // embedded as the identical driver-side double.
    "q356_dp_gaussian" -> dpGaussianOracleSql,

    // q358: the standing Gaussian census — noise seeds on the group
    // key, counts are additive, so a release from parity-merged class
    // partials IS the whole-data release: q356's oracle verbatim.
    "q358_dp_gaussian_merge" -> dpGaussianOracleSql,

    // q357: same heterogeneous ledger (ε keyed off the source name's
    // last character), same 12-dp decimal term sums, same DRV'10
    // advanced-composition closed form — ln/sqrt bit-matched, the one
    // exp( ) term verified off the rounding boundary for these ε.
    "q357_dp_compose" ->
      """WITH r AS (
        |  SELECT source,
        |         CAST(0.25 AS DOUBLE) * (1.0 +
        |           (ascii(right(coalesce(source, '0'), 1)) % 3)) AS eps,
        |         CAST(1e-6 AS DOUBLE) AS delta
        |  FROM (SELECT DISTINCT source FROM documents)),
        |a AS (
        |  SELECT count(*) AS n_releases,
        |         sum(CAST(round(eps, 12) AS DECIMAL(38,12))) AS se,
        |         sum(CAST(round(delta, 12) AS DECIMAL(38,12))) AS sd,
        |         sum(CAST(round(eps * eps, 12) AS DECIMAL(38,12))) AS s2,
        |         sum(CAST(round(eps * (exp(eps) - 1.0), 12)
        |             AS DECIMAL(38,12))) AS lin
        |  FROM r)
        |SELECT CAST(n_releases AS BIGINT) AS n_releases,
        |       round(CAST(se AS DOUBLE), 6) AS basic_epsilon,
        |       round(CAST(sd AS DOUBLE), 6) AS basic_delta,
        |       round(sqrt(2.0 * ln(1.0 / 1e-6) * CAST(s2 AS DOUBLE))
        |           + CAST(lin AS DOUBLE), 6) AS advanced_epsilon,
        |       round(CAST(sd AS DOUBLE) + 1e-6, 6) AS advanced_delta
        |FROM a""".stripMargin,

    // q359: the q356 probit census with the zCDP \u03c3 and conversion \u03b5
    // embedded as identical driver-side doubles.
    "q359_zcdp_gaussian" -> zcdpGaussianOracleSql,

    // q366: the standing zCDP census — noise seeds on the group key,
    // so the merged-partial release equals q359's whole-data release
    // verbatim (the merge law IS the shared oracle).
    "q366_zcdp_merge" -> zcdpGaussianOracleSql,

    // q370: the sampled-Gaussian accountant — the oracle is generated
    // from the same binomial/log-sum-exp fold as the plan (probitSql
    // discipline), so the two sides cannot drift.
    "q370_sgm_rdp" -> sgmRdpOracleSql,

    // q367: the streaming census must converge to the batch GROUP BY —
    // the complete-mode state after the last micro-batch IS the
    // whole-table aggregate. Decimal value sums for order independence.
    "q367_stream_census" ->
      """SELECT event_type, count(*) AS cnt,
        |       round(CAST(sum(CAST(round(value, 6) AS DECIMAL(38,12)))
        |         AS DOUBLE), 6) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // q368: watermarked 1-day windows in append mode, every real window
    // flushed by the sentinel batches — the emitted union must equal the
    // batch per-day census exactly (exactly-once emission).
    "q368_stream_windows" ->
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |       event_type, count(*) AS cnt
        |FROM events WHERE ts IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // q369: streaming first-occurrence election across micro-batches —
    // the appended per-batch emissions must union to the batch DISTINCT.
    "q369_stream_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,

    // q371: the flatMapGroupsWithState sessionizer's emitted sessions,
    // counted per user, must equal q34's batch lag-then-running-sum
    // answer — the oracle IS q34's, verbatim (the streaming/batch law).
    "q371_stream_sessions" ->
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS tsu FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |g AS (
        |  SELECT user_id,
        |    CASE WHEN lag(tsu) OVER w IS NULL
        |           OR CAST(floor(epoch(tsu)) AS BIGINT)
        |              - CAST(floor(epoch(lag(tsu) OVER w)) AS BIGINT) > 1800
        |         THEN 1 ELSE 0 END AS ns
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id))
        |SELECT user_id, CAST(sum(ns) AS BIGINT) AS n_sessions
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,

    // q360: the same heterogeneous (mechanism, scale) ledger, the same
    // per-order RDP closed forms (gaussian \u03b1/(2\u03c3\u00b2); laplace via
    // Mironov Table II \u2014 exp/ln shared-tree, the q357 precedent), the
    // same 12-dp decimal sums, Prop-3 conversion, 12-dp min flag.
    "q360_rdp_account" ->
      """WITH r AS (
        |  SELECT source,
        |    CASE WHEN ascii(right(coalesce(source, '0'), 1)) % 2 = 0
        |         THEN 'gaussian' ELSE 'laplace' END AS mechanism,
        |    CAST(0.5 AS DOUBLE) *
        |      (1.0 + (ascii(right(coalesce(source, '0'), 1)) % 4))
        |      AS scale
        |  FROM (SELECT DISTINCT source FROM documents)),
        |o AS (SELECT unnest([1.5e0, 2.0e0, 3.0e0, 4.0e0,
        |                     8.0e0, 1.6e1, 3.2e1, 6.4e1]) AS alpha),
        |t AS (
        |  SELECT o.alpha,
        |    CASE WHEN r.mechanism = 'gaussian'
        |      THEN o.alpha / (2.0 * r.scale * r.scale)
        |      ELSE (1.0 / (o.alpha - 1.0)) *
        |        ln((o.alpha * exp((o.alpha - 1.0) / r.scale) +
        |            (o.alpha - 1.0) * exp(-o.alpha / r.scale)) /
        |           (2.0 * o.alpha - 1.0)) END AS term
        |  FROM r CROSS JOIN o),
        |c AS (
        |  SELECT alpha,
        |    CAST(sum(CAST(round(term, 12) AS DECIMAL(38,12))) AS DOUBLE)
        |      AS rdp
        |  FROM t GROUP BY alpha),
        |x AS (SELECT alpha, rdp,
        |             rdp + ln(1.0 / 1e-6) / (alpha - 1.0) AS conv
        |      FROM c),
        |b AS (SELECT min(round(conv, 12)) AS best FROM x)
        |SELECT alpha, round(rdp, 6) AS rdp_epsilon,
        |       round(conv, 6) AS converted_epsilon,
        |       round(conv, 12) = best AS is_best
        |FROM x CROSS JOIN b ORDER BY alpha""".stripMargin,

    // q361: the identical seeded Bloom geometry replayed end to end.
    "q361_bloom_screen" -> bloomScreenOracleSql,

    // q362: OR's merge law \u2014 merged per-batch partials screen exactly
    // like the from-scratch build: q361's oracle verbatim.
    "q362_bloom_merge" -> bloomScreenOracleSql,

    // q372: geometry from the same suggestedShape formula over the same
    // distinct-key count (ln/ceil/round shared-tree), the same seeded
    // build at the derived (m, k), fill via bit_count, predicted FPP
    // via the engine-shared exp(k·ln ρ) tree, and the measured rate on
    // the same provably-novel probe set.
    "q372_bloom_fpp" ->
      """WITH hk AS (
        |  SELECT DISTINCT coalesce(text, chr(0)) AS key
        |  FROM documents WHERE doc_id % 2 = 0),
        |g AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(ceil((-CAST(count(*) AS DOUBLE) * ln(1.0e-2) /
        |           (ln(2.0e0) * ln(2.0e0))) / 6.3e1) AS BIGINT) AS words
        |  FROM hk),
        |g2 AS (
        |  SELECT n, words, words * 63 AS mbits,
        |         greatest(1::BIGINT, CAST(round(
        |           CAST(words AS DOUBLE) * 6.3e1 / CAST(n AS DOUBLE) *
        |             ln(2.0e0)) AS BIGINT)) AS k
        |  FROM g),
        |js AS (SELECT unnest(range((SELECT k FROM g2))) AS j),
        |hp AS (
        |  SELECT DISTINCT
        |    CAST(('0x' || substr(md5('bloom-r17:' || j || ':' || h.key),
        |      1, 12)) AS UBIGINT) % (SELECT mbits FROM g2) AS bucket
        |  FROM hk h CROSS JOIN js),
        |bloom AS (
        |  SELECT CAST(bucket // 63 AS BIGINT) AS word,
        |         bit_or(1::BIGINT << CAST(bucket % 63 AS INT)) AS bits
        |  FROM hp GROUP BY 1),
        |fill AS (
        |  SELECT CAST(coalesce(sum(bit_count(bits)), 0) AS BIGINT)
        |    AS set_bits FROM bloom),
        |novel AS (
        |  SELECT doc_id, coalesce(text, chr(0)) AS key
        |  FROM documents
        |  WHERE doc_id % 2 = 1
        |    AND coalesce(text, chr(0)) NOT IN (SELECT key FROM hk)),
        |probes AS (
        |  SELECT nv.doc_id,
        |    CAST(('0x' || substr(md5('bloom-r17:' || j || ':' || nv.key),
        |      1, 12)) AS UBIGINT) % (SELECT mbits FROM g2) AS bucket
        |  FROM novel nv CROSS JOIN js),
        |scr AS (
        |  SELECT p.doc_id,
        |         min(CASE WHEN (coalesce(bl.bits, 0) &
        |               (1::BIGINT << CAST(p.bucket % 63 AS INT))) =
        |               (1::BIGINT << CAST(p.bucket % 63 AS INT))
        |             THEN 1 ELSE 0 END) AS hit
        |  FROM probes p
        |  LEFT JOIN bloom bl ON bl.word = CAST(p.bucket // 63 AS BIGINT)
        |  GROUP BY p.doc_id),
        |meas AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_probed,
        |         CAST(coalesce(sum(hit), 0) AS BIGINT) AS n_false_pos
        |  FROM scr)
        |SELECT g2.mbits AS m_bits, g2.k AS k_hashes, g2.n AS n_keys,
        |       f.set_bits,
        |       round(CAST(f.set_bits AS DOUBLE) /
        |             CAST(g2.mbits AS DOUBLE), 6) AS fill_ratio,
        |       round(exp(CAST(g2.k AS DOUBLE) *
        |             ln(CAST(f.set_bits AS DOUBLE) /
        |                CAST(g2.mbits AS DOUBLE))), 6) AS predicted_fpp,
        |       m.n_probed, m.n_false_pos,
        |       round(CAST(m.n_false_pos AS DOUBLE) /
        |             CAST(m.n_probed AS DOUBLE), 6) AS fp_rate
        |FROM g2, fill f, meas m""".stripMargin,

    // q363: the q30 6-dp centroid rebuilt per label, the q352 exact-
    // double cosine fold, (sim DESC NULLS LAST, id) ranks, and the
    // \u230apruneFrac\u00b7n\u230b cut in identical-double arithmetic.
    "q363_prototypicality" ->
      """WITH c0 AS (
        |  SELECT label, CAST(p - 1 AS BIGINT) AS pos,
        |         round(avg(CAST(embedding[p] AS DOUBLE)), 6) AS c
        |  FROM embeddings, generate_series(1, 512) g(p)
        |  WHERE p <= len(embedding)
        |  GROUP BY 1, 2),
        |cent AS (SELECT label, list(c ORDER BY pos) AS centroid
        |         FROM c0 GROUP BY label),
        |sims AS (
        |  SELECT e.label, e.vec_id AS id,
        |    list_aggregate(list_transform(
        |        list_zip(e.embedding, ct.centroid),
        |        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)),
        |      'sum')
        |    / nullif(
        |        sqrt(list_aggregate(list_transform(e.embedding,
        |          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
        |      * sqrt(list_aggregate(list_transform(ct.centroid,
        |          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')),
        |        0.0) AS sim
        |  FROM embeddings e JOIN cent ct USING (label)),
        |r AS (
        |  SELECT label, id, sim,
        |         row_number() OVER (PARTITION BY label
        |                            ORDER BY sim DESC NULLS LAST, id)
        |           AS rank,
        |         count(*) OVER (PARTITION BY label) AS n
        |  FROM sims)
        |SELECT label, id, round(sim, 6) AS proto_sim,
        |       CAST(rank AS BIGINT) AS rank,
        |       rank > CAST(floor(3.0e-1 * n) AS BIGINT) AS kept
        |FROM r ORDER BY label, rank""".stripMargin,

    // q364/q365: the sf10-certifiable partial-oracle pair — see the
    // oracle vals' scaladocs for the soundness/completeness contract.
    "q364_near_dedup_cert" -> nearDedupCertOracleSql,
    "q365_dedup_survivors_cert" -> dedupSurvivorsCertOracleSql,

    // q342: the formula recompute — per sampled frame (even indexes),
    // the same integer dims and pixel sums, no parsing.
    "q342_frame_sample" ->
      """WITH g AS (
        |  SELECT doc_id, 2 + doc_id % 3 AS n FROM documents),
        |f AS (
        |  SELECT doc_id, unnest(range(0, n)) AS i FROM g),
        |s AS (
        |  SELECT doc_id, i,
        |         3 + (doc_id + i) % 4 AS w, 2 + (doc_id + 2*i) % 3 AS h
        |  FROM f WHERE i % 2 = 0),
        |m AS (
        |  SELECT doc_id, i, w, h,
        |         list_aggregate(list_transform(range(0, w*h),
        |           j -> (doc_id*17 + i*11 + j*5) % 256), 'sum') AS ps,
        |         list_aggregate(list_transform(range(0, w*h),
        |           j -> ((doc_id*17 + i*11 + j*5) % 256)
        |                * ((doc_id*17 + i*11 + j*5) % 256)), 'sum') AS pq
        |  FROM s)
        |SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
        |       CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |       round(CAST(ps AS DOUBLE) / (w*h), 6) AS mean_px,
        |       round(CAST(pq AS DOUBLE) / (w*h), 6) AS ms_px
        |FROM m ORDER BY doc_id, frame_idx""".stripMargin,

    // q343: same 5-token prefix key, same window count (NULL keys form
    // one partition in both engines), same 1/n rounding.
    "q343_soft_dedup" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         array_to_string(
        |           list_filter(string_split_regex(lower(text), '\s+'),
        |                       x -> length(x) > 0)[1:5], ' ') AS k
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |         count(*) OVER (PARTITION BY k) AS cluster_size
        |  FROM t)
        |SELECT doc_id, CAST(cluster_size AS BIGINT) AS cluster_size,
        |       round(round(CAST(1.0 AS DOUBLE) / cluster_size, 12), 6)
        |         AS weight
        |FROM c ORDER BY doc_id""".stripMargin,

    // q344: q80's scores verbatim (hash-certified equal), then standard
    // NTILE(3) per language over (nll, doc_id) — the same bucket-size
    // rule in both engines, id tiebreak pins equal scores.
    "q344_ccnet_buckets" ->
      s"""WITH ${lmScoreCtes()},
         |l AS (
         |  SELECT p.doc_id, d.lang, p.nll
         |  FROM perdoc p JOIN documents d USING (doc_id)),
         |b AS (
         |  SELECT doc_id, lang, nll,
         |         ntile(3) OVER (PARTITION BY lang
         |                        ORDER BY nll, doc_id) AS t
         |  FROM l)
         |SELECT doc_id, lang, nll,
         |       CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
         |              ELSE 'tail' END AS ppl_bucket
         |FROM b ORDER BY doc_id""".stripMargin,

    // q345: same one-pass rule flags (NULL rule value = fail, the
    // coalesce-false convention on both sides), same first-fail CASE
    // chain, same rules-sized cumulative census.
    "q345_filter_funnel" -> funnelOracleSql,

    // q349: per-shard censuses fold additively — marginals and
    // survivors both sum over disjoint shards, so the merged funnel IS
    // the whole-corpus funnel: q345's oracle verbatim.
    "q349_funnel_merge" -> funnelOracleSql,

    // q350: the indexed screen equals the full-corpus window count
    // restricted to batch ids (history ∪ batch = the corpus).
    "q350_soft_dedup_indexed" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         array_to_string(
        |           list_filter(string_split_regex(lower(text), '\s+'),
        |                       x -> length(x) > 0)[1:5], ' ') AS k
        |  FROM documents),
        |cut AS (SELECT CAST(floor(max(doc_id) * 6 / 10) AS BIGINT) AS cc
        |        FROM documents),
        |cs AS (
        |  SELECT doc_id,
        |         count(*) OVER (PARTITION BY k) AS cluster_size
        |  FROM t)
        |SELECT doc_id, CAST(cluster_size AS BIGINT) AS cluster_size,
        |       round(round(CAST(1.0 AS DOUBLE) / cluster_size, 12), 6)
        |         AS weight
        |FROM cs, cut WHERE doc_id >= cc ORDER BY doc_id""".stripMargin,

    // q351: the LM and the tercile cuts both fit on history only
    // (doc_id below the 60% cut); the batch buckets by score compare
    // against the cuts — ties land in the lower bucket on both sides.
    "q351_ccnet_indexed" ->
      s"""WITH cut AS (
         |  SELECT CAST(floor(max(doc_id) * 6 / 10) AS BIGINT) AS cc
         |  FROM documents),
         |${lmScoreCtes(
              "source = 'src0' AND doc_id < (SELECT cc FROM cut)")},
         |th AS (
         |  SELECT lang,
         |         max(CASE WHEN tl = 1 THEN nll END) AS head_max,
         |         max(CASE WHEN tl = 2 THEN nll END) AS middle_max
         |  FROM (SELECT p.doc_id, d.lang, p.nll,
         |               ntile(3) OVER (PARTITION BY d.lang
         |                              ORDER BY p.nll, p.doc_id) AS tl
         |        FROM perdoc p JOIN documents d USING (doc_id)
         |        WHERE p.doc_id < (SELECT cc FROM cut))
         |  GROUP BY lang),
         |b AS (
         |  SELECT p.doc_id, d.lang, p.nll
         |  FROM perdoc p JOIN documents d USING (doc_id)
         |  WHERE p.doc_id >= (SELECT cc FROM cut))
         |SELECT b.doc_id, b.lang, b.nll,
         |       CASE WHEN b.nll <= th.head_max THEN 'head'
         |            WHEN b.nll <= th.middle_max THEN 'middle'
         |            ELSE 'tail' END AS ppl_bucket
         |FROM b LEFT JOIN th USING (lang) ORDER BY doc_id""".stripMargin,

    // q346: q80's per-doc scores → per-source decimal-sum mean loss →
    // excess vs the domain mean → linearized MW factor (12-dp, clamped
    // at 0) → one renormalizing division, 6-dp.
    "q346_domain_reweight" ->
      s"""WITH ${lmScoreCtes()},
         |dl AS (
         |  SELECT d.source,
         |         round(CAST(sum(CAST(p.nll AS DECIMAL(38,12)))
         |                 AS DOUBLE) / count(*), 6) AS loss
         |  FROM perdoc p JOIN documents d USING (doc_id)
         |  GROUP BY d.source),
         |mn AS (
         |  SELECT round(CAST(sum(CAST(round(loss, 12) AS DECIMAL(38,12)))
         |                 AS DOUBLE) / count(*), 12) AS m
         |  FROM dl),
         |fx AS (
         |  SELECT source, loss, round(loss - m, 12) AS excess
         |  FROM dl CROSS JOIN mn),
         |fc AS (
         |  SELECT source, loss, excess,
         |         greatest(CAST(0 AS DECIMAL(38,12)),
         |           CAST(round(1.0 + 0.5 * excess, 12)
         |                AS DECIMAL(38,12))) AS factor
         |  FROM fx),
         |tt AS (SELECT sum(factor) AS total FROM fc)
         |SELECT source, loss, round(excess, 6) AS excess,
         |       round(CAST(factor AS DOUBLE) / CAST(total AS DOUBLE), 6)
         |         AS weight
         |FROM fc CROSS JOIN tt ORDER BY source""".stripMargin,

    // q352: the same exact-double cosine over the same sliced prefixes
    // (the q84 list-fold idiom), the same (sim DESC NULLS LAST, cid)
    // rank, the same hits/(n·k) recall arithmetic.
    "q352_matryoshka_eval" ->
      """WITH q AS (
        |  SELECT vec_id AS qid, embedding AS qv
        |  FROM embeddings WHERE vec_id < 50),
        |c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings),
        |m AS (SELECT unnest([8, 16, 32, 64]) AS dims),
        |p AS (
        |  SELECT m.dims, q.qid, c.cid,
        |         list_aggregate(list_transform(
        |             list_zip(q.qv[1:m.dims], c.cv[1:m.dims]),
        |             x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)),
        |           'sum')
        |         / nullif(
        |             sqrt(list_aggregate(list_transform(q.qv[1:m.dims],
        |               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
        |           * sqrt(list_aggregate(list_transform(c.cv[1:m.dims],
        |               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')),
        |             0.0) AS sim
        |  FROM q, c, m WHERE q.qid <> c.cid),
        |t AS (
        |  SELECT dims, qid, cid,
        |         row_number() OVER (PARTITION BY dims, qid
        |                            ORDER BY sim DESC NULLS LAST, cid)
        |           AS rk
        |  FROM p),
        |tk AS (SELECT dims, qid, cid FROM t WHERE rk <= 10),
        |b AS (SELECT qid, cid FROM tk WHERE dims = 64),
        |h AS (SELECT tk.dims, count(*) AS hits
        |      FROM tk JOIN b USING (qid, cid) GROUP BY tk.dims),
        |nq AS (SELECT count(*) AS n FROM q)
        |SELECT CAST(m.dims AS BIGINT) AS dims,
        |       CAST(n AS BIGINT) AS n_queries,
        |       round(CAST(coalesce(h.hits, 0) AS DOUBLE) / (n * 10), 6)
        |         AS recall_at_k
        |FROM m LEFT JOIN h ON h.dims = m.dims CROSS JOIN nq
        |ORDER BY dims""".stripMargin,

    // q347: the same seeded uniform (12 md5 nibbles of salt:key, half-
    // step offset), the same Laplace inverse CDF, the same clamped
    // floor(x+½) release — ln is engine-bit-matched (the q80 precedent).
    "q347_dp_counts" -> dpCountsOracleSql,

    // q355: the standing-census release — noise seeds on the group key,
    // so a release from parity-merged class partials IS the whole-data
    // release: q347's oracle verbatim.
    "q355_dp_merge" -> dpCountsOracleSql,

    // q354: the same exact-Jaccard components (q190's pair + CC CTEs),
    // the same contingency reduction — 12-dp decimal term sums for the
    // log/ratio measures, exact integers elsewhere, F1 from the
    // rounded precision/recall.
    "q354_cluster_agreement" ->
      ("WITH RECURSIVE " + dedupPairsCte + ",\n" + dedupCcCte + """,
        |rep AS (SELECT src AS doc_id, min(dst) AS cluster
        |        FROM reach GROUP BY src),
        |gt AS (SELECT doc_id, lang AS g FROM documents),
        |j AS (
        |  SELECT CAST(r.cluster AS VARCHAR) AS p, gt.g
        |  FROM rep r JOIN gt USING (doc_id) WHERE gt.g IS NOT NULL),
        |cells AS (
        |  SELECT p, g, CAST(count(*) AS BIGINT) AS n_pg
        |  FROM j GROUP BY p, g),
        |pc AS (SELECT p, sum(n_pg) AS n_p FROM cells GROUP BY p),
        |gc AS (SELECT g, sum(n_pg) AS n_g FROM cells GROUP BY g),
        |nn AS (SELECT sum(n_pg) AS n FROM cells),
        |pur AS (SELECT sum(mx) AS s FROM
        |        (SELECT p, max(n_pg) AS mx FROM cells GROUP BY p)),
        |np AS (SELECT CAST(count(*) AS BIGINT) AS n_pred_clusters
        |       FROM pc),
        |ng AS (SELECT CAST(count(*) AS BIGINT) AS n_gold_clusters
        |       FROM gc),
        |tr AS (SELECT c.n_pg, pc.n_p, gc.n_g, nn.n
        |       FROM cells c JOIN pc USING (p) JOIN gc USING (g)
        |       CROSS JOIN nn),
        |sums AS (
        |  SELECT
        |    sum(CAST(round(CAST(n_pg AS DOUBLE) * n_pg / n_p, 12)
        |        AS DECIMAL(38,12))) AS bp,
        |    sum(CAST(round(CAST(n_pg AS DOUBLE) * n_pg / n_g, 12)
        |        AS DECIMAL(38,12))) AS br,
        |    sum(CAST(round((CAST(n_pg AS DOUBLE) / n) *
        |        ln(CAST(n AS DOUBLE) * n_pg /
        |           (CAST(n_p AS DOUBLE) * n_g)), 12)
        |        AS DECIMAL(38,12))) AS mi
        |  FROM tr),
        |hp AS (SELECT sum(CAST(round(-(CAST(n_p AS DOUBLE) / n) *
        |         ln(CAST(n_p AS DOUBLE) / n), 12) AS DECIMAL(38,12)))
        |         AS h
        |       FROM pc CROSS JOIN nn),
        |hg AS (SELECT sum(CAST(round(-(CAST(n_g AS DOUBLE) / n) *
        |         ln(CAST(n_g AS DOUBLE) / n), 12) AS DECIMAL(38,12)))
        |         AS h
        |       FROM gc CROSS JOIN nn),
        |ai AS (SELECT sum((n_pg * (n_pg - 1)) // 2) AS idx FROM cells),
        |ap AS (SELECT sum((n_p * (n_p - 1)) // 2) AS a FROM pc),
        |ag AS (SELECT sum((n_g * (n_g - 1)) // 2) AS b FROM gc)
        |SELECT CAST(nn.n AS BIGINT) AS n_items,
        |       np.n_pred_clusters, ng.n_gold_clusters,
        |       round(CAST(pur.s AS DOUBLE) / nn.n, 6) AS purity,
        |       round(CAST(sums.mi AS DOUBLE) /
        |         nullif(sqrt(CAST(hp.h AS DOUBLE) * CAST(hg.h AS DOUBLE)),
        |                0.0), 6) AS nmi,
        |       round((CAST(ai.idx AS DOUBLE)
        |            - CAST(ap.a AS DOUBLE) * ag.b
        |              / (CAST(nn.n AS DOUBLE) * (nn.n - 1) / 2.0))
        |         / nullif((CAST(ap.a AS DOUBLE) + ag.b) / 2.0
        |            - CAST(ap.a AS DOUBLE) * ag.b
        |              / (CAST(nn.n AS DOUBLE) * (nn.n - 1) / 2.0), 0.0),
        |           6) AS ari,
        |       round(CAST(sums.bp AS DOUBLE) / nn.n, 6) AS b3_precision,
        |       round(CAST(sums.br AS DOUBLE) / nn.n, 6) AS b3_recall,
        |       round(CAST(2.0 AS DOUBLE)
        |         * round(CAST(sums.bp AS DOUBLE) / nn.n, 6)
        |         * round(CAST(sums.br AS DOUBLE) / nn.n, 6)
        |         / nullif(round(CAST(sums.bp AS DOUBLE) / nn.n, 6)
        |                + round(CAST(sums.br AS DOUBLE) / nn.n, 6), 0.0),
        |           6) AS b3_f1,
        |       round(CAST(sums.mi AS DOUBLE) /
        |         nullif(CAST(hg.h AS DOUBLE), 0.0), 6) AS homogeneity,
        |       round(CAST(sums.mi AS DOUBLE) /
        |         nullif(CAST(hp.h AS DOUBLE), 0.0), 6) AS completeness,
        |       round(CAST(2.0 AS DOUBLE) * CAST(sums.mi AS DOUBLE) /
        |         nullif(CAST(hp.h AS DOUBLE) + CAST(hg.h AS DOUBLE), 0.0),
        |           6) AS v_measure
        |FROM nn, pur, np, ng, sums, hp, hg, ai, ap, ag""".stripMargin),

    // q353: the same seeded Gumbel (−ln(−ln u) over the md5 uniform),
    // the same count + (2/ε)·g score, the same (score DESC, key) rank —
    // and no count column anywhere in the release.
    "q353_dp_topk" ->
      """WITH g AS (
        |  SELECT lang, count(*) AS n,
        |         (CAST(('0x' || substr(md5('dpk-r14:' ||
        |            coalesce(CAST(lang AS VARCHAR), chr(0))), 1, 12))
        |            AS UBIGINT) + 0.5) / 281474976710656.0 AS u
        |  FROM documents GROUP BY lang),
        |s AS (
        |  SELECT lang,
        |         n + CAST(2.0 AS DOUBLE) * (-ln(-ln(u))) AS score
        |  FROM g),
        |r AS (
        |  SELECT lang,
        |         CAST(row_number() OVER (
        |           ORDER BY score DESC, lang ASC NULLS LAST) AS BIGINT)
        |           AS rank
        |  FROM s)
        |SELECT rank, lang, CAST(1.0 AS DOUBLE) AS epsilon
        |FROM r WHERE rank <= 3 ORDER BY rank""".stripMargin,

    // q348: same per-row seeded flip, same debias arithmetic
    // (1 − 2·0.25 = 0.5 exactly in both engines' doubles).
    "q348_randomized_response" ->
      """WITH r AS (
        |  SELECT lang,
        |         CASE WHEN n_chars IS NULL THEN NULL
        |              WHEN (CAST(('0x' || substr(md5('rr-r14:' ||
        |                     CAST(doc_id AS VARCHAR)), 1, 12))
        |                     AS UBIGINT) + 0.5) / 281474976710656.0 < 0.25
        |              THEN NOT (n_chars > 300) ELSE (n_chars > 300)
        |         END AS reported
        |  FROM documents),
        |c AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n_reports,
        |         CAST(coalesce(sum(CASE WHEN reported THEN 1 END), 0)
        |              AS BIGINT) AS n_reported_yes
        |  FROM r WHERE reported IS NOT NULL GROUP BY lang)
        |SELECT lang, n_reports, n_reported_yes,
        |       round((CAST(n_reported_yes AS DOUBLE) / n_reports
        |              - CAST(0.25 AS DOUBLE)) / CAST(0.5 AS DOUBLE), 6)
        |         AS pi_hat
        |FROM c ORDER BY lang""".stripMargin,

    // q335: same top-256 (freq DESC, token) vocabulary + OOV domain,
    // same Laplace smoothing over V+1 buckets, same 12-dp decimal
    // log-ratio fold; ordered by the EXACT ratio, output rounded to 6.
    "q335_dsir_ratios" ->
      s"""WITH $dsirRatioCtes
         |SELECT bucket, CAST(raw_cnt AS BIGINT) AS raw_cnt,
         |       CAST(target_cnt AS BIGINT) AS target_cnt,
         |       round(CAST(lr_exact AS DOUBLE), 6) AS log_ratio
         |FROM (SELECT bucket, raw_cnt, target_cnt,
         |             log_ratio AS lr_exact
         |      FROM lr ORDER BY lr_exact DESC, bucket LIMIT 40)
         |ORDER BY lr_exact DESC, bucket""".stripMargin,

    // q336: per-document exact-decimal weight sums (NULL-text docs
    // weigh 0), averaged per language in double at the very end.
    "q336_dsir_weights" ->
      s"""WITH $dsirWeightCtes
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |       round(CAST(sum(weight) AS DOUBLE) / count(*), 6)
         |         AS avg_weight
         |FROM wd GROUP BY 1 ORDER BY lang""".stripMargin,

    // q337: the selection — row_number over the EXACT decimal weight
    // (weight DESC, doc_id), top 200, weight rounded only on output.
    "q337_dsir_select" ->
      s"""WITH $dsirWeightCtes,
         |sel AS (
         |  SELECT doc_id, n_tokens, weight,
         |         CAST(row_number() OVER (ORDER BY weight DESC, doc_id)
         |              AS BIGINT) AS rank
         |  FROM wd)
         |SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |       CAST(n_tokens AS BIGINT) AS n_tokens,
         |       round(CAST(weight AS DOUBLE), 6) AS weight, rank
         |FROM sel WHERE rank <= 200 ORDER BY rank""".stripMargin,

    // q338: persisted ≡ from-scratch — the oracle refits the ratio
    // table from the full pool and scores only the mod-7 batch.
    "q338_dsir_indexed" ->
      s"""WITH $dsirWeightCtes,
         |batch AS (SELECT * FROM wd WHERE doc_id % 7 = 0),
         |sel AS (
         |  SELECT doc_id, n_tokens, weight,
         |         CAST(row_number() OVER (ORDER BY weight DESC, doc_id)
         |              AS BIGINT) AS rank
         |  FROM batch)
         |SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |       CAST(n_tokens AS BIGINT) AS n_tokens,
         |       round(CAST(weight AS DOUBLE), 6) AS weight, rank
         |FROM sel WHERE rank <= 100 ORDER BY rank""".stripMargin,

    // q339: same synthesized paragraph docs (license header, texts in
    // doc_id order, trailing first-text repeat), first occurrence by
    // (pid, pos) via row_number, same sep-rejoined md5.
    "q339_paragraph_dedup" ->
      s"""WITH $paraDedupCtes
         |SELECT CAST(pid AS BIGINT) AS pid,
         |       CAST(n_paras AS BIGINT) AS n_paras,
         |       CAST(n_kept AS BIGINT) AS n_kept,
         |       md5(clean) AS clean_md5
         |FROM r ORDER BY pid""".stripMargin,

    // q340: the indexed screen equals the full-corpus dedup restricted
    // to batch pids (history pids all precede batch pids, so every
    // cross-shard first occurrence lands on the history side).
    "q340_paragraph_indexed" ->
      s"""WITH $paraDedupCtes,
         |cut AS (SELECT CAST(floor(max(pid) * 6 / 10) AS BIGINT) AS c
         |        FROM g)
         |SELECT CAST(pid AS BIGINT) AS pid,
         |       CAST(n_paras AS BIGINT) AS n_paras,
         |       CAST(n_kept AS BIGINT) AS n_kept,
         |       md5(clean) AS clean_md5
         |FROM r, cut WHERE pid >= c ORDER BY pid""".stripMargin,

    // q341: merged per-shard term frequencies refit to the identical
    // ratio table — the oracle is q335's from-scratch fit verbatim.
    "q341_dsir_merge" ->
      s"""WITH $dsirRatioCtes
         |SELECT bucket, CAST(raw_cnt AS BIGINT) AS raw_cnt,
         |       CAST(target_cnt AS BIGINT) AS target_cnt,
         |       round(CAST(lr_exact AS DOUBLE), 6) AS log_ratio
         |FROM (SELECT bucket, raw_cnt, target_cnt,
         |             log_ratio AS lr_exact
         |      FROM lr ORDER BY lr_exact DESC, bucket LIMIT 40)
         |ORDER BY lr_exact DESC, bucket""".stripMargin,
    // q267: same class-size frame (GROUP BY keeps null QI values as a
    // class in both engines), same exact long counts, one rounded ratio.
    "q267_k_anonymity" -> kAnonymityOracleSql,

    // q276: the merge law folds to the identical class frame — the
    // batch oracle verbatim.
    "q276_privacy_merge" -> kAnonymityOracleSql,

    // q279: same decimal moments, sample (n−1) variance, same ratio
    // chains.
    "q279_dispersion" ->
      """WITH s AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS v
        |  FROM events WHERE ts IS NOT NULL
        |  GROUP BY CAST(ts AS DATE)),
        |t AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CAST(round(v, 9) AS DECIMAL(38,9)))
        |           AS DECIMAL(38,9)) AS s1,
        |         CAST(sum(CAST(round(v * v, 9) AS DECIMAL(38,9)))
        |           AS DECIMAL(38,9)) AS s2
        |  FROM s),
        |m AS (
        |  SELECT n, CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
        |         (CAST(s2 AS DOUBLE)
        |          - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
        |            / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)
        |           AS vv
        |  FROM t)
        |SELECT n,
        |       CASE WHEN n >= 1 THEN round(mu, 6) END AS mean,
        |       CASE WHEN n >= 2 THEN round(vv, 6) END AS variance,
        |       CASE WHEN n >= 2 AND mu > 0 THEN round(vv / mu, 6) END
        |         AS dispersion,
        |       CASE WHEN n >= 2 AND mu > 0 THEN
        |         round((CAST(n AS DOUBLE) - 1.0) * vv / mu, 6) END
        |         AS chi2
        |FROM m""".stripMargin,

    // q280: same sign-pair sum, same integer tie correction, the
    // continuity-corrected z and the q235 Abramowitz-Stegun p chain.
    "q280_mann_kendall" ->
      """WITH s AS (
        |  SELECT CAST(ts AS DATE) AS o, CAST(count(*) AS DOUBLE) AS v
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
        |sp AS (
        |  SELECT CAST(coalesce(sum(CASE WHEN b.v > a.v THEN 1
        |           WHEN b.v < a.v THEN -1 ELSE 0 END), 0) AS BIGINT)
        |           AS s
        |  FROM s a JOIN s b ON a.o < b.o),
        |tie AS (
        |  SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0)
        |           AS BIGINT) AS tiesum,
        |         CAST(coalesce(sum(t), 0) AS BIGINT) AS n
        |  FROM (SELECT CAST(count(*) AS BIGINT) AS t
        |        FROM s GROUP BY v) x),
        |xx AS (
        |  SELECT n, sp.s,
        |         CAST(n * (n - 1) * (2 * n + 5) - tiesum AS DOUBLE)
        |           / 18.0 AS vv
        |  FROM tie, sp),
        |zz AS (
        |  SELECT n, s, vv,
        |         CASE WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1.0)
        |                / sqrt(vv)
        |              WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1.0)
        |                / sqrt(vv)
        |              ELSE 0.0 END AS z
        |  FROM xx),
        |px AS (
        |  SELECT n, s, vv, z,
        |         abs(z) * 0.7071067811865476 AS x,
        |         1.0 / (1.0 + 0.3275911
        |           * (abs(z) * 0.7071067811865476)) AS t
        |  FROM zz)
        |SELECT n AS n_points, s,
        |       CASE WHEN n >= 2 THEN round(vv, 6) END AS var_s,
        |       CASE WHEN n >= 2 AND vv > 0 THEN round(z, 6) END AS z,
        |       CASE WHEN n >= 2 AND vv > 0 THEN
        |         round(((((1.061405429 * t + -1.453152027) * t
        |               + 1.421413741) * t + -0.284496736) * t
        |               + 0.254829592) * t * exp(-(x * x)), 6)
        |       END AS p
        |FROM px""".stripMargin,

    // q278: same per-user lag gaps, same decimal gap sum and MLE λ,
    // same two-sided CDF-step comparison.
    "q278_exp_gap_fit" ->
      """WITH g AS (
        |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t,
        |         event_id
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |gp AS (
        |  SELECT t - lag(t, 1) OVER (PARTITION BY user_id
        |           ORDER BY t, event_id) AS gap
        |  FROM g),
        |c AS (SELECT gap, CAST(count(*) AS BIGINT) AS c FROM gp
        |      WHERE gap IS NOT NULL GROUP BY 1),
        |tot AS (
        |  SELECT CAST(sum(c) AS BIGINT) AS n,
        |         CAST(sum(CAST(round(CAST(gap AS DOUBLE)
        |             * CAST(c AS DOUBLE), 9) AS DECIMAL(38,9)))
        |           AS DECIMAL(38,9)) AS s1
        |  FROM c),
        |x AS (
        |  SELECT c.gap, c.c, tot.n,
        |         sum(c.c) OVER (ORDER BY c.gap
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS cum,
        |         CAST(tot.n AS DOUBLE) / CAST(tot.s1 AS DOUBLE) AS l
        |  FROM c, tot),
        |y AS (
        |  SELECT n, l, greatest(
        |           abs(CAST(cum AS DOUBLE) / CAST(n AS DOUBLE)
        |               - (1.0 - exp(-(l * CAST(gap AS DOUBLE))))),
        |           abs(CAST(cum - c AS DOUBLE) / CAST(n AS DOUBLE)
        |               - (1.0 - exp(-(l * CAST(gap AS DOUBLE))))))
        |           AS gg
        |  FROM x)
        |SELECT n AS n_gaps, round(max(l), 6) AS lambda,
        |       round(max(gg), 6) AS d_stat
        |FROM y GROUP BY n""".stripMargin,

    // q269: same exact decimal power sums, same central-moment double
    // chain (stepwise CTEs mirror the multiplication order), same
    // closed-form p.
    "q269_jarque_bera" ->
      """WITH s AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS v
        |  FROM events WHERE ts IS NOT NULL
        |  GROUP BY CAST(ts AS DATE)),
        |t AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CAST(round(v, 9) AS DECIMAL(38,9)))
        |           AS DECIMAL(38,9)) AS s1,
        |         CAST(sum(CAST(round(v * v, 9) AS DECIMAL(38,9)))
        |           AS DECIMAL(38,9)) AS s2,
        |         CAST(sum(CAST(round(v * v * v, 9) AS DECIMAL(38,9)))
        |           AS DECIMAL(38,9)) AS s3,
        |         CAST(sum(CAST(round(v * v * v * v, 9)
        |           AS DECIMAL(38,9))) AS DECIMAL(38,9)) AS s4
        |  FROM s),
        |m AS (
        |  SELECT n, CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
        |         CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS p2,
        |         CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS p3,
        |         CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS p4
        |  FROM t),
        |c AS (
        |  SELECT n, p2 - mu * mu AS m2,
        |         p3 - 3.0 * mu * p2 + 2.0 * mu * mu * mu AS m3,
        |         p4 - 4.0 * mu * p3 + 6.0 * mu * mu * p2
        |           - 3.0 * mu * mu * mu * mu AS m4
        |  FROM m),
        |g AS (
        |  SELECT n, m2, m3 / sqrt(m2 * m2 * m2) AS g1,
        |         m4 / (m2 * m2) - 3.0 AS g2
        |  FROM c),
        |j AS (
        |  SELECT n, m2, g1, g2,
        |         CAST(n AS DOUBLE) / 6.0
        |           * (g1 * g1 + g2 * g2 / 4.0) AS jb
        |  FROM g)
        |SELECT n,
        |       CASE WHEN n >= 3 AND m2 > 0 THEN round(g1, 6) END
        |         AS skewness,
        |       CASE WHEN n >= 3 AND m2 > 0 THEN round(g2, 6) END
        |         AS ex_kurtosis,
        |       CASE WHEN n >= 3 AND m2 > 0 THEN round(jb, 6) END AS jb,
        |       CASE WHEN n >= 3 AND m2 > 0 THEN round(exp(-jb / 2.0), 6)
        |         END AS p
        |FROM j""".stripMargin,

    // q270: q266's rank frame and integer 4S, Friedman's division.
    "q270_friedman" ->
      """WITH m AS (
        |  SELECT source,
        |         CAST(sum(n_chars) AS DOUBLE)
        |           / CAST(count(*) AS DOUBLE) AS mean_chars,
        |         CAST(count(*) AS BIGINT) AS n_docs,
        |         max(n_chars) AS max_chars
        |  FROM documents
        |  WHERE source IS NOT NULL AND n_chars IS NOT NULL GROUP BY 1),
        |r AS (
        |  SELECT source,
        |         CAST(row_number() OVER (ORDER BY mean_chars, source)
        |           AS BIGINT)
        |       + CAST(row_number() OVER (ORDER BY n_docs, source)
        |           AS BIGINT)
        |       + CAST(row_number() OVER (ORDER BY max_chars, source)
        |           AS BIGINT) AS rs
        |  FROM m),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM r),
        |s4 AS (
        |  SELECT CAST(coalesce(sum((2 * rs - 3 * (n + 1))
        |           * (2 * rs - 3 * (n + 1))), 0) AS BIGINT) AS s4,
        |         max(n) AS n
        |  FROM r, nn)
        |SELECT n AS n_subjects, CAST(3 AS BIGINT) AS k_judges,
        |       CASE WHEN n >= 2 THEN n - 1 END AS dof,
        |       CASE WHEN n >= 2 THEN
        |         round(3.0 * CAST(s4 AS DOUBLE)
        |               / (3.0 * CAST(n AS DOUBLE)
        |                  * (CAST(n AS DOUBLE) + 1.0)), 6) END AS chi2_f
        |FROM s4""".stripMargin,

    // q275: q258's feature replay (no bias column), same rank-exact
    // per-feature medians, same MI cell terms in nats folded 12-dp,
    // one ln2 division.
    "q275_info_gain" ->
      """WITH fe AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS tot,
        |         CAST(sum(CASE WHEN event_type = 'click' THEN 1
        |           ELSE 0 END) AS BIGINT) AS c_click,
        |         CAST(sum(CASE WHEN event_type = 'error' THEN 1
        |           ELSE 0 END) AS BIGINT) AS c_error,
        |         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1
        |           ELSE 0 END) AS BIGINT) AS c_purchase,
        |         CAST(sum(CASE WHEN event_type = 'signup' THEN 1
        |           ELSE 0 END) AS BIGINT) AS c_signup,
        |         CAST(sum(CASE WHEN event_type = 'view' THEN 1
        |           ELSE 0 END) AS BIGINT) AS c_view,
        |         min(CAST(floor(epoch(CAST(ts AS TIMESTAMP)))
        |           AS BIGINT) // 3600) AS fb,
        |         max(CAST(floor(epoch(CAST(ts AS TIMESTAMP)))
        |           AS BIGINT) // 3600) AS lb
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL GROUP BY 1),
        |mx AS (SELECT max(lb) AS maxd FROM fe),
        |e AS (
        |  SELECT user_id,
        |         [CAST(c_click AS DOUBLE) / 100.0,
        |          CAST(c_error AS DOUBLE) / 100.0,
        |          CAST(c_purchase AS DOUBLE) / 100.0,
        |          CAST(c_signup AS DOUBLE) / 100.0,
        |          CAST(c_view AS DOUBLE) / 100.0,
        |          CAST(lb - fb AS DOUBLE) / 1000.0,
        |          CAST(tot AS DOUBLE) / 100.0] AS v,
        |         CASE WHEN lb <= maxd - 12 THEN CAST(1 AS DOUBLE)
        |              ELSE CAST(0 AS DOUBLE) END AS y
        |  FROM fe, mx),
        |el AS (
        |  SELECT user_id, y,
        |         CAST(generate_subscripts(v, 1) AS BIGINT) - 1 AS f,
        |         CAST(unnest(v) AS DOUBLE) AS x
        |  FROM e),
        |r AS (
        |  SELECT f, x, user_id,
        |         CAST(row_number() OVER (PARTITION BY f
        |           ORDER BY x, user_id) AS BIGINT) AS rn,
        |         CAST(count(*) OVER (PARTITION BY f) AS BIGINT) AS n
        |  FROM el),
        |med AS (
        |  SELECT f, max(CASE WHEN rn = greatest(
        |           CAST(ceil(0.5 * CAST(n AS DOUBLE)) AS BIGINT), 1)
        |         THEN x END) AS sv
        |  FROM r GROUP BY 1),
        |bj AS (
        |  SELECT el.f, med.sv,
        |         CASE WHEN el.x > med.sv THEN 1 ELSE 0 END AS b, el.y,
        |         CAST(count(*) AS BIGINT) AS nby
        |  FROM el JOIN med ON med.f = el.f GROUP BY 1, 2, 3, 4),
        |mb AS (SELECT f, b, CAST(sum(nby) AS BIGINT) AS nb
        |       FROM bj GROUP BY 1, 2),
        |my AS (SELECT f, y, CAST(sum(nby) AS BIGINT) AS ny
        |       FROM bj GROUP BY 1, 2),
        |tt AS (SELECT f, CAST(sum(nby) AS BIGINT) AS nn
        |       FROM bj GROUP BY 1),
        |tm AS (
        |  SELECT bj.f, bj.sv,
        |         CAST(round((CAST(nby AS DOUBLE) / CAST(nn AS DOUBLE))
        |             * ln((CAST(nby AS DOUBLE) * CAST(nn AS DOUBLE))
        |                  / (CAST(nb AS DOUBLE) * CAST(ny AS DOUBLE))),
        |           12) AS DECIMAL(38,12)) AS t
        |  FROM bj JOIN mb ON mb.f = bj.f AND mb.b = bj.b
        |          JOIN my ON my.f = bj.f AND my.y = bj.y
        |          JOIN tt ON tt.f = bj.f)
        |SELECT f AS feature, sv AS split_value,
        |       round(CAST(sum(t) AS DOUBLE) / 0.6931471805599453, 6)
        |         AS ig
        |FROM tm GROUP BY 1, 2 ORDER BY feature""".stripMargin,

    // q274: same adjacent-pair window, same whitespace bigrams with
    // repeats, same clipped-count join and ratio chains.
    "q274_rouge" ->
      """WITH d AS (
        |  SELECT doc_id, text,
        |         lead(doc_id, 1) OVER
        |           (PARTITION BY source ORDER BY doc_id) AS b_id,
        |         lead(text, 1) OVER
        |           (PARTITION BY source ORDER BY doc_id) AS b_text
        |  FROM documents
        |  WHERE source IS NOT NULL AND text IS NOT NULL),
        |p AS (SELECT doc_id AS a_id, b_id, text AS ta, b_text AS tb
        |      FROM d WHERE b_id IS NOT NULL),
        |wa AS (SELECT a_id, b_id,
        |              list_filter(string_split_regex(lower(ta), '\s+'),
        |                x -> length(x) > 0) AS t FROM p),
        |wb AS (SELECT a_id, b_id,
        |              list_filter(string_split_regex(lower(tb), '\s+'),
        |                x -> length(x) > 0) AS t FROM p),
        |ga AS (
        |  SELECT a_id, b_id, t[i] || ' ' || t[i + 1] AS g,
        |         CAST(count(*) AS BIGINT) AS ca
        |  FROM (SELECT a_id, b_id, t,
        |          unnest(range(1, greatest(len(t), 1))) AS i FROM wa) x
        |  GROUP BY 1, 2, 3),
        |gb AS (
        |  SELECT a_id, b_id, t[i] || ' ' || t[i + 1] AS g,
        |         CAST(count(*) AS BIGINT) AS cb
        |  FROM (SELECT a_id, b_id, t,
        |          unnest(range(1, greatest(len(t), 1))) AS i FROM wb) x
        |  GROUP BY 1, 2, 3),
        |cl AS (
        |  SELECT a_id, b_id, CAST(sum(least(ca, cb)) AS BIGINT) AS clip
        |  FROM ga JOIN gb USING (a_id, b_id, g) GROUP BY 1, 2),
        |sz AS (
        |  SELECT wa.a_id, wa.b_id,
        |         CAST(greatest(len(wa.t) - 1, 0) AS BIGINT) AS n_a,
        |         CAST(greatest(len(wb.t) - 1, 0) AS BIGINT) AS n_b
        |  FROM wa JOIN wb USING (a_id, b_id)),
        |f AS (
        |  SELECT sz.a_id, sz.b_id, sz.n_a, sz.n_b,
        |         coalesce(cl.clip, 0) AS clip
        |  FROM sz LEFT JOIN cl USING (a_id, b_id)),
        |r AS (
        |  SELECT a_id, b_id, n_a, n_b, clip,
        |         CAST(clip AS DOUBLE) / CAST(n_a AS DOUBLE) AS rr,
        |         CAST(clip AS DOUBLE) / CAST(n_b AS DOUBLE) AS pp
        |  FROM f)
        |SELECT a_id, b_id, n_a, n_b, clip,
        |       CASE WHEN n_a > 0 AND n_b > 0 THEN round(rr, 6) END
        |         AS recall,
        |       CASE WHEN n_a > 0 AND n_b > 0 THEN round(pp, 6) END
        |         AS precision,
        |       CASE WHEN n_a > 0 AND n_b > 0 AND rr + pp > 0 THEN
        |         round(2.0 * pp * rr / (pp + rr), 6) END AS f1
        |FROM r ORDER BY a_id, b_id""".stripMargin,

    // q331: the q329 fit and weekday means, one subtraction per day.
    "q331_seasonal_adjust" -> seasonalAdjustOracleSql,

    // q334: same (dow, hour) cells (the q230 dow convention), one
    // share division.
    "q334_load_heatmap" ->
      """WITH c AS (
        |  SELECT CAST(dayofweek(CAST(ts AS DATE)) + 1 AS INTEGER)
        |           AS dow,
        |         CAST(hour(ts) AS INTEGER) AS hour_of_day,
        |         CAST(count(*) AS BIGINT) AS n_events
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT CAST(sum(n_events) AS BIGINT) AS tot FROM c)
        |SELECT dow, hour_of_day, n_events,
        |       round(CAST(n_events AS DOUBLE) / CAST(tot AS DOUBLE), 6)
        |         AS share
        |FROM c, t ORDER BY dow, hour_of_day""".stripMargin,

    // q333: the q331 adjusted series through the q193 cusum chain
    // (decimal cumulative, |D| argmax with the min-i tiebreak).
    "q333_adjusted_cusum" ->
      s"""WITH adj AS (SELECT * FROM ($seasonalAdjustOracleSql) q),
        |c AS (
        |  SELECT day, adjusted,
        |         CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i,
        |         CAST(sum(CAST(round(adjusted, 9) AS DECIMAL(38,12)))
        |           OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
        |             AND CURRENT ROW) AS DECIMAL(38,12)) AS cum,
        |         CAST(count(*) OVER () AS BIGINT) AS n,
        |         CAST(sum(CAST(round(adjusted, 9) AS DECIMAL(38,12)))
        |           OVER () AS DECIMAL(38,12)) AS s1,
        |         CAST(sum(CAST(round(adjusted * adjusted, 9)
        |           AS DECIMAL(38,12))) OVER () AS DECIMAL(38,12)) AS s2
        |  FROM adj),
        |x AS (
        |  SELECT day, adjusted, i, n,
        |         sqrt((CAST(s2 AS DOUBLE)
        |               - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
        |                 / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE))
        |           AS sigma,
        |         CAST(n AS DOUBLE) * CAST(cum AS DOUBLE)
        |           - CAST(i AS DOUBLE) * CAST(s1 AS DOUBLE) AS d
        |  FROM c),
        |y AS (SELECT *, max(abs(d)) OVER () AS dmax FROM x),
        |z AS (SELECT *, min(CASE WHEN abs(d) = dmax THEN i END)
        |        OVER () AS imin FROM y)
        |SELECT day, adjusted,
        |       round(d / nullif(CAST(n AS DOUBLE) * sigma,
        |         CAST(0 AS DOUBLE)), 6) AS cusum,
        |       (abs(d) = dmax AND sigma > 0 AND i = imin)
        |         AS is_changepoint
        |FROM z ORDER BY day""".stripMargin,

    // q332: the q291 and q330 chart chains joined per day; flag
    // arithmetic verbatim.
    "q332_anomaly_ensemble" ->
      """WITH sc AS (
        |  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
        |         CAST(count(*) AS BIGINT) AS n_events
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
        |tc AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CAST(round(CAST(n_events AS DOUBLE), 9)
        |           AS DECIMAL(38,12))) AS DECIMAL(38,12)) AS s1
        |  FROM sc),
        |gc AS (
        |  SELECT cbar, cbar + 3.0 * sqrt(cbar) AS ucl,
        |         greatest(cbar - 3.0 * sqrt(cbar), 0.0) AS lcl
        |  FROM (SELECT CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS cbar
        |        FROM tc) x),
        |cf AS (
        |  SELECT sc.day, sc.n_events,
        |         (CAST(sc.n_events AS DOUBLE) > gc.ucl
        |          OR CAST(sc.n_events AS DOUBLE) < gc.lcl)
        |           AS count_flag
        |  FROM sc, gc),
        |sv AS (
        |  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
        |         CAST(sum(CAST(round(CAST(value AS DOUBLE), 9)
        |           AS DECIMAL(38,9))) AS DOUBLE)
        |           / CAST(count(*) AS DOUBLE) AS mean_value
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        |  GROUP BY 1),
        |bv AS (
        |  SELECT day, mean_value,
        |         abs(mean_value - lag(mean_value, 1)
        |           OVER (ORDER BY day)) AS mr
        |  FROM sv),
        |tv AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CAST(round(mean_value, 9)
        |           AS DECIMAL(38,12))) AS DOUBLE) AS s1,
        |         CAST(count(mr) AS BIGINT) AS nmr,
        |         CAST(sum(CAST(round(mr, 9) AS DECIMAL(38,12)))
        |           AS DOUBLE) AS smr
        |  FROM bv),
        |hv AS (
        |  SELECT nmr, xbar + 2.66 * mrbar AS ucl,
        |         xbar - 2.66 * mrbar AS lcl
        |  FROM (SELECT nmr, s1 / CAST(n AS DOUBLE) AS xbar,
        |               smr / CAST(nmr AS DOUBLE) AS mrbar
        |        FROM tv) x),
        |vf AS (
        |  SELECT bv.day,
        |         coalesce(hv.nmr > 0 AND (bv.mean_value > hv.ucl
        |                  OR bv.mean_value < hv.lcl), FALSE)
        |           AS value_flag
        |  FROM bv, hv)
        |SELECT cf.day, cf.n_events, cf.count_flag,
        |       coalesce(vf.value_flag, FALSE) AS value_flag,
        |       CAST(CAST(cf.count_flag AS INTEGER)
        |            + CAST(coalesce(vf.value_flag, FALSE) AS INTEGER)
        |         AS BIGINT) AS n_flags
        |FROM cf LEFT JOIN vf ON vf.day = cf.day
        |ORDER BY cf.day""".stripMargin,

    // q329: same day-index OLS (12-dp moments), same weekday means of
    // the detrended residual, same stage-centered SS folds.
    "q329_variance_decomp" ->
      """WITH s AS (
        |  SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS DOUBLE) AS v
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
        |b AS (
        |  SELECT d, v,
        |         CAST(CAST(row_number() OVER (ORDER BY d) AS BIGINT)
        |           AS DOUBLE) AS i
        |  FROM s),
        |fit AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CAST(round(i, 12) AS DECIMAL(38,12)))
        |           AS DOUBLE) AS sx,
        |         CAST(sum(CAST(round(v, 12) AS DECIMAL(38,12)))
        |           AS DOUBLE) AS sy,
        |         CAST(sum(CAST(round(i * i, 12) AS DECIMAL(38,12)))
        |           AS DOUBLE) AS sxx,
        |         CAST(sum(CAST(round(i * v, 12) AS DECIMAL(38,12)))
        |           AS DOUBLE) AS sxy
        |  FROM b),
        |k AS (
        |  SELECT n,
        |         (CAST(n AS DOUBLE) * sxy - sx * sy)
        |           / nullif(CAST(n AS DOUBLE) * sxx - sx * sx, 0)
        |           AS slope, sx, sy
        |  FROM fit),
        |k2 AS (SELECT n, slope,
        |              (sy - slope * sx) / CAST(n AS DOUBLE) AS icept
        |       FROM k),
        |r AS (SELECT b.d, b.v,
        |             b.v - (k2.icept + k2.slope * b.i) AS r
        |      FROM b, k2),
        |dw AS (
        |  SELECT CAST(dayofweek(d) + 1 AS INTEGER) AS dow,
        |         CAST(sum(CAST(round(r, 9) AS DECIMAL(38,9)))
        |           AS DOUBLE) / CAST(count(*) AS DOUBLE) AS sdow
        |  FROM r GROUP BY 1),
        |e AS (
        |  SELECT r.v, r.r, r.r - dw.sdow AS e
        |  FROM r JOIN dw
        |    ON CAST(dayofweek(r.d) + 1 AS INTEGER) = dw.dow),
        |m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_days,
        |         CAST(sum(CAST(round(v, 9) AS DECIMAL(38,9)))
        |           AS DOUBLE) AS mv,
        |         CAST(sum(CAST(round(r, 9) AS DECIMAL(38,9)))
        |           AS DOUBLE) AS mr,
        |         CAST(sum(CAST(round(e, 9) AS DECIMAL(38,9)))
        |           AS DOUBLE) AS me
        |  FROM e),
        |led AS (
        |  SELECT m.n_days,
        |         CAST(sum(CAST(round((v - mv / CAST(n_days AS DOUBLE))
        |             * (v - mv / CAST(n_days AS DOUBLE)), 12)
        |           AS DECIMAL(38,12))) AS DOUBLE) AS sstot,
        |         CAST(sum(CAST(round((r - mr / CAST(n_days AS DOUBLE))
        |             * (r - mr / CAST(n_days AS DOUBLE)), 12)
        |           AS DECIMAL(38,12))) AS DOUBLE) AS ssr,
        |         CAST(sum(CAST(round((e - me / CAST(n_days AS DOUBLE))
        |             * (e - me / CAST(n_days AS DOUBLE)), 12)
        |           AS DECIMAL(38,12))) AS DOUBLE) AS sse
        |  FROM e, m GROUP BY 1)
        |SELECT n_days, round(sstot, 6) AS ss_total,
        |       round(sstot - ssr, 6) AS ss_trend,
        |       round(ssr - sse, 6) AS ss_seasonal,
        |       round(sse, 6) AS ss_residual,
        |       CASE WHEN sstot > 0 THEN round(1.0 - sse / sstot, 6)
        |         END AS structure_r2
        |FROM led""".stripMargin,

    // q330: same decimal-mean daily series, same lag moving ranges,
    // the 2.66·MR̄ limit chains.
    "q330_imr_chart" ->
      """WITH s AS (
        |  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
        |         CAST(sum(CAST(round(CAST(value AS DOUBLE), 9)
        |           AS DECIMAL(38,9))) AS DOUBLE)
        |           / CAST(count(*) AS DOUBLE) AS mean_value
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        |  GROUP BY 1),
        |b AS (
        |  SELECT day, mean_value,
        |         abs(mean_value - lag(mean_value, 1)
        |           OVER (ORDER BY day)) AS mr
        |  FROM s),
        |t AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CAST(round(mean_value, 9)
        |           AS DECIMAL(38,12))) AS DOUBLE) AS s1,
        |         CAST(count(mr) AS BIGINT) AS nmr,
        |         CAST(sum(CAST(round(mr, 9) AS DECIMAL(38,12)))
        |           AS DOUBLE) AS smr
        |  FROM b),
        |g AS (
        |  SELECT n, nmr, s1 / CAST(n AS DOUBLE) AS xbar,
        |         smr / CAST(nmr AS DOUBLE) AS mrbar
        |  FROM t),
        |h AS (
        |  SELECT nmr, xbar, mrbar,
        |         xbar + 2.66 * mrbar AS ucl,
        |         xbar - 2.66 * mrbar AS lcl
        |  FROM g)
        |SELECT b.day, b.mean_value, round(h.xbar, 6) AS center,
        |       CASE WHEN nmr > 0 THEN round(h.ucl, 6) END AS ucl,
        |       CASE WHEN nmr > 0 THEN round(h.lcl, 6) END AS lcl,
        |       round(b.mr, 6) AS moving_range,
        |       coalesce(nmr > 0 AND (b.mean_value > h.ucl
        |                OR b.mean_value < h.lcl), FALSE)
        |         AS out_of_control
        |FROM b, h ORDER BY day""".stripMargin,

    // q327: same conversion cells, the two one-sided Wald chains with
    // the z literal.
    "q327_tost_equivalence" ->
      """WITH sp AS (
        |  SELECT user_id,
        |         max(CAST(floor(epoch(CAST(ts AS TIMESTAMP)))
        |           AS BIGINT) // 3600) AS lb
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1),
        |mx AS (SELECT max(lb) AS maxd FROM sp),
        |u AS (
        |  SELECT user_id,
        |         CASE WHEN lb > maxd - 12 THEN 1 ELSE 0 END AS conv
        |  FROM sp, mx),
        |ca AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_a,
        |         CAST(coalesce(sum(CASE WHEN conv = 1 THEN 1 END), 0)
        |           AS BIGINT) AS conv_a
        |  FROM u WHERE user_id % 2 = 0),
        |cb AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_b,
        |         CAST(coalesce(sum(CASE WHEN conv = 1 THEN 1 END), 0)
        |           AS BIGINT) AS conv_b
        |  FROM u WHERE user_id % 2 <> 0),
        |g AS (
        |  SELECT n_a, n_b,
        |         CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS pa,
        |         CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS pb
        |  FROM ca, cb),
        |k AS (
        |  SELECT n_a, n_b, pa, pb, pa - pb AS diff,
        |         sqrt(pa * (1.0 - pa) / CAST(n_a AS DOUBLE)
        |              + pb * (1.0 - pb) / CAST(n_b AS DOUBLE)) AS se
        |  FROM g),
        |z AS (
        |  SELECT n_a, n_b, pa, pb, diff, se,
        |         (diff + 0.02) / nullif(se, 0) AS zlo,
        |         (0.02 - diff) / nullif(se, 0) AS zhi
        |  FROM k)
        |SELECT n_a, n_b, round(pa, 6) AS p_a, round(pb, 6) AS p_b,
        |       round(diff, 6) AS diff, round(se, 6) AS se,
        |       CASE WHEN se > 0 THEN round(zlo, 6) END AS z_lower,
        |       CASE WHEN se > 0 THEN round(zhi, 6) END AS z_upper,
        |       coalesce(zlo > 1.6448536269514722
        |                AND zhi > 1.6448536269514722, FALSE)
        |         AS equivalent
        |FROM z""".stripMargin,

    // q328: the q180 curve verbatim, hazard terms folded 12-dp over
    // the ordered lifetime frame.
    "q328_nelson_aalen" ->
      s"""WITH km AS (SELECT * FROM ($kaplanMeierOracleSql) x),
        |h AS (
        |  SELECT t_life, n_risk, n_churn,
        |         CAST(n_churn AS DOUBLE) / CAST(n_risk AS DOUBLE) AS hz
        |  FROM km)
        |SELECT t_life, n_risk, n_churn, round(hz, 6) AS hazard,
        |       round(CAST(sum(CAST(round(hz, 12) AS DECIMAL(38,12)))
        |           OVER (ORDER BY t_life ROWS BETWEEN UNBOUNDED
        |             PRECEDING AND CURRENT ROW) AS DOUBLE), 6)
        |         AS cum_hazard
        |FROM h ORDER BY t_life""".stripMargin,

    // q325: the q189 chain with the Holm step-down cut.
    "q325_holm_screen" -> holmScreenOracleSql,

    // q326: same per-user conversion cells, the arcsine chain.
    "q326_cohens_h" ->
      """WITH u AS (
        |  SELECT user_id, max(CASE WHEN event_type = 'purchase'
        |           THEN 1 ELSE 0 END) AS conv
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |ca AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_a,
        |         CAST(coalesce(sum(CASE WHEN conv = 1 THEN 1 END), 0)
        |           AS BIGINT) AS conv_a
        |  FROM u WHERE user_id % 2 = 0),
        |cb AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_b,
        |         CAST(coalesce(sum(CASE WHEN conv = 1 THEN 1 END), 0)
        |           AS BIGINT) AS conv_b
        |  FROM u WHERE user_id % 2 <> 0),
        |g AS (
        |  SELECT n_a, conv_a, n_b, conv_b,
        |         CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS pa,
        |         CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS pb
        |  FROM ca, cb)
        |SELECT n_a, conv_a, n_b, conv_b,
        |       round(pa, 6) AS p_a, round(pb, 6) AS p_b,
        |       round(2.0 * asin(sqrt(pa)) - 2.0 * asin(sqrt(pb)), 6)
        |         AS h
        |FROM g""".stripMargin,

    // q323: same per-source token/type counts, same RTTR chain.
    "q323_lexical_diversity" ->
      """WITH c AS (
        |  SELECT source, t, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT source, unnest(list_filter(
        |          string_split_regex(lower(text), '\s+'),
        |          x -> length(x) > 0)) AS t
        |        FROM documents
        |        WHERE source IS NOT NULL AND text IS NOT NULL) x
        |  GROUP BY 1, 2)
        |SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
        |       CAST(count(*) AS BIGINT) AS vocab,
        |       round(CAST(count(*) AS DOUBLE)
        |             / CAST(sum(c) AS DOUBLE), 6) AS ttr,
        |       round(CAST(count(*) AS DOUBLE)
        |             / sqrt(CAST(sum(c) AS DOUBLE)), 6) AS rttr
        |FROM c GROUP BY 1 ORDER BY source""".stripMargin,

    // q324: same global top-200 head (count desc, term tiebreak),
    // same renormalized per-source probs, same pair × head support
    // and 12-dp JS folds.
    "q324_source_js_matrix" ->
      """WITH cells AS (
        |  SELECT source AS s, t, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT source, unnest(list_filter(
        |          string_split_regex(lower(text), '\s+'),
        |          x -> length(x) > 0)) AS t
        |        FROM documents
        |        WHERE source IS NOT NULL AND text IS NOT NULL) x
        |  GROUP BY 1, 2),
        |head AS (
        |  SELECT t FROM (
        |    SELECT t, sum(c) AS g FROM cells GROUP BY 1
        |    ORDER BY g DESC, t LIMIT 200) x),
        |kept AS (SELECT cells.* FROM cells JOIN head USING (t)),
        |tot AS (SELECT s, CAST(sum(c) AS BIGINT) AS n
        |        FROM kept GROUP BY 1),
        |p AS (
        |  SELECT kept.t, kept.s,
        |         CAST(kept.c AS DOUBLE) / CAST(tot.n AS DOUBLE) AS p
        |  FROM kept JOIN tot ON tot.s = kept.s),
        |sp AS (
        |  SELECT x.s AS sa, y.s AS sb
        |  FROM tot x JOIN tot y ON x.s < y.s),
        |sup AS (SELECT sp.sa, sp.sb, head.t FROM sp, head),
        |j AS (
        |  SELECT sup.sa, sup.sb,
        |         coalesce(a.p, 0.0) AS qa, coalesce(b.p, 0.0) AS qb
        |  FROM sup
        |  LEFT JOIN p a ON a.s = sup.sa AND a.t = sup.t
        |  LEFT JOIN p b ON b.s = sup.sb AND b.t = sup.t),
        |tm AS (
        |  SELECT sa, sb,
        |         CAST(round(
        |           (CASE WHEN qa > 0 THEN qa * ln(qa / ((qa + qb)
        |              / 2.0)) ELSE 0.0 END)
        |           + (CASE WHEN qb > 0 THEN qb * ln(qb / ((qa + qb)
        |              / 2.0)) ELSE 0.0 END), 12) AS DECIMAL(38,12))
        |           AS t
        |  FROM j)
        |SELECT sa AS source_lo, sb AS source_hi,
        |       round(CAST(sum(t) AS DOUBLE) / 2.0
        |             / 0.6931471805599453, 6) AS js
        |FROM tm GROUP BY 1, 2 ORDER BY source_lo, source_hi""".stripMargin,

    // q321: the q138 threshold chain with the unrounded F1 argmax
    // (threshold DESC breaks exact ties — the struct-max order).
    "q321_best_threshold" ->
      """WITH s AS (
        |  SELECT CAST(embedding[1] AS DOUBLE) AS score,
        |         CASE WHEN label = 0 THEN 1 ELSE 0 END AS y
        |  FROM embeddings WHERE vec_id < 1000
        |    AND embedding IS NOT NULL AND label IS NOT NULL),
        |th AS (
        |  SELECT score AS threshold, CAST(count(*) AS BIGINT) AS n,
        |         CAST(coalesce(sum(CASE WHEN y <> 0 THEN 1 END), 0)
        |           AS BIGINT) AS np
        |  FROM s GROUP BY 1),
        |cum AS (
        |  SELECT threshold,
        |         CAST(sum(n) OVER (ORDER BY threshold DESC
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS BIGINT) AS predicted,
        |         CAST(sum(np) OVER (ORDER BY threshold DESC
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS BIGINT) AS tp
        |  FROM th),
        |tt AS (SELECT CAST(max(tp) AS BIGINT) AS pos FROM cum),
        |f AS (
        |  SELECT threshold, predicted, tp,
        |         CAST(tp AS DOUBLE) / CAST(predicted AS DOUBLE) AS p,
        |         CAST(tp AS DOUBLE) / nullif(CAST(pos AS DOUBLE), 0)
        |           AS r
        |  FROM cum, tt),
        |g AS (
        |  SELECT threshold, predicted, tp, p, r,
        |         CASE WHEN p + r > 0 THEN 2.0 * p * r / (p + r) END
        |           AS f1
        |  FROM f WHERE p + r > 0)
        |SELECT threshold, predicted, tp, round(p, 6) AS precision,
        |       round(r, 6) AS recall, round(f1, 6) AS f1
        |FROM g ORDER BY f1 DESC, threshold DESC LIMIT 1""".stripMargin,

    // q322: q266's metric frame with DESC ranks summed — the Borda
    // order.
    "q322_source_scorecard" ->
      """WITH m AS (
        |  SELECT source,
        |         CAST(sum(n_chars) AS DOUBLE)
        |           / CAST(count(*) AS DOUBLE) AS mean_chars,
        |         CAST(count(*) AS BIGINT) AS n_docs,
        |         max(n_chars) AS max_chars
        |  FROM documents
        |  WHERE source IS NOT NULL AND n_chars IS NOT NULL GROUP BY 1),
        |r AS (
        |  SELECT source, mean_chars, n_docs, max_chars,
        |         CAST(row_number() OVER (ORDER BY mean_chars DESC,
        |           source) AS BIGINT) AS rank_mean,
        |         CAST(row_number() OVER (ORDER BY n_docs DESC, source)
        |           AS BIGINT) AS rank_docs,
        |         CAST(row_number() OVER (ORDER BY max_chars DESC,
        |           source) AS BIGINT) AS rank_max
        |  FROM m)
        |SELECT source, mean_chars, n_docs, max_chars,
        |       rank_mean, rank_docs, rank_max,
        |       rank_mean + rank_docs + rank_max AS rank_sum
        |FROM r ORDER BY rank_sum, source""".stripMargin,

    // q320: same per-user (value sum, count) frame, same arm moment
    // folds, the delta-method chains with the z literal.
    "q320_ratio_metric" ->
      """WITH u AS (
        |  SELECT user_id,
        |         CAST(sum(CAST(round(CAST(value AS DOUBLE), 9)
        |           AS DECIMAL(38,9))) AS DOUBLE) AS y,
        |         CAST(count(*) AS DOUBLE) AS n
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
        |  GROUP BY 1),
        |arms AS (
        |  SELECT user_id % 2 = 0 AS arm, CAST(count(*) AS BIGINT) AS c,
        |         CAST(sum(CAST(round(y, 9) AS DECIMAL(38,9)))
        |           AS DECIMAL(38,9)) AS sy,
        |         CAST(sum(CAST(round(n, 9) AS DECIMAL(38,9)))
        |           AS DECIMAL(38,9)) AS sn,
        |         CAST(sum(CAST(round(y * y, 12) AS DECIMAL(38,12)))
        |           AS DECIMAL(38,12)) AS syy,
        |         CAST(sum(CAST(round(n * n, 12) AS DECIMAL(38,12)))
        |           AS DECIMAL(38,12)) AS snn,
        |         CAST(sum(CAST(round(y * n, 12) AS DECIMAL(38,12)))
        |           AS DECIMAL(38,12)) AS syn
        |  FROM u GROUP BY 1),
        |s AS (
        |  SELECT arm, c, CAST(c AS DOUBLE) AS cd,
        |         CAST(sy AS DOUBLE) AS syd, CAST(sn AS DOUBLE) AS snd,
        |         CAST(syy AS DOUBLE) AS syyd,
        |         CAST(snn AS DOUBLE) AS snnd,
        |         CAST(syn AS DOUBLE) AS synd
        |  FROM arms),
        |k AS (
        |  SELECT arm, c, syd / snd AS r,
        |         CASE WHEN c >= 2 AND snd / cd <> 0 THEN
        |           ((syyd - syd * syd / cd) / (cd - 1.0)
        |            - 2.0 * (syd / snd)
        |              * ((synd - syd * snd / cd) / (cd - 1.0))
        |            + (syd / snd) * (syd / snd)
        |              * ((snnd - snd * snd / cd) / (cd - 1.0)))
        |           / (cd * (snd / cd) * (snd / cd)) END AS v
        |  FROM s),
        |j AS (
        |  SELECT a.c AS n_a, a.r AS ra, a.v AS va,
        |         b.c AS n_b, b.r AS rb, b.v AS vb
        |  FROM (SELECT * FROM k WHERE arm) a,
        |       (SELECT * FROM k WHERE NOT arm) b)
        |SELECT n_a, n_b, round(ra, 6) AS ratio_a,
        |       round(rb, 6) AS ratio_b,
        |       round(ra - rb, 6) AS diff,
        |       round(sqrt(va + vb), 6) AS se,
        |       round(ra - rb - 1.959963984540054 * sqrt(va + vb), 6)
        |         AS ci_lo,
        |       round(ra - rb + 1.959963984540054 * sqrt(va + vb), 6)
        |         AS ci_hi
        |FROM j""".stripMargin,

    // q319: same per-user pre/post counts (double midpoint split),
    // same arm/pooled moment folds, the θ/ρ² chains.
    "q319_cuped" ->
      """WITH dd AS (
        |  SELECT user_id,
        |         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |bo AS (SELECT (CAST(min(d) AS DOUBLE) + CAST(max(d) AS DOUBLE))
        |         / 2.0 AS mid FROM dd),
        |u AS (
        |  SELECT user_id,
        |         CAST(coalesce(sum(CASE WHEN CAST(d AS DOUBLE) <= mid
        |           THEN 1 END), 0) AS DOUBLE) AS x,
        |         CAST(coalesce(sum(CASE WHEN CAST(d AS DOUBLE) > mid
        |           THEN 1 END), 0) AS DOUBLE) AS y
        |  FROM dd, bo GROUP BY 1),
        |arms AS (
        |  SELECT user_id % 2 = 0 AS arm, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CAST(round(x, 9) AS DECIMAL(38,9)))
        |           AS DECIMAL(38,9)) AS sx,
        |         CAST(sum(CAST(round(y, 9) AS DECIMAL(38,9)))
        |           AS DECIMAL(38,9)) AS sy
        |  FROM u GROUP BY 1),
        |pooled AS (
        |  SELECT CAST(count(*) AS BIGINT) AS nn,
        |         CAST(sum(CAST(round(x, 9) AS DECIMAL(38,9)))
        |           AS DECIMAL(38,9)) AS px,
        |         CAST(sum(CAST(round(y, 9) AS DECIMAL(38,9)))
        |           AS DECIMAL(38,9)) AS py,
        |         CAST(sum(CAST(round(x * x, 12) AS DECIMAL(38,12)))
        |           AS DECIMAL(38,12)) AS pxx,
        |         CAST(sum(CAST(round(x * y, 12) AS DECIMAL(38,12)))
        |           AS DECIMAL(38,12)) AS pxy,
        |         CAST(sum(CAST(round(y * y, 12) AS DECIMAL(38,12)))
        |           AS DECIMAL(38,12)) AS pyy
        |  FROM u),
        |j AS (
        |  SELECT a.n AS n_a, a.sx AS sxa, a.sy AS sya,
        |         b.n AS n_b, b.sx AS sxb, b.sy AS syb,
        |         p.nn, p.px, p.py, p.pxx, p.pxy, p.pyy
        |  FROM (SELECT * FROM arms WHERE arm) a,
        |       (SELECT * FROM arms WHERE NOT arm) b, pooled p),
        |k AS (
        |  SELECT n_a, n_b,
        |         CAST(nn AS DOUBLE) * CAST(pxy AS DOUBLE)
        |           - CAST(px AS DOUBLE) * CAST(py AS DOUBLE) AS cov,
        |         CAST(nn AS DOUBLE) * CAST(pxx AS DOUBLE)
        |           - CAST(px AS DOUBLE) * CAST(px AS DOUBLE) AS varx,
        |         CAST(nn AS DOUBLE) * CAST(pyy AS DOUBLE)
        |           - CAST(py AS DOUBLE) * CAST(py AS DOUBLE) AS vary,
        |         CAST(sxa AS DOUBLE) / CAST(n_a AS DOUBLE) AS mxa,
        |         CAST(sya AS DOUBLE) / CAST(n_a AS DOUBLE) AS mya,
        |         CAST(sxb AS DOUBLE) / CAST(n_b AS DOUBLE) AS mxb,
        |         CAST(syb AS DOUBLE) / CAST(n_b AS DOUBLE) AS myb
        |  FROM j)
        |SELECT n_a, n_b,
        |       round(cov / nullif(varx, 0), 6) AS theta,
        |       round(cov * cov / nullif(varx * vary, 0), 6) AS rho2,
        |       round(mya - myb, 6) AS diff_raw,
        |       round(mya - myb - cov / nullif(varx, 0) * (mxa - mxb), 6)
        |         AS diff_cuped
        |FROM k""".stripMargin,

    // q317: same distinct-user arms, the 1-df χ² against the intended
    // split and the closed-form p.
    "q317_srm_check" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events
        |           WHERE user_id IS NOT NULL),
        |na AS (SELECT CAST(count(*) AS BIGINT) AS n_a FROM u
        |       WHERE user_id % 2 = 0),
        |nb AS (SELECT CAST(count(*) AS BIGINT) AS n_b FROM u
        |       WHERE user_id % 2 <> 0),
        |x AS (
        |  SELECT n_a, n_b,
        |         CAST(n_a + n_b AS DOUBLE) * 0.5 AS ea,
        |         CAST(n_a + n_b AS DOUBLE) * 0.5 AS eb
        |  FROM na, nb),
        |z AS (
        |  SELECT n_a, n_b, ea,
        |         (CAST(n_a AS DOUBLE) - ea) * (CAST(n_a AS DOUBLE) - ea)
        |           / ea
        |         + (CAST(n_b AS DOUBLE) - eb)
        |           * (CAST(n_b AS DOUBLE) - eb) / eb AS chi2
        |  FROM x),
        |px AS (
        |  SELECT n_a, n_b, ea, chi2,
        |         abs(sqrt(chi2)) * 0.7071067811865476 AS xx,
        |         1.0 / (1.0 + 0.3275911
        |           * (abs(sqrt(chi2)) * 0.7071067811865476)) AS tt
        |  FROM z)
        |SELECT n_a, n_b, round(ea, 6) AS expected_a,
        |       CASE WHEN ea > 0 THEN round(chi2, 6) END AS chi2,
        |       CASE WHEN ea > 0 THEN
        |         round(((((1.061405429 * tt + -1.453152027) * tt
        |               + 1.421413741) * tt + -0.284496736) * tt
        |               + 0.254829592) * tt * exp(-(xx * xx)), 6)
        |       END AS p
        |FROM px""".stripMargin,

    // q318: the q20 exact pair set joined to sources, canonicalized
    // source pairs.
    "q318_cross_source_dups" ->
      ("WITH " + dedupPairsCte + """,
        |lab AS (
        |  SELECT p.a_id, p.b_id, da.source AS sa, db.source AS sb
        |  FROM pairs p
        |  JOIN documents da ON da.doc_id = p.a_id
        |  JOIN documents db ON db.doc_id = p.b_id)
        |SELECT least(sa, sb) AS source_lo,
        |       greatest(sa, sb) AS source_hi,
        |       CAST(count(*) AS BIGINT) AS n_pairs
        |FROM lab GROUP BY 1, 2 ORDER BY source_lo, source_hi""".stripMargin),

    // q315: same term ranks and cumulative shares, per-target
    // min-rank pick (share is rank-determined, so min-by-rank equals
    // the struct-min).
    "q315_coverage_targets" ->
      """WITH c AS (
        |  SELECT t, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(list_filter(
        |          string_split_regex(lower(text), '\s+'),
        |          x -> length(x) > 0)) AS t
        |        FROM documents WHERE text IS NOT NULL) x
        |  GROUP BY 1),
        |tt AS (SELECT CAST(sum(c) AS BIGINT) AS nn FROM c),
        |r AS (
        |  SELECT CAST(row_number() OVER (ORDER BY c DESC, t)
        |           AS BIGINT) AS r,
        |         CAST(sum(c) OVER (ORDER BY c DESC, t
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS DOUBLE) / CAST(tt.nn AS DOUBLE) AS share
        |  FROM c, tt),
        |th AS (SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE)
        |         AS target),
        |hits AS (
        |  SELECT th.target, r.r, r.share
        |  FROM r, th WHERE r.share >= th.target),
        |k AS (SELECT target, min(r) AS k_terms FROM hits GROUP BY 1)
        |SELECT k.target AS target, k.k_terms,
        |       round(h.share, 6) AS share_at_k
        |FROM k JOIN hits h ON h.target = k.target AND h.r = k.k_terms
        |ORDER BY k.target""".stripMargin,

    // q316: same double-lag steps, same context joins, same 12-dp
    // p·ln p(·|ctx) folds and the ln2 division.
    "q316_journey_memory" ->
      """WITH st AS (
        |  SELECT lag(event_type, 2) OVER w AS a,
        |         lag(event_type, 1) OVER w AS b,
        |         event_type AS c
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_type IS NOT NULL
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |p2 AS (SELECT b, c, CAST(count(*) AS BIGINT) AS n
        |       FROM st WHERE b IS NOT NULL GROUP BY 1, 2),
        |p3 AS (SELECT a, b, c, CAST(count(*) AS BIGINT) AS n
        |       FROM st WHERE a IS NOT NULL AND b IS NOT NULL
        |       GROUP BY 1, 2, 3),
        |c2 AS (SELECT b, CAST(sum(n) AS BIGINT) AS ctx
        |       FROM p2 GROUP BY 1),
        |c3 AS (SELECT a, b, CAST(sum(n) AS BIGINT) AS ctx
        |       FROM p3 GROUP BY 1, 2),
        |t2 AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM p2),
        |t3 AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM p3),
        |h1 AS (
        |  SELECT t2.tot AS n_pairs,
        |         -CAST(sum(CAST(round((CAST(p2.n AS DOUBLE)
        |               / CAST(t2.tot AS DOUBLE))
        |             * ln(CAST(p2.n AS DOUBLE)
        |               / CAST(c2.ctx AS DOUBLE)), 12)
        |           AS DECIMAL(38,12))) AS DOUBLE)
        |           / 0.6931471805599453 AS h
        |  FROM p2 JOIN c2 ON c2.b = p2.b, t2 GROUP BY 1),
        |h2 AS (
        |  SELECT t3.tot AS n_triples,
        |         -CAST(sum(CAST(round((CAST(p3.n AS DOUBLE)
        |               / CAST(t3.tot AS DOUBLE))
        |             * ln(CAST(p3.n AS DOUBLE)
        |               / CAST(c3.ctx AS DOUBLE)), 12)
        |           AS DECIMAL(38,12))) AS DOUBLE)
        |           / 0.6931471805599453 AS h
        |  FROM p3 JOIN c3 ON c3.a = p3.a AND c3.b = p3.b, t3
        |  GROUP BY 1)
        |SELECT h1.n_pairs, h2.n_triples,
        |       round(h1.h, 6) AS h1_bits, round(h2.h, 6) AS h2_bits,
        |       round(h1.h - h2.h, 6) AS memory_gain_bits
        |FROM h1, h2""".stripMargin,

    // q313: same injected template, same digit-mask skeleton and md5
    // (identical UTF-8 bytes hash identically), same census.
    "q313_template_census" ->
      """WITH t AS (
        |  SELECT CASE WHEN doc_id % 5 = 0 THEN
        |           'Order ' || CAST(doc_id AS VARCHAR)
        |           || ' shipped to client '
        |           || CAST(doc_id * 7 AS VARCHAR) || ' total 42 units'
        |         ELSE text END AS text
        |  FROM documents WHERE text IS NOT NULL),
        |sk AS (
        |  SELECT md5(regexp_replace(lower(text), '[0-9]+', '#', 'g'))
        |           AS sk
        |  FROM t),
        |g AS (SELECT sk, CAST(count(*) AS BIGINT) AS c
        |      FROM sk GROUP BY 1)
        |SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n_docs,
        |       CAST(count(*) AS BIGINT) AS n_skeletons,
        |       CAST(coalesce(sum(CASE WHEN c >= 2 THEN 1 END), 0)
        |         AS BIGINT) AS n_templates,
        |       CAST(coalesce(sum(CASE WHEN c >= 2 THEN c END), 0)
        |         AS BIGINT) AS n_templated_docs,
        |       CAST(coalesce(max(CASE WHEN c >= 2 THEN c END), 0)
        |         AS BIGINT) AS top_template_size
        |FROM g""".stripMargin,

    // q314: same injected emails, same two character-class patterns
    // (Java and RE2 read them identically), same census.
    "q314_pii_census" ->
      """WITH t AS (
        |  SELECT source,
        |         CASE WHEN doc_id % 7 = 0 THEN
        |           text || ' contact user' || CAST(doc_id AS VARCHAR)
        |           || '@example.com now'
        |         ELSE text END AS text
        |  FROM documents
        |  WHERE text IS NOT NULL AND source IS NOT NULL),
        |m AS (
        |  SELECT source,
        |         CAST(len(regexp_extract_all(text,
        |           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |           AS BIGINT) AS ne,
        |         CAST(len(regexp_extract_all(text, '[0-9]{7,}'))
        |           AS BIGINT) AS nd
        |  FROM t)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(coalesce(sum(CASE WHEN ne > 0 THEN 1 END), 0)
        |         AS BIGINT) AS n_with_email,
        |       CAST(coalesce(sum(ne), 0) AS BIGINT) AS n_email_matches,
        |       CAST(coalesce(sum(CASE WHEN nd > 0 THEN 1 END), 0)
        |         AS BIGINT) AS n_with_digit_run,
        |       CAST(coalesce(sum(nd), 0) AS BIGINT) AS n_digit_matches
        |FROM m GROUP BY 1 ORDER BY source""".stripMargin,

    // q311: q296's stratum cells folded to pooled rates AND the CMH
    // gap; the sign comparison.
    "q311_simpson_check" ->
      """WITH u AS (
        |  SELECT user_id,
        |         min(CAST(floor(epoch(ts)) AS BIGINT) // 604800) AS wk,
        |         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
        |           END) AS cv
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1),
        |cells AS (
        |  SELECT wk, CAST(count(*) AS BIGINT) AS n,
        |         CAST(coalesce(sum(CASE WHEN user_id % 2 = 0 THEN 1
        |           END), 0) AS BIGINT) AS n1,
        |         CAST(coalesce(sum(CASE WHEN cv = 1 THEN 1 END), 0)
        |           AS BIGINT) AS m1,
        |         CAST(coalesce(sum(CASE WHEN user_id % 2 = 0
        |           AND cv = 1 THEN 1 END), 0) AS BIGINT) AS aa
        |  FROM u GROUP BY 1 HAVING count(*) >= 2),
        |f AS (
        |  SELECT CAST(coalesce(sum(n1), 0) AS BIGINT) AS na,
        |         CAST(coalesce(sum(aa), 0) AS BIGINT) AS ca,
        |         CAST(coalesce(sum(n - n1), 0) AS BIGINT) AS nb,
        |         CAST(coalesce(sum(m1 - aa), 0) AS BIGINT) AS cb,
        |         CAST(coalesce(sum(CAST(round(CAST(aa AS DOUBLE)
        |             - CAST(n1 AS DOUBLE) * CAST(m1 AS DOUBLE)
        |               / CAST(n AS DOUBLE), 12) AS DECIMAL(38,12))),
        |           0) AS DOUBLE) AS gap
        |  FROM cells),
        |g AS (
        |  SELECT CAST(ca AS DOUBLE) / CAST(na AS DOUBLE) AS pa,
        |         CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE) AS pb, gap
        |  FROM f)
        |SELECT round(pa, 6) AS p_arm, round(pb, 6) AS p_ctrl,
        |       round(pa - pb, 6) AS diff_pooled,
        |       round(gap, 6) AS o_minus_e,
        |       CASE WHEN pa - pb <> 0 AND gap <> 0 THEN
        |         (pa - pb > 0) <> (gap > 0) END AS simpson_flag
        |FROM g""".stripMargin,

    // q312: same weekly type cells, same share/mean chains with the
    // absent-side zero convention, same 12-dp component folds.
    "q312_mix_shift" ->
      """WITH cells AS (
        |  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS w,
        |         event_type AS t, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CAST(round(CAST(value AS DOUBLE), 9)
        |           AS DECIMAL(38,9))) AS DECIMAL(38,9)) AS s
        |  FROM events
        |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
        |    AND value IS NOT NULL
        |  GROUP BY 1, 2),
        |tots AS (
        |  SELECT w, CAST(sum(n) AS BIGINT) AS nn,
        |         CAST(sum(s) AS DECIMAL(38,9)) AS ss
        |  FROM cells GROUP BY 1),
        |pr AS (
        |  SELECT coalesce(c1.w, c0.w) AS w, coalesce(c1.t, c0.t) AS t,
        |         c1.n AS n1, c1.s AS s1, c0.n AS n0, c0.s AS s0
        |  FROM cells c1
        |  FULL OUTER JOIN (SELECT w + 1 AS w, t, n, s FROM cells) c0
        |    ON c1.w = c0.w AND c1.t = c0.t),
        |pj AS (
        |  SELECT pr.*, t1.nn AS nn1, t1.ss AS ss1,
        |         t0.nn AS nn0, t0.ss AS ss0
        |  FROM pr
        |  JOIN tots t1 ON t1.w = pr.w
        |  JOIN (SELECT w + 1 AS w, nn, ss FROM tots) t0
        |    ON t0.w = pr.w),
        |tm AS (
        |  SELECT w, nn0, ss0, nn1, ss1,
        |         coalesce(CAST(n0 AS DOUBLE), 0.0)
        |           / CAST(nn0 AS DOUBLE) AS sh0,
        |         coalesce(CAST(n1 AS DOUBLE), 0.0)
        |           / CAST(nn1 AS DOUBLE) AS sh1,
        |         CASE WHEN n0 IS NOT NULL THEN CAST(s0 AS DOUBLE)
        |           / CAST(n0 AS DOUBLE) ELSE 0.0 END AS m0,
        |         CASE WHEN n1 IS NOT NULL THEN CAST(s1 AS DOUBLE)
        |           / CAST(n1 AS DOUBLE) ELSE 0.0 END AS m1
        |  FROM pj),
        |ag AS (
        |  SELECT w, nn0, ss0, nn1, ss1,
        |         CAST(sum(CAST(round(sh0 * (m1 - m0), 12)
        |           AS DECIMAL(38,12))) AS DOUBLE) AS rate,
        |         CAST(sum(CAST(round((sh1 - sh0) * m1, 12)
        |           AS DECIMAL(38,12))) AS DOUBLE) AS mix
        |  FROM tm GROUP BY 1, 2, 3, 4, 5)
        |SELECT strftime(make_timestamp(w * 604800 * 1000000),
        |         '%Y-%m-%d') AS week_start,
        |       round(CAST(ss0 AS DOUBLE) / CAST(nn0 AS DOUBLE), 6)
        |         AS mean_prev,
        |       round(CAST(ss1 AS DOUBLE) / CAST(nn1 AS DOUBLE), 6)
        |         AS mean_cur,
        |       round(CAST(ss1 AS DOUBLE) / CAST(nn1 AS DOUBLE)
        |             - CAST(ss0 AS DOUBLE) / CAST(nn0 AS DOUBLE), 6)
        |         AS delta,
        |       round(rate, 6) AS rate_component,
        |       round(mix, 6) AS mix_component
        |FROM ag ORDER BY week_start""".stripMargin,

    // q309: same per-user counts and decimal moments, sample (n−1)
    // variance, the moment-fit chains.
    "q309_negbin_fit" ->
      """WITH s AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS v
        |  FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
        |t AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CAST(round(v, 9) AS DECIMAL(38,9)))
        |           AS DECIMAL(38,9)) AS s1,
        |         CAST(sum(CAST(round(v * v, 9) AS DECIMAL(38,9)))
        |           AS DECIMAL(38,9)) AS s2
        |  FROM s),
        |m AS (
        |  SELECT n, CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
        |         (CAST(s2 AS DOUBLE)
        |          - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
        |            / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)
        |           AS vv
        |  FROM t)
        |SELECT n,
        |       CASE WHEN n >= 1 THEN round(mu, 6) END AS mean,
        |       CASE WHEN n >= 2 THEN round(vv, 6) END AS variance,
        |       CASE WHEN n >= 2 AND mu > 0 AND vv > mu THEN
        |         round(mu * mu / (vv - mu), 6) END AS r,
        |       CASE WHEN n >= 2 AND mu > 0 AND vv > mu THEN
        |         round(mu / vv, 6) END AS p
        |FROM m""".stripMargin,

    // q310: the q20 exact pair set (complete at and above the 0.6
    // banding floor), censused at each cut.
    "q310_dedup_sweep" ->
      ("WITH " + dedupPairsCte + """,
        |jc AS (
        |  SELECT CAST(n_common AS DOUBLE) / CAST(n_union AS DOUBLE)
        |           AS j
        |  FROM pairs),
        |th AS (SELECT CAST(unnest([0.6, 0.7, 0.8, 0.9]) AS DOUBLE)
        |         AS threshold)
        |SELECT th.threshold,
        |       CAST(coalesce(sum(CASE WHEN jc.j >= th.threshold THEN 1
        |         END), 0) AS BIGINT) AS n_pairs
        |FROM jc, th GROUP BY 1 ORDER BY threshold""".stripMargin),

    // q308: same distinct user-weeks, same first-week and shift
    // joins, same status census.
    "q308_growth_accounting" ->
      """WITH uw AS (
        |  SELECT DISTINCT user_id AS u,
        |         CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS w
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |fw AS (SELECT u, min(w) AS fw FROM uw GROUP BY 1),
        |cur AS (SELECT u, w, 1 AS c FROM uw),
        |prv AS (SELECT u, w + 1 AS w, 1 AS p FROM uw),
        |j AS (
        |  SELECT coalesce(cur.u, prv.u) AS u,
        |         coalesce(cur.w, prv.w) AS w, cur.c, prv.p
        |  FROM cur FULL OUTER JOIN prv
        |    ON cur.u = prv.u AND cur.w = prv.w),
        |jf AS (SELECT j.*, fw.fw FROM j JOIN fw ON fw.u = j.u)
        |SELECT strftime(make_timestamp(w * 604800 * 1000000),
        |         '%Y-%m-%d') AS week_start,
        |       CAST(coalesce(sum(c), 0) AS BIGINT) AS n_active,
        |       CAST(coalesce(sum(CASE WHEN c IS NOT NULL AND w = fw
        |         THEN 1 END), 0) AS BIGINT) AS n_new,
        |       CAST(coalesce(sum(CASE WHEN c IS NOT NULL
        |         AND p IS NOT NULL THEN 1 END), 0) AS BIGINT)
        |         AS n_retained,
        |       CAST(coalesce(sum(CASE WHEN c IS NOT NULL AND p IS NULL
        |         AND w > fw THEN 1 END), 0) AS BIGINT)
        |         AS n_resurrected,
        |       CAST(coalesce(sum(CASE WHEN p IS NOT NULL AND c IS NULL
        |         THEN 1 END), 0) AS BIGINT) AS n_churned
        |FROM jf GROUP BY w ORDER BY week_start""".stripMargin,

    // q306: same co-occurrence edges and degrees, both orientations,
    // the q148 decimal-moment Pearson.
    "q306_assortativity" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        |co AS (
        |  SELECT a.l_suppkey AS u, b.l_suppkey AS v
        |  FROM li a JOIN li b
        |    ON a.l_orderkey = b.l_orderkey
        |   AND a.l_suppkey < b.l_suppkey
        |  GROUP BY 1, 2 HAVING count(*) >= 6),
        |deg AS (
        |  SELECT node, CAST(count(*) AS BIGINT) AS dg FROM (
        |    SELECT u AS node FROM co UNION ALL SELECT v FROM co) x
        |  GROUP BY 1),
        |dir AS (
        |  SELECT u, v FROM co UNION ALL SELECT v, u FROM co),
        |xy AS (
        |  SELECT CAST(du.dg AS DOUBLE) AS x, CAST(dv.dg AS DOUBLE) AS y
        |  FROM dir JOIN deg du ON du.node = dir.u
        |           JOIN deg dv ON dv.node = dir.v),
        |m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n2,
        |         CAST(sum(CAST(round(x, 12) AS DECIMAL(38,12)))
        |           AS DOUBLE) AS sx,
        |         CAST(sum(CAST(round(y, 12) AS DECIMAL(38,12)))
        |           AS DOUBLE) AS sy,
        |         CAST(sum(CAST(round(x * x, 12) AS DECIMAL(38,12)))
        |           AS DOUBLE) AS sxx,
        |         CAST(sum(CAST(round(y * y, 12) AS DECIMAL(38,12)))
        |           AS DOUBLE) AS syy,
        |         CAST(sum(CAST(round(x * y, 12) AS DECIMAL(38,12)))
        |           AS DOUBLE) AS sxy
        |  FROM xy),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg)
        |SELECT nn.n_nodes, m.n2 // 2 AS n_edges,
        |       CASE WHEN m.n2 >= 4 THEN
        |         round((CAST(m.n2 AS DOUBLE) * sxy - sx * sy)
        |               / nullif(sqrt((CAST(m.n2 AS DOUBLE) * sxx
        |                              - sx * sx)
        |                           * (CAST(m.n2 AS DOUBLE) * syy
        |                              - sy * sy)), 0), 6) END AS r
        |FROM m, nn""".stripMargin,

    // q307: same edges/degrees, the q155 oriented-wedge triangle join,
    // 3Δ/W in one division.
    "q307_clustering_coef" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        |co AS (
        |  SELECT a.l_suppkey AS u, b.l_suppkey AS v
        |  FROM li a JOIN li b
        |    ON a.l_orderkey = b.l_orderkey
        |   AND a.l_suppkey < b.l_suppkey
        |  GROUP BY 1, 2 HAVING count(*) >= 6),
        |deg AS (
        |  SELECT node, CAST(count(*) AS BIGINT) AS dg FROM (
        |    SELECT u AS node FROM co UNION ALL SELECT v FROM co) x
        |  GROUP BY 1),
        |ds AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
        |         CAST(coalesce(sum(dg), 0) AS BIGINT) // 2 AS n_edges,
        |         CAST(coalesce(sum(dg * (dg - 1)), 0) AS BIGINT) AS w2
        |  FROM deg),
        |tri AS (
        |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM co e1 JOIN co e2 ON e2.u = e1.v
        |  JOIN co e3 ON e3.u = e1.u AND e3.v = e2.v),
        |t3 AS (SELECT CAST(3 * count(*) AS BIGINT) AS t3 FROM tri)
        |SELECT n_nodes, n_edges, t3 // 3 AS n_triangles,
        |       w2 // 2 AS n_wedges,
        |       CASE WHEN w2 > 0 THEN
        |         round(CAST(t3 AS DOUBLE)
        |               / (CAST(w2 AS DOUBLE) / 2.0), 6) END AS c
        |FROM ds, t3""".stripMargin,

    // q304: q23's detector chain with the label kept — the same
    // stopword lists and greatest-tiebreak order.
    "q304_langid_eval" ->
      """WITH toks AS (
        |  SELECT lang,
        |         list_filter(string_split_regex(lower(text), '\s+'),
        |                     t -> length(t) > 0) AS tk
        |  FROM documents WHERE lang IS NOT NULL),
        |sc AS (
        |  SELECT lang,
        |    len(list_filter(tk, t -> list_contains(
        |      ['der','die','und','das','ist'], t))) AS s_de,
        |    len(list_filter(tk, t -> list_contains(
        |      ['the','and','of','to','in'], t))) AS s_en,
        |    len(list_filter(tk, t -> list_contains(
        |      ['el','los','las','una','y'], t))) AS s_es,
        |    len(list_filter(tk, t -> list_contains(
        |      ['le','la','et','les','des'], t))) AS s_fr
        |  FROM toks),
        |lp AS (
        |  SELECT lang, CASE
        |    WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
        |    WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
        |    WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
        |    WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
        |    ELSE 'fr' END AS lang_pred
        |  FROM sc)
        |SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n
        |FROM lp GROUP BY 1, 2 ORDER BY lang, lang_pred""".stripMargin,

    // q305: same weekly (week, user) counts, same (count desc, user)
    // top-10 ranks, the q265 adjacent-set union arithmetic.
    "q305_topk_turnover" ->
      """WITH wk AS (
        |  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS w,
        |         user_id AS src, CAST(count(*) AS BIGINT) AS n
        |  FROM events
        |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
        |  GROUP BY 1, 2),
        |tp AS (
        |  SELECT w, src FROM (
        |    SELECT w, src,
        |           row_number() OVER (PARTITION BY w
        |             ORDER BY n DESC, src) AS r
        |    FROM wk) x
        |  WHERE r <= 10),
        |sz AS (SELECT w, CAST(count(*) AS BIGINT) AS k
        |       FROM tp GROUP BY 1),
        |bo AS (
        |  SELECT a.w, CAST(count(*) AS BIGINT) AS n_both
        |  FROM tp a JOIN tp b ON a.src = b.src AND b.w = a.w - 1
        |  GROUP BY 1)
        |SELECT strftime(make_timestamp(c.w * 604800 * 1000000),
        |         '%Y-%m-%d') AS week_start,
        |       p.k AS k_prev, c.k AS k_cur,
        |       coalesce(bo.n_both, 0) AS n_both,
        |       round(CAST(coalesce(bo.n_both, 0) AS DOUBLE)
        |             / CAST(p.k + c.k - coalesce(bo.n_both, 0)
        |                 AS DOUBLE), 6) AS jaccard
        |FROM sz c JOIN sz p ON p.w = c.w - 1
        |LEFT JOIN bo ON bo.w = c.w
        |ORDER BY week_start""".stripMargin,

    // q301: CHAINED — the q258 feature replay scored with q258's own
    // dumped weights (in-list-order fold, the q19 parity), then the
    // same deterministic ntile and ratio chains.
    "q301_lift_curve" ->
      """WITH wdump AS (
        |  SELECT CAST(idx AS BIGINT) AS idx, w
        |  FROM read_parquet('__OUT__/q258_churn_probe/*.parquet')),
        |wl AS (SELECT list(w ORDER BY idx) AS wl FROM wdump),
        |fe AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS tot,
        |         CAST(sum(CASE WHEN event_type = 'click' THEN 1
        |           ELSE 0 END) AS BIGINT) AS c_click,
        |         CAST(sum(CASE WHEN event_type = 'error' THEN 1
        |           ELSE 0 END) AS BIGINT) AS c_error,
        |         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1
        |           ELSE 0 END) AS BIGINT) AS c_purchase,
        |         CAST(sum(CASE WHEN event_type = 'signup' THEN 1
        |           ELSE 0 END) AS BIGINT) AS c_signup,
        |         CAST(sum(CASE WHEN event_type = 'view' THEN 1
        |           ELSE 0 END) AS BIGINT) AS c_view,
        |         min(CAST(floor(epoch(CAST(ts AS TIMESTAMP)))
        |           AS BIGINT) // 3600) AS fb,
        |         max(CAST(floor(epoch(CAST(ts AS TIMESTAMP)))
        |           AS BIGINT) // 3600) AS lb
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL GROUP BY 1),
        |mx AS (SELECT max(lb) AS maxd FROM fe),
        |e AS (
        |  SELECT user_id,
        |         [CAST(c_click AS DOUBLE) / 100.0,
        |          CAST(c_error AS DOUBLE) / 100.0,
        |          CAST(c_purchase AS DOUBLE) / 100.0,
        |          CAST(c_signup AS DOUBLE) / 100.0,
        |          CAST(c_view AS DOUBLE) / 100.0,
        |          CAST(lb - fb AS DOUBLE) / 1000.0,
        |          CAST(tot AS DOUBLE) / 100.0,
        |          CAST(1 AS DOUBLE)] AS v,
        |         CASE WHEN lb <= maxd - 12 THEN 1 ELSE 0 END AS y
        |  FROM fe, mx),
        |sc AS (
        |  SELECT user_id, y,
        |         list_aggregate(list_transform(list_zip(v, wl.wl),
        |           p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)),
        |           'sum') AS s
        |  FROM e, wl),
        |bk AS (
        |  SELECT y, CAST(ntile(10) OVER (ORDER BY s DESC, user_id)
        |           AS BIGINT) AS bucket
        |  FROM sc),
        |cells AS (
        |  SELECT bucket, CAST(count(*) AS BIGINT) AS n,
        |         CAST(coalesce(sum(y), 0) AS BIGINT) AS n_pos
        |  FROM bk GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
        |               CAST(sum(n_pos) AS BIGINT) AS pp
        |        FROM cells),
        |cum AS (
        |  SELECT bucket, n, n_pos,
        |         CAST(sum(n_pos) OVER (ORDER BY bucket
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS BIGINT) AS cp
        |  FROM cells)
        |SELECT c.bucket, c.n, c.n_pos,
        |       round(CAST(c.n_pos AS DOUBLE) / CAST(c.n AS DOUBLE), 6)
        |         AS rate,
        |       round((CAST(c.n_pos AS DOUBLE) / CAST(c.n AS DOUBLE))
        |             / nullif(CAST(t.pp AS DOUBLE)
        |                      / CAST(t.nn AS DOUBLE), 0), 6) AS lift,
        |       round(CAST(c.cp AS DOUBLE)
        |             / nullif(CAST(t.pp AS DOUBLE), 0), 6)
        |         AS cum_capture
        |FROM cum c, tot t ORDER BY bucket""".stripMargin,

    // q302: same double midpoint split, same rank-exact reference
    // edges, same multiplicity-weighted bins and 12-dp PSI folds.
    "q302_psi" ->
      """WITH dd AS (
        |  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d,
        |         CAST(value AS DOUBLE) AS v
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |bo AS (SELECT (CAST(min(d) AS DOUBLE) + CAST(max(d) AS DOUBLE))
        |         / 2.0 AS mid FROM dd),
        |r AS (SELECT v FROM dd, bo WHERE CAST(d AS DOUBLE) <= mid),
        |c AS (SELECT v FROM dd, bo WHERE CAST(d AS DOUBLE) > mid),
        |nr AS (SELECT CAST(count(*) AS BIGINT) AS n FROM r),
        |ed AS (
        |  SELECT DISTINCT v AS edge FROM (
        |    SELECT v, CAST(row_number() OVER (ORDER BY v) AS BIGINT)
        |             AS rn, nr.n
        |    FROM r, nr) x
        |  WHERE rn IN (
        |    SELECT greatest(CAST(ceil(i / 10.0 * (SELECT CAST(n AS
        |      DOUBLE) FROM nr)) AS BIGINT), 1)
        |    FROM (SELECT unnest(range(1, 10)) AS i) ii)),
        |br AS (
        |  SELECT bin, CAST(sum(m) AS BIGINT) AS cr FROM (
        |    SELECT x.v, x.m, CAST(count(ed.edge) AS BIGINT) AS bin
        |    FROM (SELECT v, CAST(count(*) AS BIGINT) AS m FROM r
        |          GROUP BY 1) x
        |    LEFT JOIN ed ON x.v > ed.edge
        |    GROUP BY x.v, x.m) y GROUP BY 1),
        |bc AS (
        |  SELECT bin, CAST(sum(m) AS BIGINT) AS cc FROM (
        |    SELECT x.v, x.m, CAST(count(ed.edge) AS BIGINT) AS bin
        |    FROM (SELECT v, CAST(count(*) AS BIGINT) AS m FROM c
        |          GROUP BY 1) x
        |    LEFT JOIN ed ON x.v > ed.edge
        |    GROUP BY x.v, x.m) y GROUP BY 1),
        |j AS (
        |  SELECT coalesce(br.cr, 0) AS cr, coalesce(bc.cc, 0) AS cc
        |  FROM br FULL OUTER JOIN bc USING (bin)),
        |t AS (SELECT CAST(sum(cr) AS BIGINT) AS n_ref,
        |             CAST(sum(cc) AS BIGINT) AS n_cur
        |      FROM j),
        |tm AS (
        |  SELECT t.n_ref, t.n_cur,
        |         CASE WHEN cr > 0 AND cc > 0 THEN 1 ELSE 0 END AS u,
        |         CASE WHEN cr > 0 AND cc > 0 THEN
        |           CAST(round((CAST(cc AS DOUBLE)
        |               / CAST(t.n_cur AS DOUBLE)
        |               - CAST(cr AS DOUBLE) / CAST(t.n_ref AS DOUBLE))
        |             * ln((CAST(cc AS DOUBLE) / CAST(t.n_cur AS DOUBLE))
        |               / (CAST(cr AS DOUBLE)
        |                  / CAST(t.n_ref AS DOUBLE))), 12)
        |             AS DECIMAL(38,12))
        |         ELSE CAST(0 AS DECIMAL(38,12)) END AS tm
        |  FROM j, t)
        |SELECT n_ref, n_cur,
        |       CAST(sum(u) AS BIGINT) AS n_bins_used,
        |       CAST(count(*) - sum(u) AS BIGINT) AS n_bins_dropped,
        |       round(CAST(sum(tm) AS DOUBLE), 6) AS psi
        |FROM tm GROUP BY n_ref, n_cur""".stripMargin,

    // q300: same q296 user/stratum frame and cells, the MH r/s folds.
    "q300_mh_odds" ->
      """WITH u AS (
        |  SELECT user_id,
        |         min(CAST(floor(epoch(ts)) AS BIGINT) // 604800) AS wk,
        |         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
        |           END) AS cv
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1),
        |cells AS (
        |  SELECT wk, CAST(count(*) AS BIGINT) AS n,
        |         CAST(coalesce(sum(CASE WHEN user_id % 2 = 0 THEN 1
        |           END), 0) AS BIGINT) AS n1,
        |         CAST(coalesce(sum(CASE WHEN cv = 1 THEN 1 END), 0)
        |           AS BIGINT) AS m1,
        |         CAST(coalesce(sum(CASE WHEN user_id % 2 = 0
        |           AND cv = 1 THEN 1 END), 0) AS BIGINT) AS aa
        |  FROM u GROUP BY 1 HAVING count(*) >= 2),
        |t AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_strata,
        |         CAST(coalesce(sum(CAST(round(CAST(aa AS DOUBLE)
        |             * CAST(n - n1 - m1 + aa AS DOUBLE)
        |             / CAST(n AS DOUBLE), 12) AS DECIMAL(38,12))), 0)
        |           AS DOUBLE) AS r,
        |         CAST(coalesce(sum(CAST(round(CAST(n1 - aa AS DOUBLE)
        |             * CAST(m1 - aa AS DOUBLE)
        |             / CAST(n AS DOUBLE), 12) AS DECIMAL(38,12))), 0)
        |           AS DOUBLE) AS s
        |  FROM cells)
        |SELECT n_strata, round(r, 6) AS r_sum, round(s, 6) AS s_sum,
        |       CASE WHEN s > 0 THEN round(r / s, 6) END AS or_mh
        |FROM t""".stripMargin,

    // q295: same in-list-order norm folds (the q182 parity), same
    // 4-moment chain, the (g1²+1)/(g2+3) coefficient.
    "q295_norm_bimodality" ->
      """WITH e AS (
        |  SELECT sqrt(list_aggregate(list_transform(embedding,
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
        |           AS v
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |t AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CAST(round(v, 9) AS DECIMAL(38,9)))
        |           AS DECIMAL(38,9)) AS s1,
        |         CAST(sum(CAST(round(v * v, 9) AS DECIMAL(38,9)))
        |           AS DECIMAL(38,9)) AS s2,
        |         CAST(sum(CAST(round(v * v * v, 9) AS DECIMAL(38,9)))
        |           AS DECIMAL(38,9)) AS s3,
        |         CAST(sum(CAST(round(v * v * v * v, 9)
        |           AS DECIMAL(38,9))) AS DECIMAL(38,9)) AS s4
        |  FROM e),
        |m AS (
        |  SELECT n, CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
        |         CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS p2,
        |         CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS p3,
        |         CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS p4
        |  FROM t),
        |c AS (
        |  SELECT n, p2 - mu * mu AS m2,
        |         p3 - 3.0 * mu * p2 + 2.0 * mu * mu * mu AS m3,
        |         p4 - 4.0 * mu * p3 + 6.0 * mu * mu * p2
        |           - 3.0 * mu * mu * mu * mu AS m4
        |  FROM m),
        |g AS (
        |  SELECT n, m2, m3 / sqrt(m2 * m2 * m2) AS g1,
        |         m4 / (m2 * m2) - 3.0 AS g2
        |  FROM c)
        |SELECT n,
        |       CASE WHEN n >= 3 AND m2 > 0 THEN round(g1, 6) END
        |         AS skewness,
        |       CASE WHEN n >= 3 AND m2 > 0 THEN round(g2, 6) END
        |         AS ex_kurtosis,
        |       CASE WHEN n >= 3 AND m2 > 0 THEN
        |         round((g1 * g1 + 1.0) / (g2 + 3.0), 6) END
        |         AS bimodality
        |FROM g""".stripMargin,

    // q296: same per-user signup-week/conversion frame, same stratum
    // cells and 12-dp gap/variance folds, the closed-form χ²(1) p.
    "q296_cmh" ->
      """WITH u AS (
        |  SELECT user_id,
        |         min(CAST(floor(epoch(ts)) AS BIGINT) // 604800) AS wk,
        |         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
        |           END) AS cv
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1),
        |cells AS (
        |  SELECT wk, CAST(count(*) AS BIGINT) AS n,
        |         CAST(coalesce(sum(CASE WHEN user_id % 2 = 0 THEN 1
        |           END), 0) AS BIGINT) AS n1,
        |         CAST(coalesce(sum(CASE WHEN cv = 1 THEN 1 END), 0)
        |           AS BIGINT) AS m1,
        |         CAST(coalesce(sum(CASE WHEN user_id % 2 = 0
        |           AND cv = 1 THEN 1 END), 0) AS BIGINT) AS aa
        |  FROM u GROUP BY 1 HAVING count(*) >= 2),
        |t AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_strata,
        |         CAST(coalesce(sum(CAST(round(CAST(aa AS DOUBLE)
        |             - CAST(n1 AS DOUBLE) * CAST(m1 AS DOUBLE)
        |               / CAST(n AS DOUBLE), 12) AS DECIMAL(38,12))),
        |           0) AS DOUBLE) AS gap,
        |         CAST(coalesce(sum(CAST(round(CAST(n1 AS DOUBLE)
        |             * (CAST(n AS DOUBLE) - CAST(n1 AS DOUBLE))
        |             * CAST(m1 AS DOUBLE)
        |             * (CAST(n AS DOUBLE) - CAST(m1 AS DOUBLE))
        |             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |                * (CAST(n AS DOUBLE) - 1.0)), 12)
        |           AS DECIMAL(38,12))), 0) AS DOUBLE) AS vr
        |  FROM cells),
        |z AS (SELECT n_strata, gap, vr, gap * gap / vr AS chi2 FROM t),
        |px AS (
        |  SELECT n_strata, gap, vr, chi2,
        |         abs(sqrt(chi2)) * 0.7071067811865476 AS x,
        |         1.0 / (1.0 + 0.3275911
        |           * (abs(sqrt(chi2)) * 0.7071067811865476)) AS tt
        |  FROM z)
        |SELECT n_strata, round(gap, 6) AS o_minus_e,
        |       round(vr, 6) AS var_sum,
        |       CASE WHEN vr > 0 THEN round(chi2, 6) END AS chi2,
        |       CASE WHEN vr > 0 THEN
        |         round(((((1.061405429 * tt + -1.453152027) * tt
        |               + 1.421413741) * tt + -0.284496736) * tt
        |               + 0.254829592) * tt * exp(-(x * x)), 6)
        |       END AS p
        |FROM px""".stripMargin,

    // q297: same md5-ordered 50-doc sample, the q274 ROUGE chain over
    // the sample's pairs, one decimal mean of the scored F1s.
    "q297_self_similarity" ->
      """WITH smp AS (
        |  SELECT doc_id, text FROM (
        |    SELECT doc_id, text,
        |           md5('selfsim' || CAST(doc_id AS VARCHAR)) AS h
        |    FROM documents WHERE text IS NOT NULL) x
        |  ORDER BY h, doc_id LIMIT 50),
        |p AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |         a.text AS ta, b.text AS tb
        |  FROM smp a JOIN smp b ON a.doc_id < b.doc_id),
        |wa AS (SELECT a_id, b_id,
        |              list_filter(string_split_regex(lower(ta), '\s+'),
        |                x -> length(x) > 0) AS t FROM p),
        |wb AS (SELECT a_id, b_id,
        |              list_filter(string_split_regex(lower(tb), '\s+'),
        |                x -> length(x) > 0) AS t FROM p),
        |ga AS (
        |  SELECT a_id, b_id, t[i] || ' ' || t[i + 1] AS g,
        |         CAST(count(*) AS BIGINT) AS ca
        |  FROM (SELECT a_id, b_id, t,
        |          unnest(range(1, greatest(len(t), 1))) AS i FROM wa) x
        |  GROUP BY 1, 2, 3),
        |gb AS (
        |  SELECT a_id, b_id, t[i] || ' ' || t[i + 1] AS g,
        |         CAST(count(*) AS BIGINT) AS cb
        |  FROM (SELECT a_id, b_id, t,
        |          unnest(range(1, greatest(len(t), 1))) AS i FROM wb) x
        |  GROUP BY 1, 2, 3),
        |cl AS (
        |  SELECT a_id, b_id, CAST(sum(least(ca, cb)) AS BIGINT) AS clip
        |  FROM ga JOIN gb USING (a_id, b_id, g) GROUP BY 1, 2),
        |sz AS (
        |  SELECT wa.a_id, wa.b_id,
        |         CAST(greatest(len(wa.t) - 1, 0) AS BIGINT) AS n_a,
        |         CAST(greatest(len(wb.t) - 1, 0) AS BIGINT) AS n_b
        |  FROM wa JOIN wb USING (a_id, b_id)),
        |f AS (
        |  SELECT sz.a_id, sz.b_id, sz.n_a, sz.n_b,
        |         coalesce(cl.clip, 0) AS clip
        |  FROM sz LEFT JOIN cl USING (a_id, b_id)),
        |r AS (
        |  SELECT a_id, b_id, n_a, n_b, clip,
        |         CAST(clip AS DOUBLE) / CAST(n_a AS DOUBLE) AS rr,
        |         CAST(clip AS DOUBLE) / CAST(n_b AS DOUBLE) AS pp
        |  FROM f),
        |sc AS (
        |  SELECT CASE WHEN n_a > 0 AND n_b > 0 AND rr + pp > 0 THEN
        |           round(2.0 * pp * rr / (pp + rr), 6) END AS f1
        |  FROM r)
        |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |       CAST(count(f1) AS BIGINT) AS n_scored,
        |       round(CAST(sum(CAST(round(f1, 9) AS DECIMAL(38,9)))
        |           AS DOUBLE) / CAST(count(f1) AS DOUBLE), 6)
        |         AS mean_f1
        |FROM sc""".stripMargin,

    // q292: same (count desc, term) ranks, same ln/ln 12-dp moments,
    // the q147 closed-form chains.
    "q292_zipf_slope" -> zipfSlopeOracleSql,

    // q299: the index rollup folds to the identical term-count frame
    // — the direct-tokenization oracle verbatim.
    "q299_zipf_indexed" -> zipfSlopeOracleSql,


    // q293: same per-user gap moments (population σ), same B chain
    // and floor buckets.
    "q293_burstiness_param" ->
      """WITH g AS (
        |  SELECT user_id AS u,
        |         CAST(CAST(floor(epoch(ts)) AS BIGINT)
        |           - lag(CAST(floor(epoch(ts)) AS BIGINT), 1) OVER (
        |               PARTITION BY user_id
        |               ORDER BY CAST(floor(epoch(ts)) AS BIGINT),
        |                        event_id) AS DOUBLE) AS gp
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |pu AS (
        |  SELECT u, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CAST(round(gp, 9) AS DECIMAL(38,9)))
        |           AS DECIMAL(38,9)) AS s1,
        |         CAST(sum(CAST(round(gp * gp, 9) AS DECIMAL(38,9)))
        |           AS DECIMAL(38,9)) AS s2
        |  FROM g WHERE gp IS NOT NULL GROUP BY 1),
        |bb AS (
        |  SELECT u, n,
        |         CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
        |         sqrt(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
        |              - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
        |                * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
        |           AS sig
        |  FROM pu),
        |sel AS (
        |  SELECT (sig - mu) / (sig + mu) AS b
        |  FROM bb WHERE n >= 5 AND sig + mu > 0)
        |SELECT CAST(floor(b * 10.0) AS BIGINT) AS bucket,
        |       CAST(CAST(floor(b * 10.0) AS BIGINT) AS DOUBLE) / 10.0
        |         AS bucket_lo,
        |       CAST(count(*) AS BIGINT) AS n_users
        |FROM sel GROUP BY 1, 2 ORDER BY bucket""".stripMargin,

    // q294: same per-user parity means (decimal sums), same doubled
    // tie-averaged |d| ranks, same integer moments to one z.
    "q294_wilcoxon" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, CAST(value AS DOUBLE) AS v
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
        |ma AS (
        |  SELECT user_id,
        |         CAST(sum(CAST(round(v, 9) AS DECIMAL(38,9)))
        |           AS DOUBLE) / CAST(count(*) AS DOUBLE) AS m
        |  FROM ev WHERE event_id % 2 = 0 GROUP BY 1),
        |mb AS (
        |  SELECT user_id,
        |         CAST(sum(CAST(round(v, 9) AS DECIMAL(38,9)))
        |           AS DOUBLE) / CAST(count(*) AS DOUBLE) AS m
        |  FROM ev WHERE event_id % 2 <> 0 GROUP BY 1),
        |dd AS (
        |  SELECT ma.m - mb.m AS d
        |  FROM ma JOIN mb USING (user_id)
        |  WHERE ma.m - mb.m <> 0),
        |cells AS (
        |  SELECT abs(d) AS v, CAST(count(*) AS BIGINT) AS t,
        |         CAST(coalesce(sum(CASE WHEN d > 0 THEN 1 END), 0)
        |           AS BIGINT) AS tp
        |  FROM dd GROUP BY 1),
        |rk AS (
        |  SELECT v, t, tp,
        |         2 * coalesce(sum(t) OVER (ORDER BY v
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |           0) + t + 1 AS r2
        |  FROM cells),
        |m AS (
        |  SELECT CAST(coalesce(sum(t), 0) AS BIGINT) AS n,
        |         CAST(coalesce(sum(tp * r2), 0) AS BIGINT) AS w2,
        |         CAST(coalesce(sum(t * (t * t - 1)), 0) AS BIGINT)
        |           AS tie
        |  FROM rk),
        |k AS (
        |  SELECT n, w2,
        |         CAST(n AS DOUBLE) AS nd, CAST(w2 AS DOUBLE) AS w2d,
        |         CAST(tie AS DOUBLE) AS tied
        |  FROM m),
        |zz AS (
        |  SELECT n, w2, w2d,
        |         nd * (nd + 1.0) / 2.0 AS e2,
        |         (2.0 * nd * (nd + 1.0) * (2.0 * nd + 1.0) - tied)
        |           / 48.0 AS vr
        |  FROM k),
        |px AS (
        |  SELECT n, w2d, e2, vr,
        |         (w2d - e2) / (2.0 * sqrt(vr)) AS z
        |  FROM zz),
        |py AS (
        |  SELECT n, w2d, vr, z,
        |         abs(z) * 0.7071067811865476 AS x,
        |         1.0 / (1.0 + 0.3275911
        |           * (abs(z) * 0.7071067811865476)) AS t
        |  FROM px)
        |SELECT n AS n_pairs, round(w2d / 2.0, 6) AS w_plus,
        |       CASE WHEN n >= 2 AND vr > 0 THEN round(z, 6) END AS z,
        |       CASE WHEN n >= 2 AND vr > 0 THEN
        |         round(((((1.061405429 * t + -1.453152027) * t
        |               + 1.421413741) * t + -0.284496736) * t
        |               + 0.254829592) * t * exp(-(x * x)), 6)
        |       END AS p
        |FROM py""".stripMargin,

    // q289: same per-user conversion cells, same Haldane trigger, the
    // ln-OR and Wald chains with the z literal verbatim.
    "q289_odds_ratio" ->
      """WITH u AS (
        |  SELECT user_id, max(CASE WHEN event_type = 'purchase'
        |           THEN 1 ELSE 0 END) AS conv
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |ca AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_a,
        |         CAST(coalesce(sum(CASE WHEN conv = 1 THEN 1 END), 0)
        |           AS BIGINT) AS conv_a
        |  FROM u WHERE user_id % 2 = 0),
        |cb AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_b,
        |         CAST(coalesce(sum(CASE WHEN conv = 1 THEN 1 END), 0)
        |           AS BIGINT) AS conv_b
        |  FROM u WHERE user_id % 2 <> 0),
        |x AS (
        |  SELECT n_a, conv_a, n_b, conv_b,
        |         (conv_a = 0 OR conv_a = n_a OR conv_b = 0
        |          OR conv_b = n_b) AS z
        |  FROM ca, cb),
        |c AS (
        |  SELECT n_a, conv_a, n_b, conv_b,
        |         CASE WHEN z THEN CAST(conv_a AS DOUBLE) + 0.5
        |              ELSE CAST(conv_a AS DOUBLE) END AS aa,
        |         CASE WHEN z THEN CAST(n_a - conv_a AS DOUBLE) + 0.5
        |              ELSE CAST(n_a - conv_a AS DOUBLE) END AS bb,
        |         CASE WHEN z THEN CAST(conv_b AS DOUBLE) + 0.5
        |              ELSE CAST(conv_b AS DOUBLE) END AS cc,
        |         CASE WHEN z THEN CAST(n_b - conv_b AS DOUBLE) + 0.5
        |              ELSE CAST(n_b - conv_b AS DOUBLE) END AS dd
        |  FROM x),
        |g AS (
        |  SELECT n_a, conv_a, n_b, conv_b,
        |         ln(aa * dd / (bb * cc)) AS lor,
        |         sqrt(1.0 / aa + 1.0 / bb + 1.0 / cc + 1.0 / dd) AS se
        |  FROM c)
        |SELECT n_a, conv_a, n_b, conv_b,
        |       round(exp(lor), 6) AS odds_ratio,
        |       round(exp(lor - 1.959963984540054 * se), 6) AS ci_lo,
        |       round(exp(lor + 1.959963984540054 * se), 6) AS ci_hi
        |FROM g""".stripMargin,

    // q291: same decimal mean, same 3σ limit chains, exact flags.
    "q291_c_chart" ->
      """WITH s AS (
        |  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
        |         CAST(count(*) AS BIGINT) AS n_events
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
        |t AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CAST(round(CAST(n_events AS DOUBLE), 9)
        |           AS DECIMAL(38,12))) AS DECIMAL(38,12)) AS s1
        |  FROM s),
        |m AS (SELECT CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS cbar
        |      FROM t),
        |g AS (
        |  SELECT cbar, cbar + 3.0 * sqrt(cbar) AS ucl,
        |         greatest(cbar - 3.0 * sqrt(cbar), 0.0) AS lcl
        |  FROM m)
        |SELECT s.day, s.n_events, round(g.cbar, 6) AS center,
        |       round(g.ucl, 6) AS ucl, round(g.lcl, 6) AS lcl,
        |       (CAST(s.n_events AS DOUBLE) > g.ucl
        |        OR CAST(s.n_events AS DOUBLE) < g.lcl)
        |         AS out_of_control
        |FROM s, g ORDER BY day""".stripMargin,

    // q286: same parity samples, same distinct/overlap counts, the
    // Chapman chains verbatim.
    "q286_capture_recapture" ->
      """WITH sa AS (
        |  SELECT DISTINCT user_id AS k FROM events
        |  WHERE event_id % 2 = 0 AND user_id IS NOT NULL),
        |sb AS (
        |  SELECT DISTINCT user_id AS k FROM events
        |  WHERE event_id % 2 <> 0 AND user_id IS NOT NULL),
        |na AS (SELECT CAST(count(*) AS BIGINT) AS n_a FROM sa),
        |nb AS (SELECT CAST(count(*) AS BIGINT) AS n_b FROM sb),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n_both
        |      FROM sa JOIN sb USING (k)),
        |x AS (
        |  SELECT n_a, n_b, n_both,
        |         CAST(n_a AS DOUBLE) AS da, CAST(n_b AS DOUBLE) AS db,
        |         CAST(n_both AS DOUBLE) AS dm
        |  FROM na, nb, m)
        |SELECT n_a, n_b, n_both,
        |       round((da + 1.0) * (db + 1.0) / (dm + 1.0) - 1.0, 6)
        |         AS n_est,
        |       round(sqrt((da + 1.0) * (db + 1.0) * (da - dm)
        |               * (db - dm)
        |               / ((dm + 1.0) * (dm + 1.0) * (dm + 2.0))), 6)
        |         AS se
        |FROM x""".stripMargin,

    // q287: same token counts, same f1/f2 census, the corrected
    // Chao1 chain.
    "q287_chao1" -> chao1OracleSql,

    // q298: same frame through the postings rollup.
    "q298_chao1_indexed" -> chao1OracleSql,


    // q288: same md5 folds (no-separator salt prefix, 4 hex chars
    // mod k), same decimal fold sums, leave-one-out by subtraction.
    "q288_jackknife" ->
      """WITH f AS (
        |  SELECT CAST(('0x' || substr(md5('jk42'
        |             || CAST(event_id AS VARCHAR)), 1, 4)) AS UBIGINT)
        |           % 10 AS fo,
        |         CAST(value AS DOUBLE) AS v
        |  FROM events WHERE value IS NOT NULL),
        |folds AS (
        |  SELECT fo, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CAST(round(v, 9) AS DECIMAL(38,9)))
        |           AS DECIMAL(38,9)) AS s
        |  FROM f GROUP BY 1),
        |tot AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS n_rows,
        |         CAST(sum(s) AS DECIMAL(38,9)) AS st,
        |         CAST(count(*) AS BIGINT) AS kf
        |  FROM folds),
        |th AS (
        |  SELECT tot.n_rows, tot.st, tot.kf,
        |         CAST(round((CAST(st AS DOUBLE) - CAST(s AS DOUBLE))
        |             / CAST(n_rows - n AS DOUBLE), 12)
        |           AS DECIMAL(38,12)) AS th
        |  FROM folds, tot WHERE n > 0 AND n < n_rows),
        |tb AS (
        |  SELECT n_rows, st, kf, CAST(count(*) AS BIGINT) AS kused,
        |         CAST(sum(th) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |           AS tbar
        |  FROM th GROUP BY 1, 2, 3),
        |dev AS (
        |  SELECT th.n_rows, th.st, th.kf, tb.kused,
        |         CAST(sum(CAST(round((CAST(th.th AS DOUBLE) - tb.tbar)
        |             * (CAST(th.th AS DOUBLE) - tb.tbar), 12)
        |           AS DECIMAL(38,12))) AS DOUBLE) AS ss
        |  FROM th JOIN tb ON tb.n_rows = th.n_rows
        |  GROUP BY 1, 2, 3, 4)
        |SELECT n_rows, kf AS k_folds,
        |       round(CAST(st AS DOUBLE) / CAST(n_rows AS DOUBLE), 6)
        |         AS mean,
        |       CASE WHEN kused = kf AND kf = 10 THEN
        |         round(sqrt((CAST(kused AS DOUBLE) - 1.0)
        |               / CAST(kused AS DOUBLE) * ss), 6) END
        |         AS se_jack
        |FROM dev""".stripMargin,

    // q283: same row-order lag errors, same decimal MAE folds, one
    // ratio.
    "q283_seasonal_strength" ->
      """WITH s AS (
        |  SELECT CAST(ts AS DATE) AS o, CAST(count(*) AS DOUBLE) AS v
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
        |e AS (
        |  SELECT abs(v - lag(v, 1) OVER (ORDER BY o)) AS e1,
        |         abs(v - lag(v, 7) OVER (ORDER BY o)) AS e7
        |  FROM s),
        |a AS (
        |  SELECT CAST(count(e1) AS BIGINT) AS n1,
        |         CAST(sum(CAST(round(e1, 9) AS DECIMAL(38,9)))
        |           AS DECIMAL(38,9)) AS s1,
        |         CAST(count(e7) AS BIGINT) AS n7,
        |         CAST(sum(CAST(round(e7, 9) AS DECIMAL(38,9)))
        |           AS DECIMAL(38,9)) AS s7,
        |         CAST(count(*) AS BIGINT) AS n_days
        |  FROM e),
        |m AS (
        |  SELECT n_days, n1, n7,
        |         CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1,
        |         CAST(s7 AS DOUBLE) / CAST(n7 AS DOUBLE) AS m7
        |  FROM a)
        |SELECT n_days,
        |       CASE WHEN n1 > 0 THEN round(m1, 6) END AS mae_1,
        |       CASE WHEN n7 > 0 THEN round(m7, 6) END AS mae_7,
        |       CASE WHEN n1 > 0 AND n7 > 0 AND m1 > 0 THEN
        |         round(m7 / m1, 6) END AS ratio
        |FROM m""".stripMargin,

    // q284: same monthly block maxima, same decimal moments, the
    // same √6/π and γ literals, the same return-level chain.
    "q284_gumbel_maxima" ->
      """WITH dd AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |         CAST(count(*) AS BIGINT) AS n_events
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
        |bm AS (
        |  SELECT strftime(day, '%Y-%m') AS month,
        |         CAST(max(n_events) AS DOUBLE) AS v
        |  FROM dd GROUP BY 1),
        |a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CAST(round(v, 9) AS DECIMAL(38,9)))
        |           AS DECIMAL(38,9)) AS s1,
        |         CAST(sum(CAST(round(v * v, 9) AS DECIMAL(38,9)))
        |           AS DECIMAL(38,9)) AS s2
        |  FROM bm),
        |m AS (
        |  SELECT n, CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu0,
        |         sqrt((CAST(s2 AS DOUBLE)
        |               - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
        |                 / CAST(n AS DOUBLE))
        |              / (CAST(n AS DOUBLE) - 1.0)) AS sd
        |  FROM a),
        |g AS (
        |  SELECT n, mu0, sd, sd * 0.7796968012336761 AS beta
        |  FROM m),
        |h AS (
        |  SELECT n, mu0, sd, beta,
        |         mu0 - 0.5772156649015329 * beta AS mu
        |  FROM g)
        |SELECT n AS n_blocks,
        |       CASE WHEN n >= 1 THEN round(mu0, 6) END AS mean_max,
        |       CASE WHEN n >= 2 THEN round(sd, 6) END AS sd_max,
        |       CASE WHEN n >= 2 AND sd > 0 THEN round(beta, 6) END
        |         AS beta,
        |       CASE WHEN n >= 2 AND sd > 0 THEN round(mu, 6) END AS mu,
        |       CASE WHEN n >= 2 AND sd > 0 THEN
        |         round(mu - beta * ln(-ln(1.0 - 1.0 / 12.0)), 6) END
        |         AS level
        |FROM h""".stripMargin,

    // q285: same epoch-week buckets, same p·ln p 12-dp folds, one
    // ln2 division per week.
    "q285_mix_entropy" -> mixEntropyOracleSql,

    // q303: the cell merge folds to the identical frame — the batch
    // oracle verbatim.
    "q303_mix_merge" -> mixEntropyOracleSql,


    // q282: same bigram universe and marginals, same probabilities-
    // first cell chains, zero-observation cells contribute 0.
    "q282_llr_bigrams" ->
      """WITH toks AS (
        |  SELECT list_filter(string_split_regex(lower(text), '\s+'),
        |           x -> length(x) > 0) AS tk
        |  FROM documents WHERE text IS NOT NULL),
        |bi AS (
        |  SELECT tk[i] AS x, tk[i + 1] AS y
        |  FROM (SELECT tk, unnest(range(1, len(tk))) AS i
        |        FROM toks WHERE len(tk) >= 2)),
        |bc AS (SELECT x, y, CAST(count(*) AS BIGINT) AS n_xy
        |       FROM bi GROUP BY 1, 2),
        |rx AS (SELECT x, CAST(sum(n_xy) AS BIGINT) AS rx
        |       FROM bc GROUP BY 1),
        |cy AS (SELECT y, CAST(sum(n_xy) AS BIGINT) AS cy
        |       FROM bc GROUP BY 1),
        |tt AS (SELECT CAST(coalesce(sum(n_xy), 0) AS BIGINT) AS n
        |       FROM bc),
        |sel AS (
        |  SELECT b.x, b.y, b.n_xy, rx.rx, cy.cy, tt.n,
        |         CAST(tt.n AS DOUBLE) AS nd
        |  FROM bc b JOIN rx ON rx.x = b.x JOIN cy ON cy.y = b.y, tt
        |  WHERE b.n_xy >= 5),
        |g AS (
        |  SELECT x, y, n_xy,
        |         round(2.0 * (
        |           (CASE WHEN n_xy > 0 THEN CAST(n_xy AS DOUBLE)
        |              * ln((CAST(n_xy AS DOUBLE) / nd)
        |                / ((CAST(rx AS DOUBLE) / nd)
        |                 * (CAST(cy AS DOUBLE) / nd))) ELSE 0.0 END)
        |         + (CASE WHEN rx - n_xy > 0 THEN
        |              CAST(rx - n_xy AS DOUBLE)
        |              * ln((CAST(rx - n_xy AS DOUBLE) / nd)
        |                / ((CAST(rx AS DOUBLE) / nd)
        |                 * (CAST(n - cy AS DOUBLE) / nd))) ELSE 0.0 END)
        |         + (CASE WHEN cy - n_xy > 0 THEN
        |              CAST(cy - n_xy AS DOUBLE)
        |              * ln((CAST(cy - n_xy AS DOUBLE) / nd)
        |                / ((CAST(n - rx AS DOUBLE) / nd)
        |                 * (CAST(cy AS DOUBLE) / nd))) ELSE 0.0 END)
        |         + (CASE WHEN n - rx - cy + n_xy > 0 THEN
        |              CAST(n - rx - cy + n_xy AS DOUBLE)
        |              * ln((CAST(n - rx - cy + n_xy AS DOUBLE) / nd)
        |                / ((CAST(n - rx AS DOUBLE) / nd)
        |                 * (CAST(n - cy AS DOUBLE) / nd))) ELSE 0.0 END)
        |         ), 6) AS llr
        |  FROM sel)
        |SELECT x, y, n_xy, llr FROM g
        |ORDER BY llr DESC, x, y LIMIT 50""".stripMargin,

    // q281: same decimal centroid sums, same 12-dp squared-difference
    // folds, same sqrt/ratio chains (subscript base differs but is
    // engine-internal join plumbing only).
    "q281_davies_bouldin" ->
      """WITH lng AS (
        |  SELECT label AS l, vec_id AS id,
        |         CAST(generate_subscripts(embedding, 1) AS INTEGER)
        |           AS p,
        |         CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings
        |  WHERE embedding IS NOT NULL AND label IS NOT NULL),
        |cent AS (
        |  SELECT l, p,
        |         CAST(sum(CAST(round(x, 9) AS DECIMAL(38,9)))
        |           AS DOUBLE) / CAST(count(*) AS DOUBLE) AS c
        |  FROM lng GROUP BY 1, 2),
        |rd AS (
        |  SELECT lng.l, lng.id,
        |         sqrt(CAST(sum(CAST(round((lng.x - cent.c)
        |             * (lng.x - cent.c), 12) AS DECIMAL(38,12)))
        |           AS DOUBLE)) AS d
        |  FROM lng JOIN cent ON cent.l = lng.l AND cent.p = lng.p
        |  GROUP BY 1, 2),
        |sc AS (
        |  SELECT l, CAST(count(*) AS BIGINT) AS n_vecs,
        |         CAST(sum(CAST(round(d, 12) AS DECIMAL(38,12)))
        |           AS DOUBLE) / CAST(count(*) AS DOUBLE) AS scv
        |  FROM rd GROUP BY 1),
        |sep AS (
        |  SELECT a.l AS l, b.l AS l2,
        |         sqrt(CAST(sum(CAST(round((a.c - b.c) * (a.c - b.c),
        |             12) AS DECIMAL(38,12))) AS DOUBLE)) AS m
        |  FROM cent a JOIN cent b ON a.p = b.p AND a.l <> b.l
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT sep.l, max((s1.scv + s2.scv) / nullif(sep.m, 0)) AS r
        |  FROM sep JOIN sc s1 ON s1.l = sep.l
        |           JOIN sc s2 ON s2.l = sep.l2
        |  GROUP BY 1)
        |SELECT sc.l AS label, sc.n_vecs, round(sc.scv, 6) AS scatter,
        |       round(r.r, 6) AS r_max
        |FROM sc LEFT JOIN r ON r.l = sc.l
        |ORDER BY label""".stripMargin,

    // q273: same canonicalized labeled edges, same integer degree
    // sums, Newman's Q in the same two divisions.
    "q273_modularity" ->
      """WITH e0 AS (
        |  SELECT DISTINCT
        |         least(o.o_custkey * 2, l.l_suppkey * 2 + 1) AS u,
        |         greatest(o.o_custkey * 2, l.l_suppkey * 2 + 1) AS v
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  WHERE o.o_custkey IS NOT NULL AND l.l_suppkey IS NOT NULL),
        |lab AS (
        |  SELECT node, min(nat) AS c FROM (
        |    SELECT c_custkey * 2 AS node, c_nationkey AS nat
        |    FROM customer
        |    UNION ALL
        |    SELECT s_suppkey * 2 + 1, s_nationkey FROM supplier) b
        |  WHERE node IS NOT NULL AND nat IS NOT NULL GROUP BY 1),
        |el AS (
        |  SELECT e0.u, e0.v, lu.c AS cu, lv.c AS cv
        |  FROM e0 JOIN lab lu ON lu.node = e0.u
        |          JOIN lab lv ON lv.node = e0.v),
        |tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS m,
        |         CAST(coalesce(sum(CASE WHEN cu = cv THEN 1 END), 0)
        |           AS BIGINT) AS intra
        |  FROM el),
        |deg AS (
        |  SELECT node, c, CAST(count(*) AS BIGINT) AS dg FROM (
        |    SELECT u AS node, cu AS c FROM el
        |    UNION ALL SELECT v, cv FROM el) x
        |  GROUP BY 1, 2),
        |comm AS (
        |  SELECT c, CAST(sum(dg) AS BIGINT) AS dc,
        |         CAST(count(*) AS BIGINT) AS nodes
        |  FROM deg GROUP BY 1),
        |agg AS (
        |  SELECT CAST(coalesce(sum(nodes), 0) AS BIGINT) AS n_nodes,
        |         CAST(count(*) AS BIGINT) AS n_communities,
        |         CAST(coalesce(sum(dc * dc), 0) AS BIGINT) AS s
        |  FROM comm)
        |SELECT n_nodes, m AS n_edges, n_communities,
        |       intra AS intra_edges,
        |       CASE WHEN m > 0 THEN
        |         round(CAST(intra AS DOUBLE) / CAST(m AS DOUBLE)
        |               - CAST(s AS DOUBLE)
        |                 / (4.0 * CAST(m AS DOUBLE) * CAST(m AS DOUBLE)),
        |           6) END AS q
        |FROM agg, tot""".stripMargin,

    // q272: same six decimal moment sums, same closed-form slope/SSE,
    // same per-point leverage/Cook chains in declared double order.
    "q272_influence" ->
      """WITH dd AS (
        |  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS DOUBLE) AS y
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
        |s AS (
        |  SELECT CAST(day AS VARCHAR) AS o,
        |         CAST(floor(epoch(CAST(day AS TIMESTAMP)) / 86400.0)
        |           AS DOUBLE) AS x, y
        |  FROM dd),
        |t AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CAST(round(x, 12) AS DECIMAL(38,12)))
        |           AS DECIMAL(38,12)) AS sx,
        |         CAST(sum(CAST(round(y, 12) AS DECIMAL(38,12)))
        |           AS DECIMAL(38,12)) AS sy,
        |         CAST(sum(CAST(round(x * x, 12) AS DECIMAL(38,12)))
        |           AS DECIMAL(38,12)) AS sxx,
        |         CAST(sum(CAST(round(y * y, 12) AS DECIMAL(38,12)))
        |           AS DECIMAL(38,12)) AS syy,
        |         CAST(sum(CAST(round(x * y, 12) AS DECIMAL(38,12)))
        |           AS DECIMAL(38,12)) AS sxy
        |  FROM s),
        |k AS (
        |  SELECT n, CAST(n AS DOUBLE) AS nd,
        |         CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
        |         CAST(sxx AS DOUBLE) AS sxxd,
        |         CAST(syy AS DOUBLE) AS syyd,
        |         CAST(sxy AS DOUBLE) AS sxyd
        |  FROM t),
        |c AS (
        |  SELECT n, nd, sxd, syd,
        |         (nd * sxyd - sxd * syd)
        |           / nullif(nd * sxxd - sxd * sxd, 0) AS slope,
        |         sxd / nd AS xbar,
        |         sxxd - sxd * sxd / nd AS sxxc,
        |         syyd - syd * syd / nd AS syyc,
        |         sxyd - sxd * syd / nd AS sxyc
        |  FROM k),
        |g AS (
        |  SELECT n, nd, xbar, sxxc, slope,
        |         (syd - slope * sxd) / nd AS icept,
        |         (syyc - slope * sxyc) / (nd - 2.0) AS s2
        |  FROM c),
        |pp AS (
        |  SELECT s.o, s.y, g.n, g.s2,
        |         g.icept + g.slope * s.x AS fitted,
        |         s.y - (g.icept + g.slope * s.x) AS resid,
        |         1.0 / g.nd + (s.x - g.xbar) * (s.x - g.xbar)
        |           / nullif(g.sxxc, 0) AS h
        |  FROM s, g)
        |SELECT o AS at, y, round(fitted, 6) AS fitted,
        |       round(resid, 6) AS residual,
        |       round(h, 6) AS leverage,
        |       CASE WHEN n >= 3 AND s2 > 0 AND h < 1 THEN
        |         round(resid * resid * h
        |               / (2.0 * s2 * (1.0 - h) * (1.0 - h)), 6)
        |       END AS cooks_d
        |FROM pp ORDER BY at""".stripMargin,

    // q271: same rank-exact group medians over (value, id), same z
    // transform, then verbatim the q231 sum-of-squares chain.
    "q271_brown_forsythe" ->
      """WITH b AS (
        |  SELECT event_type AS g, CAST(value AS DOUBLE) AS v,
        |         event_id AS id
        |  FROM events
        |  WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |r AS (
        |  SELECT g, v,
        |         CAST(row_number() OVER (PARTITION BY g ORDER BY v, id)
        |           AS BIGINT) AS rn,
        |         CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n
        |  FROM b),
        |med AS (
        |  SELECT g, max(CASE WHEN rn = greatest(
        |           CAST(ceil(0.5 * CAST(n AS DOUBLE)) AS BIGINT), 1)
        |         THEN v END) AS med
        |  FROM r GROUP BY 1),
        |z AS (SELECT b.g, abs(b.v - med.med) AS v
        |      FROM b JOIN med USING (g)),
        |cells AS (
        |  SELECT g, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CAST(round(v, 9) AS DECIMAL(38,9)))
        |           AS DECIMAL(38,9)) AS s1,
        |         CAST(sum(CAST(round(v * v, 9) AS DECIMAL(38,9)))
        |           AS DECIMAL(38,9)) AS s2
        |  FROM z GROUP BY 1),
        |f AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k,
        |         CAST(coalesce(sum(n), 0) AS BIGINT) AS nn,
        |         sum(s1) AS ts1, sum(s2) AS ts2,
        |         CAST(sum(CAST(round(CAST(s1 AS DOUBLE)
        |             * CAST(s1 AS DOUBLE)
        |             / CAST(n AS DOUBLE), 12) AS DECIMAL(38,12)))
        |           AS DECIMAL(38,12)) AS bsum
        |  FROM cells),
        |x AS (
        |  SELECT k, nn,
        |         CAST(bsum AS DOUBLE)
        |           - CAST(ts1 AS DOUBLE) * CAST(ts1 AS DOUBLE)
        |             / CAST(nn AS DOUBLE) AS ssb,
        |         CAST(ts2 AS DOUBLE) - CAST(bsum AS DOUBLE) AS ssw
        |  FROM f)
        |SELECT k AS n_groups, nn AS n_rows,
        |       round(ssb, 6) AS ss_between, round(ssw, 6) AS ss_within,
        |       CASE WHEN k >= 2 AND nn > k THEN
        |         round((ssb / (k - 1))
        |               / nullif(ssw / (nn - k), 0), 6) END AS f
        |FROM x""".stripMargin,

    // q268: same per-class distinct-sensitive counts (count DISTINCT
    // drops nulls in both engines), same bounded histogram.
    "q268_l_diversity" ->
      """WITH d AS (
        |  SELECT c_nationkey, c_mktsegment,
        |         CAST(count(DISTINCT CAST(floor(
        |           CAST(c_acctbal AS DOUBLE) / 1000.0) AS BIGINT))
        |           AS BIGINT) AS diversity,
        |         CAST(count(*) AS BIGINT) AS class_size
        |  FROM customer GROUP BY 1, 2)
        |SELECT diversity, CAST(count(*) AS BIGINT) AS n_classes,
        |       CAST(sum(class_size) AS BIGINT) AS n_rows
        |FROM d GROUP BY 1 ORDER BY diversity""".stripMargin,

    // q227: same q202 token definition, exact discordant counts, the
    // q189 Abramowitz-Stegun p chain on the unrounded z.
    "q227_mcnemar" ->
      """WITH r AS (
        |  SELECT length(text) >= 200 AS a,
        |         length(text) <= 8 * len(list_filter(
        |           string_split_regex(lower(text), '\s+'),
        |           t -> length(t) > 0)) AS b
        |  FROM documents WHERE text IS NOT NULL),
        |ag AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_items,
        |         CAST(coalesce(sum(CASE WHEN a AND NOT b THEN 1
        |           ELSE 0 END), 0) AS BIGINT) AS b,
        |         CAST(coalesce(sum(CASE WHEN NOT a AND b THEN 1
        |           ELSE 0 END), 0) AS BIGINT) AS c
        |  FROM r),
        |px AS (
        |  SELECT n_items, b, c,
        |         CAST(b - c AS DOUBLE) AS gap,
        |         abs(CAST(b - c AS DOUBLE) / sqrt(CAST(b + c AS DOUBLE)))
        |           * 0.7071067811865476 AS x,
        |         1.0 / (1.0 + 0.3275911
        |           * (abs(CAST(b - c AS DOUBLE)
        |                / sqrt(CAST(b + c AS DOUBLE)))
        |              * 0.7071067811865476)) AS t
        |  FROM ag)
        |SELECT n_items, b, c,
        |       CASE WHEN b + c > 0 THEN
        |         round(gap * gap / CAST(b + c AS DOUBLE), 6) END AS chi2,
        |       CASE WHEN b + c > 0 THEN
        |         round(((((1.061405429 * t + -1.453152027) * t
        |               + 1.421413741) * t + -0.284496736) * t
        |               + 0.254829592) * t * exp(-(x * x)), 6)
        |       END AS p
        |FROM px""".stripMargin,

    // q228: same ascending (count, group) rank as q179, exact
    // cumulative longs, two share divisions.
    "q228_lorenz" ->
      """WITH counts AS (
        |  SELECT source AS grp, count(*) AS c FROM documents
        |  WHERE source IS NOT NULL GROUP BY 1),
        |tot AS (SELECT sum(c) AS n, count(*) AS g FROM counts),
        |rk AS (
        |  SELECT grp, c,
        |         CAST(row_number() OVER (ORDER BY c, grp) AS BIGINT)
        |           AS rank,
        |         sum(c) OVER (ORDER BY c, grp
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS cum
        |  FROM counts)
        |SELECT rank, grp, c,
        |       round(CAST(rank AS DOUBLE) / CAST(g AS DOUBLE), 6)
        |         AS cum_group_share,
        |       round(CAST(cum AS DOUBLE) / CAST(n AS DOUBLE), 6)
        |         AS cum_row_share
        |FROM rk, tot ORDER BY rank""".stripMargin,

    // q226: same span/horizon replay as q180, same 12-dp decimal term
    // folds, same Abramowitz–Stegun p chain as q189 — the z feeding p
    // is the UNROUNDED (o1−e1)/√v, both engines casting the identical
    // decimal sums to double.
    "q226_log_rank" ->
      """WITH sp AS (
        |  SELECT user_id AS u,
        |         min(CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 3600)
        |           AS BIGINT)) AS fb,
        |         max(CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 3600)
        |           AS BIGINT)) AS lb
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL GROUP BY 1),
        |mx AS (SELECT max(lb) AS maxd FROM sp),
        |pl AS (
        |  SELECT CASE WHEN u % 2 = 0 THEN 1 ELSE 2 END AS g,
        |         lb - fb AS t,
        |         CASE WHEN lb <= maxd - 12 THEN 1 ELSE 0 END AS ch
        |  FROM sp, mx),
        |gl AS (
        |  SELECT t,
        |         sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS e1s,
        |         sum(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS e2s,
        |         sum(CASE WHEN g = 1 THEN ch ELSE 0 END) AS d1,
        |         sum(CASE WHEN g = 2 THEN ch ELSE 0 END) AS d2
        |  FROM pl GROUP BY 1),
        |w AS (
        |  SELECT d1, d1 + d2 AS d,
        |         sum(e1s) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW
        |           AND UNBOUNDED FOLLOWING) AS n1,
        |         sum(e2s) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW
        |           AND UNBOUNDED FOLLOWING) AS n2
        |  FROM gl),
        |tm AS (
        |  SELECT d1,
        |         CAST(round(CAST(d AS DOUBLE) * CAST(n1 AS DOUBLE)
        |           / CAST(n1 + n2 AS DOUBLE), 12) AS DECIMAL(38,12))
        |           AS e1,
        |         CAST(CASE WHEN n1 + n2 > 1 THEN
        |             round(CAST(d AS DOUBLE)
        |               * (CAST(n1 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
        |               * (CAST(n2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
        |               * CAST(n1 + n2 - d AS DOUBLE)
        |               / CAST(n1 + n2 - 1 AS DOUBLE), 12)
        |           ELSE 0 END AS DECIMAL(38,12)) AS v
        |  FROM w WHERE d > 0),
        |ag AS (
        |  SELECT CAST(coalesce(sum(d1), 0) AS BIGINT) AS o1,
        |         coalesce(sum(e1), 0) AS e1s,
        |         coalesce(sum(v), 0) AS vs
        |  FROM tm),
        |nn AS (
        |  SELECT CAST(sum(CASE WHEN u % 2 = 0 THEN 1 ELSE 0 END)
        |           AS BIGINT) AS n_a,
        |         CAST(sum(CASE WHEN u % 2 <> 0 THEN 1 ELSE 0 END)
        |           AS BIGINT) AS n_b
        |  FROM sp),
        |zz AS (
        |  SELECT n_a, n_b, o1,
        |         CAST(e1s AS DOUBLE) AS e1d, CAST(vs AS DOUBLE) AS vd
        |  FROM ag, nn),
        |px AS (
        |  SELECT n_a, n_b, o1, e1d, vd,
        |         abs((o1 - e1d) / sqrt(vd)) * 0.7071067811865476 AS x,
        |         1.0 / (1.0 + 0.3275911
        |           * (abs((o1 - e1d) / sqrt(vd))
        |              * 0.7071067811865476)) AS t
        |  FROM zz)
        |SELECT n_a, n_b, o1, round(e1d, 6) AS e1,
        |       CASE WHEN vd > 0 THEN
        |         round((o1 - e1d) * (o1 - e1d) / vd, 6) END AS chi2,
        |       CASE WHEN vd > 0 THEN
        |         round(((((1.061405429 * t + -1.453152027) * t
        |               + 1.421413741) * t + -0.284496736) * t
        |               + 0.254829592) * t * exp(-(x * x)), 6)
        |       END AS p
        |FROM px""".stripMargin,

    // q224: the same two unnormalized rounds as exact integer CTEs —
    // h1 = out-degree, a1 = E'h1, h2 = E a1, a2 = E'h2 — HUGEINT sums,
    // one share division at the end.
    "q224_hits" ->
      """WITH e AS (
        |  SELECT DISTINCT CAST(o_custkey AS BIGINT) AS src,
        |                  CAST(l_partkey AS BIGINT) AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  WHERE o_custkey IS NOT NULL AND l_partkey IS NOT NULL),
        |h1 AS (SELECT src, CAST(count(*) AS HUGEINT) AS h
        |       FROM e GROUP BY 1),
        |a1 AS (SELECT dst, sum(h) AS a FROM e JOIN h1 USING (src)
        |       GROUP BY 1),
        |h2 AS (SELECT src, sum(a) AS h FROM e JOIN a1 USING (dst)
        |       GROUP BY 1),
        |a2 AS (SELECT dst, sum(h) AS a FROM e JOIN h2 USING (src)
        |       GROUP BY 1),
        |tot AS (SELECT sum(a) AS s FROM a2)
        |SELECT dst AS node, CAST(a AS BIGINT) AS score,
        |       round(CAST(a AS DOUBLE) / CAST(s AS DOUBLE), 6) AS share
        |FROM a2, tot
        |ORDER BY score DESC, node LIMIT 10""".stripMargin,

    // q225: q176's exact per-user conversion arms, the same pinned
    // 2.801585 constant, the same one-√ chains.
    "q225_ab_power" ->
      """WITH u AS (
        |  SELECT user_id,
        |         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
        |             END) AS conv
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |ca AS (SELECT count(*) AS n1, sum(conv) AS s1 FROM u
        |       WHERE user_id % 2 = 0),
        |cb AS (SELECT count(*) AS n2, sum(conv) AS s2 FROM u
        |       WHERE user_id % 2 <> 0),
        |x AS (SELECT n1, n2,
        |             CAST(s1 + s2 AS DOUBLE)
        |               / CAST(n1 + n2 AS DOUBLE) AS pp
        |      FROM ca, cb)
        |SELECT n1, n2, round(pp, 6) AS p_pool,
        |       round(2.801585 * sqrt(pp * (1 - pp)
        |             * (1.0 / n1 + 1.0 / n2)), 6) AS mde_abs,
        |       CASE WHEN pp > 0 THEN
        |         CAST(ceil(2.801585 * 2.801585 * 2.0 * pp * (1 - pp)
        |              / (0.1 * pp * 0.1 * pp)) AS BIGINT)
        |       END AS n_per_arm
        |FROM x""".stripMargin,

    // q223: same rating panel (q202's token definition), same lcm-
    // scaled integer chain (L = 2 for k = 3; DuckDB `//` is the exact
    // integer division the (m-1) | L property needs), same three
    // final divisions.
    "q223_krippendorff" ->
      """WITH t AS (
        |  SELECT length(text) AS lc, n_chars,
        |         len(list_filter(string_split_regex(lower(text),
        |           '\s+'), t -> length(t) > 0)) AS ntok
        |  FROM documents WHERE text IS NOT NULL),
        |r AS (
        |  SELECT CAST(lc >= 200 AS BIGINT) AS r0,
        |         CASE WHEN n_chars >= 100
        |              THEN CAST(ntok >= 40 AS BIGINT) END AS r1,
        |         CAST(lc <= 8 * ntok AS BIGINT) AS r2
        |  FROM t),
        |i AS (
        |  SELECT (CASE WHEN r0 IS NULL THEN 0 ELSE 1 END
        |        + CASE WHEN r1 IS NULL THEN 0 ELSE 1 END
        |        + CASE WHEN r2 IS NULL THEN 0 ELSE 1 END) AS m,
        |         coalesce(r0, 0) + coalesce(r1, 0) + coalesce(r2, 0)
        |           AS n1
        |  FROM r),
        |g AS (
        |  SELECT m, count(*) AS items, sum(n1) AS s1,
        |         sum(n1 * (m - n1)) AS tt
        |  FROM i WHERE m >= 2 GROUP BY 1),
        |f AS (
        |  SELECT CAST(coalesce(sum(items), 0) AS HUGEINT) AS ni,
        |         CAST(coalesce(sum(items * m), 0) AS HUGEINT) AS n,
        |         CAST(coalesce(sum(s1), 0) AS HUGEINT) AS p,
        |         CAST(coalesce(sum(2 * tt * (2 // (m - 1))), 0)
        |           AS HUGEINT) AS dos
        |  FROM g)
        |SELECT CAST(ni AS BIGINT) AS n_items,
        |       CAST(n AS BIGINT) AS n_ratings,
        |       round(CAST(dos AS DOUBLE)
        |             / nullif(CAST(2 * n AS DOUBLE), 0), 6) AS d_o,
        |       round(CAST(2 * p * (n - p) AS DOUBLE)
        |             / nullif(CAST(n * (n - 1) AS DOUBLE), 0), 6) AS d_e,
        |       round(CAST(4 * p * (n - p) - (n - 1) * dos AS DOUBLE)
        |             / nullif(CAST(4 * p * (n - p) AS DOUBLE), 0), 6)
        |         AS alpha
        |FROM f""".stripMargin,

    // q220: q131's binning replayed verbatim, then PAV via the same
    // minimax identity — prefix sums over the bin order, all (i, j)
    // block averages, min over j ≥ k then max over i ≤ k. Block
    // averages are one double division of exact longs; min/max only
    // select among identical doubles, so parity is bit-exact.
    "q220_isotonic" ->
      """WITH base AS (
        |  SELECT CAST(least(greatest(round(
        |             (CAST(embedding[1] AS DOUBLE) + 1) / 2, 6), 0), 1)
        |           AS DECIMAL(10,6)) AS c,
        |         CASE WHEN label = 0 THEN 1 ELSE 0 END AS pos
        |  FROM embeddings
        |  WHERE embedding IS NOT NULL AND label IS NOT NULL
        |    AND embedding[1] IS NOT NULL AND vec_id < 1000),
        |g AS (
        |  SELECT least(CAST(floor(c * 10) AS BIGINT), 9) AS bin,
        |         count(*) AS n, CAST(sum(c) AS DECIMAL(28,6)) AS sc,
        |         sum(pos) AS np
        |  FROM base GROUP BY 1),
        |pre AS (
        |  SELECT bin, n, sc, np,
        |         row_number() OVER (ORDER BY bin) AS k,
        |         sum(n)  OVER (ORDER BY bin) AS cn,
        |         sum(np) OVER (ORDER BY bin) AS cp
        |  FROM g),
        |blocks AS (
        |  SELECT lo.k AS i, hi.k AS j,
        |         CAST(hi.cp - (lo.cp - lo.np) AS DOUBLE)
        |           / CAST(hi.cn - (lo.cn - lo.n) AS DOUBLE) AS avg
        |  FROM pre lo JOIN pre hi ON lo.k <= hi.k),
        |fit AS (
        |  SELECT k, max(m) AS iso FROM (
        |    SELECT ks.k, b.i, min(b.avg) AS m
        |    FROM blocks b JOIN pre ks ON b.i <= ks.k AND b.j >= ks.k
        |    GROUP BY 1, 2) GROUP BY 1)
        |SELECT p.bin, p.n,
        |       round(CAST(p.sc AS DOUBLE) / p.n, 6) AS mean_conf,
        |       round(CAST(p.np AS DOUBLE) / p.n, 6) AS frac_pos,
        |       round(f.iso, 6) AS iso_rate
        |FROM pre p JOIN fit f USING (k) ORDER BY bin""".stripMargin,

    // q221/q222: full cell-for-cell replay of the Carter-Wegman
    // arithmetic — same pinned (a, b) rows, p = 2^31-1, width 64 —
    // then the same min-over-rows readout for the exact top-10 keys.
    // q222 shares this verbatim: merging per-type sub-sketches is
    // element-wise addition, which loses nothing.
    "q221_cms_estimate" -> cmsOracleSql,
    "q222_cms_merge" -> cmsOracleSql,

    // q199: q102's two-pass blocking with DuckDB's native
    // jaro_winkler_similarity (same classic definition as
    // graft_jaro_winkler — spec-pinned vectors); ASCII-head filter
    // makes byte-wise and char-wise comparison identical, and both
    // engines threshold the ROUNDED similarity.
    "q199_jw_pairs" ->
      """WITH h AS (
        |  SELECT doc_id, lower(substr(text, 1, 64)) AS head
        |  FROM documents
        |  WHERE text IS NOT NULL
        |    AND regexp_full_match(substr(text, 1, 64), '[\t\n\r -~]*')),
        |b AS (
        |  SELECT a.doc_id AS d1, c.doc_id AS d2,
        |         a.head AS ha, c.head AS hb
        |  FROM h a JOIN h c
        |    ON substr(a.head, 1, 16) = substr(c.head, 1, 16)
        |   AND a.doc_id < c.doc_id
        |  UNION
        |  SELECT a.doc_id, c.doc_id, a.head, c.head
        |  FROM h a JOIN h c
        |    ON substr(a.head, 17, 16) = substr(c.head, 17, 16)
        |   AND length(a.head) >= 32 AND length(c.head) >= 32
        |   AND a.doc_id < c.doc_id)
        |SELECT d1 AS doc_id, d2 AS dup_id,
        |       round(jaro_winkler_similarity(ha, hb), 6) AS jw
        |FROM b
        |WHERE round(jaro_winkler_similarity(ha, hb), 6) >= 0.85
        |ORDER BY doc_id, dup_id""".stripMargin,

    // q197: same md5 split, same decimal-moment mean, same Vovk rank
    // pick (residual-then-id tiebreak), same unrounded-q̂ coverage test.
    "q197_conformal" ->
      """WITH ev AS (
        |  SELECT event_type, CAST(value AS DOUBLE) AS v, event_id,
        |         CASE WHEN md5(CAST(event_id AS VARCHAR)) < '8'
        |              THEN 'cal' ELSE 'test' END AS split
        |  FROM events
        |  WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |fit AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_cal,
        |         sum(CAST(round(v, 9) AS DECIMAL(38,12))) AS s1
        |  FROM ev WHERE split = 'cal' GROUP BY 1),
        |fm AS (SELECT event_type, n_cal,
        |         CAST(s1 AS DOUBLE) / CAST(n_cal AS DOUBLE) AS mean
        |       FROM fit),
        |resid AS (
        |  SELECT e.event_type, fm.n_cal, fm.mean,
        |         abs(e.v - fm.mean) AS r,
        |         CAST(row_number() OVER (PARTITION BY e.event_type
        |           ORDER BY abs(e.v - fm.mean), e.event_id) AS BIGINT)
        |           AS rn
        |  FROM ev e JOIN fm USING (event_type) WHERE e.split = 'cal'),
        |bands AS (
        |  SELECT event_type, max(n_cal) AS n_cal, max(mean) AS mean,
        |         max(CASE WHEN rn = least(n_cal,
        |               CAST(ceil(CAST(n_cal + 1 AS DOUBLE) * 0.9)
        |                 AS BIGINT)) THEN r END) AS qhat
        |  FROM resid GROUP BY 1)
        |SELECT e.event_type, b.n_cal AS n_cal,
        |       CAST(count(*) AS BIGINT) AS n_test,
        |       round(max(b.mean), 6) AS prediction,
        |       round(max(b.qhat), 6) AS qhat,
        |       round(CAST(sum(CASE WHEN abs(e.v - b.mean) <= b.qhat
        |           THEN 1 ELSE 0 END) AS DOUBLE)
        |         / CAST(count(*) AS DOUBLE), 6) AS coverage
        |FROM ev e JOIN bands b USING (event_type)
        |WHERE e.split = 'test'
        |GROUP BY 1, 2 ORDER BY event_type""".stripMargin,

    // q198: the same six Soundex steps; the run collapse chains 7
    // per-digit replaces because RE2 (DuckDB's regex engine) has no
    // backreferences — the engine chains the SAME 7 replaces.
    "q198_phonetic_blocks" ->
      """WITH u AS (
        |  SELECT p_name,
        |         upper(regexp_replace(p_name, '[^A-Za-z]', '', 'g'))
        |           AS u
        |  FROM part WHERE p_name IS NOT NULL),
        |m AS (
        |  SELECT p_name, u,
        |         regexp_replace(regexp_replace(regexp_replace(
        |         regexp_replace(regexp_replace(regexp_replace(
        |         regexp_replace(regexp_replace(
        |           translate(u, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
        |             '01230127022455012623017202'),
        |           '7', '', 'g'),
        |           '00+', '0', 'g'), '11+', '1', 'g'),
        |           '22+', '2', 'g'), '33+', '3', 'g'),
        |           '44+', '4', 'g'), '55+', '5', 'g'),
        |           '66+', '6', 'g') AS collapsed,
        |         translate(substr(u, 1, 1),
        |           'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
        |           '01230127022455012623017202') AS fc
        |  FROM u WHERE length(u) > 0),
        |sx AS (
        |  SELECT p_name,
        |         substr(u, 1, 1) || rpad(substr(regexp_replace(
        |           CASE WHEN fc = '7' THEN collapsed
        |                ELSE substr(collapsed, 2) END,
        |           '0', '', 'g'), 1, 3), 3, '0') AS block
        |  FROM m)
        |SELECT block, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(count(DISTINCT p_name) AS BIGINT)
        |         AS n_distinct_names
        |FROM sx GROUP BY 1 ORDER BY block""".stripMargin,

    // q193: same exact day-count series, same double chain from integer
    // cumulatives (the engine's decimal cumulative of integral counts
    // casts to the identical double), same first-day argmax tiebreak.
    "q193_cusum" ->
      """WITH s AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |         CAST(count(*) AS BIGINT) AS n_events
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
        |c AS (
        |  SELECT day, n_events,
        |         CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i,
        |         sum(n_events) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
        |           PRECEDING AND CURRENT ROW) AS cum,
        |         CAST(count(*) OVER () AS BIGINT) AS n,
        |         sum(n_events) OVER () AS s1,
        |         sum(n_events * n_events) OVER () AS s2
        |  FROM s),
        |x AS (
        |  SELECT day, n_events, i, n,
        |         sqrt((CAST(s2 AS DOUBLE)
        |               - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
        |                 / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE))
        |           AS sigma,
        |         CAST(n AS DOUBLE) * CAST(cum AS DOUBLE)
        |           - CAST(i AS DOUBLE) * CAST(s1 AS DOUBLE) AS d
        |  FROM c),
        |y AS (SELECT *, max(abs(d)) OVER () AS dmax FROM x),
        |z AS (SELECT *, min(CASE WHEN abs(d) = dmax THEN i END) OVER ()
        |        AS imin FROM y)
        |SELECT day, n_events,
        |       round(d / nullif(CAST(n AS DOUBLE) * sigma,
        |         CAST(0 AS DOUBLE)), 6) AS cusum,
        |       (abs(d) = dmax AND sigma > 0 AND i = imin)
        |         AS is_changepoint
        |FROM z ORDER BY day""".stripMargin,

    // q194: same 9-dp decimal moments per side, same closed forms.
    "q194_effect_size" ->
      """WITH a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n1,
        |         sum(CAST(round(CAST(value AS DOUBLE), 9)
        |           AS DECIMAL(38,12))) AS s11,
        |         sum(CAST(round(CAST(value AS DOUBLE)
        |           * CAST(value AS DOUBLE), 9) AS DECIMAL(38,12))) AS s21
        |  FROM events
        |  WHERE event_type = 'purchase' AND value IS NOT NULL),
        |b AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n2,
        |         sum(CAST(round(CAST(value AS DOUBLE), 9)
        |           AS DECIMAL(38,12))) AS s12,
        |         sum(CAST(round(CAST(value AS DOUBLE)
        |           * CAST(value AS DOUBLE), 9) AS DECIMAL(38,12))) AS s22
        |  FROM events
        |  WHERE event_type = 'click' AND value IS NOT NULL),
        |x AS (
        |  SELECT n1, n2,
        |         CAST(s11 AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1,
        |         CAST(s12 AS DOUBLE) / CAST(n2 AS DOUBLE) AS m2,
        |         CAST(s21 AS DOUBLE) - CAST(s11 AS DOUBLE)
        |           * CAST(s11 AS DOUBLE) / CAST(n1 AS DOUBLE) AS ss1,
        |         CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE)
        |           * CAST(s12 AS DOUBLE) / CAST(n2 AS DOUBLE) AS ss2
        |  FROM a CROSS JOIN b),
        |y AS (SELECT *, sqrt((ss1 + ss2)
        |        / CAST(n1 + n2 - 2 AS DOUBLE)) AS sp FROM x)
        |SELECT n1, n2, round(m1, 6) AS mean1, round(m2, 6) AS mean2,
        |       CASE WHEN n1 >= 2 AND n2 >= 2
        |            THEN round(sp, 6) END AS pooled_sd,
        |       CASE WHEN n1 >= 2 AND n2 >= 2
        |            THEN round((m1 - m2) / nullif(sp, CAST(0 AS DOUBLE)),
        |              6) END AS cohens_d,
        |       CASE WHEN n1 >= 2 AND n2 >= 2
        |            THEN round((m1 - m2) / nullif(sp, CAST(0 AS DOUBLE))
        |              * (1.0 - 3.0 / (4.0 * CAST(n1 + n2 AS DOUBLE)
        |                - 9.0)), 6) END AS hedges_g
        |FROM y""".stripMargin,

    // q195: same tokenization as q191 (lower + \s+ split + nonempty),
    // bigrams as space-joined 2-slices over 0-based offsets.
    "q195_distinct_ngrams" ->
      """WITH toks AS (
        |  SELECT lang, list_filter(string_split_regex(lower(text),
        |           '\s+'), x -> length(x) > 0) AS l
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (
        |  SELECT lang, unnest(list_transform(range(0, len(l) - 1),
        |           i -> array_to_string(l[i+1:i+2], ' '))) AS g
        |  FROM toks WHERE len(l) >= 2),
        |cells AS (SELECT lang, g, count(*) AS c FROM g GROUP BY 1, 2)
        |SELECT lang, CAST(sum(c) AS BIGINT) AS n_ngrams,
        |       CAST(count(*) AS BIGINT) AS n_distinct,
        |       round(CAST(count(*) AS DOUBLE)
        |         / CAST(sum(c) AS DOUBLE), 6) AS distinct_ratio
        |FROM cells GROUP BY lang ORDER BY lang""".stripMargin,

    // q196: same hourly cells, same observed-grid H, same zero-clamped
    // population variance arithmetic.
    "q196_burstiness" ->
      """WITH cells AS (
        |  SELECT user_id, date_trunc('hour', ts) AS b,
        |         count(*) AS c
        |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
        |  GROUP BY 1, 2),
        |grid AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS h
        |         FROM cells),
        |per AS (
        |  SELECT user_id, CAST(sum(c) AS BIGINT) AS n_events,
        |         CAST(count(*) AS BIGINT) AS n_active,
        |         sum(c * c) AS q
        |  FROM cells GROUP BY 1),
        |x AS (
        |  SELECT user_id, n_events, n_active,
        |         CAST(n_events AS DOUBLE) / CAST(h AS DOUBLE) AS mu,
        |         greatest(CAST(q AS DOUBLE) / CAST(h AS DOUBLE)
        |           - (CAST(n_events AS DOUBLE) / CAST(h AS DOUBLE))
        |             * (CAST(n_events AS DOUBLE) / CAST(h AS DOUBLE)),
        |           CAST(0 AS DOUBLE)) AS v
        |  FROM per CROSS JOIN grid)
        |SELECT user_id, n_events, n_active,
        |       round(v / mu, 6) AS fano,
        |       round((sqrt(v) - mu) / (sqrt(v) + mu), 6) AS burstiness
        |FROM x ORDER BY user_id""".stripMargin,

    "q01_distinct_users" ->
      "SELECT count(DISTINCT user_id) AS distinct_users FROM events",

    "q02_requests_per_user" ->
      """SELECT user_id, count(event_type) AS requests_count
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q03_success_count" ->
      "SELECT count(*) AS success_count FROM events WHERE event_type = 'purchase'",

    "q04_nonnull_count" ->
      "SELECT count(*) AS nonnull_count FROM events WHERE user_id IS NOT NULL LIMIT 10",

    "q05_parse_clf" ->
      """SELECT '10.' || (user_id % 256) || '.0.1' AS ip_address,
        |  user_id,
        |  strftime(date_trunc('second', ts), '%Y-%m-%d %H:%M:%S') AS time_s,
        |  CASE WHEN event_type = 'purchase' THEN 'POST'
        |       WHEN event_type = 'signup' THEN 'PUT'
        |       WHEN event_type = 'view' THEN 'HEAD'
        |       ELSE 'GET' END AS request_method,
        |  '/r/' || event_type AS request_resource,
        |  'HTTP/1.1' AS request_protocol,
        |  CAST(CASE WHEN event_type = 'purchase' THEN 200
        |            WHEN event_type = 'error' THEN 500
        |            ELSE 302 END AS BIGINT) AS status_code,
        |  event_id AS size,
        |  'https://example.com/' || event_type AS referer
        |FROM events ORDER BY size""".stripMargin,

    "q06_partition_pruned_scan" ->
      """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS date, count(*) AS cnt
        |FROM events
        |WHERE CAST(ts AS DATE) = (SELECT min(CAST(ts AS DATE)) FROM events)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // avg = sum/count per (label, dim); rounded to 6 dp on both sides so
    // summation-order float noise (~1e-16) cannot flip the compare.
    "q30_centroids" ->
      """SELECT label, CAST(p - 1 AS BIGINT) AS pos,
        |       round(avg(CAST(embedding[p] AS DOUBLE)), 6) AS c
        |FROM embeddings, generate_series(1, 512) g(p)
        |WHERE p <= len(embedding)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q07_ts_parse" ->
      """SELECT strftime(min(date_trunc('second', ts)), '%Y-%m-%d %H:%M:%S') AS min_ts,
        |       strftime(max(date_trunc('second', ts)), '%Y-%m-%d %H:%M:%S') AS max_ts
        |FROM events""".stripMargin,

    "q08_split_request" ->
      """SELECT CASE WHEN event_type = 'purchase' THEN 'POST'
        |            WHEN event_type = 'signup' THEN 'PUT'
        |            WHEN event_type = 'view' THEN 'HEAD'
        |            ELSE 'GET' END AS request_method,
        |       count(*) AS cnt
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q10_join_users_dim" ->
      """SELECT n_name, count(*) AS cnt
        |FROM events e
        |JOIN customer c ON e.user_id = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q11_anti_join" ->
      """SELECT count(*) AS cnt FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM events e WHERE e.user_id = c.c_custkey)""".stripMargin,

    "q12_topk_per_user" ->
      """SELECT user_id, event_type, cnt, rn FROM (
        |  SELECT user_id, event_type, count(*) AS cnt,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY count(*) DESC, event_type) AS rn
        |  FROM events GROUP BY user_id, event_type) t
        |WHERE rn <= 3 ORDER BY user_id, rn""".stripMargin,

    "q13_json_extract" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |       count(*) AS cnt
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q14_dedup" ->
      "SELECT count(*) AS cnt FROM (SELECT DISTINCT user_id, event_type FROM events) t",

    "q15_totals_row" ->
      """SELECT strftime(max(ts), '%Y-%m-%d') AS run_date,
        |       count(DISTINCT user_id) AS user_count,
        |       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
        |         AS total_successful_requests
        |FROM events""".stripMargin,

    "q16_roundtrip_parquet" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS date, count(*) AS cnt
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q18_token_counts" ->
      """SELECT term, count(*) AS cnt FROM (
        |  SELECT unnest(string_split_regex(lower(text), '\s+')) AS term
        |  FROM documents) u
        |WHERE length(term) > 0
        |GROUP BY term ORDER BY cnt DESC, term LIMIT 20""".stripMargin,

    // Exact Jaccard ≥ 0.6 over the same word-trigram shingles the Spark
    // side builds; LSH on the Spark side is recall machinery only.
    // Candidate generation via the inverted-index co-count (exactness
    // argument at dedupPairsCte) so the oracle scales past sf0.1.
    "q20_near_dedup" ->
      ("WITH " + dedupPairsCte + """
        |SELECT a_id, b_id, n_common, n_union,
        |       CAST(n_common AS DOUBLE) / CAST(n_union AS DOUBLE) AS jaccard
        |FROM pairs
        |ORDER BY a_id, b_id""".stripMargin),

    "q19_cosine_topk" -> bruteForceTopkSql,

    "q21_ann_topk" -> bruteForceTopkSql,

    // PARTIAL oracle (scored-subset property): IVF recall at nprobe 10/16
    // is 0.925, so the returned SET differs from brute force by design —
    // but every returned (q_id, nn_id) pair's sim must equal the exact
    // cosine, which DuckDB recomputes here. The Spark output is read back,
    // its (q_id, nn_id, rank) pass through, and sim is REPLACED by the
    // recomputed exact value: any inexact score breaks the hash compare.
    // Structurally guarded: the dump must be exactly 8 queries × ranks
    // 1..5 (40 distinct (q_id, rank) rows); otherwise — including an empty
    // dump, which would hash-match vacuously — the oracle emits a single
    // sentinel row that can never match. Shared (modulo the dump path) by
    // q33's self-contained screen and q76's persisted-index screen: both
    // must satisfy this identical contract.
    "q33_ivf_topk" -> ivfPartialOracleSql("q33_ivf_topk"),

    // PARTIAL oracle (sketch-accuracy property): DuckDB cannot replay
    // Spark's HLL++ sketch, but it can recompute the exact distinct count
    // and assert the sketch landed within 5× the configured rsd (0.01).
    // Structurally guarded: the oracle ALWAYS emits exactly one row — the
    // read-back value when the dump is exactly one row inside the bound,
    // a -1 sentinel otherwise — so an empty or multi-row dump mismatches
    // instead of passing vacuously (empty-equals-empty).
    "q09_approx_distinct" ->
      """WITH d AS (SELECT approx_distinct_users
        |           FROM read_parquet('__OUT__/q09_approx_distinct/*.parquet')),
        |     x AS (SELECT count(DISTINCT user_id) AS c FROM events)
        |SELECT CASE WHEN (SELECT count(*) FROM d) = 1
        |             AND abs((SELECT max(approx_distinct_users) FROM d)
        |                     - (SELECT c FROM x)) <= 0.05 * (SELECT c FROM x)
        |        THEN (SELECT max(approx_distinct_users) FROM d)
        |        ELSE CAST(-1 AS BIGINT) END AS approx_distinct_users""".stripMargin,

    // The harness events table is a single parquet file; the metadata-column
    // scan must see exactly that file set.
    "q17_input_files" ->
      """SELECT CAST(count(DISTINCT filename) AS BIGINT) AS n_files
        |FROM read_parquet('/root/testdata/sf0.01/events.parquet', filename=true)""".stripMargin,

    // Exact within-label cosine pairs; the dot/norm folds run in array
    // order in both engines, so the doubles are bit-identical (rounded to
    // 6 dp as extra armor). Threshold 0.40 sits in a value gap at sf0.01
    // and sf0.1 (nearest pair >1e-4 away), so the float compare is safe.
    "q22_embedding_neardup" ->
      """WITH p AS (
        |  SELECT a.label AS block, a.vec_id AS a_id, b.vec_id AS b_id,
        |    list_aggregate(list_transform(list_zip(a.embedding, b.embedding),
        |        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum')
        |    / (sqrt(list_aggregate(list_transform(a.embedding,
        |          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
        |     * sqrt(list_aggregate(list_transform(b.embedding,
        |          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))) AS sim
        |  FROM embeddings a JOIN embeddings b
        |    ON a.label = b.label AND a.vec_id < b.vec_id)
        |SELECT block, a_id, b_id, round(sim, 6) AS sim
        |FROM p WHERE sim >= 0.40 ORDER BY a_id, b_id""".stripMargin,

    // Marker lists, occurrence counting, and the tie-break CASE order
    // mirror TextOps.langId exactly (ties → alphabetically first code).
    "q23_langid" ->
      """WITH toks AS (
        |  SELECT list_filter(string_split_regex(lower(text), '\s+'),
        |                     t -> length(t) > 0) AS tk
        |  FROM documents),
        |sc AS (
        |  SELECT
        |    len(list_filter(tk, t -> list_contains(['der','die','und','das','ist'], t))) AS s_de,
        |    len(list_filter(tk, t -> list_contains(['the','and','of','to','in'], t))) AS s_en,
        |    len(list_filter(tk, t -> list_contains(['el','los','las','una','y'], t))) AS s_es,
        |    len(list_filter(tk, t -> list_contains(['le','la','et','les','des'], t))) AS s_fr
        |  FROM toks),
        |lp AS (
        |  SELECT CASE
        |    WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
        |    WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
        |    WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
        |    WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
        |    ELSE 'fr' END AS lang_pred
        |  FROM sc)
        |SELECT lang_pred, count(*) AS cnt FROM lp
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // Same arithmetic, same operation order as TextOps.qualityScore.
    "q24_quality_score" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |                             t -> length(t) > 0) AS tk
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(tk) AS BIGINT) AS n_tokens,
        |    CAST(len(tk) AS DOUBLE) AS nt,
        |    CAST(len(list_filter(tk, t -> list_contains(['the','and','of','to','in'], t))) AS DOUBLE) AS stops,
        |    CAST(list_aggregate(list_transform(tk, t -> length(t)), 'sum') AS DOUBLE) AS sumlen
        |  FROM toks)
        |SELECT doc_id, n_tokens,
        |  round(least(nt / 100.0, 1.0) * 0.4
        |        + (stops / nt) * 0.3
        |        + greatest(0.0, 1.0 - abs(sumlen / nt - 5.0) / 5.0) * 0.3, 6) AS score
        |FROM m WHERE n_tokens > 0 ORDER BY doc_id""".stripMargin,

    "q25_bpe_tokens" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_tokens,
        |       CAST(count(DISTINCT tok) AS BIGINT) AS n_distinct
        |FROM (SELECT unnest(regexp_extract_all(lower(text),
        |             '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS tok
        |      FROM documents)""".stripMargin,

    "q26_fingerprint" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |                     x -> length(x) > 0) AS t
        |  FROM documents WHERE doc_id < 100),
        |sh AS (
        |  SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        |  FROM (SELECT doc_id, t, unnest(range(1, greatest(len(t) - 1, 1))) AS i
        |        FROM toks))
        |SELECT doc_id, min(md5(s)) AS fp FROM sh
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // All-pairs recompute of the 48-bit SimHash: the pigeonhole bucketing
    // on the Spark side has recall exactly 1 for hamming ≤ 3, so the
    // bucketed result equals this exhaustive one.
    "q27_simhash_neardup" ->
      """WITH tok AS (
        |  SELECT doc_id, md5(t) AS h FROM (
        |    SELECT doc_id, unnest(list_filter(
        |      string_split_regex(lower(text), '\s+'), x -> length(x) > 0)) AS t
        |    FROM documents)),
        |bits AS (
        |  SELECT doc_id, j,
        |    sum(CASE WHEN ((strpos('0123456789abcdef', substr(h, j // 4 + 1, 1)) - 1)
        |                   >> (j % 4)) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |  FROM tok, generate_series(0, 47) g(j)
        |  GROUP BY doc_id, j),
        |sh AS (
        |  SELECT doc_id, sum(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END) AS simhash
        |  FROM bits GROUP BY doc_id),
        |p AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |         CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |SELECT a_id, b_id, hamming FROM p WHERE hamming <= 3
        |ORDER BY a_id, b_id""".stripMargin,

    // md5 over a VARCHAR hashes its UTF-8 bytes — identical to Spark's md5
    // over the text cast to binary.
    "q28_binary_dedup" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_assets,
        |       CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct
        |FROM documents""".stripMargin,

    "q31_set_ops" ->
      """WITH p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
        |     e AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'error')
        |SELECT 'except' AS op, count(*) AS cnt FROM (SELECT * FROM p EXCEPT SELECT * FROM e)
        |UNION ALL
        |SELECT 'intersect', count(*) FROM (SELECT * FROM p INTERSECT SELECT * FROM e)
        |UNION ALL
        |SELECT 'union', count(*) FROM (SELECT * FROM p UNION SELECT * FROM e)
        |ORDER BY op""".stripMargin,

    "q32_rollup" ->
      """SELECT event_type, count(*) AS cnt FROM events
        |GROUP BY ROLLUP(event_type)
        |ORDER BY event_type NULLS LAST""".stripMargin,

    // lag + conditional flag + per-user sum. Alignment with Spark: order on
    // the microsecond-truncated timestamp (Spark sees micros, DuckDB nanos)
    // with event_id tie-break, and floor epochs to whole seconds (Spark's
    // unix_timestamp truncates; DuckDB's epoch keeps fractions).
    "q34_session_counts" ->
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS tsu FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |g AS (
        |  SELECT user_id,
        |    CASE WHEN lag(tsu) OVER w IS NULL
        |           OR CAST(floor(epoch(tsu)) AS BIGINT)
        |              - CAST(floor(epoch(lag(tsu) OVER w)) AS BIGINT) > 1800
        |         THEN 1 ELSE 0 END AS ns
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id))
        |SELECT user_id, CAST(sum(ns) AS BIGINT) AS n_sessions
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,

    "q35_json_map" ->
      """SELECT k AS key, count(*) AS cnt,
        |       CAST(sum(CAST(json_extract_string(props, '$.' || k) AS BIGINT)) AS BIGINT) AS sum_v
        |FROM (SELECT unnest(json_keys(props)) AS k, props FROM events)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // per-item revenue is integral in 1e-4 units (cents × 2-dp discount),
    // so round-then-sum is exact and summation order cannot matter
    "q36_star_join" ->
      """SELECT n_name, o_orderpriority,
        |       count(*) AS n_items,
        |       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)) AS BIGINT) AS revenue_e4
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q29_multimodal_meta" ->
      """SELECT 'text/' || lang AS mime,
        |       CAST(count(*) AS BIGINT) AS n_assets,
        |       CAST(sum(strlen(text)) AS BIGINT) AS total_bytes,
        |       CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_content,
        |       CAST(sum(greatest(CAST(ceil(strlen(text) / 64.0) AS BIGINT), 1)) AS BIGINT) AS n_frames
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    // Same pair graph as q20 (exact Jaccard ≥ 0.6 over word trigrams,
    // inverted-index candidates), then the transitive closure via a
    // recursive CTE: a doc survives iff it is the minimum of its connected
    // component (docs in no pair are their own singleton component).
    "q37_dedup_survivors" ->
      ("WITH RECURSIVE " + dedupPairsCte + ",\n" + dedupCcCte + """
        |SELECT src AS doc_id FROM reach GROUP BY src HAVING min(dst) = src
        |ORDER BY doc_id""".stripMargin),

    // Integer-derived doubles with a single division → bit-exact both sides.
    "q38_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(text), '\s+'),
        |                     x -> length(x) > 0) AS t
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, t[i] || ' ' || t[i+1] AS b
        |  FROM (SELECT doc_id, t, unnest(range(1, greatest(len(t), 1))) AS i
        |        FROM toks)),
        |top AS (
        |  SELECT doc_id, max(c) AS top_bigram_cnt FROM (
        |    SELECT doc_id, count(*) AS c FROM bg GROUP BY doc_id, b)
        |  GROUP BY doc_id),
        |m AS (
        |  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_words,
        |         CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct_words
        |  FROM toks)
        |SELECT m.doc_id, m.n_words, m.n_distinct_words,
        |       CASE WHEN m.n_words > 0
        |            THEN CAST(m.n_words - m.n_distinct_words AS DOUBLE)
        |                 / CAST(m.n_words AS DOUBLE)
        |            ELSE 0.0 END AS dup_word_frac,
        |       CASE WHEN m.n_words IS NOT NULL
        |            THEN CAST(coalesce(top.top_bigram_cnt, 0) AS BIGINT)
        |            END AS top_bigram_cnt,
        |       CASE WHEN m.n_words > 1
        |            THEN CAST(coalesce(top.top_bigram_cnt, 0) AS DOUBLE)
        |                 / CAST(m.n_words - 1 AS DOUBLE)
        |            ELSE 0.0 END AS top_bigram_frac
        |FROM m LEFT JOIN top USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // Same 5-gram shingling as the Spark side (split, no empty-filter —
    // mirrors Dedup.shingles); benchmark = doc_id % 97 docs. Shared with
    // q50: the Bloom-pruned path must produce the identical exact result.
    "q39_contamination" -> contaminationOracleSql,

    "q50_bloom_contamination" -> contaminationOracleSql,

    // md5 hex ordering is engine-agnostic (lowercase hex both sides).
    "q40_stratified_sample" ->
      """SELECT doc_id, lang, rk FROM (
        |  SELECT doc_id, lang,
        |         CAST(row_number() OVER (PARTITION BY lang
        |                                 ORDER BY md5(text), doc_id)
        |              AS BIGINT) AS rk
        |  FROM documents) t
        |WHERE rk <= 20
        |ORDER BY lang, rk""".stripMargin,

    "q41_packing" ->
      """WITH d AS (
        |  SELECT doc_id, doc_id % 8 AS shard,
        |         CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
        |                              x -> length(x) > 0)) AS BIGINT) AS n_tokens
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, shard, n_tokens,
        |         sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |                             ROWS UNBOUNDED PRECEDING) - n_tokens
        |           AS tok_offset
        |  FROM d)
        |SELECT doc_id, CAST(shard AS BIGINT) AS shard, n_tokens,
        |       CAST(tok_offset AS BIGINT) AS tok_offset,
        |       CAST(tok_offset // 256 AS BIGINT) AS bin
        |FROM p ORDER BY doc_id""".stripMargin,

    // The Spark side routes this aggregate through a Derby JDBC write +
    // read-back; the oracle computes it directly from the source table.
    "q42_jdbc_roundtrip" ->
      """SELECT user_id, count(*) AS n_events, max(value) AS max_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // PARTIAL oracle (scored-subset property, q33 style): the returned
    // NEIGHBOR SET is cell-restricted by design, but every returned pair's
    // sim must equal the exact cosine (recomputed here and substituted —
    // any inexact score breaks the hash), ranks must be contiguous from 1
    // with ≤ 3 per query, no self-pairs, and the rank order must agree
    // with the exact sims (ties by nn_id). Any violation — including an
    // empty dump — collapses to a sentinel row that can never match.
    "q44_knn_join" ->
      """WITH r AS (SELECT q_id, nn_id, rank
        |           FROM read_parquet('__OUT__/q44_knn_join/*.parquet')),
        |bf AS (
        |  SELECT r.q_id, r.nn_id, r.rank,
        |    list_aggregate(list_transform(list_zip(a.embedding, b.embedding),
        |        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum')
        |    / (sqrt(list_aggregate(list_transform(a.embedding,
        |          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
        |     * sqrt(list_aggregate(list_transform(b.embedding,
        |          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))) AS sim
        |  FROM r
        |  JOIN embeddings a ON r.q_id = a.vec_id
        |  JOIN embeddings b ON r.nn_id = b.vec_id),
        |per AS (SELECT q_id, count(*) AS c, min(rank) AS mn, max(rank) AS mx
        |        FROM r GROUP BY 1),
        |chk AS (
        |  SELECT coalesce(
        |      (SELECT count(*) FROM r) > 0
        |      -- coverage floor: nprobe includes each vector's own cell, so
        |      -- nearly every vector must produce neighbor rows — a dump
        |      -- that silently lost most queries cannot pass
        |      AND (SELECT count(DISTINCT q_id) FROM r)
        |          >= 0.9 * (SELECT count(*) FROM embeddings)
        |      AND (SELECT count(*) FROM r)
        |          = (SELECT count(DISTINCT q_id::VARCHAR || ':' || rank::VARCHAR) FROM r)
        |      AND NOT EXISTS (SELECT 1 FROM per WHERE mn <> 1 OR mx <> c OR c > 3)
        |      AND NOT EXISTS (SELECT 1 FROM r WHERE q_id = nn_id)
        |      AND NOT EXISTS (
        |        SELECT 1 FROM bf x JOIN bf y
        |          ON x.q_id = y.q_id AND x.rank < y.rank
        |        WHERE x.sim < y.sim OR (x.sim = y.sim AND x.nn_id > y.nn_id)),
        |      FALSE) AS ok)
        |SELECT q_id, nn_id, sim, rank FROM bf WHERE (SELECT ok FROM chk)
        |UNION ALL
        |SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), 0.0, CAST(-1 AS BIGINT)
        |WHERE NOT (SELECT ok FROM chk)
        |ORDER BY q_id, rank""".stripMargin,

    "q45_profile" -> {
      val profCols = Seq("event_id", "user_id", "event_type", "value")
      val a = profCols.map(c =>
        s"sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS ${c}_nulls, " +
          s"count(DISTINCT $c) AS ${c}_distinct").mkString(",\n  ")
      val arms = profCols.map(c =>
        s"SELECT '$c' AS col_name, n_rows, CAST(${c}_nulls AS BIGINT) AS n_nulls, " +
          s"CAST(${c}_distinct AS BIGINT) AS n_distinct FROM a").mkString("\n  UNION ALL ")
      s"""WITH a AS (SELECT count(*) AS n_rows,
         |  $a
         |  FROM events)
         |SELECT * FROM (
         |  $arms)
         |ORDER BY col_name""".stripMargin
    },

    "q43_token_mix" ->
      """WITH d AS (
        |  SELECT lang,
        |         CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
        |                              x -> length(x) > 0)) AS BIGINT) AS n_tokens
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |       quantile_cont(n_tokens, 0.5) AS p50,
        |       quantile_cont(n_tokens, 0.9) AS p90
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,

    // Same distinct-token explode as TextOps.tokens + array_distinct;
    // weight is one exact integer division — engine-identical doubles.
    "q46_distinctive_terms" ->
      """WITH perdoc AS (
        |  SELECT lang,
        |         unnest(list_distinct(list_filter(
        |           string_split_regex(lower(text), '\s+'),
        |           x -> length(x) > 0))) AS term
        |  FROM documents),
        |tf AS (SELECT lang, term, count(*) AS tf FROM perdoc GROUP BY 1, 2),
        |dfq AS (SELECT term, CAST(sum(tf) AS BIGINT) AS df FROM tf GROUP BY 1),
        |j AS (SELECT tf.lang, tf.term, tf.tf, dfq.df,
        |             CAST(tf.tf AS DOUBLE) / CAST(dfq.df AS DOUBLE) AS weight
        |      FROM tf JOIN dfq USING (term)),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY lang
        |        ORDER BY weight DESC, tf DESC, term ASC) AS BIGINT) AS rank
        |      FROM j)
        |SELECT lang, term, tf, df, weight, rank FROM r
        |WHERE rank <= 5 ORDER BY lang, rank""".stripMargin,

    // Exact IEEE recompute of scale, codes, and reconstruction error —
    // DuckDB round() is the same HALF_UP rule as Spark's.
    "q47_quantize_int8" ->
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |         list_max(list_transform(embedding,
        |           x -> abs(CAST(x AS DOUBLE)))) AS maxabs
        |  FROM embeddings),
        |s AS (SELECT vec_id, embedding, maxabs, maxabs / 127.0 AS scale FROM e),
        |q AS (
        |  SELECT vec_id, scale, maxabs, embedding,
        |         CASE WHEN maxabs = 0 THEN list_transform(embedding, x -> 0)
        |              ELSE list_transform(embedding,
        |                x -> CAST(round(CAST(x AS DOUBLE) / scale) AS INTEGER))
        |         END AS q
        |  FROM s)
        |SELECT vec_id, scale,
        |       array_to_string(list_transform(q, x -> CAST(x AS VARCHAR)),
        |                       ',') AS q,
        |       CASE WHEN maxabs = 0 THEN 0.0
        |            ELSE list_max(list_transform(list_zip(q, embedding),
        |              p -> abs(CAST(p[1] AS DOUBLE) * scale
        |                       - CAST(p[2] AS DOUBLE))))
        |       END AS max_err
        |FROM q ORDER BY vec_id""".stripMargin,

    // The layout round-trip must preserve content exactly: recompute the
    // selective aggregate from the source table.
    "q48_sorted_layout" ->
      """SELECT user_id, count(*) AS cnt, max(value) AS max_value
        |FROM events WHERE user_id BETWEEN 10 AND 19
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // Partial oracle (q09 style): the sketch quantile must land inside
    // the exact [p-0.05, p+0.05] discrete-quantile envelope per language;
    // driving from the exact side LEFT JOIN the dump makes a missing
    // dump row a NULL (hash mismatch) and an extra row a count mismatch.
    "q49_approx_quantiles" ->
      """WITH d AS (SELECT lang, n_docs, p50a, p90a
        |           FROM read_parquet('__OUT__/q49_approx_quantiles/*.parquet')),
        |t AS (SELECT lang,
        |        CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
        |                             y -> length(y) > 0)) AS BIGINT) AS n_tokens
        |      FROM documents),
        |x AS (SELECT lang, count(*) AS n_docs,
        |        quantile_disc(n_tokens, 0.45) AS p50lo,
        |        quantile_disc(n_tokens, 0.55) AS p50hi,
        |        quantile_disc(n_tokens, 0.85) AS p90lo,
        |        quantile_disc(n_tokens, 0.95) AS p90hi
        |      FROM t GROUP BY 1)
        |SELECT x.lang, x.n_docs,
        |  CASE WHEN d.p50a BETWEEN x.p50lo AND x.p50hi THEN d.p50a
        |       ELSE CAST(-1 AS BIGINT) END AS p50a,
        |  CASE WHEN d.p90a BETWEEN x.p90lo AND x.p90hi THEN d.p90a
        |       ELSE CAST(-1 AS BIGINT) END AS p90a
        |FROM x LEFT JOIN d ON x.lang IS NOT DISTINCT FROM d.lang
        |ORDER BY x.lang""".stripMargin,

    // The salted join must EQUAL the plain join — the oracle is the
    // unsalted formulation.
    "q51_salted_join" ->
      """SELECT c_mktsegment, count(*) AS cnt
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // Recompute the scrub from the synthesized columns: the synthetic ip
    // is '10.<user_id%256>.0.1' → masked '10.<user_id%256>.0.0'; the user
    // token is sha256 of the peppered decimal id (hex, lowercase in both
    // engines).
    "q52_anonymize" ->
      """SELECT '10.' || CAST(user_id % 256 AS VARCHAR) || '.0.0' AS ip_masked,
        |       sha256('graft-pepper' || CAST(user_id AS VARCHAR)) AS user_token,
        |       CAST(CASE WHEN event_type = 'purchase' THEN 200
        |                 WHEN event_type = 'error' THEN 500
        |                 ELSE 302 END AS BIGINT) AS status_code,
        |       event_id AS size
        |FROM events ORDER BY size""".stripMargin,

    // The naive as-of formulation: materialize every (purchase,
    // earlier-click) pair, keep rn=1. LEFT JOIN so unmatched purchases
    // survive with null clicks — identical to the operator's left-outer
    // inclusive-backward semantics. CAST(ts AS TIMESTAMP) pins DuckDB to
    // the same microsecond precision Spark reads.
    "q53_asof_join" ->
      """WITH l AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |           FROM events WHERE event_type = 'purchase'),
        |r AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |      FROM events WHERE event_type = 'click'
        |        AND user_id IS NOT NULL AND ts IS NOT NULL),
        |j AS (SELECT l.event_id AS p_event_id, l.user_id AS user_id,
        |             l.ts AS pts, r.event_id AS c_event_id, r.ts AS cts,
        |             row_number() OVER (PARTITION BY l.event_id
        |                                ORDER BY r.ts DESC, r.event_id DESC)
        |               AS rn
        |      FROM l LEFT JOIN r
        |        ON l.user_id = r.user_id AND r.ts <= l.ts)
        |SELECT p_event_id, user_id,
        |  strftime(date_trunc('second', pts), '%Y-%m-%d %H:%M:%S') AS p_ts,
        |  c_event_id,
        |  strftime(date_trunc('second', cts), '%Y-%m-%d %H:%M:%S') AS c_ts
        |FROM j WHERE rn = 1 ORDER BY p_event_id""".stripMargin,

    // The plain BETWEEN join the bucketized equi-join must equal.
    "q54_range_join" ->
      """WITH b AS (SELECT range AS band,
        |             CAST(range * 50.0 AS DOUBLE) AS lo,
        |             CAST(range * 50.0 + 50.0 AS DOUBLE) AS hi
        |           FROM range(0, 10))
        |SELECT CAST(b.band AS BIGINT) AS band, count(*) AS cnt,
        |       CAST(sum(e.event_id) AS BIGINT) AS sum_eid
        |FROM events e JOIN b ON e.value >= b.lo AND e.value < b.hi
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // Recompute the chunking with list slicing: same whitespace tokens,
    // same ceil chunk count ((max(n-64,0)+47)//48 + 1), same md5 over the
    // space-rejoined slice. unnest(range(...)) is the per-row index
    // explode (DuckDB's range TABLE function rejects lateral columns).
    "q55_chunk" ->
      """WITH t AS (SELECT doc_id,
        |             list_filter(string_split_regex(lower(text), '\s+'),
        |                         y -> length(y) > 0) AS toks
        |           FROM documents),
        |n AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
        |c AS (SELECT doc_id, toks, n,
        |        unnest(range(0, (greatest(n - 64, 0) + 47) // 48 + 1))
        |          AS chunk_id
        |      FROM n)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |  CAST(least(chunk_id*48 + 64, n) - chunk_id*48 AS BIGINT) AS n_tok,
        |  md5(array_to_string(toks[chunk_id*48 + 1 : least(chunk_id*48 + 64, n)],
        |      ' ')) AS chunk_md5
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,

    // q53's naive formulation mirrored forward: smallest r.ts >= l.ts,
    // ties to the greatest event_id.
    "q56_asof_forward" ->
      """WITH l AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |           FROM events WHERE event_type = 'signup'),
        |r AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |      FROM events WHERE event_type = 'error'
        |        AND user_id IS NOT NULL AND ts IS NOT NULL),
        |j AS (SELECT l.event_id AS s_event_id, l.user_id AS user_id,
        |             l.ts AS sts, r.event_id AS e_event_id, r.ts AS ets,
        |             row_number() OVER (PARTITION BY l.event_id
        |                                ORDER BY r.ts ASC, r.event_id DESC)
        |               AS rn
        |      FROM l LEFT JOIN r
        |        ON l.user_id = r.user_id AND r.ts >= l.ts)
        |SELECT s_event_id, user_id,
        |  strftime(date_trunc('second', sts), '%Y-%m-%d %H:%M:%S') AS s_ts,
        |  e_event_id,
        |  strftime(date_trunc('second', ets), '%Y-%m-%d %H:%M:%S') AS e_ts
        |FROM j WHERE rn = 1 ORDER BY s_event_id""".stripMargin,

    // Recompute the click sessions with the q34-style lag/running-sum
    // windows, take per-session epoch bounds, and BETWEEN-join the error
    // events — the plain formulation of the keyed bucketized range join.
    "q57_session_attribution" ->
      """WITH c AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
        |           FROM events WHERE event_type = 'click'
        |             AND user_id IS NOT NULL AND ts IS NOT NULL),
        |g AS (SELECT user_id, event_id, ts,
        |        CASE WHEN lag(ts) OVER w IS NULL
        |               OR CAST(floor(epoch(ts)) AS BIGINT)
        |                  - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 86400
        |             THEN 1 ELSE 0 END AS ns
        |      FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ep,
        |        sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                      ROWS UNBOUNDED PRECEDING) AS session_idx
        |      FROM g),
        |i AS (SELECT user_id, session_idx,
        |        min(ep) AS start_ep, max(ep) AS end_ep
        |      FROM s GROUP BY 1, 2),
        |e AS (SELECT event_id, user_id,
        |        CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS ep
        |      FROM events WHERE event_type = 'error'
        |        AND user_id IS NOT NULL AND ts IS NOT NULL)
        |SELECT e.event_id AS e_event_id, e.user_id,
        |       CAST(i.session_idx AS BIGINT) AS session_idx
        |FROM e JOIN i ON e.user_id = i.user_id
        |  AND e.ep >= i.start_ep AND e.ep < i.end_ep + 86400
        |ORDER BY e_event_id""".stripMargin,

    // Exact top-k with the same (cnt desc, user) tie-break — valid
    // because the sketch's tracked map exceeds the user domain, so its
    // counts are exact (no purge; ApproxTopKSpec pins this).
    "q58_heavy_hitters" -> heavyHittersOracleSql,

    // The merge path must lose nothing: same exact oracle as q58.
    "q59_heavy_hitters_merge" -> heavyHittersOracleSql,

    // Layout changes WHERE bytes live, never WHAT the table says: the
    // oracle recomputes the selective aggregate from the source table.
    "q60_zorder_layout" ->
      """SELECT l_returnflag, count(*) AS cnt,
        |       max(l_extendedprice) AS max_price
        |FROM lineitem WHERE l_partkey BETWEEN 1 AND 200
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // Same exact answer as the window formulation, same tie-break.
    "q61_topk_agg" ->
      """WITH c AS (
        |  SELECT event_type, user_id, count(*) AS cnt
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2),
        |r AS (
        |  SELECT event_type, user_id, cnt,
        |         row_number() OVER (PARTITION BY event_type
        |                            ORDER BY cnt DESC, user_id) AS rk
        |  FROM c)
        |SELECT event_type, CAST(rk AS BIGINT) AS rk, user_id, cnt
        |FROM r WHERE rk <= 5 ORDER BY event_type, rk""".stripMargin,

    // Survivor = batch doc with no byte-identical corpus text and no
    // corpus doc at Jaccard ≥ 0.6 over distinct trigram shingles (same
    // shingling as the q20 oracle; n_union > 0 guards unshingleable docs,
    // which survive by definition).
    "q62_incremental_dedup" -> incrementalDedupOracleSql,

    // Same hex cut points against the same lowercase-hex md5.
    "q63_hash_split" ->
      """SELECT CASE WHEN md5(text) < 'cc' THEN 'train'
        |            WHEN md5(text) < 'e6' THEN 'val'
        |            ELSE 'test' END AS split,
        |       lang, count(*) AS cnt
        |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Same hex cut points against md5(source) — the group key.
    "q114_group_split" ->
      """SELECT CASE WHEN md5(source) < 'cc' THEN 'train'
        |            WHEN md5(source) < 'e6' THEN 'val'
        |            ELSE 'test' END AS split,
        |       source, count(*) AS cnt
        |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Same salted-hash permutation, same head.
    "q64_corpus_shuffle" ->
      """WITH o AS (
        |  SELECT doc_id,
        |         md5('epoch42' || CAST(doc_id AS VARCHAR)) AS shuffle_key
        |  FROM documents)
        |SELECT CAST(row_number() OVER (ORDER BY shuffle_key) AS BIGINT) AS pos,
        |       doc_id, shuffle_key
        |FROM o ORDER BY shuffle_key LIMIT 20""".stripMargin,

    // The sink/source roundtrip changes bytes-on-disk, not table
    // contents: recompute the audit from the source table.
    "q65_jsonl_roundtrip" ->
      """SELECT lang, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "q66_pivot" ->
      """SELECT source,
        |       count(*) FILTER (WHERE lang = 'de') AS de,
        |       count(*) FILTER (WHERE lang = 'en') AS en,
        |       count(*) FILTER (WHERE lang = 'es') AS es,
        |       count(*) FILTER (WHERE lang = 'fr') AS fr,
        |       count(*) FILTER (WHERE lang = 'zh') AS zh
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    // Long form over the full domain cross — absent combinations are 0
    // rows, matching the unpivoted 0-filled matrix.
    "q67_unpivot" ->
      """SELECT s.source, l.lang, CAST(coalesce(c.cnt, 0) AS BIGINT) AS cnt
        |FROM (SELECT DISTINCT source FROM documents) s
        |CROSS JOIN (SELECT DISTINCT lang FROM documents) l
        |LEFT JOIN (SELECT source, lang, count(*) AS cnt
        |           FROM documents GROUP BY 1, 2) c
        |  USING (source, lang)
        |ORDER BY source, lang""".stripMargin,

    "q68_cube" ->
      """SELECT lang, source, count(*) AS cnt FROM documents
        |GROUP BY CUBE(lang, source)
        |ORDER BY lang NULLS LAST, source NULLS LAST""".stripMargin,

    // Exact because the sketch never leaves its coupon regime at
    // harness cardinalities (HllMergeSpec pins it).
    "q69_hll_merge" ->
      """SELECT count(DISTINCT user_id) AS distinct_users
        |FROM events WHERE user_id IS NOT NULL""".stripMargin,

    // Same (ts desc, event_id desc) total order per key.
    "q70_cdc_compact" ->
      """WITH r AS (
        |  SELECT user_id, event_id, event_type,
        |         row_number() OVER (PARTITION BY user_id
        |           ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL)
        |SELECT user_id, event_id AS last_event_id,
        |       event_type AS last_event_type
        |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin,

    // Epoch-aligned 1-hour buckets == date_trunc on the hour.
    "q71_time_buckets" ->
      """SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)),
        |               '%Y-%m-%d %H:%M:%S') AS bucket_start,
        |       event_type, count(*) AS cnt
        |FROM events WHERE ts IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Same integer day epochs (truncating div — q34/q57 precedent),
    // same RANGE frame.
    "q72_trailing_window" ->
      """WITH d AS (
        |  SELECT user_id,
        |         CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 86400) AS BIGINT)
        |           AS day_ep,
        |         count(*) AS day_cnt
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2)
        |SELECT user_id, day_ep, day_cnt,
        |       CAST(sum(day_cnt) OVER (PARTITION BY user_id ORDER BY day_ep
        |         RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT)
        |         AS trail3
        |FROM d ORDER BY user_id, day_ep""".stripMargin,

    // Same synthesized "today", same null-safe classification.
    "q73_snapshot_diff" ->
      """WITH b AS (SELECT doc_id, text FROM documents),
        |a AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END
        |           AS text
        |  FROM documents WHERE doc_id % 13 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents
        |  WHERE doc_id % 17 = 0)
        |SELECT coalesce(b.doc_id, a.doc_id) AS doc_id,
        |       CASE WHEN b.doc_id IS NULL THEN 'insert'
        |            WHEN a.doc_id IS NULL THEN 'delete'
        |            WHEN b.text IS DISTINCT FROM a.text THEN 'update'
        |       END AS change
        |FROM b FULL OUTER JOIN a ON b.doc_id = a.doc_id
        |WHERE (b.doc_id IS NULL OR a.doc_id IS NULL
        |       OR b.text IS DISTINCT FROM a.text)
        |ORDER BY doc_id""".stripMargin,

    // Byte-fidelity audit recomputed from the source table: any
    // quoting/escaping loss in the roundtrip breaks n_texts or total_len.
    "q74_csv_roundtrip" ->
      """SELECT lang, count(*) AS n_docs,
        |       count(DISTINCT md5(text)) AS n_texts,
        |       CAST(sum(length(text)) AS BIGINT) AS total_len
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    // Identical semantics to q62 by construction (same screen core, the
    // corpus side merely arrives pre-indexed) — shared exact oracle.
    "q75_indexed_dedup" -> incrementalDedupOracleSql,

    "q76_ivf_indexed" -> ivfPartialOracleSql("q76_ivf_indexed"),

    // PQ returns exact-cosine sims after re-rank (ADC decides only which
    // candidates surface) — same exact-sim + 8×5-rank-structure partial
    // oracle as the IVF family.
    "q81_pq_topk" -> ivfPartialOracleSql("q81_pq_topk"),
    "q82_ivfpq_topk" -> ivfPartialOracleSql("q82_ivfpq_topk"),

    // Identical semantics to q21 by construction (same probe/score core,
    // the corpus side merely arrives pre-indexed) — shared exact oracle.
    "q77_lsh_indexed" -> bruteForceTopkSql,

    // The full corpus-prep chain, each CTE the per-stage oracle (q52
    // mask / q24 score / q38 repetition / q39 contamination / q37
    // recursive-CC dedup / q40 quota / q41 packing) wired in DataPrep's
    // stage order over the scrubbed text; bench shingles come from RAW
    // text (prepare scrubs only the corpus side). Thresholds inline:
    // score >= 0.2, dup_word_frac <= 0.9, top bigram <= 50,
    // contamination > 0.5 drops, Jaccard >= 0.6, quota 20/lang,
    // context 256 over 8 shards.
    "q78_dataprep" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, lang,
        |         list_filter(string_split_regex(lower(regexp_replace(text,
        |             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |             '<email>', 'g')), '\s+'),
        |                     x -> length(x) > 0) AS t,
        |         regexp_replace(text,
        |             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |             '<email>', 'g') AS mtext
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, t[i] || ' ' || t[i+1] AS b
        |  FROM (SELECT doc_id, t, unnest(range(1, greatest(len(t), 1))) AS i
        |        FROM toks)),
        |top AS (
        |  SELECT doc_id, max(c) AS top_bigram_cnt FROM (
        |    SELECT doc_id, count(*) AS c FROM bg GROUP BY doc_id, b)
        |  GROUP BY doc_id),
        |qual AS (
        |  SELECT doc_id,
        |    CAST(len(t) AS BIGINT) AS n_words,
        |    CAST(len(t) AS DOUBLE) AS nt,
        |    CAST(len(list_filter(t, x -> list_contains(['the','and','of','to','in'], x))) AS DOUBLE) AS stops,
        |    CAST(list_aggregate(list_transform(t, x -> length(x)), 'sum') AS DOUBLE) AS sumlen,
        |    CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct_words
        |  FROM toks),
        |screened AS MATERIALIZED (
        |  SELECT toks.doc_id, toks.lang, toks.t, toks.mtext
        |  FROM toks JOIN qual ON toks.doc_id = qual.doc_id
        |  LEFT JOIN top ON toks.doc_id = top.doc_id
        |  WHERE (CASE WHEN qual.n_words = 0 THEN 0.0
        |         ELSE round(least(qual.nt / 100.0, 1.0) * 0.4
        |              + (qual.stops / qual.nt) * 0.3
        |              + greatest(0.0, 1.0 - abs(qual.sumlen / qual.nt - 5.0) / 5.0) * 0.3, 6)
        |         END) >= 0.2
        |    AND (CASE WHEN qual.n_words > 0
        |         THEN CAST(qual.n_words - qual.n_distinct_words AS DOUBLE)
        |              / CAST(qual.n_words AS DOUBLE)
        |         ELSE 0.0 END) <= 0.9
        |    AND coalesce(top.top_bigram_cnt, 0) <= 50),
        |sh5 AS (
        |  SELECT DISTINCT doc_id,
        |         t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
        |              || ' ' || t[i+4] AS s
        |  FROM (SELECT doc_id, t, unnest(range(1, greatest(len(t) - 3, 1))) AS i
        |        FROM screened)),
        |benchsh AS (
        |  SELECT DISTINCT t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
        |              || ' ' || t[i+4] AS s
        |  FROM (SELECT t, unnest(range(1, greatest(len(t) - 3, 1))) AS i
        |        FROM (SELECT list_filter(string_split_regex(lower(text), '\s+'),
        |                                 x -> length(x) > 0) AS t
        |              FROM documents WHERE doc_id % 97 = 0))),
        |contaminated AS (
        |  SELECT doc_id FROM (
        |    SELECT sh5.doc_id, count(*) AS n_sh, count(benchsh.s) AS n_hit
        |    FROM sh5 LEFT JOIN benchsh ON sh5.s = benchsh.s
        |    GROUP BY sh5.doc_id)
        |  WHERE CAST(n_hit AS DOUBLE) / CAST(n_sh AS DOUBLE) > 0.5),
        |clean AS MATERIALIZED (
        |  SELECT s.* FROM screened s
        |  LEFT JOIN contaminated c ON s.doc_id = c.doc_id
        |  WHERE c.doc_id IS NULL),
        |sh3 AS MATERIALIZED (
        |  SELECT doc_id, list(DISTINCT (t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
        |  FROM (SELECT doc_id, t, unnest(range(1, greatest(len(t) - 1, 1))) AS i
        |        FROM clean)
        |  GROUP BY doc_id),
        |ex3 AS MATERIALIZED (SELECT doc_id, len(s) AS n, unnest(s) AS g FROM sh3),
        |co AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |         any_value(a.n) AS n_a, any_value(b.n) AS n_b,
        |         CAST(count(*) AS BIGINT) AS n_common
        |  FROM ex3 a JOIN ex3 b
        |    ON a.g = b.g AND a.doc_id < b.doc_id
        |   AND 5 * least(a.n, b.n) >= 3 * greatest(a.n, b.n)
        |  GROUP BY 1, 2),
        |pairs AS MATERIALIZED (
        |  SELECT a_id, b_id FROM co
        |  WHERE CAST(n_common AS DOUBLE)
        |        / CAST(n_a + n_b - n_common AS DOUBLE) >= 0.6),
        |edges AS MATERIALIZED (
        |  SELECT a_id AS src, b_id AS dst FROM pairs
        |  UNION ALL
        |  SELECT b_id, a_id FROM pairs),
        |reach(src, dst) AS (
        |  SELECT doc_id, doc_id FROM clean
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |survivors AS (
        |  SELECT src AS doc_id FROM reach GROUP BY src HAVING min(dst) = src),
        |sampled AS (
        |  SELECT doc_id, lang, t, rk FROM (
        |    SELECT doc_id, lang, t,
        |           CAST(row_number() OVER (PARTITION BY lang
        |                                   ORDER BY md5(mtext), doc_id)
        |                AS BIGINT) AS rk
        |    FROM clean WHERE doc_id IN (SELECT doc_id FROM survivors)) q
        |  WHERE rk <= 20),
        |p AS (
        |  SELECT doc_id, lang, rk,
        |         CAST(doc_id % 8 AS BIGINT) AS shard,
        |         CAST(len(t) AS BIGINT) AS n_tokens
        |  FROM sampled),
        |o AS (
        |  SELECT doc_id, lang, rk, shard, n_tokens,
        |         sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |                             ROWS UNBOUNDED PRECEDING) - n_tokens
        |           AS tok_offset
        |  FROM p)
        |SELECT doc_id, lang, rk, shard, n_tokens,
        |       CAST(tok_offset AS BIGINT) AS tok_offset,
        |       CAST(tok_offset // 256 AS BIGINT) AS bin
        |FROM o ORDER BY doc_id""".stripMargin,

    // Exact recompute of the 12-token duplicated-window census and the
    // per-doc interval-union coverage — same tokenizer, same md5 window
    // keys (both engines hash identical UTF-8 bytes), 1-based positions.
    "q79_dup_spans" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |                       x -> length(x) > 0) AS t
        |  FROM documents),
        |sized AS (SELECT doc_id, t, len(t) AS n FROM toks),
        |wins AS (
        |  SELECT doc_id, i AS pos, md5(array_to_string(t[i:i+11], ' ')) AS wkey
        |  FROM (SELECT doc_id, t, n, unnest(range(1, greatest(n - 10, 1))) AS i
        |        FROM sized WHERE n >= 12)),
        |dup AS (SELECT wkey FROM wins GROUP BY wkey
        |        HAVING count(DISTINCT doc_id) >= 2),
        |dw AS (SELECT doc_id, pos FROM wins JOIN dup USING (wkey)),
        |wcnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dup_windows
        |         FROM dw GROUP BY doc_id),
        |cov AS (SELECT doc_id, CAST(count(DISTINCT p) AS BIGINT) AS covered_tokens
        |        FROM (SELECT doc_id, unnest(range(pos, pos + 12)) AS p FROM dw)
        |        GROUP BY doc_id)
        |SELECT s.doc_id, CAST(s.n AS BIGINT) AS n_tokens,
        |       coalesce(w.dup_windows, 0) AS dup_windows,
        |       coalesce(c.covered_tokens, 0) AS covered_tokens,
        |       round(CAST(coalesce(c.covered_tokens, 0) AS DOUBLE) / s.n, 6)
        |         AS dup_frac
        |FROM sized s
        |LEFT JOIN wcnt w USING (doc_id)
        |LEFT JOIN cov c USING (doc_id)
        |WHERE s.n > 0
        |ORDER BY s.doc_id""".stripMargin,

    // The cut step over the same census: tokens at covered positions
    // removed, text re-joined in position order, empty string when
    // everything was boilerplate.
    "q83_span_removal" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |                       x -> length(x) > 0) AS t
        |  FROM documents),
        |sized AS (SELECT doc_id, t, len(t) AS n FROM toks),
        |wins AS (
        |  SELECT doc_id, i AS pos, md5(array_to_string(t[i:i+11], ' ')) AS wkey
        |  FROM (SELECT doc_id, t, n, unnest(range(1, greatest(n - 10, 1))) AS i
        |        FROM sized WHERE n >= 12)),
        |dup AS (SELECT wkey FROM wins GROUP BY wkey
        |        HAVING count(DISTINCT doc_id) >= 2),
        |cov AS (SELECT DISTINCT doc_id, p FROM (
        |          SELECT doc_id, unnest(range(pos, pos + 12)) AS p
        |          FROM wins JOIN dup USING (wkey))),
        |tk AS (SELECT doc_id, i AS p, t[i] AS w
        |       FROM (SELECT doc_id, t, unnest(range(1, n + 1)) AS i
        |             FROM sized WHERE n > 0)),
        |clean AS (
        |  SELECT tk.doc_id,
        |         string_agg(tk.w, ' ' ORDER BY tk.p) AS clean_text,
        |         CAST(count(*) AS BIGINT) AS n_kept
        |  FROM tk
        |  LEFT JOIN cov ON tk.doc_id = cov.doc_id AND tk.p = cov.p
        |  WHERE cov.p IS NULL
        |  GROUP BY tk.doc_id)
        |SELECT s.doc_id,
        |       coalesce(c.clean_text, '') AS clean_text,
        |       coalesce(c.n_kept, 0) AS n_kept
        |FROM sized s LEFT JOIN clean c USING (doc_id)
        |WHERE s.n > 0
        |ORDER BY s.doc_id""".stripMargin,

    // q37's recursive-closure pattern over q22's bit-identical cosine:
    // within-label pairs ≥ 0.40 → transitive closure → least-id
    // survivors (NULL sims from zero norms fail the >= and never edge).
    // Scale-capable form (the all-pairs interpreted-lambda cosine blew the
    // sf1 oracle budget; the engine had already completed): a vectorized
    // FLOAT[64] cosine prescreen keeps pairs ≥ 0.399, only the narrow
    // [0.399, 0.401) band is re-verified with the original exact double
    // formula — float32 accumulation over 64 dims is within ~4e-6 of the
    // double value, so verdicts outside the band are provably identical.
    // Before the recursive closure, one hooking step (every node → min of
    // itself and its neighbors) contracts the dense ≥0.40 components to a
    // handful of supernodes: the component minimum hooks to itself (all
    // its neighbors are larger), so component minima — the survivor ids —
    // are preserved exactly, while `reach` shrinks from Σ|component|² rows
    // to the contracted closure. Validated identical to the all-pairs
    // form at sf1 (11 s vs >240 s).
    "q84_semantic_dedup" ->
      """WITH RECURSIVE e AS MATERIALIZED (
        |  SELECT vec_id, label, CAST(embedding AS FLOAT[64]) AS emb64
        |  FROM embeddings),
        |cand AS MATERIALIZED (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |         array_cosine_similarity(a.emb64, b.emb64) AS fsim
        |  FROM e a JOIN e b
        |    ON a.label = b.label AND a.vec_id < b.vec_id
        |  WHERE array_cosine_similarity(a.emb64, b.emb64) >= 0.399),
        |p AS MATERIALIZED (
        |  SELECT a_id, b_id FROM cand WHERE fsim >= 0.401
        |  UNION ALL
        |  SELECT c.a_id, c.b_id
        |  FROM cand c
        |  JOIN embeddings a ON a.vec_id = c.a_id
        |  JOIN embeddings b ON b.vec_id = c.b_id
        |  WHERE c.fsim < 0.401
        |    AND list_aggregate(list_transform(list_zip(a.embedding, b.embedding),
        |            x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum')
        |    / (sqrt(list_aggregate(list_transform(a.embedding,
        |          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
        |     * sqrt(list_aggregate(list_transform(b.embedding,
        |          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))) >= 0.40),
        |hook AS MATERIALIZED (
        |  SELECT v, least(v, min(nbr)) AS hv FROM (
        |    SELECT a_id AS v, b_id AS nbr FROM p
        |    UNION ALL SELECT b_id, a_id FROM p)
        |  GROUP BY v),
        |edges AS MATERIALIZED (
        |  SELECT hv_a AS src, hv_b AS dst FROM (
        |    SELECT DISTINCT ha.hv AS hv_a, hb.hv AS hv_b
        |    FROM p JOIN hook ha ON p.a_id = ha.v JOIN hook hb ON p.b_id = hb.v
        |    WHERE ha.hv <> hb.hv)
        |  UNION ALL
        |  SELECT hv_b, hv_a FROM (
        |    SELECT DISTINCT ha.hv AS hv_a, hb.hv AS hv_b
        |    FROM p JOIN hook ha ON p.a_id = ha.v JOIN hook hb ON p.b_id = hb.v
        |    WHERE ha.hv <> hb.hv)),
        |reach(src, dst) AS (
        |  SELECT DISTINCT hv, hv FROM hook
        |  UNION
        |  SELECT r.src, e2.dst FROM reach r JOIN edges e2 ON r.dst = e2.src),
        |cmin AS (SELECT src AS hv, min(dst) AS comp_min FROM reach GROUP BY src),
        |lbl AS (
        |  SELECT emb.vec_id AS vid,
        |         coalesce(cmin.comp_min, emb.vec_id) AS comp_min
        |  FROM embeddings emb
        |  LEFT JOIN hook ON hook.v = emb.vec_id
        |  LEFT JOIN cmin ON cmin.hv = hook.hv)
        |SELECT l.vid AS vec_id, emb.label
        |FROM lbl l JOIN embeddings emb ON emb.vec_id = l.vid
        |WHERE l.vid = l.comp_min
        |ORDER BY vec_id""".stripMargin,

    "q85_bm25" -> bm25OracleSql,

    "q94_bm25_indexed" -> bm25OracleSql,

    // The round-trip is the identity on (doc_id, meta, toks) — the oracle
    // is the same aggregate straight off the parquet table.
    "q95_jsonl_roundtrip" ->
      """SELECT lang, source, count(*) AS n_docs,
        |       CAST(sum(len(list_filter(string_split_regex(lower(text), '\s+'),
        |                x -> length(x) > 0))) AS BIGINT) AS total_toks,
        |       max(n_chars) AS max_chars
        |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // One UNION ALL branch per profiled column; min/max on the native
    // type, cast to VARCHAR only at the end — same as the Spark side.
    "q96_audit_profile" ->
      Seq("doc_id", "text", "lang", "source", "n_chars").map(c =>
        s"""SELECT '$c' AS "column", count(*) AS n_rows,
           |  CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  CAST(min($c) AS VARCHAR) AS min_s,
           |  CAST(max($c) AS VARCHAR) AS max_s
           |FROM documents""".stripMargin)
        .mkString("", "\nUNION ALL\n", "\nORDER BY \"column\""),

    // Same reconcile shape: per-side distinct-key counts, full outer
    // join (USING k coalesces, NULL groups never match), one aggregate,
    // 7 fixed rows.
    "q97_audit_integrity" ->
      """WITH l AS (SELECT doc_id AS k, count(*) AS lcnt
        |           FROM documents GROUP BY 1),
        |r AS (SELECT vec_id AS k, count(*) AS rcnt
        |      FROM embeddings GROUP BY 1),
        |j AS (SELECT k, lcnt, rcnt FROM l FULL OUTER JOIN r USING (k)),
        |agg AS (SELECT
        |  coalesce(sum(CASE WHEN k IS NULL THEN lcnt END), 0) AS left_null_keys,
        |  coalesce(sum(CASE WHEN k IS NULL THEN rcnt END), 0) AS right_null_keys,
        |  count(CASE WHEN k IS NOT NULL AND lcnt > 1 THEN 1 END) AS left_dup_keys,
        |  count(CASE WHEN k IS NOT NULL AND rcnt > 1 THEN 1 END) AS right_dup_keys,
        |  count(CASE WHEN k IS NOT NULL AND lcnt IS NOT NULL
        |             AND rcnt IS NULL THEN 1 END) AS left_orphans,
        |  count(CASE WHEN k IS NOT NULL AND lcnt IS NULL
        |             AND rcnt IS NOT NULL THEN 1 END) AS right_orphans,
        |  count(CASE WHEN k IS NOT NULL AND lcnt IS NOT NULL
        |             AND rcnt IS NOT NULL THEN 1 END) AS matched_keys
        |  FROM j)
        |SELECT "check", CAST(n AS BIGINT) AS n FROM (
        |  SELECT 'left_null_keys' AS "check", left_null_keys AS n FROM agg
        |  UNION ALL SELECT 'right_null_keys', right_null_keys FROM agg
        |  UNION ALL SELECT 'left_dup_keys', left_dup_keys FROM agg
        |  UNION ALL SELECT 'right_dup_keys', right_dup_keys FROM agg
        |  UNION ALL SELECT 'left_orphans', left_orphans FROM agg
        |  UNION ALL SELECT 'right_orphans', right_orphans FROM agg
        |  UNION ALL SELECT 'matched_keys', matched_keys FROM agg)
        |ORDER BY "check"""".stripMargin,

    // Inclusive running-sum boundary (cum <= 2000) over (md5(text),
    // doc_id) order per source — the pass-through/window split is a plan
    // optimization, invisible to results.
    "q98_token_budget" ->
      """WITH toks AS (
        |  SELECT doc_id, source, md5(text) AS h,
        |         CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
        |                  x -> length(x) > 0)) AS BIGINT) AS w
        |  FROM documents),
        |c AS (SELECT doc_id, source,
        |             sum(w) OVER (PARTITION BY source ORDER BY h, doc_id
        |                          ROWS UNBOUNDED PRECEDING) AS cum
        |      FROM toks)
        |SELECT doc_id, source FROM c WHERE cum <= 2000 ORDER BY doc_id""".stripMargin,

    // quantile_cont's linear interpolation over integer token counts is
    // exact double arithmetic — bit-identical to Spark's percentile.
    "q99_adaptive_floor" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
        |                  x -> length(x) > 0)) AS BIGINT) AS n_tokens
        |  FROM documents),
        |thr AS (SELECT quantile_cont(n_tokens, 0.25) AS t FROM toks)
        |SELECT doc_id, n_tokens FROM toks
        |WHERE n_tokens >= (SELECT t FROM thr) ORDER BY doc_id""".stripMargin,

    // Mean is exact integer-derived; stddev accumulation order is
    // engine-specific in the last ulp — round-6 armor (q30 pattern).
    "q100_hourly_anomaly" ->
      """WITH h AS (
        |  SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)),
        |                  '%Y-%m-%d %H:%M:%S') AS bucket_start,
        |         count(*) AS n_events
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
        |s AS (SELECT avg(n_events) AS mu, stddev_samp(n_events) AS sd FROM h)
        |SELECT bucket_start, n_events,
        |       CASE WHEN (SELECT sd FROM s) IS NULL OR (SELECT sd FROM s) = 0
        |            THEN NULL
        |            ELSE round((n_events - (SELECT mu FROM s))
        |                       / (SELECT sd FROM s), 6) END AS z
        |FROM h ORDER BY bucket_start""".stripMargin,

    // Bucket = floor(epoch/21600): DuckDB's fractional epoch can't push
    // floor past Spark's truncated-long bucket (int s < multiple ⇒
    // s+frac < multiple). Per-bucket "last" is the greatest (ts,
    // event_id) row — row_number mirrors Spark's max_by(struct). LOCF
    // via IGNORE NULLS window ≡ Spark's last(ignoreNulls); a NULL
    // observed value is looked through identically on both sides.
    "q101_resample_locf" ->
      """WITH obs AS (
        |  SELECT user_id,
        |         CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 21600) AS BIGINT)
        |           AS b,
        |         value, ts, event_id
        |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |lastv AS (
        |  SELECT user_id, b, value AS v FROM (
        |    SELECT user_id, b, value,
        |           row_number() OVER (PARTITION BY user_id, b
        |                              ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM obs) WHERE rn = 1),
        |rng AS (SELECT user_id, min(b) AS lo, max(b) AS hi
        |        FROM lastv GROUP BY 1),
        |grid AS (SELECT user_id, unnest(generate_series(lo, hi)) AS b
        |         FROM rng),
        |f AS (SELECT g.user_id, g.b,
        |             last_value(l.v IGNORE NULLS)
        |               OVER (PARTITION BY g.user_id ORDER BY g.b
        |                     ROWS BETWEEN UNBOUNDED PRECEDING
        |                     AND CURRENT ROW) AS value
        |      FROM grid g LEFT JOIN lastv l USING (user_id, b))
        |SELECT user_id,
        |       strftime(make_timestamp(b * 21600 * 1000000),
        |                '%Y-%m-%d %H:%M:%S') AS bucket_start,
        |       value
        |FROM f ORDER BY user_id, bucket_start""".stripMargin,

    // Both engines lowercase + substring the same ASCII codepoints and
    // implement unit-cost Levenshtein; UNION (not UNION ALL) mirrors
    // Spark's .distinct() over doubly-blocked pairs. Pass 2's length
    // guard keeps short heads out of the empty-suffix block on both
    // sides.
    "q102_fuzzy_pairs" -> fuzzyPairsOracleSql,

    // Shares q102's exact oracle: the indexed probe goes through the
    // same matchBlocks core over the same block rows, so persisted ≡
    // self-contained (the q75/q76/q77 pattern).
    "q111_fuzzy_indexed" -> fuzzyPairsOracleSql,

    // row_number over the full term frequency in (freq DESC, token)
    // order equals Spark's row_number over the pre-limited top-k — the
    // order is total (tokens unique after GROUP BY), so the first k
    // ids coincide.
    "q103_vocab" -> vocabOracleSql,

    // Shares q103's exact oracle: ranking the merged (history-tf ∪
    // batch-tf) partials must equal the from-scratch vocab — term
    // counts are additive, the q104 algebraic argument applied to text.
    "q109_vocab_merge" -> vocabOracleSql,

    // quantile_cont shares Spark percentile's type-7 convention; 6-dp
    // rounding absorbs the engines' different association of the
    // interpolation arithmetic.
    "q112_group_quantiles" ->
      """SELECT event_type,
        |       round(quantile_cont(value, 0.5), 6) AS p50,
        |       round(quantile_cont(value, 0.9), 6) AS p90
        |FROM events WHERE value IS NOT NULL
        |GROUP BY 1 ORDER BY event_type""".stripMargin,

    // Bucket counts are exact BIGINTs on both sides; lift is one IEEE
    // division of exact ints (n_ab·N as BIGINT product), rounded 6 dp.
    "q115_cooccurrence" ->
      """WITH cells AS (
        |  SELECT DISTINCT user_id AS u,
        |         CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 3600)
        |              AS BIGINT) AS b,
        |         event_type AS t
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_type IS NOT NULL),
        |nb AS (SELECT count(*) AS n FROM
        |        (SELECT DISTINCT u, b FROM cells)),
        |m AS (SELECT t, count(*) AS cnt FROM cells GROUP BY 1),
        |p AS (
        |  SELECT a.t AS type_a, c.t AS type_b, count(*) AS n_ab
        |  FROM cells a JOIN cells c ON a.u = c.u AND a.b = c.b
        |  WHERE a.t < c.t GROUP BY 1, 2)
        |SELECT p.type_a, p.type_b, p.n_ab,
        |       round(p.n_ab * (SELECT n FROM nb)
        |             / (ma.cnt * mb.cnt), 6) AS lift
        |FROM p
        |JOIN m ma ON ma.t = p.type_a
        |JOIN m mb ON mb.t = p.type_b
        |ORDER BY type_a, type_b""".stripMargin,

    // Window ids from floor-second epochs: Spark's cast-to-long
    // truncation ≡ DuckDB's floor(epoch) for positive epochs; the
    // first-event anchor is a running first_value over the same
    // (ts, event_id) total order.
    "q113_debounce" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type,
        |         CAST(ts AS TIMESTAMP) AS tsu,
        |         CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS es
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |g AS (
        |  SELECT *, first_value(es) OVER (
        |           PARTITION BY user_id, event_type
        |           ORDER BY tsu, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fs
        |  FROM e),
        |k AS (
        |  SELECT *, row_number() OVER (
        |           PARTITION BY user_id, event_type,
        |                        CAST(floor((es - fs) / 300) AS BIGINT)
        |           ORDER BY tsu, event_id) AS rn
        |  FROM g)
        |SELECT event_id, user_id, event_type,
        |       strftime(tsu, '%Y-%m-%d %H:%M:%S') AS ts_s
        |FROM k WHERE rn = 1 ORDER BY event_id""".stripMargin,

    // ntile is pure rank arithmetic over the (value, event_id) total
    // order — identical bucket boundaries in both engines; bounds are
    // order-free min/max doubles.
    "q110_value_deciles" ->
      """WITH b AS (
        |  SELECT event_type, value,
        |         CAST(ntile(10) OVER (PARTITION BY event_type
        |                              ORDER BY value, event_id)
        |              AS BIGINT) AS bin
        |  FROM events WHERE value IS NOT NULL)
        |SELECT event_type, bin, count(*) AS n,
        |       min(value) AS min_v, max(value) AS max_v
        |FROM b GROUP BY 1, 2
        |ORDER BY event_type, bin""".stripMargin,

    // The oracle recomputes from ALL events — the maintained invariant
    // is merged(history rollup, batch partial) ≡ from-scratch. count is
    // exact; min/max of doubles are order-free (no float-sum drift).
    "q104_rollup_merge" ->
      """SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, event_type,
        |       count(*) AS n, min(value) AS min_v, max(value) AS max_v
        |FROM events WHERE ts IS NOT NULL
        |GROUP BY 1, 2
        |ORDER BY day, event_type""".stripMargin,

    // lag over (ts, event_id) — a total order, so adjacency is
    // engine-independent; first events drop out via the NULL src filter.
    "q105_transitions" ->
      """WITH s AS (
        |  SELECT user_id, event_type,
        |         lag(event_type) OVER (PARTITION BY user_id
        |                               ORDER BY ts, event_id) AS src
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL)
        |SELECT src, event_type AS dst, count(*) AS n
        |FROM s WHERE src IS NOT NULL
        |GROUP BY 1, 2 ORDER BY src, dst""".stripMargin,

    // n/total is one IEEE double division of two exact ints — bit-equal
    // both sides; ordering happens on the native key (NULLS FIRST
    // pinned), the string cast is output-schema-only.
    "q106_skew_profile" ->
      """WITH c AS (SELECT user_id AS k, count(*) AS n
        |           FROM events GROUP BY 1),
        |t AS (SELECT sum(n) AS total FROM c)
        |SELECT CAST(k AS VARCHAR) AS key, n,
        |       round(n / (SELECT total FROM t), 6) AS share,
        |       CAST(row_number() OVER (ORDER BY n DESC, k ASC NULLS FIRST)
        |            AS BIGINT) AS rank
        |FROM c ORDER BY rank LIMIT 20""".stripMargin,

    // The vocab CTE replays q103 (row_number over the full tf in the
    // same total order ≡ the pre-limited top-k); generate_subscripts +
    // unnest zip positionally (Postgres semantics), and the ordered
    // string_agg rebuilds the exact space-joined id sequence Spark
    // hashes. Empty-token docs drop out on both sides.
    "q107_encode_vocab" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text),
        |             '\s+'), x -> length(x) > 0) AS tl
        |  FROM documents WHERE text IS NOT NULL),
        |tf AS (
        |  SELECT t AS token, count(*) AS freq FROM (
        |    SELECT unnest(tl) AS t FROM toks) GROUP BY 1),
        |vocab AS (
        |  SELECT token,
        |         row_number() OVER (ORDER BY freq DESC, token) AS id
        |  FROM tf QUALIFY id <= 500),
        |ex AS (
        |  SELECT doc_id, generate_subscripts(tl, 1) AS pos,
        |         unnest(tl) AS tok
        |  FROM toks WHERE len(tl) > 0),
        |ids AS (
        |  SELECT e.doc_id, e.pos, coalesce(v.id, 0) AS tid
        |  FROM ex e LEFT JOIN vocab v ON e.tok = v.token)
        |SELECT doc_id,
        |       CAST(count(*) AS BIGINT) AS n_tokens,
        |       CAST(sum(CASE WHEN tid = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_oov,
        |       md5(string_agg(CAST(tid AS VARCHAR), ' ' ORDER BY pos))
        |         AS ids_md5
        |FROM ids GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Exact leave-one-out kNN: both engines fold the dot/norm in array
    // order (bit-identical, the q19 contract) and round sims to 6 dp
    // before ranking; vote ties break to the smallest label.
    "q108_knn_classify" ->
      """WITH base AS (
        |  SELECT vec_id, embedding, label FROM embeddings
        |  WHERE embedding IS NOT NULL AND label IS NOT NULL
        |    AND vec_id < 1000),
        |s AS (
        |  SELECT q.vec_id AS q_id, q.label AS q_label,
        |         c.vec_id AS nn_id, c.label AS nn_label,
        |         round(
        |           list_aggregate(list_transform(
        |               list_zip(q.embedding, c.embedding),
        |               x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)),
        |             'sum')
        |           / nullif(
        |               sqrt(list_aggregate(list_transform(q.embedding,
        |                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
        |             * sqrt(list_aggregate(list_transform(c.embedding,
        |                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')),
        |               0), 6) AS sim
        |  FROM base q JOIN base c ON q.vec_id <> c.vec_id),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY q_id
        |                               ORDER BY sim DESC, nn_id) AS rank
        |  FROM s),
        |v AS (
        |  SELECT q_id, q_label, nn_label, count(*) AS votes
        |  FROM r WHERE rank <= 5 GROUP BY 1, 2, 3),
        |p AS (
        |  SELECT *, row_number() OVER (PARTITION BY q_id
        |                               ORDER BY votes DESC, nn_label) AS vr
        |  FROM v)
        |SELECT q_id AS vec_id, q_label AS label, nn_label AS pred,
        |       CAST(q_label = nn_label AS BIGINT) AS correct
        |FROM p WHERE vr = 1 ORDER BY vec_id""".stripMargin,

    // q108's classified sample folded to cells; share = one int/int
    // IEEE division rounded 6 dp, within-label totals joined back.
    "q116_confusion" ->
      """WITH base AS (
        |  SELECT vec_id, embedding, label FROM embeddings
        |  WHERE embedding IS NOT NULL AND label IS NOT NULL
        |    AND vec_id < 1000),
        |s AS (
        |  SELECT q.vec_id AS q_id, q.label AS q_label,
        |         c.vec_id AS nn_id, c.label AS nn_label,
        |         round(
        |           list_aggregate(list_transform(
        |               list_zip(q.embedding, c.embedding),
        |               x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)),
        |             'sum')
        |           / nullif(
        |               sqrt(list_aggregate(list_transform(q.embedding,
        |                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
        |             * sqrt(list_aggregate(list_transform(c.embedding,
        |                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')),
        |               0), 6) AS sim
        |  FROM base q JOIN base c ON q.vec_id <> c.vec_id),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY q_id
        |                               ORDER BY sim DESC, nn_id) AS rank
        |  FROM s),
        |v AS (
        |  SELECT q_id, q_label, nn_label, count(*) AS votes
        |  FROM r WHERE rank <= 5 GROUP BY 1, 2, 3),
        |p AS (
        |  SELECT *, row_number() OVER (PARTITION BY q_id
        |                               ORDER BY votes DESC, nn_label) AS vr
        |  FROM v),
        |cls AS (SELECT q_label AS label, nn_label AS pred
        |        FROM p WHERE vr = 1),
        |tot AS (SELECT label, count(*) AS rn FROM cls GROUP BY 1)
        |SELECT c.label, c.pred, count(*) AS n,
        |       round(count(*) / any_value(t.rn), 6) AS share
        |FROM cls c JOIN tot t USING (label)
        |GROUP BY c.label, c.pred
        |ORDER BY label, pred""".stripMargin,

    // The two-level chained checksum replays as two ordered string_agg
    // levels: per-row md5 hex digests chained in id order within each
    // id-derived bucket (doc_id // 16 mirrors `_id div 16`), then
    // bucket digests chained in bucket order — both engines hash
    // identical UTF-8 bytes in the same total order. coalesce('-')
    // mirrors the engine's NULL-content sentinel.
    "q118_manifest" ->
      """WITH h AS (
        |  SELECT doc_id % 8 AS shard, doc_id, doc_id // 16 AS bkt,
        |         coalesce(md5(text), '-') AS hh
        |  FROM documents),
        |b AS (
        |  SELECT shard, bkt, count(*) AS n,
        |         md5(string_agg(hh, '' ORDER BY doc_id, hh)) AS bh
        |  FROM h GROUP BY shard, bkt)
        |SELECT shard, CAST(sum(n) AS BIGINT) AS n_rows,
        |       md5(string_agg(bh, '' ORDER BY bkt)) AS checksum
        |FROM b GROUP BY shard ORDER BY shard""".stripMargin,

    // q108's vote fed through the ANN path at full probe coverage:
    // nprobe = centroid count makes the IVF candidate set exhaustive,
    // so the result IS the exact leave-one-out vote — ranked here on
    // UNROUNDED sims (the raw array-order folds are bit-identical in
    // both engines, the q19 contract; topKFromCells never rounds).
    "q119_knn_classify_ann" ->
      (knnNeighborCtesSql + """,
        |v AS (
        |  SELECT q_id, q_label, nn_label, count(*) AS votes
        |  FROM r WHERE rank <= 5 GROUP BY 1, 2, 3),
        |p AS (
        |  SELECT *, row_number() OVER (PARTITION BY q_id
        |                               ORDER BY votes DESC, nn_label) AS vr
        |  FROM v)
        |SELECT q_id AS vec_id, q_label AS label, nn_label AS pred,
        |       CAST(q_label = nn_label AS BIGINT) AS correct
        |FROM p WHERE vr = 1 ORDER BY vec_id""".stripMargin),

    // q160 extends the q119 chain: own-label vote share per probe, the
    // strongest competing label, flag below the rounded 0.2 share.
    "q160_label_noise" ->
      (knnNeighborCtesSql + """,
        |nn AS (SELECT q_id, q_label, nn_label FROM r WHERE rank <= 5),
        |agg AS (
        |  SELECT q_id, q_label, CAST(count(*) AS BIGINT) AS n_votes,
        |         CAST(sum(CASE WHEN nn_label = q_label THEN 1 ELSE 0 END)
        |              AS BIGINT) AS own_votes
        |  FROM nn GROUP BY 1, 2),
        |ov AS (
        |  SELECT q_id, nn_label, votes,
        |         row_number() OVER (PARTITION BY q_id
        |                            ORDER BY votes DESC, nn_label) AS r
        |  FROM (SELECT q_id, nn_label, CAST(count(*) AS BIGINT) AS votes
        |        FROM nn WHERE nn_label <> q_label GROUP BY 1, 2))
        |SELECT a.q_id AS vec_id, a.q_label AS label, a.n_votes,
        |       a.own_votes,
        |       round(CAST(a.own_votes AS DOUBLE)
        |             / CAST(a.n_votes AS DOUBLE), 6) AS own_frac,
        |       o.nn_label AS top_other,
        |       coalesce(o.votes, 0) AS other_votes
        |FROM agg a LEFT JOIN ov o ON o.q_id = a.q_id AND o.r = 1
        |WHERE round(CAST(a.own_votes AS DOUBLE)
        |            / CAST(a.n_votes AS DOUBLE), 6)
        |      < CAST(0.2 AS DOUBLE)
        |ORDER BY vec_id""".stripMargin),

    // Both rankers replayed (the q85 BM25 CTEs, the q19-convention
    // dense rank), then the fusion: coalesced 1/(60+rank) terms summed
    // lexical-then-dense (the engine's fixed order), rounded 6 dp
    // before the fused ranking.
    "q128_rrf_fusion" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |                       x -> length(x) > 0) AS t
        |  FROM documents),
        |lens AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM toks),
        |stats AS (SELECT count(*) AS n,
        |                 CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
        |          FROM lens),
        |post AS (
        |  SELECT doc_id, term FROM (
        |    SELECT doc_id, unnest(t) AS term FROM toks)
        |  WHERE term IN ('dup', 'key', 'window')),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |       FROM post GROUP BY 1, 2),
        |idf AS (
        |  SELECT term,
        |         ln(1.0 + ((SELECT n FROM stats) - CAST(count(*) AS DOUBLE) + 0.5)
        |                  / (CAST(count(*) AS DOUBLE) + 0.5)) AS idf
        |  FROM tf GROUP BY term),
        |scored AS (
        |  SELECT tf.doc_id,
        |         idf.idf * tf.tf /
        |           (tf.tf + 1.2 * (0.25 + 0.75 * lens.dl / (SELECT avgdl FROM stats)))
        |           AS s
        |  FROM tf JOIN idf USING (term) JOIN lens USING (doc_id)),
        |lex AS (
        |  SELECT doc_id,
        |         CAST(row_number() OVER (
        |           ORDER BY round(sum(s), 6) DESC, doc_id) AS BIGINT) AS ra
        |  FROM scored GROUP BY doc_id
        |  ORDER BY ra LIMIT 20),
        |qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 0),
        |dense AS (
        |  SELECT vec_id AS doc_id,
        |         CAST(row_number() OVER (ORDER BY
        |           list_aggregate(list_transform(list_zip(embedding, (SELECT q FROM qv)),
        |               x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum')
        |           / nullif(
        |               sqrt(list_aggregate(list_transform(embedding,
        |                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
        |             * sqrt(list_aggregate(list_transform((SELECT q FROM qv),
        |                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')), 0)
        |           DESC NULLS LAST, vec_id) AS BIGINT) AS rb
        |  FROM embeddings ORDER BY rb LIMIT 20),
        |fused AS (
        |  SELECT coalesce(l.doc_id, de.doc_id) AS doc_id,
        |         round(coalesce(1.0 / (60 + l.ra), 0)
        |             + coalesce(1.0 / (60 + de.rb), 0), 6) AS rrf_score
        |  FROM lex l FULL OUTER JOIN dense de ON l.doc_id = de.doc_id)
        |SELECT doc_id, rrf_score,
        |       CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id)
        |            AS BIGINT) AS rank
        |FROM fused ORDER BY rank LIMIT 10""".stripMargin,

    // The padded-batch replay: shard by id mod, rank by (len, id)
    // within shard, cut batchSize runs, pad to each batch's max.
    "q127_pad_batches" ->
      """WITH d AS (
        |  SELECT doc_id, doc_id % 4 AS shard,
        |         CAST(len(list_filter(string_split_regex(lower(text),
        |              '\s+'), x -> length(x) > 0)) AS BIGINT) AS n_tokens
        |  FROM documents WHERE text IS NOT NULL),
        |r AS (
        |  SELECT *, (row_number() OVER (PARTITION BY shard
        |             ORDER BY n_tokens, doc_id) - 1) // 8 AS batch
        |  FROM d)
        |SELECT shard, batch, count(*) AS n_docs,
        |       max(n_tokens) AS max_len,
        |       CAST(sum(n_tokens) AS BIGINT) AS sum_len,
        |       CAST(count(*) * max(n_tokens) - sum(n_tokens) AS BIGINT)
        |         AS padding
        |FROM r GROUP BY shard, batch
        |ORDER BY shard, batch""".stripMargin,

    // The merged read NULL-fills the grown column for pre-evolution
    // rows — the oracle recomputes both generations' aggregates from
    // the source table (gen 1 never had event_type → 0 non-NULLs).
    "q126_schema_merge" ->
      """SELECT CAST(1 AS INTEGER) AS gen, count(*) AS n_rows,
        |       count(user_id) AS n_user, CAST(0 AS BIGINT) AS n_type
        |FROM events WHERE event_id % 2 = 0
        |UNION ALL
        |SELECT CAST(2 AS INTEGER), count(*), count(user_id),
        |       count(event_type)
        |FROM events WHERE event_id % 2 = 1
        |ORDER BY gen""".stripMargin,

    // The q108 vote replayed (rounded sims — the knnClassify path),
    // then the report: per-class exact counts, IEEE divisions in the
    // same fixed order as the engine (f1 from UNROUNDED p/r), NULL for
    // the undefined axes, 0.0 for the honest zeros.
    "q125_class_report" ->
      """WITH base AS (
        |  SELECT vec_id, embedding, label FROM embeddings
        |  WHERE embedding IS NOT NULL AND label IS NOT NULL
        |    AND vec_id < 1000),
        |s AS (
        |  SELECT q.vec_id AS q_id, q.label AS q_label,
        |         c.vec_id AS nn_id, c.label AS nn_label,
        |         round(
        |           list_aggregate(list_transform(
        |               list_zip(q.embedding, c.embedding),
        |               x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)),
        |             'sum')
        |           / nullif(
        |               sqrt(list_aggregate(list_transform(q.embedding,
        |                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
        |             * sqrt(list_aggregate(list_transform(c.embedding,
        |                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')),
        |               0), 6) AS sim
        |  FROM base q JOIN base c ON q.vec_id <> c.vec_id),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY q_id
        |                               ORDER BY sim DESC, nn_id) AS rank
        |  FROM s),
        |v AS (
        |  SELECT q_id, q_label, nn_label, count(*) AS votes
        |  FROM r WHERE rank <= 5 GROUP BY 1, 2, 3),
        |p AS (
        |  SELECT *, row_number() OVER (PARTITION BY q_id
        |                               ORDER BY votes DESC, nn_label) AS vr
        |  FROM v),
        |cls AS (SELECT q_label AS label, nn_label AS pred FROM p WHERE vr = 1),
        |truth AS (SELECT label AS class, count(*) AS support FROM cls GROUP BY 1),
        |predicted AS (SELECT pred AS class, count(*) AS pred_n FROM cls GROUP BY 1),
        |diag AS (SELECT label AS class, count(*) AS dg
        |         FROM cls WHERE label = pred GROUP BY 1),
        |rep AS (
        |  SELECT coalesce(t.class, pr.class) AS class,
        |         CAST(coalesce(t.support, 0) AS BIGINT) AS support,
        |         coalesce(d.dg, 0) / CAST(pr.pred_n AS DOUBLE) AS px,
        |         coalesce(d.dg, 0) / CAST(t.support AS DOUBLE) AS rx
        |  FROM truth t
        |  FULL OUTER JOIN predicted pr ON t.class = pr.class
        |  LEFT JOIN diag d ON coalesce(t.class, pr.class) = d.class)
        |SELECT class, support,
        |       round(px, 6) AS precision,
        |       round(rx, 6) AS recall,
        |       round(2 * px * rx / nullif(px + rx, 0), 6) AS f1
        |FROM rep ORDER BY class""".stripMargin,

    // q129 extends the q116 classified-sample chain with the kappa
    // algebra: κ's numerator and denominator cleared of both N
    // divisions — (N·diag − Σ support·predicted)/(N² − Σ·) — so all
    // three stats are exact-integer until their single final division.
    "q129_cohens_kappa" ->
      """WITH base AS (
        |  SELECT vec_id, embedding, label FROM embeddings
        |  WHERE embedding IS NOT NULL AND label IS NOT NULL
        |    AND vec_id < 1000),
        |s AS (
        |  SELECT q.vec_id AS q_id, q.label AS q_label,
        |         c.vec_id AS nn_id, c.label AS nn_label,
        |         round(
        |           list_aggregate(list_transform(
        |               list_zip(q.embedding, c.embedding),
        |               x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)),
        |             'sum')
        |           / nullif(
        |               sqrt(list_aggregate(list_transform(q.embedding,
        |                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
        |             * sqrt(list_aggregate(list_transform(c.embedding,
        |                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')),
        |               0), 6) AS sim
        |  FROM base q JOIN base c ON q.vec_id <> c.vec_id),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY q_id
        |                               ORDER BY sim DESC, nn_id) AS rank
        |  FROM s),
        |v AS (
        |  SELECT q_id, q_label, nn_label, count(*) AS votes
        |  FROM r WHERE rank <= 5 GROUP BY 1, 2, 3),
        |p AS (
        |  SELECT *, row_number() OVER (PARTITION BY q_id
        |                               ORDER BY votes DESC, nn_label) AS vr
        |  FROM v),
        |cls AS (SELECT q_label AS label, nn_label AS pred FROM p WHERE vr = 1),
        |truth AS (SELECT label AS class, count(*) AS sup FROM cls GROUP BY 1),
        |predicted AS (SELECT pred AS class, count(*) AS prd FROM cls GROUP BY 1),
        |sj AS (
        |  SELECT coalesce(sum(t.sup * pr.prd), 0) AS s
        |  FROM truth t JOIN predicted pr ON t.class = pr.class),
        |tot AS (
        |  SELECT count(*) AS n,
        |         coalesce(sum(CASE WHEN label = pred THEN 1 ELSE 0 END), 0)
        |           AS diag
        |  FROM cls)
        |SELECT CAST(n AS BIGINT) AS n,
        |       round(CAST(diag AS DOUBLE)
        |             / nullif(CAST(n AS DOUBLE), 0), 6) AS po,
        |       round(CAST(s AS DOUBLE)
        |             / nullif(CAST(n * n AS DOUBLE), 0), 6) AS pe,
        |       round(CAST(n * diag - s AS DOUBLE)
        |             / nullif(CAST(n * n - s AS DOUBLE), 0), 6) AS kappa
        |FROM tot, sj""".stripMargin,

    // q130 replays the doubled-rank Mann–Whitney AUC: ranks over the
    // (score, id) total order, tie groups averaged via min+max of the
    // row_numbers (always integer when doubled), one float division.
    "q130_roc_auc" ->
      """WITH base AS (
        |  SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS score,
        |         CASE WHEN label = 0 THEN 1 ELSE 0 END AS pos
        |  FROM embeddings
        |  WHERE embedding IS NOT NULL AND label IS NOT NULL
        |    AND embedding[1] IS NOT NULL AND vec_id < 1000),
        |rn AS (
        |  SELECT pos, score,
        |         row_number() OVER (ORDER BY score, vec_id) AS rn
        |  FROM base),
        |dr AS (
        |  SELECT pos,
        |         min(rn) OVER (PARTITION BY score)
        |           + max(rn) OVER (PARTITION BY score) AS dr
        |  FROM rn),
        |agg AS (
        |  SELECT coalesce(sum(pos), 0) AS p,
        |         coalesce(sum(1 - pos), 0) AS m,
        |         coalesce(sum(CASE WHEN pos = 1 THEN dr END), 0) AS srp
        |  FROM dr)
        |SELECT CAST(p AS BIGINT) AS n_pos, CAST(m AS BIGINT) AS n_neg,
        |       round(CAST(srp - p * (p + 1) AS DOUBLE)
        |             / nullif(CAST(2 * p * m AS DOUBLE), 0), 6) AS auc
        |FROM agg""".stripMargin,

    // q131/q132 share the binning chain: 6-dp-rounded DECIMAL confidence
    // (bin edges exact cross-engine), clamped to [0,1], 1.0 folded into
    // the top bin, decimal conf sums (order-independent).
    "q131_calibration" ->
      """WITH base AS (
        |  SELECT CAST(least(greatest(round(
        |             (CAST(embedding[1] AS DOUBLE) + 1) / 2, 6), 0), 1)
        |           AS DECIMAL(10,6)) AS c,
        |         CASE WHEN label = 0 THEN 1 ELSE 0 END AS pos
        |  FROM embeddings
        |  WHERE embedding IS NOT NULL AND label IS NOT NULL
        |    AND embedding[1] IS NOT NULL AND vec_id < 1000),
        |g AS (
        |  SELECT least(CAST(floor(c * 10) AS BIGINT), 9) AS bin,
        |         count(*) AS n, CAST(sum(c) AS DECIMAL(28,6)) AS sc,
        |         sum(pos) AS np
        |  FROM base GROUP BY 1)
        |SELECT bin, n,
        |       round(CAST(sc AS DOUBLE) / n, 6) AS mean_conf,
        |       round(CAST(np AS DOUBLE) / n, 6) AS frac_pos
        |FROM g ORDER BY bin""".stripMargin,

    "q132_ece" ->
      """WITH base AS (
        |  SELECT CAST(least(greatest(round(
        |             (CAST(embedding[1] AS DOUBLE) + 1) / 2, 6), 0), 1)
        |           AS DECIMAL(10,6)) AS c,
        |         CASE WHEN label = 0 THEN 1 ELSE 0 END AS pos
        |  FROM embeddings
        |  WHERE embedding IS NOT NULL AND label IS NOT NULL
        |    AND embedding[1] IS NOT NULL AND vec_id < 1000),
        |g AS (
        |  SELECT least(CAST(floor(c * 10) AS BIGINT), 9) AS bin,
        |         count(*) AS n, CAST(sum(c) AS DECIMAL(28,6)) AS sc,
        |         sum(pos) AS np
        |  FROM base GROUP BY 1)
        |SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS n,
        |       round(CAST(sum(abs(sc - CAST(np AS DECIMAL(28,6)))) AS DOUBLE)
        |             / nullif(CAST(sum(n) AS DOUBLE), 0), 6) AS ece
        |FROM g""".stripMargin,

    // q133 replays the rounded-sim top-10 (q108 convention), grades by
    // label match, and sums 9-dp-rounded decimal gain terms — the
    // ideal ranking re-orders the SAME retrieved set by (rel DESC,
    // rank ASC), so both engines chain identical decimals.
    "q133_ndcg" ->
      """WITH base AS (
        |  SELECT vec_id, embedding, label FROM embeddings
        |  WHERE embedding IS NOT NULL AND label IS NOT NULL),
        |s AS (
        |  SELECT q.vec_id AS q_id, q.label AS q_label,
        |         c.vec_id AS nn_id, c.label AS nn_label,
        |         round(
        |           list_aggregate(list_transform(
        |               list_zip(q.embedding, c.embedding),
        |               x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)),
        |             'sum')
        |           / nullif(
        |               sqrt(list_aggregate(list_transform(q.embedding,
        |                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
        |             * sqrt(list_aggregate(list_transform(c.embedding,
        |                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')),
        |               0), 6) AS sim
        |  FROM base q JOIN base c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id < 100),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY q_id
        |                               ORDER BY sim DESC, nn_id) AS rank
        |  FROM s),
        |g AS (
        |  SELECT q_id, rank,
        |         CAST(q_label = nn_label AS DOUBLE) AS rel
        |  FROM r WHERE rank <= 10),
        |i AS (
        |  SELECT *, row_number() OVER (PARTITION BY q_id
        |                               ORDER BY rel DESC, rank) AS irank
        |  FROM g),
        |t AS (
        |  SELECT q_id,
        |         sum(CASE WHEN rank <= 10 THEN
        |             CAST(round((pow(2, rel) - 1) / log2(rank + 1), 9)
        |                  AS DECIMAL(28,9)) END) AS dcg,
        |         sum(CASE WHEN irank <= 10 THEN
        |             CAST(round((pow(2, rel) - 1) / log2(irank + 1), 9)
        |                  AS DECIMAL(28,9)) END) AS idcg
        |  FROM i GROUP BY 1)
        |SELECT q_id, round(CAST(dcg AS DOUBLE)
        |                   / nullif(CAST(idcg AS DOUBLE), 0), 6) AS ndcg
        |FROM t ORDER BY q_id""".stripMargin,

    // q134 folds the q103 tf chain once more: distinct terms per exact
    // occurrence count.
    "q134_zipf" ->
      """WITH tf AS (
        |  SELECT t AS token, count(*) AS freq FROM (
        |    SELECT unnest(list_filter(string_split_regex(lower(text),
        |                  '\s+'), x -> length(x) > 0)) AS t
        |    FROM documents WHERE text IS NOT NULL)
        |  GROUP BY 1)
        |SELECT freq, count(*) AS n_terms
        |FROM tf GROUP BY 1 ORDER BY freq""".stripMargin,

    // q135 replays the pair-concordance counts off the i<j join; the
    // τ-b denominator uses the exact integer n(n−1)/2 − ties.
    "q135_kendall" ->
      """WITH m AS (
        |  SELECT doc_id,
        |         CAST(len(list_filter(string_split_regex(lower(text),
        |              '\s+'), x -> length(x) > 0)) AS BIGINT) AS ntok,
        |         CAST(length(text) AS BIGINT) AS nchr
        |  FROM documents WHERE text IS NOT NULL AND doc_id < 1000),
        |p AS (
        |  SELECT sign(CAST(a.ntok AS DOUBLE) - CAST(b.ntok AS DOUBLE))
        |           AS sa,
        |         sign(CAST(a.nchr AS DOUBLE) - CAST(b.nchr AS DOUBLE))
        |           AS sb
        |  FROM m a JOIN m b ON a.doc_id < b.doc_id),
        |agg AS (
        |  SELECT coalesce(sum(CASE WHEN sa * sb > 0 THEN 1 ELSE 0 END), 0)
        |           AS c,
        |         coalesce(sum(CASE WHEN sa * sb < 0 THEN 1 ELSE 0 END), 0)
        |           AS d,
        |         coalesce(sum(CASE WHEN sa = 0 THEN 1 ELSE 0 END), 0) AS t1,
        |         coalesce(sum(CASE WHEN sb = 0 THEN 1 ELSE 0 END), 0) AS t2
        |  FROM p),
        |nn AS (SELECT count(*) AS n FROM m)
        |SELECT CAST(n AS BIGINT) AS n, CAST(c AS BIGINT) AS concordant,
        |       CAST(d AS BIGINT) AS discordant,
        |       round(CAST(c - d AS DOUBLE)
        |             / nullif(
        |                 sqrt(CAST(n * (n - 1) / 2 - t1 AS DOUBLE))
        |               * sqrt(CAST(n * (n - 1) / 2 - t2 AS DOUBLE)), 0), 6)
        |         AS tau
        |FROM nn, agg""".stripMargin,

    // q136 replays bigram/unigram counting and the probability-ratio
    // PMI in the identical IEEE operation order (divide before ratio —
    // the overflow-free shape).
    "q136_pmi" ->
      """WITH toks AS (
        |  SELECT list_filter(string_split_regex(lower(text), '\s+'),
        |           x -> length(x) > 0) AS tk
        |  FROM documents WHERE text IS NOT NULL),
        |bi AS (
        |  SELECT tk[i] AS x, tk[i + 1] AS y
        |  FROM (SELECT tk, unnest(range(1, len(tk))) AS i
        |        FROM toks WHERE len(tk) >= 2)),
        |bc AS (SELECT x, y, count(*) AS n_xy FROM bi GROUP BY 1, 2),
        |uc AS (
        |  SELECT t, count(*) AS cnt
        |  FROM (SELECT unnest(tk) AS t FROM toks) GROUP BY 1),
        |t2 AS (SELECT coalesce(sum(n_xy), 0) AS n2 FROM bc),
        |t1 AS (SELECT coalesce(sum(cnt), 0) AS n1 FROM uc),
        |sel AS (
        |  SELECT b.x, b.y, b.n_xy,
        |         round(ln((CAST(b.n_xy AS DOUBLE) / CAST(n2 AS DOUBLE))
        |               / ((CAST(cx.cnt AS DOUBLE) / CAST(n1 AS DOUBLE))
        |                * (CAST(cy.cnt AS DOUBLE) / CAST(n1 AS DOUBLE)))),
        |           6) AS pmi
        |  FROM bc b
        |  JOIN uc cx ON b.x = cx.t
        |  JOIN uc cy ON b.y = cy.t, t2, t1
        |  WHERE b.n_xy >= 5)
        |SELECT x, y, n_xy, pmi FROM sel
        |ORDER BY pmi DESC, x, y LIMIT 50""".stripMargin,

    // q137 replays first-occurrence bucketing; the cumulative windows
    // order by the unique bucket key, so RANGE/ROWS framing agree.
    // q141 (merged standing state) shares it: min/sum merges are
    // associative, so merged ≡ from-scratch by construction.
    "q137_vocab_growth" -> vocabGrowthOracleSql,
    "q141_growth_merge" -> vocabGrowthOracleSql,

    // q138/q139 share the threshold chain: distinct scores, cumulative
    // predicted/tp over descending threshold order (unique keys, so
    // RANGE/ROWS framing agree).
    "q138_pr_curve" ->
      """WITH base AS (
        |  SELECT CAST(embedding[1] AS DOUBLE) AS score,
        |         CASE WHEN label = 0 THEN 1 ELSE 0 END AS pos
        |  FROM embeddings
        |  WHERE embedding IS NOT NULL AND label IS NOT NULL
        |    AND embedding[1] IS NOT NULL AND vec_id < 1000),
        |g AS (
        |  SELECT score AS threshold, count(*) AS n, sum(pos) AS np
        |  FROM base GROUP BY 1),
        |c AS (
        |  SELECT threshold,
        |         sum(n) OVER (ORDER BY threshold DESC) AS predicted,
        |         sum(np) OVER (ORDER BY threshold DESC) AS tp
        |  FROM g),
        |t AS (SELECT coalesce(max(tp), 0) AS pos FROM c)
        |SELECT threshold, CAST(predicted AS BIGINT) AS predicted,
        |       CAST(tp AS BIGINT) AS tp,
        |       round(CAST(tp AS DOUBLE) / CAST(predicted AS DOUBLE), 6)
        |         AS precision,
        |       round(CAST(tp AS DOUBLE) / nullif(CAST(pos AS DOUBLE), 0), 6)
        |         AS recall
        |FROM c, t ORDER BY threshold DESC""".stripMargin,

    "q139_avg_precision" ->
      """WITH base AS (
        |  SELECT CAST(embedding[1] AS DOUBLE) AS score,
        |         CASE WHEN label = 0 THEN 1 ELSE 0 END AS pos
        |  FROM embeddings
        |  WHERE embedding IS NOT NULL AND label IS NOT NULL
        |    AND embedding[1] IS NOT NULL AND vec_id < 1000),
        |g AS (
        |  SELECT score AS threshold, count(*) AS n, sum(pos) AS np
        |  FROM base GROUP BY 1),
        |c AS (
        |  SELECT n, np,
        |         sum(n) OVER (ORDER BY threshold DESC) AS predicted,
        |         sum(np) OVER (ORDER BY threshold DESC) AS tp
        |  FROM g),
        |terms AS (
        |  SELECT n, np,
        |         CASE WHEN np > 0 THEN
        |           CAST(round(CAST(np AS DOUBLE)
        |                * (CAST(tp AS DOUBLE) / CAST(predicted AS DOUBLE)),
        |              9) AS DECIMAL(28,9))
        |         ELSE CAST(0 AS DECIMAL(28,9)) END AS term
        |  FROM c)
        |SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS n,
        |       CAST(coalesce(sum(np), 0) AS BIGINT) AS n_pos,
        |       round(CAST(coalesce(sum(term), 0) AS DOUBLE)
        |             / nullif(CAST(sum(np) AS DOUBLE), 0), 6) AS ap
        |FROM terms""".stripMargin,

    "q140_rbo" -> rboOracleSql,

    // q143: exact decimal squares of the 6-dp clamped confidence.
    "q143_brier" ->
      """WITH base AS (
        |  SELECT CAST(least(greatest(round(
        |             (CAST(embedding[1] AS DOUBLE) + 1) / 2, 6), 0), 1)
        |           AS DECIMAL(10,6)) AS c,
        |         CASE WHEN label = 0 THEN 1 ELSE 0 END AS pos
        |  FROM embeddings
        |  WHERE embedding IS NOT NULL AND label IS NOT NULL
        |    AND embedding[1] IS NOT NULL AND vec_id < 1000),
        |sq AS (SELECT (c - pos) * (c - pos) AS s FROM base)
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |       round(CAST(coalesce(sum(s), 0) AS DOUBLE)
        |             / nullif(CAST(count(*) AS DOUBLE), 0), 6) AS brier
        |FROM sq""".stripMargin,

    // q144 extends the q133 chain: per-query hits/first-rank, relevant
    // totals from the class counts (minus self), 9-dp decimal terms.
    "q144_retrieval_metrics" ->
      """WITH base AS (
        |  SELECT vec_id, embedding, label FROM embeddings
        |  WHERE embedding IS NOT NULL AND label IS NOT NULL),
        |s AS (
        |  SELECT q.vec_id AS q_id, q.label AS q_label,
        |         c.vec_id AS nn_id, c.label AS nn_label,
        |         round(
        |           list_aggregate(list_transform(
        |               list_zip(q.embedding, c.embedding),
        |               x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)),
        |             'sum')
        |           / nullif(
        |               sqrt(list_aggregate(list_transform(q.embedding,
        |                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
        |             * sqrt(list_aggregate(list_transform(c.embedding,
        |                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')),
        |               0), 6) AS sim
        |  FROM base q JOIN base c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id < 100),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY q_id
        |                               ORDER BY sim DESC, nn_id) AS rank
        |  FROM s),
        |g AS (
        |  SELECT q_id, rank,
        |         CAST(q_label = nn_label AS DOUBLE) AS rel
        |  FROM r WHERE rank <= 10),
        |f AS (
        |  SELECT q_id,
        |         coalesce(sum(CASE WHEN rel <> 0 THEN 1 ELSE 0 END), 0)
        |           AS hits,
        |         min(CASE WHEN rel <> 0 THEN rank END) AS first
        |  FROM g GROUP BY 1),
        |cc AS (SELECT label, count(*) AS cn FROM base GROUP BY 1),
        |tr AS (
        |  SELECT b.vec_id AS q_id, cc.cn - 1 AS n_rel
        |  FROM base b JOIN cc ON b.label = cc.label
        |  WHERE b.vec_id < 100),
        |terms AS (
        |  SELECT CASE WHEN f.first IS NOT NULL THEN
        |           CAST(round(1.0 / f.first, 9) AS DECIMAL(28,9))
        |         ELSE CAST(0 AS DECIMAL(28,9)) END AS rr,
        |         CAST(round(CAST(coalesce(f.hits, 0) AS DOUBLE) / 10, 9)
        |              AS DECIMAL(28,9)) AS p,
        |         CASE WHEN tr.n_rel > 0 THEN
        |           CAST(round(CAST(coalesce(f.hits, 0) AS DOUBLE)
        |                / CAST(tr.n_rel AS DOUBLE), 9) AS DECIMAL(28,9))
        |         END AS r
        |  FROM tr LEFT JOIN f ON tr.q_id = f.q_id)
        |SELECT CAST(count(*) AS BIGINT) AS n_q,
        |       round(CAST(coalesce(sum(rr), 0) AS DOUBLE)
        |             / nullif(CAST(count(*) AS DOUBLE), 0), 6) AS mrr,
        |       round(CAST(coalesce(sum(p), 0) AS DOUBLE)
        |             / nullif(CAST(count(*) AS DOUBLE), 0), 6) AS p_at_k,
        |       round(CAST(coalesce(sum(r), 0) AS DOUBLE)
        |             / nullif(CAST(count(CASE WHEN r IS NOT NULL THEN 1 END)
        |                      AS DOUBLE), 0), 6) AS r_at_k
        |FROM terms""".stripMargin,

    // q142 replays the rate algebra (6-dp decimal weights → exact Z →
    // one fixed-order double expression per rate) and the q88 keep
    // rule, including the rate ≥ 1 keep-all guard (whose %08x hex
    // literal would otherwise be 9 digits and compare wrong).
    "q142_temperature_mix" ->
      """WITH docs AS (
        |  SELECT source, text FROM documents
        |  WHERE source IS NOT NULL AND text IS NOT NULL),
        |c AS (SELECT source, count(*) AS n FROM docs GROUP BY 1),
        |w AS (SELECT source, n,
        |        CAST(round(pow(CAST(n AS DOUBLE), 0.7), 6)
        |             AS DECIMAL(28,6)) AS wi
        |      FROM c WHERE n > 0),
        |z AS (SELECT sum(wi) AS zsum FROM w),
        |r AS (
        |  SELECT source,
        |         round(least(1.0,
        |           250 * CAST(wi AS DOUBLE) / CAST(zsum AS DOUBLE)
        |               / CAST(n AS DOUBLE)), 6) AS rate
        |  FROM w, z),
        |kept AS (
        |  SELECT d.source FROM docs d JOIN r ON d.source = r.source
        |  WHERE rate >= 1.0
        |     OR (rate > 0 AND substring(md5(d.text), 1, 8)
        |         < printf('%08x', CAST(floor(rate * 4294967296) AS BIGINT))))
        |SELECT source, count(*) AS n_kept
        |FROM kept GROUP BY source ORDER BY source""".stripMargin,

    // q123's oracle replays the line pipeline: lockstep unnest of
    // (position, line), trim-keyed per-source doc frequency, threshold
    // cut, ordered string_agg rebuild. An all-cut doc rebuilds to ''
    // via the left join + coalesce in BOTH engines. q124 (indexed twin)
    // shares it: indexed ≡ self-contained by the shared cut core.
    "q123_boilerplate" -> boilerplateOracleSql,
    "q124_boilerplate_indexed" -> boilerplateOracleSql,

    // q122 replays the mining pipeline exactly at full probe coverage:
    // all-pairs rank on unrounded sims (the q119 convention), top-20
    // frame, label split, dense per-kind re-rank.
    "q122_contrastive_pairs" ->
      """WITH base AS (
        |  SELECT vec_id, embedding, label FROM embeddings
        |  WHERE embedding IS NOT NULL AND label IS NOT NULL
        |    AND vec_id < 1000),
        |s AS (
        |  SELECT q.vec_id AS q_id, q.label AS q_label,
        |         c.vec_id AS nn_id, c.label AS nn_label,
        |         list_aggregate(list_transform(
        |             list_zip(q.embedding, c.embedding),
        |             x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)),
        |           'sum')
        |         / nullif(
        |             sqrt(list_aggregate(list_transform(q.embedding,
        |               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
        |           * sqrt(list_aggregate(list_transform(c.embedding,
        |               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')),
        |             0) AS sim
        |  FROM base q JOIN base c ON q.vec_id <> c.vec_id),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY q_id
        |                               ORDER BY sim DESC, nn_id) AS rank
        |  FROM s),
        |t AS (SELECT * FROM r WHERE rank <= 20),
        |k AS (
        |  SELECT q_id, nn_id,
        |         CASE WHEN q_label = nn_label THEN 'pos' ELSE 'neg' END
        |           AS kind, rank
        |  FROM t),
        |p AS (
        |  SELECT q_id, nn_id, kind,
        |         CAST(row_number() OVER (PARTITION BY q_id, kind
        |                                 ORDER BY rank) AS BIGINT)
        |           AS pair_rank
        |  FROM k)
        |SELECT q_id, nn_id, kind, pair_rank FROM p
        |WHERE (kind = 'pos' AND pair_rank <= 2)
        |   OR (kind = 'neg' AND pair_rank <= 3)
        |ORDER BY q_id, kind, pair_rank""".stripMargin,

    // The image-decode oracle NEVER parses a byte: it recomputes the
    // decoder's moments from the same integer pixel formula the query
    // synthesized the raster from, so a parser bug (offset, sign,
    // truncation) breaks the hash match. Exact int sums; one division.
    "q120_image_decode" ->
      """WITH g AS (
        |  SELECT doc_id,
        |         4 + doc_id % 5 AS w, 3 + doc_id % 3 AS h
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, w, h,
        |         list_aggregate(list_transform(range(0, w*h),
        |           i -> (doc_id*31 + i*7) % 256), 'sum') AS s,
        |         list_aggregate(list_transform(range(0, w*h),
        |           i -> ((doc_id*31 + i*7) % 256) * ((doc_id*31 + i*7) % 256)),
        |           'sum') AS sq
        |  FROM g)
        |SELECT doc_id, w AS width, h AS height,
        |       round(CAST(s AS DOUBLE) / (w*h), 6) AS mean_px,
        |       round(CAST(sq AS DOUBLE) / (w*h), 6) AS ms_px
        |FROM m ORDER BY doc_id""".stripMargin,

    // Same oracle principle for audio: signed-sample moments recomputed
    // from the formula ((x % 65536) - 65536·[x%65536 >= 32768] is the
    // int16 reinterpretation of the synthesized unsigned word).
    "q121_audio_decode" ->
      """WITH g AS (
        |  SELECT doc_id, 16 + doc_id % 16 AS n FROM documents),
        |m AS (
        |  SELECT doc_id, n,
        |         list_aggregate(list_transform(range(0, n),
        |           i -> CASE WHEN (doc_id*13 + i*257) % 65536 >= 32768
        |                     THEN ((doc_id*13 + i*257) % 65536 - 65536)
        |                          * ((doc_id*13 + i*257) % 65536 - 65536)
        |                     ELSE ((doc_id*13 + i*257) % 65536)
        |                          * ((doc_id*13 + i*257) % 65536) END),
        |           'sum') AS sq
        |  FROM g)
        |SELECT doc_id, CAST(8000 AS BIGINT) AS sample_rate, n AS n_samples,
        |       round(CAST(n AS DOUBLE) / 8000, 6) AS duration_sec,
        |       round(sqrt(CAST(sq AS DOUBLE) / n), 6) AS rms
        |FROM m ORDER BY doc_id""".stripMargin,

    // Textbook tie-averaged Spearman: doubled average ranks (min+max of
    // the row_numbers per tie group — always integers) keep every sum
    // exact (HUGEINT here, decimal in Spark); Pearson is
    // scale-invariant so the doubling cancels. The only float ops are
    // the same two sqrts and one division in both engines.
    "q117_spearman" ->
      """WITH v AS (
        |  SELECT doc_id,
        |         CAST(len(list_filter(string_split_regex(lower(text),
        |              '\s+'), x -> length(x) > 0)) AS BIGINT) AS ntok,
        |         CAST(length(text) AS BIGINT) AS nchr
        |  FROM documents WHERE text IS NOT NULL),
        |r AS (
        |  SELECT doc_id, ntok, nchr,
        |         CAST(row_number() OVER (ORDER BY ntok, doc_id)
        |              AS BIGINT) AS rna,
        |         CAST(row_number() OVER (ORDER BY nchr, doc_id)
        |              AS BIGINT) AS rnb
        |  FROM v),
        |d AS (
        |  SELECT CAST(min(rna) OVER (PARTITION BY ntok)
        |            + max(rna) OVER (PARTITION BY ntok) AS HUGEINT) AS ra,
        |         CAST(min(rnb) OVER (PARTITION BY nchr)
        |            + max(rnb) OVER (PARTITION BY nchr) AS HUGEINT) AS rb
        |  FROM r),
        |s AS (
        |  SELECT CAST(count(*) AS HUGEINT) AS n,
        |         sum(ra) AS sa, sum(rb) AS sb,
        |         sum(ra*ra) AS saa, sum(rb*rb) AS sbb,
        |         sum(ra*rb) AS sab
        |  FROM d)
        |SELECT CAST(n AS BIGINT) AS n,
        |       CASE WHEN n < 2 THEN NULL
        |            ELSE round(CAST(n*sab - sa*sb AS DOUBLE)
        |                 / nullif(sqrt(CAST(n*saa - sa*sa AS DOUBLE))
        |                        * sqrt(CAST(n*sbb - sb*sb AS DOUBLE)),
        |                          0.0), 6)
        |       END AS rho
        |FROM s""".stripMargin,

    // Micros-truncated timestamps (CAST AS TIMESTAMP — the q34/q71
    // precedent), strict > on the anchor, 1-day cap on floor-second
    // epochs (Spark's cast-to-long truncates; DuckDB's epoch keeps
    // fractions).
    "q86_funnel" ->
      """WITH ev AS (SELECT user_id, event_type,
        |                   CAST(ts AS TIMESTAMP) AS tsu FROM events),
        |a1 AS (SELECT user_id, min(tsu) AS t FROM ev
        |       WHERE event_type = 'view' GROUP BY 1),
        |a2 AS (SELECT e.user_id, min(e.tsu) AS t
        |       FROM ev e JOIN a1 USING (user_id)
        |       WHERE e.event_type = 'click' AND e.tsu > a1.t
        |         AND CAST(floor(epoch(e.tsu)) AS BIGINT)
        |             <= CAST(floor(epoch(a1.t)) AS BIGINT) + 86400
        |       GROUP BY 1),
        |a3 AS (SELECT e.user_id, min(e.tsu) AS t
        |       FROM ev e JOIN a2 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.tsu > a2.t
        |         AND CAST(floor(epoch(e.tsu)) AS BIGINT)
        |             <= CAST(floor(epoch(a2.t)) AS BIGINT) + 86400
        |       GROUP BY 1)
        |SELECT CAST(1 AS BIGINT) AS step, 'view' AS stage,
        |       (SELECT CAST(count(*) AS BIGINT) FROM a1) AS users
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), 'click',
        |       (SELECT CAST(count(*) AS BIGINT) FROM a2)
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), 'purchase',
        |       (SELECT CAST(count(*) AS BIGINT) FROM a3)
        |ORDER BY step""".stripMargin,

    // Monday-truncated weeks in both engines; offsets are exact
    // multiples of 7 days, so the integer week division is lossless.
    "q87_cohort_retention" -> retentionOracleSql,

    // q239 SHARES q87's oracle verbatim: merging the parity halves'
    // distinct user-week frames is a distinct union — idempotent and
    // lossless, so the folded matrix IS the one-pass matrix.
    "q239_retention_merge" -> retentionOracleSql,

    // Same md5-prefix thresholds (8 hex digits = the 1/2^32 rate
    // quantization): src0 keeps every hashable (non-NULL) row, src1
    // < 0x80000000, src2 < 0x40000000, others < 0x19999999
    // (floor(0.1 * 2^32)). NULL text is un-sampleable at every rate.
    "q88_mixture_sample" ->
      """SELECT doc_id, source FROM documents
        |WHERE CASE source
        |        WHEN 'src0' THEN text IS NOT NULL
        |        WHEN 'src1' THEN substr(md5(text), 1, 8) < '80000000'
        |        WHEN 'src2' THEN substr(md5(text), 1, 8) < '40000000'
        |        ELSE substr(md5(text), 1, 8) < '19999999'
        |      END
        |ORDER BY doc_id""".stripMargin,

    // Two q80-shape model recomputes (src0, src1), argmin on the ROUNDED
    // score with the label tiebreak — rounding first is what makes the
    // argmin deterministic cross-engine.
    "q89_lm_classify" ->
      """WITH toks AS (
        |  SELECT doc_id, source,
        |         list_filter(string_split_regex(lower(text), '\s+'),
        |                     x -> length(x) > 0) AS t
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, source, t[i] AS w1, t[i+1] AS w2
        |  FROM (SELECT doc_id, source, t,
        |               unnest(range(1, greatest(len(t), 1))) AS i
        |        FROM toks)),
        |c12_0 AS (SELECT w1, w2, count(*) AS c FROM bg
        |          WHERE source = 'src0' GROUP BY 1, 2),
        |c1_0 AS (SELECT w1, sum(c) AS c FROM c12_0 GROUP BY 1),
        |v_0 AS (SELECT count(DISTINCT w) AS v
        |        FROM (SELECT unnest(t) AS w FROM toks WHERE source = 'src0')),
        |c12_1 AS (SELECT w1, w2, count(*) AS c FROM bg
        |          WHERE source = 'src1' GROUP BY 1, 2),
        |c1_1 AS (SELECT w1, sum(c) AS c FROM c12_1 GROUP BY 1),
        |v_1 AS (SELECT count(DISTINCT w) AS v
        |        FROM (SELECT unnest(t) AS w FROM toks WHERE source = 'src1')),
        |s0 AS (
        |  SELECT bg.doc_id, 'src0' AS label,
        |         round(avg(-ln((coalesce(c12_0.c, 0) + 1.0) /
        |               (coalesce(c1_0.c, 0) + (SELECT v FROM v_0)))), 6) AS nll
        |  FROM bg LEFT JOIN c12_0 USING (w1, w2) LEFT JOIN c1_0 USING (w1)
        |  GROUP BY bg.doc_id),
        |s1 AS (
        |  SELECT bg.doc_id, 'src1' AS label,
        |         round(avg(-ln((coalesce(c12_1.c, 0) + 1.0) /
        |               (coalesce(c1_1.c, 0) + (SELECT v FROM v_1)))), 6) AS nll
        |  FROM bg LEFT JOIN c12_1 USING (w1, w2) LEFT JOIN c1_1 USING (w1)
        |  GROUP BY bg.doc_id),
        |u AS (SELECT * FROM s0 UNION ALL SELECT * FROM s1),
        |r AS (SELECT doc_id, label, nll,
        |             row_number() OVER (PARTITION BY doc_id
        |                                ORDER BY nll, label) AS rn
        |      FROM u)
        |SELECT doc_id, label, nll FROM r WHERE rn = 1
        |ORDER BY doc_id""".stripMargin,

    // Same entropy identity H = ln(n) - (sum c*ln c)/n over the same
    // token counts; round-6 armor over the per-doc fold order.
    "q90_word_entropy" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(
        |           string_split_regex(lower(text), '\s+'),
        |           x -> length(x) > 0)) AS w
        |  FROM documents),
        |cnt AS (SELECT doc_id, w, CAST(count(*) AS DOUBLE) AS c
        |        FROM toks GROUP BY 1, 2)
        |SELECT doc_id,
        |       CAST(sum(c) AS BIGINT) AS n_tokens,
        |       round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 6) AS entropy
        |FROM cnt GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // q85's BM25 CTE chain at candidates=50, then the exact cosine
    // (q19's bit-identical fold) against vec 0's embedding, rounded
    // BEFORE ranking — the q89 determinism rule.
    "q91_hybrid_retrieval" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |                       x -> length(x) > 0) AS t
        |  FROM documents),
        |lens AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM toks),
        |stats AS (SELECT count(*) AS n,
        |                 CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
        |          FROM lens),
        |post AS (
        |  SELECT doc_id, term FROM (
        |    SELECT doc_id, unnest(t) AS term FROM toks)
        |  WHERE term IN ('dup', 'key', 'window')),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |       FROM post GROUP BY 1, 2),
        |idf AS (
        |  SELECT term,
        |         ln(1.0 + ((SELECT n FROM stats) - CAST(count(*) AS DOUBLE) + 0.5)
        |                  / (CAST(count(*) AS DOUBLE) + 0.5)) AS idf
        |  FROM tf GROUP BY term),
        |scored AS (
        |  SELECT tf.doc_id,
        |         idf.idf * tf.tf /
        |           (tf.tf + 1.2 * (0.25 + 0.75 * lens.dl / (SELECT avgdl FROM stats)))
        |           AS s
        |  FROM tf JOIN idf USING (term) JOIN lens USING (doc_id)),
        |cand AS (
        |  SELECT doc_id, round(sum(s), 6) AS score
        |  FROM scored GROUP BY doc_id
        |  ORDER BY score DESC, doc_id LIMIT 50),
        |qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 0),
        |sims AS (
        |  SELECT c.doc_id, c.score,
        |         round(
        |           list_aggregate(list_transform(list_zip(e.embedding, (SELECT q FROM qv)),
        |               x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum')
        |           / (sqrt(list_aggregate(list_transform(e.embedding,
        |                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
        |            * sqrt(list_aggregate(list_transform((SELECT q FROM qv),
        |                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))), 6)
        |           AS sim
        |  FROM cand c LEFT JOIN embeddings e ON e.vec_id = c.doc_id)
        |SELECT doc_id, score, sim,
        |       CAST(row_number() OVER (ORDER BY sim DESC NULLS LAST, doc_id)
        |            AS BIGINT) AS rank
        |FROM sims ORDER BY rank LIMIT 10""".stripMargin,

    // q39's 5-gram shingling against two labeled benchmark slices, one
    // row per contaminated (doc, bench) pair, totals on one denominator.
    "q92_multi_contamination" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |                       x -> length(x) > 0) AS t
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |         t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
        |              || ' ' || t[i+4] AS s
        |  FROM (SELECT doc_id, t, unnest(range(1, greatest(len(t) - 3, 1))) AS i
        |        FROM toks)),
        |reg AS (
        |  SELECT DISTINCT 'bench_a' AS bench, s FROM sh WHERE doc_id % 97 = 0
        |  UNION
        |  SELECT DISTINCT 'bench_b' AS bench, s FROM sh WHERE doc_id % 89 = 0),
        |corp AS (SELECT doc_id, s FROM sh
        |         WHERE doc_id % 97 <> 0 AND doc_id % 89 <> 0),
        |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles
        |        FROM corp GROUP BY 1),
        |hit AS (
        |  SELECT c.doc_id, r.bench, CAST(count(*) AS BIGINT) AS n_contaminated
        |  FROM corp c JOIN reg r USING (s)
        |  GROUP BY 1, 2)
        |SELECT h.doc_id, h.bench, t.n_shingles, h.n_contaminated,
        |       CAST(h.n_contaminated AS DOUBLE) / t.n_shingles AS contamination
        |FROM hit h JOIN tot t USING (doc_id)
        |ORDER BY h.doc_id, h.bench""".stripMargin,

    // Mixture thresholds (1.0 / 0.5 / default 0.2 → 0x33333333), the
    // salted md5 epoch key, doc_id%4 shards, running sum in
    // (epoch_key, doc_id) order — q88 + q41's oracles composed.
    "q93_epoch_build" ->
      """WITH sampled AS (
        |  SELECT doc_id, source, text,
        |         md5('epoch1' || text) AS epoch_key,
        |         CAST(doc_id % 4 AS BIGINT) AS shard,
        |         CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
        |                 x -> length(x) > 0)) AS BIGINT) AS n_tokens
        |  FROM documents
        |  WHERE CASE source
        |          WHEN 'src0' THEN text IS NOT NULL
        |          WHEN 'src1' THEN substr(md5(text), 1, 8) < '80000000'
        |          ELSE substr(md5(text), 1, 8) < '33333333'
        |        END),
        |packed AS (
        |  SELECT doc_id, source, epoch_key, shard, n_tokens,
        |         sum(n_tokens) OVER (PARTITION BY shard
        |                             ORDER BY epoch_key, doc_id
        |                             ROWS UNBOUNDED PRECEDING) - n_tokens
        |           AS tok_offset
        |  FROM sampled)
        |SELECT doc_id, source, epoch_key, shard, n_tokens,
        |       CAST(tok_offset AS BIGINT) AS tok_offset,
        |       CAST(tok_offset // 256 AS BIGINT) AS bin
        |FROM packed ORDER BY doc_id""".stripMargin,

    // Exact recompute of the add-one bigram LM (trained on src0, scored
    // everywhere): c1 derived from the bigram table, V = distinct ref
    // tokens at all positions. Both engines sum correctly-rounded ln
    // doubles; round-6 absorbs fold-order ulp noise (the q30 pattern).
    "q80_lm_score" ->
      """WITH toks AS (
        |  SELECT doc_id, source,
        |         list_filter(string_split_regex(lower(text), '\s+'),
        |                     x -> length(x) > 0) AS t
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, source, t[i] AS w1, t[i+1] AS w2
        |  FROM (SELECT doc_id, source, t,
        |               unnest(range(1, greatest(len(t), 1))) AS i
        |        FROM toks)),
        |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg
        |        WHERE source = 'src0' GROUP BY 1, 2),
        |c1 AS (SELECT w1, sum(c12) AS c1 FROM c12 GROUP BY 1),
        |v AS (SELECT count(DISTINCT w) AS v
        |      FROM (SELECT unnest(t) AS w FROM toks WHERE source = 'src0')),
        |sc AS (
        |  SELECT bg.doc_id,
        |         -ln((coalesce(c12.c12, 0) + 1.0) /
        |             (coalesce(c1.c1, 0) + (SELECT v FROM v))) AS nl
        |  FROM bg
        |  LEFT JOIN c12 USING (w1, w2)
        |  LEFT JOIN c1 USING (w1))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |       round(avg(nl), 6) AS nll
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // q145: generated — replays GraphOps.pageRank's exact algebra
    // (decimal contribution sums, dangling redistribution, 9-dp
    // per-iteration rounding) as chained CTEs, one per iteration.
    "q145_pagerank" -> pageRankOracleSql,

    "q146_degree_profile" ->
      s"""WITH $orderGraphSql,
         |o AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS out_deg
         |      FROM edges GROUP BY src),
         |i AS (SELECT dst AS node, CAST(count(*) AS BIGINT) AS in_deg
         |      FROM edges GROUP BY dst)
         |SELECT node, coalesce(o.out_deg, 0) AS out_deg,
         |       coalesce(i.in_deg, 0) AS in_deg,
         |       coalesce(o.out_deg, 0) + coalesce(i.in_deg, 0) AS degree
         |FROM o FULL OUTER JOIN i USING (node)
         |ORDER BY node""".stripMargin,

    // q147: same recentred-x OLS closed form from the same five decimal
    // moments; degenerate groups NULL out through the same nullif guard.
    // q154 MUST reproduce it from merged split partials (exact decimal
    // sums ⇒ lossless merge), so both keys share one oracle.
    "q147_trend" -> trendOracleSql,
    "q154_trend_merge" -> trendOracleSql,

    // q148: identical lag alignment (NULL values stay in the window
    // order, pairs with a NULL side drop after) + the same decimal
    // moment Pearson.
    "q148_autocorr" ->
      """WITH s AS (
        |  SELECT user_id, CAST(value AS DOUBLE) AS y,
        |         lag(CAST(value AS DOUBLE), 1) OVER (
        |           PARTITION BY user_id ORDER BY ts, event_id) AS x
        |  FROM events
        |  WHERE user_id < 40 AND user_id IS NOT NULL AND ts IS NOT NULL),
        |p AS (SELECT * FROM s WHERE x IS NOT NULL AND y IS NOT NULL),
        |m AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_pairs,
        |         sum(CAST(round(x, 12) AS DECIMAL(38,12))) AS sx,
        |         sum(CAST(round(y, 12) AS DECIMAL(38,12))) AS sy,
        |         sum(CAST(round(x * x, 12) AS DECIMAL(38,12))) AS sxx,
        |         sum(CAST(round(y * y, 12) AS DECIMAL(38,12))) AS syy,
        |         sum(CAST(round(x * y, 12) AS DECIMAL(38,12))) AS sxy
        |  FROM p GROUP BY user_id),
        |k AS (
        |  SELECT user_id, n_pairs, CAST(n_pairs AS DOUBLE) AS nd,
        |         CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
        |         CAST(sxx AS DOUBLE) AS sxxd, CAST(syy AS DOUBLE) AS syyd,
        |         CAST(sxy AS DOUBLE) AS sxyd
        |  FROM m)
        |SELECT user_id, n_pairs,
        |       round((nd * sxyd - sxd * syd) /
        |             nullif(sqrt((nd * sxxd - sxd * sxd) *
        |                         (nd * syyd - syd * syd)),
        |                    CAST(0 AS DOUBLE)), 6) AS r
        |FROM k ORDER BY user_id""".stripMargin,

    // q149: generated — the kernel weights are the SAME Double.toString
    // literals the plan folds, the num/den chains the same fixed order.
    "q149_ewma" -> ewmaOracleSql,

    // q156: the resized payload's exact bytes rebuilt from the integer
    // nearest-neighbor source map — header re-encode + raster hex →
    // blob md5; the mean re-derives from the same mapped pixel values.
    "q156_image_resize" ->
      """WITH g AS (
        |  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 3 AS h
        |  FROM documents),
        |px AS (
        |  SELECT doc_id,
        |         list_transform(range(0, 6), i ->
        |           (doc_id*31 +
        |            (((i // 3) * h) // 2 * w + ((i % 3) * w) // 3) * 7)
        |           % 256) AS vs
        |  FROM g),
        |b AS (
        |  SELECT doc_id,
        |         hex('P5' || chr(10) || '3 2' || chr(10) || '255'
        |             || chr(10)) ||
        |         list_aggregate(list_transform(vs,
        |           v -> lpad(hex(v), 2, '0')), 'string_agg', '')
        |           AS thumb_hex,
        |         list_aggregate(vs, 'sum') AS s
        |  FROM px)
        |SELECT doc_id, md5(thumb_hex) AS checksum,
        |       CAST(3 AS BIGINT) AS width, CAST(2 AS BIGINT) AS height,
        |       round(CAST(s AS DOUBLE) / 6.0, 6) AS mean_px
        |FROM b ORDER BY doc_id""".stripMargin,

    // q158/q159: one shared divergence CTE chain — exact counts over the
    // union vocabulary, the same smoothing/mixture float sequence, 12-dp
    // decimal per-term contributions.
    "q158_js_divergence" -> jsSummaryOracleSql,
    // q161 MUST reproduce q158 from merged split count partials (exact
    // integer sums ⇒ lossless merge — the q154 law for the divergence
    // family), so both keys share one oracle.
    "q161_drift_merge" -> jsSummaryOracleSql,
    "q159_drift_terms" ->
      (divergenceCtesSql + """
        |SELECT term, cp, cq,
        |       round(CAST(t_p + t_q AS DOUBLE), 6) AS contribution,
        |       CASE WHEN p > q THEN 'a' ELSE 'b' END AS direction
        |FROM h ORDER BY contribution DESC, term LIMIT 20""".stripMargin),

    // q157: generated — weights, NULL rule, fold order and the rank cut
    // replay RecordLinkage.bestLinks (see linkageOracleSql).
    "q157_record_linkage" -> linkageOracleSql,
    // q162: the links form stars, so component sizes have a closed form
    // (1 + B-record indegree) — no recursive SQL needed.
    "q162_entity_clusters" -> entityClustersOracleSql,

    // q163: same two IGNORE-NULLS last_value reads over the same ordered
    // frame (both necessarily from the same prior row), same 24 h gate.
    "q163_attribution" ->
      """WITH b AS (
        |  SELECT user_id, event_id, event_type, value,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS ep,
        |         last_value(CASE WHEN event_type <> 'purchase'
        |                    THEN CAST(floor(epoch(ts)) AS BIGINT) END
        |                    IGNORE NULLS) OVER w AS pts,
        |         last_value(CASE WHEN event_type <> 'purchase'
        |                    THEN event_type END IGNORE NULLS) OVER w
        |           AS pty
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |c AS (
        |  SELECT CASE WHEN pts IS NOT NULL AND ep - pts <= 86400
        |              THEN pty ELSE '(none)' END AS attr_type, value
        |  FROM b WHERE event_type = 'purchase')
        |SELECT attr_type, CAST(count(*) AS BIGINT) AS n_conversions,
        |       round(CAST(sum(CAST(round(CAST(value AS DOUBLE), 12)
        |                          AS DECIMAL(38,12))) AS DOUBLE), 6)
        |         AS attributed_value
        |FROM c GROUP BY attr_type ORDER BY attr_type""".stripMargin,

    // q164: the same md5-derived uniform (12 hex nibbles / 16^12), the
    // same u^(1/w) key rounded 12-dp before the rank.
    "q164_weighted_sample" ->
      """WITH b AS (
        |  SELECT doc_id, n_chars,
        |         round(pow(
        |           CAST(('0x' || substr(md5('es42:' ||
        |                CAST(doc_id AS VARCHAR)), 1, 12)) AS UBIGINT)
        |             / CAST(281474976710656 AS DOUBLE),
        |           CAST(1.0 AS DOUBLE) / CAST(n_chars AS DOUBLE)), 12)
        |           AS es_key
        |  FROM documents
        |  WHERE n_chars IS NOT NULL AND CAST(n_chars AS DOUBLE) > 0)
        |SELECT doc_id, n_chars, es_key FROM b
        |ORDER BY es_key DESC, doc_id LIMIT 40""".stripMargin,

    // q165: the same two rank-exact picks (median, then MAD over the
    // absolute deviations) and the division-free flag rule.
    "q165_mad_outliers" ->
      """WITH base AS (
        |  SELECT event_type AS g, CAST(value AS DOUBLE) AS v,
        |         event_id AS id
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |r1 AS (
        |  SELECT g, v,
        |         CAST(row_number() OVER (PARTITION BY g ORDER BY v, id)
        |              AS BIGINT) AS rn,
        |         CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n
        |  FROM base),
        |med AS (
        |  SELECT g, max(n) AS n,
        |         max(CASE WHEN rn = greatest(CAST(ceil(
        |               CAST(0.5 AS DOUBLE) * CAST(n AS DOUBLE))
        |               AS BIGINT), 1) THEN v END) AS median
        |  FROM r1 GROUP BY g),
        |dev AS (
        |  SELECT b.g, abs(b.v - m.median) AS v, b.id
        |  FROM base b JOIN med m ON b.g = m.g),
        |r2 AS (
        |  SELECT g, v,
        |         CAST(row_number() OVER (PARTITION BY g ORDER BY v, id)
        |              AS BIGINT) AS rn,
        |         CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n
        |  FROM dev),
        |mad AS (
        |  SELECT g,
        |         max(CASE WHEN rn = greatest(CAST(ceil(
        |               CAST(0.5 AS DOUBLE) * CAST(n AS DOUBLE))
        |               AS BIGINT), 1) THEN v END) AS mad
        |  FROM r2 GROUP BY g)
        |SELECT b.g AS event_type, m.n, m.median, d.mad,
        |       CAST(sum(CASE WHEN CAST(0.6745 AS DOUBLE)
        |                          * abs(b.v - m.median)
        |                          > CAST(3.5 AS DOUBLE) * d.mad
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM base b JOIN med m ON b.g = m.g JOIN mad d ON b.g = d.g
        |GROUP BY 1, 2, 3, 4 ORDER BY event_type""".stripMargin,

    // q166: same cells→margins→expected algebra, decimal term fold.
    "q166_chi2_independence" -> chi2OracleSql(
      """WITH base AS (
        |  SELECT event_type AS a,
        |         (CAST(floor(epoch(ts)) AS BIGINT) // 86400) % 7 AS b
        |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL),
        |cells AS (SELECT a, b, CAST(count(*) AS BIGINT) AS o
        |          FROM base GROUP BY 1, 2)""".stripMargin),

    // q170: the SAME test composed on a new domain — two half-corpora ×
    // term counts (χ² homogeneity; densified cells matter exactly here,
    // where a term absent from one corpus is the signal).
    "q170_term_homogeneity" -> chi2OracleSql(
      """WITH base AS (
        |  SELECT CASE WHEN doc_id % 2 = 0 THEN 'a' ELSE 'b' END AS a,
        |         unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |                            x -> length(x) > 0)) AS b
        |  FROM documents),
        |cells AS (SELECT a, b, CAST(count(*) AS BIGINT) AS o
        |          FROM base GROUP BY 1, 2)""".stripMargin),

    // q167: generated — the Benford expectations are the SAME doubles
    // the plan folds (see benfordOracleSql).
    "q167_benford" -> benfordOracleSql,

    // q168: same user-day dedup + window-end fan-out + active-day gate.
    // q250: same exact-decimal mean, same 12-dp cross-product folds
    // per lag, same cumulative Q chain over the 7-row lag frame.
    "q250_ljung_box" ->
      """WITH s AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |         CAST(count(*) AS DOUBLE) AS v
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
        |tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CAST(round(v, 9) AS DECIMAL(38,9)))
        |           AS DECIMAL(38,9)) AS s1
        |  FROM s),
        |lg AS (
        |  SELECT v,
        |         lag(v, 1) OVER (ORDER BY day) AS l1,
        |         lag(v, 2) OVER (ORDER BY day) AS l2,
        |         lag(v, 3) OVER (ORDER BY day) AS l3,
        |         lag(v, 4) OVER (ORDER BY day) AS l4,
        |         lag(v, 5) OVER (ORDER BY day) AS l5,
        |         lag(v, 6) OVER (ORDER BY day) AS l6,
        |         lag(v, 7) OVER (ORDER BY day) AS l7
        |  FROM s),
        |x AS (SELECT lg.*, CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS m,
        |             n
        |      FROM lg, tot),
        |tm AS (
        |  SELECT max(n) AS n,
        |    CAST(sum(CAST(round((v-m)*(v-m), 12) AS DECIMAL(38,12)))
        |      AS DOUBLE) AS den,
        |    CAST(coalesce(sum(CAST(round((v-m)*(l1-m), 12)
        |      AS DECIMAL(38,12))), 0) AS DOUBLE) AS n1,
        |    CAST(coalesce(sum(CAST(round((v-m)*(l2-m), 12)
        |      AS DECIMAL(38,12))), 0) AS DOUBLE) AS n2,
        |    CAST(coalesce(sum(CAST(round((v-m)*(l3-m), 12)
        |      AS DECIMAL(38,12))), 0) AS DOUBLE) AS n3,
        |    CAST(coalesce(sum(CAST(round((v-m)*(l4-m), 12)
        |      AS DECIMAL(38,12))), 0) AS DOUBLE) AS n4,
        |    CAST(coalesce(sum(CAST(round((v-m)*(l5-m), 12)
        |      AS DECIMAL(38,12))), 0) AS DOUBLE) AS n5,
        |    CAST(coalesce(sum(CAST(round((v-m)*(l6-m), 12)
        |      AS DECIMAL(38,12))), 0) AS DOUBLE) AS n6,
        |    CAST(coalesce(sum(CAST(round((v-m)*(l7-m), 12)
        |      AS DECIMAL(38,12))), 0) AS DOUBLE) AS n7
        |  FROM x),
        |ll AS (
        |  SELECT CAST(1 AS BIGINT) AS lag, n, den, n1 AS num FROM tm
        |  UNION ALL SELECT 2, n, den, n2 FROM tm
        |  UNION ALL SELECT 3, n, den, n3 FROM tm
        |  UNION ALL SELECT 4, n, den, n4 FROM tm
        |  UNION ALL SELECT 5, n, den, n5 FROM tm
        |  UNION ALL SELECT 6, n, den, n6 FROM tm
        |  UNION ALL SELECT 7, n, den, n7 FROM tm),
        |rr AS (
        |  SELECT lag, n,
        |         CASE WHEN den > 0 THEN num / den END AS r
        |  FROM ll),
        |cc AS (
        |  SELECT lag, r, n,
        |         sum(CAST(round(r * r / (CAST(n AS DOUBLE)
        |               - CAST(lag AS DOUBLE)), 12) AS DECIMAL(38,12)))
        |           OVER (ORDER BY lag ROWS BETWEEN UNBOUNDED PRECEDING
        |                 AND CURRENT ROW) AS csum
        |  FROM rr)
        |SELECT lag, round(r, 6) AS r,
        |       CASE WHEN r IS NOT NULL THEN
        |         round(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0)
        |               * CAST(csum AS DOUBLE), 6) END AS q_lb
        |FROM cc ORDER BY lag""".stripMargin,

    // q251: same strict 3-point extrema, same closed-form moments,
    // same p chain on the unrounded z.
    "q251_turning_points" ->
      """WITH s AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |         CAST(count(*) AS DOUBLE) AS v
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
        |t AS (
        |  SELECT CASE WHEN prev IS NOT NULL AND nxt IS NOT NULL
        |              AND ((v > prev AND v > nxt)
        |                   OR (v < prev AND v < nxt))
        |         THEN 1 ELSE 0 END AS turn
        |  FROM (SELECT v, lag(v) OVER (ORDER BY day) AS prev,
        |               lead(v) OVER (ORDER BY day) AS nxt
        |        FROM s)),
        |ag AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(coalesce(sum(turn), 0) AS BIGINT) AS n_turning
        |  FROM t),
        |zz AS (
        |  SELECT n, n_turning,
        |         (CAST(n_turning AS DOUBLE)
        |           - 2.0 * (CAST(n AS DOUBLE) - 2.0) / 3.0)
        |         / sqrt((16.0 * CAST(n AS DOUBLE) - 29.0) / 90.0) AS z
        |  FROM ag),
        |px AS (
        |  SELECT n, n_turning, z,
        |         abs(z) * 0.7071067811865476 AS x,
        |         1.0 / (1.0 + 0.3275911
        |           * (abs(z) * 0.7071067811865476)) AS t
        |  FROM zz)
        |SELECT n, n_turning,
        |       CASE WHEN n >= 4 THEN round(z, 6) END AS z,
        |       CASE WHEN n >= 4 THEN
        |         round(((((1.061405429 * t + -1.453152027) * t
        |               + 1.421413741) * t + -0.284496736) * t
        |               + 0.254829592) * t * exp(-(x * x)), 6)
        |       END AS p
        |FROM px""".stripMargin,

    // q249: q37's exact-Jaccard + recursive-reach replay, with the
    // label/size/histogram tail instead of the survivor filter.
    "q249_cluster_histogram" ->
      ("WITH RECURSIVE " + dedupPairsCte + ",\n" + dedupCcCte + """,
        |labels AS (
        |  SELECT src AS doc_id, min(dst) AS cluster
        |  FROM reach GROUP BY 1),
        |sizes AS (
        |  SELECT cluster, CAST(count(*) AS BIGINT) AS cluster_size
        |  FROM labels GROUP BY 1)
        |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
        |FROM sizes GROUP BY 1 ORDER BY cluster_size""".stripMargin),

    // q248: same rank-exact cutoff day (ceil(0.8·n_days) over the
    // distinct-day order), same integer day buckets, same three-way
    // assignment.
    "q248_temporal_split" ->
      """WITH d AS (
        |  SELECT DISTINCT CAST(floor(epoch(CAST(ts AS TIMESTAMP)))
        |    AS BIGINT) // 86400 AS dd
        |  FROM events WHERE ts IS NOT NULL),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
        |cut AS (
        |  SELECT dd AS c
        |  FROM (SELECT dd, row_number() OVER (ORDER BY dd) AS r FROM d),
        |       nd
        |  WHERE r = CAST(ceil(CAST(n AS DOUBLE) * 0.8) AS BIGINT)),
        |a AS (
        |  SELECT CASE
        |           WHEN dd <= c THEN 'train'
        |           WHEN dd <= c + 2 THEN 'embargo'
        |           ELSE 'test' END AS split,
        |         dd
        |  FROM (SELECT CAST(floor(epoch(CAST(ts AS TIMESTAMP)))
        |          AS BIGINT) // 86400 AS dd
        |        FROM events WHERE ts IS NOT NULL) e, cut)
        |SELECT split, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(count(DISTINCT dd) AS BIGINT) AS n_days,
        |       min(dd) AS min_day, max(dd) AS max_day
        |FROM a GROUP BY 1 ORDER BY min_day""".stripMargin,

    // q254: q189's chain with the BY harmonic cut.
    "q254_by_screen" -> byScreenOracleSql,

    // q266: same (metric, source) rank orders, same integer 4S
    // identity, one division.
    "q266_kendall_w" ->
      """WITH m AS (
        |  SELECT source,
        |         CAST(sum(n_chars) AS DOUBLE)
        |           / CAST(count(*) AS DOUBLE) AS mean_chars,
        |         CAST(count(*) AS BIGINT) AS n_docs,
        |         max(n_chars) AS max_chars
        |  FROM documents
        |  WHERE source IS NOT NULL AND n_chars IS NOT NULL GROUP BY 1),
        |r AS (
        |  SELECT source,
        |         CAST(row_number() OVER (ORDER BY mean_chars, source)
        |           AS BIGINT)
        |       + CAST(row_number() OVER (ORDER BY n_docs, source)
        |           AS BIGINT)
        |       + CAST(row_number() OVER (ORDER BY max_chars, source)
        |           AS BIGINT) AS rs
        |  FROM m),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM r),
        |s4 AS (
        |  SELECT CAST(coalesce(sum((2 * rs - 3 * (n + 1))
        |           * (2 * rs - 3 * (n + 1))), 0) AS BIGINT) AS s4,
        |         max(n) AS n
        |  FROM r, nn)
        |SELECT n AS n_subjects, CAST(3 AS BIGINT) AS k_judges,
        |       CASE WHEN n >= 2 THEN
        |         round(3.0 * CAST(s4 AS DOUBLE)
        |               / (CAST(9 AS DOUBLE)
        |                  * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |                     * CAST(n AS DOUBLE) - CAST(n AS DOUBLE))),
        |           6) END AS w
        |FROM s4""".stripMargin,

    // q264: same 9-dp decimal moments, sample (n−1) sd, the same
    // lexicographic (dev, key) argmax.
    "q264_grubbs" ->
      """WITH s AS (
        |  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS o,
        |         CAST(count(*) AS DOUBLE) AS v
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
        |tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CAST(round(v, 9) AS DECIMAL(38,9)))
        |           AS DECIMAL(38,9)) AS s1,
        |         CAST(sum(CAST(round(v * v, 9) AS DECIMAL(38,9)))
        |           AS DECIMAL(38,9)) AS s2
        |  FROM s),
        |x AS (
        |  SELECT s.o, s.v, tot.n,
        |         abs(s.v - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
        |           AS dev,
        |         sqrt((CAST(s2 AS DOUBLE)
        |               - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
        |                 / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0))
        |           AS sd
        |  FROM s, tot),
        |mx AS (
        |  SELECT n, max(struct_pack(d := dev, at := o, val := v,
        |           sd2 := sd)) AS m
        |  FROM x GROUP BY n)
        |SELECT n, m.at AS at, m.val AS value,
        |       CASE WHEN n >= 3 AND m.sd2 > 0 THEN
        |         round(m.d / m.sd2, 6) END AS g_stat
        |FROM mx""".stripMargin,

    // q265: same distinct user-day pairs, same adjacent-day self-join
    // and union arithmetic.
    "q265_audience_overlap" -> audienceOverlapOracleSql,

    // q277: HLL sketches are exact below the promotion threshold, so
    // inclusion–exclusion reproduces the exact counts — the q265
    // oracle verbatim (the q229 sketch-swap contract).
    "q277_hll_overlap" -> audienceOverlapOracleSql,

    // q260: same per-user aggregates, same (metric, user) ntile
    // orders (DuckDB's ntile cuts the same ceil-first boundaries),
    // same decimal value sums.
    "q260_rfm" ->
      """WITH u AS (
        |  SELECT user_id,
        |         max(CAST(floor(epoch(CAST(ts AS TIMESTAMP)))
        |           AS BIGINT) // 86400) AS last_d,
        |         CAST(count(*) AS BIGINT) AS freq,
        |         CAST(coalesce(sum(CAST(round(CAST(value AS DOUBLE), 9)
        |           AS DECIMAL(38,9))), 0) AS DECIMAL(38,9)) AS mon
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL GROUP BY 1),
        |mx AS (SELECT max(last_d) AS maxd FROM u),
        |q AS (
        |  SELECT user_id, mon,
        |         CAST(ntile(5) OVER (ORDER BY maxd - last_d DESC,
        |           user_id) AS BIGINT) AS r,
        |         CAST(ntile(5) OVER (ORDER BY freq, user_id)
        |           AS BIGINT) AS f,
        |         CAST(ntile(5) OVER (ORDER BY mon, user_id)
        |           AS BIGINT) AS m
        |  FROM u, mx)
        |SELECT CAST(r AS VARCHAR) || CAST(f AS VARCHAR)
        |         || CAST(m AS VARCHAR) AS segment,
        |       CAST(count(*) AS BIGINT) AS n_users,
        |       round(CAST(sum(mon) AS DOUBLE)
        |             / CAST(count(*) AS DOUBLE), 6) AS avg_monetary
        |FROM q GROUP BY 1 ORDER BY segment""".stripMargin,

    // q261: q87's week conventions, 9-dp decimal value cells, the
    // per-cohort cumulative over the offset frame.
    "q261_cohort_ltv" ->
      """WITH c AS (
        |  SELECT user_id,
        |         CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE)
        |           AS w,
        |         CAST(round(CAST(value AS DOUBLE), 9) AS DECIMAL(38,9))
        |           AS v
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |first AS (
        |  SELECT user_id, min(w) AS cohort_week FROM c GROUP BY 1),
        |sizes AS (
        |  SELECT cohort_week, CAST(count(*) AS BIGINT) AS n_users
        |  FROM first GROUP BY 1),
        |weekly AS (
        |  SELECT f.cohort_week,
        |         CAST(date_diff('day', f.cohort_week, c.w) // 7
        |           AS BIGINT) AS week_offset,
        |         CAST(coalesce(sum(c.v), 0) AS DECIMAL(38,9)) AS wv
        |  FROM c JOIN first f USING (user_id) GROUP BY 1, 2),
        |cum AS (
        |  SELECT cohort_week, week_offset,
        |         sum(wv) OVER (PARTITION BY cohort_week
        |           ORDER BY week_offset
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS cv
        |  FROM weekly)
        |SELECT cum.cohort_week, cum.week_offset, s.n_users,
        |       round(CAST(cv AS DOUBLE) / CAST(s.n_users AS DOUBLE), 6)
        |         AS cum_value_per_user
        |FROM cum JOIN sizes s USING (cohort_week)
        |ORDER BY cohort_week, week_offset""".stripMargin,

    // q262: daily distinct actives joined to the q168 trailing-30
    // replay, one division.
    "q262_stickiness" ->
      """WITH pairs AS (
        |  SELECT DISTINCT user_id AS u,
        |         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |act AS (SELECT DISTINCT d AS e FROM pairs),
        |fan AS (SELECT u, unnest(range(d, d + 30)) AS e FROM pairs),
        |j AS (SELECT f.u, f.e FROM fan f JOIN act ON act.e = f.e),
        |mau AS (
        |  SELECT e, CAST(count(DISTINCT u) AS BIGINT) AS mau
        |  FROM j GROUP BY 1),
        |dau AS (
        |  SELECT d AS e, CAST(count(*) AS BIGINT) AS dau
        |  FROM pairs GROUP BY 1)
        |SELECT strftime(make_timestamp(dau.e * 86400 * 1000000),
        |         '%Y-%m-%d') AS day,
        |       dau.dau, mau.mau,
        |       round(CAST(dau.dau AS DOUBLE) / CAST(mau.mau AS DOUBLE),
        |         6) AS stickiness
        |FROM dau JOIN mau ON mau.e = dau.e ORDER BY day""".stripMargin,

    // q258: the q184 residual certification over REPLAYED engineered
    // features — per-user aggregates, pinned scale literals, q180
    // horizon label — at dim 7 (8 weights, λ on the 7 feature axes).
    "q258_churn_probe" ->
      """WITH wdump AS (
        |  SELECT CAST(idx AS BIGINT) AS idx, w
        |  FROM read_parquet('__OUT__/q258_churn_probe/*.parquet')),
        |fe AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS tot,
        |         CAST(sum(CASE WHEN event_type = 'click' THEN 1
        |           ELSE 0 END) AS BIGINT) AS c_click,
        |         CAST(sum(CASE WHEN event_type = 'error' THEN 1
        |           ELSE 0 END) AS BIGINT) AS c_error,
        |         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1
        |           ELSE 0 END) AS BIGINT) AS c_purchase,
        |         CAST(sum(CASE WHEN event_type = 'signup' THEN 1
        |           ELSE 0 END) AS BIGINT) AS c_signup,
        |         CAST(sum(CASE WHEN event_type = 'view' THEN 1
        |           ELSE 0 END) AS BIGINT) AS c_view,
        |         min(CAST(floor(epoch(CAST(ts AS TIMESTAMP)))
        |           AS BIGINT) // 3600) AS fb,
        |         max(CAST(floor(epoch(CAST(ts AS TIMESTAMP)))
        |           AS BIGINT) // 3600) AS lb
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL GROUP BY 1),
        |mx AS (SELECT max(lb) AS maxd FROM fe),
        |e AS (
        |  SELECT user_id,
        |         [CAST(c_click AS DOUBLE) / 100.0,
        |          CAST(c_error AS DOUBLE) / 100.0,
        |          CAST(c_purchase AS DOUBLE) / 100.0,
        |          CAST(c_signup AS DOUBLE) / 100.0,
        |          CAST(c_view AS DOUBLE) / 100.0,
        |          CAST(lb - fb AS DOUBLE) / 1000.0,
        |          CAST(tot AS DOUBLE) / 100.0,
        |          CAST(1 AS DOUBLE)] AS v,
        |         CASE WHEN lb <= maxd - 12 THEN CAST(1 AS DOUBLE)
        |              ELSE CAST(0 AS DOUBLE) END AS y
        |  FROM fe, mx),
        |el AS (
        |  SELECT user_id, y,
        |         CAST(generate_subscripts(v, 1) AS INTEGER) - 1 AS i,
        |         CAST(unnest(v) AS DOUBLE) AS x
        |  FROM e),
        |am AS (
        |  SELECT a.i AS i, b2.i AS j,
        |         CAST(sum(CAST(round(a.x * b2.x, 12) AS DECIMAL(38,12)))
        |           AS DOUBLE)
        |         + CASE WHEN a.i = b2.i AND a.i < 7
        |                THEN 0.001 ELSE 0 END AS s
        |  FROM el a JOIN el b2 ON a.user_id = b2.user_id
        |  GROUP BY 1, 2),
        |aw AS (
        |  SELECT am.i, sum(am.s * w.w) AS aw, sum(abs(am.s)) AS rs
        |  FROM am JOIN wdump w ON w.idx = am.j GROUP BY am.i),
        |bv AS (
        |  SELECT i, CAST(sum(CAST(round(x * y, 12) AS DECIMAL(38,12)))
        |           AS DOUBLE) AS b
        |  FROM el GROUP BY 1),
        |chk AS (
        |  SELECT coalesce(
        |      (SELECT count(*) FROM wdump) = 8
        |      AND (SELECT count(DISTINCT idx) FROM wdump
        |           WHERE idx BETWEEN 0 AND 7) = 8
        |      AND (SELECT bool_and(w = round(w, 9)) FROM wdump)
        |      AND (SELECT bool_and(abs(aw.aw - bv.b)
        |                           <= 1e-8 * aw.rs + 1e-6)
        |           FROM aw JOIN bv USING (i)),
        |      FALSE) AS ok)
        |SELECT idx, w FROM wdump WHERE (SELECT ok FROM chk)
        |UNION ALL
        |SELECT CAST(-1 AS BIGINT), CAST(0 AS DOUBLE)
        |WHERE NOT (SELECT ok FROM chk)
        |ORDER BY idx""".stripMargin,

    // q259 PARTIAL oracle: the q185 metric replay over the same
    // replayed features against q258's dumped weights.
    "q259_churn_report" ->
      """WITH wv AS (
        |  SELECT list(w ORDER BY idx) AS wl
        |  FROM read_parquet('__OUT__/q258_churn_probe/*.parquet')),
        |fe AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS tot,
        |         CAST(sum(CASE WHEN event_type = 'click' THEN 1
        |           ELSE 0 END) AS BIGINT) AS c_click,
        |         CAST(sum(CASE WHEN event_type = 'error' THEN 1
        |           ELSE 0 END) AS BIGINT) AS c_error,
        |         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1
        |           ELSE 0 END) AS BIGINT) AS c_purchase,
        |         CAST(sum(CASE WHEN event_type = 'signup' THEN 1
        |           ELSE 0 END) AS BIGINT) AS c_signup,
        |         CAST(sum(CASE WHEN event_type = 'view' THEN 1
        |           ELSE 0 END) AS BIGINT) AS c_view,
        |         min(CAST(floor(epoch(CAST(ts AS TIMESTAMP)))
        |           AS BIGINT) // 3600) AS fb,
        |         max(CAST(floor(epoch(CAST(ts AS TIMESTAMP)))
        |           AS BIGINT) // 3600) AS lb
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL GROUP BY 1),
        |mx AS (SELECT max(lb) AS maxd FROM fe),
        |e AS (
        |  SELECT [CAST(c_click AS DOUBLE) / 100.0,
        |          CAST(c_error AS DOUBLE) / 100.0,
        |          CAST(c_purchase AS DOUBLE) / 100.0,
        |          CAST(c_signup AS DOUBLE) / 100.0,
        |          CAST(c_view AS DOUBLE) / 100.0,
        |          CAST(lb - fb AS DOUBLE) / 1000.0,
        |          CAST(tot AS DOUBLE) / 100.0,
        |          CAST(1 AS DOUBLE)] AS v,
        |         CASE WHEN lb <= maxd - 12 THEN CAST(1 AS DOUBLE)
        |              ELSE CAST(0 AS DOUBLE) END AS y
        |  FROM fe, mx),
        |p AS (
        |  SELECT y,
        |         list_aggregate(list_transform(
        |           list_zip(v, (SELECT wl FROM wv)),
        |           x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)),
        |           'sum') AS pr
        |  FROM e),
        |t1 AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(y) AS sy FROM p)
        |SELECT t1.n,
        |       round(CAST(sum(CAST(round((y - pr) * (y - pr), 12)
        |             AS DECIMAL(38,12))) AS DOUBLE) / t1.n, 6) AS mse,
        |       CASE WHEN CAST(sum(CAST(round(
        |                (y - t1.sy / t1.n) * (y - t1.sy / t1.n), 12)
        |              AS DECIMAL(38,12))) AS DOUBLE) > 0 THEN
        |         round(1.0
        |           - CAST(sum(CAST(round((y - pr) * (y - pr), 12)
        |               AS DECIMAL(38,12))) AS DOUBLE)
        |             / CAST(sum(CAST(round(
        |                 (y - t1.sy / t1.n) * (y - t1.sy / t1.n), 12)
        |               AS DECIMAL(38,12))) AS DOUBLE), 6)
        |       END AS r2,
        |       round(CAST(sum(CASE WHEN (pr >= 0.5) = (y = 1.0)
        |                           THEN 1 ELSE 0 END) AS DOUBLE)
        |             / t1.n, 6) AS accuracy
        |FROM p CROSS JOIN t1 GROUP BY t1.n, t1.sy""".stripMargin,

    // q257: same (ts, event_id) total order per user, same double
    // lag, same (n desc, path) tiebreak.
    "q257_journey_trigrams" ->
      """WITH s AS (
        |  SELECT user_id, event_type,
        |         lag(event_type, 2) OVER w AS step1,
        |         lag(event_type, 1) OVER w AS step2
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_type IS NOT NULL
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT step1, step2, event_type AS step3,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM s WHERE step1 IS NOT NULL AND step2 IS NOT NULL
        |GROUP BY 1, 2, 3
        |ORDER BY n DESC, step1, step2, step3 LIMIT 10""".stripMargin,

    // q256 CHAINED oracle: the Fisher interval from q117's dumped
    // (n, rho) — 12-dp ln/exp rounds (the q219 parity rule), one
    // final 6-dp round per bound.
    "q256_spearman_ci" ->
      """WITH s AS (
        |  SELECT n, rho
        |  FROM read_parquet('__OUT__/q117_spearman/*.parquet')),
        |f AS (
        |  SELECT n, rho,
        |         round(0.5 * ln((1.0 + rho) / (1.0 - rho)), 12) AS fz,
        |         1.959964 / sqrt(CAST(n AS DOUBLE) - 3.0) AS hw
        |  FROM s)
        |SELECT n, rho,
        |       CASE WHEN n > 3 AND abs(rho) < 1 AND rho IS NOT NULL THEN
        |         round((round(exp(2.0 * (fz - hw)), 12) - 1.0)
        |               / (round(exp(2.0 * (fz - hw)), 12) + 1.0), 6)
        |       END AS ci_lo,
        |       CASE WHEN n > 3 AND abs(rho) < 1 AND rho IS NOT NULL THEN
        |         round((round(exp(2.0 * (fz + hw)), 12) - 1.0)
        |               / (round(exp(2.0 * (fz + hw)), 12) + 1.0), 6)
        |       END AS ci_hi
        |FROM f""".stripMargin,

    // q255: q34's gap replay, session sizes, one global fold.
    "q255_session_profile" ->
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS tsu
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |g AS (
        |  SELECT user_id, tsu, event_id,
        |    CASE WHEN lag(tsu) OVER w IS NULL
        |           OR CAST(floor(epoch(tsu)) AS BIGINT)
        |              - CAST(floor(epoch(lag(tsu) OVER w)) AS BIGINT)
        |                > 1800
        |         THEN 1 ELSE 0 END AS ns
        |  FROM e WINDOW w AS (PARTITION BY user_id
        |                      ORDER BY tsu, event_id)),
        |idx AS (
        |  SELECT user_id,
        |         sum(ns) OVER (PARTITION BY user_id
        |           ORDER BY tsu, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS sid
        |  FROM g),
        |sz AS (
        |  SELECT user_id, sid, CAST(count(*) AS BIGINT) AS n
        |  FROM idx GROUP BY 1, 2)
        |SELECT CAST(count(*) AS BIGINT) AS n_sessions,
        |       CAST(coalesce(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END), 0)
        |         AS BIGINT) AS n_bounce,
        |       round(CAST(coalesce(sum(CASE WHEN n = 1 THEN 1 ELSE 0
        |             END), 0) AS DOUBLE)
        |             / nullif(CAST(count(*) AS DOUBLE), 0), 6)
        |         AS bounce_rate,
        |       round(CAST(sum(n) AS DOUBLE)
        |             / nullif(CAST(count(*) AS DOUBLE), 0), 6)
        |         AS avg_session_events,
        |       max(n) AS max_session_events
        |FROM sz""".stripMargin,

    // q252: the q244 residual certification per DIMENSION BUDGET —
    // the subsystem equations use only indices < du plus the
    // intercept (65), ridge on the non-intercept sub-diagonal.
    "q252_ablation_weights" ->
      """WITH wdump AS (
        |  SELECT CAST(dims_used AS BIGINT) AS du,
        |         CAST(idx AS BIGINT) AS idx, w
        |  FROM read_parquet('__OUT__/q252_ablation_weights/*.parquet')),
        |e AS (
        |  SELECT vec_id,
        |         list_append(list_transform(embedding,
        |           x -> CAST(x AS DOUBLE)), CAST(1 AS DOUBLE)) AS v,
        |         CASE WHEN label = 0 THEN CAST(1 AS DOUBLE)
        |              WHEN label IS NOT NULL THEN CAST(0 AS DOUBLE)
        |         END AS y
        |  FROM embeddings
        |  WHERE embedding IS NOT NULL AND label IS NOT NULL
        |    AND len(embedding) = 64),
        |el AS (
        |  SELECT vec_id, y,
        |         CAST(generate_subscripts(v, 1) AS INTEGER) - 1 AS i,
        |         CAST(unnest(v) AS DOUBLE) AS x
        |  FROM e),
        |fl AS (SELECT DISTINCT du FROM wdump),
        |am AS (
        |  SELECT fl.du, a.i AS i, b2.i AS j,
        |         CAST(sum(CAST(round(a.x * b2.x, 12) AS DECIMAL(38,12)))
        |           AS DOUBLE)
        |         + CASE WHEN a.i = b2.i AND a.i < fl.du
        |                THEN 0.001 ELSE 0 END AS s
        |  FROM el a JOIN el b2 ON a.vec_id = b2.vec_id
        |  CROSS JOIN fl
        |  WHERE (a.i < fl.du OR a.i = 64)
        |    AND (b2.i < fl.du OR b2.i = 64)
        |  GROUP BY 1, 2, 3),
        |aw AS (
        |  SELECT am.du, am.i, sum(am.s * w.w) AS aw,
        |         sum(abs(am.s)) AS rs
        |  FROM am JOIN wdump w ON w.du = am.du AND w.idx = am.j
        |  GROUP BY 1, 2),
        |bv AS (
        |  SELECT fl.du, el.i,
        |         CAST(sum(CAST(round(x * y, 12) AS DECIMAL(38,12)))
        |           AS DOUBLE) AS b
        |  FROM el CROSS JOIN fl
        |  WHERE el.i < fl.du OR el.i = 64
        |  GROUP BY 1, 2),
        |chk AS (
        |  SELECT coalesce(
        |      (SELECT count(*) FROM wdump) = 17 + 33 + 65
        |      AND (SELECT list_sort(list(DISTINCT du)) FROM wdump)
        |            = [16, 32, 64]
        |      AND (SELECT bool_and(w = round(w, 9)) FROM wdump)
        |      AND (SELECT bool_and(idx < du OR idx = 64) FROM wdump)
        |      AND (SELECT bool_and(abs(aw.aw - bv.b)
        |                           <= 1e-8 * aw.rs + 1e-6)
        |           FROM aw JOIN bv ON aw.du = bv.du AND aw.i = bv.i),
        |      FALSE) AS ok)
        |SELECT du AS dims_used, idx, w FROM wdump
        |WHERE (SELECT ok FROM chk)
        |UNION ALL
        |SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(0 AS DOUBLE)
        |WHERE NOT (SELECT ok FROM chk)
        |ORDER BY dims_used, idx""".stripMargin,

    // q253 PARTIAL oracle: per-budget predictions via the q185
    // IN-ORDER list fold against q252's weights zero-extended to the
    // full width (the exact Spark score() arithmetic — a join-order
    // sum would break the fold-order contract), the q185 metric
    // chains per budget.
    "q253_ablation_curve" ->
      """WITH wdump AS (
        |  SELECT CAST(dims_used AS BIGINT) AS du,
        |         CAST(idx AS BIGINT) AS idx, w
        |  FROM read_parquet('__OUT__/q252_ablation_weights/*.parquet')),
        |fl AS (SELECT DISTINCT du FROM wdump),
        |idxs AS (
        |  SELECT fl.du, r.i
        |  FROM fl CROSS JOIN (SELECT unnest(range(0, 65)) AS i) r),
        |wfull AS (
        |  SELECT i2.du, list(coalesce(w.w, 0.0) ORDER BY i2.i) AS wl
        |  FROM idxs i2 LEFT JOIN wdump w
        |    ON w.du = i2.du AND w.idx = i2.i
        |  GROUP BY 1),
        |e AS (
        |  SELECT vec_id,
        |         list_append(list_transform(embedding,
        |           x -> CAST(x AS DOUBLE)), CAST(1 AS DOUBLE)) AS v,
        |         CASE WHEN label = 0 THEN CAST(1 AS DOUBLE)
        |              WHEN label IS NOT NULL THEN CAST(0 AS DOUBLE)
        |         END AS y
        |  FROM embeddings
        |  WHERE embedding IS NOT NULL AND label IS NOT NULL
        |    AND len(embedding) = 64),
        |p AS (
        |  SELECT wf.du, e.y,
        |         list_aggregate(list_transform(
        |           list_zip(e.v, wf.wl),
        |           x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)),
        |           'sum') AS pr
        |  FROM e CROSS JOIN wfull wf),
        |t1 AS (SELECT du, CAST(count(*) AS BIGINT) AS n, sum(y) AS sy
        |       FROM p GROUP BY 1)
        |SELECT p.du AS dims_used, t1.n,
        |       round(CAST(sum(CAST(round((y - pr) * (y - pr), 12)
        |             AS DECIMAL(38,12))) AS DOUBLE) / t1.n, 6) AS mse,
        |       CASE WHEN CAST(sum(CAST(round(
        |                (y - t1.sy / t1.n) * (y - t1.sy / t1.n), 12)
        |              AS DECIMAL(38,12))) AS DOUBLE) > 0 THEN
        |         round(1.0
        |           - CAST(sum(CAST(round((y - pr) * (y - pr), 12)
        |               AS DECIMAL(38,12))) AS DOUBLE)
        |             / CAST(sum(CAST(round(
        |                 (y - t1.sy / t1.n) * (y - t1.sy / t1.n), 12)
        |               AS DECIMAL(38,12))) AS DOUBLE), 6)
        |       END AS r2
        |FROM p JOIN t1 ON t1.du = p.du
        |GROUP BY p.du, t1.n, t1.sy ORDER BY dims_used""".stripMargin,

    // q246: the q244 residual certification with PREFIX train sets
    // (fold <= s instead of fold <> f).
    "q246_learning_weights" ->
      """WITH wdump AS (
        |  SELECT CAST(train_upto AS BIGINT) AS s,
        |         CAST(idx AS BIGINT) AS idx, w
        |  FROM read_parquet('__OUT__/q246_learning_weights/*.parquet')),
        |e AS (
        |  SELECT vec_id, vec_id % 4 AS fold,
        |         list_append(list_transform(embedding,
        |           x -> CAST(x AS DOUBLE)), CAST(1 AS DOUBLE)) AS v,
        |         CASE WHEN label = 0 THEN CAST(1 AS DOUBLE)
        |              WHEN label IS NOT NULL THEN CAST(0 AS DOUBLE)
        |         END AS y
        |  FROM embeddings
        |  WHERE embedding IS NOT NULL AND label IS NOT NULL
        |    AND len(embedding) = 64),
        |el AS (
        |  SELECT vec_id, fold, y,
        |         CAST(generate_subscripts(v, 1) AS INTEGER) - 1 AS i,
        |         CAST(unnest(v) AS DOUBLE) AS x
        |  FROM e),
        |fl AS (SELECT DISTINCT s FROM wdump),
        |am AS (
        |  SELECT fl.s, a.i AS i, b2.i AS j,
        |         CAST(sum(CAST(round(a.x * b2.x, 12) AS DECIMAL(38,12)))
        |           AS DOUBLE)
        |         + CASE WHEN a.i = b2.i AND a.i < 64
        |                THEN 0.001 ELSE 0 END AS sm
        |  FROM el a JOIN el b2 ON a.vec_id = b2.vec_id
        |  CROSS JOIN fl WHERE a.fold <= fl.s
        |  GROUP BY 1, 2, 3),
        |aw AS (
        |  SELECT am.s, am.i, sum(am.sm * w.w) AS aw,
        |         sum(abs(am.sm)) AS rs
        |  FROM am JOIN wdump w ON w.s = am.s AND w.idx = am.j
        |  GROUP BY 1, 2),
        |bv AS (
        |  SELECT fl.s, el.i,
        |         CAST(sum(CAST(round(x * y, 12) AS DECIMAL(38,12)))
        |           AS DOUBLE) AS b
        |  FROM el CROSS JOIN fl WHERE el.fold <= fl.s
        |  GROUP BY 1, 2),
        |chk AS (
        |  SELECT coalesce(
        |      (SELECT count(*) FROM wdump) = 3 * 65
        |      AND (SELECT list_sort(list(DISTINCT s)) FROM wdump)
        |            = [0, 1, 2]
        |      AND (SELECT bool_and(w = round(w, 9)) FROM wdump)
        |      AND (SELECT bool_and(abs(aw.aw - bv.b)
        |                           <= 1e-8 * aw.rs + 1e-6)
        |           FROM aw JOIN bv ON aw.s = bv.s AND aw.i = bv.i),
        |      FALSE) AS ok)
        |SELECT s AS train_upto, idx, w FROM wdump
        |WHERE (SELECT ok FROM chk)
        |UNION ALL
        |SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(0 AS DOUBLE)
        |WHERE NOT (SELECT ok FROM chk)
        |ORDER BY train_upto, idx""".stripMargin,

    // q247 PARTIAL oracle: predictions on the held-out stratum from
    // q246's dumped weights, n_train replayed as the exact prefix
    // count, the q185 decimal metric chains per prefix.
    "q247_learning_curve" ->
      """WITH wv AS (
        |  SELECT CAST(train_upto AS BIGINT) AS s, list(w ORDER BY idx)
        |           AS wl
        |  FROM read_parquet('__OUT__/q246_learning_weights/*.parquet')
        |  GROUP BY 1),
        |e AS (
        |  SELECT vec_id % 4 AS fold,
        |         list_append(list_transform(embedding,
        |           x -> CAST(x AS DOUBLE)), CAST(1 AS DOUBLE)) AS v,
        |         CASE WHEN label = 0 THEN CAST(1 AS DOUBLE)
        |              WHEN label IS NOT NULL THEN CAST(0 AS DOUBLE)
        |         END AS y
        |  FROM embeddings
        |  WHERE embedding IS NOT NULL AND label IS NOT NULL
        |    AND len(embedding) = 64),
        |nt AS (
        |  SELECT wv.s, CAST(count(*) AS BIGINT) AS n_train
        |  FROM e CROSS JOIN wv WHERE e.fold <= wv.s GROUP BY 1),
        |p AS (
        |  SELECT wv.s, e.y,
        |         list_aggregate(list_transform(
        |           list_zip(e.v, wv.wl),
        |           x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)),
        |           'sum') AS pr
        |  FROM e CROSS JOIN wv WHERE e.fold = 3),
        |t1 AS (SELECT s, CAST(count(*) AS BIGINT) AS n_test, sum(y) AS sy
        |       FROM p GROUP BY 1)
        |SELECT p.s AS train_upto, nt.n_train, t1.n_test,
        |       round(CAST(sum(CAST(round((y - pr) * (y - pr), 12)
        |             AS DECIMAL(38,12))) AS DOUBLE) / t1.n_test, 6)
        |         AS mse,
        |       CASE WHEN CAST(sum(CAST(round(
        |                (y - t1.sy / t1.n_test) * (y - t1.sy / t1.n_test),
        |                12) AS DECIMAL(38,12))) AS DOUBLE) > 0 THEN
        |         round(1.0
        |           - CAST(sum(CAST(round((y - pr) * (y - pr), 12)
        |               AS DECIMAL(38,12))) AS DOUBLE)
        |             / CAST(sum(CAST(round(
        |                 (y - t1.sy / t1.n_test)
        |                 * (y - t1.sy / t1.n_test), 12)
        |               AS DECIMAL(38,12))) AS DOUBLE), 6)
        |       END AS r2
        |FROM p JOIN t1 ON t1.s = p.s JOIN nt ON nt.s = p.s
        |GROUP BY p.s, nt.n_train, t1.n_test, t1.sy
        |ORDER BY train_upto""".stripMargin,

    // q244: the q184 residual certification PER FOLD — each fold's
    // train moments (rows with fold <> f) replay from scratch, and
    // the dumped weights must satisfy that fold's normal equations.
    "q244_probe_cv" ->
      """WITH wdump AS (
        |  SELECT CAST(fold AS BIGINT) AS f, CAST(idx AS BIGINT) AS idx,
        |         w
        |  FROM read_parquet('__OUT__/q244_probe_cv/*.parquet')),
        |e AS (
        |  SELECT vec_id, vec_id % 3 AS fold,
        |         list_append(list_transform(embedding,
        |           x -> CAST(x AS DOUBLE)), CAST(1 AS DOUBLE)) AS v,
        |         CASE WHEN label = 0 THEN CAST(1 AS DOUBLE)
        |              WHEN label IS NOT NULL THEN CAST(0 AS DOUBLE)
        |         END AS y
        |  FROM embeddings
        |  WHERE embedding IS NOT NULL AND label IS NOT NULL
        |    AND len(embedding) = 64),
        |el AS (
        |  SELECT vec_id, fold, y,
        |         CAST(generate_subscripts(v, 1) AS INTEGER) - 1 AS i,
        |         CAST(unnest(v) AS DOUBLE) AS x
        |  FROM e),
        |fl AS (SELECT DISTINCT f FROM wdump),
        |am AS (
        |  SELECT fl.f, a.i AS i, b2.i AS j,
        |         CAST(sum(CAST(round(a.x * b2.x, 12) AS DECIMAL(38,12)))
        |           AS DOUBLE)
        |         + CASE WHEN a.i = b2.i AND a.i < 64
        |                THEN 0.001 ELSE 0 END AS s
        |  FROM el a JOIN el b2 ON a.vec_id = b2.vec_id
        |  CROSS JOIN fl WHERE a.fold <> fl.f
        |  GROUP BY 1, 2, 3),
        |aw AS (
        |  SELECT am.f, am.i, sum(am.s * w.w) AS aw,
        |         sum(abs(am.s)) AS rs
        |  FROM am JOIN wdump w ON w.f = am.f AND w.idx = am.j
        |  GROUP BY 1, 2),
        |bv AS (
        |  SELECT fl.f, el.i,
        |         CAST(sum(CAST(round(x * y, 12) AS DECIMAL(38,12)))
        |           AS DOUBLE) AS b
        |  FROM el CROSS JOIN fl WHERE el.fold <> fl.f
        |  GROUP BY 1, 2),
        |chk AS (
        |  SELECT coalesce(
        |      (SELECT count(*) FROM wdump) = 3 * 65
        |      AND (SELECT count(DISTINCT f) FROM wdump) = 3
        |      AND (SELECT bool_and(w = round(w, 9)) FROM wdump)
        |      AND (SELECT bool_and(abs(aw.aw - bv.b)
        |                           <= 1e-8 * aw.rs + 1e-6)
        |           FROM aw JOIN bv ON aw.f = bv.f AND aw.i = bv.i),
        |      FALSE) AS ok)
        |SELECT f AS fold, idx, w FROM wdump WHERE (SELECT ok FROM chk)
        |UNION ALL
        |SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(0 AS DOUBLE)
        |WHERE NOT (SELECT ok FROM chk)
        |ORDER BY fold, idx""".stripMargin,

    // q245 PARTIAL oracle: per-fold held-out predictions from q244's
    // dumped weights (in-list-order folds), the q185 decimal
    // SSE/SST/accuracy chains grouped by fold.
    "q245_probe_cv_report" ->
      """WITH wv AS (
        |  SELECT CAST(fold AS BIGINT) AS f, list(w ORDER BY idx) AS wl
        |  FROM read_parquet('__OUT__/q244_probe_cv/*.parquet')
        |  GROUP BY 1),
        |e AS (
        |  SELECT vec_id % 3 AS f,
        |         list_append(list_transform(embedding,
        |           x -> CAST(x AS DOUBLE)), CAST(1 AS DOUBLE)) AS v,
        |         CASE WHEN label = 0 THEN CAST(1 AS DOUBLE)
        |              WHEN label IS NOT NULL THEN CAST(0 AS DOUBLE)
        |         END AS y
        |  FROM embeddings
        |  WHERE embedding IS NOT NULL AND label IS NOT NULL
        |    AND len(embedding) = 64),
        |p AS (
        |  SELECT e.f, e.y,
        |         list_aggregate(list_transform(
        |           list_zip(e.v, wv.wl),
        |           x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)),
        |           'sum') AS pr
        |  FROM e JOIN wv ON wv.f = e.f),
        |t1 AS (SELECT f, CAST(count(*) AS BIGINT) AS n_test,
        |              sum(y) AS sy
        |       FROM p GROUP BY 1)
        |SELECT p.f AS fold, t1.n_test,
        |       round(CAST(sum(CAST(round((y - pr) * (y - pr), 12)
        |             AS DECIMAL(38,12))) AS DOUBLE) / t1.n_test, 6)
        |         AS mse,
        |       CASE WHEN CAST(sum(CAST(round(
        |                (y - t1.sy / t1.n_test) * (y - t1.sy / t1.n_test),
        |                12) AS DECIMAL(38,12))) AS DOUBLE) > 0 THEN
        |         round(1.0
        |           - CAST(sum(CAST(round((y - pr) * (y - pr), 12)
        |               AS DECIMAL(38,12))) AS DOUBLE)
        |             / CAST(sum(CAST(round(
        |                 (y - t1.sy / t1.n_test)
        |                 * (y - t1.sy / t1.n_test), 12)
        |               AS DECIMAL(38,12))) AS DOUBLE), 6)
        |       END AS r2,
        |       round(CAST(sum(CASE WHEN (pr >= 0.5) = (y = 1.0)
        |                           THEN 1 ELSE 0 END) AS DOUBLE)
        |             / t1.n_test, 6) AS accuracy
        |FROM p JOIN t1 ON t1.f = p.f
        |GROUP BY p.f, t1.n_test, t1.sy ORDER BY fold""".stripMargin,

    // q241: generated so the decay constant is the SAME double the
    // plan folds (the ewmaWeights precedent); per-event exp terms
    // 12-dp rounded before the decimal fold.
    "q241_decayed_counts" -> {
      val lam = math.log(2.0) / 604800L
      s"""WITH e AS (
         |  SELECT event_type AS key,
         |         CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
         |           AS t
         |  FROM events
         |  WHERE event_type IS NOT NULL AND ts IS NOT NULL),
         |mx AS (SELECT max(t) AS tmax FROM e),
         |w AS (
         |  SELECT key,
         |         CAST(round(exp(CAST(t - tmax AS DOUBLE) * $lam), 12)
         |           AS DECIMAL(38,12)) AS w
         |  FROM e, mx)
         |SELECT key, CAST(count(*) AS BIGINT) AS n,
         |       round(CAST(sum(w) AS DOUBLE), 6) AS decayed
         |FROM w GROUP BY key ORDER BY decayed DESC, key""".stripMargin
    },

    // q242: same exact pass counts, same pinned z = 1.959964 chain.
    "q242_wilson_bound" ->
      """WITH c AS (
        |  SELECT source AS g, CAST(count(*) AS BIGINT) AS n,
        |         CAST(coalesce(sum(CASE WHEN n_chars >= 200 THEN 1
        |           ELSE 0 END), 0) AS BIGINT) AS n_pass
        |  FROM documents
        |  WHERE source IS NOT NULL AND n_chars IS NOT NULL GROUP BY 1),
        |x AS (
        |  SELECT g, n, n_pass,
        |         CAST(n_pass AS DOUBLE) / CAST(n AS DOUBLE) AS p,
        |         CAST(n AS DOUBLE) AS nd
        |  FROM c)
        |SELECT g, n, n_pass, round(p, 6) AS rate,
        |       round((p + (1.959964 * 1.959964) / (2.0 * nd)
        |              - 1.959964 * sqrt(p * (1.0 - p) / nd
        |                  + (1.959964 * 1.959964) / (4.0 * nd * nd)))
        |             / (1.0 + (1.959964 * 1.959964) / nd), 6)
        |         AS wilson_lb
        |FROM x ORDER BY wilson_lb DESC, g""".stripMargin,

    // q243: same group rates, same 12-dp decimal MoM prior, same
    // degenerate-prior NULL guard.
    "q243_eb_shrink" ->
      """WITH c AS (
        |  SELECT source AS g, CAST(count(*) AS BIGINT) AS n,
        |         CAST(coalesce(sum(CASE WHEN n_chars >= 200 THEN 1
        |           ELSE 0 END), 0) AS BIGINT) AS n_pass
        |  FROM documents
        |  WHERE source IS NOT NULL AND n_chars IS NOT NULL GROUP BY 1),
        |r AS (SELECT g, n, n_pass,
        |             CAST(n_pass AS DOUBLE) / CAST(n AS DOUBLE) AS rate
        |      FROM c),
        |pr AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS k,
        |         CAST(sum(CAST(round(rate, 12) AS DECIMAL(38,12)))
        |           AS DOUBLE) AS sr,
        |         CAST(sum(CAST(round(rate * rate, 12)
        |           AS DECIMAL(38,12))) AS DOUBLE) AS sr2
        |  FROM r),
        |p2 AS (
        |  SELECT sr / k AS m, sr2 / k - (sr / k) * (sr / k) AS v
        |  FROM pr)
        |SELECT g, n, n_pass, round(rate, 6) AS rate,
        |       CASE WHEN v > 0 AND v < m * (1.0 - m) THEN
        |         round((CAST(n_pass AS DOUBLE)
        |                + m * (m * (1.0 - m) / v - 1.0))
        |               / (CAST(n AS DOUBLE)
        |                  + (m * (1.0 - m) / v - 1.0)), 6)
        |       END AS shrunk
        |FROM r, p2 ORDER BY g""".stripMargin,

    // q240: the same pinned Carter-Wegman cells per side, the same
    // min-of-row inner products, the exact Σ c_v(k)·c_p(k) truth.
    "q240_cms_join_size" ->
      """WITH h(r, a, b) AS (VALUES
        |    (0, 1103515245, 12345),
        |    (1, 1664525, 1013904223),
        |    (2, 22695477, 1),
        |    (3, 1588635695, 1203)),
        |ev AS (SELECT CAST(user_id AS BIGINT) AS k, event_type
        |       FROM events WHERE user_id IS NOT NULL),
        |skv AS (
        |  SELECT h.r,
        |         ((h.a * (k % 2147483647) + h.b) % 2147483647) % 64
        |           AS bucket,
        |         count(*) AS cnt
        |  FROM ev CROSS JOIN h WHERE event_type = 'view'
        |  GROUP BY 1, 2),
        |skp AS (
        |  SELECT h.r,
        |         ((h.a * (k % 2147483647) + h.b) % 2147483647) % 64
        |           AS bucket,
        |         count(*) AS cnt
        |  FROM ev CROSS JOIN h WHERE event_type = 'purchase'
        |  GROUP BY 1, 2),
        |ip AS (
        |  SELECT v.r, sum(v.cnt * p.cnt) AS ipr
        |  FROM skv v JOIN skp p ON v.r = p.r AND v.bucket = p.bucket
        |  GROUP BY 1),
        |est AS (
        |  SELECT CASE WHEN count(*) >= 4 THEN min(ipr) ELSE 0 END
        |    AS est_join_size FROM ip),
        |ex AS (
        |  SELECT CAST(coalesce(sum(cv * cp), 0) AS BIGINT)
        |    AS true_join_size
        |  FROM (SELECT k, count(*) AS cv FROM ev
        |        WHERE event_type = 'view' GROUP BY 1) v
        |  JOIN (SELECT k, count(*) AS cp FROM ev
        |        WHERE event_type = 'purchase' GROUP BY 1) p USING (k))
        |SELECT true_join_size, CAST(est_join_size AS BIGINT)
        |         AS est_join_size,
        |       CAST(est_join_size AS BIGINT) - true_join_size AS over
        |FROM ex, est""".stripMargin,

    // q238 CHAINED oracle (the q211 precedent): π comes from q218's
    // own dump (the certified stationary vector), the transition
    // ratios replay exactly, and every ln term is 12-dp rounded (the
    // q219 ln-parity rule) before the decimal fold.
    "q238_entropy_rate" ->
      """WITH p AS (
        |  SELECT state, pi
        |  FROM read_parquet('__OUT__/q218_stationary_dist/*.parquet')),
        |tr AS (
        |  SELECT src, event_type AS dst, CAST(count(*) AS BIGINT) AS n
        |  FROM (SELECT user_id, event_type,
        |               lag(event_type) OVER (PARTITION BY user_id
        |                 ORDER BY ts, event_id) AS src
        |        FROM events
        |        WHERE user_id IS NOT NULL AND ts IS NOT NULL) s
        |  WHERE src IS NOT NULL GROUP BY 1, 2),
        |rs AS (SELECT src, CAST(sum(n) AS BIGINT) AS tot
        |       FROM tr GROUP BY 1),
        |kk AS (SELECT CAST(count(*) AS BIGINT) AS k FROM p),
        |cell AS (
        |  SELECT CAST(round(p.pi
        |           * (CAST(tr.n AS DOUBLE) / CAST(rs.tot AS DOUBLE))
        |           * ln(CAST(tr.n AS DOUBLE) / CAST(rs.tot AS DOUBLE)),
        |           12) AS DECIMAL(38,12)) AS t
        |  FROM tr JOIN rs USING (src) JOIN p ON p.state = tr.src),
        |dang AS (
        |  SELECT CAST(round(p.pi * -ln(CAST(kk.k AS DOUBLE)), 12)
        |           AS DECIMAL(38,12)) AS t
        |  FROM p, kk WHERE p.state NOT IN (SELECT src FROM rs)),
        |u AS (SELECT t FROM cell UNION ALL SELECT t FROM dang),
        |h AS (SELECT coalesce(sum(t), 0) AS hh FROM u)
        |SELECT kk.k AS n_states,
        |       round(-CAST(hh AS DOUBLE), 6) AS entropy_nats,
        |       round(exp(-CAST(hh AS DOUBLE)), 6) AS perplexity
        |FROM h, kk""".stripMargin,

    // q236: q202's complete-panel ratings, exact integer Q chain.
    "q236_cochran_q" ->
      """WITH r AS (
        |  SELECT CAST(length(text) >= 200 AS BIGINT) AS c0,
        |         CAST(len(list_filter(string_split_regex(lower(text),
        |           '\s+'), t -> length(t) > 0)) >= 40 AS BIGINT) AS c1,
        |         CAST(length(text) <= 8 * len(list_filter(
        |           string_split_regex(lower(text), '\s+'),
        |           t -> length(t) > 0)) AS BIGINT) AS c2
        |  FROM documents WHERE text IS NOT NULL),
        |ag AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_items,
        |         CAST(sum(c0 + c1 + c2) AS HUGEINT) AS s,
        |         CAST(sum((c0 + c1 + c2) * (c0 + c1 + c2)) AS HUGEINT)
        |           AS r2,
        |         CAST(sum(c0) AS HUGEINT) AS t0,
        |         CAST(sum(c1) AS HUGEINT) AS t1,
        |         CAST(sum(c2) AS HUGEINT) AS t2
        |  FROM r)
        |SELECT n_items, CAST(2 AS INTEGER) AS dof,
        |       CASE WHEN 3 * s - r2 > 0 THEN
        |         round(CAST(2 * (3 * (t0*t0 + t1*t1 + t2*t2) - s*s)
        |                 AS DOUBLE)
        |               / CAST(3 * s - r2 AS DOUBLE), 6)
        |       END AS q_stat
        |FROM ag""".stripMargin,

    // q237: q166's densified χ² chained into the V closed form — V is
    // computed from the same 6-dp χ² the test reports.
    "q237_cramers_v" -> (
      "WITH chi AS (\n" + chi2OracleSql(
        """WITH base AS (
          |  SELECT event_type AS a,
          |         (CAST(floor(epoch(ts)) AS BIGINT) // 86400) % 7 AS b
          |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL),
          |cells AS (SELECT a, b, CAST(count(*) AS BIGINT) AS o
          |          FROM base GROUP BY 1, 2)""".stripMargin) + "\n)\n" +
      """SELECT n, dof, chi2,
        |       CASE WHEN n_rows > 1 AND n_cols > 1 THEN
        |         round(sqrt(chi2 / (CAST(n AS DOUBLE)
        |               * CAST(least(n_rows - 1, n_cols - 1) AS DOUBLE))),
        |           6)
        |       END AS v
        |FROM chi""".stripMargin),

    // q235: same lower-median rank pick ((value, day) order), same
    // equal-to-median drop, same lag-based run count and closed-form
    // z; p on the unrounded z (the q226 chain).
    "q235_runs_test" ->
      """WITH s AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |         CAST(count(*) AS DOUBLE) AS v
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
        |nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM s),
        |md AS (
        |  SELECT v AS med
        |  FROM (SELECT v, row_number() OVER (ORDER BY v, day) AS r
        |        FROM s), nt
        |  WHERE r = CAST(ceil(CAST(n AS DOUBLE) / 2.0) AS BIGINT)),
        |sg AS (
        |  SELECT day, CASE WHEN v > med THEN 1 ELSE 0 END AS sgn
        |  FROM s, md WHERE v <> med),
        |lg AS (
        |  SELECT sgn, lag(sgn) OVER (ORDER BY day) AS prev FROM sg),
        |ag AS (
        |  SELECT CAST(coalesce(sum(sgn), 0) AS BIGINT) AS n1,
        |         CAST(coalesce(sum(CASE WHEN sgn = 0 THEN 1 ELSE 0
        |           END), 0) AS BIGINT) AS n2,
        |         CAST(coalesce(sum(CASE WHEN prev IS NULL
        |           OR prev <> sgn THEN 1 ELSE 0 END), 0) AS BIGINT)
        |           AS runs
        |  FROM lg),
        |x AS (
        |  SELECT n1, n2, runs,
        |         CAST(n1 AS DOUBLE) AS d1, CAST(n2 AS DOUBLE) AS d2
        |  FROM ag),
        |zz AS (
        |  SELECT n1, n2, runs,
        |         2.0 * d1 * d2 * (2.0 * d1 * d2 - (d1 + d2))
        |           / ((d1 + d2) * (d1 + d2) * (d1 + d2 - 1.0)) AS vv,
        |         (CAST(runs AS DOUBLE)
        |           - (2.0 * d1 * d2 / (d1 + d2) + 1.0)) AS gap
        |  FROM x),
        |px AS (
        |  SELECT n1, n2, runs, vv, gap,
        |         abs(gap / sqrt(vv)) * 0.7071067811865476 AS x,
        |         1.0 / (1.0 + 0.3275911
        |           * (abs(gap / sqrt(vv)) * 0.7071067811865476)) AS t
        |  FROM zz)
        |SELECT n1 AS n_above, n2 AS n_below, runs,
        |       CASE WHEN n1 > 0 AND n2 > 0 AND vv > 0 THEN
        |         round(gap / sqrt(vv), 6) END AS z,
        |       CASE WHEN n1 > 0 AND n2 > 0 AND vv > 0 THEN
        |         round(((((1.061405429 * t + -1.453152027) * t
        |               + 1.421413741) * t + -0.284496736) * t
        |               + 0.254829592) * t * exp(-(x * x)), 6)
        |       END AS p
        |FROM px""".stripMargin,

    // q234: q193's argmax replay picks the breakpoint day, then the
    // q147 decimal-moment OLS per side over the row-index clock.
    "q234_segmented_trend" ->
      """WITH s AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |         CAST(count(*) AS BIGINT) AS n_events
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
        |c AS (
        |  SELECT day, n_events,
        |         CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i,
        |         sum(n_events) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
        |           PRECEDING AND CURRENT ROW) AS cum,
        |         CAST(count(*) OVER () AS BIGINT) AS n,
        |         sum(n_events) OVER () AS s1,
        |         sum(n_events * n_events) OVER () AS s2
        |  FROM s),
        |x AS (
        |  SELECT day, n_events, i,
        |         sqrt((CAST(s2 AS DOUBLE)
        |               - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
        |                 / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE))
        |           AS sigma,
        |         CAST(n AS DOUBLE) * CAST(cum AS DOUBLE)
        |           - CAST(i AS DOUBLE) * CAST(s1 AS DOUBLE) AS d
        |  FROM c),
        |y AS (SELECT *, max(abs(d)) OVER () AS dmax FROM x),
        |z AS (SELECT *, min(CASE WHEN abs(d) = dmax THEN i END) OVER ()
        |        AS imin FROM y),
        |bp AS (
        |  SELECT day AS bd FROM z
        |  WHERE abs(d) = dmax AND sigma > 0 AND i = imin),
        |lab AS (
        |  SELECT CASE WHEN z.day <= bp.bd THEN 'pre' ELSE 'post' END
        |           AS segment,
        |         CAST(z.i AS DOUBLE) AS xx,
        |         CAST(z.n_events AS DOUBLE) AS yy
        |  FROM z, bp),
        |m AS (
        |  SELECT segment, CAST(count(*) AS BIGINT) AS n,
        |         sum(CAST(round(xx, 12) AS DECIMAL(38,12))) AS sx,
        |         sum(CAST(round(yy, 12) AS DECIMAL(38,12))) AS sy,
        |         sum(CAST(round(xx * xx, 12) AS DECIMAL(38,12))) AS sxx,
        |         sum(CAST(round(yy * yy, 12) AS DECIMAL(38,12))) AS syy,
        |         sum(CAST(round(xx * yy, 12) AS DECIMAL(38,12))) AS sxy
        |  FROM lab GROUP BY 1),
        |k AS (
        |  SELECT segment, n, CAST(n AS DOUBLE) AS nd,
        |         CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
        |         CAST(sxx AS DOUBLE) AS sxxd, CAST(syy AS DOUBLE) AS syyd,
        |         CAST(sxy AS DOUBLE) AS sxyd
        |  FROM m),
        |f AS (
        |  SELECT segment, n,
        |         nd * sxyd - sxd * syd AS cov,
        |         nd * sxxd - sxd * sxd AS varx,
        |         nd * syyd - syd * syd AS vary,
        |         nd, sxd, syd
        |  FROM k)
        |SELECT segment, n,
        |       round(cov / nullif(varx, CAST(0 AS DOUBLE)), 6) AS slope,
        |       round((syd - cov / nullif(varx, CAST(0 AS DOUBLE)) * sxd)
        |             / nd, 6) AS intercept,
        |       round(cov * cov / nullif(varx * vary, CAST(0 AS DOUBLE)), 6)
        |         AS r2
        |FROM f ORDER BY segment DESC""".stripMargin,

    // q233: same day buckets, same strict x< pairs, same lower-median
    // rank picks ((n+1)//2 over the slope order, then over the
    // intercept order at the chosen slope) — every pick an ACTUAL
    // computed double, zero interpolation.
    "q233_theil_sen" ->
      """WITH s AS (
        |  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS x,
        |         CAST(count(*) AS DOUBLE) AS v
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
        |p AS (
        |  SELECT (b.v - a.v) / (CAST(b.x AS DOUBLE)
        |           - CAST(a.x AS DOUBLE)) AS sl
        |  FROM s a JOIN s b ON a.x < b.x),
        |np AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM p),
        |slp AS (
        |  SELECT n_pairs, sl AS slope
        |  FROM (SELECT sl, row_number() OVER (ORDER BY sl) AS r FROM p),
        |       np
        |  WHERE r = (n_pairs + 1) // 2),
        |nb AS (SELECT CAST(count(*) AS BIGINT) AS n_points FROM s),
        |ic AS (
        |  SELECT n_points, n_pairs, slope, i
        |  FROM (SELECT s.v - slp.slope * CAST(s.x AS DOUBLE) AS i,
        |               row_number() OVER (ORDER BY
        |                 s.v - slp.slope * CAST(s.x AS DOUBLE)) AS r,
        |               slp.n_pairs, slp.slope
        |        FROM s, slp),
        |       nb
        |  WHERE r = (n_points + 1) // 2)
        |SELECT n_points, n_pairs, round(slope, 6) AS slope,
        |       round(i, 6) AS intercept
        |FROM ic""".stripMargin,

    // q231: same 9-dp decimal moments (n_chars is integer — exact),
    // same 12-dp between-term folds, same guarded F chain.
    "q231_anova" ->
      """WITH cells AS (
        |  SELECT source,
        |         CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CAST(round(CAST(n_chars AS DOUBLE), 9)
        |           AS DECIMAL(38,9))) AS DECIMAL(38,9)) AS s1,
        |         CAST(sum(CAST(round(CAST(n_chars AS DOUBLE)
        |                  * CAST(n_chars AS DOUBLE), 9)
        |           AS DECIMAL(38,9))) AS DECIMAL(38,9)) AS s2
        |  FROM documents
        |  WHERE source IS NOT NULL AND n_chars IS NOT NULL GROUP BY 1),
        |f AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k,
        |         CAST(coalesce(sum(n), 0) AS BIGINT) AS nn,
        |         sum(s1) AS ts1, sum(s2) AS ts2,
        |         CAST(sum(CAST(round(CAST(s1 AS DOUBLE)
        |             * CAST(s1 AS DOUBLE)
        |             / CAST(n AS DOUBLE), 12) AS DECIMAL(38,12)))
        |           AS DECIMAL(38,12)) AS bsum
        |  FROM cells),
        |x AS (
        |  SELECT k, nn,
        |         CAST(bsum AS DOUBLE)
        |           - CAST(ts1 AS DOUBLE) * CAST(ts1 AS DOUBLE)
        |             / CAST(nn AS DOUBLE) AS ssb,
        |         CAST(ts2 AS DOUBLE) - CAST(bsum AS DOUBLE) AS ssw
        |  FROM f)
        |SELECT k AS n_groups, nn AS n_rows,
        |       round(ssb, 6) AS ss_between, round(ssw, 6) AS ss_within,
        |       CASE WHEN k >= 2 AND nn > k THEN
        |         round((ssb / (k - 1))
        |               / nullif(ssw / (nn - k), 0), 6) END AS f
        |FROM x""".stripMargin,

    // q232: same (group, value) count frame, same 2B+t+1 doubled
    // ranks over the distinct-value order, same 12-dp term folds and
    // tie correction.
    "q232_kruskal_wallis" ->
      """WITH gv AS (
        |  SELECT source AS g, CAST(n_chars AS DOUBLE) AS v,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM documents
        |  WHERE source IS NOT NULL AND n_chars IS NOT NULL
        |  GROUP BY 1, 2),
        |vt AS (SELECT v, sum(c) AS t FROM gv GROUP BY 1),
        |rk AS (
        |  SELECT v, t,
        |         2 * coalesce(sum(t) OVER (ORDER BY v
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |           0) + t + 1 AS r2
        |  FROM vt),
        |pg AS (
        |  SELECT gv.g, sum(gv.c) AS ng,
        |         CAST(sum(gv.c * rk.r2) AS HUGEINT) AS rg2
        |  FROM gv JOIN rk USING (v) GROUP BY 1),
        |ties AS (
        |  SELECT CAST(coalesce(sum(t * (t * t - 1)), 0) AS HUGEINT)
        |    AS tie FROM rk),
        |f AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k,
        |         CAST(coalesce(sum(ng), 0) AS BIGINT) AS nn,
        |         CAST(sum(CAST(round(CAST(rg2 AS DOUBLE)
        |             * CAST(rg2 AS DOUBLE)
        |             / CAST(4 * ng AS DOUBLE), 12) AS DECIMAL(38,12)))
        |           AS DECIMAL(38,12)) AS rsum
        |  FROM pg),
        |x AS (
        |  SELECT k, nn, tie,
        |         12.0 * CAST(rsum AS DOUBLE)
        |           / (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) + 1))
        |           - 3.0 * (CAST(nn AS DOUBLE) + 1) AS h,
        |         1.0 - CAST(tie AS DOUBLE)
        |           / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)
        |              * CAST(nn AS DOUBLE) - CAST(nn AS DOUBLE)) AS corr
        |  FROM f, ties)
        |SELECT k AS n_groups, nn AS n, round(h, 6) AS h,
        |       round(h / nullif(corr, 0), 6) AS h_corrected
        |FROM x""".stripMargin,

    // q230: same daily counts as q193, DuckDB's Sunday-0 dayofweek
    // shifted to Spark's Sunday-1, same two divisions (counts are
    // integers, so the 9-dp decimal terms are the counts themselves).
    "q230_seasonal_index" ->
      """WITH s AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |         CAST(count(*) AS BIGINT) AS n_events
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
        |cells AS (
        |  SELECT CAST(dayofweek(day) + 1 AS INTEGER) AS dow,
        |         CAST(count(*) AS BIGINT) AS n_days,
        |         CAST(sum(n_events) AS HUGEINT) AS sv
        |  FROM s GROUP BY 1),
        |tot AS (SELECT sum(n_days) AS tn, sum(sv) AS ts FROM cells)
        |SELECT dow, n_days,
        |       round(CAST(sv AS DOUBLE) / n_days, 6) AS mean_value,
        |       round((CAST(sv AS DOUBLE) / n_days)
        |             / nullif(CAST(ts AS DOUBLE) / CAST(tn AS DOUBLE),
        |                      0), 6) AS seasonal_index
        |FROM cells, tot ORDER BY dow""".stripMargin,

    "q168_rolling_active" -> rollingActiveOracleSql,

    // q263 SHARES q168's oracle: the user-day distinct-union fold is
    // idempotent and lossless.
    "q263_actives_merge" -> rollingActiveOracleSql,

    // q229 SHARES q168's exact oracle: the per-day HLL sketches never
    // leave DataSketches' exact list/set mode at harness cardinality
    // (lgK 14 promotes at ~12k items), so union+estimate reproduces
    // count(DISTINCT) exactly.
    "q229_rolling_hll" -> rollingActiveOracleSql,

    // q169: same token/sentence/longword definitions, same guarded lix.
    "q169_readability" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |         list_filter(string_split_regex(lower(text), '\s+'),
        |                     x -> length(x) > 0) AS toks
        |  FROM documents WHERE doc_id < 100),
        |m AS (
        |  SELECT doc_id,
        |         CAST(len(toks) AS BIGINT) AS n_words,
        |         CASE WHEN text IS NOT NULL THEN
        |           greatest(CAST(len(regexp_extract_all(text, '[.!?]'))
        |                         AS BIGINT), 1) END AS n_sentences,
        |         CAST(len(list_filter(toks, x -> length(x) > 6))
        |              AS BIGINT) AS n_long
        |  FROM t)
        |SELECT doc_id, n_words, n_sentences, n_long,
        |       round(CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE)
        |             + CAST(100.0 AS DOUBLE) * CAST(n_long AS DOUBLE)
        |               / nullif(CAST(n_words AS DOUBLE),
        |                        CAST(0 AS DOUBLE)), 6) AS lix
        |FROM m ORDER BY doc_id""".stripMargin,

    // q171: same inverted-feature join, exact-count dots, both pair
    // orientations unioned before the per-query rank.
    "q171_similar_users" ->
      """WITH f AS (
        |  SELECT user_id AS id, event_type AS ft,
        |         CAST(CAST(count(*) AS BIGINT) AS DOUBLE) AS v
        |  FROM events
        |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        |  GROUP BY 1, 2),
        |nr AS (SELECT id, sqrt(sum(v * v)) AS nn FROM f GROUP BY id),
        |dt AS (
        |  SELECT a.id AS ua, b.id AS ub, sum(a.v * b.v) AS d
        |  FROM f a JOIN f b ON a.ft = b.ft AND a.id < b.id
        |  GROUP BY 1, 2),
        |s AS (
        |  SELECT ua, ub,
        |         round(d / nullif(na.nn * nb.nn, CAST(0 AS DOUBLE)), 6)
        |           AS sim
        |  FROM dt JOIN nr na ON na.id = dt.ua
        |  JOIN nr nb ON nb.id = dt.ub),
        |bo AS (SELECT ua AS q_id, ub AS nn_id, sim FROM s
        |       UNION ALL SELECT ub, ua, sim FROM s),
        |r AS (
        |  SELECT q_id, nn_id, sim,
        |         CAST(row_number() OVER (PARTITION BY q_id
        |                                 ORDER BY sim DESC, nn_id)
        |              AS BIGINT) AS rank
        |  FROM bo)
        |SELECT q_id, nn_id, sim, rank FROM r
        |WHERE rank <= 3 AND q_id < 20
        |ORDER BY q_id, rank""".stripMargin,

    // q172: same basket dedup, joint/margin counts, one-division ratios.
    "q172_assoc_rules" ->
      """WITH m AS (
        |  SELECT DISTINCT user_id AS b, event_type AS i
        |  FROM events
        |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
        |itn AS (SELECT i, CAST(count(*) AS BIGINT) AS ni FROM m GROUP BY i),
        |tt AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS n FROM m),
        |j AS (
        |  SELECT a.i AS antecedent, c.i AS consequent,
        |         CAST(count(*) AS BIGINT) AS n_ab
        |  FROM m a JOIN m c ON a.b = c.b AND a.i <> c.i
        |  GROUP BY 1, 2 HAVING count(*) >= 5)
        |SELECT j.antecedent, j.consequent, j.n_ab,
        |       round(CAST(n_ab AS DOUBLE) / CAST(tt.n AS DOUBLE), 6)
        |         AS support,
        |       round(CAST(n_ab AS DOUBLE) / CAST(na.ni AS DOUBLE), 6)
        |         AS confidence,
        |       round(CAST(n_ab AS DOUBLE) * CAST(tt.n AS DOUBLE)
        |             / (CAST(na.ni AS DOUBLE) * CAST(nb.ni AS DOUBLE)), 6)
        |         AS lift
        |FROM j JOIN itn na ON na.i = j.antecedent
        |JOIN itn nb ON nb.i = j.consequent CROSS JOIN tt
        |ORDER BY antecedent, consequent""".stripMargin,

    // q173: the q85 chain's top-10 joined to the same first-hit window.
    "q173_snippets" -> snippetsOracleSql,

    // q174: the q151 stats chain per half, dim-joined, decimal sums.
    "q174_centroid_drift" ->
      """WITH ea AS (
        |  SELECT CAST(generate_subscripts(embedding, 1) AS INTEGER) AS dim,
        |         CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings WHERE embedding IS NOT NULL AND vec_id % 2 = 0),
        |eb AS (
        |  SELECT CAST(generate_subscripts(embedding, 1) AS INTEGER) AS dim,
        |         CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings WHERE embedding IS NOT NULL AND vec_id % 2 <> 0),
        |sa AS (SELECT dim, round(avg(v), 9) AS ma FROM ea
        |       WHERE v IS NOT NULL GROUP BY dim),
        |sb AS (SELECT dim, round(avg(v), 9) AS mb FROM eb
        |       WHERE v IS NOT NULL GROUP BY dim),
        |j AS (SELECT sa.dim, ma, mb FROM sa JOIN sb USING (dim)),
        |m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_dims,
        |         sum(CAST(round(ma * mb, 12) AS DECIMAL(38,12))) AS ab,
        |         sum(CAST(round(ma * ma, 12) AS DECIMAL(38,12))) AS aa,
        |         sum(CAST(round(mb * mb, 12) AS DECIMAL(38,12))) AS bb,
        |         sum(CAST(round((ma - mb) * (ma - mb), 12)
        |                  AS DECIMAL(38,12))) AS d2
        |  FROM j)
        |SELECT n_dims,
        |       round(CAST(ab AS DOUBLE) /
        |             nullif(sqrt(CAST(aa AS DOUBLE))
        |                    * sqrt(CAST(bb AS DOUBLE)),
        |                    CAST(0 AS DOUBLE)), 6) AS cosine,
        |       round(sqrt(CAST(d2 AS DOUBLE)), 6) AS l2
        |FROM m""".stripMargin,

    // q175: same union-bin shares and decimal |p−q| fold.
    "q175_tv_distance" ->
      """WITH ba AS (
        |  SELECT floor(CAST(value AS DOUBLE) / CAST(5.0 AS DOUBLE)) AS bin,
        |         CAST(count(*) AS BIGINT) AS ca
        |  FROM events WHERE event_type = 'view' AND value IS NOT NULL
        |  GROUP BY 1),
        |bb AS (
        |  SELECT floor(CAST(value AS DOUBLE) / CAST(5.0 AS DOUBLE)) AS bin,
        |         CAST(count(*) AS BIGINT) AS cb
        |  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
        |  GROUP BY 1),
        |j AS (SELECT bin, coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
        |      FROM ba FULL OUTER JOIN bb USING (bin)),
        |tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
        |               CAST(sum(cb) AS BIGINT) AS nb,
        |               CAST(count(*) AS BIGINT) AS n_bins
        |        FROM j)
        |SELECT tot.n_bins, tot.na, tot.nb,
        |       round(CAST(0.5 AS DOUBLE) *
        |             CAST(sum(CAST(round(abs(
        |               CAST(ca AS DOUBLE) / CAST(tot.na AS DOUBLE)
        |               - CAST(cb AS DOUBLE) / CAST(tot.nb AS DOUBLE)), 12)
        |               AS DECIMAL(38,12))) AS DOUBLE), 6) AS tv
        |FROM j CROSS JOIN tot GROUP BY 1, 2, 3""".stripMargin,

    // q176: same per-user conversion rollup, same pooled-variance chain.
    "q176_ab_test" ->
      """WITH u AS (
        |  SELECT user_id,
        |         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |           AS conv
        |  FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
        |ca AS (SELECT CAST(count(*) AS BIGINT) AS n1,
        |              CAST(sum(CASE WHEN conv = 1 THEN 1 ELSE 0 END)
        |                   AS BIGINT) AS s1
        |       FROM u WHERE user_id % 2 = 0),
        |cb AS (SELECT CAST(count(*) AS BIGINT) AS n2,
        |              CAST(sum(CASE WHEN conv = 1 THEN 1 ELSE 0 END)
        |                   AS BIGINT) AS s2
        |       FROM u WHERE user_id % 2 <> 0)
        |SELECT n1, s1, n2, s2,
        |       round(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE), 6) AS p1,
        |       round(CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE), 6) AS p2,
        |       round((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |              - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
        |             / nullif(sqrt(
        |                 CAST(s1 + s2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE)
        |                 * (1.0 - CAST(s1 + s2 AS DOUBLE)
        |                          / CAST(n1 + n2 AS DOUBLE))
        |                 * (1.0 / CAST(n1 AS DOUBLE)
        |                    + 1.0 / CAST(n2 AS DOUBLE))),
        |               CAST(0 AS DOUBLE)), 6) AS z
        |FROM ca CROSS JOIN cb""".stripMargin,

    // q177: same doubled-average combined ranks, same tie-corrected
    // variance — integers until the final z.
    "q177_mann_whitney" ->
      """WITH t AS (
        |  SELECT CAST(value AS DOUBLE) AS v, 1 AS g FROM events
        |  WHERE event_type = 'view' AND value IS NOT NULL
        |  UNION ALL
        |  SELECT CAST(value AS DOUBLE), 2 FROM events
        |  WHERE event_type = 'purchase' AND value IS NOT NULL),
        |r AS (SELECT v, g, row_number() OVER (ORDER BY v) AS rn FROM t),
        |r2 AS (
        |  SELECT g,
        |         min(rn) OVER (PARTITION BY v)
        |           + max(rn) OVER (PARTITION BY v) AS r2,
        |         count(*) OVER (PARTITION BY v) AS tt
        |  FROM r),
        |m AS (
        |  SELECT CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n1,
        |         CAST(sum(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n2,
        |         CAST(sum(CASE WHEN g = 1 THEN r2 ELSE 0 END) AS BIGINT)
        |           AS r1d,
        |         CAST(sum(tt * tt - 1) AS BIGINT) AS tie
        |  FROM r2)
        |SELECT n1, n2,
        |       round(CAST(r1d AS DOUBLE) / 2.0
        |             - CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1.0)
        |               / 2.0, 6) AS u1,
        |       round((CAST(r1d AS DOUBLE) / 2.0
        |              - CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1.0)
        |                / 2.0
        |              - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0)
        |             / nullif(sqrt(
        |                 CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0
        |                 * ((CAST(n1 + n2 AS DOUBLE) + 1.0)
        |                    - CAST(tie AS DOUBLE)
        |                      / (CAST(n1 + n2 AS DOUBLE)
        |                         * (CAST(n1 + n2 AS DOUBLE) - 1.0)))),
        |               CAST(0 AS DOUBLE)), 6) AS z
        |FROM m""".stripMargin,

    // q178: same union-value CDF gaps (explicit ROWS frame both sides).
    "q178_ks_test" ->
      """WITH ca AS (
        |  SELECT CAST(value AS DOUBLE) AS v, CAST(count(*) AS BIGINT) AS ca
        |  FROM events WHERE event_type = 'view' AND value IS NOT NULL
        |  GROUP BY 1),
        |cb AS (
        |  SELECT CAST(value AS DOUBLE) AS v, CAST(count(*) AS BIGINT) AS cb
        |  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
        |  GROUP BY 1),
        |j AS (SELECT v, coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
        |      FROM ca FULL OUTER JOIN cb USING (v)),
        |tot AS (SELECT CAST(sum(ca) AS BIGINT) AS n1,
        |               CAST(sum(cb) AS BIGINT) AS n2
        |        FROM j),
        |cum AS (
        |  SELECT sum(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
        |           PRECEDING AND CURRENT ROW) AS c1,
        |         sum(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
        |           PRECEDING AND CURRENT ROW) AS c2
        |  FROM j)
        |SELECT tot.n1, tot.n2,
        |       round(max(abs(CAST(c1 AS DOUBLE) / CAST(tot.n1 AS DOUBLE)
        |                     - CAST(c2 AS DOUBLE)
        |                       / CAST(tot.n2 AS DOUBLE))), 6) AS d
        |FROM cum CROSS JOIN tot GROUP BY 1, 2""".stripMargin,

    // q179: same ascending-rank Gini, decimal HHI terms, max share.
    "q179_concentration" ->
      """WITH c AS (
        |  SELECT source AS g, CAST(count(*) AS BIGINT) AS c
        |  FROM documents WHERE source IS NOT NULL GROUP BY source),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_rows,
        |               CAST(count(*) AS BIGINT) AS n_groups
        |        FROM c),
        |r AS (SELECT g, c,
        |             CAST(row_number() OVER (ORDER BY c, g) AS BIGINT)
        |               AS i
        |      FROM c)
        |SELECT tot.n_groups, tot.n_rows,
        |       round(CAST(sum(CAST(round(
        |           (CAST(c AS DOUBLE) / CAST(tot.n_rows AS DOUBLE))
        |           * (CAST(c AS DOUBLE) / CAST(tot.n_rows AS DOUBLE)), 12)
        |           AS DECIMAL(38,12))) AS DOUBLE), 6) AS hhi,
        |       round(2.0 * CAST(sum(i * c) AS DOUBLE)
        |             / (CAST(tot.n_groups AS DOUBLE)
        |                * CAST(tot.n_rows AS DOUBLE))
        |             - (CAST(tot.n_groups AS DOUBLE) + 1.0)
        |               / CAST(tot.n_groups AS DOUBLE), 6) AS gini,
        |       round(CAST(max(c) AS DOUBLE)
        |             / CAST(tot.n_rows AS DOUBLE), 6) AS top_share
        |FROM r CROSS JOIN tot GROUP BY 1, 2""".stripMargin,

    // q180: same integer-hour spans (truncating epoch div), same 12-dp
    // decimal ln fold, same positional zero flag for an emptied risk set.
    "q180_kaplan_meier" -> kaplanMeierOracleSql,

    // q290: the q180 curve verbatim, then the first t at or below
    // 50% survival (t is unique per curve row, so ORDER-LIMIT equals
    // the struct-min pick).
    "q290_km_median" ->
      s"""WITH km AS (SELECT * FROM ($kaplanMeierOracleSql) x),
        |tot AS (SELECT CAST(max(n_risk) AS BIGINT) AS n_users FROM km),
        |hit AS (SELECT t_life, survival FROM km
        |        WHERE survival <= 0.5 ORDER BY t_life LIMIT 1)
        |SELECT tot.n_users, hit.t_life AS median_lifetime,
        |       hit.survival AS survival_at_median
        |FROM tot LEFT JOIN hit ON TRUE""".stripMargin,

    // q181: DuckDB's own nfc_normalize against the same injected
    // decomposed accents (replace() is all-occurrence, matching Spark's
    // global regexp_replace of the literal char).
    "q181_nfc_normalize" ->
      """WITH acc AS (
        |  SELECT lang, replace(text, 'e', 'e\u0301') AS a FROM documents),
        |n AS (SELECT lang, a, nfc_normalize(a) AS c FROM acc)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(CASE WHEN c <> a THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_changed,
        |       CAST(sum(length(a) - length(c)) AS BIGINT)
        |         AS chars_composed
        |FROM n GROUP BY lang ORDER BY lang""".stripMargin,

    // q182: same in-list-order norm folds (list_aggregate — the q19
    // bit-parity precedent), same 9/12-dp decimal corpus folds.
    "q182_embedding_health" ->
      """WITH e AS (
        |  SELECT embedding AS v,
        |         sqrt(list_aggregate(list_transform(embedding,
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
        |           AS nrm
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |st AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_vec,
        |         CAST(sum(CASE WHEN nrm = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_zero,
        |         sum(CAST(round(nrm, 9) AS DECIMAL(38,12))) AS s1,
        |         sum(CAST(round(nrm * nrm, 9) AS DECIMAL(38,12))) AS s2
        |  FROM e),
        |u AS (
        |  SELECT CAST(generate_subscripts(v, 1) AS INTEGER) AS dim,
        |         CAST(unnest(v) AS DOUBLE) / nrm AS ux
        |  FROM e WHERE nrm > 0),
        |md AS (
        |  SELECT dim,
        |         sum(CAST(round(ux, 12) AS DECIMAL(38,12))) AS su,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM u GROUP BY dim),
        |an AS (
        |  SELECT sum(CAST(round((CAST(su AS DOUBLE) / c)
        |             * (CAST(su AS DOUBLE) / c), 12)
        |           AS DECIMAL(38,12))) AS a
        |  FROM md)
        |SELECT st.n_vec, st.n_zero,
        |       round(CAST(st.s1 AS DOUBLE) / st.n_vec, 6) AS mean_norm,
        |       round(sqrt(greatest(
        |           CAST(st.s2 AS DOUBLE) / st.n_vec
        |           - (CAST(st.s1 AS DOUBLE) / st.n_vec)
        |             * (CAST(st.s1 AS DOUBLE) / st.n_vec),
        |           CAST(0 AS DOUBLE))), 6) AS std_norm,
        |       round(CAST(an.a AS DOUBLE), 6) AS anisotropy
        |FROM st CROSS JOIN an""".stripMargin,

    // q183: same whitespace tokens (q41 precedent), length = codepoints,
    // strlen = UTF-8 bytes; ratios guarded by the same CASE.
    "q183_token_fertility" ->
      """WITH d AS (
        |  SELECT lang,
        |         CAST(len(list_filter(string_split_regex(lower(text),
        |           '\s+'), x -> length(x) > 0)) AS BIGINT) AS tk,
        |         CAST(length(text) AS BIGINT) AS ch,
        |         CAST(strlen(text) AS BIGINT) AS byt
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(tk) AS BIGINT) AS tokens,
        |       CAST(sum(ch) AS BIGINT) AS chars,
        |       CAST(sum(byt) AS BIGINT) AS bytes,
        |       round(CAST(sum(tk) AS DOUBLE) / count(*), 6)
        |         AS tokens_per_doc,
        |       CASE WHEN sum(tk) > 0 THEN
        |         round(CAST(sum(ch) AS DOUBLE) / sum(tk), 6) END
        |         AS chars_per_token,
        |       CASE WHEN sum(tk) > 0 THEN
        |         round(CAST(sum(byt) AS DOUBLE) / sum(tk), 6) END
        |         AS bytes_per_token
        |FROM d GROUP BY lang ORDER BY lang""".stripMargin,

    // PARTIAL oracle (property check, q44 style): no SQL engine exposes
    // a DEFLATE scalar, so the oracle verifies everything recomputable —
    // the per-lang doc universe matches, every ratio respects the
    // zlib worst-case bound (≤ 1 + 16/min-byte-length, from the actual
    // per-lang byte floor), ratios are positive, and min ≤ avg ≤ max.
    // The expression itself is spec-pinned against a direct Deflater
    // call. Echo the dump if sound, else a sentinel.
    "q192_compression_signal" ->
      """WITH r AS (
        |  SELECT lang, n_docs, avg_ratio, min_ratio, max_ratio
        |  FROM read_parquet('__OUT__/q192_compression_signal/*.parquet')),
        |d AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |         CAST(min(strlen(text)) AS BIGINT) AS ml
        |  FROM documents
        |  WHERE text IS NOT NULL AND strlen(text) > 0 GROUP BY lang),
        |chk AS (
        |  SELECT coalesce(
        |      (SELECT count(*) FROM r) = (SELECT count(*) FROM d)
        |      AND NOT EXISTS (SELECT 1 FROM r JOIN d USING (lang)
        |                      WHERE r.n_docs <> d.n)
        |      AND NOT EXISTS (SELECT 1 FROM r JOIN d USING (lang)
        |                      WHERE NOT (r.min_ratio > 0
        |                        AND r.min_ratio <= r.avg_ratio
        |                        AND r.avg_ratio <= r.max_ratio
        |                        AND r.max_ratio <= 1.0 + 16.0 / d.ml)),
        |      FALSE) AS ok)
        |SELECT lang, n_docs, avg_ratio, min_ratio, max_ratio FROM r
        |WHERE (SELECT ok FROM chk)
        |UNION ALL
        |SELECT 'SENTINEL', CAST(-1 AS BIGINT), CAST(0 AS DOUBLE),
        |       CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)
        |WHERE NOT (SELECT ok FROM chk)
        |ORDER BY lang""".stripMargin,

    // q191: same tokens, same (freq desc, token) order, same exact
    // cumulative counts — the full-window form of the TakeOrdered cut.
    "q191_vocab_coverage" ->
      """WITH tf AS (
        |  SELECT t AS token, CAST(count(*) AS BIGINT) AS freq FROM (
        |    SELECT unnest(list_filter(string_split_regex(lower(text),
        |                  '\s+'), x -> length(x) > 0)) AS t
        |    FROM documents WHERE text IS NOT NULL)
        |  GROUP BY 1),
        |tot AS (SELECT CAST(sum(freq) AS BIGINT) AS n FROM tf),
        |r AS (
        |  SELECT token, freq,
        |         CAST(row_number() OVER (ORDER BY freq DESC, token)
        |           AS BIGINT) AS rank,
        |         CAST(sum(freq) OVER (ORDER BY freq DESC, token
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS BIGINT) AS cum
        |  FROM tf)
        |SELECT rank, token, freq,
        |       round(CAST(cum AS DOUBLE) / tot.n, 6) AS cum_share
        |FROM r CROSS JOIN tot WHERE rank <= 100 ORDER BY rank""".stripMargin,

    // q190: the q37 recursive-reach component labels (min reachable doc
    // id — identical to the engine's ghash-rep + min-label composition),
    // the same md5-hex split cuts, and both leak audits.
    "q190_cluster_split" ->
      ("WITH RECURSIVE " + dedupPairsCte + ",\n" + dedupCcCte + """,
        |rep AS (SELECT src AS doc_id, min(dst) AS cluster
        |        FROM reach GROUP BY src),
        |sp AS (
        |  SELECT doc_id, cluster,
        |         CASE WHEN md5(CAST(cluster AS VARCHAR)) < 'c0'
        |              THEN 'train' ELSE 'test' END AS split,
        |         CASE WHEN md5(CAST(doc_id AS VARCHAR)) < 'c0'
        |              THEN 'train' ELSE 'test' END AS naive_split
        |  FROM rep),
        |leak AS (
        |  SELECT CAST(count(*) AS BIGINT) AS leaky FROM (
        |    SELECT cluster FROM sp GROUP BY cluster
        |    HAVING count(DISTINCT split) > 1)),
        |nleak AS (
        |  SELECT CAST(count(*) AS BIGINT) AS naive_leaky FROM (
        |    SELECT cluster FROM sp GROUP BY cluster
        |    HAVING count(DISTINCT naive_split) > 1))
        |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(count(DISTINCT cluster) AS BIGINT) AS n_clusters,
        |       leak.leaky AS leaky_clusters,
        |       nleak.naive_leaky AS naive_leaky_clusters
        |FROM sp CROSS JOIN leak CROSS JOIN nleak
        |GROUP BY 1, 4, 5 ORDER BY split""".stripMargin),

    // q189: same decimal moments and complement subtraction, same fixed
    // Horner polynomial (literals embedded verbatim), same step-up —
    // DOUBLE-cast alpha so the threshold arithmetic matches Spark's.
    "q189_source_screen" -> sourceScreenOracleSql,

    // q200 MUST reproduce q189 from merged split moment partials (exact
    // decimal/long sums => lossless merge — the q154 law for the Welch
    // screen family), so it shares q189's oracle verbatim.
    "q200_welch_merge" -> sourceScreenOracleSql,

    // q202: same three screen predicates (token count via the q18
    // regexp split), same cleared-denominator kappa arithmetic.
    "q202_fleiss_kappa" ->
      """WITH r AS (
        |  SELECT CAST(length(text) >= 200 AS BIGINT)
        |       + CAST(len(list_filter(string_split_regex(lower(text),
        |           '\s+'), t -> length(t) > 0)) >= 40 AS BIGINT)
        |       + CAST(length(text) <= 8 * len(list_filter(
        |           string_split_regex(lower(text), '\s+'),
        |           t -> length(t) > 0)) AS BIGINT) AS n1
        |  FROM documents WHERE text IS NOT NULL),
        |agg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(n1) AS HUGEINT) AS s1,
        |         CAST(sum(n1*n1 + (3-n1)*(3-n1)) AS HUGEINT) AS a
        |  FROM r),
        |x AS (SELECT n, s1, a, CAST(3*n AS HUGEINT) AS m,
        |             s1*s1 + (3*n - s1)*(3*n - s1) AS q FROM agg)
        |SELECT n AS n_items,
        |       round(CAST(a - m AS DOUBLE)
        |             / nullif(CAST(m*2 AS DOUBLE), 0), 6) AS p_bar,
        |       round(CAST(q AS DOUBLE)
        |             / nullif(CAST(m*m AS DOUBLE), 0), 6) AS p_e,
        |       round(CAST(m*(a - m) - 2*q AS DOUBLE)
        |             / nullif(CAST(2*(m*m - q) AS DOUBLE), 0), 6) AS kappa
        |FROM x""".stripMargin,

    // q203: same md5 uniforms, same Poisson(1) CDF literals, same
    // decimal replicate folds and 6-dp-then-rank percentile picks
    // (ranks 5 and 195 of 200, b as tiebreak).
    "q203_bootstrap_ci" ->
      """WITH base AS (
        |  SELECT CAST(doc_id AS VARCHAR) AS id,
        |         CAST(round(CAST(n_chars AS DOUBLE), 9)
        |           AS DECIMAL(38,12)) AS x
        |  FROM documents
        |  WHERE n_chars IS NOT NULL AND doc_id IS NOT NULL),
        |reps AS (
        |  SELECT t.b, base.id, base.x,
        |         CAST(('0x' || substr(md5('bs42:' || CAST(t.b AS VARCHAR)
        |             || ':' || base.id), 1, 12)) AS UBIGINT)
        |           / CAST(281474976710656 AS DOUBLE) AS u
        |  FROM base CROSS JOIN (SELECT unnest(range(0, 200)) AS b) t),
        |wts AS (
        |  SELECT b,
        |         CAST(u >= 0.36787944117144233 AS BIGINT)
        |       + CAST(u >= 0.7357588823428847 AS BIGINT)
        |       + CAST(u >= 0.9196986029286058 AS BIGINT)
        |       + CAST(u >= 0.9810118431238463 AS BIGINT)
        |       + CAST(u >= 0.9963401531726563 AS BIGINT)
        |       + CAST(u >= 0.9994058151824183 AS BIGINT) AS w, x
        |  FROM reps),
        |means AS (
        |  SELECT b, round(CAST(sum(w * x) AS DOUBLE)
        |           / CAST(sum(w) AS DOUBLE), 6) AS m
        |  FROM wts GROUP BY b HAVING sum(w) > 0),
        |ranked AS (
        |  SELECT m, b, CAST(row_number() OVER (ORDER BY m, b) AS BIGINT)
        |           AS rn
        |  FROM means),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |               CAST(sum(x) AS DOUBLE) AS s FROM base)
        |SELECT n_rows,
        |       round(s / nullif(CAST(n_rows AS DOUBLE), 0), 6) AS mean,
        |       (SELECT max(CASE WHEN rn = 5 THEN m END) FROM ranked)
        |         AS ci_lo,
        |       (SELECT max(CASE WHEN rn = 195 THEN m END) FROM ranked)
        |         AS ci_hi
        |FROM tot""".stripMargin,

    // q204: same 6-dp decimal weights (exact Z), same fixed-order
    // min(1, target·w/Z/c) double chain as the q142 Map form.
    "q204_temperature_mix" ->
      """WITH c AS (
        |  SELECT source AS g, CAST(count(*) AS BIGINT) AS n_rows
        |  FROM documents
        |  WHERE source IS NOT NULL AND text IS NOT NULL GROUP BY 1),
        |w AS (SELECT g, n_rows,
        |             CAST(round(pow(CAST(n_rows AS DOUBLE), 0.7), 6)
        |               AS DECIMAL(38,6)) AS w
        |      FROM c),
        |z AS (SELECT sum(w) AS z FROM w)
        |SELECT g, n_rows,
        |       round(least(CAST(1.0 AS DOUBLE),
        |         250.0 * CAST(w AS DOUBLE) / CAST(z AS DOUBLE)
        |           / CAST(n_rows AS DOUBLE)), 6) AS rate
        |FROM w CROSS JOIN z ORDER BY g""".stripMargin,

    // q211 PARTIAL oracle (derived recomputation, the q185 pattern):
    // component and trace come from q206's certified dump; the mean,
    // in-order projection folds, and decimal moments are replayed
    // from scratch — everything downstream of the decomposition is
    // independently recomputed and must hash-match.
    "q211_abtt_report" ->
      """WITH vdump AS (
        |  SELECT CAST(idx AS BIGINT) AS idx, v
        |  FROM read_parquet('__OUT__/q206_pca_top/*.parquet')),
        |vl AS (SELECT list(v ORDER BY idx) AS vl FROM vdump
        |       WHERE idx >= 0),
        |trc AS (SELECT v AS t FROM vdump WHERE idx = -2),
        |e AS (
        |  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        |  FROM embeddings
        |  WHERE embedding IS NOT NULL AND len(embedding) = 64),
        |nr AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM e),
        |mu AS (
        |  SELECT i,
        |         round(CAST(sum(CAST(round(x, 12) AS DECIMAL(38,12)))
        |             AS DOUBLE) / (SELECT n FROM nr), 9) AS m
        |  FROM (SELECT CAST(generate_subscripts(emb, 1) AS INTEGER) - 1
        |               AS i,
        |               CAST(unnest(emb) AS DOUBLE) AS x FROM e)
        |  GROUP BY i),
        |ml AS (SELECT list(m ORDER BY i) AS ml FROM mu),
        |mv AS (
        |  SELECT list_aggregate(list_transform(
        |      list_zip(ml, vl),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)),
        |    'sum') AS mv
        |  FROM ml CROSS JOIN vl),
        |p AS (
        |  SELECT list_aggregate(list_transform(
        |      list_zip(emb, (SELECT vl FROM vl)),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)),
        |    'sum') - (SELECT mv FROM mv) AS pr
        |  FROM e)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |       -- + 0.0 normalizes IEEE negative zero (Spark's
        |       -- BigDecimal-backed round never emits -0.0)
        |       round(CAST(sum(CAST(round(pr, 12) AS DECIMAL(38,12)))
        |           AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) + 0.0
        |         AS mean_proj,
        |       round(CAST(sum(CAST(round(pr * pr, 12) AS DECIMAL(38,12)))
        |           AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS ms_proj,
        |       round(CAST(sum(CAST(round(pr * pr, 12) AS DECIMAL(38,12)))
        |           AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |         / (SELECT t FROM trc), 6) AS removed_share
        |FROM p""".stripMargin,

    // q209: same day bucketing, same lag-shifted equi-join, same
    // decimal moments and closed-form Pearson chain.
    "q209_cross_corr" ->
      """WITH ev AS (
        |  SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |           AS t,
        |         event_type
        |  FROM events WHERE ts IS NOT NULL),
        |xa AS (SELECT t, CAST(count(*) AS DOUBLE) AS x FROM ev
        |       WHERE event_type = 'view' GROUP BY 1),
        |yb AS (SELECT t, CAST(count(*) AS DOUBLE) AS y FROM ev
        |       WHERE event_type = 'purchase' GROUP BY 1),
        |lg AS (SELECT unnest(range(-3, 4)) AS lag),
        |p AS (SELECT lg.lag, a.x, b.y
        |      FROM xa a CROSS JOIN lg JOIN yb b ON b.t = a.t + lg.lag),
        |m AS (
        |  SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
        |         CAST(sum(CAST(round(x, 12) AS DECIMAL(38,12)))
        |           AS DOUBLE) AS sx,
        |         CAST(sum(CAST(round(y, 12) AS DECIMAL(38,12)))
        |           AS DOUBLE) AS sy,
        |         CAST(sum(CAST(round(x * x, 12) AS DECIMAL(38,12)))
        |           AS DOUBLE) AS sxx,
        |         CAST(sum(CAST(round(y * y, 12) AS DECIMAL(38,12)))
        |           AS DOUBLE) AS syy,
        |         CAST(sum(CAST(round(x * y, 12) AS DECIMAL(38,12)))
        |           AS DOUBLE) AS sxy
        |  FROM p GROUP BY 1)
        |SELECT lag, n_pairs,
        |       CASE WHEN n_pairs >= 2 THEN
        |         round((CAST(n_pairs AS DOUBLE) * sxy - sx * sy)
        |           / nullif(sqrt(
        |               (CAST(n_pairs AS DOUBLE) * sxx - sx * sx)
        |               * (CAST(n_pairs AS DOUBLE) * syy - sy * sy)),
        |             CAST(0 AS DOUBLE)), 6)
        |       END AS r
        |FROM m ORDER BY lag""".stripMargin,

    // q210: same mean-centering, same mod-reduced trig arguments and
    // 12-dp decimal term folds, same 2/n normalization.
    "q210_periodogram" ->
      """WITH s AS (
        |  SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |           AS t,
        |         CAST(count(*) AS DOUBLE) AS v
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |               CAST(sum(CAST(round(v, 12) AS DECIMAL(38,12)))
        |                 AS DOUBLE) AS sv
        |        FROM s),
        |per AS (SELECT CAST(unnest([3, 5, 7, 14]) AS BIGINT) AS period),
        |terms AS (
        |  SELECT per.period, tot.n,
        |         CAST(round((s.v - sv / CAST(n AS DOUBLE))
        |             * cos(((2 * pi()) * CAST(t % period AS DOUBLE))
        |                   / CAST(period AS DOUBLE)), 12)
        |           AS DECIMAL(38,12)) AS tc,
        |         CAST(round((s.v - sv / CAST(n AS DOUBLE))
        |             * sin(((2 * pi()) * CAST(t % period AS DOUBLE))
        |                   / CAST(period AS DOUBLE)), 12)
        |           AS DECIMAL(38,12)) AS ts
        |  FROM s CROSS JOIN tot CROSS JOIN per)
        |SELECT period, max(n) AS n,
        |       round((CAST(sum(tc) AS DOUBLE) * CAST(sum(tc) AS DOUBLE)
        |             + CAST(sum(ts) AS DOUBLE) * CAST(sum(ts) AS DOUBLE))
        |           * 2.0 / CAST(max(n) AS DOUBLE), 6) AS power
        |FROM terms GROUP BY period ORDER BY period""".stripMargin,

    // q219: same top-(k+1) rank-exact picks (value desc, id tiebreak),
    // same 12-dp decimal log-ratio folds, same closed form.
    "q219_hill_tail" ->
      """WITH uc AS (
        |  SELECT user_id, CAST(count(*) AS DOUBLE) AS v
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |top AS (
        |  SELECT v, user_id,
        |         row_number() OVER (ORDER BY v DESC, user_id) AS rn
        |  FROM uc),
        |xk1 AS (SELECT v AS x FROM top WHERE rn = 11),
        |sm AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         sum(CAST(round(ln(v / (SELECT x FROM xk1)), 12)
        |           AS DECIMAL(38,12))) AS s
        |  FROM top WHERE rn <= 10)
        |SELECT CAST(10 AS BIGINT) AS k,
        |       round((SELECT x FROM xk1), 6) AS x_k1,
        |       round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6)
        |         AS inv_alpha,
        |       CASE WHEN CAST(s AS DOUBLE) > 0 THEN
        |         round(CAST(n AS DOUBLE) / CAST(s AS DOUBLE), 6)
        |       END AS alpha
        |FROM sm""".stripMargin,

    // q218 PARTIAL oracle (the q206 residual pattern): replay the
    // transition counts, then certify the dump is a probability vector
    // stationary under P with the dangling-uniform rule — any
    // non-stationary vector misses the balance equations by orders of
    // magnitude more than the 9-dp rounding bound.
    "q218_stationary_dist" ->
      """WITH pdump AS (
        |  SELECT state, pi
        |  FROM read_parquet('__OUT__/q218_stationary_dist/*.parquet')),
        |tr AS (
        |  SELECT src, event_type AS dst, CAST(count(*) AS BIGINT) AS n
        |  FROM (SELECT user_id, event_type,
        |               lag(event_type) OVER (PARTITION BY user_id
        |                 ORDER BY ts, event_id) AS src
        |        FROM events
        |        WHERE user_id IS NOT NULL AND ts IS NOT NULL) s
        |  WHERE src IS NOT NULL GROUP BY 1, 2),
        |rs AS (SELECT src, CAST(sum(n) AS DOUBLE) AS tot
        |       FROM tr GROUP BY 1),
        |kk AS (SELECT CAST(count(*) AS DOUBLE) AS k FROM pdump),
        |flow AS (
        |  SELECT tr.dst AS state, sum(p.pi * tr.n / rs.tot) AS fin
        |  FROM tr JOIN pdump p ON p.state = tr.src
        |  JOIN rs ON rs.src = tr.src
        |  GROUP BY 1),
        |dang AS (
        |  SELECT coalesce(sum(pi), 0) AS dmass FROM pdump
        |  WHERE state NOT IN (SELECT src FROM tr)),
        |chk AS (
        |  SELECT coalesce(
        |      (SELECT count(*) FROM pdump) =
        |        (SELECT count(DISTINCT x) FROM (
        |           SELECT src AS x FROM tr
        |           UNION SELECT dst FROM tr) u)
        |      AND (SELECT abs(sum(pi) - 1.0) <= 1e-6 FROM pdump)
        |      AND (SELECT bool_and(pi >= 0) FROM pdump)
        |      AND (SELECT bool_and(pi = round(pi, 9)) FROM pdump)
        |      AND (SELECT bool_and(abs(
        |               coalesce(f.fin, 0)
        |               + (SELECT dmass FROM dang) / (SELECT k FROM kk)
        |               - p.pi) <= 1e-6)
        |           FROM pdump p LEFT JOIN flow f ON f.state = p.state),
        |      FALSE) AS ok)
        |SELECT state, pi FROM pdump WHERE (SELECT ok FROM chk)
        |UNION ALL
        |SELECT 'SENTINEL-NOT-STATIONARY', CAST(0 AS DOUBLE)
        |WHERE NOT (SELECT ok FROM chk)
        |ORDER BY state""".stripMargin,

    // q217: same per-(group, value) counts, same dense grid and exact
    // cumulative CDF subtraction, same 6-dp max gap.
    "q217_group_ks" ->
      """WITH cells AS (
        |  SELECT source AS g, CAST(n_chars AS DOUBLE) AS v,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM documents
        |  WHERE source IS NOT NULL AND n_chars IS NOT NULL
        |  GROUP BY 1, 2),
        |vals AS (SELECT DISTINCT v FROM cells),
        |grps AS (SELECT g, CAST(sum(c) AS BIGINT) AS n_g
        |         FROM cells GROUP BY 1),
        |tots AS (SELECT v, CAST(sum(c) AS BIGINT) AS ct
        |         FROM cells GROUP BY 1),
        |tn AS (SELECT CAST(sum(c) AS BIGINT) AS tn FROM cells),
        |grid AS (
        |  SELECT gr.g, gr.n_g, va.v,
        |         coalesce(ce.c, 0) AS c, tt.ct
        |  FROM grps gr CROSS JOIN vals va
        |  LEFT JOIN cells ce ON ce.g = gr.g AND ce.v = va.v
        |  JOIN tots tt ON tt.v = va.v),
        |cum AS (
        |  SELECT g, n_g, v,
        |         sum(c)  OVER (PARTITION BY g ORDER BY v
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS cg,
        |         sum(ct) OVER (PARTITION BY g ORDER BY v
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS call
        |  FROM grid)
        |SELECT g, n_g, tn - n_g AS n_rest,
        |       round(max(abs(
        |         CAST(cg AS DOUBLE) / CAST(n_g AS DOUBLE)
        |         - CAST(call - cg AS DOUBLE)
        |           / nullif(CAST(tn - n_g AS DOUBLE),
        |               CAST(0 AS DOUBLE)))), 6) AS d
        |FROM cum CROSS JOIN tn
        |GROUP BY g, n_g, tn
        |ORDER BY d DESC NULLS LAST, g""".stripMargin,

    // q216: q20's exact all-pairs verification at the same threshold,
    // joined to sources and normalized to unordered source pairs.
    "q216_source_overlap" ->
      ("WITH " + dedupPairsCte + """,
        |lab AS (
        |  SELECT least(da.source, db.source) AS source_a,
        |         greatest(da.source, db.source) AS source_b
        |  FROM pairs p
        |  JOIN documents da ON da.doc_id = p.a_id
        |  JOIN documents db ON db.doc_id = p.b_id
        |  WHERE da.source IS NOT NULL AND db.source IS NOT NULL)
        |SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs
        |FROM lab GROUP BY 1, 2
        |ORDER BY n_pairs DESC, source_a, source_b""".stripMargin),

    // q214: q208's exact computation restricted to pairs that involve
    // the screened seventh (a_id or b_id ≡ 0 mod 7) — corpus-wide df,
    // so indexed-screen scores equal the full run's.
    "q214_containment_screen" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text),
        |                       '\s+'), x -> length(x) > 0) AS t
        |  FROM documents WHERE text IS NOT NULL),
        |posts AS (
        |  SELECT DISTINCT doc_id, (t[i] || ' ' || t[i+1] || ' ' || t[i+2])
        |           AS sg
        |  FROM (SELECT doc_id, t,
        |               unnest(range(1, greatest(len(t) - 1, 1))) AS i
        |        FROM toks)),
        |rare AS (SELECT sg FROM posts GROUP BY sg
        |         HAVING count(*) <= 64),
        |rp AS (SELECT p.doc_id, p.sg FROM posts p JOIN rare USING (sg)),
        |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
        |       FROM rp GROUP BY 1),
        |pc AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |         CAST(count(*) AS BIGINT) AS n_common
        |  FROM rp a JOIN rp b ON b.sg = a.sg AND a.doc_id < b.doc_id
        |  WHERE a.doc_id % 7 = 0 OR b.doc_id % 7 = 0
        |  GROUP BY 1, 2)
        |SELECT pc.a_id, pc.b_id, pc.n_common,
        |       sa.n AS n_a, sb.n AS n_b,
        |       round(CAST(n_common AS DOUBLE) / CAST(sa.n AS DOUBLE), 6)
        |         AS c_a_in_b,
        |       round(CAST(n_common AS DOUBLE) / CAST(sb.n AS DOUBLE), 6)
        |         AS c_b_in_a
        |FROM pc JOIN sz sa ON sa.doc_id = pc.a_id
        |JOIN sz sb ON sb.doc_id = pc.b_id
        |WHERE greatest(
        |    round(CAST(n_common AS DOUBLE) / CAST(sa.n AS DOUBLE), 6),
        |    round(CAST(n_common AS DOUBLE) / CAST(sb.n AS DOUBLE), 6))
        |  >= 0.5
        |ORDER BY a_id, b_id""".stripMargin,

    // q215: q164's key derivation ranked per source partition.
    "q215_weighted_group_take" ->
      """WITH b AS (
        |  SELECT doc_id, source, n_chars,
        |         round(pow(
        |           CAST(('0x' || substr(md5('es42:' ||
        |                CAST(doc_id AS VARCHAR)), 1, 12)) AS UBIGINT)
        |             / CAST(281474976710656 AS DOUBLE),
        |           CAST(1.0 AS DOUBLE) / CAST(n_chars AS DOUBLE)), 12)
        |           AS es_key
        |  FROM documents
        |  WHERE source IS NOT NULL AND n_chars IS NOT NULL
        |    AND CAST(n_chars AS DOUBLE) > 0),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY source
        |           ORDER BY es_key DESC, doc_id) AS rk
        |  FROM b)
        |SELECT doc_id, source, n_chars, es_key FROM r WHERE rk <= 3
        |ORDER BY source, es_key DESC, doc_id""".stripMargin,

    // q208: same shingle grammar as q20, same df-capped universe, same
    // posting co-occurrence counts and 6-dp-then-threshold rule.
    "q208_containment" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text),
        |                       '\s+'), x -> length(x) > 0) AS t
        |  FROM documents WHERE text IS NOT NULL),
        |posts AS (
        |  SELECT DISTINCT doc_id, (t[i] || ' ' || t[i+1] || ' ' || t[i+2])
        |           AS sg
        |  FROM (SELECT doc_id, t,
        |               unnest(range(1, greatest(len(t) - 1, 1))) AS i
        |        FROM toks)),
        |rare AS (SELECT sg FROM posts GROUP BY sg
        |         HAVING count(*) <= 64),
        |rp AS (SELECT p.doc_id, p.sg FROM posts p JOIN rare USING (sg)),
        |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
        |       FROM rp GROUP BY 1),
        |pc AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |         CAST(count(*) AS BIGINT) AS n_common
        |  FROM rp a JOIN rp b ON b.sg = a.sg AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT pc.a_id, pc.b_id, pc.n_common,
        |       sa.n AS n_a, sb.n AS n_b,
        |       round(CAST(n_common AS DOUBLE) / CAST(sa.n AS DOUBLE), 6)
        |         AS c_a_in_b,
        |       round(CAST(n_common AS DOUBLE) / CAST(sb.n AS DOUBLE), 6)
        |         AS c_b_in_a
        |FROM pc JOIN sz sa ON sa.doc_id = pc.a_id
        |JOIN sz sb ON sb.doc_id = pc.b_id
        |WHERE greatest(
        |    round(CAST(n_common AS DOUBLE) / CAST(sa.n AS DOUBLE), 6),
        |    round(CAST(n_common AS DOUBLE) / CAST(sb.n AS DOUBLE), 6))
        |  >= 0.5
        |ORDER BY a_id, b_id""".stripMargin,

    // q206 PARTIAL oracle (the q184 residual pattern): recompute the
    // centered covariance from the SAME 12-dp decimal folds, then
    // certify the dumped frame is a unit eigenpair — A·v = λ·v within
    // the 9-dp rounding bound, |v| = 1, trace matches, and λ clears the
    // max diagonal (a necessary top-eigenvalue condition). Echo the
    // dump if every check holds, else a sentinel that cannot match.
    "q206_pca_top" -> pcaResidualOracle("q206_pca_top"),

    // q212 MUST reproduce q206's component from merged split moment
    // partials (the q207 law on the spectrum face) — same eigenpair
    // residual certification against its own dump.
    "q212_pca_merge" -> pcaResidualOracle("q212_pca_merge"),

    // q213: same token grammar (q18), same frequency-of-frequency
    // grouping, shifted self-join, and three final divisions.
    "q213_good_turing" ->
      """WITH toks AS (
        |  SELECT list_filter(string_split_regex(lower(text), '\s+'),
        |           x -> length(x) > 0) AS l
        |  FROM documents WHERE text IS NOT NULL),
        |tc AS (
        |  SELECT g AS term, CAST(count(*) AS BIGINT) AS r FROM (
        |    SELECT unnest(list_transform(range(0, len(l) - 2),
        |             i -> array_to_string(l[i+1:i+3], ' '))) AS g
        |    FROM toks WHERE len(l) >= 3) u
        |  GROUP BY g),
        |fof AS (SELECT r, CAST(count(*) AS BIGINT) AS n_r
        |        FROM tc GROUP BY r),
        |tot AS (SELECT CAST(sum(r) AS BIGINT) AS nt FROM tc)
        |SELECT f.r, f.n_r,
        |       round(CAST(f.r + 1 AS DOUBLE) * CAST(nx.n_r AS DOUBLE)
        |             / CAST(f.n_r AS DOUBLE), 6) AS r_star,
        |       round(CAST(f.r AS DOUBLE) * CAST(f.n_r AS DOUBLE)
        |             / CAST(nt AS DOUBLE), 6) AS mass_share
        |FROM fof f
        |LEFT JOIN fof nx ON nx.r = f.r + 1
        |CROSS JOIN tot
        |WHERE f.r <= 5 ORDER BY f.r""".stripMargin,


    // q205: q79's window grammar at spanLen 8 (md5 of the
    // space-rejoined slice), split by doc_id % 10, DISTINCT train
    // membership via left join.
    "q205_span_novelty" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text),
        |                   '\s+'), x -> length(x) > 0) AS t
        |  FROM documents),
        |sized AS (SELECT doc_id, t, len(t) AS n FROM toks),
        |wins AS (
        |  SELECT doc_id, md5(array_to_string(t[i:i+7], ' ')) AS wkey
        |  FROM (SELECT doc_id, t, n,
        |               unnest(range(1, greatest(n - 6, 1))) AS i
        |        FROM sized WHERE n >= 8)),
        |cand AS (SELECT doc_id, wkey FROM wins WHERE doc_id % 10 = 0),
        |train AS (SELECT DISTINCT wkey FROM wins WHERE doc_id % 10 <> 0)
        |SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_windows,
        |       CAST(sum(CASE WHEN tr.wkey IS NOT NULL THEN 1 ELSE 0 END)
        |         AS BIGINT) AS seen_windows,
        |       round(1.0 - CAST(sum(CASE WHEN tr.wkey IS NOT NULL
        |             THEN 1 ELSE 0 END) AS DOUBLE)
        |           / CAST(count(*) AS DOUBLE), 6) AS novelty
        |FROM cand c LEFT JOIN train tr USING (wkey)
        |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin,

    // q201: per-channel BMP moments recomputed from the synthesis
    // formula (pixel i of channel c is (doc_id*37 + (i*3+c)*11) % 256
    // in storage B,G,R order) — no byte is parsed, so header layout,
    // stride, and pad handling in the engine's parser are all under
    // test.
    "q201_bmp_decode" ->
      """WITH g AS (
        |  SELECT doc_id, 3 + doc_id % 3 AS w, 2 + doc_id % 2 AS h
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, w, h,
        |         list_aggregate(list_transform(range(0, w*h),
        |           i -> (doc_id*37 + (i*3+0)*11) % 256), 'sum') AS sb,
        |         list_aggregate(list_transform(range(0, w*h),
        |           i -> ((doc_id*37 + (i*3+0)*11) % 256)
        |                * ((doc_id*37 + (i*3+0)*11) % 256)), 'sum') AS qb,
        |         list_aggregate(list_transform(range(0, w*h),
        |           i -> (doc_id*37 + (i*3+1)*11) % 256), 'sum') AS sg,
        |         list_aggregate(list_transform(range(0, w*h),
        |           i -> (doc_id*37 + (i*3+2)*11) % 256), 'sum') AS sr
        |  FROM g)
        |SELECT doc_id, w AS width, h AS height,
        |       round(CAST(sb AS DOUBLE) / (w*h), 6) AS mean_b,
        |       round(CAST(sg AS DOUBLE) / (w*h), 6) AS mean_g,
        |       round(CAST(sr AS DOUBLE) / (w*h), 6) AS mean_r,
        |       round(CAST(qb AS DOUBLE) / (w*h), 6) AS ms_b
        |FROM m ORDER BY doc_id""".stripMargin,


    // q188: the single-window form the two-level engine path must equal
    // by construction (same mid-rank rational, same one double divide).
    "q188_quantile_normalize" ->
      """WITH c AS (
        |  SELECT CAST(value AS DOUBLE) AS value,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |t AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM c),
        |r AS (
        |  SELECT value, c,
        |         CAST(coalesce(sum(c) OVER (ORDER BY value ROWS BETWEEN
        |           UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |           AS cb
        |  FROM c)
        |SELECT value, c,
        |       round((cb + CAST(c AS DOUBLE) / 2) / t.n, 6) AS q
        |FROM r CROSS JOIN t ORDER BY value""".stripMargin,

    // q187: same brute-force cosine (in-list-order folds), same 6-dp
    // rounding BEFORE the rank, same nn_id tie-break — restricted to
    // cross-label pairs.
    "q187_hard_negatives" ->
      """WITH base AS (
        |  SELECT vec_id, embedding, label FROM embeddings
        |  WHERE embedding IS NOT NULL AND label IS NOT NULL
        |    AND vec_id < 200),
        |s AS (
        |  SELECT q.vec_id AS q_id, q.label AS q_label,
        |         c.vec_id AS nn_id, c.label AS nn_label,
        |         round(
        |           list_aggregate(list_transform(
        |             list_zip(q.embedding, c.embedding),
        |             x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)),
        |             'sum')
        |           / nullif(
        |               sqrt(list_aggregate(list_transform(q.embedding,
        |                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
        |                 'sum'))
        |             * sqrt(list_aggregate(list_transform(c.embedding,
        |                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
        |                 'sum')), CAST(0 AS DOUBLE)), 6) AS sim
        |  FROM base q JOIN base c
        |    ON c.vec_id <> q.vec_id AND c.label <> q.label),
        |r AS (
        |  SELECT q_id, q_label, nn_id, nn_label, sim,
        |         CAST(row_number() OVER (PARTITION BY q_id
        |           ORDER BY sim DESC NULLS LAST, nn_id) AS BIGINT) AS rank
        |  FROM s)
        |SELECT q_id, q_label, nn_id, nn_label, sim, rank
        |FROM r WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin,

    // q186: the merge law means the halved-and-merged engine path must
    // equal the whole-corpus curve — so the oracle IS q180's shape at
    // horizon 24, computed directly.
    "q186_survival_merge" ->
      """WITH dy AS (
        |  SELECT user_id AS u,
        |         CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
        |           // 3600 AS hr
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |sp AS (SELECT u, min(hr) AS f, max(hr) AS l FROM dy GROUP BY u),
        |fl AS (
        |  SELECT l - f AS t_life,
        |         CASE WHEN l <= (SELECT max(l) FROM sp) - 24
        |              THEN 1 ELSE 0 END AS ch
        |  FROM sp),
        |pd AS (SELECT t_life, CAST(count(*) AS BIGINT) AS ends,
        |              CAST(sum(ch) AS BIGINT) AS n_churn
        |       FROM fl GROUP BY 1),
        |rk AS (
        |  SELECT t_life, ends, n_churn,
        |         CAST(sum(ends) OVER (ORDER BY t_life ROWS BETWEEN
        |           CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT)
        |           AS n_risk
        |  FROM pd),
        |tm AS (
        |  SELECT t_life, ends, n_churn, n_risk,
        |         CASE WHEN n_churn < n_risk THEN
        |           CAST(round(ln(CAST(n_risk - n_churn AS DOUBLE)
        |                         / CAST(n_risk AS DOUBLE)), 12)
        |                AS DECIMAL(38,12))
        |         ELSE CAST(0 AS DECIMAL(38,12)) END AS term,
        |         max(CASE WHEN n_churn = n_risk THEN 1 ELSE 0 END)
        |           OVER (ORDER BY t_life ROWS BETWEEN UNBOUNDED PRECEDING
        |                 AND CURRENT ROW) AS dead
        |  FROM rk)
        |SELECT t_life, n_risk, n_churn, ends - n_churn AS n_censored,
        |       CASE WHEN dead = 1 THEN CAST(0 AS DOUBLE)
        |            ELSE round(exp(CAST(sum(term) OVER (ORDER BY t_life
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
        |                   ROW) AS DOUBLE)), 6) END AS survival
        |FROM tm WHERE n_churn > 0 ORDER BY t_life""".stripMargin,

    // PARTIAL oracle (optimality certificate, q44 style): the SOLVE is
    // not SQL-expressible, but its result is checkable — rebuild the
    // ridge normal equations (same augmented vector, same 12-dp decimal
    // term folds, same feature-only λ diagonal) and require the dumped
    // weights to satisfy A·w = b within the 9-dp weight-rounding bound
    // (tolerance scales with each equation's |A| row mass). Any wrong
    // weight vector misses by orders of magnitude. Echo the dump if
    // optimal, else a sentinel that can never hash-match.
    "q184_linear_probe" -> probeResidualOracle("q184_linear_probe"),

    // q207 MUST reproduce q184's weights from merged split moment
    // partials (exact scaled-decimal sums => lossless merge — the q154
    // law for the normal-equation family), so it gets the SAME
    // residual certification against its own dump.
    "q207_probe_merge" -> probeResidualOracle("q207_probe_merge"),


    // PARTIAL oracle (derived recomputation): everything downstream of
    // the solve — predictions (in-list-order fold against q184's dumped
    // weights, the q19 bit-parity precedent), SSE/SST decimal folds,
    // accuracy@0.5 — is replayed independently and must hash-match the
    // engine's report exactly.
    "q185_probe_report" ->
      """WITH wv AS (
        |  SELECT list(w ORDER BY idx) AS wl
        |  FROM read_parquet('__OUT__/q184_linear_probe/*.parquet')),
        |e AS (
        |  SELECT list_append(list_transform(embedding,
        |           x -> CAST(x AS DOUBLE)), CAST(1 AS DOUBLE)) AS v,
        |         CASE WHEN label = 0 THEN CAST(1 AS DOUBLE)
        |              WHEN label IS NOT NULL THEN CAST(0 AS DOUBLE)
        |         END AS y
        |  FROM embeddings
        |  WHERE embedding IS NOT NULL AND label IS NOT NULL
        |    AND len(embedding) = 64),
        |p AS (
        |  SELECT y,
        |         list_aggregate(list_transform(
        |           list_zip(v, (SELECT wl FROM wv)),
        |           x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)),
        |           'sum') AS pr
        |  FROM e),
        |t1 AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(y) AS sy FROM p)
        |SELECT t1.n,
        |       round(CAST(sum(CAST(round((y - pr) * (y - pr), 12)
        |             AS DECIMAL(38,12))) AS DOUBLE) / t1.n, 6) AS mse,
        |       CASE WHEN CAST(sum(CAST(round(
        |                (y - t1.sy / t1.n) * (y - t1.sy / t1.n), 12)
        |              AS DECIMAL(38,12))) AS DOUBLE) > 0 THEN
        |         round(1.0
        |           - CAST(sum(CAST(round((y - pr) * (y - pr), 12)
        |               AS DECIMAL(38,12))) AS DOUBLE)
        |             / CAST(sum(CAST(round(
        |                 (y - t1.sy / t1.n) * (y - t1.sy / t1.n), 12)
        |               AS DECIMAL(38,12))) AS DOUBLE), 6)
        |       END AS r2,
        |       round(CAST(sum(CASE WHEN (pr >= 0.5) = (y = 1.0)
        |                           THEN 1 ELSE 0 END) AS DOUBLE)
        |             / t1.n, 6) AS accuracy
        |FROM p CROSS JOIN t1 GROUP BY t1.n, t1.sy""".stripMargin,

    // q155: same support-thresholded co-order edges, same oriented wedge
    // join — integer-exact throughout.
    "q155_triangles" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        |co AS (
        |  SELECT a.l_suppkey AS u, b.l_suppkey AS v
        |  FROM li a JOIN li b
        |    ON a.l_orderkey = b.l_orderkey
        |   AND a.l_suppkey < b.l_suppkey
        |  GROUP BY 1, 2 HAVING count(*) >= 6),
        |tri AS (
        |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM co e1 JOIN co e2 ON e2.u = e1.v
        |  JOIN co e3 ON e3.u = e1.u AND e3.v = e2.v),
        |corners AS (
        |  SELECT a AS node FROM tri
        |  UNION ALL SELECT b FROM tri
        |  UNION ALL SELECT c FROM tri)
        |SELECT node, CAST(count(*) AS BIGINT) AS n_tri
        |FROM corners GROUP BY node
        |ORDER BY n_tri DESC, node LIMIT 15""".stripMargin,

    // q150: rank-exact bounds are actual data values (bit-exact across
    // engines); only the clipped mean needs the decimal-sum armor.
    "q150_winsorized_mean" ->
      """WITH base AS (
        |  SELECT event_type, CAST(value AS DOUBLE) AS v, event_id
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |rk AS (
        |  SELECT event_type, v,
        |         CAST(row_number() OVER (
        |           PARTITION BY event_type ORDER BY v, event_id)
        |           AS BIGINT) AS rn,
        |         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
        |           AS n
        |  FROM base),
        |bounds AS (
        |  SELECT event_type, max(n) AS n,
        |         max(CASE WHEN rn = greatest(CAST(ceil(
        |               CAST(0.05 AS DOUBLE) * CAST(n AS DOUBLE))
        |               AS BIGINT), 1) THEN v END) AS lo,
        |         max(CASE WHEN rn = greatest(CAST(ceil(
        |               CAST(0.95 AS DOUBLE) * CAST(n AS DOUBLE))
        |               AS BIGINT), 1) THEN v END) AS hi
        |  FROM rk GROUP BY event_type),
        |cl AS (
        |  SELECT r.event_type, b.n, b.lo, b.hi,
        |         least(greatest(r.v, b.lo), b.hi) AS c,
        |         CASE WHEN r.v < b.lo THEN 1 ELSE 0 END AS blo,
        |         CASE WHEN r.v > b.hi THEN 1 ELSE 0 END AS bhi
        |  FROM rk r JOIN bounds b USING (event_type))
        |SELECT event_type, max(n) AS n, max(lo) AS lo, max(hi) AS hi,
        |       CAST(sum(blo) AS BIGINT) AS n_clipped_lo,
        |       CAST(sum(bhi) AS BIGINT) AS n_clipped_hi,
        |       round(CAST(sum(CAST(round(c, 12) AS DECIMAL(38,12)))
        |                  AS DOUBLE) / CAST(max(n) AS DOUBLE), 6)
        |         AS winsorized_mean
        |FROM cl GROUP BY event_type ORDER BY event_type""".stripMargin,

    // q151: the 9-dp dim stats recompute in-engine (the only float-sum
    // step; 9-dp absorbs partial-aggregation order), apply is algebra.
    "q151_embed_zscore" ->
      """WITH el AS (
        |  SELECT vec_id,
        |         CAST(generate_subscripts(embedding, 1) AS INTEGER) AS dim,
        |         CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |st AS (
        |  SELECT dim, round(avg(v), 9) AS m, round(stddev_pop(v), 9) AS sd
        |  FROM el WHERE v IS NOT NULL GROUP BY dim)
        |SELECT el.vec_id, el.dim,
        |       round((el.v - st.m) / nullif(st.sd, CAST(0 AS DOUBLE)), 6)
        |         AS z
        |FROM el JOIN st USING (dim)
        |WHERE el.vec_id < 8
        |ORDER BY vec_id, dim""".stripMargin,

    // q152: generated — the ±1 sign matrix is computed driver-side
    // (md5 over plain strings) and embedded as identical list literals
    // in plan and oracle; the dot fold is in-order in both engines
    // (the q19 precedent).
    "q152_random_projection" -> randomProjectionOracleSql,

    "q153_keywords" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |                            x -> length(x) > 0)) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |       FROM toks GROUP BY 1, 2),
        |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
        |        FROM tf GROUP BY term),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |sc AS (
        |  SELECT tf.doc_id, tf.term,
        |         round(CAST(tf.tf AS DOUBLE) *
        |               (ln((CAST(nn.n AS DOUBLE) + 1.0) /
        |                   (CAST(dfq.df AS DOUBLE) + 1.0)) + 1.0), 6)
        |           AS score
        |  FROM tf JOIN dfq USING (term) CROSS JOIN nn),
        |rk AS (
        |  SELECT doc_id, term, score,
        |         CAST(row_number() OVER (
        |           PARTITION BY doc_id ORDER BY score DESC, term)
        |           AS BIGINT) AS rank
        |  FROM sc)
        |SELECT doc_id, term, score, rank FROM rk
        |WHERE rank <= 3 AND doc_id < 60
        |ORDER BY doc_id, rank""".stripMargin
  )


  /** q147/q154's shared oracle (see the q147 comment in [[oracleSql]]). */
  /** The q206 eigenpair-residual certification, parameterized on the
    * dump key so the moment-merge twin (q212) shares it verbatim. */
  private def pcaResidualOracle(dumpKey: String): String =
    s"""WITH vdump AS (
        |  SELECT CAST(idx AS BIGINT) AS idx, v
        |  FROM read_parquet('__OUT__/$dumpKey/*.parquet')),
        |e AS (
        |  SELECT vec_id,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        |  FROM embeddings
        |  WHERE embedding IS NOT NULL AND len(embedding) = 64),
        |el AS (
        |  SELECT vec_id,
        |         CAST(generate_subscripts(emb, 1) AS INTEGER) - 1 AS i,
        |         CAST(unnest(emb) AS DOUBLE) AS x
        |  FROM e),
        |nrow AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM e),
        |sm AS (
        |  SELECT a.i AS i, b2.i AS j,
        |         CAST(sum(CAST(round(a.x * b2.x, 12) AS DECIMAL(38,12)))
        |           AS DOUBLE) AS s
        |  FROM el a JOIN el b2 ON a.vec_id = b2.vec_id
        |  GROUP BY 1, 2),
        |sv AS (
        |  SELECT i, CAST(sum(CAST(round(x, 12) AS DECIMAL(38,12)))
        |           AS DOUBLE) AS s
        |  FROM el GROUP BY 1),
        |cm AS (
        |  SELECT sm.i, sm.j,
        |         (sm.s - sa.s * sb.s / nrow.n) / nrow.n AS c
        |  FROM sm JOIN sv sa ON sa.i = sm.i
        |  JOIN sv sb ON sb.i = sm.j CROSS JOIN nrow),
        |comp AS (SELECT idx, v FROM vdump WHERE idx >= 0),
        |lam AS (SELECT v AS l FROM vdump WHERE idx = -1),
        |trc AS (SELECT v AS t FROM vdump WHERE idx = -2),
        |av AS (
        |  SELECT cm.i, sum(cm.c * w.v) AS av, sum(abs(cm.c)) AS rs
        |  FROM cm JOIN comp w ON w.idx = cm.j GROUP BY cm.i),
        |chk AS (
        |  SELECT coalesce(
        |      (SELECT count(*) FROM vdump) = 66
        |      AND (SELECT count(DISTINCT idx) FROM vdump
        |           WHERE idx BETWEEN -2 AND 63) = 66
        |      AND (SELECT bool_and(v = round(v, 9)) FROM vdump)
        |      AND (SELECT abs(sum(v*v) - 1.0) <= 1e-6 FROM comp)
        |      AND (SELECT bool_and(abs(av.av - (SELECT l FROM lam) * w.v)
        |               <= 1e-6 * av.rs + 1e-7)
        |           FROM av JOIN comp w ON w.idx = av.i)
        |      AND (SELECT abs((SELECT t FROM trc) - sum(c)) <= 1e-6
        |           FROM cm WHERE i = j)
        |      AND (SELECT (SELECT l FROM lam) >= max(c) - 1e-6
        |           FROM cm WHERE i = j),
        |      FALSE) AS ok)
        |SELECT idx, v FROM vdump WHERE (SELECT ok FROM chk)
        |UNION ALL
        |SELECT CAST(-9 AS BIGINT), CAST(0 AS DOUBLE)
        |WHERE NOT (SELECT ok FROM chk)
        |ORDER BY idx""".stripMargin

  /** The q184 residual certification, parameterized on the dump key so
    * the merge-law twin (q207) shares it verbatim. */
  private def probeResidualOracle(dumpKey: String): String =
    s"""WITH wdump AS (
        |  SELECT CAST(idx AS BIGINT) AS idx, w
        |  FROM read_parquet('__OUT__/$dumpKey/*.parquet')),
        |e AS (
        |  SELECT vec_id,
        |         list_append(list_transform(embedding,
        |           x -> CAST(x AS DOUBLE)), CAST(1 AS DOUBLE)) AS v,
        |         CASE WHEN label = 0 THEN CAST(1 AS DOUBLE)
        |              WHEN label IS NOT NULL THEN CAST(0 AS DOUBLE)
        |         END AS y
        |  FROM embeddings
        |  WHERE embedding IS NOT NULL AND label IS NOT NULL
        |    AND len(embedding) = 64),
        |el AS (
        |  SELECT vec_id, y,
        |         CAST(generate_subscripts(v, 1) AS INTEGER) - 1 AS i,
        |         CAST(unnest(v) AS DOUBLE) AS x
        |  FROM e),
        |am AS (
        |  SELECT a.i AS i, b2.i AS j,
        |         CAST(sum(CAST(round(a.x * b2.x, 12) AS DECIMAL(38,12)))
        |           AS DOUBLE)
        |         + CASE WHEN a.i = b2.i AND a.i < 64
        |                THEN 0.001 ELSE 0 END AS s
        |  FROM el a JOIN el b2 ON a.vec_id = b2.vec_id
        |  GROUP BY 1, 2),
        |aw AS (
        |  SELECT am.i, sum(am.s * w.w) AS aw, sum(abs(am.s)) AS rs
        |  FROM am JOIN wdump w ON w.idx = am.j GROUP BY am.i),
        |bv AS (
        |  SELECT i, CAST(sum(CAST(round(x * y, 12) AS DECIMAL(38,12)))
        |           AS DOUBLE) AS b
        |  FROM el GROUP BY 1),
        |chk AS (
        |  SELECT coalesce(
        |      (SELECT count(*) FROM wdump) = 65
        |      AND (SELECT count(DISTINCT idx) FROM wdump
        |           WHERE idx BETWEEN 0 AND 64) = 65
        |      AND (SELECT bool_and(w = round(w, 9)) FROM wdump)
        |      AND (SELECT bool_and(abs(aw.aw - bv.b) <= 1e-8 * aw.rs + 1e-6)
        |           FROM aw JOIN bv USING (i)),
        |      FALSE) AS ok)
        |SELECT idx, w FROM wdump WHERE (SELECT ok FROM chk)
        |UNION ALL
        |SELECT CAST(-1 AS BIGINT), CAST(0 AS DOUBLE)
        |WHERE NOT (SELECT ok FROM chk)
        |ORDER BY idx""".stripMargin

  /** q189's full screen chain — shared verbatim by q200 (merge law). */
  private val sourceScreenOracleSql: String =
    """WITH cells AS (
        |  SELECT source AS g, CAST(count(*) AS BIGINT) AS n,
        |         sum(CAST(round(CAST(n_chars AS DOUBLE), 9)
        |           AS DECIMAL(38,12))) AS s1,
        |         sum(CAST(round(CAST(n_chars AS DOUBLE)
        |           * CAST(n_chars AS DOUBLE), 9) AS DECIMAL(38,12))) AS s2
        |  FROM documents
        |  WHERE source IS NOT NULL AND n_chars IS NOT NULL GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS tn, sum(s1) AS ts1,
        |               sum(s2) AS ts2 FROM cells),
        |zt AS (
        |  SELECT g, n, round(CAST(s1 AS DOUBLE) / n, 6) AS mean,
        |         CASE WHEN n >= 2 AND tn - n >= 2 THEN
        |           round((CAST(s1 AS DOUBLE) / n
        |                  - CAST(ts1 - s1 AS DOUBLE) / (tn - n))
        |             / nullif(sqrt(
        |                 (CAST(s2 AS DOUBLE)
        |                  - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
        |                 / (n - 1) / n
        |               + (CAST(ts2 - s2 AS DOUBLE)
        |                  - CAST(ts1 - s1 AS DOUBLE)
        |                    * CAST(ts1 - s1 AS DOUBLE) / (tn - n))
        |                 / (tn - n - 1) / (tn - n)),
        |               CAST(0 AS DOUBLE)), 6)
        |         END AS z
        |  FROM cells CROSS JOIN tot),
        |pt AS (
        |  SELECT g, n, mean, z,
        |         round(((((1.061405429 * t + -1.453152027) * t
        |                 + 1.421413741) * t + -0.284496736) * t
        |                 + 0.254829592) * t
        |               * exp(-(x * x)), 6) AS p
        |  FROM (SELECT g, n, mean, z,
        |               abs(z) * 0.7071067811865476 AS x,
        |               1.0 / (1.0 + 0.3275911
        |                 * (abs(z) * 0.7071067811865476)) AS t
        |        FROM zt)),
        |rk AS (
        |  SELECT g, n, mean, z, p,
        |         CAST(row_number() OVER (ORDER BY p, g) AS BIGINT)
        |           AS rank,
        |         CAST(count(*) OVER () AS BIGINT) AS m
        |  FROM pt WHERE p IS NOT NULL),
        |ct AS (SELECT max(CASE WHEN p <= CAST(0.05 AS DOUBLE) * rank / m
        |                       THEN rank END) AS cut FROM rk)
        |SELECT g, n, mean, z, p, rank,
        |       coalesce(rank <= ct.cut, FALSE) AS significant
        |FROM rk CROSS JOIN ct ORDER BY rank""".stripMargin

  /** q254: q189's Welch/p/rank chain verbatim, with the BY harmonic
    * cut (12-dp decimal 1/i folds) instead of the BH linear cut. */
  private val byScreenOracleSql: String =
    sourceScreenOracleSql.replace(
      """ct AS (SELECT max(CASE WHEN p <= CAST(0.05 AS DOUBLE) * rank / m
        |                       THEN rank END) AS cut FROM rk)""".stripMargin,
      """cm AS (SELECT CAST(sum(CAST(round(1.0 / rank, 12)
        |         AS DECIMAL(38,12))) AS DOUBLE) AS c FROM rk),
        |ct AS (SELECT max(CASE WHEN p <= CAST(0.05 AS DOUBLE)
        |                    * CAST(rank AS DOUBLE)
        |                    / (CAST(m AS DOUBLE) * cm.c)
        |                       THEN rank END) AS cut
        |       FROM rk CROSS JOIN cm)""".stripMargin)

  /** q325: q189's Welch/p/rank chain verbatim, with the Holm
    * step-down cut (first failing rank stops everything after it)
    * instead of the BH step-up. */
  private val holmScreenOracleSql: String =
    sourceScreenOracleSql.replace(
      """ct AS (SELECT max(CASE WHEN p <= CAST(0.05 AS DOUBLE) * rank / m
        |                       THEN rank END) AS cut FROM rk)
        |SELECT g, n, mean, z, p, rank,
        |       coalesce(rank <= ct.cut, FALSE) AS significant
        |FROM rk CROSS JOIN ct ORDER BY rank""".stripMargin,
      """ct AS (SELECT min(CASE WHEN p > CAST(0.05 AS DOUBLE)
        |                    / CAST(m - rank + 1 AS DOUBLE)
        |                       THEN rank END) AS cut FROM rk)
        |SELECT g, n, mean, z, p, rank,
        |       coalesce(rank < ct.cut, TRUE) AS significant
        |FROM rk CROSS JOIN ct ORDER BY rank""".stripMargin)

  /** q292/q299 shared oracle: the term-count frame (direct
    * tokenization ≡ the postings-stripe sum(tf) rollup), ranked and
    * fit. */
  private val zipfSlopeOracleSql: String =
    """WITH c AS (
        |  SELECT t, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(list_filter(
        |          string_split_regex(lower(text), '\s+'),
        |          x -> length(x) > 0)) AS t
        |        FROM documents WHERE text IS NOT NULL) x
        |  GROUP BY 1),
        |r AS (
        |  SELECT CAST(row_number() OVER (ORDER BY c DESC, t)
        |           AS BIGINT) AS r, c
        |  FROM c),
        |xy AS (
        |  SELECT ln(CAST(r AS DOUBLE)) AS x, ln(CAST(c AS DOUBLE)) AS y
        |  FROM r WHERE r <= 1000),
        |m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CAST(round(x, 12) AS DECIMAL(38,12)))
        |           AS DOUBLE) AS sx,
        |         CAST(sum(CAST(round(y, 12) AS DECIMAL(38,12)))
        |           AS DOUBLE) AS sy,
        |         CAST(sum(CAST(round(x * x, 12) AS DECIMAL(38,12)))
        |           AS DOUBLE) AS sxx,
        |         CAST(sum(CAST(round(y * y, 12) AS DECIMAL(38,12)))
        |           AS DOUBLE) AS syy,
        |         CAST(sum(CAST(round(x * y, 12) AS DECIMAL(38,12)))
        |           AS DOUBLE) AS sxy
        |  FROM xy),
        |k AS (
        |  SELECT n, CAST(n AS DOUBLE) AS nd, sx, sy, sxx, syy, sxy,
        |         CAST(n AS DOUBLE) * sxy - sx * sy AS cov,
        |         CAST(n AS DOUBLE) * sxx - sx * sx AS varx,
        |         CAST(n AS DOUBLE) * syy - sy * sy AS vary
        |  FROM m)
        |SELECT n AS n_terms,
        |       round(cov / nullif(varx, 0), 6) AS slope,
        |       round((sy - cov / nullif(varx, 0) * sx) / nd, 6)
        |         AS intercept,
        |       round(cov * cov / nullif(varx * vary, 0), 6) AS r2
        |FROM k""".stripMargin

  /** q287/q298 shared oracle: the same term-count frame, the Chao1
    * census. */
  private val chao1OracleSql: String =
    """WITH c AS (
        |  SELECT t, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(list_filter(
        |          string_split_regex(lower(text), '\s+'),
        |          x -> length(x) > 0)) AS t
        |        FROM documents WHERE text IS NOT NULL) x
        |  GROUP BY 1),
        |a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS vocab,
        |         CAST(coalesce(sum(CASE WHEN c = 1 THEN 1 END), 0)
        |           AS BIGINT) AS f1,
        |         CAST(coalesce(sum(CASE WHEN c = 2 THEN 1 END), 0)
        |           AS BIGINT) AS f2
        |  FROM c)
        |SELECT vocab, f1, f2,
        |       round(CAST(vocab AS DOUBLE)
        |             + CAST(f1 AS DOUBLE) * (CAST(f1 AS DOUBLE) - 1.0)
        |               / (2.0 * (CAST(f2 AS DOUBLE) + 1.0)), 6)
        |         AS chao1
        |FROM a""".stripMargin

  /** q285/q303 shared oracle: the (week, type) cell frame and the
    * entropy derivation (the merge law folds to the identical
    * frame). */
  private val mixEntropyOracleSql: String =
    """WITH c AS (
        |  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS w,
        |         event_type AS t, CAST(count(*) AS BIGINT) AS c
        |  FROM events
        |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
        |  GROUP BY 1, 2),
        |tot AS (
        |  SELECT w, CAST(sum(c) AS BIGINT) AS n_events,
        |         CAST(count(*) AS BIGINT) AS n_types
        |  FROM c GROUP BY 1),
        |tm AS (
        |  SELECT c.w, tot.n_events, tot.n_types,
        |         CAST(round((CAST(c.c AS DOUBLE)
        |             / CAST(tot.n_events AS DOUBLE))
        |           * ln(CAST(c.c AS DOUBLE)
        |             / CAST(tot.n_events AS DOUBLE)), 12)
        |           AS DECIMAL(38,12)) AS t
        |  FROM c JOIN tot ON tot.w = c.w)
        |SELECT strftime(make_timestamp(w * 604800 * 1000000),
        |         '%Y-%m-%d') AS week_start,
        |       n_events, n_types,
        |       round(-CAST(sum(t) AS DOUBLE) / 0.6931471805599453, 6)
        |         AS entropy
        |FROM tm GROUP BY w, n_events, n_types
        |ORDER BY week_start""".stripMargin

  /** q331/q333 shared oracle: the OLS-detrended weekday adjustment
    * (q333 runs the cusum chain over its output). */
  private val seasonalAdjustOracleSql: String =
    """WITH s AS (
        |  SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS DOUBLE) AS v
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
        |b AS (
        |  SELECT d, v,
        |         CAST(CAST(row_number() OVER (ORDER BY d) AS BIGINT)
        |           AS DOUBLE) AS i
        |  FROM s),
        |fit AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CAST(round(i, 12) AS DECIMAL(38,12)))
        |           AS DOUBLE) AS sx,
        |         CAST(sum(CAST(round(v, 12) AS DECIMAL(38,12)))
        |           AS DOUBLE) AS sy,
        |         CAST(sum(CAST(round(i * i, 12) AS DECIMAL(38,12)))
        |           AS DOUBLE) AS sxx,
        |         CAST(sum(CAST(round(i * v, 12) AS DECIMAL(38,12)))
        |           AS DOUBLE) AS sxy
        |  FROM b),
        |k AS (
        |  SELECT n,
        |         (CAST(n AS DOUBLE) * sxy - sx * sy)
        |           / nullif(CAST(n AS DOUBLE) * sxx - sx * sx, 0)
        |           AS slope, sx, sy
        |  FROM fit),
        |k2 AS (SELECT n, slope,
        |              (sy - slope * sx) / CAST(n AS DOUBLE) AS icept
        |       FROM k),
        |r AS (SELECT b.d, b.v,
        |             b.v - (k2.icept + k2.slope * b.i) AS r
        |      FROM b, k2),
        |dw AS (
        |  SELECT CAST(dayofweek(d) + 1 AS INTEGER) AS dow,
        |         CAST(sum(CAST(round(r, 9) AS DECIMAL(38,9)))
        |           AS DOUBLE) / CAST(count(*) AS DOUBLE) AS sdow
        |  FROM r GROUP BY 1)
        |SELECT CAST(r.d AS VARCHAR) AS day, r.v AS value,
        |       round(dw.sdow, 6) AS seasonal,
        |       round(r.v - dw.sdow, 6) AS adjusted
        |FROM r JOIN dw
        |  ON CAST(dayofweek(r.d) + 1 AS INTEGER) = dw.dow
        |ORDER BY day""".stripMargin

  /** q180/q290 shared oracle: the user-span KM curve under the
    * horizon censoring rule (q290 wraps it to pick the median). */
  private val kaplanMeierOracleSql: String =
    """WITH dy AS (
      |  SELECT user_id AS u,
      |         CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
      |           // 3600 AS hr
      |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
      |sp AS (SELECT u, min(hr) AS f, max(hr) AS l FROM dy GROUP BY u),
      |fl AS (
      |  SELECT l - f AS t_life,
      |         CASE WHEN l <= (SELECT max(l) FROM sp) - 12
      |              THEN 1 ELSE 0 END AS ch
      |  FROM sp),
      |pd AS (SELECT t_life, CAST(count(*) AS BIGINT) AS ends,
      |              CAST(sum(ch) AS BIGINT) AS n_churn
      |       FROM fl GROUP BY 1),
      |rk AS (
      |  SELECT t_life, ends, n_churn,
      |         CAST(sum(ends) OVER (ORDER BY t_life ROWS BETWEEN
      |           CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT)
      |           AS n_risk
      |  FROM pd),
      |tm AS (
      |  SELECT t_life, ends, n_churn, n_risk,
      |         CASE WHEN n_churn < n_risk THEN
      |           CAST(round(ln(CAST(n_risk - n_churn AS DOUBLE)
      |                         / CAST(n_risk AS DOUBLE)), 12)
      |                AS DECIMAL(38,12))
      |         ELSE CAST(0 AS DECIMAL(38,12)) END AS term,
      |         max(CASE WHEN n_churn = n_risk THEN 1 ELSE 0 END)
      |           OVER (ORDER BY t_life ROWS BETWEEN UNBOUNDED PRECEDING
      |                 AND CURRENT ROW) AS dead
      |  FROM rk)
      |SELECT t_life, n_risk, n_churn, ends - n_churn AS n_censored,
      |       CASE WHEN dead = 1 THEN CAST(0 AS DOUBLE)
      |            ELSE round(exp(CAST(sum(term) OVER (ORDER BY t_life
      |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
      |                   ROW) AS DOUBLE)), 6) END AS survival
      |FROM tm WHERE n_churn > 0 ORDER BY t_life""".stripMargin

  /** q265/q277 shared oracle: the distinct user-day store, the
    * adjacent-day overlap and the union arithmetic (the sketch variant
    * reproduces the exact counts below the HLL promotion threshold). */
  private val audienceOverlapOracleSql: String =
    """WITH pairs AS (
      |  SELECT DISTINCT user_id AS u,
      |         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d
      |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
      |sizes AS (SELECT d, CAST(count(*) AS BIGINT) AS n
      |          FROM pairs GROUP BY 1),
      |bo AS (
      |  SELECT a.d, CAST(count(*) AS BIGINT) AS n_both
      |  FROM pairs a JOIN pairs b ON a.u = b.u AND b.d = a.d - 1
      |  GROUP BY 1)
      |SELECT strftime(make_timestamp(c.d * 86400 * 1000000),
      |         '%Y-%m-%d') AS day,
      |       p.n AS n_prev, c.n AS n_cur,
      |       coalesce(bo.n_both, 0) AS n_both,
      |       round(CAST(coalesce(bo.n_both, 0) AS DOUBLE)
      |             / CAST(p.n + c.n - coalesce(bo.n_both, 0)
      |                 AS DOUBLE), 6) AS jaccard
      |FROM sizes c JOIN sizes p ON p.d = c.d - 1
      |LEFT JOIN bo ON bo.d = c.d
      |ORDER BY day""".stripMargin

  /** q267/q276 shared oracle: the class-size frame over the customer
    * quasi-identifiers and the threshold profile (the merge law folds
    * to the identical frame, so one SQL serves both). */
  private val kAnonymityOracleSql: String =
    """WITH sz AS (
      |  SELECT c_nationkey, c_mktsegment,
      |         CAST(count(*) AS BIGINT) AS sz
      |  FROM customer GROUP BY 1, 2),
      |f AS (SELECT sz.sz, CAST(k.k AS BIGINT) AS k
      |      FROM sz, (SELECT unnest([2, 5, 10, 25]) AS k) k)
      |SELECT k, CAST(count(*) AS BIGINT) AS n_classes,
      |       min(sz) AS min_class_size,
      |       CAST(coalesce(sum(CASE WHEN sz < k THEN 1 END), 0)
      |         AS BIGINT) AS n_classes_below,
      |       CAST(coalesce(sum(CASE WHEN sz < k THEN sz END), 0)
      |         AS BIGINT) AS n_rows_at_risk,
      |       CAST(sum(sz) AS BIGINT) AS n_rows,
      |       round(CAST(coalesce(sum(CASE WHEN sz < k THEN sz END), 0)
      |               AS DOUBLE) / CAST(sum(sz) AS DOUBLE), 6)
      |         AS pct_rows_at_risk
      |FROM f GROUP BY k ORDER BY k""".stripMargin

  private val trendOracleSql: String =
      """WITH b AS (
        |  SELECT event_type,
        |         CAST(floor((CAST(floor(epoch(ts)) AS BIGINT) - 1704067200)
        |                    / 3600.0) AS DOUBLE) AS x,
        |         CAST(value AS DOUBLE) AS y
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL),
        |p AS (SELECT * FROM b WHERE x IS NOT NULL AND y IS NOT NULL),
        |m AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |         sum(CAST(round(x, 12) AS DECIMAL(38,12))) AS sx,
        |         sum(CAST(round(y, 12) AS DECIMAL(38,12))) AS sy,
        |         sum(CAST(round(x * x, 12) AS DECIMAL(38,12))) AS sxx,
        |         sum(CAST(round(y * y, 12) AS DECIMAL(38,12))) AS syy,
        |         sum(CAST(round(x * y, 12) AS DECIMAL(38,12))) AS sxy
        |  FROM p GROUP BY event_type),
        |k AS (
        |  SELECT event_type, n, CAST(n AS DOUBLE) AS nd,
        |         CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
        |         CAST(sxx AS DOUBLE) AS sxxd, CAST(syy AS DOUBLE) AS syyd,
        |         CAST(sxy AS DOUBLE) AS sxyd
        |  FROM m),
        |f AS (
        |  SELECT event_type, n,
        |         nd * sxyd - sxd * syd AS cov,
        |         nd * sxxd - sxd * sxd AS varx,
        |         nd * syyd - syd * syd AS vary,
        |         nd, sxd, syd
        |  FROM k)
        |SELECT event_type, n,
        |       round(cov / nullif(varx, CAST(0 AS DOUBLE)), 6) AS slope,
        |       round((syd - cov / nullif(varx, CAST(0 AS DOUBLE)) * sxd)
        |             / nd, 6) AS intercept,
        |       round(cov * cov / nullif(varx * vary, CAST(0 AS DOUBLE)), 6)
        |         AS r2
        |FROM f ORDER BY event_type""".stripMargin

  /** q119/q160's shared exact-kNN chain: the labeled ≤1000-id sample,
    * all-pairs cosine (in-order list folds → bit-identical doubles),
    * self-pairs excluded, total rank. */
  private val knnNeighborCtesSql: String =
    """WITH base AS (
      |  SELECT vec_id, embedding, label FROM embeddings
      |  WHERE embedding IS NOT NULL AND label IS NOT NULL
      |    AND vec_id < 1000),
      |s AS (
      |  SELECT q.vec_id AS q_id, q.label AS q_label,
      |         c.vec_id AS nn_id, c.label AS nn_label,
      |         list_aggregate(list_transform(
      |             list_zip(q.embedding, c.embedding),
      |             x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)),
      |           'sum')
      |         / nullif(
      |             sqrt(list_aggregate(list_transform(q.embedding,
      |               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
      |           * sqrt(list_aggregate(list_transform(c.embedding,
      |               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')),
      |             0) AS sim
      |  FROM base q JOIN base c ON q.vec_id <> c.vec_id),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY q_id
      |                               ORDER BY sim DESC, nn_id) AS rank
      |  FROM s)""".stripMargin

  /** q158/q159's shared CTE chain: tokenized counts per half-corpus,
    * union-vocabulary outer join, add-0.5-smoothed probabilities and the
    * mixture, 12-dp decimal KL(·‖M) terms — the exact float sequence
    * [[graft.ext.CorpusCompare]] evaluates. */
  private val divergenceCtesSql: String =
    """WITH ta AS (
      |  SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
      |                            x -> length(x) > 0)) AS term
      |  FROM documents WHERE doc_id % 2 = 0),
      |ca AS (SELECT term, CAST(count(*) AS BIGINT) AS cp
      |       FROM ta GROUP BY term),
      |tb AS (
      |  SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
      |                            x -> length(x) > 0)) AS term
      |  FROM documents WHERE doc_id % 2 <> 0),
      |cb AS (SELECT term, CAST(count(*) AS BIGINT) AS cq
      |       FROM tb GROUP BY term),
      |j AS (SELECT term, coalesce(cp, 0) AS cp, coalesce(cq, 0) AS cq
      |      FROM ca FULL OUTER JOIN cb USING (term)),
      |tot AS (SELECT CAST(sum(cp) AS BIGINT) AS np,
      |               CAST(sum(cq) AS BIGINT) AS nq,
      |               CAST(count(*) AS BIGINT) AS v
      |        FROM j),
      |f AS (
      |  SELECT term, cp, cq,
      |         (CAST(cp AS DOUBLE) + CAST(0.5 AS DOUBLE))
      |           / (CAST(np AS DOUBLE)
      |              + CAST(0.5 AS DOUBLE) * CAST(v AS DOUBLE)) AS p,
      |         (CAST(cq AS DOUBLE) + CAST(0.5 AS DOUBLE))
      |           / (CAST(nq AS DOUBLE)
      |              + CAST(0.5 AS DOUBLE) * CAST(v AS DOUBLE)) AS q
      |  FROM j CROSS JOIN tot),
      |g AS (SELECT term, cp, cq, p, q, (p + q) / 2.0 AS m FROM f),
      |h AS (
      |  SELECT term, cp, cq, p, q,
      |         CAST(round(p * ln(p / m), 12) AS DECIMAL(38,12)) AS t_p,
      |         CAST(round(q * ln(q / m), 12) AS DECIMAL(38,12)) AS t_q
      |  FROM g)""".stripMargin

  /** q158/q161's shared summary oracle over [[divergenceCtesSql]]. */
  private lazy val jsSummaryOracleSql: String =
    divergenceCtesSql + """
      |SELECT (SELECT v FROM tot) AS n_terms,
      |       (SELECT np FROM tot) AS np, (SELECT nq FROM tot) AS nq,
      |       round(CAST(sum(t_p) AS DOUBLE), 6) AS kl_pm,
      |       round(CAST(sum(t_q) AS DOUBLE), 6) AS kl_qm,
      |       round((CAST(sum(t_p) AS DOUBLE) + CAST(sum(t_q) AS DOUBLE))
      |             / 2.0, 6) AS js
      |FROM h""".stripMargin

  /** The χ² margins→densify→fold tail shared by q166/q170: parameterized
    * only by the CTE chain that defines `cells (a, b, o)` — replays
    * [[StatsTests.chiSquared]] including the zero-cell
    * densification. */
  private def chi2OracleSql(cellsCtes: String): String =
    cellsCtes + """,
      |rt AS (SELECT a, CAST(sum(o) AS BIGINT) AS rt FROM cells GROUP BY a),
      |ct AS (SELECT b, CAST(sum(o) AS BIGINT) AS ct FROM cells GROUP BY b),
      |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
      |               CAST(count(DISTINCT a) AS BIGINT) AS n_rows,
      |               CAST(count(DISTINCT b) AS BIGINT) AS n_cols
      |        FROM cells),
      |dense AS (
      |  SELECT r.a, cl.b, r.rt, cl.ct, coalesce(c.o, 0) AS o
      |  FROM rt r CROSS JOIN ct cl
      |  LEFT JOIN cells c ON c.a = r.a AND c.b = cl.b),
      |terms AS (
      |  SELECT n, n_rows, n_cols,
      |         CAST(round((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e)
      |                    / e, 12) AS DECIMAL(38,12)) AS t
      |  FROM (SELECT d.o,
      |               CAST(d.rt AS DOUBLE) * CAST(d.ct AS DOUBLE)
      |                 / CAST(tt.n AS DOUBLE) AS e,
      |               tt.n, tt.n_rows, tt.n_cols
      |        FROM dense d CROSS JOIN tot tt))
      |SELECT n, n_rows, n_cols,
      |       (n_rows - 1) * (n_cols - 1) AS dof,
      |       round(CAST(sum(t) AS DOUBLE), 6) AS chi2
      |FROM terms GROUP BY 1, 2, 3""".stripMargin

  /** q167's oracle — generated so the Benford expectations
    * (`log10(1+1/d)`) are the SAME doubles the plan carries. */
  private val benfordOracleSql: String = {
    val exp = StatsTests.benfordExpected
    val caseExpr = (1 to 9).map(dd =>
      s"WHEN digit = $dd THEN CAST(${exp(dd - 1).toString} AS DOUBLE)")
      .mkString("CASE ", " ", " END")
    s"""WITH b AS (
       |  SELECT CAST(floor(v / pow(CAST(10.0 AS DOUBLE), floor(log10(v))))
       |              AS INTEGER) AS digit
       |  FROM (SELECT CAST(value AS DOUBLE) AS v FROM events)
       |  WHERE v IS NOT NULL AND v > 0),
       |c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_obs
       |      FROM b GROUP BY digit),
       |t AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM c),
       |e AS (SELECT digit, n_obs, n, $caseExpr AS pexp
       |      FROM c CROSS JOIN t)
       |SELECT digit, n_obs,
       |       round(CAST(n_obs AS DOUBLE) / CAST(n AS DOUBLE), 6) AS p_obs,
       |       round(pexp, 6) AS p_benford,
       |       round((CAST(n_obs AS DOUBLE) / CAST(n AS DOUBLE) - pexp)
       |             * (CAST(n_obs AS DOUBLE) / CAST(n AS DOUBLE) - pexp)
       |             * CAST(n AS DOUBLE) / pexp, 6) AS chi2_term
       |FROM e ORDER BY digit""".stripMargin
  }

  /** q157/q162's shared link build: customers vs the content-perturbed
    * even-key copy, nation-blocked, best match at threshold 4. */
  private def customerLinks(s: SparkSession, d: String): DataFrame = {
    val c = t(s, d, "customer")
    val a = c.select(col("c_custkey").as("a_id"),
      col("c_nationkey").as("a_nat"), col("c_name").as("a_name"),
      col("c_mktsegment").as("a_seg"), col("c_acctbal").as("a_bal"))
    val b = c.filter(pmod(col("c_custkey"), lit(2)) === 0)
      .select(col("c_custkey").as("b_id"),
        col("c_nationkey").as("b_nat"),
        when(pmod(col("c_custkey"), lit(9)) === 0,
          concat(col("c_name"), lit("x")))
          .otherwise(col("c_name")).as("b_name"),
        when(pmod(col("c_custkey"), lit(7)) === 0, lit("ZZZ"))
          .otherwise(col("c_mktsegment")).as("b_seg"),
        when(pmod(col("c_custkey"), lit(5)) === 0,
          col("c_acctbal") + 0.5)
          .otherwise(col("c_acctbal")).as("b_bal"))
    // Blocking: UNION of two high-cardinality keys instead of the
    // nation-only block this engine shipped first (25 nations → a
    // quadratic n²/25 candidate floor, the q27/q44 scale-law class).
    // With these weights a pair reaching threshold 4 must agree on
    // name, or — when name is unobservable — on balance (see the
    // blockingCovers proof below: max score without either is
    // seg+bal-NULL ≈ 1.5), so (nation, name) ∪ (nation, ε-banded
    // balance) generates every above-threshold pair. Balance agreement
    // is |Δ| < 0.005, i.e. band width 1/200: band(a) ∈ band(b) ± 1 by
    // the standard ε-join banding, hence the 3-band explode on A.
    // Block cardinality now scales with the file (names ~unique,
    // ~2×10⁶ balance bands), so candidates stay linear-ish in n.
    // The all-candidate DuckDB oracle is UNCHANGED — coverage is the
    // equivalence proof, and blockingCovers re-checks it at plan
    // build so a future weight/threshold tweak that breaks coverage
    // fails fast instead of silently dropping links.
    require(RecordLinkage.blockingCovers(linkageFields, threshold = 4.0,
      keys = Seq(Set(0), Set(2))),
      "q157 blocking keys no longer cover the threshold-passing states")
    val byName = a.join(b,
      col("a_nat") === col("b_nat") &&
        lower(col("a_name")) === lower(col("b_name")))
    val byBal = a
      .withColumn("_ab", floor(col("a_bal") * 200))
      .withColumn("_band", explode(array(col("_ab") - 1, col("_ab"),
        col("_ab") + 1)))
      .join(b.withColumn("_band", floor(col("b_bal") * 200)),
        Seq("_band"))
      .filter(col("a_nat") === col("b_nat"))
      .drop("_ab", "_band")
    val cands = byName.unionByName(byBal)
      .dropDuplicates("a_id", "b_id")
    RecordLinkage.bestLinks(cands, "a_id", "b_id", linkageFields,
      threshold = 4.0)
  }

  /** q157's compared fields: (agreement, m, u) in the fold order the
    * score sums them — shared between the declared query and the oracle
    * generator so the weights can't drift. */
  private def linkageFields: Seq[(Column, Double, Double)] = Seq(
    (lower(col("a_name")) === lower(col("b_name")), 0.95, 0.001),
    (col("a_seg") === col("b_seg"), 0.9, 0.2),
    (abs(col("a_bal") - col("b_bal")) < 0.005, 0.9, 0.01))

  /** q157's oracle — generated so the Fellegi–Sunter weights are the
    * SAME doubles the plan folds ([[graft.ext.RecordLinkage
    * .agreementWeights]] printed via Double.toString), the CASE chain
    * mirrors the NULL-agreement-is-0 rule, and the fold order matches
    * [[linkageFields]]. */
  private val linkageCtesSql: String = {
    val specs = Seq(
      ("lower(a_name) = lower(b_name)", 0.95, 0.001),
      ("a_seg = b_seg", 0.9, 0.2),
      ("abs(a_bal - b_bal) < CAST(0.005 AS DOUBLE)", 0.9, 0.01))
    val terms = specs.map { case (pred, m, u) =>
      val (wa, wd) = graft.ext.RecordLinkage.agreementWeights(m, u)
      s"""(CASE WHEN ($pred) IS NULL THEN 0.0
         |             WHEN $pred THEN CAST(${wa.toString} AS DOUBLE)
         |             ELSE CAST(${wd.toString} AS DOUBLE) END)""".stripMargin
    }.mkString("\n        |         + ")
    s"""a AS (
       |  SELECT c_custkey AS a_id, c_nationkey AS a_nat, c_name AS a_name,
       |         c_mktsegment AS a_seg, c_acctbal AS a_bal
       |  FROM customer),
       |b AS (
       |  SELECT c_custkey AS b_id, c_nationkey AS b_nat,
       |         CASE WHEN c_custkey % 9 = 0 THEN c_name || 'x'
       |              ELSE c_name END AS b_name,
       |         CASE WHEN c_custkey % 7 = 0 THEN 'ZZZ'
       |              ELSE c_mktsegment END AS b_seg,
       |         CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + CAST(0.5 AS DOUBLE)
       |              ELSE c_acctbal END AS b_bal
       |  FROM customer WHERE c_custkey % 2 = 0),
       |sc AS (
       |  SELECT a_id, b_id,
       |         round($terms, 6) AS score
       |  FROM a JOIN b ON a_nat = b_nat),
       |rk AS (
       |  SELECT a_id, b_id, score,
       |         row_number() OVER (PARTITION BY a_id
       |                            ORDER BY score DESC, b_id) AS rk
       |  FROM sc WHERE score >= CAST(4.0 AS DOUBLE))""".stripMargin
  }

  private val linkageOracleSql: String =
    "WITH " + linkageCtesSql + """
      |SELECT a_id, b_id, score FROM rk WHERE rk = 1
      |ORDER BY a_id""".stripMargin

  /** q162's oracle: the q157 links form STARS (each A-record keeps one
    * best B-record), so the transitive component sizes the engine
    * computes via Dedup.components reduce to 1 + indegree(B) — an
    * independent closed form the oracle can state without recursion. */
  private val entityClustersOracleSql: String =
    "WITH " + linkageCtesSql + """,
      |links AS (SELECT a_id, b_id FROM rk WHERE rk = 1),
      |stars AS (SELECT b_id, CAST(count(*) + 1 AS BIGINT) AS cluster_size
      |          FROM links GROUP BY b_id)
      |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
      |FROM stars GROUP BY cluster_size ORDER BY cluster_size""".stripMargin

  /** q145/q146's edge list in the oracle dialect (mirrors [[orderGraph]]
    * + the NULL-endpoint filter GraphOps applies). */
  private val orderGraphSql: String =
    """edges AS (
      |  SELECT DISTINCT CAST(o_custkey AS BIGINT) AS src,
      |         CAST(l_suppkey + 1000000 AS BIGINT) AS dst
      |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      |  WHERE o_custkey IS NOT NULL AND l_suppkey IS NOT NULL)""".stripMargin

  /** q145's oracle — generated so damping-derived double literals are the
    * SAME values the plan folds ((1−d) is NOT the double nearest 0.15 —
    * printing the Scala-computed value round-trips it exactly), and so
    * the per-iteration CTE chain replays [[graft.ext.GraphOps.pageRank]]
    * term for term: decimal contribution sums, decimal dangling mass,
    * uniform redistribution, round-9 ranks. */
  private val pageRankOracleSql: String = {
    val iters = 3
    val damping = 0.85
    val dS = s"CAST(${damping.toString} AS DOUBLE)"
    val oneMinusD = (1.0 - damping).toString
    val its = (1 to iters).map { k =>
      val prev = if (k == 1) "it0" else s"it${k - 1}"
      s"""c$k AS (
         |  SELECT e.dst AS node,
         |         sum(CAST(round(p.r / d.outdeg, 12) AS DECIMAL(38,12)))
         |           AS c
         |  FROM edges e JOIN $prev p ON p.node = e.src
         |  JOIN deg d ON d.src = e.src
         |  GROUP BY e.dst),
         |dm$k AS (
         |  SELECT coalesce(sum(CAST(round(p.r, 12) AS DECIMAL(38,12))),
         |                  CAST(0 AS DECIMAL(38,12))) AS dm
         |  FROM $prev p LEFT JOIN deg dg ON dg.src = p.node
         |  WHERE dg.src IS NULL),
         |it$k AS (
         |  SELECT nd.node,
         |         round(CAST($oneMinusD AS DOUBLE) / nn.n + $dS *
         |           (coalesce(CAST(c.c AS DOUBLE), 0.0)
         |            + CAST(dm.dm AS DOUBLE) / nn.n), 9) AS r
         |  FROM nodes nd CROSS JOIN nn CROSS JOIN dm$k dm
         |  LEFT JOIN c$k c ON c.node = nd.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH $orderGraphSql,
       |nodes AS (SELECT src AS node FROM edges
       |          UNION SELECT dst FROM edges),
       |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
       |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
       |        FROM edges GROUP BY src),
       |it0 AS (SELECT node, round(CAST(1.0 AS DOUBLE) / nn.n, 9) AS r
       |        FROM nodes CROSS JOIN nn),
       |$its
       |SELECT node, r FROM it$iters
       |ORDER BY r DESC, node LIMIT 20""".stripMargin
  }

  /** q149's oracle — generated from [[graft.analytics.Trend.ewmaWeights]]
    * so the kernel literals and the left-to-right num/den fold order are
    * shared with the plan digit for digit. */
  private val ewmaOracleSql: String = {
    val weights = graft.analytics.Trend.ewmaWeights(0.5, 4)
    def tap(j: Int): String =
      if (j == 0) "CAST(value AS DOUBLE)"
      else s"lag(CAST(value AS DOUBLE), $j) OVER w"
    val num = weights.zipWithIndex.map { case (wt, j) =>
      s"coalesce(${tap(j)} * CAST(${wt.toString} AS DOUBLE), 0.0)"
    }.mkString("\n        |          + ")
    val den = weights.zipWithIndex.map { case (wt, j) =>
      s"(CASE WHEN ${tap(j)} IS NOT NULL THEN CAST(${wt.toString} AS DOUBLE) ELSE 0.0 END)"
    }.mkString("\n        |          + ")
    s"""SELECT user_id, event_id, value,
       |       round(($num)
       |             / nullif(($den), CAST(0 AS DOUBLE)), 6) AS ewma
       |FROM events
       |WHERE user_id < 30 AND user_id IS NOT NULL AND ts IS NOT NULL
       |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       |ORDER BY user_id, event_id""".stripMargin
  }

  /** q152's oracle — generated from the SAME driver-side sign matrix
    * ([[graft.ext.VectorOps.projectionSigns]]) the plan embeds; the
    * per-vector dot is an in-order list fold in both engines. */
  private val randomProjectionOracleSql: String = {
    val dIn = 64
    val signs = graft.ext.VectorOps.projectionSigns("rp42", dIn, 8)
    val scale = math.sqrt(dIn.toDouble).toString
    val cols = signs.zipWithIndex.map { case (s, j) =>
      val arr = s.map(_.toString).mkString("[", ", ", "]")
      s"""round(list_aggregate(list_transform(
         |         list_zip(CASE WHEN len(embedding) = $dIn
         |                       THEN embedding END, $arr),
         |         x -> CAST(x[1] AS DOUBLE) * x[2]), 'sum')
         |       / CAST($scale AS DOUBLE), 6) AS p${j + 1}""".stripMargin
    }.mkString(",\n       ")
    s"""SELECT vec_id,
       $cols
       |FROM embeddings WHERE vec_id < 40
       |ORDER BY vec_id""".stripMargin
  }

  /** q33/q76's shared partial oracle (see the q33 comment in [[oracleSql]]):
    * exact-cosine recompute of every returned sim + the 8×5-rank
    * structural guard, parameterized only by the dump directory. */
  private def ivfPartialOracleSql(key: String): String =
    s"""WITH r AS (SELECT q_id, nn_id, rank
       |           FROM read_parquet('__OUT__/$key/*.parquet')),
       |bf AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS nn_id,
       |    list_aggregate(list_transform(list_zip(q.embedding, c.embedding),
       |        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum')
       |    / (sqrt(list_aggregate(list_transform(q.embedding,
       |          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
       |     * sqrt(list_aggregate(list_transform(c.embedding,
       |          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))) AS sim
       |  FROM embeddings q, embeddings c
       |  WHERE q.vec_id < 8),
       |chk AS (
       |  SELECT coalesce(count(*) = 40
       |           AND count(DISTINCT q_id) = 8
       |           AND count(DISTINCT q_id || ':' || rank) = 40
       |           AND min(rank) = 1 AND max(rank) = 5, FALSE) AS ok
       |  FROM r)
       |SELECT r.q_id, r.nn_id, bf.sim, r.rank
       |FROM r JOIN bf ON r.q_id = bf.q_id AND r.nn_id = bf.nn_id
       |WHERE (SELECT ok FROM chk)
       |UNION ALL
       |SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), 0.0, CAST(-1 AS BIGINT)
       |WHERE NOT (SELECT ok FROM chk)
       |ORDER BY q_id, rank""".stripMargin

  /** Shared prelude of the trigram-Jaccard dedup oracles: documents →
    * per-doc DISTINCT word-trigram shingle lists → exploded postings with
    * the per-doc set size → the exact thresholded pair set `pairs(a_id,
    * b_id, n_common, n_union)`.
    *
    * Scale-capable by construction (the r13 all-pairs formulation was
    * quadratic at 50k docs and blew the 240 s per-oracle budget — the
    * ORACLE'S cost, the engine had already completed): candidate
    * generation is an inverted-index self-join on the shingle value, so
    * only pairs sharing ≥1 shingle ever materialize, and the intersection
    * size falls out of the same join as `count(*)` per pair (the lists are
    * DISTINCT, so one matched posting = one common shingle); the union is
    * then `n_a + n_b - n_common` with no per-pair list operation at all.
    * EXACTNESS is unchanged: Jaccard ≥ 0.6 > 0 forces ≥1 shared shingle,
    * so the index join is a conservative candidate generator, and
    * `5·min(n_a,n_b) ≥ 3·max(n_a,n_b)` is the exact integer form of the
    * AllPairs length filter (j ≥ 3/5 ⇒ min/max ≥ 3/5 — Bayardo et al.,
    * WWW'07; integer arithmetic so no float boundary). The final ≥ 0.6
    * double compare is byte-identical to the old formulation. MATERIALIZED
    * keeps DuckDB from re-inlining the shingle build into both join sides
    * (and into every recursive-CC iteration downstream). Validated at sf1
    * against the r13 engine dumps: identical results, 17–73 s per oracle
    * vs >240 s timeouts before. */
  // Candidate generation is k-common-prefix filtering (Chaudhuri et al.
  // SSJoin 2006 / Bayardo et al. All-Pairs 2007, k-extended): under ONE
  // global shingle order (rarest document-frequency first, shingle text
  // tiebreak), index only each document's first n − ⌈t·n⌉ + k shingles.
  // EXACTNESS: if J(A,B) ≥ t then |A∩B| = m ≥ ⌈t·max(|A|,|B|)⌉ = α, and
  // the i-th smallest common element (i ≤ min(k, m)) has ≥ m−i common
  // elements after it, so its position in X is ≤ |X| − (m−i) ≤
  // |X| − α + k — inside both prefixes. Hence qualifying pairs share
  // ≥ least(k, ⌈t/(1+t)·(n_a+n_b)⌉) prefix shingles (the second bound:
  // m ≥ t·union ≥ t·(n_a+n_b)/(1+t), and m can simply be < k for tiny
  // documents) — the HAVING below. Survivors get their EXACT overlap
  // from list_intersect on the two full shingle lists, so the pair set
  // is identical to the full inverted-index co-count; the rare-first
  // order is what makes it scale — hot shingles (the 31-token-vocabulary
  // collision mass) land in suffixes, never in posting lists. At sf10
  // (500k docs) this cut candidates from >10⁹ (full index, >30 min)
  // to ~thousands (k = 5), with the same pairs at every scale point.
  private val dedupPairsCte: String =
    """toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
      |                       x -> length(x) > 0) AS t FROM documents),
      |sh AS MATERIALIZED (
      |  SELECT doc_id, list(DISTINCT (t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
      |  FROM (SELECT doc_id, t, unnest(range(1, greatest(len(t) - 1, 1))) AS i
      |        FROM toks)
      |  GROUP BY doc_id),
      |dp_gf AS MATERIALIZED (
      |  SELECT g, count(*) AS df
      |  FROM (SELECT unnest(s) AS g FROM sh) GROUP BY g),
      |dp_px AS MATERIALIZED (
      |  SELECT doc_id, n, g FROM (
      |    SELECT sh.doc_id, len(sh.s) AS n, u.g,
      |           row_number() OVER (PARTITION BY sh.doc_id
      |                              ORDER BY dp_gf.df, u.g) AS rk
      |    FROM sh, unnest(sh.s) AS u(g) JOIN dp_gf USING (g))
      |  WHERE rk <= n - CAST(ceil(0.6 * n) AS BIGINT) + 5),
      |dp_cand AS MATERIALIZED (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |         any_value(a.n) AS n_a, any_value(b.n) AS n_b
      |  FROM dp_px a JOIN dp_px b
      |    ON a.g = b.g AND a.doc_id < b.doc_id
      |   AND 5 * least(a.n, b.n) >= 3 * greatest(a.n, b.n)
      |  GROUP BY 1, 2
      |  HAVING count(*) >= least(5, CAST(ceil(
      |    0.375 * (any_value(a.n) + any_value(b.n))) AS BIGINT))),
      |dp_co AS (
      |  SELECT c.a_id, c.b_id, c.n_a, c.n_b,
      |         CAST(len(list_intersect(sa.s, sb.s)) AS BIGINT) AS n_common
      |  FROM dp_cand c JOIN sh sa ON sa.doc_id = c.a_id
      |                 JOIN sh sb ON sb.doc_id = c.b_id),
      |pairs AS MATERIALIZED (
      |  SELECT a_id, b_id, n_common,
      |         n_a + n_b - n_common AS n_union
      |  FROM dp_co
      |  WHERE n_common > 0 AND CAST(n_common AS DOUBLE)
      |        / CAST(n_a + n_b - n_common AS DOUBLE) >= 0.6)""".stripMargin

  /** Shared connected-components tail over [[dedupPairsCte]]'s `pairs`:
    * symmetric edges + the recursive reachability closure seeded with every
    * document as its own component. Queries take `min(dst)` per `src` as
    * the component label. */
  private val dedupCcCte: String =
    """edges AS MATERIALIZED (
      |  SELECT a_id AS src, b_id AS dst FROM pairs
      |  UNION ALL
      |  SELECT b_id, a_id FROM pairs),
      |reach(src, dst) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)""".stripMargin

  /** Exact incremental-dedup recompute (odd-id batch vs even-id corpus:
    * exact copies out via NOT EXISTS, near-dups out via trigram Jaccard
    * ≥ 0.6) — shared by q62 (self-contained screen) and q75 (the
    * persisted-index screen): both must produce this identical result.
    * Candidate generation is the same inverted-index co-count as
    * [[dedupPairsCte]] (exactness argument there), restricted to
    * (odd batch, even corpus) posting pairs. */
  private val incrementalDedupOracleSql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
      |                       x -> length(x) > 0) AS t
      |  FROM documents),
      |sh AS MATERIALIZED (
      |  SELECT doc_id, list(DISTINCT (t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
      |  FROM (SELECT doc_id, t, unnest(range(1, greatest(len(t) - 1, 1))) AS i
      |        FROM toks)
      |  GROUP BY doc_id),
      |ex AS MATERIALIZED (SELECT doc_id, len(s) AS n, unnest(s) AS g FROM sh),
      |co AS (
      |  SELECT a.doc_id AS a_id,
      |         any_value(a.n) AS n_a, any_value(b.n) AS n_b,
      |         b.doc_id AS b_id,
      |         CAST(count(*) AS BIGINT) AS n_common
      |  FROM ex a JOIN ex b
      |    ON a.g = b.g AND a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
      |   AND 5 * least(a.n, b.n) >= 3 * greatest(a.n, b.n)
      |  GROUP BY 1, 4),
      |near AS (
      |  SELECT DISTINCT a_id AS doc_id FROM co
      |  WHERE CAST(n_common AS DOUBLE)
      |        / CAST(n_a + n_b - n_common AS DOUBLE) >= 0.6)
      |SELECT b.doc_id, b.lang
      |FROM documents b
      |WHERE b.doc_id % 2 = 1
      |  AND NOT EXISTS (SELECT 1 FROM documents c
      |                  WHERE c.doc_id % 2 = 0 AND c.text = b.text)
      |  AND b.doc_id NOT IN (SELECT doc_id FROM near)
      |ORDER BY b.doc_id""".stripMargin

  /** Exact top-10 users by event count, (cnt desc, user) tie-break —
    * shared by q58 (single-pass sketch) and q59 (accumulate → combine →
    * estimate): both are exact while the tracked map never purges. */
  private val heavyHittersOracleSql: String =
    """SELECT user_id, count(*) AS cnt FROM events
      |WHERE user_id IS NOT NULL GROUP BY 1
      |ORDER BY cnt DESC, user_id LIMIT 10""".stripMargin

  /** Shared by q87 (one-pass) and q239 (parity-half merge law) — the
    * distinct user-week state folds losslessly, so both reproduce the
    * same matrix. */
  private val retentionOracleSql: String =
    """WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS tsu
      |            FROM events
      |            WHERE user_id IS NOT NULL AND ts IS NOT NULL),
      |first AS (
      |  SELECT user_id,
      |         CAST(date_trunc('week', min(tsu)) AS DATE) AS cohort_week
      |  FROM ev GROUP BY 1),
      |active AS (
      |  SELECT DISTINCT user_id,
      |         CAST(date_trunc('week', tsu) AS DATE) AS w
      |  FROM ev)
      |SELECT f.cohort_week,
      |       CAST(date_diff('day', f.cohort_week, a.w) // 7 AS BIGINT)
      |         AS week_offset,
      |       CAST(count(DISTINCT a.user_id) AS BIGINT) AS users
      |FROM active a JOIN first f USING (user_id)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Shared by q168 (exact contribution fan-out) and q229 (HLL sketch
    * fan-out) — both must reproduce the exact rolling distinct. */
  private val rollingActiveOracleSql: String =
    """WITH pairs AS (
      |  SELECT DISTINCT user_id AS u,
      |         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d
      |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
      |act AS (SELECT DISTINCT d AS e FROM pairs),
      |fan AS (SELECT u, unnest(range(d, d + 7)) AS e FROM pairs),
      |j AS (SELECT f.u, f.e FROM fan f JOIN act ON act.e = f.e)
      |SELECT strftime(make_timestamp(e * 86400 * 1000000), '%Y-%m-%d')
      |         AS day,
      |       CAST(count(DISTINCT u) AS BIGINT) AS n_active
      |FROM j GROUP BY e ORDER BY day""".stripMargin

  /** Shared by q221/q222 (merging sub-sketches is element-wise
    * addition — lossless, so both readouts are identical): replays
    * [[graft.ext.Sketches]]' pinned Carter-Wegman rows cell-for-cell.
    * All operands are non-negative, so DuckDB's sign-of-dividend `%`
    * equals Spark's `pmod` here. */
  private val cmsOracleSql: String =
    """WITH h(r, a, b) AS (VALUES
      |    (0, 1103515245, 12345),
      |    (1, 1664525, 1013904223),
      |    (2, 22695477, 1),
      |    (3, 1588635695, 1203)),
      |e AS (
      |  SELECT CAST(user_id AS BIGINT) AS k FROM events
      |  WHERE user_id IS NOT NULL),
      |sk AS (
      |  SELECT h.r,
      |         ((h.a * (e.k % 2147483647) + h.b) % 2147483647) % 64
      |           AS bucket,
      |         count(*) AS cnt
      |  FROM e CROSS JOIN h GROUP BY 1, 2),
      |top AS (
      |  SELECT k, count(*) AS exact_n FROM e GROUP BY 1
      |  ORDER BY exact_n DESC, k LIMIT 10),
      |est AS (
      |  SELECT t.k, min(coalesce(s.cnt, 0)) AS est_n
      |  FROM top t CROSS JOIN h
      |  LEFT JOIN sk s ON s.r = h.r
      |    AND s.bucket =
      |      ((h.a * (t.k % 2147483647) + h.b) % 2147483647) % 64
      |  GROUP BY 1)
      |SELECT t.k AS user_id, t.exact_n, est.est_n,
      |       est.est_n - t.exact_n AS over
      |FROM top t JOIN est USING (k) ORDER BY user_id""".stripMargin
}
