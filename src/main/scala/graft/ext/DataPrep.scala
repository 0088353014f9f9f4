package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * End-to-end training-data preparation: the composition a 100 TB corpus
 * actually runs, built entirely from this package's oracled operators —
 *
 *  0. optional PII scrub ([[Scrub.maskEmails]] — per-row, first, so every
 *     downstream stat and the shipped corpus see only masked text);
 *  1. quality filtering ([[TextOps.qualityScore]] floor plus repetition
 *     ceilings on [[TextOps.dupWordFrac]] / [[TextOps.topBigramCount]] —
 *     all per-row codegen'd expressions, a pure filter);
 *  1.5. optional reference-LM perplexity gate ([[LmScore.screen]] — the
 *     CCNet-style against-a-reference quality axis; see the Config
 *     field doc for placement rationale);
 *  2. benchmark decontamination ([[Contamination.contamination]] — drop
 *     docs whose shingle overlap with the eval corpus exceeds the cap;
 *     docs too short to shingle pass, matching the screen's domain);
 *  3. near-duplicate removal ([[Dedup.dedupTransitive]] — exact-collapse
 *     skew guard, banded LSH, exact-Jaccard verify, connected components);
 *  4. optional deterministic per-language quota
 *     ([[Sampling.stratifiedTake]] — reproducible across engines and
 *     reruns);
 *  5. sequence packing ([[Packing.pack]] — shard/bin/offset columns for
 *     fixed-size context windows, input columns passing through).
 *
 * Stage order is drop-reason safety first, cost second: the near-free
 * per-row filters run FIRST so the spam and boilerplate they remove never
 * inflate the later shuffles — and so a quality-failing doc can never be
 * the least-id canonical survivor that silently takes its whole near-dup
 * group down with it. Decontamination precedes dedup for the same
 * reason: were the order reversed, a contaminated survivor would first
 * suppress its clean near-dups as duplicates and then be dropped itself —
 * the whole group would vanish even though a clean member should have
 * shipped. Both orders pay the same linear broadcast screen; this one
 * runs it on the slightly larger pre-dedup corpus in exchange for never
 * losing a clean group. The screened corpus is lineage-cut before
 * fanning out into the decontamination screen and its anti-join (the
 * repo-wide cut-before-fan-out rule); call [[Materialize.release]] after
 * fully consuming the result, as Bench and Verify do per unit of work.
 * The quota stage only exists when a quota is configured — an unbounded
 * "quota" would still pay a per-stratum window whose parallelism is the
 * stratum count.
 */
object DataPrep {

  /** Tuning knobs; defaults are the operators' own defaults. A `None`
    * quota skips the stratum stage entirely (no `rk` column);
    * `maskEmails` turns on the stage-0 PII scrub. */
  final case class Config(
      maskEmails: Boolean = false,
      dedupThreshold: Double = 0.8,
      minQuality: Double = 0.2,
      maxDupWordFrac: Double = 0.9,
      maxTopBigram: Long = 50L,
      contaminationCap: Double = 0.5,
      contaminationNgram: Int = 5,
      perStratumQuota: Option[Int] = None,
      contextLen: Long = 2048L,
      shards: Int = 256,
      // optional reference-LM perplexity gate ([[LmScore.screen]]): docs
      // whose mean NLL under the model exceeds the cap drop — the
      // against-a-reference quality axis the surface-statistic filters
      // don't have. Runs AFTER the per-row screen (it pays a bigram
      // shuffle, so the free filters shrink its input) and BEFORE
      // dedup/decontamination (an LM-failing doc must never be the
      // canonical survivor that suppressed its passing near-dups).
      // Evidence-free (<2-token) docs drop, the screen's conservative
      // contract. Not part of [[screen]]: that stage is promised
      // stateless/stream-safe, and this one joins.
      lmFilter: Option[(LmScore.BigramLm, Double)] = None,
      // optional boilerplate strip ([[Boilerplate.stripBoilerplate]] —
      // (groupCol, minDocs)): runs FIRST, before any scoring, because
      // template lines are exactly the text every downstream stat must
      // not see — a nav banner inflates token counts and repetition
      // ratios, survives dedup (it IS duplicated), and wastes packed
      // context. CCNet's ordering. Corpus-frequency-based (joins), so
      // prepare-only, like the LM gate.
      boilerplate: Option[(String, Long)] = None)

  /**
   * Stages 0+1 as a standalone screen: the optional PII scrub
   * ([[Scrub.maskEmails]] — first, so every downstream stat and the
   * shipped corpus see only masked text; masking after the fact would
   * leak PII through statistics computed on the raw form) and the
   * quality + repetition filters. Every operation is a stateless per-row
   * codegen'd expression — no shuffle, no watermark, no aggregation — so
   * the SAME call works on a batch DataFrame, on a streaming DataFrame,
   * or inside a `foreachBatch`.
   */
  def screen(docs: DataFrame, textCol: String, config: Config = Config()): DataFrame = {
    val text: Column = col(textCol)
    val scrubbed =
      if (config.maskEmails) docs.withColumn(textCol, Scrub.maskEmails(text))
      else docs
    scrubbed
      .filter(TextOps.qualityScore(text) >= config.minQuality)
      .filter(TextOps.dupWordFrac(text) <= config.maxDupWordFrac)
      .filter(TextOps.topBigramCount(text) <= config.maxTopBigram)
  }

  /**
   * Prepare `docs` (idCol, textCol, stratumCol) against an eval `bench`:
   * returns the packed survivor set — original columns plus `shard`,
   * `n_tokens`, `tok_offset`, `bin` (and `rk` when a quota is set).
   */
  def prepare(
      docs: DataFrame, bench: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      stratumCol: String = "lang",
      config: Config = Config()): DataFrame = {
    val text: Column = col(textCol)

    // -1.: optional boilerplate strip — BEFORE every stat (see the
    // Config field doc); the strip's own output shape (id, text_clean)
    // joins back so all passthrough columns (stratum, metadata) survive
    val stripped = config.boilerplate match {
      case Some((grpCol, minDocs)) =>
        docs.join(
            Boilerplate.stripBoilerplate(docs, idCol, textCol, grpCol, minDocs)
              .select(col(idCol), col("text_clean")),
            Seq(idCol))
          .withColumn(textCol, col("text_clean")).drop("text_clean")
      case None => docs
    }

    // 0.+1.: the stream-safe screen (see [[screen]]), then the optional
    // reference-LM gate (1.5 — after the free filters, before anything
    // that could crown a survivor; see the Config field doc), cut before
    // the two-branch decontamination fan-out below
    val preScreened = screen(stripped, textCol, config)
    val lmScreened = config.lmFilter match {
      case Some((lm, maxNll)) =>
        LmScore.screen(preScreened, idCol, textCol, lm, maxNll)
      case None => preScreened
    }
    val screened = Materialize.cut(lmScreened)

    // 2. decontamination BEFORE dedup (see the object doc's ordering
    // argument): drop docs over the overlap cap so a contaminated doc can
    // never become the canonical survivor whose clean near-dups were
    // already suppressed as duplicates when it is removed
    val contaminated = Contamination
      .contamination(screened, bench, idCol, textCol, config.contaminationNgram)
      .filter(col("contamination") > config.contaminationCap)
      .select(col(idCol))
    // cut before the dedup fan-out: dedupTransitive reads its input three
    // times (membership cut, shingle cut, final anti-join), and without
    // this cut each read would re-run the whole corpus-wide contamination
    // aggregate + anti-join above
    val clean = Materialize.cut(screened.join(contaminated, Seq(idCol), "left_anti"))

    // 3. near-dup removal (transitive: one survivor per duplicate chain)
    val deduped = Dedup.dedupTransitive(clean, idCol, textCol,
      threshold = config.dedupThreshold)

    // 4. optional deterministic per-stratum quota, then 5. packing
    val sampled = config.perStratumQuota match {
      case Some(k) => Sampling.stratifiedTake(deduped, stratumCol, text, idCol, k)
      case None    => deduped
    }
    Packing.pack(sampled, idCol, size(TextOps.tokens(text)),
      config.contextLen, config.shards)
  }

  /**
   * Build one training EPOCH from a prepared corpus — the composition a
   * training job runs per epoch over an already-[[prepare]]d dataset:
   *
   *  1. mixture sampling ([[Sampling.mixtureSample]] — per-stratum rates,
   *     the source-weighting recipe; deterministic, monotone in the rate);
   *  2. epoch ordering ([[Sampling.shuffleKey]] — a salted content-hash
   *     permutation; a new salt is a new independent epoch order);
   *  3. packing ([[Packing.packOrdered]] — per-shard concat-and-chunk in
   *     the epoch order, shard layout stable across epochs).
   *
   * Everything is content-derived: two epochs with the same (rates,
   * salt) are byte-identical, and changing only the salt re-permutes
   * without resampling. Returns the sampled rows plus `epoch_key, shard,
   * n_tokens, tok_offset, bin`.
   */
  def buildEpoch(
      docs: DataFrame, idCol: String, textCol: String, stratumCol: String,
      rates: Map[String, Double], defaultRate: Double, salt: String,
      contextLen: Long, shards: Int): DataFrame = {
    val text: Column = col(textCol)
    val sampled = Sampling
      .mixtureSample(docs, stratumCol, text, rates, defaultRate)
      .withColumn("epoch_key", Sampling.shuffleKey(text, salt))
    Packing.packOrdered(sampled, idCol, col("epoch_key").asc,
      size(TextOps.tokens(text)), contextLen, shards)
  }

  /**
   * Filter-funnel census — the diagnostic every rule-based cleaning
   * pipeline (C4, Gopher, FineWeb) publishes next to its rules: given an
   * ORDERED rule list, how many documents does each rule remove that
   * earlier rules had not already removed, and how many survive after
   * each stage? Attribution is first-fail: a document failing rules 2
   * and 4 counts against rule 2 only — the number an operator watches to
   * see which rule is doing the work and which is dead weight (marginal
   * removals, not the misleading independent per-rule counts, whose sum
   * double-books overlapping failures).
   *
   * A NULL rule value counts as a failure (a rule that cannot evaluate
   * did not pass — the conservative screen contract, same as
   * [[graft.ext.LmScore.screen]]'s evidence-free drop).
   *
   * Output: one row per rule in order — `(rule_idx, rule,
   * n_failed_here, n_remaining)` with `n_remaining` the survivor count
   * after rules `1..rule_idx` have all applied; the last row's
   * `n_remaining` is the shipped-corpus size.
   *
   * Shape at scale: ONE pass over the corpus (every rule is a per-row
   * expression evaluated in the same projection) into ONE rule-count-
   * sized aggregation; the cumulative window runs over the rules-sized
   * census frame, never the corpus. Adding a rule adds zero passes.
   */
  def filterFunnel(
      docs: DataFrame,
      rules: Seq[(String, Column)]): DataFrame = {
    require(rules.nonEmpty, "filterFunnel needs at least one rule")
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    import spark.implicits._
    // first failing rule (1-based), 0 = passes all — a single CASE chain
    // so the census is one projection + one tiny aggregation
    val firstFail = rules.zipWithIndex
      .foldLeft(when(lit(false), lit(0))) { case (acc, ((_, rule), i)) =>
        acc.when(!coalesce(rule, lit(false)), lit(i + 1))
      }
      .otherwise(lit(0))
    val census = docs
      .select(firstFail.as("first_fail"))
      .groupBy(col("first_fail"))
      .agg(count(lit(1)).as("n"))
    val total = census.agg(sum(col("n")).as("__total"))
    val rulesDf = rules.zipWithIndex
      .map { case ((name, _), i) => ((i + 1).toLong, name) }
      .toDF("rule_idx", "rule")
    rulesDf
      .join(broadcast(census), col("rule_idx") === col("first_fail"), "left")
      .crossJoin(broadcast(total))
      .select(col("rule_idx"), col("rule"),
        coalesce(col("n"), lit(0L)).as("n_failed_here"), col("__total"))
      .withColumn("n_remaining",
        col("__total") - sum(col("n_failed_here")).over(
          Window.orderBy(col("rule_idx").asc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("rule_idx"), col("rule"), col("n_failed_here"),
        col("n_remaining"))
  }

  /**
   * Fold [[filterFunnel]] censuses from DISJOINT shards of one corpus
   * (same rule list, same order): first-fail attribution is per-row, so
   * marginal removals are additive under union, and `n_remaining` —
   * total minus the cumulative marginals — is additive too. The merge
   * law `mergeFunnels(funnel(a) ∪ funnel(b)) ≡ funnel(a ∪ b)` makes the
   * funnel a STANDING report over a sharded corpus: per-shard censuses
   * (rules-sized rows each) append, the fleet-wide funnel folds at read,
   * history is never re-screened (the [[Privacy.mergeClasses]] shape).
   */
  def mergeFunnels(partials: DataFrame): DataFrame =
    partials
      .groupBy(col("rule_idx"), col("rule"))
      .agg(sum(col("n_failed_here")).as("n_failed_here"),
        sum(col("n_remaining")).as("n_remaining"))
}
