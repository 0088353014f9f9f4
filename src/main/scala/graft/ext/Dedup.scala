package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.functions._

import graft.functions.{MinHashSignature, WhitespaceTokens, WordShingles}

/**
 * Result of [[Dedup.componentsResult]]: the label table `(id, component)`,
 * the number of propagation rounds executed, and the residual — how many
 * labels still changed in the final round. `residual == 0` proves the
 * fixpoint was reached; a positive residual means the iteration cap was hit
 * first and some deep-chain members still carry a non-minimal label (a
 * CONSERVATIVE state: components may be split, never wrongly merged).
 */
final case class ComponentsResult(labels: DataFrame, rounds: Int, residual: Long) {
  def converged: Boolean = residual == 0L
}

/**
 * Result of [[Dedup.dedupIncrementalIndexed]]: the batch rows that
 * survived the screen, and the index rows (`ghash, sh, sig` — the
 * [[Dedup.buildDedupIndex]] schema) to APPEND to the persisted corpus
 * index so tomorrow's screen sees today's accepted texts without
 * re-deriving anything. `indexAppend` is one row per distinct accepted
 * text and its ghashes are disjoint from the fed index by construction
 * (they survived the exact stage), so a plain parquet append keeps the
 * index exactly equal to a from-scratch build over corpus ∪ accepted.
 */
final case class IncrementalDedupResult(accepted: DataFrame, indexAppend: DataFrame)

/**
 * Near-duplicate detection at training-data scale: MinHash signatures over
 * word-shingle sets, LSH banding to co-locate candidates, exact Jaccard
 * verification of candidates only. Built entirely from codegen'd built-in
 * expressions (`transform`/`sequence`/`xxhash64`/`array_*`) — no UDFs.
 *
 * Scale design (100 TB): the only shuffles are (1) the band-bucket
 * repartition of `(doc, band, bucket)` rows — linear in corpus size × number
 * of bands — and (2) the id-keyed joins that fetch shingle sets for the
 * candidate pairs, linear in candidates. There is NO all-pairs comparison
 * anywhere: docs meet only if some band of their MinHash signatures
 * collides, which for b bands of r rows happens with probability
 * 1-(1-s^r)^b for Jaccard s — the standard LSH S-curve.
 *
 * Skew guard (enforced in [[nearDuplicatePairs]]): a cluster of m
 * byte-identical docs shares every MinHash band, so naively it puts m rows
 * in one LSH bucket and the self-join emits m(m-1)/2 candidate pairs for
 * content that is already known identical — the classic web-crawl skew
 * (boilerplate pages repeated millions of times make one bucket quadratic).
 * The pipeline therefore collapses exact duplicates by content hash FIRST,
 * runs LSH over one representative per distinct text, and restores member
 * pairs arithmetically on output: candidate generation is O(1) per
 * identical group regardless of m; only the final, output-inherent pair
 * expansion is quadratic in m.
 *
 * Materialization points use [[Materialize.cut]] (lineage cut + explicit
 * release lifecycle; parquet-spill mode for executor-loss safety on real
 * clusters — see that object's doc).
 *
 * The reference has no near-dup operator (its dedup surface is exact,
 * `/root/reference/sree-etl-tdk-glue-job.py:51-52` distinct) — this is the
 * north-star LLM-pipeline extension (SURVEY.md §2.11).
 */
object Dedup {

  /** Distinct word n-gram shingles of lowercased whitespace-split text.
    *
    * Built by zipping the token array with its n-1 shifted copies and
    * concatenating each tuple — NOT by indexing into the token array from
    * inside a `transform` lambda: any expression referenced inside a
    * higher-order-function lambda is re-evaluated per element, so the
    * indexed formulation re-ran the regex `split` once per shingle
    * (~300× per row, measured 7.5s vs <1s at sf0.1). Here the token
    * expression is evaluated n times per ROW (once per zip argument).
    * Tail tuples padded with null by `arrays_zip` are filtered out, so a
    * text with fewer than n tokens yields an empty set.
    *
    * Boundary-empty tokens are dropped (as [[TextOps.tokens]] drops them):
    * `split` on `\s+` keeps the empty string a leading/trailing whitespace
    * run produces, and without the filter two docs differing ONLY in
    * surrounding whitespace would grow phantom shingles, depress their
    * Jaccard below 1, and evade dedup (and mismatch benchmark text in the
    * contamination screen, which shares this shingler). */
  def shingles(text: Column, n: Int = 3): Column =
    // token array via the native graft_tokens scan (no regex split);
    // graft_shingles' own empty/null-token filter makes the pre-filtered
    // array value-identical to feeding it the raw split (spec-pinned)
    column(WordShingles(WhitespaceTokens(expression(text)), n))

  /** HOF formulation of [[shingles]] — kept as the engine-agnostic
    * semantics reference the spec checks the native expression against
    * (the [[minhashSignatureHof]] twin discipline). The interpreted
    * filter→zip→transform→filter→distinct chain was the per-row hot
    * path of the whole near-dup family until r17 swapped in the
    * codegen'd `graft_shingles` (full-array-equality spec-pinned). */
  private[graft] def shinglesHof(text: Column, n: Int = 3): Column = {
    val toks = filter(split(lower(text), "\\s+"), t => length(t) > 0)
    val shifted = (0 until n).map { k =>
      if (k == 0) toks
      else slice(toks, lit(k + 1), greatest(size(toks) - k, lit(0)))
    }
    val z = arrays_zip(shifted: _*)
    array_distinct(filter(
      transform(z, x =>
        when((0 until n).map(k => x.getField(k.toString).isNotNull).reduce(_ && _),
          concat_ws(" ", (0 until n).map(k => x.getField(k.toString)): _*))),
      s => s.isNotNull))
  }

  /**
   * MinHash signature: element i = min over shingles of `xxhash64(shingle, i)`.
   * `numHashes` independent hash functions via the seed column — one array
   * expression, no shuffle. Backed by the codegen'd `graft_minhash`
   * expression ([[graft.functions.MinHashSignature]]): each shingle string
   * is hashed once and the `numHashes` lanes derived by cheap int folds —
   * O(|shingles| × (|s| + k)) instead of the interpreted HOF twin's
   * O(|shingles| × k × |s|) (spec-asserted bit-equal).
   */
  def minhashSignature(shingleCol: Column, numHashes: Int): Column =
    column(MinHashSignature(expression(shingleCol), numHashes))

  /** HOF formulation of [[minhashSignature]] — kept as the engine-agnostic
    * semantics reference the spec checks the native expression against. */
  private[graft] def minhashSignatureHof(shingleCol: Column, numHashes: Int): Column =
    transform(sequence(lit(0), lit(numHashes - 1)), i =>
      array_min(transform(shingleCol, s => xxhash64(s, i))))

  /**
   * LSH banding: one `(id, band, bucket)` row per band, where `bucket`
   * hashes the band's slice of the signature. Docs sharing any
   * (band, bucket) become candidates.
   */
  def bandBuckets(
      df: DataFrame, idCol: String, sigCol: String,
      bands: Int, rowsPerBand: Int): DataFrame =
    df.select(
        col(idCol),
        explode(transform(sequence(lit(0), lit(bands - 1)), b =>
          struct(
            b.as("band"),
            xxhash64(b, slice(col(sigCol), b * rowsPerBand + 1, lit(rowsPerBand)))
              .as("bucket")))).as("bb"))
      .select(col(idCol), col("bb.band").as("band"), col("bb.bucket").as("bucket"))

  /**
   * Candidate pairs (a_id < b_id) from a bucket-equi self-join — the
   * co-located alternative to an all-pairs cross join. `distinct` collapses
   * pairs that collide in several bands. NOTE: no exact-dup collapse here —
   * this is the raw LSH stage; [[nearDuplicatePairs]] wraps it with the
   * skew guard.
   */
  def candidatePairs(
      df: DataFrame, idCol: String, shingleCol: String,
      bands: Int = 16, rowsPerBand: Int = 2): DataFrame = {
    // Materialize the signatures and CUT the lineage BEFORE the band
    // explode: projection collapse otherwise inlines the full
    // |shingles|×|hashes| signature expression into the per-band transform
    // and the self-join recomputes it once per band per side (measured
    // 200s+ instead of ~1s at sf0.1). The signature table is one array of
    // `bands×rowsPerBand` longs per doc — tiny relative to the corpus, the
    // textbook recompute-vs-store win.
    val sig = Materialize.cut(
      df.filter(size(col(shingleCol)) > 0)
        .select(col(idCol),
          minhashSignature(col(shingleCol), bands * rowsPerBand).as("sig")))
    pairsFromSig(sig, idCol, bands, rowsPerBand)
  }

  /** Bucket-join candidate pairs from an already-materialized signature
    * table (the explode and self-join only touch attributes, so no further
    * checkpointing is needed). */
  private def pairsFromSig(
      sig: DataFrame, idCol: String, bands: Int, rowsPerBand: Int): DataFrame = {
    val bb = Materialize.cut(bandBuckets(sig, idCol, "sig", bands, rowsPerBand))
    val a  = bb.select(col(idCol).as("a_id"), col("band"), col("bucket"))
    val b  = bb.select(col(idCol).as("b_id"), col("band"), col("bucket"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
      .distinct()
  }

  /** Exact Jaccard of two shingle-set columns: |a ∩ b| / |a ∪ b| as an
    * integer-derived double (bit-reproducible). Guard `size(array_union)`
    * > 0 before comparing — THE near-dup verify predicate, shared by the
    * batch pipeline below and the streaming rep-store verify
    * ([[graft.streaming.StreamingDedup]]) so the two can never drift. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  /** Exact-duplicate groups by content hash: `(ghash, id)` membership rows.
    * md5 (128-bit) keys the groups — collision probability is negligible at
    * any corpus size that fits an exabyte. */
  private[ext] def memberships(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(md5(col(textCol).cast("binary")).as("ghash"), col(idCol).as("id"))

  /** One representative (least id) per distinct text: `(ghash, id, text)`.
    * `first(text)` is deterministic here — every text in a group is
    * byte-identical by construction. */
  private[ext] def representatives(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(md5(col(textCol).cast("binary")).as("ghash"),
        col(idCol).as("id"), col(textCol).as("text"))
      .groupBy(col("ghash"))
      .agg(min(col("id")).as("id"), first(col("text")).as("text"))

  /**
   * Near-duplicate pairs with EXACT Jaccard ≥ `threshold`, found via LSH
   * candidates and verified precisely: output is deterministic (LSH affects
   * only recall, and the band parameters put recall at ~1 for any
   * `threshold` ≥ 0.5: miss probability (1-s^2)^16 < 1e-3 at s=0.6,
   * < 1e-9 at s=0.85).
   *
   * Exact duplicates are collapsed before LSH (see the skew-guard note in
   * the object doc) and their pairs restored on output: a within-group pair
   * of identical docs has n_common = n_union = |shingles| and jaccard
   * exactly 1.0; a cross-group pair inherits its representatives' exact
   * stats (identical texts have identical shingle sets). Costs one extra
   * linear scan (the membership projection) versus the uncollapsed
   * pipeline.
   *
   * Columns: a_id, b_id, n_common, n_union, jaccard.
   */
  def nearDuplicatePairs(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double, n: Int = 3,
      bands: Int = 16, rowsPerBand: Int = 2): DataFrame = {
    val members = Materialize.cut(memberships(df, idCol, textCol))
    val reps = representatives(df, idCol, textCol)

    // TWO materialization stages, deliberately — and not only because the
    // historical HOF signature would inline the shingle expression 32×
    // when fused: a localCheckpoint cannot COLUMN-PRUNE, so a single
    // combined (ghash, id, sh, sig) table makes every signature consumer
    // (the band explode) deserialize the heavy shingle arrays and every
    // verify-join consumer deserialize the 32-long signatures (merged
    // variant measured ~0.4 s slower on q20/q37 at sf0.1). The shingle
    // table feeds both sides of the verify join and the group-stat
    // lookups below; the signature table feeds only the LSH stage.
    val sh = Materialize.cut(
      reps.select(col("ghash"), col("id"), shingles(col("text"), n).as("sh"))
        .filter(size(col("sh")) > 0))
    val sig = Materialize.cut(
      sh.select(col("id"),
        minhashSignature(col("sh"), bands * rowsPerBand).as("sig")))

    // representative-level LSH candidates, exact-Jaccard verified
    val repPairs = pairsFromSig(sig, "id", bands, rowsPerBand)
      .join(sh.select(col("id").as("a_id"), col("sh").as("a_sh"),
        col("ghash").as("a_gh")), "a_id")
      .join(sh.select(col("id").as("b_id"), col("sh").as("b_sh"),
        col("ghash").as("b_gh")), "b_id")
      .select(
        col("a_gh"), col("b_gh"),
        size(array_intersect(col("a_sh"), col("b_sh"))).cast("long").as("n_common"),
        size(array_union(col("a_sh"), col("b_sh"))).cast("long").as("n_union"))
      .filter(col("n_union") > 0)
      .withColumn("jaccard",
        col("n_common").cast("double") / col("n_union").cast("double"))
      .filter(col("jaccard") >= threshold)

    // cross-group expansion: every member pair across two near-dup groups
    // shares the representatives' exact stats
    val cross = repPairs
      .join(members.select(col("ghash").as("a_gh"), col("id").as("ma")), "a_gh")
      .join(members.select(col("ghash").as("b_gh"), col("id").as("mb")), "b_gh")
      .select(
        least(col("ma"), col("mb")).as("a_id"),
        greatest(col("ma"), col("mb")).as("b_id"),
        col("n_common"), col("n_union"), col("jaccard"))

    // within-group pairs: identical docs, jaccard exactly 1. Groups whose
    // representative has an empty shingle set are absent from `sh`, so the
    // inner join drops them — matching the uncollapsed pipeline, where
    // empty-shingle docs never reached the verify stage.
    val within = members.select(col("ghash"), col("id").as("a_id"))
      .join(members.select(col("ghash"), col("id").as("b_id")), "ghash")
      .filter(col("a_id") < col("b_id"))
      .join(sh.select(col("ghash"), size(col("sh")).cast("long").as("nsh")), "ghash")
      .select(col("a_id"), col("b_id"),
        col("nsh").as("n_common"), col("nsh").as("n_union"),
        lit(1.0).as("jaccard"))

    cross.unionAll(within)
  }

  /**
   * Asymmetric CONTAINMENT pairs (Broder's containment,
   * C(A→B) = |A∩B|/|A|) — the quote/subset detector Jaccard-thresholded
   * near-dup misses by construction: a paragraph quoted inside a long
   * document has tiny Jaccard (union is the long doc) but containment
   * ≈ 1 on the paragraph side, so MinHash-LSH candidates (recall tuned
   * to JACCARD) cannot find it. The shingle UNIVERSE is restricted to
   * DISCRIMINATIVE shingles (document frequency ≤ `maxDf`) for both
   * the overlap count AND the set sizes — the hot-shingle guard every
   * posting-list self-join needs at scale, applied consistently, so a
   * boilerplate shingle shared by thousands of docs neither fans out
   * the join nor dilutes the score (quote detection over distinctive
   * content is exactly what the measure is for). Within that universe
   * the result is EXACT: |A∩B| is the pair's posting co-occurrence
   * count, never an estimate.
   *
   * Scale shape: ONE posting self-join on the fixed-width shingle key
   * with per-shingle fan-out ≤ maxDf², collapsed by a pair-keyed count
   * — no candidate materialization, no set-array shuffle, never
   * all-pairs.
   *
   * Returns `(a_id, b_id, n_common, n_a, n_b, c_a_in_b, c_b_in_a)`
   * with `a_id < b_id`, containments rounded 6-dp BEFORE the threshold
   * (boundary pairs can't flip on a last-ulp divergence), kept when
   * the larger direction reaches `threshold`.
   */
  def containmentPairs(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double, n: Int = 3, maxDf: Int = 64): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0,1], got $threshold")
    require(maxDf >= 1, s"maxDf must be >= 1, got $maxDf")
    val posts = Materialize.cut(df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        explode(shingles(col(textCol), n)).as("_s")))
    val rare = posts.groupBy(col("_s")).agg(count(lit(1)).as("_df"))
      .filter(col("_df") <= maxDf).select(col("_s"))
    val rp = Materialize.cut(posts.join(rare, Seq("_s")))
    val sizes = rp.groupBy(col("id")).agg(count(lit(1)).as("_n"))
    rp.select(col("_s"), col("id").as("a_id"))
      .join(rp.select(col("_s"), col("id").as("b_id")), Seq("_s"))
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_common"))
      .join(sizes.select(col("id").as("a_id"), col("_n").as("n_a")), "a_id")
      .join(sizes.select(col("id").as("b_id"), col("_n").as("n_b")), "b_id")
      .withColumn("c_a_in_b",
        round(col("n_common").cast("double") / col("n_a"), 6))
      .withColumn("c_b_in_a",
        round(col("n_common").cast("double") / col("n_b"), 6))
      .filter(greatest(col("c_a_in_b"), col("c_b_in_a")) >= threshold)
      .select(col("a_id"), col("b_id"), col("n_common"),
        col("n_a"), col("n_b"), col("c_a_in_b"), col("c_b_in_a"))
  }

  /** The `(id, _s)` posting rows [[containmentPairs]] joins on — one row
    * per (document, distinct shingle). Per-doc-local, so
    * `index ∪ buildContainmentIndex(newBatch)` ≡ a from-scratch rebuild
    * (spec-pinned) and maintenance is parquet append: the q75/q111
    * amortization applied to the containment screen. */
  def buildContainmentIndex(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        explode(shingles(col(textCol), n)).as("_s"))

  /**
   * [[containmentPairs]] as an incremental SCREEN: pairs involving at
   * least one `batch` document against `index ∪ batch` — historical
   * pairs are never recomputed, yet document frequencies (the capped
   * universe) are corpus-wide, so with `batch` = the index's own
   * documents this reproduces the self-contained pairs exactly (the
   * q111 shared-core guarantee, spec-pinned). Same output shape and
   * 6-dp-then-threshold rule as [[containmentPairs]].
   */
  def containmentScreenIndexed(
      batch: DataFrame, index: DataFrame, idCol: String, textCol: String,
      threshold: Double, n: Int = 3, maxDf: Int = 64): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0,1], got $threshold")
    require(maxDf >= 1, s"maxDf must be >= 1, got $maxDf")
    val bp = buildContainmentIndex(batch, idCol, textCol, n)
    // distinct union: re-screening docs already in the index must not
    // double their postings (df would inflate and scores would drop)
    val all = Materialize.cut(
      index.select(col("id"), col("_s")).unionByName(bp).distinct())
    val rare = all.groupBy(col("_s")).agg(count(lit(1)).as("_df"))
      .filter(col("_df") <= maxDf).select(col("_s"))
    val ra = Materialize.cut(all.join(rare, Seq("_s")))
    val rb = bp.distinct().join(rare, Seq("_s"))
    val sizes = ra.groupBy(col("id")).agg(count(lit(1)).as("_n"))
    // batch-side postings × corpus postings; normalize the unordered
    // pair THEN dedup per shingle — a batch-batch pair appears from
    // both directions and must count each shared shingle once
    rb.select(col("_s"), col("id").as("_pid"))
      .join(ra.select(col("_s"), col("id").as("_cid")), Seq("_s"))
      .filter(col("_pid") =!= col("_cid"))
      .select(col("_s"),
        least(col("_pid"), col("_cid")).as("a_id"),
        greatest(col("_pid"), col("_cid")).as("b_id"))
      .distinct()
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_common"))
      .join(sizes.select(col("id").as("a_id"), col("_n").as("n_a")), "a_id")
      .join(sizes.select(col("id").as("b_id"), col("_n").as("n_b")), "b_id")
      .withColumn("c_a_in_b",
        round(col("n_common").cast("double") / col("n_a"), 6))
      .withColumn("c_b_in_a",
        round(col("n_common").cast("double") / col("n_b"), 6))
      .filter(greatest(col("c_a_in_b"), col("c_b_in_a")) >= threshold)
      .select(col("a_id"), col("b_id"), col("n_common"),
        col("n_a"), col("n_b"), col("c_a_in_b"), col("c_b_in_a"))
  }

  /**
   * Near-dup dedup: drop every doc that has a verified near-duplicate with
   * a smaller id (canonical survivor = least id of each duplicate group).
   * One-hop semantics, not transitive closure — a chain A~B~C with A≁C
   * whose middle doc carries the largest id keeps both endpoints; at a
   * ≥0.8 threshold chains are rare and this avoids an iterative pass. For
   * low-threshold dedup use [[dedupTransitive]], which collapses each
   * connected component to its least id.
   */
  def dedup(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, n: Int = 3,
      bands: Int = 16, rowsPerBand: Int = 2): DataFrame = {
    val dupIds = nearDuplicatePairs(df, idCol, textCol, threshold, n, bands, rowsPerBand)
      .select(col("b_id").as(idCol)).distinct()
    df.join(dupIds, Seq(idCol), "left_anti")
  }

  /**
   * Connected components of the undirected pair graph `(a_id, b_id)` by
   * iterative min-label propagation: every node starts labeled with its own
   * id; each round replaces a node's label with the minimum over itself and
   * its neighbors' labels; at the fixpoint each node carries the least id
   * of its component. Returns `(id, component)` for every id that appears
   * in at least one pair.
   *
   * Scale: one round = one equi-join of the edge list against the label
   * table plus one min-aggregation — both linear in |edges|, both ordinary
   * shuffles on the id key; there is no driver-side graph state. The label
   * table is cut each round ([[Materialize.cut]]): iterative plans
   * otherwise nest one join DEEPER per round and re-execute the whole
   * history each action. Rounds needed = eccentricity of each component's
   * minimum node (long chains propagate one hop per round); `maxIters`
   * bounds the cost, and an unconverged stop is CONSERVATIVE — some chain
   * members keep a higher label, splitting a long component, never merging
   * two components wrongly. Duplicate chains in real corpora are shallow;
   * the loop exits as soon as a round changes nothing.
   *
   * Non-convergence is never silent: [[components]] THROWS if the cap is
   * hit with labels still moving; [[componentsResult]] returns the residual
   * so a caller can decide (accept the conservative split, or resume with a
   * higher cap). The last run's round count is exported via
   * [[lastComponentsRounds]] for bench telemetry.
   */
  def components(pairs: DataFrame, maxIters: Int = 50): DataFrame = {
    val r = componentsResult(pairs, maxIters)
    if (!r.converged)
      throw new IllegalStateException(
        s"Dedup.components did not converge within $maxIters rounds: " +
          s"${r.residual} labels still changed in the final round. " +
          "The graph has a chain deeper than maxIters hops from its " +
          "component minimum; raise maxIters, or call componentsResult to " +
          "accept the conservative (split, never wrongly merged) labels.")
    r.labels
  }

  /** Round count of the most recent [[componentsResult]] run in this JVM —
    * bench telemetry only (a data-shape change that doubles propagation
    * rounds should be visible across bench rounds). */
  val lastComponentsRounds = new java.util.concurrent.atomic.AtomicInteger(0)

  /** [[components]] without the convergence throw: runs up to `maxIters`
    * min-label rounds and reports how far it got (see [[ComponentsResult]]).
    * The labels are exact iff `residual == 0`. */
  def componentsResult(pairs: DataFrame, maxIters: Int = 50): ComponentsResult = {
    val p = Materialize.cut(pairs.select(col("a_id"), col("b_id")))
    val edges = p.select(col("a_id").as("src"), col("b_id").as("dst"))
      .unionAll(p.select(col("b_id").as("src"), col("a_id").as("dst")))
    var labels = Materialize.cut(
      edges.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("component")))
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIters) {
      val stepped = Materialize.cut(componentsStepDoubled(edges, labels))
      changed = stepped.filter(col("chg")).count()
      labels = stepped.select("id", "component")
      it += 1
    }
    if (changed > 0) {
      // the cap was hit with the LAST round still moving labels — which is
      // also what an exact fixpoint reached in round maxIters looks like.
      // Disambiguate with one probe round (join + count, not charged to
      // the cap): zero further changes proves the labels are complete; a
      // positive count is the true residual. Without this, a chain exactly
      // maxIters hops deep would throw despite having converged.
      changed = componentsStep(edges, labels).filter(col("chg")).count()
    }
    lastComponentsRounds.set(it)
    ComponentsResult(labels, it, changed)
  }

  /** One min-label propagation round: neighbor-min lookup (equi-join on the
    * id key + map-side-combined min aggregation) joined back onto the label
    * table. Exposed for plan auditing — this is the plan that executes once
    * per round, so its shape (ordinary shuffled equi-joins, never a
    * nested-loop or cartesian) is what makes [[components]] scale. */
  private[graft] def componentsStep(edges: DataFrame, labels: DataFrame): DataFrame = {
    val nbrMin = edges
      .join(labels.select(col("id").as("dst"), col("component").as("nc")), "dst")
      .groupBy(col("src").as("id"))
      .agg(min(col("nc")).as("nmin"))
    labels.join(nbrMin, Seq("id"), "left")
      .select(col("id"),
        least(col("component"), coalesce(col("nmin"), col("component")))
          .as("component"),
        (coalesce(col("nmin"), col("component")) < col("component"))
          .as("chg"))
  }

  /** One propagation round WITH a pointer-doubling shortcut
    * (label ← min(label, prevLabels[label]) after the neighbor-min hop):
    * a chain d hops deep converges in ~log d + O(1) rounds instead of d
    * — at 100 TB each saved round is a full |edges| shuffle (guide §2.4),
    * bought with one LABELS-sized (node-keyed, far narrower) join per
    * round. Exactness is invariant-preserved: a label is always the id
    * of a node in the SAME component and only ever decreases, so the
    * combined fixpoint (no neighbor-min change, no shortcut change)
    * forces labels constant along every edge and idempotent — i.e. the
    * component minimum, exactly the plain step's fixpoint (DedupSpec
    * pins equality on deep-chain fuzz graphs); an early `maxIters` stop
    * stays conservative (split, never wrongly merged) for the same
    * invariant reason. `labels` must be materialized by the caller
    * (it is read three times here), which [[componentsResult]]'s
    * per-round cut already guarantees. */
  private[graft] def componentsStepDoubled(
      edges: DataFrame, labels: DataFrame): DataFrame = {
    val stepped = componentsStep(edges, labels)
    stepped.join(
        labels.select(col("id").as("_sid"), col("component").as("_scomp")),
        stepped("component") === col("_sid"), "left")
      .select(stepped("id"),
        least(stepped("component"),
          coalesce(col("_scomp"), stepped("component"))).as("component"),
        (stepped("chg") ||
          (coalesce(col("_scomp"), stepped("component"))
            < stepped("component"))).as("chg"))
  }

  /**
   * Transitive near-dup dedup: [[dedup]]'s one-hop drop rule replaced by
   * connected components, so a chain A~B~C with A≁C keeps exactly one
   * survivor (the least id of the component) instead of both endpoints.
   * The right tool below ~0.8 thresholds, where chains are common; costs
   * [[components]]' bounded label-propagation rounds on top of the pair
   * pipeline. Throws (via [[components]]) rather than silently
   * under-dedup if the pair graph has a chain deeper than `maxIters`.
   */
  def dedupTransitive(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, n: Int = 3,
      bands: Int = 16, rowsPerBand: Int = 2, maxIters: Int = 50): DataFrame = {
    val pairs = nearDuplicatePairs(df, idCol, textCol, threshold, n, bands, rowsPerBand)
    val losers = components(pairs, maxIters)
      .filter(col("component") < col("id"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /**
   * Cluster label for EVERY row — the labels-for-all face of
   * [[dedupTransitive]] (which returns survivors only): each row maps
   * to its transitive near-dup component's minimum id. Byte-identical
   * copies first inherit their text group's representative (the same
   * ghash collapse [[nearDuplicatePairs]] dedups through, so an exact
   * duplicate NEVER gets its own cluster), then representatives inherit
   * their component label; rows outside every pair are singletons
   * labeled by their own id (NULL-text rows included — an unhashable
   * row clusters with nothing).
   *
   * This is the key the leakage-safe operations hang off: split or
   * quota by `cluster` instead of the row and near-duplicates can never
   * straddle a train/test boundary. Returns `(idCol, cluster)`.
   *
   * Scale: the pair pipeline and label propagation are
   * [[dedupTransitive]]'s (banded LSH candidates, never all-pairs); the
   * extra cost is one ghash aggregate + two well-spread equi-joins.
   */
  def clusterLabels(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, n: Int = 3,
      bands: Int = 16, rowsPerBand: Int = 2, maxIters: Int = 50): DataFrame = {
    val pairs = nearDuplicatePairs(df, idCol, textCol, threshold, n, bands, rowsPerBand)
    val labels = components(pairs, maxIters)
    val ghashRep = df
      .select(md5(col(textCol).cast("binary")).as("_gh"), col(idCol))
      .filter(col("_gh").isNotNull)
      .groupBy("_gh").agg(min(col(idCol)).as("_rep0"))
    df.select(col(idCol), md5(col(textCol).cast("binary")).as("_gh"))
      .join(ghashRep, Seq("_gh"), "left")
      .join(labels.select(col("id").as("_rep0"), col("component")),
        Seq("_rep0"), "left")
      .select(col(idCol),
        coalesce(col("component"), col("_rep0"), col(idCol)).as("cluster"))
  }

  /**
   * INCREMENTAL dedup: keep exactly the `batch` rows whose text is NEW
   * relative to `corpus` — no byte-identical copy already accepted
   * (content-hash anti-join) and no verified near-duplicate at
   * `threshold` (rep-level LSH candidates BETWEEN the two sides,
   * exact-Jaccard verified; same shingle/band parameters and the same
   * [[jaccard]] predicate as the batch pipeline, so the two modes can
   * never drift). This is the continuous-corpus-growth operator: a daily
   * crawl is screened against everything accepted so far without
   * re-deduping history.
   *
   * Semantics are one-sided on purpose: the corpus is settled (nothing
   * there is ever dropped), and batch-INTERNAL duplicates are out of
   * scope — run [[dedup]]/[[dedupTransitive]] on the batch first; the
   * composition is associative because this filter depends only on
   * (batch text, corpus texts).
   *
   * Scale: every stage is linear in the side it touches. Both sides
   * collapse to one representative per DISTINCT text before shingling
   * (the skew guard — a billion-copy boilerplate group costs one row on
   * each side); the exact stage is an equi anti-join on 128-bit content
   * hashes; the near stage joins band buckets batch×corpus only (never
   * within a side, so a pathological all-similar batch cannot
   * self-explode) and verifies candidates with exact set Jaccard.
   * Deriving the corpus tables here keeps the operator self-contained
   * but costs a full corpus re-shingle per call — a persistent daily
   * pipeline should use [[dedupIncrementalIndexed]] with a
   * [[buildDedupIndex]] table persisted once and appended per accepted
   * batch, which amortizes the corpus side to one columnar scan.
   *
   * Batch and corpus ids must be globally unique across both sides (the
   * usual contract for a corpus with monotone ingest ids).
   */
  def dedupIncremental(
      batch: DataFrame, corpus: DataFrame, idCol: String, textCol: String,
      threshold: Double, n: Int = 3,
      bands: Int = 16, rowsPerBand: Int = 2): DataFrame = {
    // corpus-side tables derived in place, lineage-cut exactly as before
    // the indexed overload existed: shingle and signature tables cut
    // SEPARATELY for the same column-pruning reason as nearDuplicatePairs
    // (a fused localCheckpoint cannot prune, so a merged table would drag
    // the heavy shingle arrays through the band explode).
    val corpusHashes = corpus
      .select(md5(col(textCol).cast("binary")).as("ghash")).distinct()
    val cSh = Materialize.cut(
      representatives(corpus, idCol, textCol)
        .select(col("ghash"), shingles(col("text"), n).as("sh"))
        .filter(size(col("sh")) > 0))
    val cSig = Materialize.cut(
      cSh.select(col("ghash"),
        minhashSignature(col("sh"), bands * rowsPerBand).as("sig")))
    screen(batch, idCol, textCol, threshold, n, bands, rowsPerBand,
      corpusHashes, cSh, cSig).accepted
  }

  /**
   * PERSISTED-INDEX incremental dedup: [[dedupIncremental]] with the
   * corpus side supplied as a precomputed [[buildDedupIndex]] table
   * instead of raw corpus text, plus the index rows for the accepted
   * batch. This is the amortized form of the daily screen: the
   * self-contained overload re-shingles and re-signs the ENTIRE settled
   * corpus on every call — at 100 TB that is a full-corpus scan per
   * daily batch for tables that never change. With the index persisted
   * (parquet — columnar, so the band explode reads only `sig` and the
   * verify join only `sh`), each day costs one index scan plus work
   * linear in the batch, and the maintenance loop is:
   *
   * {{{
   * val r = Dedup.dedupIncrementalIndexed(todaysBatch, index, "id", "text", 0.6)
   * r.accepted.write.…           // new corpus rows
   * r.indexAppend.write.mode("append").parquet(indexPath) // index keeps up
   * // periodically (appends accrete one small file per batch):
   * Dedup.maintainDedupIndex(spark, indexPath, Some(bucketTable), 4096)
   * }}}
   *
   * `index ∪ indexAppend` is EXACTLY `buildDedupIndex(corpus ∪ accepted)`
   * (spec-asserted): accepted ghashes are fresh by construction, so the
   * append never duplicates an index row, and the screen's results can
   * never drift from the self-contained overload's (also spec-asserted —
   * both run the same [[screen]] core). `indexAppend` includes accepted
   * texts too short to shingle (empty `sh`, NULL `sig`): they carry no
   * near-dup signal but their content hash must screen future exact
   * copies.
   *
   * The index must have been built with the SAME `n`/`bands`/
   * `rowsPerBand` passed here — signatures from different parameters are
   * incomparable (bucket hashes span different signature slices). An
   * index persisted before the boundary-empty shingle fix must be run
   * through [[repairPreFixShingles]] once and rewritten.
   *
   * `corpusBuckets` (optional) removes the last per-call corpus cost: by
   * default the candidate stage re-explodes the index into `bands` rows
   * per signature and SHUFFLES them on `(band, bucket)` every call — at a
   * billion-text corpus that is ~10^10 tiny rows through the wire per
   * daily batch. Pass the [[stageDedupBuckets]] catalog table instead and
   * the join reads the corpus side pre-bucketed on exactly the join key:
   * only the (small) batch side shuffles, the corpus side is a bare
   * columnar scan (spec-asserted: one Exchange in the candidate join,
   * batch side only). Must be built from the SAME index generation —
   * stage it when the index is built, append when the index appends.
   */
  def dedupIncrementalIndexed(
      batch: DataFrame, index: DataFrame, idCol: String, textCol: String,
      threshold: Double, n: Int = 3,
      bands: Int = 16, rowsPerBand: Int = 2,
      corpusBuckets: Option[DataFrame] = None): IncrementalDedupResult =
    screen(batch, idCol, textCol, threshold, n, bands, rowsPerBand,
      corpusHashes = index.select("ghash"),
      cSh  = index.filter(size(col("sh")) > 0).select("ghash", "sh"),
      cSig = index.filter(col("sig").isNotNull).select("ghash", "sig"),
      corpusBuckets = corpusBuckets)

  /**
   * Persist the index's exploded band-bucket table `(ghash, band, bucket)`
   * as a catalog table BUCKETED on `(band, bucket)` — the candidate
   * join's exact key — so every incremental screen reads the corpus side
   * co-located and shuffle-free ([[stageBucketed]]'s write-once argument
   * applied to the dedup index; the same bucket-table layout Hive-era
   * LSH pipelines used). `append = true` adds a new batch's bucket rows
   * to the existing table (Spark verifies the bucket spec matches).
   * Size `numBuckets` for the SETTLED corpus — it is fixed at creation,
   * so at 100 TB pick enough buckets that one bucket's rows fit an
   * executor's scan budget (e.g. 4096); re-stage to change it.
   */
  def stageDedupBuckets(
      index: DataFrame, table: String, numBuckets: Int,
      bands: Int = 16, rowsPerBand: Int = 2, append: Boolean = false): Unit =
    bandBuckets(index.filter(col("sig").isNotNull), "ghash", "sig",
        bands, rowsPerBand)
      .write.mode(if (append) "append" else "overwrite")
      .format("parquet")
      .bucketBy(numBuckets, "band", "bucket")
      // sorted within buckets: while a bucket holds one file (a fresh
      // stage), a sort-merge candidate join skips the corpus-side SORT as
      // well as its shuffle; appends add files per bucket, after which
      // Spark correctly re-sorts — [[maintainDedupIndex]] re-stages
      // periodically to restore it
      .sortBy("band", "bucket")
      .saveAsTable(table)

  /**
   * Standing maintenance for a persisted [[buildDedupIndex]] parquet dir
   * and (optionally) its [[stageDedupBuckets]] catalog table — the loop
   * the daily append docs promise but previously left to the operator: N
   * `indexAppend` cycles accrete one small parquet file per batch (at
   * 100 TB the footer/open/listing overhead dominates the index scan)
   * and each `stageDedupBuckets(append = true)` adds files per bucket,
   * losing the fresh-stage single-file sort-elision. One call compacts
   * the index dir in place ([[graft.stage.Staging.compactDir]] — same
   * absence-window / `.bak`-recovery / one-maintainer contract) and,
   * when `bucketTable` is set, re-stages the bucket table WHOLE from the
   * compacted index, restoring both properties. Screen results are
   * unchanged by construction — compaction only moves rows between
   * files, and the re-staged table holds exactly the index's band
   * buckets (DedupSpec runs 3 append cycles + maintenance and asserts
   * byte-identical screens and a bounded file count). Run it on the
   * schedule small files accrete on — e.g. weekly against daily appends.
   */
  def maintainDedupIndex(
      spark: org.apache.spark.sql.SparkSession, indexPath: String,
      bucketTable: Option[String] = None, numBuckets: Int = 256,
      bands: Int = 16, rowsPerBand: Int = 2,
      targetFileBytes: Long = 128L * 1024 * 1024)
      : Option[graft.stage.Staging.CompactionStat] = {
    val stat = graft.stage.Staging.compactDir(spark, indexPath, targetFileBytes)
    bucketTable.foreach(t => stageDedupBuckets(
      spark.read.parquet(indexPath), t, numBuckets, bands, rowsPerBand))
    stat
  }

  /**
   * Derive the incremental-dedup index of a corpus: one row per DISTINCT
   * text — `ghash` (128-bit content hash), `sh` (the shingle set, empty
   * for texts too short to shingle), `sig` (the MinHash signature, NULL
   * when `sh` is empty). Ids are deliberately absent: the screen matches
   * on content, so the index is id-stable under re-ingestion and two
   * indexes built from permuted corpora are identical. Derive ONCE,
   * persist as parquet, append each accepted batch's
   * [[IncrementalDedupResult.indexAppend]] — never rebuild from history.
   */
  def buildDedupIndex(
      corpus: DataFrame, idCol: String, textCol: String, n: Int = 3,
      bands: Int = 16, rowsPerBand: Int = 2): DataFrame =
    indexOfReps(representatives(corpus, idCol, textCol), n, bands, rowsPerBand)

  /** Index rows of a `(ghash, id, text)` representative table. */
  private def indexOfReps(
      reps: DataFrame, n: Int, bands: Int, rowsPerBand: Int): DataFrame =
    reps.select(col("ghash"), shingles(col("text"), n).as("sh"))
      .withColumn("sig", when(size(col("sh")) > 0,
        minhashSignature(col("sh"), bands * rowsPerBand)))

  /**
   * Repair `sh`/`sig` columns persisted BEFORE [[shingles]] dropped
   * boundary-empty tokens: the old shingler kept the empty token a
   * leading/trailing whitespace run produces, so a stored set may hold
   * phantom windows (visible as a leading or trailing space in the joined
   * n-gram) that no longer exist under current semantics — they depress
   * Jaccard against freshly-shingled text, so a near-dup re-delivery of a
   * whitespace-padded doc would evade the screen. Stale rows are repaired
   * in place: phantom windows are dropped (the survivors are byte-equal
   * to current [[shingles]] output — boundary empties only ever removed
   * whole windows, never changed surviving ones), and `sig` is re-signed
   * from the repaired set, NULL when it empties (the text is below the
   * n-token floor under current semantics). Clean rows — everything
   * written post-fix — pass through bit-unchanged, so the repair is
   * idempotent and safe to leave in a load path; columns other than
   * `sh`/`sig` ride along. Run once over a persisted [[buildDedupIndex]]
   * parquet and rewrite it (then re-stage any [[stageDedupBuckets]] table
   * from the repaired index — its buckets hash the old signatures); the
   * streaming rep store applies this automatically on every store load.
   */
  /** True where a persisted `sh` set still holds a pre-fix phantom
    * window — exactly the rows [[repairPreFixShingles]] would rewrite (or
    * drop, when the repaired set empties). A cheap single-column
    * predicate for "does this store/index still need the one-time repair
    * PERSISTED": the streaming store uses it to force a swap when a
    * batch would otherwise skip the write and leave stale rows on disk. */
  def hasPreFixShingles(n: Int = 3): Column =
    exists(col("sh"), s =>
      !(size(filter(split(s, " "), t => length(t) > 0)) === n))

  def repairPreFixShingles(
      df: DataFrame, n: Int = 3,
      bands: Int = 16, rowsPerBand: Int = 2): DataFrame = {
    // a current-semantics shingle re-splits into exactly n non-empty
    // tokens (tokens themselves never contain whitespace)
    def full(s: Column): Column =
      size(filter(split(s, " "), t => length(t) > 0)) === n
    val stale = hasPreFixShingles(n)
    val repaired = when(stale, filter(col("sh"), s => full(s)))
      .otherwise(col("sh"))
    // one withColumns: BOTH replacements read the ORIGINAL sh — a second
    // chained withColumn would re-evaluate `stale` against the repaired
    // set (always clean) and keep the old signature
    df.withColumns(Map(
      "sh" -> repaired,
      "sig" -> when(stale, when(size(repaired) > 0,
          minhashSignature(repaired, bands * rowsPerBand)))
        .otherwise(col("sig"))))
  }

  /**
   * The shared screen core both incremental overloads run, so the two
   * can never drift. Corpus side arrives as three tables: `corpusHashes`
   * `(ghash)` for the exact stage, `cSh` `(ghash, sh)` (non-empty
   * shingle sets only) for the verify join, `cSig` `(ghash, sig)` for
   * the band explode. Batch-side stages are cut exactly as the
   * historical self-contained pipeline cut them.
   */
  private def screen(
      batch: DataFrame, idCol: String, textCol: String, threshold: Double,
      n: Int, bands: Int, rowsPerBand: Int,
      corpusHashes: DataFrame, cSh: DataFrame, cSig: DataFrame,
      corpusBuckets: Option[DataFrame] = None): IncrementalDedupResult = {
    val bm = Materialize.cut(memberships(batch, idCol, textCol)) // (ghash, id)

    // exact stage: batch groups whose content the corpus already holds
    val freshGroups = Materialize.cut(
      bm.select("ghash").distinct()
        .join(corpusHashes, Seq("ghash"), "left_anti"))

    // near stage: one rep per fresh batch group vs the corpus side
    val bReps = representatives(batch, idCol, textCol).join(freshGroups, "ghash")
    val bSh = Materialize.cut(
      bReps.select(col("ghash"), shingles(col("text"), n).as("sh"))
        .filter(size(col("sh")) > 0))
    val bSig = Materialize.cut(
      bSh.select(col("ghash"),
        minhashSignature(col("sh"), bands * rowsPerBand).as("sig")))

    val bBk = bandBuckets(bSig, "ghash", "sig", bands, rowsPerBand)
      .select(col("ghash").as("b_gh"), col("band"), col("bucket"))
    // corpus buckets from the pre-bucketed catalog table when given
    // (renaming is a projection — it keeps the table's bucket layout on
    // (band, bucket)); otherwise re-exploded from the signature table
    val cBk = corpusBuckets
      .getOrElse(bandBuckets(cSig, "ghash", "sig", bands, rowsPerBand))
      .select(col("ghash").as("c_gh"), col("band"), col("bucket"))
    val dropped = nearDropped(bSh, bBk, cSh, cBk, threshold)

    // cut: the verify stage above is the expensive half of the screen, and
    // BOTH outputs consume its result — the documented daily loop runs two
    // actions (accepted.write, indexAppend.write), which would otherwise
    // re-execute candidate join + Jaccard verify once per action
    val acceptedGroups = Materialize.cut(
      freshGroups.join(dropped, Seq("ghash"), "left_anti"))
    val survivors = bm.join(acceptedGroups, "ghash").select(col("id").as(idCol))
    val accepted = batch.join(survivors, Seq(idCol), "left_semi")
    // index rows for the accepted groups: shingleable groups reuse the
    // already-materialized shingle/signature tables (never re-run LSH
    // inputs); the short-text remainder — absent from bSh, near-dup-inert,
    // indexed for its content hash only — re-derives its (cheap, empty)
    // shingles via indexOfReps
    val indexAppend = bSh.join(bSig, Seq("ghash"))
      .join(acceptedGroups, Seq("ghash"))
      .select("ghash", "sh", "sig")
      .unionByName(indexOfReps(
        bReps.join(acceptedGroups, Seq("ghash"))
          .join(bSh.select("ghash"), Seq("ghash"), "left_anti"),
        n, bands, rowsPerBand))
    IncrementalDedupResult(accepted, indexAppend)
  }

  /** The candidate-generation join of the incremental screen, split out so
    * its physical shape is plan-auditable in isolation: batch buckets
    * `(b_gh, band, bucket)` equi-joined to corpus buckets
    * `(c_gh, band, bucket)` on the band key. When the corpus side is a
    * [[stageDedupBuckets]] catalog table, its scan satisfies the join's
    * partitioning requirement outright and only the batch side gets an
    * Exchange — the corpus is never shuffled (DedupSpec pins exactly one
    * hash Exchange below the join with broadcast disabled). */
  private[graft] def candidateGhPairs(bBk: DataFrame, cBk: DataFrame): DataFrame =
    bBk.join(cBk, Seq("band", "bucket"))
      .select("b_gh", "c_gh").distinct()

  /** The near stage's dropped-group computation — LSH candidates, exact
    * Jaccard verify, ≥-threshold groups — exactly as [[screen]] runs it.
    * Split out (like [[candidateGhPairs]], its first stage) so audits can
    * plan it directly against a parquet index: inside the screen the
    * surrounding lineage cuts execute this eagerly, hiding its scans from
    * the final query plan, while PlanAuditSpec must see that the index
    * feeds the band explode reading only `(ghash, sig)` and the verify
    * join only `(ghash, sh)`. */
  private[graft] def nearDropped(
      bSh: DataFrame, bBk: DataFrame, cSh: DataFrame, cBk: DataFrame,
      threshold: Double): DataFrame =
    candidateGhPairs(bBk, cBk)
      .join(bSh.select(col("ghash").as("b_gh"), col("sh").as("b_sh")), "b_gh")
      .join(cSh.select(col("ghash").as("c_gh"), col("sh").as("c_sh")), "c_gh")
      .filter(size(array_union(col("b_sh"), col("c_sh"))) > 0 &&
        jaccard(col("b_sh"), col("c_sh")) >= threshold)
      .select(col("b_gh").as("ghash")).distinct()

  /**
   * Paragraph-level exact deduplication — the CCNet move (Wenzek et al.
   * 2020: CommonCrawl is deduplicated by PARAGRAPH hash before any
   * document-level pass, because licenses, navigation chrome and quoted
   * passages repeat across otherwise-unique pages): split each document
   * on `sep`, keep only the globally FIRST occurrence of every distinct
   * paragraph (first = least `(idCol, position)`, so the result is
   * deterministic and insertion-order-faithful), and rebuild each
   * document from its surviving paragraphs in original order.
   *
   * Returns `(idCol, n_paras, n_kept, <textCol>)` with `textCol`
   * rewritten to the sep-rejoined survivors (possibly `""` when every
   * paragraph of a document appeared earlier elsewhere). Paragraph
   * identity is the exact byte content (hashed to md5 so the
   * first-occurrence shuffle moves 16-byte keys, not paragraph text —
   * the `ghash` convention; a collision needs 2⁶⁴ paragraphs).
   *
   * Shape at scale: one shuffle keyed on the paragraph hash (the
   * groupBy that elects each hash's first occurrence, map-side
   * partial), one equi-join back on the same key (co-partitioned —
   * AQE reuses the exchange), one shuffle back to documents for the
   * rebuild. Never all-pairs; the per-document `collect_list` is
   * bounded by the document's own paragraph count (document-sized,
   * the same class as the text itself).
   */
  def dedupParagraphs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      sep: String = "\n\n"): DataFrame = {
    val paras = paraRows(docs, idCol, textCol, sep)
    val first = paras.groupBy(col("h"))
      .agg(min(struct(col(idCol), col("pos"))).as("f"))
    rebuildDocs(
      paras.join(first, Seq("h"))
        .withColumn("keep",
          col(idCol) === col(s"f.$idCol") && col("pos") === col("f.pos")),
      idCol, textCol, sep)
  }

  /** One row per paragraph: `(idCol, pos, para, h)` with `h` the md5 of
    * the exact paragraph bytes — the 16-byte key all paragraph-dedup
    * shuffles move instead of text. */
  private def paraRows(
      docs: DataFrame, idCol: String, textCol: String,
      sep: String): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .as(Seq("pos", "para")))
      .withColumn("h", md5(col("para").cast("binary")))

  /** The rebuild half shared by both paragraph-dedup forms: per-document
    * census + survivors rejoined in original position order. */
  private def rebuildDocs(
      marked: DataFrame, idCol: String, textCol: String,
      sep: String): DataFrame =
    marked.groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_paras"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        array_sort(collect_list(
          when(col("keep"), struct(col("pos"), col("para"))))).as("ps"))
      .select(col(idCol), col("n_paras"), col("n_kept"),
        array_join(transform(col("ps"), p => p.getField("para")), sep)
          .as(textCol))

  /**
   * The standing state of [[dedupParagraphs]]: one row per distinct
   * paragraph hash with its first occurrence —
   * `(h, first_id, first_pos)`. ADDITIVE under
   * [[mergeParagraphIndexes]] (min associates), so a persisted index
   * maintains per crawl instead of re-splitting history — the CCNet
   * production shape: each new shard dedups against all prior shards'
   * paragraph hashes.
   */
  def buildParagraphIndex(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      sep: String = "\n\n"): DataFrame =
    paraRows(docs, idCol, textCol, sep)
      .groupBy(col("h"))
      .agg(min(struct(col(idCol).as("first_id"), col("pos").as("first_pos")))
        .as("f"))
      .select(col("h"), col("f.first_id").as("first_id"),
        col("f.first_pos").as("first_pos"))

  /** `merge ≡ from-scratch` for the paragraph index: min over
    * `(first_id, first_pos)` associates, so disjoint shards' indexes
    * fold to the full corpus's (the [[TextOps.mergeTermFrequencies]]
    * law applied to first occurrences). */
  def mergeParagraphIndexes(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("h"))
      .agg(min(struct(col("first_id"), col("first_pos"))).as("f"))
      .select(col("h"), col("f.first_id").as("first_id"),
        col("f.first_pos").as("first_pos"))

  /**
   * Screen a NEW batch against a standing paragraph index: a batch
   * paragraph survives iff its hash is absent from the index AND it is
   * the batch's own first occurrence. When every history id precedes
   * every batch id (the incremental-dedup id contract, as
   * [[dedupIncremental]]), this equals [[dedupParagraphs]] over
   * `history ∪ batch` restricted to batch documents — spec-pinned.
   * The index side joins ONLY on the 16-byte hash; history text is
   * never read again.
   */
  def dedupParagraphsIndexed(
      batch: DataFrame,
      index: DataFrame,
      idCol: String,
      textCol: String,
      sep: String = "\n\n"): DataFrame = {
    val paras = paraRows(batch, idCol, textCol, sep)
    val firstInBatch = paras.groupBy(col("h"))
      .agg(min(struct(col(idCol), col("pos"))).as("f"))
    rebuildDocs(
      paras.join(firstInBatch, Seq("h"))
        .join(index.select(col("h"), lit(true).as("__seen")),
          Seq("h"), "left")
        .withColumn("keep",
          col("__seen").isNull &&
          col(idCol) === col(s"f.$idCol") && col("pos") === col("f.pos")),
      idCol, textCol, sep)
  }
}
