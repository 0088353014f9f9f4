package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.IvfNearestCells

/**
 * Product quantization (PQ) with asymmetric-distance scoring — the
 * MEMORY-bounded ANN scale path, complementing [[AnnIvf]] (compute-bounded
 * cell probing) and [[AnnLsh]] (hash bucketing): split each `dim`-float
 * vector into `m` subspaces, k-means each subspace independently into
 * `ksub` sub-centroids, and store a vector as `m` small codes plus its
 * exact norm. At dim=64/m=8 that is 256 raw bytes → 8 code bytes + one
 * double — a ~16-32× shrink of the scan set, which at 100 TB is the
 * difference between an ANN sweep reading the full corpus and reading a
 * few TB of codes.
 *
 * Scoring is ADC (asymmetric distance computation): the QUERY stays
 * exact; a candidate's dot is approximated by Σ_j q_subⱼ · codebookⱼ[codeⱼ]
 * — m codegen'd sub-dots against literal codebook matrices (codebooks are
 * k·dim floats — driver metadata, the [[AnnIvf]] centroid contract; and
 * unlike IVF centroids they NEVER outgrow the plan: the full codebook set
 * is `ksub`·dim floats — 256·dim at the standard 8-bit codes — bounded by
 * the embedding dimensionality, independent of corpus size, so the
 * literal carrier needs no broadcast twin here), then
 * an exact re-rank of the ADC top-`rerank` candidates against their raw
 * embeddings. Final (id, sim) pairs therefore carry EXACT cosine — PQ
 * approximation decides only WHICH candidates surface, the same
 * recall-not-precision contract as IVF probing.
 *
 * Plan shape: the ADC sweep is a broadcast nested-loop of the (small)
 * query batch against the code table — the corpus side never shuffles
 * ([[Similarity.bruteForceTopK]]'s plan, over 32× fewer bytes); the
 * re-rank join touches raw embeddings for |queries|·rerank candidate ids
 * only (broadcast on the candidate side). Training is `iters` passes,
 * each ONE corpus scan: per-row sub-codes via the native `l2`-metric
 * [[graft.functions.IvfNearestCells]] (m calls/row, all inside
 * whole-stage codegen), posexplode, one per-(subspace, code, position)
 * mean — the partial aggregate reduces each partition to ≤ m·ksub·subDim
 * rows before the tiny shuffle.
 *
 * Sub-codebook k-means minimizes SQUARED L2 (reconstruction error —
 * norm-sensitive, which cosine on sub-vectors would collapse); ties and
 * empty clusters are deterministic: ties break to the lowest code,
 * empty clusters keep their previous centroid.
 */
object AnnPq {

  /**
   * Scale rule for the sub-codebook size — the [[AnnIvf.suggestedCells]]
   * lesson applied to PQ. Fixture-sized geometry does NOT survive a
   * scale-up: at 200k vectors, ksub = 16 (the 2k-vector harness setting)
   * collapses recall@5 to 0.05 — each subspace quantizes 200k points
   * onto 16 codes, ADC distances lose all contrast, and the true
   * neighbors never reach the re-rank list (measured,
   * BENCH_NOTES.json#ann_cert_r17). `min(256, max(16, ⌈√n⌉))`: tiny
   * fixtures keep the cheap 16 (certified outputs unchanged), the
   * standard 8-bit ksub = 256 caps it from ~65k vectors up (the FAISS
   * IVFPQ convention), and the √n ramp keeps ≥ √n training points per
   * sub-centroid between.
   */
  def suggestedKsub(n: Long): Int =
    math.min(256L, math.max(16L,
      math.ceil(math.sqrt(n.toDouble)).toLong)).toInt

  /**
   * Scale rule for the exact-re-rank candidate-list length. The list
   * must grow with the corpus — quantization error is scale-free but
   * the number of decoys inside one ADC-distance quantum grows with n,
   * so a FIXED rerank = 50 at 200k vectors leaves the true neighbors
   * outside the list no matter how good the codes are.
   * `max(10·kNeighbors, ⌈2√n⌉)`: fixture-sized corpora keep the
   * certified 50, and the √n ramp prices re-rank I/O at
   * |queries|·2√n point lookups — still vanishing vs the O(n·m) ADC
   * sweep it filters for.
   */
  def suggestedRerank(n: Long, kNeighbors: Int): Int =
    math.max(10L * kNeighbors,
      math.ceil(2.0 * math.sqrt(n.toDouble)).toLong).toInt

  /** Driver-resident PQ model: `books(j)(c)` = sub-centroid `c` of
    * subspace `j`; all `m` books have `ksub` entries of `subDim` floats. */
  final case class Codebooks(m: Int, subDim: Int, books: Seq[Seq[Seq[Float]]]) {
    def dim: Int = m * subDim
    def ksub: Int = if (books.isEmpty) 0 else books.head.size
  }

  /** Ascending-index double fold — bit-identical to [[Similarity.norm]]. */
  private def jvmNorm(v: Seq[Float]): Double = {
    var acc = 0.0
    v.foreach(x => acc += x.toDouble * x.toDouble)
    math.sqrt(acc)
  }

  /** The native nearest-sub-centroid call for subspace `j` of `vec` under
    * `book`: code ids are 0..ksub-1, metric squared-L2. */
  private def subCode(vec: Column, book: Seq[Seq[Float]], j: Int, subDim: Int): Column =
    // primitive-array-backed fields, as in AnnIvf.nearestCells
    column(IvfNearestCells(expression(slice(vec, j * subDim + 1, subDim)),
      book.indices.map(_.toLong).toArray.toSeq, book.flatten.toArray.toSeq,
      book.map(jvmNorm).toArray.toSeq, subDim, 1, "l2")).getItem(0)

  /** All m sub-codes of `vec` as one `array<bigint>` column. */
  private def codesOf(vec: Column, cb: Codebooks): Column =
    array(cb.books.indices.map(j => subCode(vec, cb.books(j), j, cb.subDim)): _*)

  /**
   * Train `m` sub-codebooks of `ksub` centroids with `iters` k-means
   * iterations. Deterministic: init takes the `ksub` corpus vectors with
   * the smallest seeded hash (sliced per subspace — every subspace seeds
   * from the same rows), refinement is fixed-iteration, ties break to the
   * lowest code. An empty corpus yields empty books; a corpus smaller
   * than `ksub` yields that many codes.
   */
  def trainCodebooks(
      corpus: DataFrame, m: Int, ksub: Int, iters: Int = 3,
      seed: Long = 42L): Codebooks = {
    val dimRow = corpus.select(size(col("embedding"))).limit(1).collect()
    if (dimRow.isEmpty) return Codebooks(m, 0, Seq.empty)
    val dim = dimRow.head.getInt(0)
    require(m > 0 && dim % m == 0, s"dim $dim not divisible into $m subspaces")
    require(ksub > 0, s"ksub must be positive, got $ksub")
    val subDim = dim / m

    val base = corpus.select(col("vec_id"), col("embedding"))
    val seeds = base
      .orderBy(xxhash64(col("vec_id"), lit(seed)).asc, col("vec_id").asc)
      .limit(ksub)
      .select(col("embedding"))
      .collect().map(_.getSeq[Float](0))
    var cb = Codebooks(m, subDim,
      (0 until m).map(j => seeds.toSeq.map(_.slice(j * subDim, (j + 1) * subDim))))

    (1 to (if (seeds.isEmpty) 0 else iters)).foreach { _ =>
      // one corpus pass: codes (narrow, BELOW the Generate — computing
      // them after posexplode would redo m argmins per exploded element),
      // then per-(subspace, code, sub-position) mean
      val means = base
        .select(codesOf(col("embedding"), cb).as("codes"), col("embedding"))
        .select(col("codes"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(
          (col("pos") / subDim).cast("int").as("j"),
          element_at(col("codes"), (col("pos") / subDim).cast("int") + 1).as("code"),
          (col("pos") % subDim).as("spos"))
        .agg(avg(col("v").cast("double")).as("mv"))
        .collect()
        .groupBy(r => (r.getInt(0), r.getLong(1)))
        .map { case (jc, rows) =>
          jc -> rows.sortBy(_.getInt(2)).map(_.getDouble(3).toFloat).toSeq }
      cb = Codebooks(m, subDim,
        (0 until m).map(j => cb.books(j).indices.map(c =>
          means.getOrElse((j, c.toLong), cb.books(j)(c))).toSeq))
    }
    cb
  }

  /** The persisted form: `(nn_id, codes array<bigint>, nn_n)` — m codes
    * plus the EXACT norm per corpus vector. Derive once per codebook
    * generation; append new batches with the same codebooks
    * (`index ∪ append` ≡ from-scratch rebuild — codes depend only on the
    * row and the books). Rebuild after retraining: codes from different
    * generations are incomparable. */
  def buildPqIndex(corpus: DataFrame, cb: Codebooks): DataFrame = {
    val idx = corpus.select(
      col("vec_id").as("nn_id"),
      codesOf(col("embedding"), cb).as("codes"),
      Similarity.norm(col("embedding")).as("nn_n"))
    if (cb.books.isEmpty) idx.filter(lit(false)) else idx
  }

  /** The ADC approximate dot of exact query `qEmb` against `codes`:
    * Σ_j q_subⱼ · bookⱼ[codeⱼ] — m codegen'd sub-dots, codebooks ride as
    * literal matrices. */
  private def adcDot(qEmb: Column, codes: Column, cb: Codebooks): Column =
    cb.books.indices.map { j =>
      Similarity.nativeDot(
        slice(qEmb, j * cb.subDim + 1, cb.subDim),
        element_at(typedLit(cb.books(j)), element_at(codes, j + 1).cast("int") + 1))
    }.reduce(_ + _)

  private def emptyTopK(queries: DataFrame): DataFrame =
    queries.filter(lit(false)).select(
      col("vec_id").as("q_id"), col("vec_id").as("nn_id"),
      lit(0.0d).as("sim"), lit(0L).as("rank"))

  /** The ADC-score → prune → exact-re-rank core shared by [[topKIndexed]]
    * and [[ivfPqTopK]] (one code path — the two can never drift).
    * `paired` carries one row per (query, candidate code row):
    * `(q_id, q_emb, q_n, nn_id, codes, nn_n)`. ADC approx sims are NULL
    * on zero norms (rank last, the Similarity convention); the re-rank
    * join touches raw embeddings for the surviving candidate ids only. */
  private def adcRerank(
      paired: DataFrame, corpus: DataFrame, cb: Codebooks,
      kNeighbors: Int, rerank: Int): DataFrame = {
    require(rerank >= kNeighbors,
      s"rerank window $rerank smaller than k $kNeighbors")
    // rank<=rerank over the per-pair stream: Catalyst's WindowGroupLimit
    // inserts a partial per-partition top-`rerank` BELOW the window's
    // exchange (plan-verified), so the shuffle carries ≤ rerank rows per
    // query per partition — the sweep never materializes |q|·|corpus|
    // rows across the wire
    val wA = Window.partitionBy(col("q_id"))
      .orderBy(col("approx_sim").desc, col("nn_id").asc)
    val cands = paired
      .withColumn("approx_sim",
        adcDot(col("q_emb"), col("codes"), cb) /
          nullif(col("q_n") * col("nn_n"), lit(0.0)))
      .select(col("q_id"), col("q_emb"), col("q_n"), col("nn_id"), col("approx_sim"))
      .withColumn("_ar", row_number().over(wA))
      .filter(col("_ar") <= rerank)

    val wE = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("nn_id").asc)
    corpus.select(col("vec_id").as("nn_id"), col("embedding").as("nn_emb"))
      .join(broadcast(cands.select(col("q_id"), col("q_emb"), col("q_n"), col("nn_id"))),
        Seq("nn_id"))
      .withColumn("sim",
        Similarity.nativeDot(col("q_emb"), col("nn_emb")) /
          nullif(col("q_n") * Similarity.norm(col("nn_emb")), lit(0.0)))
      .select(col("q_id"), col("nn_id"), col("sim"))
      .withColumn("rank", row_number().over(wE).cast("long"))
      .filter(col("rank") <= kNeighbors)
      .orderBy(col("q_id").asc_nulls_last, col("rank").asc_nulls_last)
  }

  private def queriesWithNorm(queries: DataFrame): DataFrame =
    queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
      Similarity.norm(col("embedding")).as("q_n"))

  /**
   * PQ top-k against a precomputed [[buildPqIndex]] table: ADC sweep of
   * the broadcast query batch over the code table → top-`rerank`
   * candidates per query → exact re-rank against raw embeddings →
   * top-`kNeighbors`. `corpus` supplies raw vectors for the re-rank only
   * (touched for |queries|·rerank ids — at scale, the point-lookup side).
   * Must be scored with the SAME `cb` that built the index.
   */
  def topKIndexed(
      queries: DataFrame, index: DataFrame, corpus: DataFrame, cb: Codebooks,
      kNeighbors: Int, rerank: Int): DataFrame = {
    if (cb.books.isEmpty) return emptyTopK(queries)
    // ADC sweep: corpus codes never shuffle (broadcast nested-loop of the
    // small query batch, the bruteForceTopK plan over 32× fewer bytes)
    val paired = index.select(col("nn_id"), col("codes"), col("nn_n"))
      .join(broadcast(queriesWithNorm(queries)))
    adcRerank(paired, corpus, cb, kNeighbors, rerank)
  }

  /** Self-contained form: derive the code table inline (one-off screens).
    * A standing corpus should persist [[buildPqIndex]] once and call
    * [[topKIndexed]] — the same amortization contract as
    * `Dedup.buildDedupIndex` / `AnnIvf.buildIvfIndex`. */
  def topK(
      queries: DataFrame, corpus: DataFrame, cb: Codebooks,
      kNeighbors: Int, rerank: Int): DataFrame =
    topKIndexed(queries, buildPqIndex(corpus, cb), corpus, cb, kNeighbors, rerank)

  // ---- IVF-PQ: coarse cells over compressed codes ----

  /**
   * The combined IVF-PQ index: `(cell, nn_id, codes, nn_n)` — coarse-cell
   * assignment (cosine, [[AnnIvf]]'s quantizer) PLUS the PQ codes, in one
   * corpus pass. This is the canonical 10⁹-vector layout (FAISS IVFPQ):
   * IVF bounds COMPUTE (a query touches nprobe cells, ~nprobe/k of the
   * corpus), PQ bounds MEMORY/IO (the touched rows are m-byte codes, not
   * raw floats) — the two cuts multiply. Same generation contracts as the
   * parts: append new batches under the SAME centroids + codebooks;
   * rebuild after retraining either.
   */
  def buildIvfPqIndex(
      corpus: DataFrame, centroids: DataFrame, cb: Codebooks): DataFrame = {
    val cents = AnnIvf.collectCents(centroids)
    val idx = corpus.select(
      AnnIvf.cellOf(col("embedding"), cents).as("cell"),
      col("vec_id").as("nn_id"),
      codesOf(col("embedding"), cb).as("codes"),
      Similarity.norm(col("embedding")).as("nn_n"))
    if (cents.isEmpty || cb.books.isEmpty) idx.filter(lit(false)) else idx
  }

  /**
   * IVF-PQ top-k: probe each query's `nprobe` nearest cells, equi-join on
   * `cell` against the combined index, ADC-score ONLY the probed cells'
   * codes, exact-re-rank the ADC top-`rerank`. With `nprobe` = the full
   * cell count this degrades exactly to [[topKIndexed]] over every code
   * row (spec-pinned); with both approximations open it reads
   * ~(nprobe/k)·|corpus| code rows — the two-axis budget dial. Returned
   * sims remain EXACT cosine (the re-rank contract); IVF probing and PQ
   * scoring decide only which candidates surface.
   */
  /** Persist a [[buildIvfPqIndex]] frame as a catalog table BUCKETED on
    * `cell` — the probe join's exact key — so [[ivfPqTopK]] reads the
    * code side pre-partitioned and only the (small) probe side shuffles:
    * the [[AnnIvf.stageIvfCells]] contract over m-byte codes instead of
    * raw embeddings. Appends add files per bucket (Spark re-sorts
    * correctly); re-stage periodically to restore the fresh-stage
    * single-file sort elision. */
  def stageIvfPqCells(
      index: DataFrame, table: String, numBuckets: Int,
      append: Boolean = false): Unit =
    index.select("cell", "nn_id", "codes", "nn_n")
      .write.mode(if (append) "append" else "overwrite")
      .format("parquet")
      .bucketBy(numBuckets, "cell")
      .sortBy("cell")
      .saveAsTable(table)

  def ivfPqTopK(
      queries: DataFrame, index: DataFrame, corpus: DataFrame,
      centroids: DataFrame, cb: Codebooks,
      kNeighbors: Int, nprobe: Int, rerank: Int): DataFrame = {
    val cents = AnnIvf.collectCents(centroids)
    if (cents.isEmpty || cb.books.isEmpty) return emptyTopK(queries)
    val paired = queriesWithNorm(queries)
      .select(col("q_id"), col("q_emb"), col("q_n"),
        explode(AnnIvf.nearestCells(col("q_emb"), cents, nprobe)).as("cell"))
      .join(index.select(col("cell"), col("nn_id"), col("codes"), col("nn_n")), "cell")
    adcRerank(paired, corpus, cb, kNeighbors, rerank)
  }
}
