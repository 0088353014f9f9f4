package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.functions._

import graft.functions.{IvfCentroidSet, IvfNearestCells, IvfNearestCellsBc}

/**
 * IVF (inverted-file) approximate nearest neighbors — the data-adaptive
 * complement to [[AnnLsh]]'s data-oblivious hyperplanes: a small set of
 * coarse centroids partitions the corpus into cells; a query probes only
 * its `nprobe` nearest cells and scores candidates exactly.
 *
 * Scale design (100 TB): centroids are k rows — metadata-sized, so they
 * ride along as ONE reference-object matrix inside a single native
 * expression ([[graft.functions.IvfNearestCells]]) rather than as a join
 * side. Cell assignment is therefore a narrow per-row argmin — zero
 * shuffle, zero join, evaluated inside whole-stage codegen at ANY k
 * (k sizes the matrix, never the generated code) — where the
 * crossJoin+groupBy formulation shuffled the whole corpus once per
 * assignment pass (and each Lloyd iteration re-joined the corpus to
 * fetch embeddings back). Probe selection is the same native call at
 * `nprobe` instead of a ranking window — the |queries|-wide window
 * shuffle is gone too. The only remaining shuffles
 * are inherent to IVF: the candidate equi-join on `cell` and the final
 * per-query top-k window. Training never pins the corpus: each Lloyd pass
 * re-scans the 2-column columnar source (at 100 TB, iters extra scans beat
 * caching the corpus in executor memory by design).
 *
 * Determinism: centroid init picks the k corpus vectors with the smallest
 * seeded hash, refinement is fixed-iteration (no convergence test), and
 * ties break on cell id — identical output across runs. Driver-side norms
 * use the same ascending-index double fold as [[Similarity.norm]], so the
 * collected `c_norm` is bit-identical to the Spark-computed one.
 */
object AnnIvf {

  /** Driver-resident centroid set: (cell id, vector, norm). k rows —
    * the same "tiny metadata scalars" class as a broadcast dim table. */
  private[ext] type Cents = Seq[(Long, Seq[Float], Double)]

  /** Ascending-index double fold — bit-identical to [[Similarity.norm]]. */
  private def jvmNorm(v: Seq[Float]): Double = {
    var acc = 0.0
    v.foreach(x => acc += x.toDouble * x.toDouble)
    math.sqrt(acc)
  }

  private[ext] def collectCents(centroids: DataFrame): Cents =
    centroids.select(col("cell"), col("centroid"), col("c_norm"))
      .collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getDouble(2)))
      .sortBy(_._1)

  /** Codegen'd vector norm — [[Similarity.norm]]; duplicated uses
    * collapse via codegen subexpression elimination. */
  private[ext] def vNorm(vec: Column): Column = Similarity.norm(vec)

  /** Above this k the centroid matrix rides as a `Broadcast` variable
    * ([[graft.functions.IvfNearestCellsBc]]) instead of plan-resident
    * expression fields. The literal carrier costs k·(dim·4+16) bytes in
    * EVERY serialized task plan and driver plan copy — at the √n sizing
    * rule that is ~1 MB of plan at k=4096 (n ≈ 1.7·10⁷, the ceiling's
    * rationale: comfortably inside normal plan sizes) but ~80 MB at
    * k = √(10¹¹) — while a broadcast ships once per executor and is
    * shared by every task and plan. Below the ceiling the literal path
    * is kept: self-contained plans, no broadcast lifecycle, and the
    * plan-fingerprint stability the specs pin. */
  private[ext] val LiteralCentroidCeiling = 4096

  /** The `nprobe` nearest cells, ascending (dist, cell), via the native
    * [[graft.functions.IvfNearestCells]] expression: the whole centroid
    * matrix is ONE reference object behind a single codegen'd call, so k
    * sizes data, never generated code — the lift for the unrolled form's
    * k-ceiling (thousands of literal `graft_dot` terms blow past
    * Janino/JIT method limits and fall back to interpreted evaluation).
    * The unrolled form is kept in the test tree (`AnnIvfTwins`) as the
    * engine-level semantics reference; AnnIvfSpec pins the two bit-equal
    * at k=16 and k=256 and the executed plan CodegenFallback-free at
    * k=256. Above [[LiteralCentroidCeiling]] the same kernel runs behind the broadcast
    * carrier ([[nearestCellsBcast]] — spec-pinned bit-equal), so the
    * matrix never outgrows the plan. */
  private[ext] def nearestCells(vec: Column, cents: Cents, nprobe: Int): Column =
    if (cents.sizeIs > LiteralCentroidCeiling) nearestCellsBcast(vec, cents, nprobe)
    // primitive-array-backed fields: a boxed Seq would put k·dim Float
    // objects into every serialized plan copy
    else column(IvfNearestCells(expression(vec),
      cents.map(_._1).toArray.toSeq, cents.flatMap(_._2).toArray.toSeq,
      cents.map(_._3).toArray.toSeq, cents.head._2.length, nprobe))

  /** [[nearestCells]]'s broadcast-carrier form, unconditionally: the
    * centroid matrix ships once per executor as a
    * `Broadcast[IvfCentroidSet]` and the generated code fetches it in
    * class init. Exposed (package-private) so the spec can pin
    * bit-equality against the literal path at sub-ceiling k. */
  private[ext] def nearestCellsBcast(vec: Column, cents: Cents, nprobe: Int): Column = {
    val dim = cents.head._2.length
    val flat = new Array[Float](cents.length * dim)
    cents.iterator.zipWithIndex.foreach { case ((_, v, _), i) =>
      v.copyToArray(flat, i * dim)
    }
    val payload = IvfCentroidSet(
      cents.map(_._1).toArray, flat, cents.map(_._3).toArray, dim)
    val bc = org.apache.spark.sql.SparkSession.active.sparkContext.broadcast(payload)
    column(IvfNearestCellsBc(expression(vec), bc, nprobe))
  }

  /** Nearest cell: element 0 of the native 1-probe [[nearestCells]] —
    * zero shuffle, zero join, one expression node at any k. An EMPTY
    * centroid set yields NULL cell — callers' downstream equi-joins and
    * assignments then degrade to empty output, the behavior of the
    * crossJoin formulation this replaced, instead of a plan-build throw.
    * A NULL vector also yields NULL cell (its nearest cell is undefined,
    * so the row degrades out of the cell equi-join) — the one DELIBERATE
    * divergence from the unrolled twin, which would assign a null
    * vector to the lowest cell id and let it ride into candidate scoring
    * with NULL sims; FuzzSpec pins the twins equal everywhere else
    * (zero norms, NaN, length mismatch, null elements, ties). */
  private[ext] def cellOf(vec: Column, cents: Cents): Column =
    if (cents.isEmpty) lit(null).cast("long")
    else nearestCells(vec, cents, 1).getItem(0)

  /**
   * Corpus-size-aware IVF cell count: `max(16, ⌈√n⌉)` — the standard
   * inverted-file sizing rule (the FAISS guideline is 4√n–16√n cells;
   * √n is its conservative floor). WHY this matters for the SELF-join
   * ([[knnJoin]]): candidate pairs are `n · nprobe · n/k`, so a FIXED
   * k makes the self-join quadratic in the corpus (measured: 10× rows
   * → 103× wall at k=16), while k = √n caps it at the IVF-canonical
   * `nprobe · n^1.5`. Query-set probes (`|Q| ≪ n`) stay linear in n
   * either way. Callers with a tuned cell budget pass their own k.
   */
  def suggestedCells(n: Long): Int =
    math.max(16L, math.ceil(math.sqrt(n.toDouble)).toLong).toInt

  /**
   * Train `k` coarse centroids with `iters` Lloyd iterations.
   * Returns (cell BIGINT, centroid ARRAY<FLOAT>, c_norm DOUBLE) as a
   * local (driver-resident) DataFrame. Cell ids are the seed vectors'
   * `vec_id`s — distinct and deterministic is all the downstream
   * equi-joins need. Each iteration is ONE corpus pass: per-row argmin
   * (narrow) → posexplode → per-(cell, dim) mean — the partial aggregate
   * reduces each partition to ≤ k·dim rows before the tiny shuffle.
   *
   * Scale law of the training loop itself: each iteration COLLECTS the
   * k·dim refined means to the driver (the centroids must become the next
   * iteration's argmin matrix) and, when k exceeds
   * [[LiteralCentroidCeiling]], re-broadcasts them for the next pass — so
   * driver memory and per-iteration transfer are k·dim·(4–8) bytes:
   * ~80 MB at the √n rule for n = 10¹¹, fine; growing past that wants a
   * hierarchical/sampled trainer (train on a corpus sample — the FAISS
   * practice — which bounds k·dim independently of n), not a bigger
   * driver.
   */
  def trainCentroids(
      corpus: DataFrame, k: Int, iters: Int = 3, seed: Long = 42L): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val base = corpus.select(col("vec_id"), col("embedding"))

    // deterministic init: the k vectors with the smallest seeded hash
    var cents: Cents = base
      .orderBy(xxhash64(col("vec_id"), lit(seed)).asc, col("vec_id").asc)
      .limit(k)
      .select(col("vec_id").cast("long"), col("embedding"))
      .collect().toSeq
      .map(r => { val v = r.getSeq[Float](1); (r.getLong(0), v, jvmNorm(v)) })
      .sortBy(_._1)

    // an empty corpus seeds zero centroids; iterating would argmin over
    // nothing (and a null-cell group would surface as a phantom cell 0)
    (1 to (if (cents.isEmpty) 0 else iters)).foreach { _ =>
      // new centroid = per-(cell, dim) mean ([[iterPlan]] — the
      // plan-audited one-pass shape), reassembled in dim order
      cents = iterPlan(base, cents)
        .groupBy("cell")
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cell"),
          transform(col("pm"), x => x.getField("m").cast("float")).as("centroid"))
        .collect().toSeq
        .map(r => { val v = r.getSeq[Float](1); (r.getLong(0), v, jvmNorm(v)) })
        .sortBy(_._1)
    }
    cents.toDF("cell", "centroid", "c_norm")
  }

  /** The Lloyd-iteration aggregation plan — one corpus pass: per-row
    * argmin (narrow, BELOW the posexplode Generate: `select(cellOf,
    * posexplode)` in one projection would re-run the k dots once per
    * exploded element, dim×) → per-(cell, dim) partial mean. ONE builder
    * shared by the training loop and PlanAuditSpec, so the plan-audited
    * shape IS the executed shape. */
  private[ext] def iterPlan(base: DataFrame, cents: Cents): DataFrame =
    base
      .select(cellOf(col("embedding"), cents).as("cell"), col("embedding"))
      .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("cell", "pos")
      .agg(avg(col("v").cast("double")).as("m"))

  /** The empty result in the declared output shape — returned when there
    * are no centroids (empty training corpus), rather than building probe
    * expressions over zero struct terms. */
  private def emptyTopK(queries: DataFrame): DataFrame =
    queries.filter(lit(false)).select(
      col("vec_id").as("q_id"), col("vec_id").as("nn_id"),
      lit(0.0d).as("sim"), lit(0L).as("rank"))

  /** The inverted-file row set of a corpus under a centroid set: one row
    * per vector — `(cell, nn_id, nn_emb, nn_n)`, i.e. cell assignment,
    * id, embedding, and precomputed norm. The probe/score core joins this
    * on `cell`. */
  private def ivfCellsOf(corpus: DataFrame, cents: Cents): DataFrame =
    corpus.select(
      // coalesce marks the key NON-NULLABLE (cellOf never returns null
      // for the non-empty centroid sets every caller guarantees), so the
      // candidate equi-join cannot infer an `isnotnull(cellOf(...))`
      // filter below this projection — that inferred filter re-evaluated
      // the whole k-centroid argmin a SECOND time per corpus vector
      // (plan-verified on q44: the §4.4 duplicated-evaluation case)
      coalesce(cellOf(col("embedding"), cents), lit(-1L)).as("cell"),
      col("vec_id").as("nn_id"), col("embedding").as("nn_emb"),
      vNorm(col("embedding")).as("nn_n"))

  /** The probe/score core shared by [[annTopK]] and [[annTopKIndexed]]
    * (one code path — the two can never drift): probe each query's
    * `nprobe` nearest cells, equi-join on `cell` against the inverted
    * file, score candidates exactly, rank per query.
    *
    * Ranking is a MERGEABLE top-k aggregate
    * ([[graft.functions.SimTopKAggregator]] — `sim DESC NULLS LAST,
    * nn_id ASC`, the exact window order, twin-spec'd), not a
    * `row_number()` window: the window had to locally sort the FULL
    * candidate set (|queries|·nprobe·cellSize rows) before the q_id
    * exchange and again after it, where the k-bounded buffer keeps at
    * most k candidates per query per map task — the shuffle carries
    * k rows per query per task instead of every scored candidate
    * (guide §2.3/§2.4: aggregate before you shuffle). */
  private def topKFromCells(
      queries: DataFrame, corpusCells: DataFrame, cents: Cents,
      kNeighbors: Int, nprobe: Int, excludeSelf: Boolean): DataFrame = {
    // nprobe nearest cells per query: the native one-call selection
    // (ascending (dist, cell) — the order the ranking window used), then
    // explode. No crossJoin, no window shuffle, k-independent codegen.
    val probes = queries
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        vNorm(col("embedding")).as("q_n"))
      .select(col("q_id"), col("q_emb"), col("q_n"),
        explode(nearestCells(col("q_emb"), cents, nprobe)).as("cell"))

    val scored = probes.join(corpusCells, "cell")
    val candidates =
      if (excludeSelf) scored.filter(col("q_id") =!= col("nn_id")) else scored
    val topk = udaf(new graft.functions.SimTopKAggregator(kNeighbors),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[
        graft.functions.SimTopKEntry]())
    candidates
      .withColumn("sim",
        Similarity.nativeDot(col("q_emb"), col("nn_emb"))
          / nullif(col("q_n") * col("nn_n"), lit(0.0))) // NULL on zero norms
      .select(col("q_id"), col("nn_id"), col("sim"))
      .groupBy(col("q_id"))
      .agg(topk(col("sim"), col("nn_id")).as("_tk"))
      .select(col("q_id"), posexplode(col("_tk")).as(Seq("_pos", "_e")))
      .select(col("q_id"), col("_e.item").as("nn_id"),
        col("_e.sim").as("sim"),
        (col("_pos") + 1).cast("long").as("rank"))
      .orderBy(col("q_id").asc_nulls_last, col("rank").asc_nulls_last)
  }

  /**
   * ANN top-k: probe each query's `nprobe` nearest cells, equi-join on
   * `cell` against the cell-keyed corpus, score candidates exactly.
   * `excludeSelf` drops the query's own corpus row before ranking — for
   * self-join uses where rank 1 would otherwise always be the vector
   * itself. Probe cells come from a per-row `array_sort` over the k
   * centroid distances (ties → lowest cell id, the order the ranking
   * window used); the corpus side computes its cell inline on the way
   * into the join — the only corpus-wide shuffle left is the candidate
   * equi-join itself. Self-contained: the corpus side re-derives its
   * cells and norms EVERY call — right for one-off screens; a standing
   * corpus queried daily should persist [[buildIvfIndex]] once and probe
   * it with [[annTopKIndexed]].
   */
  def annTopK(
      queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
      kNeighbors: Int, nprobe: Int, excludeSelf: Boolean = false): DataFrame = {
    val cents = collectCents(centroids)
    if (cents.isEmpty) return emptyTopK(queries)
    topKFromCells(queries, ivfCellsOf(corpus, cents), cents,
      kNeighbors, nprobe, excludeSelf)
  }

  /**
   * Derive the PERSISTED form of the inverted file: one row per corpus
   * vector — `cell` (nearest-centroid assignment), `nn_id`, `nn_emb`,
   * `nn_n` (precomputed norm). Derive ONCE per centroid generation,
   * persist as parquet, and probe with [[annTopKIndexed]]: the
   * self-contained [[annTopK]] re-runs k codegen'd dots plus a norm over
   * EVERY corpus vector on EVERY call — at 100 TB that is the dominant
   * per-query-batch cost for tables that never change between batches.
   * New vectors append without touching history:
   * `buildIvfIndex(newBatch, sameCentroids)` assigns cells with the SAME
   * centroid literals, so `index ∪ append` equals a from-scratch build
   * over corpus ∪ batch (spec-asserted). The index is tied to its
   * centroid generation — after retraining, rebuild (cell ids and
   * assignments are meaningless across generations). Empty centroid set
   * → empty index (every vector's nearest cell is undefined).
   */
  def buildIvfIndex(corpus: DataFrame, centroids: DataFrame): DataFrame = {
    val cents = collectCents(centroids)
    val idx = ivfCellsOf(corpus, cents)
    if (cents.isEmpty) idx.filter(lit(false)) else idx
  }

  /**
   * [[annTopK]] against a precomputed [[buildIvfIndex]] table instead of
   * raw corpus vectors — the amortized form of the standing-corpus
   * screen: per call, only the (small) query batch pays cell assignment
   * and norms; the corpus side is a bare columnar scan of the persisted
   * inverted file. Must be probed with the SAME `centroids` that built
   * the index (cell ids from different generations are incomparable).
   * Same probe/score core as [[annTopK]], so the two can never drift.
   */
  def annTopKIndexed(
      queries: DataFrame, index: DataFrame, centroids: DataFrame,
      kNeighbors: Int, nprobe: Int, excludeSelf: Boolean = false): DataFrame = {
    val cents = collectCents(centroids)
    if (cents.isEmpty) return emptyTopK(queries)
    topKFromCells(queries, index.select("cell", "nn_id", "nn_emb", "nn_n"),
      cents, kNeighbors, nprobe, excludeSelf)
  }

  /**
   * Corpus-wide kNN SELF-join — the embedding-side primitive behind
   * semantic dedup and density clustering: every vector's `kNeighbors`
   * nearest neighbors among its `nprobe` nearest IVF cells, scored exactly
   * (cosine, ties → lowest id). This is [[annTopK]] with the corpus as its
   * own query set and self-pairs excluded: candidate generation is the
   * cell equi-join (nprobe × the per-cell block, never all-pairs), so the
   * quadratic term is bounded per cell and tuned by the k/nprobe knobs —
   * the standard IVF answer to "give every one of 10^9 vectors its
   * neighbors" where the all-pairs join is 10^18.
   */
  def knnJoin(
      corpus: DataFrame, centroids: DataFrame,
      kNeighbors: Int, nprobe: Int = 4): DataFrame =
    annTopK(corpus, corpus, centroids, kNeighbors, nprobe, excludeSelf = true)
}
