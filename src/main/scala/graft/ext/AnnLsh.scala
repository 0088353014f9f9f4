package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.LshBuckets

/**
 * Bucketed approximate nearest neighbors via sign-random-projection LSH
 * (random-hyperplane hashing for cosine similarity) — the scale path that
 * replaces [[Similarity.bruteForceTopK]]'s corpus×queries nested loop when
 * the query side is NOT small, and the bucketed alternative to any
 * corpus×corpus cross join.
 *
 * Scale design (100 TB): each vector maps to `numTables` (table, bucket)
 * keys — bucket = the packed sign bits of `bitsPerTable` fixed random
 * hyperplanes. Candidate generation is an equi-join on (table, bucket):
 * vectors co-locate by bucket in one linear shuffle, and only within-bucket
 * pairs are scored exactly. P(two vectors at angle θ share a bucket in one
 * table) = (1-θ/π)^bitsPerTable; `numTables` independent tables drive
 * recall to 1-(1-p)^L. Hyperplanes are ±1 Rademacher vectors derived from a
 * seeded LCG, so signatures are deterministic, need no driver-side
 * randomness, and cost one multiply-add pass per plane (codegen'd
 * higher-order functions — no UDF, no shuffle).
 *
 * Note: on near-uniform random vectors (the synthetic test embeddings,
 * top-1 neighbor cosine ≈ 0.37) LSH must be tuned loose (few bits, many
 * tables) to hold recall, which erodes pruning — that is a property of
 * uniform data, where no sublinear ANN is possible; on real clustered
 * embeddings the same machinery prunes aggressively at tighter settings.
 */
object AnnLsh {

  /**
   * One `(id, table, bucket)` row per hash table; bucket packs the table's
   * `bitsPerTable` sign bits into a long.
   *
   * All `numTables × bitsPerTable` plane dots happen in ONE codegen'd
   * expression per row ([[graft.functions.LshBuckets]] — the planes
   * matrix loop is two JIT'd loops behind a single call), posexploded
   * into `(table, bucket)` rows. The per-plane formulations both lose:
   * interpreted HOF folds cost numPlanes CodegenFallback trees per row
   * (plus a lineage cut to stop projection collapse inlining them
   * numTables×), and numPlanes separate `graft_dot` calls bloat the
   * generated projection past JIT comfort (measured 4.1 s vs 2.2 s on
   * q21). Here the generator input is one fused call, evaluated once per
   * row — nothing to protect, nothing to shuffle before the
   * (table, bucket) candidate join.
   */
  def buckets(
      df: DataFrame, idCol: String, vecCol: String, dim: Int,
      bitsPerTable: Int, numTables: Int, seed: Long = 42L): DataFrame =
    df.select(col(idCol),
        posexplode(column(LshBuckets(expression(col(vecCol)),
          bitsPerTable, numTables, dim, seed)))
          .as(Seq("table", "bucket")))

  /** The probe/score core shared by [[annTopK]] and [[annTopKIndexed]]
    * (one code path — the two can never drift). Corpus side arrives as
    * two views: `corpusBuckets` `(nn_id, table, bucket)` for candidate
    * generation and `corpusVecs` `(nn_id, nn_emb, nn_n)` for the exact
    * scoring join — the same split [[Dedup.screen]] uses (`cSig` for the
    * band explode, `cSh` for the verify join), so each stage reads only
    * the columns it needs from a columnar source.
    */
  private def topKCore(
      queries: DataFrame, corpusBuckets: DataFrame, corpusVecs: DataFrame,
      k: Int, dim: Int, bitsPerTable: Int, numTables: Int,
      seed: Long): DataFrame = {
    val qb = buckets(queries.select(col("vec_id").as("q_id"), col("embedding")),
      "q_id", "embedding", dim, bitsPerTable, numTables, seed)
    val cand = qb.join(corpusBuckets, Seq("table", "bucket"))
      .select(col("q_id"), col("nn_id")).distinct()
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("nn_id").asc)
    // norms once per ROW in the join projections — inline norm() in the
    // sim expression would re-fold both norms once per CANDIDATE (the
    // exact per-pair recompute nearDupPairsBlocked's comment warns
    // against); NULL sim on zero norms, see Similarity doc
    cand
      .join(corpusVecs, "nn_id")
      .join(broadcast(
        queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          Similarity.norm(col("embedding")).as("q_n"))), "q_id")
      .withColumn("sim",
        Similarity.nativeDot(col("q_emb"), col("nn_emb"))
          / nullif(col("q_n") * col("nn_n"), lit(0.0)))
      .select(col("q_id"), col("nn_id"), col("sim"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .orderBy(col("q_id").asc_nulls_last, col("rank").asc_nulls_last)
  }

  /**
   * ANN top-k: bucket queries and corpus, equi-join on (table, bucket) for
   * candidates, score candidates exactly, rank per query. Both sides
   * shuffle once by bucket key — no nested loop over the corpus.
   * Self-contained: the corpus side re-runs all `numTables × bitsPerTable`
   * plane dots AND its norms on EVERY call — right for one-off screens; a
   * standing corpus queried daily should persist [[buildLshIndex]] once
   * and probe it with [[annTopKIndexed]].
   */
  def annTopK(
      queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
      bitsPerTable: Int = 4, numTables: Int = 32, seed: Long = 42L): DataFrame =
    topKCore(queries,
      buckets(corpus.select(col("vec_id").as("nn_id"), col("embedding")),
        "nn_id", "embedding", dim, bitsPerTable, numTables, seed),
      corpus.select(col("vec_id").as("nn_id"), col("embedding").as("nn_emb"),
        Similarity.norm(col("embedding")).as("nn_n")),
      k, dim, bitsPerTable, numTables, seed)

  /**
   * Derive the PERSISTED form of the LSH tables: one row per corpus
   * vector — `nn_id`, `bkts` (the `numTables` bucket hashes, array
   * position = table index: exactly [[graft.functions.LshBuckets]]'s
   * output, stored unexploded), `nn_emb`, `nn_n` (precomputed norm).
   * Derive ONCE per parameter generation, persist as parquet, and probe
   * with [[annTopKIndexed]]: the self-contained [[annTopK]] re-runs
   * `numTables × bitsPerTable` codegen'd plane dots plus a norm over
   * EVERY corpus vector on EVERY call — at 100 TB that is the dominant
   * per-query-batch cost for a table that never changes between batches.
   *
   * Layout is COLUMNAR-FIRST, not the exploded `(nn_id, table, bucket,
   * nn_emb, nn_n)` row set: exploding would copy the embedding
   * `numTables`× (32× the corpus bytes at the defaults) and force the
   * scoring join to deduplicate wide rows. Unexploded, the candidate
   * stage reads only `(nn_id, bkts)` and the scoring join only
   * `(nn_id, nn_emb, nn_n)` from the columnar scan — the same
   * stage-reads-only-its-columns split as [[Dedup.buildDedupIndex]]
   * (`sig` for the band explode, `sh` for the verify join).
   *
   * New vectors append without touching history: `buildLshIndex(newBatch,
   * sameParams)` is a pure per-row projection, so `index ∪ append` equals
   * a from-scratch build over corpus ∪ batch (spec-asserted). The index
   * is tied to its `(dim, bitsPerTable, numTables, seed)` generation —
   * bucket hashes from different parameters are incomparable; rebuild
   * after retuning.
   */
  def buildLshIndex(
      corpus: DataFrame, dim: Int,
      bitsPerTable: Int = 4, numTables: Int = 32, seed: Long = 42L): DataFrame =
    corpus.select(
      col("vec_id").as("nn_id"),
      column(LshBuckets(expression(col("embedding")),
        bitsPerTable, numTables, dim, seed)).as("bkts"),
      col("embedding").as("nn_emb"),
      Similarity.norm(col("embedding")).as("nn_n"))

  /**
   * [[annTopK]] against a precomputed [[buildLshIndex]] table instead of
   * raw corpus vectors — the amortized form of the standing-corpus
   * screen: per call, only the (small) query batch pays plane dots and
   * norms; the corpus side is a bare columnar scan of the persisted
   * index. Must be probed with the SAME `(dim, bitsPerTable, numTables,
   * seed)` that built the index. Same probe/score core as [[annTopK]],
   * so the two can never drift. The candidate stage posexplodes `bkts`
   * into `numTables` rows per vector and shuffles them on
   * `(table, bucket)`.
   */
  def annTopKIndexed(
      queries: DataFrame, index: DataFrame, k: Int, dim: Int,
      bitsPerTable: Int = 4, numTables: Int = 32, seed: Long = 42L): DataFrame =
    topKCore(queries,
      index.select(col("nn_id"), posexplode(col("bkts")).as(Seq("table", "bucket"))),
      index.select("nn_id", "nn_emb", "nn_n"),
      k, dim, bitsPerTable, numTables, seed)
}
