package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Semantic deduplication over embeddings (the SemDeDup recipe, Abbas et
 * al. 2023): drop documents whose EMBEDDINGS are near-identical even when
 * their surface text differs — translated boilerplate, paraphrase spam,
 * templated rewrites — the duplication mode the token-level family
 * ([[Dedup]] MinHash, [[TextOps]] SimHash, [[SpanDedup]] substrings) is
 * blind to. Pairs at cosine ≥ threshold become edges; transitive closure
 * via the same bounded min-label propagation as text dedup
 * ([[Dedup.components]] — one components implementation in the engine, so
 * the two dedup families cannot disagree about what a "group" is); the
 * least id per component survives.
 *
 * Candidates are per-block exact all-pairs
 * ([[Similarity.nearDupPairsBlocked]]): complete within blocks, right when
 * a natural blocking key exists (language, shard, near-cluster) or the
 * corpus is small enough to run one block. Oracle-exact.
 *
 * Scale: the closure runs on the PAIR graph, which near-dup thresholds
 * keep sparse; components is the bounded-iteration propagation whose
 * convergence telemetry q37 already tracks.
 */
object SemDedup {

  /** Exact semantic dedup within blocks: every pair in a block with
    * cosine ≥ `threshold` is an edge; survivors are the least id of each
    * transitive group (rows in other blocks are never compared — the
    * caller's blocking key defines the comparison domain). Zero-norm
    * vectors have NULL cosine to everything and always survive. */
  def dedupExact(
      corpus: DataFrame, idCol: String, vecCol: String, blockCol: String,
      threshold: Double): DataFrame = {
    val losers = Dedup.components(
        Similarity.nearDupPairsBlocked(corpus, idCol, vecCol, blockCol, threshold)
          .select(col("a_id"), col("b_id")))
      .filter(col("component") < col("id"))
      .select(col("id").as(idCol))
    corpus.join(losers, Seq(idCol), "left_anti")
  }
}
