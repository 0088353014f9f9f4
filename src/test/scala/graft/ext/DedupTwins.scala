package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The built-ins-only formulations of [[Dedup]]'s native shingle and
  * MinHash expressions, kept as the twins the specs check each native
  * expression against. */
object DedupTwins {

  /** HOF formulation of [[Dedup.shingles]] — kept as the engine-agnostic
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

  /** HOF formulation of [[Dedup.minhashSignature]] — kept as the engine-agnostic
    * semantics reference the spec checks the native expression against. */
  private[graft] def minhashSignatureHof(shingleCol: Column, numHashes: Int): Column =
    transform(sequence(lit(0), lit(numHashes - 1)), i =>
      array_min(transform(shingleCol, s => xxhash64(s, i))))
}
