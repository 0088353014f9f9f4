package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The environment-honest [[BinaryDecoder]]: deterministic pseudo-features
  * from the payload hash ([[StubDecoder.decodeStub]]) — a pure codegen'd
  * expression, so the plumbing a real codec would ride (schema, per-row
  * evaluation, no shuffle) is exercised for real while the feature values
  * are clearly fake. */
final class StubDecoder(val dims: Int = 4) extends BinaryDecoder {
  def decode(df: DataFrame, payloadCol: String, outCol: String): DataFrame =
    df.withColumn(outCol, StubDecoder.decodeStub(col(payloadCol), dims))
}

object StubDecoder {

  /**
   * STUB decoder expression: deterministic pseudo-feature vector derived
   * from the payload hash — a placeholder for a real image/audio feature
   * extractor (clearly fake values in [0,1); stable across runs and
   * engines that share xxhash64). The class wraps this as the
   * test implementation of the [[BinaryDecoder]] seam.
   */
  def decodeStub(payload: Column, dims: Int = 4): Column =
    transform(sequence(lit(0), lit(dims - 1)), i =>
      pmod(xxhash64(payload, i), lit(1000L)).cast("double") / 1000.0d)
}
