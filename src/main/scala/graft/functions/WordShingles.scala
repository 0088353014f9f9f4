package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native Catalyst expression: DISTINCT word n-gram shingles of a token
 * array — exactly the value of the built-in formulation
 * `DedupTwins.shinglesHof` in the test tree (drop empty/null tokens,
 * join each n-window with a single space, `array_distinct` in
 * first-occurrence order; the spec asserts full array equality, order
 * included), so swapping it into
 * [[graft.ext.Dedup.shingles]] changes no shingle set, signature, bucket,
 * pair or score anywhere.
 *
 * Why a custom Expression (the [[MinHashSignature]] case, found while
 * optimizing q213's twin formulation in r17): the HOF chain — `filter`
 * over the split, `arrays_zip` of n shifted slices, `transform` building
 * a window string per element through interpreted struct-field access,
 * another `filter`, then `array_distinct` — is a per-row interpreted tree
 * walk allocating ~4 intermediate arrays per document, and it sits under
 * EVERY query in the near-dup family (the `sh` table of
 * [[graft.ext.Dedup.nearDuplicatePairs]], the containment posting lists,
 * the contamination screens). This expression takes the ALREADY-SPLIT
 * token array (so `lower`/`split` remain Spark's own codegen'd built-ins,
 * bit-identical by construction) and does one flat pass: skip empties,
 * concat each window once, dedup through a hash set that preserves
 * first-occurrence order — one static call from generated code, zero
 * interpreted lambdas.
 *
 * Null handling mirrors the twin: a NULL token array yields NULL (the
 * twin's chain propagates null end-to-end); null tokens are dropped (the
 * twin's `length(t) > 0` predicate is null on them, and `filter` drops
 * non-true rows); fewer than n surviving tokens yield an empty array.
 */
case class WordShingles(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"graft_shingles needs n >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_shingles requires array<string>, got $t")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "graft_shingles"

  override def nullSafeEval(a: Any): Any =
    WordShingles.compute(a.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"graft.functions.WordShingles$$.MODULE$$.compute($a, $n)")

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

object WordShingles {
  private final val Space = UTF8String.fromString(" ")

  /** One flat pass; called from generated code. */
  def compute(arr: ArrayData, n: Int): ArrayData = {
    val m = arr.numElements()
    // keep non-null, non-empty tokens (the twin's `length(t) > 0` filter)
    val toks = new java.util.ArrayList[UTF8String](m)
    var i = 0
    while (i < m) {
      if (!arr.isNullAt(i)) {
        val t = arr.getUTF8String(i)
        if (t.numBytes() > 0) toks.add(t)
      }
      i += 1
    }
    val t = toks.size()
    if (t < n) return new GenericArrayData(Array.empty[Any])
    // windows in start-position order, first occurrence wins — the
    // twin's `array_distinct` contract
    val seen = new java.util.LinkedHashSet[UTF8String](t * 2)
    var j = 0
    while (j <= t - n) {
      val parts = new Array[UTF8String](n)
      var k = 0
      while (k < n) { parts(k) = toks.get(j + k); k += 1 }
      seen.add(UTF8String.concatWs(Space, parts: _*))
      j += 1
    }
    val out = new Array[Any](seen.size())
    val it = seen.iterator()
    var p = 0
    while (it.hasNext) { out(p) = it.next(); p += 1 }
    new GenericArrayData(out)
  }
}
