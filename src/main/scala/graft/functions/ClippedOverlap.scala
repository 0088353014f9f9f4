package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native Catalyst expression: CLIPPED multiset-intersection size of the
 * order-`n` gram multisets of two token arrays —
 * `Σ_g min(cnt_a(g), cnt_b(g))` over space-joined n-token windows, the
 * ROUGE-N numerator (Lin 2004). At `n = 1` the grams are the tokens
 * themselves.
 *
 * Why a custom Expression (the SURVEY.md §4 case, same rationale as
 * [[TopBigramCount]]): both token arrays already sit IN THE SAME ROW for
 * every caller (the pair frame carries both sides), so the clip is a
 * per-row computation — yet the declarative formulation had to build
 * both gram arrays through interpreted higher-order-function chains
 * (`transform`+`slice`+`array_join` are CodegenFallback — evaluated
 * once per USE, excluded from both whole-stage codegen and
 * subexpression elimination), explode them to (pair, gram) rows,
 * shuffle the whole gram multiset on the pair key, aggregate twice and
 * join back. Bench: the q274 corpus audit spent ~9 s at sf0.1 — the
 * sweep's slowest entry — almost entirely in the HOF gram chains. This
 * expression is two hash passes per row over the raw token arrays —
 * O(n·(|a|+|b|)) time, one transient map, zero gram arrays
 * materialized — and the surrounding stage stays fused in whole-stage
 * codegen: no HOF, no explode, no shuffle, no join.
 *
 * Gram semantics are pinned bit-equal to a brute-force reference
 * (spec-fuzzed): a window's key is
 * its tokens joined by a single space with NULL tokens SKIPPED (the
 * `array_join` convention), and a side shorter than `n` tokens has no
 * grams. Either ARRAY null → NULL (BinaryExpression null-intolerance).
 * Symmetric in its arguments.
 */
case class ClippedOverlap(left: Expression, right: Expression, n: Int)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        if (n >= 1 && n <= 8) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          s"graft_clipped_overlap gram order must be in [1, 8], got $n")
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_clipped_overlap requires two array<string> columns, got ($l, $r)")
    }

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_clipped_overlap"

  override def nullSafeEval(a: Any, b: Any): Any =
    ClippedOverlap.compute(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.ClippedOverlap$$.MODULE$$.compute($a, $b, $n)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ClippedOverlap =
    copy(left = newLeft, right = newRight)
}

object ClippedOverlap {

  /** Gram key of the window starting at `i`: tokens `i..i+n-1` joined
    * by one space, nulls skipped within a window — byte-for-byte the
    * `array_join` convention the declarative twin uses. At n = 1 a
    * null TOKEN yields a null key (callers skip it — a null gram never
    * matches anything). */
  private def gramAt(arr: ArrayData, i: Int, n: Int): UTF8String = {
    if (n == 1) {
      if (arr.isNullAt(i)) null else arr.getUTF8String(i)
    } else {
      val sb = new java.lang.StringBuilder(32)
      var j = 0
      var first = true
      while (j < n) {
        if (!arr.isNullAt(i + j)) {
          if (!first) sb.append(' ')
          sb.append(arr.getUTF8String(i + j).toString)
          first = false
        }
        j += 1
      }
      UTF8String.fromString(sb.toString)
    }
  }

  /** Count the smaller side's grams into a map, drain with the larger;
    * called from generated code. Transient memory is bounded by
    * min(gram counts). */
  def compute(a: ArrayData, b: ArrayData, n: Int): Long = {
    val ga = a.numElements() - n + 1
    val gb = b.numElements() - n + 1
    if (ga <= 0 || gb <= 0) return 0L
    val (small, ns, large, nl) = if (ga <= gb) (a, ga, b, gb) else (b, gb, a, ga)
    val counts = new java.util.HashMap[UTF8String, java.lang.Long](ns * 2)
    var i = 0
    while (i < ns) {
      val k = gramAt(small, i, n)
      if (k != null) {
        val prev = counts.get(k)
        counts.put(k, if (prev == null) 1L else prev + 1L)
      }
      i += 1
    }
    var clip = 0L
    var j = 0
    while (j < nl && !counts.isEmpty) {
      val k = gramAt(large, j, n)
      val c = if (k == null) null else counts.get(k)
      if (c != null) {
        clip += 1L
        if (c.longValue() == 1L) counts.remove(k)
        else counts.put(k, c - 1L)
      }
      j += 1
    }
    clip
  }
}
