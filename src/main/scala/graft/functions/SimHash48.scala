package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/**
 * Native Catalyst expression: the 48-bit SimHash of a token array in one
 * pass — bit j of a token is bit (j % 4) of hex digit (j / 4) of the
 * token's md5, the document bit j is the sign of Σ_tokens (±1), and the
 * packed long carries bit j at position j. Bit-identical to the relational
 * twin (`TextOpsTwins.simhashRelational` in the test tree, spec-asserted),
 * which computes the same thing as explode → per-token md5 → 48 partial
 * sums in a hash aggregate.
 *
 * Why a custom Expression (same SURVEY.md §4 case as [[FloatDotProduct]]):
 * the relational form is correct and scale-safe, but it pays a full
 * exploded-row shuffle (O(tokens) rows into a 48-column aggregate) and
 * extracts each bit with an interpreted instr/substring/shift tree over
 * the md5 HEX STRING — 48 trees per token row. Here the whole document
 * folds in one call: one raw 16-byte md5 per token (thread-local
 * MessageDigest, no hex detour — bits come straight from the digest
 * nibbles), 48 primitive counter bumps per token, zero shuffle. SimHash
 * becomes a narrow projection, so the near-dup pipeline's only shuffle is
 * the (chunk, ckey) candidate join itself.
 *
 * Semantics twin notes: an EMPTY token array yields NULL (the relational
 * form emits no row for a tokenless doc — callers keep dropping those
 * docs, now via `size(tokens) > 0`); a null token element contributes -1
 * to every counter (md5(NULL) is NULL, so the twin's `when(bit === 1, 1)
 * .otherwise(-1)` takes the otherwise branch on all 48 bits).
 */
case class SimHash48(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_simhash requires array<string>, got $t")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash"
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any): Any =
    SimHash48.compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val box = ctx.freshName("sh")
      s"""
         |Object $box = graft.functions.SimHash48$$.MODULE$$.compute($a);
         |if ($box == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ((Long) $box).longValue(); }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash48 =
    copy(child = newChild)
}

object SimHash48 {
  final val Bits = 48

  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** One md5-and-fold pass over the tokens; called from generated code.
    * Returns null (→ SQL NULL) for an empty array. */
  def compute(arr: ArrayData): Any = {
    val n = arr.numElements()
    if (n == 0) return null
    val counts = new Array[Int](Bits)
    val digestIn = md5.get()
    var t = 0
    while (t < n) {
      if (arr.isNullAt(t)) {
        // twin: md5(NULL) → NULL bit → the otherwise(-1) branch, all 48 bits
        var j = 0
        while (j < Bits) { counts(j) -= 1; j += 1 }
      } else {
        digestIn.reset()
        val d = digestIn.digest(arr.getUTF8String(t).getBytes)
        var j = 0
        while (j < Bits) {
          val k = j >> 2 // hex digit index; digit k = nibble k of the digest
          val b = d(k >> 1)
          val nib = if ((k & 1) == 0) (b >> 4) & 0xf else b & 0xf
          counts(j) += (if (((nib >> (j & 3)) & 1) == 1) 1 else -1)
          j += 1
        }
      }
      t += 1
    }
    var packed = 0L
    var j = 0
    while (j < Bits) {
      if (counts(j) > 0) packed |= 1L << j
      j += 1
    }
    java.lang.Long.valueOf(packed)
  }
}
