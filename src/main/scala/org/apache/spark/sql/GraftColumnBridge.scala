package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/**
 * Column ⇄ Expression bridge: the one way a graft native expression gets
 * into a plan. A caller builds the case class from typed Scala values —
 * `column(MarkerHits(expression(toks), markers))` — so arity and
 * literal-ness are checked by the compiler, and each expression's own
 * `require`s check the values. The same carrier takes the runtime
 * objects no SQL argument could hold: the `Broadcast` handles of
 * [[graft.functions.IvfNearestCellsBc]] and [[graft.functions.VocabEncodeBc]],
 * and the catalog-free `ScalarSubquery` in [[graft.ext.Contamination]]
 * (built directly on an analyzed plan, so no per-call temp view
 * accumulates in the session catalog).
 *
 * Lives in `org.apache.spark.sql` because the canonical helpers
 * (`classic.ExpressionUtils.column/expression`) are `private[sql]` in
 * Spark 4 — the same placement extension libraries that build typed
 * Columns use. Nothing here adds behavior: both methods delegate
 * verbatim.
 */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
