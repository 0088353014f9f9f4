package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The built-ins-only formulation of [[SpanDedup]]'s native window key,
  * kept as the twin the spec checks the native expression against. */
object SpanDedupTwins {

  /** Built-in-only formulation of the window key — the engine-agnostic
    * semantics reference [[graft.functions.SpanWindowKeySpec]] pins the
    * native expression against (the graft_shingles twin discipline). */
  private[graft] def windowKeyHof(toks: Column, pos: Column, spanLen: Int): Column =
    unhex(md5(concat_ws(" ", slice(toks, pos.cast("int"), lit(spanLen)))))
}
