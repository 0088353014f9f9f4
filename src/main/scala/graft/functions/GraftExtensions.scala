package graft.functions

import org.apache.spark.sql.SparkSessionExtensions

/**
 * An empty session extension. Native expressions are built as Columns
 * through [[org.apache.spark.sql.GraftColumnBridge]] and have no SQL
 * names, so there is nothing to inject. The class stays only because the
 * benchmark's own session builder (`perfbench/.../Main.scala`) still names
 * it in `spark.sql.extensions`; it goes once that line does.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = ()
}
