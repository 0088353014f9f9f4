package org.apache.spark.testbus

import org.apache.spark.SparkContext

/** Waits until every posted listener event has been delivered, so a spec's
  * listener has seen a finished action in full before its counters are
  * read. The bus is Spark-internal, hence this package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
