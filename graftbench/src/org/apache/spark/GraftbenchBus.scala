package org.apache.spark

/** Lets the benchmark wait until every posted listener event has been
  * delivered, so per-span Spark counters are complete before they are
  * read. The listener bus is `private[spark]`. */
object GraftbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(120000L)
}
