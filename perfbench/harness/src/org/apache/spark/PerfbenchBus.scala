package org.apache.spark

/** The listener bus drain the traced run needs between queries: every
  * listener event a query caused has been delivered before its ledger
  * row is read. `listenerBus` is package-private to Spark, hence the
  * package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(120000L)
}
