package org.apache.spark

/** Waits until every posted listener event has been delivered, so counts
  * read after a run are complete. `listenerBus` is package-private.
  */
object BenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
