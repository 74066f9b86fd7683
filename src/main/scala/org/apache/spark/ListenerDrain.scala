package org.apache.spark

/** Blocks until every listener event posted so far has been delivered,
  * so a caller can count the jobs and stages an action ran (specs'
  * `jobsOf`, `graft.Probe`'s per-layer counts).
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
