package org.apache.spark

/** Blocks until every listener event posted so far has been delivered,
  * so a test can count the jobs and stages an action ran.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
