package org.apache.spark

/** Lets the benchmark wait until every listener event posted so far has
  * been delivered, so the events of one operation are attributed to it
  * before the next operation starts. `listenerBus` is `private[spark]`.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
