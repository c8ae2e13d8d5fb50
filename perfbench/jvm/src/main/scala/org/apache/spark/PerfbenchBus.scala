package org.apache.spark

/** The one Spark-internal the traced run needs: waiting until every
  * listener event posted so far has been delivered, so the events of an
  * op are attributed to that op before the next one starts. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
