package org.apache.spark

/** Lets the benchmark wait until every listener event posted so far has
  * been delivered, so a traced operation's jobs and stages are all in the
  * recorder before its spans are joined with them. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
