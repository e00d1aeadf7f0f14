package org.apache.spark

/** Lets a spec wait until every listener event posted so far has been
  * delivered, so an execution listener has seen every finished action. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
