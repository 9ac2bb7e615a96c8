package org.apache.spark

/** Blocks until every queued listener event is delivered, so a spec's
  * SparkListener has seen all events of the jobs it just ran. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
