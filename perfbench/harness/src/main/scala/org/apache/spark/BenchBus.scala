package org.apache.spark

/** The listener bus delivers events asynchronously; the benchmark reads
  * its listener-side counters only after every posted event is handled.
  * `waitUntilEmpty` is package-private to Spark, hence this file's
  * package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
