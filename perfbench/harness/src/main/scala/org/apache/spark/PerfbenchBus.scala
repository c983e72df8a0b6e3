package org.apache.spark

/** The listener bus delivers events asynchronously; the benchmark reads its
  * per-op counters only after every event of the op has been delivered.
  * `waitUntilEmpty` is package-private to Spark, hence this forwarder. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
