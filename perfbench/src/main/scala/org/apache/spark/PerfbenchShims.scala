package org.apache.spark

/** The `private[spark]` hooks the export benchmark needs. */
object PerfbenchShims {
  /** Block until every listener event posted so far has been delivered,
    * so per-export task counters are complete before they are read. */
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Bytes of the JVM heap Spark's storage memory holds right now: cached,
    * shared-scan and checkpoint blocks. */
  def storageMemoryUsed(): Long = SparkEnv.get.memoryManager.storageMemoryUsed
}
