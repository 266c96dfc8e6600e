package org.apache.spark

/** The benchmark reads its listener counters only after every event of a
  * phase has been delivered. The bus drain that guarantees this is
  * package-private to Spark, hence this one-method bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
