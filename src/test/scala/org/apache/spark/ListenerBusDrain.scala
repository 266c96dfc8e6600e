package org.apache.spark

/** Specs that count listener events read them only after every event
  * posted so far has been delivered. The bus drain that guarantees this
  * is package-private to Spark, hence this one-method bridge. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
