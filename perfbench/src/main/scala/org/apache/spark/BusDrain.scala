package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so that
  * listener counters read afterwards cover all the work run so far. The bus
  * is private to Spark's package, hence this one-line bridge.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
