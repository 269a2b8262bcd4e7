package org.apache.spark

/** Waits until every listener event posted so far has been delivered; the
  * listener bus drain is package-private in Spark. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
