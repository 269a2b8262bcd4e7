package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * the traced run reads listener-built counters only after every event
  * posted so far has been delivered. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
