package org.apache.spark.sql.graftshim

import org.apache.spark.SparkContext

/** Spark keeps its listener bus package-private; a census reads its
  * listener-built record only after every event posted so far has been
  * delivered. Compiled inside the spark namespace like [[PlanBridge]]. */
object BusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
