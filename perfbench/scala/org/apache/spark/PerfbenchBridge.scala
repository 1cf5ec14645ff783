package org.apache.spark

/** The benchmark reads listener events only after the bus has delivered
  * them; the bus's drain call is package-private to Spark.
  */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
