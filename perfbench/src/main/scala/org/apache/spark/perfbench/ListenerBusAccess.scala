package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus drain is package-private to Spark; the tracer needs it
  * so every event of an op is counted before the op's figures are read. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
