package org.apache.spark.vbench

import org.apache.spark.SparkContext

/** The listener bus's own drain, which Spark keeps package-private. */
object Bus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
