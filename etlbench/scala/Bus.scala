package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; waiting for it to drain makes the
  * benchmark's listener counts complete before they are read.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
