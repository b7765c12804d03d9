package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Lets the harness wait for Spark's asynchronous listener bus to drain
  * before it reads what its listeners recorded (the bus is
  * `private[spark]`).
  */
object ListenerBusAccess {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
