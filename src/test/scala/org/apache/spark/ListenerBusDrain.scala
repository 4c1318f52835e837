package org.apache.spark

/** Test access to the SparkContext's listener bus (private to Spark): block
  * until every posted event has reached its listeners, so counts a
  * listener keeps are final when read.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
