package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private: the
  * traced run must read listener totals only after every event of its
  * window has been delivered.
  */
object RagbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
