package org.apache.spark

/** Test access to the SparkContext's checkpoint dir, which the public
  * API can set but not clear: run `body`, then put the dir back as it
  * was, so a suite that makes the JVM's first reliable checkpoint does
  * not fix the dir for the suites after it.
  */
object CheckpointDirs {
  def restoring[T](sc: SparkContext)(body: => T): T = {
    val saved = sc.checkpointDir
    try body finally sc.checkpointDir = saved
  }
}
