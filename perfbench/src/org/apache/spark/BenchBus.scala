package org.apache.spark

/** Reaches the package-private listener bus so the traced run can read
  * its listeners' sums only after every posted event has been delivered.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
