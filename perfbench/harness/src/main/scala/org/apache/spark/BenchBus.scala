package org.apache.spark

/** The listener bus is internal to Spark; the harness only needs to wait
  * until it has delivered every event posted so far.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
