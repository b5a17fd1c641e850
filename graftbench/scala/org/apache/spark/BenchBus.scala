package org.apache.spark

/** Access to the listener bus, which is private to Spark: the tracer
  * waits for it to empty so every event of an op is seen before the next
  * op starts. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
