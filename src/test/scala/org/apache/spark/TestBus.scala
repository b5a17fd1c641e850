package org.apache.spark

/** Access to the listener bus, which is private to Spark: a test that
  * counts listener events waits for it to empty before it reads them. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
