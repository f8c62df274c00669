package org.apache.spark

/** Test access to the driver's listener bus, which Spark keeps package-private:
  * listener events arrive asynchronously, so a test that counts them waits
  * here until every posted event has been delivered. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
