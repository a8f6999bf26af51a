package org.apache.spark

/** The listener bus delivers events on its own thread; a traced
  * iteration is closed only after every event it caused has arrived.
  * `waitUntilEmpty` is package-private to Spark, hence this package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
