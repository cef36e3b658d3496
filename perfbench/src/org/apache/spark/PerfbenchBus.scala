package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * the traced run waits for every queued event before it reads what its
  * listeners recorded.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
