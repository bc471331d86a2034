package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * a traced run waits for every queued event before reading its counts. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
