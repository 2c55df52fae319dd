package org.apache.spark

/** Listener-bus access the benchmark needs from inside Spark's package:
  * events are delivered asynchronously, so a traced op is only complete
  * once every event it posted has reached the listeners.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
