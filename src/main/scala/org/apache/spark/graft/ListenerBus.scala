package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Listener-bus access from inside Spark's package (`listenerBus` is
  * private[spark]): events reach listeners asynchronously, so what a
  * listener saw of some code's jobs is complete only once every event
  * posted so far has been delivered.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
