package org.apache.spark

/** Test access to the listener bus: listener events post
  * asynchronously, and a job count is only exact once every event
  * posted so far has been delivered. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
