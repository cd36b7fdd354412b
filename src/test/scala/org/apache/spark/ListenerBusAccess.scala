package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Test access to the listener bus: listener events post
  * asynchronously, and a job count is only exact once every event
  * posted so far has been delivered. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Spark jobs started while `body` runs */
  def jobsOf(sc: SparkContext)(body: => Unit): Int = {
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    drain(sc)
    sc.addSparkListener(l)
    try { body; drain(sc); jobs.get }
    finally sc.removeSparkListener(l)
  }
}
