package org.apache.spark.graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}

/** Test doorway to the private[spark] listener bus: block until every
  * posted event has reached its listeners, so a listener's job count is
  * final when a spec reads it. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Drain, after posting an event of no meaning to every queue: a queue's
    * dispatch thread holds the last event it delivered until the next one
    * arrives, and the end event of a SQL execution holds its
    * `QueryExecution`, and with it the session. */
  def flush(sc: SparkContext): Unit = {
    sc.listenerBus.post(Flush)
    drain(sc)
  }

  /** Run `f`, returning its result and the number of Spark jobs it
    * started. */
  def countingJobs[T](sc: SparkContext)(f: => T): (T, Int) = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = f
      drain(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  private object Flush extends SparkListenerEvent {
    override protected[spark] def logEvent: Boolean = false
  }
}
