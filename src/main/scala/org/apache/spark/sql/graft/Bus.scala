package org.apache.spark.sql.graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a body starts. Listener events reach listeners
  * asynchronously, and only code in package `org.apache.spark` can wait
  * for them, so the count drains the bus before the body and again before
  * it reads what its listener heard. */
object Bus {
  def jobsOf(sc: SparkContext)(body: => Unit): Int = {
    val started = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet(): Unit
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try { body; sc.listenerBus.waitUntilEmpty(); started.get }
    finally sc.removeSparkListener(listener)
  }
}
