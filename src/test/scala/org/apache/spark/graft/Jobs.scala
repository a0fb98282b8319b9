package org.apache.spark.graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block starts. Listener events arrive
  * asynchronously, so the count waits on the `private[spark]` listener
  * bus until every event posted so far has been delivered.
  */
object Jobs {
  def count(sc: SparkContext)(body: => Unit): Int = {
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        n.incrementAndGet(): Unit
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(l)
    try {
      body
      sc.listenerBus.waitUntilEmpty()
      n.get
    } finally sc.removeSparkListener(l)
  }
}
