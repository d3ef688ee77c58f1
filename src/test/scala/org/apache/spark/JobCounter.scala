package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block starts. Lives in Spark's package for
  * `listenerBus.waitUntilEmpty`: events post asynchronously, so the count
  * is read once the bus has drained — no sleeping.
  */
object JobCounter {
  def jobsDuring[T](sc: SparkContext)(f: => T): (T, Int) = {
    sc.listenerBus.waitUntilEmpty()
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    sc.addSparkListener(listener)
    try {
      val out = f
      sc.listenerBus.waitUntilEmpty()
      (out, jobs.get())
    } finally sc.removeSparkListener(listener)
  }
}
