package org.apache.spark

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Counts the Spark jobs and SQL executions a block starts. Lives in
  * Spark's package for `listenerBus.waitUntilEmpty`: events post
  * asynchronously, so the counts are read once the bus has drained — no
  * sleeping.
  */
object JobCounter {

  /** what a block started: each job's job group ("" for none), and the
    * SQL executions — one per Dataset action, which Catalyst analyzes,
    * optimizes and plans even when it needs no job (a local relation)
    */
  final case class Started(jobGroups: Seq[String], sqlExecutions: Int) {
    def jobs: Int = jobGroups.size
  }

  def during[T](sc: SparkContext)(f: => T): (T, Started) = {
    sc.listenerBus.waitUntilEmpty()
    val groups = new ConcurrentLinkedQueue[String]
    val sql = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty(SparkContext.SPARK_JOB_GROUP_ID))).getOrElse(""))
        ()
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => sql.incrementAndGet(); ()
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    try {
      val out = f
      sc.listenerBus.waitUntilEmpty()
      (out, Started(groups.asScala.toSeq, sql.get()))
    } finally sc.removeSparkListener(listener)
  }

  def jobsDuring[T](sc: SparkContext)(f: => T): (T, Int) = {
    val (out, started) = during(sc)(f)
    (out, started.jobs)
  }
}
