package org.apache.spark

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionStart}

/** Counts the Spark jobs and SQL executions a block starts. Lives in
  * Spark's package for `listenerBus.waitUntilEmpty`: events post
  * asynchronously, so the counts are read once the bus has drained — no
  * sleeping.
  */
object JobCounter {

  /** what a block started: each job's job group ("" for none), the
    * SQL executions — one per Dataset action, which Catalyst analyzes,
    * optimizes and plans even when it needs no job (a local relation) —
    * and the file-source scans those executions ran: FileScan nodes of
    * each execution's last (adaptive) plan, where an exchange AQE reused
    * does not scan its input again
    */
  final case class Started(jobGroups: Seq[String], sqlExecutions: Int, fileScans: Int) {
    def jobs: Int = jobGroups.size
  }

  private def fileScans(p: SparkPlanInfo): Int =
    if (p.nodeName == "ReusedExchange") 0
    else (if (p.simpleString.startsWith("FileScan")) 1 else 0) + p.children.map(fileScans).sum

  def during[T](sc: SparkContext)(f: => T): (T, Started) = {
    sc.listenerBus.waitUntilEmpty()
    val groups = new ConcurrentLinkedQueue[String]
    val sql = new AtomicInteger
    val plans = new ConcurrentHashMap[Long, SparkPlanInfo]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty(SparkContext.SPARK_JOB_GROUP_ID))).getOrElse(""))
        ()
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case e: SparkListenerSQLExecutionStart =>
          sql.incrementAndGet(); plans.put(e.executionId, e.sparkPlanInfo); ()
        case e: SparkListenerSQLAdaptiveExecutionUpdate =>
          plans.put(e.executionId, e.sparkPlanInfo); ()
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    try {
      val out = f
      sc.listenerBus.waitUntilEmpty()
      (out, Started(groups.asScala.toSeq, sql.get(),
        plans.values.asScala.map(fileScans).sum))
    } finally sc.removeSparkListener(listener)
  }

  def jobsDuring[T](sc: SparkContext)(f: => T): (T, Int) = {
    val (out, started) = during(sc)(f)
    (out, started.jobs)
  }
}
