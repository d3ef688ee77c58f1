package graft.tools

import java.util.concurrent.CountDownLatch
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Per-stage task profile of the Spark jobs one block runs, each stage
  * named by the operators it runs (the Spark UI's DAG scopes). `skew` is
  * maxTask × tasks / sumTask: ≫ 1 on a merge stage means one hot key
  * serialized it. The block runs in its own job group; Spark posts a job's
  * end before its action returns, so the listener sees a one-task fence
  * job started afterwards last, and its end completes the profile.
  */
object StageProfile {
  final case class Stage(id: Int, name: String, tasks: Int = 0, sumMs: Long = 0L,
      maxMs: Long = 0L, spillBytes: Long = 0L) {
    def skew: Double = if (sumMs > 0) maxMs.toDouble * tasks / sumMs else 0.0
    override def toString: String = f"stage $id%5d: tasks=$tasks%4d sum=${sumMs / 1e3}%8.2fs " +
      f"max=${maxMs / 1e3}%6.2fs skew=$skew%5.1f spill=${spillBytes / 1e6}%.0fMB $name"
  }

  /** `f`'s result and the stages its jobs ran, largest summed task time first */
  def apply[A](spark: SparkSession)(f: => A): (A, Seq[Stage]) = {
    val sc = spark.sparkContext
    val group = "stageprofile-" + java.util.UUID.randomUUID()
    val done = new CountDownLatch(1)
    @volatile var profile = Seq.empty[Stage]
    val listener = new SparkListener { // every callback runs on one bus thread
      private val stages = mutable.HashMap[Int, Stage]()
      private var fenceJob = -1
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => e.stageInfos.foreach(s => stages.getOrElseUpdate(s.stageId,
            Stage(s.stageId, s.rddInfos.sortBy(_.id).flatMap(_.scope.map(_.name.trim)).distinct
              .mkString(" < ").take(100))))
          case Some(g) if g == s"$group-fence" => fenceJob = e.jobId
          case _ =>
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = stages.get(e.stageId).foreach { s =>
        val d = e.taskInfo.duration
        stages(e.stageId) = s.copy(tasks = s.tasks + 1, sumMs = s.sumMs + d, maxMs = s.maxMs.max(d),
          spillBytes = s.spillBytes + Option(e.taskMetrics).fold(0L)(_.memoryBytesSpilled))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = if (e.jobId == fenceJob) {
        profile = stages.values.filter(_.tasks > 0).toVector.sortBy(-_.sumMs)
        done.countDown()
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "stage profile")
      val result = try f finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-fence", "stage profile fence")
      try sc.parallelize(Seq(0), 1).count() finally sc.clearJobGroup()
      done.await()
      (result, profile)
    } finally sc.removeSparkListener(listener)
  }
}
