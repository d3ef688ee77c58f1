package graft.api

import java.util.concurrent.{ScheduledThreadPoolExecutor, TimeUnit}

import org.apache.spark.sql.SparkSession

/** Per-request query deadline (app/vmselect/searchutil/searchutil.go:21-43):
  * the `timeout` arg, clamped to the 30 s `-search.maxQueryDuration`
  * default (non-positive or oversized values fall back to the max).
  *
  * Enforcement is Spark-native: every job the request starts runs in a
  * dedicated job group, and a timer cancels the group (interrupting its
  * tasks) when the deadline fires — a runaway query frees its executors
  * instead of holding the cluster. A deadline that fires mid-stream
  * truncates the chunked response, exactly the failure mode of the
  * reference's bufferedwriter when its deadline trips.
  */
object QueryDeadline {

  val MaxQueryDurationMs = 30000L

  /** searchutil.GetMaxQueryDuration clamping */
  def clamp(requestedMs: Option[Long]): Long = requestedMs match {
    case Some(ms) if ms > 0 && ms <= MaxQueryDurationMs => ms
    case _ => MaxQueryDurationMs
  }

  // one daemon timer thread for every request's deadline; a cancelled
  // deadline leaves the queue at once instead of waiting out its delay
  private val timer = {
    val t = new ScheduledThreadPoolExecutor(1, (r: Runnable) => {
      val th = new Thread(r, "graft-query-deadline"); th.setDaemon(true); th
    })
    t.setRemoveOnCancelPolicy(true)
    t
  }

  def run[T](spark: SparkSession, timeoutMs: Long)(body: => T): T = {
    val sc = spark.sparkContext
    val group = "graft-deadline-" + java.util.UUID.randomUUID()
    sc.setJobGroup(group, s"query deadline ${timeoutMs}ms", interruptOnCancel = true)
    // Re-fire the cancel until the request finishes: a single cancel can
    // race job submission on a loaded driver (observed: the cancel event
    // processed between two AQE stage jobs left the next stage running to
    // completion), and cancelJobGroupAndFutureJobs is idempotent, so the
    // next tick reaps anything that slipped through.
    val fire = timer.scheduleAtFixedRate(
      () => sc.cancelJobGroupAndFutureJobs(group), timeoutMs, 250L, TimeUnit.MILLISECONDS)
    try body
    finally {
      fire.cancel(false)
      sc.clearJobGroup()
    }
  }
}
