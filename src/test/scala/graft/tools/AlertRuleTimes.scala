package graft.tools

import graft.core.{GridSpec, SampleStore}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.max

/** Times each `ingest_alert` rule as an O7 miss in one JVM, against the
  * store a perfbench run left behind — a per-rule A/B in minutes where
  * ten perfbench pairs take twenty:
  *
  * {{{
  * python3 perfbench/run.py --workload ingest_alert --seed 1 --seconds 15
  * sbt "Test/runMain graft.tools.AlertRuleTimes [passes] [store dir]"
  * }}}
  *
  * The store dir defaults to the one `.perfbench-work/stores/ingest_alert-*`
  * (its `base` and `spill` stores, unioned: the server's samples but for
  * its in-memory ingest buffer). Every read takes a fresh `cacheTag`, so
  * it misses like a read after an ack. Per read it prints the wall time,
  * the Spark jobs and file scans ([[org.apache.spark.JobCounter]]); on the
  * last pass, each rule's three costliest stages ([[StageProfile]]). The
  * first pass is JIT warm-up.
  */
object AlertRuleTimes {
  /** perfbench/loadgen.py `IngestAlert.rules` */
  private val rules = Seq(
    "rule_max" -> "max_over_time(cpu_usage_user[5m]) > 95",
    "rule_avg" -> "avg_over_time(cpu_usage_system[3h])",
    "rule_rate" -> "sum by (region)(rate(net_bytes_total[5m])) > 0",
    "rule_ryw" -> "last_over_time(cpu_usage_idle[20s])",
    "rule_gap" -> "count_over_time(cpu_usage_user[1m]) < 5")

  def main(args: Array[String]): Unit = {
    val passes = args.headOption.map(_.toInt).getOrElse(8)
    val store = args.lift(1).getOrElse(new java.io.File(".perfbench-work/stores").listFiles
      .filter(_.getName.startsWith("ingest_alert-")).head.getPath)
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "3000").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val samples = Seq("base", "spill").map(d => SampleStore.read(spark, s"$store/$d"))
      .reduce(_ unionByName _)
    val at = samples.agg(max("ts")).head.getLong(0) / 60000 * 60000
    var tag = 0
    def read(q: String): Int = {
      tag += 1
      graft.Engine.queryInstantServed(samples, q, GridSpec(at, at, 60000L), cacheTag = s"t$tag")
        .fold(_.collect().length, _.rows.length)
    }
    for (pass <- 1 to passes; (name, q) <- rules) {
      val t0 = System.nanoTime
      val ((rows, started), stages) = StageProfile(spark) {
        org.apache.spark.JobCounter.during(spark.sparkContext)(read(q))
      }
      println(s"pass $pass $name ${(System.nanoTime - t0) / 1000000} ms rows=$rows " +
        s"jobs=${started.jobs} scans=${started.fileScans}")
      if (pass == passes) stages.take(3).foreach(s => println(s"  $s"))
    }
    spark.stop()
  }
}
