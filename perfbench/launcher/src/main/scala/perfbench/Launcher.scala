package perfbench

import java.lang.management.ManagementFactory
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark server: generates the seeded TSBS cpu-only-style store,
  * starts `graft.api.HttpApi` over it, and serves a small control port
  * beside it.
  *
  * Every sample value is a closed-form integer function of (series,
  * point index), mirrored exactly by `perfbench/gen.py`, so the load
  * generator can check answers without reading the store.
  *
  * Control port (127.0.0.1, ephemeral):
  *   GET /stats  O6/O7 cache counters, buffered rows, JVM GC totals
  *   GET /jobs   drain the Spark job records of the listener (`--listener 1`)
  *   GET /flush  force the ingest buffer into the spill store and wait
  *   GET /reopen stop the API and open a new one over the same store
  * The process runs until it is killed or its stdin closes (the parent
  * has gone).
  */
object Launcher {

  val CpuFields: Seq[String] = Seq("usage_user", "usage_system", "usage_idle",
    "usage_nice", "usage_iowait", "usage_irq", "usage_softirq", "usage_steal",
    "usage_guest", "usage_guest_nice")
  val Regions: Seq[String] = Seq("us-east-1", "us-west-1", "us-west-2",
    "eu-west-1", "eu-central-1", "ap-southeast-1")
  val Les: Seq[String] = Seq("0.05", "0.1", "0.25", "0.5", "1", "2.5", "+Inf")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = a("cores").toInt
    val work = Paths.get(a("work")).toAbsolutePath
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.codegen.cache.maxEntries", "3000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val log = if (a.getOrElse("listener", "0") == "1") {
      val l = new JobLog; spark.sparkContext.addSparkListener(l); Some(l)
    } else None
    val t1 = System.nanoTime()

    // the store is a pure function of its arguments: generated once per
    // build into --store and read in place by later runs; each run gets its
    // own copy of the spill store, which the run's ingests mutate
    val cache = Paths.get(a("store")).toAbsolutePath
    val store = cache.resolve("base").toString
    val spillPoints = a.getOrElse("spill-points", "0").toInt
    val spill = if (spillPoints > 0) Some(work.resolve("spill")) else None
    if (!Files.exists(cache.resolve("base").resolve("_SUCCESS"))) {
      val frame = generate(spark, a("kinds").split(',').toSet, a("hosts").toInt,
        a("points").toInt, a("step-ms").toLong, a("end-ms").toLong)
      // the newest points sit in the spill store as many small files: a
      // facade that has spilled often since its last compaction, so the
      // run's own spills push it over the compaction threshold
      val from = a("end-ms").toLong - (spillPoints - 1L) * a("step-ms").toLong
      if (spill.nonEmpty)
        graft.core.SampleStore.write(
          frame.filter(col("ts") >= from).repartition(a("spill-files").toInt),
          cache.resolve("spill").toString, SaveMode.Overwrite)
      // written last: its _SUCCESS marks the whole cache complete
      graft.core.SampleStore.write(
        if (spill.nonEmpty) frame.filter(col("ts") < from) else frame, store,
        SaveMode.Overwrite)
    }
    spill.foreach(copyTree(cache.resolve("spill"), _))
    val t2 = System.nanoTime()

    // open an API over the store: the part of set-up a restart repeats
    def open(): (graft.api.HttpApi, Int) = {
      val api = new graft.api.HttpApi(spark,
        base = Some(graft.core.SampleStore.read(spark, store)),
        spillDir = spill.map(_.toString),
        spillMaxBufferedRows = a.getOrElse("spill-rows", "500000").toInt)
      (api, api.start(0))
    }
    @volatile var cur = open()
    def api = cur._1

    val ctl = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    def route(path: String)(body: => String): Unit =
      ctl.createContext(path, (ex: HttpExchange) => {
        val b = (try body catch { case e: Exception => s"""{"error":"$e"}""" })
          .getBytes(StandardCharsets.UTF_8)
        ex.getResponseHeaders.set("Content-Type", "application/json")
        ex.sendResponseHeaders(200, b.length)
        ex.getResponseBody.write(b)
        ex.close()
      })
    route("/stats") {
      val (o6e, o6s, o6m) = graft.Engine.cacheStats
      val o7 = graft.Engine.instantCacheStats
      val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      s"""{"o6":[$o6e,$o6s,$o6m],""" +
        s""""o7":[${o7.exactHits},${o7.deltaHits},${o7.misses},${o7.aborts}],""" +
        s""""buffered":${api.bufferedRows},""" +
        s""""gc_ms":${gcs.map(_.getCollectionTime).sum}}"""
    }
    route("/jobs")(log.fold("[]")(_.drain()))
    route("/flush") { api.flushIngested(); api.awaitSpillIdle(); "{}" }
    route("/reopen") {
      api.stop()
      cur = open()
      s"""{"port":${cur._2}}"""
    }
    ctl.start()

    val ready = s"""{"port":${cur._2},"ctl":${ctl.getAddress.getPort},""" +
      s""""session_s":${(t1 - t0) / 1e9},"store_s":${(t2 - t1) / 1e9}}"""
    val tmp = work.resolve("ready.json.tmp")
    Files.write(tmp, ready.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, work.resolve("ready.json"), StandardCopyOption.ATOMIC_MOVE)

    // serve until the parent kills this process or goes away
    try while (System.in.read() >= 0) () catch { case _: java.io.IOException => () }
    System.exit(0)
  }

  /** The store: `cpu` (10 TSBS cpu gauges per host), `counter` (one
    * monotonic counter per host), `hist` (one 7-bucket histogram per
    * host), `graphite` (two dotted-name gauges per host, no tags).
    * Point i of every series sits at `endMs - (points - 1 - i) * stepMs`.
    */
  def generate(spark: SparkSession, kinds: Set[String], hosts: Int, points: Int,
      stepMs: Long, endMs: Long): DataFrame = {
    val startMs = endMs - (points - 1).toLong * stepMs
    // one row per (host, sub-series, point): s = host, j = sub-series index
    def grid(per: Int): DataFrame = spark.range(0L, hosts.toLong * per * points)
      .select(
        expr(s"id div ${per.toLong * points}").as("s"),
        expr(s"pmod(id div $points, $per)").as("j"),
        pmod(col("id"), lit(points.toLong)).as("i"))
    val s = col("s"); val j = col("j"); val i = col("i")
    val ts = (lit(startMs) + i * stepMs).as("ts")
    def pick(xs: Seq[String], idx: Column): Column =
      element_at(array(xs.map(lit): _*), (idx + 1).cast("int"))
    val region = pick(Regions, pmod(s, lit(Regions.size.toLong)))
    val host = concat(lit("host_"), s.cast("string"))
    val hostTags = Seq(
      lit("hostname"), host,
      lit("region"), region,
      lit("datacenter"), concat(region, lit("-"), pick(Seq("a", "b"), pmod(s, lit(2L)))),
      lit("rack"), pmod(s, lit(10L)).cast("string"),
      lit("service"), pmod(s, lit(5L)).cast("string"))
    // gauge(s, m, i), mirrored by gen.py
    def gauge(m: Column): Column = pmod(
      s * 1000003L + m * 7919L + i * 104729L + pmod(i * (s + m + 1L), lit(65521L)) * 31L,
      lit(101L)).cast("double")
    val parts = Seq(
      "cpu" -> (() => grid(CpuFields.size).select(
        concat(lit("cpu_"), pick(CpuFields, j)).as("name"),
        map(hostTags: _*).as("tags"), ts, gauge(j).as("value"))),
      "counter" -> (() => grid(1).select(lit("net_bytes_total").as("name"),
        map(hostTags: _*).as("tags"), ts,
        ((pmod(s, lit(20L)) + 11L) * i + pmod(i * 37L + s, lit(11L)))
          .cast("double").as("value"))),
      "hist" -> (() => grid(Les.size).select(
        lit("http_request_duration_seconds_bucket").as("name"),
        map(hostTags ++ Seq(lit("le"), pick(Les, j)): _*).as("tags"), ts,
        (i * expr("aggregate(sequence(0L, j), 0L, (acc, b) -> acc + 1L + pmod(s + b, 4L))"))
          .cast("double").as("value"))),
      "graphite" -> (() => grid(2).select(
        concat(lit("servers."), region, lit("."), host, lit(".cpu."), pick(CpuFields, j)).as("name"),
        typedLit(Map.empty[String, String]).as("tags"), ts, gauge(j).as("value"))))
    parts.collect { case (k, f) if kinds(k) => f() }.reduce(_ unionByName _)
  }

  private def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
    val paths = Files.walk(from)
    try paths.forEach(p => Files.copy(p, to.resolve(from.relativize(p))))
    finally paths.close()
  }

  /** Per-job Spark work, attributed by the job group the HTTP facade's
    * per-request deadline sets; `/jobs` drains the finished records.
    */
  final class JobLog extends SparkListener {
    private final class Rec(val id: Int, val group: String, val site: String,
        val submitMs: Long) {
      var endMs = 0L; var stages = 0; var tasks = 0L; var taskMs = 0L; var maxTaskMs = 0L
      var shuffleWrite = 0L; var spill = 0L; var gcMs = 0L; var inRows = 0L; var inBytes = 0L
      def json: String =
        s"""{"id":$id,"group":${graft.api.Json.str(String.valueOf(group))},""" +
          s""""site":${graft.api.Json.str(String.valueOf(site))},"submit":$submitMs,""" +
          s""""end":$endMs,"stages":$stages,"tasks":$tasks,"task_ms":$taskMs,""" +
          s""""max_task_ms":$maxTaskMs,"shuffle_write":$shuffleWrite,"spill":$spill,""" +
          s""""gc_ms":$gcMs,"in_rows":$inRows,"in_bytes":$inBytes}"""
    }
    private val live = new java.util.concurrent.ConcurrentHashMap[Int, Rec]
    private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Rec]
    private val finished = new java.util.concurrent.ConcurrentLinkedQueue[String]

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val r = new Rec(e.jobId, p.map(_.getProperty("spark.jobGroup.id")).orNull,
        p.map(_.getProperty("callSite.short")).orNull, e.time)
      live.put(e.jobId, r)
      e.stageIds.foreach(stageJob.putIfAbsent(_, r))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageJob.get(e.stageInfo.stageId)).foreach(r => r.synchronized(r.stages += 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (r <- Option(stageJob.get(e.stageId)); m <- Option(e.taskMetrics)) r.synchronized {
        r.tasks += 1
        r.taskMs += m.executorRunTime
        r.maxTaskMs = math.max(r.maxTaskMs, m.executorRunTime)
        r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        r.gcMs += m.jvmGCTime
        r.inRows += m.inputMetrics.recordsRead
        r.inBytes += m.inputMetrics.bytesRead
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(live.remove(e.jobId)).foreach { r =>
        r.synchronized { r.endMs = e.time; finished.add(r.json) }
      }

    def drain(): String = {
      val out = Iterator.continually(finished.poll()).takeWhile(_ != null).toSeq
      out.mkString("[", ",", "]")
    }
  }
}
