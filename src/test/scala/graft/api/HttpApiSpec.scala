package graft.api

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** End-to-end HTTP round trip: ingest over POST, query over GET, matching
  * the Prometheus response envelope (app/vmselect/main.go routes).
  */
class HttpApiSpec extends SparkSpec {

  private def get(port: Int, pathAndQuery: String): String = {
    val client = HttpClient.newHttpClient()
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$pathAndQuery")).GET().build()
    client.send(req, HttpResponse.BodyHandlers.ofString()).body()
  }

  private def post(port: Int, path: String, body: String): Int = {
    val client = HttpClient.newHttpClient()
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build()
    client.send(req, HttpResponse.BodyHandlers.ofString()).statusCode()
  }

  test("ingest -> query_range -> query -> series/labels over HTTP") {
    val api = new HttpApi(spark)
    val port = api.start()
    try {
      // prometheus text import: 3 points on a 60s grid
      val rc = post(port, "/api/v1/import/prometheus",
        """m{job="api"} 10 60
          |m{job="api"} 20 120
          |m{job="api"} 35 180
          |""".stripMargin)
      assert(rc == 204)
      // VM JSON-lines import of a second series
      assert(post(port, "/api/v1/import",
        """{"metric":{"__name__":"n","job":"web"},"values":[5],"timestamps":[120000]}""") == 204)

      val range = get(port,
        "/api/v1/query_range?query=m&start=60&end=180&step=60")
      assert(range.contains(""""status":"success""""))
      assert(range.contains(""""resultType":"matrix""""))
      assert(range.contains(""""__name__":"m""""))
      assert(range.contains(""""job":"api""""))
      assert(range.contains("""[60.0,"10"]""") && range.contains("""[180.0,"35"]"""))

      val inst = get(port, "/api/v1/query?query=sum(m)&time=180")
      assert(inst.contains(""""resultType":"vector""""))
      assert(inst.contains(""""value":[180.0,"35"]"""))

      val series = get(port, "/api/v1/series?start=0&end=1000")
      assert(series.contains(""""__name__":"m"""") && series.contains(""""__name__":"n""""))
      val labels = get(port, "/api/v1/labels")
      assert(labels.contains("\"job\"") && labels.contains("\"__name__\""))
      val lv = get(port, "/api/v1/label/job/values")
      assert(lv.contains("\"api\"") && lv.contains("\"web\""))
      // match[]-scoped labels API (prometheus.go getCommonParamsForLabelsAPI)
      val lvScoped = get(port, "/api/v1/label/job/values?match[]=n")
      assert(lvScoped.contains("\"web\"") && !lvScoped.contains("\"api\""))
      val lim = get(port, "/api/v1/label/job/values?limit=1")
      assert(lim == """{"status":"success","data":["api"]}""")

      // export returns json-lines containing both points
      val export = get(port, "/api/v1/export?match[]=m")
      assert(export.contains("\"m\"") && export.contains("60000"))

      // misaligned end (not a whole number of steps past start) must not
      // crash the bucketize sequence (round-7 Grid fix): the last grid
      // point is 150s, the 180s sample belongs to no window (its value is
      // matched quoted: the unquoted stats field executionTimeMsec may hold "35")
      val misaligned = get(port, "/api/v1/query_range?query=m&start=60&end=171&step=30")
      assert(misaligned.contains(""""status":"success""""))
      assert(misaligned.contains("""[120.0,"20"]""") && !misaligned.contains("\"35\""))

      // error envelope on a bad query
      val bad = get(port, "/api/v1/query_range?query=bogus(((&start=0&end=60&step=60")
      assert(bad.contains(""""status":"error""""))
      // compat placeholder
      assert(get(port, "/api/v1/status/buildinfo").contains("2.24.0"))
    } finally api.stop()
  }

  test("active_queries shows in-flight queries; top_queries ranks completed ones") {
    QueryStats.reset()
    // in-flight: visible from inside the tracked closure
    QueryStats.track("rate(m[5m])", 60000L, 180000L, 60000L, "1.2.3.4") {
      val aq = QueryStats.activeQueriesJson()
      assert(aq.contains(""""query":"rate(m[5m])""""))
      assert(aq.contains(""""start":60000,"end":180000,"step":60000"""))
      assert(aq.contains(""""remote_addr":"1.2.3.4""""))
    }
    // completed: gone from active, present in the ring
    assert(QueryStats.activeQueriesJson() == """{"status":"ok","data":[]}""")

    val api = new HttpApi(spark)
    val port = api.start()
    try {
      assert(post(port, "/api/v1/import/prometheus",
        """m{job="api"} 10 60
          |""".stripMargin) == 204)
      get(port, "/api/v1/query?query=m&time=60")
      get(port, "/api/v1/query?query=m&time=60")
      get(port, "/api/v1/query_range?query=sum(m)&start=60&end=180&step=60")
      val top = get(port, "/api/v1/status/top_queries")
      // instant query ran twice → count 2, range query once
      assert(top.contains(""""query":"m","timeRangeSeconds":0,"count":2"""))
      assert(top.contains(""""query":"sum(m)","timeRangeSeconds":120"""))
      assert(top.contains(""""topByAvgDuration":["""))
      assert(top.contains(""""topBySumDuration":["""))
      assert(top.contains(""""search.queryStats.minQueryMemoryUsage":"0""""))
      assert(top.contains(""""topByAvgMemoryUsage":["""))
      assert(top.contains(""""avgMemoryBytes":0"""))
      // nothing in flight once the responses are done
      assert(get(port, "/api/v1/status/active_queries") ==
        """{"status":"ok","data":[]}""")
      // maxLifetime=0 filters everything out
      val empty = get(port, "/api/v1/status/top_queries?maxLifetime=1ms&topN=5")
      assert(empty.contains(""""topByCount":[]""") || !empty.contains(""""query":"m""""))
    } finally api.stop()
  }

  test("top_queries averages durations in float ms, not integer division") {
    QueryStats.reset()
    // four runs of 100,101,101,101 ms → avg 100.75 ms; integer Long
    // division would floor to 100 ms and render 0.1
    val now = 1000000L
    Seq(100L, 101L, 101L, 101L).foreach(d =>
      QueryStats.register("q", 60000L, now - d, now))
    val top = QueryStats.topQueriesJson(5, 10 * 60 * 1000L, now)
    assert(top.contains(""""avgDurationSeconds":0.101,"count":4"""))
    QueryStats.reset()
  }

  test("series/count, status/tsdb, federate, export/csv, delete_series") {
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    val api = new HttpApi(spark)
    val port = api.start()
    try {
      assert(post(port, "/api/v1/import/prometheus",
        """m{job="api"} 10 60
          |m{job="api"} 20 120
          |n{job="web"} 5 120
          |""".stripMargin) == 204)

      assert(get(port, "/api/v1/series/count") ==
        """{"status":"success","data":[2]}""")

      val tsdb = get(port, "/api/v1/status/tsdb?topN=5&focusLabel=job")
      assert(tsdb.contains(""""totalSeries":2"""))
      assert(tsdb.contains(""""totalLabelValuePairs":4"""))
      assert(tsdb.contains(
        """"seriesCountByMetricName":[{"name":"m","value":1},{"name":"n","value":1}]"""))
      assert(tsdb.contains(
        """"seriesCountByFocusLabelValue":[{"name":"api","value":1},{"name":"web","value":1}]"""))
      assert(tsdb.contains("""{"name":"job=api","value":1}"""))
      assert(tsdb.contains(
        """"labelValueCountByLabelName":[{"name":"__name__","value":2},{"name":"job","value":2}]"""))

      // federate: ONE line per matching series — the latest sample
      val fed = get(port, "/federate?match[]=m&start=0&end=1000")
      assert(fed == "m{job=\"api\"} 20.0 120000\n")

      val csv = get(port, "/api/v1/export/csv?match[]=m&start=0&end=1000&format=" +
        enc("__name__,job,__value__,__timestamp__:unix_s"))
      assert(csv ==
        "__name__,job,__value__,__timestamp__:unix_s\nm,api,10.0,60\nm,api,20.0,120\n")
      val rfc = get(port, "/api/v1/export/csv?match[]=n&start=0&end=1000&format=" +
        enc("__timestamp__:rfc3339"))
      assert(rfc == "__timestamp__:rfc3339\n1970-01-01T00:02:00Z\n")
      assert(get(port, "/api/v1/export/csv").contains("missing `format` arg"))

      // delete: start/end rejected, then write→delete→query is empty
      assert(get(port, "/api/v1/admin/tsdb/delete_series?match[]=m&start=0")
        .contains("aren't supported"))
      assert(post(port,
        "/api/v1/admin/tsdb/delete_series?match[]=" + enc("""m{job="api"}"""), "") == 204)
      val after = get(port, "/api/v1/query?query=m&time=120")
      assert(after.contains(""""result":[]"""))
      assert(get(port, "/api/v1/series/count") ==
        """{"status":"success","data":[1]}""")
    } finally api.stop()
  }

  test("native export/import roundtrip and opentsdb http put") {
    val api = new HttpApi(spark)
    val port = api.start()
    try {
      // opentsdb http: single object (sec ts, string value) and array form
      assert(post(port, "/api/put",
        """{"metric":"otsdb.m","timestamp":60,"value":"4.5","tags":{"host":"h1"}}""") == 204)
      assert(post(port, "/api/put",
        """[{"metric":"otsdb.m","timestamp":120,"value":6.5,"tags":{"host":"h1"}},
           |{"metric":"otsdb.n","value":1}]""".stripMargin) == 204)
      val q = get(port, "/api/v1/query_range?query=" +
        java.net.URLEncoder.encode("otsdb.m", "UTF-8") + "&start=60&end=120&step=60")
      assert(q.contains(""""4.5"""") && q.contains(""""6.5"""") &&
        q.contains(""""host":"h1""""))

      // native export: parquet bytes that roundtrip into a fresh instance
      val client = HttpClient.newHttpClient()
      val bytes = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:$port/api/v1/export/native?match[]=" +
            java.net.URLEncoder.encode("otsdb.m", "UTF-8") + "&start=0&end=1000")).GET().build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(bytes.headers().firstValue("Content-Type").orElse("") ==
        "application/octet-stream")
      assert(new String(bytes.body().take(4), "ISO-8859-1") == "PAR1") // parquet magic

      val api2 = new HttpApi(spark)
      val port2 = api2.start()
      try {
        assert(client.send(
          HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port2/api/v1/import/native"))
            .POST(HttpRequest.BodyPublishers.ofByteArray(bytes.body())).build(),
          HttpResponse.BodyHandlers.ofString()).statusCode() == 204)
        val q2 = get(port2, "/api/v1/query_range?query=" +
          java.net.URLEncoder.encode("otsdb.m", "UTF-8") + "&start=60&end=120&step=60")
        assert(q2.contains(""""4.5"""") && q2.contains(""""6.5""""))
        // only the matched series crossed over
        assert(get(port2, "/api/v1/series/count") ==
          """{"status":"success","data":[1]}""")
      } finally api2.stop()
    } finally api.stop()
  }

  test("spillDir makes acked writes durable across a facade restart; buffer stays bounded") {
    val dir = java.nio.file.Files.createTempDirectory("httpspill").toString
    val api = new HttpApi(spark, spillDir = Some(dir), spillMaxBufferedRows = 2)
    val port = api.start()
    try {
      // 3 rows in one ack crosses the 2-row threshold → spilled to parquet
      assert(post(port, "/api/v1/import/prometheus",
        """m{job="api"} 10 60
          |m{job="api"} 20 120
          |m{job="api"} 35 180
          |""".stripMargin) == 204)
      api.awaitSpillIdle() // spills run on the background thread now
      assert(api.bufferedRows == 0, s"buffer not drained: ${api.bufferedRows}")
      assert(new java.io.File(dir).listFiles().exists(_.getName.startsWith("date=")),
        "spill must land as a date-partitioned store")
      // spilled rows still serve on the SAME facade
      val r = get(port, "/api/v1/query_range?query=m&start=60&end=180&step=60")
      assert(r.contains("""[60.0,"10"]""") && r.contains("""[180.0,"35"]"""))
      // a sub-threshold tail stays buffered (the hot tail)…
      assert(post(port, "/api/v1/import/prometheus", "m{job=\"api\"} 50 240\n") == 204)
      assert(api.bufferedRows == 1)
      val r2 = get(port, "/api/v1/query?query=m&time=240")
      assert(r2.contains(""""value":[240.0,"50"]"""))
    } finally api.stop() // …and a clean shutdown drains it
    // restart over the same spillDir: every acked row is still queryable —
    // the property the unspilled facade (driver ArrayBuffer) cannot give
    val api2 = new HttpApi(spark, spillDir = Some(dir))
    val port2 = api2.start()
    try {
      val r = get(port2, "/api/v1/query_range?query=m&start=60&end=240&step=60")
      assert(r.contains("""[60.0,"10"]""") && r.contains("""[180.0,"35"]""") &&
        r.contains("""[240.0,"50"]"""), r)
    } finally api2.stop()
  }

  test("size-triggered spills run off the request thread; file count stays bounded") {
    val dir = java.nio.file.Files.createTempDirectory("httpspill_bg").toString
    val api = new HttpApi(spark, spillDir = Some(dir), spillMaxBufferedRows = 2)
    val gate = new java.util.concurrent.CountDownLatch(1)
    api.spillGate = gate
    api.spillCompactFileThreshold = 6
    val port = api.start()
    try {
      // the POST crosses the threshold and acks while the spill waits on
      // its closed gate — a synchronous spill would never ack
      assert(post(port, "/api/v1/import/prometheus",
        """bg{job="a"} 1 60
          |bg{job="a"} 2 120
          |bg{job="a"} 3 180
          |""".stripMargin) == 204)
      assert(api.bufferedRows == 3,
        "ingest must ack before the background spill drains the buffer")
      gate.countDown()
      api.awaitSpillIdle()
      assert(api.bufferedRows == 0, "background spill must eventually drain")
      // many spills on one long-running facade: the background compactor
      // keeps the spill store's data-file count bounded
      for (i <- 1 to 12) {
        assert(post(port, "/api/v1/import/prometheus",
          s"""bg{job="a"} ${10 + i} ${200 + i * 60}
             |bg{job="a"} ${20 + i} ${240 + i * 60}
             |""".stripMargin) == 204)
        api.awaitSpillIdle()
      }
      assert(api.spillDataFileCount(dir) <= api.spillCompactFileThreshold,
        s"compaction must bound spill files, got ${api.spillDataFileCount(dir)}")
      // nothing lost across spills + compactions
      val r = get(port, "/api/v1/query?query=count_over_time(bg[2h])&time=7200")
      assert(r.contains("\"27\""), r) // 3 + 12×2 samples
    } finally api.stop()
    // and a restart still serves everything acked
    val api2 = new HttpApi(spark, spillDir = Some(dir))
    val port2 = api2.start()
    try {
      val r = get(port2, "/api/v1/query?query=count_over_time(bg[2h])&time=7200")
      assert(r.contains("\"27\""), r)
    } finally api2.stop()
  }

  test("acked deletes survive a facade restart over the same spillDir") {
    val dir = java.nio.file.Files.createTempDirectory("httpspill_del").toString
    val api = new HttpApi(spark, spillDir = Some(dir), spillMaxBufferedRows = 2)
    val port = api.start()
    try {
      assert(post(port, "/api/v1/import/prometheus",
        """dm{job="x"} 1 60
          |dn{job="x"} 2 60
          |dg{job="x"} 3 60
          |""".stripMargin) == 204)
      api.awaitSpillIdle()
      // prometheus delete_series + graphite delSeries, both acked
      assert(post(port, "/api/v1/admin/tsdb/delete_series?match[]=dm", "") == 204)
      assert(post(port, "/tags/delSeries?path=dg;job=x", "") == 200)
      val r = get(port, "/api/v1/series?start=0&end=1000")
      assert(!r.contains("\"dm\"") && !r.contains("\"dg\"") && r.contains("\"dn\""), r)
    } finally api.stop()
    // restart: the spilled rows come back, the tombstones must too — no
    // resurrection of rows acked as deleted
    val api2 = new HttpApi(spark, spillDir = Some(dir))
    val port2 = api2.start()
    try {
      val r = get(port2, "/api/v1/series?start=0&end=1000")
      assert(!r.contains("\"dm\"") && !r.contains("\"dg\"") && r.contains("\"dn\""), r)
    } finally api2.stop()
  }

  test("deletes tombstone file recovers from a crash between delete and rename") {
    val dir = java.nio.file.Files.createTempDirectory("httpspill_delcrash").toString
    val api = new HttpApi(spark, spillDir = Some(dir), spillMaxBufferedRows = 2)
    val port = api.start()
    try {
      assert(post(port, "/api/v1/import/prometheus",
        """cm{job="x"} 1 60
          |cn{job="x"} 2 60
          |""".stripMargin) == 204)
      api.awaitSpillIdle()
      assert(post(port, "/api/v1/admin/tsdb/delete_series?match[]=cm", "") == 204)
    } finally api.stop()
    // simulate the crash window of both durable files (the delete
    // tombstones and the tag-index side triples): the primary was
    // deleted, the complete tmp never renamed in
    val files = Seq(("_deletes", "deletes.tsv"), ("_tagnames", "names.tsv")).map {
      case (d, f) =>
        val primary = java.nio.file.Paths.get(dir, d, f)
        val tmp = java.nio.file.Paths.get(dir, d, f + ".tmp")
        val content = new String(java.nio.file.Files.readAllBytes(primary), "UTF-8")
        java.nio.file.Files.move(primary, tmp)
        (primary, tmp, content)
    }
    // no tag index: the side set cannot be rebuilt from the store, only
    // restored from its tmp file
    val api2 = new HttpApi(spark, spillDir = Some(dir))
    val port2 = api2.start()
    try {
      val r = get(port2, "/api/v1/series?start=0&end=1000")
      assert(!r.contains("\"cm\"") && r.contains("\"cn\""), r)
      files.foreach { case (primary, tmp, content) =>
        assert(!java.nio.file.Files.exists(tmp), tmp)
        assert(new String(java.nio.file.Files.readAllBytes(primary), "UTF-8") == content, primary)
      }
      assert(files(1)._3.linesIterator.size == 2, files(1)._3) // cm and cn: job=x
    } finally api2.stop()
  }

  test("a crashed compaction swap recovers from the complete staging dir") {
    val dir = java.nio.file.Files.createTempDirectory("httpspill_crash").toString
    val api = new HttpApi(spark, spillDir = Some(dir), spillMaxBufferedRows = 2)
    val port = api.start()
    try {
      assert(post(port, "/api/v1/import/prometheus",
        """cr{job="x"} 7 60
          |cr{job="x"} 8 120
          |""".stripMargin) == 204)
      api.awaitSpillIdle()
    } finally api.stop()
    // simulate the worst-case crash: the compacted staging dir is complete
    // (_SUCCESS present), the live date dir already deleted, the rename
    // never ran — the pre-fix batch swap left exactly this state
    val root = new java.io.File(dir)
    val dateDir = root.listFiles().filter(_.getName.startsWith("date=")).head
    val tmp = java.nio.file.Paths.get(dir + "_compacting")
    java.nio.file.Files.createDirectories(tmp)
    java.nio.file.Files.move(dateDir.toPath, tmp.resolve(dateDir.getName))
    java.nio.file.Files.createFile(tmp.resolve("_SUCCESS"))
    val api2 = new HttpApi(spark, spillDir = Some(dir))
    val port2 = api2.start()
    try {
      val r = get(port2, "/api/v1/query_range?query=cr&start=60&end=120&step=60")
      assert(r.contains("\"7\"") && r.contains("\"8\""),
        s"acked rows must be recovered from the staging dir: $r")
      assert(!java.nio.file.Files.exists(tmp), "staging dir must be cleaned up")
    } finally api2.stop()
    // an INCOMPLETE staging dir (crash during the write) is discarded
    val tmp2 = java.nio.file.Paths.get(dir + "_compacting")
    java.nio.file.Files.createDirectories(tmp2.resolve("date=1970-01-01"))
    val api3 = new HttpApi(spark, spillDir = Some(dir))
    val port3 = api3.start()
    try {
      val r = get(port3, "/api/v1/query_range?query=cr&start=60&end=120&step=60")
      assert(r.contains("\"7\"") && r.contains("\"8\""), r)
      assert(!java.nio.file.Files.exists(tmp2), "incomplete staging dir must be discarded")
    } finally api3.stop()
    // a crash BETWEEN the rename-aside and the rename-in leaves the date
    // sidelined as hidden `.date=<d>.old` with no replacement (the
    // staging dir already consumed) — recovery must restore it
    val dateDir2 = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("date=")).head
    java.nio.file.Files.move(dateDir2.toPath,
      java.nio.file.Paths.get(dir, "." + dateDir2.getName + ".old"))
    val api4 = new HttpApi(spark, spillDir = Some(dir))
    val port4 = api4.start()
    try {
      val r = get(port4, "/api/v1/query_range?query=cr&start=60&end=120&step=60")
      assert(r.contains("\"7\"") && r.contains("\"8\""),
        s"sidelined date must be restored when its replacement never arrived: $r")
      assert(new java.io.File(dir, dateDir2.getName).isDirectory)
    } finally api4.stop()
  }

  test("instant O7 cache reflects rows ingested between identical instant queries") {
    val api = new HttpApi(spark)
    val port = api.start()
    try {
      // window ≥ the 3h instant-rollup threshold so the O7 cache engages
      assert(post(port, "/api/v1/import/prometheus", "o7m{job=\"a\"} 1 3600\n") == 204)
      val q = "/api/v1/query?query=" +
        java.net.URLEncoder.encode("count_over_time(o7m[4h])", "UTF-8") + "&time=7200"
      assert(get(port, q).contains("\"1\""))
      // the buffer's rebuilt LocalRelation canonicalizes to the same plan
      // text — without the storeVersion cacheTag this would be a stale
      // exact hit still answering "1"
      assert(post(port, "/api/v1/import/prometheus", "o7m{job=\"a\"} 1 7000\n") == 204)
      assert(get(port, q).contains("\"2\""), "instant cache must see the new row")
    } finally api.stop()
  }

  test("downsampling tiers serve coarse-step query_range after start alignment") {
    val s = spark
    import s.implicits._
    // full-res: one sample per minute (value 7); the 5m tier carries a
    // SENTINEL value (42) at interval-aligned points, so a response
    // containing 42 proves the tier frame — not the full-res store — was
    // read (the reference's transparent -downsampling.period routing)
    val full = Seq.tabulate(20)(i =>
      ("m", Map("job" -> "a"), (i + 1) * 60000L, 7.0))
      .toDF("name", "tags", "ts", "value")
    val tier = Seq.tabulate(4)(i =>
      ("m", Map("job" -> "a"), (i + 1) * 300000L, 42.0))
      .toDF("name", "tags", "ts", "value")
    val api = new HttpApi(spark, base = Some(full),
      downsampleTiers = Map(300000L -> tier))
    val port = api.start()
    try {
      // coarse step matching the tier, MISALIGNED start (307s): without
      // AdjustStartEnd the alignment precondition fails and routing would
      // silently never fire for now-relative dashboards
      val coarse = get(port,
        "/api/v1/query_range?query=m&start=307&end=1207&step=300")
      assert(coarse.contains("\"42\"") && !coarse.contains("\"7\""),
        s"coarse-step query must read the tier: $coarse")
      // fine step: full resolution
      val fine = get(port, "/api/v1/query_range?query=m&start=60&end=300&step=60")
      assert(fine.contains("\"7\"") && !fine.contains("\"42\""), fine)
      // nocache skips the alignment (reference semantics) → the
      // misaligned start no longer routes; exact-time full-res answer
      val raw = get(port,
        "/api/v1/query_range?query=m&start=307&end=1207&step=300&nocache=1")
      assert(raw.contains("\"7\"") && !raw.contains("\"42\""), raw)
    } finally api.stop()
  }

  test("tier-routed query_range still serves rows ingested after the tier was built") {
    val s = spark
    import s.implicits._
    // the tier lags ingestion (background maintenance): a coarse-step
    // query must read tier ∪ buffer, or acked rows silently vanish from
    // dashboards the moment their step routes to a tier (r12 ADVICE).
    // The reference serves raw recent samples beside downsampled old
    // parts for the same reason.
    val tier = Seq.tabulate(4)(i =>
      ("m", Map("job" -> "a"), (i + 1) * 300000L, 42.0))
      .toDF("name", "tags", "ts", "value")
    val api = new HttpApi(spark, downsampleTiers = Map(300000L -> tier))
    val port = api.start()
    try {
      // ingest a raw sample PAST the tier's coverage
      assert(post(port, "/api/v1/import/prometheus",
        "m{job=\"a\"} 99 1500\n") == 204)
      val coarse = get(port,
        "/api/v1/query_range?query=m&start=300&end=1500&step=300")
      assert(coarse.contains("\"42\""), s"tier rows must serve: $coarse")
      assert(coarse.contains("\"99\""),
        s"buffered rows must ride the routed frame: $coarse")
    } finally api.stop()
  }

  test("facade-owned maintenance: the background round builds the tier it then serves") {
    val s = spark
    import s.implicits._
    val root = "target/httpmaint"
    val store = s"$root/store"
    val tier = s"$root/tier"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    graft.core.SampleStore.write(Seq.tabulate(4)(i =>
      ("m", Map("job" -> "a"), i * 300000L + 120000L, (i + 1).toDouble))
      .toDF("name", "tags", "ts", "value"), store)
    // period = 1h: exactly ONE round runs (immediately at start), so the
    // test is deterministic — the facade itself must build the tier AND
    // the tag index it then serves, no manual maintenance call anywhere
    // (the index path does not exist yet: construction must tolerate it)
    val api = new HttpApi(spark,
      baseStorePath = Some(store), baseRefreshTtlMs = 0L,
      downsampleTierPaths = Map(300000L -> tier),
      tagIndexPath = Some(s"$root/index"),
      maintenancePeriodMs = 3600000L)
    val port = api.start()
    try {
      // the first round completes this promise after its frame refreshes
      // (the bound only turns a hung round into a failure)
      scala.concurrent.Await.ready(api.firstMaintenanceRound.future,
        scala.concurrent.duration.Duration(60, "s"))
      val rep = api.maintenance.get.lastReport
      assert(rep.nonEmpty && rep.get.errors.isEmpty, rep.toString)
      assert(rep.get.downsampled(300000L) == Seq("1970-01-01"))
      assert(rep.get.indexed == Seq("1970-01-01"),
        "the round must have built the flat-store index")
      val r = get(port,
        "/api/v1/query_range?query=m&start=300&end=1200&step=300")
      assert(r.contains("\"4\""), s"coarse step must serve the maintained tier: $r")
      // the round's afterRound hook re-read the index frame: a nameless
      // tag lookup resolves through the index the facade just built
      val nameless = get(port,
        "/api/v1/query_range?query=%7Bjob%3D%22a%22%7D&start=60&end=1200&step=60")
      assert(nameless.contains("\"m\""),
        s"nameless lookup must serve through the maintained index: $nameless")
      val mrep = get(port, "/internal/maintenance")
      assert(mrep.contains("\"downsampled\"") && mrep.contains("1970-01-01") &&
        mrep.contains("\"indexed\""),
        s"maintenance report must surface the round: $mrep")
      val metrics = get(port, "/metrics")
      assert(metrics.contains("vm_maintenance_rounds_total 1") &&
        metrics.contains("vm_maintenance_job_errors_total 0"),
        s"maintenance telemetry must ride /metrics: $metrics")
    } finally api.stop()
  }

  test("a tag-index path with no partitions left is no-index, not a failure") {
    val dir = new java.io.File("target/httpidx_empty")
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
    dir.mkdirs()
    new java.io.File(dir, "_SUCCESS").createNewFile()
    // every store date aged out: the index root survives with only
    // _SUCCESS — construction and refresh must read it as "no index"
    // (spark.read.parquet would throw unable-to-infer-schema)
    val api = new HttpApi(spark, tagIndexPath = Some(dir.getPath))
    api.refreshTagIndex()
    val missing = new HttpApi(spark,
      tagIndexPath = Some("target/httpidx_empty/never_built"))
    missing.refreshTagIndex()
  }

  test("path-configured tiers auto-refresh after a downsampleNewDates rebuild") {
    val s = spark
    import s.implicits._
    val store = "target/dstier_http/store"
    val tier = "target/dstier_http/tier"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File("target/dstier_http"))
    // one sample per 5m bucket (2 min in, so a later arrival can win it)
    graft.core.SampleStore.write(Seq.tabulate(4)(i =>
      ("m", Map("job" -> "a"), i * 300000L + 120000L, (i + 1).toDouble))
      .toDF("name", "tags", "ts", "value"), store)
    assert(graft.core.SampleStore.downsampleNewDates(spark, store, tier, 300000L)
      == Seq("1970-01-01"))
    val api = new HttpApi(spark, downsampleTierPaths = Map(300000L -> tier))
    val port = api.start()
    try {
      val url = "/api/v1/query_range?query=m&start=300&end=1200&step=300"
      val r1 = get(port, url)
      assert(r1.contains("\"4\""), s"coarse step must route to the tier: $r1")
      // a background maintenance run rewrites the tier (late arrival into
      // the first bucket): the SAME query — cached by O6 under the old
      // store version — must serve the rebuilt tier WITHOUT any manual
      // /internal/resetRollupResultCache (the r12 stale-cache trap)
      graft.core.SampleStore.write(Seq(
        ("m", Map("job" -> "a"), 290000L, 42.0)).toDF("name", "tags", "ts", "value"), store)
      assert(graft.core.SampleStore.downsampleNewDates(spark, store, tier, 300000L)
        == Seq("1970-01-01"))
      val r2 = get(port, url)
      assert(r2.contains("\"42\""),
        s"tier rebuild must auto-invalidate the routed cache: $r2")
    } finally api.stop()
    // a path-configured tier that does NOT exist yet (maintenance job
    // never ran) must fall back to full resolution, not 422 every
    // coarse-step query
    val cold = new HttpApi(spark,
      base = Some(graft.core.SampleStore.read(spark, store)),
      downsampleTierPaths = Map(300000L -> "target/dstier_http/never_built"))
    val coldPort = cold.start()
    try {
      val r = get(coldPort,
        "/api/v1/query_range?query=m&start=300&end=1200&step=300")
      assert(r.contains(""""status":"success"""") && r.contains("\"m\""),
        s"missing tier must serve full resolution: $r")
    } finally cold.stop()
  }

  test("path-configured base store: out-of-band writes become visible without restart") {
    val s = spark
    import s.implicits._
    val store = "target/httpbase/store"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File("target/httpbase"))
    graft.core.SampleStore.write(Seq(
      ("m", Map("job" -> "a"), 60000L, 10.0)).toDF("name", "tags", "ts", "value"), store)
    // TTL 0: every request re-checks the root listing (the prod default
    // is 10 s — one listStatus per window)
    val api = new HttpApi(spark, baseStorePath = Some(store), baseRefreshTtlMs = 0L)
    val port = api.start()
    try {
      val url = "/api/v1/query_range?query=m&start=60&end=120&step=60"
      assert(get(port, url).contains("\"10\""))
      // an OUT-OF-BAND writer (another process in the split-reader
      // deployment) appends: the facade must serve it without restart,
      // and the O6 cache must not serve the stale listing
      graft.core.SampleStore.write(Seq(
        ("m", Map("job" -> "a"), 120000L, 20.0)).toDF("name", "tags", "ts", "value"), store)
      val after = get(port, url)
      assert(after.contains("\"20\""),
        s"out-of-band writes must become visible: $after")
      // a missing store root serves the empty frame (no 422s)
      val none = new HttpApi(spark,
        baseStorePath = Some("target/httpbase/never_written"), baseRefreshTtlMs = 0L)
      val nonePort = none.start()
      try assert(get(nonePort, url).contains(""""result":[]"""))
      finally none.stop()
      // the generation-unchanged reuse branch (TTL expired, store NOT
      // touched) must keep the cached frame AND its cache validity: the
      // repeat of the same query may not bump the store version, so the
      // O6 rollup cache serves it as a hit, not a miss
      graft.Engine.clearCache()
      graft.Engine.resetCacheStats()
      assert(get(port, url).contains("\"20\""))
      val (h0, s0, m0) = graft.Engine.cacheStats
      assert(get(port, url).contains("\"20\""))
      val (h1, s1, m1) = graft.Engine.cacheStats
      assert(m1 == m0 && h1 + s1 > h0 + s0,
        s"gen-unchanged refresh must not invalidate the rollup cache: " +
          s"hits ${(h0, s0)}->${(h1, s1)}, misses $m0->$m1")
    } finally api.stop()
  }

  test("POST /internal/refreshBaseStore forces a re-read inside the TTL window") {
    val s = spark
    import s.implicits._
    val store = "target/httpbase_refresh/store"
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File("target/httpbase_refresh"))
    graft.core.SampleStore.write(Seq(
      ("m", Map("job" -> "a"), 60000L, 10.0)).toDF("name", "tags", "ts", "value"), store)
    // TTL = 1h: the poll can't see the out-of-band write; only the
    // manual refresh endpoint (the eventually-consistent-listing belt)
    // can make it visible
    val api = new HttpApi(spark,
      baseStorePath = Some(store), baseRefreshTtlMs = 3600000L)
    val port = api.start()
    try {
      val url = "/api/v1/query_range?query=m&start=60&end=120&step=60"
      assert(get(port, url).contains("\"10\""))
      // a TRUE out-of-band write: stage the batch in a side store and
      // move its data file in at the filesystem level. A same-session
      // SampleStore.write would defeat the test — Spark's insert command
      // runs refreshByPath, which re-lists the shared InMemoryFileIndex
      // under any O6-persisted plan, making the cached frame see the new
      // file with no TTL expiry (exactly what a foreign writer can't do)
      val side = "target/httpbase_refresh/side"
      graft.core.SampleStore.write(Seq(
        ("m", Map("job" -> "a"), 120000L, 20.0)).toDF("name", "tags", "ts", "value"), side)
      val dateDir = new java.io.File(store, "date=1970-01-01")
      val part = new java.io.File(side, "date=1970-01-01").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        new java.io.File(dateDir, "part-oob-" + part.getName).toPath)
      assert(!get(port, url).contains("\"20\""),
        "inside the TTL window the cached frame serves")
      assert(post(port, "/internal/refreshBaseStore", "") == 200)
      val after = get(port, url)
      assert(after.contains("\"20\""),
        s"manual refresh must surface the write without TTL expiry: $after")
    } finally api.stop()
  }

  test("query_range rejects too-many-points and zero step upfront") {
    val api = new HttpApi(spark)
    val port = api.start()
    try {
      val r = get(port,
        "/api/v1/query_range?query=up&start=0&end=40000000&step=1")
      assert(r.contains(""""status":"error""""))
      assert(r.contains("the maximum number of points is 30000"))
      assert(get(port, "/api/v1/query_range?query=up&start=0&end=60&step=0")
        .contains("step can't be equal to zero"))
    } finally api.stop()
  }

  test("query_range caches by default, never serves stale data after ingest, honors nocache") {
    graft.Engine.clearCache()
    graft.Engine.resetCacheStats()
    val api = new HttpApi(spark)
    val port = api.start()
    try {
      assert(post(port, "/api/v1/import/prometheus",
        "c{job=\"x\"} 10 60\nc{job=\"x\"} 20 120\n") == 204)
      val url = "/api/v1/query_range?query=c&start=60&end=120&step=60"
      val first = get(port, url)
      assert(first.contains("""[120.0,"20"]"""))
      val (h0, _, m0) = graft.Engine.cacheStats
      assert(m0 >= 1)
      // repeat: served from cache (a full hit), identical data (the
      // trailing stats block carries per-request timings — strip it)
      def data(s: String) = s.split("\"stats\"")(0)
      val second = get(port, url)
      assert(data(second) == data(first))
      val (h1, _, m1) = graft.Engine.cacheStats
      assert(h1 == h0 + 1 && m1 == m0, graft.Engine.cacheStats.toString)
      // ingest bumps the store version: the same query must see the new
      // sample, not the cached frame (the LocalRelation plan key alone
      // cannot distinguish data-only changes)
      assert(post(port, "/api/v1/import/prometheus",
        "c{job=\"x\"} 99 120\n") == 204)
      val after = get(port, url)
      assert(after.contains("99"), after)
      // nocache=1 bypasses the cache entirely
      val (_, _, m2) = graft.Engine.cacheStats
      get(port, url + "&nocache=1")
      val (_, _, m3) = graft.Engine.cacheStats
      assert(m3 == m2, "nocache must not touch the cache")
    } finally {
      api.stop()
      graft.Engine.clearCache()
    }
  }

  test("snapshot APIs: create/list/delete + prometheus-compat alias") {
    val api = new HttpApi(spark)
    val port = api.start()
    try {
      assert(post(port, "/api/v1/import/prometheus", "sn 1 60\n") == 204)
      val created = get(port, "/snapshot/create")
      val name = """"snapshot":"([^"]+)"""".r.findFirstMatchIn(created).get.group(1)
      assert(created.startsWith("""{"status":"ok""""))
      // prometheus-compat alias uses the success envelope
      val compat = get(port, "/api/v1/admin/tsdb/snapshot")
      assert(compat.contains(""""status":"success"""") && compat.contains(""""name":""""))
      val listed = get(port, "/snapshot/list")
      assert(listed.contains(name))
      assert(get(port, s"/snapshot/delete?snapshot=$name") == """{"status":"ok"}""")
      assert(!get(port, "/snapshot/list").contains(name))
      assert(get(port, "/snapshot/delete?snapshot=nope").contains("cannot find"))
      assert(get(port, "/snapshot/delete_all") == """{"status":"ok"}""")
      assert(get(port, "/snapshot/list") == """{"status":"ok","snapshots":[]}""")
    } finally api.stop()
  }

  test("/metrics self-telemetry in prom text") {
    val api = new HttpApi(spark)
    val port = api.start()
    try {
      assert(post(port, "/api/v1/import/prometheus", "sm 1 60\n") == 204)
      get(port, "/api/v1/query?query=sm&time=60")
      val m = get(port, "/metrics")
      assert(m.contains("""vm_http_requests_total{path="/api/v1/query"} 1"""))
      assert(m.contains("""vm_http_requests_total{path="/api/v1/import/prometheus"} 1"""))
      assert(m.contains("vm_rows_inserted_total 1"))
      assert(m.contains("vm_rollup_result_cache_"))
      assert(m.contains("vm_app_uptime_seconds"))
      // the handler pool's gauges; the /metrics request itself is in flight
      assert(m.contains(s"vm_concurrent_select_capacity ${HttpApi.WorkerThreads}\n"), m)
      val current = "vm_concurrent_select_current (\\d+)".r.findFirstMatchIn(m)
        .map(_.group(1).toInt)
      assert(current.exists(c => c >= 1 && c <= HttpApi.WorkerThreads), m)
      // root-dispatched paths are counted under their concrete path
      get(port, "/prometheus/api/v1/labels")
      assert(get(port, "/metrics")
        .contains("""vm_http_requests_total{path="/api/v1/labels"} 1"""))
    } finally api.stop()
  }

  test("label values decode U__-escaped UTF-8 label names (apptest testLabelValuesWithUTFNames)") {
    // prometheus/common model.EscapeName(ValueEncodingEscaping) forms
    assert(HttpApi.unescapeLabelName(
      "U__kubernetes__something_2f_special_26__27__20_chars") ==
      "kubernetes_something/special&' chars")
    assert(HttpApi.unescapeLabelName("U___33__1f44b_tf_306b__3061__306f_") ==
      "3👋tfにちは")
    assert(HttpApi.unescapeLabelName("plain_name") == "plain_name")
    val api = new HttpApi(spark)
    val port = api.start()
    try {
      assert(post(port, "/api/v1/import",
        """{"metric":{"__name__":"labelvals","kubernetes_something/special&' chars":"v1"},"values":[1],"timestamps":[60000]}""") == 204)
      val vals = get(port,
        "/api/v1/label/U__kubernetes__something_2f_special_26__27__20_chars/values")
      assert(vals.contains("\"v1\""), vals)
    } finally api.stop()
  }

  test("instant query on a bare selector[window] exports raw samples (matrix)") {
    val api = new HttpApi(spark)
    val port = api.start()
    try {
      // value 1 @60s, staleness marker @120s
      // (apptest: instant `metric[2m]` keeps the marker in the matrix
      // while the plain `metric` query hides the point)
      assert(post(port, "/api/v1/import",
        """{"metric":{"__name__":"rawm"},"values":[1,"NaN"],"timestamps":[60000,120000]}""") == 204)
      val mat = get(port, "/api/v1/query?query=rawm[2m]&time=120")
      assert(mat.contains(""""resultType":"matrix""""), mat)
      assert(mat.contains("""[60.0,"1"]""") && mat.contains("""[120.0,"NaN"]"""), mat)
      val vec = get(port, "/api/v1/query?query=rawm&time=120")
      assert(vec.contains(""""result":[]"""), vec) // staleness hides the point
    } finally api.stop()
  }

  test("repeated match[] args union across series/labels/export/delete") {
    val api = new HttpApi(spark)
    val port = api.start()
    try {
      assert(post(port, "/api/v1/import/prometheus",
        """ma{job="1"} 1 60
          |mb{job="2"} 2 60
          |mc{job="3"} 3 60
          |""".stripMargin) == 204)
      val two = "match[]=ma&match[]=mb"
      val series = get(port, s"/api/v1/series?start=0&end=1000&$two")
      assert(series.contains("\"ma\"") && series.contains("\"mb\"") &&
        !series.contains("\"mc\""))
      val labels = get(port, s"/api/v1/labels?$two")
      assert(labels.contains("\"job\""))
      val lv = get(port, s"/api/v1/label/job/values?$two")
      assert(lv.contains("\"1\"") && lv.contains("\"2\"") && !lv.contains("\"3\""))
      val export = get(port, s"/api/v1/export?$two")
      assert(export.contains("\"ma\"") && export.contains("\"mb\"") &&
        !export.contains("\"mc\""))
      // delete both; only mc remains
      assert(post(port, s"/api/v1/admin/tsdb/delete_series?$two", "") == 204)
      val left = get(port, "/api/v1/series?start=0&end=1000")
      assert(!left.contains("\"ma\"") && !left.contains("\"mb\"") &&
        left.contains("\"mc\""))
    } finally api.stop()
  }

  test("match[] filters with the evaluator's selector predicate: a __graphite__ glob") {
    val api = new HttpApi(spark)
    val port = api.start()
    try {
      assert(post(port, "/api/v1/import",
        Seq("foo.a.req" -> 1, "foo.b.req" -> 2, "foo.b.err" -> 3, "bar.a.req" -> 4).map {
          case (n, v) => s"""{"metric":{"__name__":"$n"},"values":[$v],"timestamps":[60000]}"""
        }.mkString("\n")) == 204)
      val sel = java.net.URLEncoder.encode("""{__graphite__="foo.*.req"}""", "UTF-8")
      def names(body: String): Set[String] =
        "\"__name__\":\"([^\"]+)\"".r.findAllMatchIn(body).map(_.group(1)).toSet
      val queried = names(get(port, s"/api/v1/query?query=$sel&time=60"))
      assert(queried == Set("foo.a.req", "foo.b.req"))
      assert(names(get(port, s"/api/v1/series?match[]=$sel&start=0&end=1000")) == queried)
    } finally api.stop()
  }

  test("query tracing (trace=1) and the stats block") {
    val api = new HttpApi(spark)
    val port = api.start()
    try {
      assert(post(port, "/api/v1/import/prometheus",
        """tq{job="a"} 1 60
          |tq{job="a"} 3 120
          |tq{job="b"} 2 60
          |""".stripMargin) == 204)

      // stats block is always present; seriesFetched is a STRING
      val plain = get(port, "/api/v1/query?query=sum(tq)&time=60")
      assert(plain.contains(""""stats":{"seriesFetched":"1","executionTimeMsec":"""))
      assert(!plain.contains(""""trace""""))

      // trace=1 adds the span tree: root → plan build (aggregate→fetch) +
      // execution span, each with duration_msec
      val traced = get(port,
        "/api/v1/query_range?query=" +
          java.net.URLEncoder.encode("sum(rate(tq[1m]))", "UTF-8") +
          "&start=60&end=120&step=60&trace=1")
      assert(traced.contains(""""status":"success""""))
      assert(traced.contains(""""trace":{"duration_msec""""))
      assert(traced.contains("/api/v1/query_range: query=sum(rate(tq[1m]))"))
      assert(traced.contains(""""message":"aggregate sum()""""))
      assert(traced.contains(""""message":"rollup rate()""""))
      assert(traced.contains(""""message":"fetch series: tq"""))
      assert(traced.contains("execute plan and stream response"))
      assert(traced.contains("generate /api/v1/query_range response for series=1"))
      // response stays parseable JSON (trace nesting balanced)
      val om = traced.count(_ == '{'); val cm = traced.count(_ == '}')
      assert(om == cm)

      // the tracer is cleaned up: next untraced query carries no trace
      val after = get(port, "/api/v1/query?query=tq&time=60")
      assert(!after.contains(""""trace"""") &&
        after.contains(""""seriesFetched":"2""""))
    } finally api.stop()
  }

  test("rules API: full ApiRule shape with live state, single-object lookups") {
    import graft.alerting.{Rules, Scheduler}
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("name", StringType),
      StructField("tags", MapType(StringType, StringType)),
      StructField("ts", LongType),
      StructField("value", DoubleType)))
    val rows = scala.collection.mutable.ArrayBuffer[Row](
      Row("up", Map("job" -> "x"), 60000L, 0.0))
    val groups = Seq(Rules.RuleGroup("web.rules", 60000L, Seq(
      Rules.Rule(alert = "Down", expr = "up == 0",
        labels = Map("sev" -> "page"),
        annotations = Map("summary" -> "down: {{ $value }}")),
      Rules.Rule(record = "rec:up", expr = "sum(up)"),
      Rules.Rule(alert = "NoMatch", expr = "absent_thing > 0"))))
    val sched = new Scheduler(groups,
      () => spark.createDataFrame(java.util.Arrays.asList(rows.toSeq: _*), schema),
      app => rows ++= app.map { case (n, t, ts, v) => Row(n, t, ts, v) })
    assert(sched.step(60000L) == Seq("web.rules"))

    val api = new HttpApi(spark, ruleGroups = groups, scheduler = Some(sched))
    val port = api.start()
    try {
      val rules = get(port, "/api/v1/rules")
      // alerting rule carries live state + nested alert instance
      assert(rules.contains(""""state":"firing","name":"Down""""))
      assert(rules.contains(""""datasourceType":"prometheus""""))
      assert(rules.contains(""""lastSamples":1"""))
      assert(rules.contains(""""activeAt":"1970-01-01T00:01:00Z""""))
      assert(rules.contains(""""annotations":{"summary":"down: 0"}"""))
      // recording rule is "ok", zero-result alerting rule is "nomatch"
      assert(rules.contains(""""state":"ok","name":"rec:up""""))
      assert(rules.contains(""""state":"nomatch","name":"NoMatch""""))
      assert(rules.contains(""""lastEvaluation":"1970-01-01T00:01:00Z""""))
      assert(rules.contains(""""states":{"firing":1}"""))

      // ids embedded in the listing resolve through the single-object APIs
      val gid = """"group_id":"(\d+)"""".r.findFirstMatchIn(rules).get.group(1)
      val rid = (""""id":"(\d+)","group_id"""".r.findAllMatchIn(rules)
        .map(_.group(1)).toSeq)
      val aid = """"id":"(\d+)","rule_id"""".r.findFirstMatchIn(rules).get.group(1)
      assert(get(port, s"/api/v1/group?group_id=$gid")
        .contains(""""name":"web.rules""""))
      assert(rid.exists(r => get(port, s"/api/v1/rule?group_id=$gid&rule_id=$r")
        .contains(""""name":"Down"""")))
      assert(get(port, s"/api/v1/alert?group_id=$gid&alert_id=$aid")
        .contains(""""state":"firing""""))
      assert(get(port, "/api/v1/rule?group_id=0&rule_id=0").contains("not found"))
    } finally api.stop()
  }

  test("export formats, max_rows_per_line, series limit, tsdb date scope") {
    val api = new HttpApi(spark)
    val port = api.start()
    try {
      // two series; one with 3 points (2024-01-01), one with 1 (2024-01-02)
      assert(post(port, "/api/v1/import/prometheus",
        """ex{job="a"} 1 1704067200000
          |ex{job="a"} 2 1704067260000
          |ex{job="a"} 3 1704067320000
          |ey{job="b"} 9 1704153600000
          |""".stripMargin) == 204)

      // format=prometheus: text exposition lines with trailing ms ts
      val prom = get(port, "/api/v1/export?match[]=ex&format=prometheus")
      assert(prom.contains("ex{job=\"a\"} 1.0 1704067200000"))

      // format=promapi: matrix envelope, query-API value rendering
      val papi = get(port, "/api/v1/export?match[]=ex&format=promapi")
      assert(papi.startsWith("""{"status":"success","data":{"resultType":"matrix""""))
      assert(papi.contains(""""__name__":"ex"""") &&
        papi.contains("""[1.7040672E9,"1"]"""))

      // max_rows_per_line=2: the 3-point series splits into 2 json lines
      val lines = get(port, "/api/v1/export?match[]=ex&max_rows_per_line=2")
        .split("\n").filter(_.nonEmpty)
      assert(lines.length == 2)
      assert(lines.exists(_.contains("""[1704067200000,1704067260000]""")) &&
        lines.exists(_.contains("""[1704067320000]""")))

      // series limit truncates after the deterministic sort
      val lim = get(port, "/api/v1/series?start=0&end=9999999999999&limit=1")
      assert(lim.contains(""""__name__":"ex"""") && !lim.contains("\"ey\""))

      // tsdb date=2024-01-02 sees only ey; date=0/absent sees both
      val d2 = get(port, "/api/v1/status/tsdb?date=2024-01-02")
      assert(d2.contains("\"ey\"") && !d2.contains("\"ex\"") &&
        d2.contains(""""totalSeries":1"""))
      val dAll = get(port, "/api/v1/status/tsdb")
      assert(dAll.contains("\"ex\"") && dAll.contains("\"ey\""))
    } finally api.stop()
  }

  test("prefix aliases, // normalization, short vmalert aliases, cache reset") {
    val api = new HttpApi(spark)
    val port = api.start()
    try {
      assert(post(port, "/api/v1/import/prometheus",
        "pfx{job=\"a\"} 7 60\n") == 204)
      // /prometheus/* and /graphite/* strip to the bare route (main.go:95-105)
      val viaPrefix = get(port,
        "/prometheus/api/v1/query_range?query=pfx&start=60&end=60&step=60")
      assert(viaPrefix.contains(""""7"""") && viaPrefix.contains(""""job":"a""""))
      // path-segment routes survive the rewrite (handler reads getRequestURI)
      assert(get(port, "/prometheus/api/v1/label/job/values").contains("\"a\""))
      assert(get(port, "/graphite/metrics/find?query=*").contains("pfx"))
      // doubled slashes collapse (main.go:95 ReplaceAll("//","/")); a
      // LEADING "//" is rejected by the JDK server's own URI parse, so
      // the reachable case is an embedded double slash
      assert(get(port, "/api/v1//labels").contains("\"job\""))
      // short vmalert-UI aliases
      assert(get(port, "/rules").contains(""""status":"success""""))
      assert(get(port, "/alerts").contains(""""alerts""""))
      assert(get(port, "/notifiers").contains(""""status":"success""""))
      // cache reset: 200 and the next query still answers correctly
      val client = HttpClient.newHttpClient()
      val rst = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:$port/internal/resetRollupResultCache")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(rst.statusCode() == 200)
      assert(get(port, "/api/v1/query?query=pfx&time=60").contains(""""7""""))
      // unknown path: reference-shaped 404 envelope
      val nf = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:$port/no/such/route")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(nf.statusCode() == 404 && nf.body().contains("unsupported path"))
    } finally api.stop()
  }

  test("relabel-debug: reference debug_test.go resultingLabels vectors") {
    // mirrors lib/promrelabel/debug_test.go TestWriteRelabelDebugSupportFormats
    def resulting(input: String, rules: String): String = {
      val j = RelabelDebug.json(isTargetRelabel = false, input, rules)
      val key = "\"resultingLabels\":\""
      val i = j.indexOf(key)
      if (i < 0) ""
      else {
        var e = i + key.length
        while (j(e) != '"' || j(e - 1) == '\\') e += 1
        j.substring(i + key.length, e)
      }
    }
    val ruleTestParsing = "- action: labeldrop\n  regex: \"a_not_exist_label\"\n"
    assert(resulting("metric_name", ruleTestParsing) == "metric_name")
    assert(resulting("""metric_name{label1="value1"}""", ruleTestParsing) ==
      """metric_name{label1=\"value1\"}""")
    assert(resulting("""{__name__="metric_name", label1="value1"}""", ruleTestParsing) ==
      """metric_name{label1=\"value1\"}""")
    assert(resulting("""__name__="metric_name", label1="value1"""", ruleTestParsing) ==
      """metric_name{label1=\"value1\"}""")
    assert(resulting("""_name__="metric_name"""", ruleTestParsing) ==
      """{_name__=\"metric_name\"}""")
    // incorrect input formats -> error, no resultingLabels
    assert(resulting("""{_name__="metric_name"""", ruleTestParsing) == "")
    assert(resulting("""_name__="metric_name}"""", ruleTestParsing) == "")
    assert(resulting("""metrics_name}"""", ruleTestParsing) == "")
    // multi-rule pipeline: drops + add
    val rules3 = "- action: labeldrop\n  regex: \"drop_me_metrics_relabel\"\n" +
      "- action: labeldrop\n  regex: \"drop_me_remote_write_relabel\"\n" +
      "- target_label: add_me_url_relabel\n  replacement: added\n"
    assert(resulting(
      """{__name__="metric_name", drop_me_metrics_relabel="1", drop_me_remote_write_relabel="2"}""",
      rules3) == """metric_name{add_me_url_relabel=\"added\"}""")
  }

  test("relabel-debug routes: json steps with highlights; target variant") {
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    val api = new HttpApi(spark)
    val port = api.start()
    try {
      val j = get(port, "/metric-relabel-debug?format=json&metric=" +
        enc("""m{job="x",drop="1"}""") + "&relabel_configs=" +
        enc("- action: labeldrop\n  regex: drop\n"))
      assert(j.contains(""""status":"success""""))
      // the dropped label is highlighted in the in-labels of the step
      assert(j.contains(
        """<span style=\"font-weight:bold;color:#D15757\">drop=\"1\"</span>"""))
      assert(j.contains(""""rule":"action: labeldrop\nregex: drop""""))
      assert(j.contains(""""originalLabels":"m{drop=\"1\",job=\"x\"}""""))
      assert(j.contains(""""resultingLabels":"m{job=\"x\"}""""))

      // target mode: instance added from __address__, __ labels removed
      val t = get(port, "/target-relabel-debug?format=json&metric=" +
        enc("""{__address__="10.1.2.3:9100",__scheme__="https",env="prod"}""") +
        "&relabel_configs=")
      assert(t.contains("add missing instance label from __address__ label"))
      assert(t.contains("remove labels with __ prefix"))
      assert(t.contains(
        """"resultingLabels":"{env=\"prod\",instance=\"10.1.2.3:9100\"}""""))

      // html fallback
      val h = get(port, "/metric-relabel-debug?metric=m&relabel_configs=")
      assert(h.startsWith("<!DOCTYPE html>") && h.contains("Metric relabel debug"))

      // parse errors surface in the error envelope
      val bad = get(port, "/metric-relabel-debug?format=json&metric=" +
        enc("""{broken""") + "&relabel_configs=")
      assert(bad.contains(""""status":"error"""") &&
        bad.contains("cannot unmarshal Prometheus line"))
    } finally api.stop()
  }

  test("scrape url construction from __-labels") {
    assert(RelabelDebug.scrapeUrl(Map("__address__" -> "h:9100")) ==
      "http://h:9100/metrics")
    assert(RelabelDebug.scrapeUrl(Map(
      "__address__" -> "https://h/probe", "__param_module" -> "icmp")) ==
      "https://h/probe?module=icmp")
    assert(RelabelDebug.scrapeUrl(Map(
      "__address__" -> "h", "__metrics_path__" -> "stats?x=1",
      "__param_a" -> "b")) == "http://h/stats?x=1&a=b")
    assert(RelabelDebug.scrapeUrl(Map("env" -> "prod")) == "")
  }

  test("metric_names_stats tracks ingested names and per-query usage") {
    val api = new HttpApi(spark)
    val port = api.start()
    try {
      assert(post(port, "/api/v1/admin/status/metric_names_stats/reset", "") == 204)
      assert(post(port, "/api/v1/import/prometheus",
        """used_a{job="x"} 1 60
          |used_b{job="x"} 2 60
          |never_queried 3 60
          |""".stripMargin) == 204)
      get(port, "/api/v1/query?query=used_a&time=60")
      get(port, "/api/v1/query?query=used_a&time=60")
      // regex name selectors count against every matching tracked name
      get(port, "/api/v1/query_range?query=" +
        java.net.URLEncoder.encode("""sum({__name__=~"used_.*"})""", "UTF-8") +
        "&start=60&end=120&step=60")

      val all = get(port, "/api/v1/status/metric_names_stats")
      assert(all.contains(""""statsCollectedRecordsTotal":3"""))
      // ascending (count, name): never_queried(0), used_b(1), used_a(3)
      assert(all.indexOf("never_queried") < all.indexOf("\"used_b\"") &&
        all.indexOf("\"used_b\"") < all.indexOf("\"used_a\""))
      assert(all.contains(""""metricName":"used_a","queryRequestsCount":3"""))
      assert(all.contains(""""metricName":"used_b","queryRequestsCount":1"""))
      assert(all.contains(""""metricName":"never_queried","queryRequestsCount":0,"lastQueryRequestTimestamp":0"""))

      // le=0 -> only never-queried names; match_pattern filters by regex
      val le0 = get(port, "/api/v1/status/metric_names_stats?le=0")
      assert(le0.contains("never_queried") && !le0.contains("used_a"))
      val pat = get(port, "/api/v1/status/metric_names_stats?match_pattern=used_")
      assert(!pat.contains("never_queried") && pat.contains("used_a"))
      assert(get(port, "/api/v1/status/metric_names_stats?match_pattern=[")
        .contains("must be valid regex"))
      val lim = get(port, "/api/v1/status/metric_names_stats?limit=1")
      assert(lim.contains("never_queried") && !lim.contains("used_b"))

      // reset clears the tracker but keeps the data queryable
      assert(post(port, "/api/v1/admin/status/metric_names_stats/reset", "") == 204)
      assert(get(port, "/api/v1/status/metric_names_stats")
        .contains(""""statsCollectedRecordsTotal":0"""))
    } finally api.stop()
  }

  test("expand-with-exprs and prettify-query render the parsed tree") {
    val api = new HttpApi(spark)
    val port = api.start()
    try {
      val ok = get(port,
        "/expand-with-exprs?query=" + java.net.URLEncoder.encode(
          "WITH (f(x) = x * 2) f(m)", "UTF-8"))
      assert(ok == """{"status": "success","expr": "m * 2"}""")
      assert(get(port, "/expand-with-exprs")
        .contains("query string cannot be empty"))
      assert(get(port, "/expand-with-exprs?query=sum((")
        .contains("Cannot parse query"))
      val pretty = get(port, "/prettify-query?query=" +
        java.net.URLEncoder.encode("sum(rate(m[5m]))by(job)", "UTF-8"))
      assert(pretty == """{"status": "success", "query": "sum(rate(m[5m])) by (job)"}""")
      assert(get(port, "/prettify-query?query=((").contains(""""status": "error""""))
    } finally api.stop()
  }

  private def postForm(port: Int, path: String, form: String): (Int, String) = {
    val client = HttpClient.newHttpClient()
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .header("Content-Type", "application/x-www-form-urlencoded")
      .POST(HttpRequest.BodyPublishers.ofString(form)).build()
    val r = client.send(req, HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  test("graphite tag-write APIs, metrics index, notifiers") {
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    val api = new HttpApi(spark)
    val port = api.start()
    try {
      // tagSeries returns the canonical path (tags sorted by key) as a
      // bare quoted string (tags_api.go registerMetrics, qtpl template)
      val (rc1, one) = postForm(port, "/tags/tagSeries",
        "path=" + enc("disk.used;rack=a1;datacenter=dc1"))
      assert(rc1 == 200)
      assert(one == "\"disk.used;datacenter=dc1;rack=a1\"")

      // tagMultiSeries: JSON array, one canonical path per form field
      val (rc2, multi) = postForm(port, "/tags/tagMultiSeries",
        "path=" + enc("disk.used;rack=b7;datacenter=dc2") +
          "&path=" + enc("cpu.idle;host=h1"))
      assert(rc2 == 200)
      assert(multi ==
        """["disk.used;datacenter=dc2;rack=b7","cpu.idle;host=h1"]""")

      // registered names are visible to the metrics index (sorted), and
      // jsonp wraps (metrics_api.go:200)
      assert(get(port, "/metrics/index.json") == """["cpu.idle","disk.used"]""")
      assert(get(port, "/metrics/index.json?jsonp=cb") ==
        """cb(["cpu.idle","disk.used"])""")
      // ...and to the tags API
      assert(get(port, "/tags/autoComplete/tags?tagPrefix=rack").contains("\"rack\""))

      // delSeries: matching on (metric, subset-of-tags) — extra tags still
      // match; bare true/false body (tags_api.go:33)
      val (_, del) = postForm(port, "/tags/delSeries",
        "path=" + enc("disk.used;datacenter=dc1"))
      assert(del == "true")
      // the dc1 series is gone, the dc2 one remains
      assert(get(port, "/metrics/index.json") == """["cpu.idle","disk.used"]""")
      val (_, del2) = postForm(port, "/tags/delSeries",
        "path=" + enc("disk.used;datacenter=dc1"))
      assert(del2 == "false") // already deleted -> nothing matches
      val (_, del3) = postForm(port, "/tags/delSeries", "path=" + enc("disk.used"))
      assert(del3 == "true") // metric-only path deletes the dc2 series too
      assert(get(port, "/metrics/index.json") == """["cpu.idle"]""")

      // unparsable path -> error envelope
      val (rcBad, bad) = postForm(port, "/tags/tagSeries", "path=" + enc(";a=b"))
      assert(rcBad == 422 && bad.contains("metric cannot be empty"))

      // notifiers: empty without a scheduler
      assert(get(port, "/api/v1/notifiers") ==
        """{"status":"success","data":{"notifiers":[]}}""")
    } finally api.stop()
  }

  test("notifiers lists the scheduler's static Alertmanager target") {
    val sched = new graft.alerting.Scheduler(Nil, () => spark.emptyDataFrame,
      _ => (), Some(new graft.alerting.Notifier("http://am.example:9093")))
    val api = new HttpApi(spark, scheduler = Some(sched))
    val port = api.start()
    try {
      val resp = get(port, "/api/v1/notifiers")
      assert(resp ==
        """{"status":"success","data":{"notifiers":[{"kind":"static","targets":""" +
          """[{"address":"http://am.example:9093/api/v2/alerts","labels":{},"lastError":""}]}]}}""")
    } finally api.stop()
  }

  private def postFull(port: Int, path: String, body: Array[Byte],
      headers: (String, String)*): (Int, String, java.net.http.HttpHeaders) = {
    val client = HttpClient.newHttpClient()
    var b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .POST(HttpRequest.BodyPublishers.ofByteArray(body))
    headers.foreach { case (k, v) => b = b.header(k, v) }
    val r = client.send(b.build(), HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body(), r.headers())
  }

  test("vminsert ingestion: influx, csv format, datadog, newrelic, zabbix") {
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    val api = new HttpApi(spark)
    val port = api.start()
    try {
      // influx line protocol: ns timestamps, measurement_field fan-out,
      // and the X-Influxdb-Version compat header
      val (rcI, _, hI) = postFull(port, "/influx/write",
        "cpu,host=h1 usage_idle=90.5,usage_user=7 60000000000".getBytes("UTF-8"))
      assert(rcI == 204)
      assert(hI.firstValue("X-Influxdb-Version").orElse("") == "1.8.0")
      val qi = get(port, "/api/v1/query?query=cpu_usage_idle&time=60")
      assert(qi.contains(""""90.5"""") && qi.contains(""""host":"h1""""))
      assert(get(port, "/api/v1/query?query=cpu_usage_user&time=60")
        .contains(""""7""""))

      // csv import with a format arg; quoted comma survives Spark's csv read
      assert(post(port, "/api/v1/import/csv?format=" +
        enc("1:label:city,2:metric:temp,3:time:unix_s"),
        "\"Ber,lin\",20.5,120\nParis,18.25,180\n") == 204)
      val qc = get(port, "/api/v1/query_range?query=temp&start=120&end=180&step=60")
      assert(qc.contains("Ber,lin") && qc.contains(""""20.5"""") &&
        qc.contains(""""18.25""""))
      assert(post(port, "/api/v1/import/csv", "x,1\n") == 422)

      // datadog v1 (sec points, host tag) and v2 (resources)
      assert(post(port, "/datadog/api/v1/series",
        """{"series":[{"metric":"dd.v1","host":"h2","points":[[60, 1.25]],"tags":["env:prod"]}]}""") == 202)
      assert(post(port, "/datadog/api/v2/series",
        """{"series":[{"metric":"dd.v2","points":[{"timestamp":120,"value":2.5}],""" +
          """"resources":[{"name":"h3","type":"host"}]}]}""") == 202)
      val qd1 = get(port, "/api/v1/query?query=" + enc("dd.v1") + "&time=60")
      assert(qd1.contains(""""1.25"""") && qd1.contains(""""env":"prod""""))
      val qd2 = get(port, "/api/v1/query?query=" + enc("dd.v2") + "&time=120")
      assert(qd2.contains(""""2.5"""") && qd2.contains(""""host":"h3""""))
      assert(get(port, "/datadog/api/v1/validate") == """{"valid":true}""")

      // newrelic events bulk: numeric fields become samples
      assert(post(port, "/newrelic/infra/v2/metrics/events/bulk",
        """[{"Events":[{"eventType":"SystemSample","timestamp":60,""" +
          """"diskUsedPercent":11.5,"hostname":"h4"}]}]""") == 202)
      val qn = get(port, "/api/v1/query?query=diskUsedPercent&time=60")
      assert(qn.contains(""""11.5"""") && qn.contains(""""hostname":"h4""""))

      // zabbix connector history lines
      val (rcZ, _, _) = postFull(port, "/zabbixconnector/api/v1/history",
        ("""{"host":{"host":"db1","name":"DB one"},"item_tags":[],"itemid":1,""" +
          """"name":"pg.size","clock":60,"ns":0,"value":"5","type":0}""").getBytes("UTF-8"))
      assert(rcZ == 200)
      assert(get(port, "/api/v1/query?query=" + enc("pg.size") + "&time=60")
        .contains(""""5""""))

      // compat endpoints agents probe before writing
      assert(get(port, "/influx/query").contains("_internal"))
      assert(get(port, "/influx/health").contains(""""status":"pass""""))
      assert(get(port, "/ready") == "OK")
    } finally api.stop()
  }

  test("otlp ingestion: raw protobuf, gzip, firehose envelope, json rejection") {
    import spark.implicits._
    val api = new HttpApi(spark)
    val port = api.start()
    try {
      val payload = graft.sources.ProtoFormats.exportOtlp(
        Seq(("otm", Map("svc" -> "a"), 60000L, 3.5))
          .toDF("name", "tags", "ts", "value"))
        .collect().head.getAs[Array[Byte]](0)

      val (rc1, body1, _) = postFull(port, "/opentelemetry/v1/metrics", payload)
      assert(rc1 == 200 && body1.isEmpty)
      val q1 = get(port, "/api/v1/query?query=otm&time=60")
      assert(q1.contains(""""3.5"""") && q1.contains(""""svc":"a""""))

      // gzip Content-Encoding is transparently inflated
      val gz = {
        val bos = new java.io.ByteArrayOutputStream()
        val g = new java.util.zip.GZIPOutputStream(bos)
        g.write(payload); g.close(); bos.toByteArray
      }
      val (rc2, _, _) = postFull(port, "/opentelemetry/v1/metrics", gz,
        "Content-Encoding" -> "gzip")
      assert(rc2 == 200)

      // firehose JSON envelope: varint-framed records, base64'd
      def uvarint(n0: Long): Array[Byte] = {
        val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
        var v = n0
        while ((v & ~0x7fL) != 0) { out += ((v & 0x7f) | 0x80).toByte; v >>>= 7 }
        out += v.toByte
        out.toArray
      }
      val framed = uvarint(payload.length.toLong) ++ payload
      val fh = s"""{"records":[{"data":"${java.util.Base64.getEncoder
        .encodeToString(framed)}"}]}"""
      val (rc3, body3, _) = postFull(port, "/opentelemetry/v1/metrics",
        fh.getBytes("UTF-8"),
        "Content-Type" -> "application/json",
        "X-Amz-Firehose-Protocol-Version" -> "1.0",
        "X-Amz-Firehose-Request-Id" -> "req-77")
      assert(rc3 == 200 && body3.contains(""""requestId":"req-77""""))

      // plain JSON without the firehose header is rejected like the reference
      val (rc4, body4, _) = postFull(port, "/opentelemetry/v1/metrics",
        "{}".getBytes("UTF-8"), "Content-Type" -> "application/json")
      assert(rc4 == 422 && body4.contains("json encoding isn't supported"))
    } finally api.stop()
  }

  test("gzip bodies on the prometheus text and json-lines import routes") {
    def gzip(s: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(s.getBytes("UTF-8")); g.close(); bos.toByteArray
    }
    val api = new HttpApi(spark)
    val port = api.start()
    try {
      assert(postFull(port, "/api/v1/import/prometheus",
        gzip("gzm 7 60\n"), "Content-Encoding" -> "gzip")._1 == 204)
      assert(get(port, "/api/v1/query?query=gzm&time=60").contains(""""7""""))
      assert(postFull(port, "/api/v1/import",
        gzip("""{"metric":{"__name__":"gzj"},"values":[9],"timestamps":[60000]}"""),
        "Content-Encoding" -> "gzip")._1 == 204)
      assert(get(port, "/api/v1/query?query=gzj&time=60").contains(""""9""""))
    } finally api.stop()
  }

  test("remote-write protobuf ingestion over HTTP") {
    import spark.implicits._
    val api = new HttpApi(spark)
    val port = api.start()
    try {
      val samples = Seq(
        ("rw", Map("src" -> "agent"), 60000L, 1.5),
        ("rw", Map("src" -> "agent"), 120000L, 2.5))
        .toDF("name", "tags", "ts", "value")
      val payload = graft.sources.ProtoFormats.exportRemoteWrite(samples)
        .collect().head.getAs[Array[Byte]](0)
      val client = HttpClient.newHttpClient()
      val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/v1/write"))
        .POST(HttpRequest.BodyPublishers.ofByteArray(payload)).build()
      assert(client.send(req, HttpResponse.BodyHandlers.ofString()).statusCode() == 204)
      val range = get(port, "/api/v1/query_range?query=rw&start=60&end=120&step=60")
      assert(range.contains(""""src":"agent"""") && range.contains(""""1.5""""))
    } finally api.stop()
  }


  test("-dedup.minScrapeInterval deduplicates every read path at select time") {
    val api = new HttpApi(spark, dedupMinScrapeIntervalMs = 1000L)
    val port = api.start()
    try {
      // three samples inside one 1s interval + one in the next: the
      // select-time rule keeps the newest per interval (max value on ts
      // ties, dedup.go keep rules pinned by DedupSpec)
      // OpenMetrics SECONDS timestamps (sub-2^31 scale x1000): 0.1/0.9/0.9 s
      // land in the first 1s interval, 1.5 s in the second
      assert(post(port, "/api/v1/import/prometheus",
        """dd{job="a"} 1 0.1
          |dd{job="a"} 2 0.9
          |dd{job="a"} 3 0.9
          |dd{job="a"} 7 1.5
          |""".stripMargin) == 204)
      val export = get(port, "/api/v1/export?match[]=dd")
      // one line per series; kept samples are (900,3) and (1500,7)
      assert(export.contains("[3.0,7.0]"), export)
      assert(export.contains("[900,1500]"), export)
      val inst = get(port, "/api/v1/query?query=count_over_time(dd[2s])&time=2")
      assert(inst.contains("\"2\""), inst) // 2 kept of 4 ingested
    } finally api.stop()
  }

  test("-retentionFilter drops over-retention samples from every read path") {
    // series rf{team=juniors} retains 3d, everything else 30d; "now" fixed
    val filters = graft.core.SampleStore.parseRetentionFilters(
      Seq("""{team="juniors"}:3d"""), 30 * 86400000L)
    val now = 100L * 86400000L
    val api = new HttpApi(spark, dedupMinScrapeIntervalMs = 0L,
      retentionFilters = filters, retentionPeriodMs = 30 * 86400000L,
      retentionNowMs = () => now)
    val port = api.start()
    try {
      def at(ageDays: Long) = (now - ageDays * 86400000L) / 1000 // prom seconds
      assert(post(port, "/api/v1/import/prometheus",
        s"""rf{team="juniors"} 1 ${at(2)}
           |rf{team="juniors"} 2 ${at(10)}
           |rf{team="seniors"} 3 ${at(10)}
           |rf{team="seniors"} 4 ${at(40)}
           |""".stripMargin) == 204)
      val export = get(port, "/api/v1/export?match[]=rf")
      // juniors keeps only the 2d-old sample; seniors keeps the 10d one
      assert(export.contains("[1.0]") && export.contains("[3.0]"), export)
      assert(!export.contains("2.0") && !export.contains("4.0"), export)
    } finally api.stop()
  }

  test("tag index serves nameless lookups read-only; ingest bypasses it") {
    val flat = graft.core.Samples.fromEvents(spark, sfDir)
    graft.core.SampleStore.writeBucketed(
      flat, "bucketed_idx_spec", "target/bucketed_idx_spec", buckets = 4)
    val bucketed = graft.core.SampleStore.readBucketed(spark, "bucketed_idx_spec")
    val idxPath = "target/bucketed_idx_spec_tagindex"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(idxPath))
    graft.core.SampleStore.buildTagIndex(flat, idxPath)
    val idx = graft.core.SampleStore.readTagIndex(spark, idxPath)
    val api = new HttpApi(spark, base = Some(bucketed), tagIndex = Some(idx))
    val port = api.start()
    try {
      val plain = new HttpApi(spark, base = Some(bucketed))
      val plainPort = plain.start()
      try {
        // read-only: the indexed facade must serve the IDENTICAL nameless
        // lookup response (index pruning is a pure narrowing)
        def norm(s: String): String =
          s.replaceAll("\"executionTimeMsec\":\\d+", "")
        val sel = java.net.URLEncoder.encode("""{user_id="7"}""", "UTF-8")
        val qr = s"/api/v1/query_range?query=$sel" +
          "&start=1704067200&end=1704326400&step=21600"
        val indexed = get(port, qr)
        assert(indexed.contains("\"click\""), indexed) // non-empty
        assert(norm(indexed) == norm(get(plainPort, qr)), indexed)
        // the metadata APIs ride the same narrowing (matchFiltered)
        val series = s"/api/v1/series?match[]=$sel&start=0&end=99999999999"
        assert(get(port, series) == get(plainPort, series))
      } finally plain.stop()
      // ingest a NEW metric name matching the tag: the facade's live side
      // set (registered at ack time) unions into the index, so the
      // nameless lookup stays INDEX-NARROWED and still serves the new
      // rows (r12 went dark here — readOnlyTagIndex bypassed the index
      // the moment any buffered rows existed)
      assert(post(port, "/api/v1/import/prometheus",
        "freshmetric{user_id=\"7\"} 5 1704067500\n") == 204)
      val sel = java.net.URLEncoder.encode("""{user_id="7"}""", "UTF-8")
      val qr2 = s"/api/v1/query_range?query=$sel" +
        "&start=1704067200&end=1704326400&step=21600"
      val after = get(port, qr2)
      assert(after.contains("\"freshmetric\""),
        s"ingested new-name rows must survive a nameless lookup: $after")
      // the index is still ACTIVE (not bypassed): the candidate set
      // resolves, includes the fresh name, and still prunes (a bypass
      // would return None here)
      val live = api.activeTagIndex
      assert(live.nonEmpty)
      val cands = graft.lang.Eval.indexCandidateNames(
        graft.lang.Parser.parse("""{user_id="7"}""")
          .asInstanceOf[graft.lang.MetricExpr], live.get)
      assert(cands.nonEmpty, "index must stay consulted under writes")
      assert(cands.get._2.contains("freshmetric"),
        s"side set must contribute the fresh name: ${cands.get._2}")
    } finally api.stop()
  }

  test("live index side set survives a restart (triples file) and rebuilds from the spill store") {
    val s = spark
    import s.implicits._
    val base = Seq(("click", Map("user_id" -> "7"), 1704067200000L, 1.0))
      .toDF("name", "tags", "ts", "value")
    val idxPath = "target/http_side_tagindex"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(idxPath))
    graft.core.SampleStore.buildTagIndex(base, idxPath)
    val idx = graft.core.SampleStore.readTagIndex(spark, idxPath)
    val dir = java.nio.file.Files.createTempDirectory("httpspill_idx").toString
    def candsOf(api: HttpApi): Seq[String] = graft.lang.Eval.indexCandidateNames(
      graft.lang.Parser.parse("""{user_id="7"}""")
        .asInstanceOf[graft.lang.MetricExpr], api.activeTagIndex.get).get._2
    val api = new HttpApi(spark, base = Some(base), spillDir = Some(dir),
      spillMaxBufferedRows = 1, tagIndex = Some(idx))
    val port = api.start()
    try {
      // new-name rows ingest AND spill; their triples register at ack
      assert(post(port, "/api/v1/import/prometheus",
        "spilledname{user_id=\"7\"} 5 1704067500\nspilledname{user_id=\"7\"} 6 1704067560\n") == 204)
      api.awaitSpillIdle()
      assert(api.bufferedRows == 0)
      assert(candsOf(api).contains("spilledname"))
    } finally api.stop()
    // restart over the same spillDir: the persisted triples file keeps
    // the (stale) base index live for the spilled rows
    val api2 = new HttpApi(spark, base = Some(base), spillDir = Some(dir),
      tagIndex = Some(idx))
    val port2 = api2.start()
    try {
      assert(candsOf(api2).contains("spilledname"),
        "restart must reload the side set from the triples file")
      val sel = java.net.URLEncoder.encode("""{user_id="7"}""", "UTF-8")
      val r = get(port2, s"/api/v1/query_range?query=$sel" +
        "&start=1704067200&end=1704070800&step=300")
      assert(r.contains("\"spilledname\"") && r.contains("\"click\""), r)
    } finally api2.stop()
    // delete the triples file: a facade over the same spill store must
    // REBUILD the side set from the store (first start after an upgrade)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(dir, "_tagnames"))
    val api3 = new HttpApi(spark, base = Some(base), spillDir = Some(dir),
      tagIndex = Some(idx))
    try assert(candsOf(api3).contains("spilledname"),
      "missing triples file must rebuild from the spill store")
    finally api3.stop()
  }

  test("repeated match[] selectors union into one pushed index narrowing") {
    val flat = graft.core.Samples.fromEvents(spark, sfDir)
    val idxPath = "target/http_match_tagindex"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(idxPath))
    graft.core.SampleStore.buildTagIndex(flat, idxPath)
    val idx = graft.core.SampleStore.readTagIndex(spark, idxPath)
    val api = new HttpApi(spark, base = Some(flat), tagIndex = Some(idx))
    val port = api.start()
    try {
      // two nameless selectors, both index-boundable → ONE pushed union
      val n2 = api.matchNarrowing(Seq("""{user_id="7"}""", """{user_id="8"}"""))
      assert(n2.nonEmpty, "all-boundable match[] union must narrow")
      // a name-capped selector beside a tag-probed one stays boundable
      // (the literal name contributes itself to the union)
      assert(api.matchNarrowing(Seq("click", """{user_id="7"}""")).nonEmpty)
      // any unboundable selector (negative-only matchers) → fallback
      assert(api.matchNarrowing(
        Seq("""{user_id="7"}""", """{user_id!="x"}""")).isEmpty)
      // ALL name-capped → skip (their own predicates already prune)
      assert(api.matchNarrowing(Seq("click", "view")).isEmpty)
      // e2e: the narrowed /series response equals the plain facade's
      val plain = new HttpApi(spark, base = Some(flat))
      val plainPort = plain.start()
      try {
        val q = "/api/v1/series?match[]=" +
          java.net.URLEncoder.encode("""{user_id="7"}""", "UTF-8") +
          "&match[]=" + java.net.URLEncoder.encode("""{user_id="8"}""", "UTF-8") +
          "&start=0&end=99999999999"
        val got = get(port, q)
        assert(got.contains("\"user_id\":\"7\"") && got.contains("\"user_id\":\"8\""))
        assert(got == get(plainPort, q))
      } finally plain.stop()
    } finally api.stop()
  }

  test("tag index refresh hook re-reads a rebuilt index without restart") {
    val s = spark
    import s.implicits._
    val store = Seq(
      ("click", Map("user_id" -> "7"), 1704067200000L, 1.0),
      ("view", Map("user_id" -> "8"), 1704067260000L, 2.0))
      .toDF("name", "tags", "ts", "value")
    val idxPath = "target/http_refresh_tagindex"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(idxPath))
    graft.core.SampleStore.buildTagIndex(store, idxPath)
    val api = new HttpApi(spark, base = Some(store), tagIndexPath = Some(idxPath))
    val port = api.start()
    try {
      def cands(): Seq[String] = graft.lang.Eval.indexCandidateNames(
        graft.lang.Parser.parse("""{user_id="7"}""")
          .asInstanceOf[graft.lang.MetricExpr], api.activeTagIndex.get).get._2
      assert(cands() == Seq("click"))
      // a maintenance job rebuilds the index with a new name out-of-band
      // (bucketizeNewDates after new dates landed in the base store): the
      // facade's pinned frame serves the OLD listing until the hook fires
      val grown = store.unionByName(Seq(
        ("newname", Map("user_id" -> "7"), 1704070200000L, 3.0))
        .toDF("name", "tags", "ts", "value"))
      graft.core.SampleStore.buildTagIndex(grown, idxPath)
      assert(get(port, "/internal/refreshTagIndex") == "")
      assert(cands().sorted == Seq("click", "newname"),
        s"refreshed index must serve the rebuilt listing: ${cands()}")
    } finally api.stop()
  }

  test("bucketed store as the facade base: identical responses, ingest unions") {
    val flat = graft.core.Samples.fromEvents(spark, sfDir)
    graft.core.SampleStore.writeBucketed(
      flat, "bucketed_http_spec", "target/bucketed_http_spec", buckets = 4)
    val bucketed = graft.core.SampleStore.readBucketed(spark, "bucketed_http_spec")
    val api = new HttpApi(spark, base = Some(bucketed))
    val port = api.start()
    try {
      val flatApi = new HttpApi(spark, base = Some(flat))
      val flatPort = flatApi.start()
      try {
        // read-only facade: the bucketed frame (with its _h1/_h2 bucket
        // attributes) serves byte-identical responses to the flat store
        // (modulo wall-clock stats; 24h windows — sf0.001 is sparse)
        def norm(s: String): String =
          s.replaceAll("\"executionTimeMsec\":\\d+", "")
        val q = "/api/v1/query?query=sum(avg_over_time(click[24h]))&time=1704153600"
        val inst0 = get(port, q)
        assert(inst0.contains("\"value\""), inst0) // non-empty result
        assert(norm(inst0) == norm(get(flatPort, q)), inst0)
        val qr = "/api/v1/query_range?query=rate(click[24h])" +
          "&start=1704067200&end=1704326400&step=21600"
        assert(norm(get(port, qr)) == norm(get(flatPort, qr)))
      } finally flatApi.stop()
      // ingest over HTTP: the buffer union computes the same hash pair,
      // so per-series operators still group correctly with mixed rows
      assert(post(port, "/api/v1/import/prometheus",
        "click{user_id=\"9999\"} 5 1704153500\n") == 204)
      val sel = java.net.URLEncoder.encode("click{user_id=\"9999\"}", "UTF-8")
      val inst = get(port, s"/api/v1/query?query=$sel&time=1704153600")
      assert(inst.contains("\"5\""), inst)
    } finally api.stop()
  }

  test("search flags: maxResponseSeries caps responses, implicit conversion rejected") {
    val api = new HttpApi(spark)
    val port = api.start()
    try {
      for (i <- 1 to 3)
        assert(post(port, "/api/v1/import/prometheus", s"""mrs{job="j$i"} $i 60\n""") == 204)
      // under the cap: fine
      SearchFlags.maxResponseSeries = 3
      assert(get(port, "/api/v1/query?query=mrs&time=60").contains(""""status":"success""""))
      // matrix-valued instant query (raw-export branch): 2 samples per
      // series × 3 series = 6 rows, but the cap counts SERIES — a row
      // count would spuriously reject at cap 3
      for (i <- 1 to 3)
        assert(post(port, "/api/v1/import/prometheus", s"""mrs{job="j$i"} $i 30\n""") == 204)
      assert(get(port, "/api/v1/query?query=mrs[5m]&time=60")
        .contains(""""status":"success""""))
      // and the raw branch still enforces: 3 series over cap 2 rejects
      SearchFlags.maxResponseSeries = 2
      assert(get(port, "/api/v1/query?query=mrs[5m]&time=60")
        .contains("-search.maxResponseSeries=2"))
      val over = get(port, "/api/v1/query?query=mrs&time=60")
      assert(over.contains(""""status":"error"""") &&
        over.contains("-search.maxResponseSeries=2"), over)
      val overRange = get(port, "/api/v1/query_range?query=mrs&start=60&end=120&step=60")
      assert(overRange.contains("-search.maxResponseSeries=2"), overRange)
      SearchFlags.maxResponseSeries = 0

      // -search.disableImplicitConversion rejects rate(sum(...)) (exec.go:54)
      SearchFlags.disableImplicitConversion = true
      val rej = get(port, "/api/v1/query_range?query=rate(sum(mrs))&start=60&end=120&step=60")
      assert(rej.contains("implicit conversion"), rej)
      assert(get(port, "/api/v1/query_range?query=rate(mrs[1m])&start=60&end=120&step=60")
        .contains(""""status":"success""""))
      SearchFlags.disableImplicitConversion = false

      // -search.treatDotsAsIsInRegexps: the dotted regexp matches only j.1 literally
      assert(post(port, "/api/v1/import/prometheus", """mrs{job="jx1"} 9 60
""") == 204)
      val dotted = "/api/v1/query?query=" +
        java.net.URLEncoder.encode("""mrs{job=~"j.1"}""", "UTF-8") + "&time=60"
      val loose = get(port, dotted)
      assert(loose.contains("jx1"), loose)
      SearchFlags.treatDotsAsIsInRegexps = true
      val strict = get(port, dotted)
      assert(!strict.contains("jx1"), strict)
      SearchFlags.treatDotsAsIsInRegexps = false
    } finally {
      SearchFlags.maxResponseSeries = 0
      SearchFlags.disableImplicitConversion = false
      SearchFlags.treatDotsAsIsInRegexps = false
      api.stop()
    }
  }

  test("query_range and /render order series like Spark's orderBy, in UTF-8 byte order") {
    import org.apache.spark.sql.functions.col
    val s = spark
    import s.implicits._
    // values on both sides of the UTF-16 vs UTF-8 disagreement: a
    // supplementary-plane character (UTF-16 0xD83D.., UTF-8 0xF0..) and
    // U+E000–U+FFFF ones (UTF-16 0xE000.., UTF-8 0xEE..–0xEF..)
    val values = Seq("a", "\uE000", "\uFF21", "\uD83D\uDE00", "z\uD83D\uDE00", "z\uFFFD")
    val base = values.zipWithIndex.flatMap { case (v, i) =>
      Seq(60000L, 120000L).flatMap(ts => Seq(
        ("ord", Map("k" -> v), ts, i.toDouble),
        (s"gr.$v.cpu", Map.empty[String, String], ts, i.toDouble)))
    }.toDF("name", "tags", "ts", "value")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def enc(x: String) = java.net.URLEncoder.encode(x, "UTF-8")
    // Scala's String ordering is Java's UTF-16 compareTo: the fixture must
    // sort differently under it, or the spec could not tell the two apart
    def assertNotUtf16Sorted(keys: Seq[String]): Unit =
      assert(keys != keys.sorted, s"fixture does not exercise UTF-8 order: $keys")
    val api = new HttpApi(spark, base = Some(base))
    val port = api.start()
    try {
      // abs() drops the metric name: one null-name series among named ones
      val q = """union(ord, abs(ord{k="z\uFFFD"}))"""
      val grid = graft.core.GridSpec(60000L, 120000L, 60000L)
      val want = graft.Engine.query(api.samples, q, grid)
        .select(HttpApi.seriesKey(col("name"), col("tags")).as("_sk"),
          col("name"), col("tags"), col("t"))
        .orderBy(col("_sk"), col("t")).collect()
        .map(r => (r.getString(0), Option(r.getString(1)).map("__name__" -> _).toMap ++
          r.getMap[String, String](2)))
        .distinct.toSeq
      assert(want.exists(!_._2.contains("__name__")), "no null-name series in the fixture")
      assertNotUtf16Sorted(want.map(_._1))
      val body = get(port,
        s"/api/v1/query_range?query=${enc(q)}&start=60&end=120&step=60")
      val result = mapper.readTree(body).path("data").path("result")
      val got = (0 until result.size()).map { i =>
        val m = result.get(i).path("metric")
        m.fieldNames().asScala.map(f => f -> m.get(f).asText()).toMap
      }
      assert(got == want.map(_._2), body)
      assert(result.get(0).path("values").size() == 2, body)

      // /render: series sorted by name, as orderBy(name, sid, t) sorts them
      val names = api.samples.filter(col("name").startsWith("gr."))
        .select("name").distinct().orderBy("name").collect().map(_.getString(0)).toSeq
      assertNotUtf16Sorted(names)
      val rbody = get(port,
        s"/render?format=json&target=${enc("gr.*.cpu")}&from=60&until=120&storage_step=60")
      val targets = mapper.readTree(rbody)
      assert((0 until targets.size()).map(i => targets.get(i).path("target").asText()) == names,
        rbody)
    } finally api.stop()
  }

  test("cached query_range and query answers run no SQL execution and no Spark job") {
    graft.Engine.clearCache()
    val api = new HttpApi(spark)
    val port = api.start()
    try {
      val t0 = 4 * 3600
      val body = (1 to 240).flatMap(i => Seq(
        s"""c{job="x",pod="a"} $i ${t0 - 4 * 3600 + i * 60}""",
        s"""c{job="x",pod="b"} 1 ${t0 - 4 * 3600 + i * 60}""",
        s"""c{job="y",pod="c"} 2 ${t0 - 4 * 3600 + i * 60}""")).mkString("\n")
      assert(post(port, "/api/v1/import/prometheus", body + "\n") == 204)
      def enc(x: String) = java.net.URLEncoder.encode(x, "UTF-8")
      val urls = Seq(
        s"/api/v1/query_range?query=${enc("max_over_time(c[5m])")}&start=${t0 - 600}&end=$t0&step=60",
        s"/api/v1/query_range?query=${enc("max_over_time(c[5m])")}&start=${t0 - 600}&end=${t0 - 120}&step=60",
        s"/api/v1/query?query=${enc("count_over_time(c[3h])")}&time=$t0",
        s"/api/v1/query?query=${enc("sum by (job) (count_over_time(c[3h]))")}&time=$t0")
      def data(r: String) = r.split("\"stats\"")(0)
      val first = urls.map(u => data(get(port, u)))
      val (again, started) = org.apache.spark.JobCounter.during(spark.sparkContext) {
        urls.map(u => data(get(port, u)))
      }
      assert(started.jobs == 0 && started.sqlExecutions == 0, started.toString)
      assert(again == first)
      // the same answers evaluated uncached
      assert(data(get(port, urls(0) + "&nocache=1")) == first(0))
      assert(first(3).contains(""""metric":{"job":"x"},"value":[14400.0,"360"]"""), first(3))
    } finally {
      api.stop()
      graft.Engine.clearCache()
    }
  }

  test("/render runs its Spark jobs in a query-deadline job group") {
    val s = spark
    import s.implicits._
    val base = Seq(60000L, 120000L).flatMap(ts => Seq(
      ("gr.a.cpu", Map.empty[String, String], ts, 1.0),
      ("gr.b.cpu", Map.empty[String, String], ts, 2.0))).toDF("name", "tags", "ts", "value")
    val api = new HttpApi(spark, base = Some(base))
    val port = api.start()
    try {
      val (body, started) = org.apache.spark.JobCounter.during(spark.sparkContext) {
        get(port, "/render?format=json&target=gr.*.cpu&from=60&until=120&storage_step=60")
      }
      assert(body.contains("gr.a.cpu") && body.contains("gr.b.cpu"), body)
      assert(started.jobs > 0)
      assert(started.jobGroups.forall(_.startsWith("graft-deadline-")), started.jobGroups)
    } finally api.stop()
  }

  test("a stalled request body holds one handler thread, not the server") {
    import java.nio.charset.StandardCharsets.UTF_8
    val api = new HttpApi(spark)
    val port = api.start()
    val sock = new java.net.Socket("127.0.0.1", port)
    try {
      sock.setSoTimeout(60000) // failure bound only: the reads below wait on data
      val body = "stalled{job=\"s\"} 7 60\n".getBytes(UTF_8)
      val out = sock.getOutputStream
      out.write((s"POST /api/v1/import/prometheus HTTP/1.1\r\nHost: 127.0.0.1\r\n" +
        s"Content-Length: ${body.length}\r\n\r\n").getBytes(UTF_8))
      out.write(body, 0, 5)
      out.flush()
      // the import's handler now blocks on the rest of its body; a query
      // on another connection must still be served
      val req = HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$port/api/v1/query?query=vector(1)&time=60"))
        .timeout(java.time.Duration.ofSeconds(60)).GET().build()
      val r = HttpClient.newHttpClient().send(req, HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 200, r.body())
      assert(sock.getInputStream.available() == 0, "the import answered before its body ended")
      out.write(body, 5, body.length - 5)
      out.flush()
      val status = new java.io.BufferedReader(
        new java.io.InputStreamReader(sock.getInputStream, UTF_8)).readLine()
      assert(status != null && status.startsWith("HTTP/1.1 204"), status)
      assert(get(port, "/api/v1/query?query=stalled&time=60")
        .contains(""""value":[60.0,"7"]"""))
    } finally { sock.close(); api.stop() }
  }

  test("the facade's sockets set TCP_NODELAY") {
    val api = new HttpApi(spark)
    api.start()
    try {
      // the JDK server's only switch, read once per JVM
      val noDelay = Class.forName("sun.net.httpserver.ServerConfig")
        .getDeclaredMethod("noDelay")
      noDelay.setAccessible(true)
      assert(noDelay.invoke(null) == java.lang.Boolean.TRUE)
    } finally api.stop()
  }
}
