package graft

import graft.core.GridSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** O7-lite instant-rollup delta (eval.go:1176-1535): a repeated instant
  * `fn(m[big])` query is served as cached ± two offset-sized delta windows.
  *
  * The bounded-scan proof: the second query runs against a frame whose
  * samples OUTSIDE the two delta windows are corrupted (×1000). Local
  * relations of equal schema share a canonical plan key, so the cache entry
  * (built from clean data) is reused; if the engine re-scanned the full
  * window it would see the corruption. Getting the clean-data answer back
  * proves only the delta ranges were read.
  */
class InstantRollupSpec extends SparkSpec {

  private val step = 60000L
  private val hour = 3600000L
  private val t0 = 1000L * hour // aligned on the minute grid
  private val t1 = t0 + 5 * step

  private def frame(values: Long => Double, fromMs: Long, toMs: Long): DataFrame = {
    val rows = new java.util.ArrayList[Row]()
    var ts = fromMs
    while (ts <= toMs) { rows.add(Row("m", Map.empty[String, String], ts, values(ts))); ts += step }
    spark.createDataFrame(rows, StructType(Seq(
      StructField("name", StringType),
      StructField("tags", MapType(StringType, StringType)),
      StructField("ts", LongType),
      StructField("value", DoubleType))))
  }

  private def one(df: DataFrame): Double = {
    val rows = df.collect()
    assert(rows.length == 1, s"expected 1 row, got ${rows.length}")
    rows.head.getDouble(3)
  }

  test("additive instant rollup reads only the delta windows on refresh") {
    Engine.clearCache()
    val clean = frame(_ => 1.0, t0 - 4 * hour, t1)
    // corrupt everything in the cached window's middle; keep the tail
    // (t0, t1] and the head (t1-3h-5m, t1-3h] ranges clean
    val corruptLo = t0 - 2 * hour
    val corruptHi = t0 - 1 * hour
    val corrupted = frame(ts => if (ts > corruptLo && ts <= corruptHi) 1000.0 else 1.0,
      t0 - 4 * hour, t1)

    val v0 = one(Engine.queryInstantCached(clean, "sum_over_time(m[3h])", GridSpec(t0, t0, step)))
    assert(v0 === 180.0) // (t0-3h, t0] holds 180 one-minute samples
    assert(Engine.instantCacheStats.misses === 1)

    // full evaluation over the corrupted frame would see the ×1000 middle
    // (60 corrupted samples: 180 - 60 + 60×1000 = 60120)
    val vFull = one(Engine.query(corrupted, "sum_over_time(m[3h])", GridSpec(t1, t1, step)))
    assert(vFull > 10000.0)

    val v1 = one(Engine.queryInstantCached(corrupted, "sum_over_time(m[3h])", GridSpec(t1, t1, step)))
    assert(v1 === 180.0, "delta path must not re-read the corrupted middle")
    assert(Engine.instantCacheStats.deltaHits === 1)
  }

  test("repeating the same instant timestamp is an exact cache hit") {
    Engine.clearCache()
    val clean = frame(_ => 2.0, t0 - 4 * hour, t0)
    val g = GridSpec(t0, t0, step)
    val a = one(Engine.queryInstantCached(clean, "count_over_time(m[3h])", g))
    val b = one(Engine.queryInstantCached(clean, "count_over_time(m[3h])", g))
    assert(a === b)
    assert(Engine.instantCacheStats.exactHits === 1)
    assert(Engine.instantCacheStats.misses === 1)
  }

  test("max_over_time merges cached and tail maxima when the head cannot win") {
    Engine.clearCache()
    // strictly increasing values: the head extremum is always dominated
    val clean = frame(ts => (ts - t0 + 4 * hour).toDouble / step, t0 - 4 * hour, t1)
    val v0 = one(Engine.queryInstantCached(clean, "max_over_time(m[3h])", GridSpec(t0, t0, step)))
    val v1 = one(Engine.queryInstantCached(clean, "max_over_time(m[3h])", GridSpec(t1, t1, step)))
    assert(v1 > v0)
    assert(v1 === one(Engine.query(clean, "max_over_time(m[3h])", GridSpec(t1, t1, step))))
    assert(Engine.instantCacheStats.deltaHits === 1)
    assert(Engine.instantCacheStats.aborts === 0)
  }

  test("max_over_time falls back to full evaluation when the maximum leaves the window") {
    Engine.clearCache()
    // one spike right after the cached window's start: it is the cached max
    // at t0, but by t1 it has fallen into the head delta window
    val spikeTs = t0 - 3 * hour + 2 * step
    val clean = frame(ts => if (ts == spikeTs) 500.0 else 1.0, t0 - 4 * hour, t1)
    val v0 = one(Engine.queryInstantCached(clean, "max_over_time(m[3h])", GridSpec(t0, t0, step)))
    assert(v0 === 500.0)
    val v1 = one(Engine.queryInstantCached(clean, "max_over_time(m[3h])", GridSpec(t1, t1, step)))
    assert(v1 === 1.0, "spike left the window; the abort path must re-evaluate")
    assert(Engine.instantCacheStats.aborts === 1)
  }

  test("avg_over_time refresh is served from delta-cached sum and count") {
    Engine.clearCache()
    val clean = frame(_ => 3.0, t0 - 4 * hour, t1)
    val v0 = one(Engine.queryInstantCached(clean, "avg_over_time(m[3h])", GridSpec(t0, t0, step)))
    assert(v0 === 3.0)
    assert(Engine.instantCacheStats.misses === 1) // one pass fills sum + count
    val v1 = one(Engine.queryInstantCached(clean, "avg_over_time(m[3h])", GridSpec(t1, t1, step)))
    assert(v1 === 3.0)
    assert(Engine.instantCacheStats.deltaHits === 1) // each entry's own delta, one read
  }

  /** `rows` written as a parquet store and read back: a file scan the
    * JobCounter can count
    */
  private def parquet(rows: java.util.List[Row])(f: DataFrame => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("instant-avg").toFile
    try {
      spark.createDataFrame(rows, StructType(Seq(
        StructField("name", StringType),
        StructField("tags", MapType(StringType, StringType)),
        StructField("ts", LongType),
        StructField("value", DoubleType)))).write.mode("overwrite").parquet(dir.getPath)
      f(spark.read.parquet(dir.getPath))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("an avg_over_time miss reads the store once; its hits divide on the driver") {
    Engine.clearCache()
    val rows = new java.util.ArrayList[Row]()
    var ts = t0 - 4 * hour
    while (ts <= t1) {
      Seq("a", "b", "c").zipWithIndex.foreach { case (p, i) =>
        rows.add(Row("m", Map("pod" -> p), ts, ((ts / step + i) % 7).toDouble))
      }
      ts += step
    }
    parquet(rows) { df =>
      val q = "avg_over_time(m[3h])"
      def want(at: Long) = asSet(Engine.query(df, q, GridSpec(at, at, step)).collect())
      val g = GridSpec(t0, t0, step)
      // a miss: sum and count in one rollup pass over one scan (the two
      // two-level leaves and their join took 18 jobs and 2 scans here)
      val (miss, started) = org.apache.spark.JobCounter.during(spark.sparkContext) {
        served(Engine.queryInstantServed(df, q, g))
      }
      assert(started.fileScans == 1, started.toString)
      assert(started.jobs <= 2, started.toString)
      assert(Engine.instantCacheStats == Engine.InstantStats(0, 0, 1, 0), Engine.instantCacheStats.toString)
      val atT0 = want(t0)
      assert(asSet(miss.rows) == atT0 && miss.rows.length == 3)
      // an exact hit divides the two entries' rows with no SQL at all
      val (hit, none) = org.apache.spark.JobCounter.during(spark.sparkContext) {
        served(Engine.queryInstantServed(df, q, g))
      }
      assert(none.jobs == 0 && none.sqlExecutions == 0, none.toString)
      assert(Engine.instantCacheStats == Engine.InstantStats(1, 0, 1, 0), Engine.instantCacheStats.toString)
      assert(asSet(hit.rows) == atT0)
      // a delta hit refreshes each entry by its own delta
      val delta = served(Engine.queryInstantServed(df, q, GridSpec(t1, t1, step)))
      assert(Engine.instantCacheStats == Engine.InstantStats(1, 1, 1, 0), Engine.instantCacheStats.toString)
      assert(asSet(delta.rows) == want(t1))
    }
  }

  test("an avg_over_time delta drops a series whose count reaches 0, as a full evaluation does") {
    Engine.clearCache()
    // pod b's samples all age out between t0 and t1: its delta-refreshed
    // sum and count are both 0. The sum/count join this replaced threw
    // DIVIDE_BY_ZERO there (ANSI division); the reference's 0/0 is NaN,
    // and a NaN point is absent
    val rows = new java.util.ArrayList[Row]()
    var ts = t0 - 3 * hour + step
    while (ts <= t1) {
      rows.add(Row("m", Map("pod" -> "a"), ts, 2.0))
      if (ts <= t0 - 3 * hour + 2 * step) rows.add(Row("m", Map("pod" -> "b"), ts, 4.0))
      ts += step
    }
    parquet(rows) { df =>
      val q = "avg_over_time(m[3h])"
      def want(at: Long) = asSet(Engine.query(df, q, GridSpec(at, at, step)).collect())
      assert(asSet(served(Engine.queryInstantServed(df, q, GridSpec(t0, t0, step))).rows) == want(t0))
      assert(want(t0).size == 2)
      val delta = served(Engine.queryInstantServed(df, q, GridSpec(t1, t1, step)))
      assert(Engine.instantCacheStats.deltaHits == 1, "must take the delta path")
      assert(asSet(delta.rows) == want(t1))
      assert(asSet(delta.rows).map(_._2) == Set(Map("pod" -> "a")))
    }
  }

  test("small windows and non-instant grids bypass the instant cache") {
    Engine.clearCache()
    val clean = frame(_ => 1.0, t0 - 2 * hour, t0)
    one(Engine.queryInstantCached(clean, "sum_over_time(m[30m])", GridSpec(t0, t0, step)))
    assert(Engine.instantCacheStats === Engine.InstantStats(0, 0, 0, 0))
  }

  // two-series frame for the aggregated dashboard shape
  private def taggedFrame(values: (String, Long) => Double,
      fromMs: Long, toMs: Long): DataFrame = {
    val rows = new java.util.ArrayList[Row]()
    var ts = fromMs
    while (ts <= toMs) {
      Seq("a", "b").foreach(p => rows.add(Row("m", Map("pod" -> p), ts, values(p, ts))))
      ts += step
    }
    spark.createDataFrame(rows, StructType(Seq(
      StructField("name", StringType),
      StructField("tags", MapType(StringType, StringType)),
      StructField("ts", LongType),
      StructField("value", DoubleType))))
  }

  test("sum(fn(m[w])) by (labels) rides the per-series delta cache") {
    Engine.clearCache()
    val clean = taggedFrame((_, _) => 1.0, t0 - 4 * hour, t1)
    val corrupted = taggedFrame(
      (_, ts) => if (ts > t0 - 2 * hour && ts <= t0 - hour) 1000.0 else 1.0,
      t0 - 4 * hour, t1)
    val q = "sum(sum_over_time(m[3h])) by (pod)"

    val r0 = Engine.queryInstantCached(clean, q, GridSpec(t0, t0, step)).collect()
    assert(r0.length === 2 && r0.forall(_.getDouble(3) === 180.0))
    assert(Engine.instantCacheStats.misses === 1)

    // the refresh must (a) take the delta path — clean answer despite the
    // corrupted middle — and (b) match Eval's own aggregation semantics
    // exactly (name null, tags reduced to the by-list)
    val r1 = Engine.queryInstantCached(corrupted, q, GridSpec(t1, t1, step))
    val full = Engine.query(clean, q, GridSpec(t1, t1, step))
    assert(r1.collect().toSet === full.collect().toSet)
    assert(Engine.instantCacheStats.deltaHits === 1)

    // a different aggregation of the SAME inner shares the cache entry
    val r2 = Engine.queryInstantCached(corrupted, "max(sum_over_time(m[3h]))",
      GridSpec(t1, t1, step)).collect()
    assert(r2.length === 1 && r2.head.getDouble(3) === 180.0)
    assert(Engine.instantCacheStats.deltaHits === 2)
    assert(Engine.instantCacheStats.misses === 1)

    // the whole grouped family is exact over the per-series merged frame
    // — avg and count against Eval's own full evaluation on clean data
    val qAvg = "avg(sum_over_time(m[3h])) by (pod)"
    assert(Engine.queryInstantCached(corrupted, qAvg, GridSpec(t1, t1, step))
      .collect().toSet ===
      Engine.query(clean, qAvg, GridSpec(t1, t1, step)).collect().toSet)
    val rCnt = Engine.queryInstantCached(corrupted, "count(sum_over_time(m[3h]))",
      GridSpec(t1, t1, step)).collect()
    assert(rCnt.length === 1 && rCnt.head.getDouble(3) === 2.0) // two series
    assert(Engine.instantCacheStats.misses === 1, "all aggregations share one entry")
  }

  test("a fully-aged-out series stays at 0 in the delta frame (reference parity)") {
    Engine.clearCache()
    // pod b's samples live ONLY in the first 2 minutes of the t0 window:
    // by t1 they have all aged out. The additive delta keeps b in the
    // per-series frame with cached − head = 0 — exactly the reference's
    // getSumInstantValues (eval.go:1653-1696 keeps the union of
    // cached+tail series and never drops a zeroed one) — so non-sum outer
    // aggregates (count/min/avg) see the dead series until tooBigOffset
    // forces a cold re-eval. This pins the DOCUMENTED parity behavior:
    // the delta count is 2, a cold recompute would say 1.
    val rows = new java.util.ArrayList[Row]()
    var ts = t0 - 3 * hour + step
    while (ts <= t1) {
      rows.add(Row("m", Map("pod" -> "a"), ts, 1.0))
      if (ts <= t0 - 3 * hour + 2 * step) rows.add(Row("m", Map("pod" -> "b"), ts, 1.0))
      ts += step
    }
    val df = spark.createDataFrame(rows, StructType(Seq(
      StructField("name", StringType),
      StructField("tags", MapType(StringType, StringType)),
      StructField("ts", LongType),
      StructField("value", DoubleType))))
    val q = "count(sum_over_time(m[3h]))"
    val r0 = Engine.queryInstantCached(df, q, GridSpec(t0, t0, step)).collect()
    assert(r0.length === 1 && r0.head.getDouble(3) === 2.0) // both alive at t0
    assert(Engine.instantCacheStats.misses === 1)
    // refresh at t1: b aged out; a cold recompute counts 1
    val cold = Engine.query(df, q, GridSpec(t1, t1, step)).collect()
    assert(cold.head.getDouble(3) === 1.0)
    // the delta path keeps b at 0 → count 2 (parity with evalInstantRollup)
    val delta = Engine.queryInstantCached(df, q, GridSpec(t1, t1, step)).collect()
    assert(Engine.instantCacheStats.deltaHits === 1, "must take the delta path")
    assert(delta.head.getDouble(3) === 2.0,
      "additive delta keeps the zeroed dead series — documented reference parity")
    // sum is unaffected by the phantom (0 contributes nothing)
    val sumDelta = Engine.queryInstantCached(df, "sum(sum_over_time(m[3h]))",
      GridSpec(t1, t1, step)).collect()
    assert(sumDelta.head.getDouble(3) ===
      Engine.query(df, "sum(sum_over_time(m[3h]))", GridSpec(t1, t1, step))
        .collect().head.getDouble(3))
  }

  /** one sample a minute in (fromMs, toMs] for each series, value 1 */
  private def store(series: Seq[Map[String, String]], fromMs: Long, toMs: Long): DataFrame = {
    val rows = new java.util.ArrayList[Row]()
    for (tags <- series) {
      var ts = fromMs + step
      while (ts <= toMs) { rows.add(Row("m", tags, ts, 1.0)); ts += step }
    }
    spark.createDataFrame(rows, StructType(Seq(
      StructField("name", StringType),
      StructField("tags", MapType(StringType, StringType)),
      StructField("ts", LongType),
      StructField("value", DoubleType))))
  }

  private def asSet(rows: Array[Row]): Set[(String, Map[String, String], Long, Double)] =
    rows.map(r => (r.getString(0), r.getMap[String, String](1).toMap, r.getLong(2),
      r.getDouble(3))).toSet

  private def served(res: Either[DataFrame, Engine.Collected]): Engine.Collected =
    res.getOrElse(fail("expected the cache to serve driver rows"))

  private val pods = Seq(
    Map("pod" -> "a", "job" -> "x"), Map("pod" -> "b", "job" -> "x"),
    Map("pod" -> "c", "job" -> "y"))

  test("O7 exact hits, bare and aggregated, run no SQL execution and no Spark job") {
    Engine.clearCache()
    val df = store(pods, t0 - 4 * hour, t0)
    val g = GridSpec(t0, t0, step)
    val bare = "count_over_time(m[3h])"
    val agg = "sum by (job) (count_over_time(m[3h]))"
    served(Engine.queryInstantServed(df, bare, g))
    served(Engine.queryInstantServed(df, agg, g))
    val before = Engine.instantCacheStats
    val ((b, a), started) = org.apache.spark.JobCounter.during(spark.sparkContext) {
      (served(Engine.queryInstantServed(df, bare, g)), served(Engine.queryInstantServed(df, agg, g)))
    }
    assert(started.jobs == 0 && started.sqlExecutions == 0, started.toString)
    // one exact hit per served hit
    assert(Engine.instantCacheStats == before.copy(exactHits = before.exactHits + 2),
      Engine.instantCacheStats.toString)
    assert(asSet(b.rows) == asSet(Engine.query(df, bare, g).collect()))
    assert(asSet(a.rows) == asSet(Engine.query(df, agg, g).collect()))
    assert(asSet(a.rows).map(r => (r._2, r._4)) == Set(Map("job" -> "x") -> 360.0,
      Map("job" -> "y") -> 180.0))
  }

  test("the aggregated O7 entry is not served across a store change or a delta refresh") {
    Engine.clearCache()
    val g = GridSpec(t0, t0, step)
    val agg = "sum by (job) (count_over_time(m[3h]))"
    // same schema → same canonicalized plan; the tag is the store version
    val v1 = store(pods.take(2), t0 - 4 * hour, t1)
    val v2 = store(pods, t0 - 4 * hour, t1)
    def want(df: DataFrame, at: Long) = asSet(Engine.query(df, agg, GridSpec(at, at, step)).collect())
    served(Engine.queryInstantServed(v1, agg, g, cacheTag = "v1"))
    assert(asSet(served(Engine.queryInstantServed(v1, agg, g, cacheTag = "v1")).rows) == want(v1, t0))
    assert(Engine.instantCacheStats == Engine.InstantStats(1, 0, 1, 0), Engine.instantCacheStats.toString)
    // a new store version misses: it must see job y
    val afterIngest = served(Engine.queryInstantServed(v2, agg, g, cacheTag = "v2")).rows
    assert(asSet(afterIngest) == want(v2, t0))
    assert(Engine.instantCacheStats == Engine.InstantStats(1, 0, 2, 0), Engine.instantCacheStats.toString)
    // a delta refresh is served, but never becomes the aggregated entry:
    // repeating the refreshed instant takes the delta path again
    val gt1 = GridSpec(t1, t1, step)
    for (i <- 1 to 2) {
      val refreshed = served(Engine.queryInstantServed(v2, agg, gt1, cacheTag = "v2")).rows
      assert(asSet(refreshed) == want(v2, t1))
      assert(Engine.instantCacheStats == Engine.InstantStats(1, i.toLong, 2, 0),
        Engine.instantCacheStats.toString)
    }
    // the instant the entries were filled at is still an exact hit
    assert(asSet(served(Engine.queryInstantServed(v2, agg, g, cacheTag = "v2")).rows) == want(v2, t0))
    assert(Engine.instantCacheStats == Engine.InstantStats(2, 2, 2, 0), Engine.instantCacheStats.toString)

    // nor is a delta result kept until the leaf's entry is exact at
    // its instant again: over the delta, `count` still sees a series that
    // aged out (at value 0, reference parity); a full evaluation drops it
    Engine.clearCache()
    val t2 = t0 + 40 * step // past tooBigOffset: a full evaluation
    val dying = store(pods.take(1), t0 - 3 * hour, t2)
      .union(store(pods.slice(1, 2), t0 - 3 * hour, t0 - 3 * hour + 2 * step))
    val cnt = "count(sum_over_time(m[3h]))"
    val leaf = "sum_over_time(m[3h])"
    def at(ts: Long, q: String = cnt) = served(Engine.queryInstantServed(dying, q, GridSpec(ts, ts, step))).rows
    assert(at(t0).head.getDouble(3) == 2.0)
    assert(at(t1).head.getDouble(3) == 2.0) // the delta keeps the dead series
    // the leaf alone moves its entry to t2, then back to t1, both in full
    at(t2, leaf)
    at(t1, leaf)
    val before = Engine.instantCacheStats
    assert(asSet(at(t1)) == asSet(Engine.query(dying, cnt, GridSpec(t1, t1, step)).collect()))
    assert(at(t1).head.getDouble(3) == 1.0)
    assert(Engine.instantCacheStats.exactHits == before.exactHits + 2, Engine.instantCacheStats.toString)
  }

  test("cacheTag invalidates instant entries for mutable same-plan stores") {
    Engine.clearCache()
    val g = GridSpec(t0, t0, step)
    // same schema → same canonicalized plan text for BOTH local relations
    val v1 = frame(_ => 1.0, t0 - 3 * hour + step, t0)
    val v2 = frame(_ => 2.0, t0 - 3 * hour + step, t0)
    val a = one(Engine.queryInstantCached(v1, "sum_over_time(m[3h])", g, cacheTag = "v1"))
    // without the tag this would be an exact hit serving v1's rows
    val b = one(Engine.queryInstantCached(v2, "sum_over_time(m[3h])", g, cacheTag = "v2"))
    assert(a === 180.0 && b === 360.0)
    assert(Engine.instantCacheStats.misses === 2)
    assert(Engine.instantCacheStats.exactHits === 0)
  }
}
