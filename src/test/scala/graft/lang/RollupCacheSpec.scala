package graft.lang

import graft.{Engine, SparkSpec}
import graft.core.GridSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's rollup-result-cache contract ported against the O6
  * suffix cache (app/vmselect/promql/rollup_result_cache_test.go
  * TestRollupResultCache + TestMergeSeries). The designs differ — the
  * reference caches raw timestamp ranges per expression and returns a
  * newStart for partial re-evaluation; ours keys on
  * (plan, query, step, lookback, START) and extends/clips at the END —
  * so each subtest maps to the equivalent observable behavior:
  *
  *  reference subtest         → here
  *  empty                     → miss evaluates the full grid
  *  start-overlap-{no,with}-ae → suffix hit evaluates only the tail
  *                              (EvalSpec "O6 suffix fetch" pins the plan)
  *  end-overlap / before-start / after-end
  *                            → a different grid START is a different key:
  *                              full re-evaluation, never a wrong merge
  *  full-cover / bigger-than-start-end
  *                            → superset hit: served clipped, ZERO evals
  *  start-end-match           → full hit, the entry's own rows
  *  multi-timeseries          → merge equality across several series
  *  TestMergeSeries           → merged frame == fresh evaluation, exactly
  */
class RollupCacheSpec extends SparkSpec {

  private val M = 60000L

  private lazy val samples: DataFrame = {
    val rows = (1 to 12).flatMap { i =>
      val ts = i * M - 30000
      Seq(("m", Map("inst" -> "a"), ts, i.toDouble),
        ("m", Map("inst" -> "b"), ts, 100.0 - i))
    }
    val s = spark
    import s.implicits._
    rows.toDF("name", "tags", "ts", "value")
  }

  private def keyed(df: DataFrame): Map[(String, String, Long), Double] =
    df.collect().map(r => (r.getString(0),
      r.getMap[String, String](1).getOrElse("inst", ""),
      r.getLong(2)) -> r.getDouble(3)).toMap

  private val q = "avg_over_time(m[1m])"

  test("empty cache evaluates the full grid (reference: empty)") {
    Engine.clearCache()
    Engine.resetCacheStats()
    val g = GridSpec(M, 10 * M, M)
    val out = Engine.queryCached(samples, q, g)
    assert(Engine.cacheStats == ((0L, 0L, 1L)))
    assert(keyed(out) == keyed(Engine.query(samples, q, g)))
    Engine.clearCache()
  }

  test("superset serves clipped with zero evaluation (reference: full-cover, bigger-than-start-end)") {
    Engine.clearCache()
    Engine.resetCacheStats()
    val big = GridSpec(M, 12 * M, M)
    val small = GridSpec(M, 8 * M, M)
    Engine.queryCached(samples, q, big).count()
    val clipped = Engine.queryCached(samples, q, small)
    val (hits, suffix, evals) = Engine.cacheStats
    assert(hits == 1 && suffix == 0 && evals == 1, Engine.cacheStats.toString)
    assert(keyed(clipped) == keyed(Engine.query(samples, q, small)))
    // the longer frame stays cached: re-requesting it is still a full hit
    Engine.queryCached(samples, q, big)
    assert(Engine.cacheStats == ((2L, 0L, 1L)))
    // a non-pointwise query must NOT clip-serve (value depends on extent)
    Engine.resetCacheStats()
    Engine.queryCached(samples, "running_sum(m)", big).count()
    val rs = Engine.queryCached(samples, "running_sum(m)", small)
    assert(Engine.cacheStats == ((0L, 0L, 2L)))
    assert(keyed(rs) == keyed(Engine.query(samples, "running_sum(m)", small)))
    Engine.clearCache()
  }

  test("identical grid is a full hit returning the same frame (reference: start-end-match)") {
    Engine.clearCache()
    Engine.resetCacheStats()
    val g = GridSpec(M, 10 * M, M)
    val a = Engine.queryCachedRows(samples, q, g)
    val b = Engine.queryCachedRows(samples, q, g)
    assert(a.rows eq b.rows) // the frame is built per call; the rows are the entry's
    assert(Engine.cacheStats == ((1L, 0L, 1L)))
    Engine.clearCache()
  }

  test("exact and superset hits run no SQL execution and no Spark job") {
    Engine.clearCache()
    Engine.resetCacheStats()
    val big = GridSpec(M, 10 * M, M)
    val small = GridSpec(M, 6 * M, M)
    Engine.queryCachedRows(samples, q, big)
    val ((exact, superset), started) = org.apache.spark.JobCounter.during(spark.sparkContext) {
      (Engine.queryCachedRows(samples, q, big), Engine.queryCachedRows(samples, q, small))
    }
    assert(started.jobs == 0 && started.sqlExecutions == 0, started.toString)
    assert(Engine.cacheStats == ((2L, 0L, 1L)), Engine.cacheStats.toString)
    for ((got, g) <- Seq(exact -> big, superset -> small)) {
      val want = Engine.query(samples, q, g)
      assert(keyed(got.frame(spark)) == keyed(want))
      assert(got.rows.length == want.count())
    }
    Engine.clearCache()
  }

  test("disjoint or differently-anchored ranges never merge (reference: before-start, after-end, end-overlap)") {
    Engine.clearCache()
    Engine.resetCacheStats()
    // cache [1m..6m]; request [3m..10m]: the reference finds no usable
    // prefix (its cached start/end don't cover the request's start); our
    // start-keyed design re-evaluates — both produce exact results
    Engine.queryCached(samples, q, GridSpec(M, 6 * M, M)).count()
    val shifted = Engine.queryCached(samples, q, GridSpec(3 * M, 10 * M, M))
    assert(Engine.cacheStats == ((0L, 0L, 2L)), Engine.cacheStats.toString)
    assert(keyed(shifted) == keyed(Engine.query(samples, q, GridSpec(3 * M, 10 * M, M))))
    // a step-misaligned extension re-evaluates instead of merging wrongly
    val mis = Engine.queryCached(samples, q, GridSpec(M, 6 * M + 1, M))
    assert(Engine.cacheStats._3 == 3L)
    assert(keyed(mis) == keyed(Engine.query(samples, q, GridSpec(M, 6 * M + 1, M))))
    Engine.clearCache()
  }

  test("suffix merge equals fresh evaluation across several series (reference: multi-timeseries, TestMergeSeries)") {
    Engine.clearCache()
    Engine.resetCacheStats()
    val first = GridSpec(M, 5 * M, M)
    val full = GridSpec(M, 12 * M, M)
    Engine.queryCached(samples, q, first).count()
    val merged = Engine.queryCached(samples, q, full)
    assert(Engine.cacheStats == ((0L, 1L, 1L)), Engine.cacheStats.toString)
    val fresh = keyed(Engine.query(samples, q, full))
    assert(keyed(merged) == fresh)
    // both series survive the merge over the full grid
    assert(fresh.keys.map(_._2).toSet == Set("a", "b"))
    assert(fresh.keySet.count(_._2 == "a") == 12)
    Engine.clearCache()
  }
}
