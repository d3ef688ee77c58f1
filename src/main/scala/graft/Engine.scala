package graft

import graft.core.GridSpec
import graft.lang.{AggrFuncExpr, BinaryOpExpr, Eval, Expr, FuncExpr, MetricExpr, NumberExpr, ParensExpr, Parser, RollupExpr, StringExpr}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Engine facade: MetricsQL text → grid DataFrame (name, tags, t, value).
  *
  * The Spark analogue of promql.Exec (app/vmselect/promql/exec.go:36):
  * parse (WITH expansion + const folding at parse time), then lower the AST
  * to a DataFrame program on the requested grid via [[graft.lang.Eval]].
  */
object Engine {
  def query(
      samples: DataFrame,
      q: String,
      grid: GridSpec,
      lookbackMs: Long = 300000L,
      // tag→names index for nameless tag lookups (Eval.EvalConfig.tagIndex)
      tagIndex: Option[DataFrame] = None): DataFrame =
    Eval.eval(samples, Parser.parse(q),
      Eval.EvalConfig(grid, lookbackMs, tagIndex = tagIndex))

  /** Downsampling-aware query routing: evaluate against the COARSEST
    * downsampled tier whose interval nests into the requested grid —
    * `interval` divides `step` and the grid points are interval-aligned —
    * falling back to full resolution otherwise. The Spark form of
    * vmselect picking a per-query resolution over `-downsampling.period`
    * data (docs/victoriametrics/README.md Downsampling: queries touching
    * old ranges read the downsampled series the background merges left).
    *
    * Exactness: downsampling keeps the LAST sample per end-aligned
    * interval ([[graft.pipeline.Dedup.downsample]]), so for the keep-last
    * family (bare selectors / default_rollup / last_over_time) an ALIGNED
    * coarse grid reads the same value the full-res store yields at every
    * point — gated by `ev_downsample_routing`. Sample-consuming rollups
    * (sum_over_time, …) see the tier's reduced sample set — the standard
    * downsampling accuracy trade, identical to the reference where the
    * merges REPLACED the raw samples.
    *
    * At 100 TB this is the scan reduction: a 30-day dashboard at 1h step
    * reads the 1h tier (≈ interval/scrape-interval × fewer rows and
    * bytes), not the raw store.
    */
  def queryRouted(
      fullRes: DataFrame,
      tiers: Map[Long, DataFrame],
      q: String,
      grid: GridSpec,
      lookbackMs: Long = 300000L): DataFrame =
    query(routeFrame(fullRes, tiers, grid), q, grid, lookbackMs)

  /** the tier pick alone — the HTTP facade routes THEN runs its own
    * (cached, decorated) evaluation over the chosen frame
    */
  def routeFrame(
      fullRes: DataFrame,
      tiers: Map[Long, DataFrame],
      grid: GridSpec): DataFrame =
    routeInterval(tiers.keys, grid).map(tiers).getOrElse(fullRes)

  /** the coarsest configured interval that nests into the grid (divides
    * the step, start interval-aligned), or None for full resolution —
    * separated so the facade can pick the tier BEFORE paying for its
    * decorated read-path plan (decorating every tier per request would
    * build N plans to discard N−1)
    */
  def routeInterval(intervals: Iterable[Long], grid: GridSpec): Option[Long] =
    intervals.filter { iv =>
      iv > 0 && iv <= grid.stepMs && grid.stepMs % iv == 0 && grid.startMs % iv == 0
    }.toSeq.sorted.lastOption

  /** AdjustStartEnd (eval.go:77-101): round the grid to step-aligned
    * timestamps KEEPING the point count, so repeated now-relative
    * dashboard refreshes produce cacheable (and tier-routable — the
    * routing precondition is `startMs % interval == 0`, which holds for
    * any interval dividing the step once start is step-aligned) grids.
    * The reference skips this under `nocache` for exact-time results;
    * callers do the same.
    */
  def adjustStartEnd(startMs: Long, endMs: Long, stepMs: Long): (Long, Long) = {
    val points = (endMs - startMs) / stepMs + 1
    val aStart = startMs - math.floorMod(startMs, stepMs)
    (aStart, aStart + (points - 1) * stepMs)
  }

  /** A result held on the driver: its collected rows and their schema.
    * The HTTP writer serves the rows as they are, with no Catalyst pass;
    * [[frame]] builds a local relation over them for callers that need a
    * DataFrame. The frame is built on each call and never kept beside the
    * rows, so a cache entry holds one copy of its result.
    */
  final case class Collected(rows: Array[Row], schema: StructType) {
    def frame(spark: SparkSession): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** a served result as a DataFrame: uncached plans pass through */
  private def frameOf(spark: SparkSession, res: Either[DataFrame, Collected]): DataFrame =
    res.fold(identity, _.frame(spark))

  /** O6 result memoization with TIME-SUFFIX FETCH
    * (rollup_result_cache.go:283 — a dashboard refresh repeats the same
    * expr with the end timestamp advanced; only the new suffix must be
    * evaluated). Like the reference's in-memory cache blocks
    * (rollup_result_cache.go:202,364), an entry holds the COLLECTED result
    * rows on the driver, and a hit hands those rows to the caller:
    *
    *  - exact (query, grid) repeats return the entry's rows themselves —
    *    serving them runs no Spark job and no Catalyst pass
    *  - a repeat whose grid is a clipped SUPERSET of the entry gets the
    *    entry's rows up to its end, filtered on the driver
    *  - a repeat whose grid extends FORWARD by whole steps evaluates only
    *    (cachedEnd, newEnd] and appends those rows to the entry's rows —
    *    provided the query is pointwise in time (each grid point depends
    *    only on samples in its own lookback window, like the reference's
    *    rollup-level cache entries). Queries with whole-range semantics
    *    (the running_, range_, sort, limit families) always re-evaluate.
    *
    * Bounded by entry count and total rows ([[ResultCache]]).
    */
  private final case class Entry(endMs: Long, res: Collected)

  /** Row budget of each result cache (O6 and O7 alike). The serving
    * driver runs with a 2 GB heap at the least; a result row — name, a
    * 10-label tag map, t, value — measures ~1.4 KB (SizeEstimator, 20k
    * collected rows) as the external `Row` an entry holds, against ~1.9 KB
    * as a local relation's converted Catalyst row, so 128k rows ≈ 180 MB:
    * under an eighth of that heap per cache.
    */
  private val MaxCachedRows = 128L * 1024
  /** a single result above this share of the budget is served but not
    * cached, so one huge result cannot flush every other entry
    */
  private[graft] val MaxEntryRows = MaxCachedRows / 4
  private val MaxEntries = 64

  /** access-ordered map of driver-held results, at most [[MaxEntries]]
    * entries and [[MaxCachedRows]] rows, least recently used evicted
    * first. Callers evaluate and collect OUTSIDE its lock; only lookups
    * and inserts take it, so a long miss never blocks another caller's hit.
    */
  private final class ResultCache[K, V](rowsOf: V => Long) {
    private val map = new java.util.LinkedHashMap[K, V](16, 0.75f, true)
    private var rows = 0L
    def get(k: K): Option[V] = synchronized(Option(map.get(k)))
    def put(k: K, v: V): Unit = synchronized {
      if (rowsOf(v) <= MaxEntryRows) {
        Option(map.put(k, v)).foreach(old => rows -= rowsOf(old))
        rows += rowsOf(v)
        // the new entry iterates last, and fits the budget on its own
        val it = map.values().iterator()
        while (map.size() > MaxEntries || rows > MaxCachedRows) {
          rows -= rowsOf(it.next())
          it.remove()
        }
      }
    }
    def size: Int = synchronized(map.size())
    def clear(): Unit = synchronized { map.clear(); rows = 0L }
  }

  /** Single-flight for cache fills: concurrent callers that miss the same
    * key evaluate it once. N wall screens refreshing the same new range
    * get one evaluation and N−1 hits, as they would one after another.
    */
  private final class Flights[K] {
    private val inFlight =
      new java.util.concurrent.ConcurrentHashMap[K, java.util.concurrent.CountDownLatch]()

    /** `lookup`'s answer, else `fill` run by the one caller that claims
      * `k` (after one more lookup: a fill may have landed in between).
      * The other callers wait for it and look again; if the filler
      * failed — its deadline cancelled its job group, say — the cache
      * still misses and one of them fills instead of taking on the error.
      */
    def apply[T](k: K)(lookup: => Option[T])(fill: => T): T = {
      var out = lookup
      while (out.isEmpty) {
        val mine = new java.util.concurrent.CountDownLatch(1)
        val prev = inFlight.putIfAbsent(k, mine)
        if (prev != null) {
          graft.lang.Trace.child("wait for a concurrent evaluation of the same entry")(prev.await())
          out = lookup
        } else
          try out = Some(lookup.getOrElse(fill))
          finally { inFlight.remove(k, mine); mine.countDown() }
      }
      out.get
    }
  }

  /** run `df` once, keeping its rows on the driver */
  private def collectRows(df: DataFrame): Collected =
    Collected(graft.lang.Trace.child("execute plan and collect result rows")(df.collect()),
      df.schema)

  /** cache key material for the store: its canonicalized plan plus the
    * caller's tag (see [[queryCached]]'s `cacheTag`)
    */
  private def planKey(samples: DataFrame, cacheTag: String): String =
    samples.queryExecution.logical.canonicalized.toString + "|" + cacheTag

  private val cache =
    new ResultCache[(String, String, Long, Long, Long), Entry](_.res.rows.length)
  private val fills = new Flights[(String, String, Long, Long, Long)]

  /** cache observability for tests/ops: (exactHits, suffixHits, misses) */
  @volatile private var stats = (0L, 0L, 0L)
  def cacheStats: (Long, Long, Long) = stats
  def resetCacheStats(): Unit = stats = (0L, 0L, 0L)
  private def countO6(f: ((Long, Long, Long)) => (Long, Long, Long)): Unit =
    cache.synchronized { stats = f(stats) }

  /** live entry count, for the /metrics vm_cache_entries gauge */
  def cacheEntryCount: Int = cache.size

  /** ALLOWLIST of transforms known to be pointwise in time: the value at a
    * grid point depends only on that point's inputs, so a suffix evaluation
    * over (cachedEnd, newEnd] produces the same rows a full evaluation
    * would. Everything NOT listed fails closed to full re-evaluation — the
    * running_/range_/sort/limit families carry whole-range state, and so do
    * smooth_exponential, remove_resets (running from range start),
    * keep_last_value/keep_next_value/interpolate (gap fill across points),
    * the rand family and now (nondeterministic), start/end
    * (grid-extent-valued). Rollup
    * functions are window-local (each point reads only its own lookback
    * window) and are allowed via [[Eval.isRollupFn]]. The reference caches
    * below such nodes at the rollup level — rollup_result_cache.go:202.
    */
  private val pointwiseTransforms: Set[String] = Set(
    // one-arg math (transform.go:25-130)
    "abs", "ceil", "floor", "exp", "ln", "log2", "log10", "sqrt", "sin",
    "cos", "tan", "asin", "acos", "atan", "sinh", "cosh", "tanh", "asinh",
    "acosh", "atanh", "deg", "rad", "sgn",
    "round", "clamp", "clamp_min", "clamp_max",
    // calendar projections of t
    "day_of_month", "day_of_week", "day_of_year", "days_in_month",
    "hour", "minute", "month", "year", "timezone_offset",
    // label surgery (per-row, time-independent)
    "alias", "label_set", "label_del", "label_keep", "label_copy",
    "label_move", "label_join", "label_replace", "label_value",
    "label_lowercase", "label_uppercase", "label_match", "label_mismatch",
    "labels_equal", "label_map", "label_transform",
    // per-point structure ops
    "absent", "union", "vector", "scalar", "time", "step", "pi",
    "drop_empty_series",
    "prometheus_buckets", "buckets_limit",
    "histogram_quantile", "histogram_share", "histogram_avg",
    "histogram_stddev", "histogram_stdvar", "histogram_fraction",
    "histogram_quantiles",
    "bitmap_and", "bitmap_or", "bitmap_xor")

  private def pointwiseInTime(e: Expr): Boolean = e match {
    case FuncExpr(n, args, _) =>
      (Eval.isRollupFn(n) || pointwiseTransforms(n)) && args.forall(pointwiseInTime)
    case AggrFuncExpr(n, args, _, limit) =>
      n != "limitk" && limit == 0 && args.forall(pointwiseInTime)
    case BinaryOpExpr(_, l, r, _, _, _, _, _, _) => pointwiseInTime(l) && pointwiseInTime(r)
    case RollupExpr(inner, _, _, _, at, _, _) =>
      // @-pinned evaluations replicate one instant — grid-size dependent
      at.isEmpty && pointwiseInTime(inner)
    case ParensExpr(es) => es.forall(pointwiseInTime)
    case _: MetricExpr | _: NumberExpr | _: StringExpr => true
    case _ => false
  }

  /** @param cacheTag extra key material for stores whose logical plan
    *   doesn't change when their DATA does (a rebuilt LocalRelation prints
    *   the same canonicalized plan for any contents, and a parquet
    *   directory scan the same path after new files land). Callers owning
    *   a mutable store MUST bump it on every write/delete — the HTTP
    *   facade passes its store version — or call [[clearCache]].
    */
  def queryCached(
      samples: DataFrame,
      q: String,
      grid: GridSpec,
      lookbackMs: Long = 300000L,
      cacheTag: String = "",
      tagIndex: Option[DataFrame] = None): DataFrame =
    queryCachedRows(samples, q, grid, lookbackMs, cacheTag, tagIndex)
      .frame(samples.sparkSession)

  /** [[queryCached]]'s rows: a hit returns the entry's rows (clipped on a
    * superset hit), a miss or suffix hit the rows it just collected.
    */
  def queryCachedRows(
      samples: DataFrame,
      q: String,
      grid: GridSpec,
      lookbackMs: Long = 300000L,
      cacheTag: String = "",
      // tag→names index for nameless lookups — a pure narrowing (results
      // identical with or without it), so cache entries stay valid across
      // indexed and unindexed evaluations of the same key
      tagIndex: Option[DataFrame] = None): Collected = {
    val key = (planKey(samples, cacheTag), q, grid.stepMs, lookbackMs, grid.startMs)
    def pointwise = try pointwiseInTime(Parser.parse(q)) catch { case _: Exception => false }
    def hit: Option[Collected] = cache.get(key) match {
      case Some(Entry(end, res)) if end == grid.endMs =>
        countO6 { case (e, s, m) => (e + 1, s, m) }
        graft.lang.Trace.printf("rollup result cache: full hit")
        Some(res)
      case Some(Entry(end, res)) if end > grid.endMs &&
          (end - grid.endMs) % grid.stepMs == 0 && pointwise =>
        // cached rows are a SUPERSET of the request: a pointwise query's
        // value at t doesn't depend on the grid extent, so the prefix IS
        // the answer — serve it clipped, evaluate nothing, and keep the
        // longer entry cached (rollup_result_cache_test.go
        // "bigger-than-start-end": newStart lands past the requested end,
        // i.e. zero re-evaluation)
        countO6 { case (e, s, m) => (e + 1, s, m) }
        graft.lang.Trace.printf("rollup result cache: superset hit, clipped")
        val t = res.schema.fieldIndex("t")
        Some(res.copy(rows = res.rows.filter(_.getLong(t) <= grid.endMs)))
      case _ => None
    }
    fills(key)(hit)(cache.get(key) match {
      case Some(Entry(end, res)) if end < grid.endMs &&
          (grid.endMs - end) % grid.stepMs == 0 && pointwise =>
        val suffixGrid = GridSpec(end + grid.stepMs, grid.endMs, grid.stepMs)
        graft.lang.Trace.printf(
          s"rollup result cache: suffix hit, evaluated [${suffixGrid.startMs}..${suffixGrid.endMs}]")
        val suffix = query(samples, q, suffixGrid, lookbackMs, tagIndex)
          .select(res.schema.fieldNames.map(org.apache.spark.sql.functions.col): _*)
        val merged = res.copy(rows = res.rows ++ collectRows(suffix).rows)
        countO6 { case (e, s, m) => (e, s + 1, m) }
        cache.put(key, Entry(grid.endMs, merged))
        merged
      case _ =>
        graft.lang.Trace.printf("rollup result cache: miss")
        val res = collectRows(query(samples, q, grid, lookbackMs, tagIndex))
        countO6 { case (e, s, m) => (e, s, m + 1) }
        cache.put(key, Entry(grid.endMs, res))
        res
    })
  }

  def clearCache(): Unit = {
    cache.clear()
    instantCache.synchronized {
      instantCache.clear()
      instantStats = InstantStats(0, 0, 0, 0)
    }
  }

  // ------------------------------------------------------------------
  // O7-lite: instant-rollup delta (eval.go:1176-1535 evalInstantRollup).
  //
  // A dashboard's instant query `fn(m[big])` repeats with the timestamp
  // advanced by a small offset. Instead of re-scanning the whole window:
  //
  //   additive fn (sum/count/increase family, eval.go:1473):
  //     fn(m[w] @ t) = fn(m[w] @ t-off) [cached]
  //                  + fn(m[off] @ t)        [tail delta]
  //                  - fn(m[off] @ t-w)      [head delta]
  //   max/min (eval.go:1352,1409): candidate = f(cached, tail); valid only
  //     when the head window's extremum cannot have been the winner —
  //     otherwise fall back to a full evaluation (per-series check).
  //   avg_over_time (eval.go:1270): a sum entry and a count entry, filled
  //     together by one rollup pass on a miss and delta-refreshed leaf by
  //     leaf; avg = sum / count is formed on the driver over their rows.
  //
  // Both delta windows span `off` ≪ `w` milliseconds, so the storage scan
  // is bounded by the refresh interval, not the window — at 100 TB this is
  // the difference between scanning minutes and scanning a day per refresh.
  // Like the reference, a delta hit does NOT overwrite the cache entry:
  // offsets grow until tooBigOffset (≥ min(w/2, 30min), eval.go:1197)
  // forces a fresh full evaluation, so float error cannot chain across
  // refreshes.
  // ------------------------------------------------------------------

  /** cached instant result at (tsMs, windowMs), held as driver rows like
    * [[Entry]]: per series for a rollup leaf, per group for an aggregated
    * shape
    */
  private final case class InstantEntry(tsMs: Long, windowMs: Long, res: Collected)

  private val instantCache =
    new ResultCache[(String, String, Long), InstantEntry](_.res.rows.length)
  private val instantFills = new Flights[(String, String, Long)]

  final case class InstantStats(exactHits: Long, deltaHits: Long, misses: Long, aborts: Long)
  @volatile private var instantStats = InstantStats(0, 0, 0, 0)
  def instantCacheStats: InstantStats = instantStats
  private def countO7(f: InstantStats => InstantStats): Unit =
    instantCache.synchronized { instantStats = f(instantStats) }

  /** additive instant rollups: rf(a+b windows) = rf(a) + rf(b)
    * (eval.go:1466). Known reference-parity artifact: a series whose last
    * sample left the window between refreshes stays in the delta result
    * with value cached − head = 0 until tooBigOffset forces a full eval —
    * the reference does exactly the same (getSumInstantValues keeps the
    * union of cached+tail series and never drops a zeroed one,
    * eval.go:1653-1696), so aggregations of the delta frame match the
    * reference's own optimized path; a cold full recompute would omit the
    * dead series for up to the tooBigOffset horizon, same as there.
    */
  private val additiveInstantFns = Set(
    "count_over_time", "sum_over_time", "increase", "increase_pure",
    "count_eq_over_time", "count_gt_over_time", "count_le_over_time", "count_ne_over_time")

  /** reference default -search.minWindowForInstantRollupOptimization = 3h */
  val DefaultInstantMinWindowMs: Long = 3L * 3600 * 1000

  /** Instant-query entry point with the O7 delta optimization. Supports
    * the bare shapes `fn(m[w])` and `avg_over_time(m[w])`, plus the
    * aggregated dashboard shape `agg(fn(m[w])) [by|without (labels)]` for
    * agg ∈ {sum, min, max} (the reference serves the same shapes through
    * evalInstantRollup under the incremental-aggregation wrapper,
    * eval.go:1176): the per-SERIES instant result comes from the delta
    * cache — keyed on the INNER rollup text, so every aggregation of the
    * same leaf shares one entry — and the aggregation runs on top of that
    * series-scale frame (one row per series: a driver-light, shuffle-tiny
    * job whatever the window). Anything else (or a window below
    * `minWindowMs`, or a non-instant grid) falls through to [[query]].
    *
    * @param cacheTag extra key material for MUTABLE stores — same
    *   contract as [[queryCached]]: a rebuilt LocalRelation (the facade's
    *   ingest buffer) or a re-listed parquet directory canonicalizes to
    *   the same plan text whatever its data, so callers owning a mutable
    *   store MUST bump the tag on every write/delete (the HTTP facade
    *   passes its store version) or a delta/exact hit serves stale rows.
    */
  def queryInstantCached(
      samples: DataFrame,
      q: String,
      grid: GridSpec,
      lookbackMs: Long = 300000L,
      minWindowMs: Long = DefaultInstantMinWindowMs,
      cacheTag: String = "",
      tagIndex: Option[DataFrame] = None): DataFrame =
    frameOf(samples.sparkSession,
      queryInstantServed(samples, q, grid, lookbackMs, minWindowMs, cacheTag, tagIndex))

  /** [[queryInstantCached]]'s result as the cache serves it: driver rows
    * for the O7 shapes — an exact hit returns the entry's rows, or for
    * avg_over_time its sum and count entries' rows divided on the driver
    * — or the plan of a shape that evaluates uncached (a non-O7 shape, a
    * window below `minWindowMs`).
    *
    * An aggregated shape over a cached leaf keeps its aggregated rows as
    * an entry of its own, keyed by the full query text, so an exact hit
    * re-runs no aggregation. That entry is filled only from the leaf's
    * own entry (a miss or an exact hit), never from a delta result, and
    * served only while the leaf's entry is exact at the same instant: the
    * hit counts once, as the leaf's exact hit would.
    */
  def queryInstantServed(
      samples: DataFrame,
      q: String,
      grid: GridSpec,
      lookbackMs: Long = 300000L,
      minWindowMs: Long = DefaultInstantMinWindowMs,
      cacheTag: String = "",
      tagIndex: Option[DataFrame] = None): Either[DataFrame, Collected] = {
    def uncached = Left(query(samples, q, grid, lookbackMs, tagIndex))
    if (grid.startMs != grid.endMs) return uncached
    val ast = try Parser.parse(q) catch { case _: Exception => return uncached }
    lazy val pk = planKey(samples, cacheTag)
    def leaf(cacheQ: String, fe: FuncExpr) =
      instantLeaf(samples, pk, cacheQ, grid, lookbackMs, minWindowMs, tagIndex, fe)
    ast match {
      case AggrFuncExpr(agg, Seq(inner: FuncExpr), modifier, 0)
          if instantAggFns(agg) && instantShape(inner) =>
        // per-series delta-cached eval of the inner rollup, then the
        // (series-scale) aggregation. Correct for EVERY simple grouped
        // aggregate, not just additive ones: the delta machinery runs
        // per series (with its own min/max head-validity aborts), so the
        // merged frame IS fn(m[w]) @ t for every series — any
        // aggregation of it equals the full recompute's.
        def aggregate(per: Either[DataFrame, Collected]) =
          aggregateInstant(frameOf(samples.sparkSession, per), agg, modifier)
        val innerQ = graft.lang.Render.render(inner)
        val leafWindowMs = inner match {
          case FuncExpr(fn, Seq(re: RollupExpr), _) if fn != "avg_over_time" =>
            Some(re.window.get.ms(grid.stepMs)).filter(_ >= minWindowMs)
          case _ => None
        }
        leafWindowMs match {
          case Some(windowMs) =>
            val key = (pk, innerQ, lookbackMs)
            val aggKey = (pk, s"agg|$q", lookbackMs)
            def exact(k: (String, String, Long)) = instantCache.get(k)
              .filter(e => e.tsMs == grid.startMs && e.windowMs == windowMs)
            exact(key).flatMap(_ => exact(aggKey)) match {
              case Some(e) =>
                countO7(st => st.copy(exactHits = st.exactHits + 1))
                Right(e.res)
              case None =>
                val per = leaf(innerQ, inner)
                val out = collectRows(aggregate(per))
                if (exact(key).exists(e => per.exists(_ eq e.res)))
                  instantCache.put(aggKey, InstantEntry(grid.startMs, windowMs, out))
                Right(out)
            }
          case None =>
            Left(aggregate(queryInstantServed(samples, innerQ, grid, lookbackMs,
              minWindowMs, cacheTag, tagIndex)))
        }
      case FuncExpr("avg_over_time", Seq(re @ RollupExpr(_: MetricExpr, Some(_), None, None, None, _, _)), _) =>
        if (re.window.get.ms(grid.stepMs) < minWindowMs) uncached
        else Right(instantAvg(samples, pk, q, grid, lookbackMs, tagIndex, re))
      case fe @ FuncExpr(fn, Seq(RollupExpr(_: MetricExpr, Some(_), None, None, None, _, _)), _)
          if additiveInstantFns(fn) || fn == "max_over_time" || fn == "min_over_time" =>
        leaf(q, fe)
      case _ => uncached
    }
  }

  /** inner shapes the per-series delta path serves (the recursion above) */
  private def instantShape(e: FuncExpr): Boolean = e match {
    case FuncExpr(fn, Seq(RollupExpr(_: MetricExpr, Some(_), None, None, None, _, _)), _) =>
      additiveInstantFns(fn) || fn == "max_over_time" || fn == "min_over_time" ||
        fn == "avg_over_time"
    case _ => false
  }

  /** the simple grouped aggregates [[aggregateInstant]] serves — the
    * SHARED mapping (Eval.simpleGroupedAgg) both paths dispatch through,
    * so the O7 aggregation cannot drift from the full evaluator's
    */
  private val instantAggFns = Eval.simpleGroupedAggNames

  /** `agg(per-series instant frame) [by|without (ls)]` through Eval's own
    * grouped aggregate (Eval.groupedAgg): NaN points are absent, and the
    * group is Eval.AggrGroup's. Series count rows in, group count rows
    * out — no data-scale work.
    */
  private def aggregateInstant(
      per: DataFrame,
      agg: String,
      modifier: Option[graft.lang.AggrModifier]): DataFrame = {
    import org.apache.spark.sql.functions.{col, isnan}
    val aggExpr = Eval.simpleGroupedAgg(agg, col("value")).getOrElse(
      throw new IllegalStateException(s"not a simple grouped aggregate: $agg"))
    Eval.groupedAgg(per.filter(!isnan(col("value"))), Eval.AggrGroup(modifier), aggExpr)
  }

  /** `fe` = `fn(m[w])` evaluated at the instant `ts` over a `winMs` window */
  private def instantEval(
      samples: DataFrame,
      fe: FuncExpr,
      ts: Long,
      winMs: Long,
      stepMs: Long,
      lookbackMs: Long,
      tagIndex: Option[DataFrame]): DataFrame = {
    val re = fe.args.head.asInstanceOf[RollupExpr]
    val ast = fe.copy(args = Seq(re.copy(window = Some(graft.lang.Dur(winMs + "ms")))))
    Eval.eval(samples, ast, Eval.EvalConfig(GridSpec(ts, ts, stepMs), lookbackMs, tagIndex = tagIndex))
  }

  /** is `e` served at `tMs` by a delta over its rows: a later instant,
    * before tooBigOffset (eval.go:1197)
    */
  private def deltaServes(e: InstantEntry, tMs: Long, windowMs: Long): Boolean = {
    val offset = tMs - e.tsMs
    e.windowMs == windowMs && offset > 0 && offset < math.min(windowMs / 2, 1800000L)
  }

  /** one rollup leaf `fn(m[w])` at an instant through the O7 cache: rows
    * from the entry (exact hit), a full evaluation (miss, entry replaced)
    * or the delta over the entry; a plan when the window is below
    * `minWindowMs`
    */
  private def instantLeaf(
      samples: DataFrame,
      planKey: => String,
      cacheQ: String,
      grid: GridSpec,
      lookbackMs: Long,
      minWindowMs: Long,
      tagIndex: Option[DataFrame],
      fe: FuncExpr): Either[DataFrame, Collected] = {
    val tMs = grid.startMs
    val windowMs = fe.args.head.asInstanceOf[RollupExpr].window.get.ms(grid.stepMs)
    def evalAt(ts: Long, winMs: Long) =
      instantEval(samples, fe, ts, winMs, grid.stepMs, lookbackMs, tagIndex)
    if (windowMs < minWindowMs) return Left(evalAt(tMs, windowMs))
    val key = (planKey, cacheQ, lookbackMs)
    def exactHit: Option[Collected] = instantCache.get(key).collect {
      case e if e.windowMs == windowMs && e.tsMs == tMs =>
        countO7(st => st.copy(exactHits = st.exactHits + 1))
        e.res
    }
    // a miss is single-flight (concurrent callers at the same instant
    // get one evaluation); delta hits run side by side
    def fullAndCache(): Collected = instantFills(key)(exactHit) {
      val res = collectRows(evalAt(tMs, windowMs))
      countO7(st => st.copy(misses = st.misses + 1))
      instantCache.put(key, InstantEntry(tMs, windowMs, res))
      res
    }
    Right(exactHit.getOrElse(instantCache.get(key) match {
      case Some(e) if deltaServes(e, tMs, windowMs) =>
        instantDelta(samples, fe, e, grid, lookbackMs, tagIndex) match {
          case Some(rows) =>
            countO7(st => st.copy(deltaHits = st.deltaHits + 1))
            rows
          case None =>
            countO7(st => st.copy(aborts = st.aborts + 1))
            fullAndCache()
        }
      case _ => fullAndCache()
    }))
  }

  /** `fe` at the grid's instant as `entry` (an earlier instant,
    * same window) moved forward: cached ± the tail and head delta
    * windows, one job over the two offset-sized reads and the entry's
    * rows. None when a min/max head extremum may have left the window.
    */
  private def instantDelta(
      samples: DataFrame,
      fe: FuncExpr,
      entry: InstantEntry,
      grid: GridSpec,
      lookbackMs: Long,
      tagIndex: Option[DataFrame]): Option[Collected] = {
    import org.apache.spark.sql.functions._
    val fn = fe.name
    val tMs = grid.startMs
    val offset = tMs - entry.tsMs
    def evalAt(ts: Long, winMs: Long) =
      instantEval(samples, fe, ts, winMs, grid.stepMs, lookbackMs, tagIndex)
    // tail delta at t, head delta at t-window, both over [offset] ms
    val tail = evalAt(tMs, offset)
    val head = evalAt(tMs - entry.windowMs, offset)
    // the entry's rows as a local relation, for the join alone
    val cached = entry.res.frame(samples.sparkSession)
    val k = graft.core.SeriesId.key(col("name"), col("tags")).as("_k")
    val c = cached.select(k, col("name"), col("tags"), col("value").as("_vc"))
    val s = tail.select(k, col("name").as("_ns"), col("tags").as("_ts"), col("value").as("_vs"))
    val hd = head.select(k, col("value").as("_ve"))
    val cs = c.join(s, Seq("_k"), "full_outer").join(hd, Seq("_k"), "left_outer")
    // (value, head-validity failure) per series
    val (v, bad) =
      if (additiveInstantFns(fn)) {
        // cached + tail − head; a key absent from cached starts from
        // the tail value; head-only keys contribute nothing
        // (getSumInstantValues, eval.go:1630-1680)
        val base = when(col("_vc").isNotNull, col("_vc") + coalesce(col("_vs"), lit(0.0)))
          .otherwise(col("_vs"))
        (when(base.isNotNull && col("_ve").isNotNull, base - col("_ve")).otherwise(base),
          lit(false))
      } else {
        val isMax = fn == "max_over_time"
        def better(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
          if (isMax) greatest(a, b) else least(a, b)
        val v0 = when(col("_vc").isNull, col("_vs"))
          .when(col("_vs").isNull, col("_vc"))
          .otherwise(better(col("_vc"), col("_vs")))
        // the head extremum may only have been the winner if the tail
        // re-attains it (getMinMaxInstantValues, eval.go:1596-1612).
        // Equality counts: a head value EQUAL to the cached extremum
        // may be the sample that produced it, about to leave.
        val headWins = col("_ve").isNotNull && v0.isNotNull &&
          (if (isMax) col("_ve") >= v0 else col("_ve") <= v0)
        val tailCovers = col("_vs").isNotNull &&
          (if (isMax) col("_vs") >= col("_ve") else col("_vs") <= col("_ve"))
        (v0, headWins && !tailCovers)
      }
    val flagged = cs.select(coalesce(col("name"), col("_ns")).as("name"),
      coalesce(col("tags"), col("_ts")).as("tags"),
      lit(tMs).as("t"), v.as("value"), coalesce(bad, lit(false)).as("_bad"))
    // the validity check runs on the driver over the collected rows
    val rows = collectRows(flagged).rows
    if (rows.exists(_.getBoolean(4))) None
    else Some(Collected(rows.collect {
      case r if !r.isNullAt(3) => Row(r.get(0), r.get(1), r.get(2), r.get(3))
    }, flagged.drop("_bad").schema))
  }

  /** avg_over_time(m[w]) at an instant (eval.go:1270) from two O7
    * entries, `sum|q` and `count|q`:
    *
    *  - a miss fills both from ONE rollup pass over the window
    *    ([[Eval.evalRollupColumns]]) and counts one miss;
    *  - an exact hit reads both entries and runs no Spark job;
    *  - a delta hit refreshes each entry's rows by its own delta
    *    ([[instantDelta]]; both functions are additive, so it never
    *    aborts) and counts one delta hit.
    *
    * avg = sum / count per series, on the driver: the rows are series
    * scale. A series whose count is 0 gets no point: on a delta its
    * samples have all left the window, 0/0 is NaN in the reference, and
    * a NaN point is absent — as in a full evaluation at that instant.
    * Both entries keep the metric name, which avg_over_time keeps.
    */
  private def instantAvg(
      samples: DataFrame,
      planKey: => String,
      q: String,
      grid: GridSpec,
      lookbackMs: Long,
      tagIndex: Option[DataFrame],
      re: RollupExpr): Collected = {
    val tMs = grid.startMs
    val windowMs = re.window.get.ms(grid.stepMs)
    val sumKey = (planKey, s"sum|$q", lookbackMs)
    val countKey = (planKey, s"count|$q", lookbackMs)
    def entries = (instantCache.get(sumKey), instantCache.get(countKey))
    def exactHit: Option[(Collected, Collected)] = entries match {
      case (Some(s), Some(c)) if Seq(s, c).forall(e => e.windowMs == windowMs && e.tsMs == tMs) =>
        countO7(st => st.copy(exactHits = st.exactHits + 1))
        Some((s.res, c.res))
      case _ => None
    }
    def fullAndCache(): (Collected, Collected) = instantFills(sumKey)(exactHit) {
      val wide = collectRows(Eval.evalRollupColumns(samples, Seq("sum_over_time", "count_over_time"),
        re, Eval.EvalConfig(GridSpec(tMs, tMs, grid.stepMs), lookbackMs, tagIndex = tagIndex)))
      // each entry holds its function's rows, (name, tags, t, value)
      // with NaN points absent: what its own delta yields and joins on
      def entry(fn: String): Collected = {
        val i = wide.schema.fieldIndex(fn)
        Collected(wide.rows.collect {
          case r if !r.getDouble(i).isNaN => Row(r.get(0), r.get(1), r.get(2), r.getDouble(i))
        }, StructType(wide.schema.fields.take(3) :+ wide.schema(i).copy(name = "value")))
      }
      val res = (entry("sum_over_time"), entry("count_over_time"))
      countO7(st => st.copy(misses = st.misses + 1))
      instantCache.put(sumKey, InstantEntry(tMs, windowMs, res._1))
      instantCache.put(countKey, InstantEntry(tMs, windowMs, res._2))
      res
    }
    val (sums, counts) = exactHit.getOrElse(entries match {
      case (Some(s), Some(c)) if deltaServes(s, tMs, windowMs) && deltaServes(c, tMs, windowMs) =>
        // both functions are additive: their deltas never abort
        def delta(fn: String, e: InstantEntry) =
          instantDelta(samples, FuncExpr(fn, Seq(re), keepMetricNames = true), e, grid,
            lookbackMs, tagIndex).get
        val res = (delta("sum_over_time", s), delta("count_over_time", c))
        countO7(st => st.copy(deltaHits = st.deltaHits + 1))
        res
      case _ => fullAndCache()
    })
    def series(r: Row) = (r.get(0), r.get(1))
    val countOf = counts.rows.iterator.map(r => series(r) -> r.getDouble(3)).toMap
    sums.copy(rows = sums.rows.flatMap { r =>
      countOf.get(series(r)).filter(_ != 0.0)
        .map(c => Row(r.get(0), r.get(1), r.get(2), r.getDouble(3) / c))
    })
  }
}
