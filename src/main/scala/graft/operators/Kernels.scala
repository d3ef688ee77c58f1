package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** A rollup kernel computes one scalar per (series, grid-timestamp) group
  * from the raw samples in the lookback window — the Spark re-expression of
  * the reference rollup-function table
  * (app/vmselect/promql/rollup.go:24-108 registration,
  * rollup.go:701-823 window loop).
  *
  * Two physical shapes:
  *  - [[Algebraic]]: a plain (combination of) Spark aggregate expressions —
  *    partial+final HashAggregate, whole-stage codegen, no row buffering.
  *    Used for every order-insensitive function, mirroring the reference's
  *    incremental aggregations (aggr_incremental.go:18-66).
  *  - [[OverArray]]: for order-sensitive kernels (rate/changes/idelta/…)
  *    the group's samples are collected once into a ts-sorted
  *    array<struct<ts,v>> and the kernel is a higher-order-function
  *    expression over that array — still codegen'd, still one aggregation
  *    pass shared by all array kernels in the same rollup call (the same
  *    sharing the reference gets from rollupFuncArg, rollup.go:523-556).
  */
sealed trait Kernel

/** `tsSplit` (opt r13): a per-TIMESTAMP decomposition for kernels whose
  * single-pass expr aggregates over a (ts, value) STRUCT — first/last.
  * A struct aggregation buffer is not UnsafeRow-mutable, so the shared
  * rollup aggregate containing one planned as SortAggregate: a full
  * data-scale sort for the bare-selector workhorse (default_rollup =
  * last). Pre-aggregating by (keys, t, ts) makes ts unique per group, so
  * the merge is a fixed-width min_by/max_by — two stacked codegen
  * HashAggregates, no sort (measured 1.5× on the 20× default_rollup
  * shape, identical rows). [[Rollup.rollupMulti]] engages the split only
  * when SOME kernel declares `tsSplit` and every co-scheduled kernel
  * decomposes (its own tsSplit, or its window `twoLevel`, which is
  * per-ts-valid: its partials/merges are plain sums/min/max).
  */
final case class Algebraic(expr: Column, twoLevel: Option[TwoLevel] = None,
    tsSplit: Option[TwoLevel] = None) extends Kernel
final case class OverArray(post: Column => Column) extends Kernel

/** Like [[OverArray]] but the rollup executor runs its per-series prev
  * pass first: array elements gain pv/pts/nv (previous/next raw sample) and
  * cv/cpv/cnv (reset-corrected values); the post receives the window
  * array plus the effective window (ms) and maxPrevInterval columns.
  * Used by the cross-window counter family (rollup.go prevValue
  * semantics).
  *
  * `edgeOnly = true` declares the post closure inspects ONLY the window
  * array's edges: all fields of arr[1] and arr[-1]; the {ts, v, cv} and
  * own-prev-link fields of arr[2] and arr[-2]; and size(arr) compared
  * against constants ≤ 2. That contract lets [[Rollup.rollupTwoLevel]]
  * feed it a synthesized 1-or-4-element pseudo-array built from just the
  * window's min/max sample structs (window samples are contiguous in the
  * series sequence, so sample 2 ≡ sample 1's next-neighbor fields and
  * sample n-1 ≡ sample n's prev-neighbor fields) — the window≫step plan
  * for the counter family, merged at struct-min/max cost.
  */
final case class OverArrayPrev(post: (Column, Column, Column) => Column,
    edgeOnly: Boolean = false,
    zeroFillGaps: Boolean = false) extends Kernel

/** Two-level decomposition for window ≫ step rollups
  * ([[Rollup.rollupTwoLevel]]): `partials` are (name, perBucketAgg,
  * windowMergeAgg) — the per-step-bucket partial aggregation and the
  * aggregate that merges partial rows inside a range-framed window; `finish`
  * combines the window-merged partial columns into the kernel value. Kills
  * the ceil(window/step) row amplification of the bucketize path: a sample
  * contributes to exactly ONE partial row, and the merge is a window
  * function over output-scale rows (TSBS cpu-max-all-8 shape: 12h window /
  * 10s step = 4320× explosion avoided).
  */
final case class TwoLevel(
    partials: Seq[(String, Column, Column => Column)],
    finish: Map[String, Column] => Column,
    /** Optional per-partial WINDOW-level merge for the 3-level plan
      * ([[Rollup.rollupTwoLevel]] with a ts pre-aggregation): when a
      * kernel's tsSplit decomposition runs at (keys, ts) and (keys,
      * bucket) levels, merging bucket partials across the window may need
      * a different aggregate than the ts-level merge (first/last order by
      * the BUCKET timestamp `_bt` there — buckets partition time, so the
      * bucket order is the sample order). Aligned with `partials`; None
      * reuses each partial's merge (valid for all plain combine
      * aggregates: sum/min/max/count-as-sum/collect).
      */
    remerge: Option[Seq[Column => Column]] = None)

object Kernels {
  private val v = col("value")
  private val ts = col("ts")
  private val D = DoubleType

  // ---- helpers over the sorted array<struct<ts:long, v:double>> ----------

  /** values in timestamp order */
  def tsVals(arr: Column): Column = transform(arr, _.getField("v"))

  /** values in ascending value order */
  def sortedVals(arr: Column): Column = array_sort(tsVals(arr))

  /** adjacent-pair deltas: struct(dv, dtMs, av, bv, bts) for each
    * consecutive (a, b) sample pair — the shared primitive behind the
    * counter/turning-point family (rollup.go:1859 rollupDelta,
    * 2106 rollupChanges, 921 removeCounterResets).
    */
  def diffs(arr: Column): Column =
    zip_with(
      slice(arr, lit(2), size(arr) - 1),
      slice(arr, lit(1), size(arr) - 1),
      (b, a) =>
        struct(
          (b.getField("v") - a.getField("v")).as("dv"),
          (b.getField("ts") - a.getField("ts")).as("dtms"),
          a.getField("v").as("av"),
          b.getField("v").as("bv"),
          b.getField("ts").as("bts")))

  private def fold(arr: Column, f: (Column, Column) => Column): Column =
    aggregate(arr, lit(0.0), f)

  /** linear-interpolated quantile over an ascending double array — matches
    * Spark `percentile` / DuckDB `quantile_cont` (index = phi*(n-1)).
    */
  def arrQuantile(sorted: Column, phi: Double): Column = {
    val n = size(sorted)
    val pos = lit(phi) * (n - lit(1)).cast(D) // 0-based fractional index
    val lo = floor(pos).cast("int")
    val frac = pos - lo.cast(D)
    val vlo = element_at(sorted, lo + 1)
    val vhi = element_at(sorted, least(lo + lit(2), n))
    vlo + (vhi - vlo) * frac
  }

  def arrMedian(sorted: Column): Column = arrQuantile(sorted, 0.5)

  // ---- algebraic kernels (rollup.go anchors in comments) -----------------
  // Two-level decompositions ride along where the aggregate is mergeable
  // (sum-of-sums, max-of-maxes, …); quantile/stddev-family kernels stay
  // single-level (not mergeable / numerically different when re-derived).

  /** single-partial decomposition: same agg per bucket and per window */
  private def tl1(raw: Column, merge: Column => Column,
      fin: Column => Column = identity): Option[TwoLevel] =
    Some(TwoLevel(Seq(("p", raw, merge)), m => fin(m("p"))))

  private def sumCountTl(fin: (Column, Column) => Column): Option[TwoLevel] =
    Some(TwoLevel(Seq(("s", sum_(v), sum_), ("c", count_(v).cast(D), sum_)),
      m => fin(m("s"), m("c"))))

  val avg: Kernel = // rollup.go:1541 rollupAvg
    Algebraic(avg_(v), sumCountTl((s, c) => s / c))
  val min: Kernel = Algebraic(min_(v), tl1(min_(v), min_)) // :1561
  val max: Kernel = Algebraic(max_(v), tl1(max_(v), max_)) // :1580
  val sum: Kernel = Algebraic(sum_(v), tl1(sum_(v), sum_)) // :1690
  val count: Kernel = // :1771
    Algebraic(count_(v).cast(D), tl1(count_(v).cast(D), sum_))
  val sum2: Kernel = Algebraic(sum_(v * v), tl1(sum_(v * v), sum_)) // :1795
  val stddev: Kernel = Algebraic(stddev_pop(v)) // rollup.go:1799 (population)
  val stdvar: Kernel = Algebraic(var_pop(v)) // rollup.go:1803
  val median: Kernel = Algebraic(percentile(v, lit(0.5))) // rollup.go:1450
  def quantile(phi: Double): Kernel = Algebraic(percentile(v, lit(phi))) // :1450
  /** Go's `math.Log`: −Inf at 0 and NaN below it, where Spark's `log`
    * returns NULL and an aggregate would skip the point. A geomean over a
    * window holding a 0 is then exp(−Inf) = 0, as in the reference.
    */
  private[graft] def goLog(c: Column): Column =
    when(c > 0, log(c)).when(c === 0, lit(Double.NegativeInfinity)).otherwise(lit(Double.NaN))

  val geomean: Kernel = Algebraic(exp(avg_(goLog(v))), // rollup.go:1707
    Some(TwoLevel(Seq(("sl", sum_(goLog(v)), sum_), ("c", count_(v).cast(D), sum_)),
      m => exp(m("sl") / m("c")))))
  val distinct: Kernel = Algebraic(size(collect_set(v)).cast(D), // :2403
    Some(TwoLevel(Seq(("vs", collect_set(v), (c: Column) => flatten(collect_list(c)))),
      m => size(array_distinct(m("vs"))).cast(D))))
  val range: Kernel = // rollup.go:1721 rollupRange = max - min
    Algebraic(max_(v) - min_(v),
      Some(TwoLevel(Seq(("mx", max_(v), max_), ("mn", min_(v), min_)),
        m => m("mx") - m("mn"))))

  // first/last with deterministic tie-breaks via lexicographic struct
  // order; the tsSplit form picks the identical sample hash-only (per-ts
  // min/max of value, then min_by/max_by over the now-unique ts)
  // The remerge (window level of the ratio≥8 3-level plan) orders by the
  // bucket timestamp `_bt`: within one series the step buckets partition
  // time, so min/max bucket == the bucket holding the window's first/last
  // sample, and bucket timestamps are unique per merge group — fully
  // deterministic. The isNotNull guard skips the dense-window path's
  // empty-bucket rows (null partials joined onto the dense grid).
  val first: Kernel = Algebraic(min_(struct(ts, v)).getField("value"), // rollup.go:2375
    tl1(min_(struct(ts, v)), min_, _.getField("value")),
    Some(TwoLevel(Seq(("fv", min_(v), c => min_by(c, col("ts")))), m => m("fv"),
      remerge = Some(Seq(c => min_by(c, when(c.isNotNull, col("_bt"))))))))
  val last: Kernel = Algebraic(max_(struct(ts, v)).getField("value"), // rollup.go:2383
    tl1(max_(struct(ts, v)), max_, _.getField("value")),
    Some(TwoLevel(Seq(("lv", max_(v), c => max_by(c, col("ts")))), m => m("lv"),
      remerge = Some(Seq(c => max_by(c, when(c.isNotNull, col("_bt"))))))))
  val tfirst: Kernel = // rollup.go:1596 (seconds)
    Algebraic(min_(ts).cast(D) / 1000.0, tl1(min_(ts), min_, _.cast(D) / 1000.0))
  val tlast: Kernel = // rollup.go:1652
    Algebraic(max_(ts).cast(D) / 1000.0, tl1(max_(ts), max_, _.cast(D) / 1000.0))

  /** timestamp (s) of the minimum value; LAST occurrence on ties —
    * rollup.go:1603-1621 ("Get the last timestamp for the minimum value").
    */
  val tmin: Kernel = OverArray { arr =>
    val vmin = array_min(tsVals(arr))
    array_max(transform(filter(arr, x => x.getField("v") === vmin), _.getField("ts"))).cast(D) / 1000.0
  }

  /** timestamp (s) of the maximum value; LAST occurrence — rollup.go:1623 */
  val tmax: Kernel = OverArray { arr =>
    val vmax = array_max(tsVals(arr))
    array_max(transform(filter(arr, x => x.getField("v") === vmax), _.getField("ts"))).cast(D) / 1000.0
  }

  // filtered counts/sums/shares — rollup.go:1181-1307
  private def condSum(c: Column): Kernel = Algebraic(sum_(c), tl1(sum_(c), sum_))
  def countEq(x: Double): Kernel = condSum(when(v === x, 1.0).otherwise(0.0))
  def countNe(x: Double): Kernel = condSum(when(v =!= x, 1.0).otherwise(0.0))
  def countLe(x: Double): Kernel = condSum(when(v <= x, 1.0).otherwise(0.0))
  def countGt(x: Double): Kernel = condSum(when(v > x, 1.0).otherwise(0.0))
  def sumEq(x: Double): Kernel = condSum(when(v === x, v).otherwise(0.0))
  def sumLe(x: Double): Kernel = condSum(when(v <= x, v).otherwise(0.0))
  def sumGt(x: Double): Kernel = condSum(when(v > x, v).otherwise(0.0))
  private def share(c: Column): Kernel =
    Algebraic(sum_(c) / count_(v),
      Some(TwoLevel(Seq(("s", sum_(c), sum_), ("c", count_(v).cast(D), sum_)),
        m => m("s") / m("c"))))
  def shareEq(x: Double): Kernel = share(when(v === x, 1.0).otherwise(0.0))
  def shareLe(x: Double): Kernel = share(when(v <= x, 1.0).otherwise(0.0))
  def shareGt(x: Double): Kernel = share(when(v > x, 1.0).otherwise(0.0))

  // time-gap statistics — rollup.go:2040 rollupLifetime, :2067 rollupLag,
  // :871-919 scrape-interval estimation (simplified to mean gap)
  val lifetime: Kernel = Algebraic((max_(ts) - min_(ts)).cast(D) / 1000.0,
    Some(TwoLevel(Seq(("mx", max_(ts), max_), ("mn", min_(ts), min_)),
      m => (m("mx") - m("mn")).cast(D) / 1000.0)))
  val lag: Kernel = Algebraic((col("t") - max_(ts)).cast(D) / 1000.0,
    tl1(max_(ts), max_, c => (col("t") - c).cast(D) / 1000.0))
  val scrapeInterval: Kernel = Algebraic(
    when(count_(v) > 1, (max_(ts) - min_(ts)).cast(D) / 1000.0 / (count_(v) - 1).cast(D)),
    Some(TwoLevel(
      Seq(("mx", max_(ts), max_), ("mn", min_(ts), min_), ("c", count_(v).cast(D), sum_)),
      m => when(m("c") > 1, (m("mx") - m("mn")).cast(D) / 1000.0 / (m("c") - 1)))))

  /** sum / window-seconds — rollup.go:1707-1719 rollupRateOverSum */
  def rateOverSum(windowMs: Long): Kernel =
    Algebraic(sum_(v) / lit(windowMs / 1000.0),
      tl1(sum_(v), sum_, _ / lit(windowMs / 1000.0)))

  /** (last - mean) / stddev — rollup.go:2361 rollupZScoreOverTime (the
    * staleness guard on scrape interval is omitted: grid gap-handling is
    * done upstream by the bucketizer's window filter).
    */
  val zscore: Kernel = Algebraic {
    val sd = stddev_pop(v)
    when(sd > 0, (max_(struct(ts, v)).getField("value") - avg_(v)) / sd).otherwise(0.0)
  }

  /** least-squares slope per second — rollup.go:1099 linearRegression.
    * x is centered on the grid timestamp: epoch-seconds x (~1.7e9) loses
    * ~7 digits to cancellation in the slope/intercept normal equations.
    */
  val deriv: Kernel = Algebraic(
    // single sample / degenerate x spread → slope 0, not absent
    // (linearRegression's areConstValues + tDiff<1e-6 branches)
    coalesce(when(count_(v) > 1, regr_slope(v, (ts - col("t")).cast(D) / 1000.0)),
      lit(0.0)))

  /** linear prediction at t + offsetSec — rollup.go:1080 rollupPredictLinear */
  def predictLinear(offsetSec: Double): Kernel = Algebraic {
    val x = (ts - col("t")).cast(D) / 1000.0 // centered, see deriv
    // single/constant windows predict the value itself (slope 0 via
    // linearRegression's areConstValues branch)
    coalesce(
      when(count_(v) > 1, regr_intercept(v, x) + regr_slope(v, x) * lit(offsetSec)),
      avg_(v))
  }

  // Hoeffding bounds — rollup.go:1323-1381
  private def hoeffding(phi: Double, sign: Double): Kernel = {
    val whole = avg_(v) +
      lit(sign) * (max_(v) - min_(v)) * sqrt(lit(math.log(1.0 / (1 - phi))) / (count_(v) * 2).cast(D))
    Algebraic(whole, Some(TwoLevel(
      Seq(("s", sum_(v), sum_), ("c", count_(v).cast(D), sum_),
        ("mx", max_(v), max_), ("mn", min_(v), min_)),
      m => m("s") / m("c") +
        lit(sign) * (m("mx") - m("mn")) * sqrt(lit(math.log(1.0 / (1 - phi))) / (m("c") * 2)))))
  }
  def hoeffdingLower(phi: Double): Kernel = hoeffding(phi, -1.0)
  def hoeffdingUpper(phi: Double): Kernel = hoeffding(phi, 1.0)

  /** last value if outside Tukey fences [q25-1.5·iqr, q75+1.5·iqr], else
    * null — rollup.go:1427 rollupOutlierIQR.
    */
  val outlierIqr: Kernel = Algebraic {
    val q25 = percentile(v, lit(0.25))
    val q75 = percentile(v, lit(0.75))
    val iqr = lit(1.5) * (q75 - q25)
    val lastV = max_(struct(ts, v)).getField("value")
    when(count_(v) >= 2 && (lastV < q25 - iqr || lastV > q75 + iqr), lastV)
  }

  val present: Kernel = // rollup.go:1762 rollupPresent
    Algebraic(lit(1.0), tl1(lit(1.0), max_))

  // ---- order-sensitive kernels (array form) -------------------------------

  // ======================================================================
  // Cross-window prevValue family ([[OverArrayPrev]]): the engine-path
  // forms of delta/increase/rate that seed from the sample BEFORE the
  // lookback window, exactly like the reference (rollup.go:770-805 window
  // loop prevValue/realPrevValue; rollup.go rollupDelta/rollupDerivFast;
  // removeCounterResets rollup.go:921-958). The rollup executor's prev
  // pass supplies per-row fields pv/pts/nv (previous/next raw sample) and
  // cv/cpv/cnv (reset-corrected series values); the post closure receives
  // the effective window (ms) and maxPrevInterval (from the per-series
  // scrape-interval estimate) as explicit columns.
  // ======================================================================

  private def firstE(arr: Column) = element_at(arr, 1)
  private def lastE(arr: Column) = element_at(arr, -1)

  /** rollup.go rollupDelta: prevValue (within maxPrevInterval) →
    * realPrevValue (within lookbackDelta of the first sample) → zero-seed
    * heuristic → skip-first fallback.
    */
  private def deltaChain(arr: Column, win: Column, mpi: Column,
      fv: String, fpv: String, fnv: String, lookbackMs: Long): Column = {
    val f = firstE(arr)
    val l = lastE(arr)
    val pv = f.getField(fpv)
    val pts = f.getField("pts")
    val tStart = col("t") - win
    val prevOk = pts.isNotNull && pts > tStart - mpi
    val realOk = pts.isNotNull &&
      (lit(lookbackMs) === 0 || (f.getField("ts") - pts) < lit(lookbackMs))
    val v0 = f.getField(fv)
    val vl = l.getField(fv)
    val n = size(arr)
    // d = values[1]-values[0], or realNextValue-values[0] for singletons
    val d01 = when(n > 1, element_at(arr, 2).getField(fv) - v0)
      .otherwise(coalesce(l.getField(fnv) - v0, lit(0.0)))
    when(prevOk || realOk, vl - pv)
      .when(abs(v0) < (abs(d01) + 1) * 10, vl) // assume counter started at 0
      .when(n > 1, vl - v0) // big first value: treat it as the seed
      .otherwise(0.0)
  }

  /** engine-path delta — rollup.go:39 rollupDelta over raw values */
  def deltaPrev(lookbackMs: Long): Kernel =
    OverArrayPrev((arr, win, mpi) =>
      deltaChain(arr, win, mpi, "v", "pv", "nv", lookbackMs), edgeOnly = true,
      zeroFillGaps = true)

  /** engine-path increase — rollupDelta over reset-corrected values
    * (rollup.go:54 + rollupFuncsRemoveCounterResets)
    */
  def increasePrev(lookbackMs: Long): Kernel =
    OverArrayPrev((arr, win, mpi) =>
      deltaChain(arr, win, mpi, "cv", "cpv", "cnv", lookbackMs), edgeOnly = true,
      zeroFillGaps = true)

  /** increase_pure — prev = realPrevValue else 0, no heuristics
    * (rollup.go rollupIncreasePure, over reset-corrected values)
    */
  def increasePurePrev(lookbackMs: Long): Kernel =
    OverArrayPrev(edgeOnly = true, zeroFillGaps = true, post = { (arr, win, mpi) =>
    val f = firstE(arr)
    val l = lastE(arr)
    val pv = f.getField("cpv")
    val pts = f.getField("pts")
    val tStart = col("t") - win
    val prevOk = pts.isNotNull && pts > tStart - mpi
    val realOk = pts.isNotNull &&
      (lit(lookbackMs) === 0 || (f.getField("ts") - pts) < lit(lookbackMs))
    when(prevOk || realOk, l.getField("cv") - pv)
      .otherwise(l.getField("cv")) // counter starts from 0
  })

  /** engine-path rate/deriv_fast — rollupDerivFast (rollup.go:74): dv/dt
    * from the prev sample (or the window's first when no prev), NOT
    * increase/window; rate runs over reset-corrected values, deriv_fast
    * over raw.
    */
  private def derivFastK(fv: String, fpv: String): Kernel =
    OverArrayPrev(edgeOnly = true, zeroFillGaps = true, post = { (arr, win, mpi) =>
    val f = firstE(arr)
    val l = lastE(arr)
    val pv = f.getField(fpv)
    val pts = f.getField("pts")
    val tStart = col("t") - win
    val prevOk = pts.isNotNull && pts > tStart - mpi
    val vl = l.getField(fv)
    val tl = l.getField("ts")
    when(prevOk, (vl - pv) / ((tl - pts).cast(D) / 1000.0))
      .when(size(arr) >= 2,
        (vl - f.getField(fv)) / ((tl - f.getField("ts")).cast(D) / 1000.0))
    // single sample without prev: nan (rollup.go rollupDerivFast comment)
  })
  val ratePrev: Kernel = derivFastK("cv", "cpv")
  val derivFastPrev: Kernel = derivFastK("v", "pv")

  /** engine-path changes — rollup.go rollupChanges: seed from prevValue
    * (within maxPrevInterval) or realPrevValue (within lookback); with no
    * previous sample at all the FIRST value counts as a change. The
    * 1e-12-relative precision skip does not advance `prev` (unlike
    * increases/resets below).
    */
  def changesPrev(lookbackMs: Long): Kernel = OverArrayPrev(zeroFillGaps = true, post = { (arr, win, mpi) =>
    val f = firstE(arr)
    val pv = f.getField("pv")
    val pts = f.getField("pts")
    val tStart = col("t") - win
    val ext = pts.isNotNull && (pts > tStart - mpi ||
      lit(lookbackMs) === 0 || (f.getField("ts") - pts) < lit(lookbackMs))
    val init = struct(lit(0.0).as("n"),
      when(ext, pv).otherwise(lit(Double.NaN)).as("prev"))
    aggregate(arr, init, (s, x) => {
      val v = x.getField("v")
      val prev = s.getField("prev")
      val isSeed = isnan(prev)
      val changed = !isSeed && v =!= prev &&
        !(abs(v - prev) < lit(1e-12) * abs(v))
      struct(
        (s.getField("n") + when(isSeed || changed, 1.0).otherwise(0.0)).as("n"),
        when(isSeed || changed, v).otherwise(prev).as("prev"))
    }).getField("n")
  })

  /** engine-path increases/decreases/resets — rollup.go rollupIncreases /
    * rollupResets: seed from prevValue only (no realPrevValue); the first
    * value never counts; `prev` advances on every sample.
    */
  private def monotonicCount(up: Boolean): Kernel = OverArrayPrev(zeroFillGaps = true, post = { (arr, win, mpi) =>
    val f = firstE(arr)
    val pv = f.getField("pv")
    val pts = f.getField("pts")
    val tStart = col("t") - win
    val prevOk = pts.isNotNull && pts > tStart - mpi
    val init = struct(lit(0.0).as("n"),
      when(prevOk, pv).otherwise(lit(Double.NaN)).as("prev"))
    aggregate(arr, init, (s, x) => {
      val v = x.getField("v")
      val prev = s.getField("prev")
      val isSeed = isnan(prev)
      val cmpHit = if (up) v > prev else v < prev
      val counted = !isSeed && cmpHit && !(abs(v - prev) < lit(1e-12) * abs(v))
      struct(
        (s.getField("n") + when(counted, 1.0).otherwise(0.0)).as("n"),
        v.as("prev"))
    }).getField("n")
  })
  val increasesPrev: Kernel = monotonicCount(up = true)
  val decreasesPrev: Kernel = monotonicCount(up = false)

  /** engine-path ideriv/irate — rollup.go rollupIderiv: two-point slope
    * over the last two in-window samples; a single orphan sample uses the
    * pre-window sample as the other point when it is within
    * maxPrevInterval (irate runs over reset-corrected values).
    */
  private def iderivPrevK(fv: String, fpv: String): Kernel =
    OverArrayPrev(edgeOnly = true, post = { (arr, win, mpi) =>
    val f = firstE(arr)
    val l = lastE(arr)
    val l2 = element_at(arr, -2)
    val tStart = col("t") - win
    val prevOk = f.getField("pts").isNotNull && f.getField("pts") > tStart - mpi
    val multi = (l.getField(fv) - l2.getField(fv)) /
      ((l.getField("ts") - l2.getField("ts")).cast(D) / 1000.0)
    val singleWithPrev = (f.getField(fv) - f.getField(fpv)) /
      ((f.getField("ts") - f.getField("pts")).cast(D) / 1000.0)
    when(size(arr) >= 2 && l.getField("ts") > l2.getField("ts"), multi)
      .when(size(arr) === 1 && prevOk, singleWithPrev)
  })
  val iderivPrev: Kernel = iderivPrevK("v", "pv")
  val iratePrev: Kernel = iderivPrevK("cv", "cpv")

  /** engine-path idelta — rollup.go:1934 rollupIdelta: last minus
    * second-to-last; a single orphan sample diffs against the pre-window
    * sample (within maxPrevInterval) or stands alone.
    */
  val ideltaPrev: Kernel = OverArrayPrev(edgeOnly = true, zeroFillGaps = true,
    post = { (arr, win, mpi) =>
      val f = firstE(arr)
      val l = lastE(arr)
      val tStart = col("t") - win
      val prevOk = f.getField("pts").isNotNull && f.getField("pts") > tStart - mpi
      when(size(arr) >= 2,
        l.getField("v") - element_at(arr, -2).getField("v"))
        .when(prevOk, f.getField("v") - f.getField("pv"))
        .otherwise(f.getField("v")) // "previous non-existing value was 0"
    })

  /** engine-path lifetime — rollup.go:2040 rollupLifetime: the covered
    * duration extends back to the pre-window sample when prevValue is set.
    */
  val lifetimePrev: Kernel = OverArrayPrev({ (arr, win, mpi) =>
    val f = firstE(arr)
    val l = lastE(arr)
    val tStart = col("t") - win
    val prevOk = f.getField("pts").isNotNull && f.getField("pts") > tStart - mpi
    when(prevOk, (l.getField("ts") - f.getField("pts")).cast(D) / 1000.0)
      .when(size(arr) >= 2, (l.getField("ts") - f.getField("ts")).cast(D) / 1000.0)
  })

  /** engine-path scrape_interval — rollup.go:2049 rollupScrapeInterval:
    * average gap, with the pre-window sample extending the span (and the
    * divisor counting it) when prevValue is set.
    */
  val scrapeIntervalPrev: Kernel = OverArrayPrev({ (arr, win, mpi) =>
    val f = firstE(arr)
    val l = lastE(arr)
    val tStart = col("t") - win
    val prevOk = f.getField("pts").isNotNull && f.getField("pts") > tStart - mpi
    val n = size(arr).cast(D)
    when(prevOk, (l.getField("ts") - f.getField("pts")).cast(D) / 1000.0 / n)
      .when(size(arr) >= 2,
        (l.getField("ts") - f.getField("ts")).cast(D) / 1000.0 / (n - 1))
  })

  /** last - first inside the window (windowed form of rollup.go:1859
    * rollupDelta, == delta_prometheus rollup.go:1924; the operator-level
    * gates keep this form — the engine path uses [[deltaPrev]]).
    */
  val delta: Kernel = OverArray { arr =>
    element_at(arr, -1).getField("v") - element_at(arr, 1).getField("v")
  }

  /** strictly-in-window Prometheus delta: last - first, NaN on fewer than
    * two samples (rollup.go:1924 rollupDeltaPrometheus).
    */
  val deltaPrometheus: Kernel = OverArray { arr =>
    when(size(arr) >= 2,
      element_at(arr, -1).getField("v") - element_at(arr, 1).getField("v"))
  }

  /** reset-corrected in-window increase with the same two-sample minimum
    * (rollup.go:1924 after removeCounterResets).
    */
  val increasePrometheus: Kernel = OverArray { arr =>
    when(size(arr) >= 2,
      fold(diffs(arr), (acc, d) =>
        acc + when(d.getField("dv") >= 0, d.getField("dv")).otherwise(d.getField("bv"))))
  }

  /** last - second-to-last — rollup.go:1934 rollupIdelta */
  val idelta: Kernel = OverArray { arr =>
    when(size(arr) >= 2,
      element_at(arr, -1).getField("v") - element_at(arr, -2).getField("v"))
  }

  /** counter increase with reset correction: sum of adjacent deltas where a
    * negative delta (counter reset) contributes the new raw value —
    * rollup.go:921-958 removeCounterResets + rollup.go:1859 rollupDelta.
    */
  val increase: Kernel = OverArray { arr =>
    fold(diffs(arr), (acc, d) =>
      acc + when(d.getField("dv") >= 0, d.getField("dv")).otherwise(d.getField("bv")))
  }

  /** increase / window-seconds — MetricsQL no-extrapolation rate
    * (docs/victoriametrics/MetricsQL.md: rate = average per-second increase)
    */
  def rate(windowMs: Long): Kernel = OverArray { arr =>
    fold(diffs(arr), (acc, d) =>
      acc + when(d.getField("dv") >= 0, d.getField("dv")).otherwise(d.getField("bv"))) /
      lit(windowMs / 1000.0)
  }

  /** instant rate over last two samples, reset-aware — rollup.go:1965 */
  val irate: Kernel = OverArray { arr =>
    val a = element_at(arr, -2)
    val b = element_at(arr, -1)
    val dt = (b.getField("ts") - a.getField("ts")).cast(D) / 1000.0
    val dv = when(b.getField("v") >= a.getField("v"), b.getField("v") - a.getField("v"))
      .otherwise(b.getField("v"))
    when(size(arr) >= 2 && dt > 0, dv / dt)
  }

  /** instant derivative over last two samples, no reset handling —
    * rollup.go:1991 rollupIderiv (simplified to the two-point slope).
    */
  val ideriv: Kernel = OverArray { arr =>
    val a = element_at(arr, -2)
    val b = element_at(arr, -1)
    val dt = (b.getField("ts") - a.getField("ts")).cast(D) / 1000.0
    when(size(arr) >= 2 && dt > 0, (b.getField("v") - a.getField("v")) / dt)
  }

  /** (last-first)/(tlast-tfirst) — rollup.go:1954 rollupDerivFast */
  val derivFast: Kernel = OverArray { arr =>
    val dt = (element_at(arr, -1).getField("ts") - element_at(arr, 1).getField("ts")).cast(D) / 1000.0
    when(dt > 0,
      (element_at(arr, -1).getField("v") - element_at(arr, 1).getField("v")) / dt)
  }

  /** count of adjacent value changes — rollup.go:2106 rollupChanges */
  val changes: Kernel = OverArray { arr =>
    size(filter(diffs(arr), _.getField("dv") =!= 0)).cast(D)
  }

  /** counts of increases / decreases — rollup.go:2139,2160 */
  val increasesOverTime: Kernel = OverArray { arr =>
    size(filter(diffs(arr), _.getField("dv") > 0)).cast(D)
  }
  val decreasesOverTime: Kernel = OverArray { arr =>
    size(filter(diffs(arr), _.getField("dv") < 0)).cast(D)
  }

  /** count of counter resets — rollup.go:2174 rollupResets */
  val resets: Kernel = OverArray { arr =>
    size(filter(diffs(arr), _.getField("dv") < 0)).cast(D)
  }

  /** sum of positive / of negative excursions — rollup.go:2017,1998 */
  val ascentOverTime: Kernel = OverArray { arr =>
    fold(diffs(arr), (acc, d) =>
      acc + when(d.getField("dv") > 0, d.getField("dv")).otherwise(0.0))
  }
  val descentOverTime: Kernel = OverArray { arr =>
    fold(diffs(arr), (acc, d) =>
      acc + when(d.getField("dv") < 0, -d.getField("dv")).otherwise(0.0))
  }

  /** left-Riemann integral: sum a.v · dt — rollup.go:2417 rollupIntegrate */
  val integrate: Kernel = OverArray { arr =>
    fold(diffs(arr), (acc, d) =>
      acc + d.getField("av") * d.getField("dtms").cast(D) / 1000.0)
  }

  /** reference-exact integrate (rollup.go:2417): the area starts at the
    * WINDOW START carried at the prev sample's value (when one exists),
    * and extends to the window end only when the series has a sample
    * after it (realNextValue, reference issue #9474). Resolves the
    * window-start column from the enclosing frame's `t`.
    */
  val integratePrev: Kernel = OverArrayPrev({ (arr, win, _) =>
    val first = element_at(arr, 1)
    val last = element_at(arr, -1)
    val wStart = col("t") - win
    val main = fold(diffs(arr), (acc, d) =>
      acc + d.getField("av") * d.getField("dtms").cast(D) / 1000.0)
    val prevOk = first.getField("pv").isNotNull && !isnan(first.getField("pv"))
    val head = when(prevOk,
      first.getField("pv") * (first.getField("ts") - wStart).cast(D) / 1000.0)
      .otherwise(0.0)
    val nextOk = last.getField("nv").isNotNull && !isnan(last.getField("nv"))
    val tail = when(nextOk,
      last.getField("v") * (col("t") - last.getField("ts")).cast(D) / 1000.0)
      .otherwise(0.0)
    main + head + tail
  }, edgeOnly = false)

  /** sum of inter-sample gaps ≤ maxGapSec — rollup.go:1151 duration_over_time */
  def durationOverTime(maxGapSec: Double): Kernel = OverArray { arr =>
    fold(diffs(arr), (acc, d) => {
      val dt = d.getField("dtms").cast(D) / 1000.0
      acc + when(dt <= maxGapSec, dt).otherwise(0.0)
    })
  }

  /** timestamp (s) of the last value change; first sample ts if constant —
    * rollup.go:2186 rollupTlastChange (windowed form; the engine path uses
    * [[tlastChangePrev]]).
    */
  val tlastChange: Kernel = OverArray { arr =>
    val changed = filter(diffs(arr), _.getField("dv") =!= 0)
    when(size(changed) > 0, array_max(transform(changed, _.getField("bts"))).cast(D) / 1000.0)
      .otherwise(element_at(arr, 1).getField("ts").cast(D) / 1000.0)
  }

  /** engine-path tlast_change — rollup.go:1669 rollupTlastChange: with no
    * in-window change, the FIRST sample's ts counts as the change only
    * when the pre-window sample is absent or differs from the constant
    * value; otherwise the point is empty (exec_test.go tlast_change miss).
    */
  val tlastChangePrev: Kernel = OverArrayPrev({ (arr, _, _) =>
    val changed = filter(diffs(arr), _.getField("dv") =!= 0)
    val f = firstE(arr)
    when(size(changed) > 0,
      array_max(transform(changed, _.getField("bts"))).cast(D) / 1000.0)
      .when(f.getField("pv").isNull || f.getField("pv") =!= lastE(arr).getField("v"),
        f.getField("ts").cast(D) / 1000.0)
  })

  /** median absolute deviation — rollup.go:1469 rollupMAD */
  val mad: Kernel = OverArray { arr =>
    val vs = sortedVals(arr)
    val med = arrMedian(vs)
    arrMedian(array_sort(transform(vs, x => abs(x - med))))
  }

  /** count of staleness markers in the window — rollup.go:1779
    * rollupStaleSamples (staleness is modeled as NaN sample values,
    * SURVEY §1.2 NaN taxonomy).
    */
  val staleSamples: Kernel = condSum(when(isnan(v), 1.0).otherwise(0.0))

  /** Holt-Winters double exponential smoothing, reference-exact
    * (rollup.go:1030 rollupHoltWinters): s0 seeds from the pre-window
    * sample when eligible, else consumes the window's first value (a
    * single-value unseeded window returns that value); b0 = first looped
    * value − s0, so the first unseeded smoothing step is exactly v; then
    * s1 = sf·v + (1−sf)(s0+b0), b1 = tf·(s1−s0) + (1−tf)·b0 in the
    * reference's float-op order. sf/tf outside [0,1] → NaN.
    */
  def holtWinters(sf: Double, tf: Double): Kernel = OverArrayPrev({ (arr, win, mpi) =>
    if (sf < 0 || sf > 1 || tf < 0 || tf > 1) lit(Double.NaN)
    else {
      val f = firstE(arr)
      val pts = f.getField("pts")
      val tStart = col("t") - win
      val prevOk = pts.isNotNull && pts > tStart - mpi
      val seed = when(prevOk, f.getField("pv")).otherwise(lit(Double.NaN))
      val st = aggregate(
        arr,
        struct(seed.as("s"), lit(Double.NaN).as("b")),
        (acc, e) => {
          val x = e.getField("v")
          val s0 = acc.getField("s")
          val b0raw = acc.getField("b")
          // seed-consume step: no prev and no state yet
          val consume = isnan(s0) && isnan(b0raw)
          val b0 = when(isnan(b0raw), x - s0).otherwise(b0raw)
          val s1 = lit(sf) * x + lit(1 - sf) * (s0 + b0)
          val b1 = lit(tf) * (s1 - s0) + lit(1 - tf) * b0
          struct(
            when(consume, x).otherwise(s1).as("s"),
            when(consume, lit(Double.NaN)).otherwise(b1).as("b"))
        })
      when(size(arr) >= 1, st.getField("s"))
    }
  })

  /** most frequent value; smallest wins ties (reference iterates ascending
    * keeping strict improvements — rollup.go:2301 rollupModeOverTime).
    */
  val mode: Kernel = OverArray { arr =>
    val vs = sortedVals(arr)
    val st = aggregate(
      vs,
      struct(lit(Double.NaN).as("best"), lit(0L).as("bestCnt"),
        lit(Double.NaN).as("cur"), lit(0L).as("curCnt")),
      (s, x) => {
        val cnt = when(x === s.getField("cur"), s.getField("curCnt") + 1).otherwise(lit(1L))
        val better = cnt > s.getField("bestCnt")
        struct(
          when(better, x).otherwise(s.getField("best")).as("best"),
          when(better, cnt).otherwise(s.getField("bestCnt")).as("bestCnt"),
          x.as("cur"),
          cnt.as("curCnt"))
      })
    st.getField("best")
  }

  // ---- adjacent-pair fan-outs: rollup_delta / _increase / _rate /
  // _deriv / _scrape_interval emit min/max/avg of a per-pair quantity as
  // separate series (rollup.go:374-516 getRollupConfigs fan-out) ---------

  /** quantity extractors over one diffs() pair struct */
  val pairDelta: Column => Column = _.getField("dv")
  val pairIncrease: Column => Column = d =>
    when(d.getField("dv") >= 0, d.getField("dv")).otherwise(d.getField("bv"))
  val pairRate: Column => Column = d =>
    pairIncrease(d) / (d.getField("dtms").cast(D) / 1000.0)
  val pairDeriv: Column => Column = d =>
    d.getField("dv") / (d.getField("dtms").cast(D) / 1000.0)
  val pairGap: Column => Column = _.getField("dtms").cast(D) / 1000.0

  /** min/max/avg kernels over the window's per-pair quantities; windows
    * with fewer than two samples yield null (no pairs).
    */
  def pairFan(q: Column => Column): Seq[(String, Kernel)] = Seq(
    "min" -> OverArray(arr => array_min(transform(diffs(arr), q))),
    "max" -> OverArray(arr => array_max(transform(diffs(arr), q))),
    "avg" -> OverArray { arr =>
      val qs = transform(diffs(arr), q)
      when(size(qs) > 0, aggregate(qs, lit(0.0), _ + _) / size(qs).cast(D))
    })

  // renamed private aliases to dodge the Column/functions name clash
  private def avg_(c: Column) = org.apache.spark.sql.functions.avg(c)
  private def sum_(c: Column) = org.apache.spark.sql.functions.sum(c)
  private def min_(c: Column) = org.apache.spark.sql.functions.min(c)
  private def max_(c: Column) = org.apache.spark.sql.functions.max(c)
  private def count_(c: Column) = org.apache.spark.sql.functions.count(c)
}
