package graft

import graft.core.{GridSpec, Samples, SeriesId}
import graft.operators._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — one `queries` entry (+ DuckDB oracle SQL) per
  * implemented operator from SURVEY.md §2.
  *
  * Conventions shared by every query/oracle pair:
  *  - events → samples mapping per FIXTURES.md §6 (name := event_type,
  *    series label := user_id, ts := epoch millis, value := value).
  *  - grid: Jan 2024 (the events table's span), hourly or daily step,
  *    timestamps as epoch-ms BIGINT `t`.
  *  - all double outputs rounded to 6 decimals ON BOTH SIDES so the
  *    driver's hash compare is immune to float summation order.
  *  - rows explicitly ordered; aggregate/computed columns aliased
  *    identically in Spark and SQL.
  */
object SparkEntry {

  // ---- shared grid constants (events span 2024-01-01 .. 2024-01-31) ----
  private val START = 1704067200000L // 2024-01-01T00:00:00Z
  private val END = 1706659200000L // 2024-01-31T00:00:00Z
  private val H = 3600000L
  private val D = 86400000L
  private val gridH = GridSpec(START, END, H)
  private val gridD = GridSpec(START, END, D)

  /** Deterministic rounding: the 1e-9 bias (identical in the oracle SQL)
    * keeps engine float-summation noise (~1e-13) from straddling a
    * half-rounding boundary — without it a true value ending in …5e-7
    * rounds differently depending on partial-sum order (and thus on the
    * executor/CPU count).
    */
  private def r6(c: Column): Column = round(c + lit(1e-9), 6)
  private def r4(c: Column): Column = round(c + lit(1e-9), 4)

  private def ev(s: SparkSession, dir: String): DataFrame = Samples.eventsFlat(s, dir)

  /** hourly tumbling rollup by metric name → (name, t, value) */
  private def roH(kernel: Kernel): (SparkSession, String) => DataFrame = (s, dir) =>
    Rollup.rollup(ev(s, dir), Seq("name"), gridH, H, kernel)
      .select(col("name"), col("t"), r6(col("value")).as("value"))
      .orderBy("name", "t")

  /** daily tumbling rollup by (name, user_id) → (name, user_id, t, value) */
  private def roD(kernel: Kernel): (SparkSession, String) => DataFrame = (s, dir) =>
    Rollup.rollup(ev(s, dir), Seq("name", "user_id"), gridD, D, kernel)
      .select(col("name"), col("user_id"), col("t"), r6(col("value")).as("value"))
      .orderBy("name", "user_id", "t")

  // ---- DuckDB oracle prelude builders ----

  /** Pinned log-bucket bound strings: `lut(i, b)` with b = `%.3e` of
    * 10^(i/18), generated HERE by the same JVM formatter the engine's
    * `HistogramQ.vmrangeStr` uses (Spark's format_string = java.util
    * .Formatter). The oracle joins this table instead of computing
    * `printf('%.3e', pow(10, i/18.0))` in DuckDB — whose libm pow can land
    * one ulp across a %.3e rounding boundary on a different build and flip
    * a digit of the parsed bound (VERDICT r4 "What's wrong" #1:
    * eval_hist_quantiles hash-red on the driver, exact-equal locally).
    * Literal short decimals parse to identical doubles in any environment.
    * Covers i ∈ [-170, 330] ⊃ the engine's clamp range (1e-9, 1e18].
    */
  private val LUT: String = {
    val rows = (-170 to 330)
      .map(i => s"($i, '${"%.3e".formatLocal(java.util.Locale.US, math.pow(10.0, i / 18.0))}')")
      .mkString(", ")
    s"lut(i, b) AS (VALUES $rows)"
  }

  /** Full-precision bucket-bound table for the oracle's bucket-INDEX
    * correction (the [[LUT]] pins the rendered bounds; this pins the
    * assignment): d(i) = the JVM's exact `Math.pow(10.0, i/18.0)` double
    * rendered via Double.toString — a shortest round-trip repr that
    * DuckDB's correctly-rounded parser recovers bit-exactly. The oracle
    * computes a libm-`log10` GUESS for the bucket index and corrects it
    * by exact comparison against these doubles, mirroring
    * `HistogramQ.bucketIdx`, so both engines resolve boundary values with
    * the same comparisons and no libm dependency (VERDICT r5 "What's
    * wrong" #1: eval_hist_quantiles hash-red three rounds from a one-ulp
    * log10 flip).
    */
  private val LUTX: String = {
    val rows = (-180 to 340)
      .map(i => s"($i, ${math.pow(10.0, i / 18.0)})")
      .mkString(", ")
    s"lutx(i, d) AS (VALUES $rows)"
  }

  /** Bucket index of metrics.Histogram's lower bucket `0...1.000e-09`:
    * values ≤ 1e-9, a 0 included, count there (Histogram.Update skips
    * only NaN and negatives). One below the first log bucket (1e-9 =
    * 10^(-162/18)), so it is adjacent to it, and it never gets a boundary
    * zero-bucket: its start 0 equals vmrangeBucketsToLE's initial
    * previous end (transform.go:502).
    */
  private val LOWER = -163

  /** the boundary zero-bucket rule of the le conversion over `kd(k, pk)`:
    * a bucket whose start is not the previous bucket's end
    */
  private val GAP = s"(pk IS NULL OR pk != k - 1) AND k != $LOWER"

  /** ceil−1 corrected log-bucket histogram CTEs: from `$src` (exposing
    * `$cols` and value column `$v`), emits `h($cols, k, c)` with k pinned
    * by lutx range comparison, or [[LOWER]] for v ≤ 1e-9.
    */
  private def hCorr(src: String, cols: String, v: String): String =
    s"h0 AS (SELECT $cols, $v AS _v, CASE WHEN $v > 1e-9 THEN ceil(log10($v) * 18)::BIGINT - 1 END AS _g " +
      s"FROM $src), " +
      s"hcx AS (SELECT $cols, CASE WHEN _g IS NULL THEN $LOWER WHEN _v <= lg.d THEN _g - 1 " +
      "WHEN _v > lh.d THEN _g + 1 ELSE _g END AS k " +
      "FROM h0 LEFT JOIN lutx lg ON lg.i = h0._g LEFT JOIN lutx lh ON lh.i = h0._g + 1), " +
      s"h AS (SELECT $cols, k, count(*)::DOUBLE AS c FROM hcx GROUP BY $cols, k)"

  /** bucketed events CTE: hourly (BH) / daily (BD) tumbling buckets */
  private val BH =
    s"SELECT event_type AS name, user_id, ((epoch_ms(ts::TIMESTAMP) + ${H - 1}) // $H) * $H AS t, " +
      "epoch_ms(ts::TIMESTAMP) AS tms, value FROM events"
  private val BD =
    s"SELECT event_type AS name, user_id, ((epoch_ms(ts::TIMESTAMP) + ${D - 1}) // $D) * $D AS t, " +
      "epoch_ms(ts::TIMESTAMP) AS tms, value FROM events"

  private def sqlH(agg: String): String =
    s"WITH b AS ($BH) SELECT name, t, round(1e-9 + $agg, 6) AS value FROM b " +
      "GROUP BY name, t ORDER BY name, t"

  /** geomean with Go's math.Log: a 0 makes it exp(−Inf) = 0
    * (rollup.go:1707 rollupGeomean, aggr.go aggrFuncGeomean); the events
    * hold no negative value
    */
  private val GEOMEAN =
    "CASE WHEN min(value) = 0 THEN 0 ELSE exp(avg(ln(CASE WHEN value > 0 THEN value END))) END"

  private def sqlD(agg: String): String =
    s"WITH b AS ($BD) SELECT name, user_id, t, round(1e-9 + $agg, 6) AS value FROM b " +
      "GROUP BY name, user_id, t ORDER BY name, user_id, t"

  private case class Q(
      name: String,
      fn: (SparkSession, String) => DataFrame,
      sql: Option[String])

  // =====================================================================
  // §2.2 rollup functions — hourly tumbling grid, grouped by metric name
  // =====================================================================
  private val rollupQueries: Seq[Q] = Seq(
    Q("ro_avg", roH(Kernels.avg), Some(sqlH("avg(value)"))),
    Q("ro_min", roH(Kernels.min), Some(sqlH("min(value)"))),
    Q("ro_max", roH(Kernels.max), Some(sqlH("max(value)"))),
    Q("ro_sum", roH(Kernels.sum), Some(sqlH("sum(value)"))),
    Q("ro_count", roH(Kernels.count), Some(sqlH("count(value)::DOUBLE"))),
    Q("ro_sum2", roH(Kernels.sum2), Some(sqlH("sum(value*value)"))),
    Q("ro_stddev", roH(Kernels.stddev), Some(sqlH("stddev_pop(value)"))),
    Q("ro_stdvar", roH(Kernels.stdvar), Some(sqlH("var_pop(value)"))),
    Q("ro_median", roH(Kernels.median), Some(sqlH("quantile_cont(value, 0.5)"))),
    Q("ro_quantile_p90", roH(Kernels.quantile(0.9)), Some(sqlH("quantile_cont(value, 0.9)"))),
    Q("ro_geomean", roH(Kernels.geomean), Some(sqlH(GEOMEAN))),
    Q("ro_distinct", roH(Kernels.distinct), Some(sqlH("count(DISTINCT value)::DOUBLE"))),
    Q("ro_range", roH(Kernels.range), Some(sqlH("max(value) - min(value)"))),
    Q("ro_first", roH(Kernels.first), Some(sqlH("first(value ORDER BY tms, value)"))),
    Q("ro_last", roH(Kernels.last), Some(sqlH("last(value ORDER BY tms, value)"))),
    Q("ro_tfirst", roH(Kernels.tfirst), Some(sqlH("min(tms)/1000.0"))),
    Q("ro_tlast", roH(Kernels.tlast), Some(sqlH("max(tms)/1000.0"))),
    Q("ro_count_gt_100", roH(Kernels.countGt(100)),
      Some(sqlH("sum(CASE WHEN value > 100 THEN 1 ELSE 0 END)::DOUBLE"))),
    Q("ro_count_le_100", roH(Kernels.countLe(100)),
      Some(sqlH("sum(CASE WHEN value <= 100 THEN 1 ELSE 0 END)::DOUBLE"))),
    Q("ro_sum_gt_100", roH(Kernels.sumGt(100)),
      Some(sqlH("sum(CASE WHEN value > 100 THEN value ELSE 0 END)"))),
    Q("ro_share_gt_100", roH(Kernels.shareGt(100)),
      Some(sqlH("sum(CASE WHEN value > 100 THEN 1.0 ELSE 0.0 END)/count(value)"))),
    Q("ro_lifetime", roH(Kernels.lifetime), Some(sqlH("(max(tms) - min(tms))/1000.0"))),
    Q("ro_lag", roH(Kernels.lag), Some(sqlH("(t - max(tms))/1000.0"))),
    Q("ro_scrape_interval", roH(Kernels.scrapeInterval),
      Some(sqlH("CASE WHEN count(value) > 1 THEN (max(tms)-min(tms))/1000.0/(count(value)-1) END"))),
    Q("ro_rate_over_sum", roH(Kernels.rateOverSum(H)), Some(sqlH("sum(value)/3600.0"))),
    Q("ro_zscore", roH(Kernels.zscore),
      Some(sqlH("CASE WHEN stddev_pop(value) > 0 THEN " +
        "(last(value ORDER BY tms, value) - avg(value))/stddev_pop(value) ELSE 0.0 END"))),
    // single-sample / degenerate windows yield slope 0 (linearRegression's
    // areConstValues + tDiff clamp, rollup.go:1099), not an absent point
    Q("ro_deriv", roH(Kernels.deriv),
      Some(sqlH("coalesce(CASE WHEN count(value) > 1 " +
        "THEN regr_slope(value, (tms - t)/1000.0) END, 0.0)"))),
    Q("ro_predict_linear", roH(Kernels.predictLinear(3600)),
      Some(sqlH("coalesce(CASE WHEN count(value) > 1 THEN regr_intercept(value, (tms - t)/1000.0) " +
        "+ regr_slope(value, (tms - t)/1000.0) * 3600 END, avg(value))"))),
    Q("ro_hoeffding_upper", roH(Kernels.hoeffdingUpper(0.9)),
      Some(sqlH("avg(value) + (max(value)-min(value)) * sqrt(ln(1.0/(1-0.9))/(2*count(value)))"))),
    Q("ro_outlier_iqr", roH(Kernels.outlierIqr),
      Some(sqlH("CASE WHEN count(*) >= 2 AND (" +
        "last(value ORDER BY tms, value) < quantile_cont(value, 0.25) - 1.5*(quantile_cont(value, 0.75) - quantile_cont(value, 0.25)) OR " +
        "last(value ORDER BY tms, value) > quantile_cont(value, 0.75) + 1.5*(quantile_cont(value, 0.75) - quantile_cont(value, 0.25))) " +
        "THEN last(value ORDER BY tms, value) END"))),
    Q("ro_tmin", roH(Kernels.tmin), Some(
      s"WITH b AS ($BH), m AS (SELECT name, t, tms, value, min(value) OVER (PARTITION BY name, t) AS mv FROM b) " +
        "SELECT name, t, round(1e-9 + max(CASE WHEN value = mv THEN tms END)/1000.0, 6) AS value " +
        "FROM m GROUP BY name, t ORDER BY name, t")),
    Q("ro_tmax", roH(Kernels.tmax), Some(
      s"WITH b AS ($BH), m AS (SELECT name, t, tms, value, max(value) OVER (PARTITION BY name, t) AS mv FROM b) " +
        "SELECT name, t, round(1e-9 + max(CASE WHEN value = mv THEN tms END)/1000.0, 6) AS value " +
        "FROM m GROUP BY name, t ORDER BY name, t")),
    Q("ro_mode", roH(Kernels.mode), Some(
      s"WITH b AS ($BH), c AS (SELECT name, t, value, count(*) AS cnt FROM b GROUP BY name, t, value) " +
        "SELECT name, t, round(1e-9 + value, 6) AS value FROM c " +
        "QUALIFY row_number() OVER (PARTITION BY name, t ORDER BY cnt DESC, value ASC) = 1 " +
        "ORDER BY name, t")),
    Q("ro_mad", roH(Kernels.mad), Some(
      s"WITH b AS ($BH), m AS (SELECT name, t, quantile_cont(value, 0.5) AS med FROM b GROUP BY name, t) " +
        "SELECT b.name AS name, b.t AS t, round(1e-9 + quantile_cont(abs(b.value - m.med), 0.5), 6) AS value " +
        "FROM b JOIN m ON b.name = m.name AND b.t = m.t " +
        "GROUP BY b.name, b.t ORDER BY name, t")))

  // =====================================================================
  // §2.2 order-sensitive rollups — daily tumbling grid by (name, user_id);
  // oracle uses lag()/list() window forms of the same adjacent-pair math
  // =====================================================================
  /** daily-bucket CTE with per-group lag(value)/lag(tms) */
  private def sqlDLag(agg: String): String =
    s"WITH b AS ($BD), d AS (SELECT name, user_id, t, tms, value, " +
      "lag(value) OVER (PARTITION BY name, user_id, t ORDER BY tms, value) AS pv, " +
      "lag(tms) OVER (PARTITION BY name, user_id, t ORDER BY tms, value) AS ptms FROM b) " +
      s"SELECT name, user_id, t, round(1e-9 + $agg, 6) AS value FROM d " +
      "GROUP BY name, user_id, t ORDER BY name, user_id, t"

  /** daily-bucket CTE with ts-ordered value/tms lists (1-based indexing) */
  private def sqlDList(valueExpr: String): String =
    s"WITH b AS ($BD), l AS (SELECT name, user_id, t, " +
      "list(value ORDER BY tms, value) AS vs, list(tms ORDER BY tms, value) AS ts " +
      "FROM b GROUP BY name, user_id, t) " +
      s"SELECT name, user_id, t, round(1e-9 + $valueExpr, 6) AS value FROM l " +
      "ORDER BY name, user_id, t"

  /** hourly rollup by name with an arbitrary lookback window (sliding) */
  private def roHW(kernel: Kernel, windowMs: Long): (SparkSession, String) => DataFrame =
    (s, dir) =>
      Rollup.rollup(ev(s, dir), Seq("name"), gridH, windowMs, kernel)
        .select(col("name"), col("t"), r6(col("value")).as("value"))
        .orderBy("name", "t")

  /** sliding-window oracle: grid × samples range join (the declarative
    * formulation; Spark side uses the map-side bucket explode instead)
    */
  private def sqlSlidingH(windowMs: Long, agg: String): String =
    s"WITH g AS (SELECT unnest(generate_series($START, $END, $H)) AS t), " +
      "b AS (SELECT event_type AS name, epoch_ms(ts::TIMESTAMP) AS tms, value FROM events), " +
      s"j AS (SELECT name, t, tms, value FROM g JOIN b ON b.tms > g.t - $windowMs AND b.tms <= g.t) " +
      s"SELECT name, t, round(1e-9 + $agg, 6) AS value FROM j GROUP BY name, t ORDER BY name, t"

  private val increaseSql =
    "sum(CASE WHEN pv IS NULL THEN 0 WHEN value >= pv THEN value - pv ELSE value END)"

  private val rollupQueries2: Seq[Q] = Seq(
    Q("ro_delta", roD(Kernels.delta),
      Some(sqlD("last(value ORDER BY tms, value) - first(value ORDER BY tms, value)"))),
    Q("ro_idelta", roD(Kernels.idelta),
      Some(sqlDList("CASE WHEN len(vs) >= 2 THEN vs[len(vs)] - vs[len(vs)-1] END"))),
    Q("ro_increase", roD(Kernels.increase), Some(sqlDLag(increaseSql))),
    Q("ro_rate", roD(Kernels.rate(D)), Some(sqlDLag(s"$increaseSql / 86400.0"))),
    Q("ro_irate", roD(Kernels.irate),
      Some(sqlDList("CASE WHEN len(vs) >= 2 AND ts[len(ts)] > ts[len(ts)-1] THEN " +
        "(CASE WHEN vs[len(vs)] >= vs[len(vs)-1] THEN vs[len(vs)] - vs[len(vs)-1] ELSE vs[len(vs)] END)" +
        " / ((ts[len(ts)] - ts[len(ts)-1])/1000.0) END"))),
    Q("ro_ideriv", roD(Kernels.ideriv),
      Some(sqlDList("CASE WHEN len(vs) >= 2 AND ts[len(ts)] > ts[len(ts)-1] THEN " +
        "(vs[len(vs)] - vs[len(vs)-1]) / ((ts[len(ts)] - ts[len(ts)-1])/1000.0) END"))),
    Q("ro_deriv_fast", roD(Kernels.derivFast),
      Some(sqlD("CASE WHEN max(tms) > min(tms) THEN " +
        "(last(value ORDER BY tms, value) - first(value ORDER BY tms, value))" +
        " / ((max(tms) - min(tms))/1000.0) END"))),
    Q("ro_changes", roD(Kernels.changes),
      Some(sqlDLag("sum(CASE WHEN pv IS NOT NULL AND value != pv THEN 1 ELSE 0 END)::DOUBLE"))),
    Q("ro_increases_over_time", roD(Kernels.increasesOverTime),
      Some(sqlDLag("sum(CASE WHEN pv IS NOT NULL AND value > pv THEN 1 ELSE 0 END)::DOUBLE"))),
    Q("ro_decreases_over_time", roD(Kernels.decreasesOverTime),
      Some(sqlDLag("sum(CASE WHEN pv IS NOT NULL AND value < pv THEN 1 ELSE 0 END)::DOUBLE"))),
    Q("ro_resets", roD(Kernels.resets),
      Some(sqlDLag("sum(CASE WHEN pv IS NOT NULL AND value < pv THEN 1 ELSE 0 END)::DOUBLE"))),
    Q("ro_ascent_over_time", roD(Kernels.ascentOverTime),
      Some(sqlDLag("sum(CASE WHEN pv IS NOT NULL AND value > pv THEN value - pv ELSE 0 END)"))),
    Q("ro_descent_over_time", roD(Kernels.descentOverTime),
      Some(sqlDLag("sum(CASE WHEN pv IS NOT NULL AND value < pv THEN pv - value ELSE 0 END)"))),
    Q("ro_integrate", roD(Kernels.integrate),
      Some(sqlDLag("sum(CASE WHEN ptms IS NOT NULL THEN pv * ((tms - ptms)/1000.0) ELSE 0 END)"))),
    Q("ro_duration_over_time", roD(Kernels.durationOverTime(21600)),
      Some(sqlDLag("sum(CASE WHEN ptms IS NOT NULL AND tms - ptms <= 21600000 " +
        "THEN (tms - ptms)/1000.0 ELSE 0 END)"))),
    Q("ro_tlast_change", roD(Kernels.tlastChange),
      Some(sqlDLag("coalesce(max(CASE WHEN pv IS NOT NULL AND value != pv THEN tms END), min(tms))/1000.0"))),
    // sliding lookback (window > step): 6h window on the hourly grid
    Q("ro_sliding_max", roHW(Kernels.max, 6 * H), Some(sqlSlidingH(6 * H, "max(value)"))),
    Q("ro_sliding_avg", roHW(Kernels.avg, 6 * H), Some(sqlSlidingH(6 * H, "avg(value)"))),
    // TSBS cpu-max-all-8 shape (BASELINE.md): 12h window sliding on a
    // 1-MINUTE grid — window/step = 720. Exercises the two-level rollup
    // (per-step partials + range-framed window merge); the bucketize path
    // would explode every sample 720×. One week of grid to keep the
    // DuckDB range-join oracle tractable.
    Q("ro_tsbs_cpu_max", (s, dir) => {
      val weekGrid = GridSpec(START, START + 7 * D, 60000L)
      Rollup.rollup(ev(s, dir), Seq("name"), weekGrid, 12 * H, Kernels.max)
        .select(col("name"), col("t"), r6(col("value")).as("value"))
        .orderBy("name", "t")
    }, Some(s"WITH g AS (SELECT unnest(generate_series($START, ${START + 7 * D}, 60000)) AS t), " +
      "b AS (SELECT event_type AS name, epoch_ms(ts::TIMESTAMP) AS tms, value FROM events), " +
      s"j AS (SELECT name, t, value FROM g JOIN b ON b.tms > g.t - ${12 * H} AND b.tms <= g.t) " +
      "SELECT name, t, round(1e-9 + max(value), 6) AS value FROM j GROUP BY name, t ORDER BY name, t")),
    // TSBS-shaped COUNTER query: increase over a 12h window sliding on a
    // 1-minute grid (ratio 720), through the full engine text path.
    // Exercises the two-level COUNTER plan (per-step edge partials +
    // range-framed merge; Rollup.rollupTwoLevel withPrev) — the bucketize
    // path would explode every sample 720× AND collect a duplicated sorted
    // array per bucket. One week of grid keeps the DuckDB range join
    // tractable.
    Q("ro_tsbs_increase",
      eng("increase(click[12h])", GridSpec(START, START + 7 * D, 60000L)) { df =>
        df.select(uid, col("t"), r6(col("value")).as("value")).orderBy("user_id", "t")
      },
      Some(tsbsIncreaseSql)),
    Q("ro_sliding_increase", roHW(Kernels.increase, 6 * H), Some(
      s"WITH g AS (SELECT unnest(generate_series($START, $END, $H)) AS t), " +
        "b AS (SELECT event_type AS name, epoch_ms(ts::TIMESTAMP) AS tms, value FROM events), " +
        s"j AS (SELECT name, t, tms, value FROM g JOIN b ON b.tms > g.t - ${6 * H} AND b.tms <= g.t), " +
        "d AS (SELECT name, t, value, lag(value) OVER (PARTITION BY name, t ORDER BY tms, value) AS pv FROM j) " +
        s"SELECT name, t, round(1e-9 + $increaseSql, 6) AS value FROM d GROUP BY name, t ORDER BY name, t")),
    // fan-out rollups
    Q("ro_candlestick", (s, dir) =>
      Rollup.candlestick(ev(s, dir), Seq("name"), gridH, H)
        .select(col("name"), col("t"), col("rollup"), r6(col("value")).as("value"))
        .orderBy("name", "t", "rollup"),
      Some(s"WITH b AS ($BH), w AS (SELECT name, t, " +
        "first(value ORDER BY tms, value) AS open, last(value ORDER BY tms, value) AS close, " +
        "min(value) AS low, max(value) AS high FROM b GROUP BY name, t) " +
        "SELECT name, t, r AS rollup, round(1e-9 + v, 6) AS value FROM (" +
        "SELECT name, t, 'open' AS r, open AS v FROM w UNION ALL " +
        "SELECT name, t, 'close', close FROM w UNION ALL " +
        "SELECT name, t, 'low', low FROM w UNION ALL " +
        "SELECT name, t, 'high', high FROM w) ORDER BY name, t, rollup")),
    Q("ro_aggr_over_time", (s, dir) =>
      Rollup.aggrOverTime(ev(s, dir), Seq("name"), gridH, H,
        Seq("avg" -> Kernels.avg, "max" -> Kernels.max))
        .select(col("name"), col("t"), col("rollup"), r6(col("value")).as("value"))
        .orderBy("name", "t", "rollup"),
      Some(s"WITH b AS ($BH), w AS (SELECT name, t, avg(value) AS a, max(value) AS m FROM b GROUP BY name, t) " +
        "SELECT name, t, r AS rollup, round(1e-9 + v, 6) AS value FROM (" +
        "SELECT name, t, 'avg' AS r, a AS v FROM w UNION ALL " +
        "SELECT name, t, 'max', m FROM w) ORDER BY name, t, rollup")),
    Q("ro_quantiles_over_time", (s, dir) =>
      Rollup.quantilesOverTime(ev(s, dir), Seq("name"), gridH, H, Seq(0.5, 0.9))
        .select(col("name"), col("t"), col("phi"), r6(col("value")).as("value"))
        .orderBy("name", "t", "phi"),
      Some(s"WITH b AS ($BH), w AS (SELECT name, t, quantile_cont(value, 0.5) AS q5, " +
        "quantile_cont(value, 0.9) AS q9 FROM b GROUP BY name, t) " +
        "SELECT name, t, phi, round(1e-9 + v, 6) AS value FROM (" +
        "SELECT name, t, '0.5' AS phi, q5 AS v FROM w UNION ALL " +
        "SELECT name, t, '0.9', q9 FROM w) ORDER BY name, t, phi")),
    Q("ro_count_values_over_time", (s, dir) =>
      Rollup.countValuesOverTime(ev(s, dir), Seq("name"), gridH, H)
        .select(col("name"), col("t"), r6(col("value")).as("value"), col("cnt"))
        .orderBy("name", "t", "value"),
      Some(s"WITH b AS ($BH) SELECT name, t, round(1e-9 + value, 6) AS value, count(*)::DOUBLE AS cnt " +
        "FROM b GROUP BY name, t, value ORDER BY name, t, value")),
    Q("ro_histogram_over_time", (s, dir) =>
      Rollup.histogramOverTime(ev(s, dir), Seq("name"), gridH, H)
        .select(col("name"), col("t"), col("vmrange"), col("value"))
        .orderBy("name", "t", "vmrange"),
      Some(s"WITH b AS ($BH), $LUT, $LUTX, ${hCorr("b", "name, t", "value")} " +
        s"SELECT name, t, CASE WHEN h.k = $LOWER THEN '0' ELSE l0.b END || '...' || l1.b AS vmrange, " +
        "c AS value FROM h JOIN lut l0 ON l0.i = h.k JOIN lut l1 ON l1.i = h.k + 1 ORDER BY name, t, vmrange")),
    Q("ro_present_over_time", roH(Kernels.present),
      Some(s"WITH b AS ($BH) SELECT DISTINCT name, t, 1.0 AS value FROM b ORDER BY name, t")),
    Q("ro_absent_over_time", (s, dir) =>
      Rollup.absentOverTime(
        ev(s, dir).filter(col("name") === "error" && col("user_id") === 3), gridH, H)
        .select(col("t"), col("value"))
        .orderBy("t"),
      Some(s"SELECT t, 1.0 AS value FROM (SELECT unnest(generate_series($START, $END, $H)) AS t) g " +
        "WHERE NOT EXISTS (SELECT 1 FROM events e WHERE e.event_type = 'error' AND e.user_id = 3 " +
        s"AND epoch_ms(e.ts::TIMESTAMP) > g.t - $H AND epoch_ms(e.ts::TIMESTAMP) <= g.t) ORDER BY t")),
    Q("ro_default_rollup", (s, dir) =>
      Rollup.rollup(ev(s, dir), Seq("name", "user_id"), gridH, 2 * H, Kernels.last)
        .select(col("name"), col("user_id"), col("t"), r6(col("value")).as("value"))
        .orderBy("name", "user_id", "t"),
      Some(s"WITH g AS (SELECT unnest(generate_series($START, $END, $H)) AS t), " +
        "b AS (SELECT event_type AS name, user_id, epoch_ms(ts::TIMESTAMP) AS tms, value FROM events), " +
        s"j AS (SELECT name, user_id, t, tms, value FROM g JOIN b ON b.tms > g.t - ${2 * H} AND b.tms <= g.t) " +
        "SELECT name, user_id, t, round(1e-9 + last(value ORDER BY tms, value), 6) AS value FROM j " +
        "GROUP BY name, user_id, t ORDER BY name, user_id, t")))

  // =====================================================================
  // §2.2 remaining rollups: filtered-count variants on floored values
  // (doubles never collide on equality otherwise), Hoeffding lower bound,
  // staleness counting, holt_winters, and the min/max/avg `rollup` fan-out
  // =====================================================================
  /** hourly rollup by name over FLOORED values (for eq/ne variants) */
  private def roHF(kernel: Kernel): (SparkSession, String) => DataFrame = (s, dir) =>
    Rollup.rollup(ev(s, dir).withColumn("value", floor(col("value"))), Seq("name"), gridH, H, kernel)
      .select(col("name"), col("t"), r6(col("value")).as("value"))
      .orderBy("name", "t")

  private val BHF =
    s"SELECT event_type AS name, ((epoch_ms(ts::TIMESTAMP) + ${H - 1}) // $H) * $H AS t, " +
      "floor(value) AS value FROM events"

  private def sqlHF(agg: String): String =
    s"WITH b AS ($BHF) SELECT name, t, round(1e-9 + $agg, 6) AS value FROM b " +
      "GROUP BY name, t ORDER BY name, t"

  private val rollupQueries3: Seq[Q] = Seq(
    Q("ro_count_eq", roHF(Kernels.countEq(100)),
      Some(sqlHF("sum(CASE WHEN value = 100 THEN 1 ELSE 0 END)::DOUBLE"))),
    Q("ro_count_ne", roHF(Kernels.countNe(100)),
      Some(sqlHF("sum(CASE WHEN value != 100 THEN 1 ELSE 0 END)::DOUBLE"))),
    Q("ro_sum_eq", roHF(Kernels.sumEq(100)),
      Some(sqlHF("sum(CASE WHEN value = 100 THEN value ELSE 0 END)"))),
    Q("ro_sum_le", roHF(Kernels.sumLe(100)),
      Some(sqlHF("sum(CASE WHEN value <= 100 THEN value ELSE 0 END)"))),
    Q("ro_share_eq", roHF(Kernels.shareEq(100)),
      Some(sqlHF("sum(CASE WHEN value = 100 THEN 1.0 ELSE 0.0 END)/count(value)"))),
    Q("ro_share_le", roHF(Kernels.shareLe(100)),
      Some(sqlHF("sum(CASE WHEN value <= 100 THEN 1.0 ELSE 0.0 END)/count(value)"))),
    Q("ro_hoeffding_lower", roH(Kernels.hoeffdingLower(0.9)),
      Some(sqlH("avg(value) - (max(value)-min(value)) * sqrt(ln(1.0/(1-0.9))/(2*count(value)))"))),
    Q("ro_stale_samples", roH(Kernels.staleSamples),
      Some(sqlH("sum(CASE WHEN isnan(value) THEN 1 ELSE 0 END)::DOUBLE"))),
    Q("ro_holt_winters", roH(Kernels.holtWinters(0.3, 0.3)),
      Some(holtSql("name", "event_type", "", 0.3, 0.3, capMs = 0L) +
        "SELECT name, t, round(1e-9 + s, 6) AS value FROM rec WHERE rn = n " +
        "ORDER BY name, t")),
    Q("ro_rollup", (s, dir) =>
      Rollup.aggrOverTime(ev(s, dir), Seq("name"), gridH, H,
        Seq("min" -> Kernels.min, "max" -> Kernels.max, "avg" -> Kernels.avg))
        .select(col("name"), col("t"), col("rollup"), r6(col("value")).as("value"))
        .orderBy("name", "t", "rollup"),
      Some(s"WITH b AS ($BH), w AS (SELECT name, t, min(value) AS mn, max(value) AS mx, " +
        "avg(value) AS av FROM b GROUP BY name, t) " +
        "SELECT name, t, r AS rollup, round(1e-9 + v, 6) AS value FROM (" +
        "SELECT name, t, 'min' AS r, mn AS v FROM w UNION ALL " +
        "SELECT name, t, 'max', mx FROM w UNION ALL " +
        "SELECT name, t, 'avg', av FROM w) ORDER BY name, t, rollup")),
    Q("ro_rollup_rate", (s, dir) =>
      Rollup.aggrOverTime(ev(s, dir), Seq("name", "user_id"), gridD, D,
        Kernels.pairFan(Kernels.pairRate))
        .select(col("name"), col("user_id"), col("t"), col("rollup"),
          r6(col("value")).as("value"))
        .orderBy("name", "user_id", "t", "rollup"),
      Some(s"WITH b AS ($BD), d AS (SELECT name, user_id, t, tms, value, " +
        "lag(value) OVER w AS pv, lag(tms) OVER w AS ptms FROM b " +
        "WINDOW w AS (PARTITION BY name, user_id, t ORDER BY tms, value)), " +
        "p AS (SELECT name, user_id, t, CASE WHEN pv IS NULL THEN NULL ELSE " +
        "(CASE WHEN value >= pv THEN value - pv ELSE value END) / ((tms - ptms) / 1000.0) END AS q " +
        "FROM d), " +
        "w2 AS (SELECT name, user_id, t, min(q) AS mn, max(q) AS mx, avg(q) AS av FROM p " +
        "GROUP BY name, user_id, t) " +
        "SELECT name, user_id, t, r AS rollup, round(1e-9 + v, 6) AS value FROM (" +
        "SELECT name, user_id, t, 'min' AS r, mn AS v FROM w2 UNION ALL " +
        "SELECT name, user_id, t, 'max', mx FROM w2 UNION ALL " +
        "SELECT name, user_id, t, 'avg', av FROM w2) ORDER BY name, user_id, t, rollup")),
    Q("ro_timestamp", roH(Kernels.tlast), // timestamp()/timestamp_with_name
      Some(sqlH("max(tms)/1000.0"))))

  // =====================================================================
  // §2.3 transform functions — inputs are round-6 hourly/daily grids so
  // both engines transform bit-identical values
  // =====================================================================
  /** hourly avg grid by name (rounded) — the transform-family input */
  private def gHavg(s: SparkSession, dir: String): DataFrame =
    Rollup.rollup(ev(s, dir), Seq("name"), gridH, H, Kernels.avg)
      .select(col("name"), col("t"), r6(col("value")).as("value"))

  /** daily per-user avg grid (rounded) — the aggregate-family input */
  private def gDavg(s: SparkSession, dir: String): DataFrame =
    Rollup.rollup(ev(s, dir), Seq("name", "user_id"), gridD, D, Kernels.avg)
      .select(col("name"), col("user_id"), col("t"), r6(col("value")).as("value"))

  private val GH =
    s"WITH b AS ($BH), gdf AS (SELECT name, t, round(1e-9 + avg(value), 6) AS value FROM b GROUP BY name, t)"
  private val GD =
    s"WITH b AS ($BD), gdf AS (SELECT name, user_id, t, round(1e-9 + avg(value), 6) AS value " +
      "FROM b GROUP BY name, user_id, t)"
  private val WR =
    "(PARTITION BY name ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
  private val WW =
    "(PARTITION BY name ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"

  private def trOut(df: DataFrame): DataFrame =
    df.select(col("name"), col("t"), r6(col("value")).as("value")).orderBy("name", "t")

  /** every series of a grid frame */
  private val ALL = """{__name__=~".+"}"""

  /** MetricsQL `q` through the engine over a rounded grid frame (name, t,
    * value and label columns), each row a sample at ts = t tagged with its
    * label columns ({user_id}, {metric} or {}). A lookback of one step
    * makes a bare selector read exactly the point at t and fill no gap.
    */
  private def engOn(g: DataFrame, q: String, grid: GridSpec): DataFrame = {
    val labels = g.columns.filterNot(Set("name", "t", "value"))
    val tags =
      if (labels.isEmpty) map().cast("map<string,string>")
      else map(labels.toSeq.flatMap(l => Seq(lit(l), col(l).cast("string"))): _*)
    Engine.query(g.select(col("name"), tags.as("tags"), col("t").as("ts"), col("value")),
      q, grid, grid.stepMs)
  }

  /** one output column per (alias, query, rounding), joined on (name, t) */
  private def engCols(g: DataFrame, grid: GridSpec, name: Column,
      cols: Seq[(String, String, Column => Column)]): DataFrame =
    cols.map { case (as, q, out) =>
      engOn(g, q, grid).select(name.as("name"), col("t"), out(col("value")).as(as))
    }.reduce(_.join(_, Seq("name", "t")))

  /** [[engCols]] over [[gHavg]]: the `metric` label carries each series'
    * name through the functions that drop it (transform.go:141-170)
    */
  private def trCols(s: SparkSession, dir: String,
      cols: (String, String, Column => Column)*): DataFrame =
    engCols(gHavg(s, dir).withColumn("metric", col("name")), gridH,
      col("tags").getItem("metric"), cols).orderBy("name", "t")

  /** [[engCols]] over [[gDavg]], for aggregates `by (__name__)` */
  private def agCols(s: SparkSession, dir: String,
      cols: (String, String, Column => Column)*): DataFrame =
    engCols(gDavg(s, dir), gridD, col("name"), cols).orderBy("name", "t")

  /** the same rounding for every column */
  private def rounded(out: Column => Column, cols: (String, String)*): Seq[(String, String, Column => Column)] =
    cols.map { case (as, q) => (as, q, out) }

  private val asIs: Column => Column = c => c

  /** `q` over the hourly transform grid [[gHavg]] */
  private def trEng(s: SparkSession, dir: String, q: String): DataFrame =
    engOn(gHavg(s, dir), q, gridH)

  /** `q` over the raw samples on the daily grid, a day's lookback each */
  private def labelsOf(s: SparkSession, dir: String, q: String): DataFrame =
    Engine.query(Samples.fromEvents(s, dir), q, gridD, D)

  /** `q` over the daily per-user aggregate grid [[gDavg]] */
  private def agEng(s: SparkSession, dir: String, q: String): DataFrame =
    engOn(gDavg(s, dir), q, gridD)

  /** the hourly grid per name, absent points as NULL `v` (the dense
    * value arrays the reference's running_/range_ transforms walk)
    */
  private val GHD =
    s"$GH, names AS (SELECT DISTINCT name FROM gdf), " +
      s"g AS (SELECT names.name, gs.t FROM names, (SELECT unnest(generate_series($START, $END, $H)) AS t) gs), " +
      "d AS (SELECT g.name AS name, g.t AS t, gdf.value AS v FROM g LEFT JOIN gdf ON g.name = gdf.name AND g.t = gdf.t)"

  /** `agg` over [[GHD]]'s samples so far, at every point from a series'
    * first sample on
    */
  private def runningSql(agg: String): String =
    s"$GHD, r AS (SELECT name, t, round(1e-9 + $agg OVER $WR, 6) AS value FROM d) " +
      "SELECT name, t, value FROM r WHERE value IS NOT NULL ORDER BY name, t"

  /** running_avg's recurrence r += (v − r)/(pos + 1), pos the grid
    * position since the series' first sample: a gap carries r and still
    * advances pos (transform.go:1210 runningAvg; exec_test.go
    * running_avg(time() > 1200 < 1800) = n,n,1400,1500,1500,1500)
    */
  private def runningAvgCtes: String =
    GHD.replaceFirst("WITH ", "WITH RECURSIVE ") +
      ", f AS (SELECT name, t, v, min(CASE WHEN v IS NOT NULL THEN t END) OVER (PARTITION BY name) AS t0 FROM d), " +
      "p AS MATERIALIZED (SELECT name, t, v, row_number() OVER (PARTITION BY name ORDER BY t) - 1 AS pos " +
      "FROM f WHERE t >= t0), " +
      "r(name, pos, t, a) AS (SELECT name, pos, t, v FROM p WHERE pos = 0 UNION ALL " +
      "SELECT p.name, p.pos, p.t, CASE WHEN p.v IS NULL THEN r.a ELSE r.a + (p.v - r.a) / (p.pos + 1) END " +
      "FROM r JOIN p ON p.name = r.name AND p.pos = r.pos + 1)"

  private val transformQueries: Seq[Q] = Seq(
    // pointwise math catalog (transform.go:25-130); sgn reads floor(v)
    // so that its input holds zeros
    Q("tr_math", (s, dir) =>
      trCols(s, dir,
        ("abs_v", s"abs($ALL - 100)", r6),
        ("ceil_v", s"ceil($ALL)", asIs),
        ("floor_v", s"floor($ALL)", asIs),
        ("sqrt_v", s"sqrt($ALL)", r6),
        ("ln_v", s"ln($ALL)", r6),
        ("log2_v", s"log2($ALL)", r6),
        ("log10_v", s"log10($ALL)", r6),
        ("exp_v", s"exp($ALL / 100)", r6),
        ("sgn_v", s"sgn(floor($ALL) - 100)", asIs),
        ("round_v", s"round($ALL)", asIs),
        ("clamp_v", s"clamp($ALL, 50, 150)", r6)),
      Some(s"$GH SELECT name, t, round(1e-9 + abs(value - 100), 6) AS abs_v, ceil(value) AS ceil_v, " +
        "floor(value) AS floor_v, round(1e-9 + sqrt(value), 6) AS sqrt_v, round(1e-9 + ln(value), 6) AS ln_v, " +
        "round(1e-9 + log2(value), 6) AS log2_v, round(1e-9 + log10(value), 6) AS log10_v, " +
        "round(1e-9 + exp(value / 100), 6) AS exp_v, sign(floor(value) - 100)::DOUBLE AS sgn_v, " +
        "round(1e-9 + value, 0) AS round_v, round(1e-9 + least(greatest(value, 50), 150), 6) AS clamp_v " +
        "FROM gdf ORDER BY name, t")),
    Q("tr_trig", (s, dir) =>
      trCols(s, dir, rounded(r6,
        "sin_v" -> s"sin($ALL)",
        "cos_v" -> s"cos($ALL)",
        "atan_v" -> s"atan($ALL)",
        "asin_v" -> s"asin($ALL % 1)",
        "acos_v" -> s"acos($ALL % 1)",
        "deg_v" -> s"deg($ALL)",
        "rad_v" -> s"rad($ALL)",
        "sinh_v" -> s"sinh($ALL / 500)"): _*),
      Some(s"$GH SELECT name, t, round(1e-9 + sin(value), 6) AS sin_v, round(1e-9 + cos(value), 6) AS cos_v, " +
        "round(1e-9 + atan(value), 6) AS atan_v, round(1e-9 + asin(value % 1.0), 6) AS asin_v, " +
        "round(1e-9 + acos(value % 1.0), 6) AS acos_v, round(1e-9 + degrees(value), 6) AS deg_v, " +
        "round(1e-9 + radians(value), 6) AS rad_v, " +
        "round(1e-9 + (exp(value / 500) - exp(-value / 500)) / 2, 6) AS sinh_v " +
        "FROM gdf ORDER BY name, t")),
    // the calendar of each sample's timestamp, 0 = Sunday for day_of_week
    Q("tr_datetime", (s, dir) =>
      trCols(s, dir, Seq("dom_v" -> "day_of_month", "dow_v" -> "day_of_week",
        "doy_v" -> "day_of_year", "dim_v" -> "days_in_month", "hour_v" -> "hour",
        "month_v" -> "month", "year_v" -> "year")
        .map { case (as, fn) => (as, s"$fn(timestamp($ALL))", asIs) }: _*),
      Some(s"$GH SELECT name, t, day(make_timestamp(t * 1000))::DOUBLE AS dom_v, " +
        "dayofweek(make_timestamp(t * 1000))::DOUBLE AS dow_v, " +
        "dayofyear(make_timestamp(t * 1000))::DOUBLE AS doy_v, " +
        "day(last_day(make_timestamp(t * 1000)))::DOUBLE AS dim_v, " +
        "hour(make_timestamp(t * 1000))::DOUBLE AS hour_v, " +
        "month(make_timestamp(t * 1000))::DOUBLE AS month_v, " +
        "year(make_timestamp(t * 1000))::DOUBLE AS year_v " +
        "FROM gdf ORDER BY name, t")),
    Q("tr_bitmap", (s, dir) =>
      trCols(s, dir, rounded(asIs,
        "and_v" -> s"bitmap_and($ALL, 255)",
        "or_v" -> s"bitmap_or($ALL, 255)",
        "xor_v" -> s"bitmap_xor($ALL, 255)"): _*),
      Some(s"$GH SELECT name, t, (floor(value)::BIGINT & 255)::DOUBLE AS and_v, " +
        "(floor(value)::BIGINT | 255)::DOUBLE AS or_v, " +
        "xor(floor(value)::BIGINT, 255)::DOUBLE AS xor_v FROM gdf ORDER BY name, t")),
    // running_*: every grid point from a series' first sample on carries
    // the aggregate of the samples so far, across gaps (transform.go:1325;
    // exec_test.go running_sum(time()/1e3 > 1.2 < 1.8) = n,n,1.4,3,3,3)
    Q("tr_running_sum", (s, dir) => trOut(trEng(s, dir, s"running_sum($ALL)")),
      Some(runningSql("sum(v)"))),
    // running/derived averages round to 4: the 6th decimal can sit on a
    // half-ulp boundary that engine summation order flips
    Q("tr_running_avg", (s, dir) =>
      trEng(s, dir, s"running_avg($ALL)")
        .select(col("name"), col("t"), r4(col("value")).as("value")).orderBy("name", "t"),
      Some(s"$runningAvgCtes SELECT name, t, round(1e-9 + a, 4) AS value FROM r ORDER BY name, t")),
    Q("tr_running_min", (s, dir) => trOut(trEng(s, dir, s"running_min($ALL)")),
      Some(runningSql("min(v)"))),
    Q("tr_running_max", (s, dir) => trOut(trEng(s, dir, s"running_max($ALL)")),
      Some(runningSql("max(v)"))),
    // range_*: the whole-series statistic at every grid point
    // (transform.go:1353 setLastValues); range_avg is the last value of
    // running_avg's positional recurrence (transform.go:1352)
    Q("tr_range_stats", (s, dir) =>
      trCols(s, dir, rounded(r6,
        "range_avg" -> s"range_avg($ALL)",
        "range_sum" -> s"range_sum($ALL)",
        "range_min" -> s"range_min($ALL)",
        "range_max" -> s"range_max($ALL)"): _*),
      Some(s"$runningAvgCtes, ra AS (SELECT name, arg_max(a, pos) AS a FROM r GROUP BY name) " +
        "SELECT d.name AS name, t, round(1e-9 + ra.a, 6) AS range_avg, " +
        "round(1e-9 + sum(v) OVER w, 6) AS range_sum, round(1e-9 + min(v) OVER w, 6) AS range_min, " +
        "round(1e-9 + max(v) OVER w, 6) AS range_max FROM d JOIN ra ON d.name = ra.name " +
        "WINDOW w AS (PARTITION BY d.name) ORDER BY name, t")),
    Q("tr_range_first_last", (s, dir) =>
      trCols(s, dir, rounded(r6,
        "first_v" -> s"range_first($ALL)",
        "last_v" -> s"range_last($ALL)"): _*),
      Some(s"$GHD SELECT name, t, round(1e-9 + first_value(v IGNORE NULLS) OVER $WW, 6) AS first_v, " +
        s"round(1e-9 + last_value(v IGNORE NULLS) OVER $WW, 6) AS last_v FROM d ORDER BY name, t")),
    Q("tr_range_normalize", (s, dir) => trOut(trEng(s, dir, s"range_normalize($ALL)")),
      Some(s"$GH SELECT name, t, round(1e-9 + CASE WHEN max(value) OVER $WW > min(value) OVER $WW THEN " +
        s"(value - min(value) OVER $WW) / (max(value) OVER $WW - min(value) OVER $WW) END, 6) AS value " +
        "FROM gdf ORDER BY name, t")),
    Q("tr_range_zscore", (s, dir) => trOut(trEng(s, dir, s"range_zscore($ALL)")),
      Some(s"$GH SELECT name, t, round(1e-9 + CASE WHEN stddev_pop(value) OVER $WW > 0 THEN " +
        s"(value - avg(value) OVER $WW) / stddev_pop(value) OVER $WW END, 6) AS value " +
        "FROM gdf ORDER BY name, t")),
    // range_* whole-series statistics carry to EVERY grid point, gaps
    // and leading points included (transform.go:1353 setLastValues;
    // exec_test.go range_quantile(0.5, time() > 1200 < 2000) = 1600 ×6)
    Q("tr_range_quantile", (s, dir) => trOut(trEng(s, dir, s"range_quantile(0.75, $ALL)")),
      Some(s"$GHD SELECT name, t, round(1e-9 + quantile_cont(v, 0.75) OVER (PARTITION BY name), 6) AS value " +
        "FROM d ORDER BY name, t")),
    // the trend line over the samples, x centered on the first sample,
    // evaluated at every grid point (Eval's range_linear_regression,
    // transform.go:1530)
    Q("tr_range_linreg", (s, dir) => trOut(trEng(s, dir, s"range_linear_regression($ALL)")),
      Some(s"$GHD, gx AS (SELECT name, t, v, " +
        "(t - min(CASE WHEN v IS NOT NULL THEN t END) OVER (PARTITION BY name)) / 1000.0 AS x FROM d) " +
        "SELECT name, t, round(1e-9 + regr_intercept(v, x) OVER w + regr_slope(v, x) OVER w * x, 6) AS value " +
        "FROM gx WINDOW w AS (PARTITION BY name) ORDER BY name, t")),
    // a drop by less than 1/8 of the previous value is a partial reset
    // that adds nothing (rollup.go:921 removeCounterResets; exec_test.go
    // remove_resets(sum) = 1200,1440,1680,1680,1880,2080)
    Q("tr_remove_resets", (s, dir) => trOut(trEng(s, dir, s"remove_resets($ALL)")),
      Some(s"$GH, d AS (SELECT name, t, value, lag(value) OVER (PARTITION BY name ORDER BY t) AS pv FROM gdf), " +
        "c AS (SELECT name, t, CASE WHEN pv IS NULL THEN value WHEN value >= pv THEN value - pv " +
        "WHEN (pv - value) * 8 < pv THEN 0 ELSE value END AS dv FROM d) " +
        s"SELECT name, t, round(1e-9 + sum(dv) OVER $WR, 6) AS value FROM c ORDER BY name, t")),
    // points before a series' first sample stay absent
    // (exec_test.go keep_last_value() = 1000,1200,1200,1200,1800,2000)
    Q("tr_keep_last_value", (s, dir) => trOut(trEng(s, dir, s"keep_last_value($ALL)")),
      Some(s"$GHD, k AS (SELECT name, t, round(1e-9 + last_value(v IGNORE NULLS) OVER $WR, 6) AS value FROM d) " +
        "SELECT name, t, value FROM k WHERE value IS NOT NULL ORDER BY name, t")),
    // interior gaps only: points before the first and after the last
    // sample stay absent (transform.go:1278; exec_test.go interpolate(tail)
    // = 1000,1200,n,n,n,n and interpolate(head) = n,n,n,1600,1800,2000)
    Q("tr_interpolate", (s, dir) => trOut(trEng(s, dir, s"interpolate($ALL)")),
      Some(s"$GHD, " +
        "e AS (SELECT name, t, v, " +
        "last_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS) OVER wb AS pt, " +
        "last_value(v IGNORE NULLS) OVER wb AS pvv, " +
        "first_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS) OVER wf AS nt, " +
        "first_value(v IGNORE NULLS) OVER wf AS nv FROM d " +
        "WINDOW wb AS (PARTITION BY name ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), " +
        "wf AS (PARTITION BY name ORDER BY t ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)), " +
        "i AS (SELECT name, t, round(1e-9 + CASE WHEN v IS NOT NULL THEN v " +
        "WHEN pvv IS NOT NULL AND nv IS NOT NULL THEN pvv + (nv - pvv) * (t - pt) / (nt - pt) END, 6) AS value " +
        "FROM e) SELECT name, t, value FROM i WHERE value IS NOT NULL ORDER BY name, t")),
    // a non-sorted input slices in series-key order, where user_id is a
    // label STRING (Eval's limit_offset, transform.go:2292)
    Q("tr_limit_offset", (s, dir) =>
      agEng(s, dir, s"limit_offset(3, 2, $ALL)")
        .select(col("name"), uid, col("t"), col("value"))
        .orderBy("name", "user_id", "t"),
      Some(s"$GD, w AS (SELECT DISTINCT name, user_id FROM gdf ORDER BY name, user_id::VARCHAR LIMIT 3 OFFSET 2) " +
        "SELECT gdf.name AS name, gdf.user_id AS user_id, t, value FROM gdf " +
        "JOIN w USING (name, user_id) ORDER BY name, user_id, t")),
    // label functions over the raw samples (§2.3 label family); the daily
    // grid with a one-day lookback reads every event
    Q("tr_series_key", (s, dir) => {
      val kv = transform(SeriesId.entries(col("tags")),
        e => concat(e.getField("key"), lit("="), e.getField("value")))
      labelsOf(s, dir, s"""label_set($ALL, "env", "prod")""")
        .select(concat(col("name"), lit("{"), array_join(kv, ","), lit("}")).as("sk"))
        .distinct().orderBy("sk")
    }, Some("SELECT DISTINCT event_type || '{env=prod,user_id=' || user_id::VARCHAR || '}' AS sk " +
      "FROM events ORDER BY sk")),
    Q("tr_label_replace", (s, dir) =>
      labelsOf(s, dir, s"""label_replace($ALL, "host", "u$$1", "user_id", "(.*)")""")
        .select(col("name"), col("tags").getItem("host").as("host")).distinct()
        .orderBy("name", "host"),
      Some("SELECT DISTINCT event_type AS name, 'u' || user_id::VARCHAR AS host FROM events " +
        "ORDER BY name, host")),
    // the MAD of the samples at every grid point (transform.go:1551;
    // exec_test.go range_mad(time() > 1200 < 1800) = 100 ×6)
    Q("tr_range_mad", (s, dir) => trOut(trEng(s, dir, s"range_mad($ALL)")),
      Some(s"$GHD, m AS (SELECT name, t, v, quantile_cont(v, 0.5) OVER (PARTITION BY name) AS med FROM d), " +
        "dd AS (SELECT name, t, abs(v - med) AS dev FROM m) " +
        "SELECT name, t, round(1e-9 + quantile_cont(dev, 0.5) OVER (PARTITION BY name), 6) AS value FROM dd " +
        "ORDER BY name, t")),
    Q("tr_trim_zscore", (s, dir) => trOut(trEng(s, dir, s"range_trim_zscore(1.5, $ALL)")),
      Some(s"$GH, z AS (SELECT name, t, value, CASE WHEN stddev_pop(value) OVER $WW > 0 THEN " +
        s"abs(value - avg(value) OVER $WW) / stddev_pop(value) OVER $WW ELSE 0 END AS zs FROM gdf) " +
        "SELECT name, t, round(1e-9 + value, 6) AS value FROM z WHERE zs <= 1.5 ORDER BY name, t")),
    Q("tr_trim_outliers", (s, dir) => trOut(trEng(s, dir, s"range_trim_outliers(2.0, $ALL)")),
      Some(s"$GH, m AS (SELECT name, t, value, abs(value - quantile_cont(value, 0.5) OVER $WW) AS dev FROM gdf), " +
        s"d AS (SELECT name, t, value, dev, quantile_cont(dev, 0.5) OVER $WW AS mad FROM m) " +
        "SELECT name, t, round(1e-9 + value, 6) AS value FROM d WHERE dev <= 2.0 * mad ORDER BY name, t")),
    // phi/2 of the samples trimmed off EACH tail of the value range
    // (transform.go:1482; exec_test.go range_trim_spikes(0.2, time()) =
    // n,1200,1400,1600,1800,n)
    Q("tr_trim_spikes", (s, dir) => trOut(trEng(s, dir, s"range_trim_spikes(0.1, $ALL)")),
      Some(s"$GH, q AS (SELECT name, t, value, quantile_cont(value, 0.05) OVER $WW AS lo, " +
        s"quantile_cont(value, 0.95) OVER $WW AS hi FROM gdf) " +
        "SELECT name, t, round(1e-9 + value, 6) AS value FROM q WHERE value >= lo AND value <= hi " +
        "ORDER BY name, t")),
    Q("tr_timezone_offset", (s, dir) => {
      val g = gHavg(s, dir)
      def offset(tz: String, as: String): DataFrame =
        engOn(g, s"""timezone_offset("$tz")""", gridH).select(col("t"), col("value").as(as))
      g.select(col("name"), col("t"))
        .join(offset("Europe/Berlin", "berlin"), "t")
        .join(offset("America/New_York", "ny"), "t")
        .select(col("name"), col("t"), col("berlin"), col("ny"))
        .orderBy("name", "t")
    },
      Some(s"$GH SELECT name, t, " +
        "epoch(make_timestamp(t*1000)::TIMESTAMP) - epoch(timezone('Europe/Berlin', make_timestamp(t*1000))) AS berlin, " +
        "epoch(make_timestamp(t*1000)::TIMESTAMP) - epoch(timezone('America/New_York', make_timestamp(t*1000))) AS ny " +
        "FROM gdf ORDER BY name, t")))

  // =====================================================================
  // §2.4 aggregate functions — across series (users) per grid point
  // =====================================================================
  private val aggrQueries: Seq[Q] = Seq(
    Q("ag_basic", (s, dir) => {
      def by(fn: String): String = s"$fn($ALL) by (__name__)"
      agCols(s, dir,
        ("sum_v", by("sum"), r4),
        ("min_v", by("min"), r6),
        ("max_v", by("max"), r6),
        ("avg_v", by("avg"), r4),
        ("count_v", by("count"), asIs),
        ("stddev_v", by("stddev"), r4),
        ("stdvar_v", by("stdvar"), r4),
        ("sum2_v", by("sum2"), r4),
        ("geomean_v", by("geomean"), r4),
        ("distinct_v", by("distinct"), asIs),
        ("median_v", by("median"), r6),
        ("q90_v", s"quantile(0.9, $ALL) by (__name__)", r6))
    },
      Some(s"$GD SELECT name, t, round(1e-9 + sum(value), 4) AS sum_v, round(1e-9 + min(value), 6) AS min_v, " +
        "round(1e-9 + max(value), 6) AS max_v, round(1e-9 + avg(value), 4) AS avg_v, count(value)::DOUBLE AS count_v, " +
        "round(1e-9 + stddev_pop(value), 4) AS stddev_v, round(1e-9 + var_pop(value), 4) AS stdvar_v, " +
        s"round(1e-9 + sum(value*value), 4) AS sum2_v, round(1e-9 + $GEOMEAN, 4) AS geomean_v, " +
        "count(DISTINCT value)::DOUBLE AS distinct_v, round(1e-9 + quantile_cont(value, 0.5), 6) AS median_v, " +
        "round(1e-9 + quantile_cont(value, 0.9), 6) AS q90_v FROM gdf GROUP BY name, t ORDER BY name, t")),
    Q("ag_mode", (s, dir) =>
      agEng(s, dir, s"mode($ALL) by (__name__)")
        .select(col("name"), col("t"), col("value")).orderBy("name", "t"),
      Some(s"$GD, c AS (SELECT name, t, value, count(*) AS cnt FROM gdf GROUP BY name, t, value) " +
        "SELECT name, t, value FROM c " +
        "QUALIFY row_number() OVER (PARTITION BY name, t ORDER BY cnt DESC, value ASC) = 1 " +
        "ORDER BY name, t")),
    Q("ag_count_values", (s, dir) =>
      agEng(s, dir, s"""count_values("value_label", $ALL) by (__name__)""")
        .select(col("name"), col("t"),
          col("tags").getItem("value_label").cast("double").as("value_label"), col("value"))
        .orderBy("name", "t", "value_label"),
      Some(s"$GD SELECT name, t, value AS value_label, count(*)::DOUBLE AS value FROM gdf " +
        "GROUP BY name, t, value_label ORDER BY name, t, value_label")),
    Q("ag_share", (s, dir) =>
      agEng(s, dir, s"share($ALL) by (__name__)")
        .select(col("name"), uid, col("t"), r6(col("value")).as("value"))
        .orderBy("name", "user_id", "t"),
      Some(s"$GD SELECT name, user_id, t, round(1e-9 + value / sum(value) OVER (PARTITION BY name, t), 6) AS value " +
        "FROM gdf ORDER BY name, user_id, t")),
    Q("ag_zscore", (s, dir) =>
      agEng(s, dir, s"zscore($ALL) by (__name__)")
        .select(col("name"), uid, col("t"), r6(col("value")).as("value"))
        .orderBy("name", "user_id", "t"),
      Some(s"$GD SELECT name, user_id, t, round(1e-9 + CASE WHEN stddev_pop(value) OVER w > 0 THEN " +
        "(value - avg(value) OVER w) / stddev_pop(value) OVER w END, 6) AS value FROM gdf " +
        "WINDOW w AS (PARTITION BY name, t) ORDER BY name, user_id, t")),
    // rank ties break on the series key, where user_id is a label STRING
    // (the eval_topk rule)
    Q("ag_topk", (s, dir) =>
      agEng(s, dir, s"topk(3, $ALL) by (__name__)")
        .select(col("name"), uid, col("t"), col("value"))
        .orderBy("name", "user_id", "t"),
      Some(s"$GD SELECT name, user_id, t, value FROM gdf " +
        "QUALIFY row_number() OVER (PARTITION BY name, t ORDER BY value DESC, user_id::VARCHAR ASC) <= 3 " +
        "ORDER BY name, user_id, t")),
    Q("ag_bottomk", (s, dir) =>
      agEng(s, dir, s"bottomk(3, $ALL) by (__name__)")
        .select(col("name"), uid, col("t"), col("value"))
        .orderBy("name", "user_id", "t"),
      Some(s"$GD SELECT name, user_id, t, value FROM gdf " +
        "QUALIFY row_number() OVER (PARTITION BY name, t ORDER BY value ASC, user_id::VARCHAR ASC) <= 3 " +
        "ORDER BY name, user_id, t")),
    Q("ag_topk_avg", (s, dir) =>
      agEng(s, dir, s"topk_avg(3, $ALL) by (__name__)")
        .select(col("name"), uid, col("t"), col("value"))
        .orderBy("name", "user_id", "t"),
      Some(s"$GD, w AS (SELECT name, user_id FROM (SELECT name, user_id, avg(value) AS s FROM gdf GROUP BY name, user_id) " +
        "QUALIFY row_number() OVER (PARTITION BY name ORDER BY s DESC, name ASC, user_id ASC) <= 3) " +
        "SELECT gdf.name AS name, gdf.user_id AS user_id, t, value FROM gdf JOIN w USING (name, user_id) " +
        "ORDER BY name, user_id, t")),
    Q("ag_outliers_iqr", (s, dir) =>
      agEng(s, dir, s"outliers_iqr($ALL) by (__name__)")
        .select(col("name"), uid, col("t"), col("value"))
        .orderBy("name", "user_id", "t"),
      Some(s"$GD, st AS (SELECT name, user_id, quantile_cont(value, 0.5) AS med FROM gdf GROUP BY name, user_id), " +
        "f AS (SELECT name, quantile_cont(med, 0.25) AS q25, quantile_cont(med, 0.75) AS q75 FROM st GROUP BY name), " +
        "o AS (SELECT st.name, st.user_id FROM st JOIN f ON st.name = f.name " +
        "WHERE st.med < f.q25 - (f.q75 - f.q25) * 1.5 OR st.med > f.q75 + (f.q75 - f.q25) * 1.5) " +
        "SELECT gdf.name AS name, gdf.user_id AS user_id, t, value FROM gdf " +
        "JOIN o ON gdf.name = o.name AND gdf.user_id = o.user_id ORDER BY name, user_id, t")),
    Q("ag_histogram", (s, dir) =>
      agEng(s, dir, s"histogram($ALL) by (__name__)")
        .select(col("name"), col("t"), col("tags").getItem("le").as("le"), col("value"))
        .orderBy(col("name"), col("t"), HistogramQ.parseBound(col("le"))),
      Some(s"$GD, $LUT, $LUTX, ${hCorr("gdf", "name, t", "value")}, " +
        "kd AS (SELECT name, k, lag(k) OVER (PARTITION BY name ORDER BY k) AS pk " +
        "FROM (SELECT DISTINCT name, k FROM h)), " +
        "r AS (SELECT name, k, 2 * k + 1 AS ord, l1.b AS le, TRUE AS isreal FROM kd JOIN lut l1 ON l1.i = kd.k + 1 " +
        "UNION ALL SELECT name, k, 2 * k, l0.b, FALSE " +
        s"FROM kd JOIN lut l0 ON l0.i = kd.k WHERE $GAP " +
        "UNION ALL SELECT DISTINCT name, NULL, 2000000000, '+Inf', FALSE FROM kd), " +
        "gt AS (SELECT DISTINCT name, t FROM h) " +
        "SELECT gt.name AS name, gt.t AS t, r.le AS le, " +
        "sum(CASE WHEN r.isreal THEN coalesce(h.c, 0) ELSE 0 END) " +
        "OVER (PARTITION BY gt.name, gt.t ORDER BY r.ord ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value " +
        "FROM gt JOIN r ON gt.name = r.name " +
        "LEFT JOIN h ON h.name = gt.name AND h.t = gt.t AND h.k = r.k AND r.isreal " +
        "ORDER BY name, t, ord")),
    // limitk is hash-ordered (aggr.go:1108) — hash differs from DuckDB's,
    // so it gets the weaker rows-only check
    // limitk's KEEP SET is hash-seeded (arbitrary k series per group, the
    // reference contract), so the rows aren't SQL-replayable — but the
    // cardinality law is: exactly least(k, |group|) series survive per
    // group, each carried COMPLETE (row count + value sum untouched).
    Q("ag_limitk", (s, dir) => {
      val in = gDavg(s, dir)
      val out = engOn(in, s"limitk(5, $ALL) by (__name__)", gridD)
        .select(col("name"), uid, col("t"), col("value"))
      val inS = in.groupBy("name", "user_id")
        .agg(count(lit(1)).as("n_in"), sum("value").as("s_in"))
      val outS = out.groupBy("name", "user_id")
        .agg(count(lit(1)).as("n_out"), sum("value").as("s_out"))
      outS.join(inS, Seq("name", "user_id"))
        .groupBy("name")
        .agg(count(lit(1)).as("n_series"),
          // RELATIVE sum tolerance: the two sums run through different
          // physical plans, so float reassociation drift grows with the
          // series' row count — an absolute 1e-9 would flake at larger SFs
          max(when(col("n_out") =!= col("n_in") ||
            abs(col("s_out") - col("s_in")) >
              abs(col("s_in")) * 1e-9 + 1e-6, 1).otherwise(0)).as("_bad"))
        .select(col("name"), col("n_series"),
          (col("_bad") === 0).cast("bigint").as("series_complete"))
        .orderBy("name")
    }, Some(s"$GD SELECT name, least(5, count(DISTINCT user_id)) AS n_series, " +
      "1::BIGINT AS series_complete FROM gdf GROUP BY name ORDER BY name")),
    Q("ag_mad", (s, dir) =>
      agEng(s, dir, s"mad($ALL) by (__name__)")
        .select(col("name"), col("t"), r6(col("value")).as("value"))
        .orderBy("name", "t"),
      Some(s"$GD, m AS (SELECT name, t, abs(value - quantile_cont(value, 0.5) OVER " +
        "(PARTITION BY name, t)) AS dev FROM gdf) " +
        "SELECT name, t, round(1e-9 + quantile_cont(dev, 0.5), 6) AS value FROM m " +
        "GROUP BY name, t ORDER BY name, t")),
    Q("ag_outliers_mad", (s, dir) =>
      agEng(s, dir, s"outliers_mad(1.0, $ALL) by (__name__)")
        .select(col("name"), uid, col("t"), col("value"))
        .orderBy("name", "user_id", "t"),
      Some(s"$GD, st AS (SELECT name, user_id, quantile_cont(value, 0.5) AS med FROM gdf GROUP BY name, user_id), " +
        "g AS (SELECT name, quantile_cont(med, 0.5) AS gmed FROM st GROUP BY name), " +
        "d AS (SELECT st.name, st.user_id, abs(med - gmed) AS dev FROM st JOIN g ON st.name = g.name), " +
        "md AS (SELECT name, quantile_cont(dev, 0.5) AS mad FROM d GROUP BY name), " +
        "o AS (SELECT d.name, d.user_id FROM d JOIN md ON d.name = md.name WHERE d.dev > 1.0 * md.mad) " +
        "SELECT gdf.name AS name, gdf.user_id AS user_id, t, value FROM gdf " +
        "JOIN o ON gdf.name = o.name AND gdf.user_id = o.user_id ORDER BY name, user_id, t")),
    Q("ag_outliersk", (s, dir) =>
      agEng(s, dir, s"outliersk(2, $ALL) by (__name__)")
        .select(col("name"), uid, col("t"), col("value"))
        .orderBy("name", "user_id", "t"),
      Some(s"$GD, gm AS (SELECT name, t, quantile_cont(value, 0.5) AS gmed FROM gdf GROUP BY name, t), " +
        "dv AS (SELECT gdf.name, gdf.user_id, max(abs(value - gmed)) AS dev FROM gdf " +
        "JOIN gm ON gdf.name = gm.name AND gdf.t = gm.t GROUP BY gdf.name, gdf.user_id), " +
        "w AS (SELECT name, user_id FROM dv " +
        "QUALIFY row_number() OVER (PARTITION BY name ORDER BY dev DESC, name ASC, user_id ASC) <= 2) " +
        "SELECT gdf.name AS name, gdf.user_id AS user_id, t, value FROM gdf " +
        "JOIN w USING (name, user_id) ORDER BY name, user_id, t")),
    // one whole series per group, the first in series-key order, where
    // user_id is a label STRING (aggr.go aggrFuncAny keeps tss[:1])
    Q("ag_any", (s, dir) =>
      agEng(s, dir, s"any($ALL) by (__name__)")
        .select(col("name"), col("t"), col("value")).orderBy("name", "t"),
      Some(s"$GD, w AS (SELECT name, min(user_id::VARCHAR) AS u FROM gdf GROUP BY name) " +
        "SELECT gdf.name AS name, t, value FROM gdf JOIN w ON gdf.name = w.name AND gdf.user_id::VARCHAR = w.u " +
        "ORDER BY name, t")),
    Q("ag_group", (s, dir) =>
      agEng(s, dir, s"group($ALL) by (__name__)")
        .select(col("name"), col("t"), col("value")).orderBy("name", "t"),
      Some(s"$GD SELECT DISTINCT name, t, 1.0 AS value FROM gdf ORDER BY name, t")),
    Q("ag_quantiles", (s, dir) =>
      agEng(s, dir, s"""quantiles("phi", 0.25, 0.9, $ALL) by (__name__)""")
        .select(col("name"), col("t"), col("tags").getItem("phi").as("phi"), r6(col("value")).as("value"))
        .orderBy("name", "t", "phi"),
      Some(s"$GD, w AS (SELECT name, t, quantile_cont(value, 0.25) AS q25, " +
        "quantile_cont(value, 0.9) AS q9 FROM gdf GROUP BY name, t) " +
        "SELECT name, t, phi, round(1e-9 + v, 6) AS value FROM (" +
        "SELECT name, t, '0.25' AS phi, q25 AS v FROM w UNION ALL " +
        "SELECT name, t, '0.9', q9 FROM w) ORDER BY name, t, phi")))

  // =====================================================================
  // §2.5 binary operators — vector matching between purchase and click
  // =====================================================================
  /** `purchase <op> click` per column over the hourly grid, joined on t */
  private def binCols(s: SparkSession, dir: String, ops: (String, String)*)(
      out: Column => Column): DataFrame = {
    val g = gHavg(s, dir)
    ops.map { case (as, q) => engOn(g, q, gridH).select(col("t"), out(col("value")).as(as)) }
      .reduce(_.join(_, "t"))
  }

  /** `q` over the daily per-user grid → (user_id, t, value) */
  private def binD(s: SparkSession, dir: String, q: String): DataFrame =
    agEng(s, dir, q).select(uid, col("t"), col("value"))

  private val AB =
    s"$GH, a AS (SELECT t, value AS lv FROM gdf WHERE name = 'purchase'), " +
      "bb AS (SELECT t, value AS rv FROM gdf WHERE name = 'click')"
  private val ABD =
    s"$GD, a AS (SELECT user_id, t, value AS lv FROM gdf WHERE name = 'purchase'), " +
      "bb AS (SELECT user_id, t, value AS rv FROM gdf WHERE name = 'click')"

  private val binopQueries: Seq[Q] = Seq(
    Q("bi_arith", (s, dir) =>
      binCols(s, dir,
        "add_v" -> "purchase + click",
        "sub_v" -> "purchase - click",
        "mul_v" -> "purchase * click",
        "div_v" -> "purchase / click",
        "mod_v" -> "purchase % click",
        "pow_v" -> "(purchase / 100) ^ (click / 100)",
        "atan2_v" -> "purchase atan2 click")(r4).orderBy("t"),
      Some(s"$AB SELECT t, round(1e-9 + lv + rv, 4) AS add_v, round(1e-9 + lv - rv, 4) AS sub_v, " +
      "round(1e-9 + lv * rv, 4) AS mul_v, round(1e-9 + lv / rv, 4) AS div_v, round(1e-9 + fmod(lv, rv), 4) AS mod_v, " +
      "round(1e-9 + pow(lv / 100, rv / 100), 4) AS pow_v, round(1e-9 + atan2(lv, rv), 4) AS atan2_v " +
      "FROM a JOIN bb USING (t) ORDER BY t")),
    Q("bi_cmp_filter", (s, dir) =>
      trEng(s, dir, "purchase > click").select(col("t"), col("value")).orderBy("t"),
      Some(s"$AB SELECT t, lv AS value FROM a JOIN bb USING (t) WHERE lv > rv ORDER BY t")),
    Q("bi_cmp_bool", (s, dir) =>
      binCols(s, dir,
        "eq_v" -> "purchase == bool click",
        "ne_v" -> "purchase != bool click",
        "gt_v" -> "purchase > bool click",
        "lt_v" -> "purchase < bool click",
        "ge_v" -> "purchase >= bool click",
        "le_v" -> "purchase <= bool click")(identity).orderBy("t"),
      Some(s"$AB SELECT t, (lv = rv)::INT::DOUBLE AS eq_v, (lv != rv)::INT::DOUBLE AS ne_v, " +
      "(lv > rv)::INT::DOUBLE AS gt_v, (lv < rv)::INT::DOUBLE AS lt_v, " +
      "(lv >= rv)::INT::DOUBLE AS ge_v, (lv <= rv)::INT::DOUBLE AS le_v " +
      "FROM a JOIN bb USING (t) ORDER BY t")),
    Q("bi_and", (s, dir) =>
      binD(s, dir, "purchase and on(user_id) click").orderBy("user_id", "t"),
      Some(s"$ABD SELECT user_id, t, lv AS value FROM a " +
        "WHERE EXISTS (SELECT 1 FROM bb WHERE bb.user_id = a.user_id AND bb.t = a.t) " +
        "ORDER BY user_id, t")),
    Q("bi_unless", (s, dir) =>
      binD(s, dir, "purchase unless on(user_id) click").orderBy("user_id", "t"),
      Some(s"$ABD SELECT user_id, t, lv AS value FROM a " +
        "WHERE NOT EXISTS (SELECT 1 FROM bb WHERE bb.user_id = a.user_id AND bb.t = a.t) " +
        "ORDER BY user_id, t")),
    Q("bi_or", (s, dir) =>
      binD(s, dir, "purchase or on(user_id) click").orderBy("user_id", "t"),
      Some(s"$ABD SELECT user_id, t, lv AS value FROM a " +
        "UNION ALL SELECT user_id, t, rv AS value FROM bb " +
        "WHERE NOT EXISTS (SELECT 1 FROM a WHERE a.user_id = bb.user_id AND a.t = bb.t) " +
        "ORDER BY user_id, t")),
    Q("bi_default", (s, dir) =>
      binD(s, dir, "purchase default on(user_id) click").orderBy("user_id", "t"),
      Some(s"$ABD SELECT coalesce(a.user_id, bb.user_id) AS user_id, coalesce(a.t, bb.t) AS t, " +
        "coalesce(lv, rv) AS value FROM a FULL OUTER JOIN bb ON a.user_id = bb.user_id AND a.t = bb.t " +
        "ORDER BY user_id, t")),
    // the per-point total rides the samples as its own rounded series
    Q("bi_group_left", (s, dir) => {
      val perUser = gDavg(s, dir).filter(col("name") === "purchase")
      val totals = perUser.groupBy("t").agg(r6(sum("value")).as("value"))
        .select(lit("purchase_total").as("name"), col("t"), col("value"))
      val samples = perUser.select(col("name"),
          map(lit("user_id"), col("user_id").cast("string")).as("tags"), col("t").as("ts"), col("value"))
        .unionByName(totals.select(col("name"), map().cast("map<string,string>").as("tags"),
          col("t").as("ts"), col("value")))
      Engine.query(samples, "purchase / on() group_left purchase_total", gridD, gridD.stepMs)
        .select(uid, col("t"), r6(col("value")).as("value")).orderBy("user_id", "t")
    }, Some(s"$GD, a AS (SELECT user_id, t, value AS lv FROM gdf WHERE name = 'purchase'), " +
      "tot AS (SELECT t, round(1e-9 + sum(value), 6) AS rv FROM gdf WHERE name = 'purchase' GROUP BY t) " +
      "SELECT user_id, t, round(1e-9 + lv / rv, 6) AS value FROM a JOIN tot USING (t) ORDER BY user_id, t")),
    Q("bi_fill", (s, dir) =>
      binD(s, dir, "purchase + on(user_id) fill(0) click")
        .select(col("user_id"), col("t"), r6(col("value")).as("value")).orderBy("user_id", "t"),
      Some(s"$ABD SELECT coalesce(a.user_id, bb.user_id) AS user_id, coalesce(a.t, bb.t) AS t, " +
        "round(1e-9 + coalesce(lv, 0) + coalesce(rv, 0), 6) AS value FROM a FULL OUTER JOIN bb " +
        "ON a.user_id = bb.user_id AND a.t = bb.t ORDER BY user_id, t")),
    // `==` against a union list keeps the points equal to one of its
    // elements (binary_op.go:58-113)
    Q("bi_in", (s, dir) =>
      trEng(s, dir, "purchase and (floor(purchase) % 10 == (1, 2, 3))")
        .select(col("t"), col("value")).orderBy("t"),
      Some(s"$GH SELECT t, value FROM gdf WHERE name = 'purchase' " +
        "AND (floor(value)::BIGINT % 10) IN (1, 2, 3) ORDER BY t")))

  // =====================================================================
  // §2.3 histogram family — buckets are families of series with an `le`
  // label (SURVEY §1.1); quantile = Prometheus bucket interpolation
  // =====================================================================
  /** cumulative le-buckets from events: vmrange ranges → le conversion
    * (= prometheus_buckets); le re-parsed to double for the walk kernels
    */
  private def buckets(s: SparkSession, dir: String): DataFrame =
    HistogramQ.vmrangeToLE(
      Rollup.histogramOverTime(ev(s, dir), Seq("name"), gridH, H), Seq("name"))
      .withColumn("le", HistogramQ.parseBound(col("le")))

  /** Shared oracle CTE mirroring the engine's vmrangeBucketsToLE pipeline:
    * ceil−1 bucket assignment (exact bounds belong to the lower bucket),
    * bounds taken from the JVM-pinned [[LUT]] so both engines hash the SAME
    * parsed decimals (no libm-dependent pow in the compared values),
    * group-level boundary zero-buckets at run starts, and a trailing +Inf
    * bucket. `j` exposes (name, t, le, cum, plo, pc, total) like before.
    */
  private val HB =
    s"WITH b AS ($BH), $LUT, $LUTX, ${hCorr("b", "name, t", "value")}, " +
      "kd AS (SELECT name, k, lag(k) OVER (PARTITION BY name ORDER BY k) AS pk " +
      "FROM (SELECT DISTINCT name, k FROM h)), " +
      "r AS (SELECT name, k, 2 * k + 1 AS ord, " +
      "CAST(l1.b AS DOUBLE) AS le, TRUE AS isreal FROM kd JOIN lut l1 ON l1.i = kd.k + 1 " +
      "UNION ALL SELECT name, k, 2 * k, CAST(l0.b AS DOUBLE), FALSE " +
      s"FROM kd JOIN lut l0 ON l0.i = kd.k WHERE $GAP " +
      "UNION ALL SELECT DISTINCT name, NULL, 2000000000, 'infinity'::DOUBLE, FALSE FROM kd), " +
      "gt AS (SELECT DISTINCT name, t FROM h), " +
      "cb AS (SELECT gt.name AS name, gt.t AS t, r.ord AS ord, r.le AS le, " +
      "sum(CASE WHEN r.isreal THEN coalesce(h.c, 0) ELSE 0 END) " +
      "OVER (PARTITION BY gt.name, gt.t ORDER BY r.ord ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum " +
      "FROM gt JOIN r ON gt.name = r.name " +
      "LEFT JOIN h ON h.name = gt.name AND h.t = gt.t AND h.k = r.k AND r.isreal), " +
      "tot AS (SELECT name, t, max(cum) AS total FROM cb GROUP BY name, t), " +
      "j AS (SELECT cb.name AS name, cb.t AS t, le, cum, " +
      "coalesce(lag(le) OVER (PARTITION BY cb.name, cb.t ORDER BY ord), 0) AS plo, " +
      "coalesce(lag(cum) OVER (PARTITION BY cb.name, cb.t ORDER BY ord), 0) AS pc, total " +
      "FROM cb JOIN tot ON cb.name = tot.name AND cb.t = tot.t)"

  /** eval-gate variant of [[HB]]: histogram of per-user click averages,
    * one bucket family per t (single group — histogram() with no
    * modifier), same environment-proof le derivation. Expects a CTE `b`
    * (the hourly base) to be in scope; exposes `j` (t, le, cum, plo, pc,
    * total).
    */
  private val HQCTES =
    s"$LUT, $LUTX, a AS (SELECT user_id, t, round(avg(value) / 0.000000001) * 0.000000001 AS v " +
      "FROM b WHERE name = 'click' GROUP BY user_id, t), " +
      s"${hCorr("a", "t", "v")}, " +
      "kd AS (SELECT k, lag(k) OVER (ORDER BY k) AS pk FROM (SELECT DISTINCT k FROM h)), " +
      "r AS (SELECT k, 2 * k + 1 AS ord, CAST(l1.b AS DOUBLE) AS le, TRUE AS isreal FROM kd JOIN lut l1 ON l1.i = kd.k + 1 " +
      s"UNION ALL SELECT k, 2 * k, CAST(l0.b AS DOUBLE), FALSE FROM kd JOIN lut l0 ON l0.i = kd.k WHERE $GAP " +
      "UNION ALL SELECT NULL, 2000000000, 'infinity'::DOUBLE, FALSE FROM (SELECT DISTINCT 1 FROM kd)), " +
      "gt AS (SELECT DISTINCT t FROM h), " +
      "cb AS (SELECT gt.t AS t, r.ord AS ord, r.le AS le, " +
      "sum(CASE WHEN r.isreal THEN coalesce(h.c, 0) ELSE 0 END) " +
      "OVER (PARTITION BY gt.t ORDER BY r.ord ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum " +
      "FROM gt CROSS JOIN r LEFT JOIN h ON h.t = gt.t AND h.k = r.k AND r.isreal), " +
      "tot AS (SELECT t, max(cum) AS total FROM cb GROUP BY t), " +
      "j AS (SELECT cb.t AS t, le, cum, " +
      "coalesce(lag(le) OVER (PARTITION BY cb.t ORDER BY ord), 0) AS plo, " +
      "coalesce(lag(cum) OVER (PARTITION BY cb.t ORDER BY ord), 0) AS pc, total " +
      "FROM cb JOIN tot ON cb.t = tot.t)"

  private val histoQueries: Seq[Q] = Seq(
    Q("h_quantile", (s, dir) =>
      HistogramQ.quantile(buckets(s, dir), Seq("name"), 0.95)
        .select(col("name"), col("t"), r6(col("value")).as("value"))
        .orderBy("name", "t"),
      Some(s"$HB SELECT name, t, round(1e-9 + plo + (le - plo) * " +
        "CASE WHEN cum > pc THEN (0.95 * total - pc) / (cum - pc) ELSE 0 END, 6) AS value " +
        "FROM j WHERE cum >= 0.95 * total AND pc < 0.95 * total ORDER BY name, t")),
    Q("h_share", (s, dir) =>
      HistogramQ.share(buckets(s, dir), Seq("name"), 100.0)
        .select(col("name"), col("t"), r6(col("value")).as("value"))
        .orderBy("name", "t"),
      Some(s"$HB, q AS (SELECT name, t, pc + (cum - pc) * " +
        "least(CASE WHEN le > plo THEN (100.0 - plo) / (le - plo) ELSE 1 END, 1) AS cAt " +
        "FROM j WHERE le >= 100.0 AND plo < 100.0) " +
        "SELECT tot.name AS name, tot.t AS t, round(1e-9 + coalesce(q.cAt, tot.total) / tot.total, 6) AS value " +
        "FROM tot LEFT JOIN q ON tot.name = q.name AND tot.t = q.t ORDER BY name, t")),
    Q("h_avg", (s, dir) =>
      HistogramQ.histAvg(buckets(s, dir), Seq("name"))
        .select(col("name"), col("t"), r6(col("value")).as("value"))
        .orderBy("name", "t"),
      Some(s"$HB SELECT name, t, round(1e-9 + sum(CASE WHEN cum > pc THEN (le + plo) / 2 * (cum - pc) ELSE 0 END) / sum(cum - pc), 6) AS value " +
        "FROM j GROUP BY name, t ORDER BY name, t")),
    Q("h_quantiles", (s, dir) =>
      HistogramQ.histQuantiles(buckets(s, dir), Seq("name"), Seq(0.5, 0.95))
        .select(col("name"), col("t"), col("phi"), r6(col("value")).as("value"))
        .orderBy("name", "t", "phi"),
      Some {
        def q(phi: String) =
          s"SELECT name, t, '$phi' AS phi, plo + (le - plo) * " +
            s"CASE WHEN cum > pc THEN ($phi * total - pc) / (cum - pc) ELSE 0 END AS v " +
            s"FROM j WHERE cum >= $phi * total AND pc < $phi * total"
        s"$HB SELECT name, t, phi, round(1e-9 + v, 6) AS value FROM (${q("0.5")} UNION ALL ${q("0.95")}) " +
          "ORDER BY name, t, phi"
      }),
    Q("h_stddev", (s, dir) =>
      HistogramQ.histStddev(buckets(s, dir), Seq("name"))
        .select(col("name"), col("t"), r4(col("value")).as("value"))
        .orderBy("name", "t"),
      Some(s"$HB, mm AS (SELECT name, t, sum(CASE WHEN cum > pc THEN (le + plo) / 2 * (cum - pc) ELSE 0 END) / sum(cum - pc) AS m1, " +
        "sum(CASE WHEN cum > pc THEN (le + plo) / 2 * (le + plo) / 2 * (cum - pc) ELSE 0 END) / sum(cum - pc) AS m2 " +
        "FROM j GROUP BY name, t) " +
        "SELECT name, t, round(1e-9 + sqrt(greatest(m2 - m1 * m1, 0)), 4) AS value FROM mm " +
        "ORDER BY name, t")),
    Q("h_stdvar", (s, dir) =>
      HistogramQ.histStdvar(buckets(s, dir), Seq("name"))
        .select(col("name"), col("t"), r4(col("value")).as("value"))
        .orderBy("name", "t"),
      Some(s"$HB, mm AS (SELECT name, t, sum(CASE WHEN cum > pc THEN (le + plo) / 2 * (cum - pc) ELSE 0 END) / sum(cum - pc) AS m1, " +
        "sum(CASE WHEN cum > pc THEN (le + plo) / 2 * (le + plo) / 2 * (cum - pc) ELSE 0 END) / sum(cum - pc) AS m2 " +
        "FROM j GROUP BY name, t) " +
        "SELECT name, t, round(1e-9 + m2 - m1 * m1, 4) AS value FROM mm ORDER BY name, t")))

  // =====================================================================
  // §2.9 metadata APIs — series/labels/cardinality
  // =====================================================================
  private val metaQueries: Seq[Q] = Seq(
    // /api/v1/series: distinct series matching filters in a time range
    Q("meta_series", (s, dir) =>
      ev(s, dir)
        .filter(col("name").rlike("^(click|view)$") &&
          col("ts") > lit(START) && col("ts") <= lit(START + 15 * D))
        .select("name", "user_id").distinct().orderBy("name", "user_id"),
      Some("SELECT DISTINCT event_type AS name, user_id FROM events " +
        "WHERE regexp_matches(event_type, '^(click|view)$') " +
        s"AND epoch_ms(ts::TIMESTAMP) > $START AND epoch_ms(ts::TIMESTAMP) <= ${START + 15 * D} " +
        "ORDER BY name, user_id")),
    // /api/v1/label/<n>/values
    Q("meta_label_values", (s, dir) =>
      ev(s, dir).filter(col("name") === "error").select("user_id").distinct().orderBy("user_id"),
      Some("SELECT DISTINCT user_id FROM events WHERE event_type = 'error' ORDER BY user_id")),
    // /api/v1/series/count
    Q("meta_series_count", (s, dir) =>
      ev(s, dir).agg(countDistinct(col("name"), col("user_id")).as("cnt")),
      Some("SELECT count(DISTINCT (event_type, user_id)) AS cnt FROM events")),
    // /api/v1/status/tsdb: per-name series cardinality, descending
    Q("meta_tsdb_status", (s, dir) =>
      ev(s, dir).groupBy("name").agg(countDistinct(col("user_id")).as("series_count"))
        .orderBy(col("series_count").desc, col("name")),
      Some("SELECT event_type AS name, count(DISTINCT user_id) AS series_count FROM events " +
        "GROUP BY name ORDER BY series_count DESC, name")))

  // =====================================================================
  // training-data pipeline ops over documents/embeddings
  // =====================================================================
  private def docs(s: SparkSession, dir: String): DataFrame = Samples.table(s, dir, "documents")
  private def embs(s: SparkSession, dir: String): DataFrame = Samples.table(s, dir, "embeddings")

  private val SQL_TOKS = """string_split_regex(trim(text), '\s+')"""
  private val SQL_LTOKS = """string_split_regex(lower(trim(text)), '\s+')"""

  private val pipelineQueries: Seq[Q] = Seq(
    Q("doc_tokens", (s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        graft.pipeline.TextAnalysis.tokenCount(col("text")).as("n_ws"),
        graft.pipeline.TextAnalysis.bpeTokens(col("text")).as("n_bpe"))
        .orderBy("doc_id"),
      Some(s"SELECT doc_id, len($SQL_TOKS) AS n_ws, " +
        """len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS n_bpe """ +
        "FROM documents ORDER BY doc_id")),
    Q("doc_quality", (s, dir) =>
      graft.pipeline.TextAnalysis.qualityFeatures(docs(s, dir))
        .select(col("doc_id"), col("n_tokens"),
          r6(col("mean_word_len")).as("mean_word_len"),
          r6(col("punct_ratio")).as("punct_ratio"),
          r6(col("stopword_ratio")).as("stopword_ratio"))
        .orderBy("doc_id"),
      Some(s"WITH w AS (SELECT doc_id, text, $SQL_TOKS AS toks FROM documents) " +
        "SELECT doc_id, len(toks) AS n_tokens, " +
        """round(1e-9 + length(regexp_replace(text, '\s+', '', 'g'))::DOUBLE / len(toks), 6) AS mean_word_len, """ +
        """round(1e-9 + CASE WHEN length(text) > 0 THEN (length(text) - length(regexp_replace(text, '[^\p{L}\p{N}\s]', '', 'g')))::DOUBLE / length(text) ELSE 0 END, 6) AS punct_ratio, """ +
        "round(1e-9 + len(list_filter(toks, x -> lower(x) IN (" +
        graft.pipeline.TextAnalysis.stopwords.map(w => s"'$w'").mkString(",") +
        ")))::DOUBLE / len(toks), 6) AS stopword_ratio FROM w ORDER BY doc_id")),
    Q("doc_langid", (s, dir) =>
      graft.pipeline.TextAnalysis.detectLang(docs(s, dir))
        .select(col("doc_id"), col("detected_lang")).orderBy("doc_id"),
      Some {
        val m = graft.pipeline.TextAnalysis.langMarkers
        def cnt(lang: String) =
          s"len(list_filter(toks, x -> x IN (${m(lang).map(w => s"'$w'").mkString(",")})))"
        s"WITH w AS (SELECT doc_id, list_transform($SQL_TOKS, x -> lower(x)) AS toks FROM documents), " +
          s"c AS (SELECT doc_id, ${cnt("de")} AS de, ${cnt("en")} AS en, ${cnt("es")} AS es, " +
          s"${cnt("fr")} AS fr, ${cnt("zh")} AS zh FROM w) " +
          "SELECT doc_id, CASE WHEN de = 0 AND en = 0 AND es = 0 AND fr = 0 AND zh = 0 THEN 'und' " +
          "WHEN de >= en AND de >= es AND de >= fr AND de >= zh THEN 'de' " +
          "WHEN en >= es AND en >= fr AND en >= zh THEN 'en' " +
          "WHEN es >= fr AND es >= zh THEN 'es' WHEN fr >= zh THEN 'fr' ELSE 'zh' END AS detected_lang " +
          "FROM c ORDER BY doc_id"
      }),
    Q("doc_lang_dist", (s, dir) =>
      docs(s, dir).groupBy("lang").agg(count(lit(1)).as("n")).orderBy("lang"),
      Some("SELECT lang, count(*) AS n FROM documents GROUP BY lang ORDER BY lang")),
    Q("doc_exact_dedup", (s, dir) =>
      graft.pipeline.Dedup.exact(docs(s, dir)).select("doc_id").orderBy("doc_id"),
      Some("SELECT doc_id FROM (SELECT doc_id, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn " +
        "FROM documents) WHERE rn = 1 ORDER BY doc_id")),
    Q("doc_ngram_pairs", (s, dir) =>
      graft.pipeline.Dedup.ngramJaccardPairs(docs(s, dir), 0.6)
        .select(col("id_a"), col("id_b"), r6(col("jaccard")).as("jaccard"))
        .orderBy("id_a", "id_b"),
      Some(s"$ngramPairsSqlCte SELECT id_a, id_b, round(1e-9 + j, 6) AS jaccard " +
        "FROM pairs ORDER BY id_a, id_b")),
    // MinHash is hash-function-dependent, so DuckDB cannot replay the
    // kept set — but it CAN compute the exact-Jaccard truth pairs, so the
    // gate emits the RECALL invariant instead (r8 verdict task 4): of the
    // J>=0.6 pairs, at least 80% must be broken (not both kept) by the
    // banded dedup. Measured 25/25 at sf0.01 and 256/256 at sf0.1;
    // banding theory floors P(candidate | J=0.6) at ~0.67 per pair, and
    // exact-verify passes every candidate at J>=threshold.
    // The kept SET is hash-function-dependent (DuckDB cannot replay
    // minhash), but the kept set's own LAWS are oracle-stateable from
    // the documents table alone — no truth-pair frame, which would bill
    // oracle work to this headline bench entry (r11, closing the last
    // no_oracle gate): exact duplicates share the signature in EVERY
    // band, so at most one doc per distinct text survives
    // (kept count == kept distinct texts); the kept count is bounded by
    // the distinct texts and ≥ 1; and the global min doc_id is always
    // its union-find component's winner. The ≥80% near-dup recall law
    // stays on doc_minhash_dedup below.
    Q("doc_minhash_kept", (s, dir) => {
      val d = docs(s, dir)
      val kept = graft.pipeline.Dedup.minhashDedup(d, 0.6).select("doc_id")
      val keptDocs = d.join(kept, Seq("doc_id"), "left_semi")
      d.agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("text")).as("n_texts"),
          min(col("doc_id")).as("_min_id"))
        .crossJoin(keptDocs.agg(
          count(lit(1)).as("_n_kept"),
          countDistinct(col("text")).as("_n_kept_texts"),
          min(col("doc_id")).as("_kept_min")))
        .select(
          col("n_docs"),
          col("n_texts"),
          (col("_n_kept") === col("_n_kept_texts")).cast("bigint").as("exact_collapsed_ok"),
          (col("_n_kept") <= col("n_texts") && col("_n_kept") >= 1)
            .cast("bigint").as("kept_bounds_ok"),
          (col("_kept_min") === col("_min_id")).cast("bigint").as("min_doc_kept"))
    }, Some("SELECT count(*)::BIGINT AS n_docs, " +
      "count(DISTINCT text)::BIGINT AS n_texts, 1::BIGINT AS exact_collapsed_ok, " +
      "1::BIGINT AS kept_bounds_ok, 1::BIGINT AS min_doc_kept FROM documents")),
    Q("doc_minhash_dedup", (s, dir) => {
      val d = docs(s, dir)
      val truthPairs = graft.pipeline.Dedup.ngramJaccardPairs(d, 0.6)
        .select("id_a", "id_b")
      val kept = graft.pipeline.Dedup.minhashDedup(d, 0.6).select("doc_id")
      val bothKept = truthPairs
        .join(kept.select(col("doc_id").as("id_a")), Seq("id_a"), "left_semi")
        .join(kept.select(col("doc_id").as("id_b")), Seq("id_b"), "left_semi")
        .agg(count(lit(1)).as("_both"))
      truthPairs.agg(count(lit(1)).as("n_true_pairs")).crossJoin(bothKept)
        .select(col("n_true_pairs"),
          ((col("n_true_pairs") - col("_both")) >= col("n_true_pairs") * 0.8)
            .cast("bigint").as("recall_ok"))
    }, Some(s"$ngramPairsSqlCte SELECT count(*)::BIGINT AS n_true_pairs, " +
      "1::BIGINT AS recall_ok FROM pairs")),
    // simhash signatures aren't SQL-replayable, but the block-banding
    // recall vs the exact-Jaccard truth is (measured: 24/25 pairs at
    // sf0.01, 238/256 at sf0.1, all at hamming ≤ 9 — floor 80%)
    Q("doc_simhash_cands", (s, dir) => {
      val truthPairs = graft.pipeline.Dedup.ngramJaccardPairs(docs(s, dir), 0.6)
        .select("id_a", "id_b")
      val cands = graft.pipeline.Dedup.simhashCandidates(docs(s, dir))
        .select("id_a", "id_b")
      val found = truthPairs.join(cands, Seq("id_a", "id_b"), "left_semi")
        .agg(count(lit(1)).as("_found"))
      truthPairs.agg(count(lit(1)).as("n_true_pairs")).crossJoin(found)
        .select(col("n_true_pairs"),
          (col("_found") >= col("n_true_pairs") * 0.8).cast("bigint").as("recall_ok"))
    }, Some(s"$ngramPairsSqlCte SELECT count(*)::BIGINT AS n_true_pairs, " +
      "1::BIGINT AS recall_ok FROM pairs")),
    // fingerprint VALUES are hash-function-dependent, but the invariants
    // DuckDB can state are hashable: fingerprints are content-keyed
    // (identical text ⇒ identical fp, so distinct fps ≤ distinct texts)
    // and collision-free on this corpus (distinct fps == distinct texts)
    Q("doc_fingerprint", (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), graft.pipeline.TextAnalysis.fingerprint(col("text")).as("fp"),
          col("text"))
        .agg(count(lit(1)).as("n_docs"),
          (countDistinct(col("fp")) === countDistinct(col("text")))
            .cast("bigint").as("content_keyed"))
        .select(col("n_docs"), col("content_keyed")),
      Some("SELECT count(*) AS n_docs, 1::BIGINT AS content_keyed FROM documents")),
    // benchmark-contamination gate: docs with doc_id % 97 == 0 play the
    // held-out benchmark; 3-gram overlap counted per candidate doc
    Q("doc_contamination", (s, dir) => {
      val d = docs(s, dir)
      graft.pipeline.TextAnalysis.contamination(
        d, d.filter(col("doc_id") % 97 === 0), n = 3)
        .select(col("doc_id"), col("total_ngrams").cast("bigint").as("total_ngrams"),
          col("contaminated_ngrams"),
          r6(col("contamination_ratio")).as("contamination_ratio"))
        .orderBy("doc_id")
    }, Some(s"WITH w AS (SELECT doc_id, $SQL_TOKS AS toks FROM documents), " +
      "sh AS (SELECT doc_id, CASE WHEN len(toks) >= 3 THEN " +
      "list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] FOR i IN range(1, len(toks) - 1)]) " +
      "ELSE [array_to_string(toks, ' ')] END AS sh FROM w), " +
      "bg AS (SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 97 = 0), " +
      "p AS (SELECT doc_id, unnest(sh) AS g FROM sh), " +
      "h AS (SELECT doc_id, count(*) AS c FROM p WHERE g IN (SELECT g FROM bg) GROUP BY doc_id), " +
      "t AS (SELECT doc_id, len(sh) AS total_ngrams FROM sh) " +
      "SELECT t.doc_id, total_ngrams, coalesce(h.c, 0) AS contaminated_ngrams, " +
      "round(1e-9 + coalesce(h.c, 0)::DOUBLE / greatest(total_ngrams, 1), 6) AS contamination_ratio " +
      "FROM t LEFT JOIN h ON h.doc_id = t.doc_id ORDER BY t.doc_id")),
    // Gopher-style quality rules (Rae et al. 2021 §A1.1): line/word shape
    // stats + composite keep flag, mirrored exactly in DuckDB
    Q("doc_gopher_quality", (s, dir) =>
      graft.pipeline.TextAnalysis.gopherQuality(docs(s, dir))
        .select(col("doc_id"), col("n_words").cast("bigint").as("n_words"),
          r6(col("mean_words_per_line")).as("mean_words_per_line"),
          r6(col("symbol_ratio")).as("symbol_ratio"),
          r6(col("frac_alpha_words")).as("frac_alpha_words"),
          r6(col("frac_duplicate_lines")).as("frac_duplicate_lines"),
          col("gopher_pass"))
        .orderBy("doc_id"),
      Some("WITH w AS (SELECT doc_id, text, string_split(text, chr(10)) AS lines, " +
        s"$SQL_TOKS AS words FROM documents), " +
        "c AS (SELECT doc_id, len(words)::DOUBLE AS nw, len(lines)::DOUBLE AS nl, " +
        """len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE AS aw, """ +
        """(len(regexp_extract_all(text, '#')) + len(regexp_extract_all(text, '\.\.\.')))::DOUBLE AS sym, """ +
        """len(list_filter(lines, l -> regexp_matches(l, '^\s*[-*•]')))::DOUBLE AS bl, """ +
        """len(list_filter(lines, l -> regexp_matches(l, '\.\.\.\s*$')))::DOUBLE AS el, """ +
        "(len(lines) - len(list_distinct(lines)))::DOUBLE / len(lines) AS dl, " +
        """CASE WHEN len(words) > 0 THEN length(regexp_replace(text, '\s+', '', 'g'))::DOUBLE / len(words) ELSE 0 END AS mwl """ +
        "FROM w) " +
        "SELECT doc_id, nw::BIGINT AS n_words, round(1e-9 + nw / nl, 6) AS mean_words_per_line, " +
        "round(1e-9 + sym / nw, 6) AS symbol_ratio, round(1e-9 + aw / nw, 6) AS frac_alpha_words, " +
        "round(1e-9 + dl, 6) AS frac_duplicate_lines, " +
        "(nw >= 50 AND nw <= 100000 AND mwl >= 3 AND mwl <= 10 AND sym / nw < 0.1 " +
        "AND bl / nl < 0.9 AND el / nl < 0.3 AND aw / nw > 0.8 AND dl < 0.3) AS gopher_pass " +
        "FROM c ORDER BY doc_id")),
    // deterministic per-block next-fit sequence packing into 200-token
    // bins; the oracle replays the same scan as a recursive CTE
    Q("doc_pack_sequences", (s, dir) =>
      graft.pipeline.TextAnalysis.packSequences(docs(s, dir), capacity = 200)
        .select(col("doc_id"), col("n_tokens").cast("bigint").as("n_tokens"),
          col("block"), col("bin").cast("bigint").as("bin"),
          col("fill").cast("bigint").as("fill"))
        .orderBy("doc_id"),
      Some("WITH RECURSIVE d AS (SELECT doc_id, " +
        s"CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len($SQL_TOKS) END AS n, " +
        "doc_id // 256 AS block, " +
        "row_number() OVER (PARTITION BY doc_id // 256 ORDER BY doc_id) AS rn FROM documents), " +
        "p AS (SELECT block, rn, doc_id, n, 0 AS bin, n AS fill FROM d WHERE rn = 1 " +
        "UNION ALL SELECT d.block, d.rn, d.doc_id, d.n, " +
        "CASE WHEN p.fill + d.n > 200 THEN p.bin + 1 ELSE p.bin END, " +
        "CASE WHEN p.fill + d.n > 200 THEN d.n ELSE p.fill + d.n END " +
        "FROM p JOIN d ON d.block = p.block AND d.rn = p.rn + 1) " +
        "SELECT doc_id, n::BIGINT AS n_tokens, block, bin::BIGINT AS bin, " +
        "fill::BIGINT AS fill FROM p ORDER BY doc_id")),
    // deterministic stratified sampling via a multiplicative id hash —
    // strata absent from the fraction map (es, fr) are dropped
    Q("doc_stratified_sample", (s, dir) =>
      graft.pipeline.TextAnalysis.stratifiedSample(docs(s, dir), "lang",
        Map("en" -> 0.3, "de" -> 0.8, "zh" -> 0.5))
        .select("doc_id", "lang").orderBy("doc_id"),
      Some("SELECT doc_id, lang FROM documents WHERE " +
        "(lang = 'en' AND (doc_id * 2654435761) % 1000003 < 300000) OR " +
        "(lang = 'de' AND (doc_id * 2654435761) % 1000003 < 800002) OR " +
        "(lang = 'zh' AND (doc_id * 2654435761) % 1000003 < 500001) " +
        "ORDER BY doc_id")),
    // PII redaction over text with deterministic synthetic PII appended
    // identically on both sides (the fixture corpus itself is PII-free)
    Q("doc_pii_redact", (s, dir) => {
      val aug = docs(s, dir).withColumn("text",
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com ip 10.0.0."), pmod(col("doc_id"), lit(256)),
          lit(" tel 555-867-5309")))
      graft.pipeline.TextAnalysis.piiRedact(aug)
        .select(col("doc_id"), col("n_email").cast("bigint").as("n_email"),
          col("n_ip").cast("bigint").as("n_ip"),
          col("n_phone").cast("bigint").as("n_phone"), col("redacted"))
        .orderBy("doc_id")
    }, Some {
      val email = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
      val ip = """\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"""
      val phone = """\b[0-9]{3}[-.][0-9]{3,4}[-.][0-9]{4}\b"""
      "WITH a AS (SELECT doc_id, text || ' contact user' || doc_id || " +
        "'@example.com ip 10.0.0.' || (doc_id % 256) || ' tel 555-867-5309' AS t FROM documents) " +
        s"SELECT doc_id, len(regexp_extract_all(t, '$email')) AS n_email, " +
        s"len(regexp_extract_all(t, '$ip')) AS n_ip, " +
        s"len(regexp_extract_all(t, '$phone')) AS n_phone, " +
        s"regexp_replace(regexp_replace(regexp_replace(t, '$email', '[EMAIL]', 'g'), " +
        s"'$ip', '[IP]', 'g'), '$phone', '[PHONE]', 'g') AS redacted " +
        "FROM a ORDER BY doc_id"
    }),
    // Okapi BM25 query scoring (Lucene-style non-negative idf) — the
    // corpus-slicing primitive for targeted eval-topic retrieval
    Q("doc_bm25", (s, dir) =>
      graft.pipeline.Retrieval.bm25(docs(s, dir), Seq("hash", "table", "scan"))
        .select(col("doc_id"), r6(col("score")).as("score"),
          col("n_matched").cast("bigint").as("n_matched"))
        .orderBy("doc_id"),
      Some("WITH tok AS (SELECT doc_id, " +
        s"list_filter($SQL_LTOKS, t -> len(t) > 0) AS toks FROM documents), " +
        "stats AS (SELECT count(*) AS n, avg(len(toks)) AS avgdl FROM tok), " +
        "e AS (SELECT doc_id, len(toks) AS doc_len, unnest(toks) AS term FROM tok), " +
        "post AS (SELECT doc_id, doc_len, term, count(*) AS tf FROM e " +
        "WHERE term IN ('hash','table','scan') GROUP BY 1, 2, 3), " +
        "dft AS (SELECT term, count(DISTINCT doc_id) AS df FROM post GROUP BY 1) " +
        "SELECT doc_id, round(1e-9 + sum(ln(1 + (n - df + 0.5) / (df + 0.5)) * " +
        "tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * doc_len / avgdl))), 6) AS score, " +
        "count(*) AS n_matched FROM post JOIN dft USING (term) CROSS JOIN stats " +
        "GROUP BY doc_id ORDER BY doc_id")),
    // per-doc top-N TF-IDF terms (smoothed idf), deterministic tie-break
    Q("doc_tfidf_terms", (s, dir) =>
      graft.pipeline.Retrieval.tfidfTopTerms(docs(s, dir), 3)
        .select(col("doc_id"), col("term"), col("tf").cast("bigint").as("tf"),
          col("df").cast("bigint").as("df"), r6(col("tfidf")).as("tfidf"),
          col("rank").cast("bigint").as("rank"))
        .orderBy("doc_id", "rank"),
      Some("WITH tok AS (SELECT doc_id, " +
        s"list_filter($SQL_LTOKS, t -> len(t) > 0) AS toks FROM documents), " +
        "n AS (SELECT count(*) AS n_docs FROM tok), " +
        "e AS (SELECT doc_id, unnest(toks) AS term FROM tok), " +
        "post AS (SELECT doc_id, term, count(*) AS tf FROM e GROUP BY 1, 2), " +
        "dft AS (SELECT term, count(DISTINCT doc_id) AS df FROM post GROUP BY 1), " +
        "r AS (SELECT doc_id, term, tf, df, " +
        "tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0) AS tfidf, " +
        "row_number() OVER (PARTITION BY doc_id ORDER BY " +
        "tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0) DESC, term ASC) AS rank " +
        "FROM post JOIN dft USING (term) CROSS JOIN n) " +
        "SELECT doc_id, term, tf, df, round(1e-9 + tfidf, 6) AS tfidf, rank " +
        "FROM r WHERE rank <= 3 ORDER BY doc_id, rank")),
    // C4 page cleaning on a synthesized multi-line page (the parquet text
    // has no newlines/punctuation, so the gate crafts line structure the
    // same way on both sides, like doc_pii_redact)
    Q("doc_c4_filters", (s, dir) => {
      val page = concat(
        substring(col("text"), 1, 50), lit(".\n"),
        lit("no punct line\n"),
        substring(col("text"), 51, 80), lit("!\n"),
        when(col("doc_id") % 7 === 0, lit("lorem ipsum dolor sit.\n")).otherwise(lit("")),
        when(col("doc_id") % 11 === 0, lit("code { block } here.\n")).otherwise(lit("")),
        lit("One two three. Four five six! Seven eight nine? Ten eleven done."))
      graft.pipeline.TextAnalysis.c4Filters(
        docs(s, dir).withColumn("text", page))
        .select(col("doc_id"),
          col("n_lines").cast("bigint").as("n_lines"),
          col("n_kept_lines").cast("bigint").as("n_kept_lines"),
          col("n_sentences").cast("bigint").as("n_sentences"),
          col("has_brace"), col("has_lorem"), col("c4_keep"), col("cleaned"))
        .orderBy("doc_id")
    }, Some("WITH p AS (SELECT doc_id, " +
      "substr(text, 1, 50) || '.' || chr(10) || 'no punct line' || chr(10) || " +
      "substr(text, 51, 80) || '!' || chr(10) || " +
      "CASE WHEN doc_id % 7 = 0 THEN 'lorem ipsum dolor sit.' || chr(10) ELSE '' END || " +
      "CASE WHEN doc_id % 11 = 0 THEN 'code { block } here.' || chr(10) ELSE '' END || " +
      "'One two three. Four five six! Seven eight nine? Ten eleven done.' AS t FROM documents), " +
      "k AS (SELECT doc_id, t, string_split(t, chr(10)) AS lines, " +
      "list_filter(string_split(t, chr(10)), x -> regexp_matches(trim(x), '[.!?\"]$') " +
      """AND len(list_filter(string_split_regex(trim(x), '\s+'), w -> len(w) > 0)) >= 3 """ +
      "AND NOT contains(lower(x), 'javascript')) AS kept FROM p), " +
      "r AS (SELECT doc_id, len(lines) AS n_lines, len(kept) AS n_kept_lines, " +
      "array_to_string(kept, chr(10)) AS cleaned, " +
      "len(regexp_extract_all(array_to_string(kept, chr(10)), '[.!?]')) AS n_sentences, " +
      "contains(t, '{') AS has_brace, contains(lower(t), 'lorem ipsum') AS has_lorem FROM k) " +
      "SELECT doc_id, n_lines, n_kept_lines, n_sentences, has_brace, has_lorem, " +
      "(n_sentences >= 5 AND NOT has_brace AND NOT has_lorem) AS c4_keep, cleaned " +
      "FROM r ORDER BY doc_id")),
    // Gopher repetition stats: most-frequent word n-gram character share
    // for n in 2..4, deterministic (count desc, gram asc) winner
    Q("doc_repetition", (s, dir) =>
      graft.pipeline.TextAnalysis.repetitionStats(docs(s, dir))
        .select(col("doc_id"),
          r6(col("top2_frac")).as("top2_frac"), col("top2_gram"),
          r6(col("top3_frac")).as("top3_frac"), col("top3_gram"),
          r6(col("top4_frac")).as("top4_frac"), col("top4_gram"))
        .orderBy("doc_id"),
      Some("WITH tok AS (SELECT doc_id, " +
        s"list_filter($SQL_LTOKS, t -> len(t) > 0) AS toks FROM documents), " +
        "c AS (SELECT doc_id, toks, (coalesce(list_sum(list_transform(toks, t -> len(t))), 0) + " +
        "greatest(len(toks) - 1, 0))::DOUBLE AS chars FROM tok), " +
        "g AS (SELECT doc_id, chars, n, unnest(list_transform(range(1, len(toks) - n + 2), " +
        "i -> array_to_string(toks[i:i+n-1], ' '))) AS gram " +
        "FROM c CROSS JOIN (SELECT unnest([2, 3, 4]) AS n) nn WHERE len(toks) >= n), " +
        "cnt AS (SELECT doc_id, chars, n, gram, count(*) AS cnt FROM g GROUP BY 1, 2, 3, 4), " +
        "top AS (SELECT *, row_number() OVER (PARTITION BY doc_id, n " +
        "ORDER BY cnt DESC, gram ASC) AS rk FROM cnt) " +
        "SELECT d.doc_id, " +
        "round(1e-9 + coalesce(max(CASE WHEN n = 2 THEN cnt * len(gram) / chars END), 0), 6) AS top2_frac, " +
        "max(CASE WHEN n = 2 THEN gram END) AS top2_gram, " +
        "round(1e-9 + coalesce(max(CASE WHEN n = 3 THEN cnt * len(gram) / chars END), 0), 6) AS top3_frac, " +
        "max(CASE WHEN n = 3 THEN gram END) AS top3_gram, " +
        "round(1e-9 + coalesce(max(CASE WHEN n = 4 THEN cnt * len(gram) / chars END), 0), 6) AS top4_frac, " +
        "max(CASE WHEN n = 4 THEN gram END) AS top4_gram " +
        "FROM documents d LEFT JOIN (SELECT * FROM top WHERE rk = 1) t ON d.doc_id = t.doc_id " +
        "GROUP BY d.doc_id ORDER BY d.doc_id")),
    // DSIR importance weights: unigram log-likelihood ratio of a target
    // slice (doc_id % 97 = 0) vs the raw corpus, add-one smoothed
    Q("doc_dsir_weights", (s, dir) => {
      val d = docs(s, dir)
      graft.pipeline.Retrieval.dsirWeights(d, d.filter(col("doc_id") % 97 === 0))
        .select(col("doc_id"), r6(col("dsir_weight")).as("dsir_weight"),
          col("n_terms").cast("bigint").as("n_terms"))
        .orderBy("doc_id")
    }, Some("WITH tok AS (SELECT doc_id, " +
      s"list_filter($SQL_LTOKS, t -> len(t) > 0) AS toks FROM documents), " +
      "e AS (SELECT doc_id, unnest(toks) AS term FROM tok), " +
      "post AS (SELECT doc_id, term, count(*) AS tf FROM e GROUP BY 1, 2), " +
      "rawc AS (SELECT term, sum(tf) AS raw_n FROM post GROUP BY 1), " +
      "tgtc AS (SELECT term, sum(tf) AS tgt_n FROM post WHERE doc_id % 97 = 0 GROUP BY 1), " +
      "j AS (SELECT term, coalesce(raw_n, 0) AS raw_n, coalesce(tgt_n, 0) AS tgt_n " +
      "FROM rawc FULL OUTER JOIN tgtc USING (term)), " +
      "tot AS (SELECT sum(raw_n) AS raw_total, sum(tgt_n) AS tgt_total, count(*) AS vocab FROM j), " +
      "ratio AS (SELECT term, ln((tgt_n + 1.0) / (tgt_total + vocab)) - " +
      "ln((raw_n + 1.0) / (raw_total + vocab)) AS log_ratio FROM j CROSS JOIN tot) " +
      "SELECT doc_id, round(1e-9 + sum(tf * log_ratio), 6) AS dsir_weight, " +
      "sum(tf)::BIGINT AS n_terms FROM post JOIN ratio USING (term) " +
      "GROUP BY doc_id ORDER BY doc_id")),
    // exact-substring (duplicate-span) dedup: a shared boilerplate tail is
    // appended to every 5th/7th doc on BOTH sides; all 6-token runs seen
    // more than once keep only their first (doc, pos) occurrence
    Q("doc_dup_spans", (s, dir) => {
      val aug = docs(s, dir).withColumn("text", concat(col("text"),
        when(col("doc_id") % 5 === 0,
          lit(" all rights reserved contact the site admin for reuse terms today"))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          lit(" subscribe to our newsletter for updates and exclusive offers now"))
          .otherwise(lit(""))))
      graft.pipeline.Dedup.dupSpanRemoval(aug, n = 6)
        .select(col("doc_id"), col("n_tokens"), col("n_removed"), col("clean"))
        .orderBy("doc_id")
    }, Some("WITH a AS (SELECT doc_id, text || " +
      "CASE WHEN doc_id % 5 = 0 THEN ' all rights reserved contact the site admin for reuse terms today' ELSE '' END || " +
      "CASE WHEN doc_id % 7 = 0 THEN ' subscribe to our newsletter for updates and exclusive offers now' ELSE '' END AS text " +
      "FROM documents), " +
      s"w AS (SELECT doc_id, $SQL_TOKS AS toks FROM a), " +
      "g AS (SELECT doc_id, unnest([{'pos': i, 'gram': array_to_string(toks[i:i+5], ' ')} " +
      "FOR i IN range(1, greatest(len(toks) - 4, 1))]) AS u FROM w), " +
      "o AS (SELECT doc_id, u.pos AS pos, u.gram AS gram FROM g), " +
      "f AS (SELECT doc_id, pos, row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn FROM o), " +
      "fl AS (SELECT doc_id, pos FROM f WHERE rn > 1), " +
      "rem AS (SELECT DISTINCT doc_id, unnest(range(pos, pos + 6)) AS p FROM fl), " +
      "tok AS (SELECT doc_id, unnest([{'p': i, 'tok': toks[i]} FOR i IN range(1, len(toks) + 1)]) AS u FROM w), " +
      "tk AS (SELECT doc_id, u.p AS p, u.tok AS tok FROM tok), " +
      "keep AS (SELECT tk.doc_id, tk.p, tk.tok FROM tk LEFT JOIN rem " +
      "ON tk.doc_id = rem.doc_id AND tk.p = rem.p WHERE rem.p IS NULL), " +
      "res AS (SELECT doc_id, count(*) AS n_kept, string_agg(tok, ' ' ORDER BY p) AS clean " +
      "FROM keep GROUP BY doc_id) " +
      "SELECT w.doc_id, len(w.toks)::BIGINT AS n_tokens, " +
      "(len(w.toks) - coalesce(res.n_kept, 0))::BIGINT AS n_removed, " +
      "coalesce(res.clean, '') AS clean " +
      "FROM w LEFT JOIN res ON w.doc_id = res.doc_id ORDER BY w.doc_id")),
    // CCNet-style LM quality scoring: bigram stupid-backoff perplexity,
    // trained on the doc_id % 3 slice, scored over the whole corpus
    Q("doc_lm_perplexity", (s, dir) => {
      val d = docs(s, dir)
      graft.pipeline.Retrieval.lmPerplexity(d.filter(col("doc_id") % 3 === 0), d)
        .select(col("doc_id"), col("n_tokens"),
          r6(col("logprob")).as("logprob"),
          r6(col("perplexity")).as("perplexity"))
        .orderBy("doc_id")
    }, Some("WITH tok AS (SELECT doc_id, " +
      s"list_filter($SQL_LTOKS, x -> len(x) > 0) AS t FROM documents), " +
      "tr AS (SELECT * FROM tok WHERE doc_id % 3 = 0), " +
      "c1 AS (SELECT w, count(*) AS c1 FROM (SELECT unnest(t) AS w FROM tr) GROUP BY w), " +
      "tv AS (SELECT sum(c1)::DOUBLE AS tt, count(*)::DOUBLE AS vv FROM c1), " +
      "c2 AS (SELECT w1, w2, count(*) AS c2 FROM " +
      "(SELECT u.w1 AS w1, u.w2 AS w2 FROM (SELECT unnest([{'w1': t[i], 'w2': t[i+1]} " +
      "FOR i IN range(1, len(t))]) AS u FROM tr WHERE len(t) >= 2)) GROUP BY w1, w2), " +
      "head AS (SELECT doc_id, ln((coalesce(c1.c1, 0) + 1.0) / (tt + vv)) AS lp " +
      "FROM tok CROSS JOIN tv LEFT JOIN c1 ON c1.w = tok.t[1] WHERE len(tok.t) >= 1), " +
      "pairs AS (SELECT doc_id, u.w1 AS w1, u.w2 AS w2 FROM " +
      "(SELECT doc_id, unnest([{'w1': t[i], 'w2': t[i+1]} FOR i IN range(1, len(t))]) AS u " +
      "FROM tok WHERE len(t) >= 2)), " +
      "rest AS (SELECT doc_id, CASE WHEN c2.c2 IS NOT NULL THEN ln(c2.c2::DOUBLE / ca.c1) " +
      "ELSE ln(0.4 * (coalesce(cb.c1, 0) + 1.0) / (tt + vv)) END AS lp " +
      "FROM pairs CROSS JOIN tv " +
      "LEFT JOIN c2 ON c2.w1 = pairs.w1 AND c2.w2 = pairs.w2 " +
      "LEFT JOIN c1 ca ON ca.w = pairs.w1 " +
      "LEFT JOIN c1 cb ON cb.w = pairs.w2), " +
      "lp AS (SELECT doc_id, sum(lp) AS logprob FROM " +
      "(SELECT * FROM head UNION ALL SELECT * FROM rest) GROUP BY doc_id) " +
      "SELECT tok.doc_id, len(tok.t)::BIGINT AS n_tokens, " +
      "round(1e-9 + coalesce(lp.logprob, 0), 6) AS logprob, " +
      "round(1e-9 + exp(-coalesce(lp.logprob, 0) / greatest(len(tok.t), 1)), 6) AS perplexity " +
      "FROM tok LEFT JOIN lp ON lp.doc_id = tok.doc_id ORDER BY tok.doc_id")),
    Q("emb_topk", (s, dir) =>
      graft.pipeline.Similarity.bruteForceTopK(
        embs(s, dir), embs(s, dir).filter(col("vec_id") < 10), 5)
        .select(col("q_id"), col("c_id"), r6(col("cosine")).as("cosine"),
          col("rank").cast("long").as("rank"))
        .orderBy("q_id", "rank"),
      Some("WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10), " +
        "r AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id, " +
        "list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cos, " +
        "row_number() OVER (PARTITION BY q.vec_id ORDER BY " +
        "list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC, c.vec_id ASC) AS rank " +
        "FROM q JOIN embeddings c ON q.vec_id != c.vec_id) " +
        "SELECT q_id, c_id, round(1e-9 + cos, 6) AS cosine, rank FROM r WHERE rank <= 5 ORDER BY q_id, rank")),
    // int8 scalar-quantized top-k: quantized scores aren't
    // SQL-reproducible bit-for-bit, but the op is DETERMINISTIC (pure
    // per-row expressions), so the gate hashes per-query recall vs the
    // brute-force float truth — ≥3 of 5 hits per query (measured 49/50
    // at sf0.01 with min 4, 50/50 at sf0.1); a quantization regression
    // flips rows to 0 and the driver catches it
    Q("emb_topk_int8", (s, dir) => {
      val q = embs(s, dir).filter(col("vec_id") < 10)
      val truth = graft.pipeline.Similarity.bruteForceTopK(embs(s, dir), q, 5)
      val approx = graft.pipeline.Similarity.bruteForceTopKInt8(embs(s, dir), q, 5)
      val perQ = annHits(truth, approx).groupBy("q_id").agg(count(lit(1)).as("_hits"))
      q.select(col("vec_id").as("q_id"))
        .join(perQ, Seq("q_id"), "left")
        .select(col("q_id"),
          (coalesce(col("_hits"), lit(0L)) >= 3).cast("bigint").as("recall_ok"))
        .orderBy("q_id")
    }, Some("SELECT vec_id AS q_id, 1::BIGINT AS recall_ok FROM embeddings " +
      "WHERE vec_id < 10 ORDER BY q_id")),
    Q("emb_brute_pairs", (s, dir) =>
      graft.pipeline.Similarity.bruteForceNearDupPairs(embs(s, dir), 0.45)
        .select(col("id_a"), col("id_b"), r6(col("cosine")).as("cosine"))
        .orderBy("id_a", "id_b"),
      Some("SELECT a.vec_id AS id_a, b.vec_id AS id_b, " +
        "round(1e-9 + list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine " +
        "FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id " +
        "WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.45 " +
        "ORDER BY id_a, id_b")),
    // LSH multiprobe top-k: buckets aren't SQL-replayable; the gate
    // hashes the total-overlap floor vs brute force (measured 24/50 at
    // both sf0.01 and sf0.1 — near-uniform synthetic embeddings are the
    // hard case for LSH; floor 15 leaves regression margin)
    Q("emb_lsh_topk", (s, dir) => {
      val q = embs(s, dir).filter(col("vec_id") < 10)
      val truth = graft.pipeline.Similarity.bruteForceTopK(embs(s, dir), q, 5)
      annRecallSummary(q, truth,
        graft.pipeline.Similarity.lshTopK(embs(s, dir), q, 5, nBits = 4, probes = 1), 15)
    }, Some(annSummaryOracle)),
    // IVF posting-list ANN (k-means lists + nprobe search): centroid
    // training sums floats in partition order, so the rank lists are not
    // run-stable — the total-overlap floor is (measured 31/50 sf0.01,
    // 28/50 sf0.1; floor 15)
    Q("emb_ivf_topk", (s, dir) => {
      val q = embs(s, dir).filter(col("vec_id") < 10)
      val truth = graft.pipeline.Similarity.bruteForceTopK(embs(s, dir), q, 5)
      annRecallSummary(q, truth,
        graft.pipeline.Similarity.ivfTopK(embs(s, dir), q, 5), 15)
    }, Some(annSummaryOracle)),
    // SemDeDup semantic dedup: with nClusters=1 the clustering is the
    // identity and the kept set is EXACTLY the brute-force connectivity
    // winners — which DuckDB can replay (cosine pairs + a recursive
    // transitive closure for the min-id components), so the gate runs the
    // full semanticDedup code path (assignment, per-cluster pair loop,
    // union-find) hash-checked end-to-end. The nClusters>1 regime
    // (training-order-dependent) stays pinned by SemDedupSpec's
    // subset/recall gates.
    Q("emb_semantic_dedup", (s, dir) =>
      graft.pipeline.Similarity.semanticDedup(embs(s, dir), 0.45, nClusters = 1, iters = 3)
        .select("vec_id").orderBy("vec_id"),
      Some("WITH p AS (SELECT a.vec_id AS x, b.vec_id AS y FROM embeddings a " +
        "JOIN embeddings b ON a.vec_id < b.vec_id " +
        "WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.45), " +
        "e AS (SELECT x, y FROM p UNION SELECT y, x FROM p), " +
        "tc AS (WITH RECURSIVE r(x, y) AS (SELECT x, y FROM e " +
        "UNION SELECT r.x, e.y FROM r JOIN e ON r.y = e.x WHERE r.x != e.y) " +
        "SELECT * FROM r), " +
        "losers AS (SELECT DISTINCT x AS vec_id FROM tc WHERE y < x) " +
        "SELECT vec_id FROM embeddings WHERE vec_id NOT IN (SELECT vec_id FROM losers) " +
        "ORDER BY vec_id")),
    // product quantization: codebook-dependent (k-means per subspace) →
    // the total-overlap floor is the hashable invariant (measured 23/50
    // sf0.01, 15/50 sf0.1 — 32× compression trades recall; floor 8)
    Q("emb_pq_topk", (s, dir) => {
      val q = embs(s, dir).filter(col("vec_id") < 10)
      val truth = graft.pipeline.Similarity.bruteForceTopK(embs(s, dir), q, 5)
      val books = graft.pipeline.Similarity.pqTrain(embs(s, dir), m = 16, k = 16, iters = 3)
      annRecallSummary(q, truth,
        graft.pipeline.Similarity.pqTopK(embs(s, dir), q, books, 5), 8)
    }, Some(annSummaryOracle)),
    // storage-side sample dedup (-dedup.minScrapeInterval semantics)
    Q("ev_dedup_samples", (s, dir) =>
      graft.pipeline.Dedup.dedupSamples(ev(s, dir), Seq("name", "user_id"), 6 * H)
        .select(col("name"), col("user_id"), col("ts"), col("value"))
        .orderBy("name", "user_id", "ts"),
      Some(s"SELECT name, user_id, tms AS ts, value FROM (SELECT event_type AS name, user_id, " +
        s"epoch_ms(ts::TIMESTAMP) AS tms, value, row_number() OVER (PARTITION BY event_type, user_id, " +
        s"((epoch_ms(ts::TIMESTAMP) + ${6 * H - 1}) // ${6 * H}) * ${6 * H} " +
        "ORDER BY tms DESC, value DESC) AS rn FROM events) WHERE rn = 1 ORDER BY name, user_id, ts")),
    // retention filters (enterprise -retentionFilter, README:1594-1626):
    // smallest matching filter retention wins, unmatched series get the
    // global -retentionPeriod; click keeps 7d, user_id 1-3 keeps 14d,
    // click∩user1-3 keeps least(7,14)=7d, the rest 21d — from a fixed
    // "now" of 2024-01-20
    Q("ev_retention_filters", (s, dir) => {
      val filters = graft.core.SampleStore.parseRetentionFilters(
        Seq("""{__name__="click"}:7d""", """{user_id=~"1|2|3"}:14d"""), 21 * D)
      Samples.fromEvents(s, dir)
        .filter(graft.core.SampleStore.retentionFilterPredicate(
          filters, 21 * D, nowMs = 1705708800000L))
        .select(col("name"),
          col("tags").getItem("user_id").cast("bigint").as("user_id"),
          col("ts"), col("value"))
        .orderBy("name", "user_id", "ts", "value")
    }, Some {
      val now = 1705708800000L
      val (d7, d14, d21) = (7 * D, 14 * D, 21 * D)
      s"SELECT name, user_id, ts, value FROM (SELECT event_type AS name, user_id, " +
        "epoch_ms(ts::TIMESTAMP) AS ts, value, " +
        s"CASE WHEN event_type = 'click' THEN $d7 " +
        s"WHEN user_id IN (1, 2, 3) THEN $d14 ELSE $d21 END AS ret FROM events) " +
        s"WHERE ts > $now - ret ORDER BY name, user_id, ts, value"
    }),
    // multi-level downsampling (-downsampling.period, README Downsampling):
    // click series use their own 7d:6h filter (first match wins, so the
    // default levels never apply to them); everything else tiers at
    // 21d:1d then 42d:2d from a fixed reference "now" of 2024-02-15
    Q("ev_downsample", (s, dir) => {
      val periods = graft.pipeline.Dedup.parseDownsamplingPeriods(
        """{__name__="click"}:7d:6h,21d:1d,42d:2d""")
      graft.pipeline.Dedup.downsample(Samples.fromEvents(s, dir), periods,
        nowMs = 1707955200000L)
        .select(col("name"),
          col("tags").getItem("user_id").cast("bigint").as("user_id"),
          col("ts"), col("value"))
        .orderBy("name", "user_id", "ts")
    }, Some {
      val now = 1707955200000L
      val (d7, h6, d21, d1, d42, d2) =
        (7 * D, 6 * H, 21 * D, D, 42 * D, 2 * D)
      s"WITH s AS (SELECT event_type AS nm, user_id, epoch_ms(ts::TIMESTAMP) AS t, value FROM events), " +
        s"i AS (SELECT *, CASE WHEN nm = 'click' THEN " +
        s"(CASE WHEN $now - t > $d7 THEN $h6 ELSE 0 END) ELSE " +
        s"(CASE WHEN $now - t > $d42 THEN $d2 WHEN $now - t > $d21 THEN $d1 ELSE 0 END) END AS iv FROM s), " +
        "b AS (SELECT *, CASE WHEN iv > 0 THEN ((t + iv - 1) // iv) * iv ELSE t END AS bkt FROM i), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY nm, user_id, iv, bkt " +
        "ORDER BY t DESC, value DESC) AS rn FROM b) " +
        "SELECT nm AS name, user_id, t AS ts, value FROM r WHERE rn = 1 " +
        "ORDER BY name, user_id, ts"
    }),
    // O7 instant-rollup delta updates (eval.go:1176-1535, Engine
    // .queryInstantCached): prime a big-window instant sum at t0, ask
    // again at t0+10min — the second answer is cached + tail − head (two
    // 10-minute window evals instead of a 12h re-scan) and must
    // hash-match DuckDB's full recompute at t1. delta_hit pins that the
    // delta path (not a silent full re-eval) produced the rows.
    Q("ev_instant_delta", (s, dir) => {
      graft.Engine.clearCache() // deterministic: miss at t0, delta at t1
      val full = Samples.fromEvents(s, dir)
      val t0 = START + 24 * H
      val t1 = t0 + 600000L
      val q = "sum_over_time(click[12h])"
      graft.Engine.queryInstantCached(full, q, GridSpec(t0, t0, H), 2 * H).count()
      val before = graft.Engine.instantCacheStats
      val delta = graft.Engine.queryInstantCached(full, q, GridSpec(t1, t1, H), 2 * H)
      val hit = graft.Engine.instantCacheStats.deltaHits - before.deltaHits
      delta.select(
          col("tags").getItem("user_id").cast("bigint").as("user_id"),
          col("t"), r6(col("value")).as("value"),
          lit(hit).cast("bigint").as("delta_hit"))
        .orderBy("user_id")
    }, Some {
      val t1 = START + 24 * H + 600000L
      s"SELECT user_id::BIGINT AS user_id, $t1 AS t, round(1e-9 + sum(value), 6) AS value, " +
        "1::BIGINT AS delta_hit FROM events WHERE event_type = 'click' " +
        s"AND epoch_ms(ts::TIMESTAMP) > ${t1 - 12 * H} " +
        s"AND epoch_ms(ts::TIMESTAMP) <= $t1 GROUP BY user_id ORDER BY user_id"
    }),
    // O7 extended to the AGGREGATED dashboard shape (r12):
    // `sum(fn(m[w])) by (labels)` is served from the same per-series delta
    // cache (keyed on the INNER rollup, eval.go:1176 under the
    // incremental-aggregation wrapper) with the series-scale aggregation
    // on top — the refresh scans two 10-minute windows, not 12h, and must
    // hash-match DuckDB's full recompute at t1; delta_hit pins the path.
    Q("ev_instant_delta_agg", (s, dir) => {
      graft.Engine.clearCache()
      val full = Samples.fromEvents(s, dir)
      val t0 = START + 24 * H
      val t1 = t0 + 600000L
      val q = "sum(count_over_time(click[12h])) by (user_id)"
      graft.Engine.queryInstantCached(full, q, GridSpec(t0, t0, H), 2 * H).count()
      val before = graft.Engine.instantCacheStats
      val delta = graft.Engine.queryInstantCached(full, q, GridSpec(t1, t1, H), 2 * H)
      val hit = graft.Engine.instantCacheStats.deltaHits - before.deltaHits
      delta.select(
          col("tags").getItem("user_id").cast("bigint").as("user_id"),
          col("t"), r6(col("value")).as("value"),
          lit(hit).cast("bigint").as("delta_hit"))
        .orderBy("user_id")
    }, Some {
      val t1 = START + 24 * H + 600000L
      s"SELECT user_id::BIGINT AS user_id, $t1 AS t, " +
        "round(1e-9 + count(*), 6) AS value, " +
        "1::BIGINT AS delta_hit FROM events WHERE event_type = 'click' " +
        s"AND epoch_ms(ts::TIMESTAMP) > ${t1 - 12 * H} " +
        s"AND epoch_ms(ts::TIMESTAMP) <= $t1 GROUP BY user_id ORDER BY user_id"
    }),
    // Downsampling-aware query ROUTING (r11): a coarse-step query routes
    // to the downsampled tier (Engine.queryRouted — the vmselect
    // per-query resolution pick) and must read the SAME values the
    // full-res store yields on an interval-aligned grid, because
    // downsampling keeps the last sample per end-aligned interval and
    // the keep-last family only ever reads that sample. Emitted as the
    // full-res point count (DuckDB-replayable) plus the equality law.
    Q("ev_downsample_routing", (s, dir) => {
      val full = Samples.fromEvents(s, dir)
      val tier = graft.pipeline.Dedup.downsample(full,
        Seq(graft.pipeline.Dedup.DownsamplePeriod(None, 0L, 6 * H)),
        nowMs = END + D)
      val grid6 = GridSpec(START + 6 * H, START + 48 * H, 6 * H)
      val routed = graft.Engine.queryRouted(
        full.filter(col("name") === "click"), Map(6 * H -> tier.filter(col("name") === "click")),
        "click", grid6, 2 * H)
      val direct = graft.Engine.query(
        full.filter(col("name") === "click"), "click", grid6, 2 * H)
      def key(df: DataFrame) = df.select(
        col("tags").getItem("user_id").as("uid"), col("t"),
        r6(col("value")).as("v"))
      val mism = key(routed).exceptAll(key(direct))
        .unionByName(key(direct).exceptAll(key(routed)))
        .agg(count(lit(1)).as("_m"))
      key(direct).agg(count(lit(1)).as("n_points")).crossJoin(mism)
        .select(col("n_points"),
          (col("_m") === 0).cast("bigint").as("routing_ok"))
    }, Some(s"SELECT count(*)::BIGINT AS n_points, 1::BIGINT AS routing_ok FROM (" +
      s"SELECT DISTINCT e.user_id, g.t FROM (SELECT unnest(generate_series(" +
      s"${START + 6 * H}, ${START + 48 * H}, ${6 * H})) AS t) g " +
      "JOIN events e ON e.event_type = 'click' " +
      // bare-selector window = max(step, lookback) = the 6h step
      // (Eval: default_rollup widens its step window to the lookback)
      s"AND epoch_ms(e.ts::TIMESTAMP) > g.t - ${6 * H} " +
      "AND epoch_ms(e.ts::TIMESTAMP) <= g.t)")),
    // INCREMENTAL tier maintenance (r13, SampleStore.downsampleNewDates —
    // the downsampling sibling of bucketizeNewDates, the reference's
    // background-merge downsampling at partition.go:535): two-phase write
    // (clicks, then every other metric landing LATE into the same dates)
    // with a maintenance run after each — the changed-date rebuilds must
    // produce EXACTLY the full keep-last-per-6h-bucket semantics DuckDB
    // recomputes from scratch (max-ts sample per series per end-aligned
    // bucket, max value on ts ties).
    Q("ev_downsample_incremental", (s, dir) => {
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val root = s"target/ds_incr$tag"
      val store = s"$root/store"
      val tier = s"$root/tier"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
      val samples = Samples.fromEvents(s, dir)
      graft.core.SampleStore.write(samples.filter(col("name") === "click"),
        store, org.apache.spark.sql.SaveMode.Overwrite)
      graft.core.SampleStore.downsampleNewDates(s, store, tier, 6 * H)
      graft.core.SampleStore.write(samples.filter(col("name") =!= "click"), store)
      graft.core.SampleStore.downsampleNewDates(s, store, tier, 6 * H)
      graft.core.SampleStore.read(s, tier)
        .select(col("name"),
          col("tags").getItem("user_id").cast("bigint").as("user_id"),
          col("ts"), r6(col("value")).as("value"))
        .orderBy("name", "user_id", "ts")
    }, Some {
      val iv = 6 * H
      "WITH b AS (SELECT event_type AS name, user_id, " +
        "epoch_ms(ts::TIMESTAMP) AS tms, value FROM events), " +
        s"k AS (SELECT name, user_id, ((tms + $iv - 1) // $iv) * $iv AS bkt, " +
        "max(tms) AS ts, last(value ORDER BY tms, value) AS value " +
        "FROM b GROUP BY name, user_id, bkt) " +
        "SELECT name, user_id::BIGINT AS user_id, ts, " +
        "round(1e-9 + value, 6) AS value FROM k ORDER BY name, user_id, ts"
    }),
    // multimodal plumbing (stubbed decode) — rows-only
    // REAL decode gate: encode one PNG per document (dims + gray level
    // arithmetic in doc_id), decode with javax.imageio, and let the SQL
    // oracle predict what a correct decoder must report. mean_luma of a
    // solid gray (g,g,g) image is g·(0.299+0.587+0.114) = g.
    Q("mm_image_features", (s, dir) =>
      graft.pipeline.Multimodal.imageFeatures(
        graft.pipeline.Multimodal.pngFixtureFromDocuments(s, dir)).toDF()
        .select(col("media_id"), col("width"), col("height"), col("channels"),
          r6(col("mean_luma")).as("mean_luma"))
        .orderBy("media_id"),
      Some("SELECT doc_id AS media_id, (16 + doc_id % 16)::INT AS width, " +
        "(16 + (7 * doc_id) % 16)::INT AS height, 3 AS channels, " +
        "round(1e-9 + (doc_id % 256), 6) AS mean_luma " +
        "FROM documents ORDER BY media_id")),
    // STUB fallback path with an ARITHMETIC undecodable fixture (r10,
    // closing the rows-only class): byte j of doc id is (7·id+13·j)%256
    // over 100+id%50 bytes, so width (first byte), height (last byte) and
    // mean luma are exact SQL — decodeImageStub's abs() of a SIGNED byte
    // is CASE WHEN b<128 THEN b ELSE 256-b END
    Q("mm_stub_features", (s, dir) =>
      graft.pipeline.Multimodal.imageFeatures(
        graft.pipeline.Multimodal.stubFixtureFromDocuments(s, dir)).toDF()
        .select(col("media_id"), col("width"), col("height"), col("channels"),
          r6(col("mean_luma")).as("mean_luma"))
        .orderBy("media_id"),
      Some("WITH d AS (SELECT doc_id, 100 + doc_id % 50 AS n FROM documents), " +
        "b AS (SELECT doc_id, n, (7*doc_id) % 256 AS b0, " +
        "(7*doc_id + 13*(n-1)) % 256 AS bl FROM d), " +
        "l AS (SELECT doc_id, avg((7*doc_id + 13*i) % 256) AS ml " +
        "FROM (SELECT doc_id, unnest(range(0, n)) AS i FROM d) GROUP BY doc_id) " +
        "SELECT b.doc_id AS media_id, " +
        "(64 + (CASE WHEN b0 < 128 THEN b0 ELSE 256 - b0 END) % 64)::INT AS width, " +
        "(64 + (CASE WHEN bl < 128 THEN bl ELSE 256 - bl END) % 64)::INT AS height, " +
        "3 AS channels, round(1e-9 + l.ml, 6) AS mean_luma " +
        "FROM b JOIN l ON l.doc_id = b.doc_id ORDER BY media_id")),
    // REAL audio decode gate: RIFF/PCM WAVs carrying a Nyquist square
    // wave, so RMS = peak = a/32768 and zcr = 1 exactly (Multimodal
    // .wavFixtureFromDocuments); decode is the JDK sampled-audio SPI
    Q("mm_audio_features", (s, dir) =>
      graft.pipeline.Multimodal.audioFeatures(
        graft.pipeline.Multimodal.wavFixtureFromDocuments(s, dir)).toDF()
        .select(col("media_id"), col("sample_rate"), col("channels"),
          col("frames"), r6(col("duration_ms")).as("duration_ms"),
          r6(col("rms")).as("rms"), r6(col("peak")).as("peak"),
          r6(col("zero_crossing_rate")).as("zero_crossing_rate"))
        .orderBy("media_id"),
      Some("SELECT doc_id AS media_id, 8000 AS sample_rate, 1 AS channels, " +
        "(800 + doc_id % 800)::BIGINT AS frames, " +
        "round(1e-9 + (800 + doc_id % 800) / 8.0, 6) AS duration_ms, " +
        "round(1e-9 + (1000 + (doc_id % 7) * 3000) / 32768.0, 6) AS rms, " +
        "round(1e-9 + (1000 + (doc_id % 7) * 3000) / 32768.0, 6) AS peak, " +
        "round(1e-9 + 1.0, 6) AS zero_crossing_rate " +
        "FROM documents ORDER BY media_id")),
    // byte-chunk frame sampling over text-as-bytes media: the chunk-count
    // + chunk-length LAWS are oracle-stateable (r10, ex rows-only) —
    // ceil(utf8len/64) chunks, every 4th kept, all 64 bytes but the tail
    Q("mm_frames", (s, dir) =>
      graft.pipeline.Multimodal.sampleFrames(
        graft.pipeline.Multimodal.mediaFromDocuments(s, dir), 64, 4)
        .toDF().select(col("media_id"), col("frame_no"),
          length(col("bytes")).as("frame_len"))
        .orderBy("media_id", "frame_no"),
      Some("WITH d AS (SELECT doc_id, octet_length(encode(text)) AS len FROM documents), " +
        "fr AS (SELECT doc_id, len, CAST(ceil(len/64.0) AS BIGINT) AS nc FROM d), " +
        "u AS (SELECT doc_id, len, nc, unnest(range(0, nc)) AS i FROM fr) " +
        "SELECT doc_id AS media_id, i::INT AS frame_no, " +
        "(CASE WHEN i = nc - 1 THEN len - 64*i ELSE 64 END)::INT AS frame_len " +
        "FROM u WHERE i % 4 = 0 ORDER BY media_id, frame_no")),
    // REAL multi-frame extraction gate: animated GIFs with an arithmetic
    // frame count (2 + id%4) and per-frame solid gray (id + 31·f) % 256;
    // the JDK GIF reader decodes every frame and the oracle predicts
    // count and luma exactly (solid gray survives the palette).
    Q("mm_gif_frames", (s, dir) =>
      graft.pipeline.Multimodal.frameStats(
        graft.pipeline.Multimodal.sampleFrames(
          graft.pipeline.Multimodal.gifFixtureFromDocuments(s, dir), 64, 1))
        .select(col("media_id"), col("frame_no"), r6(col("luma")).as("luma"))
        .orderBy("media_id", "frame_no"),
      Some("WITH fr AS (SELECT doc_id, unnest(range(0, 2 + doc_id % 4)) AS f FROM documents) " +
        "SELECT doc_id AS media_id, f::INT AS frame_no, " +
        "round(1e-9 + (doc_id + 31 * f) % 256, 6) AS luma " +
        "FROM fr ORDER BY media_id, frame_no")))

  // =====================================================================
  private val relationalQueries: Seq[Q] = Seq(
    // TPC-H Q1-shaped pricing summary: scan + filter + groupBy agg
    Q("q1_agg", (s, dir) => {
      Samples.table(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          r6(sum("l_quantity")).as("sum_qty"),
          r6(sum("l_extendedprice")).as("sum_base_price"),
          r6(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("sum_disc_price"),
          r6(avg("l_quantity")).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }, Some(
      "SELECT l_returnflag, l_linestatus, round(1e-9 + sum(l_quantity), 6) AS sum_qty, " +
        "round(1e-9 + sum(l_extendedprice), 6) AS sum_base_price, " +
        "round(1e-9 + sum(l_extendedprice * (1 - l_discount)), 6) AS sum_disc_price, " +
        "round(1e-9 + avg(l_quantity), 6) AS avg_qty, count(*) AS count_order " +
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02' " +
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus")),
    // TPC-H Q3-shaped: 3-way join, revenue by market segment × month.
    // customer is tiny → broadcast; only the lineitem↔orders join shuffles.
    Q("q3_join_agg", (s, dir) => {
      val li = Samples.table(s, dir, "lineitem")
      val o = Samples.table(s, dir, "orders")
      val c = Samples.table(s, dir, "customer")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"),
          year(col("o_orderdate")).as("o_year"), month(col("o_orderdate")).as("o_month"))
        .agg(r6(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue"),
          count(lit(1)).as("n"))
        .orderBy("c_mktsegment", "o_year", "o_month")
    }, Some(
      "SELECT c_mktsegment, year(o_orderdate) AS o_year, month(o_orderdate) AS o_month, " +
        "round(1e-9 + sum(l_extendedprice * (1 - l_discount)), 6) AS revenue, count(*) AS n " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "GROUP BY c_mktsegment, o_year, o_month ORDER BY c_mktsegment, o_year, o_month")),
    // TPC-H Q5-shaped: snowflake dims (supplier→nation→region broadcast)
    Q("q5_region_revenue", (s, dir) => {
      val li = Samples.table(s, dir, "lineitem")
      val sup = Samples.table(s, dir, "supplier")
      val nat = Samples.table(s, dir, "nation")
      val reg = Samples.table(s, dir, "region")
      val dims = sup.join(nat, col("s_nationkey") === col("n_nationkey"))
        .join(reg, col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"), col("r_name"))
      li.join(broadcast(dims), col("l_suppkey") === col("s_suppkey"))
        .groupBy("r_name")
        .agg(r6(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue"))
        .orderBy("r_name")
    }, Some(
      "SELECT r_name, round(1e-9 + sum(l_extendedprice * (1 - l_discount)), 6) AS revenue " +
        "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN nation ON s_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey " +
        "GROUP BY r_name ORDER BY r_name")),
    // broadcast dim join + agg by brand
    Q("q_part_brand", (s, dir) => {
      val li = Samples.table(s, dir, "lineitem")
      val p = Samples.table(s, dir, "part")
      li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(r6(sum("l_quantity")).as("sum_qty"),
          r6(avg("l_extendedprice")).as("avg_price"))
        .orderBy("p_brand")
    }, Some(
      "SELECT p_brand, round(1e-9 + sum(l_quantity), 6) AS sum_qty, " +
        "round(1e-9 + avg(l_extendedprice), 6) AS avg_price " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "GROUP BY p_brand ORDER BY p_brand")))

  // =====================================================================
  // MetricsQL end-to-end: text → Parser → Eval → DataFrame (the full
  // engine path, exec.go:36 Exec equivalent). Same oracle data as the
  // operator-level queries, so the SQL mirrors the §2.2-§2.5 forms.
  // =====================================================================
  /** run a MetricsQL query through the engine on the samples mapping of
    * the events table; staleness lookback 2h (matches ro_default_rollup).
    */
  private def eng(q: String, grid: GridSpec = gridH)(
      proj: DataFrame => DataFrame): (SparkSession, String) => DataFrame =
    (s, dir) => proj(Engine.query(Samples.fromEvents(s, dir), q, grid, 2 * H))

  private val uid = col("tags").getItem("user_id").cast("bigint").as("user_id")

  /** write-once-per-dir series-bucketed events store (SampleStore
    * .writeBucketed) shared by every `src_bucketed_*` gate
    */
  private val bucketedBuilt = scala.collection.concurrent.TrieMap.empty[String, String]
  private def bucketedStore(s: SparkSession, dir: String): DataFrame = {
    val table = bucketedBuilt.getOrElseUpdate(dir, {
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      // buckets = cores: an exchange-free plan inherits the SCAN's
      // parallelism (no exchange = no chance to re-spread), so the
      // bucket count IS the plan's width — 8 buckets ran the two-level
      // counter merge on a quarter of the machine (5.0 s vs 1.7 s flat)
      graft.core.SampleStore.writeBucketed(
        Samples.fromEvents(s, dir), s"bucketed_events$tag",
        s"target/bucketed_events$tag", buckets = 32)
      // tag→names side index for the nameless-lookup gate (r12)
      graft.core.SampleStore.buildTagIndex(Samples.fromEvents(s, dir),
        graft.core.SampleStore.tagIndexPath(s"target/bucketed_events$tag"))
      s"bucketed_events$tag"
    })
    graft.core.SampleStore.readBucketed(s, table)
  }

  private def bucketedIndex(s: SparkSession, dir: String): DataFrame = {
    bucketedStore(s, dir) // ensure built
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    graft.core.SampleStore.readTagIndex(s,
      graft.core.SampleStore.tagIndexPath(s"target/bucketed_events$tag"))
  }

  /** exact J≥0.6 n-gram pair CTE chain, shared by `doc_ngram_pairs` and
    * the `doc_minhash_dedup` recall gate
    */
  private lazy val ngramPairsSqlCte: String =
    s"WITH w AS (SELECT doc_id, $SQL_TOKS AS toks FROM documents), " +
      "s AS (SELECT doc_id, CASE WHEN len(toks) >= 3 THEN " +
      "list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] FOR i IN range(1, len(toks) - 1)]) " +
      "ELSE [array_to_string(toks, ' ')] END AS sh FROM w), " +
      "sz AS (SELECT doc_id, len(sh) AS n FROM s), " +
      "p AS (SELECT doc_id, unnest(sh) AS g FROM s), " +
      "i AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::DOUBLE AS inter FROM p a " +
      "JOIN p b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
      "pairs AS (SELECT id_a, id_b, j FROM (" +
      "SELECT id_a, id_b, inter / (sa.n + sb.n - inter) AS j FROM i " +
      "JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b) " +
      "WHERE j >= 0.6)"

  /** ANN recall-vs-brute-force gate helpers (r8 verdict task 4): the
    * approximate rank lists are not SQL-replayable, but the OVERLAP with
    * the brute-force truth is a computable invariant — the gate emits it
    * with the recall floor encoded in the query, so the driver's DuckDB
    * compare catches a recall regression, not just a row-count change.
    */
  private def annHits(truth: DataFrame, approx: DataFrame): DataFrame =
    truth.select("q_id", "c_id")
      .join(approx.select("q_id", "c_id"), Seq("q_id", "c_id"), "left_semi")

  /** single-row summary: (n_queries, recall_ok = total hits ≥ floor) */
  private def annRecallSummary(
      queries: DataFrame, truth: DataFrame, approx: DataFrame, floorHits: Int): DataFrame =
    queries.agg(countDistinct(col("vec_id")).as("n_queries"))
      .crossJoin(annHits(truth, approx).agg(count(lit(1)).as("_hits")))
      .select(col("n_queries"),
        (col("_hits") >= floorHits).cast("bigint").as("recall_ok"))

  private lazy val annSummaryOracle: String =
    "SELECT count(DISTINCT vec_id) AS n_queries, 1::BIGINT AS recall_ok " +
      "FROM embeddings WHERE vec_id < 10"

  /** on(user_id) division oracle, shared by the flat-store `eval_div_on`
    * and the bucketed-store `src_bucketed_binop`
    */
  private lazy val divOnSql: String =
    s"WITH b AS ($BH), " +
      "p AS (SELECT user_id, t, avg(value) AS pv FROM b WHERE name = 'purchase' GROUP BY user_id, t), " +
      "c AS (SELECT user_id, t, avg(value) AS cv FROM b WHERE name = 'click' GROUP BY user_id, t) " +
      "SELECT user_id::BIGINT AS user_id, t, round(1e-9 + pv / cv, 6) AS value " +
      "FROM p JOIN c USING (user_id, t) ORDER BY user_id, t"

  /** TSBS counter oracle (shared by the flat-store `ro_tsbs_increase` and
    * the bucketed-store `src_bucketed_increase` — both must match it).
    */
  private lazy val tsbsIncreaseSql: String =
    s"WITH ${prevRangeCtes(60000L, 12 * H, START, START + 7 * D)}, " +
      s"${fillZeroCte(60000L, s"${12 * H}", START, START + 7 * D)} " +
      s"SELECT user_id::BIGINT AS user_id, t, " +
      s"round(1e-9 + ${deltaChainSql(12 * H, corrected = true)}, 6) AS value " +
      s"FROM f $fillZeroArm ORDER BY user_id, t"

  /** DuckDB mirror of the reference-exact Holt-Winters recursion
    * (rollup.go:1030 via Kernels.holtWinters): a RECURSIVE CTE replays the
    * (s, b) state over each (keys…, hour-window)'s samples in (tms, value)
    * order — s0 seeds from the eligible pre-window sample (pts > t − H −
    * mpi, mpi from the trailing-20 scrape-interval rule), an unseeded
    * window consumes its first value as s0, b0 = first looped value − s0.
    * Closes the "holt_winters has no oracle" gap (VERDICT r4 missing #3):
    * recursion IS expressible in SQL, just not in closed form.
    * `capMs` = 0 → uncapped maxPrevInterval (the operator-path default).
    */
  private def holtSql(key: String, keyExpr: String, filter: String,
      sf: Double, tf: Double, capMs: Long): String = {
    val (sfL, sfC, tfL, tfC) = (sf.toString, (1 - sf).toString, tf.toString, (1 - tf).toString)
    val mpiCase = "CASE WHEN si<=2000 THEN si*5 WHEN si<=4000 THEN si*3 WHEN si<=8000 THEN si*2 " +
      "WHEN si<=16000 THEN si*1.5 WHEN si<=32000 THEN si*1.25 ELSE si*1.125 END"
    val mpiExpr = if (capMs > 0) s"least($mpiCase, $capMs)" else mpiCase
    s"WITH RECURSIVE l0 AS (SELECT $keyExpr AS $key, epoch_ms(ts::TIMESTAMP) AS tms, value FROM events $filter), " +
      s"l1 AS (SELECT *, lag(value) OVER w AS pv, lag(tms) OVER w AS pts FROM l0 " +
      s"WINDOW w AS (PARTITION BY $key ORDER BY tms, value)), " +
      s"mq AS (SELECT $key, quantile_cont(CASE WHEN rn <= 20 THEN tms - pts END, 0.6) AS q " +
      s"FROM (SELECT $key, tms, pts, row_number() OVER (PARTITION BY $key ORDER BY tms DESC, value DESC) AS rn " +
      s"FROM l1) GROUP BY $key), " +
      s"m AS (SELECT $key, floor($mpiExpr)::BIGINT AS mpi FROM (SELECT $key, " +
      s"coalesce(CASE WHEN floor(q) > 0 THEN floor(q) END, $H::DOUBLE) AS si FROM mq)), " +
      s"wd AS (SELECT *, row_number() OVER (PARTITION BY $key, t ORDER BY tms, value) AS rn, " +
      s"count(*) OVER (PARTITION BY $key, t) AS n " +
      s"FROM (SELECT l1.*, ((tms + ${H - 1}) // $H) * $H AS t FROM l1)), " +
      // base: rn=1 — a seeded window runs one smoothing step on its first
      // value; an unseeded one consumes it as s0 (b = NULL sentinel)
      s"rec AS (SELECT $key, t, rn, n, " +
      s"CASE WHEN seeded THEN $sfL*value + $sfC*(pv + (value - pv)) ELSE value END AS s, " +
      s"CASE WHEN seeded THEN $tfL*(($sfL*value + $sfC*(pv + (value - pv))) - pv) + $tfC*(value - pv) " +
      "ELSE NULL END AS b " +
      s"FROM (SELECT wd.*, (pts IS NOT NULL AND pts > t - $H - m.mpi) AS seeded " +
      s"FROM wd JOIN m USING ($key)) WHERE rn = 1 " +
      "UNION ALL " +
      s"SELECT $key, t, rn, n, s1 AS s, $tfL*(s1 - s0) + $tfC*b0 AS b " +
      s"FROM (SELECT q.*, $sfL*value + $sfC*(s0 + b0) AS s1 FROM (" +
      s"SELECT w2.$key AS $key, w2.t AS t, w2.rn AS rn, w2.n AS n, w2.value AS value, " +
      "rec.s AS s0, coalesce(rec.b, w2.value - rec.s) AS b0 " +
      s"FROM rec JOIN wd w2 ON w2.$key = rec.$key " +
      "AND w2.t = rec.t AND w2.rn = rec.rn + 1) q)) "
  }

  /** DuckDB mirror of the engine's per-series prev pass (Rollup.prevPass):
    * lag/lead, reset-corrected values, 0.6-quantile scrape interval →
    * jitter-inflated maxPrevInterval capped at the 2h lookback, and the
    * per-window first/last/seed columns the delta/rate chains consume.
    * `step` = bucket width of the evaluation grid (also the scrape-interval
    * fallback for single-sample series, like prevPass).
    */
  private def prevSeriesCtes(step: Long, nameFilter: String,
      winMs: Long = -1L): String = {
    // stalenessInterval = lookbackDelta + window (rollup.go:380-387); the
    // engine passes its effective window, which for the step-bucket gates
    // equals the grid step. Gaps above it reset the counter correction
    // (issue 8072), and corrected values are clamped monotone per segment
    // (issue 5571) — the mirror of Rollup.prevPass's segmented running max.
    val stale = 2 * H + (if (winMs >= 0) winMs else step)
    s"l0 AS (SELECT user_id, epoch_ms(ts::TIMESTAMP) AS tms, value FROM events " +
      s"WHERE event_type = '$nameFilter'), " +
      "l1 AS (SELECT *, lag(value) OVER w AS pv, lag(tms) OVER w AS pts, " +
      "lead(value) OVER w AS nv, " +
      s"CASE WHEN lag(tms) OVER w IS NOT NULL AND tms - lag(tms) OVER w > $stale " +
      "THEN 1 ELSE 0 END AS brk, " +
      s"CASE WHEN lag(tms) OVER w IS NOT NULL AND tms - lag(tms) OVER w > $stale THEN 0 " +
      "WHEN lag(value) OVER w IS NOT NULL AND value < lag(value) OVER w THEN " +
      "(CASE WHEN (lag(value) OVER w - value) * 8 < lag(value) OVER w " +
      "THEN lag(value) OVER w - value ELSE lag(value) OVER w END) ELSE 0 END AS cs " +
      "FROM l0 WINDOW w AS (PARTITION BY user_id ORDER BY tms, value)), " +
      "l1s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY tms, value " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg FROM l1), " +
      "l2a AS (SELECT *, value + sum(cs) OVER ws AS cvr FROM l1s " +
      "WINDOW ws AS (PARTITION BY user_id, seg ORDER BY tms, value " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), " +
      "l2 AS (SELECT *, max(cvr) OVER ws AS cv FROM l2a " +
      "WINDOW ws AS (PARTITION BY user_id, seg ORDER BY tms, value " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), " +
      "l3 AS (SELECT *, lag(cv) OVER w AS cpv, lead(cv) OVER w AS cnv FROM l2 " +
      "WINDOW w AS (PARTITION BY user_id ORDER BY tms, value)), " +
      // scrape interval: 0.6-quantile of the LAST 20 gaps, truncated to
      // whole ms, non-positive → step (rollup.go:871 getScrapeInterval)
      "m AS (SELECT user_id, floor(least(" +
      "CASE WHEN si<=2000 THEN si*5 WHEN si<=4000 THEN si*3 WHEN si<=8000 THEN si*2 " +
      s"WHEN si<=16000 THEN si*1.5 WHEN si<=32000 THEN si*1.25 ELSE si*1.125 END, ${2 * H}))::BIGINT AS mpi " +
      "FROM (SELECT user_id, coalesce(CASE WHEN floor(q) > 0 THEN floor(q) END, " +
      s"$step::DOUBLE) AS si " +
      "FROM (SELECT user_id, quantile_cont(CASE WHEN rn <= 20 THEN tms - pts END, 0.6) AS q " +
      "FROM (SELECT user_id, tms, pts, value, " +
      "row_number() OVER (PARTITION BY user_id ORDER BY tms DESC, value DESC) AS rn FROM l3) " +
      "GROUP BY user_id)))"
  }

  /** per-(series, window) first/last/seed aggregate list the delta/rate
    * chains consume — shared by the step-bucket and range-join groupings
    */
  private def prevGroupAggs: String = // def: referenced during object init
    "count(*) AS n, " +
      "first(value ORDER BY tms, value) AS v0, last(value ORDER BY tms, value) AS vl, " +
      "first(tms ORDER BY tms, value) AS fts, last(tms ORDER BY tms, value) AS lts, " +
      "first(pv ORDER BY tms, value) AS fpv, first(pts ORDER BY tms, value) AS fpts, " +
      "last(nv ORDER BY tms, value) AS lnv, " +
      "first(cv ORDER BY tms, value) AS cv0, last(cv ORDER BY tms, value) AS cvl, " +
      "first(cpv ORDER BY tms, value) AS fcpv, last(cnv ORDER BY tms, value) AS lcnv, " +
      "list(value ORDER BY tms, value) AS vs, list(cv ORDER BY tms, value) AS cvs, " +
      "list(tms ORDER BY tms, value) AS tss"

  /** empty-window zero-fill rows for the delta/rate/changes family
    * (rollup.go per-kernel `len(values)==0 && !IsNaN(prevValue)` → 0; the
    * oracle mirror of Rollup.zeroFillEmptyWindows): grid points with no
    * sample in (t-win, t], a prev sample within (t-win-mpi, t-win], and a
    * later in-range sample (`i < len(timestamps)`, rollup.go:780).
    * `winSql` may reference m.mpi (auto-adjusted windows).
    */
  private def fillZeroCte(gridStep: Long, winSql: String,
      gridStart: Long = START, gridEnd: Long = END): String =
    s"fz AS (SELECT m.user_id, gg.t FROM m " +
      s"CROSS JOIN (SELECT unnest(generate_series($gridStart, $gridEnd, $gridStep)) AS t) gg " +
      s"WHERE NOT EXISTS (SELECT 1 FROM l3 s WHERE s.user_id = m.user_id " +
      s"AND s.tms > gg.t - ($winSql) AND s.tms <= gg.t) " +
      s"AND EXISTS (SELECT 1 FROM l3 p WHERE p.user_id = m.user_id " +
      s"AND p.tms <= gg.t - ($winSql) AND p.tms > gg.t - ($winSql) - m.mpi) " +
      s"AND EXISTS (SELECT 1 FROM l3 x WHERE x.user_id = m.user_id AND x.tms > gg.t - ($winSql)))"

  /** zero-fill union arm shared by the counter-family oracles */
  private def fillZeroArm: String =
    " UNION ALL SELECT user_id::BIGINT AS user_id, t, 0.0::DOUBLE AS value FROM fz "

  private def prevCtes(step: Long, nameFilter: String = "click"): String =
    s"${prevSeriesCtes(step, nameFilter)}, " +
      s"g AS (SELECT user_id, ((tms + ${step - 1}) // $step) * $step AS t, $prevGroupAggs " +
      "FROM l3 GROUP BY user_id, t), " +
      "f AS (SELECT g.*, mpi FROM g JOIN m USING (user_id))"

  /** prevCtes for window ≫ step: the window's samples come from a grid
    * range join instead of one owning step bucket (the oracle mirror of the
    * engine's two-level counter plan, Rollup.rollupTwoLevel withPrev).
    */
  private def prevRangeCtes(step: Long, windowMs: Long, gridStart: Long,
      gridEnd: Long, nameFilter: String = "click"): String =
    s"${prevSeriesCtes(step, nameFilter, winMs = windowMs)}, " +
      s"g0 AS (SELECT unnest(generate_series($gridStart, $gridEnd, $step)) AS t), " +
      s"j AS (SELECT l3.*, g0.t FROM g0 JOIN l3 ON l3.tms > g0.t - $windowMs AND l3.tms <= g0.t), " +
      s"g AS (SELECT user_id, t, $prevGroupAggs FROM j GROUP BY user_id, t), " +
      "f AS (SELECT g.*, mpi FROM g JOIN m USING (user_id))"

  /** rollupDelta chain over `f` rows: prevValue/realPrevValue seed →
    * zero-seed heuristic → skip-first fallback (rollup.go:114-160);
    * `corrected` switches to the reset-corrected value columns (increase).
    */
  private def deltaChainSql(windowMs: Long, corrected: Boolean): String = {
    val (v0, vl, pv, second, nxt) =
      if (corrected) ("cv0", "cvl", "fcpv", "cvs[2]", "lcnv")
      else ("v0", "vl", "fpv", "vs[2]", "lnv")
    val d01 = s"CASE WHEN n > 1 THEN $second - $v0 ELSE coalesce($nxt - $v0, 0) END"
    s"CASE WHEN fpts IS NOT NULL AND (fpts > t - $windowMs - mpi OR fts - fpts < ${2 * H}) " +
      s"THEN $vl - $pv " +
      s"WHEN abs($v0) < 10 * (abs($d01) + 1) THEN $vl " +
      s"WHEN n > 1 THEN $vl - $v0 ELSE 0 END"
  }

  /** stream-aggregation rate_sum/rate_avg oracle (lib/streamaggr/rate.go):
    * per-series per-interval increase over the prev-interval gap, then
    * sum/avg across contributing series per metric name.
    */
  private def rateBatchSql(suffix: String, agg: String): String =
    "WITH b AS (SELECT event_type AS nm, user_id, epoch_ms(ts::TIMESTAMP) AS tms, value FROM events), " +
      "d AS (SELECT nm, user_id, tms, value, " +
      "lag(value) OVER (PARTITION BY nm, user_id ORDER BY tms, value) AS pv FROM b), " +
      s"i AS (SELECT nm, user_id, (tms // $D) * $D + $D AS t, " +
      "sum(CASE WHEN pv IS NULL THEN 0 WHEN value >= pv THEN value - pv ELSE value END) AS inc, " +
      "max(tms) AS lastts, min(tms) AS firstts FROM d GROUP BY nm, user_id, t), " +
      "p AS (SELECT *, coalesce(lag(lastts) OVER (PARTITION BY nm, user_id ORDER BY t), firstts) AS pts FROM i), " +
      "r AS (SELECT nm, t, CASE WHEN pts < lastts THEN inc / ((lastts - pts) / 1000.0) END AS sr FROM p) " +
      s"SELECT nm || ':24h_$suffix' AS name, t, round(1e-9 + $agg, 6) AS value " +
      "FROM r WHERE sr IS NOT NULL GROUP BY nm, t ORDER BY name, t"

  /** rollupDerivFast over corrected values (= VM `rate`): dv/dt from the
    * prev sample, else from the window's first; single orphan sample → NULL.
    */
  private def rateChainSql: String =
    s"(CASE WHEN fpts IS NOT NULL AND fpts > t - $D - mpi " +
      "THEN (cvl - fcpv) / ((lts - fpts) / 1000.0) " +
      "WHEN n >= 2 THEN (cvl - cv0) / ((lts - fts) / 1000.0) END)"

  private val evalQueries: Seq[Q] = Seq(
    Q("eval_avg1h", eng("avg_over_time(click[1h])") { df =>
      df.select(col("name"), uid, col("t"), r6(col("value")).as("value"))
        .orderBy("user_id", "t")
    }, Some(s"WITH b AS ($BH) SELECT name, user_id::BIGINT AS user_id, t, " +
      "round(1e-9 + avg(value), 6) AS value FROM b WHERE name = 'click' " +
      "GROUP BY name, user_id, t ORDER BY user_id, t")),
    Q("eval_default", eng("click") { df =>
      df.select(col("name"), uid, col("t"), r6(col("value")).as("value"))
        .orderBy("user_id", "t")
    }, Some(s"WITH g AS (SELECT unnest(generate_series($START, $END, $H)) AS t), " +
      "b AS (SELECT event_type AS name, user_id, epoch_ms(ts::TIMESTAMP) AS tms, value FROM events " +
      "WHERE event_type = 'click'), " +
      s"j AS (SELECT name, user_id, t, tms, value FROM g JOIN b ON b.tms > g.t - ${2 * H} AND b.tms <= g.t) " +
      "SELECT name, user_id::BIGINT AS user_id, t, round(1e-9 + last(value ORDER BY tms, value), 6) AS value " +
      "FROM j GROUP BY name, user_id, t ORDER BY user_id, t")),
    Q("eval_rate", eng("rate(click[1d])", gridD) { df =>
      df.select(uid, col("t"), r6(col("value")).as("value")).orderBy("user_id", "t")
    }, Some(s"WITH ${prevCtes(D)}, ${fillZeroCte(D, s"$D")} " +
      s"SELECT user_id::BIGINT AS user_id, t, round(1e-9 + $rateChainSql, 6) AS value " +
      s"FROM f WHERE $rateChainSql IS NOT NULL $fillZeroArm ORDER BY user_id, t")),
    Q("eval_sum_rate_by", eng("sum(rate(click[1d])) by (user_id)", gridD) { df =>
      df.select(uid, col("t"), r6(col("value")).as("value")).orderBy("user_id", "t")
    }, Some(s"WITH ${prevCtes(D)}, ${fillZeroCte(D, s"$D")} " +
      s"SELECT user_id::BIGINT AS user_id, t, round(1e-9 + $rateChainSql, 6) AS value " +
      s"FROM f WHERE $rateChainSql IS NOT NULL $fillZeroArm ORDER BY user_id, t")),
    Q("eval_sum", eng("sum(avg_over_time(click[1h]))") { df =>
      df.select(col("t"), r4(col("value")).as("value")).orderBy("t")
    }, Some(s"WITH b AS ($BH), a AS (SELECT user_id, t, avg(value) AS v FROM b " +
      "WHERE name = 'click' GROUP BY user_id, t) " +
      "SELECT t, round(1e-9 + sum(v), 4) AS value FROM a GROUP BY t ORDER BY t")),
    Q("eval_quantile", eng("quantile(0.9, avg_over_time(click[1h]))") { df =>
      df.select(col("t"), r6(col("value")).as("value")).orderBy("t")
    }, Some(s"WITH b AS ($BH), a AS (SELECT user_id, t, avg(value) AS v FROM b " +
      "WHERE name = 'click' GROUP BY user_id, t) " +
      "SELECT t, round(1e-9 + quantile_cont(v, 0.9), 6) AS value FROM a GROUP BY t ORDER BY t")),
    Q("eval_topk", eng("topk(2, avg_over_time(click[1h]))") { df =>
      df.select(col("name"), uid, col("t"), r6(col("value")).as("value"))
        .orderBy("t", "user_id")
    }, Some(s"WITH b AS ($BH), a AS (SELECT name, user_id, t, avg(value) AS v FROM b " +
      "WHERE name = 'click' GROUP BY name, user_id, t) " +
      "SELECT name, user_id::BIGINT AS user_id, t, round(1e-9 + v, 6) AS value FROM a " +
      "QUALIFY row_number() OVER (PARTITION BY t ORDER BY v DESC, user_id::VARCHAR ASC) <= 2 " +
      "ORDER BY t, user_id")),
    Q("eval_div_on", eng("avg_over_time(purchase[1h]) / on(user_id) avg_over_time(click[1h])") { df =>
      df.select(uid, col("t"), r6(col("value")).as("value")).orderBy("user_id", "t")
    }, Some(divOnSql)),
    Q("eval_cmp_filter", eng("avg_over_time(click[1h]) > 100") { df =>
      df.select(col("name"), uid, col("t"), r6(col("value")).as("value"))
        .orderBy("user_id", "t")
    }, Some(s"WITH b AS ($BH), a AS (SELECT name, user_id, t, avg(value) AS v FROM b " +
      "WHERE name = 'click' GROUP BY name, user_id, t) " +
      "SELECT name, user_id::BIGINT AS user_id, t, round(1e-9 + v, 6) AS value FROM a " +
      "WHERE v > 100 ORDER BY user_id, t")),
    Q("eval_arith_scalar", eng("avg_over_time(click[1h]) * 2 + 10") { df =>
      df.select(uid, col("t"), r6(col("value")).as("value")).orderBy("user_id", "t")
    }, Some(s"WITH b AS ($BH) SELECT user_id::BIGINT AS user_id, t, " +
      "round(1e-9 + avg(value) * 2 + 10, 6) AS value FROM b WHERE name = 'click' " +
      "GROUP BY user_id, t ORDER BY user_id, t")),
    Q("eval_unless", eng("avg_over_time(purchase[1h]) unless avg_over_time(click[1h])") { df =>
      df.select(col("name"), uid, col("t"), r6(col("value")).as("value"))
        .orderBy("user_id", "t")
    }, Some(s"WITH b AS ($BH), " +
      "p AS (SELECT name, user_id, t, avg(value) AS v FROM b WHERE name = 'purchase' GROUP BY name, user_id, t), " +
      "c AS (SELECT user_id, t FROM b WHERE name = 'click' GROUP BY user_id, t) " +
      "SELECT name, user_id::BIGINT AS user_id, t, round(1e-9 + v, 6) AS value FROM p " +
      "WHERE NOT EXISTS (SELECT 1 FROM c WHERE c.user_id = p.user_id AND c.t = p.t) " +
      "ORDER BY user_id, t")),
    Q("eval_offset", eng("avg_over_time(click[1h] offset 1d)") { df =>
      df.select(col("name"), uid, col("t"), r6(col("value")).as("value"))
        .orderBy("user_id", "t")
    }, Some(s"WITH b AS (SELECT event_type AS name, user_id, " +
      s"((epoch_ms(ts::TIMESTAMP) + $D + ${H - 1}) // $H) * $H AS t, value FROM events " +
      "WHERE event_type = 'click') " +
      "SELECT name, user_id::BIGINT AS user_id, t, round(1e-9 + avg(value), 6) AS value FROM b " +
      s"WHERE t BETWEEN $START AND $END GROUP BY name, user_id, t ORDER BY user_id, t")),
    Q("eval_subquery", eng("max_over_time(avg_over_time(click[1h])[6h:1h])") { df =>
      df.select(col("name"), uid, col("t"), r6(col("value")).as("value"))
        .orderBy("user_id", "t")
    }, Some(s"WITH b AS ($BH), a AS (SELECT name, user_id, t, avg(value) AS v FROM b " +
      "WHERE name = 'click' GROUP BY name, user_id, t), " +
      s"g AS (SELECT unnest(generate_series($START, $END, $H)) AS gt), " +
      s"j AS (SELECT name, user_id, gt, v FROM g JOIN a ON a.t > g.gt - ${6 * H} AND a.t <= g.gt) " +
      "SELECT name, user_id::BIGINT AS user_id, gt AS t, round(1e-9 + max(v), 6) AS value FROM j " +
      "GROUP BY name, user_id, gt ORDER BY user_id, t")),
    Q("eval_with_label_replace", eng(
      """WITH (f(m) = avg_over_time(m[1h])) label_replace(f(click), "host", "u$1", "user_id", "(.*)")""") { df =>
      df.select(col("name"), col("tags").getItem("host").as("host"), col("t"),
        r6(col("value")).as("value")).orderBy("host", "t")
    }, Some(s"WITH b AS ($BH) SELECT name, 'u' || user_id::VARCHAR AS host, t, " +
      "round(1e-9 + avg(value), 6) AS value FROM b WHERE name = 'click' " +
      "GROUP BY name, host, t ORDER BY host, t")),
    Q("eval_and", eng("avg_over_time(purchase[1h]) and avg_over_time(click[1h])") { df =>
      df.select(col("name"), uid, col("t"), r6(col("value")).as("value"))
        .orderBy("user_id", "t")
    }, Some(s"WITH b AS ($BH), " +
      "p AS (SELECT name, user_id, t, avg(value) AS v FROM b WHERE name = 'purchase' GROUP BY name, user_id, t), " +
      "c AS (SELECT user_id, t FROM b WHERE name = 'click' GROUP BY user_id, t) " +
      "SELECT name, user_id::BIGINT AS user_id, t, round(1e-9 + v, 6) AS value FROM p " +
      "WHERE EXISTS (SELECT 1 FROM c WHERE c.user_id = p.user_id AND c.t = p.t) " +
      "ORDER BY user_id, t")),
    Q("eval_or", eng("avg_over_time(purchase[1h]) or avg_over_time(click[1h])") { df =>
      df.select(col("name"), uid, col("t"), r6(col("value")).as("value"))
        .orderBy("name", "user_id", "t")
    }, Some(s"WITH b AS ($BH), " +
      "p AS (SELECT name, user_id, t, avg(value) AS v FROM b WHERE name = 'purchase' GROUP BY name, user_id, t), " +
      "c AS (SELECT name, user_id, t, avg(value) AS v FROM b WHERE name = 'click' GROUP BY name, user_id, t) " +
      "SELECT name, user_id::BIGINT AS user_id, t, round(1e-9 + v, 6) AS value FROM (" +
      "SELECT * FROM p UNION ALL SELECT * FROM c " +
      "WHERE NOT EXISTS (SELECT 1 FROM p WHERE p.user_id = c.user_id AND p.t = c.t)) " +
      "ORDER BY name, user_id, t")),
    Q("eval_bool", eng("avg_over_time(click[1h]) >= bool 100") { df =>
      df.select(uid, col("t"), col("value")).orderBy("user_id", "t")
    }, Some(s"WITH b AS ($BH) SELECT user_id::BIGINT AS user_id, t, " +
      "(avg(value) >= 100)::INT::DOUBLE AS value FROM b WHERE name = 'click' " +
      "GROUP BY user_id, t ORDER BY user_id, t")),
    Q("eval_in_list", eng("floor(avg_over_time(click[1h])) == (100, 101, 102)") { df =>
      df.select(col("name"), uid, col("t"), col("value")).orderBy("user_id", "t")
    }, Some(s"WITH b AS ($BH), a AS (SELECT name, user_id, t, floor(avg(value)) AS v FROM b " +
      "WHERE name = 'click' GROUP BY name, user_id, t) " +
      "SELECT name, user_id::BIGINT AS user_id, t, v AS value FROM a " +
      "WHERE v IN (100, 101, 102) ORDER BY user_id, t")),
    Q("eval_group_left", eng(
      "avg_over_time(purchase[1h]) / on() group_left sum(avg_over_time(purchase[1h]))") { df =>
      df.select(uid, col("t"), r6(col("value")).as("value")).orderBy("user_id", "t")
    }, Some(s"WITH b AS ($BH), " +
      "p AS (SELECT user_id, t, avg(value) AS v FROM b WHERE name = 'purchase' GROUP BY user_id, t), " +
      "tot AS (SELECT t, sum(v) AS tv FROM p GROUP BY t) " +
      "SELECT user_id::BIGINT AS user_id, t, round(1e-9 + v / tv, 6) AS value " +
      "FROM p JOIN tot USING (t) ORDER BY user_id, t")),
    // round(_, 1e-9) before histogram(): avg_over_time's float-sum order varies
    // with partitioning, and an unrounded value at a log-bucket boundary flips
    // buckets between runs (VERDICT r3 "What's wrong" #1). The oracle mirrors
    // the exact same float ops (v / 1e-9, round, * 1e-9).
    Q("eval_hist_quantile", eng(
      "histogram_quantile(0.95, prometheus_buckets(histogram(round(avg_over_time(click[1h]), 0.000000001))))") { df =>
      df.select(col("t"), r6(col("value")).as("value")).orderBy("t")
    }, Some(s"WITH b AS ($BH), $HQCTES " +
      "SELECT t, round(1e-9 + plo + (le - plo) * " +
      "CASE WHEN cum > pc THEN (0.95 * total - pc) / (cum - pc) ELSE 0 END, 6) AS value " +
      "FROM j WHERE cum >= 0.95 * total AND pc < 0.95 * total ORDER BY t")),
    Q("eval_at", eng(s"avg_over_time(click[1h] @ ${(START + D) / 1000})") { df =>
      df.select(col("name"), uid, col("t"), r6(col("value")).as("value"))
        .orderBy("user_id", "t")
    }, Some(s"WITH b AS ($BH), a AS (SELECT name, user_id, round(1e-9 + avg(value), 6) AS value " +
      s"FROM b WHERE name = 'click' AND t = ${START + D} GROUP BY name, user_id), " +
      s"g AS (SELECT unnest(generate_series($START, $END, $H)) AS t) " +
      "SELECT name, user_id::BIGINT AS user_id, t, value FROM a CROSS JOIN g " +
      "ORDER BY user_id, t")),
    // ---- round-3 engine-path widening: every §2.2/§2.3 family reachable
    // ---- from MetricsQL text (VERDICT r2 item 3)
    Q("eval_absent_over_time", eng("""absent_over_time(error{user_id="3"}[1h])""") { df =>
      df.select(col("tags").getItem("user_id").as("user_id"), col("t"), col("value"))
        .orderBy("t")
    }, Some(s"SELECT '3' AS user_id, t, 1.0 AS value " +
      s"FROM (SELECT unnest(generate_series($START, $END, $H)) AS t) g " +
      "WHERE NOT EXISTS (SELECT 1 FROM events e WHERE e.event_type = 'error' AND e.user_id = 3 " +
      s"AND epoch_ms(e.ts::TIMESTAMP) > g.t - $H AND epoch_ms(e.ts::TIMESTAMP) <= g.t) ORDER BY t")),
    Q("eval_stale_samples", eng("stale_samples_over_time(click[1h])") { df =>
      df.select(uid, col("t"), col("value")).orderBy("user_id", "t")
    }, Some(s"WITH b AS ($BH) SELECT user_id::BIGINT AS user_id, t, " +
      "sum(CASE WHEN isnan(value) THEN 1 ELSE 0 END)::DOUBLE AS value FROM b " +
      "WHERE name = 'click' GROUP BY user_id, t ORDER BY user_id, t")),
    Q("eval_holt_winters", eng("holt_winters(click[1h], 0.3, 0.3)") { df =>
      df.select(uid, col("t"), r6(col("value")).as("value")).orderBy("user_id", "t")
    }, Some(holtSql("user_id", "user_id", "WHERE event_type = 'click'",
        0.3, 0.3, capMs = 2 * H) +
      "SELECT user_id::BIGINT AS user_id, t, round(1e-9 + s, 6) AS value " +
      "FROM rec WHERE rn = n ORDER BY user_id, t")),
    Q("eval_hist_quantiles", eng(
      """histogram_quantiles("phi", 0.5, 0.95, prometheus_buckets(histogram(round(avg_over_time(click[1h]), 0.000000001))))""") { df =>
      df.select(col("tags").getItem("phi").as("phi"), col("t"), r6(col("value")).as("value"))
        .orderBy("phi", "t")
    }, Some(s"WITH b AS ($BH), $HQCTES, " +
      "p AS (SELECT unnest([0.5::DOUBLE, 0.95::DOUBLE]) AS phi) " +
      "SELECT phi::VARCHAR AS phi, t, round(1e-9 + plo + (le - plo) * " +
      "CASE WHEN cum > pc THEN (phi * total - pc) / (cum - pc) ELSE 0 END, 6) AS value " +
      "FROM p CROSS JOIN j WHERE cum >= phi * total AND pc < phi * total ORDER BY phi, t")),
    Q("eval_label_map", eng(
      """label_map(avg_over_time(click[1h]), "user_id", "1", "one", "2", "two")""") { df =>
      df.select(col("tags").getItem("user_id").as("uid"), col("t"), r6(col("value")).as("value"))
        .orderBy("uid", "t")
    }, Some(s"WITH b AS ($BH) SELECT " +
      "CASE WHEN user_id::VARCHAR = '1' THEN 'one' WHEN user_id::VARCHAR = '2' THEN 'two' " +
      "ELSE user_id::VARCHAR END AS uid, t, round(1e-9 + avg(value), 6) AS value FROM b " +
      "WHERE name = 'click' GROUP BY uid, t ORDER BY uid, t")),
    Q("eval_increase", eng("increase(click[1d])", gridD) { df =>
      df.select(uid, col("t"), r6(col("value")).as("value")).orderBy("user_id", "t")
    }, Some(s"WITH ${prevCtes(D)}, ${fillZeroCte(D, s"$D")} " +
      s"SELECT user_id::BIGINT AS user_id, t, round(1e-9 + ${deltaChainSql(D, corrected = true)}, 6) AS value " +
      s"FROM f $fillZeroArm ORDER BY user_id, t")),
    Q("eval_delta", eng("delta(click[1d])", gridD) { df =>
      df.select(uid, col("t"), r6(col("value")).as("value")).orderBy("user_id", "t")
    }, Some(s"WITH ${prevCtes(D)}, ${fillZeroCte(D, s"$D")} " +
      s"SELECT user_id::BIGINT AS user_id, t, round(1e-9 + ${deltaChainSql(D, corrected = false)}, 6) AS value " +
      s"FROM f $fillZeroArm ORDER BY user_id, t")),
    Q("eval_changes", eng("changes(click[1d])", gridD) { df =>
      df.select(uid, col("t"), col("value")).orderBy("user_id", "t")
    }, Some(s"WITH ${prevCtes(D)}, ${fillZeroCte(D, s"$D")}, " +
      s"cw AS (SELECT user_id, ((tms + ${D - 1}) // $D) * $D AS t, " +
      "sum(CASE WHEN pv IS NOT NULL AND value != pv THEN 1 ELSE 0 END) AS sumall " +
      "FROM l3 GROUP BY user_id, t) " +
      "SELECT f.user_id::BIGINT AS user_id, f.t AS t, (CASE " +
      "WHEN fpts IS NULL THEN 1 + sumall " +
      s"WHEN fpts > f.t - $D - mpi OR fts - fpts < ${2 * H} THEN sumall " +
      "ELSE 1 + sumall - (CASE WHEN v0 != fpv THEN 1 ELSE 0 END) END)::DOUBLE AS value " +
      s"FROM f JOIN cw ON f.user_id = cw.user_id AND f.t = cw.t $fillZeroArm ORDER BY user_id, t")),
    Q("eval_irate", eng("irate(click[1d])", gridD) { df =>
      df.select(uid, col("t"), r6(col("value")).as("value")).orderBy("user_id", "t")
    }, Some(s"WITH ${prevCtes(D)}, " +
      "r AS (SELECT user_id, t, CASE " +
      "WHEN n >= 2 AND tss[len(tss)] > tss[len(tss)-1] THEN " +
      "(cvs[len(cvs)] - cvs[len(cvs)-1]) / ((tss[len(tss)] - tss[len(tss)-1]) / 1000.0) " +
      s"WHEN n = 1 AND fpts IS NOT NULL AND fpts > t - $D - mpi THEN " +
      "(cv0 - fcpv) / ((fts - fpts) / 1000.0) END AS v FROM f) " +
      "SELECT user_id::BIGINT AS user_id, t, round(1e-9 + v, 6) AS value FROM r " +
      "WHERE v IS NOT NULL ORDER BY user_id, t")),
    Q("eval_resets", eng("resets(click[1d])", gridD) { df =>
      df.select(uid, col("t"), col("value")).orderBy("user_id", "t")
    }, Some(s"WITH ${prevCtes(D)}, ${fillZeroCte(D, s"$D")}, " +
      s"cw AS (SELECT user_id, ((tms + ${D - 1}) // $D) * $D AS t, " +
      "sum(CASE WHEN pv IS NOT NULL AND value < pv THEN 1 ELSE 0 END) AS decall " +
      "FROM l3 GROUP BY user_id, t) " +
      "SELECT f.user_id::BIGINT AS user_id, f.t AS t, (CASE " +
      "WHEN fpts IS NULL THEN decall " +
      s"WHEN fpts > f.t - $D - mpi THEN decall " +
      "ELSE decall - (CASE WHEN v0 < fpv THEN 1 ELSE 0 END) END)::DOUBLE AS value " +
      s"FROM f JOIN cw ON f.user_id = cw.user_id AND f.t = cw.t $fillZeroArm ORDER BY user_id, t")),
    // running_* operate on the DENSE grid: after a series' first sample,
    // every grid point emits the running value, gaps carrying it forward
    // (transform.go:1325 — NaN positions get prevValue)
    Q("eval_running_sum", eng("running_sum(avg_over_time(click[1h]))") { df =>
      df.select(uid, col("t"), r4(col("value")).as("value")).orderBy("user_id", "t")
    }, Some(s"WITH b AS ($BH), a AS (SELECT user_id, t, avg(value) AS v FROM b " +
      "WHERE name = 'click' GROUP BY user_id, t), " +
      s"g AS (SELECT unnest(generate_series($START, $END, $H)) AS t), " +
      "u AS (SELECT DISTINCT user_id FROM a), " +
      "d AS (SELECT u.user_id, g.t, a.v FROM u CROSS JOIN g " +
      "LEFT JOIN a ON a.user_id = u.user_id AND a.t = g.t), " +
      "r AS (SELECT user_id, t, " +
      "sum(v) OVER (PARTITION BY user_id ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rv, " +
      "count(v) OVER (PARTITION BY user_id ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nv " +
      "FROM d) " +
      "SELECT user_id::BIGINT AS user_id, t, round(1e-9 + rv, 4) AS value " +
      "FROM r WHERE nv >= 1 ORDER BY user_id, t")),
    Q("eval_clamp", eng("clamp(avg_over_time(click[1h]), 90, 110)") { df =>
      df.select(uid, col("t"), r6(col("value")).as("value")).orderBy("user_id", "t")
    }, Some(s"WITH b AS ($BH) SELECT user_id::BIGINT AS user_id, t, " +
      "round(1e-9 + least(greatest(avg(value), 90), 110), 6) AS value FROM b " +
      "WHERE name = 'click' GROUP BY user_id, t ORDER BY user_id, t")),
    Q("eval_keep_last_value", eng("keep_last_value(avg_over_time(purchase[1h]))") { df =>
      df.select(col("name"), uid, col("t"), r6(col("value")).as("value"))
        .orderBy("user_id", "t")
    }, Some(s"WITH b AS ($BH), " +
      "a AS (SELECT user_id, t, avg(value) AS v0 FROM b WHERE name = 'purchase' GROUP BY user_id, t), " +
      "users AS (SELECT DISTINCT user_id FROM a), " +
      s"g AS (SELECT users.user_id, gs.t FROM users, (SELECT unnest(generate_series($START, $END, $H)) AS t) gs), " +
      "d AS (SELECT g.user_id AS user_id, g.t AS t, a.v0 FROM g LEFT JOIN a ON g.user_id = a.user_id AND g.t = a.t), " +
      "fl AS (SELECT user_id, t, last_value(v0 IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY t " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v FROM d) " +
      "SELECT 'purchase' AS name, user_id::BIGINT AS user_id, t, round(1e-9 + v, 6) AS value " +
      "FROM fl WHERE v IS NOT NULL ORDER BY user_id, t")),
    // range_avg = setLastValues over the reference's POSITIONAL running
    // average (divisor = dense-grid position, so interior gaps dilute the
    // mean — transform.go:1210,1352,1667): every grid point, leading gaps
    // included, gets the final recurrence value. The oracle uses the
    // closed form r_N = exp(S)·Σ v_j/(p_j+1)·exp(−S_j) with
    // S_j = Σ_{1≤m≤p_j} ln(p_m/(p_m+1)) over non-null positions —
    // ~1e-13 relative from the engine's sequential pass, far inside the
    // r4 rounding margin.
    Q("eval_range_avg", eng("range_avg(avg_over_time(click[1h]))") { df =>
      df.select(uid, col("t"), r4(col("value")).as("value")).orderBy("user_id", "t")
    }, Some(s"WITH b AS ($BH), " +
      "a AS (SELECT user_id, t, avg(value) AS v FROM b WHERE name = 'click' GROUP BY user_id, t), " +
      s"g AS (SELECT unnest(generate_series($START, $END, $H)) AS t), " +
      "u AS (SELECT DISTINCT user_id FROM a), " +
      "f0 AS (SELECT user_id, min(t) AS t0 FROM a GROUP BY user_id), " +
      s"d2 AS (SELECT u.user_id, (g.t - f0.t0) // $H AS p, a.v " +
      "FROM u CROSS JOIN g JOIN f0 ON f0.user_id = u.user_id " +
      "LEFT JOIN a ON a.user_id = u.user_id AND a.t = g.t WHERE g.t >= f0.t0), " +
      "e AS (SELECT user_id, p, v, " +
      "sum(CASE WHEN v IS NOT NULL AND p >= 1 THEN ln(p / (p + 1.0)) ELSE 0 END) " +
      "OVER (PARTITION BY user_id ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs " +
      "FROM d2), " +
      "fin AS (SELECT user_id, exp(arg_max(cs, p)) * " +
      "sum(CASE WHEN v IS NOT NULL THEN v / (p + 1.0) * exp(-cs) END) AS fv " +
      "FROM e GROUP BY user_id) " +
      "SELECT fin.user_id::BIGINT AS user_id, g.t, round(1e-9 + fin.fv, 4) AS value " +
      "FROM fin CROSS JOIN g ORDER BY user_id, t")),
    Q("eval_quantiles_ot", eng("""quantiles_over_time("phi", 0.5, 0.9, click[1d])""", gridD) { df =>
      df.select(col("tags").getItem("phi").as("phi"), uid, col("t"),
        r6(col("value")).as("value")).orderBy("phi", "user_id", "t")
    }, Some(s"WITH b AS ($BD), " +
      "w AS (SELECT user_id, t, quantile_cont(value, 0.5) AS q5, quantile_cont(value, 0.9) AS q9 " +
      "FROM b WHERE name = 'click' GROUP BY user_id, t) " +
      "SELECT phi, user_id::BIGINT AS user_id, t, round(1e-9 + v, 6) AS value FROM (" +
      "SELECT user_id, t, '0.5' AS phi, q5 AS v FROM w UNION ALL " +
      "SELECT user_id, t, '0.9', q9 FROM w) ORDER BY phi, user_id, t")),
    Q("eval_union", eng("union(avg_over_time(click[1h]), avg_over_time(purchase[1h]))") { df =>
      df.select(col("name"), uid, col("t"), r6(col("value")).as("value"))
        .orderBy("name", "user_id", "t")
    }, Some(s"WITH b AS ($BH) " +
      "SELECT name, user_id::BIGINT AS user_id, t, round(1e-9 + avg(value), 6) AS value FROM b " +
      "WHERE name IN ('click', 'purchase') GROUP BY name, user_id, t " +
      "ORDER BY name, user_id, t")),
    // rate with NO [d] on a sparse series: the window auto-adjusts to the
    // per-series maxPrevInterval (rollup.go:738-756) — at window=step the
    // hourly windows of sparse purchase series rarely hold two samples
    Q("eval_rate_auto", eng("rate(purchase)") { df =>
      df.select(uid, col("t"), r6(col("value")).as("value")).orderBy("user_id", "t")
    }, Some(s"WITH ${prevCtes(H, "purchase")}, " +
      s"${fillZeroCte(H, s"greatest($H, m.mpi)")}, " +
      s"w AS (SELECT user_id, greatest($H, mpi) AS win FROM m), " +
      s"gr AS (SELECT unnest(generate_series($START, $END, $H)) AS gt), " +
      "j AS (SELECT l3.user_id, gt, tms, value, pts, cv, cpv FROM gr " +
      "CROSS JOIN w JOIN l3 ON l3.user_id = w.user_id " +
      "AND l3.tms > gr.gt - w.win AND l3.tms <= gr.gt), " +
      "gg AS (SELECT user_id, gt AS t, count(*) AS n, " +
      "first(pts ORDER BY tms, value) AS fpts, " +
      "first(cv ORDER BY tms, value) AS cv0, last(cv ORDER BY tms, value) AS cvl, " +
      "first(cpv ORDER BY tms, value) AS fcpv, " +
      "first(tms ORDER BY tms, value) AS fts, last(tms ORDER BY tms, value) AS lts " +
      "FROM j GROUP BY user_id, gt), " +
      "ff AS (SELECT gg.*, mpi, win FROM gg JOIN m USING (user_id) JOIN w USING (user_id)), " +
      "r AS (SELECT user_id, t, CASE WHEN fpts IS NOT NULL AND fpts > t - win - mpi " +
      "THEN (cvl - fcpv) / ((lts - fpts) / 1000.0) " +
      "WHEN n >= 2 THEN (cvl - cv0) / ((lts - fts) / 1000.0) END AS v FROM ff) " +
      "SELECT user_id::BIGINT AS user_id, t, round(1e-9 + v, 6) AS value FROM r " +
      s"WHERE v IS NOT NULL $fillZeroArm ORDER BY user_id, t")))

  // =====================================================================
  // §2.0 sources/sinks + §2.7 stream aggregation + §2.8 relabeling
  // =====================================================================
  // =====================================================================
  // §2.11 Graphite Render API — graphiteql targets over the events table
  // mapped to dotted paths `event_type.user_id`, samples snapped to the
  // hourly storage grid so the engine's storage-summarize is the same
  // per-bucket average the oracle computes (fetch edge rules — the 2s
  // ingestion-jitter adoption, dense-NaN grids — are pinned by
  // GraphiteSpec instead; gates drop NaN rows on both sides).
  // =====================================================================

  /** graphite store: path = name.user_id, hour-snapped timestamps; Bench warms on it */
  private[graft] def grStore(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
    e.select(
      concat_ws(".", col("name"), col("user_id")).as("name"),
      typedLit(Map.empty[String, String]).as("tags"),
      (lit(START) + floor((col("ts") - START) / H).cast("long") * H).as("ts"),
      col("value"))
      .filter(col("ts") >= START && col("ts") < END)
  }

  private def gr(target: String)(
      sel: DataFrame => DataFrame): (SparkSession, String) => DataFrame =
    (s, dir) => {
      val ctx = graft.graphite.GraphiteCtx(s, grStore(s, dir), START, END, H, nowMs = END)
      sel(graft.graphite.GraphiteEval.exec(ctx, target).df
        .filter(!isnan(col("value"))))
    }

  /** oracle store CTE: per-(path, hour-bucket) average, floor-aligned */
  private val GRB: String =
    s"gb AS (SELECT name, t, avg(value) AS v FROM (" +
      s"SELECT event_type || '.' || user_id::VARCHAR AS name, " +
      s"$START + ((epoch_ms(ts::TIMESTAMP) - $START) // $H) * $H AS t, value FROM events " +
      s"WHERE epoch_ms(ts::TIMESTAMP) >= $START AND epoch_ms(ts::TIMESTAMP) < $END" +
      s") GROUP BY name, t)"

  private val graphiteQueries: Seq[Q] = Seq(
    Q("gr_fetch", gr("click.*") { df =>
      df.select(col("name"), col("t"), r6(col("value")).as("value"))
        .orderBy("name", "t")
    }, Some(s"WITH $GRB SELECT name, t, round(1e-9 + v, 6) AS value FROM gb " +
      "WHERE name LIKE 'click.%' ORDER BY name, t")),
    Q("gr_sum_series", gr("sumSeries(click.*)") { df =>
      df.select(col("name"), col("t"), r6(col("value")).as("value")).orderBy("t")
    }, Some(s"WITH $GRB SELECT 'sumSeries(click.*)' AS name, t, " +
      "round(1e-9 + sum(v), 6) AS value FROM gb WHERE name LIKE 'click.%' " +
      "GROUP BY t ORDER BY t")),
    Q("gr_group_by_node", gr("groupByNode({click,view}.*, 1, 'sum')") { df =>
      df.select(col("name"), col("t"), r6(col("value")).as("value"))
        .orderBy("name", "t")
    }, Some(s"WITH $GRB SELECT split_part(name, '.', 2) AS name, t, " +
      "round(1e-9 + sum(v), 6) AS value FROM gb " +
      "WHERE name LIKE 'click.%' OR name LIKE 'view.%' " +
      "GROUP BY 1, t ORDER BY name, t")),
    Q("gr_moving_avg", gr("movingAverage(click.3, 3)") { df =>
      df.select(col("t"), r6(col("value")).as("value")).orderBy("t")
    }, Some(s"WITH $GRB, g AS (SELECT unnest(generate_series($START, $END, $H)) AS t), " +
      "b AS (SELECT t, v FROM gb WHERE name = 'click.3'), " +
      "d AS (SELECT g.t AS t, b.v AS v FROM g LEFT JOIN b ON g.t = b.t), " +
      "m AS (SELECT t, avg(v) OVER (ORDER BY t ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS mv FROM d) " +
      "SELECT t, round(1e-9 + mv, 6) AS value FROM m WHERE mv IS NOT NULL ORDER BY t")),
    Q("gr_summarize", gr("summarize(click.3, '1d', 'sum')") { df =>
      df.select(col("t"), r6(col("value")).as("value")).orderBy("t")
    }, Some(s"WITH $GRB SELECT (t // $D) * $D AS t, round(1e-9 + sum(v), 6) AS value " +
      "FROM gb WHERE name = 'click.3' GROUP BY 1 ORDER BY t")),
    Q("gr_highest_avg", gr("highestAverage(click.*, 5)") { df =>
      df.select(col("name"), col("t"), r6(col("value")).as("value"))
        .orderBy("name", "t")
    }, Some(s"WITH $GRB, a AS (SELECT name, avg(v) AS av FROM gb " +
      "WHERE name LIKE 'click.%' GROUP BY name), " +
      "top5 AS (SELECT name FROM a ORDER BY av DESC, name LIMIT 5) " +
      "SELECT gb.name AS name, t, round(1e-9 + v, 6) AS value FROM gb " +
      "JOIN top5 ON gb.name = top5.name ORDER BY name, t")),
    Q("gr_as_percent", gr("asPercent(click.*)") { df =>
      df.select(col("name"), col("t"), r6(col("value")).as("value"))
        .orderBy("name", "t")
    }, Some(s"WITH $GRB SELECT " +
      "'asPercent(' || name || ',sumSeries(click.*))' AS name, t, " +
      "round(1e-9 + v * 100.0 / sum(v) OVER (PARTITION BY t), 6) AS value " +
      "FROM gb WHERE name LIKE 'click.%' ORDER BY name, t")),
    Q("gr_derivative", gr("derivative(sumSeries(click.*))") { df =>
      df.select(col("t"), r6(col("value")).as("value")).orderBy("t")
    }, Some(s"WITH $GRB, s AS (SELECT t, sum(v) AS v FROM gb " +
      "WHERE name LIKE 'click.%' GROUP BY t), " +
      s"g AS (SELECT unnest(generate_series($START, ${END - H}, $H)) AS t), " +
      "d AS (SELECT g.t AS t, s.v AS v FROM g LEFT JOIN s ON g.t = s.t), " +
      "m AS (SELECT t, v, lag(v) OVER (ORDER BY t) AS pv FROM d) " +
      "SELECT t, round(1e-9 + v - pv, 6) AS value FROM m " +
      "WHERE v IS NOT NULL AND pv IS NOT NULL ORDER BY t")),
    Q("gr_keep_last", gr("keepLastValue(click.3)") { df =>
      df.select(col("t"), r6(col("value")).as("value")).orderBy("t")
    }, Some(s"WITH $GRB, g AS (SELECT unnest(generate_series($START, ${END - H}, $H)) AS t), " +
      "b AS (SELECT t, v FROM gb WHERE name = 'click.3'), " +
      "d AS (SELECT g.t AS t, b.v AS v FROM g LEFT JOIN b ON g.t = b.t), " +
      "m AS (SELECT t, last_value(v IGNORE NULLS) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fv FROM d) " +
      "SELECT t, round(1e-9 + fv, 6) AS value FROM m WHERE fv IS NOT NULL ORDER BY t")),
    // sort gate uses the natural name collation (exact string/number
    // keys) — sortByTotal's float sums can tie within 1 ulp and rank
    // differently per summation order, which a hash gate can't tolerate;
    // the stat-sort path is pinned by GraphiteSpec instead
    Q("gr_sort_natural", gr("sortByName(view.*, True)") { df =>
      df.select(col("ord"), col("name")).distinct().orderBy("ord")
    }, Some(s"WITH $GRB SELECT row_number() OVER " +
      "(ORDER BY split_part(name, '.', 2)::BIGINT) AS ord, name FROM gb " +
      "WHERE name LIKE 'view.%' GROUP BY name ORDER BY ord")),
    Q("gr_hitcount", gr("hitcount(click.3, '1d')") { df =>
      df.select(col("t"), r6(col("value")).as("value")).orderBy("t")
    }, Some(s"WITH $GRB SELECT (t // $D) * $D AS t, " +
      s"round(1e-9 + sum(v * ${H / 1000}), 6) AS value FROM gb " +
      s"WHERE name = 'click.3' AND t % $D <> 0 " +
      s"GROUP BY 1 HAVING sum(v * ${H / 1000}) <> 0 ORDER BY t")))

  // =====================================================================
  // §2.9 vmalert rules — recording materialization + alerting state
  // machine in replay form (app/vmalert/rule/{recording,alerting}.go)
  // =====================================================================
  private val alertQueries: Seq[Q] = Seq(
    Q("al_recording", (s, dir) => {
      val rule = graft.alerting.Rules.Rule(
        record = "job:click:avg1h", expr = "avg_over_time(click[1h])",
        labels = Map("src" -> "graft"))
      graft.alerting.Rules.recordingRange(Samples.fromEvents(s, dir), rule, gridH)
        .select(col("name"), col("tags").getItem("user_id").as("user_id"),
          col("tags").getItem("src").as("src"), col("t"),
          r6(col("value")).as("value"))
        .orderBy("user_id", "t")
    }, Some(s"WITH b AS ($BH) SELECT 'job:click:avg1h' AS name, " +
      "user_id::VARCHAR AS user_id, 'graft' AS src, t, " +
      "round(1e-9 + avg(value), 6) AS value FROM b WHERE name = 'click' " +
      "GROUP BY user_id, t ORDER BY user_id, t")),
    Q("al_alerts", (s, dir) => {
      val rule = graft.alerting.Rules.Rule(
        alert = "HighClick", expr = "avg_over_time(click[1h]) > 120",
        forMs = 3 * H)
      graft.alerting.Rules.alertingRange(Samples.fromEvents(s, dir), rule,
        "gate", H, gridH)
        .select(col("name"), col("tags").getItem("user_id").as("user_id"),
          coalesce(col("tags").getItem("alertstate"), lit("")).as("state"),
          col("t"), r6(col("value")).as("value"))
        .orderBy("name", "user_id", "t")
    }, Some(s"WITH b AS ($BH), " +
      "a AS (SELECT user_id::VARCHAR AS user_id, t FROM b WHERE name = 'click' " +
      "GROUP BY user_id, t HAVING avg(value) > 120), " +
      s"s AS (SELECT user_id, t, CASE WHEN lag(t) OVER w IS NULL OR t - lag(t) OVER w > $H " +
      "THEN 1 ELSE 0 END AS rst FROM a WINDOW w AS (PARTITION BY user_id ORDER BY t)), " +
      "g AS (SELECT user_id, t, sum(rst) OVER (PARTITION BY user_id ORDER BY t) AS seg FROM s), " +
      "act AS (SELECT user_id, t, min(t) OVER (PARTITION BY user_id, seg) AS activeAt FROM g) " +
      "SELECT * FROM (" +
      s"SELECT 'ALERTS' AS name, user_id, CASE WHEN t - activeAt >= ${3 * H} " +
      "THEN 'firing' ELSE 'pending' END AS state, t, 1.0 AS value FROM act " +
      "UNION ALL SELECT 'ALERTS_FOR_STATE', user_id, '', t, " +
      "round(1e-9 + activeAt // 1000, 6) FROM act) " +
      "ORDER BY name, user_id, t")))

  private val sourcesQueries: Seq[Q] = Seq(
    // export → parse round trips: the sink format feeds its own source and
    // the aggregate of the round-tripped samples must equal the raw table
    Q("src_prom_roundtrip", (s, dir) => {
      val samples = Samples.fromEvents(s, dir)
      val back = graft.sources.LineFormats.prometheusText(
        graft.sources.LineFormats.exportPromText(samples), 0L)
      back.groupBy("name").agg(
        count(lit(1)).as("n"),
        r6(sum("value")).as("sum_v")).orderBy("name")
    }, Some("SELECT event_type AS name, count(*) AS n, round(1e-9 + sum(value), 6) AS sum_v " +
      "FROM events GROUP BY name ORDER BY name")),
    Q("src_json_roundtrip", (s, dir) => {
      val samples = Samples.fromEvents(s, dir)
      val back = graft.sources.LineFormats.jsonImport(
        graft.sources.LineFormats.exportJsonLines(samples))
      back.groupBy("name").agg(
        count(lit(1)).as("n"),
        r6(sum("value")).as("sum_v")).orderBy("name")
    }, Some("SELECT event_type AS name, count(*) AS n, round(1e-9 + sum(value), 6) AS sum_v " +
      "FROM events GROUP BY name ORDER BY name")),
    Q("src_remotewrite_roundtrip", (s, dir) => {
      val samples = Samples.fromEvents(s, dir)
      val back = graft.sources.ProtoFormats.remoteWrite(
        graft.sources.ProtoFormats.exportRemoteWrite(samples))
      back.groupBy("name").agg(
        count(lit(1)).as("n"),
        r6(sum("value")).as("sum_v")).orderBy("name")
    }, Some("SELECT event_type AS name, count(*) AS n, round(1e-9 + sum(value), 6) AS sum_v " +
      "FROM events GROUP BY name ORDER BY name")),
    Q("src_otlp_roundtrip", (s, dir) => {
      val samples = Samples.fromEvents(s, dir)
      val back = graft.sources.ProtoFormats.otlp(
        graft.sources.ProtoFormats.exportOtlp(samples))
      back.groupBy("name").agg(
        count(lit(1)).as("n"),
        r6(sum("value")).as("sum_v")).orderBy("name")
    }, Some("SELECT event_type AS name, count(*) AS n, round(1e-9 + sum(value), 6) AS sum_v " +
      "FROM events GROUP BY name ORDER BY name")),
    Q("src_otlp_histsum", (s, dir) => {
      // OTLP histogram/summary → prometheus-compat series expansion
      // (pb.go pushSamples: _count/_sum/cumulative _bucket{le}, summary
      // quantile rows) over an arithmetic per-doc fixture — every decoded
      // row is exact integer math the oracle restates
      val ids = Samples.table(s, dir, "documents").select(col("doc_id"))
      graft.sources.ProtoFormats.otlp(
          graft.sources.ProtoFormats.otlpHistSumFixture(ids))
        .select(col("name"),
          col("tags").getItem("doc").cast("bigint").as("doc"),
          coalesce(col("tags").getItem("le"),
            col("tags").getItem("quantile"), lit("")).as("lq"),
          col("ts").as("t"), r6(col("value")).as("value"))
        .orderBy("name", "doc", "lq")
    }, Some("WITH d AS (SELECT doc_id AS id, doc_id % 3 AS b0, (doc_id // 3) % 3 AS b1, " +
      "(doc_id // 9) % 3 AS b2, 1704067200000 + doc_id * 1000 AS t FROM documents), " +
      "r AS (SELECT 'lat_count' AS name, id, '' AS lq, t, (b0+b1+b2)::DOUBLE AS value FROM d " +
      "UNION ALL SELECT 'lat_sum', id, '', t, (id % 50)::DOUBLE FROM d WHERE id % 2 = 0 " +
      "UNION ALL SELECT 'lat_bucket', id, '1', t, b0::DOUBLE FROM d " +
      "UNION ALL SELECT 'lat_bucket', id, '2', t, (b0+b1)::DOUBLE FROM d " +
      "UNION ALL SELECT 'lat_bucket', id, '+Inf', t, (b0+b1+b2)::DOUBLE FROM d " +
      "UNION ALL SELECT 'q_count', id, '', t, (id % 7)::DOUBLE FROM d " +
      "UNION ALL SELECT 'q_sum', id, '', t, (id % 30)::DOUBLE FROM d " +
      "UNION ALL SELECT 'q', id, '0.5', t, (id % 9)::DOUBLE FROM d) " +
      "SELECT name, id AS doc, lq, t, round(1e-9 + value, 6) AS value FROM r " +
      "ORDER BY name, doc, lq")),
    Q("src_datadog_roundtrip", (s, dir) => {
      val samples = Samples.fromEvents(s, dir)
      val back = graft.sources.LineFormats.datadogV1(
        graft.sources.LineFormats.exportDatadogV1(samples))
      back.groupBy("name").agg(
        count(lit(1)).as("n"),
        r6(sum("value")).as("sum_v")).orderBy("name")
    }, Some("SELECT event_type AS name, count(*) AS n, round(1e-9 + sum(value), 6) AS sum_v " +
      "FROM events GROUP BY name ORDER BY name")),
    Q("src_datadogv2_roundtrip", (s, dir) => {
      val samples = Samples.fromEvents(s, dir)
      val back = graft.sources.LineFormats.datadogV2(
        graft.sources.LineFormats.exportDatadogV2(samples))
      back.groupBy("name").agg(
        count(lit(1)).as("n"),
        r6(sum("value")).as("sum_v")).orderBy("name")
    }, Some("SELECT event_type AS name, count(*) AS n, round(1e-9 + sum(value), 6) AS sum_v " +
      "FROM events GROUP BY name ORDER BY name")),
    Q("src_newrelic_roundtrip", (s, dir) => {
      val samples = Samples.fromEvents(s, dir)
      val back = graft.sources.LineFormats.newRelic(
        graft.sources.LineFormats.exportNewRelic(samples))
      // tags roundtrip too: fold the user_id label into the check
      back.groupBy("name").agg(
        count(lit(1)).as("n"),
        r6(sum("value")).as("sum_v"),
        countDistinct(col("tags").getItem("user_id")).as("nu")).orderBy("name")
    }, Some("SELECT event_type AS name, count(*) AS n, round(1e-9 + sum(value), 6) AS sum_v, " +
      "count(DISTINCT user_id) AS nu FROM events GROUP BY name ORDER BY name")),
    Q("src_zabbix_roundtrip", (s, dir) => {
      val samples = Samples.fromEvents(s, dir)
      val back = graft.sources.LineFormats.zabbix(
        graft.sources.LineFormats.exportZabbix(samples))
      back.groupBy("name").agg(
        count(lit(1)).as("n"),
        r6(sum("value")).as("sum_v"),
        r6(sum(col("ts"))).as("sum_ts")).orderBy("name")
    }, Some("SELECT event_type AS name, count(*) AS n, round(1e-9 + sum(value), 6) AS sum_v, " +
      "round(1e-9 + sum(epoch_ms(ts::TIMESTAMP)), 6) AS sum_ts FROM events GROUP BY name ORDER BY name")),
    Q("src_bucketed_increase", (s, dir) => {
      // Series-bucketed store layout through the full engine path: write
      // the events mapping bucketBy(series hash) with the hash pair
      // persisted, read it back via the session catalog, and run the
      // TSBS counter query on it. Must match the flat-store oracle
      // byte-for-byte while the plan pays ZERO data-scale exchanges —
      // Eval reuses the stored _h1/_h2 attributes so the bucket
      // partitioning satisfies every per-series distribution
      // (BucketedStoreSpec pins the exchange-free plan shape).
      Engine.query(bucketedStore(s, dir), "increase(click[12h])",
          GridSpec(START, START + 7 * D, 60000L), 2 * H)
        .select(uid, col("t"), r6(col("value")).as("value"))
        .orderBy("user_id", "t")
    }, Some(tsbsIncreaseSql)),
    Q("src_bucketed_rollup", (s, dir) =>
      // default_rollup (bare selector, keep-last over the lookback) on the
      // SAME bucketed layout: the per-series prev-sample window reuses the
      // scan's HashPartitioning(_h1) — flat-store oracle, zero-exchange
      // plan (BucketedStoreSpec)
      Engine.query(bucketedStore(s, dir), "click", gridH, 2 * H)
        .select(col("name"), uid, col("t"), r6(col("value")).as("value"))
        .orderBy("name", "user_id", "t"),
      Some(s"WITH g AS (SELECT unnest(generate_series($START, $END, $H)) AS t), " +
        "b AS (SELECT event_type AS name, user_id, epoch_ms(ts::TIMESTAMP) AS tms, value " +
        "FROM events WHERE event_type = 'click'), " +
        s"j AS (SELECT name, user_id, t, tms, value FROM g JOIN b ON b.tms > g.t - ${2 * H} AND b.tms <= g.t) " +
        "SELECT name, user_id::BIGINT AS user_id, t, round(1e-9 + last(value ORDER BY tms, value), 6) AS value FROM j " +
        "GROUP BY name, user_id, t ORDER BY name, user_id, t")),
    Q("src_bucketed_binop", (s, dir) =>
      // vector matching on the bucketed layout: both rollup sides read
      // pre-clustered series (no pre-join exchange on either aggregate);
      // the on(user_id) join itself keys on a LABEL, so that one
      // exchange pair is inherent to the operator, not the layout —
      // BucketedStoreSpec asserts the delta vs the flat store
      Engine.query(bucketedStore(s, dir),
          "avg_over_time(purchase[1h]) / on(user_id) avg_over_time(click[1h])", gridH, 2 * H)
        .select(uid, col("t"), r6(col("value")).as("value"))
        .orderBy("user_id", "t"),
      Some(divOnSql)),
    Q("src_bucketed_compact", (s, dir) => {
      // incremental flat→bucketed compaction (the vmstorage background
      // merge for the two-layout store): exactly-once flat landing stays
      // the ingestion truth; changed date partitions re-bucketize via
      // dynamic INSERT OVERWRITE. Two-phase write (clicks, then the
      // rest landing LATE into the same dates) proves the re-bucketize
      // preserves earlier content; the final engine query must match the
      // same flat-store oracle as src_bucketed_increase
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val store = s"target/bucketed_compact$tag/store"
      val tbl = s"bucketed_compact$tag"
      val tpath = s"target/bucketed_compact$tag/table"
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(s"target/bucketed_compact$tag"))
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(s"spark-warehouse/target/bucketed_compact$tag"))
      val samples = Samples.fromEvents(s, dir)
      graft.core.SampleStore.write(samples.filter(col("name") === "click"),
        store, org.apache.spark.sql.SaveMode.Overwrite)
      graft.core.SampleStore.bucketizeNewDates(s, store, tbl, tpath)
      graft.core.SampleStore.write(samples.filter(col("name") =!= "click"), store)
      graft.core.SampleStore.bucketizeNewDates(s, store, tbl, tpath)
      Engine.query(graft.core.SampleStore.readBucketed(s, tbl),
          "increase(click[12h])", GridSpec(START, START + 7 * D, 60000L), 2 * H)
        .select(uid, col("t"), r6(col("value")).as("value"))
        .orderBy("user_id", "t")
    }, Some(tsbsIncreaseSql)),
    Q("src_bucketed_transform", (s, dir) =>
      // whole-grid per-series transform (running_sum over a bare selector)
      // on the bucketed layout: the seriesKeyed fast path keeps the stored
      // _h1/_h2 pair through the default_rollup, so the dense-grid join
      // and the running window both cluster on attributes the bucketed
      // scan already satisfies — flat-store oracle, zero-exchange plan
      // (BucketedStoreSpec pins it)
      Engine.query(bucketedStore(s, dir), "running_sum(click)", gridH, 2 * H)
        .select(uid, col("t"), r4(col("value")).as("value"))
        .orderBy("user_id", "t"),
      Some(s"WITH g AS (SELECT unnest(generate_series($START, $END, $H)) AS t), " +
        "b AS (SELECT user_id, epoch_ms(ts::TIMESTAMP) AS tms, value " +
        "FROM events WHERE event_type = 'click'), " +
        s"r AS (SELECT user_id, t, last(value ORDER BY tms, value) AS v " +
        s"FROM g JOIN b ON b.tms > g.t - ${2 * H} AND b.tms <= g.t GROUP BY user_id, t), " +
        "u AS (SELECT DISTINCT user_id FROM r), " +
        "d AS (SELECT u.user_id, g.t, r.v FROM u CROSS JOIN g " +
        "LEFT JOIN r ON r.user_id = u.user_id AND r.t = g.t), " +
        "rr AS (SELECT user_id, t, " +
        "sum(v) OVER (PARTITION BY user_id ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rv, " +
        "count(v) OVER (PARTITION BY user_id ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nv " +
        "FROM d) " +
        "SELECT user_id::BIGINT AS user_id, t, round(1e-9 + rv, 4) AS value " +
        "FROM rr WHERE nv >= 1 ORDER BY user_id, t")),
    Q("src_bucketed_lookup", (s, dir) =>
      // the shape the name-sorted layout was built for (r12 bench row):
      // name + tag equality over the bucketed store — the name predicate
      // lowers to a pushed EqualTo and parquet row-group/page stats skip
      // everything outside the name's sorted run (SCALEBENCH r11: 10.2×
      // at 270M rows); flat-store oracle
      Engine.query(bucketedStore(s, dir), """click{user_id="7"}""", gridH, 2 * H)
        .select(col("name"), uid, col("t"), r6(col("value")).as("value"))
        .orderBy("name", "user_id", "t"),
      Some(s"WITH g AS (SELECT unnest(generate_series($START, $END, $H)) AS t), " +
        "b AS (SELECT event_type AS name, user_id, epoch_ms(ts::TIMESTAMP) AS tms, value " +
        "FROM events WHERE event_type = 'click' AND user_id = 7), " +
        s"j AS (SELECT name, user_id, t, tms, value FROM g JOIN b ON b.tms > g.t - ${2 * H} AND b.tms <= g.t) " +
        "SELECT name, user_id::BIGINT AS user_id, t, round(1e-9 + last(value ORDER BY tms, value), 6) AS value FROM j " +
        "GROUP BY name, user_id, t ORDER BY name, user_id, t")),
    Q("src_bucketed_tagindex", (s, dir) =>
      // NAMELESS tag lookup ({user_id="7"} — no metric name) through the
      // tag→names index (SampleStore.tagIndexNamePredicate): candidate
      // names resolve from the metadata-scale index and scan as a pushed
      // `name IN (...)`, restoring the sorted layout's pruning the
      // reference gets from its tag→metricIDs namespace
      // (index_db.go:50-71). Results must equal the index-less scan —
      // the oracle is the plain flat-store recompute over ALL names.
      Engine.query(bucketedStore(s, dir), """{user_id="7"}""", gridH, 2 * H,
          tagIndex = Some(bucketedIndex(s, dir)))
        .select(col("name"), uid, col("t"), r6(col("value")).as("value"))
        .orderBy("name", "user_id", "t"),
      Some(s"WITH g AS (SELECT unnest(generate_series($START, $END, $H)) AS t), " +
        "b AS (SELECT event_type AS name, user_id, epoch_ms(ts::TIMESTAMP) AS tms, value " +
        "FROM events WHERE user_id = 7), " +
        s"j AS (SELECT name, user_id, t, tms, value FROM g JOIN b ON b.tms > g.t - ${2 * H} AND b.tms <= g.t) " +
        "SELECT name, user_id::BIGINT AS user_id, t, round(1e-9 + last(value ORDER BY tms, value), 6) AS value FROM j " +
        "GROUP BY name, user_id, t ORDER BY name, user_id, t")),
    Q("src_stream_ingest", (s, dir) => {
      // the §3.4 write path end-to-end: render the events mapping as
      // prometheus text files in a landing zone, drain it through the
      // Structured Streaming ingest pipeline (parse → date-partitioned
      // parquet file sink), and aggregate the STORED samples — must
      // match the same events oracle as the in-memory roundtrips
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val landing = s"target/stream_ingest$tag/landing"
      val store = s"target/stream_ingest$tag/store"
      val ckpt = s"target/stream_ingest$tag/ckpt"
      // fresh run per invocation: the checkpoint manifest would otherwise
      // skip the (identical) landing files of the previous run
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"target/stream_ingest$tag"))
      graft.sources.LineFormats.exportPromText(Samples.fromEvents(s, dir))
        .coalesce(4).write.mode("overwrite").text(landing)
      graft.streaming.Ingest.promTextToStore(s, landing, store, ckpt, 0L)
        .awaitTermination()
      graft.streaming.Ingest.readStore(s, store)
        .groupBy("name").agg(
          count(lit(1)).as("n"),
          r6(sum("value")).as("sum_v"),
          r6(sum(col("ts"))).as("sum_ts")).orderBy("name")
    }, Some("SELECT event_type AS name, count(*) AS n, round(1e-9 + sum(value), 6) AS sum_v, " +
      "round(1e-9 + sum(epoch_ms(ts::TIMESTAMP)), 6) AS sum_ts FROM events GROUP BY name ORDER BY name")),
    Q("src_stream_ingest_influx", (s, dir) => {
      // the same §3.4 exactly-once pipeline fed an INFLUX-LINE landing
      // zone (app/vminsert/main.go:238 influx route): render the events
      // mapping as line protocol (ns timestamps, user_id tag, one field),
      // drain through Ingest.toStore(format=influx), aggregate the store.
      // The parser names series `{measurement}_{field}`.
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val landing = s"target/stream_ingest_influx$tag/landing"
      val store = s"target/stream_ingest_influx$tag/store"
      val ckpt = s"target/stream_ingest_influx$tag/ckpt"
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(s"target/stream_ingest_influx$tag"))
      Samples.fromEvents(s, dir)
        .select(concat(col("name"), lit(",user_id="), col("tags").getItem("user_id"),
          lit(" value="), col("value").cast("string"),
          lit(" "), (col("ts") * 1000000L).cast("string")).as("line"))
        .coalesce(4).write.mode("overwrite").text(landing)
      graft.streaming.Ingest.toStore(s, landing, store, ckpt, 0L, format = "influx")
        .awaitTermination()
      graft.streaming.Ingest.readStore(s, store)
        .groupBy("name").agg(
          count(lit(1)).as("n"),
          r6(sum("value")).as("sum_v"),
          r6(sum(col("ts"))).as("sum_ts"),
          countDistinct(col("tags").getItem("user_id")).as("nu")).orderBy("name")
    }, Some("SELECT event_type || '_value' AS name, count(*) AS n, " +
      "round(1e-9 + sum(value), 6) AS sum_v, " +
      "round(1e-9 + sum(epoch_ms(ts::TIMESTAMP)), 6) AS sum_ts, " +
      "count(DISTINCT user_id) AS nu FROM events GROUP BY name ORDER BY name")),
    Q("src_stream_ingest_jsonl", (s, dir) => {
      // JSON-lines (vmimport) landing zone through the same pipeline
      // (app/vminsert/main.go:200 /api/v1/import route); exportJsonLines
      // packs each series' samples into one multi-sample line, so this
      // also exercises the values/timestamps fan-out on the stream path
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val landing = s"target/stream_ingest_jsonl$tag/landing"
      val store = s"target/stream_ingest_jsonl$tag/store"
      val ckpt = s"target/stream_ingest_jsonl$tag/ckpt"
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(s"target/stream_ingest_jsonl$tag"))
      graft.sources.LineFormats.exportJsonLines(Samples.fromEvents(s, dir))
        .coalesce(4).write.mode("overwrite").text(landing)
      graft.streaming.Ingest.toStore(s, landing, store, ckpt, 0L, format = "jsonl")
        .awaitTermination()
      graft.streaming.Ingest.readStore(s, store)
        .groupBy("name").agg(
          count(lit(1)).as("n"),
          r6(sum("value")).as("sum_v"),
          r6(sum(col("ts"))).as("sum_ts")).orderBy("name")
    }, Some("SELECT event_type AS name, count(*) AS n, round(1e-9 + sum(value), 6) AS sum_v, " +
      "round(1e-9 + sum(epoch_ms(ts::TIMESTAMP)), 6) AS sum_ts FROM events GROUP BY name ORDER BY name")),
    Q("src_stream_ingest_remotewrite", (s, dir) => {
      // the reference's DOMINANT write protocol on the durable pipeline
      // (app/vminsert/promremotewrite/request_handler.go:23): render the
      // events mapping as snappy-protobuf WriteRequest payload files in a
      // landing zone (one POST body per file, what a collector lands),
      // drain through the exactly-once binary ingest
      // (binaryFile → protoparser → date-partitioned store), aggregate
      // the STORED samples vs the same events oracle as the text formats
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val landing = s"target/stream_ingest_rw$tag/landing"
      val store = s"target/stream_ingest_rw$tag/store"
      val ckpt = s"target/stream_ingest_rw$tag/ckpt"
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(s"target/stream_ingest_rw$tag"))
      graft.streaming.Ingest.writeBinaryLanding(
        graft.sources.ProtoFormats.exportRemoteWrite(
          Samples.fromEvents(s, dir).coalesce(4)),
        landing)
      graft.streaming.Ingest.binaryToStore(s, landing, store, ckpt,
        format = "remotewrite").awaitTermination()
      graft.streaming.Ingest.readStore(s, store)
        .groupBy("name").agg(
          count(lit(1)).as("n"),
          r6(sum("value")).as("sum_v"),
          r6(sum(col("ts"))).as("sum_ts"),
          countDistinct(col("tags").getItem("user_id")).as("nu")).orderBy("name")
    }, Some("SELECT event_type AS name, count(*) AS n, round(1e-9 + sum(value), 6) AS sum_v, " +
      "round(1e-9 + sum(epoch_ms(ts::TIMESTAMP)), 6) AS sum_ts, " +
      "count(DISTINCT user_id) AS nu FROM events GROUP BY name ORDER BY name")),
    Q("src_stream_ingest_otlp", (s, dir) => {
      // OTLP metrics (lib/protoparser/opentelemetry) through the same
      // durable binary pipeline: gauge data points with ns timestamps and
      // attribute tags must land loss- and drift-free (ns→ms is integer)
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val landing = s"target/stream_ingest_otlp$tag/landing"
      val store = s"target/stream_ingest_otlp$tag/store"
      val ckpt = s"target/stream_ingest_otlp$tag/ckpt"
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(s"target/stream_ingest_otlp$tag"))
      graft.streaming.Ingest.writeBinaryLanding(
        graft.sources.ProtoFormats.exportOtlp(
          Samples.fromEvents(s, dir).coalesce(4)),
        landing)
      graft.streaming.Ingest.binaryToStore(s, landing, store, ckpt,
        format = "otlp").awaitTermination()
      graft.streaming.Ingest.readStore(s, store)
        .groupBy("name").agg(
          count(lit(1)).as("n"),
          r6(sum("value")).as("sum_v"),
          r6(sum(col("ts"))).as("sum_ts"),
          countDistinct(col("tags").getItem("user_id")).as("nu")).orderBy("name")
    }, Some("SELECT event_type AS name, count(*) AS n, round(1e-9 + sum(value), 6) AS sum_v, " +
      "round(1e-9 + sum(epoch_ms(ts::TIMESTAMP)), 6) AS sum_ts, " +
      "count(DISTINCT user_id) AS nu FROM events GROUP BY name ORDER BY name")),
    Q("src_stream_aggr_ingest", (s, dir) => {
      // aggregate-at-ingest (app/vminsert/common/streamaggr.go): landing
      // zone → parse → streamaggr 6h sum_samples by user_id → store, ONE
      // exactly-once streaming query; only aggregate outputs land. A
      // matched zero-value heartbeat past the last real window advances
      // the watermark so every real window flushes; its own (still-open)
      // window is cut off below, mirroring the oracle's window set.
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val landing = s"target/stream_aggr_ingest$tag/landing"
      val store = s"target/stream_aggr_ingest$tag/store"
      val ckpt = s"target/stream_aggr_ingest$tag/ckpt"
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(s"target/stream_aggr_ingest$tag"))
      val samples = Samples.fromEvents(s, dir).filter(col("name") === "click")
      val maxTs = samples.agg(max("ts")).head().getLong(0)
      val cutoff = (maxTs / (6 * H) + 1) * (6 * H) // last real window end
      graft.sources.LineFormats.exportPromText(samples.unionByName(
        s.range(1).select(lit("click").as("name"),
          map(lit("user_id"), lit("0")).as("tags"),
          lit(cutoff + 6 * H).as("ts"), lit(0.0).as("value"))))
        .coalesce(4).write.mode("overwrite").text(landing)
      val cfg = graft.streaming.StreamAggr.Config(6 * H, by = Seq("user_id"),
        outputs = Seq("sum_samples", "count_samples", "max"),
        matchSelectors = Seq("""{__name__="click"}"""))
      // sf-scale backlog is unordered → ONE-batch drain, state bounded by
      // awaitBounded (the r10 contract; SCALEBENCH r9 measured the OOM)
      graft.streaming.Ingest.awaitBounded(
        graft.streaming.Ingest.toStoreAggregated(s, landing, store, ckpt, 0L, cfg,
          maxFilesPerTrigger = 1000),
        maxStateRows = 10000000L)
      graft.streaming.Ingest.readStore(s, store)
        .filter(col("ts") <= cutoff)
        .select(col("name"), col("tags").getItem("user_id").cast("bigint").as("user_id"),
          col("ts"), r6(col("value")).as("value"))
        .orderBy("name", "user_id", "ts")
    }, Some {
      val bkt = s"(epoch_ms(ts::TIMESTAMP) // ${6 * H}) * ${6 * H} + ${6 * H}"
      s"WITH b AS (SELECT user_id, $bkt AS t, value FROM events WHERE event_type = 'click'), " +
        "w AS (SELECT user_id, t, sum(value) AS s, count(*)::DOUBLE AS c, max(value) AS mx " +
        "FROM b GROUP BY user_id, t) " +
        "SELECT 'click:6h_by_user_id_' || o AS name, user_id::BIGINT AS user_id, t AS ts, " +
        "round(1e-9 + v, 6) AS value FROM (" +
        "SELECT user_id, t, 'sum_samples' AS o, s AS v FROM w UNION ALL " +
        "SELECT user_id, t, 'count_samples', c FROM w UNION ALL " +
        "SELECT user_id, t, 'max', mx FROM w) ORDER BY name, user_id, ts"
    }),
    Q("src_ddsketch_roundtrip", (s, dir) => {
      val samples = Samples.fromEvents(s, dir)
      val back = graft.sources.ProtoFormats.datadogSketches(
        graft.sources.ProtoFormats.exportDatadogSketches(samples))
      // every quantile of a 1-observation sketch is the observation, so
      // the p99 series reproduces the raw values exactly; .count sums to
      // the row count
      back.filter(col("tags").getItem("quantile") === "0.99")
        .groupBy("name").agg(
          count(lit(1)).as("n"),
          r6(sum("value")).as("sum_v")).orderBy("name")
    }, Some("SELECT event_type AS name, count(*) AS n, round(1e-9 + sum(value), 6) AS sum_v " +
      "FROM events GROUP BY name ORDER BY name")),
    Q("src_stream_ingest_ddsketch", (s, dir) => {
      // the third binary landing-zone format end-to-end: DataDog sketch
      // payloads (one POST body per file) through the same exactly-once
      // binaryFile pipeline; 1-observation sketches make every quantile
      // the observation, so the stored p99 reproduces the raw values
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val landing = s"target/stream_ingest_dds$tag/landing"
      val store = s"target/stream_ingest_dds$tag/store"
      val ckpt = s"target/stream_ingest_dds$tag/ckpt"
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(s"target/stream_ingest_dds$tag"))
      graft.streaming.Ingest.writeBinaryLanding(
        graft.sources.ProtoFormats.exportDatadogSketches(
          Samples.fromEvents(s, dir).coalesce(4)),
        landing)
      graft.streaming.Ingest.binaryToStore(s, landing, store, ckpt,
        format = "datadogsketches").awaitTermination()
      graft.streaming.Ingest.readStore(s, store)
        .filter(col("tags").getItem("quantile") === "0.99")
        .groupBy("name").agg(
          count(lit(1)).as("n"),
          r6(sum("value")).as("sum_v")).orderBy("name")
    }, Some("SELECT event_type AS name, count(*) AS n, round(1e-9 + sum(value), 6) AS sum_v " +
      "FROM events GROUP BY name ORDER BY name")),
    Q("st_aggregate", (s, dir) => {
      val cfg = graft.streaming.StreamAggr.Config(
        6 * H, by = Seq("user_id"),
        outputs = Seq("sum_samples", "count_samples", "avg", "max", "min"))
      graft.streaming.StreamAggr.aggregateBatch(Samples.fromEvents(s, dir), cfg)
        .select(col("name"), col("tags").getItem("user_id").cast("bigint").as("user_id"),
          col("t"), r6(col("value")).as("value"))
        .orderBy("name", "user_id", "t")
    }, Some {
      val bkt = s"(epoch_ms(ts::TIMESTAMP) // ${6 * H}) * ${6 * H} + ${6 * H}"
      s"WITH b AS (SELECT event_type AS nm, user_id, $bkt AS t, value FROM events), " +
        "w AS (SELECT nm, user_id, t, sum(value) AS s, count(*)::DOUBLE AS c, avg(value) AS a, " +
        "max(value) AS mx, min(value) AS mn FROM b GROUP BY nm, user_id, t) " +
        "SELECT nm || ':6h_by_user_id_' || o AS name, user_id::BIGINT AS user_id, t, " +
        "round(1e-9 + v, 6) AS value FROM (" +
        "SELECT nm, user_id, t, 'sum_samples' AS o, s AS v FROM w UNION ALL " +
        "SELECT nm, user_id, t, 'count_samples', c FROM w UNION ALL " +
        "SELECT nm, user_id, t, 'avg', a FROM w UNION ALL " +
        "SELECT nm, user_id, t, 'max', mx FROM w UNION ALL " +
        "SELECT nm, user_id, t, 'min', mn FROM w) ORDER BY name, user_id, t"
    }),
    // the full -streamAggr.config pipeline: YAML parse → match filter →
    // aggregate → keep_metric_names → output relabel, oracled end-to-end
    Q("st_config_pipeline", (s, dir) => {
      val yaml =
        """- match: '{__name__="click"}'
          |  interval: 6h
          |  outputs: [sum_samples]
          |  by: [user_id]
          |  keep_metric_names: true
          |  output_relabel_configs:
          |  - target_label: agg
          |    replacement: stream
          |""".stripMargin
      graft.streaming.StreamAggr.applyAll(Samples.fromEvents(s, dir),
        graft.streaming.StreamAggr.parseConfigs(yaml))
        .select(col("name"),
          col("tags").getItem("user_id").cast("bigint").as("user_id"),
          col("tags").getItem("agg").as("agg"),
          col("t"), r6(col("value")).as("value"))
        .orderBy("user_id", "t")
    }, Some {
      val bkt = s"(epoch_ms(ts::TIMESTAMP) // ${6 * H}) * ${6 * H} + ${6 * H}"
      s"SELECT 'click' AS name, user_id::BIGINT AS user_id, 'stream' AS agg, $bkt AS t, " +
        "round(1e-9 + sum(value), 6) AS value FROM events WHERE event_type = 'click' " +
        "GROUP BY user_id, t ORDER BY user_id, t"
    }),
    // quantiles(phi...) output: one series per phi with a `quantile`
    // label (lib/streamaggr/quantiles.go:32-36); exact percentile ==
    // DuckDB quantile_cont (both interpolate at phi*(n-1))
    Q("st_quantiles", (s, dir) => {
      val cfg = graft.streaming.StreamAggr.Config(
        6 * H, by = Seq("user_id"), outputs = Seq("quantiles(0.5, 0.95)"))
      graft.streaming.StreamAggr.aggregateBatch(Samples.fromEvents(s, dir), cfg)
        .select(col("name"), col("tags").getItem("user_id").cast("bigint").as("user_id"),
          col("tags").getItem("quantile").as("quantile"),
          col("t"), r6(col("value")).as("value"))
        .orderBy("name", "user_id", "quantile", "t")
    }, Some {
      val bkt = s"(epoch_ms(ts::TIMESTAMP) // ${6 * H}) * ${6 * H} + ${6 * H}"
      s"WITH b AS (SELECT event_type AS nm, user_id, $bkt AS t, value FROM events), " +
        // valyala/histogram.Quantile index rule (same as the engine slot)
        "q AS (SELECT nm, user_id, t, " +
        "list_sort(list(value))[(floor(0.5 * (count(*) - 1) + 0.5) + 1)::BIGINT] AS q50, " +
        "list_sort(list(value))[(floor(0.95 * (count(*) - 1) + 0.5) + 1)::BIGINT] AS q95 " +
        "FROM b GROUP BY nm, user_id, t) " +
        "SELECT nm || ':6h_by_user_id_quantiles' AS name, user_id::BIGINT AS user_id, " +
        "quantile, t, round(1e-9 + v, 6) AS value FROM (" +
        "SELECT nm, user_id, t, '0.5' AS quantile, q50 AS v FROM q UNION ALL " +
        "SELECT nm, user_id, t, '0.95', q95 FROM q) " +
        "ORDER BY name, user_id, quantile, t"
    }),
    // sum_samples_total: interval sums accumulated across flushes
    // (sum_samples.go:26-35 resetTotalOnFlush=false)
    Q("st_sum_samples_total", (s, dir) => {
      val cfg = graft.streaming.StreamAggr.Config(6 * H, by = Seq("user_id"))
      graft.streaming.StreamAggr.sumSamplesTotalBatch(Samples.fromEvents(s, dir), cfg)
        .select(col("name"), col("tags").getItem("user_id").cast("bigint").as("user_id"),
          col("t"), r6(col("value")).as("value"))
        .orderBy("name", "user_id", "t")
    }, Some {
      val bkt = s"(epoch_ms(ts::TIMESTAMP) // ${6 * H}) * ${6 * H} + ${6 * H}"
      s"WITH w AS (SELECT event_type AS nm, user_id, $bkt AS t, sum(value) AS ws " +
        "FROM events GROUP BY nm, user_id, t) " +
        "SELECT nm || ':6h_by_user_id_sum_samples_total' AS name, user_id::BIGINT AS user_id, t, " +
        "round(1e-9 + sum(ws) OVER (PARTITION BY nm, user_id ORDER BY t), 6) AS value " +
        "FROM w ORDER BY name, user_id, t"
    }),
    // ignore_first_intervals warmup skip (streamaggr.go:219-222): the
    // replay's first two 6h flushes are dropped for every output group
    Q("st_ignore_first_intervals", (s, dir) => {
      val yaml =
        """- interval: 6h
          |  outputs: [sum_samples]
          |  by: [user_id]
          |  ignore_first_intervals: 2
          |""".stripMargin
      graft.streaming.StreamAggr.applyAll(Samples.fromEvents(s, dir),
        graft.streaming.StreamAggr.parseConfigs(yaml))
        .select(col("name"), col("tags").getItem("user_id").cast("bigint").as("user_id"),
          col("t"), r6(col("value")).as("value"))
        .orderBy("name", "user_id", "t")
    }, Some {
      val bkt = s"(epoch_ms(ts::TIMESTAMP) // ${6 * H}) * ${6 * H} + ${6 * H}"
      s"WITH b AS (SELECT event_type AS nm, user_id, $bkt AS t, value FROM events), " +
        "mn AS (SELECT min(t) AS mt FROM b) " +
        "SELECT nm || ':6h_by_user_id_sum_samples' AS name, user_id::BIGINT AS user_id, t, " +
        "round(1e-9 + sum(value), 6) AS value FROM b, mn " +
        s"WHERE b.t >= mn.mt + ${2 * 6 * H} " +
        "GROUP BY nm, user_id, t ORDER BY name, user_id, t"
    }),
    Q("st_total", (s, dir) => {
      val cfg = graft.streaming.StreamAggr.Config(D, by = Seq("user_id"))
      graft.streaming.StreamAggr.totalBatch(Samples.fromEvents(s, dir), cfg)
        .select(col("name"), col("tags").getItem("user_id").cast("bigint").as("user_id"),
          col("t"), r6(col("value")).as("value"))
        .orderBy("name", "user_id", "t")
    }, Some {
      val bkt = s"(tms // $D) * $D + $D"
      "WITH b AS (SELECT event_type AS nm, user_id, epoch_ms(ts::TIMESTAMP) AS tms, value FROM events), " +
        "d AS (SELECT nm, user_id, tms, value, " +
        "lag(value) OVER (PARTITION BY nm, user_id ORDER BY tms, value) AS pv FROM b), " +
        s"i AS (SELECT nm, user_id, $bkt AS t, " +
        "sum(CASE WHEN pv IS NULL THEN value WHEN value >= pv THEN value - pv ELSE value END) AS winc " +
        "FROM d GROUP BY nm, user_id, t) " +
        "SELECT nm || ':24h_by_user_id_total' AS name, user_id::BIGINT AS user_id, t, " +
        "round(1e-9 + sum(winc) OVER (PARTITION BY nm, user_id ORDER BY t " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS value " +
        "FROM i ORDER BY name, user_id, t"
    }),
    Q("st_total_prometheus", (s, dir) => {
      val cfg = graft.streaming.StreamAggr.Config(D, by = Seq("user_id"))
      graft.streaming.StreamAggr.totalBatch(Samples.fromEvents(s, dir), cfg, keepFirstSample = false)
        .select(col("name"), col("tags").getItem("user_id").cast("bigint").as("user_id"),
          col("t"), r6(col("value")).as("value"))
        .orderBy("name", "user_id", "t")
    }, Some {
      val bkt = s"(tms // $D) * $D + $D"
      "WITH b AS (SELECT event_type AS nm, user_id, epoch_ms(ts::TIMESTAMP) AS tms, value FROM events), " +
        "d AS (SELECT nm, user_id, tms, value, " +
        "lag(value) OVER (PARTITION BY nm, user_id ORDER BY tms, value) AS pv FROM b), " +
        s"i AS (SELECT nm, user_id, $bkt AS t, " +
        "sum(CASE WHEN pv IS NULL THEN 0 WHEN value >= pv THEN value - pv ELSE value END) AS winc " +
        "FROM d GROUP BY nm, user_id, t) " +
        "SELECT nm || ':24h_by_user_id_total_prometheus' AS name, user_id::BIGINT AS user_id, t, " +
        "round(1e-9 + sum(winc) OVER (PARTITION BY nm, user_id ORDER BY t " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS value " +
        "FROM i ORDER BY name, user_id, t"
    }),
    Q("st_increase", (s, dir) => {
      val cfg = graft.streaming.StreamAggr.Config(D, by = Seq("user_id"))
      graft.streaming.StreamAggr.increaseBatch(Samples.fromEvents(s, dir), cfg)
        .select(col("name"), col("tags").getItem("user_id").cast("bigint").as("user_id"),
          col("t"), r6(col("value")).as("value"))
        .orderBy("name", "user_id", "t")
    }, Some {
      val bkt = s"(tms // $D) * $D + $D"
      "WITH b AS (SELECT event_type AS nm, user_id, epoch_ms(ts::TIMESTAMP) AS tms, value FROM events), " +
        "d AS (SELECT nm, user_id, tms, value, " +
        "lag(value) OVER (PARTITION BY nm, user_id ORDER BY tms, value) AS pv FROM b) " +
        s"SELECT nm || ':24h_by_user_id_increase' AS name, user_id::BIGINT AS user_id, $bkt AS t, " +
        "round(1e-9 + sum(CASE WHEN pv IS NULL THEN value WHEN value >= pv THEN value - pv ELSE value END), 6) AS value " +
        "FROM d GROUP BY nm, user_id, t ORDER BY name, user_id, t"
    }),
    Q("st_increase_prometheus", (s, dir) => {
      val cfg = graft.streaming.StreamAggr.Config(D, by = Seq("user_id"))
      graft.streaming.StreamAggr.increaseBatch(Samples.fromEvents(s, dir), cfg, keepFirstSample = false)
        .select(col("name"), col("tags").getItem("user_id").cast("bigint").as("user_id"),
          col("t"), r6(col("value")).as("value"))
        .orderBy("name", "user_id", "t")
    }, Some {
      val bkt = s"(tms // $D) * $D + $D"
      "WITH b AS (SELECT event_type AS nm, user_id, epoch_ms(ts::TIMESTAMP) AS tms, value FROM events), " +
        "d AS (SELECT nm, user_id, tms, value, " +
        "lag(value) OVER (PARTITION BY nm, user_id ORDER BY tms, value) AS pv FROM b) " +
        s"SELECT nm || ':24h_by_user_id_increase_prometheus' AS name, user_id::BIGINT AS user_id, $bkt AS t, " +
        "round(1e-9 + sum(CASE WHEN pv IS NULL THEN 0 WHEN value >= pv THEN value - pv ELSE value END), 6) AS value " +
        "FROM d GROUP BY nm, user_id, t ORDER BY name, user_id, t"
    }),
    // rate_sum/rate_avg with by=() — one output series per metric name,
    // aggregating per-series rates across ALL user series (rate.go flush)
    Q("st_rate_sum", (s, dir) => {
      // by __name__: collapse to one output series per metric (empty
      // by/without now groups per full label set, reference semantics)
      val cfg = graft.streaming.StreamAggr.Config(D, by = Seq("__name__"))
      graft.streaming.StreamAggr.rateBatch(Samples.fromEvents(s, dir), cfg)
        .select(col("name"), col("t"), r6(col("value")).as("value"))
        .orderBy("name", "t")
    }, Some(rateBatchSql("rate_sum", "sum(sr)"))),
    Q("st_rate_avg", (s, dir) => {
      val cfg = graft.streaming.StreamAggr.Config(D, by = Seq("__name__"))
      graft.streaming.StreamAggr.rateBatch(Samples.fromEvents(s, dir), cfg, isAvg = true)
        .select(col("name"), col("t"), r6(col("value")).as("value"))
        .orderBy("name", "t")
    }, Some(rateBatchSql("rate_avg", "avg(sr)"))),
    Q("st_histogram_bucket", (s, dir) => {
      val cfg = graft.streaming.StreamAggr.Config(6 * H, by = Seq("user_id"))
      graft.streaming.StreamAggr.histogramBucketBatch(Samples.fromEvents(s, dir), cfg)
        .select(col("name"), col("tags").getItem("user_id").cast("bigint").as("user_id"),
          col("tags").getItem("vmrange").as("vmrange"), col("t"), col("value"))
        .orderBy("name", "user_id", "vmrange", "t")
    }, Some {
      val bkt = s"(epoch_ms(ts::TIMESTAMP) // ${6 * H}) * ${6 * H} + ${6 * H}"
      s"WITH $LUTX, k0 AS (SELECT event_type AS nm, user_id, $bkt AS t, value AS _v, " +
        "floor(log10(value) * 18)::BIGINT AS _g FROM events), " +
        "k AS (SELECT nm, user_id, t, " +
        "CASE WHEN _v < lg.d THEN _g - 1 WHEN _v >= lh.d THEN _g + 1 ELSE _g END AS kidx " +
        "FROM k0 JOIN lutx lg ON lg.i = k0._g JOIN lutx lh ON lh.i = k0._g + 1), " +
        // the engine emits the reference's %.3e...%.3e range string
        "ks AS (SELECT nm, user_id, t, printf('%.3e', bl.d) || '...' || printf('%.3e', bh.d) AS vmrange " +
        "FROM k JOIN lutx bl ON bl.i = k.kidx JOIN lutx bh ON bh.i = k.kidx + 1), " +
        "c AS (SELECT nm, user_id, vmrange, t, count(*)::DOUBLE AS c FROM ks " +
        "WHERE vmrange IS NOT NULL GROUP BY nm, user_id, vmrange, t) " +
        "SELECT nm || ':6h_by_user_id_histogram_bucket' AS name, user_id::BIGINT AS user_id, " +
        "vmrange, t, sum(c) OVER (PARTITION BY nm, user_id, vmrange ORDER BY t " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value " +
        "FROM c ORDER BY name, user_id, vmrange, t"
    }),
    Q("rl_relabel", (s, dir) => {
      import graft.sources.Relabel
      val out = Relabel.apply(Samples.fromEvents(s, dir), Seq(
        Relabel.Rule("keep_metrics", regex = "click|view"),
        Relabel.Rule("replace", sourceLabels = Seq("user_id"),
          targetLabel = "host", regex = "(.*)", replacement = "u$1"),
        Relabel.Rule("labelmap", regex = "user_id", replacement = "uid"),
        Relabel.Rule("labeldrop", regex = "user_id")))
      out.groupBy(col("name"), col("tags").getItem("host").as("host"),
          col("tags").getItem("uid").cast("bigint").as("uid"))
        .agg(count(lit(1)).as("n"), r6(sum("value")).as("sum_v"))
        .orderBy("name", "host")
    }, Some("SELECT event_type AS name, 'u' || user_id::VARCHAR AS host, user_id::BIGINT AS uid, " +
      "count(*) AS n, round(1e-9 + sum(value), 6) AS sum_v FROM events " +
      "WHERE event_type IN ('click', 'view') " +
      "GROUP BY name, host, uid ORDER BY name, host")),
    // round-3 actions: keep_if_contains / keepequal / dropequal / graphite
    // — pipeline keeps click users whose id contains '5' and whose first
    // digit equals the last, then graphite-extracts a label from the name
    Q("rl_relabel2", (s, dir) => {
      import graft.sources.Relabel
      val out = Relabel.apply(Samples.fromEvents(s, dir), Seq(
        Relabel.Rule("replace", sourceLabels = Seq("user_id"),
          targetLabel = "host", regex = "(.*)", replacement = "u$1"),
        Relabel.Rule("replace", sourceLabels = Seq("user_id"),
          targetLabel = "c", regex = ".*", replacement = "5"),
        Relabel.Rule("keep_if_contains", sourceLabels = Seq("c"), targetLabel = "host"),
        Relabel.Rule("replace", sourceLabels = Seq("user_id"),
          targetLabel = "d", regex = "(.*)(\\d)", replacement = "$2"),
        Relabel.Rule("replace", sourceLabels = Seq("user_id"),
          targetLabel = "f", regex = "(\\d).*", replacement = "$1"),
        Relabel.Rule("keepequal", sourceLabels = Seq("d"), targetLabel = "f"),
        Relabel.Rule("graphite", matchTemplate = "cl*", labels = Map("g" -> "x$1")),
        Relabel.Rule("dropequal", sourceLabels = Seq("g"), targetLabel = "zz")))
      out.groupBy(col("name"), col("tags").getItem("host").as("host"),
          col("tags").getItem("g").as("g"),
          col("tags").getItem("user_id").cast("bigint").as("uid"))
        .agg(count(lit(1)).as("n"), r6(sum("value")).as("sum_v"))
        .orderBy("uid")
    }, Some("WITH u AS (SELECT event_type AS name, user_id, user_id::VARCHAR AS us, value " +
      "FROM events WHERE event_type = 'click') " +
      "SELECT name, 'u' || us AS host, 'xick' AS g, user_id::BIGINT AS uid, " +
      "count(*) AS n, round(1e-9 + sum(value), 6) AS sum_v FROM u " +
      "WHERE position('5' IN us) > 0 AND substr(us, 1, 1) = substr(us, length(us), 1) " +
      "GROUP BY name, host, g, uid ORDER BY uid")))

  // =====================================================================
  private val defs: Seq[Q] = rollupQueries ++ rollupQueries2 ++ rollupQueries3 ++ transformQueries ++ aggrQueries ++ binopQueries ++ histoQueries ++ metaQueries ++ pipelineQueries ++ relationalQueries ++ evalQueries ++ graphiteQueries ++ alertQueries ++ sourcesQueries

  /** Flagship: sum(rate(events[1d])) by (name) on the hourly grid —
    * the M1 end-to-end slice from SURVEY §7.2: per-(name,user) counter
    * rate over a sliding 1-day lookback, summed across users per name,
    * as MetricsQL through the engine.
    */
  def entry(spark: SparkSession): DataFrame = {
    val samples = Samples.eventsFlat(spark, "/root/testdata/sf0.001")
    Engine.query(
      samples.select(col("name"), map(lit("user_id"), col("user_id").cast("string")).as("tags"),
        col("ts"), col("value")),
      s"sum(rate($ALL[1d])) by (__name__)", gridH)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    defs.map(q => q.name -> q.fn).toMap

  /** Headline bench set — one representative per operator family, heavy
    * shapes preferred (sliding lookbacks, joins, near-dup search). Kept
    * deliberately small so Bench's single JSON result line stays a few
    * hundred bytes: the driver captures only a bounded tail of stdout, and
    * a line carrying all ~120 queries gets truncated past parseability.
    */
  val benchNames: Seq[String] = Seq(
    "q1_agg", "q3_join_agg", "q5_region_revenue", // relational scan/join/agg
    "ro_rate", // counter family (order-sensitive kernel)
    "ro_sliding_max", // 6h/1h sliding max (two-level rollup path)
    "ro_tsbs_cpu_max", // TSBS cpu-max-all-8 shape: 12h window / 1m step = 720×
    "ro_tsbs_increase", // same shape, counter family: two-level prev plan
    "ro_default_rollup", // bare-selector lookback semantics
    "ag_topk", // per-point cross-series rank
    "bi_or", // vector-match set op (full-outer shape)
    "h_quantile", // histogram bucket interpolation
    "tr_interpolate", // grid gap-fill
    "gr_group_by_node", // graphite render: fetch + node-key aggregation
    // the zero-exchange bucketed layout's headline number (r11): pass 1
    // pays the memoized table build, the recorded min is the pure query
    "src_bucketed_increase",
    // the selective-lookup shape the name-sorted layout exists for (r12):
    // tracks the pushed-name pruning win round-over-round
    "src_bucketed_lookup",
    // the O7-agg delta refresh (r13): tracks the aggregated instant
    // path's latency — and any regression in its cache keying — like
    // src_bucketed_lookup tracks the name pruning
    "ev_instant_delta_agg",
    // the OPERATOR's end-to-end pipeline plus docs-table law aggregates
    // (no exact-Jaccard truth frame — that oracle work stays on the
    // doc_minhash_dedup gate, off this headline number)
    "doc_minhash_kept", // MinHash+LSH near-dup pipeline
    "emb_topk") // brute-force cosine top-k

  def oracleSql: Map[String, String] =
    defs.collect { case Q(n, _, Some(sql)) => n -> sql }.toMap
}
