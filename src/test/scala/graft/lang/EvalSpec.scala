package graft.lang

import graft.{Engine, SparkSpec}
import graft.core.GridSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end evaluator tests on a tiny hand-computed sample set — the
  * role of the reference's golden query corpus
  * (app/vmselect/promql/exec_test.go: full queries through Exec on a fixed
  * grid with exact expected values).
  */
class EvalSpec extends SparkSpec {

  private val M = 60000L // one minute
  private val grid = GridSpec(M, 10 * M, M) // t = 1m..10m

  /** samples: two metrics × two instances, one sample per minute at t-30s.
    * m{inst=a}: value = minute index (1,2,…,10)  — a rising gauge
    * m{inst=b}: counter 10,20,30,40,50, reset to 5, then 15,25,35,45
    * n{inst=a}: constant 100, only minutes 1..5
    */
  private lazy val samples: DataFrame = {
    val rows = (1 to 10).flatMap { i =>
      val ts = i * M - 30000
      val b = if (i <= 5) i * 10.0 else (i - 6) * 10.0 + 5.0
      Seq(("m", Map("inst" -> "a"), ts, i.toDouble), ("m", Map("inst" -> "b"), ts, b)) ++
        (if (i <= 5) Seq(("n", Map("inst" -> "a"), ts, 100.0)) else Nil)
    }
    val s = spark
    import s.implicits._
    rows.toDF("name", "tags", "ts", "value")
  }

  private def run(q: String, lookbackMs: Long = 300000L): Map[(String, Long), Double] =
    Engine.query(samples, q, grid, lookbackMs)
      .select(
        concat(coalesce(col("name"), lit("")), lit("|"),
          coalesce(col("tags").getItem("inst"), lit(""))).as("k"),
        col("t"), col("value"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2))
      .toMap

  test("rollup leaves carry their labels: no restore join on either leaf path") {
    // a leaf's sorted tag entries ride its rollup keys and the tags map is
    // rebuilt at output scale, so neither the single-output nor the
    // multi-output leaf joins anything back
    for (q <- Seq("sum_over_time(m[2m])", """rollup(m{inst="a"}[2m])""")) {
      val plan = Engine.query(samples, q, grid).queryExecution.optimizedPlan.toString
      assert(!plan.contains("Join"), s"$q must not join its labels back:\n$plan")
    }
    val s = run("sum_over_time(m[2m])")
    assert(s.keySet.map(_._1) == Set("|a", "|b"))
    assert(s(("|a", 3 * M)) == 5.0) // samples 2, 3 in (1m, 3m]
    val multi = Engine.query(samples, """rollup(m{inst="a"}[2m])""", grid)
      .select(col("tags")("inst"), col("tags")("rollup"), col("t"), col("value"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)) -> r.getDouble(3)).toMap
    assert(multi.keySet.map(k => (k._1, k._2)) ==
      Set(("a", "min"), ("a", "max"), ("a", "avg")))
    assert(multi(("a", "max", 3 * M)) == 3.0 && multi(("a", "min", 3 * M)) == 2.0)
  }

  test("bare selector = default_rollup (last value in lookback)") {
    val r = run("""m{inst="a"}""")
    assert(r(("m|a", M)) == 1.0)
    assert(r(("m|a", 10 * M)) == 10.0)
    assert(r.size == 10) // name kept, one series
  }

  test("selector with negative / regex filters") {
    assert(run("""m{inst!="b"}""").keySet.map(_._1) == Set("m|a"))
    assert(run("""{__name__=~"m|n"}""").keySet.map(_._1) == Set("m|a", "m|b", "n|a"))
    // absent label matches empty string
    assert(run("""m{missing=""}""").size == 20)
  }

  test("avg_over_time / sum_over_time tumbling windows") {
    val r = run("avg_over_time(m[1m])")
    assert(r(("m|a", 3 * M)) == 3.0) // single sample per window
    val s = run("sum_over_time(m[2m])")
    assert(s(("|a", 2 * M)) == 3.0) // samples at 1,2 in (0,2m]; name dropped
  }

  test("rate/increase with counter reset seed from the pre-window sample") {
    // inst=b raw: 10,20,30,40,50,5,15,25,35,45 at i*1m-30s; the i=6 reset
    // (50→5) is a full reset (45·8 ≥ 50) → corrected: 10..50,55,65,75,85,95.
    // Scrape interval 60s → maxPrevInterval 67.5s, so the sample 30s before
    // each window start always seeds (rollup.go prevValue semantics).
    val r = run("increase(m[5m])")
    // window (5m,10m]: corrected last 95, prev (t=4.5m) corrected 50 → 45
    assert(r(("|b", 10 * M)) == 45.0)
    // window (1m,6m]: corrected last 55, prev (t=0.5m) corrected 10 → 45
    assert(r(("|b", 6 * M)) == 45.0)
    // rate = dv/dt over actual sample timestamps (rollupDerivFast), not
    // increase/window: (95-50)/(9.5m-4.5m)
    val rate = run("rate(m[5m])")
    assert(math.abs(rate(("|b", 10 * M)) - 45.0 / 300.0) < 1e-12)
  }

  test("delta chain: zero-seed for small first values, skip-first for large") {
    val s = spark
    import s.implicits._
    // series c starts small (3) with next value 5 → |3| < 10·(|2|+1):
    // assume counter started at 0 → delta = last value.
    // series d starts huge (1e6) vs step 1 → seed from the first sample.
    val rows = Seq(
      ("c", Map("i" -> "1"), 4 * M + 30000, 3.0),
      ("c", Map("i" -> "1"), 5 * M - 20000, 5.0),
      ("d", Map("i" -> "1"), 4 * M + 30000, 1e6),
      ("d", Map("i" -> "1"), 5 * M - 20000, 1e6 + 1))
    val df = rows.toDF("name", "tags", "ts", "value")
    val g = GridSpec(5 * M, 5 * M, M)
    val c = Engine.query(df, "delta(c[5m])", g).collect()
    val d = Engine.query(df, "delta(d[5m])", g).collect()
    assert(c.length == 1 && c.head.getDouble(3) == 5.0) // zero-seeded
    assert(d.length == 1 && d.head.getDouble(3) == 1.0) // skip-first
  }

  test("offset shifts the window") {
    val r = run("avg_over_time(m[1m] offset 2m)")
    assert(r(("m|a", 5 * M)) == 3.0) // value from t=3m
  }

  test("@ modifier pins evaluation time") {
    val r = run("avg_over_time(m[1m] @ 180)") // 3m in seconds
    assert(r(("m|a", M)) == 3.0 && r(("m|a", 10 * M)) == 3.0)
    assert(r.count(_._1._1 == "m|a") == 10) // replicated across grid
  }

  test("aggregation sum/avg by and without") {
    val r = run("sum(avg_over_time(m[1m]))")
    assert(r(("|", 5 * M)) == 5.0 + 50.0)
    val by = run("sum(avg_over_time(m[1m])) by (inst)")
    assert(by(("|a", 5 * M)) == 5.0)
    val wo = run("sum(avg_over_time(m[1m])) without (inst)")
    assert(wo(("|", 5 * M)) == 55.0)
  }

  test("topk keeps winning series unchanged") {
    val r = run("topk(1, avg_over_time(m[1m]))")
    assert(r(("m|b", 5 * M)) == 50.0)
    assert(!r.contains(("m|a", 5 * M))) // a loses at t=5m
    assert(r(("m|a", 6 * M)) == 6.0) // b reset to 5 < 6
  }

  test("quantile / median across series") {
    val r = run("median(avg_over_time(m[1m]))")
    assert(r(("|", 4 * M)) == (4.0 + 40.0) / 2)
  }

  test("scalar arithmetic and comparison filter") {
    val r = run("avg_over_time(m[1m]) * 2 + 1")
    assert(r(("|a", 3 * M)) == 7.0)
    val f = run("avg_over_time(m[1m]) > 20")
    assert(f.keySet.forall(_._1 == "m|b") && f.values.forall(_ > 20))
    val b = run("avg_over_time(m[1m]) >= bool 10")
    assert(b(("|a", 3 * M)) == 0.0 && b(("|b", 3 * M)) == 1.0)
  }

  test("vector matching: arithmetic on matching labels") {
    val r = run("""avg_over_time(n[1m]) / on(inst) avg_over_time(m[1m])""")
    assert(r(("|a", 4 * M)) == 25.0) // 100/4
    assert(r.size == 5) // only minutes 1..5 where n exists, inst=a only
  }

  test("group_left carries extra labels from the one side") {
    val r = run("""avg_over_time(m[1m]) * on(inst) group_left n""")
    // m{inst=a} × n{inst=a} (n default-rollup) — b has no n match
    assert(r(("|a", 2 * M)) == 200.0)
    assert(r.keySet.forall(_._1 == "|a"))
  }

  test("and / unless / or / default set ops") {
    val and = run("""avg_over_time(m[1m]) and avg_over_time(n[1m])""")
    assert(and.keySet.map(_._1) == Set("m|a") && and.size == 5)
    val unless = run("""avg_over_time(m[1m]) unless avg_over_time(n[1m])""")
    assert(unless.count(_._1._1 == "m|a") == 5) // minutes 6..10
    assert(unless.count(_._1._1 == "m|b") == 10)
    val or = run("""avg_over_time(n[1m]) or avg_over_time(m[1m])""")
    assert(or(("n|a", 3 * M)) == 100.0) // left wins
    assert(or(("m|a", 7 * M)) == 7.0) // right fills
    // default keeps the LEFT series' identity (name included) and fills
    // its NaN/absent points from the tag-matched right series
    // (binary_op.go:568; exec_test.go vector-default-* pin this shape)
    val d = run("""avg_over_time(n[1m]) default avg_over_time(m[1m])""")
    assert(d(("n|a", 3 * M)) == 100.0)
    assert(d(("n|a", 7 * M)) == 7.0) // gap filled from m{inst="a"}
    assert(d.size == 10 && d.keySet.map(_._1) == Set("n|a"))
  }

  test("subquery: max_over_time of an inner grid") {
    val r = run("max_over_time(avg_over_time(m[1m])[3m:1m])")
    // at t=10m: inner points at 8,9,10m for b = 25,35,45 → 45
    // (max_over_time keeps the metric name, rollup.go:267-287)
    assert(r(("m|b", 10 * M)) == 45.0)
    // at t=3m: inner 1,2,3m for a = 1,2,3 → 3
    assert(r(("m|a", 3 * M)) == 3.0)
  }

  test("WITH template + label_replace") {
    val r = run("""WITH (f(q) = avg_over_time(q[1m])) label_replace(f(m), "host", "x$1", "inst", "(.*)")""")
    val df = Engine.query(
      samples,
      """WITH (f(q) = avg_over_time(q[1m])) label_replace(f(m), "host", "x$1", "inst", "(.*)")""",
      grid)
    val hosts = df.select(col("tags").getItem("host")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(hosts == Set("xa", "xb"))
  }

  test("transforms: abs/clamp/round keep-name rules") {
    val r = run("abs(avg_over_time(m[1m]) - 100)")
    assert(r(("|a", 2 * M)) == 98.0)
    val c = run("clamp(avg_over_time(m[1m]), 3, 8)")
    assert(c(("m|a", M)) == 3.0 && c(("m|a", 10 * M)) == 8.0)
  }

  test("running / range transforms") {
    // avg_over_time keeps the name, and so do running_/range_
    val r = run("running_sum(avg_over_time(m[1m]))")
    assert(r(("m|a", 3 * M)) == 6.0)
    val rng = run("range_max(avg_over_time(m[1m]))")
    assert(rng(("m|a", M)) == 10.0)
    // transformKeepsName (transform.go:141-170) governs the dense
    // running_/range_ branches like every other transform
    for (f <- Seq("running_sum", "running_min", "running_max", "running_avg", "range_avg",
        "range_sum", "range_max", "range_median", "range_first", "range_last",
        "range_linear_regression", "range_mad", "range_normalize", "range_zscore")) {
      assert(run(s"$f(m)").keySet.map(_._1) == Set("m|a", "m|b"), f)
    }
    assert(run("range_quantile(0.5, m)").keySet.map(_._1) == Set("m|a", "m|b"))
    assert(run("running_sum(m)")(("m|a", 3 * M)) == 6.0)
    // a name-dropping transform still drops it
    assert(run("abs(m)").keySet.map(_._1) == Set("|a", "|b"))
  }

  test("by (__name__) separates metrics in every aggregate family") {
    val all = """{__name__=~"m|n"}"""
    val t3 = 3 * M // m|a = 3, m|b = 30, n|a = 100
    // rank: one top series per metric, not one overall
    val top = run(s"topk(1, $all) by (__name__)")
    assert(top.keySet.filter(_._2 == t3).map(_._1) == Set("m|b", "n|a"))
    val bottom = run(s"bottomk(1, $all) by (__name__)")
    assert(bottom.keySet.filter(_._2 == t3).map(_._1) == Set("m|a", "n|a"))
    // per-point shares and z-scores over the metric's own series
    val share = run(s"share($all) by (__name__)")
    assert(share(("m|a", t3)) == 3.0 / 33.0 && share(("n|a", t3)) == 1.0)
    val z = run(s"zscore($all) by (__name__)")
    assert(math.abs(z(("m|a", t3)) + 1.0) < 1e-12)
    assert(!z.contains(("n|a", t3))) // one n series: no spread
    // the reducing families emit one series per metric, named after it
    for (q <- Seq(s"mode($all)", s"""count_values("v", $all)""", s"mad($all)",
        s"""quantiles("q", 0.5, $all)""", s"histogram($all)", s"limitk(1, $all)",
        s"any($all)", s"group($all)", s"topk_max(1, $all)", s"outliersk(1, $all)")) {
      val names = run(s"$q by (__name__)").keySet.filter(_._2 == t3).map(_._1.takeWhile(_ != '|'))
      assert(names == Set("m", "n"), q)
    }
  }

  test("keep_last_value / interpolate fill grid gaps") {
    val k = run("keep_last_value(avg_over_time(n[1m]))")
    assert(k(("n|a", 9 * M)) == 100.0) // carried beyond minute 5
    // interpolate fills INTERIOR gaps only — leading/trailing NaNs are
    // skipped, not extended (transform.go:1285 skipLeading/TrailingNaNs)
    val i = run("interpolate(avg_over_time(n[1m]))")
    assert(i(("n|a", 5 * M)) == 100.0)
    assert(!i.contains(("n|a", 8 * M)))
  }

  test("scalar() and time() match any series per timestamp in binops") {
    // m - time()/60000·0 ... simpler: value minus per-t scalar from n
    val r = run("""avg_over_time(m[1m]) - scalar(avg_over_time(n[1m]))""")
    assert(r(("|a", 3 * M)) == 3.0 - 100.0) // scalar joins on t across all series
    assert(r(("|b", 3 * M)) == 30.0 - 100.0)
    assert(!r.exists(_._1._2 > 5 * M)) // n absent after minute 5 → no scalar
    val t = run("avg_over_time(m[1m]) - time() / 60")
    assert(t(("|a", 2 * M)) == 2.0 - 2.0) // t seconds / 60 = minute index
  }

  test("union-list membership and keep_metric_names on transforms") {
    val r = run("avg_over_time(m[1m]) == (3, 50)")
    assert(r.keySet == Set(("m|a", 3 * M), ("m|b", 5 * M))) // a=3@3m, b=50@5m
    val ne = run("avg_over_time(m[1m]) != (3, 50)")
    assert(ne.size == 18 && !ne.contains(("m|a", 3 * M)))
    // keep_metric_names directly on a transform keeps the input's name
    // (ln would drop it by default)
    val k = run("ln(avg_over_time(m[1m])) keep_metric_names")
    assert(math.abs(k(("m|a", 2 * M)) - math.log(2.0)) < 1e-12)
    assert(!run("ln(avg_over_time(m[1m]))").contains(("m|a", 2 * M)))
  }

  test("absent and scalar/vector") {
    val a = run("""absent(avg_over_time(zzz[1m]))""")
    assert(a.size == 10 && a.values.forall(_ == 1.0))
    val v = run("vector(7)")
    assert(v.size == 10 && v.values.forall(_ == 7.0))
    val t = run("time()")
    assert(t(("|", 2 * M)) == 120.0)
  }

  test("union dedups by series key, first wins") {
    val u = run("union(avg_over_time(m[1m]), avg_over_time(m[2m]))")
    assert(u(("m|a", 2 * M)) == 2.0) // from the first arg
  }

  test("aggregate quantiles fans out one series per phi") {
    val df = Engine.query(samples, """quantiles("q", 0.5, 1.0, avg_over_time(m[1m]))""", grid)
    val r = df.collect().map(row =>
      (row.getMap[String, String](1)("q"), row.getLong(2)) -> row.getDouble(3)).toMap
    assert(r(("0.5", 5 * M)) == (5.0 + 50.0) / 2)
    assert(r(("1.0", 5 * M)) == 50.0)
  }

  test("histogram → prometheus_buckets → histogram_quantile pipeline") {
    // histogram of per-point values {i, i·10-ish} → buckets → quantile
    val df = Engine.query(samples,
      "histogram_quantile(1.0, prometheus_buckets(histogram(avg_over_time(m[1m]))))", grid)
    val r = df.collect().map(row => row.getLong(2) -> row.getDouble(3)).toMap
    // at t=5m values are 5 and 50: the 1.0-quantile is the upper bound of
    // 50's vmrange bucket: 10^(ceil(18·log10(50))/18), snapped through the
    // reference's %.3e bucket-bound rendering (vmrangeBucketsToLE re-parses
    // the 4-significant-digit decimal, so the engine carries that double)
    val expected = "%.3e".format(
      math.pow(10, math.floor(math.log10(50.0) * 18 + 1) / 18.0)).toDouble
    assert(math.abs(r(5 * M) - expected) < 1e-9)
  }

  /** z{inst=a} = 4 at every minute but a 0 at 3.5m, z{inst=b} = 1 */
  private lazy val zeros: DataFrame = {
    val s = spark
    import s.implicits._
    (1 to 10).flatMap { i =>
      val ts = i * M - 30000
      Seq(("z", Map("inst" -> "a"), ts, if (i == 4) 0.0 else 4.0),
        ("z", Map("inst" -> "b"), ts, 1.0))
    }.toDF("name", "tags", "ts", "value")
  }

  private def byLabel(q: String, label: String): Map[(String, Long), Double] =
    Engine.query(zeros, q, grid)
      .select(coalesce(col("tags").getItem(label), lit("")), col("t"), col("value"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap

  test("geomean across series is 0 when a series is 0") {
    // Go's math.Log(0) is -Inf (aggr.go aggrFuncGeomean); Spark's log is
    // NULL there, and the aggregate skipped the point
    val g = byLabel("geomean(z)", "inst")
    assert(g(("", 4 * M)) == 0.0) // 0 and 1
    assert(math.abs(g(("", 3 * M)) - 2.0) < 1e-12) // 4 and 1
  }

  test("geomean_over_time is 0 over a window holding a 0, on both rollup plans") {
    // rollup.go:1707 rollupGeomean; a 2-step window takes the one-level
    // plan, an 8-step window the two-level one (sum of logs / count)
    for (w <- Seq("2m", "8m")) {
      val g = byLabel(s"geomean_over_time(z[$w])", "inst")
      assert(g(("a", 5 * M)) == 0.0, w) // the window holds the 0 at 3.5m
      assert(math.abs(g(("a", 3 * M)) - 4.0) < 1e-12, w)
      assert(math.abs(g(("b", 10 * M)) - 1.0) < 1e-12, w)
    }
  }

  test("histogram and histogram_over_time count a 0 in the lower bucket") {
    // metrics.Histogram.Update skips only NaN and negatives; values up to
    // 1e-9 count in 0...1.000e-09 (aggr.go histogram, rollup.go
    // rollupHistogram)
    val h = byLabel("histogram(z)", "le")
    assert(h(("1.000e-09", 4 * M)) == 1.0) // the 0
    assert(h(("+Inf", 4 * M)) == 2.0)
    assert(h(("1.000e-09", 3 * M)) == 0.0)
    val r = byLabel("""histogram_over_time(z{inst="a"}[2m])""", "vmrange")
    assert(r(("0...1.000e-09", 5 * M)) == 1.0)
    assert(!r.contains(("0...1.000e-09", 3 * M)))
  }

  test("drop_common_labels removes only all-series-identical labels") {
    val df = Engine.query(samples,
      """drop_common_labels(label_set(avg_over_time(m[1m]), "env", "prod"))""", grid)
    val tagSets = df.collect().map(_.getMap[String, String](1).toMap).toSet
    assert(tagSets == Set(Map("inst" -> "a"), Map("inst" -> "b"))) // env dropped, inst kept
  }

  test("outliersk keeps k series; two-series deviations tie → stable key order") {
    // with exactly two series the per-point group median is their midpoint,
    // so both deviate equally; the deterministic tie-break keeps the
    // smaller series key
    val r = run("outliersk(1, avg_over_time(m[1m]))")
    assert(r.keySet.map(_._1) == Set("m|a"))
    // adding constant-100 n|a: its deviation from the per-point median
    // (90 at t=1m) is the largest → it is the outlier kept
    val r3 = run("outliersk(1, union(avg_over_time(m[1m]), avg_over_time(n[1m])))")
    assert(r3.keySet.map(_._1) == Set("n|a"))
  }

  test("range_trim_zscore drops high-z points") {
    val r = run("range_trim_zscore(1.2, avg_over_time(m[1m]))")
    assert(r.size < 20 && r.nonEmpty)
  }

  test("bitmap and timezone transforms") {
    val b = run("bitmap_and(avg_over_time(m[1m]), 3)")
    assert(b(("|a", 6 * M)) == (6L & 3L).toDouble) // name dropped by default
    val tz = run("""timezone_offset("Europe/Berlin")""")
    assert(tz.values.toSet == Set(3600.0)) // CET in winter... epoch 0 era is +1h
  }

  test("multi-output rollups fan out with a distinguishing label") {
    val df = Engine.query(samples, "rollup_candlestick(m[1m])", grid)
    val r = df.collect().map(row =>
      (row.getMap[String, String](1)("rollup"),
        row.getMap[String, String](1)("inst"), row.getLong(2)) -> row.getDouble(3)).toMap
    // single sample per 1m window → open=close=low=high
    assert(r(("open", "a", 3 * M)) == 3.0 && r(("high", "a", 3 * M)) == 3.0)
    val q = Engine.query(samples,
      """quantiles_over_time("phi", 0.5, 1.0, m[3m])""", grid)
    val qr = q.collect().map(row =>
      (row.getMap[String, String](1)("phi"),
        row.getMap[String, String](1)("inst"), row.getLong(2)) -> row.getDouble(3)).toMap
    assert(qr(("1.0", "a", 3 * M)) == 3.0) // max of 1,2,3
    assert(qr(("0.5", "a", 3 * M)) == 2.0)
    // per-pair fan-out: rates of b's +10/min climb = 1/6 per second
    val rr = Engine.query(samples, "rollup_rate(m[3m])", grid)
    val rrr = rr.collect().map(row =>
      (row.getMap[String, String](1)("rollup"),
        row.getMap[String, String](1)("inst"), row.getLong(2)) -> row.getDouble(3)).toMap
    assert(math.abs(rrr(("avg", "b", 3 * M)) - 10.0 / 60.0) < 1e-12)
    val a = Engine.query(samples,
      """aggr_over_time(("min_over_time","max_over_time"), m[3m])""", grid)
    val ar = a.collect().map(row =>
      (row.getMap[String, String](1)("rollup"),
        row.getMap[String, String](1)("inst"), row.getLong(2)) -> row.getDouble(3)).toMap
    assert(ar(("min_over_time", "a", 3 * M)) == 1.0)
    assert(ar(("max_over_time", "a", 3 * M)) == 3.0)
  }

  test("adaptive binop pushdown (O3/O4) preserves results") {
    import graft.core.GridSpec
    val q = """avg_over_time(n[1m]) / on(inst) avg_over_time(m[1m])"""
    def results(cap: Int): Set[(String, Long, Double)] =
      Eval.eval(samples, Parser.parse(q), Eval.EvalConfig(grid, 300000L, pushdownCap = cap))
        .collect().map(r => (
          r.getMap[String, String](1).getOrElse("inst", ""), r.getLong(2), r.getDouble(3))).toSet
    assert(results(100) == results(0)) // pushdown on == off
    assert(results(100).nonEmpty)
    // O4: empty left short-circuits the right side entirely
    val empty = run("""avg_over_time(zzz[1m]) * on(inst) avg_over_time(m[1m])""")
    assert(empty.isEmpty)
    // unsafe pushdown targets (aggregation dropping the on-label) still
    // evaluate correctly via the fallback
    val agg = run("""avg_over_time(n[1m]) / on(inst) sum(avg_over_time(m[1m])) by (inst)""")
    assert(agg(("|a", 3 * M)) == 100.0 / 3.0)
  }

  test("query-result memoization serves the cached entry on repeat with no Spark job") {
    Engine.clearCache()
    val q = "avg_over_time(m[1m])"
    val a = Engine.queryCachedRows(samples, q, grid)
    // an exact hit, served the way the HTTP writer serves it (the entry's
    // rows) or as a frame over them, must not start a single Spark job
    val ((b, served), jobs) = org.apache.spark.JobCounter.jobsDuring(spark.sparkContext) {
      (Engine.queryCachedRows(samples, q, grid), Engine.queryCached(samples, q, grid).collect())
    }
    assert(b.rows eq a.rows) // the cached entry's rows
    assert(jobs == 0, s"an exact hit started $jobs Spark jobs")
    val want = Engine.query(samples, q, grid).collect().map(_.toString).sorted.toSeq
    assert(b.rows.map(_.toString).sorted.toSeq == want)
    assert(served.map(_.toString).sorted.toSeq == want)
    val c = Engine.queryCachedRows(samples, "avg_over_time(m[2m])", grid)
    assert(!(a.rows eq c.rows)) // different query → different entry
    assert(Engine.cacheEntryCount == 2)
    Engine.clearCache()
    assert(Engine.cacheEntryCount == 0)
  }

  test("O6 suffix fetch: a forward-extended grid evaluates only the new tail") {
    Engine.clearCache()
    Engine.resetCacheStats()
    val firstGrid = GridSpec(M, 6 * M, M)
    val fullGrid = GridSpec(M, 10 * M, M)
    val first = Engine.queryCached(samples, "avg_over_time(m[1m])", firstGrid)
    first.count() // materialize the prefix
    val extended = Engine.queryCached(samples, "avg_over_time(m[1m])", fullGrid)
    val (_, suffixHits, misses) = Engine.cacheStats
    assert(misses == 1 && suffixHits == 1, Engine.cacheStats.toString)
    // merged result == a fresh full-range evaluation, exactly
    val fresh = Engine.query(samples, "avg_over_time(m[1m])", fullGrid)
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getMap[String, String](1).toMap,
        r.getLong(2)) -> r.getDouble(3)).toMap
    assert(keyed(extended) == keyed(fresh))
    assert(extended.collect().length == fresh.collect().length)
    // the suffix evaluation covers only (6m, 10m]: extend the cached
    // prefix over a store with the same plan (the cache key) but every
    // value shifted — prefix points must keep the cached values, and
    // exactly the suffix points must carry the shifted store's
    Engine.clearCache()
    Engine.resetCacheStats()
    val s = spark
    import s.implicits._
    val shifted = samples.collect().toSeq.map(r => (r.getString(0),
      r.getMap[String, String](1).toMap, r.getLong(2), r.getDouble(3) + 1000.0))
      .toDF("name", "tags", "ts", "value")
    Engine.queryCached(samples, "avg_over_time(m[1m])", firstGrid)
    val mixed = Engine.queryCached(shifted, "avg_over_time(m[1m])", fullGrid)
    assert(Engine.cacheStats == (0L, 1L, 1L), Engine.cacheStats.toString)
    val want = keyed(fresh).filter(_._1._3 <= 6 * M) ++
      keyed(Engine.query(shifted, "avg_over_time(m[1m])", fullGrid)).filter(_._1._3 > 6 * M)
    assert(keyed(mixed) == want && mixed.collect().length == want.size,
      "the suffix must evaluate exactly the grid points past the cached end")
    // whole-range queries must NOT suffix-merge
    Engine.resetCacheStats()
    Engine.queryCached(samples, "running_sum(m)", firstGrid).count()
    Engine.queryCached(samples, "running_sum(m)", fullGrid).count()
    assert(Engine.cacheStats == (0L, 0L, 2L)) // two full evaluations
    Engine.clearCache()
  }

  test("O6 single-flight: concurrent identical misses evaluate once") {
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    Engine.clearCache()
    Engine.resetCacheStats()
    val q = "max_over_time(m[2m])"
    val want = Engine.query(samples, q, grid).collect().map(_.toString).sorted.toSeq
    val n = 6
    val pool = Executors.newFixedThreadPool(n)
    try {
      // N wall screens refreshing the same new range at once: one
      // evaluation, N−1 exact hits, the same rows everywhere
      val go = new CountDownLatch(1)
      val calls = (1 to n).map(_ => pool.submit(() => {
        go.await()
        Engine.queryCached(samples, q, grid).collect().map(_.toString).sorted.toSeq
      }))
      go.countDown()
      val got = calls.map(_.get(120, TimeUnit.SECONDS)) // bound = failure only
      assert(Engine.cacheStats == ((n - 1).toLong, 0L, 1L), Engine.cacheStats.toString)
      assert(want.nonEmpty && got.forall(_ == want))

      // a filler whose job group is cancelled fails alone: a caller
      // waiting on it fills the entry itself instead of taking on the error
      Engine.clearCache()
      val sc = spark.sparkContext
      val go2 = new CountDownLatch(1)
      val doomed = pool.submit(() => {
        val g = "cancelled-filler-" + java.util.UUID.randomUUID()
        sc.setJobGroup(g, "cancelled filler", interruptOnCancel = true)
        sc.cancelJobGroupAndFutureJobs(g)
        go2.await()
        try Engine.queryCached(samples, q, grid).collect().length
        catch { case _: Exception => -1 }
        finally sc.clearJobGroup()
      })
      val healthy = pool.submit(() => {
        go2.await()
        Engine.queryCached(samples, q, grid).collect().map(_.toString).sorted.toSeq
      })
      go2.countDown()
      assert(healthy.get(120, TimeUnit.SECONDS) == want)
      doomed.get(120, TimeUnit.SECONDS) // fails or hits, either is fine
    } finally pool.shutdown()
    Engine.clearCache()
  }

  test("O6 cache: ingest invalidates, misalignment/backward re-evaluate, chained suffixes merge") {
    // rollup_result_cache_test.go semantics against the suffix cache:
    // overlap handling, merge-of-merges, and the invalidate-on-ingest
    // guarantee (the reference resets its cache on delete/ingest; ours
    // keys on the canonicalized source plan, so new data can never be
    // served a stale frame)
    val s = spark
    import s.implicits._
    Engine.clearCache()
    Engine.resetCacheStats()
    val q = "avg_over_time(m[1m])"

    // chained forward extensions: 1..4m, then +2 steps, then +2 more —
    // the second extension merges onto an already-merged frame
    val g1 = GridSpec(M, 4 * M, M)
    val g2 = GridSpec(M, 6 * M, M)
    val g3 = GridSpec(M, 8 * M, M)
    Engine.queryCached(samples, q, g1).count()
    Engine.queryCached(samples, q, g2).count()
    val chained = Engine.queryCached(samples, q, g3)
    assert(Engine.cacheStats == (0L, 2L, 1L), Engine.cacheStats.toString)
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getMap[String, String](1).toMap,
        r.getLong(2)) -> r.getDouble(3)).toMap
    assert(keyed(chained) == keyed(Engine.query(samples, q, g3)))

    // backward (shrunk) grid: the cached frame is a superset — served
    // clipped with zero evaluation (reference "bigger-than-start-end";
    // RollupCacheSpec pins the non-pointwise fail-closed variant)
    Engine.resetCacheStats()
    val shrunk = Engine.queryCached(samples, q, GridSpec(M, 5 * M, M))
    assert(Engine.cacheStats == (1L, 0L, 0L))
    assert(keyed(shrunk) == keyed(Engine.query(samples, q, GridSpec(M, 5 * M, M))))

    // misaligned extension (+90s on a 60s step): full re-evaluation
    Engine.resetCacheStats()
    Engine.queryCached(samples, q, GridSpec(M, 8 * M + 90000L, M)).count()
    assert(Engine.cacheStats == (0L, 0L, 1L))

    // ingest: a store with one more sample is a DIFFERENT plan key — the
    // cached frame for the old store cannot shadow the new data
    Engine.resetCacheStats()
    val grown = samples.unionByName(
      Seq(("m", Map("inst" -> "a"), 8 * M - 30000L, 999.0))
        .toDF("name", "tags", "ts", "value"))
    val after = Engine.queryCached(grown, q, g3)
    assert(Engine.cacheStats == (0L, 0L, 1L)) // miss, not a stale hit
    val v = keyed(after)(("m", Map("inst" -> "a"), 8 * M))
    assert(v == (999.0 + 8.0) / 2) // the new sample is visible
    Engine.clearCache()
  }

  test("graphite selector, graphite groups, aggregate limit modifier") {
    val s = spark
    import s.implicits._
    val g = Seq(
      ("foo.web.req", Map("inst" -> "a"), 30000L, 1.0),
      ("foo.db.req", Map("inst" -> "a"), 30000L, 2.0),
      ("bar.web.req", Map("inst" -> "a"), 30000L, 3.0))
      .toDF("name", "tags", "ts", "value")
    val sel = Engine.query(g, """{__graphite__="foo.*.req"}""", GridSpec(M, M, M))
    assert(sel.select("name").collect().map(_.getString(0)).toSet ==
      Set("foo.web.req", "foo.db.req"))
    val grp = Engine.query(g,
      """label_graphite_group({__graphite__="foo.*.req"}, 0, 1)""", GridSpec(M, M, M))
    assert(grp.select("name").collect().map(_.getString(0)).toSet ==
      Set("foo.web", "foo.db"))
    // limit modifier caps the number of output GROUPS, first-seen wins
    // (aggr.go:139 aggrPrepareSeries: new groups are skipped once len(m)
    // reaches the limit) — by(inst) makes two groups, limit 1 keeps one
    val lim = Engine.query(samples, "sum(avg_over_time(m[1m])) by (inst) limit 1", grid)
    assert(lim.select(col("tags").getItem("inst")).distinct().count() == 1)
    // …and limit bounds INPUT groups, never a fan-out's outputs: with no
    // `by` there is a single group, so count_values still emits every
    // distinct value (aggr.go:631 passes Limit to aggrPrepareSeries only)
    val noLim = Engine.query(samples, """count_values("v", ceil(avg_over_time(m[1m])))""", grid)
    val noLimCnt = noLim.select(col("tags").getItem("v")).distinct().count()
    assert(noLimCnt > 3)
    val capped = Engine.query(samples,
      """count_values("v", ceil(avg_over_time(m[1m]))) limit 3""", grid)
    assert(capped.select(col("tags").getItem("v")).distinct().count() == noLimCnt)
  }

  test("buckets_limit merges low-hit buckets, keeping ends") {
    val s = spark
    import s.implicits._
    // one series family, 6 cumulative le-buckets, hits 10,1,1,1,1,10
    val rows = Seq(1.0 -> 10.0, 2.0 -> 11.0, 3.0 -> 12.0, 4.0 -> 13.0, 5.0 -> 14.0, 6.0 -> 24.0)
      .map { case (le, c) => ("h", Map("le" -> le.toString), 30000L, c) }
    val g = rows.toDF("name", "tags", "ts", "value")
    val out = Engine.query(g, "buckets_limit(4, h)", GridSpec(M, M, M))
    val les = out.collect().map(_.getMap[String, String](1)("le").toDouble).sorted
    assert(les.length == 4)
    assert(les.head == 1.0 && les.last == 6.0) // ends preserved
  }

  test("limitk and count") {
    val c = run("count(avg_over_time(m[1m]))")
    assert(c(("|", 3 * M)) == 2.0)
    val lk = Engine.query(samples, "limitk(1, avg_over_time(m[1m]))", grid)
      .select(col("tags").getItem("inst")).distinct().collect()
    assert(lk.length == 1)
  }

  test("1:1 vector match with duplicate match keys errors like the reference") {
    // on() erases all labels: both m series collapse onto one match key at
    // every t, so the right ("one") side holds two samples per (mk, t) —
    // the reference errors (binary_op.go:395) instead of multiplying rows
    val ex = intercept[Exception] {
      run("avg_over_time(m[1m]) * on() avg_over_time(m[1m])")
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("duplicate time series")),
      s"expected duplicate-series error, got: ${messages(ex).mkString(" | ")}")
  }

  test("O3 pushdown must not over-filter nested binops with on() modifiers") {
    val s = spark
    import s.implicits._
    // inner binop erases/renames labels: p has NO inst label; the output's
    // inst comes from q via group_left(inst). Pushing the outer on(inst)
    // filter into leaf p (the pre-fix behavior) silently empties the result.
    val rows = Seq(
      ("m", Map("inst" -> "a"), M - 30000, 2.0),
      ("p", Map("env" -> "e"), M - 30000, 3.0),
      ("q", Map("env" -> "e", "inst" -> "a"), M - 30000, 5.0))
    val df = rows.toDF("name", "tags", "ts", "value")
    val out = Engine.query(df,
      """m * on(inst) (p * on(env) group_left(inst) q)""", GridSpec(M, M, M))
      .collect()
    assert(out.length == 1)
    assert(out.head.getDouble(out.head.fieldIndex("value")) == 30.0) // 2*(3*5)
  }

  test("Prometheus staleness markers: dropped for rollups, honored by default_rollup") {
    val s = spark
    import s.implicits._
    // value 1 @1m, staleness marker (stored NaN) @2m
    // (apptest/tests/metricsql_test.go testInstantQueryDoesNotReturnStaleNaNs)
    val rows = Seq(
      ("sm", Map.empty[String, String], M, 1.0),
      ("sm", Map.empty[String, String], 2 * M, Double.NaN))
    val df = rows.toDF("name", "tags", "ts", "value")
    // instant query AT the marker: the stale NaN is the last value in the
    // lookback, so the point drops (eval.go:2108 keeps markers for
    // default_rollup; the reference returns an empty result here)
    val atMarker = Engine.query(df, "sm", GridSpec(2 * M, 2 * M, M), 300000L)
    assert(atMarker.collect().isEmpty)
    // instant query BEFORE the marker still sees the sample
    val before = Engine.query(df, "sm", GridSpec(M, M, M), 300000L)
    assert(before.collect().map(_.getDouble(3)).toSeq == Seq(1.0))
    // non-default rollups drop the marker entirely: count=1, not 2
    val cnt = Engine.query(df, "count_over_time(sm[5m])",
      GridSpec(2 * M, 2 * M, M), 300000L)
    assert(cnt.collect().map(_.getDouble(3)).toSeq == Seq(1.0))
    // ...and last_over_time sees the real sample, not the marker
    val last = Engine.query(df, "last_over_time(sm[5m])",
      GridSpec(2 * M, 2 * M, M), 300000L)
    assert(last.collect().map(_.getDouble(3)).toSeq == Seq(1.0))
    // stale_samples_over_time counts exactly the markers
    val stale = Engine.query(df, "stale_samples_over_time(sm[5m])",
      GridSpec(2 * M, 2 * M, M), 300000L)
    assert(stale.collect().map(_.getDouble(3)).toSeq == Seq(1.0))
  }

  test("@ modifier with a series expression (apptest testQueryRangeWithAtModifier)") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      ("up", Map.empty[String, String], M, 1.0),
      ("metricNaN", Map.empty[String, String], M, Double.NaN))
    val df = rows.toDF("name", "tags", "ts", "value")
    val g = GridSpec(0L, 2 * M, 10000L)
    // `vector(1) @ up` evaluates `up` as a query: one series, first
    // non-NaN value 1 → at-time 1s; the query succeeds over the grid
    val ok = Engine.query(df, "vector(1) @ up", g, 300000L).collect()
    assert(ok.nonEmpty && ok.forall(_.getDouble(3) == 1.0))
    // a staleness-marker-only series has no non-NaN value → the
    // reference's user-visible error
    val e = intercept[Exception](
      Engine.query(df, "vector(1) @ metricNaN", g, 300000L).collect())
    assert(e.getMessage.contains("modifier must return a non-NaN value") ||
      e.getMessage.contains("0 series"), e.getMessage)
    // more than one series is rejected
    val multi = Seq(
      ("mm", Map("i" -> "a"), M, 1.0), ("mm", Map("i" -> "b"), M, 2.0))
      .toDF("name", "tags", "ts", "value")
    val e2 = intercept[Exception](
      Engine.query(multi, "vector(1) @ mm", g, 300000L).collect())
    assert(e2.getMessage.contains("must return a single series"), e2.getMessage)
  }

  test("UTF-8 quoted selectors (apptest testInstantQueryWithUTFNames)") {
    val s = spark
    import s.implicits._
    val df = Seq(("3fooµ¥", Map("3👋tfにちは" -> "漢©®€£"), M, 1.0))
      .toDF("name", "tags", "ts", "value")
    val g = GridSpec(M, M, M)
    Seq(
      """{"3fooµ¥"}""",
      """{__name__="3fooµ¥"}""",
      """{__name__=~"3fo.*"}""",
      """{__name__=~".*µ¥"}""",
      """{"3fooµ¥", "3👋tfにちは"="漢©®€£"}""",
      """{"3fooµ¥", "3👋tfにちは"=~"漢.*"}""",
      """{"3👋tfにちは"="漢©®€£"}""").foreach { q =>
      val out = Engine.query(df, q, g, 300000L).collect()
      assert(out.length == 1 && out.head.getDouble(3) == 1.0, s"selector $q")
      assert(out.head.getString(0) == "3fooµ¥", s"name via $q")
    }
  }

  test("two-level counter merge survives a misaligned query_range end") {
    // end = 9.5 minutes: not a step multiple past start, so the last
    // samples' owning bucket t lands PAST endMs — the bounded window
    // sequence must clamp to the last ALIGNED grid point instead of
    // throwing Illegal sequence boundaries (reachable over HTTP; the
    // round-7 bucketizeCol incident, now for the round-8 counter plan)
    val misaligned = GridSpec(M, 9 * M + 30000L, M)
    val sub = GridSpec(M, 9 * M, M) // the aligned prefix it must equal
    val df = Engine.query(samples, "increase(m[8m])", misaligned, 2 * M)
      .filter(!isnan(col("value")))
    val ref = Engine.query(samples, "increase(m[8m])", sub, 2 * M)
      .filter(!isnan(col("value")))
    assert(df.count() == ref.count())
    assert(df.agg(max("t")).head().getLong(0) == 9 * M)
  }
}
