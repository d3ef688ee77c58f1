package graft.graphite

import graft.core.SeriesId
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Graphite Render engine data model (app/vmselect/graphite/eval.go).
  *
  * A graphite series is a dense value array on the render grid
  * `[startTime, endTime)` at some step, NaN marking missing points
  * (eval.go:76-96 `series`). Spark-first working form is the exploded
  * long row — one row per (series, grid timestamp):
  *
  *   sid      stable series identity within the set (canonical path at
  *            fetch; synthesized for aggregates). Grouping key.
  *   ord      presentation rank (graphite series lists are ordered;
  *            the sort and limit functions read and rewrite it)
  *   name     display name, rewritten by every transform
  *   tags     graphite tags incl. the `name` pseudo-tag
  *            (tags_api.go:396 getCanonicalPath, transform.go:3969)
  *   pathExpr pathExpression (the originating query text; aggregation
  *            naming dedups on it — transform.go:4026)
  *   consol   per-series consolidation function (consolidateBy), null=avg
  *   xff      per-series xFilesFactor, null = evalConfig default
  *   step     series step ms
  *   t        grid timestamp ms, value  (NaN = absent)
  *
  * Dense rows make the array-position semantics of the reference
  * (moving windows, summarize re-bucketing, xFilesFactor counting)
  * directly expressible as window/groupBy operations, and per-point
  * cross-series aggregation a plain `groupBy(t)` — series count is the
  * scale axis, grid length is bounded by the render range.
  */
final case class GraphiteCtx(
    spark: SparkSession,
    store: DataFrame, // (name, tags MAP<STRING,STRING>, ts ms, value)
    startMs: Long,
    endMs: Long,
    storageStepMs: Long,
    xff: Double = 0.0,
    nowMs: Long = 0L,
    maxSeries: Int = 300000,
    /** request timezone for calendar-unit alignment: the reference's
      * `ec.currentTime.Location()` (server-local time in VM; graphite-web
      * semantics make it the render request's tz). Only hitcount's
      * alignToInterval and smartSummarize's alignTo consult it
      * (transform.go:2063, :4996); absolute-time parsing is UTC in the
      * reference too (render_api.go parseTime uses time.Parse).
      */
    tz: java.time.ZoneId = java.time.ZoneOffset.UTC) {

  def pointsLen(step: Long): Long = (endMs - startMs) / step

  /** shifted evaluation range (moving*, timeShift re-evaluate their arg
    * under an extended/offset config — transform.go movingWindow)
    */
  def withRange(s: Long, e: Long): GraphiteCtx = copy(startMs = s, endMs = e)
}

/** A lazily-evaluated graphite series set (long format, see above).
  *
  * `steps` statically tracks the distinct step values present so step
  * normalization (the reference's peekStep+consolidate dance) never
  * needs a Spark action: sets stay uniform through every per-series
  * transform and only group()/fallback unions can mix them.
  *
  * The reference consolidates every aggregation input unconditionally
  * (`s.consolidate(ec, step)` — series.summarize re-buckets even at a
  * matching step). That re-bucket is the identity exactly when (a) the
  * rows already form the canonical dense `[start, end)` grid for the
  * consuming range — `gridRange` tracks which range that is, `None` for
  * synthetic/offset/end-inclusive grids — and (b) no series carries a
  * consolidateFunc whose singleton-bucket value differs from the input
  * (count → 1, range/stddev → 0, avg_zero(NaN) → 0) — `hasConsol`.
  * consolidateCommon skips the re-bucket only when both hold, keeping
  * the fetched-series hot path plan-free while synthetics and
  * consolidateBy flows re-bucket exactly like the reference.
  */
final case class SeriesSet(
    df: DataFrame,
    steps: Set[Long],
    gridRange: Option[(Long, Long)] = None,
    hasConsol: Boolean = false,
    headStep0: Long = 0L) {
  def step: Long = if (steps.isEmpty) 0L else steps.max

  /** the first series' step — the reference's peekStep, which picks the
    * aggregation target step; statically the first union branch's step
    */
  def headStep: Long = if (headStep0 > 0) headStep0 else step
}

object GraphiteModel {
  import GraphiteQL._

  val NaN: Double = Double.NaN
  private def nanLit: Column = lit(Double.NaN)

  /** Optimization hints keyed by the EXACT DataFrame plan object a fetch
    * returned: the series-meta frame (one row per series) and the sparse
    * filled-bucket frame (data-scale points keyed by the series key
    * [[SeriesId.Keys]], no dense NaN padding).
    * aggregateByKey consults these so a `groupByNode(fetch, …)` plan
    * touches the store once at data scale instead of deriving metadata
    * and points from the dense series×grid frame. Keyed on logical-plan
    * object identity, so ANY transform between fetch and aggregation —
    * which produces a new DataFrame — is an automatic miss and the
    * consumer falls back to the dense-grid derivation: stale hints are
    * structurally impossible. WeakHashMap: entries die with the plans.
    */
  private val metaHints = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      (DataFrame, DataFrame)]())

  private[graphite] def putFetchHints(df: DataFrame, meta: DataFrame, sparse: DataFrame): Unit =
    metaHints.put(df.queryExecution.logical, (meta, sparse))

  /** (seriesMeta, sparsePoints) when `df` is verbatim a fetch output */
  private[graphite] def fetchHints(df: DataFrame): Option[(DataFrame, DataFrame)] =
    Option(metaHints.get(df.queryExecution.logical))

  /** value with NaN→null so Spark aggregates skip it like the
    * reference's getFirstNonNaNPos walks (aggr.go:220)
    */
  def nn(v: Column): Column = when(!isnan(v), v)

  // ------------------------------------------------------------------
  // storage fetch
  // ------------------------------------------------------------------

  /** canonical path `name;k1=v1;k2=v2` with tag keys sorted
    * (tags_api.go:396 getCanonicalPath)
    */
  def canonicalPath(name: Column, tags: Column): Column =
    concat(
      name,
      coalesce(
        array_join(
          transform(
            SeriesId.entries(tags),
            e => concat(lit(";"), e.getField("key"), lit("="), e.getField("value"))),
          ""),
        lit("")))

  /** the store rows a metric path glob selects: the glob matches the
    * metric NAME (lib/storage/index_db.go:1167 getRegexpForGraphiteQuery
    * rules). A literal prefix also pushes a name range, which the
    * name-sorted layout's row groups prune on (the rlike alone prunes
    * nothing).
    */
  def globPredicate(query: String): Column = {
    val re = globToRegex(query)
    graft.core.SampleStore.namePrefixBounds(
      graft.core.SampleStore.globLiteralPrefix(query)) match {
      case Some(b) => b && col("name").rlike(re)
      case None => col("name").rlike(re)
    }
  }

  /** Fetch the series `pred` selects from the store — a path glob
    * ([[globPredicate]]) or seriesByTag's tag expressions
    * ([[tagExprPredicate]]) — as the set named `pathExpr`, each series
    * normalized to the storage-step grid with average consolidation
    * (eval.go:200 `s.summarize(aggrAvg, …)`).
    */
  def fetch(ctx: GraphiteCtx, pred: Column, pathExpr: String): SeriesSet = {
    val raw = SeriesId.withPair(ctx.store.filter(pred))
      .filter(col("ts") >= ctx.startMs && col("ts") <= ctx.endMs)
    SeriesSet(rawToGrid(ctx, raw, pathExpr, ctx.storageStepMs), Set(ctx.storageStepMs),
      gridRange = Some((ctx.startMs, ctx.endMs)))
  }

  /** tag-expression predicate over (name, tags) columns
    * (`seriesByTag('key=value', …)`, transform.go transformSeriesByTag):
    * `k=v`, `k!=v`, `k=~re`, `k!~re`; `name` matches the metric name
    */
  def tagExprPredicate(conds: Seq[String]): Column = {
    val preds = conds.map { c =>
      val (k, op, v) =
        if (c.contains("!=") && !c.contains("!~")) {
          val i = c.indexOf("!="); (c.substring(0, i), "!=", c.substring(i + 2))
        } else if (c.contains("=~")) {
          val i = c.indexOf("=~"); (c.substring(0, i), "=~", c.substring(i + 2))
        } else if (c.contains("!~")) {
          val i = c.indexOf("!~"); (c.substring(0, i), "!~", c.substring(i + 2))
        } else {
          val i = c.indexOf('=')
          if (i < 0) throw GraphiteQL.ParseException(s"invalid seriesByTag condition '$c'")
          (c.substring(0, i), "=", c.substring(i + 1))
        }
      val tagv = coalesce(
        if (k == "name") col("name") else col("tags").getItem(k),
        lit(""))
      op match {
        case "=" => tagv === v
        case "!=" => tagv =!= v
        case "=~" => tagv.rlike("^(?:" + v + ")$")
        case "!~" => !tagv.rlike("^(?:" + v + ")$")
      }
    }
    preds.reduce(_ && _)
  }

  /** Raw samples (name, tags, `_h1`, `_h2`, ts, value) → dense
    * per-series grid at `step` with average consolidation, including the
    * ingestion-jitter rule: an empty bucket adopts the last earlier
    * sample when it lies within 2 s of the bucket start (eval.go:111-143
    * summarize). One data-scale exchange on (name, `_h1`, `_h2`) feeds
    * every step; `sid`, tags and `ord` are built once per series.
    */
  private def rawToGrid(ctx: GraphiteCtx, raw: DataFrame, pathExpr: String,
      step: Long): DataFrame = {
    val n = ctx.pointsLen(step)
    if (n <= 0) return emptyFrame(ctx.spark)
    val keys = SeriesId.Keys
    // ts in [start, end] puts _b in [0, n]: bucket n names its series in
    // the meta frame but yields no point (`filled` drops it)
    val bucketed = raw
      .withColumn("_te", SeriesId.entries(col("tags")))
      .withColumn("_b", ((col("ts") - ctx.startMs) / step).cast("long"))
      .repartition(keys.map(col): _*)
    // per-field last-sample aggregates, NOT max_by over a (ts, value)
    // struct: a struct aggregation buffer is not UnsafeRow-mutable, so
    // the struct form planned the whole bucket aggregate as SortAggregate
    // — a data-scale sort per fetch (opt r13). max(ts) + max_by(value, ts)
    // keep every buffer fixed-width (HashAggregate) and pick the same
    // (arbitrary-on-ts-tie) last sample.
    val perBucket = bucketed
      .groupBy((keys :+ "_te" :+ "_b").map(col): _*)
      .agg(
        avg(nn(col("value"))).as("_avg"),
        max(col("ts")).as("_lastTs"),
        max_by(col("value"), col("ts")).as("_lastV"))
    // Ingestion-jitter adoption, computed SPARSELY: an empty bucket b'
    // adopts the last earlier sample when that sample lies within 2 s of
    // b's start. The donor is always the latest-filled bucket before b'
    // (the reference's "last earlier sample"), so enumerate, per filled
    // bucket, the empty buckets whose start is within 2 s of its last
    // sample — bounded by the next filled bucket and the grid end. This
    // replaces a window over the DENSE series×points grid (shuffle +
    // sort at grid scale, the measured 2 s hot spot of the sf0.1
    // aggregation bench) with a lead() over the data-scale sparse
    // buckets. The real bucket and its jitter fills are emitted from ONE
    // exploded array so the aggregated subtree isn't planned twice (a
    // union of two derivations of perBucket re-scans the store). As a
    // next bucket, bucket n caps _maxB at n - 1, as the grid end does.
    val wNext = Window.partitionBy(keys.map(col): _*).orderBy(col("_b"))
    val points = perBucket
      .withColumn("_nextB", lead(col("_b"), 1).over(wNext))
      .withColumn("_maxB",
        least(
          floor((col("_lastTs") + 2000L - ctx.startMs) / step).cast("long"),
          coalesce(col("_nextB") - 1, lit(n - 1)),
          lit(n - 1)))
      .select(keys.map(col) :+ col("_te") :+
        explode(concat(
          array(struct(col("_b").as("b"), coalesce(col("_avg"), nanLit).as("v"))),
          when(col("_maxB") >= col("_b") + 1,
            transform(sequence(col("_b") + 1, col("_maxB"), lit(1L)),
              b2 => struct(b2.as("b"), col("_lastV").as("v"))))
            .otherwise(array().cast("array<struct<b:bigint,v:double>>")))).as("_e"): _*)
      .select(keys.map(col) ++ Seq(col("_te"), col("_e.b").as("_b"), col("_e.v").as("_v")): _*)
    val filled = points.filter(col("_b") < n).drop("_te")
    // meta dedups the rows the points come from: a branch reading fewer
    // columns would prune below the exchange and scan the store again
    // one row per series (keys, store tags) → its sid, graphite tags, ord
    def describe(series: DataFrame): DataFrame = series
      .select(keys.map(col) ++ Seq(
        canonicalPath(col("name"), col("tags")).as("sid"),
        GraphiteEval.tagMerge(map(lit("name"), col("name")), col("tags")).as("tags"),
        lit(pathExpr).as("pathExpr")): _*)
      .withColumn("ord", dense_rank().over(Window.orderBy(col("sid"))).cast("long")) // series-meta scale: one row per series, bounded by maxSeries
    val meta = describe(points.select((keys :+ "_te").map(col): _*).distinct()
      .withColumn("tags", map_from_entries(col("_te"))))
    val dense = meta.withColumn(
      "_b",
      explode(sequence(lit(0L), lit(n - 1), lit(1L))))
    val j = dense
      .join(filled, keys :+ "_b", "left")
      .withColumn("t", lit(ctx.startMs) + col("_b") * step)
    val out = j.select(
      col("sid"),
      col("ord"),
      col("name"),
      col("tags"),
      col("pathExpr"),
      lit(null).cast("string").as("consol"),
      lit(null).cast("double").as("xff"),
      lit(step).as("step"),
      col("t"),
      coalesce(col("_v"), nanLit).as("value"))
    // an aggregation over the fetch reads the meta on its own (a
    // map-side dedup of the samples) and joins the sparse points to it on
    // the series key
    putFetchHints(out, describe(graft.core.Exemplar.distinctWith(raw, keys, Seq("tags"))),
      filled.select(keys.map(col) ++ Seq((lit(ctx.startMs) + col("_b") * step).as("t"),
        col("_v").as("value")): _*))
    out
  }

  /** schema-correct empty series set */
  def emptyFrame(spark: SparkSession): DataFrame = {
    spark.range(0).select(
      lit("").as("sid"),
      lit(0L).as("ord"),
      lit("").as("name"),
      map(lit("k"), lit("v")).as("tags"),
      lit("").as("pathExpr"),
      lit(null).cast("string").as("consol"),
      lit(null).cast("double").as("xff"),
      lit(0L).as("step"),
      lit(0L).as("t"),
      lit(0.0).as("value"))
  }

  // ------------------------------------------------------------------
  // aggregation kernel (aggr.go / aggr_state.go)
  // ------------------------------------------------------------------

  val aggrNames: Set[String] = Set(
    "average", "avg", "avg_zero", "median", "sum", "total", "min", "max",
    "diff", "pow", "stddev", "count", "range", "rangeOf", "multiply",
    "first", "last", "current")

  def normalizeAggrName(fn: String): String = {
    val s = fn.stripSuffix("Series")
    if (!aggrNames(s) && !s.startsWith("p")) // pNN percentile callbacks
      throw ParseException(s"unsupported aggregate function '$fn'")
    s
  }

  /** Percentile with the reference's exact index rule
    * (valyala/histogram Fast.quantile): sorted non-NaN values,
    * `idx = floor(phi*(n-1)+0.5)`; phi≤0 → min, phi≥1 → max. The
    * reference reservoir-samples above 1000 values per bucket; we stay
    * exact (deviation: strictly more accurate).
    */
  def percentileExpr(sortedCol: String, phi: Double): Column = {
    // guarded for ANSI mode: empty array → null, index clamped into range
    val idx =
      if (phi <= 0) "1"
      else if (phi >= 1) s"size($sortedCol)"
      else s"cast($phi * (size($sortedCol) - 1) + 0.5 AS INT) + 1"
    expr(
      s"if(size($sortedCol) = 0, cast(null as double), " +
        s"element_at($sortedCol, greatest(1, least(size($sortedCol), $idx))))")
  }

  /** Build the aggregated value for one group given pre-computed helper
    * aggregation columns. Caller must .agg(helperAggs: _*) first; this
    * returns a per-aggrName select Column over those helpers.
    *
    * Helper columns (all NaN-skipping unless noted):
    *   _sum,_cnt,_min,_max,_sd (stddev_pop), _rows (all rows),
    *   _sorted (sorted non-NaN array), _ordered (order-struct array for
    *   serial folds: diff/pow/multiply/first/last)
    */
  def helperAggs(v: Column, ord: Column): Seq[Column] =
    helperAggsFor(None, v, ord)

  /** Aggregation helper columns, pruned to what `fn` actually reads —
    * the sorted collect_lists are the expensive ones and only the
    * percentile/serial functions need them; `None` keeps the full set
    * (the per-series consolidation CASE dispatches over every fn).
    */
  def helperAggsFor(fn: Option[String], v: Column, ord: Column): Seq[Column] = {
    val f = fn.map(_.stripSuffix("Series"))
    def needs(cols: String*): Boolean =
      f.isEmpty || cols.contains(f.get) ||
        (f.get.startsWith("p") && cols.contains("pNN"))
    val base = Seq(
      sum(nn(v)).as("_sum"),
      count(nn(v)).as("_cnt"),
      count(lit(1)).as("_rows"))
    val minMax =
      if (needs("min", "max", "range", "rangeOf"))
        Seq(min(nn(v)).as("_min"), max(nn(v)).as("_max"))
      else Nil
    val sd = if (needs("stddev")) Seq(stddev_pop(nn(v)).as("_sd")) else Nil
    val sorted =
      if (needs("median", "pNN"))
        Seq(array_sort(collect_list(nn(v))).as("_sorted"))
      else Nil
    val ordered =
      if (needs("first", "last", "current", "diff", "multiply", "pow"))
        Seq(array_sort(collect_list(when(!isnan(v), struct(ord.as("o"), v.as("v")))))
          .as("_ordered"))
      else Nil
    base ++ minMax ++ sd ++ sorted ++ ordered
  }

  private def firstOrdered: Column =
    expr("if(size(_ordered) = 0, cast(null as double), _ordered[0].v)")

  /** serial left fold over _ordered: f(acc, x) with null acc start */
  private def foldOrdered(fn: String): Column = fn match {
    case "multiply" =>
      expr("aggregate(_ordered, cast(null as double), (a, x) -> if(a is null, x.v, a * x.v))")
    case "pow" =>
      expr("aggregate(_ordered, cast(null as double), (a, x) -> if(a is null, x.v, power(a, x.v)))")
    case other => sys.error(s"no fold for $other")
  }

  /** per-group aggregated value (before xFilesFactor gating) */
  def aggValueCol(fn: String): Column = fn match {
    case "average" | "avg" => col("_sum") / col("_cnt")
    case "avg_zero" => coalesce(col("_sum"), lit(0.0)) / col("_rows")
    case "sum" | "total" => col("_sum")
    case "min" => col("_min")
    case "max" => col("_max")
    case "count" => col("_cnt").cast(DoubleType)
    case "range" | "rangeOf" => col("_max") - col("_min")
    case "stddev" => col("_sd")
    case "median" => percentileExpr("_sorted", 0.5)
    case "first" => firstOrdered
    case "last" | "current" =>
      expr("if(size(_ordered) = 0, cast(null as double), " +
        "element_at(_ordered, size(_ordered)).v)")
    case "diff" => lit(2.0) * firstOrdered - col("_sum")
    case "multiply" | "pow" => foldOrdered(fn)
    case p if p.startsWith("p") && p.drop(1).forall(c => c.isDigit || c == '.') =>
      percentileExpr("_sorted", p.drop(1).toDouble / 100.0)
    case other => throw ParseException(s"unsupported aggregate function '$other'")
  }

  /** bucket-level xFilesFactor gate (aggr.go:44 aggrFunc.apply):
    * apply iff nonNaN count ≥ len(values)·xff; `count` still yields its
    * numeric count when gated in (0 for all-NaN buckets).
    */
  def bucketGate(fn: String, xffC: Column): Column = {
    val pass = col("_cnt").cast(DoubleType) >= col("_rows").cast(DoubleType) * xffC
    val v = coalesce(aggValueCol(fn), nanLit)
    when(pass, if (fn == "count") col("_cnt").cast(DoubleType) else v)
      .otherwise(nanLit)
  }

  /** state-level gate (aggr_state.go Finalize): value iff
    * cnt > 0 && cnt ≥ int(xff · seriesTotal); avg_zero skips the gate
    * and divides by seriesTotal (aggr_state.go:120).
    */
  def stateGate(fn: String, xffC: Column): Column = {
    if (fn == "avg_zero")
      coalesce(col("_sum"), lit(0.0)) / col("_rows")
    else {
      val pass = col("_cnt") > 0 &&
        col("_cnt") >= floor(xffC * col("_rows")).cast("long")
      when(pass, coalesce(aggValueCol(fn), nanLit)).otherwise(nanLit)
    }
  }

  // ------------------------------------------------------------------
  // re-bucketing: consolidate / summarize / hitcount
  // ------------------------------------------------------------------

  /** Re-bucket every series of `ss` onto the `[start, end)` grid at
    * `step`, applying `aggrFor` per series (a Column over `consol` for
    * consolidation, or a fixed name), with the same empty-bucket jitter
    * rule as the storage summarize (eval.go:111). Keeps identity/naming
    * columns untouched.
    */
  def summarizeSet(
      ctx: GraphiteCtx,
      ss: SeriesSet,
      start: Long,
      end: Long,
      step: Long,
      fixedAggr: Option[String],
      xffC: Column): SeriesSet = {
    val n = (end - start) / step
    if (n <= 0)
      return SeriesSet(emptyFrame(ctx.spark), Set(step),
        gridRange = Some((start, end)))
    // points BEFORE the range fold into bucket 0 — the reference's
    // summarize scan starts its first bucket at index i=0 regardless of
    // how early the timestamps begin (eval.go:117-123)
    val src = ss.df
      .filter(col("t") <= end)
      .withColumn("_b",
        greatest(lit(0L), floor((col("t") - start).cast(DoubleType) / step).cast("long")))
      .filter(col("_b") < n)
    // Per-field last-sample aggregates + payload riding the GROUP KEY
    // (Exemplar.groupByWith): the old max_by(struct)/first(map)/first
    // (string) buffers forced the whole bucket aggregate into
    // SortAggregate — a grid-scale sort per summarize (opt r13). sid ⟹
    // every payload column by construction, so grouping by them changes
    // nothing; all remaining buffers are fixed-width (or collect_list →
    // ObjectHashAggregate), so no sort either way.
    val aggs = helperAggsFor(fixedAggr, col("value"), col("t")) ++ Seq(
      max(col("t")).as("_lastTs"),
      max_by(col("value"), col("t")).as("_lastV"))
    val payload = Seq("name", "tags", "pathExpr", "consol", "xff", "ord")
    val perBucket = graft.core.Exemplar.groupByWith(
      src, Seq(col("sid"), col("_b")), payload)(aggs)
    val gated = fixedAggr match {
      case Some(fn) => bucketGate(normalizeAggrName(fn), xffC)
      case None =>
        // per-series consolidation function (consolidateFunc, default avg)
        val branches = aggrNames.toSeq.sorted.map(fn => (fn, bucketGate(fn, xffC)))
        branches.foldLeft(when(col("consol").isNull, bucketGate("avg", xffC))) {
          case (acc, (fn, c)) => acc.when(col("consol") === fn, c)
        }.otherwise(bucketGate("avg", xffC))
    }
    val withVal = perBucket.withColumn("_bv", gated)
    val meta = graft.core.Exemplar.distinctWith( // HashAggregate dedup
      withVal, Seq("sid"), payload)
    val dense = meta.withColumn("_b", explode(sequence(lit(0L), lit(n - 1), lit(1L))))
    val w = Window.partitionBy(col("sid")).orderBy(col("_b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val singleFn = fixedAggr.map(normalizeAggrName)
    val jitterVal = {
      // aggr over the single adopted sample (eval.go:125-133)
      val v = col("_prevLastV")
      val c1 = when(!isnan(v), lit(1)).otherwise(lit(0))
      def single(fn: String): Column = fn match {
        case "count" => c1.cast(DoubleType)
        case "stddev" | "range" | "rangeOf" =>
          when(!isnan(v), lit(0.0)).otherwise(nanLit)
        case "avg_zero" => when(!isnan(v), v).otherwise(lit(0.0))
        case _ => v
      }
      val gate = c1.cast(DoubleType) >= xffC
      val body = singleFn match {
        case Some(fn) => single(fn)
        case None =>
          aggrNames.toSeq.sorted
            .foldLeft(when(col("consol").isNull, single("avg"))) { (acc, fn) =>
              acc.when(col("consol") === fn, single(fn))
            }
            .otherwise(single("avg"))
      }
      when(gate, body).otherwise(nanLit)
    }
    // two ignoreNulls windows pick the SAME donor row: _lastTs/_lastV are
    // null exactly together (both come from the same left-join miss)
    val j = dense
      .join(withVal.select(col("sid"), col("_b"), col("_bv"),
          col("_lastTs"), col("_lastV")),
        Seq("sid", "_b"), "left")
      .withColumn("_prevLastTs", last(col("_lastTs"), ignoreNulls = true).over(w))
      .withColumn("_prevLastV", last(col("_lastV"), ignoreNulls = true).over(w))
      .withColumn("t", lit(start) + col("_b") * step)
    SeriesSet(
      j.select(
        col("sid"),
        col("ord"),
        col("name"),
        col("tags"),
        col("pathExpr"),
        col("consol"),
        col("xff"),
        lit(step).as("step"),
        col("t"),
        when(col("_bv").isNotNull, col("_bv"))
          .when(
            col("_prevLastTs").isNotNull &&
              col("t") - col("_prevLastTs") <= 2000,
            jitterVal)
          .otherwise(nanLit)
          .as("value")),
      Set(step),
      gridRange = Some((start, end)))
  }

  /** Normalize a set so every series sits on one common step (the
    * coarsest present), consolidating with each series' consolidateFunc —
    * the reference consolidates to the first-seen series' step
    * (aggregateSeries peekStep); we pick max(step) deterministically
    * from the statically-tracked step set, so this is a no-op (no plan
    * change, no action) for the uniform common case.
    */
  def consolidateCommon(ctx: GraphiteCtx, ss: SeriesSet): SeriesSet =
    consolidateTo(ctx, ss,
      if (ss.steps.nonEmpty) ss.headStep else ctx.storageStepMs)

  /** consolidate every series to an explicit target step (the
    * reference's unconditional `s.consolidate(ec, step)`); skipped only
    * when provably the identity (see SeriesSet scaladoc)
    */
  def consolidateTo(ctx: GraphiteCtx, ss: SeriesSet, step: Long): SeriesSet = {
    val identity = ss.steps == Set(step) && !ss.hasConsol &&
      ss.gridRange.contains((ctx.startMs, ctx.endMs))
    if (identity) ss
    else {
      val xffC = coalesce(col("xff"), lit(ctx.xff))
      summarizeSet(ctx, ss, ctx.startMs, ctx.endMs, step, None, xffC)
    }
  }

  // ------------------------------------------------------------------
  // misc shared helpers
  // ------------------------------------------------------------------

  /** Go `%g` number formatting for names: shortest round-trip digits,
    * scientific form when the decimal exponent is < -4 or >= 6 (strconv
    * ftoa with shortest=true sets eprec=6 — hence Go's famous `1e+06`),
    * exponent zero-padded to two digits.
    */
  def goFmt(d: Double): String = {
    if (d.isNaN) "NaN"
    else if (d.isInfinite) { if (d > 0) "+Inf" else "-Inf" }
    else if (d == 0.0) "0"
    else {
      val neg = d < 0
      val s = shortestRepr(math.abs(d))
      // extract significant digits + decimal exponent
      val (digits, exp) =
        if (s.contains('E')) {
          val Array(m, e) = s.split('E')
          (m.replace(".", "").reverse.dropWhile(_ == '0').reverse, e.toInt)
        } else {
          val dot = s.indexOf('.')
          val raw = s.replace(".", "")
          val lead = raw.takeWhile(_ == '0').length
          val dg = raw.dropWhile(_ == '0').reverse.dropWhile(_ == '0').reverse
          val ex = if (lead == 0) dot - 1 else -(lead - dot) - 1
          (if (dg.isEmpty) "0" else dg, ex)
        }
      val body =
        if (exp < -4 || exp >= 6) {
          val mant =
            if (digits.length == 1) digits
            else digits.take(1) + "." + digits.drop(1)
          val es = if (exp >= 0) "+%02d".format(exp) else "-%02d".format(-exp)
          s"${mant}e$es"
        } else if (exp >= digits.length - 1) {
          digits + "0" * (exp - digits.length + 1)
        } else if (exp >= 0) {
          digits.take(exp + 1) + "." + digits.drop(exp + 1)
        } else {
          "0." + "0" * (-exp - 1) + digits
        }
      if (neg) "-" + body else body
    }
  }

  /** Shortest scientific representation that round-trips (this JVM's
    * Double.toString is not minimal-digits pre-Ryu; Go's strconv is) —
    * smallest precision whose %e form parses back to the same double.
    */
  private def shortestRepr(d: Double): String = {
    var p = 0
    while (p < 17) {
      val s = String.format(java.util.Locale.ROOT, "%." + p + "e", Double.box(d))
      if (java.lang.Double.parseDouble(s) == d) return s.replace("e", "E")
      p += 1
    }
    java.lang.Double.toString(d)
  }

  /** Column variant of goFmt for value-derived name pieces (per-series
    * metadata scale; the formatting rules aren't expressible natively)
    */
  val goFmtUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((d: Double) => goFmt(d))

  def goFmtCol(v: Column): Column = goFmtUdf(v)

  /** pathExpression length cap (eval.go safePathExpressionFromString,
    * -search.maxGraphitePathExpressionLen default 1024): deeply nested
    * queries otherwise grow the pathExpression string without bound
    */
  val MaxPathExprLen = 1024

  def capPath(c: Column): Column =
    when(length(c) > MaxPathExprLen,
      concat(substring(c, 1, MaxPathExprLen), lit("...")))
      .otherwise(c)

  /** dotted path part of a display name: parse it as graphiteql and take
    * the first metric expression (transform.go:3706 getPathFromName)
    */
  def pathFromName(name: String): String = {
    import GraphiteQL._
    try {
      var expr = parse(name)
      while (true) {
        expr match {
          case MetricExpr(q) => return q
          case FuncExpr(_, args, _) =>
            args.collectFirst { case Arg(_, MetricExpr(q)) => q } match {
              case Some(q) => return q
              case None =>
                if (args.isEmpty) return name
                expr = args.head.expr // descend into the first arg
            }
          case StringExpr(s) => return s
          case n: NumberExpr => return n.render
          case BoolExpr(b) => return b.toString // Go strconv.FormatBool
          case _ => return name
        }
      }
      name
    } catch { case _: Exception => name }
  }

  /** aggregation result naming: `fnSeries(paths)` where paths are the
    * deduped (and for non-serial fns, sorted) input pathExpressions
    * (transform.go:4026 formatAggrFuncForSeriesNames)
    */
  def formatAggrName(fn: String, pathExprs: Seq[String]): String = {
    if (pathExprs.isEmpty) "None"
    else {
      val serial = Set("diff", "first", "last", "current", "pow")(fn.stripSuffix("Series"))
      val deduped = pathExprs.distinct
      val paths = if (serial) deduped else deduped.sorted
      s"${fn.stripSuffix("Series")}Series(${paths.mkString(",")})"
    }
  }
}
