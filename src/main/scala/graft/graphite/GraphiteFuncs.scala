package graft.graphite

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import GraphiteQL._
import GraphiteModel._
import GraphiteEval._

/** The Graphite Render function registry — every name the reference
  * registers (app/vmselect/graphite/transform.go:44-204), re-expressed
  * over the long-format SeriesSet: pointwise work is column arithmetic,
  * per-series sequential semantics are windows ordered by `t`, whole-set
  * statistics are `groupBy(sid)` joins, cross-series aggregation is
  * `groupBy(t)` (GraphiteAgg), re-bucketing reuses
  * GraphiteModel.summarizeSet. Functions the reference itself leaves
  * unimplemented (transformTODO: cactiStyle, legendValue, map, mapSeries,
  * reduce, reduceSeries) raise the same error here.
  */
object GraphiteFuncs {

  type TFunc = (GraphiteCtx, FuncExpr) => SeriesSet

  private def todo: TFunc = (_, fe) =>
    throw GraphiteError(s"TODO: implement this function: ${fe.name}")

  // ------------------------------------------------------------------
  // pointwise value transforms
  // ------------------------------------------------------------------

  private def absolute: TFunc = (ctx, fe) => {
    expectArgs(fe, 1, 1)
    val ss = seriesArg(ctx, fe, "seriesList", 0)
    mapSet(ss, value = abs(col("value")), name = wrapName("absolute"),
      tagsUpd = Seq("absolute" -> lit("1")))
  }

  private def add: TFunc = (ctx, fe) => {
    expectArgs(fe, 2, 2)
    val n = num(fe, "constant", 1)
    val ss = seriesArg(ctx, fe, "seriesList", 0)
    mapSet(ss, value = col("value") + n,
      name = wrapName("add", lit(goFmt(n))),
      tagsUpd = Seq("add" -> lit(goFmt(n))))
  }

  private def offsetFn: TFunc = (ctx, fe) => {
    expectArgs(fe, 2, 2)
    val n = num(fe, "factor", 1)
    val ss = seriesArg(ctx, fe, "seriesList", 0)
    mapSet(ss, value = col("value") + n,
      name = wrapName("offset", lit(goFmt(n))),
      tagsUpd = Seq("offset" -> lit(goFmt(n))))
  }

  private def scale: TFunc = (ctx, fe) => {
    expectArgs(fe, 2, 2)
    val n = num(fe, "factor", 1)
    val ss = seriesArg(ctx, fe, "seriesList", 0)
    mapSet(ss, value = col("value") * n, name = wrapName("scale", lit(goFmt(n))))
  }

  private def invert: TFunc = (ctx, fe) => {
    expectArgs(fe, 1, 1)
    val ss = seriesArg(ctx, fe, "seriesList", 0)
    mapSet(ss, value = lit(1.0) / col("value"), name = wrapName("invert"),
      tagsUpd = Seq("invert" -> lit("1")))
  }

  private def powFn: TFunc = (ctx, fe) => {
    expectArgs(fe, 2, 2)
    val n = num(fe, "factor", 1)
    val ss = seriesArg(ctx, fe, "seriesList", 0)
    mapSet(ss, value = pow(col("value"), n),
      name = wrapName("pow", lit(goFmt(n))), tagsUpd = Seq("pow" -> lit(goFmt(n))))
  }

  private def expFn: TFunc = (ctx, fe) => {
    expectArgs(fe, 1, 1)
    val ss = seriesArg(ctx, fe, "seriesList", 0)
    mapSet(ss, value = exp(col("value")), name = wrapName("exp"),
      tagsUpd = Seq("exp" -> lit("e")))
  }

  private def logarithm: TFunc = (ctx, fe) => {
    expectArgs(fe, 1, 2)
    val base = optNum(fe, "base", 1, 10)
    val ss = seriesArg(ctx, fe, "seriesList", 0)
    mapSet(ss, value = log(col("value")) / math.log(base),
      name = wrapName("log", lit(goFmt(base))),
      tagsUpd = Seq("log" -> lit(goFmt(base))))
  }

  private def logit: TFunc = (ctx, fe) => {
    expectArgs(fe, 1, 1)
    val ss = seriesArg(ctx, fe, "seriesList", 0)
    mapSet(ss, value = log(col("value") / (lit(1.0) - col("value"))),
      name = wrapName("logit"), tagsUpd = Seq("logit" -> lit("logit")))
  }

  private def sigmoid: TFunc = (ctx, fe) => {
    expectArgs(fe, 1, 1)
    val ss = seriesArg(ctx, fe, "seriesList", 0)
    mapSet(ss, value = lit(1.0) / (lit(1.0) + exp(-col("value"))),
      name = wrapName("sigmoid"), tagsUpd = Seq("sigmoid" -> lit("sigmoid")))
  }

  private def squareRoot: TFunc = (ctx, fe) => {
    expectArgs(fe, 1, 1)
    val ss = seriesArg(ctx, fe, "seriesList", 0)
    mapSet(ss, value = pow(col("value"), 0.5), name = wrapName("squareRoot"),
      tagsUpd = Seq("squareRoot" -> lit("1")))
  }

  private def roundFn: TFunc = (ctx, fe) => {
    expectArgs(fe, 1, 2)
    val precision = optNum(fe, "precision", 1, 0)
    val pp = math.pow(10, precision.toInt)
    val ss = seriesArg(ctx, fe, "seriesList", 0)
    val nm =
      if (precision == 0) wrapName("round")
      else wrapName("round", lit(goFmt(precision)))
    // math.Round = half away from zero; express via floor(x+0.5 * sign)
    val x = col("value") * pp
    val rounded =
      when(isnan(x), x).otherwise(
        when(x >= 0, floor(x + 0.5)).otherwise(-floor(-x + 0.5))) / pp
    mapSet(ss, value = rounded, name = nm)
  }

  private def minMax: TFunc = (ctx, fe) => {
    expectArgs(fe, 1, 1)
    val ss = seriesArg(ctx, fe, "seriesList", 0)
    val mn = coalesce(min(nn(col("value"))).over(wAll), lit(0.0))
    val mx = coalesce(max(nn(col("value"))).over(wAll), lit(0.0))
    val v = (col("value") - mn) / (mx - mn)
    val v2 = when(v === Double.PositiveInfinity || v === Double.NegativeInfinity, 0.0)
      .otherwise(v)
    mapSet(ss, value = v2, name = wrapName("minMax"))
  }

  private def offsetToZero: TFunc = (ctx, fe) => {
    expectArgs(fe, 1, 1)
    val ss = seriesArg(ctx, fe, "seriesList", 0)
    val mn = min(nn(col("value"))).over(wAll)
    mapSet(ss, value = col("value") - coalesce(mn, lit(Double.NaN)),
      name = wrapName("offsetToZero"),
      tagsUpd = Seq("offsetToZero" -> goFmtCol(coalesce(mn, lit(Double.NaN)))))
  }

  private def isNonNull: TFunc = (ctx, fe) => {
    expectArgs(fe, 1, 1)
    val ss = seriesArg(ctx, fe, "seriesList", 0)
    mapSet(ss, value = when(isnan(col("value")), 0.0).otherwise(1.0),
      name = wrapName("isNonNull"), tagsUpd = Seq("isNonNull" -> lit("1")))
  }

  private def drawAsInfinite: TFunc = (ctx, fe) => {
    expectArgs(fe, 1, 1)
    val ss = seriesArg(ctx, fe, "seriesList", 0)
    mapSet(ss, name = wrapName("drawAsInfinite"),
      tagsUpd = Seq("drawAsInfinite" -> lit("1")), setPathExpr = false)
  }

  private def removeAboveValue: TFunc = (ctx, fe) => removeValue(ctx, fe, above = true)
  private def removeBelowValue: TFunc = (ctx, fe) => removeValue(ctx, fe, above = false)

  private def removeValue(ctx: GraphiteCtx, fe: FuncExpr, above: Boolean): SeriesSet = {
    expectArgs(fe, 2, 2)
    val n = num(fe, "n", 1)
    val ss = seriesArg(ctx, fe, "seriesList", 0)
    val fn = if (above) "removeAboveValue" else "removeBelowValue"
    val bad = if (above) col("value") > n else col("value") < n
    mapSet(ss, value = when(bad, Double.NaN).otherwise(col("value")),
      name = wrapName(fn, lit(goFmt(n))))
  }

  private def removeAbovePercentile: TFunc = (ctx, fe) => removePercentile(ctx, fe, above = true)
  private def removeBelowPercentile: TFunc = (ctx, fe) => removePercentile(ctx, fe, above = false)

  private def removePercentile(ctx: GraphiteCtx, fe: FuncExpr, above: Boolean): SeriesSet = {
    expectArgs(fe, 2, 2)
    val n = num(fe, "n", 1)
    val ss = seriesArg(ctx, fe, "seriesList", 0)
    val fn = if (above) "removeAbovePercentile" else "removeBelowPercentile"
    val withP = ss.df
      .withColumn("_sorted", array_sort(collect_list(nn(col("value"))).over(wAll)))
      .withColumn("_p", percentileExpr("_sorted", n / 100.0))
      .drop("_sorted")
    val bad = if (above) col("value") > col("_p") else col("value") < col("_p")
    mapSet(ss.copy(df = withP),
      value = when(bad, Double.NaN).otherwise(col("value")),
      name = wrapName(fn, lit(goFmt(n)))) match {
      case s => s.copy(df = s.df.drop("_p"))
    }
  }

  private def nPercentile: TFunc = (ctx, fe) => {
    expectArgs(fe, 2, 2)
    val n = num(fe, "n", 1)
    val ss = seriesArg(ctx, fe, "seriesList", 0)
    val withP = ss.df
      .withColumn("_sorted", array_sort(collect_list(nn(col("value"))).over(wAll)))
      .withColumn("_p", percentileExpr("_sorted", n / 100.0))
      .drop("_sorted")
    val out = mapSet(ss.copy(df = withP),
      value = coalesce(col("_p"), lit(Double.NaN)),
      name = wrapName("nPercentile", lit(goFmt(n))),
      tagsUpd = Seq("nPercentile" -> lit(goFmt(n))))
    out.copy(df = out.df.drop("_p"))
  }

  // ------------------------------------------------------------------
  // per-series sequential transforms (windows ordered by t)
  // ------------------------------------------------------------------

  private def derivative: TFunc = (ctx, fe) => {
    expectArgs(fe, 1, 1)
    val ss = seriesArg(ctx, fe, "seriesList", 0)
    val prev = lag(col("value"), 1).over(wOrd)
    mapSet(ss,
      value = when(prev.isNull || isnan(prev) || isnan(col("value")), Double.NaN)
        .otherwise(col("value") - prev),
      name = wrapName("derivative"), tagsUpd = Seq("derivative" -> lit("1")))
  }

  /** nonNegativeDelta (transform.go:4442): counter delta with optional
    * maxValue wrap and minValue floor
    */
  private def nonNegativeDeltaCol(maxV: Double, minV: Double): Column = {
    val v = col("value")
    // prev carried value: the previous row's value unless that row was
    // out-of-limits (which resets prev to NaN)
    val rawPrev = lag(col("value"), 1).over(wOrd)
    val prevOut =
      (!lit(maxV.isNaN) && rawPrev > maxV) || (!lit(minV.isNaN) && rawPrev < minV)
    val prev = when(rawPrev.isNull || prevOut, Double.NaN).otherwise(rawPrev)
    val curOut = (!lit(maxV.isNaN) && v > maxV) || (!lit(minV.isNaN) && v < minV)
    when(curOut, Double.NaN)
      .when(isnan(v) || isnan(prev), Double.NaN)
      .when(v >= prev, v - prev)
      .when(lit(!maxV.isNaN), lit(maxV) + 1 + v - prev - (if (minV.isNaN) 0.0 else minV))
      .when(lit(!minV.isNaN), v - minV)
      .otherwise(Double.NaN)
  }

  private def nonNegativeDerivative: TFunc = (ctx, fe) => {
    expectArgs(fe, 1, 3)
    val maxV = optNum(fe, "maxValue", 1, Double.NaN)
    val minV = optNum(fe, "minValue", 2, Double.NaN)
    val ss = seriesArg(ctx, fe, "seriesList", 0)
    mapSet(ss, value = nonNegativeDeltaCol(maxV, minV),
      name = wrapName("nonNegativeDerivative"),
      tagsUpd = Seq("nonNegativeDerivative" -> lit("1")))
  }

  private def perSecond: TFunc = (ctx, fe) => {
    expectArgs(fe, 1, 3)
    val maxV = optNum(fe, "maxValue", 1, Double.NaN)
    val minV = optNum(fe, "minValue", 2, Double.NaN)
    val ss = seriesArg(ctx, fe, "seriesList", 0)
    val prevT = lag(col("t"), 1).over(wOrd)
    val stepSecs = when(prevT.isNull, Double.NaN)
      .otherwise((col("t") - prevT).cast(DoubleType) / 1000.0)
    mapSet(ss, value = nonNegativeDeltaCol(maxV, minV) / stepSecs,
      name = wrapName("perSecond"), tagsUpd = Seq("perSecond" -> lit("1")))
  }

  private def delay: TFunc = (ctx, fe) => {
    expectArgs(fe, 2, 2)
    val steps = num(fe, "steps", 1).toInt
    val ss = seriesArg(ctx, fe, "seriesList", 0)
    val shifted =
      if (steps >= 0) lag(col("value"), steps).over(wOrd)
      else lead(col("value"), -steps).over(wOrd)
    mapSet(ss, value = coalesce(shifted, lit(Double.NaN)),
      name = wrapName("delay", lit(steps.toString)),
      tagsUpd = Seq("delay" -> lit(steps.toString)))
  }

  private def integral: TFunc = (ctx, fe) => {
    expectArgs(fe, 1, 1)
    val ss = seriesArg(ctx, fe, "seriesList", 0)
    val cum = sum(nn(col("value"))).over(wOrd.rowsBetween(Window.unboundedPreceding, 0))
    mapSet(ss, value = when(isnan(col("value")), Double.NaN).otherwise(cum),
      name = wrapName("integral"), tagsUpd = Seq("integral" -> lit("1")))
  }

  private def integralByInterval: TFunc = (ctx, fe) => {
    expectArgs(fe, 2, 2)
    val unit = str(fe, "intervalUnit", 1)
    val interval = parseInterval(unit)
    val ss = seriesArg(ctx, fe, "seriesList", 0)
    val w = Window.partitionBy(col("sid"), (col("t") / interval).cast("long"))
      .orderBy(col("t")).rowsBetween(Window.unboundedPreceding, 0)
    val cum = sum(nn(col("value"))).over(w)
    mapSet(ss, value = when(isnan(col("value")), Double.NaN).otherwise(cum),
      name = wrapName("integralByInterval", lit(StringExpr(unit).render)),
      tagsUpd = Seq("integralByInterval" -> lit("1")))
  }

  private def changed: TFunc = (ctx, fe) => {
    expectArgs(fe, 1, 1)
    val ss = seriesArg(ctx, fe, "seriesList", 0)
    val prevNonNaN = last(nn(col("value")), ignoreNulls = true)
      .over(wOrd.rowsBetween(Window.unboundedPreceding, -1))
    mapSet(ss,
      value = when(
        !isnan(col("value")) && prevNonNaN.isNotNull && col("value") =!= prevNonNaN,
        1.0).otherwise(0.0),
      name = wrapName("changed"))
  }

  private def interpolate: TFunc = (ctx, fe) => {
    expectArgs(fe, 1, 2)
    val limit = optNum(fe, "limit", 1, Double.PositiveInfinity)
    val ss = seriesArg(ctx, fe, "seriesList", 0)
    // group NaN runs: grp increments at each non-NaN value
    val grp = count(nn(col("value"))).over(wOrd.rowsBetween(Window.unboundedPreceding, 0))
    val df = ss.df.withColumn("_grp", grp)
    val wPrev = wOrd.rowsBetween(Window.unboundedPreceding, 0)
    val prevV = last(nn(col("value")), ignoreNulls = true).over(wPrev)
    val wNext = wOrd.rowsBetween(1, Window.unboundedFollowing)
    val nextV = first(nn(col("value")), ignoreNulls = true).over(wNext)
    val wGrp = Window.partitionBy(col("sid"), col("_grp")).orderBy(col("t"))
    val posInRun = row_number().over(wGrp) - 1 // 0 at the non-NaN head (or first NaN if leading run)
    val runLen = count(lit(1)).over(
      Window.partitionBy(col("sid"), col("_grp"))) - 1 // NaNs after the head
    // leading run (grp=0) has no non-NaN head: its rows never interpolate
    val canFill = isnan(col("value")) && col("_grp") > 0 &&
      prevV.isNotNull && nextV.isNotNull &&
      runLen.cast(DoubleType) <= limit
    val filled = prevV + (nextV - prevV) / (runLen.cast(DoubleType) + 1.0) *
      posInRun.cast(DoubleType)
    val out = mapSet(ss.copy(df = df),
      value = when(canFill, filled).otherwise(col("value")),
      name = wrapName("interpolate"))
    out.copy(df = out.df.drop("_grp"))
  }

  private def keepLastValue: TFunc = (ctx, fe) => {
    expectArgs(fe, 1, 2)
    val limit = optNum(fe, "limit", 1, Double.PositiveInfinity)
    val ss = seriesArg(ctx, fe, "seriesList", 0)
    val grp = count(nn(col("value"))).over(wOrd.rowsBetween(Window.unboundedPreceding, 0))
    val df = ss.df.withColumn("_grp", grp)
    val wGrp = Window.partitionBy(col("sid"), col("_grp")).orderBy(col("t"))
    val posInRun = row_number().over(wGrp) - 1 // NaN index within the run
    val prevV = last(nn(col("value")), ignoreNulls = true)
      .over(wOrd.rowsBetween(Window.unboundedPreceding, 0))
    val fill = isnan(col("value")) && col("_grp") > 0 &&
      posInRun.cast(DoubleType) <= limit
    val out = mapSet(ss.copy(df = df),
      value = when(fill, prevV).otherwise(col("value")),
      name = wrapName("keepLastValue"))
    out.copy(df = out.df.drop("_grp"))
  }

  private def transformNull: TFunc = (ctx, fe) => {
    expectArgs(fe, 1, 3)
    val dflt = optNum(fe, "default", 1, 0)
    val dStr = goFmt(dflt)
    optArg(fe, "referenceSeries", 2) match {
      case None =>
        val ss = seriesArg(ctx, fe, "seriesList", 0)
        mapSet(ss, value = when(isnan(col("value")), dflt).otherwise(col("value")),
          name = wrapName("transformNull", lit(dStr)),
          tagsUpd = Seq("transformNull" -> lit(dStr)))
      case Some(refArg) =>
        val ref = GraphiteModel.consolidateCommon(ctx, eval(ctx, refArg.expr))
        val mask = ref.df.groupBy(col("t"))
          .agg((count(nn(col("value"))) > 0).as("_replace"))
        val ss0 = seriesArg(ctx, fe, "seriesList", 0)
        val ss = GraphiteModel.consolidateTo(ctx, ss0, ref.step)
        val joined = ss.df.join(mask, Seq("t"), "left")
        val out = mapSet(ss.copy(df = joined),
          value = when(isnan(col("value")) && coalesce(col("_replace"), lit(false)), dflt)
            .otherwise(col("value")),
          name = wrapName("transformNull", lit(dStr), lit("referenceSeries")),
          tagsUpd = Seq("transformNull" -> lit(dStr), "referenceSeries" -> lit("1")))
        out.copy(df = out.df.drop("_replace"))
    }
  }

  private def stdev: TFunc = (ctx, fe) => {
    expectArgs(fe, 2, 3)
    val points = num(fe, "points", 1).toInt
    val tol = optNum(fe, "windowTolerance", 2, 0.1)
    val ss = seriesArg(ctx, fe, "seriesList", 0)
    val w = wOrd.rowsBetween(-(points - 1).toLong, 0)
    val n = count(nn(col("value"))).over(w).cast(DoubleType)
    val s1 = sum(nn(col("value"))).over(w)
    val s2 = sum(nn(col("value")) * nn(col("value"))).over(w)
    val sd = sqrt(n * s2 - s1 * s1) / n
    mapSet(ss,
      value = when(n > 0 && n / points >= tol, sd).otherwise(Double.NaN),
      name = wrapName("stdev", lit(points.toString)),
      tagsUpd = Seq("stdev" -> lit(points.toString)), setPathExpr = false)
  }

  private def timeSlice: TFunc = (ctx, fe) => {
    expectArgs(fe, 2, 3)
    val start = GraphiteTime.parseTime(ctx.nowMs, str(fe, "startSliceAt", 1))
    val end = GraphiteTime.parseTime(ctx.nowMs, optStr(fe, "endSliceAt", 2, "now"))
    val ss = seriesArg(ctx, fe, "seriesList", 0)
    val sStr = (start / 1000).toString
    val eStr = (end / 1000).toString
    mapSet(ss,
      value = when(col("t") < start || col("t") > end, Double.NaN).otherwise(col("value")),
      name = wrapName("timeSlice", lit(sStr), lit(eStr)),
      tagsUpd = Seq("timeSliceStart" -> lit(sStr), "timeSliceEnd" -> lit(eStr)),
      setPathExpr = false)
  }

  private def consolidateByFn(fn0: String, fe: FuncExpr, ss: SeriesSet): SeriesSet = {
    val fn = normalizeAggrName(fn0)
    if (!aggrNames(fn)) throw GraphiteError(s"unsupported aggregate function '$fn0'")
    mapSet(ss,
      name = wrapName("consolidateBy", lit(StringExpr(fn0).render)),
      tagsUpd = Seq("consolidateBy" -> lit(fn0)),
      consol = lit(fn)).copy(hasConsol = true)
  }

  private def consolidateBy: TFunc = (ctx, fe) => {
    expectArgs(fe, 2, 2)
    consolidateByFn(str(fe, "consolidationFunc", 1), fe, seriesArg(ctx, fe, "seriesList", 0))
  }

  private def cumulative: TFunc = (ctx, fe) => {
    expectArgs(fe, 1, 1)
    consolidateByFn("sum", fe, seriesArg(ctx, fe, "seriesList", 0))
  }

  private def setXFilesFactor: TFunc = (ctx, fe) => {
    expectArgs(fe, 2, 2)
    val xff = num(fe, "xFilesFactor", 1)
    val ss = eval(ctx.copy(xff = xff), arg(fe, "seriesList", 0).expr)
    mapSet(ss, tagsUpd = Seq("xFilesFactor" -> lit(goFmt(xff))),
      xff = lit(xff), setPathExpr = false)
  }

  // ------------------------------------------------------------------
  // alias / name manipulation
  // ------------------------------------------------------------------

  private def alias: TFunc = (ctx, fe) => {
    expectArgs(fe, 2, 2)
    val newName = str(fe, "newName", 1)
    val ss = seriesArg(ctx, fe, "seriesList", 0)
    mapSet(ss, name = lit(newName), setPathExpr = false)
  }

  private def aliasByMetric: TFunc = (ctx, fe) => {
    expectArgs(fe, 1, 1)
    val ss = seriesArg(ctx, fe, "seriesList", 0)
    val path = pathOfNameUdf(col("name"))
    val lastPart = element_at(split(path, "\\."), -1)
    mapSet(ss,
      name = when(size(split(path, "\\.")) > 1, lastPart).otherwise(path),
      setPathExpr = false)
  }

  private def aliasByNode: TFunc = (ctx, fe) => {
    if (fe.args.isEmpty) throw GraphiteError("aliasByNode: missing seriesList")
    val nodes = nodeArgs(fe, 1)
    val ss = seriesArg(ctx, fe, "seriesList", 0)
    mapSet(ss, name = nameFromNodesUdf(nodes)(col("name"), col("tags")),
      setPathExpr = false)
  }

  private def aliasSub: TFunc = (ctx, fe) => {
    expectArgs(fe, 3, 3)
    val search = str(fe, "search", 1)
    val replace = goReplacement(str(fe, "replace", 2))
    val ss = seriesArg(ctx, fe, "seriesList", 0)
    mapSet(ss, name = regexp_replace(col("name"), search, replace),
      setPathExpr = false)
  }

  private def substr: TFunc = (ctx, fe) => {
    expectArgs(fe, 1, 3)
    val start = optNum(fe, "start", 1, 0).toInt
    val stop = optNum(fe, "stop", 2, 0).toInt
    val ss = seriesArg(ctx, fe, "seriesList", 0)
    val f = udf { (name: String) =>
      val parts = pathFromName(name).split("\\.", -1)
      var s = start
      var e = stop
      if (s > parts.length) s = parts.length
      else if (s < 0) s = math.max(parts.length + s, 0)
      if (e == 0) e = parts.length
      else if (e > parts.length) e = parts.length
      else if (e < 0) e = math.max(parts.length + e, 0)
      if (e < s) e = s
      parts.slice(s, e).mkString(".")
    }
    mapSet(ss, name = f(col("name")), setPathExpr = false)
  }

  private def aliasQuery: TFunc = (ctx, fe) => {
    expectArgs(fe, 4, 4)
    val search = str(fe, "search", 1)
    val replace = goReplacement(str(fe, "replace", 2))
    val newName = str(fe, "newName", 3)
    val ss = seriesArg(ctx, fe, "seriesList", 0)
    // per-series subquery: bounded driver loop over the set's names
    // (the reference spawns one query per series too)
    val names = ss.df.select(col("sid"), col("name")).distinct()
      .orderBy(col("sid")).limit(1001).collect()
    if (names.length > 1000)
      throw GraphiteError("aliasQuery: too many series (>1000)")
    val renames = names.map { r =>
      val sid = r.getString(0)
      val name = r.getString(1)
      val query = name.replaceAll(search, replace)
      val sub = exec(ctx, query)
      // the reference reads aggrLast(ss[0].Values): the FIRST series'
      // last non-NaN value. Fetch only that via limit(1) probes instead
      // of collecting the sub-query's whole dense grid (ADVICE r5 #5 —
      // driver memory blowup on long ranges).
      val firstSer = sub.df
        .orderBy(col("ord"), col("sid")).select(col("sid")).limit(1).collect()
      if (firstSer.isEmpty)
        throw GraphiteError(s"cannot find series for query '$query'")
      val lastRow = sub.df
        .filter(col("sid") === firstSer.head.getString(0) && !isnan(col("value")))
        .orderBy(col("t").desc)
        .select(col("value")).limit(1).collect()
      if (lastRow.isEmpty)
        throw GraphiteError(s"cannot find values for query '$query'")
      val v = lastRow.head.getDouble(0)
      val nm = newName
        .replace("%d", v.toInt.toString)
        .replace("%g", goFmt(v))
        .replace("%f", "%f".formatLocal(java.util.Locale.US, v))
      (sid, nm)
    }.toMap
    val f = udf((sid: String) => renames.getOrElse(sid, sid))
    mapSet(ss, name = f(col("sid")), setPathExpr = false)
  }

  // ------------------------------------------------------------------
  // filter / select families
  // ------------------------------------------------------------------

  private def statFilter(fn: String, op: String): TFunc = (ctx, fe) => {
    expectArgs(fe, 2, 2)
    val n = num(fe, "n", 1)
    filterByStat(seriesArg(ctx, fe, "seriesList", 0), fn, op, n)
  }

  private def filterSeries: TFunc = (ctx, fe) => {
    expectArgs(fe, 4, 4)
    val fn = str(fe, "func", 1)
    val op = str(fe, "operator", 2)
    val threshold = num(fe, "threshold", 3)
    filterByStat(seriesArg(ctx, fe, "seriesList", 0), fn, op, threshold)
  }

  private def grep: TFunc = (ctx, fe) => {
    expectArgs(fe, 2, 2)
    val pattern = str(fe, "pattern", 1)
    val ss = seriesArg(ctx, fe, "seriesList", 0)
    ss.copy(df = ss.df.filter(col("name").rlike(pattern)))
  }

  private def exclude: TFunc = (ctx, fe) => {
    expectArgs(fe, 2, 2)
    val pattern = str(fe, "pattern", 1)
    val ss = seriesArg(ctx, fe, "seriesList", 0)
    ss.copy(df = ss.df.filter(!col("name").rlike(pattern)))
  }

  private def limit: TFunc = (ctx, fe) => {
    expectArgs(fe, 2, 2)
    val n = num(fe, "n", 1)
    val ss = seriesArg(ctx, fe, "seriesList", 0)
    val rk = dense_rank().over(Window.orderBy(col("ord"), col("sid"))) // series-meta scale: one row per series, bounded by maxSeries
    ss.copy(df =
      ss.df.withColumn("_rk", rk).filter(col("_rk") <= n.toInt).drop("_rk"))
  }

  private def removeEmptySeries: TFunc = (ctx, fe) => {
    expectArgs(fe, 1, 2)
    val xffArg = optNum(fe, "xFilesFactor", 1, ctx.xff)
    val ss = seriesArg(ctx, fe, "seriesList", 0)
    val stats = ss.df.groupBy(col("sid")).agg(
      count(nn(col("value"))).as("_cnt"),
      count(lit(1)).as("_rows"),
      first(col("xff")).as("_sxff"))
    val xffEff = when(col("_sxff").isNotNull && col("_sxff") =!= 0.0, col("_sxff"))
      .otherwise(lit(xffArg))
    val keep = stats
      .filter(col("_cnt").cast(DoubleType) / col("_rows") > xffEff)
      .select(col("sid"))
    ss.copy(df = ss.df.join(keep, Seq("sid"), "leftsemi"))
  }

  private def unique: TFunc = (ctx, fe) => {
    if (fe.args.isEmpty) throw GraphiteError("unique: missing seriesList")
    val ss = groupUnion(ctx, fe)
    val rk = row_number().over(
      Window.partitionBy(col("name")).orderBy(col("ord"), col("sid")))
    val firstSids = ss.df.select(col("sid"), col("name"), col("ord")).distinct()
      .withColumn("_rk", rk).filter(col("_rk") === 1).select(col("sid"))
    ss.copy(df = ss.df.join(firstSids, Seq("sid"), "leftsemi"))
  }

  private def averageOutsidePercentile: TFunc = (ctx, fe) => {
    expectArgs(fe, 2, 2)
    val n0 = num(fe, "n", 1)
    val n = if (n0 > 50) 100 - n0 else n0
    val ss = seriesArg(ctx, fe, "seriesList", 0)
    val withAvg = withSeriesStat(ss.df, "average")
    // percentiles across the per-series averages
    val perSeries = withAvg.select(col("sid"), col("_stat")).distinct()
    val bounds = perSeries.agg(
      array_sort(collect_list(nn(col("_stat")))).as("_sorted"))
      .select(
        percentileExpr("_sorted", n / 100.0).as("_lo"),
        percentileExpr("_sorted", (100 - n) / 100.0).as("_hi"))
    val joined = withAvg.crossJoin(bounds)
    ss.copy(df =
      joined.filter(col("_stat") < col("_lo") || col("_stat") > col("_hi"))
        .drop("_stat", "_lo", "_hi"))
  }

  private def removeBetweenPercentile: TFunc = (ctx, fe) => {
    expectArgs(fe, 2, 2)
    val n0 = num(fe, "n", 1)
    val n = if (n0 > 50) 100 - n0 else n0
    val ss0 = seriesArg(ctx, fe, "seriesList", 0)
    val ss = GraphiteModel.consolidateCommon(ctx, ss0)
    // per-point percentile bands across series (aggrState, ec.xff gate)
    val aggs = helperAggsFor(Some("p50"), col("value"), col("ord"))
    val bands = ss.df.groupBy(col("t")).agg(aggs.head, aggs.tail: _*)
      .select(col("t"),
        stateGateP(n / 100.0, lit(ctx.xff)).as("_lo"),
        stateGateP((100 - n) / 100.0, lit(ctx.xff)).as("_hi"))
    val joined = ss.df.join(bands, Seq("t"), "left")
    val outside = joined
      .filter(col("value") < col("_lo") || col("value") > col("_hi"))
      .select(col("sid")).distinct()
    ss.copy(df = ss.df.join(outside, Seq("sid"), "leftsemi"))
  }

  /** percentile with the aggrState Finalize gate */
  private def stateGateP(phi: Double, xffC: Column): Column = {
    val pass = col("_cnt") > 0 && col("_cnt") >= floor(xffC * col("_rows")).cast("long")
    when(pass, coalesce(percentileExpr("_sorted", phi), lit(Double.NaN)))
      .otherwise(lit(Double.NaN))
  }

  private def useSeriesAbove: TFunc = (ctx, fe) => {
    expectArgs(fe, 4, 4)
    val value = num(fe, "value", 1)
    val search = str(fe, "search", 2)
    val replace = goReplacement(str(fe, "replace", 3))
    val ss = seriesArg(ctx, fe, "seriesList", 0)
    val names = ss.df.filter(col("value") > value)
      .select(col("name")).distinct().limit(1001).collect().map(_.getString(0))
    if (names.length > 1000) throw GraphiteError("useSeriesAbove: too many series (>1000)")
    val newNames = names.map(_.replaceAll(search, replace))
    if (newNames.isEmpty)
      SeriesSet(emptyFrame(ctx.spark), Set(ctx.storageStepMs),
        gridRange = Some((ctx.startMs, ctx.endMs)))
    else exec(ctx, s"group(${newNames.mkString(",")})")
  }

  // ------------------------------------------------------------------
  // sort families
  // ------------------------------------------------------------------

  private def sortByStat(ss: SeriesSet, fn: String, reverse: Boolean): SeriesSet = {
    val df = withSeriesStat(ss.df, fn)
      .withColumn("_k",
        when(col("_stat").isNull || isnan(col("_stat")), Double.NegativeInfinity)
          .otherwise(col("_stat")))
    ss.copy(df = reorder(df, descending = reverse).drop("_stat"))
  }

  private def sortBy: TFunc = (ctx, fe) => {
    expectArgs(fe, 1, 3)
    val fn = optStr(fe, "func", 1, "average")
    val reverse = optBool(fe, "reverse", 2, false)
    sortByStat(seriesArg(ctx, fe, "seriesList", 0), fn, reverse)
  }

  private def sortByTotal: TFunc = (ctx, fe) => {
    expectArgs(fe, 1, 1)
    sortByStat(seriesArg(ctx, fe, "seriesList", 0), "sum", reverse = true)
  }

  private def sortByMaxima: TFunc = (ctx, fe) => {
    expectArgs(fe, 1, 1)
    sortByStat(seriesArg(ctx, fe, "seriesList", 0), "max", reverse = true)
  }

  private def sortByMinima: TFunc = (ctx, fe) => {
    expectArgs(fe, 1, 1)
    val ss = seriesArg(ctx, fe, "seriesList", 0)
    // pre-filter: series with max <= 0 or all-NaN are dropped
    val kept = filterByStat(ss, "max", ">", 0)
    sortByStat(kept, "min", reverse = false)
  }

  private def sortByName: TFunc = (ctx, fe) => {
    expectArgs(fe, 1, 3)
    val natural = optBool(fe, "natural", 1, false)
    val reverse = optBool(fe, "reverse", 2, false)
    val ss = seriesArg(ctx, fe, "seriesList", 0)
    val key = if (natural) naturalKeyUdf(col("name")) else col("name")
    val df = ss.df.withColumn("_k", key)
    ss.copy(df = reorder(df, descending = reverse))
  }

  private def highestLowest(highest: Boolean): TFunc = (ctx, fe) => {
    expectArgs(fe, 1, 3)
    val n = optNum(fe, "n", 1, 1)
    val fn = optStr(fe, "func", 2, "average")
    val ss = seriesArg(ctx, fe, "seriesList", 0)
    highestLowestGeneric(ss, n, fn, highest)
  }

  private def highestLowestFixed(fn: String, highest: Boolean): TFunc = (ctx, fe) => {
    expectArgs(fe, 2, 2)
    val n = num(fe, "n", 1)
    highestLowestGeneric(seriesArg(ctx, fe, "seriesList", 0), n, fn, highest)
  }

  /** top/bottom-n by whole-series statistic; result ordered ascending
    * stat for highest*, descending for lowest* (transform.go
    * highestGeneric/lowestGeneric final sort)
    */
  private def highestLowestGeneric(
      ss: SeriesSet, n: Double, fn: String, highest: Boolean): SeriesSet = {
    val df = withSeriesStat(ss.df, fn)
    val sel = if (highest) desc_nulls_last("_stat") else asc_nulls_last("_stat")
    val rk = row_number().over(Window.orderBy(sel, asc("ord"), asc("sid"))) // series-meta scale: one row per series, bounded by maxSeries
    val picked = df.select(col("sid"), col("_stat"), col("ord")).distinct()
      .withColumn("_rk", rk).filter(col("_rk") <= n.toInt)
      .select(col("sid"))
    val kept = df.join(picked, Seq("sid"), "leftsemi")
    val out = kept.withColumn("_k",
      when(isnan(col("_stat")), lit(null).cast(DoubleType)).otherwise(col("_stat")))
    // highest* returns ascending stat order, lowest* descending
    ss.copy(df = reorder(out, descending = !highest).drop("_stat"))
  }

  private def mostDeviant: TFunc = (ctx, fe) => {
    expectArgs(fe, 2, 2)
    val n = num(fe, "n", 1)
    highestLowestGeneric(seriesArg(ctx, fe, "seriesList", 0), n, "stddev", highest = true)
  }

  // ------------------------------------------------------------------
  // display-attribute functions (tags only)
  // ------------------------------------------------------------------

  private def tagOnly(argCheckLo: Int, argCheckHi: Int)(
      build: (GraphiteCtx, FuncExpr, SeriesSet) => SeriesSet): TFunc = (ctx, fe) => {
    expectArgs(fe, argCheckLo, argCheckHi)
    build(ctx, fe, seriesArg(ctx, fe, "seriesList", 0))
  }

  private def alpha: TFunc = tagOnly(2, 2) { (_, fe, ss) =>
    num(fe, "alpha", 1); ss
  }

  private def color: TFunc = tagOnly(2, 2) { (_, fe, ss) =>
    str(fe, "theColor", 1); ss
  }

  private def dashed: TFunc = (ctx, fe) => {
    expectArgs(fe, 1, 2)
    val len = optNum(fe, "dashLength", 1, 5)
    val ss = seriesArg(ctx, fe, "seriesList", 0)
    mapSet(ss, name = wrapName("dashed", lit(goFmt(len))),
      tagsUpd = Seq("dashed" -> lit(goFmt(len))), setPathExpr = false)
  }

  private def lineWidth: TFunc = tagOnly(2, 2) { (_, fe, ss) =>
    num(fe, "width", 1); ss
  }

  private def secondYAxis: TFunc = (ctx, fe) => {
    expectArgs(fe, 1, 1)
    val ss = seriesArg(ctx, fe, "seriesList", 0)
    mapSet(ss, name = wrapName("secondYAxis"),
      tagsUpd = Seq("secondYAxis" -> lit("1")), setPathExpr = false)
  }

  private def areaBetween: TFunc = (ctx, fe) => {
    expectArgs(fe, 1, 1)
    val ss = seriesArg(ctx, fe, "seriesList", 0)
    val n = ss.df.select(col("sid")).distinct().limit(3).count()
    if (n > 2)
      throw GraphiteError("expecting exactly two series; got more series")
    mapSet(ss, name = wrapName("areaBetween"),
      tagsUpd = Seq("areaBetween" -> lit("1")))
  }

  private def stacked: TFunc = (ctx, fe) => {
    expectArgs(fe, 1, 2)
    val stackName = optStr(fe, "stackName", 1, "__DEFAULT__")
    val ss0 = seriesArg(ctx, fe, "seriesList", 0)
    val ss = GraphiteModel.consolidateCommon(ctx, ss0)
    val w = Window.partitionBy(col("t")).orderBy(col("ord"), col("sid"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val stackedV = when(!isnan(col("value")), sum(nn(col("value"))).over(w))
      .otherwise(col("value"))
    if (stackName == "__DEFAULT__")
      mapSet(ss, value = stackedV, name = wrapName("stacked"),
        tagsUpd = Seq("stacked" -> lit(stackName)))
    else mapSet(ss, value = stackedV)
  }

  // ------------------------------------------------------------------
  // set-level plumbing
  // ------------------------------------------------------------------

  /** union every seriesList arg, preserving branch order
    * (transform.go:1741 groupSeriesLists)
    */
  def groupUnion(ctx: GraphiteCtx, fe: FuncExpr): SeriesSet = {
    // single-arg fast path (the common sumSeries(expr) shape): the
    // branch-disambiguating sid prefix and ord offset are the identity
    // for one branch, and skipping the rewrite keeps the df the exact
    // fetch output so aggregateByKey's sparse/meta hints still apply
    if (fe.args.size == 1 && (fe.args.head.name.isEmpty || fe.args.head.name == "seriesList"))
      return eval(ctx, fe.args.head.expr)
    val sets = fe.args.zipWithIndex.map { case (a, i) =>
      // positional slots only accept the canonical arg name
      // (evalSeriesList → getArg: "unexpected named arg")
      if (a.name.nonEmpty && a.name != "seriesList")
        throw GraphiteError(s"unexpected named arg at position $i: '${a.name}'")
      val s = eval(ctx, a.expr)
      s.copy(df =
        s.df.select(
          concat(lit(s"$i|"), col("sid")).as("sid"),
          (col("ord") + i * 1000000L).as("ord"),
          col("name"), col("tags"), col("pathExpr"), col("consol"),
          col("xff"), col("step"), col("t"), col("value")))
    }
    if (sets.isEmpty)
      SeriesSet(emptyFrame(ctx.spark), Set(ctx.storageStepMs),
        gridRange = Some((ctx.startMs, ctx.endMs)))
    else sets.reduce(unionSets)
  }

  /** union preserving the static grid metadata (same range on both
    * sides keeps it; anything else forces consolidation downstream)
    */
  def unionSets(a: SeriesSet, b: SeriesSet): SeriesSet =
    SeriesSet(a.df.unionByName(b.df), a.steps ++ b.steps,
      gridRange = if (a.gridRange == b.gridRange) a.gridRange else None,
      hasConsol = a.hasConsol || b.hasConsol,
      headStep0 = a.headStep)

  private def group: TFunc = (ctx, fe) => groupUnion(ctx, fe)

  private def fallbackSeries: TFunc = (ctx, fe) => {
    expectArgs(fe, 2, 2)
    val ss = seriesArg(ctx, fe, "seriesList", 0)
    if (!ss.df.isEmpty) ss else seriesArg(ctx, fe, "fallback", 1)
  }

  private def seriesByTag: TFunc = (ctx, fe) => {
    if (fe.args.isEmpty)
      throw GraphiteError("at least one tagExpression must be passed to seriesByTag")
    val conds = fe.args.zipWithIndex.map { case (_, i) => str(fe, "tagExpressions", i) }
    fetch(ctx, tagExprPredicate(conds), s"seriesByTag(${conds.map(c => s"'$c'").mkString(",")})")
  }

  /** Go regex replacement: `\1` → `$1` (transform.go:3626) */
  def goReplacement(replace: String): String =
    replace.replaceAll("""\\(\d+)""", "\\$$1")

  // ------------------------------------------------------------------
  // registry
  // ------------------------------------------------------------------

  val registry: Map[String, TFunc] = Map(
    "absolute" -> absolute,
    "add" -> add,
    "aggregate" -> GraphiteAgg.aggregate,
    "aggregateLine" -> GraphiteAgg.aggregateLine,
    "aggregateSeriesLists" -> GraphiteAgg.aggregateSeriesLists,
    "aggregateWithWildcards" -> GraphiteAgg.aggregateWithWildcards,
    "alias" -> alias,
    "aliasByMetric" -> aliasByMetric,
    "aliasByNode" -> aliasByNode,
    "aliasByTags" -> aliasByNode,
    "aliasQuery" -> aliasQuery,
    "aliasSub" -> aliasSub,
    "alpha" -> alpha,
    "applyByNode" -> GraphiteAgg.applyByNode,
    "areaBetween" -> areaBetween,
    "asPercent" -> GraphiteAgg.asPercent,
    "averageAbove" -> statFilter("average", ">"),
    "averageBelow" -> statFilter("average", "<"),
    "averageOutsidePercentile" -> averageOutsidePercentile,
    "averageSeries" -> GraphiteAgg.aggregateFixed("average"),
    "averageSeriesWithWildcards" -> GraphiteAgg.withWildcardsFixed("average"),
    "avg" -> GraphiteAgg.aggregateFixed("average"),
    "cactiStyle" -> todo,
    "changed" -> changed,
    "color" -> color,
    "consolidateBy" -> consolidateBy,
    "constantLine" -> GraphiteSynth.constantLineFn,
    "countSeries" -> GraphiteAgg.aggregateFixed("count"),
    "cumulative" -> cumulative,
    "currentAbove" -> statFilter("current", ">"),
    "currentBelow" -> statFilter("current", "<"),
    "dashed" -> dashed,
    "delay" -> delay,
    "derivative" -> derivative,
    "diffSeries" -> GraphiteAgg.aggregateFixed("diff"),
    "diffSeriesLists" -> GraphiteAgg.seriesListsFixed("diff"),
    "divideSeries" -> GraphiteAgg.divideSeries,
    "divideSeriesLists" -> GraphiteAgg.divideSeriesLists,
    "drawAsInfinite" -> drawAsInfinite,
    "events" -> GraphiteSynth.events,
    "exclude" -> exclude,
    "exp" -> expFn,
    "exponentialMovingAverage" -> GraphiteAgg.exponentialMovingAverage,
    "fallbackSeries" -> fallbackSeries,
    "filterSeries" -> filterSeries,
    "grep" -> grep,
    "group" -> group,
    "groupByNode" -> GraphiteAgg.groupByNode,
    "groupByNodes" -> GraphiteAgg.groupByNodes,
    "groupByTags" -> GraphiteAgg.groupByTags,
    "highest" -> highestLowest(highest = true),
    "highestAverage" -> highestLowestFixed("average", highest = true),
    "highestCurrent" -> highestLowestFixed("current", highest = true),
    "highestMax" -> highestLowestFixed("max", highest = true),
    "hitcount" -> GraphiteAgg.hitcount,
    "holtWintersAberration" -> GraphiteHW.aberration,
    "holtWintersConfidenceArea" -> GraphiteHW.confidenceArea,
    "holtWintersConfidenceBands" -> GraphiteHW.confidenceBands,
    "holtWintersForecast" -> GraphiteHW.forecast,
    "identity" -> GraphiteSynth.identity,
    "integral" -> integral,
    "integralByInterval" -> integralByInterval,
    "interpolate" -> interpolate,
    "invert" -> invert,
    "isNonNull" -> isNonNull,
    "keepLastValue" -> keepLastValue,
    "legendValue" -> todo,
    "limit" -> limit,
    "lineWidth" -> lineWidth,
    "linearRegression" -> GraphiteAgg.linearRegression,
    "log" -> logarithm,
    "logarithm" -> logarithm,
    "logit" -> logit,
    "lowest" -> highestLowest(highest = false),
    "lowestAverage" -> highestLowestFixed("average", highest = false),
    "lowestCurrent" -> highestLowestFixed("current", highest = false),
    "map" -> todo,
    "mapSeries" -> todo,
    "max" -> GraphiteAgg.aggregateFixed("max"),
    "maxSeries" -> GraphiteAgg.aggregateFixed("max"),
    "maximumAbove" -> statFilter("max", ">"),
    "maximumBelow" -> statFilter("max", "<"),
    "minMax" -> minMax,
    "min" -> GraphiteAgg.aggregateFixed("min"),
    "minSeries" -> GraphiteAgg.aggregateFixed("min"),
    "minimumAbove" -> statFilter("min", ">"),
    "minimumBelow" -> statFilter("min", "<"),
    "mostDeviant" -> mostDeviant,
    "movingAverage" -> GraphiteAgg.movingFixed("average"),
    "movingMax" -> GraphiteAgg.movingFixed("max"),
    "movingMedian" -> GraphiteAgg.movingFixed("median"),
    "movingMin" -> GraphiteAgg.movingFixed("min"),
    "movingSum" -> GraphiteAgg.movingFixed("sum"),
    "movingWindow" -> GraphiteAgg.movingWindowFn,
    "multiplySeries" -> GraphiteAgg.aggregateFixed("multiply"),
    "multiplySeriesLists" -> GraphiteAgg.seriesListsFixed("multiply"),
    "multiplySeriesWithWildcards" -> GraphiteAgg.withWildcardsFixed("multiply"),
    "nPercentile" -> nPercentile,
    "nonNegativeDerivative" -> nonNegativeDerivative,
    "offset" -> offsetFn,
    "offsetToZero" -> offsetToZero,
    "perSecond" -> perSecond,
    "percentileOfSeries" -> GraphiteAgg.percentileOfSeries,
    "pow" -> powFn,
    "powSeries" -> GraphiteAgg.aggregateFixed("pow"),
    "randomWalk" -> GraphiteSynth.randomWalk,
    "randomWalkFunction" -> GraphiteSynth.randomWalk,
    "rangeOfSeries" -> GraphiteAgg.aggregateFixed("rangeOf"),
    "reduce" -> todo,
    "reduceSeries" -> todo,
    "removeAbovePercentile" -> removeAbovePercentile,
    "removeAboveValue" -> removeAboveValue,
    "removeBelowPercentile" -> removeBelowPercentile,
    "removeBelowValue" -> removeBelowValue,
    "removeBetweenPercentile" -> removeBetweenPercentile,
    "removeEmptySeries" -> removeEmptySeries,
    "round" -> roundFn,
    "roundFunction" -> roundFn,
    "scale" -> scale,
    "scaleToSeconds" -> GraphiteAgg.scaleToSeconds,
    "secondYAxis" -> secondYAxis,
    "seriesByTag" -> seriesByTag,
    "setXFilesFactor" -> setXFilesFactor,
    "sigmoid" -> sigmoid,
    "sin" -> GraphiteSynth.sinFunction,
    "sinFunction" -> GraphiteSynth.sinFunction,
    "smartSummarize" -> GraphiteAgg.smartSummarize,
    "sortBy" -> sortBy,
    "sortByMaxima" -> sortByMaxima,
    "sortByMinima" -> sortByMinima,
    "sortByName" -> sortByName,
    "sortByTotal" -> sortByTotal,
    "squareRoot" -> squareRoot,
    "stacked" -> stacked,
    "stddevSeries" -> GraphiteAgg.aggregateFixed("stddev"),
    "stdev" -> stdev,
    "substr" -> substr,
    "sum" -> GraphiteAgg.aggregateFixed("sum"),
    "sumSeries" -> GraphiteAgg.aggregateFixed("sum"),
    "sumSeriesLists" -> GraphiteAgg.seriesListsFixed("sum"),
    "sumSeriesWithWildcards" -> GraphiteAgg.withWildcardsFixed("sum"),
    "summarize" -> GraphiteAgg.summarize,
    "threshold" -> GraphiteSynth.threshold,
    "time" -> GraphiteSynth.timeFunction,
    "timeFunction" -> GraphiteSynth.timeFunction,
    "timeShift" -> GraphiteAgg.timeShift,
    "timeSlice" -> timeSlice,
    "timeStack" -> GraphiteAgg.timeStack,
    "transformNull" -> transformNull,
    "unique" -> unique,
    "useSeriesAbove" -> useSeriesAbove,
    "verticalLine" -> GraphiteSynth.verticalLine,
    "weightedAverage" -> GraphiteAgg.weightedAverage,
    "xFilesFactor" -> setXFilesFactor)
}
