package graft.lang

import graft.core.{Grid, GridSpec, SeriesId}
import graft.operators.{Kernel, Kernels, Rollup}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType}

/** MetricsQL evaluator: AST → DataFrame program.
  *
  * The Spark re-expression of the reference's tree interpreter
  * (app/vmselect/promql/eval.go:279-346 evalExprInternal dispatch): each
  * node family lowers to declarative DataFrame operations and Catalyst
  * plans the physical execution — where the reference hand-schedules
  * worker pools over columnar arrays, we emit groupBy/join/window plans.
  *
  * Series representation ("grid frame"): rows (name, tags, t, value) where
  * `tags` is the schemaless label map (never containing __name__), `t` the
  * grid timestamp (epoch ms) and missing grid points are missing rows
  * (reference: NaN at grid point, removed at the end by removeEmptySeries
  * exec.go:193-214).
  *
  * Spark cannot group or join on MapType, so series identity comes from
  * [[graft.core.SeriesId]]: rollup leaves key samples on the hash pair;
  * grid-level group keys (`_tk`) are the sorted entry array, turned back
  * into the map with map_from_entries after grouping; whole-series keys
  * are `SeriesId.key`; only rank tie-breaks and picks order series by a
  * string (`SeriesId.orderKey`).
  */
object Eval {

  /** Argument-count validation for the TestExecError surface
    * (exec_test.go:10455): entries only where the reference's
    * newTransformFunc / newRollupFunc constructors enforce a fixed arity
    * (transform.go expectTransformArgsNum); unlisted functions are
    * validated by their own evaluation paths.
    */
  private val fixedArity: Map[String, (Int, Int)] = {
    val oneArg = Seq(
      "abs", "ceil", "floor", "exp", "ln", "log2", "log10", "sqrt", "sin",
      "cos", "tan", "asin", "acos", "atan", "sinh", "cosh", "tanh", "asinh",
      "acosh", "atanh", "deg", "rad", "sgn",
      "absent", "scalar", "sort", "sort_desc",
      "running_sum", "running_avg", "running_min", "running_max",
      "range_sum", "range_avg", "range_min", "range_max", "range_first",
      "range_last", "range_median", "range_mad", "range_zscore",
      "range_linear_regression", "range_stddev", "range_stdvar",
      "interpolate", "keep_last_value", "keep_next_value", "remove_resets",
      "timezone_offset", "median_over_time").map(_ -> (1, 1))
    val zeroArg = Seq("time", "start", "end", "step", "pi", "now")
      .map(_ -> (0, 0))
    val calendar = Seq("hour", "minute", "day_of_month", "day_of_week",
      "day_of_year", "days_in_month", "month", "year").map(_ -> (0, 1))
    (oneArg ++ zeroArg ++ calendar ++ Seq(
      "clamp" -> (3, 3), "clamp_min" -> (2, 2), "clamp_max" -> (2, 2),
      "round" -> (1, 2), "alias" -> (2, 2), "smooth_exponential" -> (2, 2),
      "rand" -> (0, 1), "rand_normal" -> (0, 1), "rand_exponential" -> (0, 1),
      "range_quantile" -> (2, 2), "range_trim_outliers" -> (2, 2),
      "range_trim_spikes" -> (2, 2), "range_trim_zscore" -> (2, 2),
      "hoeffding_bound_lower" -> (2, 2), "hoeffding_bound_upper" -> (2, 2),
      "rollup_candlestick" -> (1, 2))).toMap
  }

  private[lang] def checkArity(name: String, n: Int): Unit =
    fixedArity.get(name).foreach { case (lo, hi) =>
      if (n < lo || n > hi)
        throw new IllegalArgumentException(
          s"unexpected number of args to $name(); got $n; want [$lo, $hi]")
    }

  /** Evaluation config: result grid + staleness lookback for bare
    * selectors (eval.go:1919-1925 maxSilenceInterval). `pushdownCap`
    * bounds the adaptive binop label-value pushdown (O3, the analogue of
    * -search.maxBinaryOpPushdownLabelValues, eval.go:52); 0 disables.
    */
  /** `preserveCmpNaN`: evaluate non-bool comparisons as NaN-valued rows
    * instead of dropped rows — set for the LEFT side of `default`, whose
    * reference semantics resurrect all-NaN comparison results
    * (binary_op.go:232 "Do not remove time series containing only NaNs,
    * since then the `(foo op bar) default N` won't work").
    */
  final case class EvalConfig(
      grid: GridSpec,
      lookbackMs: Long = 300000L,
      pushdownCap: Int = 100,
      preserveCmpNaN: Boolean = false,
      // tag→names index (SampleStore.readTagIndex) for NAMELESS
      // tag-equality selectors: candidate metric names resolve from the
      // index and scan as a pushed `name IN (...)`, riding the
      // name-sorted layout's pruning (index_db.go:50-71 semantics).
      // Callers owning the store are responsible for the index trailing
      // it no further than the layout itself (bucketizeNewDates maintains
      // both per changed date).
      tagIndex: Option[DataFrame] = None,
      // index-probe time scope: [[eval]] derives it from the query's grid
      // and a conservative AST reach ([[indexProbeRange]]) so the probe
      // reads only the query's index date partitions — flat in retention
      // length, like the reference's per-day index (index_db.go:2169).
      // Unbounded sentinels = scan the whole index (correct, just wider).
      indexProbeFromMs: Long = Long.MinValue,
      indexProbeToMs: Long = Long.MaxValue)

  /** An evaluated expression: a series set, a scalar, a per-timestamp
    * scalar (scalar()/time() results — matches ANY series per grid point,
    * transform.go:2392), or a string.
    */
  sealed trait Value
  final case class Series(df: DataFrame) extends Value
  final case class Scalar(v: Double) extends Value
  final case class ScalarSeries(df: DataFrame) extends Value
  final case class StrVal(s: String) extends Value

  /** anchored regex, like the reference (lib/storage/tag_filters.go:160) */
  private def anchored(re: String): String = "^(?:" + re + ")$"

  /** graphite glob → regex: `*` = any chars within a dot-group,
    * `{a,b}` = alternation (exec.go:23-26 __graphite__ selection).
    */
  private def graphiteToRegex(glob: String): String = {
    val sb = new StringBuilder
    var inBrace = false
    glob.foreach {
      case '*' => sb.append("[^.]*")
      case '.' => sb.append("\\.")
      case '{' => inBrace = true; sb.append("(?:")
      case ',' if inBrace => sb.append("|")
      case '}' if inBrace => inBrace = false; sb.append(")")
      case c if "\\^$()+?[]|".contains(c) => sb.append("\\").append(c)
      case c => sb.append(c)
    }
    sb.toString
  }

  /** label-filter predicate over (name, tags) — absent tag matches as ""
    * like the reference (empty label == missing label). The one selector
    * predicate: the read paths and every bare-selector filter outside the
    * evaluator (`Api.selectorPredicate`) use it.
    */
  private[graft] def filterPredicate(fss: Seq[Seq[LabelFilter]]): Column = {
    def one(f: LabelFilter): Column = {
      val target =
        if (f.label == "__name__" || f.label == "__graphite__")
          coalesce(col("name"), lit(""))
        else coalesce(col("tags").getItem(f.label), lit(""))
      val pos =
        if (f.label == "__graphite__") {
          // a glob with a literal prefix additionally pushes a name
          // RANGE (pure conjunct — the anchored regex implies it), so
          // the name-sorted layout prunes row groups the rlike alone
          // never could. Equivalence holds under negation too: a null
          // name makes both forms false (not NULL), and the coalesced
          // "" can't match a regex with a non-empty literal prefix.
          val rl = target.rlike(anchored(graphiteToRegex(f.value)))
          graft.core.SampleStore.namePrefixBounds(
            graft.core.SampleStore.globLiteralPrefix(f.value)) match {
            case Some(b) => b && rl
            case None => rl
          }
        }
        else if (f.isRegexp) target.rlike(anchored(f.value))
        else if (f.label == "__name__" && !f.isNegative && f.value.nonEmpty)
          // PUSHABLE form: for a POSITIVE non-empty literal,
          // `isnotnull(name) AND name = v` ≡ `coalesce(name,'') = v`
          // under three-valued logic EVEN WHEN NEGATED (the conjunction
          // is false — not SQL NULL — for null names, so `!pos` keeps
          // null-name rows exactly like the coalesce form; a bare
          // `name = v` alone would yield NULL there and a negating
          // filter would drop the row). IsNotNull and EqualTo both
          // reach the parquet scan — the predicates the name-sorted
          // bucketed layout prunes row groups/pages with (r11; coalesce
          // around the column disqualifies pushdown entirely). Negative
          // and empty-value matchers keep the coalesce: they must KEEP
          // null-name rows.
          col("name").isNotNull && col("name") === f.value
        else target === f.value
      if (f.isNegative) !pos else pos
    }
    fss.map(_.map(one).reduceOption(_ && _).getOrElse(lit(true)))
      .reduceOption(_ || _).getOrElse(lit(true))
  }

  /** The SIMPLE grouped aggregations (one aggregation expression over the
    * group, no extra args, no rank/window semantics) — the single source
    * for BOTH the full evaluator (evalAggrCore's `grouped` family) and
    * the O7 aggregated instant path (Engine.aggregateInstant), so the two
    * paths cannot drift.
    */
  private[graft] def simpleGroupedAgg(name: String, v: Column): Option[Column] = name match {
    case "sum" => Some(sum(v))
    case "min" => Some(min(v))
    case "max" => Some(max(v))
    case "avg" => Some(avg(v))
    case "count" => Some(count(v).cast(DoubleType))
    case "stddev" => Some(stddev_pop(v))
    case "stdvar" => Some(var_pop(v))
    case "sum2" => Some(sum(v * v))
    case "geomean" => Some(exp(avg(Kernels.goLog(v))))
    case "median" => Some(percentile(v, lit(0.5)))
    case _ => None
  }

  private[graft] val simpleGroupedAggNames: Set[String] = Set(
    "sum", "min", "max", "avg", "count", "stddev", "stdvar", "sum2",
    "geomean", "median")

  /** An aggregate's output group (aggr.go:96 removeGroupTags): the tags
    * its by/without modifier keeps, plus the metric name only through an
    * explicit `by (__name__)` (MetricGroup is reset otherwise). [[keyed]]
    * adds the key columns `_tk` (sorted tag entries) and, when the name
    * takes part, `_nk`; every aggregate partitions on [[cols]], so no
    * branch can mix series its by-list separates.
    */
  private[graft] final case class AggrGroup(modifier: Option[AggrModifier]) {
    val byName: Boolean = modifier match {
      case Some(By(ls)) => ls.contains("__name__")
      case _ => false
    }
    private val groupTags: Column = modifier match {
      case Some(By(ls)) => map_filter(col("tags"), (k, _) => k.isInCollection("" +: ls))
      case Some(Without(ls)) => map_filter(col("tags"), (k, _) => !k.isInCollection(ls))
      case None => map().cast("map<string,string>")
    }
    val cols: Seq[String] = if (byName) Seq("_tk", "_nk") else Seq("_tk")
    def keyCols: Seq[Column] = cols.map(col)

    def keyed(df: DataFrame): DataFrame = {
      val k = df.withColumn("_tk", SeriesId.entries(groupTags))
      if (byName) k.withColumn("_nk", coalesce(col("name"), lit(""))) else k
    }

    /** the group's output name and tags, rebuilt from the key columns */
    def name: Column =
      if (byName) when(length(col("_nk")) > 0, col("_nk")).otherwise(lit(null).cast(StringType))
      else lit(null).cast(StringType)
    def tags: Column = map_from_entries(col("_tk"))

    /** the group with `label` taken out of it: the by-list loses it, the
      * without-list gains it (count_values' dst label)
      */
    def dropping(label: String): AggrGroup = AggrGroup(modifier.map {
      case By(ls) => By(ls.filterNot(_ == label))
      case Without(ls) => Without(label +: ls)
    })
  }

  /** `aggExpr` per (group, t) over non-NaN points: the grouped family of
    * the full evaluator and the O7 aggregated instant path
    * (Engine.aggregateInstant) — one plan, so the two cannot drift. No
    * coalesce around the tags: a NULL tags map makes a null group key and
    * a null output map on both paths alike.
    */
  private[graft] def groupedAgg(df: DataFrame, group: AggrGroup, aggExpr: Column): DataFrame =
    group.keyed(df)
      .groupBy(group.keyCols :+ col("t"): _*)
      .agg(aggExpr.as("value"))
      .filter(col("value").isNotNull)
      .select(group.name.as("name"), group.tags.as("tags"), col("t"), col("value"))

  /** Candidate-name predicate over ALL of a selector's OR groups: a row
    * matching ANY group carries one of the union of per-group candidate
    * sets, so the union is pushable as one `name IN (...)`. Per group, a
    * positive literal `__name__` matcher caps the group to that one name
    * (no index work); otherwise the group's positive equality/regex tag
    * matchers probe the index (a regex/negative name matcher alongside
    * them only further restricts — the tag candidates stay a valid
    * superset). A group with NEITHER a positive literal name NOR an
    * eligible tag probe (graphite, or only negative/empty matchers) is
    * unboundable — the whole selector falls back. A selector whose EVERY
    * group is name-capped also skips (the pushed Or of name equalities
    * already prunes). Object-level so the HTTP facade's match[] paths can
    * reuse it for the metadata APIs.
    */
  private[graft] def indexNamePredicate(
      m: MetricExpr, idx: DataFrame,
      fromMs: Long = Long.MinValue, toMs: Long = Long.MaxValue): Option[Column] =
    indexCandidateNames(m, idx, fromMs, toMs) match {
      // a selector whose EVERY group is name-capped skips: the pushed Or
      // of name equalities already prunes — redundant IN only adds noise
      case Some((anyResolved, names)) if anyResolved =>
        Some(graft.core.SampleStore.namesPredicate(names))
      case _ => None
    }

  /** Candidate-name RESOLUTION for one selector: Some((anyIndexResolved,
    * names)) when every OR group is boundable — either capped by a
    * positive literal `__name__` (contributes that one name;
    * anyIndexResolved stays false for it) or resolved through the index's
    * tag probes. The names-level form exists so the HTTP facade can union
    * candidates ACROSS repeated match[] selectors into one pushed
    * `name IN (...)` — an all-boundable union prunes exactly like the
    * OR-group case within one selector.
    */
  private[graft] def indexCandidateNames(
      m: MetricExpr, idx: DataFrame,
      fromMs: Long = Long.MinValue,
      toMs: Long = Long.MaxValue): Option[(Boolean, Seq[String])] = {
    import graft.core.SampleStore
    boundableGroups(m).flatMap { gs =>
      val resolved: Seq[Option[Seq[String]]] = gs.map {
        case Left(v) => Some(Seq(v))
        case Right(probes) =>
          SampleStore.tagIndexCandidateNames(idx, probes, fromMs, toMs)
      }
      if (resolved.exists(_.isEmpty)) None
      else {
        val union = resolved.flatten.flatten.distinct
        if (union.size > SampleStore.TagIndexMaxNames) None
        else Some((gs.exists(_.isRight), union))
      }
    }
  }

  /** STATIC boundability — true iff [[indexCandidateNames]] could resolve
    * (modulo the candidate cap): no Spark work, so multi-selector callers
    * can reject an unboundable union before paying for any probe job
    */
  private[graft] def indexBoundable(m: MetricExpr): Boolean =
    boundableGroups(m).isDefined

  /** the per-OR-group bound structure, or None when any group is
    * statically unboundable (graphite matcher, no positive literal name
    * and no ELIGIBLE tag probe)
    */
  private def boundableGroups(m: MetricExpr)
      : Option[Seq[Either[String, Seq[graft.core.SampleStore.TagProbe]]]] = {
    import graft.core.SampleStore
    val groups: Seq[Option[Either[String, Seq[SampleStore.TagProbe]]]] =
      m.filterss.map { fs =>
        if (fs.exists(_.label == "__graphite__")) None
        else fs.collectFirst {
          case f if f.label == "__name__" && !f.isNegative && !f.isRegexp &&
            f.value.nonEmpty => f.value
        } match {
          case Some(v) => Some(Left(v))
          case None =>
            // positive equality AND positive regex TAG matchers both
            // probe (the regex arrives anchored, matching
            // filterPredicate's rlike semantics; empty-matching regexes
            // are rejected inside the probe — they also match series
            // WITHOUT the tag). A regex/negative __name__ matcher, if
            // present, only further RESTRICTS matches — the tag probes'
            // candidates stay a valid superset, so the group remains
            // boundable as long as it has any eligible tag probe.
            val probes = fs.collect {
              case f if f.label != "__name__" && !f.isNegative && !f.isRegexp &&
                f.value.nonEmpty =>
                SampleStore.TagProbe(f.label, f.value)
              case f if f.label != "__name__" && !f.isNegative && f.isRegexp =>
                SampleStore.TagProbe(f.label, anchored(f.value), isRegexp = true)
            }
            if (probes.isEmpty) None else Some(Right(probes))
        }
      }
    if (groups.isEmpty || groups.exists(_.isEmpty)) return None
    val gs = groups.flatten
    // a probed group with NO eligible probe (all empty-matching) can never
    // resolve — statically unboundable, checked here so indexBoundable
    // answers without a Spark job
    if (gs.exists {
      case Right(ps) => !ps.exists(SampleStore.probeEligible)
      case _ => false
    }) None
    else Some(gs)
  }

  /** Conservative lookback/lookahead reach of an expression: how far
    * before grid start (and after grid end) its selector fetches can
    * read, for scoping the tag-index probe. SUMS every window, subquery
    * step, and offset magnitude across the whole tree — a deliberate
    * over-approximation (branches don't really add, nested reaches do);
    * over-width only widens the probe's date scope, never narrows it.
    * None when an `@` modifier pins evaluation to an arbitrary instant
    * (unboundable without evaluating the @ expression).
    */
  private[graft] def indexProbeReach(e: Expr, stepMs: Long): Option[(Long, Long)] = {
    def add(a: (Long, Long), b: (Long, Long)): (Long, Long) = {
      def sat(x: Long, y: Long) = { val s = x + y; if (s < 0) Long.MaxValue / 4 else s }
      (sat(a._1, b._1), sat(a._2, b._2))
    }
    def walk(e: Expr): Option[(Long, Long)] = e match {
      case RollupExpr(inner, window, sqStep, offset, at, _, _) =>
        if (at.isDefined) None
        else {
          val w = window.map(_.ms(stepMs)).getOrElse(0L)
          val sq = sqStep.map(_.ms(stepMs)).getOrElse(0L)
          val off = offset.map(_.ms(stepMs)).getOrElse(0L)
          walk(inner).map(add(_, (math.max(w, 0L) + math.max(sq, 0L) +
            math.max(off, 0L), math.max(-off, 0L))))
        }
      case FuncExpr(_, args, _) =>
        args.map(walk).foldLeft(Option((0L, 0L))) {
          case (Some(acc), Some(r)) => Some(add(acc, r))
          case _ => None
        }
      case AggrFuncExpr(_, args, _, _) =>
        args.map(walk).foldLeft(Option((0L, 0L))) {
          case (Some(acc), Some(r)) => Some(add(acc, r))
          case _ => None
        }
      case BinaryOpExpr(_, l, r, _, _, _, _, _, _) =>
        for (a <- walk(l); b <- walk(r)) yield add(a, b)
      case ParensExpr(es) =>
        es.map(walk).foldLeft(Option((0L, 0L))) {
          case (Some(acc), Some(r)) => Some(add(acc, r))
          case _ => None
        }
      case _: MetricExpr | _: NumberExpr | _: StringExpr => Some((0L, 0L))
      case _ => None
    }
    walk(e)
  }

  /** Go strconv.FormatFloat(v, 'f', -1, 64): shortest round-trip decimal,
    * never exponent notation (count_values label values, aggr.go:611).
    */
  private[lang] def goFormatF(v: Double): String = {
    if (v.isNaN) "NaN"
    else if (v.isPosInfinity) "+Inf"
    else if (v.isNegInfinity) "-Inf"
    else {
      // Double.toString is shortest-round-trip; BigDecimal expands the
      // exponent into plain decimal form
      val s = new java.math.BigDecimal(java.lang.Double.toString(v)).toPlainString
      if (s.contains('.')) s.reverse.dropWhile(_ == '0').stripPrefix(".").reverse
      else s
    }
  }
  private val goFmtUdf = udf(goFormatF _)

  /** The reference's running-average recurrence (transform.go:1210
    * runningAvg via :1325 newTransformFuncRunning): r += (v − r)/(pos+1)
    * where pos is the DENSE-GRID position since the first non-NaN sample —
    * NaN gaps advance the divisor (each contributes the then-current mean)
    * and carry the running value. Inputs are the per-series grid-ordered
    * value array (NaN = absent); output pairs (index, runningValue) start
    * at the first non-NaN position. Sequential per series, exactly the
    * reference's float-op order; distributes across series.
    */
  private[lang] def runningAvgSeq(vs: Seq[Double]): Seq[(Int, Double)] = {
    val out = Seq.newBuilder[(Int, Double)]
    var i = 0
    while (i < vs.length && vs(i).isNaN) i += 1
    if (i < vs.length) {
      var r = vs(i)
      out += ((i, r))
      val base = i
      i += 1
      while (i < vs.length) {
        val v = vs(i)
        if (!v.isNaN) r = r + (v - r) / ((i - base) + 1).toDouble
        out += ((i, r))
        i += 1
      }
    }
    out.result()
  }
  private val runningAvgUdf = udf(runningAvgSeq _)
  private val runningAvgFinalUdf = udf { (vs: Seq[Double]) =>
    val run = runningAvgSeq(vs)
    if (run.isEmpty) Double.NaN else run.last._2
  }

  /** the reference's round-to-nearest-multiple (transform.go:2339): add
    * half a step away from zero, strip the remainder, then truncate at the
    * decimal exponent of `nearest` to shed float noise (lib/decimal
    * FromFloat). Bit-exact with the Go chain, which differs from
    * round(v/n)*n at representation boundaries.
    */
  private[lang] def goRound(v: Double, nearest: Double): Double = {
    if (v.isNaN || nearest.isNaN || nearest == 0) return Double.NaN
    var x = v + 0.5 * math.copySign(nearest, v)
    x -= x % nearest
    val e = -new java.math.BigDecimal(java.lang.Double.toString(math.abs(nearest)))
      .stripTrailingZeros.scale
    val p10 = math.pow(10, -e)
    val prod = x * p10
    // math.Modf integral part = truncation toward zero; past 2^53 the
    // double is already integral
    val tr =
      if (prod.isInfinite || math.abs(prod) >= 9.007199254740992e15) prod
      else math.signum(prod) * math.floor(math.abs(prod))
    tr / p10
  }
  private val goRoundUdf = udf(goRound _)

  /** Sortable key reproducing the reference's numericLess collation
    * (transform.go:2485 sort_by_label_numeric): the string is split into
    * alternating numeric ([+-]?digits with one optional dot, parsed as a
    * float) and non-numeric chunks; numbers compare numerically and sort
    * BEFORE non-numeric chunks at the same position. The key encodes each
    * numeric chunk as marker \u0001 + order-preserving IEEE-754 hex and
    * each non-numeric chunk as marker \u0002 + the chunk, so plain string
    * ordering of keys equals numericLess ordering of inputs.
    */
  private[lang] def numericSortKey(s0: String): String = {
    val s = if (s0 == null) "" else s0
    def numLen(i0: Int): Int = {
      var i = i0
      if (i < s.length && (s(i) == '+' || s(i) == '-')) i += 1
      var hasNum = false; var hasDot = false
      var done = false
      while (!done && i < s.length) {
        val c = s(i)
        if (c >= '0' && c <= '9') { hasNum = true; i += 1 }
        else if (c == '.' && !hasDot) { hasDot = true; i += 1 }
        else done = true
      }
      if (hasNum) i - i0 else 0
    }
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val nl = numLen(i)
      if (nl > 0) {
        val d = try s.substring(i, i + nl).toDouble catch { case _: NumberFormatException => 0.0 }
        var bits = java.lang.Double.doubleToLongBits(d)
        bits = if (bits < 0) ~bits else bits | java.lang.Long.MIN_VALUE
        sb.append('\u0001').append(f"$bits%016x")
        i += nl
      }
      val start = i
      while (i < s.length && numLen(i) == 0) i += 1
      if (i > start) sb.append('\u0002').append(s.substring(start, i))
    }
    sb.toString
  }
  private val numericKeyUdf = udf(numericSortKey _)

  // =====================================================================
  // function tables
  // =====================================================================

  /** rollup functions: name → (windowMs, scalar args before/after the
    * rollup arg) → Kernel (rollup.go:24-108 registration table).
    */
  private def rollupKernel(
      name: String, windowMs: Long, args: Seq[Double],
      lookbackMs: Long = 300000L): Option[Kernel] =
    name match {
      case "avg_over_time" => Some(Kernels.avg)
      case "min_over_time" => Some(Kernels.min)
      case "max_over_time" => Some(Kernels.max)
      case "sum_over_time" => Some(Kernels.sum)
      case "count_over_time" => Some(Kernels.count)
      case "sum2_over_time" => Some(Kernels.sum2)
      case "stddev_over_time" => Some(Kernels.stddev)
      case "stdvar_over_time" => Some(Kernels.stdvar)
      case "median_over_time" => Some(Kernels.median)
      case "quantile_over_time" => Some(Kernels.quantile(args.head))
      case "geomean_over_time" => Some(Kernels.geomean)
      case "distinct_over_time" => Some(Kernels.distinct)
      case "range_over_time" => Some(Kernels.range)
      case "first_over_time" => Some(Kernels.first)
      case "last_over_time" => Some(Kernels.last)
      case "tfirst_over_time" => Some(Kernels.tfirst)
      case "tlast_over_time" => Some(Kernels.tlast)
      case "tmin_over_time" => Some(Kernels.tmin)
      case "tmax_over_time" => Some(Kernels.tmax)
      case "count_eq_over_time" => Some(Kernels.countEq(args.head))
      case "count_ne_over_time" => Some(Kernels.countNe(args.head))
      case "count_le_over_time" => Some(Kernels.countLe(args.head))
      case "count_gt_over_time" => Some(Kernels.countGt(args.head))
      case "sum_eq_over_time" => Some(Kernels.sumEq(args.head))
      case "sum_le_over_time" => Some(Kernels.sumLe(args.head))
      case "sum_gt_over_time" => Some(Kernels.sumGt(args.head))
      case "share_eq_over_time" => Some(Kernels.shareEq(args.head))
      case "share_le_over_time" => Some(Kernels.shareLe(args.head))
      case "share_gt_over_time" => Some(Kernels.shareGt(args.head))
      case "lifetime" => Some(Kernels.lifetimePrev)
      case "lag" => Some(Kernels.lag)
      case "scrape_interval" => Some(Kernels.scrapeIntervalPrev)
      case "rate_over_sum" => Some(Kernels.rateOverSum(windowMs))
      case "zscore_over_time" => Some(Kernels.zscore)
      case "deriv" => Some(Kernels.deriv)
      case "deriv_fast" => Some(Kernels.derivFastPrev)
      case "predict_linear" => Some(Kernels.predictLinear(args.head))
      case "hoeffding_bound_lower" => Some(Kernels.hoeffdingLower(args.head))
      case "hoeffding_bound_upper" => Some(Kernels.hoeffdingUpper(args.head))
      case "outlier_iqr_over_time" => Some(Kernels.outlierIqr)
      case "present_over_time" => Some(Kernels.present)
      case "mad_over_time" => Some(Kernels.mad)
      case "mode_over_time" => Some(Kernels.mode)
      case "holt_winters" => Some(Kernels.holtWinters(args(0), args(1)))
      case "stale_samples_over_time" => Some(Kernels.staleSamples)
      // engine-path counter family: cross-window prevValue semantics
      // (rollup.go:770-805); the *_prometheus variants stay strictly
      // in-window like Prometheus (rollup.go rollupDeltaPrometheus)
      case "delta" => Some(Kernels.deltaPrev(lookbackMs))
      case "delta_prometheus" => Some(Kernels.deltaPrometheus)
      case "idelta" => Some(Kernels.ideltaPrev)
      case "increase" => Some(Kernels.increasePrev(lookbackMs))
      case "increase_pure" => Some(Kernels.increasePurePrev(lookbackMs))
      case "increase_prometheus" => Some(Kernels.increasePrometheus)
      case "rate" => Some(Kernels.ratePrev)
      case "irate" => Some(Kernels.iratePrev)
      case "ideriv" => Some(Kernels.iderivPrev)
      case "changes" => Some(Kernels.changesPrev(lookbackMs))
      case "changes_prometheus" => Some(Kernels.changes)
      case "increases_over_time" => Some(Kernels.increasesPrev)
      case "decreases_over_time" | "resets" => Some(Kernels.decreasesPrev)
      case "ascent_over_time" => Some(Kernels.ascentOverTime)
      case "descent_over_time" => Some(Kernels.descentOverTime)
      case "integrate" => Some(Kernels.integratePrev)
      case "duration_over_time" => Some(Kernels.durationOverTime(args.head))
      case "tlast_change_over_time" => Some(Kernels.tlastChangePrev)
      case "default_rollup" => Some(Kernels.last)
      case "timestamp" | "timestamp_with_name" => Some(Kernels.tlast)
      case _ => None
    }

  private[graft] val isRollupFn: Set[String] = Set(
    "avg_over_time", "min_over_time", "max_over_time", "sum_over_time",
    "count_over_time", "sum2_over_time", "stddev_over_time", "stdvar_over_time",
    "median_over_time", "quantile_over_time", "geomean_over_time",
    "distinct_over_time", "range_over_time", "first_over_time", "last_over_time",
    "tfirst_over_time", "tlast_over_time", "tmin_over_time", "tmax_over_time",
    "count_eq_over_time", "count_ne_over_time", "count_le_over_time",
    "count_gt_over_time", "sum_eq_over_time", "sum_le_over_time",
    "sum_gt_over_time", "share_eq_over_time", "share_le_over_time",
    "share_gt_over_time", "lifetime", "lag", "scrape_interval", "rate_over_sum",
    "zscore_over_time", "deriv", "deriv_fast", "predict_linear",
    "hoeffding_bound_lower", "hoeffding_bound_upper", "outlier_iqr_over_time",
    "present_over_time", "mad_over_time", "mode_over_time", "delta", "idelta",
    "increase", "increase_pure", "increase_prometheus", "rate", "irate",
    "ideriv", "changes", "changes_prometheus", "delta_prometheus",
    "increases_over_time", "decreases_over_time", "resets", "ascent_over_time",
    "descent_over_time", "integrate", "duration_over_time",
    "tlast_change_over_time", "default_rollup", "timestamp",
    "timestamp_with_name", "holt_winters", "stale_samples_over_time",
    "absent_over_time", "rollup", "rollup_candlestick", "aggr_over_time",
    "quantiles_over_time", "histogram_over_time", "count_values_over_time",
    "rollup_delta", "rollup_increase", "rollup_rate", "rollup_deriv",
    "rollup_scrape_interval")

  /** rollup fns that keep the metric name (rollup.go:267-287) */
  private val rollupKeepsName: Set[String] = Set(
    "avg_over_time", "default_rollup", "first_over_time", "geomean_over_time",
    "hoeffding_bound_lower", "hoeffding_bound_upper", "last_over_time",
    "max_over_time", "min_over_time", "median_over_time", "mode_over_time",
    "predict_linear", "quantile_over_time", "rollup", "rollup_candlestick",
    "timestamp", "timestamp_with_name")

  /** one-arg pointwise transforms: value → value (transform.go:25-130) */
  private val mathFns: Map[String, Column => Column] = Map(
    "abs" -> abs,
    "ceil" -> (c => ceil(c).cast(DoubleType)),
    "floor" -> (c => floor(c).cast(DoubleType)),
    "exp" -> exp,
    "ln" -> log,
    "log2" -> log2,
    "log10" -> log10,
    "sqrt" -> sqrt,
    "sin" -> sin,
    "cos" -> cos,
    "tan" -> tan,
    "asin" -> asin,
    "acos" -> acos,
    "atan" -> atan,
    "sinh" -> sinh,
    "cosh" -> cosh,
    "tanh" -> tanh,
    "asinh" -> asinh,
    "acosh" -> acosh,
    "atanh" -> atanh,
    "deg" -> degrees,
    "rad" -> radians,
    "sgn" -> (c => signum(c)))

  /** transform fns that keep the metric name (transform.go:141-170) */
  private val transformKeepsName: Set[String] = Set(
    "ceil", "clamp", "clamp_max", "clamp_min", "floor", "interpolate",
    "keep_last_value", "keep_next_value", "round", "running_avg",
    "running_max", "running_min", "running_sum", "range_avg", "range_first",
    "range_last", "range_linear_regression", "range_mad", "range_max",
    "range_median", "range_min", "range_normalize", "range_quantile",
    "range_stddev", "range_stdvar", "range_sum", "range_zscore",
    "remove_resets", "smooth_exponential", "timezone_offset")

  // =====================================================================

  /** Evaluate a parsed MetricsQL expression over a samples DataFrame
    * (name, tags, ts, value) on the configured grid. Returns the grid
    * frame (name, tags, t, value).
    */
  def eval(samples: DataFrame, expr: Expr, cfg: EvalConfig): DataFrame =
    withEv(samples, expr, cfg)(_.eval(expr)) match {
      // a top-level string is an empty result, not an error
      // (exec_test.go simple-string)
      case StrVal(_) =>
        toSeries(samples, Scalar(Double.NaN), cfg).filter(lit(false))
      case v =>
        // NaN result points are dropped at the top level: the engine
        // models a NaN grid point as an absent row, and the reference
        // strips series that end up all-NaN from every result (exec.go
        // removeEmptySeries; exec_test.go expects `(-4)^0.5` → nothing)
        toSeries(samples, v, cfg).filter(!isnan(col("value")))
    }

  /** Several rollup functions of ONE selector leaf `re`, evaluated in a
    * single rollup pass ([[Rollup.rollupMulti]], one read of the leaf's
    * samples): name, tags, t, then one column per function, named after
    * it. The metric name is kept; a row is kept where every function has
    * a value; NaN values are left to the caller. The functions share the
    * first one's input rules (window default, stale-NaN handling) — as
    * sum_over_time and count_over_time do, the pair an instant
    * avg_over_time is served from (Engine.queryInstantServed).
    */
  def evalRollupColumns(
      samples: DataFrame,
      fns: Seq[String],
      re: RollupExpr,
      cfg: EvalConfig): DataFrame =
    withEv(samples, re, cfg)(_.rollupLeaf(fns, re, Nil, keepNames = true))

  /** run `f` on an evaluator for `expr`: the tag-index probe scoped to
    * the query's reach, and the storage limits enforced around it
    */
  private def withEv[T](samples: DataFrame, expr: Expr, cfg: EvalConfig)(f: Ev => T): T = {
    // scope the tag-index probe to the query's time range (plus the AST's
    // conservative reach and the staleness lookback) — a free partition
    // pruning that keeps the probe flat in retention length. Callers that
    // pre-set an explicit scope keep it.
    val cfgScoped =
      if (cfg.tagIndex.isEmpty || cfg.indexProbeFromMs != Long.MinValue ||
        cfg.indexProbeToMs != Long.MaxValue) cfg
      else indexProbeReach(expr, cfg.grid.stepMs) match {
        case Some((back, fwd)) =>
          def minus(a: Long, b: Long) =
            try math.subtractExact(a, b) catch { case _: ArithmeticException => Long.MinValue }
          def plus(a: Long, b: Long) =
            try math.addExact(a, b) catch { case _: ArithmeticException => Long.MaxValue }
          cfg.copy(
            indexProbeFromMs =
              minus(cfg.grid.startMs, back + cfg.lookbackMs + cfg.grid.stepMs),
            indexProbeToMs = plus(cfg.grid.endMs, fwd))
        case None => cfg
      }
    val ev = new Ev(samples, cfgScoped)
    // run ALL selector-leaf pre-counts as ONE Spark job (a union of
    // 1-row aggregates) — a multi-selector query with limits on must not
    // pay N sequential driver round-trips. Construction paths that do
    // EAGER work (rollup level-1 checkpoint, binop adaptive checkpoint,
    // histogram LE checkpoint) flush the registered leaves FIRST via the
    // StorageLimits hook, so rejection still precedes the expensive work.
    val prevHook =
      graft.core.StorageLimits.swapPendingFlush(() => ev.enforceStorageLimits())
    val v =
      try f(ev)
      finally graft.core.StorageLimits.restorePendingFlush(prevHook)
    ev.enforceStorageLimits()
    v
  }

  /** materialize scalars on the grid; pass series through */
  private def toSeries(samples: DataFrame, v: Value, cfg: EvalConfig): DataFrame = v match {
    case Series(df) => df
    case ScalarSeries(df) => df
    case Scalar(x) =>
      Grid.gridDf(samples, cfg.grid)
        .select(
          lit(null).cast(StringType).as("name"),
          map().cast("map<string,string>").as("tags"),
          col("t"),
          lit(x).cast(DoubleType).as("value"))
    case StrVal(s) =>
      // a string in series position parses as a number, NaN when it can't
      // (Go strconv semantics — median_over_time("foo") is an empty
      // result, not an error)
      val x = try s.trim.toDouble catch { case _: NumberFormatException => Double.NaN }
      toSeries(samples, Scalar(x), cfg)
  }

  private final class Ev(samples: DataFrame, cfg: EvalConfig,
      pendingLimits: scala.collection.mutable.ArrayBuffer[DataFrame] =
        scala.collection.mutable.ArrayBuffer.empty) {
    private val step = cfg.grid.stepMs

    /** Run every deferred selector-leaf pre-count (core.StorageLimits) as
      * ONE union-of-aggregates job and reject on the first violation.
      * Leaves register during plan construction; the union executes here,
      * after construction and before any evaluation work is scheduled.
      */
    def enforceStorageLimits(): Unit = {
      if (pendingLimits.isEmpty) return
      val rows = pendingLimits.reduce(_.unionByName(_)).collect()
      pendingLimits.clear()
      val maxSamples = graft.core.StorageLimits.maxSamplesPerQuery
      val maxSeries = graft.core.StorageLimits.maxUniqueTimeseries
      rows.foreach { row =>
        if (maxSamples > 0 && row.getLong(0) > maxSamples)
          throw graft.core.StorageLimits.samplesError(maxSamples)
        // the series column can be NULL, not just the -1 sentinel: a leaf
        // registered while maxUniqueTimeseries was off aggregates
        // max(lit(-1L)) over an EMPTY scoped frame → NULL; if the flag is
        // toggled on before this flush runs, an unguarded getLong NPEs
        if (maxSeries > 0 && !row.isNullAt(1) && row.getLong(1) >= 0 &&
          row.getLong(1) > maxSeries)
          throw graft.core.StorageLimits.seriesError(maxSeries)
      }
    }

    def eval(e: Expr): Value = Trace.child(traceMsg(e))(evalNode(e))

    /** span message per AST node, mirroring the reference's NewChild
      * messages in promql/eval.go:300-326 — only evaluated when a trace
      * root is open on this thread
      */
    private def traceMsg(e: Expr): String = e match {
      case NumberExpr(v) => s"number $v"
      case StringExpr(s) => "string " + s
      case m: MetricExpr => s"fetch series: ${Render.render(m)}"
      case r: RollupExpr => s"eval default_rollup: ${Render.render(r)}"
      case ParensExpr(_) => "union"
      case a: AggrFuncExpr => s"aggregate ${a.name}()"
      case b: BinaryOpExpr => "binary op \"" + b.op + "\""
      case f: FuncExpr if isRollupFn(f.name) => s"rollup ${f.name}()"
      case f: FuncExpr => s"transform ${f.name}()"
    }

    private def evalNode(e: Expr): Value = e match {
      case NumberExpr(v) => Scalar(v)
      case StringExpr(s) => StrVal(s)
      case m: MetricExpr => // bare selector = default_rollup (rollup.go:38)
        evalRollupLeaf("default_rollup", RollupExpr(m, None, None, None, None), Nil)
      case r: RollupExpr => // bare rollup without fn = default_rollup too
        evalRollupLeaf("default_rollup", r, Nil)
      case ParensExpr(es) => evalUnion(es)
      case a: AggrFuncExpr => evalAggr(a)
      case b: BinaryOpExpr => evalBinop(b)
      case f: FuncExpr if isRollupFn(f.name) =>
        Eval.checkArity(f.name, f.args.size); evalRollupCall(f)
      case f: FuncExpr =>
        Eval.checkArity(f.name, f.args.size); evalTransform(f)
    }

    def series(e: Expr): DataFrame = toSeries(samples, eval(e), cfg)

    /** Per-series identity for whole-grid transforms (the running_ and
      * range_ families, gap fills, remove_resets): when the transform's argument is a bare
      * selector leaf over a KEYED samples frame (a bucketed store carries
      * the persisted `_h1`/`_h2` pair), evaluate the leaf with the hash
      * pair kept and partition downstream windows/joins on those SAME
      * attributes — the rollup's output partitioning (on a bucketed
      * store: the scan's bucket HashPartitioning, zero exchanges)
      * satisfies them via the subset-clustering rule. Otherwise fall
      * back to the whole-series key (`_sk`, SeriesId.key), the
      * flat-store shape.
      * Returns (frame with key columns, key column NAMES).
      */
    private def seriesKeyed(e: Expr): (DataFrame, Seq[String]) = {
      val keyedLeaf = e match {
        case m: MetricExpr if samples.columns.contains("_h1") =>
          Some(evalRollupLeaf("default_rollup",
            RollupExpr(m, None, None, None, None), Nil, keepKeys = true))
        case r: RollupExpr
            if samples.columns.contains("_h1") && r.expr.isInstanceOf[MetricExpr] =>
          Some(evalRollupLeaf("default_rollup", r, Nil, keepKeys = true))
        case _ => None
      }
      keyedLeaf match {
        case Some(Series(d)) =>
          // join-safe name twin (_nm): equi-joins drop null keys, and a
          // PROJECTION preserves the underlying _h1 partitioning
          (d.withColumn("_nm", coalesce(col("name"), lit(""))),
            Seq("_nm", "_h1", "_h2"))
        case _ =>
          (series(e).withColumn("_sk", SeriesId.key(col("name"), col("tags"))), Seq("_sk"))
      }
    }

    private def scalarArg(e: Expr): Double = eval(e) match {
      case Scalar(v) => v
      case other => throw new IllegalArgumentException(s"expected scalar arg, got $other")
    }
    private def strArg(e: Expr): String = eval(e) match {
      case StrVal(s) => s
      case other => throw new IllegalArgumentException(s"expected string arg, got $other")
    }

    /** label value as a column; `__name__` reads the metric name, absent
      * labels read as "" (reference: empty label == missing label)
      */
    private def labelCol(l: String): Column =
      coalesce(if (l == "__name__") col("name") else col("tags").getItem(l), lit(""))

    /** parse an `le` bucket label like Go's ParseFloat: inf spellings and
      * unparseable values must not throw under ANSI (unparseable buckets
      * are skipped — transform.go groupLeTimeseries)
      */
    private def leValue(raw: Column): Column = {
      val low = lower(raw)
      when(low.isin("inf", "+inf", "infinity", "+infinity"),
        lit(Double.PositiveInfinity))
        .when(low.isin("-inf", "-infinity"), lit(Double.NegativeInfinity))
        .otherwise(raw.try_cast(DoubleType))
    }

    // ------------------------------------------------------------------
    // selectors
    // ------------------------------------------------------------------

    /** Selector fetch with optional tag-index name pruning: a NAMELESS
      * tag-equality lookup (`{pod="..."}`) over a name-sorted store pays
      * a full scan — nothing to prune on. With cfg.tagIndex configured,
      * the candidate metric names resolve from the (metadata-scale) index
      * and the scan adds a pushed `name IN (...) OR name IS NULL`
      * conjunct, restoring the sorted layout's row-group pruning — the
      * Spark form of the reference's tag→metricIDs probe
      * (index_db.go:1673 searchMetricIDs). Strictly a narrowing: the
      * index is complete over the store, so every row matching the
      * selector carries a candidate name (or a null one, which the IsNull
      * disjunct keeps) — results are identical with or without the index
      * (BucketedStoreSpec pins both the equality and the pushed plan).
      * Name-carrying, OR-form, and negative/regex selectors skip the
      * probe — the name predicate (when present) already prunes.
      */
    private def indexedFetch(m: MetricExpr): DataFrame = {
      val pred = filterPredicate(m.filterss)
      cfg.tagIndex.flatMap(Eval.indexNamePredicate(m, _,
        cfg.indexProbeFromMs, cfg.indexProbeToMs)) match {
        case Some(nameIn) => samples.filter(nameIn && pred)
        case None => samples.filter(pred)
      }
    }

    // ------------------------------------------------------------------
    // rollups
    // ------------------------------------------------------------------

    /** multi-output rollups: one aggregation pass fanned out into several
      * series distinguished by an extra label (rollup.go:374-516
      * getRollupConfigs fan-out; SURVEY §2.10 generator pattern).
      */
    private def evalMultiRollup(f: FuncExpr): Value = {
      def findRollup(args: Seq[Expr]): RollupExpr = args.collectFirst {
        case r: RollupExpr => r
        case m: MetricExpr => RollupExpr(m, None, None, None, None)
      }.orElse(args.collectFirst {
        // any non-string/number expr evaluates as an implicit [step]
        // subquery (rollup_increase(time()) — generic rollup-arg rule)
        case e if !e.isInstanceOf[StringExpr] && !e.isInstanceOf[NumberExpr] &&
          (e match {
            case ParensExpr(es) => !es.forall(_.isInstanceOf[StringExpr])
            case _ => true
          }) => RollupExpr(e, None, None, None, None)
      }).getOrElse(throw new IllegalArgumentException(s"${f.name} needs a series arg"))
      val re = findRollup(f.args)
      val (keyed, rollGrid, atMs, windowMs) = rollupInput(f.name, re)

      // optional rollup tag ("min"/"max"/"avg"/…): restrict to ONE output
      // series and add NO label (rollup.go:415-433 getRollupTag → the ""
      // tag in newRollupConfig)
      val rollupTag: Option[String] = f.name match {
        case "rollup" | "rollup_candlestick" | "rollup_delta" | "rollup_increase" |
            "rollup_rate" | "rollup_deriv" | "rollup_scrape_interval" =>
          f.args.collectFirst { case StringExpr(s) => s }
        case _ => None
      }
      def mmaKernels: Seq[(String, Kernel)] = {
        val all = Seq("min" -> Kernels.min, "max" -> Kernels.max, "avg" -> Kernels.avg)
        rollupTag match {
          case Some(t) => all.filter(_._1 == t)
          case None => all
        }
      }
      val (out, label) = f.name match {
        case "rollup_candlestick" =>
          // an explicit second arg must name a real leg (rollup.go:374
          // getRollupConfigs rejects unknown tag values)
          f.args.drop(1).foreach { a =>
            val s = strArg(a)
            if (!Set("open", "close", "low", "high")(s))
              throw new IllegalArgumentException(
                s"unsupported rollup_candlestick() suffix '$s'")
          }
          (Rollup.candlestick(keyed, leafKeys, rollGrid, windowMs), "rollup")
        case "rollup" =>
          (Rollup.aggrOverTime(keyed, leafKeys, rollGrid, windowMs, mmaKernels), "rollup")
        case "rollup_delta" | "rollup_increase" | "rollup_rate" | "rollup_deriv" |
            "rollup_scrape_interval" =>
          // the reference PRE-TRANSFORMS the whole fetched series
          // (rollup.go:440-495: reset removal for rate/increase, then
          // pair delta/deriv/ts-gap written at the LEFT index, last point
          // repeating the final pair), THEN windows min/max/avg over the
          // transformed values
          val w = Window.partitionBy(col("name"), col("_h1"), col("_h2")).orderBy(col("ts"))
          val needResets = f.name == "rollup_rate" || f.name == "rollup_increase"
          val cval: Column =
            if (!needResets) col("value")
            else {
              // removeCounterResets (rollup.go:921): cumulative correction,
              // 8× heuristic for partial resets
              val pv = lag(col("value"), 1).over(w)
              val d = col("value") - pv
              val add = when(pv.isNotNull && d < 0,
                when(d * -8 < pv, pv - col("value")).otherwise(pv)).otherwise(0.0)
              col("value") + sum(add).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            }
          val pre = keyed.withColumn("_cval", cval)
          val nv = lead(col("_cval"), 1).over(w)
          val nts = lead(col("ts"), 1).over(w)
          val pairCol: Column = f.name match {
            case "rollup_delta" | "rollup_increase" => nv - col("_cval")
            case "rollup_rate" | "rollup_deriv" =>
              (nv - col("_cval")) / ((nts - col("ts")).cast(DoubleType) / 1000.0)
            case _ => // rollup_scrape_interval: BACKWARD ts gap in seconds
              (col("ts") - lag(col("ts"), 1).over(w)).cast(DoubleType) / 1000.0
          }
          val transformed = pre
            .withColumn("_pair", pairCol)
            .withColumn("value", f.name match {
              case "rollup_scrape_interval" => // values[0] = values[1]
                coalesce(col("_pair"), lead(col("_pair"), 1).over(w))
              case _ => // last point repeats the previous pair
                coalesce(col("_pair"), lag(col("_pair"), 1).over(w))
            })
            .filter(col("value").isNotNull)
            .select(leafKeys.map(col) :+ col("ts") :+ col("value"): _*)
          (Rollup.aggrOverTime(transformed, leafKeys, rollGrid, windowMs, mmaKernels), "rollup")
        case "aggr_over_time" =>
          // aggr_over_time(("f1","f2",…), m[d]) — fn-name list arg
          val fns = f.args.head match {
            case ParensExpr(es) => es.map { case StringExpr(s) => s
              case other => throw new IllegalArgumentException(s"bad aggr_over_time fn: $other") }
            case StringExpr(s) => Seq(s)
            case other => throw new IllegalArgumentException(s"bad aggr_over_time arg: $other")
          }
          val kernels = fns.map(n => n -> rollupKernel(n, windowMs, Nil).getOrElse(
            throw new IllegalArgumentException(s"unknown rollup fn '$n'")))
          (Rollup.aggrOverTime(keyed, leafKeys, rollGrid, windowMs, kernels), "rollup")
        case "quantiles_over_time" =>
          // quantiles_over_time("phiLabel", phi1, …, m[d])
          val phis = f.args.drop(1).dropRight(1).map(scalarArg)
          val lbl = strArg(f.args.head)
          (Rollup.quantilesOverTime(keyed, leafKeys, rollGrid, windowMs, phis)
            .withColumnRenamed("phi", "rollup"), lbl)
        case "histogram_over_time" =>
          (Rollup.histogramOverTime(keyed, leafKeys, rollGrid, windowMs)
            .withColumn("rollup", col("vmrange").cast(StringType)).drop("vmrange"), "vmrange")
        case "count_values_over_time" =>
          val lbl = strArg(f.args.head)
          (Rollup.countValuesOverTime(keyed, leafKeys, rollGrid, windowMs)
            .withColumn("rollup", col("value").cast(StringType))
            .withColumn("value", col("cnt")).drop("cnt"), lbl)
        case other => throw new IllegalArgumentException(s"not a multi-rollup: '$other'")
      }
      val keep = re.keepMetricNames || f.keepMetricNames || rollupKeepsName(f.name)
      val named = if (keep) col("name") else lit(null).cast(StringType)
      // a rollup tag arg selects one series and adds NO label
      val outTags =
        if (rollupTag.isDefined) leafTags
        else map_concat(leafTags, map(lit(label), col("rollup")))
      Series(replicateAt(out, atMs)
        .filter(col("value").isNotNull) // no-pair windows = missing points
        .select(
          named.as("name"),
          outTags.as("tags"),
          col("t"), col("value")))
    }

    private val multiRollups = Set(
      "rollup", "rollup_candlestick", "aggr_over_time", "quantiles_over_time",
      "histogram_over_time", "count_values_over_time", "rollup_delta",
      "rollup_increase", "rollup_rate", "rollup_deriv", "rollup_scrape_interval")

    /** absent_over_time(m[d]) — 1.0 exactly at grid points where NO series
      * matched in the lookback window (rollup.go:1755 rollupAbsent); the
      * synthesized series carries the selector's plain equality-filter
      * labels (eval.go:1017-1031 getAbsentTimeseries).
      */
    private def evalAbsentOverTime(f: FuncExpr): Value = {
      val re = f.args.head match {
        case r: RollupExpr => r
        // any other expr (time(), transforms, …) evaluates as an implicit
        // [step] subquery, like the generic rollup-arg rule
        case other => RollupExpr(other, None, None, None, None)
      }
      val (keyed, rollGrid, atMs, windowMs) = rollupInput("absent_over_time", re)
      val out = replicateAt(Rollup.absentOverTime(keyed, rollGrid, windowMs), atMs)
      val eqTags: Seq[(String, String)] = re.expr match {
        case m: MetricExpr if m.filterss.size == 1 =>
          m.filterss.head.collect {
            case LabelFilter(l, v, false, false)
                if l != "__name__" && l != "__graphite__" => (l, v)
          }
        case _ => Nil
      }
      val tagsCol =
        if (eqTags.isEmpty) map().cast("map<string,string>")
        else map(eqTags.flatMap(kv => Seq(lit(kv._1), lit(kv._2))): _*)
      Series(out.select(lit(null).cast(StringType).as("name"),
        tagsCol.as("tags"), col("t"), lit(1.0).as("value")))
    }

    private def evalRollupCall(f: FuncExpr): Value = {
      if (multiRollups(f.name)) return evalMultiRollup(f)
      if (f.name == "absent_over_time") return evalAbsentOverTime(f)
      // locate the rollup argument; remaining args must be scalars
      val idx = f.args.indexWhere {
        case _: RollupExpr | _: MetricExpr => true
        case _ => false
      }
      val (re, extraArgs) =
        if (idx >= 0) {
          val r = f.args(idx) match {
            case r: RollupExpr => r
            case m: MetricExpr => RollupExpr(m, None, None, None, None) // implicit [step]
            case _ => throw new IllegalStateException("unreachable")
          }
          (r, f.args.patch(idx, Nil, 1).map(scalarArg))
        } else
          // rollup over a non-selector arg without [window]: implicit subquery
          (RollupExpr(f.args.head, None, None, None, None), f.args.tail.map(scalarArg))
      evalRollupLeaf(f.name, re, extraArgs, f.keepMetricNames)
    }

    /** shared rollup plumbing: resolve window/offset/@, build the keyed
      * raw-sample frame (selector leaf or subquery inner grid), and the
      * grid to evaluate on. Used by single- and multi-output rollups.
      */
    private def rollupInput(
        fn: String,
        re: RollupExpr): (DataFrame, GridSpec, Option[Long], Long) = {
      val windowMs = re.window.map(_.ms(step)).getOrElse {
        // no [d]: window = step, widened to the staleness lookback for
        // last-value semantics (rollup.go:738-756 window auto-adjust)
        if (fn == "default_rollup") math.max(step, cfg.lookbackMs) else step
      }
      val offsetMs = re.offset.map(_.ms(step)).getOrElse(0L)
      // grid-relative constant for @ expressions: numbers, start()/end(),
      // arithmetic over them, and `end() offset 10m` (which parses as a
      // rollup-offset around the at-target)
      def atConst(e: Expr): Double = e match {
        case NumberExpr(v) => v
        case FuncExpr("start", Seq(), _) => cfg.grid.startMs / 1000.0
        case FuncExpr("end", Seq(), _) => cfg.grid.endMs / 1000.0
        case FuncExpr("step", Seq(), _) => cfg.grid.stepMs / 1000.0
        case ParensExpr(Seq(one)) => atConst(one)
        case BinaryOpExpr(op, l, r, _, _, _, _, _, _) =>
          BinaryOp.applyScalar(op, atConst(l), atConst(r))
        case RollupExpr(inner, None, None, Some(off), None, _, _) =>
          atConst(inner) - off.ms(step) / 1000.0
        case other =>
          throw new IllegalArgumentException(s"unsupported @ modifier: $other")
      }
      // non-constant @ expressions evaluate as a full query on the same
      // grid: exactly ONE series, whose first non-NaN value is the
      // at-time in seconds (eval.go evalRollupFuncWithAt; the reference
      // error strings are user-visible API responses)
      def atEval(e: Expr): Double = eval(e) match {
        case Scalar(x) =>
          if (x.isNaN) throw new IllegalArgumentException(
            "`@` modifier must return a non-NaN value")
          x
        case Series(df) =>
          val rows = df
            .select(SeriesId.key(col("name"), col("tags")).as("_sid"),
              col("t"), col("value"))
            .collect()
          val nSeries = rows.map(_.get(0)).distinct.length
          if (nSeries != 1) throw new IllegalArgumentException(
            s"`@` modifier must return a single series; it returns $nSeries series instead")
          rows.sortBy(_.getLong(1)).map(_.getDouble(2)).find(!_.isNaN)
            .getOrElse(throw new IllegalArgumentException(
              "`@` modifier must return a non-NaN value"))
        case ScalarSeries(df) =>
          val vs = df.select(col("t"), col("value")).collect()
            .sortBy(_.getLong(0)).map(_.getDouble(1))
          vs.find(!_.isNaN).getOrElse(throw new IllegalArgumentException(
            "`@` modifier must return a non-NaN value"))
        case _ => throw new IllegalArgumentException(
          "`@` modifier must return a single series; it returns 0 series instead")
      }
      // the grid this rollup evaluates on: the query grid, or a single
      // point for @ (eval once, replicate — eval.go instant-at semantics)
      val atMs: Option[Long] = re.at.map {
        case AtTimestamp(sec) => math.round(sec * 1000)
        case AtStart => cfg.grid.startMs
        case AtEnd => cfg.grid.endMs
        case AtExpr(e) =>
          // constants fold without touching data; anything else (e.g.
          // `vector(1) @ up`) evaluates as a query
          val sec =
            try atConst(e)
            catch { case _: IllegalArgumentException => atEval(e) }
          math.round(sec * 1000)
      }
      val rollGrid = atMs
        .map(a => GridSpec(a, a, step))
        .getOrElse(cfg.grid)

      // raw samples (selector leaf) or inner-grid rows (subquery)
      val raw: DataFrame = re.expr match {
        case m: MetricExpr =>
          val fetched = indexedFetch(m)
          // Prometheus staleness markers (stored NaN samples, SURVEY §1.2
          // NaN taxonomy) are dropped for every rollup EXCEPT
          // default_rollup — which needs them for staleness detection
          // (its last-in-lookback lands NaN and the point drops) — and
          // stale_samples_over_time, which counts them
          // (eval.go:2108 dropStaleNaNs)
          if (fn == "default_rollup" || fn == "stale_samples_over_time") fetched
          else fetched.filter(!isnan(col("value")))
        case inner =>
          // Subquery: evaluate inner expr on a finer grid extended back by
          // the window and shifted by the offset, then ALIGNED to absolute
          // step multiples (eval.go:1050-1058 evalRollupFuncWithSubquery +
          // alignStartEnd): a non-step-multiple offset must still evaluate
          // the inner expr on step-aligned timestamps — exec_test.go
          // `time() offset 3640` reads the aligned point before t-3640.
          val innerStep = re.step.map(_.ms(step)).getOrElse(step)
          // reference bounds (eval.go:1050 evalRollupFuncWithSubquery):
          // Start -= window + step + maxSilenceInterval (prev samples for
          // the counter family and window auto-adjust), End += step (the
          // forward pair the rollup_rate/deriv pre-transforms read)
          val rawStart = rollGrid.startMs - offsetMs - windowMs - innerStep -
            math.max(cfg.lookbackMs, 0L)
          val innerStart = Math.floorDiv(rawStart, innerStep) * innerStep
          val innerEnd = // aligned UP
            -Math.floorDiv(-(rollGrid.endMs - offsetMs + innerStep), innerStep) * innerStep
          val innerCfg = cfg.copy(grid = GridSpec(innerStart, innerEnd, innerStep))
          new Ev(samples, innerCfg, pendingLimits).series(inner)
            .select(col("name"), col("tags"), col("t").as("ts"), col("value"))
      }
      val shifted = if (offsetMs != 0) raw.withColumn("ts", col("ts") + lit(offsetMs)) else raw
      // Storage-side per-query limits (core.StorageLimits): counted over
      // the span this leaf will actually process — the grid extended back
      // by window + staleness lookback. One aggregate-only 1-row frame is
      // REGISTERED per selector leaf (only when a limit is configured);
      // Eval.eval unions and runs them as ONE job after construction, so
      // a multi-selector query pays one driver round-trip, not N.
      if (graft.core.StorageLimits.enabled && re.expr.isInstanceOf[MetricExpr]) {
        val lo = rollGrid.startMs - windowMs - math.max(cfg.lookbackMs, 0L)
        val scoped = shifted.filter(col("ts") > lit(lo) && col("ts") <= lit(rollGrid.endMs))
        val seriesCount =
          if (graft.core.StorageLimits.maxUniqueTimeseries > 0) SeriesId.countSeries.as("_s")
          else max(lit(-1L)).as("_s") // limit off: constant sentinel column
        pendingLimits += SeriesId.withPair(scoped).agg(count(lit(1)).as("_n"), seriesCount)
      }
      // Series identity for the PER-SAMPLE hot path is SeriesId's hash
      // pair — no per-row string building, and the shuffle key is two
      // longs (a bucketed store's persisted pair is reused). The sorted
      // entries array itself (Rollup.TagEntries) rides the rollup as a
      // payload key and is rebuilt into the tags map at output scale, so
      // a leaf reads its input once (the reference likewise carries each
      // series' MetricName with its samples, netstorage.go RunParallel).
      val keyed = SeriesId.withPair(
        shifted.withColumn(Rollup.TagEntries, SeriesId.entries(col("tags"))),
        col(Rollup.TagEntries))
      (keyed, rollGrid, atMs, windowMs)
    }

    /** a rollup leaf's series key: the metric name, the tags hash pair,
      * and the carried sorted tag entries (see `keyed` in [[rollupInput]])
      */
    private val leafKeys = Seq("name", "_h1", "_h2", Rollup.TagEntries)

    /** the tags map of a rollup output row, rebuilt from its entries */
    private val leafTags: Column = map_from_entries(col(Rollup.TagEntries))

    /** replicate @-pinned single-point results across the query grid */
    private def replicateAt(out: DataFrame, atMs: Option[Long]): DataFrame =
      atMs.map(_ => out.drop("t").crossJoin(Grid.gridDf(samples, cfg.grid))).getOrElse(out)

    /** rate-like functions whose missing `[d]` widens to the estimated
      * scrape interval so two samples are always in reach
      * (rollup.go:204-219 rollupFuncsCanAdjustWindow — the subset whose
      * kernels benefit; default_rollup keeps its staleness lookback).
      */
    private val canAdjustWindowFns = Set("rate", "deriv_fast", "irate", "ideriv", "deriv")

    private def evalRollupLeaf(
        fn: String,
        re: RollupExpr,
        extraArgs: Seq[Double],
        keepNames: Boolean = false,
        // keep the series hash-pair attributes in the output: downstream
        // per-series grid transforms (seriesKeyed fast path) partition
        // their windows/joins on the SAME attributes the rollup grouped
        // on, so the rollup's output partitioning — on a bucketed store,
        // the scan's bucket HashPartitioning — satisfies them with no
        // exchange. A recomputed key would sever that linkage.
        keepKeys: Boolean = false): Value =
      Series(rollupLeaf(Seq(fn), re, extraArgs, keepNames, keepKeys)
        .withColumnRenamed(fn, "value"))

    /** the rollup functions `fns` of one leaf in one rollup pass: name,
      * tags, t, a column per function (see [[Eval.evalRollupColumns]]),
      * and the series hash pair when `keepKeys`
      */
    def rollupLeaf(
        fns: Seq[String],
        re: RollupExpr,
        extraArgs: Seq[Double],
        keepNames: Boolean,
        keepKeys: Boolean = false): DataFrame = {
      Trace.printf(s"fetch series: ${Render.render(re.expr)}, window=${re.window.getOrElse("auto")}")
      val fn = fns.head
      val (keyed, rollGrid, atMs, windowMs) = rollupInput(fn, re)
      val kernels = fns.map(f => f -> rollupKernel(f, windowMs, extraArgs, cfg.lookbackMs).getOrElse(
        throw new IllegalArgumentException(s"unsupported rollup function '$f'")))
      val autoAdjust = re.window.isEmpty && canAdjustWindowFns(fn)
      val out = replicateAt(
        Rollup
          .rollupMulti(keyed, leafKeys, rollGrid, windowMs, kernels,
            lookbackMs = cfg.lookbackMs, autoAdjustWindow = autoAdjust)
          .filter(fns.map(col(_).isNotNull).reduce(_ && _)),
        atMs)
      val keep = keepNames || re.keepMetricNames || rollupKeepsName(fn)
      val named = if (keep) col("name") else lit(null).cast(StringType)
      out.select(
        (Seq(named.as("name"), leafTags.as("tags"), col("t")) ++ fns.map(col) ++
          (if (keepKeys) Seq(col("_h1"), col("_h2")) else Nil)): _*)
    }

    // ------------------------------------------------------------------
    // aggregates
    // ------------------------------------------------------------------

    /** union of an aggregate's series args — multiple args aggregate over
      * ALL their series with no union() "first wins" dedup (`sum(1,2,3)`
      * = 6, aggr.go aggrFuncs receive every arg's list). Leading
      * non-series args (phi/k/label) and a trailing string arg (topk_*
      * remaining-sum spec) are skipped.
      */
    private def aggrSeriesInput(a: AggrFuncExpr): DataFrame = {
      val skip = a.name match {
        case "quantile" | "topk" | "bottomk" | "limitk" | "outliersk" |
            "outliers_mad" | "count_values" => 1
        case n if n.startsWith("topk_") || n.startsWith("bottomk_") => 1
        case "quantiles" => a.args.size - 1
        case _ => 0
      }
      val sargs = a.args.drop(skip).filterNot(_.isInstanceOf[StringExpr])
      // aggregates treat NaN samples as absent (reference values arrays
      // skip NaN per point; all-NaN series are removeEmptySeries'd)
      sargs.map(series(_)).reduce(_ unionByName _).filter(!isnan(col("value")))
    }

    private def evalAggr(a: AggrFuncExpr): Value = {
      val df = aggrSeriesInput(a)
      val group = AggrGroup(a.modifier)
      def grouped(aggExpr: Column): Value = Series(groupedAgg(df, group, aggExpr))

      // per-series rank ops keep input series unchanged (aggr.go:646)
      def ranked(k: Int, ord: Column): Value = {
        val withKeys = group.keyed(df)
          .withColumn("_sk", SeriesId.orderKey(col("name"), col("tags")))
        val w = Window.partitionBy(group.keyCols :+ col("t"): _*).orderBy(ord, col("_sk").asc)
        Series(withKeys
          .withColumn("_rn", row_number().over(w))
          .filter(col("_rn") <= k)
          .select(col("name"), col("tags"), col("t"), col("value")))
      }

      val v = col("value")
      val result = Eval.simpleGroupedAgg(a.name, v) match {
        case Some(aggExpr) => grouped(aggExpr)
        case None => evalAggrCore(a, group, grouped, ranked, v)
      }
      // `limit N` modifier: at most N aggregation GROUPS survive, in input
      // series order (aggr.go:121 aggrPrepareSeries skips series whose
      // group is new once len(m) >= maxSeries). Frames approximate input
      // order with monotonically increasing ids — unions concatenate
      // partitions left-to-right, so ids follow argument order.
      if (a.limit <= 0) result
      else result match {
        case Series(out) =>
          val firstGroups = group.keyed(df)
            .withColumn("_oid", monotonically_increasing_id())
            .groupBy(group.keyCols: _*).agg(min(col("_oid")).as("_oid"))
            .orderBy(col("_oid")).limit(a.limit)
            .select(group.keyCols: _*)
          Series(group.keyed(out)
            .join(broadcast(firstGroups), group.cols, "left_semi")
            .select(col("name"), col("tags"), col("t"), col("value")))
        case other => other
      }
    }

    private def evalAggrCore(
        a: AggrFuncExpr,
        group: AggrGroup,
        grouped: Column => Value,
        ranked: (Int, Column) => Value,
        v: Column): Value = {
      // the simple grouped family (sum/min/max/avg/count/stddev/stdvar/
      // sum2/geomean/median) dispatches through Eval.simpleGroupedAgg in
      // evalAggr, shared with the O7 aggregated instant path
      def df: DataFrame = aggrSeriesInput(a)
      val gk = group.keyCols
      def perPoint = Window.partitionBy(gk :+ col("t"): _*)
      // the input with its group key and its series order key
      def withKeys: DataFrame = group.keyed(df)
        .withColumn("_sk", SeriesId.orderKey(col("name"), col("tags")))
      a.name match {
        case "distinct" => grouped(size(collect_set(v)).cast(DoubleType))
        case "quantile" =>
          // out-of-range phi short-circuits like the reference
          // (aggr.go:922 quantileSorted: <0 → -Inf, >1 → +Inf, NaN → NaN)
          val phi = scalarArg(a.args.head)
          if (phi.isNaN) grouped(max(lit(Double.NaN)))
          else if (phi < 0) grouped(max(lit(Double.NegativeInfinity)))
          else if (phi > 1) grouped(max(lit(Double.PositiveInfinity)))
          else grouped(percentile(v, lit(phi)))
        case "group" => grouped(lit(1.0))
        case "any" =>
          // one series per group, kept with its ORIGINAL labels
          // (aggr.go aggrFuncAny returns tss[:1] unreduced)
          val keyed = withKeys
          val pick = keyed.select(gk :+ col("_sk"): _*).distinct()
            .groupBy(gk: _*).agg(min(col("_sk")).as("_sk"))
          Series(keyed.join(broadcast(pick), group.cols :+ "_sk", "left_semi")
            .select(col("name"), col("tags"), col("t"), col("value")))
        case "mode" =>
          // smallest most-frequent value (aggr.go:446)
          val counts = group.keyed(df)
            .groupBy(gk :+ col("t") :+ v: _*).agg(count(lit(1)).as("_c"))
          Series(counts
            .withColumn("_rn", row_number().over(perPoint.orderBy(col("_c").desc, v.asc)))
            .filter(col("_rn") === 1)
            .select(group.name.as("name"), group.tags.as("tags"), col("t"), col("value")))
        case "count_values" =>
          // count_values("label", q) by/without (aggr.go:566): the dst
          // label leaves the by-list / joins the without-list (Prometheus
          // rule), NaN points count nothing, and the label value renders
          // via Go strconv 'f' formatting (no exponent, shortest digits)
          val label = strArg(a.args.head)
          val g2 = group.dropping(label)
          val g = g2.keyed(df.filter(!isnan(v)))
            .groupBy(g2.keyCols :+ col("t") :+ v.as("_val"): _*)
            .agg(count(lit(1)).cast(DoubleType).as("value"))
          Series(g.select(
            g2.name.as("name"),
            map_concat(g2.tags, map(lit(label), goFmtUdf(col("_val")))).as("tags"),
            col("t"), col("value")))
        case "share" =>
          // negative points take no share and contribute nothing to the
          // denominator (aggr.go aggrFuncShare skips v < 0)
          val nonNeg = when(v >= 0, v)
          Series(group.keyed(df)
            .withColumn("value", nonNeg / sum(nonNeg).over(perPoint))
            .filter(col("value").isNotNull)
            .select(col("name"), col("tags"), col("t"), col("value")))
        case "zscore" =>
          val sd = stddev_pop(v).over(perPoint)
          Series(group.keyed(df).withColumn("value",
            when(sd > 0, (v - avg(v).over(perPoint)) / sd)).filter(col("value").isNotNull)
            .select(col("name"), col("tags"), col("t"), col("value")))
        case "topk" => ranked(scalarArg(a.args.head).toInt, v.desc)
        case "bottomk" => ranked(scalarArg(a.args.head).toInt, v.asc)
        case "limitk" =>
          val k = scalarArg(a.args.head).toInt
          if (k <= 0) return Series(df.filter(lit(false))) // limitk(-1) → empty
          val keyed = withKeys
          val keys0 = keyed.select(gk :+ col("_sk"): _*).distinct()
          // no by/without → ONE global group: distributed sort+limit
          // instead of a rank window over a constant partition key (which
          // funnels every distinct series through one task)
          val winners =
            if (a.modifier.isEmpty)
              keys0.orderBy(xxhash64(col("_sk")), col("_sk")).limit(k).select(col("_sk"))
            else keys0
              .withColumn("_rn", row_number().over(
                Window.partitionBy(gk: _*).orderBy(xxhash64(col("_sk")), col("_sk"))))
              .filter(col("_rn") <= k).select(col("_sk"))
          Series(keyed.join(broadcast(winners), Seq("_sk"), "left_semi")
            .select(col("name"), col("tags"), col("t"), col("value")))
        case "mad" =>
          // cross-series MAD per point (aggr.go:942)
          val med = percentile(v, lit(0.5)).over(perPoint)
          val g = group.keyed(df).withColumn("_dev", abs(v - med))
            .groupBy(gk :+ col("t"): _*)
            .agg(percentile(col("_dev"), lit(0.5)).as("value"))
          Series(g.select(group.name.as("name"), group.tags.as("tags"), col("t"), col("value")))
        case "quantiles" =>
          // quantiles("label", phi…, q) — one series per phi (aggr.go:1162)
          val label = strArg(a.args.head)
          val phis = a.args.drop(1).dropRight(1).map(scalarArg)
          val aggs = phis.zipWithIndex.map { case (p, i) => percentile(v, lit(p)).as(s"_q$i") }
          val stackArgs = phis.zipWithIndex.map { case (p, i) => s"'$p', _q$i" }.mkString(", ")
          val g = group.keyed(df)
            .groupBy(gk :+ col("t"): _*)
            .agg(aggs.head, aggs.tail: _*)
            .select(gk :+ col("t") :+
              expr(s"stack(${phis.size}, $stackArgs) as (_phi, value)"): _*)
          Series(g.select(group.name.as("name"),
            map_concat(group.tags, map(lit(label), col("_phi"))).as("tags"),
            col("t"), col("value")))
        case "histogram" =>
          // cross-series vmrange histogram per point, returned as
          // cumulative le buckets (aggr.go:256 aggrFuncHistogram ends in
          // vmrangeBucketsToLE; bounds are the %.3e decimal strings)
          import graft.operators.HistogramQ
          // metrics.Histogram.Update skips NaN and negatives; a 0 lands
          // in the lower bucket 0...1.000e-09
          val g = group.keyed(df)
            .filter(!isnan(v) && v >= 0.0)
            .withColumn("_hk", HistogramQ.bucketIdxClamped(v))
            .groupBy(gk :+ col("t") :+ col("_hk"): _*)
            .agg(count(lit(1)).cast(DoubleType).as("value"))
            .withColumn("vmrange", HistogramQ.vmrangeOfIdx(col("_hk")))
            .drop("_hk")
          val le = HistogramQ.vmrangeToLE(g, group.cols)
          Series(le.select(group.name.as("name"),
            map_concat(group.tags, map(lit("le"), col("le"))).as("tags"),
            col("t"), col("value")))
        case "outliers_iqr" | "outliers_mad" | "outliersk" =>
          // whole-series outlier filters (aggr.go:952,1004,1040)
          val keyed = withKeys
          val stats = keyed.groupBy(gk :+ col("_sk"): _*)
            .agg(percentile(v, lit(0.5)).as("_med"))
          val winners: DataFrame = a.name match {
            case "outliers_iqr" =>
              val fences = stats.groupBy(gk: _*).agg(
                percentile(col("_med"), lit(0.25)).as("_q25"),
                percentile(col("_med"), lit(0.75)).as("_q75"))
              stats.join(broadcast(fences), group.cols)
                .filter(col("_med") < col("_q25") - (col("_q75") - col("_q25")) * 1.5 ||
                  col("_med") > col("_q75") + (col("_q75") - col("_q25")) * 1.5)
                .select(col("_sk"))
            case "outliers_mad" =>
              val tol = scalarArg(a.args.head)
              val gmed = stats.groupBy(gk: _*)
                .agg(percentile(col("_med"), lit(0.5)).as("_gmed"))
              val dev = stats.join(broadcast(gmed), group.cols)
                .withColumn("_dev", abs(col("_med") - col("_gmed")))
              val mad = dev.groupBy(gk: _*)
                .agg(percentile(col("_dev"), lit(0.5)).as("_mad"))
              dev.join(broadcast(mad), group.cols)
                .filter(col("_dev") > lit(tol) * col("_mad"))
                .select(col("_sk"))
            case _ => // outliersk: top-k series by max |v − per-point group median|
              val k = scalarArg(a.args.head).toInt
              val gmed = keyed.groupBy(gk :+ col("t"): _*)
                .agg(percentile(v, lit(0.5)).as("_gmed"))
              keyed.join(gmed, group.cols :+ "t")
                .groupBy(gk :+ col("_sk"): _*)
                .agg(max(abs(v - col("_gmed"))).as("_dev"))
                .withColumn("_rn", row_number().over(
                  Window.partitionBy(gk: _*).orderBy(col("_dev").desc, col("_sk").asc)))
                .filter(col("_rn") <= k)
                .select(col("_sk"))
          }
          Series(keyed.join(broadcast(winners), Seq("_sk"), "left_semi")
            .select(col("name"), col("tags"), col("t"), col("value")))
        case n if n.startsWith("topk_") || n.startsWith("bottomk_") =>
          // whole-series top/bottom-k by a series statistic (aggr.go:677
          // newAggrFuncRangeTopK); a trailing string arg names a
          // remaining-sum series ("label" or "label=value") that carries
          // the per-point sum of the NON-kept series (aggr.go:738)
          val k = scalarArg(a.args.head).toInt
          val vOk = when(!isnan(v), v) // stats skip NaN points
          val stat: Column = n.split("_")(1) match {
            case "avg" => avg(vOk)
            case "min" => min(vOk)
            case "max" => max(vOk)
            case "median" => percentile(vOk, lit(0.5))
            case "last" => max(when(!isnan(v), struct(col("t"), v.as("v")))).getField("v")
            case other => throw new IllegalArgumentException(s"unknown stat '$other'")
          }
          val desc = n.startsWith("topk_")
          val keyed = withKeys
          val ranked0 = keyed.groupBy(gk :+ col("_sk"): _*).agg(stat.as("_s"))
            .withColumn("_rn", row_number().over(
              Window.partitionBy(gk: _*)
                .orderBy(if (desc) col("_s").desc_nulls_last else col("_s").asc_nulls_last,
                  col("_sk").asc)))
            .filter(col("_rn") <= k).select(col("_sk"))
          val kept = keyed.join(broadcast(ranked0), Seq("_sk"), "left_semi")
            .select(col("name"), col("tags"), col("t"), col("value"))
          a.args.lastOption.collect { case StringExpr(spec) => spec } match {
            case None => Series(kept)
            case Some(spec) =>
              val eq = spec.indexOf('=')
              val (tagN, tagV) =
                if (eq < 0) (spec, spec) else (spec.take(eq), spec.drop(eq + 1))
              val rem = keyed.join(broadcast(ranked0), Seq("_sk"), "left_anti")
                .groupBy(gk :+ col("t"): _*)
                .agg(sum(vOk).as("value"))
                .filter(col("value").isNotNull)
                .select(group.name.as("name"),
                  map_concat(
                    map_filter(group.tags, (key, _) => key =!= tagN),
                    map(lit(tagN), lit(tagV))).as("tags"),
                  col("t"), col("value"))
              Series(kept.unionByName(rem))
          }
        case other => throw new IllegalArgumentException(s"unsupported aggregate '$other'")
      }
    }

    // ------------------------------------------------------------------
    // binary operators
    // ------------------------------------------------------------------

    /** ops where the right side only matters at the left side's match
      * keys — eligible for O3 pushdown / O4 short-circuit. `or`, `default`
      * and `ifnot` need the full right side regardless of the left.
      */
    private def rightRestrictable(op: String): Boolean =
      op != "or" && op != "default" && op != "ifnot"

    /** O3: inject label filters into an expression's selector leaves,
      * refusing when a node could change the label's meaning — the same
      * safety rules as the reference's common-filter propagation
      * (metricsql optimizer.go:16-360 + runtime pushdown eval.go:670-744).
      */
    private def pushFilters(e: Expr, fs: Seq[LabelFilter]): Option[Expr] = e match {
      case m: MetricExpr => Some(MetricExpr(m.filterss.map(_ ++ fs)))
      case r: RollupExpr => pushFilters(r.expr, fs).map(x => r.copy(expr = x))
      case f: FuncExpr if isRollupFn(f.name) || mathFns.contains(f.name) ||
          Set("round", "clamp", "clamp_min", "clamp_max").contains(f.name) =>
        val pushed = f.args.map {
          case s: Expr if s.isInstanceOf[MetricExpr] || s.isInstanceOf[RollupExpr] ||
              s.isInstanceOf[FuncExpr] || s.isInstanceOf[AggrFuncExpr] ||
              s.isInstanceOf[BinaryOpExpr] => pushFilters(s, fs)
          case other => Some(other) // scalar/string args pass through
        }
        if (pushed.forall(_.isDefined)) Some(f.copy(args = pushed.map(_.get))) else None
      case a: AggrFuncExpr =>
        // safe only when the aggregation provably keeps the filter labels
        val keeps = a.modifier match {
          case Some(By(ls)) => fs.forall(f => ls.contains(f.label))
          case Some(Without(ls)) => fs.forall(f => !ls.contains(f.label))
          case None => false
        }
        if (!keeps) None
        else pushFilters(a.args.last, fs)
          .map(x => a.copy(args = a.args.init :+ x))
      case bin: BinaryOpExpr =>
        // Trim the pushed set by the inner binop's on()/ignoring() group
        // modifier BEFORE descending (metricsql optimizer.go:326-335 +
        // pushdown at optimizer.go:431-434): a label outside the inner
        // on() set (or inside its ignoring() set) need not survive from
        // the inner leaves to the inner output — e.g. in
        // `l * on(y) (a * on(x) group_left(y) b)` the output's y is NOT
        // the leaves' y, and pushing a y-filter into them silently empties
        // series that should match. Dropping a filter is always safe here:
        // pushed filters only pre-restrict, the outer join still enforces
        // the actual match.
        val trimmed = bin.groupModifier match {
          case Some(On(ls)) => fs.filter(f => ls.contains(f.label))
          case Some(Ignoring(ls)) => fs.filterNot(f => ls.contains(f.label))
          case None => fs
        }
        if (trimmed.isEmpty) Some(bin) // nothing pushable — unchanged is safe
        else (pushFilters(bin.left, trimmed), pushFilters(bin.right, trimmed)) match {
          case (Some(l), Some(r)) => Some(bin.copy(left = l, right = r))
          case _ => Some(bin) // best-effort: unpushed is safe, over-pushed is not
        }
      case n: NumberExpr => Some(n)
      case s: StringExpr => Some(s)
      case _ => None
    }

    /** evaluate the right side of a binop, optionally restricted by the
      * left side's observed on-label values (O3, eval.go:445-596) or
      * skipped entirely when the left is empty (O4, eval.go:526-531).
      */
    private def evalRightAdaptive(leftDf: DataFrame, b: BinaryOpExpr): (DataFrame, Value) = {
      val onLabels: Seq[String] = b.groupModifier match {
        case Some(On(ls)) => ls
        case _ => Nil
      }
      // a number literal can be neither restricted (O3) nor skipped for
      // less work (O4): materializing the left would only add two jobs
      if (cfg.pushdownCap <= 0 || !rightRestrictable(b.op) || b.right.isInstanceOf[NumberExpr])
        return (leftDf, eval(b.right))
      // Materialize the left ONCE via eager localCheckpoint instead of
      // persist(): the O4 empty-check, the O3 label-value collection and
      // the caller's final vector-match join all reuse the same blocks,
      // and those blocks are freed when the plan is GC'd — persist()
      // pinned an entry in the session cache manager for every eligible
      // binop, accumulating in a long-lived server session.
      enforceStorageLimits() // limits reject BEFORE the eager left materialization
      val left = leftDf.localCheckpoint(true)
      graft.core.CheckpointGc.note()
      if (left.isEmpty) // O4: nothing can match
        return (left, Series(left.filter(lit(false))))
      if (onLabels.isEmpty) return (left, eval(b.right))
      val valueSets = onLabels.map { l =>
        left.select(coalesce(col("tags").getItem(l), lit("")).as("v"))
          .distinct().limit(cfg.pushdownCap + 1)
          .collect().map(_.getString(0)).toSeq
      }
      if (valueSets.exists(_.size > cfg.pushdownCap)) return (left, eval(b.right))
      val fs = onLabels.zip(valueSets).map { case (l, vs) =>
        LabelFilter(l, vs.map(java.util.regex.Pattern.quote).mkString("|"),
          isNegative = false, isRegexp = true)
      }
      (left, pushFilters(b.right, fs) match {
        case Some(rewritten) => eval(rewritten)
        case None => eval(b.right)
      })
    }

    private def evalBinop(b: BinaryOpExpr): Value = {
      // equality against a union list: membership test per point
      // (binary_op.go:58-113 binaryOpEq/NeqFunc): when either side of
      // ==/!= is SYNTACTICALLY a parens list or union(...) call, the other
      // side's points are kept iff some union element has that exact value
      // at that timestamp. Elements are evaluated independently — they
      // usually share the empty series key, so the normal union dedup
      // ("first wins") must not apply.
      def unionElems(e: Expr): Option[Seq[Expr]] = e match {
        case ParensExpr(es) if es.nonEmpty => Some(es)
        case FuncExpr(n, as, _) if as.nonEmpty &&
          (n.isEmpty || n.equalsIgnoreCase("union")) => Some(as)
        case _ => None
      }
      if (b.op == "==" || b.op == "!=") {
        val (seriesE, elems) = (unionElems(b.left), unionElems(b.right)) match {
          case (None, Some(es)) => (b.left, es)
          case (Some(es), None) => (b.right, es)
          case _ => (null, Nil)
        }
        if (elems.nonEmpty) {
          val sdf = series(seriesE).as("_ul")
          val uvals = elems.map(e => series(e).select(col("t").as("_ut"), col("value").as("_uv")))
            .reduce(_ unionByName _)
            .filter(!isnan(col("_uv"))).distinct().as("_ur")
          val cond = col("_ul.t") === col("_ur._ut") && col("_ul.value") === col("_ur._uv")
          val out =
            if (b.op == "==") sdf.join(uvals, cond, "left_semi")
            else sdf.join(uvals, cond, "left_anti")
          return Series(out)
        }
      }
      // `default`'s left side keeps all-NaN comparison series alive so
      // they can be filled (binary_op.go:232) — evaluate it in
      // NaN-preserving mode
      val leftV0 =
        if (b.op == "default" && !cfg.preserveCmpNaN)
          new Ev(samples, cfg.copy(preserveCmpNaN = true), pendingLimits).eval(b.left)
        else eval(b.left)
      val (leftV1, rightV1) = leftV0 match {
        case Series(ld) =>
          val (newLeft, rv) = evalRightAdaptive(ld, b)
          (Series(newLeft), rv)
        case _ => (leftV0, eval(b.right))
      }
      // set ops between scalar-ish operands (`time()<=1200 or
      // time()>1600`, `time() and 2`) run the full vector-match path:
      // scalars materialize on the grid, scalar series keep their empty
      // series key, and or/and/unless merge per timestamp
      // (exec_test.go minute(series_with_NaNs), scalar-or-scalar).
      // A scalar LEFT of if/ifnot/default against a labeled vector right
      // also promotes: the reference key-matches it as an empty-label
      // series (binary_op.go:745 seriesByKey has a scalar fallback only
      // for the map side being probed, i.e. the right), so `time() if
      // (label_set(...))` matches only right series whose key is empty.
      // The scalar-on-the-RIGHT case keeps the t-join fast path below —
      // that IS the seriesByKey fallback.
      val promoteSetOps = Set("and", "or", "unless").contains(b.op)
      val promoteCondLeft = Set("if", "ifnot", "default").contains(b.op) &&
        rightV1.isInstanceOf[Series]
      def promote(v: Value, isLeft: Boolean): Value = v match {
        case ScalarSeries(d) if promoteSetOps || (promoteCondLeft && isLeft) => Series(d)
        case Scalar(x) if promoteSetOps || (promoteCondLeft && isLeft) =>
          Series(toSeries(samples, Scalar(x), cfg))
        case other => other
      }
      // `default` fills a series' MISSING grid points from the right side,
      // so the left frame must first densify to the full grid with
      // null-value rows (binary_op.go:568 default; exec_test.go
      // scalar-default-scalar)
      def densify(d: DataFrame): DataFrame = {
        val withSk = d.withColumn("_sk", SeriesId.key(col("name"), col("tags")))
        val dim = // HashAggregate dedup (map payload would force SortAggregate)
          graft.core.Exemplar.distinctWith(withSk, Seq("_sk"), Seq("name", "tags"))
        val dense = dim.crossJoin(Grid.gridDf(samples, cfg.grid))
        dense.join(withSk.select(col("_sk"), col("t"), col("value")), Seq("_sk", "t"), "left")
          .select(col("name"), col("tags"), col("t"),
            // missing points surface as NaN — the engine's "absent" value
            // every downstream isnan() test understands
            coalesce(col("value"), lit(Double.NaN)).as("value"))
      }
      val (leftV2, rightV2) = (promote(leftV1, isLeft = true), promote(rightV1, isLeft = false))
      val leftV = if (b.op == "default") leftV2 match {
        case Series(d) => Series(densify(d))
        case ScalarSeries(d) => ScalarSeries(densify(d))
        case o => o
      } else leftV2
      val rightV = rightV2
      val res = (leftV, rightV) match {
        case (Scalar(l), Scalar(r)) =>
          val v = BinaryOp.applyScalar(b.op, l, r)
          Scalar(
            if (BinaryOp.comparisons(b.op) && !b.boolModifier)
              (if (v != 0) l else Double.NaN)
            else v)
        case (Series(df), Scalar(x)) => Scalar2Series(df, lit(x), b, scalarOnRight = true)
        case (Scalar(x), Series(df)) => Scalar2Series(df, lit(x), b, scalarOnRight = false)
        case (Series(df), ScalarSeries(sd)) => scalarSeriesOp(df, sd, b, scalarOnRight = true)
        case (ScalarSeries(sd), Series(df)) => scalarSeriesOp(df, sd, b, scalarOnRight = false)
        case (ScalarSeries(a), ScalarSeries(c)) =>
          // per-timestamp scalar arithmetic (both sides label-free)
          scalarSeriesOp(a, c, b, scalarOnRight = true) match {
            case Series(df) => ScalarSeries(df)
            case other => other
          }
        case (ScalarSeries(sd), Scalar(x)) =>
          Scalar2Series(sd, lit(x), b, scalarOnRight = true) match {
            case Series(df) => ScalarSeries(df)
            case other => other
          }
        case (Scalar(x), ScalarSeries(sd)) =>
          Scalar2Series(sd, lit(x), b, scalarOnRight = false) match {
            case Series(df) => ScalarSeries(df)
            case other => other
          }
        case (Series(l), Series(r)) => vectorMatch(l, r, b)
        // a non-foldable string in number position: Go strconv semantics
        // make it NaN, so the whole expression collapses to a NaN scalar
        // (exec_test.go `1+"foobar"*2%9` → empty result)
        case (StrVal(_), _) | (_, StrVal(_)) => Scalar(Double.NaN)
        case (l, r) =>
          throw new IllegalArgumentException(s"unsupported binop operands: $l ${b.op} $r")
      }
      // `default` densified the left side over the full grid; points where
      // NEITHER side had a value stay NaN and must revert to absent rows —
      // the reference never materializes them, and nested consumers
      // (sum(a default b), count_over_time over a subquery) would otherwise
      // see NaN-poisoned input (binary_op.go:568 fills only existing gaps)
      if (b.op == "default") res match {
        case Series(d) => Series(d.filter(!isnan(col("value"))))
        case ScalarSeries(d) => ScalarSeries(d.filter(!isnan(col("value"))))
        case o => o
      } else res
    }

    /** per-timestamp scalar side: join on t only, any series matches
      * (scalar()/time() semantics, binary_op.go scalar-vector fast path).
      */
    private def scalarSeriesOp(df: DataFrame, sd: DataFrame, b: BinaryOpExpr,
        scalarOnRight: Boolean): Value = {
      val s = sd.select(col("t"), col("value").as("_sv"))
      // default/ifnot must see points the scalar side LACKS (fill from
      // left / keep-when-absent); every other op drops unmatched points
      val joinType = if (b.op == "default" || b.op == "ifnot") "left" else "inner"
      val joined = df.join(s, Seq("t"), joinType)
      Scalar2Series(joined, col("_sv"), b, scalarOnRight) match {
        case Series(out) =>
          Series(out.select(col("name"), col("tags"), col("t"), col("value")))
        case other => other
      }
    }

    /** scalar-vector fast path (binary_op.go:273-297) */
    private def Scalar2Series(df: DataFrame, x: Column, b: BinaryOpExpr,
        scalarOnRight: Boolean): Value = {
      val v = col("value")
      val (l, r) = if (scalarOnRight) (v, x) else (x, v)
      val out =
        if (BinaryOp.comparisons(b.op)) {
          val cond = cmpColumn(b.op, l, r)
          if (b.boolModifier)
            df.withColumn("value", cond.cast(DoubleType))
              .withColumn("name", lit(null).cast(StringType))
          else if (cfg.preserveCmpNaN)
            df.withColumn("value",
              when(cond, col("value")).otherwise(lit(Double.NaN)))
          else df.filter(cond) // keep original values, name survives
        } else
          df.withColumn("value", arithColumn(b.op, l, r))
            .withColumn("name",
              if (b.keepMetricNames) col("name") else lit(null).cast(StringType))
      Series(out)
    }

    private def arithColumn(op: String, l: Column, r: Column): Column = op match {
      case "+" => l + r
      case "-" => l - r
      case "*" => l * r
      case "/" =>
        // IEEE semantics like the reference's float division (±Inf, 0/0 =
        // NaN) — Spark's ANSI mode (default in 4.x) would raise instead
        when(r === 0.0,
          when(l > 0, lit(Double.PositiveInfinity))
            .when(l < 0, lit(Double.NegativeInfinity))
            .otherwise(lit(Double.NaN)))
          .otherwise(l / r)
      case "%" => when(r === 0.0, lit(Double.NaN)).otherwise(l % r)
      case "^" => pow(l, r)
      case "atan2" => atan2(l, r)
      // scalar-side set ops (binary_op.go:568): `default` fills missing/NaN
      // points, `if`/`ifnot` gate on the condition side's presence. The
      // no-value outcome is NaN (engine absent), never SQL NULL — a NULL
      // value column breaks downstream non-null row encoders.
      case "default" =>
        when(l.isNotNull && !isnan(l), l)
          .when(r.isNotNull && !isnan(r), r)
          .otherwise(lit(Double.NaN))
      case "if" => when(r.isNotNull && !isnan(r), l).otherwise(lit(Double.NaN))
      case "ifnot" => when(r.isNull || isnan(r), l).otherwise(lit(Double.NaN))
      case other => throw new IllegalArgumentException(s"not arithmetic: '$other'")
    }

    /** comparison with Go float semantics, NOT Spark SQL ordering: Spark
      * treats NaN == NaN as true and NaN as the largest double, while Go
      * (and the reference) make every ordered comparison with NaN false
      * and NaN != x true (metricsql binaryop funcs; binary_op.go:169
      * keeps `value != NaN` true per reference issue #150). NULL inputs
      * (from outer joins on fill paths) behave like NaN.
      */
    private def cmpColumn(op: String, l: Column, r: Column): Column = {
      val lBad = l.isNull || isnan(l)
      val rBad = r.isNull || isnan(r)
      op match {
        case "==" => !lBad && !rBad && (l === r)
        case "!=" => lBad || rBad || (l =!= r)
        case ">" => !lBad && !rBad && (l > r)
        case "<" => !lBad && !rBad && (l < r)
        case ">=" => !lBad && !rBad && (l >= r)
        case "<=" => !lBad && !rBad && (l <= r)
        case other => throw new IllegalArgumentException(s"not a comparison: '$other'")
      }
    }

    /** vector matching (binary_op.go:271-519): join key = full tag set, or
      * on()/ignoring() subset; group_left/right = many-to-one.
      */
    private def vectorMatch(l0: DataFrame, r0: DataFrame, b: BinaryOpExpr): Value = {
      val matchTags: Column => Column = b.groupModifier match {
        case Some(On(Nil)) => _ => map().cast("map<string,string>") // on(): one global group
        case Some(On(ls)) => t => map_filter(t, (k, _) => k.isInCollection(ls))
        case Some(Ignoring(Nil)) => identity
        case Some(Ignoring(ls)) => t => map_filter(t, (k, _) => !k.isInCollection(ls))
        case None => identity
      }
      val l = l0.withColumn("_mk", SeriesId.entries(matchTags(col("tags"))))
      val r = r0.withColumn("_mk", SeriesId.entries(matchTags(col("tags"))))

      def lOnly = Seq(col("name"), col("tags"), col("t"), col("value"))
      // NaN-valued rows are "absent" for set-op presence tests — a NaN
      // produced upstream (promoted NaN scalar, arithmetic on NaN) must
      // not create or consume matches (binary_op.go removeEmptySeries +
      // per-point IsNaN checks)
      def noNaN(d: DataFrame) = d.filter(!isnan(col("value")))

      b.op match {
        case "and" | "if" =>
          // left points whose (mk, t) exists on the right (binary_op.go:535)
          Series(noNaN(l).join(noNaN(r).select("_mk", "t").distinct(), Seq("_mk", "t"), "left_semi")
            .select(lOnly: _*))
        case "unless" | "ifnot" =>
          Series(noNaN(l).join(noNaN(r).select("_mk", "t").distinct(), Seq("_mk", "t"), "left_anti")
            .select(lOnly: _*))
        case "or" =>
          // union preferring left per (mk, t) (binary_op.go:588
          // binaryOpOr + fillLeftNaNsWithRightValuesOrMerge): every right
          // point in a group where some left series has a value at that
          // timestamp is consumed; a consumed point whose labels exactly
          // match a left series appears as that left series, which is
          // row-identical to just keeping the right row
          val lc = noNaN(l)
          val rc = noNaN(r)
          val rOnly = rc.join(lc.select("_mk", "t").distinct(), Seq("_mk", "t"), "left_anti")
          Series(lc.select(lOnly: _*).unionByName(rOnly.select(lOnly: _*)))
        case "default" =>
          // the LEFT series, with NaN/absent points filled from the right
          // per (mk, t) — the left side arrives densified over the grid
          // (evalBinop), so gaps surface as NaN rows here; output keeps the
          // left's identity incl. name (binary_op.go:568 binaryOpDefault)
          val rv = noNaN(r).groupBy(col("_mk"), col("t")).agg(first(col("value")).as("_rv"))
          val filled = l.join(rv, Seq("_mk", "t"), "left")
            .withColumn("value",
              when(isnan(col("value")) && col("_rv").isNotNull, col("_rv"))
                .otherwise(col("value")))
          Series(filled.select(lOnly: _*))
        case op =>
          // arithmetic / comparison: equi-join on (mk, t)
          val (many0, one0, leftIsMany) = b.joinModifier match {
            case Some(GroupRight(_, _)) => (r, l, false)
            case _ => (l, r, true)
          }
          // fill()/fill_left()/fill_right(): the fill value substitutes a
          // side that is NaN/absent at a point — unless BOTH sides are
          // (binary_op.go:192-231); a match key entirely missing on a
          // filled side gets a synthetic key-labeled series
          // (binary_op.go:308-330 newFillTimeseries)
          val fillMany = if (leftIsMany) b.fillLeft else b.fillRight
          val fillOne = if (leftIsMany) b.fillRight else b.fillLeft
          val many1 = {
            val m = many0
            if (fillMany.isEmpty) m
            else {
              // grid-densify real many series (their NaN points can now
              // produce values), then add synthetic key-only series for
              // match keys present only on the one side
              val withSk = m.withColumn("_sk2", SeriesId.key(col("name"), col("tags")))
              val dim = graft.core.Exemplar.distinctWith( // HashAggregate dedup
                withSk, Seq("_sk2"), Seq("_mk", "name", "tags"))
              val dense = dim.crossJoin(Grid.gridDf(samples, cfg.grid))
                .join(withSk.select(col("_sk2"), col("t"), col("value")),
                  Seq("_sk2", "t"), "left")
                .select(col("_mk"), col("name"), col("tags"), col("t"),
                  coalesce(col("value"), lit(Double.NaN)).as("value"))
              val missingKeys = one0.select(col("_mk")).distinct()
                .join(m.select(col("_mk")).distinct(), Seq("_mk"), "left_anti")
              val synth = missingKeys
                .crossJoin(Grid.gridDf(samples, cfg.grid))
                .select(col("_mk"), lit(null).cast(StringType).as("name"),
                  map_from_entries(col("_mk")).as("tags"), col("t"),
                  lit(Double.NaN).as("value"))
              dense.unionByName(synth)
            }
          }
          val (many, one) = (many1, one0)
          val extraRaw = b.joinModifier.map(_.labels).getOrElse(Nil)
          val star = extraRaw == Seq("*")
          val extra = if (star) Nil else extraRaw
          val prefix = b.joinModifier.flatMap(_.prefix).getOrElse("")
          // on-labels are skipped when copying ALL labels via (*)
          // (metric_name.go:313 SetTags → setAllTags skipTags)
          val skipTags: Seq[String] = b.groupModifier match {
            case Some(On(ls)) => ls
            case _ => Nil
          }
          val copiedTags: Column =
            if (star)
              transform_keys(
                map_filter(col("tags"), (k, _) => !k.isInCollection("" +: skipTags)),
                (k, _) => concat(lit(prefix), k))
            else map_filter(col("tags"), (k, _) => k.isInCollection("" +: extra))
          // 1:1 cardinality guard (binary_op.go:395 ensureSingleTimeseries):
          // the "one" side must hold a single sample per (match key, t) —
          // the reference first merges series that never overlap in time,
          // which a per-(mk, t) count reproduces exactly. A second series
          // at the same point raises instead of silently multiplying rows.
          val sideName = if (leftIsMany) "right" else "left"
          val oneSide = one
            .groupBy(col("_mk"), col("t"))
            .agg(
              first(col("value")).as("_ov0"),
              first(copiedTags).as("_otags"),
              count(lit(1)).as("_on"))
            .withColumn("_ov",
              when(col("_on") > 1, raise_error(concat(
                lit(s"duplicate time series on the $sideName side of `${b.op}`: "),
                lit("multiple series share match key "), to_json(col("_mk")),
                lit(" at the same timestamp"))))
                .otherwise(col("_ov0")))
            .drop("_ov0", "_on")
          val joined0 = many
            .withColumnRenamed("value", "_mv")
            .join(oneSide, Seq("_mk", "t"), if (fillOne.isDefined) "left" else "inner")
          // apply fills: when exactly one side is NaN/absent and that side
          // has a fill value, substitute it (both-NaN stays NaN)
          val joined =
            if (fillMany.isEmpty && fillOne.isEmpty) joined0
            else {
              val mNaN = col("_mv").isNull || isnan(col("_mv"))
              val oNaN = col("_ov").isNull || isnan(col("_ov"))
              joined0
                .withColumn("_mv2",
                  if (fillMany.isEmpty) col("_mv")
                  else when(mNaN && !oNaN, lit(fillMany.get)).otherwise(col("_mv")))
                .withColumn("_ov2",
                  if (fillOne.isEmpty) col("_ov")
                  else when(oNaN && !mNaN, lit(fillOne.get)).otherwise(col("_ov")))
                .drop("_mv", "_ov")
                .withColumnRenamed("_mv2", "_mv")
                .withColumnRenamed("_ov2", "_ov")
            }
          val (lv, rv) =
            if (leftIsMany) (col("_mv"), col("_ov")) else (col("_ov"), col("_mv"))
          // result tags: the many side's tags, plus group_left/right copied
          // labels. Without a join modifier, on() keeps only the on-labels
          // and ignoring() drops the ignored labels — both equal the match
          // key (binary_op.go:352-358 RemoveTagsOn/RemoveTagsIgnoring).
          // Copying follows the reference's SetTags: an existing tag with
          // the same (possibly prefixed) name is OVERWRITTEN, and a listed
          // extra label missing on the one side is REMOVED from the many
          // side (metric_name.go:313-344)
          val baseTags = (b.groupModifier, b.joinModifier) match {
            case (Some(_), None) => map_from_entries(col("_mk"))
            case _ => col("tags")
          }
          val otags = coalesce(col("_otags"), map().cast("map<string,string>"))
          val outTags =
            if (star)
              map_concat(map_filter(baseTags, (k, _) => !map_contains_key(otags, k)), otags)
            else if (extra.nonEmpty) {
              val prefixed =
                if (prefix.isEmpty) otags
                else transform_keys(otags, (k, _) => concat(lit(prefix), k))
              map_concat(
                map_filter(baseTags, (k, _) =>
                  !k.isInCollection(extra) && !map_contains_key(prefixed, k)),
                prefixed)
            } else baseTags
          val dropAbsent = !isnan(col("value")) // fill leaves both-NaN rows behind
          val out =
            if (BinaryOp.comparisons(op)) {
              val cond = cmpColumn(op, lv, rv)
              if (b.boolModifier)
                // bool cmp: NaN LEFT stays NaN (absent); a NaN right just
                // evaluates the comparison (binary_op.go:143-150)
                joined.withColumn("value",
                  when(lv.isNull || isnan(lv), lit(Double.NaN))
                    .otherwise(cond.cast(DoubleType)))
                  .withColumn("name", lit(null).cast(StringType))
              else if (cfg.preserveCmpNaN)
                joined.withColumn("value",
                  when(cond, if (leftIsMany) col("_mv") else col("_ov"))
                    .otherwise(lit(Double.NaN)))
              else
                joined.filter(cond)
                  .withColumn("value", if (leftIsMany) col("_mv") else col("_ov"))
            } else
              joined
                // NULL operands (outer-join misses on fill paths) make the
                // arithmetic NULL — normalize to NaN (engine absent)
                .withColumn("value", coalesce(arithColumn(op, lv, rv), lit(Double.NaN)))
                .withColumn("name",
                  if (b.keepMetricNames) col("name") else lit(null).cast(StringType))
          val outF =
            if (fillMany.isEmpty && fillOne.isEmpty) out
            else out.filter(dropAbsent)
          Series(outF.select(col("name"), outTags.as("tags"), col("t"), col("value")))
      }
    }

    // ------------------------------------------------------------------
    // transforms
    // ------------------------------------------------------------------

    private def evalUnion(es: Seq[Expr]): Value = {
      // union()/(): a NaN series (transform.go:1744 evalNumber(nan))
      if (es.isEmpty) return Scalar(Double.NaN)
      // all-scalar args: every scalar becomes its own series, NO dedup —
      // needed by `q == (v1,…,vN)` and `sum((1,2,3))` (transform.go:1748)
      val vals = es.map(eval)
      if (vals.forall(v => v.isInstanceOf[Scalar] || v.isInstanceOf[ScalarSeries]))
        return Series(vals.map(v => toSeries(samples, v, cfg)).reduce(_ unionByName _))
      // union(q1,…,qN): first series wins per series key (transform.go:1742)
      val dfs = vals.map(v =>
        toSeries(samples, v, cfg).withColumn("_sk", SeriesId.key(col("name"), col("tags"))))
      val tagged = dfs.zipWithIndex.map { case (df, i) => df.withColumn("_pri", lit(i)) }
      val all = tagged.reduce(_ unionByName _)
      val firstOwner = all.groupBy("_sk").agg(min("_pri").as("_pri"))
      Series(all.join(firstOwner, Seq("_sk", "_pri"), "left_semi")
        .select(col("name"), col("tags"), col("t"), col("value")))
    }

    private def evalTransform(f: FuncExpr): Value = {
      val name = f.name
      def df: DataFrame = series(f.args.head)
      def keepName(out: DataFrame): DataFrame =
        if (f.keepMetricNames || transformKeepsName(name)) out
        else out.withColumn("name", lit(null).cast(StringType))

      def runW = Window
        .partitionBy(SeriesId.key(col("name"), col("tags"))).orderBy(col("t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      def allW = Window
        .partitionBy(SeriesId.key(col("name"), col("tags")))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)

      name match {
        case n if mathFns.contains(n) =>
          Series(keepName(df.withColumn("value", mathFns(n)(col("value")))))
        case "round" | "clamp" | "clamp_min" | "clamp_max" =>
          // a fully-scalar invocation stays SCALAR, so WITH-template
          // chains like ttf's clamp_max(step()/300, 1) keep feeding
          // scalar-typed args downstream (reference evalNumber path)
          val headV = eval(f.args.head)
          val tailV = f.args.tail.map(eval)
          (headV, tailV) match {
            case (Scalar(x), ts) if ts.forall(_.isInstanceOf[Scalar]) =>
              val svs = ts.map { case Scalar(s) => s case _ => 0.0 }
              val r = name match {
                case "round" =>
                  val nearest = svs.headOption.getOrElse(1.0)
                  goRound(x, nearest)
                case "clamp" => math.min(math.max(x, svs(0)), svs(1))
                case "clamp_min" => math.max(x, svs(0))
                case _ => math.min(x, svs(0))
              }
              return Scalar(r)
            case _ =>
          }
          // limit args follow getScalar semantics: constant or per-point
          // label-free series (transform.go:270 transformClamp*)
          var base = toSeries(samples, headV, cfg)
          var scIdx = 0
          def scArg(i: Int): Column = tailV(i) match {
            case Scalar(x) => lit(x)
            case ScalarSeries(sd) =>
              scIdx += 1
              val (tc, vc) = (s"_sct$scIdx", s"_scv$scIdx")
              val s = sd.select(col("t").as(tc), col("value").as(vc))
              base = base.join(s, base("t") === col(tc), "left").drop(tc)
              col(vc)
            case other =>
              throw new IllegalArgumentException(s"expected scalar arg, got $other")
          }
          val vc = name match {
            case "round" =>
              val nearest = if (f.args.size > 1) scArg(0) else lit(1.0)
              goRoundUdf(col("value"), nearest)
            case "clamp" =>
              val (lo, hi) = (scArg(0), scArg(1))
              least(greatest(col("value"), lo), hi)
            case "clamp_min" => greatest(col("value"), scArg(0))
            case _ => least(col("value"), scArg(0))
          }
          val outDf = keepName(base.withColumn("value", vc)
            .select(col("name"), col("tags"), col("t"), col("value")))
          headV match { // label-free input stays label-free (scalar-typed)
            case ScalarSeries(_) => ScalarSeries(outDf)
            case _ => Series(outDf)
          }
        // running_*/range_*: the reference operates on grid-dense value
        // arrays (transform.go:1325/1353) — NaN points are skipped by the
        // aggregation but every grid point from the first sample onward
        // (running_*) or the WHOLE grid (range_*, via setLastValues)
        // carries the result. Densify, aggregate over non-NaN, emit dense.
        // All of them keep the metric name (transformKeepsName).
        case "running_sum" | "running_min" | "running_max" =>
          val (kdf, keys) = seriesKeyed(f.args.head)
          val d = denseGrid(kdf, keys)
          val vOk = when(!isnan(col("value")), col("value"))
          val w = Window.partitionBy(keys.map(col): _*).orderBy(col("t"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
          val agg = name match {
            case "running_sum" => sum(vOk).over(w)
            case "running_min" => min(vOk).over(w)
            case _ => max(vOk).over(w)
          }
          Series(keepName(d
            .withColumn("value", coalesce(agg, lit(Double.NaN)))
            .select(col("name"), col("tags"), col("t"), col("value"))))
        case "running_avg" =>
          // NOT a plain running mean: the reference's divisor is the dense
          // position, so interior NaN gaps dilute later averages
          // (transform.go:1210). Exact sequential pass per series.
          val (kdf, keys) = seriesKeyed(f.args.head)
          val d = denseGrid(kdf, keys)
          val seq = d.groupBy(keys.map(col): _*)
            .agg(first("name").as("name"), first("tags").as("tags"),
              sort_array(collect_list(struct(col("t"), col("value").as("v")))).as("_pts"))
          Series(keepName(seq
            .withColumn("_run", explode(runningAvgUdf(col("_pts.v"))))
            .select(col("name"), col("tags"),
              element_at(col("_pts.t"), col("_run._1") + 1).as("t"),
              col("_run._2").as("value"))))
        case "range_avg" =>
          // setLastValues over the positional running average: EVERY grid
          // point (leading gaps included) gets the final recurrence value
          // (transform.go:1352 newTransformFuncRange + :1667 setLastValues)
          val (kdf, keys) = seriesKeyed(f.args.head)
          val d = denseGrid(kdf, keys)
          val fin = d.groupBy(keys.map(col): _*)
            .agg(sort_array(collect_list(struct(col("t"), col("value").as("v")))).as("_pts"))
            .select((keys.map(col) :+ runningAvgFinalUdf(col("_pts.v")).as("_fin")): _*)
          Series(keepName(d.join(fin, keys)
            .select(col("name"), col("tags"), col("t"), col("_fin").as("value"))))
        case "range_sum" | "range_min" | "range_max" |
            "range_median" | "range_stddev" | "range_stdvar" | "range_first" |
            "range_last" | "range_quantile" =>
          val (kdf, keys) = seriesKeyed(
            if (name == "range_quantile") f.args(1) else f.args.head)
          val d = denseGrid(kdf, keys)
          val vOk = when(!isnan(col("value")), col("value"))
          val w = Window.partitionBy(keys.map(col): _*)
          val agg = name match {
            case "range_sum" => sum(vOk).over(w)
            case "range_min" => min(vOk).over(w)
            case "range_max" => max(vOk).over(w)
            case "range_median" => percentile(vOk, lit(0.5)).over(w)
            case "range_stddev" => stddev_pop(vOk).over(w)
            case "range_stdvar" => var_pop(vOk).over(w)
            case "range_quantile" => percentile(vOk, lit(scalarArg(f.args.head))).over(w)
            case "range_first" =>
              min(when(!isnan(col("value")), struct(col("t"), col("value").as("v")))).over(w)
                .getField("v")
            case _ =>
              max(when(!isnan(col("value")), struct(col("t"), col("value").as("v")))).over(w)
                .getField("v")
          }
          Series(keepName(d
            .withColumn("value", coalesce(agg, lit(Double.NaN)))
            .select(col("name"), col("tags"), col("t"), col("value"))))
        case "range_linear_regression" =>
          // per-series trend line over non-NaN samples, EVALUATED AT EVERY
          // grid point (transform.go:1530 + setLastValues-like dense
          // output); x centered on the series' first sample
          val (kdf, keys) = seriesKeyed(f.args.head)
          val d = denseGrid(kdf, keys)
          val vOk = when(!isnan(col("value")), col("value"))
          val w = Window.partitionBy(keys.map(col): _*)
          val t0 = min(when(!isnan(col("value")), col("t"))).over(w)
          val withX = d
            .withColumn("_x", (col("t") - t0).cast(DoubleType) / 1000.0)
            .withColumn("_xv", when(!isnan(col("value")), col("_x")))
          Series(keepName(withX
            .withColumn("value", coalesce(
              regr_intercept(vOk, col("_xv")).over(w) +
                regr_slope(vOk, col("_xv")).over(w) * col("_x"),
              lit(Double.NaN)))
            .select(col("name"), col("tags"), col("t"), col("value"))))
        case "range_normalize" =>
          // multi-arg: each arg's series normalized independently
          // (transform.go:1364); output stays at the input's points
          val dfAll = f.args.map(series(_)).reduce(_ unionByName _)
            .filter(!isnan(col("value")))
          val w = Window.partitionBy(SeriesId.key(col("name"), col("tags")))
          val mn = min("value").over(w)
          val mx = max("value").over(w)
          // the reference keeps each series untouched apart from the values
          // (transform.go:1364 returns ts as-is), so the name survives
          Series(dfAll
            .withColumn("value", when(mx > mn, (col("value") - mn) / (mx - mn)))
            .filter(col("value").isNotNull))
        case "range_zscore" =>
          val w = allW
          val sd = stddev_pop(col("value")).over(w)
          Series(df.withColumn("value",
            when(sd > 0, (col("value") - avg(col("value")).over(w)) / sd))
            .filter(col("value").isNotNull))
        case "label_transform" =>
          // label_transform(q, "label", "regex", "replacement") — unanchored
          // substring replace, always applied (transform.go:1960)
          val label = strArg(f.args(1))
          val regex = strArg(f.args(2))
          val repl = strArg(f.args(3))
          val sv = coalesce(
            if (label == "__name__") col("name") else col("tags").getItem(label), lit(""))
          val newV = regexp_replace(sv, regex, repl)
          if (label == "__name__") Series(df.withColumn("name", newV))
          else Series(df.withColumn("tags", map_concat(
            map_filter(col("tags"), (k, _) => !(k === label)), map(lit(label), newV))))
        case "now" =>
          Scalar(System.currentTimeMillis() / 1000.0)
        case "rand" | "rand_normal" | "rand_exponential" =>
          // deterministic-given-seed per grid point, like the reference
          // (transform.go:90-92 with seeded rngs)
          val seed = if (f.args.nonEmpty) scalarArg(f.args.head).toLong else 0L
          val u = (pmod(xxhash64(col("t"), lit(seed)), lit(1000000007L)).cast(DoubleType) +
            lit(0.5)) / 1000000007.0
          val u2 = (pmod(xxhash64(col("t"), lit(seed + 1)), lit(1000000007L)).cast(DoubleType) +
            lit(0.5)) / 1000000007.0
          val value = name match {
            case "rand" => u
            case "rand_normal" => // Box–Muller from two uniforms
              sqrt(lit(-2.0) * log(u)) * cos(lit(2.0 * math.Pi) * u2)
            case _ => -log(u) // exponential(1)
          }
          // label-free single series, usable where a per-point scalar is
          // expected (clamp_min(0, rand_normal()) — transformRand emits one
          // tagless series and getScalar accepts it, transform.go:90,2392)
          ScalarSeries(Grid.gridDf(samples, cfg.grid).select(
            lit(null).cast(StringType).as("name"),
            map().cast("map<string,string>").as("tags"),
            col("t"), value.as("value")))
        case "scalar" =>
          // single-series → per-point SCALAR with no labels; matches any
          // series per timestamp in binary ops (transform.go:2392). A
          // string argument parses as a number, NaN when unparseable
          // (exec_test.go scalar-string-num).
          eval(f.args.head) match {
            case StrVal(s) =>
              Scalar(try s.trim.toDouble catch { case _: NumberFormatException => Double.NaN })
            case Scalar(v) => Scalar(v)
            case sv =>
              // more/less than exactly ONE series → NaN (transform.go:2392
              // transformScalar); the count is label-metadata scale
              val d = toSeries(samples, sv, cfg)
              val nSeries = d.select(SeriesId.key(col("name"), col("tags"))).distinct().count()
              if (nSeries != 1) Scalar(Double.NaN)
              else ScalarSeries(d.select(lit(null).cast(StringType).as("name"),
                map().cast("map<string,string>").as("tags"), col("t"), col("value")))
          }
        case "vector" => eval(f.args.head) match {
          case s @ Series(_) => s
          case ScalarSeries(d) => Series(d)
          case Scalar(x) => Series(toSeries(samples, Scalar(x), cfg))
          case other => throw new IllegalArgumentException(s"vector() of $other")
        }
        case "time" =>
          ScalarSeries(Grid.gridDf(samples, cfg.grid).select(
            lit(null).cast(StringType).as("name"),
            map().cast("map<string,string>").as("tags"),
            col("t"), (col("t").cast(DoubleType) / 1000.0).as("value")))
        case "start" => Scalar(cfg.grid.startMs / 1000.0)
        case "end" => Scalar(cfg.grid.endMs / 1000.0)
        case "step" => Scalar(cfg.grid.stepMs / 1000.0)
        case "pi" => Scalar(math.Pi)
        case "absent" =>
          // NaN values are absent samples (absent(NaN) == 1)
          val present = df.filter(!isnan(col("value"))).select("t").distinct()
          Series(Grid.gridDf(samples, cfg.grid).join(present, Seq("t"), "left_anti")
            .select(lit(null).cast(StringType).as("name"),
              map().cast("map<string,string>").as("tags"), col("t"), lit(1.0).as("value")))
        case "union" => evalUnion(f.args)
        case "drop_empty_series" =>
          // drop series whose values are all NaN (transform.go:1930
          // dropEmptySeries). Under the NaN==absent row model this is
          // usually a no-op, but comparisons evaluated with preserveCmpNaN
          // (left side of `default`) carry all-NaN series that must die
          // here. left_semi on keys with ≥1 real sample.
          val live = df.filter(!isnan(col("value")))
            .select(SeriesId.key(col("name"), col("tags")).as("_live_k")).distinct()
          Series(df.join(live,
            SeriesId.key(col("name"), col("tags")) === col("_live_k"), "left_semi"))
        case "alias" =>
          // alias(q, "name") sets the metric name (transform.go:2004)
          Series(df.withColumn("name", lit(strArg(f.args(1)))))
        case "label_set" =>
          // label_set(q, "l1", "v1", …); "__name__" sets the metric name
          // (transform.go:1806 — MetricGroup is just another label there)
          val pairs = f.args.tail.map(strArg).grouped(2).map(p => (p(0), p(1))).toSeq
          val (namePairs, tagPairs) = pairs.partition(_._1 == "__name__")
          val withTags =
            if (tagPairs.isEmpty) df
            else df.withColumn("tags", map_concat(
              map_filter(col("tags"), (k, _) => !k.isInCollection(tagPairs.map(_._1))),
              map(tagPairs.flatMap(p => Seq(lit(p._1), lit(p._2))): _*)))
          Series(namePairs.lastOption match {
            case Some((_, n)) => withTags.withColumn("name", lit(n))
            case None => withTags
          })
        case "label_del" =>
          val ls = f.args.tail.map(strArg)
          val out = df.withColumn("tags",
            map_filter(col("tags"), (k, _) => !k.isInCollection(ls)))
          Series(if (ls.contains("__name__"))
            out.withColumn("name", lit(null).cast(StringType)) else out)
        case "label_keep" =>
          val ls = f.args.tail.map(strArg)
          val out = df.withColumn("tags",
            map_filter(col("tags"), (k, _) => k.isInCollection(ls)))
          Series(if (ls.contains("__name__")) out
            else out.withColumn("name", lit(null).cast(StringType)))
        case "label_copy" | "label_move" =>
          // label_copy(q, "src", "dst", …) (transform.go:1853; move deletes
          // src); "__name__" on either side reads/writes the metric name
          val pairs = f.args.tail.map(strArg).grouped(2).map(p => (p(0), p(1))).toSeq
          var out = df
          pairs.foreach { case (src, dst) =>
            val sv = if (src == "__name__") col("name") else col("tags").getItem(src)
            if (dst == "__name__") {
              out = out.withColumn("name", coalesce(sv, col("name")))
              if (name == "label_move" && src != "__name__")
                out = out.withColumn("tags",
                  map_filter(col("tags"), (k, _) => !(k === src)))
            } else {
              out = out.withColumn("tags",
                when(sv.isNotNull, map_concat(
                  map_filter(col("tags"), (k, _) =>
                    !(k === dst) && (if (name == "label_move") !(k === src) else lit(true))),
                  map(lit(dst), sv))).otherwise(col("tags")))
              if (name == "label_move" && src == "__name__")
                out = out.withColumn("name", lit(null).cast(StringType))
            }
          }
          Series(out)
        case "label_join" =>
          // label_join(q, "dst", "sep", "src1", …) (transform.go:1896);
          // "__name__" reads/writes the metric name, missing labels join
          // as empty strings
          val dst = strArg(f.args(1))
          val sep = strArg(f.args(2))
          val srcs = f.args.drop(3).map(strArg)
          def srcCol(s: String): Column =
            if (s == "__name__") coalesce(col("name"), lit(""))
            else coalesce(col("tags").getItem(s), lit(""))
          val joined = concat_ws(sep, srcs.map(srcCol): _*)
          if (dst == "__name__") Series(df.withColumn("name", joined))
          else Series(df.withColumn("tags", map_concat(
            map_filter(col("tags"), (k, _) => !(k === dst)), map(lit(dst), joined))))
        case "label_replace" =>
          // label_replace(q, "dst", "repl", "src", "regex") (transform.go:1919)
          val dst = strArg(f.args(1))
          val src = strArg(f.args(3))
          val regex = strArg(f.args(4))
          // Go regexp semantics for the replacement: ${1}/$1 refer to
          // capture groups, and a reference to a NONEXISTENT group expands
          // to "" — Java throws instead, so normalize ${N}→$N and blank
          // out refs beyond the pattern's group count
          val nGroups =
            try java.util.regex.Pattern.compile(anchored(regex)).matcher("").groupCount()
            catch { case _: Exception => 0 }
          val repl = {
            val norm = strArg(f.args(2)).replaceAll("\\$\\{(\\d+)\\}", "\\$$1")
            val p = java.util.regex.Pattern.compile("\\$(\\d+)")
            val m = p.matcher(norm)
            val sb = new StringBuilder
            var last = 0
            while (m.find()) {
              sb.append(norm.substring(last, m.start()))
              val g = m.group(1).toInt
              if (g <= nGroups) sb.append("$").append(g)
              last = m.end()
            }
            sb.append(norm.substring(last))
            sb.toString
          }
          val sv = coalesce(
            if (src == "__name__") col("name") else col("tags").getItem(src), lit(""))
          val matches = sv.rlike(anchored(regex))
          val newV = regexp_replace(sv, anchored(regex), repl)
          if (dst == "__name__")
            Series(df.withColumn("name", when(matches, newV).otherwise(col("name"))))
          else
            Series(df.withColumn("tags",
              when(matches, map_concat(
                map_filter(col("tags"), (k, _) => !(k === dst)), map(lit(dst), newV)))
                .otherwise(col("tags"))))
        case "label_value" =>
          // numeric value of a label; unparseable values drop like NaN
          // (transform.go:2000) — try_cast, since ANSI cast would throw
          val label = strArg(f.args(1))
          Series(df
            .withColumn("value",
              expr(s"try_cast(tags['${label.replace("'", "\\'")}'] AS DOUBLE)"))
            .filter(col("value").isNotNull))
        case "label_lowercase" =>
          val ls = f.args.tail.map(strArg)
          Series(df.withColumn("tags", transform_values(col("tags"),
            (k, v) => when(k.isInCollection(ls), lower(v)).otherwise(v))))
        case "label_uppercase" =>
          val ls = f.args.tail.map(strArg)
          Series(df.withColumn("tags", transform_values(col("tags"),
            (k, v) => when(k.isInCollection(ls), upper(v)).otherwise(v))))
        case "label_match" =>
          val label = strArg(f.args(1))
          val re = strArg(f.args(2))
          Series(df.filter(labelCol(label).rlike(anchored(re))))
        case "label_mismatch" =>
          val label = strArg(f.args(1))
          val re = strArg(f.args(2))
          Series(df.filter(!labelCol(label).rlike(anchored(re))))
        case "labels_equal" =>
          // keep series where all given labels have identical values
          val ls = f.args.tail.map(strArg)
          val eq = ls.tail.map(l => coalesce(col("tags").getItem(l), lit("")) ===
            coalesce(col("tags").getItem(ls.head), lit(""))).reduceOption(_ && _).getOrElse(lit(true))
          Series(df.filter(eq))
        case "label_map" =>
          // label_map(q, "label", v1, r1, …) — value lookup (transform.go:1978)
          val key = strArg(f.args(1))
          val mapping = f.args.drop(2).map(strArg).grouped(2)
            .collect { case Seq(a, b) => a -> b }.toMap
          val m = map(mapping.toSeq.flatMap(kv => Seq(lit(kv._1), lit(kv._2))): _*)
          Series(df.withColumn("tags", transform_values(col("tags"), (k, v) =>
            when(k === key, coalesce(element_at(m, v), v)).otherwise(v))))
        case "sort" | "sort_desc" =>
          // ordering of the final series set (exec.go:104-130): impose a
          // deterministic row order; series-level sort key = avg value
          val w = Window.partitionBy(SeriesId.key(col("name"), col("tags")))
          val s = df.withColumn("_avg", avg("value").over(w))
          val sorted = if (name == "sort") s.orderBy(col("_avg").asc, col("t").asc)
            else s.orderBy(col("_avg").desc, col("t").asc)
          Series(sorted.drop("_avg"))
        case "sort_by_label" | "sort_by_label_desc" =>
          val ls = f.args.tail.map(strArg)
          val keys = ls.map(labelCol)
          val ordered = if (name == "sort_by_label") keys.map(_.asc) else keys.map(_.desc)
          Series(df.orderBy(ordered :+ col("t").asc: _*))
        case "limit_offset" =>
          // limit_offset(limit, offset, q) (transform.go:2292): whole-series
          // slice in the INPUT's series order. All-NaN series are removed
          // before the offset applies (transform.go:2306), and when q is a
          // sort_by_label* call the slice follows that sort's order; other
          // inputs fall back to a stable series-key order.
          val limit = scalarArg(f.args.head).toInt
          val offset = scalarArg(f.args(1)).toInt
          val q = series(f.args(2))
            .filter(!isnan(col("value")))
            .withColumn("_sk", SeriesId.orderKey(col("name"), col("tags")))
          val sortSpec: Option[(Seq[String], Boolean, Boolean)] = f.args(2) match {
            case FuncExpr(sn, sargs, _) if Set("sort_by_label", "sort_by_label_desc",
                "sort_by_label_numeric", "sort_by_label_numeric_desc")(sn.toLowerCase) =>
              Some((sargs.tail.map(strArg), sn.endsWith("_desc"), sn.contains("numeric")))
            case _ => None
          }
          def orderCols(pref: Seq[Column]): Seq[Column] = sortSpec match {
            case Some((labels, desc, numeric)) =>
              val ks = labels.map { l =>
                val raw = coalesce(col("tags").getItem(l), lit(""))
                if (numeric) numericKeyUdf(raw) else raw
              }
              ks.map(k => if (desc) k.desc else k.asc) :+ col("_sk").asc
            case None => Seq(col("_sk").asc)
          }
          // cap the distinct-series set to offset+limit rows FIRST via a
          // distributed sort+limit (TakeOrderedAndProject); only the
          // bounded result — query-parameter scale, not data scale —
          // passes through the no-partition rank window
          val dims = // HashAggregate dedup (first(map) would force SortAggregate)
            graft.core.Exemplar.distinctWith(q, Seq("_sk"), Seq("tags"))
          val wins = dims
            .orderBy(orderCols(Nil): _*).limit(math.max(offset + limit, 0))
            .withColumn("_rn", row_number().over(Window.orderBy(orderCols(Nil): _*)))
            .filter(col("_rn") > offset)
            .select("_sk")
          Series(q.join(broadcast(wins), Seq("_sk"), "left_semi")
            .select(col("name"), col("tags"), col("t"), col("value")))
        case "day_of_month" | "day_of_week" | "day_of_year" | "days_in_month" |
            "hour" | "minute" | "month" | "year" =>
          // of arg values as epoch seconds, or of the grid when no arg
          val base = if (f.args.isEmpty)
            Series(toSeries(samples, Scalar(0), cfg)).df
              .withColumn("value", col("t").cast(DoubleType) / 1000.0)
          else df
          val tsCol = timestamp_seconds(col("value"))
          val out = name match {
            case "day_of_month" => dayofmonth(tsCol)
            case "day_of_week" => dayofweek(tsCol) - 1 // reference: 0=Sunday
            case "day_of_year" => dayofyear(tsCol)
            case "days_in_month" => dayofmonth(last_day(tsCol))
            case "hour" => hour(tsCol)
            case "minute" => minute(tsCol)
            case "month" => month(tsCol)
            case "year" => year(tsCol)
          }
          Series(base.withColumn("value", out.cast(DoubleType))
            .withColumn("name", lit(null).cast(StringType)))
        case "remove_resets" =>
          // counter-reset removal with the partial-reset 8× heuristic
          // (rollup.go:921 removeCounterResets): a small dip is a partial
          // reset (no increase), a big one restarts at the new value
          val w = Window.partitionBy(SeriesId.key(col("name"), col("tags"))).orderBy(col("t"))
          val prev = lag(col("value"), 1).over(w)
          val d = when(prev.isNull, col("value"))
            .when(col("value") >= prev, col("value") - prev)
            .when((prev - col("value")) * 8 < prev, lit(0.0))
            .otherwise(col("value"))
          Series(df.withColumn("_d", d).withColumn("value", sum("_d").over(runW)).drop("_d"))
        case "keep_last_value" =>
          // fill grid gaps with the last seen value (transform.go:1231)
          val (kdf, keys) = seriesKeyed(f.args.head)
          Series(gapFill(kdf, keys, fillNext = false))
        case "keep_next_value" =>
          val (kdf, keys) = seriesKeyed(f.args.head)
          Series(gapFill(kdf, keys, fillNext = true))
        case "interpolate" =>
          val (kdf, keys) = seriesKeyed(f.args.head)
          Series(interpolate(kdf, keys))
        case "prometheus_buckets" =>
          // vmrange log-buckets → cumulative le buckets (transform.go:502
          // vmrangeBucketsToLE). Series with a valid "lo...hi" vmrange are
          // converted (grouped by identity minus vmrange/le); series
          // WITHOUT one pass through untouched if they carry a parseable
          // `le` (Prometheus-native buckets), else drop.
          import graft.operators.HistogramQ
          val vm = col("tags").getItem("vmrange")
          val validVm = vm.isNotNull && vm.contains("...") &&
            HistogramQ.parseBound(substring_index(vm, "...", 1)).isNotNull &&
            HistogramQ.parseBound(substring_index(vm, "...", -1)).isNotNull
          val in = df
            .filter(validVm)
            .withColumn("vmrange", vm)
            .withColumn("_tk",
              SeriesId.entries(map_filter(col("tags"), (k, _) => k =!= "vmrange" && k =!= "le")))
          val out = HistogramQ.vmrangeToLE(
            in.select(col("name"), col("_tk"), col("t"), col("vmrange"), col("value")),
            Seq("name", "_tk"))
          val converted = out.select(lit(null).cast(StringType).as("name"),
            map_concat(map_from_entries(col("_tk")),
              map(lit("le"), col("le"))).as("tags"),
            col("t"), col("value"))
          val passthrough = df
            .filter(!validVm && leValue(col("tags").getItem("le")).isNotNull)
            .select(lit(null).cast(StringType).as("name"), col("tags"),
              col("t"), col("value"))
          Series(converted.unionByName(passthrough))
        case "histogram_quantile" | "histogram_share" | "histogram_avg" |
            "histogram_stddev" | "histogram_stdvar" | "histogram_fraction" =>
          // bucket families carry an `le` label (SURVEY §1.1); group by
          // tags-minus-le
          val arg = name match {
            case "histogram_quantile" | "histogram_share" => 1
            case "histogram_fraction" => 2
            case _ => 0
          }
          val in0 = series(f.args(arg))
            .withColumn("le", leValue(col("tags").getItem("le")))
            .filter(col("le").isNotNull)
            .withColumn("_tk", SeriesId.entries(map_filter(col("tags"), (k, _) => k =!= "le")))
            .select(col("name"), col("_tk"), col("t"), col("le"), col("value"))
          // phi/le/bound args follow getScalar semantics: a constant OR a
          // per-point label-free series (transform.go getScalar) — joined
          // onto the bucket frame by timestamp
          var in = in0
          var phiIdx = 0
          def phiArg(e: Expr): Column = eval(e) match {
            case Scalar(x) => lit(x)
            case ScalarSeries(sd) =>
              phiIdx += 1
              val tc = s"_phit$phiIdx"
              val vc = s"_phiv$phiIdx"
              val s = sd.select(col("t").as(tc), col("value").as(vc))
              in = in.join(s, in("t") === col(tc), "left").drop(tc)
              col(vc)
            case other =>
              throw new IllegalArgumentException(s"expected scalar arg, got $other")
          }
          val out = name match {
            case "histogram_quantile" =>
              val p = phiArg(f.args.head)
              graft.operators.HistogramQ.quantile(in, Seq("name", "_tk"), p)
            case "histogram_share" =>
              val p = phiArg(f.args.head)
              graft.operators.HistogramQ.share(in, Seq("name", "_tk"), p)
            case "histogram_fraction" =>
              val (l, u) = (phiArg(f.args.head), phiArg(f.args(1)))
              graft.operators.HistogramQ.fraction(in, Seq("name", "_tk"), l, u)
            case "histogram_avg" =>
              graft.operators.HistogramQ.histAvg(in, Seq("name", "_tk"))
            case "histogram_stddev" =>
              graft.operators.HistogramQ.histStddev(in, Seq("name", "_tk"))
            case _ =>
              graft.operators.HistogramQ.histStdvar(in, Seq("name", "_tk"))
          }
          // 3-arg quantile/share: a boundsLabel fans out lower/upper bound
          // series alongside the value (transform.go:1004 boundsLabel)
          val boundsLabel = name match {
            case ("histogram_quantile" | "histogram_share") if f.args.size > 2 =>
              Some(strArg(f.args(2)))
            case _ => None
          }
          def emit(vc: String, boundTag: Option[(String, String)]) = {
            val tags = boundTag match {
              case Some((l, v)) => map_concat(
                map_filter(map_from_entries(col("_tk")), (k, _) => !(k === l)), map(lit(l), lit(v)))
              case None => map_from_entries(col("_tk"))
            }
            out.select(lit(null).cast(StringType).as("name"),
              tags.as("tags"), col("t"), col(vc).as("value"))
          }
          Series(boundsLabel match {
            case Some(l) =>
              emit("value", None)
                .unionByName(emit("lower", Some(l -> "lower")))
                .unionByName(emit("upper", Some(l -> "upper")))
            case None => emit("value", None)
          })
        case "histogram_quantiles" =>
          // histogram_quantiles("phi_label", phi1, …, buckets) — one series
          // per phi tagged by the phi value (transform.go:950)
          val lbl = strArg(f.args.head)
          val phis = f.args.drop(1).dropRight(1).map(scalarArg)
          val in = series(f.args.last)
            .withColumn("le", leValue(col("tags").getItem("le")))
            .filter(col("le").isNotNull)
            .withColumn("_tk", SeriesId.entries(map_filter(col("tags"), (k, _) => k =!= "le")))
            .select(col("name"), col("_tk"), col("t"), col("le"), col("value"))
          val out = graft.operators.HistogramQ.histQuantiles(in, Seq("name", "_tk"), phis)
          Series(out.select(lit(null).cast(StringType).as("name"),
            map_concat(map_from_entries(col("_tk")), map(lit(lbl), col("phi"))).as("tags"),
            col("t"), col("value")))
        case "buckets_limit" =>
          // buckets_limit(limit, buckets) — transform.go:386. The le label
          // passes through VERBATIM (the reference keeps the original
          // series; only the numeric parse orders/merges them)
          val in = series(f.args(1))
            .withColumn("_les", col("tags").getItem("le"))
            .withColumn("le", leValue(col("tags").getItem("le")))
            .filter(col("le").isNotNull)
            .withColumn("_tk", SeriesId.entries(map_filter(col("tags"), (k, _) => k =!= "le")))
            .select(col("name"), col("_tk"), col("t"), col("le"), col("_les"), col("value"))
          val out = graft.operators.HistogramQ.bucketsLimit(
            in, Seq("name", "_tk"), scalarArg(f.args.head).toInt)
          Series(out.select(col("name"),
            map_concat(map_from_entries(col("_tk")),
              map(lit("le"), col("_les"))).as("tags"),
            col("t"), col("value")))
        case "drop_common_labels" =>
          // drop labels that carry the same value on EVERY series across
          // ALL args (transform.go:2096). Label space is metadata-scale: the
          // distinct (key,value,series) profile aggregates to the driver.
          // ONE aggregation job for both the per-key (values, series)
          // profile and the global series count: a sentinel key row per
          // series rides the same groupBy, so only single-valued candidate
          // keys and the total row reach the driver (label-key metadata
          // scale, not series scale).
          val total = " __total__"
          val dcDf = f.args.map(series(_)).reduce(_ unionByName _)
          val perSeries = graft.core.Exemplar.distinctWith( // _sk ⟹ tags
            dcDf.withColumn("_sk", SeriesId.key(col("name"), col("tags"))),
            Seq("_sk"), Seq("tags"))
          val exploded = perSeries
            .select(col("_sk"), explode_outer(col("tags")).as(Seq("_dck", "_dcv")))
          val prof = exploded
            .unionByName(perSeries.select(col("_sk"), lit(total).as("_dck"),
              lit(null).cast(StringType).as("_dcv")))
            .groupBy("_dck")
            .agg(countDistinct("_dcv").as("nv"), countDistinct("_sk").as("ns"))
            .filter(col("_dck") === total || col("nv") === 1)
            .collect()
          val nSeries = prof.find(_.getString(0) == total)
            .map(_.getAs[Long]("ns")).getOrElse(0L)
          val common = prof
            .filter(r => r.getString(0) != null && r.getString(0) != total &&
              r.getAs[Long]("nv") == 1 && r.getAs[Long]("ns") == nSeries)
            .map(_.getString(0)).toSeq
          if (common.isEmpty) Series(dcDf)
          else Series(dcDf.withColumn("tags",
            map_filter(col("tags"), (k, _) => !k.isInCollection(common))))
        case "label_graphite_group" =>
          // label_graphite_group(q, n1, …) — metric name := selected
          // dot-groups of the graphite path, 0-based (transform.go:2023)
          val groups = f.args.tail.map(scalarArg(_).toInt)
          val parts = split(coalesce(col("name"), lit("")), "\\.")
          // try_element_at: an out-of-range group index yields an empty
          // component, not an ANSI error (transform.go:2023 appends "")
          val picked = concat_ws(".",
            groups.map(g => coalesce(try_element_at(parts, lit(g + 1)), lit(""))): _*)
          Series(df.withColumn("name", picked))
        case "sort_by_label_numeric" | "sort_by_label_numeric_desc" =>
          // numericLess collation (transform.go:2485): alternating numeric
          // and string chunks, numbers compare as floats — see
          // numericSortKey for the order-preserving key encoding
          val ls = f.args.tail.map(strArg)
          val keys = ls.map(l => numericKeyUdf(coalesce(col("tags").getItem(l), lit(""))))
          val ordered =
            if (name == "sort_by_label_numeric") keys.map(_.asc) else keys.map(_.desc)
          Series(df.orderBy(ordered :+ col("t").asc: _*))
        case "bitmap_and" | "bitmap_or" | "bitmap_xor" =>
          // NaN operands (either side) stay NaN (transform.go:330
          // bitmapFunc) — the long cast would throw under ANSI otherwise
          val mask = scalarArg(f.args(1))
          val op: (Column, Column) => Column = name match {
            case "bitmap_and" => _.bitwiseAND(_)
            case "bitmap_or" => _.bitwiseOR(_)
            case _ => _.bitwiseXOR(_)
          }
          val v = if (mask.isNaN) lit(Double.NaN)
            else when(isnan(col("value")), col("value")).otherwise(
              op(col("value").cast("long"), lit(mask.toLong)).cast(DoubleType))
          Series(keepName(df.withColumn("value", v)))
        case "timezone_offset" =>
          // "Local" means the host timezone (transform.go timezoneOffset →
          // time.LoadLocation("Local")); Java maps unknown IDs to GMT, so
          // resolve it explicitly to the JVM default zone
          val tzArg = strArg(f.args.head)
          val tz = if (tzArg == "Local") java.util.TimeZone.getDefault.getID else tzArg
          Series(Grid.gridDf(samples, cfg.grid).select(
            lit(null).cast(StringType).as("name"),
            map().cast("map<string,string>").as("tags"),
            col("t"),
            // UTC offset in seconds of the zone at each grid timestamp
            ((unix_millis(to_utc_timestamp(timestamp_millis(col("t")), tz)) - col("t")) / -1000L)
              .cast(DoubleType).as("value")))
        case "range_mad" =>
          // whole-range MAD over non-NaN samples, emitted at every grid
          // point (transform.go:1551)
          val (kdf, keys) = seriesKeyed(f.args.head)
          val d = denseGrid(kdf, keys)
          val vOk = when(!isnan(col("value")), col("value"))
          val w = Window.partitionBy(keys.map(col): _*)
          val med = percentile(vOk, lit(0.5)).over(w)
          val withDev = d.withColumn("_dev", abs(vOk - med))
          Series(keepName(withDev
            .withColumn("value", coalesce(
              percentile(col("_dev"), lit(0.5)).over(Window.partitionBy(keys.map(col): _*)),
              lit(Double.NaN)))
            .select(col("name"), col("tags"), col("t"), col("value"))))
        case "range_trim_zscore" =>
          val z = scalarArg(f.args.head)
          val q = series(f.args(1))
          val w = Window.partitionBy(SeriesId.key(col("name"), col("tags")))
          val sd = stddev_pop(col("value")).over(w)
          val zs = when(sd > 0, abs(col("value") - avg(col("value")).over(w)) / sd).otherwise(0.0)
          Series(q.withColumn("_z", zs).filter(col("_z") <= z).drop("_z"))
        case "range_trim_outliers" =>
          val k = scalarArg(f.args.head)
          val q = series(f.args(1))
          val w = Window.partitionBy(SeriesId.key(col("name"), col("tags")))
          val med = percentile(col("value"), lit(0.5)).over(w)
          val withDev = q.withColumn("_dev", abs(col("value") - med))
          Series(withDev
            .withColumn("_mad", percentile(col("_dev"), lit(0.5))
              .over(Window.partitionBy(SeriesId.key(col("name"), col("tags")))))
            .filter(col("_dev") <= lit(k) * col("_mad"))
            .drop("_dev", "_mad"))
        case "range_trim_spikes" =>
          // trim the phi/2 lowest AND phi/2 highest samples per series
          // (transform.go:1482: vMin = q(phi/2), vMax = q(1-phi/2), strict
          // inequality drops)
          val phi = scalarArg(f.args.head) / 2.0
          val q = series(f.args(1)).filter(!isnan(col("value")))
          val w = Window.partitionBy(SeriesId.key(col("name"), col("tags")))
          Series(q
            .withColumn("_lo", percentile(col("value"), lit(phi)).over(w))
            .withColumn("_hi", percentile(col("value"), lit(1.0 - phi)).over(w))
            .filter(col("value") >= col("_lo") && col("value") <= col("_hi"))
            .drop("_lo", "_hi"))
        case "smooth_exponential" =>
          // v'_i = sf·v_i + (1-sf)·v'_{i-1} (transform.go:1599) — exact
          // recursion: collect each series's points once, run the fold as a
          // higher-order array expression, explode back. Per-series arrays
          // are grid-bounded (numPoints), not data-bounded.
          val sf = scalarArg(f.args(1))
          val pts = df.withColumn("_tk", SeriesId.entries(col("tags")))
            .groupBy(col("name"), col("_tk"))
            .agg(array_sort(collect_list(struct(col("t"), col("value")))).as("_pts"))
          val smoothed = aggregate(
            col("_pts"),
            array().cast("array<struct<t:bigint,value:double>>"),
            (acc, p) => {
              val prev = element_at(acc, -1).getField("value")
              val sm = when(size(acc) === 0, p.getField("value"))
                .otherwise(lit(sf) * p.getField("value") + lit(1 - sf) * prev)
              concat(acc, array(struct(p.getField("t").as("t"), sm.as("value"))))
            })
          Series(pts
            .withColumn("_p", explode(smoothed))
            .select(col("name"), map_from_entries(col("_tk")).as("tags"),
              col("_p.t").as("t"), col("_p.value").as("value")))
        case other =>
          throw new IllegalArgumentException(s"unsupported transform '$other'")
      }
    }

    /** dense-grid gap fill: carry last (or next) value into missing grid
      * points per series (transform.go:1231 keep_last_value / 1278 next).
      */
    private def gapFill(d: DataFrame, keys: Seq[String], fillNext: Boolean): DataFrame = {
      // distinct series dim via the key columns (maps can't be set-op'd);
      // on the seriesKeyed fast path the dim aggregate, the dense join
      // and the fill window all key on the kept hash-pair attributes, so
      // a bucketed store's scan partitioning satisfies every step
      val kc = keys.map(col)
      val dim = // HashAggregate dedup (string/map payload would force SortAggregate)
        graft.core.Exemplar.distinctWith(d, keys, Seq("name", "tags"))
      val dense = dim.crossJoin(Grid.gridDf(d, cfg.grid))
      val joined = dense.join(
        d.select((keys :+ "t" :+ "value").map(col): _*), keys :+ "t", "left")
      val w0 = Window.partitionBy(kc: _*)
        .orderBy(if (fillNext) col("t").desc else col("t").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      joined
        .withColumn("value", last(col("value"), ignoreNulls = true).over(w0))
        .filter(col("value").isNotNull)
        .select(col("name"), col("tags"), col("t"), col("value"))
    }

    /** linear interpolation across grid gaps (transform.go:1681) */
    /** every series × every grid point; absent points surface as NaN
      * rows — the reference's dense values-array model for whole-range
      * transforms (running_ and range_ families, transform.go:1325).
      */
    private def denseGrid(d: DataFrame, keys: Seq[String]): DataFrame = {
      val kc = keys.map(col)
      val dim = // HashAggregate dedup (string/map payload would force SortAggregate)
        graft.core.Exemplar.distinctWith(d, keys, Seq("name", "tags"))
      dim.crossJoin(Grid.gridDf(d, cfg.grid))
        .join(d.select((keys :+ "t" :+ "value").map(col): _*), keys :+ "t", "left")
        .select((Seq(col("name"), col("tags")) ++ kc ++ Seq(col("t"),
          coalesce(col("value"), lit(Double.NaN)).as("value"))): _*)
    }

    private def interpolate(d: DataFrame, keys: Seq[String]): DataFrame = {
      val kc = keys.map(col)
      val dim = // HashAggregate dedup (string/map payload would force SortAggregate)
        graft.core.Exemplar.distinctWith(d, keys, Seq("name", "tags"))
      val dense = dim.crossJoin(Grid.gridDf(d, cfg.grid))
      val keyed = d
        // NaN samples are gaps too (reference values arrays use NaN)
        .select((kc :+ col("t") :+
          when(!isnan(col("value")), col("value")).as("value")): _*)
      val joined = dense.join(keyed, keys :+ "t", "left")
      val wb = Window.partitionBy(kc: _*).orderBy(col("t").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wf = Window.partitionBy(kc: _*).orderBy(col("t").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val pv = last(col("value"), ignoreNulls = true).over(wb)
      val pt = last(when(col("value").isNotNull, col("t")), ignoreNulls = true).over(wb)
      val nv = last(col("value"), ignoreNulls = true).over(wf)
      val nt = last(when(col("value").isNotNull, col("t")), ignoreNulls = true).over(wf)
      joined
        .withColumn("_pv", pv).withColumn("_pt", pt)
        .withColumn("_nv", nv).withColumn("_nt", nt)
        .withColumn("value",
          when(col("value").isNotNull, col("value"))
            // interior gaps only: the reference trims leading/trailing
            // NaNs first (transform.go:1278 skipLeading/TrailingNaNs), so
            // points before the first or after the last sample stay absent
            .when(col("_pv").isNotNull && col("_nv").isNotNull,
              col("_pv") + (col("_nv") - col("_pv")) *
                (col("t") - col("_pt")).cast(DoubleType) / (col("_nt") - col("_pt")).cast(DoubleType)))
        .filter(col("value").isNotNull)
        .select(col("name"), col("tags"), col("t"), col("value"))
    }
  }
}
