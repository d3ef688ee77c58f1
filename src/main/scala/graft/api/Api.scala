package graft.api

import graft.Engine
import graft.core.{GridSpec, SeriesId}
import graft.lang.{Eval, MetricExpr, Parser}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The Prometheus-compatible API surface (SURVEY §2.9, routes
  * app/vmselect/main.go:201-431) as DataFrame programs — the HTTP layer
  * proper is deployment glue; these are the handlers' query semantics.
  * Input `samples` is the canonical frame (name, tags, ts, value).
  */
/** Server-level search flags, mirroring the reference's command-line
  * flags at app/vmselect/promql/exec.go:20-33. All default to the
  * reference defaults (disabled); deployment glue sets them once at
  * startup.
  */
object SearchFlags {
  /** -search.maxResponseSeries (exec.go:21); 0 = disabled */
  @volatile var maxResponseSeries: Int = 0
  /** -search.treatDotsAsIsInRegexps (exec.go:23) */
  @volatile var treatDotsAsIsInRegexps: Boolean = false
  /** -search.disableImplicitConversion (exec.go:27) */
  @volatile var disableImplicitConversion: Boolean = false
  /** -search.logImplicitConversion (exec.go:30) */
  @volatile var logImplicitConversion: Boolean = false
}

object Api {

  /** exec.go:45-62 pre-evaluation guards: reject implicit-conversion
    * queries when configured, and rewrite regexp label filters with
    * escaped dots. Returns the (possibly rewritten) query string — the
    * rewritten TEXT feeds the engine so O6/O7 cache keys stay consistent
    * with what actually evaluates.
    */
  def applySearchFlags(q: String): String = {
    var out = q
    if (SearchFlags.disableImplicitConversion || SearchFlags.logImplicitConversion) {
      val invalid = graft.lang.Guards.isLikelyInvalid(Parser.parse(q))
      if (invalid && SearchFlags.disableImplicitConversion)
        throw new IllegalArgumentException(
          "query requires implicit conversion and is rejected according to " +
            "-search.disableImplicitConversion command-line flag")
      if (invalid && SearchFlags.logImplicitConversion)
        System.err.println(s"query=$q requires implicit conversion")
    }
    if (SearchFlags.treatDotsAsIsInRegexps)
      out = graft.lang.Render.render(
        graft.lang.Guards.escapeDotsInRegexpLabelFilters(Parser.parse(out)))
    out
  }

  /** /api/v1/query_range — the workhork (prometheus.go:925):
    * full MetricsQL evaluation on the (start, end, step) grid.
    */
  /** -search.maxPointsPerTimeseries default (prometheus.go:61);
    * eval.go:61 ValidateMaxPointsPerSeries — a runaway step/range combo
    * fails fast BEFORE any planning, with the reference's message
    */
  val MaxPointsPerTimeseries = 30000

  def validateMaxPoints(startMs: Long, endMs: Long, stepMs: Long,
      maxPoints: Int = MaxPointsPerTimeseries): Unit = {
    if (stepMs == 0)
      throw new IllegalArgumentException("step can't be equal to zero")
    val points = (endMs - startMs) / stepMs + 1
    if (points > maxPoints)
      throw new IllegalArgumentException(
        s"too many points for the given start=$startMs, end=$endMs and " +
          s"step=$stepMs: $points; the maximum number of points is $maxPoints")
  }

  /** the result as the O6 cache serves it — driver rows — or, without
    * `mayCache`, the plan of a raw evaluation
    */
  def queryRange(samples: DataFrame, q: String,
      startMs: Long, endMs: Long, stepMs: Long,
      lookbackMs: Long = 300000L,
      mayCache: Boolean = false,
      cacheTag: String = "",
      tagIndex: Option[DataFrame] = None): Either[DataFrame, Engine.Collected] = {
    validateMaxPoints(startMs, endMs, stepMs)
    val q2 = applySearchFlags(q)
    // the HTTP path caches by default like the reference (prometheus.go
    // `nocache` + EvalConfig.MayCache); programmatic callers (gates,
    // bench) default to a raw evaluation so they measure the engine
    if (mayCache)
      Right(Engine.queryCachedRows(samples, q2, GridSpec(startMs, endMs, stepMs), lookbackMs,
        cacheTag, tagIndex))
    else Left(Engine.query(samples, q2, GridSpec(startMs, endMs, stepMs), lookbackMs, tagIndex))
  }

  /** /api/v1/query — instant evaluation at one timestamp
    * (prometheus.go:767): a single-point grid, served through the O7
    * instant-rollup delta cache (eval.go:1176 evalInstantRollup) so a
    * dashboard's repeated `fn(m[big])` refresh scans only the delta
    * windows; non-eligible shapes fall through to a plain evaluation.
    */
  def query(samples: DataFrame, q: String, atMs: Long, stepMs: Long = 60000L,
      lookbackMs: Long = 300000L, cacheTag: String = "",
      tagIndex: Option[DataFrame] = None): DataFrame =
    Engine.queryInstantCached(samples, applySearchFlags(q),
      GridSpec(atMs, atMs, stepMs), lookbackMs, cacheTag = cacheTag,
      tagIndex = tagIndex)

  /** [[query]] as the O7 cache serves it: driver rows, or the plan of a
    * shape that evaluates uncached
    */
  def queryServed(samples: DataFrame, q: String, atMs: Long, stepMs: Long = 60000L,
      lookbackMs: Long = 300000L, cacheTag: String = "",
      tagIndex: Option[DataFrame] = None): Either[DataFrame, Engine.Collected] =
    Engine.queryInstantServed(samples, applySearchFlags(q),
      GridSpec(atMs, atMs, stepMs), lookbackMs, cacheTag = cacheTag,
      tagIndex = tagIndex)

  /** bare-selector row predicate over (name, tags): the evaluator's
    * selector predicate (`Eval.filterPredicate`, `__graphite__` globs
    * included), for the filters that take a selector string — match[],
    * export, federate, delete tombstones, stream aggregation, dedup and
    * retention
    */
  def selectorPredicate(selector: String): Column =
    Parser.parse(selector) match {
      case m: MetricExpr => Eval.filterPredicate(m.filterss)
      case other => throw new IllegalArgumentException(s"not a selector: $other")
    }

  private def selectorFilter(selector: String): DataFrame => DataFrame =
    // empty = no filter, so the HTTP facade can pre-apply a repeated
    // match[] union predicate and pass the frame straight through
    df => if (selector.isEmpty) df else df.filter(selectorPredicate(selector))

  /** /api/v1/series — distinct series matching filters in range
    * (prometheus.go:727).
    */
  def series(samples: DataFrame, selector: String, fromMs: Long, toMs: Long): DataFrame =
    selectorFilter(selector)(
      samples.filter(col("ts") >= fromMs && col("ts") <= toMs))
      .transform(SeriesId.canonical)
      // HashAggregate dedup: first(tags) buffers (map) would force
      // SortAggregate over the data-scale scan (opt r13)
      .transform(graft.core.Exemplar.distinctWith(_, SeriesId.Keys, Seq("tags")))
      .select("name", "tags")

  /** /api/v1/labels — distinct label names (prometheus.go:643); the
    * labels API takes the same match[]/start/end scoping as /series plus
    * a `limit` (netstorage.LabelNames)
    */
  def labels(samples: DataFrame, selector: String = "", fromMs: Long = 0L,
      toMs: Long = Long.MaxValue / 2, limit: Int = 0): DataFrame = {
    val scoped = scope(samples, selector, fromMs, toMs)
    val df = scoped.select(explode(map_keys(col("tags"))).as("label"))
      .union(scoped.filter(col("name").isNotNull && col("name") =!= "")
        .select(lit("__name__")))
      .distinct().orderBy("label")
    if (limit > 0) df.limit(limit) else df
  }

  /** /api/v1/label/<n>/values (prometheus.go:538), with the same
    * match[]/start/end/limit scoping as [[labels]]
    */
  def labelValues(samples: DataFrame, label: String, selector: String = "",
      fromMs: Long = 0L, toMs: Long = Long.MaxValue / 2, limit: Int = 0): DataFrame = {
    val v = if (label == "__name__") col("name") else col("tags").getItem(label)
    val df = scope(samples, selector, fromMs, toMs)
      .select(v.as("value")).filter(col("value").isNotNull)
      .distinct().orderBy("value")
    if (limit > 0) df.limit(limit) else df
  }

  private def scope(samples: DataFrame, selector: String,
      fromMs: Long, toMs: Long): DataFrame = {
    val timed =
      if (fromMs == 0L && toMs >= Long.MaxValue / 2) samples
      else samples.filter(col("ts") >= fromMs && col("ts") <= toMs)
    if (selector.isEmpty) timed else selectorFilter(selector)(timed)
  }

  /** /api/v1/series/count (prometheus.go:704) */
  def seriesCount(samples: DataFrame): DataFrame =
    SeriesId.withPair(samples).agg(SeriesId.countSeries.as("count"))

  /** /api/v1/status/tsdb — cardinality stats (prometheus.go:582):
    * per-name series counts + top label=value pairs by series count.
    */
  def tsdbStatus(samples: DataFrame, topN: Int = 10): DataFrame = {
    SeriesId.withPair(samples).groupBy(col("name"))
      .agg(SeriesId.countSeries.as("series_count"))
      .orderBy(col("series_count").desc, col("name"))
      .limit(topN)
  }

  /** /api/v1/status/tsdb full JSON body (prometheus.go:582,
    * tsdb_status_response.qtpl): cardinality statistics over the distinct
    * series set — totals plus five topN heaps, each a Spark aggregation
    * over ONE deduplicated series frame (persisted for the duration of
    * the request, so the store is scanned once, not six times).
    * `requestsCount`/`lastRequestTimestamp` per-metric query stats are a
    * storage-side tracker the Parquet store doesn't keep — omitted, which
    * the reference itself does when the tracker is off.
    */
  def tsdbStatusJson(samples: DataFrame, topN: Int = 10,
      focusLabel: String = "", selector: String = "",
      fromMs: Long = 0L, toMs: Long = Long.MaxValue / 2): String = {
    val timed =
      if (fromMs == 0L && toMs >= Long.MaxValue / 2) samples
      else samples.filter(col("ts") >= fromMs && col("ts") <= toMs)
    val scoped =
      if (selector.isEmpty) timed else selectorFilter(selector)(timed)
    val keyed = graft.core.Exemplar.distinctWith( // HashAggregate dedup
        SeriesId.canonical(scoped), SeriesId.Keys, Seq("tags"))
      .persist()
    try {
      val pairs = keyed.select(col("name"), col("_h1"), col("_h2"), explode(map_concat(
        when(col("name").isNotNull && col("name") =!= "",
          map(lit("__name__"), col("name")))
          .otherwise(map().cast("map<string,string>")),
        coalesce(col("tags"), map().cast("map<string,string>"))))
        .as(Seq("label", "value")))
      val totalSeries = keyed.count()
      val totalPairs = pairs.count()
      def entries(df: DataFrame): String =
        df.limit(topN).collect().map { r =>
          s"""{"name":${Json.str(r.getString(0))},"value":${r.getLong(1)}}"""
        }.mkString("[", ",", "]")
      val byMetric = entries(keyed
        .groupBy(coalesce(col("name"), lit("")).as("n"))
        .agg(count(lit(1)).as("c")).orderBy(col("c").desc, col("n")))
      val byLabelName = entries(pairs
        .groupBy(col("label")).agg(SeriesId.countSeries.as("c"))
        .orderBy(col("c").desc, col("label")))
      val byFocus =
        if (focusLabel.isEmpty) "[]"
        else entries(pairs.filter(col("label") === focusLabel)
          .groupBy(col("value")).agg(SeriesId.countSeries.as("c"))
          .orderBy(col("c").desc, col("value")))
      val byPair = entries(pairs
        .groupBy(concat(col("label"), lit("="), col("value")).as("p"))
        .agg(SeriesId.countSeries.as("c"))
        .orderBy(col("c").desc, col("p")))
      val valueCountByName = entries(pairs
        .groupBy(col("label")).agg(countDistinct(col("value")).as("c"))
        .orderBy(col("c").desc, col("label")))
      s"""{"status":"success","data":{"totalSeries":$totalSeries,""" +
        s""""totalLabelValuePairs":$totalPairs,""" +
        s""""seriesCountByMetricName":$byMetric,""" +
        s""""seriesCountByLabelName":$byLabelName,""" +
        s""""seriesCountByFocusLabelValue":$byFocus,""" +
        s""""seriesCountByLabelValuePair":$byPair,""" +
        s""""labelValueCountByLabelName":$valueCountByName}}"""
    } finally keyed.unpersist()
  }

  /** /federate (prometheus.go:113) — latest sample per matching series in
    * [fromMs, toMs], rendered as Prometheus text exposition lines
    */
  def federate(samples: DataFrame, selector: String, fromMs: Long, toMs: Long): DataFrame =
    graft.sources.LineFormats.federate(
      selectorFilter(selector)(samples.filter(col("ts") >= fromMs && col("ts") <= toMs)))

  /** /api/v1/export/csv (prometheus.go:175) — CSV lines per `format` */
  def exportCsv(samples: DataFrame, selector: String, fromMs: Long, toMs: Long,
      fieldNames: Seq[String]): DataFrame =
    graft.sources.LineFormats.exportCsv(
      selectorFilter(selector)(samples.filter(col("ts") >= fromMs && col("ts") <= toMs)),
      fieldNames)

  /** /api/v1/export/native (prometheus.go:263) — the raw matching sample
    * frame; the HTTP layer renders it as one Parquet file
    * ([[graft.sources.NativeFormat]])
    */
  def exportRaw(samples: DataFrame, selector: String, fromMs: Long, toMs: Long): DataFrame =
    selectorFilter(selector)(samples.filter(col("ts") >= fromMs && col("ts") <= toMs))

  /** /api/v1/export (prometheus.go:323) — JSON-lines of raw samples */
  def export(samples: DataFrame, selector: String, fromMs: Long, toMs: Long,
      maxRowsPerLine: Int = 0): DataFrame =
    graft.sources.LineFormats.exportJsonLines(
      selectorFilter(selector)(samples.filter(col("ts") >= fromMs && col("ts") <= toMs)),
      maxRowsPerLine)

  /** raw-sample range query: `query=metric[5m]` at an instant exports the
    * raw samples in the window (SURVEY §3.2).
    */
  def rawRange(samples: DataFrame, selector: String, atMs: Long, windowMs: Long): DataFrame =
    selectorFilter(selector)(
      samples.filter(col("ts") > atMs - windowMs && col("ts") <= atMs))

  // ------------------------------------------------------------------
  // Prometheus-compat placeholder endpoints — the reference returns fixed
  // JSON bodies for these (app/vmselect/main.go:431,566-610); kept as the
  // exact same payloads so Grafana/clients probing them behave identically.
  // ------------------------------------------------------------------

  /** /api/v1/query_exemplars (main.go:600) */
  def queryExemplars(): String = """{"status":"success","data":[]}"""

  /** /api/v1/metadata (main.go:431 "dumb placeholder") */
  def metadata(): String = """{"status":"success","data":{}}"""

  /** /api/v1/rules (main.go:567) */
  def rules(): String = rules(Nil)

  /** stable string-encoded id — the reference encodes its uint64 rule/
    * group/alert ids as strings "to avoid rounding" in JSON
    * (rule/web.go:43); ours hash the identifying fields
    */
  private def hashId(s: String): String =
    (scala.util.hashing.MurmurHash3.stringHash(s).toLong & 0xffffffffL).toString

  private def groupId(g: graft.alerting.Rules.RuleGroup): String = hashId(g.name)
  private def ruleId(g: graft.alerting.Rules.RuleGroup,
      r: graft.alerting.Rules.Rule): String = {
    val nm = if (r.isRecording) r.record else r.alert
    hashId(g.name + "\u0000" + nm + "\u0000" + r.expr)
  }
  private def alertId(lbls: Map[String, String]): String =
    hashId(lbls.toSeq.sorted.map { case (k, v) => s"$k\u0000$v" }.mkString("\u0001"))

  /** Go's zero time.Time marshals as this; emitted when never evaluated */
  private def rfc3339(ms: Long): String =
    if (ms <= 0L) "0001-01-01T00:00:00Z"
    else java.time.Instant.ofEpochMilli(ms).toString

  /** one ApiAlert (rule/web.go:141-190 NewAlertAPI) */
  private def alertApiJson(g: graft.alerting.Rules.RuleGroup,
      r: graft.alerting.Rules.Rule, lbls: Map[String, String],
      st: graft.alerting.Rules.AlertState): String = {
    val ann = r.annotations.map { case (k, v) =>
      k -> graft.alerting.Rules.expandTemplate(v, lbls, st.value, r.expr)
    }
    s"""{"state":${Json.str(st.state)},"name":${Json.str(r.alert)},""" +
      s""""value":${Json.str(graft.graphite.GraphiteModel.goFmt(st.value))},""" +
      s""""labels":${Json.obj(lbls)},"annotations":${Json.obj(ann)},""" +
      s""""activeAt":"${rfc3339(st.activeAtMs)}",""" +
      s""""id":"${alertId(lbls)}","rule_id":"${ruleId(g, r)}",""" +
      s""""group_id":"${groupId(g)}","expression":${Json.str(r.expr)},""" +
      s""""source":"","restored":${st.restored},""" +
      s""""stabilizing":${st.state == "firing" && st.keepFiringSinceMs != 0L}}"""
  }

  /** one ApiRule (rule/web.go:85-133; alerting.go/recording.go ToAPI),
    * enriched from the live scheduler when attached. `nomatch` mirrors
    * IsNoMatch on a zero-sample last round (we track result rows, not the
    * reference's separate seriesFetched counter — same signal here).
    */
  private def ruleJson(g: graft.alerting.Rules.RuleGroup,
      r: graft.alerting.Rules.Rule,
      sched: Option[graft.alerting.Scheduler]): String = {
    val nm = if (r.isRecording) r.record else r.alert
    val stat = sched.flatMap(_.ruleStat(g.name, nm))
    val lastError = sched.flatMap(_.lastErrors().get((g.name, nm))).getOrElse("")
    val health = if (lastError.nonEmpty) "err" else "ok"
    val instances =
      if (r.isRecording) Nil
      else sched.toSeq.flatMap(_.activeAlerts()).collect {
        case (gn, rn, lbls, st)
          if gn == g.name && rn == nm && st.state != "inactive" => (lbls, st)
      }
    // ExtendState (rule/web.go:242): alerts present win; otherwise
    // health/no-match refine the default ("inactive" alerting, "ok" recording)
    val state =
      if (instances.nonEmpty)
        if (instances.exists(_._2.state == "firing")) "firing" else "pending"
      else if (health != "ok") "unhealthy"
      else if (stat.exists(_.samples == 0)) "nomatch"
      else if (r.isRecording) "ok"
      else "inactive"
    val alertsField =
      if (instances.isEmpty) ""
      else s""""alerts":${instances.map { case (l, s) => alertApiJson(g, r, l, s) }
        .mkString("[", ",", "]")},"""
    s"""{"state":${Json.str(state)},"name":${Json.str(nm)},""" +
      s""""query":${Json.str(r.expr)},"duration":${r.forMs / 1000.0},""" +
      s""""keep_firing_for":${r.keepFiringForMs / 1000.0},""" +
      s""""labels":${Json.obj(r.labels)},"annotations":${Json.obj(r.annotations)},""" +
      s""""lastError":${Json.str(lastError)},""" +
      s""""evaluationTime":${stat.map(s => s.durationMs / 1000.0).getOrElse(0.0)},""" +
      s""""lastEvaluation":"${rfc3339(stat.map(_.atMs).getOrElse(0L))}",""" +
      alertsField +
      s""""health":${Json.str(health)},""" +
      s""""type":"${if (r.isRecording) "recording" else "alerting"}",""" +
      s""""datasourceType":"prometheus",""" +
      s""""lastSamples":${stat.map(_.samples).getOrElse(0)},""" +
      s""""id":"${ruleId(g, r)}","group_id":"${groupId(g)}",""" +
      s""""group_name":${Json.str(g.name)},"file":"","debug":false,""" +
      s""""max_updates_entries":0}"""
  }

  /** one ApiGroup (rule/web.go:28-66 ToAPI) */
  private def groupJson(g: graft.alerting.Rules.RuleGroup,
      sched: Option[graft.alerting.Scheduler]): String = {
    val rs = g.rules.map(ruleJson(g, _, sched)).mkString("[", ",", "]")
    // states: alert-instance counts per state across the group (ToAPI)
    val counts = sched.toSeq.flatMap(_.activeAlerts())
      .filter(_._1 == g.name).groupBy(_._4.state).map { case (s, xs) => s -> xs.size }
    val states = counts.toSeq.sortBy(_._1)
      .map { case (s, n) => s"${Json.str(s)}:$n" }.mkString("{", ",", "}")
    s"""{"name":${Json.str(g.name)},"rules":$rs,""" +
      s""""interval":${g.intervalMs / 1000.0},""" +
      s""""lastEvaluation":"${rfc3339(sched.flatMap(_.lastEvalMs(g.name)).getOrElse(0L))}",""" +
      s""""id":"${groupId(g)}","type":"prometheus","file":"",""" +
      s""""concurrency":1,"states":$states}"""
  }

  /** /api/v1/rules — the full ApiGroup/ApiRule shape (app/vmalert/rule/
    * web.go, alerting.go:ToAPI, recording.go:ToAPI), live-enriched from
    * the scheduler when one is attached
    */
  def rules(groups: Seq[graft.alerting.Rules.RuleGroup],
      sched: Option[graft.alerting.Scheduler] = None): String = {
    val gs = groups.map(groupJson(_, sched)).mkString("[", ",", "]")
    s"""{"status":"success","data":{"groups":$gs}}"""
  }

  /** /api/v1/rule?group_id=&rule_id= (web.go:194) */
  def ruleApi(groups: Seq[graft.alerting.Rules.RuleGroup],
      sched: Option[graft.alerting.Scheduler],
      gid: String, rid: String): Option[String] =
    (for {
      g <- groups if groupId(g) == gid
      r <- g.rules if ruleId(g, r) == rid
    } yield ruleJson(g, r, sched)).headOption

  /** /api/v1/group?group_id= (web.go:212) */
  def groupApi(groups: Seq[graft.alerting.Rules.RuleGroup],
      sched: Option[graft.alerting.Scheduler], gid: String): Option[String] =
    groups.find(groupId(_) == gid).map(groupJson(_, sched))

  /** /api/v1/alert?group_id=&alert_id= (web.go:180) */
  def alertApi(groups: Seq[graft.alerting.Rules.RuleGroup],
      sched: Option[graft.alerting.Scheduler],
      gid: String, aid: String): Option[String] =
    (for {
      g <- groups if groupId(g) == gid
      r <- g.rules if !r.isRecording
      (gn, rn, lbls, st) <- sched.toSeq.flatMap(_.activeAlerts())
      if gn == g.name && rn == r.alert && st.state != "inactive" &&
        alertId(lbls) == aid
    } yield alertApiJson(g, r, lbls, st)).headOption

  /** /api/v1/alerts (main.go:577) */
  def alerts(): String = """{"status":"success","data":{"alerts":[]}}"""

  /** /api/v1/alerts with a live scheduler attached: the Prometheus
    * alerts shape (labels/annotations/state/activeAt/value) served from
    * the scheduler's live state, like vmalert behind the proxy
    * (app/vmalert/web.go APIAlert core fields)
    */
  def alerts(sched: graft.alerting.Scheduler): String = {
    def kv(m: Map[String, String]): String = Json.obj(m)
    val rows = sched.apiAlerts().map { case (lbls, ann, st) =>
      val activeAt = java.time.Instant.ofEpochMilli(st.activeAtMs).toString
      s"""{"labels":${kv(lbls)},"annotations":${kv(ann)},""" +
        s""""state":"${st.state}","activeAt":"$activeAt",""" +
        s""""value":"${graft.graphite.GraphiteModel.goFmt(st.value)}"}"""
    }
    s"""{"status":"success","data":{"alerts":[${rows.mkString(",")}]}}"""
  }

  /** /api/v1/notifiers (vmalert web.go:674 listNotifiers): the scheduler's
    * configured targets under kind "static" (notifier/init.go:260) — empty
    * list when no scheduler or no notifier is wired, same as the reference
    * with no -notifier.url.
    */
  def notifiers(scheduler: Option[graft.alerting.Scheduler] = None): String = {
    val targets = scheduler.toSeq.flatMap(_.notifierTargets)
    val inner =
      if (targets.isEmpty) ""
      else {
        val ts = targets.map(n =>
          s"""{"address":${Json.str(n.address)},"labels":{},"lastError":${Json.str(n.lastError)}}""")
        s"""{"kind":"static","targets":[${ts.mkString(",")}]}"""
      }
    s"""{"status":"success","data":{"notifiers":[$inner]}}"""
  }

  /** /api/v1/status/buildinfo (main.go:592): the advertised Prometheus
    * compat version gates which query features Grafana enables.
    */
  def buildInfo(): String = """{"status":"success","data":{"version":"2.24.0"}}"""
}
