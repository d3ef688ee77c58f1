package graft.alerting

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{GridSpec, SeriesId}

/** vmalert rule evaluation (app/vmalert/rule/{alerting,recording}.go,
  * config/config.go), in the batch "replay" form (`execRange`): a rule
  * group is evaluated over a time range on the group-interval grid, a
  * recording rule materializes renamed series, and an alerting rule
  * emits the `ALERTS` / `ALERTS_FOR_STATE` series with the
  * pending→firing state machine.
  *
  * The state machine is per result series and sequential in the
  * reference (alerting.go:376 execRange); here it is window functions:
  * a data gap longer than the eval interval starts a new activation
  * segment (alerting.go:407 reset-to-Pending), `ActiveAt` is the
  * segment's first timestamp, and the state fires once
  * `t - ActiveAt >= for` (or immediately when `for: 0`).
  */
object Rules {

  final case class Rule(
      record: String = "",
      alert: String = "",
      expr: String = "",
      forMs: Long = 0L,
      keepFiringForMs: Long = 0L,
      labels: Map[String, String] = Map.empty,
      annotations: Map[String, String] = Map.empty) {
    def isRecording: Boolean = record.nonEmpty
  }

  final case class RuleGroup(
      name: String,
      intervalMs: Long,
      rules: Seq[Rule])

  // ------------------------------------------------------------------
  // YAML subset parser (config.go Parse: groups → name/interval/rules)
  // ------------------------------------------------------------------

  def parseConfig(yaml: String, defaultIntervalMs: Long = 60000L): Seq[RuleGroup] = {
    def unq(s0: String): String = {
      val s = s0.trim
      if (s.length >= 2 && s.head == '"' && s.last == '"')
        s.substring(1, s.length - 1).replace("\\\"", "\"").replace("\\\\", "\\")
      else if (s.length >= 2 && s.head == '\'' && s.last == '\'')
        s.substring(1, s.length - 1).replace("''", "'")
      else s
    }
    def durMs(s: String): Long = graft.lang.Lexer.durationMs(unq(s), 0L)
    val all = yaml.split('\n')

    var groups = Vector.empty[RuleGroup]
    var gName = ""; var gInterval = defaultIntervalMs
    var gRules = Vector.empty[Rule]
    var cur: Map[String, String] = null
    var curLabels = Map.empty[String, String]
    var curAnns = Map.empty[String, String]
    var nested = "" // "labels" | "annotations" | ""
    // indent of the `labels:`/`annotations:` key itself; only DEEPER
    // lines are map entries — a line at or above this indent is a rule
    // key (`for:`, `expr:`, …), whatever absolute column it sits at
    var nestedIndent = -1
    var inGroup = false
    var inRules = false
    // indent of the group list items ("- name: …"); rule items always sit
    // DEEPER (they live inside the group item's mapping), which is how the
    // compact layout (groups at column 0, rules at indent 2) is told apart
    // from a new group — ADVICE r5 #2: indent alone misclassified rules
    // as nameless groups and silently dropped them
    var groupIndent = -1
    var i = 0

    def flushRule(): Unit = if (cur != null) {
      gRules :+= Rule(
        record = cur.getOrElse("record", ""),
        alert = cur.getOrElse("alert", ""),
        expr = cur.getOrElse("expr", ""),
        forMs = cur.get("for").map(durMs).getOrElse(0L),
        keepFiringForMs = cur.get("keep_firing_for").map(durMs).getOrElse(0L),
        labels = curLabels,
        annotations = curAnns)
      cur = null; curLabels = Map.empty; curAnns = Map.empty; nested = ""
    }
    def flushGroup(): Unit = {
      flushRule()
      if (inGroup) groups :+= RuleGroup(gName, gInterval, gRules)
      gName = ""; gInterval = defaultIntervalMs; gRules = Vector.empty
      inGroup = false
    }

    /** resolve a mapping value that may be a block scalar: `|`/`|-`
      * (literal, newline-joined) or `>`/`>-` (folded, space-joined)
      * consume the following deeper-indented lines — used by the
      * reference's own testdata (multiline `expr: |`).
      */
    def resolveValue(v0: String, keyIndent: Int): String = {
      val ind = v0.trim
      if (ind != "|" && ind != "|-" && ind != ">" && ind != ">-") return v0.trim
      val buf = Vector.newBuilder[String]
      var blockIndent = -1
      var done = false
      while (i < all.length && !done) {
        val line = all(i)
        val li = line.takeWhile(_ == ' ').length
        if (line.trim.isEmpty) { buf += ""; i += 1 }
        else if (li > keyIndent) {
          if (blockIndent < 0) blockIndent = li
          buf += line.drop(math.min(blockIndent, li))
          i += 1
        } else done = true
      }
      val body = buf.result().reverse.dropWhile(_.isEmpty).reverse
      if (ind.startsWith("|")) body.mkString("\n")
      else body.mkString(" ")
    }

    while (i < all.length) {
      val raw = all(i)
      val t = raw.trim
      val indent = raw.takeWhile(_ == ' ').length
      i += 1
      if (t.isEmpty || t.startsWith("#")) ()
      else if (t == "groups:") { flushGroup(); groupIndent = -1 }
      else if (t.startsWith("- ") && inRules &&
        (groupIndent < 0 || indent > groupIndent)) {
        flushRule(); cur = Map.empty
        val rest = t.drop(1).trim
        if (rest.nonEmpty && rest.contains(":")) {
          val Array(k, v) = rest.split(":", 2)
          // the key sits after "- ", so its mapping indent is item+2 —
          // block content must be deeper than THAT, not the item dash
          cur += (k.trim -> unq(resolveValue(v, indent + 2)))
        }
      } else if (t.startsWith("- ")) {
        // new group list item
        flushGroup(); inGroup = true; inRules = false; groupIndent = indent
        val rest = t.drop(1).trim
        if (rest.startsWith("name:")) gName = unq(rest.drop(5))
      } else if (t == "rules:") { inRules = true; flushRule() }
      else if (cur != null && t.contains(":")) {
        val Array(k, v) = t.split(":", 2)
        val key = k.trim
        if ((key == "labels" || key == "annotations") && v.trim.isEmpty) {
          nested = key; nestedIndent = indent
        } else if (nested.nonEmpty && indent > nestedIndent) {
          if (nested == "labels") curLabels += (key -> unq(v))
          else curAnns += (key -> unq(v))
        } else { nested = ""; cur += (key -> unq(resolveValue(v, indent))) }
      } else if (inGroup && t.contains(":") && cur == null) {
        val Array(k, v) = t.split(":", 2)
        k.trim match {
          case "name" => gName = unq(v)
          case "interval" => gInterval = durMs(v)
          case _ =>
        }
      }
    }
    flushGroup()
    groups
  }

  // ------------------------------------------------------------------
  // validation (config.go Group.Validate / Rule.Validate core checks)
  // ------------------------------------------------------------------

  def validate(groups: Seq[RuleGroup], validateExpressions: Boolean = true): Unit = {
    groups.foreach { g =>
      if (g.name.isEmpty)
        throw new IllegalArgumentException("group name must be set")
      if (g.intervalMs < 0)
        throw new IllegalArgumentException("interval shouldn't be lower than 0")
      val seen = scala.collection.mutable.Set.empty[(String, String, String)]
      g.rules.foreach { r =>
        val ruleName = if (r.alert.nonEmpty) r.alert else r.record
        if ((r.record.isEmpty && r.alert.isEmpty) ||
          (r.record.nonEmpty && r.alert.nonEmpty))
          throw new IllegalArgumentException(
            s"invalid rule '$ruleName': either `record` or `alert` must be set")
        if (r.expr.isEmpty)
          throw new IllegalArgumentException(
            s"invalid rule '$ruleName': expression can't be empty")
        val id = (r.record, r.alert, r.expr)
        if (seen(id))
          throw new IllegalArgumentException(
            s"'$ruleName' is a duplicate in group '${g.name}'")
        seen += id
        if (validateExpressions)
          try graft.lang.Parser.parse(r.expr)
          catch {
            case e: Exception =>
              throw new IllegalArgumentException(
                s"invalid expression for rule '$ruleName': ${e.getMessage}")
          }
      }
    }
  }

  // ------------------------------------------------------------------
  // templating (notifier.ExecTemplate subset: {{$labels.x}}, {{$value}},
  // {{$expr}} — the only variables label templates may use)
  // ------------------------------------------------------------------

  private val tplRe = """\{\{\s*\$(labels\.([A-Za-z0-9_]+)|value|expr)\s*\}\}""".r

  def expandTemplate(
      tpl: String, labels: Map[String, String], value: Double, expr: String): String =
    tplRe.replaceAllIn(tpl, m =>
      scala.util.matching.Regex.quoteReplacement(
        if (m.group(1) == "value") graft.graphite.GraphiteModel.goFmt(value)
        else if (m.group(1) == "expr") expr
        else labels.getOrElse(m.group(2), "")))

  // ------------------------------------------------------------------
  // evaluation (replay form)
  // ------------------------------------------------------------------

  /** recording rule over a range: rename to `record`, overlay rule
    * labels (recording.go toTimeSeries); errors when two source series
    * collapse onto the same resulting label set (errDuplicate)
    */
  def recordingRange(
      samples: DataFrame,
      rule: Rule,
      grid: GridSpec,
      checkDuplicates: Boolean = true): DataFrame = {
    val res = graft.Engine.query(samples, rule.expr, grid)
    val tagged =
      if (rule.labels.isEmpty) res
      else {
        // rule labels OVERRIDE series labels (recording.go toTimeSeries);
        // drop overridden keys first so map_concat never sees duplicates
        val keys = rule.labels.keys.toSeq
        res.withColumn("tags",
          map_concat(
            map_filter(col("tags"), (k, _) => !k.isInCollection(keys)),
            map(rule.labels.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)))
      }
    val out = tagged.withColumn("name", lit(rule.record))
    if (checkDuplicates) {
      val dup = out.groupBy(col("name"), SeriesId.entries(col("tags")).as("_k"),
        col("t")).count().filter(col("count") > 1).limit(1).count()
      if (dup > 0)
        throw new IllegalStateException(
          s"recording rule '${rule.record}': resulting series are not unique (errDuplicate)")
    }
    out.select(col("name"), col("tags"), col("t"), col("value"))
  }

  /** alerting rule over a range: ALERTS (value 1, alertstate label) and
    * ALERTS_FOR_STATE (value = activeAt unix seconds) series per result
    * point (alerting.go:376 execRange + alertToTimeSeries)
    */
  def alertingRange(
      samples: DataFrame,
      rule: Rule,
      groupName: String,
      intervalMs: Long,
      grid: GridSpec): DataFrame =
    alertSeries(graft.Engine.query(samples, rule.expr, grid), rule,
      groupName, intervalMs)

  /** the state machine over an already-evaluated result frame
    * (name, tags, t, value) - split out so the reference's
    * TestAlertingRuleExecRange vectors can drive it directly
    */
  def alertSeries(
      res: DataFrame,
      rule: Rule,
      groupName: String,
      intervalMs: Long): DataFrame = {
    val series = SeriesId.Keys.map(col)
    val w = Window.partitionBy(series: _*).orderBy(col("t"))
    val prevT = lag(col("t"), 1).over(w)
    val gapReset =
      when(prevT.isNull || col("t") - prevT > intervalMs, 1L).otherwise(0L)
    // a result frame's tags may have been rewritten since any pair it
    // carries was computed: hash them afresh
    val staged = SeriesId.withPair(res.drop("_h1", "_h2"))
      .withColumn("_seg",
        sum(gapReset).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("_activeAt",
        min(col("t")).over(Window.partitionBy(series :+ col("_seg"): _*)))
      .withColumn("_state",
        if (rule.forMs == 0L) lit("firing")
        else when(col("t") - col("_activeAt") >= rule.forMs, "firing")
          .otherwise("pending"))
      .withColumn("_firstV", first(col("value")).over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    // merged alert labels: series labels (sans __name__) + templated rule
    // labels + alertname/alertgroup (alerting.go toLabels)
    val ruleLabels = rule.labels
    val ruleName = if (rule.alert.nonEmpty) rule.alert else rule.record
    val exprStr = rule.expr
    val mergeUdf = udf { (tags: Map[String, String], firstV: Double) =>
      val extra = ruleLabels.map { case (k, v) =>
        k -> expandTemplate(v, tags, firstV, exprStr)
      }
      // alertgroup only when the group is named (toLabels,
      // -disableAlertGroupLabel gate)
      val grp = if (groupName.nonEmpty) Map("alertgroup" -> groupName) else Map.empty
      tags ++ extra ++ Map("alertname" -> ruleName) ++ grp
    }
    val labeled = staged.withColumn("_al",
      mergeUdf(col("tags"), col("_firstV")))
    val alerts = labeled.select(
      lit("ALERTS").as("name"),
      map_concat(
        map_filter(col("_al"), (k, _) => k =!= "alertstate"),
        map(lit("alertstate"), col("_state"))).as("tags"),
      col("t"),
      lit(1.0).as("value"))
    val forState = labeled.select(
      lit("ALERTS_FOR_STATE").as("name"),
      col("_al").as("tags"),
      col("t"),
      floor(col("_activeAt") / 1000).cast("double").as("value"))
    alerts.unionByName(forState)
  }

  // ------------------------------------------------------------------
  // live (instant) evaluation step — alerting.go:440 exec
  // ------------------------------------------------------------------

  /** one alert instance's live state */
  final case class AlertState(
      state: String, // "pending" | "firing" | "inactive"
      activeAtMs: Long,
      value: Double,
      keepFiringSinceMs: Long = 0L, // 0 = unset
      resolvedAtMs: Long = 0L,
      restored: Boolean = false) // activeAt reinstated from ALERTS_FOR_STATE

  val ResolvedRetentionMs: Long = 15 * 60 * 1000L

  /** One live evaluation round: update the alert-state map from the
    * instant result at `tsMs` (series labels → first value). Transition
    * rules mirror exec(): inactive entries older than the resolved
    * retention are dropped; a returning inactive alert restarts as
    * pending; an absent pending alert is deleted; an absent firing alert
    * keeps firing for `keep_firing_for` then resolves; pending fires
    * once `for` has elapsed. Driver-side state, bounded by active alert
    * cardinality (the reference holds the same map in memory).
    */
  def execStep(
      rule: Rule,
      groupName: String,
      prev: Map[Map[String, String], AlertState],
      results: Seq[(Map[String, String], Double)],
      tsMs: Long): Map[Map[String, String], AlertState] = {
    val ruleName = if (rule.alert.nonEmpty) rule.alert else rule.record
    // cleanup inactive beyond retention
    var alerts = prev.filterNot { case (_, a) =>
      a.state == "inactive" && tsMs - a.resolvedAtMs > ResolvedRetentionMs
    }
    // merge labels like the range path (toLabels)
    val grp = if (groupName.nonEmpty) Map("alertgroup" -> groupName) else Map.empty
    val updated = scala.collection.mutable.Set.empty[Map[String, String]]
    results.foreach { case (seriesLabels, value) =>
      val merged = seriesLabels ++
        rule.labels.map { case (k, v) =>
          k -> expandTemplate(v, seriesLabels, value, rule.expr)
        } ++ Map("alertname" -> ruleName) ++ grp
      if (updated(merged))
        throw new IllegalStateException(
          s"labels $merged: resulting alerts are not unique (errDuplicate)")
      updated += merged
      alerts.get(merged) match {
        case Some(a) if a.state == "inactive" =>
          alerts += merged -> a.copy(state = "pending", activeAtMs = tsMs,
            value = value, keepFiringSinceMs = 0L)
        case Some(a) =>
          alerts += merged -> a.copy(value = value, keepFiringSinceMs = 0L)
        case None =>
          alerts += merged -> AlertState("pending", tsMs, value)
      }
    }
    alerts.toSeq.foreach { case (k, a0) =>
      var a = a0
      var removed = false
      var resolved = false
      if (!updated(k)) {
        if (a.state == "pending") { alerts -= k; removed = true }
        else if (a.state == "firing") {
          if (rule.keepFiringForMs > 0 && a.keepFiringSinceMs == 0L)
            a = a.copy(keepFiringSinceMs = tsMs)
          if (tsMs - a.keepFiringSinceMs >= rule.keepFiringForMs) {
            a = a.copy(state = "inactive", resolvedAtMs = tsMs)
            resolved = true
          }
          alerts += k -> a
        }
      }
      if (!removed && !resolved && a.state == "pending" &&
        tsMs - a.activeAtMs >= rule.forMs)
        alerts += k -> a.copy(state = "firing")
    }
    alerts
  }

  // ------------------------------------------------------------------
  // streaming alerting — the live state machine over Structured
  // Streaming, with series absence modeled by group-state timeouts
  // ------------------------------------------------------------------

  /** one rule-result sample on the stream: sk is the canonical series
    * key, tags the merged alert labels
    */
  final case class AlertEvent(sk: String, tags: Map[String, String], ts: Long, value: Double)

  final case class AlertOut(
      sk: String,
      tags: Map[String, String],
      state: String,
      activeAtMs: Long,
      atMs: Long)

  /** Streaming form of the live state machine: rule results arrive as a
    * stream (one event per matching series per evaluation trigger);
    * per-series group state applies the same transitions as [[execStep]],
    * and a processing-time timeout of ~2 eval intervals stands in for
    * "absent in the current round" (pending → removed, firing →
    * keep_firing_for → inactive). Scale axis is alert cardinality —
    * state is per-series and bounded, exactly the reference's in-memory
    * alerts map sharded across executors.
    */
  /** The absence-expiry transition, extracted pure so the paths only
    * reachable under a live processing-time clock (which
    * processAllAvailable cannot drive in tests) are directly
    * unit-testable: given the timed-out state and the clock, returns
    * (next state — None means removed, emitted outputs, next timeout
    * duration to arm). Mirrors exec()'s not-updated branch
    * (alerting.go:440): pending → removed; firing → keep_firing_for
    * hold, then inactive with resolved retention; inactive → removed
    * once retention expires.
    */
  def absenceStep(
      sk: String,
      st: Option[AlertState],
      nowMs: Long,
      kffMs: Long,
      intervalMs: Long): (Option[AlertState], Seq[AlertOut], Option[Long]) =
    st match {
      case Some(a) if a.state == "pending" =>
        (None, Nil, None)
      case Some(a) if a.state == "firing" =>
        val since =
          if (kffMs > 0 && a.keepFiringSinceMs == 0L) nowMs
          else a.keepFiringSinceMs
        if (nowMs - since >= kffMs) {
          val res = a.copy(state = "inactive", resolvedAtMs = nowMs)
          (Some(res),
            Seq(AlertOut(sk, Map.empty, "inactive", a.activeAtMs, nowMs)),
            Some(ResolvedRetentionMs))
        } else {
          (Some(a.copy(keepFiringSinceMs = since)),
            Seq(AlertOut(sk, Map.empty, "firing", a.activeAtMs, nowMs)),
            Some(intervalMs * 2))
        }
      case _ => // inactive aged out (resolved retention), or no state
        (None, Nil, None)
    }

  def alertingStream(
      events: org.apache.spark.sql.Dataset[AlertEvent],
      rule: Rule,
      intervalMs: Long): org.apache.spark.sql.Dataset[AlertOut] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    val forMs = rule.forMs
    val kffMs = rule.keepFiringForMs
    // intervalMs <= 0 disables the absence timeouts (pure transition
    // mode, used by tests and replay-fed streams)
    val timeouts = intervalMs > 0
    val conf =
      if (timeouts) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    events
      .groupByKey(_.sk)
      .flatMapGroupsWithState[AlertState, AlertOut](
        OutputMode.Update(), conf) {
        case (sk, rows, state: GroupState[AlertState]) =>
          if (state.hasTimedOut) {
            // absent for ≥ the timeout window (exec's not-updated branch)
            val nowMs = state.getCurrentProcessingTimeMs()
            val (next, outs, dur) =
              absenceStep(sk, state.getOption, nowMs, kffMs, intervalMs)
            next match {
              case Some(a) =>
                state.update(a)
                dur.filter(_ => timeouts).foreach(state.setTimeoutDuration)
              case None => state.remove()
            }
            outs.iterator
          } else {
            val sorted = rows.toSeq.sortBy(_.ts)
            val last = sorted.last
            var a = state.getOption match {
              case Some(s0) if s0.state == "inactive" =>
                s0.copy(state = "pending", activeAtMs = last.ts,
                  value = last.value, keepFiringSinceMs = 0L)
              case Some(s0) =>
                s0.copy(value = last.value, keepFiringSinceMs = 0L)
              case None => AlertState("pending", sorted.head.ts, last.value)
            }
            if (a.state == "pending" && last.ts - a.activeAtMs >= forMs)
              a = a.copy(state = "firing")
            state.update(a)
            if (timeouts) state.setTimeoutDuration(intervalMs * 2)
            Iterator.single(AlertOut(sk, last.tags, a.state, a.activeAtMs, last.ts))
          }
      }
  }

  /** evaluate a whole group over [startMs, endMs] on its interval grid */
  def groupRange(
      samples: DataFrame,
      group: RuleGroup,
      startMs: Long,
      endMs: Long): DataFrame = {
    val grid = GridSpec(startMs, endMs, group.intervalMs)
    val outs = group.rules.map { r =>
      if (r.isRecording) recordingRange(samples, r, grid)
      else alertingRange(samples, r, group.name, group.intervalMs, grid)
    }
    outs.reduce(_ unionByName _)
  }
}
