package graft.sources

import java.util.regex.{Matcher, Pattern}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Prometheus-style relabeling pipeline (SURVEY §2.8,
  * lib/promrelabel/config.go:261-391): a rule list compiled ONCE to a
  * per-row function over the label map, run as a single deterministic UDF
  * over the samples frame (name, tags, ts, value). The metric name
  * participates as the `__name__` pseudo-label, exactly like the reference.
  *
  * Why imperative instead of chained column expressions: relabeling is
  * inherently sequential per row (each rule reads the previous rule's
  * map), and Catalyst inlines each chained `map_concat(map_filter(…))`
  * into every downstream reference — an 8-rule pipeline optimized to a
  * 635 KB expression tree that fell out of codegen (measured 20 s at
  * sf0.1 for a 25-row result; the compiled pipeline is a linear pass).
  * The reference applies ParsedConfigs row-by-row for the same reason
  * (lib/promrelabel/relabel.go:17 Apply).
  *
  * Supported actions: replace, replace_all, keep, drop, keep_metrics,
  * drop_metrics, keep_if_equal, drop_if_equal, keep_if_contains,
  * drop_if_contains, keepequal, dropequal, graphite, hashmod, uppercase,
  * lowercase, labelmap, labelmap_all, labeldrop, labelkeep — plus `if`
  * selector guards and YAML config parsing ([[parseConfig]]). hashmod is
  * xxhash64(seed 0) like the reference's xxhash.Sum64 (relabel.go), pinned
  * by the ported TestParsedRelabelConfigsApply vectors.
  */
object Relabel extends Serializable {

  final case class Rule(
      action: String,
      sourceLabels: Seq[String] = Nil,
      separator: String = ";",
      targetLabel: String = "",
      regex: String = "(.*)",
      replacement: String = "$1",
      modulus: Long = 0,
      matchTemplate: String = "", // graphite: e.g. "foo.*.bar"
      labels: Map[String, String] = Map.empty, // graphite: label -> "$1" template
      ifSelectors: Seq[String] = Nil) // series selectors; any match enables the rule

  private def anchored(re: String): String = "^(?:" + re + ")$"

  /** graphite match template → regex: literals escaped, `*` → a lazily
    * matched dot-free capture (the reference's Match takes the FIRST
    * position where the next literal part fits, graphite.go:80-128).
    */
  private def graphiteTemplateRegex(template: String): String =
    template.map {
      case '*' => "([^.]*?)"
      case c if "\\^$()+?[]|{}.".contains(c) => "\\" + c
      case c => c.toString
    }.mkString

  /** one rule, compiled: labels in → labels out, null = row dropped */
  private type Step = Map[String, String] => Map[String, String]

  /** apply a rule list; rows filtered by keep/drop rules are removed.
    * Empty-valued labels are removed after the whole pipeline, like the
    * reference's trailing "remove empty labels" step (relabel.go Apply).
    */
  def apply(df: DataFrame, rules: Seq[Rule]): DataFrame = {
    val steps: Seq[Step] = rules.map(compile)
    val run = udf { (name: String, tags: Map[String, String]) =>
      var m = Option(tags).getOrElse(Map.empty[String, String])
      if (name != null) m = m.updated("__name__", name)
      var i = 0
      while (m != null && i < steps.length) { m = steps(i)(m); i += 1 }
      Option(m).map(_.filter(_._2.nonEmpty))
    }
    df.withColumn("_m", run(col("name"), col("tags")))
      .filter(col("_m").isNotNull)
      .select(
        col("_m").getItem("__name__").as("name"),
        map_filter(col("_m"), (k, _) => k =!= "__name__").as("tags"),
        col("ts"), col("value"))
  }

  /** `if` series-selector match over a label map: OR across selectors, AND
    * across one selector's filters (lib/promrelabel/if_expression.go; the
    * selector grammar is the MetricsQL one, so reuse the parser and
    * `LabelFilter.matches`).
    */
  private[sources] def selectorMatches(selector: String, m: Map[String, String]): Boolean = {
    import graft.lang.{MetricExpr, Parser}
    Parser.parse(selector) match {
      case me: MetricExpr =>
        me.filterss.exists(_.forall(f => f.matches(m.getOrElse(f.label, ""))))
      case other =>
        throw new IllegalArgumentException(s"'if' must be a series selector, got $other")
    }
  }

  /** YAML subset parser for Prometheus-style relabel configs — the list
    * form the reference accepts (lib/promrelabel/config.go
    * ParseRelabelConfigsData): action, source_labels, separator,
    * target_label, regex, replacement, modulus, match, labels (one nested
    * level), if (scalar or inline list). Scalars may be bare,
    * single- or double-quoted; source_labels/if accept inline [a, b]
    * lists.
    */
  def parseConfig(yaml: String): Seq[Rule] = {
    def unq(s0: String): String = {
      val s = s0.trim
      if (s.length >= 2 && s.head == '"' && s.last == '"')
        s.substring(1, s.length - 1).replace("\\\"", "\"").replace("\\\\", "\\")
      else if (s.length >= 2 && s.head == '\'' && s.last == '\'')
        s.substring(1, s.length - 1).replace("''", "'")
      else s
    }
    def list(s: String): Seq[String] = {
      val t = s.trim
      if (t.startsWith("[") && t.endsWith("]"))
        t.substring(1, t.length - 1).split(',').map(unq).filter(_.nonEmpty).toSeq
      else Seq(unq(t))
    }
    val lines = yaml.split('\n').filterNot(l => l.trim.isEmpty || l.trim.startsWith("#"))
    var rules = Vector.empty[Rule]
    var cur: Map[String, String] = null
    var curLabels = Map.empty[String, String]
    var inLabels = false
    // block-list continuation (e.g. a multi-line `regex:` — the reference
    // joins the parts with "|", config.go MultiLineRegex)
    var pendingListKey: String = null
    def flush(): Unit = if (cur != null) {
      // yaml.UnmarshalStrict (promrelabel/config.go:174): unknown fields
      // are config errors
      val known = Set("action", "source_labels", "separator", "target_label",
        "regex", "replacement", "modulus", "match", "labels", "if")
      for (k <- cur.keys)
        require(known.contains(k), s"unknown relabel config field: `$k`")
      val action = cur.getOrElse("action",
        if (cur.contains("match") || cur.contains("labels")) "graphite" else "replace")
      // parseRelabelConfig required-field checks (config.go:280-290)
      if (action == "replace")
        require(cur.contains("target_label"),
          "missing `target_label` for `action=replace`")
      if (action == "replace_all") {
        require(cur.contains("source_labels"),
          "missing `source_labels` for `action=replace_all`")
        require(cur.contains("target_label"),
          "missing `target_label` for `action=replace_all`")
      }
      rules :+= Rule(
        action,
        sourceLabels = cur.get("source_labels").map(list).getOrElse(Nil),
        separator = cur.get("separator").map(unq).getOrElse(";"),
        targetLabel = cur.get("target_label").map(unq).getOrElse(""),
        regex = cur.get("regex").map(unq).getOrElse("(.*)"),
        replacement = cur.get("replacement").map(unq).getOrElse("$1"),
        modulus = cur.get("modulus").map(_.trim.toLong).getOrElse(0L),
        matchTemplate = cur.get("match").map(unq).getOrElse(""),
        labels = curLabels,
        ifSelectors = cur.get("if").map(list).getOrElse(Nil))
      cur = null; curLabels = Map.empty; inLabels = false
    }
    lines.foreach { raw =>
      val t = raw.trim
      val isListItem = (t.startsWith("- ") || t == "-") && !t.contains(":")
      if (isListItem && pendingListKey != null && cur != null) {
        val item = unq(t.drop(1).trim)
        val prev = cur.getOrElse(pendingListKey, "")
        cur += (pendingListKey -> (if (prev.isEmpty) item else prev + "|" + item))
      } else if (t.startsWith("- ") || t == "-") {
        flush(); cur = Map.empty; pendingListKey = null
        val rest = t.drop(1).trim
        if (rest.nonEmpty) {
          val Array(k, v) = rest.split(":", 2)
          if (k.trim == "labels") inLabels = true
          else { cur += (k.trim -> v.trim); inLabels = false }
        }
      } else if (cur != null) {
        val Array(k, v) = t.split(":", 2)
        val key = k.trim
        val indent = raw.takeWhile(_ == ' ').length
        if (key == "labels" && v.trim.isEmpty) { inLabels = true; pendingListKey = null }
        else if (inLabels && indent >= 4) curLabels += (key -> unq(v))
        else {
          inLabels = false
          if (v.trim.isEmpty) { pendingListKey = key; cur += (key -> "") }
          else { pendingListKey = null; cur += (key -> v.trim) }
        }
      }
    }
    flush()
    rules
  }

  /** Go-style `${N}` group refs → Java's `$N` (Java reserves `${…}` for
    * NAMED groups and throws on numeric names)
    */
  private def javaTemplate(t: String): String =
    t.replaceAll("\\$\\{(\\d+)\\}", "\\$$1")

  /** `{{label}}` references in a replacement resolve against the CURRENT
    * label set before group expansion (relabel.go label references in
    * `replacement`); resolved values are literal (no nested expansion).
    */
  private val labelRefPat = Pattern.compile("\\{\\{([^}]+)\\}\\}")
  private def expandLabelRefs(t: String, m: Map[String, String]): String = {
    val mt = labelRefPat.matcher(t)
    val sb = new StringBuffer
    while (mt.find())
      mt.appendReplacement(sb,
        Matcher.quoteReplacement(m.getOrElse(mt.group(1).trim, "")))
    mt.appendTail(sb)
    sb.toString
  }

  /** One relabel-debug step: the rule (rendered), label map before, after. */
  final case class DebugStep(rule: String, in: Map[String, String], out: Map[String, String])

  /** Debug-mode application of a rule list to ONE label map (`__name__` is
    * a pseudo-label): one step per rule plus the trailing "remove empty
    * labels" step — lib/promrelabel/relabel.go:72 ApplyDebug. Purely
    * driver-side: the compiled steps are plain `Map => Map` functions, no
    * Spark job for a single metric.
    */
  def applyDebug(labels0: Map[String, String],
      rules: Seq[Rule]): (Map[String, String], Seq[DebugStep]) = {
    var m = labels0
    val steps = Vector.newBuilder[DebugStep]
    var dropped = false
    rules.foreach { r =>
      if (!dropped) {
        val in = m
        val out = Option(compile(r)(m)).getOrElse(Map.empty)
        steps += DebugStep(ruleString(r), in, out)
        m = out
        if (out.isEmpty) dropped = true // all labels removed — stop early
      }
    }
    if (!dropped) {
      val cleaned = m.filter(_._2.nonEmpty)
      if (cleaned != m) { steps += DebugStep("remove empty labels", m, cleaned); m = cleaned }
    }
    (m, steps.result())
  }

  /** Canonical YAML re-render of a parsed rule for debug output. The
    * reference shows the verbatim config block (relabel.go:65
    * prc.ruleOriginal); parseConfig normalizes instead, so render the
    * non-default fields back in config order.
    */
  def ruleString(r: Rule): String = {
    val parts = Vector.newBuilder[String]
    if (r.ifSelectors.nonEmpty)
      parts += s"if: [${r.ifSelectors.mkString(", ")}]"
    parts += s"action: ${r.action}"
    if (r.sourceLabels.nonEmpty)
      parts += s"source_labels: [${r.sourceLabels.mkString(", ")}]"
    if (r.separator != ";") parts += s"separator: ${r.separator}"
    if (r.targetLabel.nonEmpty) parts += s"target_label: ${r.targetLabel}"
    if (r.regex != "(.*)") parts += s"regex: ${r.regex}"
    if (r.modulus != 0) parts += s"modulus: ${r.modulus}"
    if (r.replacement != "$1") parts += s"replacement: ${r.replacement}"
    if (r.matchTemplate.nonEmpty) parts += s"match: ${r.matchTemplate}"
    if (r.labels.nonEmpty)
      parts += r.labels.toSeq.sortBy(_._1)
        .map { case (k, v) => s"  $k: $v" }.mkString("labels:\n", "\n", "")
    parts.result().mkString("\n")
  }

  private def compile(r: Rule): Step = {
    def get(m: Map[String, String], l: String): String = m.getOrElse(l, "")
    def src(m: Map[String, String]): String =
      r.sourceLabels.map(get(m, _)).mkString(r.separator)
    // precompiled once per rule, shared by every row of every partition
    lazy val anchPat = Pattern.compile(anchored(r.regex))
    lazy val rawPat = Pattern.compile(r.regex)
    val inner = compileAction(r, get, src, anchPat, rawPat)
    if (r.ifSelectors.isEmpty) inner
    else {
      // `if` mismatch: `keep` drops the row, everything else is a no-op
      // (relabel.go:apply head)
      val dropsOnMiss = r.action == "keep" || r.action == "keep_metrics"
      m =>
        if (r.ifSelectors.exists(selectorMatches(_, m))) inner(m)
        else if (dropsOnMiss) null
        else m
    }
  }

  private def compileAction(
      r: Rule,
      get: (Map[String, String], String) => String,
      src: Map[String, String] => String,
      anchPat: => Pattern,
      rawPat: => Pattern): Step = {

    r.action match {
      case "replace" =>
        // only on regex match; replacement AND target label expand $1…
        // capture groups; {{label}} refs resolve from the current labels
        val replTmpl = javaTemplate(r.replacement)
        val tlTmpl = javaTemplate(r.targetLabel)
        m => {
          val s = src(m)
          if (anchPat.matcher(s).matches()) {
            val repl = expandLabelRefs(replTmpl, m)
            val tl = anchPat.matcher(s).replaceAll(tlTmpl)
            m.updated(tl, anchPat.matcher(s).replaceAll(repl))
          } else m
        }
      case "replace_all" =>
        val replTmpl = javaTemplate(r.replacement)
        m => m.updated(r.targetLabel,
          rawPat.matcher(src(m)).replaceAll(expandLabelRefs(replTmpl, m)))
      case "keep" => m => if (anchPat.matcher(src(m)).matches()) m else null
      case "drop" => m => if (anchPat.matcher(src(m)).matches()) null else m
      case "keep_metrics" =>
        m => if (anchPat.matcher(get(m, "__name__")).matches()) m else null
      case "drop_metrics" =>
        m => if (anchPat.matcher(get(m, "__name__")).matches()) null else m
      case "keep_if_equal" =>
        m => {
          val h = get(m, r.sourceLabels.head)
          if (r.sourceLabels.tail.forall(l => get(m, l) == h)) m else null
        }
      case "drop_if_equal" =>
        m => {
          val h = get(m, r.sourceLabels.head)
          if (r.sourceLabels.tail.forall(l => get(m, l) == h)) null else m
        }
      case "keep_if_contains" =>
        // keep if target_label's value CONTAINS every source label's value
        // (relabel.go:518 containsAllLabelValues)
        m => {
          val t = get(m, r.targetLabel)
          if (r.sourceLabels.forall(l => t.contains(get(m, l)))) m else null
        }
      case "drop_if_contains" =>
        m => {
          val t = get(m, r.targetLabel)
          if (r.sourceLabels.forall(l => t.contains(get(m, l)))) null else m
        }
      case "keepequal" =>
        // keep if source_labels joined with separator EQUALS target_label
        // (relabel.go:309)
        m => if (src(m) == get(m, r.targetLabel)) m else null
      case "dropequal" =>
        m => if (src(m) == get(m, r.targetLabel)) null else m
      case "graphite" =>
        // graphite template match on the metric name: `*` captures one
        // dot-free segment; each labels entry is a "$N" replace template
        // (lib/promrelabel/graphite.go Match/replace). Non-matching rows
        // pass through unchanged.
        val re = Pattern.compile(anchored(graphiteTemplateRegex(r.matchTemplate)))
        val tmpls = r.labels.toSeq.map { case (l, t) => (l, javaTemplate(t)) }
        m => {
          val nm = get(m, "__name__")
          if (!re.matcher(nm).matches()) m
          else tmpls.foldLeft(m -- r.labels.keys) { case (acc, (lbl, tmpl)) =>
            acc.updated(lbl, re.matcher(nm).replaceAll(tmpl))
          }
        }
      case "hashmod" =>
        // xxhash64 with seed 0, matching the reference's xxhash.Sum64
        // (relabel.go hashmod; pinned by TestParsedRelabelConfigsApply's
        // {xxx="yyy"} -> 81 and {foo="yyy"} -> 73 vectors)
        m => {
          val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
            org.apache.spark.unsafe.types.UTF8String.fromString(src(m)),
            org.apache.spark.sql.types.StringType, 0L)
          val mod = java.lang.Long.remainderUnsigned(h, r.modulus)
          m.updated(r.targetLabel, mod.toString)
        }
      case "uppercase" =>
        m => m.updated(r.targetLabel, src(m).toUpperCase(java.util.Locale.ROOT))
      case "lowercase" =>
        m => m.updated(r.targetLabel, src(m).toLowerCase(java.util.Locale.ROOT))
      case "labelmap" =>
        // labels matching regex spawn renamed copies; the copy wins on a
        // name collision (config.go labelmap)
        val tmpl = javaTemplate(r.replacement)
        m => {
          val renamed = m.toSeq.collect {
            case (k, v) if anchPat.matcher(k).matches() =>
              anchPat.matcher(k).replaceAll(tmpl) -> v
          }
          renamed.foldLeft(m -- renamed.map(_._1))(_ + _)
        }
      case "labelmap_all" =>
        val tmpl = javaTemplate(r.replacement)
        m => m.map { case (k, v) => rawPat.matcher(k).replaceAll(tmpl) -> v }
      case "labeldrop" =>
        m => m.filter { case (k, _) => !anchPat.matcher(k).matches() }
      case "labelkeep" =>
        m => m.filter { case (k, _) =>
          anchPat.matcher(k).matches() || k == "__name__" }
      case other => throw new IllegalArgumentException(s"unsupported relabel action '$other'")
    }
  }
}
