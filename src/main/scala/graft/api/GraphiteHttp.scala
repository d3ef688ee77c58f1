package graft.api

import java.io.Writer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.graphite._

/** Graphite HTTP API bodies: /render, /metrics/find, /metrics/expand and
  * the /tags family (app/vmselect/graphite/{render,metrics,tags}_api.go
  * + their qtpl response writers). HttpApi wires these under the same
  * routes the reference serves.
  */
object GraphiteHttp {

  private def esc(s: String): String = Json.esc(s)

  private def q(s: String): String = "\"" + esc(s) + "\""

  private def fmt(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString

  // ------------------------------------------------------------------
  // /render?format=json
  // ------------------------------------------------------------------

  /** Phase 1: evaluate every target — GraphiteEval.exec plus the
    * maxDataPoints summarize — and collect the rows (name, sid, tags, t,
    * value) ONCE, sorted on the driver as Spark's `orderBy(name, sid, t)`
    * would: series by name (render_response.qtpl RenderJSONResponse).
    * Evaluation and execution errors (unknown function, wrong arg
    * count/type, sub-query failure) throw HERE, before the caller commits
    * a 200 header, so clients get the proper error envelope instead of a
    * truncated body. No targets: no rows.
    */
  def renderRows(
      store: DataFrame,
      targets: Seq[String],
      fromMs: Long,
      untilMs: Long,
      storageStepMs: Long,
      xff: Double,
      maxDataPoints: Int,
      nowMs: Long,
      tz: java.time.ZoneId = java.time.ZoneOffset.UTC): Array[Row] = {
    val ctx = GraphiteCtx(store.sparkSession, store, fromMs, untilMs, storageStepMs,
      xff = xff, nowMs = nowMs, tz = tz)
    val sets = targets.zipWithIndex.map { case (t, i) =>
      var ss = GraphiteEval.exec(ctx, t)
      if (maxDataPoints > 0 && ctx.pointsLen(ss.step) > maxDataPoints) {
        val step = (untilMs - fromMs) / maxDataPoints
        ss = GraphiteModel.summarizeSet(ctx, ss, fromMs, untilMs, step, None,
          coalesce(col("xff"), lit(xff)))
      }
      ss.copy(df =
        ss.df.withColumn("sid", concat(lit(s"$i|"), col("sid"))))
    }
    if (sets.isEmpty) Array.empty
    else sets.map(_.df).reduce(_ unionByName _)
      .select(col("name"), col("sid"), col("tags"), col("t"), col("value"))
      .collect()
      .map(r => (Utf8Order.bytes(r.getString(0)), Utf8Order.bytes(r.getString(1)), r))
      .sortWith { case ((na, sa, a), (nb, sb, b)) =>
        val c = Utf8Order.compare(na, nb)
        val d = if (c != 0) c else Utf8Order.compare(sa, sb)
        d < 0 || d == 0 && a.getLong(3) < b.getLong(3)
      }
      .map(_._3)
  }

  /** Phase 2: write the sorted render rows as the render JSON: tags
    * sorted by key, datapoints as [value|null, unix-seconds].
    */
  def renderWrite(rows: Array[Row], w: Writer): Unit = {
    w.write("[")
    var curSid: String = null
    var first = true
    var firstPt = true
    for (r <- rows) {
      val sid = r.getString(1)
      if (sid != curSid) {
        if (curSid != null) w.write("]}")
        if (!first) w.write(",")
        first = false
        curSid = sid
        val tags = Option(r.getMap[String, String](2)).map(_.toMap)
          .getOrElse(Map.empty)
        val tagsJson = tags.toSeq.sortBy(_._1)
          .map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",", "}")
        w.write(s"""{"target":${q(r.getString(0))},"tags":$tagsJson,"datapoints":[""")
        firstPt = true
      }
      if (!firstPt) w.write(",")
      firstPt = false
      val v = r.getDouble(4)
      val vs = if (v.isNaN || v.isInfinite) "null" else fmt(v)
      w.write(s"[$vs,${r.getLong(3) / 1000}]")
    }
    if (curSid != null) w.write("]}")
    w.write("]")
  }

  // ------------------------------------------------------------------
  // /metrics/find + /metrics/expand
  // ------------------------------------------------------------------

  /** Go regexp.QuoteMeta */
  def quoteMeta(s: String): String =
    s.flatMap(c =>
      if ("\\.+*?()|[]{}^$".indexOf(c.toInt) >= 0) "\\" + c else c.toString)

  /** metrics_api.go getRegexpStringForQuery: graphite glob → regex text
    * with a custom delimiter class for `*`, nested `{}` alternation,
    * unclosed braces/brackets quoted literally; non-subquery form is
    * anchored with an optional trailing delimiter.
    */
  private def regexpStringForQuery(
      query0: String, delimiter: Char, isSubquery: Boolean): (String, String) = {
    val qd = quoteMeta(delimiter.toString)
    val a = new StringBuilder
    var query = query0
    var tail = ""
    var done = false
    while (!done) {
      val n = query.indexWhere(c => "*{[,}".indexOf(c.toInt) >= 0)
      if (n < 0) {
        a.append(quoteMeta(query)); tail = ""; done = true
      } else {
        a.append(quoteMeta(query.substring(0, n)))
        query = query.substring(n)
        query(0) match {
          case ',' | '}' =>
            if (isSubquery) { tail = query; done = true }
            else { a.append(quoteMeta(query.substring(0, 1))); query = query.substring(1) }
          case '*' =>
            a.append(s"[^$qd]*"); query = query.substring(1)
          case '{' =>
            val opts = Seq.newBuilder[String]
            var braceDone = false
            while (!braceDone) {
              val (x, t) = regexpStringForQuery(query.substring(1), delimiter, isSubquery = true)
              opts += x
              if (t.isEmpty) {
                a.append(quoteMeta("{")).append(opts.result().mkString(","))
                tail = ""; braceDone = true; done = true
              } else if (t(0) == ',') {
                query = t
              } else { // '}'
                a.append("(?:" + opts.result().mkString("|") + ")")
                query = t.substring(1)
                braceDone = true
              }
            }
          case '[' =>
            val m = query.indexOf(']')
            if (m < 0) { a.append(quoteMeta(query)); tail = ""; done = true }
            else { a.append(query.substring(0, m + 1)); query = query.substring(m + 1) }
        }
        if (!done && query.isEmpty) { a.append(""); tail = ""; done = true }
      }
    }
    val s = a.toString
    if (isSubquery) (s, tail)
    else {
      val withTrail = if (s.endsWith(qd)) s else s + qd + "?"
      ("^" + withTrail + "$", tail)
    }
  }

  /** anchored regex text for a find query — matches the Go
    * getRegexpForQuery output byte for byte
    */
  def regexForQuery(query: String, delimiter: Char): String =
    regexpStringForQuery(query, delimiter, isSubquery = false)._1

  /** unanchored glob→regex for one path segment (no trailing-delimiter
    * handling) — used to assemble the prefix matcher below
    */
  private def segRegex(seg: String, delimiter: Char): String = {
    val anchored = regexForQuery(seg, delimiter)
    val qd = quoteMeta(delimiter.toString)
    anchored.stripPrefix("^").stripSuffix("$").stripSuffix(qd + "?")
  }

  /** metrics_api.go addAutomaticVariants: comma groups become `{}`
    * alternations per delimiter-separated part
    */
  def addAutomaticVariants(query: String, delimiter: String): String =
    query.split(java.util.regex.Pattern.quote(delimiter), -1)
      .map(p => if (p.contains(",") && !p.contains("{")) "{" + p + "}" else p)
      .mkString(delimiter)

  /** metrics_api.go sortPaths: branch paths (trailing delimiter) before
    * leaves, alphabetical within each group
    */
  def sortPathsRef(paths: Seq[String], delimiter: String): Seq[String] =
    paths.sortWith { (x, y) =>
      val nx = x.endsWith(delimiter)
      val ny = y.endsWith(delimiter)
      if (nx == ny) x < y else nx
    }

  def filterLeaves(paths: Seq[String], delimiter: String): Seq[String] =
    paths.filterNot(_.endsWith(delimiter))

  /** Node-wise find over the store's metric names: a name matches when
    * its first k segments glob-match the query's k segments; the result
    * is the distinct matched prefixes, a trailing delimiter marking
    * non-leaf paths (metrics_api.go metricsFind semantics over
    * TagValueSuffixes), in sortPaths order (branches first).
    */
  def findPaths(store: DataFrame, query: String, delimiter: Char): Seq[String] = {
    val d = delimiter.toString
    val segs = query.split(java.util.regex.Pattern.quote(d), -1)
    val segRes = segs.map(s => segRegex(s, delimiter))
    val qd = quoteMeta(d)
    val prefixRe = segRes.mkString("(", qd, ")")
    val full = s"^$prefixRe($qd.*)?$$"
    // literal query prefixes also push a name range (pure conjunct; the
    // anchored matcher implies it) — the distinct runs over a pruned scan
    val nameMatch = graft.core.SampleStore.namePrefixBounds(
      graft.core.SampleStore.globLiteralPrefix(query)) match {
      case Some(b) => b && col("name").rlike(full)
      case None => col("name").rlike(full)
    }
    val names = store.select(col("name")).distinct()
      .filter(nameMatch)
      .select(
        regexp_extract(col("name"), full, 1).as("p"),
        (regexp_extract(col("name"), full, 2) =!= "").as("deeper"))
      .distinct()
      .collect()
    val paths = names.map { r =>
      val p = r.getString(0)
      if (r.getBoolean(1)) p + d else p
    }.toSeq.distinct
    sortPathsRef(paths, d)
  }

  /** treejson format (metrics_find_response.qtpl), including the
    * double-delimiter merge for paths that are both leaf and branch
    */
  def findTreeJson(paths0: Seq[String], delimiter: String, wildcards: Boolean): String = {
    var paths = paths0.sorted.toList
    if (paths.size > 1) {
      val dst = scala.collection.mutable.ListBuffer(paths.head)
      for (path <- paths.tail) {
        val prev = dst.last
        if (path.length == prev.length + 1 && path.endsWith(delimiter) &&
          path.startsWith(prev))
          dst(dst.size - 1) = path + delimiter
        else dst += path
      }
      paths = dst.toList
    }
    def pathName(path: String): String = {
      var n = path
      while (n.endsWith(delimiter)) n = n.dropRight(1)
      val i = n.lastIndexOf(delimiter)
      if (i >= 0) n.substring(i + 1) else n
    }
    val entries = paths.map { path =>
      var id = path
      var allow = "0"
      var leaf = "1"
      if (id.endsWith(delimiter)) {
        if (id.dropRight(1).endsWith(delimiter)) id = id.dropRight(2)
        allow = "1"; leaf = "0"
      }
      s"""{"id":${q(id)},"text":${q(pathName(path))},"allowChildren":$allow,"expandable":$allow,"leaf":$leaf}"""
    }
    val wild =
      if (wildcards && paths.size > 1) {
        var p = paths.head
        while (p.endsWith(delimiter)) p = p.dropRight(1)
        val i = p.lastIndexOf(delimiter)
        val id = (if (i >= 0) p.substring(0, i + 1) else "") + "*"
        val branch = paths.exists(_.endsWith(delimiter))
        val (a, l) = if (branch) ("1", "0") else ("0", "1")
        Seq(s"""{"id":${q(id)},"text":"*","allowChildren":$a,"expandable":$a,"leaf":$l}""")
      } else Nil
    (entries ++ wild).mkString("[", ",", "]")
  }

  /** completer format */
  def findCompleterJson(paths: Seq[String], delimiter: String, wildcards: Boolean): String = {
    def pathName(path: String): String = {
      var n = path
      while (n.endsWith(delimiter)) n = n.dropRight(1)
      val i = n.lastIndexOf(delimiter)
      if (i >= 0) n.substring(i + 1) else n
    }
    val entries = paths.map { path =>
      val leaf = if (path.endsWith(delimiter)) "0" else "1"
      s"""{"path":${q(path)},"name":${q(pathName(path))},"is_leaf":$leaf}"""
    }
    val wild = if (wildcards && paths.size > 1) Seq("""{"name":"*"}""") else Nil
    s"""{"metrics":${(entries ++ wild).mkString("[", ",", "]")}}"""
  }

  def expandFlatJson(paths: Seq[String]): String =
    paths.sorted.map(q).mkString("[", ",", "]")

  def expandByQueryJson(m: Seq[(String, Seq[String])]): String = {
    val body = m.map { case (query, paths) =>
      s"${q(query)}:${paths.sorted.map(q).mkString("[", ",", "]")}"
    }.mkString(",")
    s"""{"results":{$body}}"""
  }

  // ------------------------------------------------------------------
  // /functions (functions_api.go — Grafana autocomplete); entries are
  // generated from our registry rather than copying the reference's
  // embedded graphite-web documentation file
  // ------------------------------------------------------------------

  private def funcInfoJson(name: String): String =
    s"""{"name":${q(name)},"function":${q(s"$name(seriesList)")}}"""

  def functionsJson(): String =
    GraphiteFuncs.registry.keys.toSeq.sorted
      .map(n => s"${q(n)}:${funcInfoJson(n)}")
      .mkString("{", ",", "}")

  def functionDetailsJson(name: String): Option[String] =
    if (GraphiteFuncs.registry.contains(name)) Some(funcInfoJson(name)) else None

  // ------------------------------------------------------------------
  // /tags family
  // ------------------------------------------------------------------

  /** distinct graphite tag names incl. the `name` pseudo-tag */
  def tagsJson(store: DataFrame, filter: String, limit: Int): String = {
    val keys = store.select(explode(map_keys(col("tags"))).as("k"))
      .union(store.select(lit("name").as("k")))
      .distinct().collect().map(_.getString(0)).sorted
    val filtered =
      if (filter.isEmpty) keys.toSeq else keys.toSeq.filter(_.matches(".*" + filter + ".*"))
    val limited = if (limit > 0) filtered.take(limit) else filtered
    limited.map(t => s"""{"tag":${q(t)}}""").mkString("[", ",", "]")
  }

  def tagValuesJson(store: DataFrame, tag: String, filter: String, limit: Int): String = {
    val valueCol = if (tag == "name") col("name") else col("tags").getItem(tag)
    val values = store.select(valueCol.as("v")).filter(col("v").isNotNull)
      .distinct().collect().map(_.getString(0)).sorted
    val filtered =
      if (filter.isEmpty) values.toSeq
      else values.toSeq.filter(_.matches(".*" + filter + ".*"))
    val limited = if (limit > 0) filtered.take(limit) else filtered
    val body = limited.map(v => s"""{"count":1,"value":${q(v)}}""").mkString(",")
    s"""{"tag":${q(tag)},"values":[$body]}"""
  }

  /** canonical paths of series matching the tag expressions
    * (tags_api.go TagsFindSeriesHandler, sorted — getCanonicalPaths);
    * identity-only: no grid materialization
    */
  def findSeriesJson(spark: SparkSession, store: DataFrame, exprs: Seq[String]): String = {
    val series = graft.core.Exemplar.distinctWith( // one row per series
      graft.core.SeriesId.withPair(store.filter(GraphiteModel.tagExprPredicate(exprs))),
      graft.core.SeriesId.Keys, Seq("tags"))
    val paths = series.select(GraphiteModel.canonicalPath(col("name"), col("tags")))
      .collect().map(_.getString(0)).distinct.sorted
    paths.map(q).mkString("[", ",", "]")
  }

  def autoCompleteTagsJson(
      store: DataFrame, exprs: Seq[String], tagPrefix: String, limit: Int,
      spark: SparkSession): String = {
    val base =
      if (exprs.isEmpty) store
      else matchByExprs(spark, store, exprs)
    val keys = base.select(explode(map_keys(col("tags"))).as("k"))
      .union(base.select(lit("name").as("k")))
      .distinct().collect().map(_.getString(0)).sorted.toSeq
    val filtered = if (tagPrefix.isEmpty) keys else keys.filter(_.startsWith(tagPrefix))
    val limited = if (limit > 0) filtered.take(limit) else filtered
    limited.map(q).mkString("[", ",", "]")
  }

  def autoCompleteValuesJson(
      store: DataFrame, exprs: Seq[String], tag: String, valuePrefix: String,
      limit: Int, spark: SparkSession): String = {
    val base =
      if (exprs.isEmpty) store
      else matchByExprs(spark, store, exprs)
    val valueCol = if (tag == "name") col("name") else col("tags").getItem(tag)
    val values = base.select(valueCol.as("v")).filter(col("v").isNotNull)
      .distinct().collect().map(_.getString(0)).sorted.toSeq
    val filtered =
      if (valuePrefix.isEmpty) values else values.filter(_.startsWith(valuePrefix))
    val limited = if (limit > 0) filtered.take(limit) else filtered
    limited.map(q).mkString("[", ",", "]")
  }

  private def matchByExprs(
      spark: SparkSession, store: DataFrame, exprs: Seq[String]): DataFrame =
    store.filter(GraphiteModel.tagExprPredicate(exprs))
}
