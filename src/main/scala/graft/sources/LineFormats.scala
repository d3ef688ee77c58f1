package graft.sources

import graft.core.SeriesId
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Ingestion line-format parsers (SURVEY §2.0): each maps a DataFrame of
  * raw protocol lines (column `line: string`) to the canonical samples
  * schema (name, tags, ts, value) — ts in epoch millis.
  *
  * These are the batch/streaming-shared decode stages for the reference's
  * ingestion protocols (lib/protoparser/{prometheus,influx,graphite,
  * opentsdb,vmimport,csvimport}); all pure column expressions, so they run
  * map-side with no shuffle and attach unchanged to `readStream` sources.
  * Malformed lines yield null name/value and are dropped, mirroring the
  * reference's per-line error tolerance.
  */
object LineFormats {

  private val S = StringType

  /** strict Jackson mapper for the vmimport line format: NaN/Infinity
    * literals on, trailing tokens after the object are an error
    */
  private[sources] lazy val importMapper: com.fasterxml.jackson.databind.ObjectMapper = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m.enable(com.fasterxml.jackson.databind.DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
    m.configure(
      com.fasterxml.jackson.core.JsonParser.Feature.ALLOW_NON_NUMERIC_NUMBERS, true)
    m
  }

  // ---- Prometheus text exposition line parser ------------------------
  // Reference-faithful per-line scanner (lib/protoparser/prometheus/
  // parser.go:158-307 Row.unmarshal/unmarshalTags/unmarshalQuotedString),
  // replacing the earlier regex sketch: quoted UTF-8 metric names and
  // label keys ({"name", "key"="v"}, the 2023 UTF-8 proposal), `#` chars
  // inside names/keys/values, exemplar comments after the value, empty
  // keys dropped / empty values kept, trailing commas, escape handling
  // (\" \\ \n, lenient otherwise), and fastfloat's inf/nan word forms.
  // Pinned by the complete ported TestRowsUnmarshal corpus
  // (PromParserGoldenSpec).

  private[sources] final case class PromRow(
      name: String, tags: Map[String, String], ts: Option[Long], value: Double)

  private def promLtrim(x: String): String = {
    var i = 0
    while (i < x.length && (x(i) == ' ' || x(i) == '\t')) i += 1
    x.substring(i)
  }
  private def promRtrim(x: String): String = {
    var e = x.length
    while (e > 0 && (x(e - 1) == ' ' || x(e - 1) == '\t')) e -= 1
    x.substring(0, e)
  }
  // first ' ' or '\t' (tokens separate on either, parser.go:146-156)
  private def nextWs(x: String): Int = {
    var i = 0
    while (i < x.length) {
      if (x(i) == ' ' || x(i) == '\t') return i
      i += 1
    }
    -1
  }

  /** quoted string starting at s(0): returns (unescaped content, rest
    * after the closing quote); closing quote = the first `"` preceded by
    * an even number of backslashes.
    */
  private def unquote(s: String): Option[(String, String)] = {
    if (s.isEmpty || s.head != '"') return None
    var i = 1
    var close = -1
    while (close < 0 && i < s.length) {
      if (s(i) == '"') {
        var bs = 0
        var j = i - 1
        while (j >= 1 && s(j) == '\\') { bs += 1; j -= 1 }
        if (bs % 2 == 0) close = i
      }
      i += 1
    }
    if (close < 0) return None
    val raw = s.substring(1, close)
    val sb = new StringBuilder(raw.length)
    var k = 0
    while (k < raw.length) {
      val c = raw(k)
      if (c == '\\' && k + 1 < raw.length) {
        raw(k + 1) match {
          case '\\' => sb += '\\'
          case '"' => sb += '"'
          case 'n' => sb += '\n'
          case other => sb += '\\'; sb += other // lenient: kept verbatim
        }
        k += 2
      } else { sb += c; k += 1 }
    }
    Some((sb.result(), s.substring(close + 1)))
  }

  /** fastfloat.Parse: strict decimal/exponent plus case-insensitive
    * inf/infinity/nan word forms. */
  private def parseNum(tok: String): Option[Double] =
    tok.toLowerCase(java.util.Locale.ROOT) match {
      case "" => None
      case "inf" | "+inf" | "infinity" | "+infinity" =>
        Some(Double.PositiveInfinity)
      case "-inf" | "-infinity" => Some(Double.NegativeInfinity)
      case "nan" | "+nan" | "-nan" => Some(Double.NaN)
      case _ =>
        // gate with a strict shape first: Java parseDouble accepts forms
        // fastfloat rejects ("1d", hex, surrounding whitespace)
        if (tok.matches("""[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?"""))
          Some(java.lang.Double.parseDouble(tok))
        else None
    }

  private[sources] def parsePromLine(line0: String): Option[PromRow] = {
    var s = if (line0 != null && line0.nonEmpty && line0.last == '\r')
      line0.dropRight(1) else if (line0 == null) "" else line0
    s = promLtrim(s)
    if (s.isEmpty || s.head == '#') return None // blank line / comment
    var metric = ""
    val tags = Vector.newBuilder[(String, String)]
    var rest: String = null
    val brace = s.indexOf('{')
    if (brace >= 0) {
      metric = promRtrim(s.substring(0, brace))
      var t = s.substring(brace + 1)
      var done = false
      while (!done) {
        t = promLtrim(t)
        val q = t.indexOf('"')
        if (q < 0) {
          if (t.nonEmpty && t.head == '}') { rest = t.substring(1); done = true }
          else return None // unquoted tag without a value
        } else {
          val possibleKey = promRtrim(t.substring(0, q))
          var key: String = null
          var skipValue = false
          if (possibleKey.isEmpty) {
            // quoted label key — or a quoted UTF-8 metric name
            unquote(t) match {
              case None => return None
              case Some((k, r)) => key = k; t = r
            }
            t = promLtrim(t)
            if (t.nonEmpty && (t.head == ',' || t.head == '}')) {
              if (metric.nonEmpty) return None // duplicate metric name
              metric = key
              if (t.length > 1 && t.head == ',') t = t.substring(1)
              skipValue = true
            } else if (t.nonEmpty && t.head != '=') {
              return None // quoted key must be followed by '='
            } else if (t.nonEmpty) {
              t = promLtrim(t.substring(1))
            }
          } else if (possibleKey.last == '=') {
            key = promRtrim(promLtrim(possibleKey.dropRight(1)))
            t = promLtrim(t.substring(t.indexOf('"')))
          } else {
            return None // e.g. {host:"v"} or {"k":"v"} — no '=' before value
          }
          if (!skipValue) {
            unquote(t) match {
              case None => return None
              case Some((v, r)) =>
                if (key.nonEmpty) tags += (key -> v) // empty keys dropped
                t = r
            }
            t = promLtrim(t)
            if (t.nonEmpty && t.head == '}') { rest = t.substring(1); done = true }
            else if (t.isEmpty || t.head != ',') return None
            else t = t.substring(1)
          }
        }
      }
      if (rest.nonEmpty && rest.head == ' ') rest = rest.substring(1)
    } else {
      val n = nextWs(s)
      if (n < 0) return None // missing value
      metric = s.substring(0, n)
      rest = s.substring(n + 1)
    }
    if (metric.isEmpty) return None
    rest = promLtrim(rest)
    val hash = rest.indexOf('#') // exemplar / trailing comment
    if (hash >= 0) rest = rest.substring(0, hash)
    if (rest.isEmpty) return None // value cannot be empty
    val n = nextWs(rest)
    if (n < 0) {
      parseNum(rest).map(v => PromRow(metric, tags.result().toMap, None, v))
    } else {
      val v = parseNum(rest.substring(0, n)).getOrElse(return None)
      var t2 = promLtrim(rest.substring(n + 1))
      if (t2.isEmpty) Some(PromRow(metric, tags.result().toMap, None, v))
      else {
        t2 = promRtrim(t2)
        val ts = parseNum(t2).getOrElse(return None)
        // sub-2^31 timestamps are OpenMetrics Unix seconds → ms
        // (parser.go:222-228)
        val tsMs = if (ts >= -2147483648.0 && ts < 2147483648.0) ts * 1000 else ts
        Some(PromRow(metric, tags.result().toMap, Some(tsMs.toLong), v))
      }
    }
  }

  private val promLineUdf = udf { (line: String) => parsePromLine(line) }

  private val numRe = """^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$"""

  /** numeric cast that yields null (not an ANSI error) on junk input —
    * malformed protocol lines must drop, not abort the batch.
    */
  private def tryDouble(c: Column): Column =
    when(c.rlike(numRe), c.cast(DoubleType))

  /** numeric literal incl. prometheus +Inf/-Inf/NaN */
  private def promDouble(c: Column): Column =
    when(c === "+Inf" || c === "Inf", lit(Double.PositiveInfinity))
      .when(c === "-Inf", lit(Double.NegativeInfinity))
      .when(c === "NaN", lit(Double.NaN))
      .otherwise(tryDouble(c))

  /** Prometheus text exposition format
    * (lib/protoparser/prometheus/parser.go): lines
    * `name{l="v",…} value [timestamp_ms]`; # comments skipped; missing
    * timestamp → `defaultTsMs` (scrape time).
    */
  def prometheusText(lines: DataFrame, defaultTsMs: Long): DataFrame =
    lines
      .select(promLineUdf(col("line")).as("r"))
      .filter(col("r").isNotNull)
      .select(
        col("r.name").as("name"),
        col("r.tags").as("tags"),
        coalesce(col("r.ts"), lit(defaultTsMs)).as("ts"),
        col("r.value").as("value"))

  // ---- Influx line protocol parser -------------------------------------
  // Reference-faithful scanner (lib/protoparser/influx/parser.go:110-470):
  // escape-aware splitting (`\,` `\=` `\ ` `\\` unescape; unknown escapes
  // keep their backslash), quote-aware field splitting (commas/spaces
  // inside quoted field values don't split), quoted string fields parse
  // best-effort to a number (else 0), `i`/`u` integer suffixes, boolean
  // words, strict-integer timestamps, empty measurement allowed, empty
  // tag keys/values skipped while a tag WITHOUT '=' is a line error.
  // Pinned by the ported parser_test.go corpus (InfluxLineGoldenSpec).

  private[sources] final case class InfluxRow(
      measurement: String, tags: Map[String, String],
      fields: Seq[InfluxField], ts: Option[Long])
  private[sources] final case class InfluxField(key: String, value: Double)

  /** index of the next `ch` not escaped by an odd run of backslashes;
    * plain indexOf when the line carries no backslash at all.
    */
  private def nextUnescaped(s: String, ch: Char, esc: Boolean, from: Int = 0): Int = {
    if (!esc) return s.indexOf(ch, from)
    var i = from
    while (i < s.length) {
      if (s(i) == ch) {
        var bs = 0
        var j = i - 1
        while (j >= 0 && s(j) == '\\') { bs += 1; j -= 1 }
        if (bs % 2 == 0) return i
      }
      i += 1
    }
    -1
  }

  /** next `ch` outside quoted regions (quote boundaries themselves found
    * escape-aware). */
  private def nextUnquoted(s: String, ch: Char, esc: Boolean, quoted: Boolean): Int = {
    if (!quoted) return nextUnescaped(s, ch, esc)
    var from = 0
    while (true) {
      val n = nextUnescaped(s, ch, esc, from)
      if (n < 0) return -1
      // in-quote iff an odd number of unescaped quotes precede position n
      var q = 0
      var i = nextUnescaped(s, '"', esc)
      while (i >= 0 && i < n) { q += 1; i = nextUnescaped(s, '"', esc, i + 1) }
      if (q % 2 == 0) return n
      val close = nextUnescaped(s, '"', esc, n + 1)
      if (close < 0) return -1
      from = close + 1
    }
    -1
  }

  private def influxUnescape(s: String, esc: Boolean): String = {
    if (!esc || !s.contains('\\')) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s(i)
      if (c == '\\' && i + 1 < s.length) {
        val nx = s(i + 1)
        if (nx == ' ' || nx == ',' || nx == '=' || nx == '\\') { sb += nx; i += 2 }
        else { sb += '\\'; sb += nx; i += 2 } // unknown escape kept verbatim
      } else { sb += c; i += 1 }
    }
    sb.result()
  }

  /** fastfloat.ParseBestEffort: a number or 0, never an error. */
  private def bestEffort(s: String): Double = parseNum(s).getOrElse(0.0)

  private def influxFieldValue(s: String, quoted: Boolean): Option[Double] = {
    if (s.isEmpty) return None // field value cannot be empty
    if (quoted && s.head == '"') {
      if (s.length < 2 || s.last != '"') return None // missing closing quote
      return Some(bestEffort(s.substring(1, s.length - 1)))
    }
    if (s.last == 'i') {
      val ss = s.dropRight(1)
      return if (ss.matches("[+-]?\\d+")) Some(ss.toLong.toDouble) else None
    }
    if (s.last == 'u') {
      val ss = s.dropRight(1)
      return if (ss.matches("\\d+")) Some(java.lang.Long.parseUnsignedLong(ss).toDouble) else None
    }
    s match {
      case "t" | "T" | "true" | "True" | "TRUE" => Some(1.0)
      case "f" | "F" | "false" | "False" | "FALSE" => Some(0.0)
      case _ => Some(bestEffort(s))
    }
  }

  private[sources] def parseInfluxLine(line0: String): Option[InfluxRow] = {
    var s = if (line0 != null && line0.nonEmpty && line0.last == '\r')
      line0.dropRight(1) else if (line0 == null) "" else line0
    if (s.isEmpty || s.head == '#') return None // empty line / comment
    val esc = s.contains('\\')
    val ws1 = nextUnescaped(s, ' ', esc)
    if (ws1 < 0) return None // no whitespace between tags and fields
    var measurementTags = s.substring(0, ws1)
    s = s.substring(ws1 + 1).dropWhile(_ == ' ')
    // measurement + tags
    val tags = Map.newBuilder[String, String]
    val comma = nextUnescaped(measurementTags, ',', esc)
    if (comma >= 0) {
      var t = measurementTags.substring(comma + 1)
      var more = true
      while (more) {
        val n = nextUnescaped(t, ',', esc)
        val part = if (n < 0) t else t.substring(0, n)
        val eq = nextUnescaped(part, '=', esc)
        if (eq < 0) return None // missing tag value
        val k = influxUnescape(part.substring(0, eq), esc)
        val v = influxUnescape(part.substring(eq + 1), esc)
        if (k.nonEmpty && v.nonEmpty) tags += (k -> v)
        if (n < 0) more = false else t = t.substring(n + 1)
      }
      measurementTags = measurementTags.substring(0, comma)
    }
    val measurement = influxUnescape(measurementTags, esc)
    // fields (quote-aware splitting)
    val quoted = nextUnescaped(s, '"', esc) >= 0
    val ws2 = nextUnquoted(s, ' ', esc, quoted)
    val fieldsStr = if (ws2 < 0) s else s.substring(0, ws2)
    val fields = Seq.newBuilder[InfluxField]
    var f = fieldsStr
    var more = true
    while (more) {
      val n = nextUnquoted(f, ',', esc, quoted)
      val part = if (n < 0) f else f.substring(0, n)
      val eq = nextUnescaped(part, '=', esc)
      if (eq < 0) return None // missing field value
      val k = influxUnescape(part.substring(0, eq), esc)
      if (k.isEmpty) return None // field key cannot be empty
      influxFieldValue(part.substring(eq + 1), quoted) match {
        case None => return None
        case Some(v) => fields += InfluxField(k, v)
      }
      if (n < 0) more = false else f = f.substring(n + 1)
    }
    // optional timestamp (strict integer; whitespace may trail w/o one)
    if (ws2 < 0) Some(InfluxRow(measurement, tags.result(), fields.result(), None))
    else {
      val rest = s.substring(ws2 + 1).dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
      if (rest.isEmpty) Some(InfluxRow(measurement, tags.result(), fields.result(), None))
      else if (rest.matches("[+-]?\\d+"))
        Some(InfluxRow(measurement, tags.result(), fields.result(), Some(rest.toLong)))
      else None // invalid timestamp
    }
  }

  private val influxLineUdf = udf { (line: String) => parseInfluxLine(line) }

  /** Influx line protocol (lib/protoparser/influx):
    * `measurement[,tag=v…] field=v[,field2=v2…] [timestamp_ns]`.
    * Each field fans out to its own series named `measurement_field`
    * (the reference's default `{measurement}{separator}{field}` naming;
    * an empty measurement uses the bare field key).
    */
  def influxLine(lines: DataFrame, defaultTsMs: Long): DataFrame =
    lines
      .select(influxLineUdf(col("line")).as("r"))
      .filter(col("r").isNotNull)
      .select(col("r.measurement").as("measurement"), col("r.tags").as("tags"),
        // ns → ms must be INTEGER division: `/` promotes to double, whose
        // 53-bit mantissa cannot hold ~1.7e18 ns and drifts by a few ms
        coalesce(expr("r.ts div 1000000L"), lit(defaultTsMs)).as("ts"),
        explode(col("r.fields")).as("f"))
      .select(
        when(col("measurement") === "", col("f.key"))
          .otherwise(concat(col("measurement"), lit("_"), col("f.key"))).as("name"),
        col("tags"), col("ts"), col("f.value").as("value"))

  // ---- Graphite plaintext line parser ---------------------------------
  // Reference-faithful scanner (lib/protoparser/graphite/parser.go:71-225):
  // value and timestamp split from the RIGHT (metric names and tag
  // names/values may contain spaces — issue 3102), timestamp optional
  // (float seconds, truncated), tags after ';' keep '=' inside values,
  // EMPTY keys or values drop (issue 1100), and the opt-in
  // `-graphite.sanitizeMetricName` transform collapses repeated dots and
  // replaces chars outside [a-zA-Z0-9:_.] with '_' on the metric and tag
  // KEYS only. Pinned by the ported parser_test.go corpus
  // (GraphiteLineGoldenSpec).

  private[sources] final case class GraphiteRow(
      name: String, tags: Map[String, String], ts: Option[Long], value: Double)

  private def graphiteSanitize(s: String): String =
    s.replaceAll("[.]+", ".").replaceAll("[^a-zA-Z0-9:_.]", "_")

  private def lastWs(s: String): Int = {
    var i = s.length - 1
    while (i >= 0) {
      if (s(i) == ' ' || s(i) == '\t') return i
      i -= 1
    }
    -1
  }

  private[sources] def parseGraphiteLine(
      line0: String, sanitize: Boolean = false): Option[GraphiteRow] = {
    var s = if (line0 != null && line0.nonEmpty && line0.last == '\r')
      line0.dropRight(1) else if (line0 == null) "" else line0
    s = promLtrim(s)
    if (s.isEmpty) return None
    s = promRtrim(s)
    val n1 = lastWs(s)
    if (n1 < 0) return None // no separator between value and timestamp
    var tsStr = s.substring(n1 + 1)
    val rest = promRtrim(s.substring(0, n1))
    val n2 = lastWs(rest)
    var valStr: String = null
    var mt: String = null
    if (n2 < 0) { // missing timestamp
      mt = promLtrim(rest); valStr = tsStr; tsStr = ""
    } else {
      mt = promLtrim(rest.substring(0, n2)); valStr = rest.substring(n2 + 1)
    }
    mt = promRtrim(mt)
    val semi = mt.indexOf(';')
    var metric = if (semi < 0) mt else mt.substring(0, semi)
    val tags = Map.newBuilder[String, String]
    if (semi >= 0) {
      mt.substring(semi + 1).split(";", -1).foreach { part =>
        val eq = part.indexOf('=')
        val (k0, v) = if (eq < 0) (part, "") else (part.substring(0, eq), part.substring(eq + 1))
        val k = if (sanitize) graphiteSanitize(k0) else k0
        if (k.nonEmpty && v.nonEmpty) tags += (k -> v)
      }
    }
    if (sanitize) metric = graphiteSanitize(metric)
    if (metric.isEmpty) return None
    val ts =
      if (tsStr.isEmpty) None
      else parseNum(tsStr) match {
        case Some(t) => Some(t.toLong) // float seconds truncate (carbon)
        case None => return None
      }
    parseNum(valStr).map(v => GraphiteRow(metric, tags.result(), ts, v))
  }

  private val graphiteLineUdf =
    udf { (line: String, sanitize: Boolean) => parseGraphiteLine(line, sanitize) }

  /** Graphite plaintext (lib/protoparser/graphite):
    * `metric.path[;tag=v…] value [timestamp_s]`; missing timestamps get
    * `defaultTsMs` (the insert layer's now-substitution).
    */
  def graphiteLine(lines: DataFrame, defaultTsMs: Long = 0L,
      sanitize: Boolean = false): DataFrame =
    lines
      .select(graphiteLineUdf(col("line"), lit(sanitize)).as("r"))
      .filter(col("r").isNotNull)
      .select(
        col("r.name").as("name"),
        col("r.tags").as("tags"),
        coalesce(col("r.ts") * 1000, lit(defaultTsMs)).as("ts"),
        col("r.value").as("value"))

  // ---- OpenTSDB telnet `put` parser ------------------------------------
  // Reference-faithful scanner (lib/protoparser/opentsdb/parser.go:58-187):
  // `put metric ts value [tag=v …]` with repeated spaces tolerated
  // between every token, fractional (Akumuli-style) timestamps
  // truncated, the tag list optional (issue 3290), tag values keeping
  // embedded '=', empty tag keys/values skipped but a tag WITHOUT '='
  // failing the row. Pinned by the ported parser_test.go corpus
  // (OpenTsdbLineGoldenSpec).

  private[sources] final case class OpenTsdbRow(
      name: String, tags: Map[String, String], ts: Long, value: Double)

  private[sources] def parseOpenTsdbLine(line0: String): Option[OpenTsdbRow] = {
    var s = if (line0 != null && line0.nonEmpty && line0.last == '\r')
      line0.dropRight(1) else if (line0 == null) "" else line0
    if (s.isEmpty) return None
    s = s.dropWhile(_ == ' ')
    if (!s.startsWith("put ")) return None
    s = s.substring(4).dropWhile(_ == ' ')
    val n1 = s.indexOf(' ')
    if (n1 < 0) return None // no whitespace between metric and timestamp
    val metric = s.substring(0, n1)
    if (metric.isEmpty) return None
    var tail = s.substring(n1 + 1).dropWhile(_ == ' ')
    val n2 = tail.indexOf(' ')
    if (n2 < 0) return None // no whitespace between timestamp and value
    val ts = parseNum(tail.substring(0, n2)) match {
      case Some(t) => t.toLong // fractional timestamps truncate
      case None => return None
    }
    tail = tail.substring(n2 + 1).dropWhile(_ == ' ')
    val n3 = tail.indexOf(' ')
    val (valueStr, tagsStr) =
      if (n3 < 0) (tail, "") else (tail.substring(0, n3), tail.substring(n3 + 1))
    val value = parseNum(valueStr).getOrElse(return None)
    val tags = Map.newBuilder[String, String]
    var t = tagsStr.dropWhile(_ == ' ')
    while (t.nonEmpty) {
      val n = t.indexOf(' ')
      val part = if (n < 0) t else t.substring(0, n)
      val eq = part.indexOf('=')
      if (eq < 0) return None // tag without '=' fails the row
      val k = part.substring(0, eq)
      val v = part.substring(eq + 1)
      if (k.nonEmpty && v.nonEmpty) tags += (k -> v)
      t = if (n < 0) "" else t.substring(n + 1).dropWhile(_ == ' ')
    }
    Some(OpenTsdbRow(metric, tags.result(), ts, value))
  }

  private val openTsdbLineUdf = udf { (line: String) => parseOpenTsdbLine(line) }

  /** OpenTSDB telnet put (lib/protoparser/opentsdb):
    * `put metric timestamp value [tag=v …]`; ts 0 → `defaultTsMs`, and
    * SECOND_MASK disambiguation scales second-resolution timestamps to
    * ms (streamparser.go:162-173).
    */
  def openTsdbLine(lines: DataFrame, defaultTsMs: Long = 0L): DataFrame =
    lines
      .select(openTsdbLineUdf(col("line")).as("r"))
      .filter(col("r").isNotNull)
      .select(
        col("r.name").as("name"),
        col("r.tags").as("tags"),
        when(col("r.ts") === 0L, lit(defaultTsMs))
          .when(col("r.ts").bitwiseAND(lit(0x7FFFFFFF00000000L)) === 0L,
            col("r.ts") * 1000)
          .otherwise(col("r.ts")).as("ts"),
        col("r.value").as("value"))

  /** OpenTSDB HTTP `/api/put` JSON (lib/protoparser/opentsdbhttp/
    * parser.go): a single `{metric, timestamp?, value, tags?}` object or
    * an array of them. `timestamp`/`value` accept numbers or numeric
    * strings (getFloat64); a missing timestamp becomes `defaultTsMs`;
    * seconds vs millis disambiguated by OpenTSDB's SECOND_MASK
    * (`ts & 0x7FFFFFFF00000000 == 0` → seconds, streamparser.go:68).
    * Input column: `body: string`.
    */
  def openTsdbHttp(bodies: DataFrame, defaultTsMs: Long): DataFrame = {
    val rowSchema = StructType(Seq(
      StructField("metric", S),
      StructField("timestamp", S),
      StructField("value", S),
      StructField("tags", MapType(S, S))))
    val wrapped = when(trim(col("body")).startsWith("["), col("body"))
      .otherwise(concat(lit("["), col("body"), lit("]")))
    // float timestamps truncate toward zero (parser.go getFloat64 → int64
    // conversion), not floor
    val tsRaw = tryDouble(col("r.timestamp")).cast(LongType)
    bodies
      .select(explode(from_json(wrapped, ArrayType(rowSchema))).as("r"))
      .select(
        col("r.metric").as("name"),
        // tags with an empty key OR empty value are dropped
        // (parser.go:73-78 "skip tags without keys" / "without values")
        map_filter(coalesce(col("r.tags"), map().cast(MapType(S, S))),
          (k, v) => k =!= "" && v =!= "").as("tags"),
        when(col("r.timestamp").isNull, lit(defaultTsMs))
          .when(tsRaw.bitwiseAND(0x7FFFFFFF00000000L) === 0L, tsRaw * 1000L)
          .otherwise(tsRaw).as("ts"),
        tryDouble(col("r.value")).as("value"))
      // empty metric is a parse error in the reference ("metric cannot
      // be empty"), as are unparsable timestamps/values
      .filter(col("name").isNotNull && col("name") =!= "" &&
        col("value").isNotNull && col("ts").isNotNull)
  }

  /** VM JSON-lines import format (/api/v1/import,
    * lib/protoparser/vmimport/parser.go): one JSON object per line with
    * parallel values/timestamps arrays:
    * {"metric":{"__name__":"m","l":"v"},"values":[…],"timestamps":[…]}.
    *
    * Reference-faithful strictness (r7b, pinned by the ported
    * TestRowsUnmarshal corpus in VmImportGoldenSpec): `metric` must be a
    * non-empty string map, values accept bare Inf/-Inf/NaN tokens (the
    * reference uses fastjson) plus the quoted "Infinity"/"NaN"/"null"
    * words and JSON null (all map to NaN/±Inf), timestamps must be
    * integers, array lengths must match and be non-zero, and trailing
    * garbage after the object fails the line.
    */
  private[sources] final case class ImportRow(
      tags: Map[String, String], values: Seq[Double], timestamps: Seq[Long])

  private[sources] def parseImportLine(line0: String): Option[ImportRow] = {
    val line = if (line0 == null) "" else line0.trim
    if (line.isEmpty) return None
    // fastjson accepts bare Inf/NaN; Jackson's non-numeric-numbers
    // feature wants Infinity — widen bare Inf tokens OUTSIDE strings
    val sb = new StringBuilder(line.length + 8)
    var i = 0
    var inStr = false
    while (i < line.length) {
      val c = line(i)
      if (inStr) {
        sb += c
        if (c == '\\' && i + 1 < line.length) { sb += line(i + 1); i += 1 }
        else if (c == '"') inStr = false
      } else if (c == '"') { sb += c; inStr = true }
      else if (c == 'I' && line.regionMatches(i, "Inf", 0, 3) &&
        !line.regionMatches(i, "Infinity", 0, 8)) { sb ++= "Infinity"; i += 2 }
      else sb += c
      i += 1
    }
    val mapper = LineFormats.importMapper
    val root =
      try mapper.readTree(sb.result())
      catch { case _: Exception => return None }
    if (root == null || !root.isObject) return None
    val metric = root.get("metric")
    if (metric == null || !metric.isObject || metric.isEmpty) return None
    val tags = Map.newBuilder[String, String]
    val it = metric.fields()
    while (it.hasNext) {
      val e = it.next()
      if (!e.getValue.isTextual) return None
      tags += (e.getKey -> e.getValue.asText())
    }
    val vs = root.get("values")
    val ts = root.get("timestamps")
    if (vs == null || !vs.isArray || ts == null || !ts.isArray) return None
    if (vs.size() != ts.size() || vs.size() == 0) return None
    val values = Seq.newBuilder[Double]
    var j = 0
    while (j < vs.size()) {
      val n = vs.get(j)
      if (n.isNumber) values += n.asDouble()
      else if (n.isNull) values += Double.NaN
      else if (n.isTextual) n.asText() match {
        case "Infinity" | "+Infinity" | "Inf" | "+Inf" =>
          values += Double.PositiveInfinity
        case "-Infinity" | "-Inf" => values += Double.NegativeInfinity
        case "NaN" | "nan" | "null" => values += Double.NaN
        case _ => return None
      }
      else return None
      j += 1
    }
    val stamps = Seq.newBuilder[Long]
    j = 0
    while (j < ts.size()) {
      val n = ts.get(j)
      if (!n.isIntegralNumber) return None
      stamps += n.asLong()
      j += 1
    }
    Some(ImportRow(tags.result(), values.result(), stamps.result()))
  }

  private val jsonImportUdf = udf { (line: String) => parseImportLine(line) }

  def jsonImport(lines: DataFrame): DataFrame =
    lines
      .select(jsonImportUdf(col("line")).as("j"))
      .filter(col("j").isNotNull)
      .select(
        col("j.tags").getItem("__name__").as("name"),
        map_filter(col("j.tags"), (k, _) => k =!= "__name__").as("tags"),
        explode(arrays_zip(col("j.timestamps").as("ts"),
          col("j.values").as("value"))).as("p"))
      .select(col("name"), col("tags"),
        col("p").getField("ts").as("ts"),
        col("p").getField("value").as("value"))

  /** DataDog /api/v1/series JSON bodies
    * (lib/protoparser/datadogv1/parser.go): `{"series":[{"metric":…,
    * "points":[[tsSec, v],…], "tags":["k:v",…], "host":…, "device":…}]}`.
    * Tags split at the FIRST colon; `host`/`device` become tags like the
    * reference's extra-label handling. Input column: `body: string`.
    */
  def datadogV1(bodies: DataFrame): DataFrame = {
    val schema = StructType(Seq(StructField("series", ArrayType(StructType(Seq(
      StructField("metric", S),
      StructField("host", S),
      StructField("device", S),
      StructField("points", ArrayType(ArrayType(DoubleType))),
      StructField("tags", ArrayType(S))))))))
    bodies
      .select(from_json(col("body"), schema).as("j"))
      .filter(col("j").isNotNull)
      .select(explode(col("j.series")).as("s"))
      .select(
        col("s.metric").as("name"),
        map_concat(
          map_from_entries(transform(
            coalesce(col("s.tags"), array().cast(ArrayType(S))),
            t => struct(
              substring_index(t, ":", 1).as("key"),
              when(t.contains(":"),
                regexp_replace(t, "^[^:]*:", "")).otherwise(lit("")).as("value")))),
          map_filter(
            map(lit("host"), coalesce(col("s.host"), lit("")),
              lit("device"), coalesce(col("s.device"), lit(""))),
            (_, v) => v =!= "")).as("tags"),
        explode(col("s.points")).as("p"))
      .filter(size(col("p")) >= 2)
      .select(col("name"), col("tags"),
        round(element_at(col("p"), 1) * 1000).cast(LongType).as("ts"),
        element_at(col("p"), 2).as("value"))
      .filter(col("name").isNotNull && col("value").isNotNull)
  }

  /** export as DataDog v1 JSON — one body per series (a valid
    * /api/v1/series payload; points carry epoch SECONDS like the agent).
    */
  def exportDatadogV1(samples: DataFrame): DataFrame =
    samples
      .withColumn("_tags", transform(array_sort(map_entries(col("tags"))),
        e => concat(e.getField("key"), lit(":"), e.getField("value"))))
      .groupBy(col("name"), col("_tags"))
      .agg(array_sort(collect_list(struct(col("ts"), col("value")))).as("pts"))
      .select(to_json(struct(array(struct(
        col("name").as("metric"),
        transform(col("pts"), p =>
          array(p.getField("ts").cast(DoubleType) / 1000.0, p.getField("value")))
          .as("points"),
        col("_tags").as("tags"))).as("series"))).as("body"))

  /** DataDog /api/v2/series JSON bodies (lib/protoparser/datadogv2/
    * parser.go: Series{metric, points[{timestamp,value}],
    * resources[{name,type}], source_type_name, tags}; row mapping per
    * app/vminsert/datadogv2/request_handler.go:35: each resource becomes a
    * (type → name) label, tag key `host` renames to `exported_host`,
    * source_type_name gets its own label; point timestamps are seconds).
    */
  def datadogV2(bodies: DataFrame): DataFrame = {
    val schema = StructType(Seq(StructField("series", ArrayType(StructType(Seq(
      StructField("metric", S),
      StructField("source_type_name", S),
      StructField("points", ArrayType(StructType(Seq(
        StructField("timestamp", LongType),
        StructField("value", DoubleType))))),
      StructField("resources", ArrayType(StructType(Seq(
        StructField("name", S),
        StructField("type", S))))),
      StructField("tags", ArrayType(S))))))))
    val resourceTags = map_from_entries(transform(
      coalesce(col("s.resources"),
        array().cast(ArrayType(StructType(Seq(
          StructField("name", S), StructField("type", S)))))),
      r => struct(r.getField("type").as("key"), r.getField("name").as("value"))))
    val splitTags = map_from_entries(transform(
      coalesce(col("s.tags"), array().cast(ArrayType(S))),
      t => {
        val k = substring_index(t, ":", 1)
        struct(
          when(k === "host", lit("exported_host")).otherwise(k).as("key"),
          when(t.contains(":"),
            regexp_replace(t, "^[^:]*:", "")).otherwise(lit("")).as("value"))
      }))
    val stn = map_filter(
      map(lit("source_type_name"), coalesce(col("s.source_type_name"), lit(""))),
      (_, v) => v =!= "")
    bodies
      .select(from_json(col("body"), schema).as("j"))
      .filter(col("j").isNotNull)
      .select(explode(col("j.series")).as("s"))
      .select(
        col("s.metric").as("name"),
        map_concat(resourceTags, splitTags, stn).as("tags"),
        explode(col("s.points")).as("p"))
      .select(col("name"), col("tags"),
        (col("p.timestamp") * 1000).as("ts"), col("p.value").as("value"))
      .filter(col("name").isNotNull && col("value").isNotNull)
  }

  /** export as DataDog v2 JSON — one /api/v2/series body per series */
  def exportDatadogV2(samples: DataFrame): DataFrame =
    samples
      .withColumn("_tags", transform(array_sort(map_entries(col("tags"))),
        e => concat(e.getField("key"), lit(":"), e.getField("value"))))
      .groupBy(col("name"), col("_tags"))
      .agg(array_sort(collect_list(struct(col("ts"), col("value")))).as("pts"))
      .select(to_json(struct(array(struct(
        col("name").as("metric"),
        transform(col("pts"), p => struct(
          (p.getField("ts") / 1000).cast(LongType).as("timestamp"),
          p.getField("value").as("value"))).as("points"),
        col("_tags").as("tags"))).as("series"))).as("body"))

  /** Zabbix real-time export lines (lib/protoparser/zabbixconnector/
    * parser.go:64 Row.unmarshal): NDJSON objects with host.host → `host`
    * label, host.name → `hostname` label, name → metric name, item_tags
    * → labels, ts = clock·1e3 + ns/1e6. `value` may be a JSON number or a
    * numeric string (getFloat64); non-numeric item values are dropped.
    */
  def zabbix(lines: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("host", StructType(Seq(
        StructField("host", S), StructField("name", S)))),
      StructField("name", S),
      StructField("value", S),
      StructField("clock", LongType),
      StructField("ns", LongType),
      StructField("item_tags", ArrayType(StructType(Seq(
        StructField("tag", S), StructField("value", S)))))))
    lines
      .select(from_json(col("line"), schema).as("j"))
      .filter(col("j").isNotNull && col("j.host.host").isNotNull &&
        col("j.name").isNotNull && col("j.clock").isNotNull)
      .select(
        col("j.name").as("name"),
        map_concat(
          map(lit("host"), col("j.host.host"),
            lit("hostname"), coalesce(col("j.host.name"), lit(""))),
          map_from_entries(transform(
            filter(
              coalesce(col("j.item_tags"), array().cast(ArrayType(StructType(Seq(
                StructField("tag", S), StructField("value", S)))))),
              t => t.getField("tag").isNotNull && t.getField("tag") =!= ""),
            t => struct(t.getField("tag").as("key"),
              coalesce(t.getField("value"), lit("")).as("value"))))).as("tags"),
        (col("j.clock") * 1000 +
          (coalesce(col("j.ns"), lit(0L)) / 1000000).cast(LongType)).as("ts"),
        expr("try_cast(j.value AS DOUBLE)").as("value"))
      .filter(col("value").isNotNull)
  }

  /** export as Zabbix connector NDJSON lines (one item value per line) */
  def exportZabbix(samples: DataFrame): DataFrame =
    samples.select(to_json(struct(
      struct(
        coalesce(col("tags").getItem("host"), lit("h1")).as("host"),
        coalesce(col("tags").getItem("hostname"),
          col("tags").getItem("host"), lit("h1")).as("name")).as("host"),
      col("name").as("name"),
      col("value").cast(S).as("value"),
      (col("ts") / 1000).cast(LongType).as("clock"),
      (pmod(col("ts"), lit(1000L)) * 1000000).cast(LongType).as("ns"),
      transform(
        filter(array_sort(map_entries(col("tags"))),
          e => !e.getField("key").isInCollection(Seq("host", "hostname"))),
        e => struct(e.getField("key").as("tag"), e.getField("value").as("value")))
        .as("item_tags"))).as("line"))

  /** NewRelic /newrelic/infra/v2/metrics/events/bulk JSON
    * (lib/protoparser/newrelic/parser.go:135 Row.unmarshal): the body is
    * an array of MetricPost objects, each carrying Events; within an
    * event object every STRING field becomes a label (empty values are
    * skipped), every NUMBER field becomes one sample named after the
    * field, and the `timestamp` number is the row timestamp (seconds →
    * ms when < 2³²). Field classification needs the raw JSON value types,
    * so this is a per-partition Jackson pass, like the protobuf decoders.
    */
  def newRelic(bodies: DataFrame): DataFrame = {
    val spark = bodies.sparkSession
    val schema = StructType(Seq(
      StructField("name", S),
      StructField("tags", MapType(S, S)),
      StructField("ts", LongType),
      StructField("value", DoubleType)))
    val rows = bodies.select(col("body").cast(S)).rdd.mapPartitions { it =>
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      it.flatMap { r =>
        try {
          val root = om.readTree(r.getString(0))
          val posts = (0 until root.size()).map(root.get)
          posts.iterator.flatMap { mp =>
            val events = mp.get("Events")
            if (events == null || !events.isArray) Iterator.empty
            else (0 until events.size()).iterator.map(events.get).flatMap { ev =>
              var ts = 0L
              val tags = Map.newBuilder[String, String]
              val samples = Seq.newBuilder[(String, Double)]
              val fields = ev.fields()
              while (fields.hasNext) {
                val e = fields.next()
                val k = e.getKey
                val v = e.getValue
                if (k.nonEmpty) {
                  if (v.isTextual) { if (v.asText.nonEmpty) tags += k -> v.asText }
                  else if (v.isNumber) {
                    if (k == "timestamp") {
                      val t = v.asDouble
                      ts = (if (t < (1L << 32)) t * 1e3 else t).toLong
                    } else samples += k -> v.asDouble
                  }
                }
              }
              val tagMap = tags.result()
              samples.result().map { case (n, v) =>
                org.apache.spark.sql.Row(n, tagMap, ts, v)
              }
            }
          }
        } catch { case _: Exception => Iterator.empty } // per-body tolerance
      }
    }
    spark.createDataFrame(rows, schema)
  }

  /** export as NewRelic events JSON — one MetricPost body per sample:
    * labels as string fields, timestamp and the named value as NUMBER
    * fields (the parser classifies by JSON value type, so to_json — which
    * stringifies everything — would turn them into labels). Assumes label
    * keys/values and metric names need no JSON escaping, which holds for
    * the exporter's own canonical samples.
    */
  def exportNewRelic(samples: DataFrame): DataFrame = {
    val tagFields = array_join(
      transform(array_sort(map_entries(col("tags"))),
        e => concat(lit("\""), e.getField("key"), lit("\":\""),
          e.getField("value"), lit("\""))), ",")
    samples.select(concat(
      lit("""[{"Events":[{"""),
      when(length(tagFields) > 0, concat(tagFields, lit(","))).otherwise(lit("")),
      lit("\"timestamp\":"), col("ts").cast(S), lit(","),
      lit("\""), col("name"), lit("\":"), col("value").cast(S),
      lit("}]}]")).as("body"))
  }

  /** CSV import (/api/v1/import/csv, lib/protoparser/csvimport): the
    * column→role mapping is the user-supplied format string; here the
    * caller names the metric/time columns and which columns are labels.
    */
  def csvImport(
      csv: DataFrame,
      timeCol: String,
      valueCols: Seq[String],
      labelCols: Seq[String]): DataFrame = {
    val tags = map_from_arrays(
      array(labelCols.map(lit): _*),
      array(labelCols.map(c => col(c).cast(S)): _*))
    val stacked = valueCols.map { vc =>
      csv.select(
        lit(vc).as("name"),
        tags.as("tags"),
        col(timeCol).cast(LongType).as("ts"),
        col(vc).cast(DoubleType).as("value"))
    }
    stacked.reduce(_ unionByName _).filter(col("value").isNotNull)
  }

  /** CSV header-row detection (csvimport/parser.go:85 isHeaderRow): the
    * request's first line is a header when any NON-EMPTY metric column
    * fails numeric parsing or any time column fails its timestamp
    * format — one bad cell is enough; label columns never trigger.
    */
  private[sources] def csvIsHeaderRow(line: String, format: String): Boolean = {
    val entries = format.split(',').toSeq.flatMap { ent =>
      val a = ent.split(":", 3)
      if (a.length == 3) a(0).trim.toIntOption.map(p => (p, a(1), a(2))) else None
    }
    val byPos = entries.map(e => e._1 -> e).toMap
    val cols = Seq.newBuilder[String]
    cols ++= splitCsvLine(line)
    def tsParses(ext: String, v: String): Boolean = ext match {
      case "unix_s" => v.toLongOption.exists(_ <= Long.MaxValue / 1000L)
      case "unix_ms" | "unix_ns" => v.toLongOption.isDefined
      case "rfc3339" =>
        try { java.time.OffsetDateTime.parse(v); true }
        catch { case _: Exception => false }
      case custom if custom.startsWith("custom:") =>
        try {
          goLayoutCache.computeIfAbsent(custom.stripPrefix("custom:"),
            goLayoutFormatter).parse(v); true
        } catch { case _: Exception => false }
      case _ => false
    }
    cols.result().zipWithIndex.exists { case (v, idx) =>
      byPos.get(idx + 1) match {
        case Some((_, tpe, ext)) if v.nonEmpty =>
          (tpe == "metric" && parseNum(v).isEmpty) ||
            (tpe == "time" && !tsParses(ext, v))
        case _ => false
      }
    }
  }

  /** minimal RFC-4180 field split (quotes + "" escapes; leading
    * whitespace before a quoted field tolerated like the reference's
    * scanner)
    */
  private[sources] def splitCsvLine(line: String): Seq[String] = {
    val cols = Seq.newBuilder[String]
    val cur = new StringBuilder
    var inQ = false
    var fieldStart = true
    var i = 0
    while (i < line.length) {
      val c = line(i)
      if (inQ) {
        if (c == '"' && i + 1 < line.length && line(i + 1) == '"') { cur += '"'; i += 1 }
        else if (c == '"') inQ = false
        else cur += c
      } else if (c == '"' && fieldStart && cur.result().forall(ch => ch == ' ' || ch == '\t')) {
        cur.clear(); inQ = true; fieldStart = false
      } else if (c == ',') { cols += cur.result(); cur.clear(); fieldStart = true }
      else { cur += c; if (c != ' ' && c != '\t') fieldStart = false }
      i += 1
    }
    cols += cur.result()
    cols.result()
  }

  private val csvColsUdf = udf { (line: String) =>
    if (line == null) Seq.empty[String] else splitCsvLine(line)
  }

  /** whole-request CSV import with the reference's first-line header
    * detection (streamparser.go:176-179): drop the first line when it
    * looks like a header, then parse the rest positionally.
    */
  def csvImportBody(spark: org.apache.spark.sql.SparkSession, body: String,
      format: String, defaultTsMs: Long): DataFrame = {
    import spark.implicits._
    val all = body.linesIterator.filter(_.nonEmpty).toSeq
    val lines =
      if (all.nonEmpty && csvIsHeaderRow(all.head, format)) all.tail else all
    csvImportFormatted(lines.toDF("line"), format, defaultTsMs)
  }

  /** minimal Go time-layout → java.time formatter (time.Parse semantics
    * for csvimport's `time:custom:<layout>` descriptors): the
    * reference-time tokens for year/month/day/hour/minute/second, Go's
    * `.9…` trailing-zero-trimmed optional fractions and `.0…` fixed
    * fractions, `Z07:00` ISO offsets, everything else literal. Wall
    * times without an offset are UTC, exactly like Go's time.Parse.
    */
  private def goLayoutFormatter(layout: String): java.time.format.DateTimeFormatter = {
    import java.time.temporal.ChronoField
    val b = new java.time.format.DateTimeFormatterBuilder
    var i = 0
    def starts(tok: String) = layout.regionMatches(i, tok, 0, tok.length)
    while (i < layout.length) {
      if (starts("2006")) { b.appendPattern("yyyy"); i += 4 }
      else if (starts("Jan")) { b.appendPattern("MMM"); i += 3 }
      else if (starts("01")) { b.appendPattern("MM"); i += 2 }
      else if (starts("02")) { b.appendPattern("dd"); i += 2 }
      else if (starts("15")) { b.appendPattern("HH"); i += 2 }
      else if (starts("04")) { b.appendPattern("mm"); i += 2 }
      else if (starts("05")) { b.appendPattern("ss"); i += 2 }
      else if (starts("Z07:00")) { b.appendOffset("+HH:MM", "Z"); i += 6 }
      else if (layout(i) == '.' && i + 1 < layout.length &&
        (layout(i + 1) == '9' || layout(i + 1) == '0')) {
        val digit = layout(i + 1)
        var j = i + 1
        while (j < layout.length && layout(j) == digit) j += 1
        val len = math.min(j - i - 1, 9)
        if (digit == '9') b.appendFraction(ChronoField.NANO_OF_SECOND, 0, len, true)
        else b.appendFraction(ChronoField.NANO_OF_SECOND, len, len, true)
        i = j
      } else { b.appendLiteral(layout(i)); i += 1 }
    }
    b.toFormatter(java.util.Locale.ROOT)
  }

  private val goLayoutCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.time.format.DateTimeFormatter]()

  private val goTimeUdf = udf { (s: String, layout: String) =>
    if (s == null || layout == null) None
    else try {
      val fmt = goLayoutCache.computeIfAbsent(layout, goLayoutFormatter)
      val ta = fmt.parse(s.trim)
      val instant =
        if (ta.isSupported(java.time.temporal.ChronoField.OFFSET_SECONDS))
          java.time.OffsetDateTime.from(ta).toInstant
        else java.time.LocalDateTime.from(ta).toInstant(java.time.ZoneOffset.UTC)
      Some(instant.toEpochMilli)
    } catch { case _: Exception => None }
  }

  /** /api/v1/import/csv with the reference's user-supplied `format` arg
    * (lib/protoparser/csvimport/column_descriptor.go:56
    * ParseColumnDescriptors): comma-separated `<pos>:<type>:<extension>`
    * entries, pos 1-based, type one of time|label|metric; time extensions
    * unix_s (int seconds), unix_ms, unix_ns (truncating integer ms), and
    * rfc3339. Rows parse through Spark's CSV reader (quoting-aware); one
    * sample per metric descriptor per row; no time column → `defaultTsMs`.
    * Format errors throw (the reference rejects the request); malformed
    * VALUES drop per-row, matching this object's tolerance convention.
    */
  /** csv line-frame parse for the streaming landing zone: each FILE in a
    * zone may start with a header row, but no special header pass is
    * needed — the per-cell tolerance already handles it (an unparseable
    * TIME cell drops the row; an unparseable METRIC cell drops just that
    * sample), so a header line contributes nothing while a data line with
    * one bad metric cell still lands its good samples — the same
    * per-sample behavior the HTTP body path has. (A whole-line
    * csvIsHeaderRow filter here dropped multi-metric data lines when any
    * single cell was bad.)
    */
  def csvImportLines(lines: DataFrame, format: String, defaultTsMs: Long): DataFrame =
    csvImportFormatted(lines.filter(col("line").isNotNull), format, defaultTsMs)

  def csvImportFormatted(lines: DataFrame, format: String, defaultTsMs: Long): DataFrame = {
    val entries = format.split(',').toSeq.zipWithIndex.map { case (ent, i) =>
      val a = ent.split(":", 3)
      if (a.length != 3) throw new IllegalArgumentException(
        s"entry #${i + 1} must have the following form: <column_pos>:<column_type>:<extension>; got $ent")
      val pos =
        try a(0).trim.toInt
        catch { case _: NumberFormatException => throw new IllegalArgumentException(
          s"cannot parse <column_pos> part from the entry #${i + 1} $ent") }
      if (pos <= 0) throw new IllegalArgumentException(
        s"<column_pos> cannot be smaller than 1; got $pos for entry #${i + 1} $ent")
      if (pos > 64 * 1024) throw new IllegalArgumentException(
        s"<column_pos> cannot be bigger than ${64 * 1024}; got $pos for entry #${i + 1} $ent")
      (pos, a(1), a(2))
    }
    entries.groupBy(_._1).collectFirst { case (p, es) if es.size > 1 =>
      throw new IllegalArgumentException(s"duplicate <column_pos> $p") }
    entries.find(e => e._2 != "time" && e._2 != "label" && e._2 != "metric").foreach(e =>
      throw new IllegalArgumentException(
        s"unknown <column_type>: ${e._2}; allowed values: time, metric, label"))
    entries.find(e => e._2 != "time" && e._3.isEmpty).foreach(e =>
      throw new IllegalArgumentException(s"${e._2} name cannot be empty in ${e._1}:${e._2}:"))
    val times = entries.filter(_._2 == "time")
    if (times.size > 1) throw new IllegalArgumentException(
      "format cannot contain more than a single `time` column")
    val metrics = entries.filter(_._2 == "metric")
    if (metrics.isEmpty) throw new IllegalArgumentException(s"missing 'metric' column in $format")
    val labels = entries.filter(_._2 == "label")

    // RFC-4180 split with per-row column counts: a row narrower than the
    // highest descriptor position is INVALID and drops whole
    // (parser.go scanner: missing column = row error), unlike an empty
    // cell which only drops its own sample
    val maxPos = entries.map(_._1).max
    val csv = lines
      .select(csvColsUdf(col("line")).as("_cols"))
      .filter(size(col("_cols")) >= maxPos)
    def c(pos: Int): Column = element_at(col("_cols"), pos)
    val intRe = """^[+-]?\d+$"""
    def tryLong(x: Column): Column = when(x.rlike(intRe), x.cast(LongType))
    val tsFinal: Column = times.headOption.map { case (pos, _, ext) =>
      ext match {
        case "unix_s" => // overflow guard (column_descriptor.go:147)
          val n = tryLong(c(pos))
          when(n <= Long.MaxValue / 1000L, n * 1000L)
        case "unix_ms" => tryLong(c(pos))
        case "unix_ns" => // integer-truncating ns→ms (the reference's n / 1e6 on int64)
          expr(s"try_cast(element_at(_cols, $pos) as bigint) div 1000000")
        case "rfc3339" =>
          unix_millis(expr(s"try_to_timestamp(element_at(_cols, $pos))"))
        case custom if custom.startsWith("custom:") =>
          goTimeUdf(c(pos), lit(custom.stripPrefix("custom:")))
        case other => throw new IllegalArgumentException(
          s"unknown format for time parsing: $other; supported formats: unix_s, unix_ms, unix_ns, rfc3339, custom:<layout>")
      }
    }.getOrElse(lit(defaultTsMs))
    val tags =
      if (labels.isEmpty) typedLit(Map.empty[String, String])
      else map_from_arrays(
        array(labels.map(l => lit(l._3)): _*),
        array(labels.map(l => coalesce(c(l._1).cast(S), lit(""))): _*))
    metrics.map { case (pos, _, name) =>
      csv.select(
        lit(name).as("name"),
        tags.as("tags"),
        tsFinal.cast(LongType).as("ts"),
        tryDouble(c(pos)).as("value"))
    }.reduce(_ unionByName _).filter(col("value").isNotNull && col("ts").isNotNull)
  }

  // ------------------------------------------------------------------
  // exports (SURVEY §2.0: /api/v1/export JSON-lines / prom text)
  // ------------------------------------------------------------------

  /** export samples as VM JSON-lines: one object per series with sorted
    * parallel arrays (app/vmselect/prometheus/prometheus.go:323
    * ExportHandler format). Returns a one-column (`line`) DataFrame.
    */
  /** per-series frames for the export APIs: `(metric map, ts-sorted pts)`,
    * one row per series — ONE hash aggregation at series cardinality
    */
  def exportSeriesFrames(samples: DataFrame): DataFrame = {
    val metric = map_concat(
      when(col("name").isNotNull, map(lit("__name__"), col("name")))
        .otherwise(SeriesId.NoTags),
      coalesce(col("tags"), SeriesId.NoTags))
    SeriesId.withPair(samples)
      .withColumn("_metric", metric)
      .groupBy(SeriesId.Keys.map(col): _*)
      .agg(
        first("_metric").as("metric"),
        array_sort(collect_list(struct(col("ts"), col("value")))).as("pts"))
      .select("metric", "pts")
  }

  def exportJsonLines(samples: DataFrame, maxRowsPerLine: Int = 0): DataFrame = {
    val frames = exportSeriesFrames(samples)
    // max_rows_per_line (prometheus.go exportHandler): split one series'
    // samples across several self-contained lines of <= N points each, so
    // a consumer never has to buffer an unbounded values array
    val chunked =
      if (maxRowsPerLine <= 0) frames
      else frames.select(col("metric"), explode(transform(
        sequence(lit(0),
          floor((size(col("pts")) - 1) / lit(maxRowsPerLine)).cast("int")),
        i => slice(col("pts"), i * maxRowsPerLine + 1, lit(maxRowsPerLine))))
        .as("pts"))
    chunked.select(to_json(struct(
      col("metric"),
      transform(col("pts"), _.getField("value")).as("values"),
      transform(col("pts"), _.getField("ts")).as("timestamps"))).as("line"))
  }

  /** export as Prometheus text lines: `name{l="v",…} value ts` */
  def exportPromText(samples: DataFrame): DataFrame =
    samples.select(concat(
      coalesce(col("name"), lit("")),
      when(size(map_entries(col("tags"))) > 0, concat(
        lit("{"),
        array_join(transform(array_sort(map_entries(col("tags"))),
          e => concat(e.getField("key"), lit("=\""), e.getField("value"), lit("\""))), ","),
        lit("}"))).otherwise(lit("")),
      lit(" "), col("value").cast(S), lit(" "), col("ts").cast(S)).as("line"))

  /** /api/v1/export/csv lines (app/vmselect/prometheus/export.qtpl
    * ExportCSVLine): one output row per sample, fields per the `format`
    * arg — `__value__`, `__timestamp__` (unix ms) with
    * `:unix_s`/`:unix_ms`/`:unix_ns`/`:rfc3339` variants, `__name__`,
    * or a label name. Field values containing quote/comma/newline are
    * quoted with JSON escaping, exactly the reference's `%qz` branch.
    * Go `custom:` layouts aren't translatable to Spark patterns; they
    * fall into the reference's own `Unsupported timeFormat=` branch.
    * Pure column expressions — codegen'd, no shuffle.
    */
  def exportCsv(samples: DataFrame, fieldNames: Seq[String]): DataFrame = {
    def quoted(v: Column): Column = {
      val esc = regexp_replace(regexp_replace(regexp_replace(
        v, "\\\\", "\\\\\\\\"), "\"", "\\\\\""), "\n", "\\\\n")
      when(v.rlike("[\",\n]"), concat(lit("\""), esc, lit("\""))).otherwise(v)
    }
    // rfc3339Milli: fractional millis with trailing zeros (and the dot,
    // when 0 ms) dropped; session timezone is UTC so the offset is "Z"
    def rfc3339: Column = concat(
      date_format(timestamp_millis(col("ts")), "yyyy-MM-dd'T'HH:mm:ss"),
      when(pmod(col("ts"), lit(1000)) === 0, lit("")).otherwise(
        regexp_replace(format_string(".%03d", pmod(col("ts"), lit(1000))), "0+$", "")),
      lit("Z"))
    def field(fn: String): Column = fn match {
      case "__value__" => col("value").cast(S)
      case "__timestamp__" | "__timestamp__:unix_ms" => col("ts").cast(S)
      case "__timestamp__:unix_s" => floor(col("ts") / 1000).cast("long").cast(S)
      case "__timestamp__:unix_ns" => (col("ts") * 1000000L).cast(S)
      case "__timestamp__:rfc3339" => rfc3339
      case t if t.startsWith("__timestamp__:") =>
        lit(s"Unsupported timeFormat=${t.stripPrefix("__timestamp__:")}")
      case "__name__" => quoted(coalesce(col("name"), lit("")))
      case label => quoted(coalesce(col("tags").getItem(label), lit("")))
    }
    samples.select(
      concat_ws(",", fieldNames.map(field): _*).as("line"),
      col("ts"))
  }

  /** /federate: the latest sample per series in the window, as prom text
    * (app/vmselect/prometheus/prometheus.go:113).
    */
  def federate(samples: DataFrame): DataFrame = {
    val keyed = SeriesId.canonical(samples)
    val key = SeriesId.Keys
    // Two HashAggregate passes instead of one max(struct)+first(map)
    // aggregate: struct/map aggregation buffers are not UnsafeRow-mutable,
    // so the one-pass form ran as SortAggregate — a full sort of the
    // scan (opt r13). Pass 1 finds each series' max ts; pass 2 keeps the
    // max value among that ts's rows — exactly max(struct(ts, value)).
    val maxTs = keyed.groupBy(key.map(col): _*).agg(max(col("ts")).as("ts"))
    val latest = graft.core.Exemplar.groupByWith(
        keyed.join(maxTs, key :+ "ts"),
        (key :+ "ts").map(col), Seq("tags"))(
        Seq(max(col("value")).as("value")))
      .select(col("name"), col("tags"), col("ts"), col("value"))
    exportPromText(latest)
  }
}
