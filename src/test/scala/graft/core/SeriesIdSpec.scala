package graft.core

import graft.SparkSpec
import graft.alerting.Rules
import graft.api.{Api, GraphiteHttp, Json}
import graft.graphite.{GraphiteCtx, GraphiteModel}
import graft.pipeline.Dedup
import graft.sources.LineFormats
import graft.streaming.StreamAggr
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Series identity through [[SeriesId]] at every site that keys on it.
  *
  * Parity: one frame of edge cases (an empty name; an empty label set;
  * the same labels inserted in different orders; label values holding
  * `"`, `\`, `;`, `=`, `,`, `{` and non-BMP characters) runs through each
  * site, and each answer must equal the same site keyed the old way — by
  * the JSON string of the sorted tag entries (Graphite: the canonical
  * path), written out below. Null names and null tags are left out of
  * the parity frame: the old string key was null there, which is the
  * fault the null-tag cases at the end pin.
  */
class SeriesIdSpec extends SparkSpec {

  private val t0 = 1704067200000L
  private val Step = 10000L

  /** the old string key: name + JSON of the sorted entries */
  private def jsonKey(name: Column, tags: Column): Column =
    concat(coalesce(name, lit("")), to_json(array_sort(map_entries(tags))))

  private val entryType = "array<struct<key:string,value:string>>"

  private type Tags = Map[String, String]

  /** series definitions: (name, label sets — one per insertion order —
    * and the base value); sample k of a series goes to label set
    * k % sets.size, so a series with two insertion orders is only whole
    * when both orders key alike
    */
  private val defs: Seq[(String, Seq[Tags], Double)] = Seq(
    ("up", Seq(Map("job" -> "api", "inst" -> "a"), Map("inst" -> "a", "job" -> "api")), 1.0),
    ("up", Seq(Map("job" -> "web")), 10.0),
    ("up", Seq(Map.empty[String, String]), 20.0),
    ("up", Seq(Map("v" -> "a\"b\\c;d=e,f{g}", "k" -> "1")), 30.0),
    ("", Seq(Map("job" -> "api")), 40.0),
    ("m😀", Seq(Map("emoji" -> "𝄞x", "k" -> "v"),
      Map("k" -> "v", "emoji" -> "𝄞x")), 50.0),
    ("q\"uote{", Seq(Map("a" -> "x,y", "b" -> "=")), 60.0))

  private lazy val edge: DataFrame = {
    val s = spark
    import s.implicits._
    defs.flatMap { case (n, sets, base) =>
      (0 until 6).map(k => (n, sets(k % sets.size), t0 + k * Step, base + k))
    }.toDF("name", "tags", "ts", "value")
  }

  /** a row as comparable values: maps become Scala maps */
  private def norm(r: Row): Seq[Any] = r.toSeq.map {
    case m: scala.collection.Map[_, _] => m.toMap
    case null => null
    case v => v
  }

  private def bag(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(norm).groupBy(identity).map { case (k, v) => k -> v.size }

  private def same(got: DataFrame, want: DataFrame, site: String): Unit = {
    val (g, w) = (bag(got), bag(want))
    assert(g == w, s"$site: got $g, want $w")
  }

  test("parity: series, series/count and tsdb status") {
    same(Api.series(edge, "", 0L, Long.MaxValue / 2),
      graft.core.Exemplar.distinctWith(
        edge.withColumn("_sk", jsonKey(col("name"), col("tags"))), Seq("_sk"), Seq("name", "tags"))
        .select("name", "tags"),
      "series")
    val n = edge.select(jsonKey(col("name"), col("tags"))).distinct().count()
    assert(n == defs.size)
    assert(Api.seriesCount(edge).collect().head.getLong(0) == n)
    same(Api.tsdbStatus(edge, topN = 100),
      edge.groupBy(col("name"))
        .agg(countDistinct(jsonKey(col("name"), col("tags"))).as("series_count")),
      "tsdb status")
    assert(Api.tsdbStatusJson(edge).contains(s""""totalSeries":$n,"""))
  }

  test("parity: federate") {
    val keyed = edge.withColumn("_sk", jsonKey(col("name"), col("tags")))
    val maxTs = keyed.groupBy("_sk").agg(max(col("ts")).as("ts"))
    val latest = keyed.join(maxTs, Seq("_sk", "ts"))
      .select(col("name"), col("tags"), col("ts"), col("value"))
    same(LineFormats.federate(edge), LineFormats.exportPromText(latest), "federate")
  }

  test("parity: select-time dedup and the stream deduplicator") {
    val iv = 20000L
    val tj = to_json(array_sort(map_entries(coalesce(col("tags"), map()))))
    same(Dedup.dedupNamedSamples(edge, iv),
      Dedup.dedupSamples(edge.withColumn("_tj", tj), Seq("name", "_tj"), iv)
        .select(col("name"), map_from_entries(from_json(col("_tj"), lit(entryType))).as("tags"),
          col("ts"), col("value")),
      "dedupNamedSamples")
    same(StreamAggr.deduplicatorBatch(edge, iv),
      edge.withColumn("_sk", jsonKey(col("name"), col("tags")))
        .withColumn("_bkt", expr(s"(ts div ${iv}L) * ${iv}L"))
        .groupBy(col("_sk"), col("_bkt"))
        .agg(max_by(struct(col("name"), col("tags"), col("ts"), col("value")),
          struct(col("ts"), col("value"))).as("_w"))
        .select(col("_w.name").as("name"), col("_w.tags").as("tags"),
          col("_w.ts").as("ts"), col("_w.value").as("value")),
      "deduplicatorBatch")
  }

  test("parity: stream aggregation groups") {
    val iv = 30000L
    val cfg = StreamAggr.Config(iv, outputs = Seq("sum_samples", "count_series"))
    val got = StreamAggr.aggregateBatch(edge, cfg)
    // the output name is the input name plus a per-output suffix
    val suffix = (out: String) => {
      val probe = edge.limit(1).withColumn("name", lit("x"))
      StreamAggr.aggregateBatch(probe, cfg.copy(outputs = Seq(out)))
        .collect().head.getString(0).stripPrefix("x")
    }
    val gt = to_json(array_sort(map_entries(col("tags"))))
    val wide = edge
      .withColumn("t", expr(s"(ts div ${iv}L) * ${iv}L + ${iv}L"))
      .groupBy(coalesce(col("name"), lit("")).as("n"), gt.as("_gt"), col("t"))
      .agg(sum(col("value")).as("s"),
        size(collect_set(jsonKey(col("name"), col("tags")))).cast("double").as("c"))
      .withColumn("tags", map_from_entries(from_json(col("_gt"), lit(entryType))))
    val want = wide.select(concat(col("n"), lit(suffix("sum_samples"))).as("name"),
        col("tags"), col("t"), col("s").as("value"))
      .unionByName(wide.select(concat(col("n"), lit(suffix("count_series"))).as("name"),
        col("tags"), col("t"), col("c").as("value")))
    same(got, want, "aggregateBatch")
  }

  test("parity: alert series state") {
    val forMs = 20000L
    val rule = Rules.Rule(alert = "A", expr = "up", forMs = forMs)
    val res = edge.withColumnRenamed("ts", "t")
    val got = Rules.alertSeries(res, rule, "", Step)
    val w = Window.partitionBy(col("_sk")).orderBy(col("t"))
    val prevT = lag(col("t"), 1).over(w)
    val staged = res
      .withColumn("_sk", jsonKey(col("name"), col("tags")))
      .withColumn("_seg", sum(when(prevT.isNull || col("t") - prevT > Step, 1L)
        .otherwise(0L)).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("_activeAt", min(col("t")).over(Window.partitionBy(col("_sk"), col("_seg"))))
      .withColumn("_al", map_concat(col("tags"), map(lit("alertname"), lit("A"))))
    val want = staged.select(lit("ALERTS").as("name"),
        map_concat(col("_al"), map(lit("alertstate"),
          when(col("t") - col("_activeAt") >= forMs, "firing").otherwise("pending"))).as("tags"),
        col("t"), lit(1.0).as("value"))
      .unionByName(staged.select(lit("ALERTS_FOR_STATE").as("name"), col("_al").as("tags"),
        col("t"), floor(col("_activeAt") / 1000).cast("double").as("value")))
    same(got, want, "alertSeries")
  }

  test("parity: the unique-series limit counts what the old key counted") {
    val grid = GridSpec(t0 + 6 * Step, t0 + 6 * Step, Step)
    val q = "count_over_time(up[1h])"
    val n = edge.filter(col("name") === "up")
      .select(jsonKey(col("name"), col("tags"))).distinct().count()
    assert(n == 4)
    try {
      StorageLimits.maxUniqueTimeseries = n
      assert(graft.Engine.query(edge, q, grid).count() == n)
      StorageLimits.maxUniqueTimeseries = n - 1
      val e = intercept[IllegalArgumentException](graft.Engine.query(edge, q, grid).count())
      assert(e.getMessage.contains(s"the number of matching timeseries exceeds ${n - 1}"))
    } finally StorageLimits.maxUniqueTimeseries = 0L
  }

  test("parity: a Graphite fetch and /tags/findSeries") {
    def canonical(name: Column, tags: Column): Column = concat(name, coalesce(array_join(
      transform(array_sort(map_entries(tags)),
        e => concat(lit(";"), e.getField("key"), lit("="), e.getField("value"))), ""), lit("")))
    val end = t0 + 6 * Step
    val ctx = GraphiteCtx(spark, edge, t0, end, Step, nowMs = end)
    val got = GraphiteModel.fetch(ctx, col("name").rlike("^[^.]*$"), "*").df
    val sid = canonical(col("name"), col("tags"))
    // every series on the whole grid, once per point
    same(got.groupBy("sid").agg(count(lit(1)).as("n")),
      edge.select(sid.as("sid")).distinct().withColumn("n", lit(6L)), "fetch grid")
    // one sample per bucket: each point is that sample's value
    same(got.filter(!isnan(col("value")))
        .select(col("sid"), col("ord"), col("name"), col("tags"), col("pathExpr"),
          col("t"), col("value")),
      edge.withColumn("sid", sid)
        .withColumn("ord", dense_rank().over(Window.orderBy(col("sid"))).cast("long"))
        .select(col("sid"), col("ord"), col("name"),
          map_concat(map(lit("name"), col("name")), col("tags")).as("tags"),
          lit("*").as("pathExpr"), col("ts").as("t"), col("value")),
      "fetch points")
    val exprs = Seq("name=~.*")
    val paths = edge.filter(GraphiteModel.tagExprPredicate(exprs)).select(sid).distinct()
      .collect().map(_.getString(0)).sorted
    assert(GraphiteHttp.findSeriesJson(spark, edge, exprs) ==
      paths.map(Json.str).mkString("[", ",", "]"))
  }

  // ---- null tags are the empty label set (each case fails on a null key)

  private lazy val nullTags: DataFrame = {
    val s = spark
    import s.implicits._
    Seq(
      ("a", None, t0, 1.0),
      ("b", None, t0 + Step, 2.0),
      ("a", Some(Map.empty[String, String]), t0 + 2 * Step, 3.0),
      ("a", Some(Map("k" -> "v")), t0, 4.0))
      .toDF("name", "tags", "ts", "value")
  }

  test("null tags: /api/v1/series lists a{} once") {
    val names = Api.series(nullTags, "", 0L, Long.MaxValue / 2).collect().map(_.getString(0))
    assert(names.sorted.toSeq == Seq("a", "a", "b"))
  }

  test("null tags: /federate keeps each null-tag series") {
    val lines = Api.federate(nullTags, "", 0L, Long.MaxValue / 2)
      .collect().map(_.getString(0)).sorted.toSeq
    assert(lines == Seq(s"a 3.0 ${t0 + 2 * Step}", s"a{k=\"v\"} 4.0 $t0", s"b 2.0 ${t0 + Step}"))
  }

  test("null tags: /api/v1/series/count counts them") {
    assert(Api.seriesCount(nullTags).collect().head.getLong(0) == 3L)
  }

  test("null tags: /api/v1/status/tsdb counts them") {
    val top = Api.tsdbStatus(nullTags).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(top == Map("a" -> 2L, "b" -> 1L))
    assert(Api.tsdbStatusJson(nullTags).contains(""""totalSeries":3,"""))
  }

  test("null tags: -search.maxUniqueTimeseries counts them") {
    // a, a{k="v"} and b: three series over a limit of two
    val grid = GridSpec(t0 + 3 * Step, t0 + 3 * Step, Step)
    try {
      StorageLimits.maxUniqueTimeseries = 2L
      val e = intercept[IllegalArgumentException](graft.Engine.query(
        nullTags, """count_over_time({__name__=~"a|b"}[1h])""", grid).count())
      assert(e.getMessage.contains("the number of matching timeseries exceeds 2"))
    } finally StorageLimits.maxUniqueTimeseries = 0L
  }

  // ---- one owner: no other main source builds a key from map_entries

  test("only SeriesId turns map_entries into a JSON or hash key") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"${root.getAbsolutePath} not found")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
        .filter(_.getName.endsWith(".scala"))
    val sorted = """(?:array_sort|sort_array)\(\s*map_entries"""
    // a key function applied to map_entries, directly or to its sorted form
    val direct = s"""(?:to_json|from_json|xxhash64)\\(\\s*(?:$sorted|map_entries)""".r
    // the JSON form parsed back into entries
    val parsed = """from_json\([^;]{0,200}?array<struct<key:string,value:string>>""".r
    val bound = s"""val\\s+(\\w+)\\s*=\\s*$sorted""".r
    val hits = files(root).filterNot(_.getPath.endsWith("core/SeriesId.scala")).flatMap { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      // an entries value bound to a name, then hashed or rendered
      val viaName = bound.findAllMatchIn(text).flatMap { m =>
        s"""(?:to_json|xxhash64)\\(\\s*${m.group(1)}\\b""".r.findAllMatchIn(text)
      }
      (direct.findAllMatchIn(text) ++ parsed.findAllMatchIn(text) ++ viaName).map { m =>
        s"${f.getPath}:${text.substring(0, m.start).count(_ == '\n') + 1}"
      }
    }
    assert(hits.isEmpty,
      s"series keys built outside core/SeriesId.scala: ${hits.distinct.sorted.mkString(", ")}")
  }
}
