package graft.operators

import graft.SparkSpec
import graft.core.{GridSpec, Samples}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan assertions: the scale properties README claims are
  * checked against `.explain` output, not taken on faith — filter
  * pushdown to the Parquet scan, broadcast joins for dims, and the
  * no-range-join guarantee of the rollup bucketizer.
  */
class PlanSpec extends SparkSpec {

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("selector filters are pushed down to the parquet scan") {
    val df = Samples.table(spark, sfDir, "events")
      .filter(col("event_type") === "click")
      .select("event_type", "value")
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(event_type), EqualTo(event_type,click)]"),
      s"expected pushed filters in:\n$p")
  }

  test("column pruning reaches the scan (2-column projection)") {
    val df = Samples.table(spark, sfDir, "lineitem").select("l_orderkey", "l_quantity")
    val p = plan(df)
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"expected pruned ReadSchema in:\n$p")
  }

  test("rollup plan: map-side explode + hash aggregate, no nested-loop join") {
    val grid = GridSpec(1704067200000L, 1704153600000L, 3600000L)
    val df = Rollup.rollup(
      Samples.eventsFlat(spark, sfDir), Seq("name"), grid, 3600000L, Kernels.avg)
    val p = plan(df)
    assert(p.contains("HashAggregate"), s"expected HashAggregate in:\n$p")
    assert(p.contains("Generate explode"), s"expected map-side explode in:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"rollup must not plan a nested-loop/cartesian join:\n$p")
  }

  test("snowflake dim join broadcasts the small side") {
    val li = Samples.table(spark, sfDir, "lineitem")
    val sup = Samples.table(spark, sfDir, "supplier")
    val nat = Samples.table(spark, sfDir, "nation")
    val dims = sup.join(nat, col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    val q = li.join(broadcast(dims), col("l_suppkey") === col("s_suppkey"))
      .groupBy("n_name").agg(sum("l_quantity"))
    val p = plan(q)
    assert(p.contains("BroadcastHashJoin"), s"expected BroadcastHashJoin in:\n$p")
    assert(!p.contains("SortMergeJoin"), s"dim join must not sort-merge:\n$p")
  }

  test("rollup aggregation is partial+final (map-side combine)") {
    val grid = GridSpec(1704067200000L, 1704153600000L, 3600000L)
    val df = Rollup.rollup(
      Samples.eventsFlat(spark, sfDir), Seq("name"), grid, 3600000L, Kernels.sum)
    val p = plan(df)
    // two HashAggregate nodes around the exchange = partial + final
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final HashAggregate pair in:\n$p")
  }

  test("two-level rollup engages at window >> step: no per-sample explode") {
    val grid = GridSpec(1704067200000L, 1704153600000L, 60000L)
    val df = Rollup.rollup( // 12h window / 1m step = ratio 720
      Samples.eventsFlat(spark, sfDir), Seq("name"), grid, 12 * 3600000L, Kernels.max)
    val p = plan(df)
    // any explode must sit ABOVE the level-1 per-bucket aggregate (it fans
    // out bucket PARTIALS, bounded by buckets × ratio); the level-1 frame
    // shows as an Aggregate, or as the checkpointed RDD scan the strategy
    // choice materialized. The bucketize path's Generate reads the raw
    // parquet/sample scan directly.
    val afterLastExplode = p.substring(p.lastIndexOf("Generate explode"))
    assert(!p.contains("Generate explode") ||
      afterLastExplode.contains("Aggregate(") ||
      afterLastExplode.contains("Scan ExistingRDD"),
      s"two-level path must not explode raw samples:\n$p")
  }

  test("counter two-level merge is hash-aggregated and never re-keys exploded rows") {
    import spark.implicits._
    val grid = GridSpec(0L, 2000L * 60000L, 60000L)
    // one hot series with 1000 dense minute buckets; 5 cold series with 1
    // sample each — the round-7 probe re-keyed this shape by (series,
    // bucket t), but the bucket t is consumed by the explode, so the
    // merge aggregate then needed a fresh (series, window t) exchange
    // over the buckets×ratio EXPLODED frame (measured: 86 GB spilled per
    // stage on the 10× hot dataset). Round 8 invariant: the only
    // exchange in the counter plan is the bucket-scale series re-key
    // that restores clustering after the fill checkpoint — nothing
    // data- or explode-scale shuffles, and the merge runs as a
    // codegen'd HashAggregate (min_by/max_by over the row number), never
    // a SortAggregate over the exploded rows.
    val hotRows = (0 until 1000).map(i => ("hot", 1L, i * 60000L + 1L, i.toDouble))
    val coldRows = (1 to 5).map(u => ("cold", u.toLong, 60001L, 1.0))
    val skewed = (hotRows ++ coldRows).toDF("name", "user_id", "ts", "value")
    def checkPlan(pl: String, label: String): Unit = {
      // no exchange keyed by (series, t): neither the round-7 explicit
      // re-key nor an ENSURE_REQUIREMENTS shuffle of the exploded frame
      val exchangedOnT = pl.linesIterator.exists(l =>
        (l.contains("REPARTITION_BY_COL") || l.contains("ENSURE_REQUIREMENTS")) &&
          "hashpartitioning\\(name#\\d+, user_id#\\d+L?, t#\\d+L?".r.findFirstIn(l).isDefined)
      assert(!exchangedOnT,
        s"$label counter rollup must not shuffle merge rows by (series, t):\n$pl")
      assert(!pl.contains("SortAggregate"),
        s"$label counter merge must stay a HashAggregate (no sort fallback):\n$pl")
    }
    checkPlan(plan(Rollup.rollup(skewed, Seq("name", "user_id"), grid,
      12 * 3600000L, Kernels.increasePrev(300000L), lookbackMs = 300000L)), "skewed")
    val uniRows = for (u <- 1 to 6; i <- 0 until 100)
      yield ("m", u.toLong, i * 60000L + 1L, i.toDouble)
    val uni = uniRows.toDF("name", "user_id", "ts", "value")
    checkPlan(plan(Rollup.rollup(uni, Seq("name", "user_id"), grid,
      12 * 3600000L, Kernels.increasePrev(300000L), lookbackMs = 300000L)), "uniform")
  }

  test("select-time dedup reads the store ONCE, HashAggregate-only, no restore join") {
    // the -dedup.minScrapeInterval read path (dedupNamedSamples): name and
    // the sorted tag entries are grouping keys, so the plan must show no
    // SortAggregate (struct buffers), no join (tag restore), and exactly
    // one parquet scan (the r8 shape scanned the store twice)
    val df = graft.pipeline.Dedup.dedupNamedSamples(
      Samples.fromEvents(spark, sfDir), 6 * 3600000L)
    val p = plan(df)
    assert(!p.contains("SortAggregate"), s"dedup must not SortAggregate:\n$p")
    assert(p.contains("HashAggregate"), s"expected HashAggregate in:\n$p")
    assert(!p.contains("Join"), s"dedup must not pay a restore join:\n$p")
    assert("FileScan".r.findAllIn(p).size == 1,
      s"dedup read path must scan the store exactly once:\n$p")
  }

  test("a Graphite fetch hashes samples on (name, _h1, _h2), builds paths per series, scans once") {
    import org.apache.spark.sql.catalyst.expressions.ArrayJoin
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    val start = 1704067200000L
    val end = start + 30 * 86400000L
    val ctx = graft.graphite.GraphiteCtx(spark, Samples.fromEvents(spark, sfDir),
      start, end, 86400000L, nowMs = end)
    val df = graft.graphite.GraphiteModel.fetch(ctx,
      graft.graphite.GraphiteModel.globPredicate("click"), "click").df
    val (rows, started) = org.apache.spark.JobCounter.during(spark.sparkContext) {
      df.collect()
    }
    assert(rows.nonEmpty, "the fetch returned no rows")
    assert(started.fileScans == 1, s"the fetch scanned the store ${started.fileScans} times")
    val initial = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    def has(p: SparkPlan)(f: PartialFunction[SparkPlan, Unit]): Boolean =
      p.collectFirst(f).nonEmpty
    // data-scale: an exchange fed by the scan with no exchange between
    val dataScale = initial.collect {
      case e: ShuffleExchangeExec if has(e.child) { case _: FileSourceScanExec => } &&
          !has(e.child) { case _: ShuffleExchangeExec => } => e
    }
    assert(dataScale.nonEmpty, s"no data-scale exchange in:\n$initial")
    dataScale.foreach { e =>
      val keys = e.outputPartitioning match {
        case h: HashPartitioning => h.expressions.flatMap(_.references.map(_.name))
        case other => fail(s"data-scale exchange is not a hash partitioning: $other")
      }
      assert(keys.toSet == Set("name", "_h1", "_h2"),
        s"data-scale exchange hashes on $keys, want (name, _h1, _h2):\n$initial")
    }
    // the canonical path is built above the series-meta dedup, never per sample
    def buildsPath(p: SparkPlan) =
      p.expressions.exists(_.find(_.isInstanceOf[ArrayJoin]).isDefined)
    val pathNodes = initial.collect { case p if buildsPath(p) => p }
    assert(pathNodes.nonEmpty, s"no canonical path in:\n$initial")
    assert(pathNodes.forall(p => has(p) { case _: HashAggregateExec => }),
      s"the canonical path is built below the series-meta dedup:\n$initial")
    assert(dataScale.forall(e => !e.child.exists(buildsPath)),
      s"the canonical path rides the data-scale exchange:\n$initial")
  }

  // the sf0.001 events hold ~one click per user every two days: a daily
  // grid over the whole month gives every rollup path rows to return
  private val Day = 86400000L
  private val sparseGrid = GridSpec(1704067200000L, 1704067200000L + 30 * Day, Day)

  test("a rollup leaf reads the store once: no second scan restores the tags") {
    // the sorted tag entries ride the rollup as a payload key, so no leaf
    // re-reads its input for a distinct (hash pair -> tags) dimension.
    // Scans are counted over every SQL execution the query starts: the
    // two-level path materializes its level-1 frame eagerly, before the
    // final plan exists.
    val samples = Samples.fromEvents(spark, sfDir)
    Seq(
      "click", // bare selector (default_rollup)
      "max_over_time(click[1d])", // explode path
      "max_over_time(click[8d])", // ratio 8: two-level path
      "rate(click[2d])", // prevPass
      "rollup_candlestick(click[1d])" // multi-output path
    ).foreach { q =>
      val (rows, started) = org.apache.spark.JobCounter.during(spark.sparkContext) {
        graft.Engine.query(samples, q, sparseGrid, lookbackMs = Day).collect()
      }
      assert(rows.nonEmpty, s"$q returned no rows")
      assert(rows.forall(r => r.getMap[String, String](1).contains("user_id")),
        s"$q lost its series labels")
      assert(started.fileScans == 1,
        s"$q scanned the store ${started.fileScans} times, want once")
    }
  }

  test("an instant rollup leaf at window >= 8 steps plans no job, scans once, and equals two-level") {
    // every kernel the two-level path merges, in one pass: on a one-point
    // grid it is the single filtered aggregate by (keys, t) — no eager
    // level-1 pass while the plan builds, one read of the store — and its
    // rows equal the last point of a two-point grid, which still takes
    // the two-level path. Checked at two scales (sparsity moves which
    // windows are empty or hold one sample).
    val win = 8 * Day
    val kernels: Seq[(String, Kernel)] = Seq(
      "sum" -> Kernels.sum, "count" -> Kernels.count, "min" -> Kernels.min,
      "max" -> Kernels.max, "avg" -> Kernels.avg, "first" -> Kernels.first,
      "last" -> Kernels.last, "sum2" -> Kernels.sum2, "geomean" -> Kernels.geomean,
      "distinct" -> Kernels.distinct, "range" -> Kernels.range,
      "tfirst" -> Kernels.tfirst, "tlast" -> Kernels.tlast,
      "count_eq" -> Kernels.countEq(50), "count_ne" -> Kernels.countNe(50),
      "count_le" -> Kernels.countLe(50), "count_gt" -> Kernels.countGt(50),
      "sum_eq" -> Kernels.sumEq(50), "sum_le" -> Kernels.sumLe(50),
      "sum_gt" -> Kernels.sumGt(50), "share_eq" -> Kernels.shareEq(50),
      "share_le" -> Kernels.shareLe(50), "share_gt" -> Kernels.shareGt(50),
      "lag" -> Kernels.lag, "rate_over_sum" -> Kernels.rateOverSum(win),
      "hoeffding_lower" -> Kernels.hoeffdingLower(0.9),
      "hoeffding_upper" -> Kernels.hoeffdingUpper(0.9), "present" -> Kernels.present)
    assert(kernels.forall {
      case (_, Algebraic(_, Some(_), _)) => true
      case _ => false
    }, "every kernel here must be one the two-level path merges")
    val keys = Seq("name", "_h1", "_h2", Rollup.TagEntries)
    val instant = sparseGrid.startMs + 20 * Day
    def rows(df: DataFrame): Map[Seq[Any], Seq[Any]] = df.filter(col("t") === instant)
      .collect().map(r => r.toSeq.take(3) -> r.toSeq.drop(keys.size + 1)).toMap
    def close(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Double, y: Double) =>
        x == y || (x.isNaN && y.isNaN) || math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y))
      case _ => a == b
    }
    val sf001 = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.01").getPath
    for (dir <- Seq(sfDir, sf001)) {
      val keyed = Samples.fromEvents(spark, dir)
        .withColumn(Rollup.TagEntries, array_sort(map_entries(col("tags"))))
        .withColumn("_h1", xxhash64(col(Rollup.TagEntries)))
        .withColumn("_h2", xxhash64(col(Rollup.TagEntries), lit(1)))
      val (one, planned) = org.apache.spark.JobCounter.during(spark.sparkContext) {
        Rollup.rollupMulti(keyed, keys, GridSpec(instant, instant, Day), win, kernels)
      }
      assert(planned.jobs == 0, s"$dir: building the one-point plan started ${planned.jobs} jobs")
      val (got, ran) = org.apache.spark.JobCounter.during(spark.sparkContext)(rows(one))
      assert(ran.fileScans == 1, s"$dir: the one-point leaf scanned the store ${ran.fileScans} times")
      val (two, twoPlanned) = org.apache.spark.JobCounter.during(spark.sparkContext) {
        Rollup.rollupMulti(keyed, keys, GridSpec(instant - Day, instant, Day), win, kernels)
      }
      assert(twoPlanned.jobs > 0, s"$dir: the two-point grid should take the two-level path")
      val want = rows(two)
      assert(got.nonEmpty, s"$dir: no series at the instant")
      assert(got.keySet == want.keySet, s"$dir: series differ")
      for ((k, vs) <- want; ((n, _), (a, b)) <- kernels.zip(got(k).zip(vs)))
        assert(close(a, b), s"$dir: $n of $k: one-point $a, two-level $b")
    }
  }

  test("a comparison against a number literal plans without running a job") {
    // O3 pushdown and the O4 empty-left check gain nothing against a
    // literal, so the left side is not materialized while the plan builds
    val samples = Samples.fromEvents(spark, sfDir)
    val (df, started) = org.apache.spark.JobCounter.during(spark.sparkContext) {
      graft.Engine.query(samples, "max_over_time(click[1d]) > 95", sparseGrid)
    }
    assert(started.jobs == 0, s"building the plan started ${started.jobs} jobs")
    def rows(d: DataFrame): Set[(String, Long, Double)] = d
      .select(col("tags")("user_id"), col("t"), col("value")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val want = rows(graft.Engine.query(samples, "max_over_time(click[1d])", sparseGrid)
      .filter(col("value") > 95))
    assert(want.nonEmpty, "fixture has no point above the threshold")
    assert(rows(df) == want)
  }

  test("limit_offset / ungrouped limitk plan no unbounded single-partition rank") {
    import graft.{Engine}
    val grid = GridSpec(1704067200000L, 1704153600000L, 3600000L)
    val samples = Samples.fromEvents(spark, sfDir)
    // limitk over every series with no grouping: distributed TakeOrdered,
    // not row_number() over an empty partition spec on data-scale rows
    def hasCap(p: String): Boolean =
      p.contains("TakeOrderedAndProject") || p.contains("GlobalLimit") ||
        p.contains("CollectLimit")
    def noPartitionRank(p: String): Boolean = // row_number over an
      // order-only window spec (no partition columns before the ASC key)
      "windowspecdefinition\\(_\\w+#\\d+L? ASC".r.findFirstIn(p).isDefined
    val lk = Engine.query(samples, "limitk(3, avg_over_time(click[1h]))", grid)
    assert(hasCap(plan(lk)) && !noPartitionRank(plan(lk)),
      s"ungrouped limitk must cap via a distributed limit:\n${plan(lk)}")
    val lo = Engine.query(samples, "limit_offset(3, 1, avg_over_time(click[1h]))", grid)
    assert(hasCap(plan(lo)),
      s"limit_offset must cap via a distributed limit first:\n${plan(lo)}")
  }

  test("source invariant: every no-partition rank window is limit-bounded") {
    // a row_number() over Window.orderBy(...) (no partitionBy) funnels the
    // whole input through one task — only legal on a frame already capped
    // to query-parameter scale by a distributed .limit(n) a few lines up,
    // or on a frame that is structurally series-metadata scale (one row
    // per series, bounded by the maxSeries search cap), marked with a
    // `series-meta scale` justification comment at the site
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      .iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    val offenders = files.flatMap { f =>
      val lines = java.nio.file.Files.readAllLines(f).asScala.toVector
      lines.zipWithIndex.collect {
        case (l, i) if l.contains("Window.orderBy") &&
          !lines.slice(math.max(0, i - 6), i + 1).exists(w =>
            w.contains(".limit(") || w.contains("series-meta scale")) =>
          s"$f:${i + 1}"
      }
    }
    assert(offenders.isEmpty,
      s"unbounded no-partition window(s) at: ${offenders.mkString(", ")}")
  }

  // bucketed fixture for the tsSplit gate tests: only a scan that
  // PERSISTS the series-hash pair lets the split levels reuse the bucket
  // partitioning (exchange-free); the flat store measures faster on the
  // struct form (see Rollup.bucketSatisfies)
  private lazy val bucketedKeyed: DataFrame = {
    graft.core.SampleStore.writeBucketed(
      Samples.fromEvents(spark, sfDir),
      "bucketed_planspec", "target/bucketed_planspec", buckets = 4)
    graft.core.SampleStore.readBucketed(spark, "bucketed_planspec")
  }
  private val bKeys = Seq("name", "_h1", "_h2")

  test("last-kernel rollup: bucketed split SortAggregate-free; flat keeps struct (opt r13/r14)") {
    // the tsSplit two-phase (per-ts pre-agg + min_by/max_by merge)
    // replaces the max(struct(ts,value)) SortAggregate WHERE the bucket
    // partitioning makes it exchange-free, and must pick the exact same
    // (ts, value)-lexicographic sample on ties
    val grid = GridSpec(1704067200000L, 1704153600000L, 3600000L)
    val df = Rollup.rollup(bucketedKeyed, bKeys, grid, 2 * 3600000L, Kernels.last)
    df.count() // finalize AQE before reading the executed plan
    assert(!plan(df).contains("SortAggregate"),
      s"bucketed last kernel must stay HashAggregate-only:\n${plan(df)}")
    def structForm(src: DataFrame, keys: Seq[String]) =
      graft.core.Grid.bucketize(src, grid, 2 * 3600000L)
        .groupBy((keys.map(col) :+ col("t")): _*)
        .agg(max(struct(col("ts"), col("value"))).getField("value").as("value"))
    val sb = structForm(bucketedKeyed, bKeys)
    assert(df.exceptAll(sb).count() == 0 && sb.exceptAll(df).count() == 0,
      "two-phase last diverged from the struct-max form")
    // the flat store keeps the struct plan: its partial SortAggregate
    // shuffles only bucket partials, measured faster than the split's
    // second data-scale exchange at sf0.1 AND 20x (opt r14 LastProf A/B)
    val flat = Rollup.rollup(
      Samples.eventsFlat(spark, sfDir), Seq("name"), grid, 2 * 3600000L, Kernels.last)
    flat.count()
    assert(plan(flat).contains("SortAggregate"),
      "flat-store last should keep the lighter-shuffle struct form (gate)")
  }

  test("exemplar dedup with a map payload plans SortAggregate-free (opt r13)") {
    // key must functionally determine the payload (as at every
    // production site): the canonical series key, not a single label
    val src = Samples.fromEvents(spark, sfDir)
      .withColumn("_k", concat(coalesce(col("name"), lit("")),
        to_json(array_sort(map_entries(col("tags"))))))
    val dd = graft.core.Exemplar.distinctWith(src, Seq("_k"), Seq("name", "tags"))
    dd.count()
    assert(!plan(dd).contains("SortAggregate"),
      s"exemplar dedup must stay HashAggregate-only:\n${plan(dd)}")
    // content parity with the first()-based dedup it replaced (one row
    // per key; same name; same tag CONTENT — entry order is sorted now)
    val old = src.select(col("_k"), col("name"), col("tags")).dropDuplicates("_k")
    def norm(d: org.apache.spark.sql.DataFrame): Set[(String, String, String)] = d
      .select(col("_k"), col("name"),
        to_json(array_sort(map_entries(col("tags")))).as("_tj"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(norm(dd) == norm(old),
      "exemplar dedup content diverged from dropDuplicates")
  }

  test("ratio>=8 first/last rolls up SortAggregate-free, rows identical (opt r14)") {
    // window >> step routes through rollupTwoLevel; first/last there used
    // min/max(struct(ts,value)) bucket partials whose struct buffers
    // demote BOTH aggregation levels to SortAggregate. The 3-level plan
    // (per-ts pre-agg -> min_by/max_by per bucket -> remerge ordered by
    // the bucket timestamp) must be HashAggregate-only AND pick the exact
    // (ts, value)-lexicographic sample on ties.
    val grid = GridSpec(1704067200000L, 1704153600000L, 3600000L)
    val win = 8 * 3600000L // ratio 8: the two-level gate's threshold
    val multi = Rollup.rollupMulti(bucketedKeyed, bKeys, grid, win, Seq(
      "open" -> Kernels.first, "close" -> Kernels.last,
      "low" -> Kernels.min, "high" -> Kernels.max))
    multi.count() // finalize AQE before reading the executed plan
    assert(!plan(multi).contains("SortAggregate"),
      s"two-level first/last must stay HashAggregate-only:\n${plan(multi)}")
    def structForm(src: DataFrame, keys: Seq[String]) =
      graft.core.Grid.bucketize(src, grid, win)
        .groupBy((keys.map(col) :+ col("t")): _*).agg(
          min(struct(col("ts"), col("value"))).getField("value").as("open"),
          max(struct(col("ts"), col("value"))).getField("value").as("close"),
          min(col("value")).as("low"),
          max(col("value")).as("high"))
    val sb = structForm(bucketedKeyed, bKeys)
    assert(multi.exceptAll(sb).count() == 0 && sb.exceptAll(multi).count() == 0,
      "3-level first/last diverged from the struct-min/max form")
    // flat store: the gate keeps the struct two-level (lighter shuffle);
    // rows must still match the reference form exactly
    val flat = Rollup.rollupMulti(Samples.eventsFlat(spark, sfDir),
      Seq("name"), grid, win, Seq(
        "open" -> Kernels.first, "close" -> Kernels.last,
        "low" -> Kernels.min, "high" -> Kernels.max))
    val sf = structForm(Samples.eventsFlat(spark, sfDir), Seq("name"))
    assert(flat.exceptAll(sf).count() == 0 && sf.exceptAll(flat).count() == 0,
      "flat two-level first/last diverged from the struct-min/max form")
  }

  test("ratio>=8 first/last dense-window merge strategy stays row-identical") {
    // force the dense-window merge (the big-buckets fallback) by zeroing
    // the explode-merge budget: the remerge aggregates (min_by/max_by
    // ordered by bucket timestamp) must hold row parity over the
    // range-framed window too, including the null partials the dense
    // grid left-join introduces
    val grid = GridSpec(1704067200000L, 1704153600000L, 3600000L)
    val win = 8 * 3600000L
    val saved = Rollup.ExplodeMergeLimit
    Rollup.ExplodeMergeLimit = 0L
    try {
      val df = Rollup.rollupMulti(bucketedKeyed, bKeys, grid, win,
        Seq("first" -> Kernels.first, "last" -> Kernels.last))
      val b = graft.core.Grid.bucketize(bucketedKeyed, grid, win)
      val structForm = b.groupBy((bKeys.map(col) :+ col("t")): _*).agg(
        min(struct(col("ts"), col("value"))).getField("value").as("first"),
        max(struct(col("ts"), col("value"))).getField("value").as("last"))
      assert(df.exceptAll(structForm).count() == 0 &&
        structForm.exceptAll(df).count() == 0,
        "dense-window first/last diverged from the struct form")
    } finally Rollup.ExplodeMergeLimit = saved
  }

  test("ts-range predicates push to the raw timestamp scan column (opt r14)") {
    // the canonical ts (epoch ms) is derived from the file's timestamp
    // micros, so range filters never reached PushedFilters (guide §6) —
    // TsPushdown adds the implied raw bound beside each derived-ms
    // comparison. Assert (a) the scan carries pushed ts bounds and (b) the
    // row set is EXACTLY the derived-ms semantics at ±2ms boundaries
    // (the raw bounds are deliberately 1-2ms slack-widened, the original
    // predicate must still trim them). The NTZ→timestamp cast keeps micros
    // only in UTC, under any of its names; `ns div K` is zone-free.
    val dir = java.nio.file.Files.createTempDirectory("tspush").toString
    val micros = Seq( // around the exclusive lower bound 1704067200000 ms
      1704067199999000L, 1704067199999999L, 1704067200000000L,
      1704067200000001L, 1704067200001000L, 1704067201000000L,
      // around the inclusive upper bound 1704067202000 ms
      1704067202000999L, 1704067202001000L, 1704067203000000L)
    import spark.implicits._
    micros.toDF("us")
      .select(timestamp_micros(col("us")).cast("timestamp_ntz").as("ts"),
        (col("us") * 1000L).as("ns"), lit(1.0).as("value"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    // built per zone: a frame resolves its casts' zone when it is built
    def ntz() = {
      val e = Samples.table(spark, dir, "events")
      e.select(Samples.tsMs(e, "ts").as("ts"))
        .filter(col("ts") > 1704067200000L && col("ts") <= 1704067202000L)
    }
    def under(zone: String)(f: => Unit): Unit = {
      spark.conf.set("spark.sql.session.timeZone", zone)
      try f finally spark.conf.set("spark.sql.session.timeZone", "UTC")
    }
    for (zone <- Seq("UTC", "Etc/UTC")) under(zone) {
      val df = ntz()
      df.count()
      val p = plan(df)
      assert(p.contains("GreaterThan(ts,") && p.contains("LessThan(ts,"),
        s"expected pushed raw ts bounds under $zone in:\n$p")
      val got = df.collect().map(_.getLong(0)).sorted
      val want = micros.map(_ / 1000L).filter(ms =>
        ms > 1704067200000L && ms <= 1704067202000L).sorted
      assert(got.toSeq == want, s"rule changed filter semantics: $got vs $want")
    }
    under("America/New_York") {
      assert(!plan(ntz()).contains("GreaterThan(ts,"), "an NTZ bound is unsound outside UTC")
      val div = Samples.table(spark, dir, "events").filter(expr("ns div 1000000") > 1704067200000L)
      assert(plan(div).contains("GreaterThan(ns,"), s"expected the zone-free div bound in:\n${plan(div)}")
      assert(div.count() == micros.count(_ / 1000L > 1704067200000L))
    }
  }

  test("SparkEntry.entry, the flagship frame, has rows") {
    assert(graft.SparkEntry.entry(spark).count() > 0)
  }

  test("no persisted frames pinned in the cache manager after eval") {
    spark.sharedState.cacheManager.clearCache()
    val grid = GridSpec(1704067200000L, 1704153600000L, 3600000L)
    val samples = Samples.fromEvents(spark, sfDir)
    // binop with adaptive right-side evaluation — used to persist() the
    // left side per binop and never release it
    graft.Engine.query(samples,
      "avg_over_time(click[1h]) / on(user_id) avg_over_time(click[1h])", grid).count()
    assert(spark.sharedState.cacheManager.isEmpty,
      "eval must not leave persisted frames in the session cache manager")
    // the O6/O7 result caches hold driver rows, never persisted frames:
    // nothing is pinned after any miss, suffix, exact or delta hit
    def unpinned(step: String): Unit =
      assert(spark.sharedState.cacheManager.isEmpty, s"$step pinned a persisted frame")
    graft.Engine.clearCache()
    graft.Engine.resetCacheStats()
    val q = "avg_over_time(click[1h])"
    val half = GridSpec(grid.startMs, grid.startMs + 12 * 3600000L, grid.stepMs)
    graft.Engine.queryCached(samples, q, half).collect()
    unpinned("an O6 miss")
    graft.Engine.queryCached(samples, q, grid).collect()
    unpinned("an O6 suffix hit")
    graft.Engine.queryCached(samples, q, grid).collect()
    unpinned("an O6 exact hit")
    assert(graft.Engine.cacheStats == ((1L, 1L, 1L)), graft.Engine.cacheStats.toString)
    val t0 = grid.startMs + 12 * 3600000L
    val iq = "sum_over_time(click[6h])"
    graft.Engine.queryInstantCached(samples, iq, GridSpec(t0, t0, 60000L)).collect()
    unpinned("an O7 miss")
    val delta = GridSpec(t0 + 600000L, t0 + 600000L, 60000L)
    val viaDelta = graft.Engine.queryInstantCached(samples, iq, delta).collect()
    unpinned("an O7 delta hit")
    val st = graft.Engine.instantCacheStats
    assert(st.misses == 1 && st.deltaHits == 1, st.toString)
    assert(viaDelta.map(_.getDouble(3)).sorted.toSeq ==
      graft.Engine.query(samples, iq, delta).collect().map(_.getDouble(3)).sorted.toSeq)
    graft.Engine.clearCache()
  }

  test("an O6 result over the per-entry row share is served but not cached") {
    graft.Engine.clearCache()
    graft.Engine.resetCacheStats()
    val samples = Samples.fromEvents(spark, sfDir)
    // time() yields one row per grid point, no sample scan needed
    val m = 60000L
    val points = graft.Engine.MaxEntryRows + 1
    val big = GridSpec(m, points * m, m)
    val before = graft.Engine.cacheEntryCount
    val rows = graft.Engine.queryCached(samples, "time()", big).collect()
    assert(rows.length == points)
    assert(rows.forall(r => r.getDouble(3) == r.getLong(2) / 1000.0))
    assert(graft.Engine.cacheEntryCount == before, "an oversized result must not be inserted")
    graft.Engine.queryCached(samples, "time()", big)
    assert(graft.Engine.cacheStats == ((0L, 0L, 2L)),
      s"a repeat must miss: ${graft.Engine.cacheStats}")
    assert(spark.sharedState.cacheManager.isEmpty)
    graft.Engine.clearCache()
  }
}
