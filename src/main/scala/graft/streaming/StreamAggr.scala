package graft.streaming

import graft.core.SeriesId
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{DoubleType, StringType}

/** Stream aggregation (SURVEY §2.7, lib/streamaggr/streamaggr.go):
  * aggregate raw samples into coarser series per fixed interval BEFORE
  * storage. Two forms with identical semantics (both assign a sample at
  * ts to the end-exclusive window [k*i, (k+1)*i) flushing at (k+1)*i, and
  * both apply the dedup stage when configured):
  *
  *  - [[aggregateBatch]]: the batch/compaction form — tumbling
  *    interval-aligned windows via one hash aggregation (used for
  *    backfill and for the oracle-checked correctness gate).
  *  - [[aggregate]]: the Structured Streaming form — event-time windows
  *    with a watermark (the Spark-idiomatic equivalent of the reference's
  *    wall-clock flush + ignore_old_samples, streamaggr.go:124-167).
  *  - [[statefulTotal]]: the counter-carrying `total`/`increase` outputs,
  *    which need per-series state across windows
  *    (lib/streamaggr/total.go) — flatMapGroupsWithState keeping
  *    (lastValue, runningTotal) per series.
  *
  * Output series naming follows the reference synthesis
  * `name:interval[_by_labels]_output` (streamaggr.go:115-122).
  */
object StreamAggr {

  /** streamaggr.go:30-50 supportedOutputs (quantiles(...) matched by
    * prefix separately). */
  val supportedOutputs: Set[String] = Set(
    "avg", "count_samples", "count_series", "histogram_bucket",
    "increase", "increase_prometheus", "last", "max", "min",
    "rate_avg", "rate_sum", "stddev", "stdvar", "sum_samples",
    "sum_samples_total", "total", "total_prometheus", "unique_samples")

  /** grouping: Left(by-labels) keeps only those, Right(without) drops
    * those; None aggregates everything into one output series per name.
    */
  final case class Config(
      intervalMs: Long,
      by: Seq[String] = Nil,
      without: Seq[String] = Nil,
      outputs: Seq[String] = Seq("sum_samples"),
      dedupIntervalMs: Option[Long] = None,
      // full -streamAggr.config surface (lib/streamaggr/streamaggr.go
      // Config yaml fields)
      name: String = "",
      matchSelectors: Seq[String] = Nil,
      keepMetricNames: Boolean = false,
      dropInputLabels: Seq[String] = Nil,
      inputRelabel: Seq[graft.sources.Relabel.Rule] = Nil,
      outputRelabel: Seq[graft.sources.Relabel.Rule] = Nil,
      // the YAML spelling of `interval`, kept for the output-name suffix
      // (the reference embeds cfg.Interval verbatim, streamaggr.go:627)
      intervalRaw: String = "",
      // staleness for the counter-carrying outputs. None = no event-time
      // eviction: the reference defaults this to `interval` to bound its
      // IN-MEMORY per-series state (streamaggr.go:508), but a batch
      // replay holds the full history, so eviction is opt-in here and
      // the default matches an always-up server (deviation, documented).
      stalenessIntervalMs: Option[Long] = None,
      // the reference suppresses first samples for this long after
      // SERVER START (total.go ignoreFirstSampleDeadline); the batch
      // analog measures from the replay's first sample. None = 0: a
      // replay has no startup transient to hide (the reference default
      // of stalenessInterval exists only for that transient).
      ignoreFirstSampleIntervalMs: Option[Long] = None,
      // drop the first N flush intervals (warmup skip, streamaggr.go:222)
      ignoreFirstIntervals: Int = 0,
      // streaming-only knobs, parsed + validated for config parity; the
      // batch form has no wall clock (windows are always event-time
      // aligned and every window flushes):
      //  - ignore_old_samples → the streaming path's watermark drop
      //  - no_align_flush_to_interval / flush_on_shutdown /
      //    enable_windows → wall-clock flush scheduling details
      ignoreOldSamples: Boolean = false,
      noAlignFlushToInterval: Boolean = false,
      flushOnShutdown: Boolean = false,
      enableWindows: Boolean = false) {
    // newAggregator validation (streamaggr.go:475-608), same messages
    require(intervalMs >= 1000,
      s"aggregation interval cannot be smaller than 1s; got ${intervalMs}ms")
    for (d <- dedupIntervalMs) {
      require(d <= intervalMs,
        s"dedup_interval=${d}ms cannot exceed interval=${intervalMs}ms")
      require(d <= 0 || intervalMs % d == 0,
        s"interval=${intervalMs}ms must be a multiple of dedup_interval=${d}ms")
    }
    for (s <- stalenessIntervalMs)
      require(s >= intervalMs,
        s"staleness_interval=${s}ms cannot be smaller than interval=${intervalMs}ms")
    require(by.isEmpty || without.isEmpty,
      s"`by: $by` and `without: $without` lists cannot be set simultaneously")
    require(outputs.nonEmpty, "`outputs` list must contain at least a single entry")
    // duplicate outputs (newOutputConfig outputsSeen, streamaggr.go:710);
    // several quantiles(...) entries collapse to one "quantiles" slot
    private def normOut(o: String) =
      if (o.startsWith("quantiles(")) "quantiles" else o
    require(outputs.map(normOut).distinct.size == outputs.size,
      s"`outputs` list contains duplicate aggregation function: $outputs")
    outputs.filter(_.startsWith("quantiles(")).foreach(parseQuantilePhis)
    outputs.filterNot(_.startsWith("quantiles(")).foreach(o =>
      require(supportedOutputs.contains(o),
        s"unsupported output=$o; supported values: ${supportedOutputs.mkString(", ")}, quantiles(phi1, ..., phiN)"))
    // keep_metric_names restrictions (streamaggr.go:560-573)
    require(!keepMetricNames || outputs.size == 1,
      "`outputs` list must contain only a single entry if `keep_metric_names` is set")
    require(!keepMetricNames || (outputs.head != "histogram_bucket" &&
      !(outputs.head.startsWith("quantiles(") && outputs.head.contains(","))),
      s"`keep_metric_names` cannot be applied to `outputs: $outputs`, " +
        "since they can generate multiple time series")
  }

  /** phis of a `quantiles(phi1, ..., phiN)` output, with the reference's
    * parse errors (streamaggr.go:717-740). */
  def parseQuantilePhis(output: String): Seq[Double] = {
    require(output.endsWith(")"), "missing closing brace for `quantiles()` output")
    val argsStr = output.stripPrefix("quantiles(").stripSuffix(")")
    require(argsStr.nonEmpty, "`quantiles()` must contain at least one phi")
    argsStr.split(",").toSeq.map { arg =>
      val phi =
        try arg.trim.toDouble
        catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"cannot parse phi=${arg.trim} for quantiles($argsStr)")
        }
      require(phi >= 0 && phi <= 1,
        s"phi inside quantiles($argsStr) must be in the range [0..1]; got $phi")
      phi
    }
  }

  private def intervalText(ms: Long): String =
    if (ms % 3600000 == 0) s"${ms / 3600000}h"
    else if (ms % 60000 == 0) s"${ms / 60000}m"
    else if (ms % 1000 == 0) s"${ms / 1000}s"
    else s"${ms}ms"

  /** `:interval[_by_…][_without_…]_` (streamaggr.go:626-634: raw YAML
    * interval spelling, sorted-deduped label lists, `__name__` removed). */
  private def suffixText(cfg: Config, output: String): String = {
    val byL = cfg.by.distinct.sorted.filterNot(_ == "__name__")
    val woL = cfg.without.distinct.sorted.filterNot(_ == "__name__")
    ":" + (if (cfg.intervalRaw.nonEmpty) cfg.intervalRaw
           else intervalText(cfg.intervalMs)) +
      (if (byL.nonEmpty) "_by_" + byL.mkString("_") else "") +
      (if (woL.nonEmpty) "_without_" + woL.mkString("_") else "") +
      "_" + output
  }

  private def outName(cfg: Config, output: String): Column =
    if (cfg.keepMetricNames) coalesce(col("name"), lit(""))
    else concat(coalesce(col("name"), lit("")), lit(suffixText(cfg, output)))

  private def groupTags(cfg: Config): Column =
    if (cfg.by.nonEmpty)
      map_filter(col("tags"), (k, _) => k.isInCollection(cfg.by))
    else if (cfg.without.nonEmpty)
      map_filter(col("tags"), (k, _) => !k.isInCollection(cfg.without))
    // empty `by` AND `without` = aggregate ONLY by time: the full label
    // set stays the output key (streamaggr_synctest_test.go "Empty by
    // list - aggregate only by time")
    else col("tags")

  /** the metric name is always an implicit group key — except when
    * `without` lists `__name__`, which drops it from the output identity
    * (streamaggr_synctest_test.go "Special case: __name__ in without")
    */
  private def groupName(cfg: Config): Column =
    if (cfg.without.contains("__name__")) lit("")
    else coalesce(col("name"), lit(""))

  /** the 12 stateless outputs (per-file impls lib/streamaggr/{avg,count_
    * samples,count_series,last,max,min,quantiles,std,sum_samples,
    * unique_samples}.go) as one aggregation pass.
    */
  private def outputExpr(output: String): Column = {
    val v = col("value")
    output match {
      case "avg" => avg(v)
      case "count_samples" => count(v).cast(DoubleType)
      case "count_series" => size(collect_set(col("_sk"))).cast(DoubleType)
      case "last" => max_by(v, struct(col("ts"), v))
      case "max" => max(v)
      case "min" => min(v)
      case "sum_samples" => sum(v)
      case "stddev" => stddev_pop(v)
      case "stdvar" => var_pop(v)
      case "unique_samples" => size(collect_set(v)).cast(DoubleType)
      case other => throw new IllegalArgumentException(s"unsupported output '$other'")
    }
  }

  /** one stacked-aggregation column: `quantiles(…)` fans out to one slot
    * per phi with a `quantile` extra label (quantiles.go:32-36; exact
    * percentile where the reference reservoir-samples past 1000 values —
    * same deviation as Graphite percentiles, SURVEY §8.3). */
  private case class Slot(label: String, agg: Column, extraTag: Option[String])

  private def slotsOf(outputs: Seq[String]): Seq[Slot] = outputs.flatMap {
    case q if q.startsWith("quantiles(") =>
      parseQuantilePhis(q).map { phi =>
        // valyala/histogram.Quantile index rule a[⌊phi·(n−1)+0.5⌋], the
        // same rule the Graphite percentiles use — NOT interpolation
        // (pinned by streamaggr_synctest_test.go "quantiles output":
        // median of {12,12.5,13,13.3,14,25} is 13.3, not 13.15)
        val arr = array_sort(collect_list(col("value")))
        val idx = (floor(lit(phi) * (size(arr) - 1) + lit(0.5)) + 1).cast("int")
        Slot("quantiles", element_at(arr, idx),
          Some(graft.graphite.GraphiteModel.goFmt(phi)))
      }
    case o => Seq(Slot(o, outputExpr(o), None))
  }

  /** batch dedup stage (lib/streamaggr/dedup.go): at most one sample per
    * series per dedup interval, keeping the latest (ts, then value) —
    * the batch equivalent of the streaming path's
    * dropDuplicatesWithinWatermark over the same floor-bucketed key.
    * Requires a `_sk` series-key column.
    */
  // dedup keep rule (dedup.go deduplicateSamples, pinned by the ported
  // TestDeduplicateSamples vectors): newer timestamp wins; on a
  // timestamp tie the BIGGER value wins, and NaN (StaleNaN) never wins
  // a tie — order NaN as -inf so any real value beats it
  private def nanLast(v: Column): Column =
    when(isnan(v), lit(Double.NegativeInfinity)).otherwise(v)

  private def dedupBatch(keyed: DataFrame, cfg: Config): DataFrame =
    cfg.dedupIntervalMs match {
      case Some(d) =>
        val w = Window.partitionBy(col("_sk"), expr(s"(ts div ${d}L) * ${d}L"))
          .orderBy(col("ts").desc, nanLast(col("value")).desc)
        keyed.withColumn("_ddrn", row_number().over(w))
          .filter(col("_ddrn") === 1).drop("_ddrn")
      case None => keyed
    }

  /** The standalone deduplicator (lib/streamaggr/deduplicator.go — the
    * `-streamAggr.dedupInterval`-without-aggregation path): optionally
    * drop labels, then keep one sample per series per dedup interval
    * under the same keep rule. Output keeps the winning sample's
    * original (ts, value).
    */
  def deduplicatorBatch(samples: DataFrame, dedupIntervalMs: Long,
      dropLabels: Seq[String] = Nil): DataFrame = {
    val dropped =
      if (dropLabels.isEmpty) samples
      else samples.withColumn("tags",
        map_filter(col("tags"), (k, _) => !k.isInCollection(dropLabels)))
    dropped
      .withColumn("_sk", SeriesId.key(col("name"), col("tags")))
      .withColumn("_bkt", expr(s"(ts div ${dedupIntervalMs}L) * ${dedupIntervalMs}L"))
      .groupBy(col("_sk"), col("_bkt"))
      .agg(max_by(
        struct(col("name"), col("tags"), col("ts"), col("value")),
        struct(col("ts"), nanLast(col("value")))).as("_w"))
      .select(col("_w.name").as("name"), col("_w.tags").as("tags"),
        col("_w.ts").as("ts"), col("_w.value").as("value"))
  }

  /** the shared batch keying: series key (original identity), output
    * group tags + name, dedup stage; `arrivalSkip` additionally drops
    * out-of-order samples for the counter kernels (stateless outputs
    * never skip — min.go/count_samples.go pushSample has no ts check).
    */
  /** Open-window state rows a ONE-batch drain of `samples` would hold:
    * distinct (group name, group tags, window). The guard that matters
    * must run BEFORE such a drain — Spark materializes the whole batch's
    * aggregation state MID-batch, where no progress-based monitor
    * ([[graft.streaming.Ingest.awaitBounded]]) can see it; this is the
    * pre-flight twin that turns the measured 30M-row OOM (SCALEBENCH r9)
    * into a clean rejection. Slight over-estimate when input relabeling
    * would collapse groups — the safe direction for a guard.
    */
  def estimateStateRows(samples: DataFrame, cfg: Config): Long = {
    val matched =
      if (cfg.matchSelectors.isEmpty) samples
      else samples.filter(
        cfg.matchSelectors.map(graft.api.Api.selectorPredicate).reduce(_ || _))
    matched
      .select(groupName(cfg).as("_n"),
        SeriesId.entries(groupTags(cfg)).as("_gt"),
        expr(s"ts div ${cfg.intervalMs}L").as("_w"))
      .distinct().count()
  }

  private def keyedSamples(samples: DataFrame, cfg: Config,
      arrivalSkip: Boolean = false): DataFrame = {
    val k = dedupBatch(samples
      .withColumn("_sk", SeriesId.key(col("name"), col("tags"))), cfg)
      .withColumn("_gt", SeriesId.entries(groupTags(cfg)))
      .withColumn("name", groupName(cfg))
    if (arrivalSkip) dropOutOfOrder(k) else k
  }

  /** The reference's OUTPUT-GROUP lifecycle (output.go:35-127): a group
    * exists from its first pushed sample; EVERY interval flush while the
    * group is alive (flushTs ≤ lastPushTs + staleness) calls flush on
    * every output — so totals re-emit and `sum_samples` emits 0 on
    * sample-less intervals — and the first flush PAST the deadline
    * deletes the whole group (all running totals restart from scratch
    * when the series reappears: a new "era").
    *
    * Batch mapping: one row per (group, flush tick) from the group's
    * first tick to `endMs` (the replay horizon — a batch replay can't
    * see trailing sample-less flush ticks in the data, so callers
    * replaying a bounded wall-clock window pass its end; None = the last
    * tick with samples anywhere). `_era` counts prior dead ticks, so
    * windowing a running total by (group, _era) restarts it exactly at
    * group re-creation; `_lastts` is null on alive-but-empty ticks.
    * ONLY used when `staleness_interval` is set: the library default
    * (None) keeps the compact sample-ticks-only output (SURVEY §8.4).
    */
  private def aliveTicks(keyed: DataFrame, cfg: Config,
      endMs: Option[Long]): DataFrame = {
    val i = cfg.intervalMs
    val stale = cfg.stalenessIntervalMs.get
    val perTick = keyed
      .withColumn("t", expr(s"(ts div ${i}L) * ${i}L + ${i}L"))
      .groupBy(col("name"), col("_gt"), col("t"))
      .agg(max(col("ts")).as("_lastts"))
    val withHz = endMs match {
      case Some(e) => perTick.withColumn("_hz", lit((e / i) * i))
      case None =>
        perTick.crossJoin(broadcast(perTick.agg(max(col("t")).as("_hz"))))
    }
    val ticks = withHz
      .groupBy(col("name"), col("_gt"), col("_hz"))
      .agg(min(col("t")).as("_t0"))
      .select(col("name"), col("_gt"),
        explode(expr(s"sequence(_t0, greatest(_t0, _hz), ${i}L)")).as("t"))
    val w = Window.partitionBy(col("name"), col("_gt")).orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ticks
      .join(perTick, Seq("name", "_gt", "t"), "left")
      .withColumn("_seen", max(col("_lastts")).over(w))
      .withColumn("_alive", col("t") <= col("_seen") + lit(stale))
      .withColumn("_era",
        sum(when(col("_alive"), lit(0)).otherwise(lit(1))).over(w))
      .filter(col("_alive"))
      .select(col("name"), col("_gt"), col("t"), col("_era"), col("_lastts"))
  }

  /** Batch form: (name, tags, ts, value) → (name, tags, t, value) where t
    * is the interval-aligned flush timestamp (window end) and `name`
    * carries the output suffix.
    */
  def aggregateBatch(samples: DataFrame, cfg: Config,
      endMs: Option[Long] = None): DataFrame = {
    val i = cfg.intervalMs
    // floor assignment with end-exclusive windows: sample ts lands in
    // [k*i, (k+1)*i) and flushes at t=(k+1)*i — the same placement
    // Spark's window() gives the streaming form, so boundary-aligned
    // timestamps (scrape-aligned data) agree between the two paths.
    val keyed0 = keyedSamples(samples, cfg)
    val keyed = keyed0
      .withColumn("t", expr(s"(ts div ${i}L) * ${i}L + ${i}L"))
    val slots = slotsOf(cfg.outputs)
    val aggs = slots.zipWithIndex.map { case (s, ix) => s.agg.as(s"_o$ix") }
    val wide = keyed
      .groupBy(col("name"), col("_gt"), col("t"))
      .agg(aggs.head, aggs.tail: _*)
    val stackArgs = slots.zipWithIndex.map { case (s, ix) =>
      val xt = s.extraTag.map(v => s"'$v'").getOrElse("CAST(NULL AS STRING)")
      s"'${s.label}', $xt, _o$ix"
    }.mkString(", ")
    val gtMap = map_from_entries(col("_gt"))
    val stacked = wide
      .select(col("name"), col("_gt"), col("t"),
        expr(s"stack(${slots.size}, $stackArgs) as (_out, _xt, value)"))
      .select(
        (if (cfg.keepMetricNames) outName(cfg, "")
         else concat(outName(cfg, ""), col("_out"))).as("name"),
        when(col("_xt").isNotNull,
          map_concat(gtMap, map(lit("quantile"), col("_xt"))))
          .otherwise(gtMap).as("tags"),
        col("t"), col("value"))
      .filter(col("value").isNotNull)
    // sum_samples flushes UNCONDITIONALLY while the group is alive
    // (sum_samples.go:20-25 has no emptiness guard, unlike min/count):
    // alive-but-empty intervals emit 0 when staleness is configured
    if (cfg.stalenessIntervalMs.isEmpty ||
      !cfg.outputs.contains("sum_samples")) stacked
    else {
      val zeros = aliveTicks(keyed0, cfg, endMs)
        .filter(col("_lastts").isNull)
        .select(
          (if (cfg.keepMetricNames) outName(cfg, "")
           else concat(outName(cfg, ""), lit("sum_samples"))).as("name"),
          gtMap.as("tags"), col("t"), lit(0.0).as("value"))
      stacked.unionByName(zeros)
    }
  }

  /** Streaming form: event-time tumbling windows + watermark. Input needs
    * an event-time column `eventTime` (TimestampType); late data beyond
    * `watermarkDelay` is dropped (the reference's ignore_old_samples,
    * streamaggr.go:124-136).
    */
  def aggregate(
      stream: DataFrame,
      cfg: Config,
      watermarkDelay: String = "10 seconds"): DataFrame = {
    val keyed0 = stream
      .withColumn("_sk", SeriesId.key(col("name"), col("tags")))
      .withColumn("_gt", SeriesId.entries(groupTags(cfg)))
      .withColumn("name", groupName(cfg))
      .withWatermark("eventTime", watermarkDelay)
    // dedup stage (lib/streamaggr/dedup.go): at most one sample per
    // series per dedup interval, state bounded by the watermark
    val keyed = cfg.dedupIntervalMs match {
      case Some(d) =>
        keyed0
          .withColumn("_db", expr(s"(unix_millis(eventTime) div ${d}L) * ${d}L"))
          .dropDuplicatesWithinWatermark("_sk", "_db")
          .drop("_db")
      case None => keyed0
    }
    val slots = slotsOf(cfg.outputs)
    val aggs = slots.zipWithIndex.map { case (s, ix) => s.agg.as(s"_o$ix") }
    val wide = keyed
      .withColumn("ts", unix_millis(col("eventTime")))
      .groupBy(
        window(col("eventTime"), s"${cfg.intervalMs} milliseconds").as("w"),
        col("name"), col("_gt"))
      .agg(aggs.head, aggs.tail: _*)
    val stackArgs = slots.zipWithIndex.map { case (s, ix) =>
      val xt = s.extraTag.map(v => s"'$v'").getOrElse("CAST(NULL AS STRING)")
      s"'${s.label}', $xt, _o$ix"
    }.mkString(", ")
    val gtMap = map_from_entries(col("_gt"))
    wide
      .select(col("name"), col("_gt"), col("w"),
        expr(s"stack(${slots.size}, $stackArgs) as (_out, _xt, value)"))
      .select(
        (if (cfg.keepMetricNames) outName(cfg, "")
         else concat(outName(cfg, ""), col("_out"))).as("name"),
        when(col("_xt").isNotNull,
          map_concat(gtMap, map(lit("quantile"), col("_xt"))))
          .otherwise(gtMap).as("tags"),
        unix_millis(col("w.end")).as("t"),
        col("value"))
      .filter(col("value").isNotNull)
  }

  /** Streaming form of the full config pipeline: `match` filter →
    * `drop_input_labels` → `input_relabel_configs` → windowed aggregate
    * → `output_relabel_configs`, all per-row/streaming-safe (the relabel
    * pass compiles to one row expression). `ignore_old_samples` maps to
    * the watermark: late data beyond `watermarkDelay` is dropped.
    */
  def aggregateConfigured(
      stream: DataFrame,
      cfg: Config,
      watermarkDelay: String = "10 seconds"): DataFrame = {
    val matched =
      if (cfg.matchSelectors.isEmpty) stream
      else stream.filter(
        cfg.matchSelectors.map(graft.api.Api.selectorPredicate).reduce(_ || _))
    val dropped =
      if (cfg.dropInputLabels.isEmpty) matched
      else matched.withColumn("tags",
        map_filter(col("tags"), (k, _) => !k.isInCollection(cfg.dropInputLabels)))
    val relabeled =
      if (cfg.inputRelabel.isEmpty) dropped
      else graft.sources.Relabel.apply(dropped, cfg.inputRelabel)
    val out = aggregate(relabeled, cfg, watermarkDelay)
    if (cfg.outputRelabel.isEmpty) out
    else graft.sources.Relabel.apply(
      out.withColumnRenamed("t", "ts"), cfg.outputRelabel)
      .withColumnRenamed("ts", "t")
  }

  // ------------------------------------------------------------------
  // stateful counter outputs — lib/streamaggr/{total,rate}.go
  // ------------------------------------------------------------------

  final case class SeriesSample(sk: String, ts: Long, value: Double)
  final case class TotalState(lastValue: Double, total: Double, lastTs: Long)
  final case class TotalOut(sk: String, total: Double)
  final case class RateState(lastValue: Double, prevTs: Long, lastTs: Long)
  final case class RateOut(sk: String, rate: Double)

  /** per-series running `total`: counter increases accumulated across all
    * samples ever seen, reset-aware (total.go keeps per-series last value).
    * Staleness: a series silent longer than `stalenessMs` (event time)
    * restarts from its next sample (total.go deleteDeadline), and idle
    * state is evicted via processing-time timeout.
    */
  /** timeout conf: idle-state eviction is OPT-IN — ProcessingTimeTimeout
    * makes the engine schedule wall-clock timeout batches (fine for a
    * long-running server, hostile to deterministic tests); the staleness
    * RESET semantics below are purely event-time and work either way.
    */
  private def timeoutConf(evict: Boolean): GroupStateTimeout =
    if (evict) GroupStateTimeout.ProcessingTimeTimeout()
    else GroupStateTimeout.NoTimeout()

  def statefulTotal(
      stream: Dataset[SeriesSample],
      stalenessMs: Long = 0L,
      evictIdleState: Boolean = false,
      keepFirstSample: Boolean = true): Dataset[TotalOut] = {
    import stream.sparkSession.implicits._
    val evict = evictIdleState && stalenessMs > 0
    stream
      .groupByKey(_.sk)
      .flatMapGroupsWithState[TotalState, TotalOut](
        OutputMode.Update(), timeoutConf(evict)) {
        case (sk, rows, state: GroupState[TotalState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = rows.toSeq.sortBy(r => (r.ts, r.value))
            var st = state.getOption.getOrElse(TotalState(Double.NaN, 0.0, 0L))
            sorted.foreach { r =>
              val stale = stalenessMs > 0 && st.lastTs > 0 && r.ts - st.lastTs > stalenessMs
              val inc =
                if (st.lastValue.isNaN || stale) // new/restarted series
                  (if (keepFirstSample) r.value else 0.0) // total.go:50
                else if (r.value >= st.lastValue) r.value - st.lastValue
                else r.value // counter reset: new raw value is the increase
              st = TotalState(r.value, st.total + inc, r.ts)
            }
            state.update(st)
            if (evict) state.setTimeoutDuration(stalenessMs)
            Iterator.single(TotalOut(sk, st.total))
          }
      }
  }

  /** per-series streaming `rate`: per-trigger increase divided by the time
    * since the previous trigger's last sample (rate.go pushSample/flush:
    * prevTimestamp carries across intervals; series silent beyond the
    * staleness interval restart). Aggregate the outputs with sum/avg per
    * output group for rate_sum / rate_avg.
    */
  def statefulRate(
      stream: Dataset[SeriesSample],
      stalenessMs: Long = 0L,
      evictIdleState: Boolean = false): Dataset[RateOut] = {
    import stream.sparkSession.implicits._
    val evict = evictIdleState && stalenessMs > 0
    stream
      .groupByKey(_.sk)
      .flatMapGroupsWithState[RateState, RateOut](
        OutputMode.Update(), timeoutConf(evict)) {
        case (sk, rows, state: GroupState[RateState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = rows.toSeq.sortBy(r => (r.ts, r.value))
            if (sorted.isEmpty) Iterator.empty
            else {
              var st = state.getOption.getOrElse(
                RateState(Double.NaN, sorted.head.ts, 0L))
              var increase = 0.0
              sorted.foreach { r =>
                val stale = stalenessMs > 0 && st.lastTs > 0 && r.ts - st.lastTs > stalenessMs
                if (st.lastValue.isNaN || stale) // (re)start from this sample
                  st = RateState(r.value, r.ts, r.ts)
                else {
                  increase +=
                    (if (r.value >= st.lastValue) r.value - st.lastValue else r.value)
                  st = RateState(r.value, st.prevTs, r.ts)
                }
              }
              val dSec = (st.lastTs - st.prevTs) / 1000.0
              state.update(RateState(st.lastValue, st.lastTs, st.lastTs))
              if (evict) state.setTimeoutDuration(stalenessMs)
              if (dSec > 0) Iterator.single(RateOut(sk, increase / dSec))
              else Iterator.empty
            }
          }
      }
  }

  /** batch `increase` / `increase_prometheus`: per-interval group
    * increase — `total` without the running accumulation
    * (streamaggr.go:184-206 resetTotalOnFlush); the flag picks the
    * first-sample rule and the output suffix.
    */
  def increaseBatch(samples: DataFrame, cfg: Config,
      keepFirstSample: Boolean = true): DataFrame =
    counterWindows(samples, cfg, keepFirstSample)
      .groupBy(col("name"), col("_gt"), col("t"))
      .agg(sum(col("_winc")).as("value"))
      .select(
        outName(cfg, if (keepFirstSample) "increase" else "increase_prometheus").as("name"),
        map_from_entries(col("_gt")).as("tags"),
        col("t"), col("value"))

  /** batch `rate_sum` / `rate_avg` (lib/streamaggr/rate.go): per series and
    * interval, increase (cross-boundary, reset-aware) divided by the time
    * since the previous non-empty interval's last sample; summed (or
    * averaged over contributing series) per output group.
    */
  def rateBatch(samples: DataFrame, cfg: Config, isAvg: Boolean = false): DataFrame = {
    val perSeries = counterWindows(samples, cfg)
      .groupBy(col("name"), col("_gt"), col("_sk"), col("t"))
      .agg(sum(col("_winc")).as("_inc"), max(col("ts")).as("_lastts"),
        org.apache.spark.sql.functions.min(col("ts")).as("_firstts"))
    val wPrev = Window.partitionBy(col("name"), col("_gt"), col("_sk")).orderBy(col("t"))
    // prevTimestamp survives sample-less intervals (rate.go:150-157) but
    // the series state dies after `staleness` without samples — the next
    // era re-seeds prev with its own first sample ts (rate.go:123-127)
    val lagTs = lag(col("_lastts"), 1).over(wPrev)
    val prevExpr = cfg.stalenessIntervalMs match {
      case Some(s) =>
        coalesce(when(col("_firstts") - lagTs <= lit(s), lagTs), col("_firstts"))
      case None => coalesce(lagTs, col("_firstts"))
    }
    val withRate = perSeries
      .withColumn("_pts", prevExpr)
      .withColumn("_sr",
        when(col("_pts") < col("_lastts"),
          col("_inc") / ((col("_lastts") - col("_pts")) / 1000.0)))
    val suffix = if (isAvg) "rate_avg" else "rate_sum"
    val agg = if (isAvg) avg(col("_sr")) else sum(col("_sr"))
    withRate
      .groupBy(col("name"), col("_gt"), col("t"))
      .agg(agg.as("value"))
      .filter(col("value").isNotNull)
      .select(
        outName(cfg, suffix).as("name"),
        map_from_entries(col("_gt")).as("tags"),
        col("t"), col("value"))
  }

  /** batch `histogram_bucket` (lib/streamaggr/histogram_bucket.go): VM
    * log-bucketed counts per vmrange, CUMULATIVE across intervals (the
    * reference merges each interval's histogram into a shared one and
    * emits the shared totals).
    */
  def histogramBucketBatch(samples: DataFrame, cfg: Config): DataFrame = {
    val i = cfg.intervalMs
    val keyed = keyedSamples(samples, cfg)
      .withColumn("t", expr(s"(ts div ${i}L) * ${i}L + ${i}L"))
      // the output label is the reference's `%.3e...%.3e` range STRING
      // (histogram_bucket.go flush → metrics.Histogram VisitNonZeroBuckets)
      .withColumn("vmrange", graft.operators.HistogramQ.vmrangeStr(
        graft.operators.HistogramQ.floorBucketIdx(col("value"))))
      .filter(col("vmrange").isNotNull)
    val perInterval = keyed
      .groupBy(col("name"), col("_gt"), col("vmrange"), col("t"))
      .agg(count(lit(1)).cast(DoubleType).as("_c"))
    val cum = Window.partitionBy(col("name"), col("_gt"), col("vmrange"))
      .orderBy(col("t")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perInterval
      .withColumn("value", sum(col("_c")).over(cum))
      .select(
        outName(cfg, "histogram_bucket").as("name"),
        // vmrange is an output LABEL (histogram_bucket.go flush appends
        // vmrange=... to the series), not a separate column
        map_concat(
          map_from_entries(col("_gt")),
          map(lit("vmrange"), col("vmrange"))).as("tags"),
        col("t"), col("value"))
  }

  /** shared prefix of the batch counter outputs: per-series adjacent
    * increases over the FULL sample stream (cross-boundary, reset-aware),
    * bucketed into the end-exclusive window of the later sample.
    * `keepFirstSample` decides what a series' FIRST sample contributes:
    * its value (`total`/`increase`, total.go:50 keepFirstSample) or
    * nothing (`total_prometheus`/`increase_prometheus`, the strict
    * Prometheus flavor — total.go:118 getSuffix).
    */
  /** Arrival-faithful counter state: when the input carries an `_arr`
    * column (ingest arrival sequence), the counter kernels process
    * samples in ARRIVAL order and skip out-of-order samples whose ts is
    * below any previously-seen ts of the series — exactly the
    * reference's per-series state machine (total.go:39-41,
    * rate.go:106-109). Without `_arr`, event-time order with a value
    * tiebreak (the documented deterministic batch order).
    */
  private def hasArr(df: DataFrame): Boolean = df.columns.contains("_arr")

  private def dropOutOfOrder(df: DataFrame): DataFrame =
    if (!hasArr(df)) df
    else {
      val w = Window.partitionBy(col("_sk")).orderBy(col("_arr"))
        .rowsBetween(Window.unboundedPreceding, -1)
      df.withColumn("_maxprior", max(col("ts")).over(w))
        .filter(col("_maxprior").isNull || col("ts") >= col("_maxprior"))
        .drop("_maxprior")
    }

  private def counterWindows(samples: DataFrame, cfg: Config,
      keepFirstSample: Boolean = false): DataFrame = {
    val i = cfg.intervalMs
    val keyed = keyedSamples(samples, cfg, arrivalSkip = true)
    val w = Window.partitionBy(col("_sk")).orderBy(
      (if (hasArr(keyed)) Seq(col("_arr")) else Seq(col("ts"), col("value"))): _*)
    // staleness (total.go:34-36): a series silent longer than the
    // staleness interval loses its last-value state, so its next sample
    // is treated as a first sample again. Event-time batch equivalent:
    // gap > staleness ⇒ first-sample rule.
    val isFirst = cfg.stalenessIntervalMs match {
      case Some(s) => col("_pv").isNull || (col("ts") - col("_pts")) > lit(s)
      case None => col("_pv").isNull
    }
    // ignore_first_sample_interval (total.go:32,96-100): first samples
    // within the warmup span after the replay start contribute nothing
    // even when keepFirstSample is set. The replay-start scalar comes
    // from a broadcast 1-row aggregate, never a global window.
    val needWarmup = keepFirstSample && cfg.ignoreFirstSampleIntervalMs.isDefined
    val withMin =
      if (needWarmup)
        keyed.crossJoin(broadcast(samples.agg(min(col("ts")).as("_mints"))))
      else keyed
    val firstContribution: Column = {
      val base = if (keepFirstSample) col("value") else lit(0.0)
      cfg.ignoreFirstSampleIntervalMs match {
        case Some(ms) if keepFirstSample =>
          when(col("ts") < col("_mints") + lit(ms), lit(0.0)).otherwise(base)
        case _ => base
      }
    }
    withMin
      .withColumn("_pv", lag(col("value"), 1).over(w))
      .withColumn("_pts", lag(col("ts"), 1).over(w))
      .withColumn("_winc",
        when(isFirst, firstContribution)
          .when(col("value") >= col("_pv"), col("value") - col("_pv"))
          .otherwise(col("value")))
      .withColumn("t", expr(s"(ts div ${i}L) * ${i}L + ${i}L"))
  }

  /** batch equivalent of `total` / `total_prometheus`: per-series
    * per-window increase (reset-aware, carrying the previous window's
    * last sample), summed across the group's series, then accumulated
    * over windows; the flag picks the first-sample rule and suffix.
    */
  def totalBatch(samples: DataFrame, cfg: Config,
      keepFirstSample: Boolean = true, endMs: Option[Long] = None): DataFrame = {
    val perWindow = counterWindows(samples, cfg, keepFirstSample)
      .groupBy(col("name"), col("_gt"), col("t"))
      .agg(sum(col("_winc")).as("_winc"))
    val suffixed = outName(cfg,
      if (keepFirstSample) "total" else "total_prometheus")
    val gtMap = map_from_entries(col("_gt"))
    cfg.stalenessIntervalMs match {
      case None =>
        // library default: compact sample-ticks output, infinite state
        val cum = Window.partitionBy(col("name"), col("_gt")).orderBy(col("t"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        perWindow
          .withColumn("value", sum(col("_winc")).over(cum))
          .select(suffixed.as("name"), gtMap.as("tags"), col("t"), col("value"))
      case Some(_) =>
        // group lifecycle: emit the running total at EVERY alive tick
        // (total.go flush appends unconditionally), restart at each era
        val alive = aliveTicks(keyedSamples(samples, cfg, arrivalSkip = true),
          cfg, endMs)
        val cum = Window.partitionBy(col("name"), col("_gt"), col("_era"))
          .orderBy(col("t"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        alive
          .join(perWindow, Seq("name", "_gt", "t"), "left")
          .withColumn("value",
            sum(coalesce(col("_winc"), lit(0.0))).over(cum))
          .select(suffixed.as("name"), gtMap.as("tags"), col("t"), col("value"))
    }
  }

  /** batch `sum_samples_total` (sum_samples.go:26-35 resetTotalOnFlush =
    * false): per-interval sample sums accumulated per output group across
    * flushes. The reference's float53 precision reset is a long-running-
    * server safeguard, not replayed here. */
  def sumSamplesTotalBatch(samples: DataFrame, cfg: Config,
      endMs: Option[Long] = None): DataFrame = {
    val i = cfg.intervalMs
    val keyed = keyedSamples(samples, cfg)
    val perWindow = keyed
      .withColumn("t", expr(s"(ts div ${i}L) * ${i}L + ${i}L"))
      .groupBy(col("name"), col("_gt"), col("t"))
      .agg(sum(col("value")).as("_ws"))
    val basis = cfg.stalenessIntervalMs match {
      case None => perWindow // compact sample-ticks output, infinite state
      case Some(_) =>
        // running total re-emits every alive tick and restarts per era
        aliveTicks(keyed, cfg, endMs)
          .join(perWindow, Seq("name", "_gt", "t"), "left")
          .withColumn("_ws", coalesce(col("_ws"), lit(0.0)))
    }
    val cum = Window.partitionBy(
      (Seq(col("name"), col("_gt")) ++
        (if (cfg.stalenessIntervalMs.isDefined) Seq(col("_era")) else Nil)): _*)
      .orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    basis
      .withColumn("value", sum(col("_ws")).over(cum))
      .select(
        outName(cfg, "sum_samples_total").as("name"),
        map_from_entries(col("_gt")).as("tags"),
        col("t"), col("value"))
  }

  // ---- full-config pipeline -------------------------------------------

  /** One config's whole batch pipeline, in the aggregator's construction
    * order (streamaggr.go newAggregator → aggregator.Push):
    * `match` filter → `drop_input_labels` → `input_relabel_configs` →
    * aggregate/dedup → `output_relabel_configs`. The stateful outputs
    * (`total*`, `increase*`, `rate_*`, `histogram_bucket`) route to their
    * dedicated batch kernels; everything else goes through the one-pass
    * stacked aggregation.
    */
  def aggregateBatchConfigured(samples: DataFrame, cfg: Config,
      endMs: Option[Long] = None): DataFrame = {
    val matched =
      if (cfg.matchSelectors.isEmpty) samples
      else samples.filter(
        cfg.matchSelectors.map(graft.api.Api.selectorPredicate).reduce(_ || _))
    val dropped =
      if (cfg.dropInputLabels.isEmpty) matched
      else matched.withColumn("tags",
        map_filter(col("tags"), (k, _) => !k.isInCollection(cfg.dropInputLabels)))
    val relabeled =
      if (cfg.inputRelabel.isEmpty) dropped
      else graft.sources.Relabel.apply(dropped, cfg.inputRelabel)
    val (stateful, stateless) = cfg.outputs.partition(o =>
      o == "total" || o == "total_prometheus" || o == "increase" ||
        o == "increase_prometheus" || o == "rate_sum" || o == "rate_avg" ||
        o == "histogram_bucket" || o == "sum_samples_total")
    val parts =
      (if (stateless.nonEmpty)
        Seq(aggregateBatch(relabeled, cfg.copy(outputs = stateless), endMs)) else Nil) ++
      stateful.map {
        case "total" => totalBatch(relabeled, cfg, keepFirstSample = true, endMs = endMs)
        case "total_prometheus" => totalBatch(relabeled, cfg, keepFirstSample = false, endMs = endMs)
        case "increase" => increaseBatch(relabeled, cfg, keepFirstSample = true)
        case "increase_prometheus" => increaseBatch(relabeled, cfg, keepFirstSample = false)
        case "rate_sum" => rateBatch(relabeled, cfg, isAvg = false)
        case "rate_avg" => rateBatch(relabeled, cfg, isAvg = true)
        case "histogram_bucket" => histogramBucketBatch(relabeled, cfg)
        case "sum_samples_total" => sumSamplesTotalBatch(relabeled, cfg, endMs)
      }
    val unioned = parts.reduce(_ unionByName _)
    // ignore_first_intervals (streamaggr.go:219-222): drop the first N
    // flush intervals; the replay-start flush comes from a broadcast
    // 1-row aggregate over the matched input.
    val out =
      if (cfg.ignoreFirstIntervals <= 0) unioned
      else {
        val i = cfg.intervalMs
        val minFlush = relabeled.agg(
          min(expr(s"(ts div ${i}L) * ${i}L + ${i}L")).as("_minflush"))
        unioned.crossJoin(broadcast(minFlush))
          .filter(col("t") >= col("_minflush") + lit(cfg.ignoreFirstIntervals * i))
          .drop("_minflush")
      }
    if (cfg.outputRelabel.isEmpty) out
    else graft.sources.Relabel.apply(
      out.withColumnRenamed("t", "ts"), cfg.outputRelabel)
      .withColumnRenamed("ts", "t")
  }

  /** every config over the same input, unioned — the multi-entry
    * -streamAggr.config file semantics
    */
  def applyAll(samples: DataFrame, cfgs: Seq[Config],
      endMs: Option[Long] = None): DataFrame =
    cfgs.map(aggregateBatchConfigured(samples, _, endMs)).reduce(_ unionByName _)

  /** Parse the -streamAggr.config YAML list (streamaggr.go Config):
    * `interval` (required), `outputs`, `by`, `without`, `match` (scalar
    * or list), `name`, `dedup_interval`, `keep_metric_names`,
    * `drop_input_labels`, `input_relabel_configs` /
    * `output_relabel_configs` (delegated to the relabel parser). The
    * pragmatic line parser follows the alerting/relabel loaders: scalars
    * bare or quoted, lists inline `[a, b]` or block `- x`.
    */
  def parseConfigs(yaml: String): Seq[Config] = {
    def unq(s0: String): String = {
      val s = s0.trim
      if (s.length >= 2 && ((s.head == '"' && s.last == '"') ||
        (s.head == '\'' && s.last == '\'')))
        s.substring(1, s.length - 1)
      else s
    }
    // split on commas OUTSIDE quotes: `["quantiles(0, 0.5, 1)"]` is ONE
    // quoted element
    def splitTop(s: String): Seq[String] = {
      val out = Seq.newBuilder[String]
      val cur = new StringBuilder
      var q: Char = 0
      s.foreach { c =>
        if (q != 0) { if (c == q) q = 0; cur += c }
        else if (c == '"' || c == '\'') { q = c; cur += c }
        else if (c == ',') { out += cur.result(); cur.clear() }
        else cur += c
      }
      out += cur.result()
      out.result()
    }
    def inlineList(s: String): Seq[String] = {
      val t = s.trim
      if (t.startsWith("[") && t.endsWith("]"))
        splitTop(t.substring(1, t.length - 1)).map(unq).filter(_.nonEmpty)
      else Seq(unq(t))
    }
    val lines = yaml.split('\n')
      .filterNot(l => l.trim.isEmpty || l.trim.startsWith("#")).toVector
    // an empty config loads as zero aggregators (LoadFromData on empty
    // data succeeds; streamaggr_synctest_test.go's empty-config vectors)
    if (lines.isEmpty) return Nil
    val starts = lines.zipWithIndex.collect {
      case (l, i) if l.startsWith("- ") || l.trim == "-" => i
    }
    require(starts.nonEmpty, "stream aggregation config must be a YAML list")
    starts.zipAll(starts.drop(1), 0, lines.length).map { case (s0, e0) =>
      val entry = lines.slice(s0, e0).zipWithIndex.map {
        case (l, 0) => "  " + l.stripPrefix("-")
        case (l, _) => l
      }
      val scalars = scala.collection.mutable.Map.empty[String, String]
      val blocks = scala.collection.mutable.Map.empty[String, Vector[String]]
      var i = 0
      def indentOf(l: String): Int = l.takeWhile(_ == ' ').length
      while (i < entry.length) {
        val l = entry(i)
        val ind = indentOf(l)
        val t = l.trim
        val ci = t.indexOf(':')
        require(ci > 0, s"cannot parse stream-aggr config line: $t")
        val key = t.take(ci).trim
        val rest = t.drop(ci + 1).trim
        if (rest.nonEmpty) { scalars(key) = rest; i += 1 }
        else {
          val b = Vector.newBuilder[String]
          i += 1
          // a block list's `- item` lines may sit at the SAME indent as
          // their key (valid YAML), deeper lines belong to nested items
          while (i < entry.length && (indentOf(entry(i)) > ind ||
            (indentOf(entry(i)) == ind && entry(i).trim.startsWith("-")))) {
            b += entry(i); i += 1
          }
          blocks(key) = b.result()
        }
      }
      def listField(key: String): Seq[String] =
        scalars.get(key).map(inlineList).getOrElse(
          blocks.getOrElse(key, Vector.empty)
            .map(_.trim.stripPrefix("-").trim).map(unq).filter(_.nonEmpty))
      def relabelField(key: String): Seq[graft.sources.Relabel.Rule] =
        blocks.get(key).map(b => graft.sources.Relabel.parseConfig(b.mkString("\n")))
          .getOrElse(Nil)
      // unknown options are config errors (yaml.UnmarshalStrict in
      // LoadFromData; streamaggr_test.go "Unknown option")
      val known = Set("interval", "by", "without", "outputs",
        "dedup_interval", "name", "match", "keep_metric_names",
        "drop_input_labels", "input_relabel_configs",
        "output_relabel_configs", "staleness_interval",
        "ignore_first_sample_interval", "ignore_first_intervals",
        "ignore_old_samples", "no_align_flush_to_interval",
        "flush_on_shutdown", "enable_windows")
      for (k <- scalars.keys ++ blocks.keys)
        require(known.contains(k),
          s"unknown option in stream aggregation config: `$k`")
      val interval = scalars.getOrElse("interval",
        throw new IllegalArgumentException("missing `interval` in stream aggregation config"))
      def boolField(key: String): Boolean =
        scalars.get(key).map(unq).contains("true")
      def durField(key: String): Option[Long] =
        scalars.get(key).map(d => graft.lang.Lexer.durationMs(unq(d), 0L))
      Config(
        intervalMs = graft.lang.Lexer.durationMs(unq(interval), 0L),
        by = listField("by"),
        without = listField("without"),
        outputs = listField("outputs"),
        dedupIntervalMs = durField("dedup_interval"),
        name = scalars.get("name").map(unq).getOrElse(""),
        matchSelectors = listField("match"),
        keepMetricNames = boolField("keep_metric_names"),
        dropInputLabels = listField("drop_input_labels"),
        inputRelabel = relabelField("input_relabel_configs"),
        outputRelabel = relabelField("output_relabel_configs"),
        intervalRaw = unq(interval),
        stalenessIntervalMs = durField("staleness_interval"),
        ignoreFirstSampleIntervalMs = durField("ignore_first_sample_interval"),
        ignoreFirstIntervals = scalars.get("ignore_first_intervals")
          .map(v => unq(v).toInt).getOrElse(0),
        ignoreOldSamples = boolField("ignore_old_samples"),
        noAlignFlushToInterval = boolField("no_align_flush_to_interval"),
        flushOnShutdown = boolField("flush_on_shutdown"),
        enableWindows = boolField("enable_windows"))
    }
  }
}
