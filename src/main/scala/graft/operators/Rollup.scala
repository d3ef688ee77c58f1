package graft.operators

import graft.core.{Grid, GridSpec}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Rollup executor: grid-aligned windowed aggregation over raw samples —
  * the Spark form of the reference's rollup evaluation
  * (app/vmselect/promql/eval.go:1717 evalRollupFuncWithMetricExpr +
  * rollup.go:701-823 doInternal).
  *
  * Physical strategy (scale-first): map-side explode of each sample into
  * its ceil(window/step) owning grid buckets ([[Grid.bucketize]]), then ONE
  * hash aggregation by (series columns, t). All algebraic kernels ride the
  * partial+final HashAggregate (map-side combine). Order-sensitive kernels
  * share a single ts-sorted collect_list per group. No range join, no
  * window-function total sort — both collapse at 100 TB; this doesn't.
  */
object Rollup {

  /** Payload key: a query leaf's sorted tag entries
    * (`array_sort(map_entries(tags))`), always beside the `_h1`/`_h2` pair
    * that hashes it. Aggregates group on it, so it never enters an
    * aggregation buffer ([[graft.core.Exemplar]]); per-series windows and
    * re-keys carry it and partition on the other keys ([[seriesKeys]]).
    */
  val TagEntries = "_te"

  /** `keys` without [[TagEntries]] */
  private def seriesKeys(keys: Seq[String]): Seq[String] = keys.filterNot(_ == TagEntries)

  /** Put [[TagEntries]] back on a two-level merge grouped without it: the
    * merge fans each bucket partial out to up to ratio windows, and
    * joining the entries from the checkpointed level-1 frame (series
    * scale, no second read of the input) costs less than carrying them
    * through those rows (batch A/B in CHANGES.md).
    */
  private def withTagEntries(merged: DataFrame, level1: DataFrame, keys: Seq[String]): DataFrame =
    if (!keys.contains(TagEntries)) merged
    else merged.join(level1.select("_h1", "_h2", TagEntries).distinct(), Seq("_h1", "_h2"))
      .select((keys.map(col) :+ col("t")) ++
        merged.columns.filterNot(c => keys.contains(c) || c == "t").map(col): _*)

  /** Compute one or more named kernels in a single pass.
    * Input: samples with `ts` (epoch ms) + `value` + key columns; a query
    * leaf's keys are (name, _h1, _h2, [[TagEntries]]).
    * Output: keys ++ (t, <one column per kernel>).
    *
    * Routing: on a one-point grid (an instant query) every algebraic
    * kernel set runs as ONE filtered aggregate by (keys, t) — there is
    * one window, so no sample is duplicated. On a wider grid, when window
    * is a step multiple ≥ 8 steps and every kernel is mergeable, the
    * two-level path runs (zero row amplification); otherwise the map-side
    * bucketize explode (amplification ceil(window/step), fine at window ≈
    * step, ruinous at TSBS 12h/10s = 4320×). The counter family keeps its
    * two-level plan on any grid at ratio ≥ 8.
    */
  def rollupMulti(
      samples: DataFrame,
      keys: Seq[String],
      grid: GridSpec,
      windowMs: Long,
      kernels: Seq[(String, Kernel)],
      lookbackMs: Long = 0L,
      autoAdjustWindow: Boolean = false): DataFrame = {
    // Measured crossover (sf0.1, local[32]): at ratio ≤ 6 the explode path
    // wins (ro_default_rollup 0.8s vs 5.6s dense; ro_sliding_max 0.6s vs
    // 1.6s) because the dense series×grid frame out-costs a small
    // explosion; at ratio 720 (ro_tsbs_cpu_max) the explosion is 720× the
    // sample count and two-level wins outright. Explosion cost ~
    // ratio×samples, dense cost ~ series×gridPoints — ratio ≥ 8 is the
    // conservative switch point.
    //
    // A one-point grid skips the two-level path: its bucket partials,
    // eager level-1 pass and window merge only rebuild the single window
    // the aggregate below reads directly (Grid.bucketizeCol assigns t
    // without an explode there).
    val ratio = windowMs / grid.stepMs
    if (!autoAdjustWindow && ratio >= 8 && windowMs % grid.stepMs == 0) {
      val alg = kernels.collect { case (n, Algebraic(_, Some(tl), tsS)) => (n, tl, tsS) }
      if (alg.size == kernels.size && grid.startMs != grid.endMs)
        return rollupTwoLevel(samples, keys, grid, windowMs, alg)
      val edge = kernels.collect { case (n, k @ OverArrayPrev(_, true, _)) => n -> k }
      if (edge.size == kernels.size) { // counter family: incremental plan
        val pp = prevPass(samples, keys, grid, windowMs, lookbackMs, autoAdjust = false)
        return rollupTwoLevelPrev(pp, keys, grid, windowMs, lookbackMs, edge)
      }
      // mixed algebraic/edge sets (never produced by the engine) fall
      // through to the explode path rather than a hybrid merge
    }

    val needPrev = autoAdjustWindow || kernels.exists(_._2.isInstanceOf[OverArrayPrev])
    val src = if (needPrev) prevPass(samples, keys, grid, windowMs, lookbackMs, autoAdjustWindow)
              else samples
    val b =
      if (needPrev) Grid.bucketizeCol(src, grid, col("_win"))
      else Grid.bucketize(src, grid, windowMs)
    // ts-level two-phase for struct-buffered kernels (see Algebraic.tsSplit
    // scaladoc): engage only when some kernel REQUIRES it (first/last),
    // every co-scheduled kernel decomposes, AND the scan's persisted
    // bucket partitioning makes both split levels exchange-free
    // ([[bucketSatisfies]]) — otherwise the single shared aggregate below
    // stays the plan.
    if (!needPrev && bucketSatisfies(samples, keys)) {
      val splits = kernels.map {
        case (n, Algebraic(_, tl, tsS)) => n -> tsS.orElse(tl)
        case (n, _) => n -> None
      }
      val required = kernels.exists {
        case (_, Algebraic(_, _, Some(_))) => true
        case _ => false
      }
      if (required && splits.forall(_._2.isDefined)) {
        val pcols = splits.zipWithIndex.flatMap { case ((_, tl), i) =>
          tl.get.partials.map { case (pn, raw, mrg) => (s"_t${i}_$pn", raw, mrg) }
        }
        val l1 = b
          .groupBy((keys.map(col) :+ col("t") :+ col("ts")): _*)
          .agg(pcols.head._2.as(pcols.head._1),
            pcols.tail.map(p => p._2.as(p._1)): _*)
        val merged = l1
          .groupBy((keys.map(col) :+ col("t")): _*)
          .agg(pcols.head._3(col(pcols.head._1)).as(pcols.head._1),
            pcols.tail.map(p => p._3(col(p._1)).as(p._1)): _*)
        return merged.select((keys.map(col) :+ col("t")) ++
          splits.zipWithIndex.map { case ((n, tl), i) =>
            tl.get.finish(tl.get.partials.map { case (pn, _, _) =>
              pn -> col(s"_t${i}_$pn")
            }.toMap).as(n)
          }: _*)
      }
    }
    val needArr = kernels.exists(k =>
      k._2.isInstanceOf[OverArray] || k._2.isInstanceOf[OverArrayPrev])
    val arrStruct =
      if (needPrev)
        struct(col("ts").as("ts"), col("value").as("v"),
          col("_pv").as("pv"), col("_pts").as("pts"), col("_nv").as("nv"),
          col("_cv").as("cv"), col("_cpv").as("cpv"), col("_cnv").as("cnv"))
      else struct(col("ts").as("ts"), col("value").as("v"))
    val arrExpr = array_sort(collect_list(arrStruct)).as("_arr")
    val aggExprs: Seq[Column] =
      kernels.collect { case (n, Algebraic(e, _, _)) => e.as(n) } ++
        (if (needArr) Seq(arrExpr) else Nil) ++
        (if (needPrev) Seq(max(col("_win")).as("_win"), max(col("_mpi")).as("_mpi")) else Nil)
    var out = b
      .groupBy((keys.map(col) :+ col("t")): _*)
      .agg(aggExprs.head, aggExprs.tail: _*)
    kernels.foreach {
      case (n, OverArray(f)) => out = out.withColumn(n, f(col("_arr")))
      case (n, OverArrayPrev(f, _, _)) =>
        out = out.withColumn(n, f(col("_arr"), col("_win"), col("_mpi")))
      case _                 =>
    }
    // stable column order: keys, t, kernels
    val result = out.select((keys.map(col) :+ col("t")) ++ kernels.map(k => col(k._1)): _*)
    if (needPrev) zeroFillEmptyWindows(result, src, keys, grid, kernels) else result
  }

  /** Empty-window zero fill for the counter family (rollup.go:780-785 +
    * per-kernel `len(values)==0 && !IsNaN(prevValue)` branches): a grid
    * point whose lookback window holds NO samples still emits 0 for
    * delta/increase/rate/changes/… when
    *
    *  - the series' previous sample lies within maxPrevInterval of the
    *    window start (prevValue is set), and
    *  - a later in-range sample exists (`i < len(timestamps)` — the fill
    *    covers INTERIOR gaps; after the series' last sample the value goes
    *    stale instead of holding at 0 forever).
    *
    * Physical shape — closed form, no join back onto the rollup output:
    * only a sample whose gap to its NEXT sample exceeds the window can
    * seed a fill (otherwise every candidate window contains the next
    * sample), so the pass filters to gap rows first — on scrape-shaped
    * data that is a tiny fraction of samples. Each survivor is shifted
    * forward by its window and bucketized over a maxPrevInterval-wide
    * span (grid points whose window START falls inside (ts, ts+mpi] —
    * exactly the prevValue staleness rule), and `t < next_ts` is a PROOF
    * that the true window (t-win, t] is empty: the seeding sample is at
    * or before t-win and nothing exists between it and next_ts. The seed
    * is unique per grid point, so the result needs no dedup, and the
    * explosion is mpi/step per GAP row, not window/step per sample — the
    * TSBS window≫step shape pays only the gap filter.
    */
  private def zeroFillEmptyWindows(
      base: DataFrame,
      pp: DataFrame,
      keys: Seq[String],
      grid: GridSpec,
      kernels: Seq[(String, Kernel)]): DataFrame = {
    val fillable = kernels.forall {
      case (_, p: OverArrayPrev) => p.zeroFillGaps
      case _ => false
    }
    if (!fillable) return base
    // NaN samples are staleness markers, not values — they cannot seed a
    // prevValue (the reference strips NaN before the window loop)
    val gaps = pp.filter(!isnan(col("value")))
      .filter(col("_nts").isNotNull && col("_nts") - col("ts") > col("_win"))
      .withColumn("ts", col("ts") + col("_win"))
    val fills = Grid.bucketizeCol(gaps, grid, col("_mpi"))
      .filter(col("t") < col("_nts"))
      .select((keys.map(col) :+ col("t")) ++ kernels.map(k => lit(0.0).as(k._1)): _*)
    base.unionByName(fills)
  }

  /** Per-series prev pass for the cross-window counter family and window
    * auto-adjustment (rollup.go:770-805 prevValue, :871-919 scrape-interval
    * estimation, :921-958 removeCounterResets, :738-756 window adjust):
    *
    *  - `_pv`/`_pts`/`_nv`: previous/next raw sample of the series
    *  - `_cv`/`_cpv`/`_cnv`: reset-corrected counter values (cumulative
    *    correction; partial resets use the reference's 8× heuristic)
    *  - `_si`: per-series scrape interval — 0.6-quantile of the trailing
    *    20 in-range sample gaps (rollup.go:871-897 parity)
    *  - `_mpi`: maxPrevInterval = jitter-inflated `_si`, capped at the
    *    staleness lookback
    *  - `_win`: effective window — the explicit one, or (auto-adjust)
    *    max(step, _mpi) so `rate(m)` without `[d]` still spans two samples
    *
    * One extra shuffle (by series) over the raw samples — inherent to
    * cross-window semantics; order-sensitive kernels pay a per-group sort
    * anyway.
    */
  private[graft] def prevPass(
      samples: DataFrame,
      keys: Seq[String],
      grid: GridSpec,
      windowMs: Long,
      lookbackMs: Long,
      autoAdjust: Boolean): DataFrame = {
    val series = seriesKeys(keys).map(col)
    val sw = Window.partitionBy(series: _*).orderBy(col("ts"), col("value"))
    val sp = Window.partitionBy(series: _*)
    val cum = sw.rowsBetween(Window.unboundedPreceding, 0)
    // Counter-reset correction (rollup.go:921 removeCounterResets):
    //  - partial resets (drop < value/8) contribute only the drop
    //  - a gap exceeding stalenessInterval (= lookbackDelta + window,
    //    rollup.go:380-387) RESETS the accumulated correction — the series
    //    restarts from its raw value (issue 8072). Expressed as correction
    //    segments split at staleness breaks.
    //  - corrected values are clamped monotonically non-decreasing within
    //    a segment (float-precision guard, issue 5571) via a running max.
    val staleMs = if (lookbackMs > 0) lookbackMs + windowMs else 0L
    val brk =
      if (staleMs > 0)
        when(col("_pts").isNotNull && col("ts") - col("_pts") > staleMs, 1L).otherwise(0L)
      else lit(0L)
    val pre0 = samples
      .withColumn("_pv", lag(col("value"), 1).over(sw))
      .withColumn("_pts", lag(col("ts"), 1).over(sw))
      .withColumn("_nv", lead(col("value"), 1).over(sw))
      .withColumn("_nts", lead(col("ts"), 1).over(sw))
      // per-series position: lets the two-level counter merge select
      // window-edge samples with min_by/max_by over a fixed-width key
      // (HashAggregate) instead of min/max over the 9-field sample struct
      // (SortAggregate + a full sort of the exploded merge rows). Pruned
      // away by Catalyst for every caller that doesn't read it.
      .withColumn("_rn", row_number().over(sw))
      .withColumn("_brk", brk)
      .withColumn("_seg", sum(col("_brk")).over(cum))
    val segCum = Window.partitionBy((series :+ col("_seg")): _*)
      .orderBy(col("ts"), col("value"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val pre = pre0
      .withColumn("_corrStep",
        when(col("_brk") === 1L, lit(0.0))
          .when(col("_pv").isNotNull && col("value") < col("_pv"),
            when((col("_pv") - col("value")) * 8 < col("_pv"), col("_pv") - col("value"))
              .otherwise(col("_pv")))
          .otherwise(lit(0.0)))
      .withColumn("_cvRaw", col("value") + sum(col("_corrStep")).over(segCum))
      .withColumn("_cv", max(col("_cvRaw")).over(segCum))
      .drop("_corrStep", "_brk", "_seg", "_cvRaw")
    // scrape interval: 0.6-quantile of the LAST 20 inter-sample gaps (not
    // all in-range gaps), truncated to whole ms, non-positive → step —
    // rollup.go:871-897 getScrapeInterval exactly (r3/r4 deviation closed)
    val swd = Window.partitionBy(series: _*)
      .orderBy(col("ts").desc, col("value").desc)
    val withC = pre
      .withColumn("_cpv", lag(col("_cv"), 1).over(sw))
      .withColumn("_cnv", lead(col("_cv"), 1).over(sw))
      .withColumn("_gapRn", row_number().over(swd))
      .withColumn("_siq",
        floor(percentile(when(col("_gapRn") <= 20, col("ts") - col("_pts")),
          lit(0.6)).over(sp)))
      .withColumn("_si",
        coalesce(when(col("_siq") > 0, col("_siq").cast(DoubleType)),
          lit(grid.stepMs.toDouble)))
      .drop("_gapRn", "_siq")
    val si = col("_si")
    val mpiRaw =
      when(si <= 2000, si * 5).when(si <= 4000, si * 3).when(si <= 8000, si * 2)
        .when(si <= 16000, si * 1.5).when(si <= 32000, si * 1.25)
        .otherwise(si * 1.125)
    val mpi = if (lookbackMs > 0) least(mpiRaw, lit(lookbackMs.toDouble)) else mpiRaw
    val adjusted = withC.withColumn("_mpi", mpi.cast("long"))
    val win =
      if (autoAdjust) greatest(lit(grid.stepMs), col("_mpi"))
      else lit(windowMs)
    adjusted.withColumn("_win", win)
  }

  /** Two-level rollup for window ≫ step over mergeable kernels:
    *
    *  1. ONE partial row per (series, step bucket) — a sample lands in
    *     exactly one bucket ([[Grid.bucketize]] would explode it into
    *     ceil(window/step) buckets).
    *  2. Merge the partials per window, one of two ways chosen by a
    *     measured runtime stat (AQE-style):
    *     - EXPLODE-MERGE (default): each bucket partial fans out to the
    *       ≤ ratio windows it contributes to, then ONE partial+final
    *       HashAggregate by (series, t) applies the merge aggregates.
    *       Fully codegen'd, no window machinery; cost = buckets × ratio
    *       rows, which is bounded by the old sample-explode (buckets ≤
    *       samples) and collapses when samples cluster (sf0.1 TSBS
    *       increase: 4.6 k buckets → 3.3 M merge rows, ~2 s).
    *     - DENSE-WINDOW (fallback for dense buckets): a range-framed merge
    *       over a dense (series × grid) frame. WindowExec costs ~1 µs/row
    *       of buffering (measured floor: even sum() over the 15.4 M-row
    *       dense frame = 20 s), but it does NOT scale with ratio, so it
    *       wins when buckets are dense enough that buckets × ratio ≫
    *       series × gridPoints (e.g. ro_tsbs_cpu_max: 5 series with every
    *       bucket full).
    *
    * Window (t-window, t] == the union of step buckets ending in
    * [t-window+step, t] — exact because windowMs % stepMs == 0 (the caller
    * guarantees it).
    */
  private def rollupTwoLevel(
      samples: DataFrame,
      keys: Seq[String],
      grid: GridSpec,
      windowMs: Long,
      kernels: Seq[(String, TwoLevel, Option[TwoLevel])]): DataFrame = {
    val s = grid.stepMs
    val start = grid.startMs
    val filtered = samples
      .filter(col("ts") > lit(start - windowMs) && col("ts") <= lit(grid.endMs))
    // owning step bucket = smallest grid-aligned point >= ts. pmod-based:
    // the usual ceil trick `(x + s-1) div s` breaks for samples BEFORE the
    // grid start because Spark's `div` truncates toward zero, landing
    // pre-start buckets one step late (caught by the exec_test.go golden
    // slice: every lookback frame absorbed one stale sample).
    val tb = expr(s"ts + pmod(${start}L - ts, ${s}L)")
    // 3-level mode (opt r14): a kernel whose window TwoLevel aggregates a
    // (ts, value) STRUCT (first/last) would plan BOTH levels as
    // SortAggregate — the struct buffer is not UnsafeRow-mutable. When any
    // co-scheduled kernel declares a tsSplit AND the scan's bucket
    // partitioning makes the extra level exchange-free (bucketSatisfies —
    // on a flat store the per-ts pre-agg re-shuffles ~the whole data and
    // measures slower than the struct form's partial SortAggregate),
    // pre-aggregate per (keys, ts) first (tsSplit raw partials; other
    // kernels' window partials are per-ts-valid combine aggregates),
    // merge per bucket with the tsSplit merge (ts unique ⟹ fixed-width
    // min_by/max_by), and merge buckets across the window with `remerge`
    // ordered by the bucket timestamp. Every level is then a codegen
    // HashAggregate; no sort anywhere.
    val useTs = kernels.exists(_._3.isDefined) && bucketSatisfies(samples, keys)
    val effK: Seq[(String, TwoLevel)] =
      kernels.map { case (n, tl, tsS) => n -> (if (useTs) tsS.getOrElse(tl) else tl) }
    // partial columns, uniquely named per kernel; a shared row count drives
    // the empty-window filter of the dense-window merge (explode-merge only
    // ever sees non-empty windows). Tuple: (name, bucket-level aggregate,
    // window-level merge).
    val partialCols: Seq[(String, Column, Column => Column)] =
      effK.zipWithIndex.flatMap { case ((_, tl), i) =>
        tl.partials.zipWithIndex.map { case ((pn, raw, mrg), j) =>
          val nm = s"_p${i}_$pn"
          if (!useTs) (nm, raw, mrg)
          else (nm, mrg(col(nm)), tl.remerge.map(_(j)).getOrElse(mrg))
        }
      } :+ (("_prows",
        if (useTs) sum(col("_prows")) else count(lit(1)),
        (c: Column) => sum(c)))
    graft.core.StorageLimits.flushPending() // reject BEFORE the eager level-1 pass
    val base =
      if (!useTs) filtered
      else {
        val l0 = effK.zipWithIndex.flatMap { case ((_, tl), i) =>
          tl.partials.map { case (pn, raw, _) => raw.as(s"_p${i}_$pn") }
        } :+ count(lit(1)).as("_prows")
        filtered
          .groupBy((keys.map(col) :+ col("ts")): _*)
          .agg(l0.head, l0.tail: _*)
      }
    val level1 = base
      .withColumn("t", tb)
      .groupBy((keys.map(col) :+ col("t")): _*)
      .agg(partialCols.head._2.as(partialCols.head._1),
        partialCols.tail.map(p => p._2.as(p._1)): _*)
      // materialized once: the strategy choice needs its count, and both
      // merge strategies reuse it without recomputing the level-1 pass
      // (storage limits flush first: rejection precedes the eager pass)
      .localCheckpoint(true)
    graft.core.CheckpointGc.note()
    val buckets = level1.count()
    val ratio = windowMs / s
    val finishCols = (merged: String => Column) =>
      effK.zipWithIndex.map { case ((kn, tl), i) =>
        tl.finish(tl.partials.map { case (pn, _, _) =>
          pn -> merged(s"_p${i}_$pn")
        }.toMap).as(kn)
      }
    // merge rows leave the tag entries behind ([[withTagEntries]])
    val mk = seriesKeys(keys)
    if (buckets * ratio <= ExplodeMergeLimit)
      return withTagEntries(
        mergeByExplode(level1, mk, grid, windowMs, partialCols, finishCols), level1, keys)
    // dense-window fallback. NULL-SAFE key join: derived series
    // legitimately carry name=null, and a plain equi-join would silently
    // drop every in-grid partial of such series (caught by the
    // exec_test.go golden slice via sum_over_time(time()[1h]))
    val seriesDim = level1.select(mk.map(col): _*).distinct()
    val dense = seriesDim.crossJoin(Grid.gridDf(samples, grid)).alias("d")
    val inGrid = level1.filter(col("t") >= start).alias("g")
    val joinCond = mk.map(k => col(s"d.$k") <=> col(s"g.$k"))
      .reduce(_ && _) && col("d.t") === col("g.t")
    val joined = dense
      .join(inGrid, joinCond, "left")
      .select((mk.map(k => col(s"d.$k").as(k)) :+ col("d.t").as("t")) ++
        partialCols.map(p => col(s"g.${p._1}").as(p._1)): _*)
      .unionByName(level1.filter(col("t") < start).drop(TagEntries))
      // each row's t IS its bucket timestamp here (the join is on d.t ===
      // g.t; pre-start buckets carry their own t) — expose it under the
      // name the remerge aggregates order by
      .withColumn("_bt", col("t"))
    val w = Window.partitionBy(mk.map(col): _*).orderBy(col("t"))
      .rangeBetween(-(windowMs - s), 0)
    val merged = partialCols.map { case (pn, _, mrg) => pn -> mrg(col(pn)).over(w) }.toMap
    withTagEntries(joined
      .select((mk.map(col) :+ col("t") :+ merged("_prows").as("_rows")) ++
        finishCols(merged): _*)
      .filter(col("t") >= start && col("_rows") > 0)
      .select((mk.map(col) :+ col("t")) ++ kernels.map(k => col(k._1)): _*), level1, keys)
  }

  /** Should a ts-level pre-aggregation (tsSplit / the 3-level window plan)
    * replace a struct-buffered SortAggregate for this frame? Yes ONLY when
    * the extra aggregation level is exchange-free: the scan persists the
    * series-hash bucket column (`_h1` exists at a LEAF of the plan — only
    * [[graft.core.SampleStore.writeBucketed]] stores it) and the grouping
    * keys contain it, so HashPartitioning(_h1) satisfies every split
    * level by the subset rule.
    *
    * On a flat store the split's first level groups by (keys, ts) — a
    * second data-scale exchange (the per-ts pre-agg barely reduces scrape
    * data). Interleaved A/B on this box (opt r14, LastProf, min of 4,
    * quiet machine, 3 runs): struct-SortAggregate 0.68-0.70 s vs split
    * 0.89-1.02 s at the sf0.1 shape, and 1.5-2.1 s vs 1.9-2.7 s at 20×
    * rows — the struct form's partial SortAggregate shuffles only bucket
    * partials (guide §2.3 "aggregate before you shuffle") while the split
    * re-shuffles ~the full data, and the local sort is cheaper than that
    * exchange at every scale measured. (The r13 measurement landed the
    * other way on a hypervisor-contended hour; this gate keeps the
    * bucketed-store win — 8 SortAggregate → 0 with exchange count
    * unchanged — and reverts the flat store to the lighter-shuffle plan.)
    */
  private def bucketSatisfies(samples: DataFrame, keys: Seq[String]): Boolean =
    keys.contains("_h1") &&
      samples.queryExecution.analyzed.collectLeaves()
        .exists(_.output.exists(_.name == "_h1"))

  /** Hot-series note (SURVEY §7.4.6, SCALEBENCH rounds 7-8): prevPass's
    * per-series windows leave the data hash(series)-partitioned, so ONE
    * hot series' merge rows run in a single task. Round 7 guarded this
    * with a probe + re-key by (series, bucket t); round 8 REMOVED it:
    *
    *  - the straggler's work is bounded by the series' BUCKETS × ratio —
    *    i.e. by the query's grid size, NOT by its sample count (a 30%-hot
    *    series contributes at most gridSpan/step × ratio merge rows no
    *    matter how many samples it holds), and the HashAggregate merge
    *    rework dropped the per-row cost ~5×, so the worst-case straggler
    *    on a 7-day 1-minute 12h-window grid is ~31 M rows ≈ 12-19 s —
    *    constant in data scale;
    *  - the re-key made things far WORSE under the hash merge: the bucket
    *    t it re-keys by is consumed by the explode, so the merge aggregate
    *    needs a fresh (series, window t) exchange over the buckets×ratio
    *    exploded frame, whose partial hash maps overflow and spill the
    *    whole frame (measured on the 10× 30%-hot dataset: 86 GB spilled
    *    per stage, 64-78 s wall vs 20.9 s with no re-key — and uniform
    *    data never triggered it, so removing it costs nothing there).
    */

  /** Merge-row budget for the explode-merge strategy: buckets × ratio rows
    * stream through one partial+final HashAggregate (~0.1 µs/row measured),
    * so 200 M rows ≈ a few seconds at local[32]; past that the dense-window
    * merge's series × gridPoints × ~1 µs/row buffering wins.
    * `private[graft] var` so specs can force the dense-window path.
    */
  private[graft] var ExplodeMergeLimit: Long = 200L * 1000 * 1000

  /** Explode-merge: fan each bucket partial out to the grid-aligned
    * windows it contributes to — sequence(t, t+window-step, step) — and
    * hash-aggregate the merge functions by (series, window end). The merge
    * aggregates are exactly the TwoLevel window merges, applied as plain
    * group aggregates (partial+final, map-side combine: a mapper holds a
    * series' contiguous buckets, so map-side combining is dense).
    */
  private def mergeByExplode(
      level1: DataFrame,
      keys: Seq[String],
      grid: GridSpec,
      windowMs: Long,
      partialCols: Seq[(String, Column, Column => Column)],
      finishCols: (String => Column) => Seq[Column]): DataFrame = {
    val s = grid.stepMs
    // no antiSkew here: this path's level1 groupBy itself exchanges on
    // (series, bucket t) — no upstream series-only partitioning to reuse —
    // so the merge aggregate always gets a balanced partial+final split
    val exploded = level1
      .withColumn("_wt",
        explode(expr(s"sequence(t, t + ${windowMs - s}L, ${s}L)")))
      .filter(col("_wt") >= lit(grid.startMs) && col("_wt") <= lit(grid.endMs))
      // keep the bucket timestamp: the 3-level remerge aggregates (first/
      // last) order by it; unused merges leave it for Catalyst to prune
      .withColumnRenamed("t", "_bt").withColumnRenamed("_wt", "t")
    val aggs = partialCols.map { case (pn, _, mrg) => mrg(col(pn)).as(pn) }
    val merged = exploded
      .groupBy((keys.map(col) :+ col("t")): _*)
      .agg(aggs.head, aggs.tail: _*)
    merged.select((keys.map(col) :+ col("t")) ++ finishCols(c => col(c)): _*)
  }

  /** Two-level plan for the COUNTER family (edge-only [[OverArrayPrev]]
    * kernels) at window ≫ step. An edge-only kernel reads only the
    * window's first/last samples plus their series-level neighbor links
    * (supplied by [[prevPass]]), so the bucket partial is just the
    * first/last samples' fields (per-field min_by/max_by on the series
    * row number) plus count and mpi, and the merge is explode-merge with
    * the same min_by/max_by — codegen'd HashAggregates end to end, no
    * window machinery, no ratio× SAMPLE amplification, and no duplicated
    * per-bucket sorted arrays (the r3 scale-killer: bucketize explode plus
    * a collect_list per window).
    *
    * Measured at sf0.1 (increase(click[12h]), 1 m grid, 1 426 series):
    * bucketize explode 479 s → dense-frame window merge 36 s (WindowExec
    * buffering floor over 15.4 M dense rows) → struct-min/max
    * SortAggregate ~3.7 s (r7) → this plan ~1.5 s (r8; the r7 form's
    * result projection also fell out of codegen, see SCALEBENCH r8).
    *
    * The synthesized window array: [first, second, second-to-last, last]
    * rebuilt from the two stored edge samples — window samples are
    * contiguous in the series sequence, so sample 2 ≡ sample 1's
    * next-neighbor fields and sample n-1 ≡ sample n's prev-neighbor
    * fields. The pre-window prevValue seed the delta chains need
    * (rollup.go:770-805) is the window-first sample's own pv/pts/cpv
    * links — no separate seed lookup. The array is emitted as ONE
    * aggregate output column and the kernels apply in a separate
    * projection — computing them inside the aggregate's result
    * expressions inlined the whole array construction into every
    * element_at reference, overflowing codegen into interpreted per-row
    * evaluation (38 µs/row vs 0.6 µs/row).
    */
  private def rollupTwoLevelPrev(
      prepped: DataFrame, // prevPass output
      keys: Seq[String],
      grid: GridSpec,
      windowMs: Long,
      lookbackMs: Long,
      kernels: Seq[(String, OverArrayPrev)]): DataFrame = {
    val s = grid.stepMs
    val start = grid.startMs
    // Zero-fill seeds are read off level1 (a gap longer than the window
    // means the NEXT sample is outside the seed's own step bucket, so a
    // seed is always its bucket's LAST sample = the _pl_* partial) — the
    // r7 shape recomputed the whole prevPass window chain from a second
    // parquet scan for the fill pass. Reading them off level1 needs the
    // bucket filter widened by the fill reach (mpi ≤ lookback): a sample
    // up to lookback before the earliest window start can still seed
    // in-grid zeros. With no lookback cap mpi is unbounded — fall back to
    // the standalone fill pass over the full prevPass frame.
    val fillable = kernels.forall(_._2.zeroFillGaps)
    val fillFromLevel1 = fillable && lookbackMs > 0
    val lo = start - windowMs - (if (fillFromLevel1) lookbackMs else 0L)
    val filtered = prepped
      .filter(col("ts") > lit(lo) && col("ts") <= lit(grid.endMs))
      // NULLABILITY IS A CODEGEN BUDGET here (r11 BuckProf bisect): the
      // merge aggregate below emits its result — the 4-struct edge array
      // over ~38 buffer slots — as ONE unsplittable generated method
      // (aggregate results read buffer variables, not an input row, so
      // splitExpressions cannot cut it). A parquet scan reports EVERY
      // column nullable; the extra null branches pushed that method past
      // HotSpot's 8000-bytecode JIT ceiling (DontCompileHugeMethods), so
      // on the bucketed store it ran INTERPRETED forever — 5.6 s vs the
      // flat store's 1.7 s for identical rows. ts/value are non-null by
      // the samples contract and the correction chain `_cv` derives from
      // value; assert that into the schema (coalesce against a
      // never-taken default) so both stores generate the same JIT-able
      // method. The genuinely-optional neighbor fields (pv/pts/nv/…)
      // stay nullable — they are nullable on every store.
      .withColumn("ts", coalesce(col("ts"), lit(Long.MinValue)))
      .withColumn("value", coalesce(col("value"), lit(Double.NaN)))
      .withColumn("_cv", coalesce(col("_cv"), lit(Double.NaN)))
    val tb = expr(s"ts + pmod(${start}L - ts, ${s}L)") // see rollupTwoLevel
    // Per-field min_by/max_by keyed on the per-series row number `_rn`:
    // every aggregation buffer stays a fixed-width (value, ordinal) pair,
    // so BOTH levels run as codegen'd HashAggregates that reuse the
    // prevPass series partitioning — no exchange, no sort. The r7 shape
    // (min/max over the 9-field sample struct) forced SortAggregate plus
    // a full sort of the exploded merge rows (measured at sf0.1
    // increase(click[12h]): 3.75 s → see SCALEBENCH; same output).
    val fields = Seq(
      "ts" -> "ts", "v" -> "value", "pv" -> "_pv", "pts" -> "_pts",
      "nv" -> "_nv", "nts" -> "_nts", "cv" -> "_cv", "cpv" -> "_cpv",
      "cnv" -> "_cnv")
    val l1Aggs =
      fields.map { case (f, c) => min_by(col(c), col("_rn")).as(s"_pf_$f") } ++
        fields.map { case (f, c) => max_by(col(c), col("_rn")).as(s"_pl_$f") } ++
        Seq(min(col("_rn")).as("_pfrn"), max(col("_rn")).as("_plrn"),
          count(lit(1)).as("_pcnt"), max(col("_mpi")).as("_pmpi"))
    val level1Lazy = filtered
      .withColumn("t", tb)
      .groupBy((keys.map(col) :+ col("t")): _*)
      .agg(l1Aggs.head, l1Aggs.tail: _*)
    // Materialized when the fill pass reuses it (≤ one row per non-empty
    // series×step bucket — bucket-scale, bounded at any data size);
    // single-consumer shapes stay lazy. Two traps, both measured:
    //  - the checkpoint RDD forgets its hash partitioning, which would
    //    push a bucket×ratio-row exchange under the merge aggregate —
    //    re-keying the BUCKET-scale frame by series restores subset
    //    clustering so the merge stays exchange-free (4.2 s vs 1.4 s
    //    steady-state at sf0.1);
    //  - AQE would coalesce that tiny exchange to ONE partition (it
    //    cannot see the ratio× explode behind it) and serialize the
    //    whole merge (19.4 s single-task) — hence the explicit count.
    if (fillFromLevel1) // reject BEFORE the eager level-1 materialization
      graft.core.StorageLimits.flushPending()
    val level1 =
      if (fillFromLevel1)
        { graft.core.CheckpointGc.note(); level1Lazy.localCheckpoint(true) }
          // Post-checkpoint the scan's bucket-partition attributes are
          // already severed (the repartition below restores clustering on
          // the NEW attributes), so the persisted-store key pair can be
          // asserted non-null here — the last null branches that kept the
          // bucketed variant's merge output method over the JIT bytecode
          // ceiling (see the nullability note on `filtered` above; the
          // flat store computes the pair, non-null by construction, and
          // ran 3× faster on identical rows until this matched).
          .transform(df => Seq("_h1", "_h2").filter(keys.contains)
            .foldLeft(df)((d, k) => d.withColumn(k, coalesce(col(k), lit(0L)))))
          .repartition(prepped.sparkSession.sparkContext.defaultParallelism,
            seriesKeys(keys).map(col): _*)
      else level1Lazy
    // bucket t contributes to grid windows [max(t, start), min(t+window-step,
    // lastGridPoint)] — bounding the sequence itself (instead of
    // post-explode filtering) keeps pre-grid buckets from fanning out at
    // all. The upper bound must be the last ALIGNED grid point, not
    // grid.endMs: a misaligned query_range end (reachable over HTTP —
    // the round-7 bucketizeCol incident) puts the last samples' bucket t
    // PAST endMs, and sequence(start > stop) throws.
    val lastT = start + Math.floorDiv(grid.endMs - start, s) * s
    val exploded = level1
      .filter(col("t") >= lit(start - windowMs + s) && col("t") <= lit(lastT))
      .withColumn("_wt",
        explode(expr(s"sequence(greatest(t, ${start}L), " +
          s"least(t + ${windowMs - s}L, ${lastT}L), ${s}L)")))
      .drop("t").withColumnRenamed("_wt", "t")
    val nullD = lit(null).cast(DoubleType)
    val nullL = lit(null).cast("long")
    val f = (fld: String) => min_by(col(s"_pf_$fld"), col("_pfrn"))
    val l = (fld: String) => max_by(col(s"_pl_$fld"), col("_plrn"))
    val n = sum(col("_pcnt"))
    val f1 = struct(fields.map { case (fld, _) => f(fld).as(fld) }: _*)
    val l1 = struct(fields.map { case (fld, _) => l(fld).as(fld) }: _*)
    // synthesized arr[2] / arr[-2] — exact per the edgeOnly contract
    // (sample 2 ≡ sample 1's next neighbor; sample n-1 ≡ sample n's prev)
    val f2syn = struct(
      f("nts").as("ts"), f("nv").as("v"),
      f("v").as("pv"), f("ts").as("pts"),
      nullD.as("nv"), nullL.as("nts"),
      f("cnv").as("cv"), f("cv").as("cpv"), nullD.as("cnv"))
    val l2syn = struct(
      l("pts").as("ts"), l("pv").as("v"),
      nullD.as("pv"), nullL.as("pts"),
      l("v").as("nv"), l("ts").as("nts"),
      l("cpv").as("cv"), nullD.as("cpv"), l("cv").as("cnv"))
    val edges = when(n === 1, array(f1)).otherwise(array(f1, f2syn, l2syn, l1))
    // The aggregate outputs the 4-sample edge ARRAY as one column and the
    // kernels are applied in a separate projection over that attribute.
    // Computing post(edges) inside the result expressions substituted the
    // whole 4×9-field array construction into EVERY element_at reference
    // of every kernel — a tree big enough that the generated result
    // projection failed to compile and fell back to interpreted
    // per-row tree walking (measured: 126 s of task time for 3.3 M merge
    // rows ≈ 38 µs/row; this shape: 0.6 µs/row). CollapseProject cannot
    // re-inline it: the array is non-cheap and referenced several times
    // per kernel, so the projection boundary is stable, and downstream
    // null/NaN filters land between the projection and the aggregate as
    // small attribute-based predicates.
    val mergeAggs = Seq(edges.as("_edges"), max(col("_pmpi")).as("_xmpi"))
    val kernelCols = kernels.map { case (kn, OverArrayPrev(post, _, _)) =>
      // lazy CaseWhen guard so the post can never dereference an empty
      // array (defensive — merge groups are non-empty by construction)
      when(size(col("_edges")) > 0,
        post(col("_edges"), lit(windowMs), col("_xmpi"))).as(kn)
    }
    // a checkpointed level 1 lets merge rows leave the tag entries behind
    val mk = if (fillFromLevel1) seriesKeys(keys) else keys
    val merged = exploded
      .groupBy((mk.map(col) :+ col("t")): _*)
      .agg(mergeAggs.head, mergeAggs.tail: _*)
      .select((mk.map(col) :+ col("t")) ++ kernelCols: _*)
    if (!fillable) merged
    else if (fillFromLevel1) {
      // mpi is per-series constant (a percentile over the whole series
      // partition), so the bucket max `_pmpi` IS the seed's own mpi
      val fillSrc = level1.select(
        (keys.map(col) :+
          col("_pl_ts").as("ts") :+ col("_pl_v").as("value") :+
          col("_pl_nts").as("_nts") :+ lit(windowMs).as("_win") :+
          col("_pmpi").as("_mpi")): _*)
      zeroFillEmptyWindows(withTagEntries(merged, level1, keys), fillSrc, keys, grid, kernels)
    } else zeroFillEmptyWindows(merged, prepped, keys, grid, kernels)
  }

  def rollup(
      samples: DataFrame,
      keys: Seq[String],
      grid: GridSpec,
      windowMs: Long,
      kernel: Kernel,
      out: String = "value",
      lookbackMs: Long = 0L,
      autoAdjustWindow: Boolean = false): DataFrame =
    rollupMulti(samples, keys, grid, windowMs, Seq(out -> kernel),
      lookbackMs, autoAdjustWindow)

  /** rollup_candlestick — open/close/low/high fanned out as a `rollup` tag
    * (rollup.go:374-516 getRollupConfigs fan-out; candlestick semantics
    * rollup.go:2430-2495). One aggregation pass + stack, not four jobs.
    */
  def candlestick(samples: DataFrame, keys: Seq[String], grid: GridSpec, windowMs: Long): DataFrame = {
    val wide = rollupMulti(samples, keys, grid, windowMs, Seq(
      "open" -> Kernels.first,
      "close" -> Kernels.last,
      "low" -> Kernels.min,
      "high" -> Kernels.max))
    wide.select(
      (keys.map(col) :+ col("t")) :+
        expr("stack(4, 'open', open, 'close', close, 'low', low, 'high', high) as (rollup, value)"): _*)
  }

  /** aggr_over_time(("f1","f2",…)) — several rollups at once, fanned out as
    * a `rollup` tag (rollup.go:146-197 aggr_over_time).
    */
  def aggrOverTime(
      samples: DataFrame,
      keys: Seq[String],
      grid: GridSpec,
      windowMs: Long,
      fns: Seq[(String, Kernel)]): DataFrame = {
    // internal column names are index-based: fn labels (e.g. "0.5" for a
    // quantile phi) are not always valid identifiers even backtick-quoted
    val safe = fns.zipWithIndex.map { case ((label, k), i) => (label, s"_k$i", k) }
    val wide = rollupMulti(samples, keys, grid, windowMs, safe.map(s => s._2 -> s._3))
    val stackArgs = safe.map(s => s"'${s._1}', `${s._2}`").mkString(", ")
    wide.select(
      (keys.map(col) :+ col("t")) :+
        expr(s"stack(${fns.size}, $stackArgs) as (rollup, value)"): _*)
  }

  /** quantiles_over_time("phi", phi1, …, phiN) — one output series per phi,
    * tagged by the phi label (rollup.go:1383 newRollupQuantiles).
    */
  def quantilesOverTime(
      samples: DataFrame,
      keys: Seq[String],
      grid: GridSpec,
      windowMs: Long,
      phis: Seq[Double]): DataFrame =
    aggrOverTime(samples, keys, grid, windowMs,
      phis.map(p => s"$p" -> Kernels.quantile(p)))
      .withColumnRenamed("rollup", "phi")

  /** count_values_over_time — per-window histogram of exact values, one
    * series per distinct value (rollup.go:2284 via newRollupCountValues).
    */
  def countValuesOverTime(samples: DataFrame, keys: Seq[String], grid: GridSpec, windowMs: Long): DataFrame =
    Grid.bucketize(samples, grid, windowMs)
      .groupBy((keys.map(col) :+ col("t") :+ col("value")): _*)
      .agg(count(lit(1)).cast(DoubleType).as("cnt"))

  /** histogram_over_time — VictoriaMetrics log-bucketed (vmrange) histogram
    * of the window's samples, one series per bucket
    * (rollup.go:1526 rollupHistogram; bucket scheme
    * lib/histogram/histogram.go: 18 log10 sub-buckets per decade, bounds
    * rendered %.3e). Emits vmrange STRING ranges like the reference; apply
    * HistogramQ.vmrangeToLE (= prometheus_buckets) to get `le` buckets.
    * metrics.Histogram.Update skips only NaN and negative values, so a 0
    * counts in the lower bucket 0...1.000e-09.
    */
  def histogramOverTime(samples: DataFrame, keys: Seq[String], grid: GridSpec, windowMs: Long): DataFrame =
    Grid.bucketize(samples, grid, windowMs)
      .filter(!isnan(col("value")) && col("value") >= 0.0)
      .withColumn("_k", HistogramQ.bucketIdxClamped(col("value")))
      .groupBy((keys.map(col) :+ col("t") :+ col("_k")): _*)
      .agg(count(lit(1)).cast(DoubleType).as("value"))
      .withColumn("vmrange", HistogramQ.vmrangeOfIdx(col("_k")))
      .drop("_k")

  /** absent_over_time — emits 1.0 exactly at grid points where NO series
    * matched (rollup.go:1755; absent series synthesis eval.go:1017-1031):
    * dense grid anti-joined against observed buckets.
    */
  def absentOverTime(samples: DataFrame, grid: GridSpec, windowMs: Long): DataFrame = {
    // NaN samples are absent (absent_over_time(nan[w:s]) == 1)
    val present = Grid.bucketize(samples.filter(!isnan(col("value"))), grid, windowMs)
      .select("t").distinct()
    Grid.gridDf(samples, grid)
      .join(present, Seq("t"), "left_anti")
      .withColumn("value", lit(1.0))
  }
}
