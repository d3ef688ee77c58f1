package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Evaluation grid: timestamps start, start+step, …, end (epoch millis).
  *
  * Mirrors the reference result-grid contract
  * (app/vmselect/promql/eval.go:234-254 getTimestamps): every query result
  * carries values aligned to this shared grid.
  */
final case class GridSpec(startMs: Long, endMs: Long, stepMs: Long) {
  require(stepMs > 0, "step must be positive")
  require(endMs >= startMs, "end must be >= start")
  // Grid points are multiples of step offset from startMs.
  def numPoints: Long = (endMs - startMs) / stepMs + 1
}

object Grid {

  /** Scale-first bucket assignment: instead of a theta (range) join of a
    * grid table against samples — which Spark plans as BroadcastNestedLoop —
    * each sample row is exploded map-side into the (window/step) grid
    * buckets whose lookback window `(t-window, t]` contains it, then a plain
    * hash aggregation groups by (seriesKey, t). No shuffle beyond the one
    * the aggregation itself needs; survives arbitrary scale-up because the
    * blow-up factor is ceil(window/step), independent of data size.
    *
    * Window semantics follow app/vmselect/promql/rollup.go:701-823
    * (doInternal): samples in (tEnd-window, tEnd] are rolled up for each
    * grid timestamp tEnd.
    *
    * Input must have `ts` (epoch ms, long) and may have any other columns;
    * output gains a `t` column (grid timestamp, epoch ms).
    */
  def bucketize(samples: DataFrame, grid: GridSpec, windowMs: Long): DataFrame =
    bucketizeCol(samples, grid, lit(windowMs))

  /** bucketize with a per-ROW window column (long ms) — the engine's window
    * auto-adjustment derives the effective lookback per series from its
    * estimated scrape interval (rollup.go:738-756), so different series of
    * one rollup call may explode into different bucket counts.
    */
  def bucketizeCol(samples: DataFrame, grid: GridSpec, windowMs: Column): DataFrame = {
    val s = grid.stepMs
    val start = grid.startMs
    // one grid point (an instant query): its window is the only one a
    // sample can land in, so the window filter assigns t outright
    if (grid.startMs == grid.endMs)
      return samples
        .filter(col("ts") > lit(start) - windowMs && col("ts") <= lit(start))
        .withColumn("t", lit(start))
    // last actual grid point: endMs itself only when (end - start) is a
    // whole number of steps. A sample past it belongs to NO window, and
    // its owning bucket t0 would sit beyond lastPoint — with a misaligned
    // end (reachable from any HTTP query_range) the sequence below would
    // then be DESCENDING (t0 > least(..) bound) and throw Illegal
    // sequence boundaries mid-query.
    val lastPoint = start + (grid.endMs - start) / s * s
    val filtered = samples
      .filter(col("ts") > lit(start) - windowMs && col("ts") <= lit(lastPoint))
    // smallest grid-aligned point >= ts; pmod form because Spark's `div`
    // truncates toward zero, which breaks the `(x + s-1) div s` ceil trick
    // for pre-start samples (ts < start). Here the explode over-covered by
    // one step and the window filter hid it; the two-level path groups by
    // the bucket directly and needs the exact value.
    val t0 = expr(s"ts + pmod(${start}L - ts, ${s}L)")
    val nOff = floor((windowMs + lit(s - 1)) / lit(s)).cast("long") // buckets a sample can land in
    filtered
      .withColumn(
        "t",
        explode(
          sequence(t0, least(t0 + (nOff - lit(1)) * lit(s), lit(lastPoint)), lit(s))))
      .filter(col("t") >= lit(start) && (col("t") - windowMs) < col("ts"))
  }

  /** Dense grid timestamps as a one-column DataFrame (t: long). Used for
    * gap-filling ops (interpolate / keep_last_value / absent_over_time)
    * that must emit rows at grid points with no samples. The sequence is
    * generated distributed-safe: one array row → explode; at realistic
    * steps the grid is ≤ millions of points, far below executor limits.
    */
  def gridDf(samples: DataFrame, grid: GridSpec): DataFrame = {
    samples.sparkSession
      .range(1)
      .select(
        explode(
          sequence(lit(grid.startMs), lit(grid.endMs), lit(grid.stepMs))).as("t"))
  }
}
