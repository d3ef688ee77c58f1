package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** Exemplar-payload dedup that stays a HashAggregate (optimization r13).
  *
  * `groupBy(keys).agg(first(name), first(tags))` — and any
  * `dropDuplicates(keys)` over a frame that carries a string or map
  * payload — places the payload in the AGGREGATION BUFFER. UnsafeRow
  * aggregation buffers only take fixed-width mutable types, so the whole
  * aggregate plans as SortAggregate: a full per-partition sort of the
  * input (often a data- or grid-scale frame) with the map serialized
  * through every comparison, where the intent was a hash-distinct.
  *
  * Every caller's group keys functionally determine the payload (series
  * key ⟹ name/tags; tags-hash pair ⟹ tags — by construction), so the
  * payload can ride the GROUPING KEY instead: grouping keys may be any
  * orderable type, and a no-aggregate distinct over them plans as a
  * partial+final HashAggregate (hash keys may be variable-width; only
  * buffers must be mutable). Maps are the one non-orderable type, so a
  * map column travels as its sorted entries array and is rebuilt with
  * map_from_entries afterwards — identical content, entries sorted by
  * key. Map entry ORDER is not part of series identity anywhere in the
  * engine (canonical series keys sort entries already), and every
  * rendering path sorts labels before output.
  */
object Exemplar {

  private def isMap(df: DataFrame, c: String): Boolean =
    df.schema(c).dataType.isInstanceOf[MapType]

  /** One row per distinct `keys` tuple carrying the group-constant
    * `payload` columns, output columns `keys ++ payload` in order.
    * Requires keys ⟹ payload (a violated dependency surfaces as
    * duplicate key rows rather than an arbitrary first() pick).
    */
  def distinctWith(df: DataFrame, keys: Seq[String], payload: Seq[String]): DataFrame = {
    val mapCols = payload.filter(isMap(df, _))
    val lifted = mapCols.foldLeft(df) { (d, c) =>
      d.withColumn(c, SeriesId.entries(col(c)))
    }
    val out = lifted.select((keys ++ payload).map(col): _*).distinct()
    mapCols.foldLeft(out) { (d, c) => d.withColumn(c, map_from_entries(col(c))) }
  }

  /** groupBy(keys)+payload-in-key aggregation: run `aggs` grouped by
    * `keys ++ payload` (payload maps lifted to sorted entries arrays and
    * rebuilt afterwards) so group-constant payload columns never enter
    * the aggregation buffer. All `aggs` buffers must themselves be
    * fixed-width (or typed-imperative) for the HashAggregate to hold.
    */
  def groupByWith(
      df: DataFrame,
      keys: Seq[Column],
      payload: Seq[String])(aggs: Seq[Column]): DataFrame = {
    val mapCols = payload.filter(isMap(df, _))
    val lifted = mapCols.foldLeft(df) { (d, c) =>
      d.withColumn(c, SeriesId.entries(col(c)))
    }
    val out = lifted
      .groupBy(keys ++ payload.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    mapCols.foldLeft(out) { (d, c) => d.withColumn(c, map_from_entries(col(c))) }
  }
}
