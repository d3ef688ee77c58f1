package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Series identity: the one place that knows how a label set becomes a
  * key. The reference keys a series by its MetricName, tags sorted by key
  * (lib/storage/metric_name.go:137-143); Spark cannot group, join or
  * order on a map, so the label set travels as:
  *
  *  - [[entries]], the sorted tag-entry array: the canonical label set,
  *    groupable, joinable and orderable; `map_from_entries` turns it back
  *    into the map. Group keys whose tags are rebuilt carry it.
  *  - the pair `_h1`/`_h2` ([[withPair]]), two xxhash64 values over
  *    [[entries]], persisted and bucketed on by
  *    [[SampleStore.writeBucketed]]. Data-scale keys are [[Keys]].
  *  - [[orderKey]], a string, only where a key ORDERS results.
  *
  * A null tags map is the empty label set (the reference has no null
  * one): xxhash64 of a null array and of an empty one both return the
  * seed.
  */
object SeriesId {

  /** the empty label set, typed as the tags map */
  def NoTags: Column = map().cast("map<string,string>")

  /** the canonical label set: the map's entries sorted by key (null stays null) */
  def entries(tags: Column): Column = array_sort(map_entries(tags))

  /** the data-scale series key columns of a [[withPair]] frame */
  val Keys: Seq[String] = Seq("name", "_h1", "_h2")

  /** `df` with the pair over the canonical label set of `tags`. A frame
    * that already carries the pair (a bucketed store's persisted
    * columns) is returned untouched, so the scan's bucket
    * HashPartitioning reaches the operators above it.
    */
  def withPair(df: DataFrame): DataFrame = withPair(df, entries(col("tags")))

  /** [[withPair]] over an already-built entries column */
  def withPair(df: DataFrame, entries: Column): DataFrame =
    if (df.columns.contains("_h1") && df.columns.contains("_h2")) df
    else df.withColumn("_h1", xxhash64(entries)).withColumn("_h2", xxhash64(entries, lit(1)))

  /** [[withPair]] with a null name or null tags read as "" and the empty
    * label set: such a series keys, joins and renders like its empty twin
    */
  def canonical(df: DataFrame): DataFrame =
    withPair(df)
      .withColumn("name", coalesce(col("name"), lit("")))
      .withColumn("tags", coalesce(col("tags"), NoTags))

  /** distinct series of a [[withPair]] frame (a null name counts as "") */
  def countSeries: Column =
    countDistinct(coalesce(col("name"), lit("")), col("_h1"), col("_h2"))

  /** one-column series key (name, label set) for grouping, windows and
    * streaming dedup state; null name and tags read as "" and empty
    */
  def key(name: Column, tags: Column): Column =
    struct(coalesce(name, lit("")), entries(coalesce(tags, NoTags)))

  /** the series key as a string, for ORDERING only: name, U+0001, the JSON
    * of [[entries]] — byte-identical to the key the evaluator's
    * topk/bottomk/sort tie-breaks and `any`/limitk picks always used
    */
  def orderKey(name: Column, tags: Column): Column =
    concat_ws("\u0001", coalesce(name, lit("")), to_json(entries(tags)))
}
