package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, TimestampType}

/** The canonical samples model (FIXTURES.md §1, SURVEY §1.2).
  *
  * Reference data model: a time series is a label set plus
  * (timestamp ms, value float64) samples
  * (app/vmselect/promql/timeseries.go:18-27,
  * lib/storage/storage.go:1597-1604 MetricRow). Spark working form is the
  * exploded long row: (name, tags, ts, value); `tags` is a
  * MAP<STRING,STRING>. Because Spark cannot group by MapType, grouping uses
  * either explicit label columns or the canonical `skey` string
  * (name + sorted tags — lib/storage/metric_name.go:137-143 keeps tags
  * sorted by key for exactly this canonical-identity purpose).
  */
object Samples {

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    // events.parquet carries TIMESTAMP(NANOS) which Spark 4 rejects unless
    // read as raw int64 nanos; tsMs() normalizes either representation.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // ts-range predicates on the derived ms column push to the raw nanos
    // scan column (guide §6); every reader of this store benefits
    TsPushdown.install(spark)
    spark.read.parquet(s"$dir/$name.parquet")
  }

  /** events(event_id, ts, user_id, event_type, value, props) mapped to the
    * samples schema per FIXTURES.md §6: name := event_type,
    * tags := {user_id: …}, ts := epoch millis, value := value.
    */
  def fromEvents(spark: SparkSession, dir: String): DataFrame = {
    val e = table(spark, dir, "events")
    e.select(
      col("event_type").as("name"),
      map(lit("user_id"), col("user_id").cast("string")).as("tags"),
      tsMs(e, "ts").as("ts"),
      col("value").as("value"))
  }

  /** Flat variant keeping user_id as a plain column — the form most
    * operator queries group on (labels projected to columns).
    */
  def eventsFlat(spark: SparkSession, dir: String): DataFrame = {
    val e = table(spark, dir, "events")
    e.select(
      col("event_type").as("name"),
      col("user_id"),
      tsMs(e, "ts").as("ts"),
      col("value").as("value"))
  }

  /** Epoch milliseconds from a timestamp column (truncating, like DuckDB's
    * epoch_ms). Handles TIMESTAMP/TIMESTAMP_NTZ as well as raw int64
    * NANOS (the nanosAsLong read path); session tz is UTC like the oracle.
    */
  def tsMs(df: DataFrame, name: String): Column = {
    val isLongNanos = df.schema(name).dataType == LongType
    if (isLongNanos) expr(s"$name div 1000000L")
    else (unix_micros(col(name).cast(TimestampType)) / lit(1000L)).cast(LongType)
  }
}
