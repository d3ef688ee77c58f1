package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Empirical 10×-scale + skew probe (VERDICT r6 task 4): generate a
  * ~1M-row events table in the TSBS shape — 100K series (20000 users ×
  * 5 event types) — in two variants:
  *
  *  - `uniform`: samples spread evenly over users/types/time;
  *  - `hot`:     ~30% of ALL samples forced onto ONE series
  *               (click, user 42), the "one hot series" skew case from
  *               SURVEY §7.4 item 6.
  *
  * Runs the headline rollup/aggregation queries (the per-series window
  * and groupBy paths where a hot key would serialize work) on both and
  * prints per-query seconds + hot/uniform ratio, then the top stages of
  * each variant's last pass ([[StageProfile]]). Everything is
  * deterministic (xxhash64-based pseudo-randomness, no Random), data
  * lands under target/scalebench/ — never /root/testdata.
  */
object ScaleBench {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("scalebench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val rows = sys.env.getOrElse("SCALEBENCH_ROWS", "1000000").toLong
    // hot-series share = hotTenths/10 of ALL samples (default 30%)
    val hotTenths = sys.env.getOrElse("SCALEBENCH_HOT_TENTHS", "3").toInt
    val passes = sys.env.getOrElse("SCALEBENCH_PASSES", "2").toInt
    val users = 20000L
    val T0 = 1704067200000L // 2024-01-01, the START the gate queries use
    val spanMs = 30L * 86400000L

    def gen(hot: Boolean, outDir: String): Unit = {
      val types = array(lit("click"), lit("view"), lit("purchase"),
        lit("signup"), lit("error"))
      val base = spark.range(rows)
        .withColumn("_h", abs(xxhash64(col("id"))))
        .withColumn("_hotRow", lit(hot) && pmod(col("id"), lit(10)) < hotTenths)
        .select(
          col("id").as("event_id"),
          // hot rows keep the same time spread — skew is in the KEY, not time
          timestamp_millis((lit(T0) + (col("id") * spanMs / rows)).cast("long")).as("ts"),
          // skew ONLY the series key: event_type stays hash-distributed in
          // both variants so per-metric sample volume is identical and the
          // measured delta is purely the hot (name, user 42) series
          when(col("_hotRow"), lit(42L))
            .otherwise(pmod(col("_h"), lit(users))).as("user_id"),
          element_at(types, (pmod(col("_h"), lit(5)) + 1).cast("int"))
            .as("event_type"),
          (pmod(col("_h"), lit(10000)) / 100.0).as("value"),
          lit("{}").as("props"))
      base.write.mode("overwrite").parquet(s"$outDir/events.parquet")
    }

    val uniDir = "target/scalebench/uniform"
    val hotDir = "target/scalebench/hot"
    println(s"[scalebench] generating $rows rows (uniform + hot) …")
    gen(hot = false, uniDir)
    gen(hot = true, hotDir)

    // headline data-scale queries: per-series window paths (rollups) and
    // the per-point cross-series rank — where a hot key would serialize
    val names0 = Seq("ro_rate", "ro_tsbs_cpu_max", "ro_tsbs_increase",
      "ro_default_rollup", "ag_topk", "h_quantile",
      // round 8: vector-match set op (full-outer shape) and the graphite
      // fetch+node-key aggregation — the two remaining data-scale headline
      // families the ladder had not probed under key skew
      "bi_or", "gr_group_by_node")
    val names = sys.env.get("SCALEBENCH_ONLY")
      .map(f => names0.filter(n => f.split(',').exists(n.startsWith)))
      .getOrElse(names0)
    val all = graft.SparkEntry.queries

    // warmup: session + codegen + one engine pass
    spark.range(1000).selectExpr("sum(id)").count()
    graft.Engine.query(
      graft.core.Samples.fromEvents(spark, uniDir),
      "increase(click[8h])",
      graft.core.GridSpec(T0, T0 + 86400000L, 3600000L), 7200000L).count()

    def timeOne(name: String, dir: String) = StageProfile(spark) {
      val t0 = System.nanoTime()
      all(name)(spark, dir).count()
      math.round((System.nanoTime() - t0) / 1e6) / 1e3
    }

    println(f"${"query"}%-20s ${"uniform_s"}%10s ${"hot_s"}%10s ${"ratio"}%7s")
    val lines = names.map { n =>
      // interleave variants so progressive JVM state (GC pressure from
      // prior passes' localCheckpoints, JIT recompiles) hits both equally
      val ts = (1 to passes).map(_ => (timeOne(n, uniDir), timeOne(n, hotDir)))
      val u = ts.map(_._1._1).min
      val h = ts.map(_._2._1).min
      val ratio = if (u > 0) math.round(h / u * 100) / 100.0 else -1.0
      println(f"$n%-20s $u%10.3f $h%10.3f $ratio%7.2f")
      for ((variant, stages) <- Seq("uniform" -> ts.last._1._2, "hot" -> ts.last._2._2);
           s <- stages.take(4)) println(f"  $variant%-7s $s")
      s"| $n | $u | $h | $ratio |"
    }
    println("\n| query | uniform s | hot s | hot/uniform |\n|---|---|---|---|")
    lines.foreach(println)
    spark.stop()
  }
}
