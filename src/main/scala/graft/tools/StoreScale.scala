package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Round-10 store-side scale rungs (VERDICT r9 tasks 5 + 7):
  *
  *  1. RETENTION-FILTER SERVING COST — `retentionFilterPredicate` stacks
  *     one `when(selectorPredicate)` per filter on EVERY read when the
  *     facade enables serving-path filtering. Fine for a handful; an
  *     enterprise config carries ~50 (docs/victoriametrics/README.md:1594
  *     `-retentionFilter` is repeatable). This rung measures a full-scan
  *     aggregate over a 10M-row store with 0 / 5 / 50 filters (mixed
  *     equality + regex matchers, the worst per-row shape) and prints
  *     µs/row so the facade knows what a filter stack costs.
  *
  *  2. SNAPSHOT / RESTORE — `createSnapshot` (hard-link walk, the
  *     vmbackup hop) and `restoreSnapshot` (vmrestore's core) timed on
  *     the same 10M store, plus an in-place rollback restore. Hard links
  *     make both O(files), not O(bytes) — the number this rung pins.
  *
  * Deterministic data under target/storescale/ — never /root/testdata.
  * Env: STORESCALE_ROWS (default 10M), SPARK_GRAFT_CPUS, STORESCALE_PASSES.
  */
object StoreScale {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("storescale")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val rows = sys.env.getOrElse("STORESCALE_ROWS", "10000000").toLong
    val passes = sys.env.getOrElse("STORESCALE_PASSES", "3").toInt
    val T0 = 1704067200000L // 2024-01-01
    val spanMs = 30L * 86400000L
    val nowMs = T0 + spanMs
    val store = "target/storescale/store"
    val users = 20000L

    // 10M rows, 100K series (20K users × 5 metrics), 30 days — the
    // IngestScale/ScaleBench shape, written as the date-partitioned store
    println(s"[storescale] writing $rows-row store …")
    val types = array(lit("click"), lit("view"), lit("purchase"),
      lit("signup"), lit("error"))
    val samples = spark.range(rows)
      .withColumn("_h", abs(xxhash64(col("id"))))
      .select(
        element_at(types, (pmod(col("_h"), lit(5)) + 1).cast("int")).as("name"),
        map(lit("user_id"), pmod(col("_h"), lit(users)).cast("string")).as("tags"),
        (lit(T0) + (col("id") * spanMs / rows)).cast("long").as("ts"),
        (pmod(col("_h"), lit(10000)) / 100.0).as("value"))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File("target/storescale"))
    graft.core.SampleStore.write(samples, store,
      org.apache.spark.sql.SaveMode.Overwrite)

    // ---- rung 1: retention-filter predicate stacks on the serving path
    // mixed matcher shapes, every filter keeping ~all data (cost, not
    // selectivity, is under test): equality on name, regex on user_id
    def mkFilters(n: Int): Seq[graft.core.SampleStore.RetentionFilter] =
      (0 until n).map { i =>
        if (i % 2 == 0)
          graft.core.SampleStore.RetentionFilter(
            s"""{__name__="click",user_id="${i * 37 % users}"}""", 86400000L * (i % 29 + 1))
        else
          graft.core.SampleStore.RetentionFilter(
            s"""{user_id=~"${i % 10}[0-9]*"}""", 86400000L * (i % 29 + 1))
      }
    def scanWith(n: Int, inline: Boolean): Double = {
      val base = graft.core.SampleStore.read(spark, store)
      val df =
        if (n == 0) base
        else if (inline) base.filter(
          graft.core.SampleStore.retentionFilterPredicate(
            mkFilters(n), spanMs + 86400000L, nowMs))
        else graft.core.SampleStore.applyRetentionFilterPredicate(
          base, mkFilters(n), spanMs + 86400000L, nowMs)
      val t0 = System.nanoTime()
      df.agg(count(lit(1)), sum("value")).collect()
      math.round((System.nanoTime() - t0) / 1e6) / 1e3
    }
    scanWith(0, inline = true) // warm the scan + codegen once
    // per-row inline predicate at 0/5/50 filters, then the per-series dim
    // resolution (applyRetentionFilterPredicate's >threshold path) at 50 —
    // the serving-path fix the inline numbers forced
    println(f"${"variant"}%14s ${"scan_s"}%8s ${"us_per_row"}%11s (min of $passes)")
    val variants = Seq((0, true, "0 inline"), (5, true, "5 inline"),
      (50, true, "50 inline"), (50, false, "50 dim-resolve"))
    val rets = variants.map { case (n, inline, label) =>
      val s = (1 to passes).map(_ => scanWith(n, inline)).min
      println(f"$label%14s $s%8.3f ${s * 1e6 / rows}%11.3f")
      (label, s)
    }
    // the two 50-filter strategies must agree row-for-row
    val inl = graft.core.SampleStore.read(spark, store).filter(
      graft.core.SampleStore.retentionFilterPredicate(
        mkFilters(50), spanMs + 86400000L, nowMs)).count()
    val dim = graft.core.SampleStore.applyRetentionFilterPredicate(
      graft.core.SampleStore.read(spark, store), mkFilters(50),
      spanMs + 86400000L, nowMs).count()
    require(inl == dim, s"dim-resolved retention diverged: $dim != $inl")

    // ---- rung 2: snapshot create / restore (hard-link walk)
    def countFiles(p: String): Long = {
      val root = java.nio.file.Paths.get(p)
      scala.util.Using.resource(java.nio.file.Files.walk(root)) {
        _.filter(java.nio.file.Files.isRegularFile(_)).count()
      }
    }
    val nFiles = countFiles(store)
    def timed[A](what: String)(f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = f
      val s = math.round((System.nanoTime() - t0) / 1e6) / 1e3
      println(f"[storescale] $what%-28s $s%8.3f s ($nFiles files)")
      (r, s)
    }
    val (snap, tCreate) = timed("createSnapshot (hard-link)")(
      graft.core.SampleStore.createSnapshot(store, nowMs))
    val (_, tRestoreNew) = timed("restoreSnapshot → new root")(
      graft.core.SampleStore.restoreSnapshot(store, snap, "target/storescale/restored"))
    // grow the store, then roll it back in place (the vmrestore shape)
    graft.core.SampleStore.write(samples.limit(1000), store)
    val (_, tRestoreIp) = timed("restoreSnapshot in place")(
      graft.core.SampleStore.restoreSnapshot(store, snap, store))
    val after = graft.core.SampleStore.read(spark, store).count()
    require(after == rows, s"in-place restore lost rows: $after != $rows")

    println("\n| rung | value |\n|---|---|")
    rets.foreach { case (label, s) =>
      println(f"| retention-filter scan, $label | $s s (${s * 1e6 / rows}%.3f µs/row) |")
    }
    println(s"| snapshot create (hard-link, $nFiles files) | $tCreate s |")
    println(s"| snapshot restore → new root | $tRestoreNew s |")
    println(s"| snapshot restore in place (rollback verified) | $tRestoreIp s |")
    spark.stop()
  }
}
