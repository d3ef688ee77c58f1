package graft.core

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.{FileStatus, FileSystem, FileUtil, Path => HPath}

/** The Parquet sample store (SURVEY §1.2): samples at rest are
  * date-partitioned Parquet — the reference's monthly LSM partitions
  * (lib/storage/partition.go:28-40) map to `PARTITIONED BY (date)` with
  * partition pruning replacing the time-range index, and Parquet
  * encodings replacing the custom block codecs (lib/encoding).
  *
  * Retention is partition drop (`partition.go:1580-1599` retention
  * deadline → WHERE date >= deadline); query-time dedup is the
  * `-dedup.minScrapeInterval` expression from pipeline.Dedup.
  */
object SampleStore {

  // ---- filesystem access ----------------------------------------------
  // Every maintenance utility (snapshots, compaction manifests, the
  // flat→bucketed fingerprint walk) runs through the Hadoop FileSystem
  // API, so the store works unchanged against s3a://, hdfs://, etc. —
  // the query/ingest paths are pure Spark readers/writers and always
  // were. Only the snapshot HARD-LINK fast path is scheme-conditional
  // (object stores have no links; copy is the portable fallback).

  private def hadoopConf(): org.apache.hadoop.conf.Configuration =
    SparkSession.getActiveSession.map(_.sessionState.newHadoopConf())
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  private def fsFor(p: HPath): FileSystem = p.getFileSystem(hadoopConf())

  /** `child`'s path relative to `root` (both qualified, same FileSystem) */
  private def relativize(root: HPath, child: HPath): String =
    root.toUri.relativize(child.toUri).getPath

  private def isUnder(p: HPath, dir: HPath): Boolean =
    p.toUri.getPath.startsWith(dir.toUri.getPath + "/")

  /** Parquet data files are immutable once written, so a snapshot
    * hard-links on a local filesystem (the reference's O(files) snapshot
    * trick, lib/storage/storage.go MustCreateSnapshot) and falls back to
    * a byte copy on filesystems without links (object stores) — still
    * correct, just not O(1) per file.
    */
  private def linkOrCopy(fs: FileSystem, src: HPath, dst: HPath): Unit = {
    if ("file" == fs.getUri.getScheme) {
      try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(dst.toUri.getPath),
          java.nio.file.Paths.get(src.toUri.getPath))
        return
      } catch { case _: Exception => () } // cross-device etc. → copy
    }
    FileUtil.copy(fs, src, fs, dst, false, true, fs.getConf)
    ()
  }

  /** write samples (name, tags, ts, value) date-partitioned */
  def write(samples: DataFrame, path: String, mode: SaveMode = SaveMode.Append): Unit =
    samples
      .withColumn("date", to_date(timestamp_millis(col("ts"))))
      .write
      .mode(mode)
      .partitionBy("date")
      .parquet(path)

  /** read back; time-range predicates prune date partitions */
  def read(spark: SparkSession, path: String): DataFrame = {
    migrateLegacySnapshots(path)
    spark.read.parquet(path).drop("date")
  }

  /** read a time range — the date predicate is derived from the ts range
    * so Catalyst prunes partitions BEFORE reading footers.
    */
  def readRange(spark: SparkSession, path: String, fromMs: Long, toMs: Long): DataFrame = {
    migrateLegacySnapshots(path)
    spark.read.parquet(path)
      .filter(
        col("date") >= to_date(timestamp_millis(lit(fromMs))) &&
          col("date") <= to_date(timestamp_millis(lit(toMs))))
      .filter(col("ts") >= fromMs && col("ts") <= toMs)
      .drop("date")
  }

  /** retention enforcement = drop partitions older than the deadline by
    * rewriting the kept range (on real deployments: partition DROP).
    */
  /** open-ended range bound safe for micros conversion (year 3000) */
  private val MaxTsMs = 32503680000000L

  def applyRetention(spark: SparkSession, path: String, outPath: String, keepFromMs: Long): Unit =
    write(readRange(spark, path, keepFromMs, MaxTsMs), outPath, SaveMode.Overwrite)

  /** In-place retention enforcement by PARTITION DROP: delete every
    * `date=` partition whose whole day lies before the deadline — the
    * reference's retentionWatcher dropping partitions with
    * `MaxTimestamp < now - retention` (`lib/storage/table.go:446-485`),
    * and the production-correct form (O(expired dirs), no rewrite).
    * Like the reference, retention is EVENTUAL: the expired head of the
    * newest not-yet-droppable day keeps serving until its partition ages
    * out whole (VictoriaMetrics likewise returns data older than
    * `-retentionPeriod` until the background deletion catches up; the
    * optional per-series `retentionFilters` predicate is the only
    * select-time cutoff). Returns the dropped dates. Flat roots only:
    * for a bucketed/tiered layout drop from the FLAT store and let
    * `bucketizeNewDates`/`downsampleNewDates` propagate the vanished
    * dates to their derived partitions.
    *
    * Day boundaries use the SESSION timezone — the same zone
    * `write`'s `to_date(timestamp_millis(ts))` derived the partition
    * values in — so a non-UTC session never drops a partition whose tail
    * is still inside retention. A delete the filesystem declines (false)
    * keeps that date out of the returned list and raises after the
    * sweep, so callers see both the partial progress and the failure.
    */
  def dropExpiredDates(spark: SparkSession, path: String, keepFromMs: Long): Seq[String] = {
    val root = new HPath(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return Nil
    val zone = java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)
    val expired = fs.listStatus(root)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("date="))
      .map(_.getPath)
      .flatMap { p =>
        val d = p.getName.stripPrefix("date=")
        scala.util.Try(java.time.LocalDate.parse(d)).toOption.collect {
          case day if day.plusDays(1).atStartOfDay(zone)
            .toInstant.toEpochMilli <= keepFromMs => (d, p)
        }
      }
      .sortBy(_._1)
    val (dropped, failed) = expired.partition { case (_, p) => fs.delete(p, true) }
    if (failed.nonEmpty)
      throw new java.io.IOException(
        s"retention drop: filesystem declined delete for " +
          s"[${failed.map(_._1).mkString(", ")}] under $path" +
          (if (dropped.nonEmpty) s" (dropped [${dropped.map(_._1).mkString(", ")}])"
           else ""))
    dropped.map(_._1).toSeq
  }

  // ---- retention filters (enterprise `-retentionFilter`) ---------------
  // docs/victoriametrics/README.md:1594-1626: `filter:duration` options;
  // a series matching several filters gets the SMALLEST retention, a
  // series matching none gets `-retentionPeriod`; every filter duration
  // must be ≤ the retention period. The reference applies them eventually
  // during background merges — here they are a pure per-row expression on
  // the compaction/retention rewrite (and equally usable at select time).

  final case class RetentionFilter(selector: String, retentionMs: Long)

  /** parse repeated/comma-joined `{selector}:duration` options via the
    * shared QUOTE-AWARE scanner (graft.lang.Lexer.splitTopLevel /
    * selectorEnd — commas, braces and colons inside quoted label values
    * like `{path=~"a{1}:.*"}` must not split or end the selector)
    */
  def parseRetentionFilters(
      flags: Seq[String], retentionPeriodMs: Long): Seq[RetentionFilter] = {
    flags.flatMap(graft.lang.Lexer.splitTopLevel).map { part =>
      require(part.startsWith("{"), s"retentionFilter must start with a series filter: $part")
      val ci = graft.lang.Lexer.selectorEnd(part)
      require(ci > 0 && ci + 1 < part.length && part.charAt(ci + 1) == ':',
        s"cannot parse retentionFilter: $part")
      val ms = graft.lang.Lexer.durationMs(part.substring(ci + 2).trim, 0L)
      require(ms > 0, s"retentionFilter duration must be positive: $part")
      require(ms <= retentionPeriodMs,
        s"retentionFilter duration must be lower or equal to -retentionPeriod; got $part")
      RetentionFilter(part.substring(0, ci + 1), ms)
    }
  }

  /** smallest matching filter retention as a column over (name, tags),
    * NULL when no filter matches; `least` skips non-matching NULLs
    */
  private def matchedRetentionMs(
      filters: Seq[RetentionFilter]): org.apache.spark.sql.Column = {
    def one(f: RetentionFilter) =
      when(graft.api.Api.selectorPredicate(f.selector), lit(f.retentionMs))
        .otherwise(lit(null).cast("long"))
    filters match {
      case Nil => lit(null).cast("long")
      case Seq(f) => one(f) // `least` needs ≥ 2 children
      case fs => least(fs.map(one): _*)
    }
  }

  /** the per-row keep predicate: smallest matching filter retention,
    * falling back to the global period — one codegen'd projection, no
    * shuffle. Right for a HANDFUL of filters; the matcher stack runs on
    * EVERY row, and StoreScale measured 50 filters at 3.85 µs/row (a
    * 200× scan slowdown) — use [[applyRetentionFilterPredicate]] above
    * [[DimResolveThreshold]] filters instead.
    */
  def retentionFilterPredicate(
      filters: Seq[RetentionFilter], retentionPeriodMs: Long,
      nowMs: Long): org.apache.spark.sql.Column =
    col("ts") > lit(nowMs) -
      coalesce(matchedRetentionMs(filters), lit(retentionPeriodMs))

  /** Above this many filters the serving path resolves retention per
    * SERIES instead of per row (StoreScale: 5 filters cost 0.065 µs/row
    * inline — fine; 50 cost 3.85 µs/row — the dim path cuts the matcher
    * work by rows/series, ~100× on the 10M probe store).
    */
  val DimResolveThreshold = 8

  /** Input-size bound above which the dim-resolve join is NOT
    * force-broadcast: the dim carries one row per distinct series and
    * series ≤ rows ≈ inputBytes/32, so past this bound the forced
    * broadcast could exceed the driver (or Spark's 8 GB broadcast cap) at
    * the series cardinalities this store targets (CardScale's 10M-series
    * churn shape). Above it the join is left to the planner/AQE — on a
    * bucketed store that costs one DIM-side exchange only (the data side
    * keeps its bucket partitioning; the dim is series-scale, not
    * row-scale). `private[graft] var` so specs can force the fallback.
    */
  private[graft] var DimBroadcastMaxInputBytes: BigInt = BigInt(1L) << 30

  /** resolved directory sizes for [[estimatedInputBytes]] — one
    * getContentSummary per distinct root per TTL window, not one per
    * query. The entries EXPIRE: the guard exists to stop force-broadcasts
    * of a store that GREW past the bound, so a forever-cached
    * below-the-bound measurement of a growing store is exactly the hazard
    * the guard prevents — re-measuring every [[ContentSizeTtlMs]] keeps
    * the bound honest at one cheap listing per window.
    */
  private val contentSizeCache =
    new java.util.concurrent.ConcurrentHashMap[String, (BigInt, Long)]()

  /** re-measure cached directory sizes after this long (`private[graft]
    * var` so specs can force expiry)
    */
  private[graft] var ContentSizeTtlMs: Long = 10 * 60 * 1000L

  /** Conservative input size for the broadcast guard. Plan statistics
    * suffice for path reads and local relations; an unanalyzed CATALOG
    * table reports defaultSizeInBytes (Long.MaxValue) — for those, one
    * TTL-cached filesystem content summary of the table location gives
    * the real number (Spark lists the same tree for the scan anyway).
    */
  private[graft] def estimatedInputBytes(df: DataFrame): BigInt = {
    val unknown = BigInt(Long.MaxValue) / 4
    df.queryExecution.optimizedPlan.collectLeaves().map { leaf =>
      val s = leaf.stats.sizeInBytes
      if (s < unknown) s
      else leaf match {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case fsRel: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fsRel.location.rootPaths.map { p =>
                val now = System.currentTimeMillis()
                contentSizeCache.compute(p.toString, (_, prev) =>
                  if (prev != null && now - prev._2 < ContentSizeTtlMs) prev
                  else (try BigInt(fsFor(p).getContentSummary(p).getLength)
                    catch { case _: Exception => s }, now))._1
              }.sum
            case _ => s
          }
        case _ => s
      }
    }.sum
  }

  /** Shared dim-broadcast guard: force-broadcast `dim` only while the
    * conservative input-size bound on `input` holds (series ≤ rows ≈
    * inputBytes/32 — see [[DimBroadcastMaxInputBytes]]); past it, return
    * the dim unhinted and let the planner/AQE pick the join — the forced
    * hint bypasses autoBroadcastJoinThreshold and can OOM the driver or
    * hit Spark's 8 GB broadcast cap at CardScale series cardinalities.
    * Used by the retention dim resolve.
    */
  private[graft] def maybeBroadcastDim(input: DataFrame, dim: DataFrame): DataFrame = {
    val ok =
      try estimatedInputBytes(input) <= DimBroadcastMaxInputBytes
      catch { case _: Exception => true }
    if (ok) broadcast(dim) else dim
  }

  /** Apply retention filters choosing the cheaper strategy: the inline
    * per-row predicate for a handful of filters, or — for a large stack,
    * the enterprise shape (repeatable `-retentionFilter`) — a per-SERIES
    * resolution: the matcher stack runs once per distinct series on a
    * name+tags dim (rows/series ≈ 100-10000× fewer evaluations), and the
    * resolved retention broadcast-joins back on a series hash pair. The
    * reference only ever pays the matchers at background-merge time
    * (per block, not per row); this keeps the select-time option viable
    * at enterprise filter counts.
    */
  def applyRetentionFilterPredicate(
      df: DataFrame, filters: Seq[RetentionFilter], retentionPeriodMs: Long,
      nowMs: Long): DataFrame =
    if (filters.isEmpty) df
    else if (filters.size <= DimResolveThreshold)
      df.filter(retentionFilterPredicate(filters, retentionPeriodMs, nowMs))
    else {
      // the dim keys on the series pair (SeriesId.withPair: a bucketed
      // frame's persisted pair is reused, so the dim aggregate clusters
      // on the scan's bucket partitioning — no exchange at all). The pair
      // hashes TAGS ONLY, so the metric name must ride the dim key
      // explicitly — name-matching filters would otherwise resolve from
      // an arbitrary same-tags representative. `_rnm` is the null-safe
      // twin (equi-joins drop null keys, and a projection preserves the
      // bucket partitioning).
      val keyed = SeriesId.withPair(df).withColumn("_rnm", coalesce(col("name"), lit("")))
      // Exemplar.distinctWith, not dropDuplicates: the carried map payload
      // would put the dedup into SortAggregate (data-scale sort, opt r13)
      val dim = Exemplar
        .distinctWith(keyed, Seq("_h1", "_h2", "_rnm"), Seq("name", "tags"))
        .select(col("_h1"), col("_h2"), col("_rnm"),
          matchedRetentionMs(filters).as("_rt"))
        // A null-name and an empty-name series with identical tags share
        // (_h1, _h2, _rnm) while differing in the lifted payload —
        // distinctWith then emits two dim rows for one join key and the
        // sample join fans out (ADVICE r13). Re-dedup on the bare key:
        // the frame is series-scale and payload-free here (all
        // fixed-width columns), so this stays a HashAggregate and keeps
        // the old one-arbitrary-row-per-key guarantee.
        .dropDuplicates("_h1", "_h2", "_rnm")
      // dim keys renamed so the self-derived join condition is
      // unambiguous; NULL-SAFE `<=>` on the hash pair — a null KEY would
      // silently drop the row from an equi-join on both sides, rows the
      // inline predicate keeps, whatever xxhash64 makes of a null map.
      // Force-broadcast only while the input-size bound holds
      // ([[maybeBroadcastDim]]); a huge store falls back to a
      // planner-chosen join rather than risking the driver.
      val dimR = dim.select(col("_h1").as("_dk1"), col("_h2").as("_dk2"),
        col("_rnm").as("_dnm"), col("_rt"))
      val dimSide = maybeBroadcastDim(df, dimR)
      // `<=>` only where the schema says the key CAN be null (the
      // persisted parquet pair): plain equality keeps the join keys as
      // bare attributes, which the bucket-partitioning subset rule can
      // still satisfy on the non-broadcast fallback
      def eq(a: String, b: String) =
        if (keyed.schema(a).nullable) col(a) <=> col(b) else col(a) === col(b)
      keyed.join(dimSide,
          eq("_h1", "_dk1") && eq("_h2", "_dk2") && col("_rnm") === col("_dnm"))
        .filter(col("ts") > lit(nowMs) - coalesce(col("_rt"), lit(retentionPeriodMs)))
        .select(df.columns.map(col): _*)
    }

  /** retention rewrite honoring per-series filters (the background-merge
    * application, partition.go:1424 + the enterprise filter docs)
    */
  def applyRetentionFilters(spark: SparkSession, path: String, outPath: String,
      filters: Seq[RetentionFilter], retentionPeriodMs: Long, nowMs: Long): Unit =
    write(
      applyRetentionFilterPredicate(
        read(spark, path), filters, retentionPeriodMs, nowMs),
      outPath, SaveMode.Overwrite)

  /** Series-bucketed layout: the big-cluster co-location path. Samples
    * are written `bucketBy(n, _h1)` with the 128-bit series hash pair
    * PERSISTED as columns, so every per-series operator downstream —
    * the counter family's prevPass windows, the two-level bucket
    * aggregate, vector matching on series keys — reads data already
    * clustered by series and Spark's subset-clustering rule elides the
    * ONE data-scale exchange those plans otherwise pay (the reference
    * gets the same effect from its per-node shard-by-metric layout,
    * lib/storage/table.go partitions + vmselect merge).
    * `partitionBy(date)` keeps the retention/pruning story of [[write]].
    *
    * SORT ORDER = the poor man's inverted index. Files sort by
    * `(name, _h1, _h2, ts)` — METRIC NAME FIRST — so a name-selective
    * lookup (`metric{pod="..."}`, the dominant dashboard shape) skips
    * most of each bucket file through parquet's row-group and page-level
    * (column index) min/max stats on the pushed `name` predicate, at
    * zero query-time cost. This is the Spark answer to the dropped
    * mergeset index probe (lib/storage/index_db.go:1673 searchMetricIDs
    * answers `{pod=...}` in sub-ms; an unsorted columnar layout paid a
    * full scan — 0.81 s/30M rows, SCALEBENCH r10). The series-hash pair
    * after `name` keeps each series' samples contiguous (RLE-dense, and
    * range-readable per series within a name run).
    *
    * Catalog note: `bucketBy` requires `saveAsTable`; the bucket spec
    * lives in the session catalog (a shared metastore in production —
    * the default in-memory catalog scopes it to the session). The tags
    * map is kept alongside the hashes, so reads need no restore join.
    */
  def writeBucketed(samples: DataFrame, table: String, path: String,
      buckets: Int, mode: SaveMode = SaveMode.Overwrite): Unit = {
    SeriesId.withPair(samples)
      .withColumn("date", to_date(timestamp_millis(col("ts"))))
      // co-partition on the bucket key BEFORE the write: without it every
      // write task emits a file per (date, bucket) — tasks × buckets tiny
      // files whose per-file open/footer cost swamps the scan AND whose
      // pages are too small for the name sort to prune anything. One
      // task per bucket → one well-sized file per (date, bucket).
      .repartition(buckets, col("_h1"))
      .write
      .mode(mode)
      .option("path", path)
      .partitionBy("date")
      .bucketBy(buckets, "_h1")
      .sortBy("name", "_h1", "_h2", "ts")
      .format("parquet")
      .saveAsTable(table)
  }

  /** Incremental flat→bucketed compaction — the vmstorage background
    * merge re-expressed for the two-layout store (in-memory/raw parts →
    * indexed big parts, lib/storage/partition.go:535): every flat-store
    * date partition whose data-file fingerprint changed since the last
    * run is re-bucketized into the catalog table via dynamic-partition
    * INSERT OVERWRITE, so the exactly-once FLAT landing zone (the
    * streaming file sink's manifest) stays the ingestion truth and the
    * bucketed zero-exchange read layout trails it by one compaction run.
    * Idempotent per date — re-running overwrites a date with identical
    * content; late arrivals re-bucketize just their date. Returns the
    * dates (re)bucketized.
    *
    * Catalog assumption: the bucket spec lives in the session catalog
    * (like [[writeBucketed]]), so incremental runs across JVMs need a
    * shared metastore — the production default. Under the local
    * in-memory catalog a fresh session loses the table registration; a
    * surviving manifest is then IGNORED and every date rebuilds, so the
    * recreated table is complete (never just the changed dates).
    */
  def bucketizeNewDates(spark: SparkSession, storePath: String,
      table: String, tablePath: String, buckets: Int = 8,
      fingerprints: Option[Map[String, String]] = None): Seq[String] = {
    val root = new HPath(storePath)
    val rootFs = fsFor(root)
    // a MISSING flat root with an existing bucketed table is a transient
    // mount failure or a mis-pointed storePath, not a retention drop —
    // treating it as current=empty would mark every manifest date
    // "removed" and delete the entire bucketed layout. A root that EXISTS
    // but has no date= dirs remains a legitimate full-retention drop.
    if (!rootFs.exists(root)) {
      if (spark.catalog.tableExists(table))
        throw new IllegalStateException(
          s"flat store root $storePath does not exist but bucketed table " +
            s"$table does; refusing to drop every bucketed partition — " +
            "restore the store (or delete the table first for a rebuild)")
      return Nil
    }
    val current = fingerprints.getOrElse(dateFingerprints(rootFs, root))
    // manifest lives BESIDE the table dir (a stray subdir inside it would
    // break partition discovery, the r9 snapshots lesson)
    val manifest = new HPath(tablePath + "_manifest", "dates.tsv")
    val previous = readDateManifest(manifest)
    // a surviving manifest with a MISSING catalog table (in-memory catalog
    // in a new JVM) must not create the table from only the changed dates
    // — that would silently drop every unchanged date from the layout;
    // rebuild everything instead
    val tableExists = spark.catalog.tableExists(table)
    val changed =
      if (!tableExists) current.keys.toSeq.sorted
      else current.filter { case (d, fp) => !previous.get(d).contains(fp) }
        .keys.toSeq.sorted
    // dates that VANISHED from the flat store (an in-place retention/
    // partition-drop rewrite) must leave the bucketed layout too, or it
    // silently keeps serving expired rows the ingestion truth dropped.
    // Partitions of a path-based datasource table are inferred from the
    // directory listing, so deleting `date=<d>` IS the partition drop.
    // (A missing table rebuilds from `current` alone — nothing to drop.)
    val removed =
      if (!tableExists) Nil
      else (previous.keySet -- current.keySet).toSeq.sorted
    val idxPath = new HPath(tagIndexPath(tablePath))
    val idxFs = fsFor(idxPath)
    if (removed.nonEmpty) {
      // resolve the table's REAL location from the catalog — saveAsTable
      // resolves a relative `path` option against the warehouse dir, so
      // `tablePath` verbatim can point elsewhere
      val tp = new HPath(spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(table)).location)
      val tfs = fsFor(tp)
      removed.foreach { d => tfs.delete(new HPath(tp, s"date=$d"), true) }
      spark.catalog.refreshTable(table)
      // the tag index trails the table: its vanished dates drop too
      removed.foreach { d => idxFs.delete(new HPath(idxPath, s"date=$d"), true) }
    }
    if (changed.nonEmpty) {
      // filter on the PARTITION column so only the changed dates' files
      // are read (pruned before footers)
      migrateLegacySnapshots(storePath)
      val fresh = spark.read.parquet(storePath)
        .filter(col("date").isin(changed.map(java.sql.Date.valueOf): _*))
        .drop("date")
      // maintain the tag→names index per changed date (dynamic partition
      // overwrite: only the changed dates' index partitions rewrite). A
      // MISSING index with an EXISTING table (first run after an upgrade)
      // must rebuild from the FULL flat store, not just the changed
      // dates — a changed-dates-only index would silently exclude every
      // unchanged date's names from the pushed `name IN (...)` and drop
      // their rows from nameless lookups.
      if (!tableExists)
        buildTagIndex(fresh, idxPath.toString) // fresh == every date
      else if (!idxFs.exists(idxPath))
        buildTagIndex(spark.read.parquet(storePath).drop("date"), idxPath.toString)
      else
        tagIndexRows(fresh)
          .write.mode(SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("date").parquet(idxPath.toString)
      if (!tableExists) {
        writeBucketed(fresh, table, tablePath, buckets)
      } else {
        val keyed = SeriesId.withPair(fresh)
          .withColumn("date", to_date(timestamp_millis(col("ts"))))
          // same one-file-per-(date,bucket) co-partitioning as
          // writeBucketed — see the comment there
          .repartition(buckets, col("_h1"))
        val prevMode = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try
          keyed.select(spark.table(table).columns.map(col): _*)
            .write.mode(SaveMode.Overwrite).insertInto(table)
        finally prevMode match {
          case Some(m) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", m)
          case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
        }
      }
    }
    if (changed.nonEmpty || removed.nonEmpty) writeDateManifest(manifest, current)
    changed
  }

  // ---- shared changed-date bookkeeping (bucketize + downsample tiers) --

  /** A content generation for a date-partitioned store root: the per-date
    * data-file (name, length) fingerprints — the same change detector
    * `bucketizeNewDates`/`downsampleNewDates` key on — digested to one
    * token. Unlike directory mtimes this survives object stores (a
    * file-level write changes the file set; S3-style pseudo-dirs report
    * no useful mtime), so a TTL'd poller keyed on it sees every
    * out-of-band write. "absent" when the root does not exist; "" for an
    * existing root with no date partitions (an empty store). Cost: one
    * listStatus per date dir — callers gate it behind a TTL.
    */
  /** The per-date content fingerprints of a store root (empty when the
    * root is missing): one listStatus per date dir. A maintenance round
    * computes this ONCE and hands it to every trailing job
    * (`indexNewDates`/`bucketizeNewDates`/`downsampleNewDates`) instead
    * of each job re-walking the same partitions — on an object store the
    * listing is the round's dominant request cost.
    */
  def storeDateFingerprints(spark: SparkSession, path: String): Map[String, String] = {
    val root = new HPath(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) Map.empty else dateFingerprints(fs, root)
  }

  def storeGeneration(spark: SparkSession, path: String): String = {
    val root = new HPath(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) "absent"
    else dateFingerprints(fs, root).toSeq.sorted
      .map { case (d, fp) => s"$d:$fp" }.mkString("|")
  }

  /** per-date fingerprint: sorted data-file (name, length) pairs hashed —
    * append-only sinks only ever ADD files, so growth changes the print.
    * Only ISO `date=YYYY-MM-DD` dirs count: a stray
    * `date=__HIVE_DEFAULT_PARTITION__` (a null-ts row) would otherwise
    * land in every consumer's changed set and kill each maintenance
    * round at `Date.valueOf` — forever, since the dir never goes away.
    */
  private def dateFingerprints(rootFs: FileSystem, root: HPath): Map[String, String] = {
    def fingerprint(d: HPath): String = {
      val fs = rootFs.listStatus(d)
        .filter { st =>
          val n = st.getPath.getName
          st.isFile && !n.startsWith(".") && !n.startsWith("_")
        }
        .map(st => s"${st.getPath.getName}:${st.getLen}").sorted
      java.lang.Long.toHexString(
        scala.util.hashing.MurmurHash3.orderedHash(fs.toSeq).toLong)
    }
    rootFs.listStatus(root)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("date="))
      .map(st => st.getPath.getName.stripPrefix("date=") -> st.getPath)
      .filter { case (d, _) =>
        scala.util.Try(java.time.LocalDate.parse(d)).isSuccess
      }
      .map { case (d, p) => d -> fingerprint(p) }
      .toMap
  }

  private def readDateManifest(manifest: HPath): Map[String, String] = {
    val fs = fsFor(manifest)
    if (!fs.exists(manifest)) Map.empty
    else {
      val in = fs.open(manifest)
      val lines =
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
        finally in.close()
      lines.filterNot(_.startsWith("#")).flatMap {
        _.split('\t') match {
          case Array(d, fp) => Some(d -> fp)
          case _ => None
        }
      }.toMap
    }
  }

  private val manifestGenSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  private def writeDateManifest(manifest: HPath, m: Map[String, String]): Unit = {
    // the #gen header is a unique run token: consumers that cache derived
    // frames (the facade's path-configured tiers) key their refresh on it
    // — (mtime, length) alone collides on second-granularity stores when
    // two runs write same-length content within one second
    val gen = s"#gen\t${System.currentTimeMillis()}-${manifestGenSeq.incrementAndGet()}-" +
      java.util.UUID.randomUUID().toString.take(8)
    val out = fsFor(manifest).create(manifest, true)
    try out.write((gen +: m.toSeq.sorted.map { case (d, fp) => s"$d\t$fp" })
      .mkString("", "\n", "\n")
      .getBytes("UTF-8"))
    finally out.close()
  }

  /** the manifest's #gen run token (falling back to the file's
    * (mtime, length) for pre-r13 manifests; "absent" when missing) —
    * the facade's tier-refresh key
    */
  private[graft] def manifestGeneration(manifest: HPath): String = {
    val fs = fsFor(manifest)
    try {
      val in = fs.open(manifest)
      val first =
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .nextOption().getOrElse("")
        finally in.close()
      if (first.startsWith("#gen\t")) first.stripPrefix("#gen\t")
      else {
        val st = fs.getFileStatus(manifest)
        s"${st.getModificationTime}:${st.getLen}"
      }
    } catch { case _: Exception => "absent" }
  }

  /** Incremental tier maintenance — the downsampling sibling of
    * [[bucketizeNewDates]] (the reference's enterprise downsampling runs
    * inside background merges: lib/storage/partition.go:535 +
    * `-downsampling.period`): every flat-store date partition whose
    * data-file fingerprint changed since the last run is re-downsampled
    * into the tier store (keep-last per end-aligned `intervalMs` bucket,
    * [[graft.pipeline.Dedup.downsample]]) via dynamic-partition
    * overwrite; dates that vanished from the flat store (retention) drop
    * from the tier too. Idempotent per date; late arrivals re-do just
    * their date. Returns the dates (re)built.
    *
    * `intervalMs` must divide one day so dates downsample independently
    * (every bucket then nests inside one date partition). The single
    * cross-date artifact: a sample EXACTLY on a date boundary shares its
    * bucket with the previous date's tail, so that tail's keep-last
    * survives in the previous date — one extra OLDER row per series per
    * boundary, masked at query time by the keep-last read (both rows
    * share any window containing the boundary, and the newer wins), and
    * within the documented accuracy trade for sample-consuming rollups.
    *
    * The facade auto-refreshes path-configured tiers by watching this
    * manifest ([[graft.api.HttpApi]] downsampleTierPaths), so a rebuild
    * invalidates its rollup caches without a manual
    * /internal/resetRollupResultCache.
    */
  def downsampleNewDates(spark: SparkSession, storePath: String,
      tierPath: String, intervalMs: Long,
      fingerprints: Option[Map[String, String]] = None): Seq[String] = {
    require(intervalMs > 0 && 86400000L % intervalMs == 0,
      s"tier interval must divide one day (got $intervalMs ms) so date " +
        "partitions downsample independently")
    val root = new HPath(storePath)
    val rootFs = fsFor(root)
    val tierRoot = new HPath(tierPath)
    val tierFs = fsFor(tierRoot)
    // same abort contract as bucketizeNewDates: a missing flat root with
    // an existing tier is a transient mount failure, not a retention drop
    if (!rootFs.exists(root)) {
      if (tierFs.exists(tierRoot))
        throw new IllegalStateException(
          s"flat store root $storePath does not exist but tier $tierPath " +
            "does; refusing to drop every tier partition — restore the " +
            "store (or delete the tier first for a rebuild)")
      return Nil
    }
    val current = fingerprints.getOrElse(dateFingerprints(rootFs, root))
    val manifest = new HPath(tierPath + "_manifest", "dates.tsv")
    val previous = readDateManifest(manifest)
    val tierExists = tierFs.exists(tierRoot)
    val changed =
      if (!tierExists) current.keys.toSeq.sorted
      else current.filter { case (d, fp) => !previous.get(d).contains(fp) }
        .keys.toSeq.sorted
    val removed =
      if (!tierExists) Nil
      else (previous.keySet -- current.keySet).toSeq.sorted
    removed.foreach { d => tierFs.delete(new HPath(tierRoot, s"date=$d"), true) }
    if (changed.nonEmpty) {
      migrateLegacySnapshots(storePath)
      val fresh = spark.read.parquet(storePath)
        .filter(col("date").isin(changed.map(java.sql.Date.valueOf): _*))
        .drop("date")
      // offset 0 + a far-future `now`: every sample lands in the tier
      // (tier stores are whole-range frames the router picks by interval)
      val tiered = graft.pipeline.Dedup.downsample(fresh,
        Seq(graft.pipeline.Dedup.DownsamplePeriod(None, 0L, intervalMs)),
        nowMs = MaxTsMs)
      tiered
        .withColumn("date", to_date(timestamp_millis(col("ts"))))
        .repartition(col("date"))
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("date").parquet(tierPath)
    }
    if (changed.nonEmpty || removed.nonEmpty) writeDateManifest(manifest, current)
    changed
  }

  /** read a bucketed store — the scan reports HashPartitioning(_h1), so
    * per-series windows/aggregates downstream plan with no exchange;
    * [[graft.lang.Eval]] reuses the persisted hash columns verbatim
    * (recomputing them would sever the attribute the bucket
    * partitioning is keyed on).
    *
    * SESSION CONFIG CONTRACT: this reader requires (and sets, see below)
    * `spark.sql.requireAllClusterKeysForCoPartition=false` for the
    * session — treat it as part of the store's session configuration,
    * like `spark.sql.shuffle.partitions`. A dedicated metrics session is
    * unaffected; when EMBEDDING the engine in a session that runs
    * unrelated workloads, set the flag at session construction and know
    * that it applies to every join planned in that session (Spark still
    * only elides an exchange when the existing partitioning satisfies
    * the join's clustering, so results are unchanged; the residual risk
    * is skew if an unrelated join's keys extend a low-cardinality
    * partitioning).
    */
  def readBucketed(spark: SparkSession, table: String): DataFrame = {
    // The layout's whole point is that the scan's HashPartitioning(_h1)
    // satisfies every downstream per-series distribution by the SUBSET
    // rule. Aggregates and windows accept that out of the box, but join
    // co-partitioning rejects it unless this flag is off (Spark requires
    // the full join-key list by default): the dense-grid joins of the
    // whole-range transforms key on (_nm,_h1,_h2,t) — a superset of the
    // bucket key, safe by construction (equal tuples share _h1, which is
    // a uniform series hash, so no skew) — and without the flag both
    // data-scale sides reshuffle. Session-wide is deliberate (frames are
    // lazy: the flag must be live whenever a downstream query PLANS, not
    // just here) and correctness-neutral for every other join in the
    // session — Spark still only elides an exchange when the partitioning
    // satisfies the join's clustering; the residual risk is skew if an
    // unrelated workload's join keys extend a low-cardinality
    // partitioning, which a metrics-engine session does not run.
    spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    spark.table(table).drop("date")
  }

  // ---- tag → metric-names index (the nameless-lookup answer) ----------
  // The reference answers `{pod="..."}` (no metric name) in sub-ms from
  // its tag→metricIDs index namespace (lib/storage/index_db.go:50-71,
  // probe searchMetricIDs index_db.go:1673); the name-sorted bucketed
  // layout prunes nothing without a name predicate (SCALEBENCH r11's
  // 3.96 s no-name control). The Spark approximation: a tiny
  // date-partitioned parquet side table of DISTINCT (key, value, name)
  // triples. A nameless tag-equality lookup first resolves its candidate
  // METRIC NAMES from the index (metadata-scale), then scans with a
  // pushed `name IN (...)` — riding the exact row-group/page pruning the
  // name-sorted layout already provides. Completeness contract: the index
  // trails the bucketed table exactly like the table trails the flat
  // store (both maintained per changed date by [[bucketizeNewDates]]);
  // [[buildTagIndex]] is the full (re)build.

  /** distinct (date, key, value, name) triples of a sample frame; null
    * names are omitted (the query-side filter keeps null-name rows via an
    * IsNull disjunct instead). `private[graft]` so the HTTP facade can
    * derive the same triples from its spill store when rebuilding its
    * live side index.
    */
  private[graft] def tagIndexRows(samples: DataFrame): DataFrame =
    samples
      .filter(col("name").isNotNull)
      .select(col("name"), to_date(timestamp_millis(col("ts"))).as("date"),
        explode(coalesce(col("tags"), map().cast("map<string,string>")))
          .as(Seq("key", "value")))
      .dropDuplicates("date", "key", "value", "name")
      // one (key,value)-SORTED file per date: the index probe's pushed
      // EqualTo(key)/EqualTo(value) then skips row groups by min/max, so
      // a probe reads index-pages-for-one-tag, not the whole index — the
      // index can carry one row per (tag pair, name) at high-cardinality
      // tags (the reference's tag→metricIDs entries scale the same way)
      .repartition(col("date"))
      .sortWithinPartitions("date", "key", "value", "name")

  /** full (re)build of the tag index beside a store */
  def buildTagIndex(samples: DataFrame, indexPath: String): Unit =
    tagIndexRows(samples)
      .write.mode(SaveMode.Overwrite).partitionBy("date").parquet(indexPath)

  /** Incremental tag-index maintenance for a FLAT store (the bucketized
    * layout gets the same from [[bucketizeNewDates]]): changed-date
    * fingerprints → only those dates' index partitions rewrite (dynamic
    * partition overwrite), vanished dates drop, re-runs are idempotent —
    * the reference maintains its per-day tag→metricIDs entries on ingest
    * (`index_db.go` createIndexes), here the index trails the store at
    * maintenance cadence. Same abort contract as the other trailing
    * jobs: a missing flat root with an existing index is a transient
    * mount failure, not a retention drop. Returns the re-indexed dates.
    */
  def indexNewDates(spark: SparkSession, storePath: String,
      indexPath: String,
      fingerprints: Option[Map[String, String]] = None): Seq[String] = {
    val root = new HPath(storePath)
    val rootFs = fsFor(root)
    val idxPath = new HPath(indexPath)
    val idxFs = fsFor(idxPath)
    if (!rootFs.exists(root)) {
      if (idxFs.exists(idxPath))
        throw new IllegalStateException(
          s"flat store root $storePath does not exist but tag index " +
            s"$indexPath does; refusing to drop every index partition — " +
            "restore the store (or delete the index first for a rebuild)")
      return Nil
    }
    val current = fingerprints.getOrElse(dateFingerprints(rootFs, root))
    val manifest = new HPath(indexPath + "_manifest", "dates.tsv")
    val previous = readDateManifest(manifest)
    val idxExists = idxFs.exists(idxPath)
    val changed =
      if (!idxExists) current.keys.toSeq.sorted
      else current.filter { case (d, fp) => !previous.get(d).contains(fp) }
        .keys.toSeq.sorted
    val removed =
      if (!idxExists) Nil
      else (previous.keySet -- current.keySet).toSeq.sorted
    removed.foreach { d => idxFs.delete(new HPath(idxPath, s"date=$d"), true) }
    if (changed.nonEmpty) {
      migrateLegacySnapshots(storePath)
      val fresh = spark.read.parquet(storePath)
        .filter(col("date").isin(changed.map(java.sql.Date.valueOf): _*))
        .drop("date")
      if (!idxExists) buildTagIndex(fresh, indexPath) // fresh == every date
      else
        tagIndexRows(fresh)
          .write.mode(SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("date").parquet(indexPath)
    }
    if (changed.nonEmpty || removed.nonEmpty) writeDateManifest(manifest, current)
    changed
  }

  /** The index KEEPS its `date` partition column: probes scope their read
    * to the query's time range ([[scopeIndexByDate]]) so the probe cost is
    * flat in retention length — the reference probes a per-day index for
    * the same reason (index_db.go:2169 per-date tag→metricIDs namespaces).
    */
  def readTagIndex(spark: SparkSession, indexPath: String): DataFrame =
    spark.read.parquet(indexPath)

  /** the index path [[bucketizeNewDates]] maintains beside a table path */
  def tagIndexPath(tablePath: String): String = tablePath + "_tagindex"

  /** Max candidate names a nameless lookup will inline as a pushed
    * `name IN (...)`; past it the index is ignored (a tag spanning most
    * metric names prunes nothing anyway — same as the reference's index
    * returning most metricIDs). `private[graft] var` for specs.
    */
  private[graft] var TagIndexMaxNames: Int = 256

  /** one positive tag matcher for the index probe: equality or an
    * (anchored) regex over the tag value
    */
  final case class TagProbe(key: String, value: String, isRegexp: Boolean = false)

  /** Candidate-name predicate for a NAMELESS tag lookup: the intersection
    * over all positive tag matchers of each matcher's name set, as a
    * pushable `name IN (...) OR name IS NULL` Column — or None when the
    * index can't help (no eligible matcher, or more than
    * [[TagIndexMaxNames]] candidates). Equality matchers prune the sorted
    * index by parquet min/max; regex matchers rlike-scan it — still
    * metadata-scale (the index holds distinct triples, not samples). The
    * regex must arrive ANCHORED (the caller's selector semantics).
    */
  def tagIndexNamePredicate(
      index: DataFrame,
      tagEquals: Seq[(String, String)],
      fromMs: Long = Long.MinValue,
      toMs: Long = Long.MaxValue): Option[org.apache.spark.sql.Column] =
    tagIndexNamePredicateP(index,
      tagEquals.map { case (k, v) => TagProbe(k, v) }, fromMs, toMs)

  def tagIndexNamePredicateP(
      index: DataFrame,
      probes: Seq[TagProbe],
      fromMs: Long = Long.MinValue,
      toMs: Long = Long.MaxValue): Option[org.apache.spark.sql.Column] =
    tagIndexCandidateNames(index, probes, fromMs, toMs).map(namesPredicate)

  /** the pushable form of a resolved candidate set: null-name rows ride
    * along (the index records named series only)
    */
  def namesPredicate(names: Seq[String]): org.apache.spark.sql.Column =
    if (names.isEmpty) col("name").isNull
    else col("name").isNull || col("name").isInCollection(names)

  /** Pushable name RANGE for a glob's literal prefix: every name an
    * anchored glob regex can match starts with the prefix, so
    * `isnotnull(name) AND name >= prefix AND name < next(prefix)` is
    * implied by the match — a pure conjunct that rides the name-sorted
    * bucketed layout's row-group/page min/max pruning, the Spark form of
    * the reference index's prefix scans (index_db.go:1167
    * getRegexpForGraphiteQuery over a sorted mergeset). Bounds keep only
    * the ASCII run of the prefix so the char-increment upper bound stays
    * correct under UTF8String's byte-wise comparison (a truncated prefix
    * only widens the range — still a superset of the matches). None for
    * an empty/uneligible prefix (glob starts with a wildcard).
    */
  def namePrefixBounds(prefix0: String): Option[org.apache.spark.sql.Column] = {
    val prefix = prefix0.takeWhile(c => c >= 0x20 && c < 0x7f)
    if (prefix.isEmpty) None
    else {
      val hi = prefix.substring(0, prefix.length - 1) + (prefix.last + 1).toChar
      Some(col("name").isNotNull && col("name") >= prefix && col("name") < hi)
    }
  }

  /** the literal prefix of a glob — characters before the first wildcard
    * metacharacter; the `?` and `[` stops are conservative supersets for
    * dialects that treat them literally (a shorter prefix only widens
    * [[namePrefixBounds]], never wrongly narrows it)
    */
  def globLiteralPrefix(glob: String): String =
    glob.takeWhile(c => "*?{[".indexOf(c.toInt) < 0)

  /** Per-index-frame memo of resolved probes: a parquet-read DataFrame
    * pins its file listing at creation, so for a FIXED frame object the
    * probe answer is immutable — a rebuilt index arrives as a NEW frame
    * (readTagIndex) and misses this map by identity. Weak keys let a
    * dropped frame's entries go with it. Bounds the probe cost (a real
    * ~0.2 s Spark job) to once per (frame, probes): repeated dashboard
    * refreshes, the O7 delta's two windows, and O6 suffix fetches all
    * re-resolve the same probes.
    */
  private val probeMemo =
    new java.util.WeakHashMap[DataFrame,
      java.util.concurrent.ConcurrentHashMap[(Int, Seq[TagProbe], Long, Long), Option[Seq[String]]]]()

  /** one day in milliseconds — the index's partition granularity */
  private val DayMs = 86400000L

  /** Scope an index frame to the UTC days overlapping [fromMs, toMs],
    * widened by one day on each side (the store's `to_date` partitioning
    * follows the session timezone; the slack keeps the pruning correct
    * whatever it is). The `date` comparisons land as PARTITION filters —
    * the probe reads index-partitions-for-the-query-range, so its cost is
    * flat in retention length (index rows ≈ dates × churn otherwise).
    * Sentinel bounds (Long.MinValue/MaxValue) and date-less frames pass
    * through unscoped.
    */
  private[graft] def scopeIndexByDate(
      index: DataFrame, fromMs: Long, toMs: Long): DataFrame = {
    if (!index.columns.contains("date")) return index
    // NULL dates survive the scope: a frame unioned from a date-less
    // source (a pre-r13 index handed to the facade beside its live side
    // set) carries null dates for those rows, and pruning them would
    // silently drop every base candidate — an undatable row can't be
    // scoped, only kept. Partition values are never null, so the isNull
    // disjunct costs partition pruning nothing.
    var scoped = index
    if (fromMs != Long.MinValue)
      scoped = scoped.filter(col("date").isNull || col("date") >=
        to_date(timestamp_millis(lit(math.max(fromMs - DayMs, -MaxTsMs)))))
    if (toMs != Long.MaxValue)
      scoped = scoped.filter(col("date").isNull || col("date") <=
        to_date(timestamp_millis(lit(math.min(toMs + DayMs, MaxTsMs)))))
    scoped
  }

  /** candidate-name resolution alone — None = the index cannot help
    * (no eligible probe or over the cap); Some(Nil) = NO named series
    * matches (a valid, maximally-pruning answer). [fromMs, toMs] scopes
    * the probe to the query's time range (day-rounded in the memo key so
    * intra-day dashboard refreshes keep hitting the memo).
    */
  def tagIndexCandidateNames(
      index: DataFrame,
      probes: Seq[TagProbe],
      fromMs: Long = Long.MinValue,
      toMs: Long = Long.MaxValue): Option[Seq[String]] = {
    val perFrame = probeMemo.synchronized {
      var m = probeMemo.get(index)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[(Int, Seq[TagProbe], Long, Long), Option[Seq[String]]]()
        probeMemo.put(index, m)
      }
      m
    }
    // day-round the range for the memo key (the scope filter is
    // day-granular anyway) so a refresh that advances `end` by minutes
    // re-uses the resolved probe instead of re-running the Spark job
    val fromDay =
      if (fromMs == Long.MinValue) Long.MinValue else Math.floorDiv(fromMs, DayMs)
    val toDay =
      if (toMs == Long.MaxValue) Long.MaxValue else Math.floorDiv(toMs, DayMs)
    // the cap rides the key: a changed TagIndexMaxNames must re-resolve
    perFrame.computeIfAbsent((TagIndexMaxNames, probes.toList, fromDay, toDay),
      _ => resolveCandidateNames(
        scopeIndexByDate(index,
          if (fromDay == Long.MinValue) Long.MinValue else fromDay * DayMs,
          if (toDay == Long.MaxValue) Long.MaxValue else toDay * DayMs + DayMs - 1),
        probes))
  }

  /** A matcher that accepts the EMPTY value also matches series WITHOUT
    * the tag (absent tag == "" in selector semantics) — the index only
    * records PRESENT tags, so such matchers cannot prune. For regexes
    * that means the anchored pattern must NOT match "" (an invalid
    * pattern is ineligible too: the main predicate will raise the same
    * error either way, and the probe must not mask or duplicate it).
    * STATIC — no Spark work — so callers can pre-check boundability
    * before paying for any resolution job.
    */
  private[graft] def probeEligible(p: TagProbe): Boolean =
    p.value.nonEmpty &&
      (!p.isRegexp || (try !"".matches(p.value) catch { case _: Exception => false }))

  private def resolveCandidateNames(
      index: DataFrame,
      probes: Seq[TagProbe]): Option[Seq[String]] = {
    val eligible = probes.filter(probeEligible)
    if (eligible.isEmpty) return None
    val sets = eligible.map { p =>
      val matched =
        if (p.isRegexp) index.filter(col("key") === p.key && col("value").rlike(p.value))
        else index.filter(col("key") === p.key && col("value") === p.value)
      matched.select("name").distinct()
    }
    val names = sets.reduce(_.join(_, Seq("name"), "left_semi"))
      .limit(TagIndexMaxNames + 1).collect().map(_.getString(0))
    if (names.length > TagIndexMaxNames) None else Some(names.toSeq)
  }

  /** compaction job: retention filter + interval dedup (keep last, max on
    * ties — lib/storage/dedup.go:30-70) rewritten in place of background
    * LSM merges (partition.go:535-601).
    */
  def compact(
      spark: SparkSession,
      path: String,
      outPath: String,
      keepFromMs: Long,
      dedupIntervalMs: Long,
      // per-series retention (enterprise -retentionFilter): applied in the
      // same rewrite, exactly where the reference applies them (background
      // merges); retentionPeriodMs bounds the unmatched series
      retentionFilters: Seq[RetentionFilter] = Nil,
      retentionPeriodMs: Long = 0L,
      nowMs: Long = 0L): Unit = {
    val ranged = readRange(spark, path, keepFromMs, MaxTsMs)
    val kept = applyRetentionFilterPredicate(
      ranged, retentionFilters, retentionPeriodMs, nowMs)
    // one pass: name/tags ride the grouping keys (no restore join, no
    // second scan, HashAggregate-only — see Dedup.dedupNamedSamples)
    write(graft.pipeline.Dedup.dedupNamedSamples(kept, dedupIntervalMs),
      outPath, SaveMode.Overwrite)
  }

  /** delete series matching a predicate (the /api/v1/admin/tsdb/
    * delete_series semantics, prometheus.go:509) — anti-filter rewrite on
    * the Parquet store (tombstones don't exist in Parquet).
    */
  def deleteSeries(spark: SparkSession, path: String, outPath: String,
      predicate: org.apache.spark.sql.Column): Unit =
    write(read(spark, path).filter(!predicate), outPath, SaveMode.Overwrite)

  // ---- snapshots ------------------------------------------------------
  // lib/storage/storage.go MustCreateSnapshot / app/vmstorage/main.go:295
  // (/snapshot/create|list|delete|delete_all and the Prometheus-compat
  // /api/v1/admin/tsdb/snapshot). The reference hard-links immutable LSM
  // parts into <storage>/snapshots/<name>; Parquet data files are just as
  // immutable once written, so a snapshot hard-links every data file into
  // <path>/snapshots/<name>/ preserving the partition layout (copy is the
  // cross-filesystem fallback). Name format mirrors the reference:
  // UTC yyyyMMddHHmmss-<8-hex seq>.

  private val snapshotSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  // The underscore prefix is load-bearing: Spark's file listing skips
  // `_`/`.`-prefixed directories (like _spark_metadata), so snapshots
  // can live inside the store root (the reference's layout,
  // <storageDataPath>/snapshots) WITHOUT breaking partition discovery on
  // a later read — a bare `snapshots/` dir makes every
  // spark.read.parquet(store) throw CONFLICTING_DIRECTORY_STRUCTURES
  // (caught by RetentionFilterSpec's create→mutate→restore case).
  private def snapshotsRoot(path: String): HPath =
    new HPath(path, "_snapshots")

  /** Migrate a pre-r9 `snapshots/` dir (no underscore) to `_snapshots/`:
    * the legacy location breaks every read of the store root with
    * CONFLICTING_DIRECTORY_STRUCTURES (Spark's partition discovery sees a
    * non-`date=` directory) and its snapshots are invisible to
    * list/restore/delete. Renames the whole dir when the new root is
    * absent; otherwise moves each snapshot that doesn't clash. Cheap
    * no-op (one isDirectory check) on already-migrated stores.
    */
  private def migrateLegacySnapshots(path: String): Unit = {
    val legacy = new HPath(path, "snapshots")
    val fs = fsFor(legacy)
    if (!fs.exists(legacy) || !fs.getFileStatus(legacy).isDirectory) return
    val root = snapshotsRoot(path)
    if (!fs.exists(root)) { fs.rename(legacy, root); () }
    else {
      fs.listStatus(legacy).foreach { child =>
        val dst = new HPath(root, child.getPath.getName)
        if (!fs.exists(dst)) { fs.rename(child.getPath, dst); () }
      }
      // remove the legacy dir if drained (a clash leaves it, and the
      // caller's read would still fail loudly — better than silent loss)
      if (fs.listStatus(legacy).isEmpty) { fs.delete(legacy, false); () }
    }
  }

  /** UTC yyyyMMddHHmmss-<8-hex seq>, the reference's snapshot name shape */
  def snapshotName(nowMs: Long = System.currentTimeMillis()): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyyMMddHHmmss")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochMilli(nowMs)) +
      f"-${snapshotSeq.incrementAndGet()}%08X"

  def createSnapshot(path: String,
      nowMs: Long = System.currentTimeMillis()): String = {
    migrateLegacySnapshots(path)
    val name = snapshotName(nowMs)
    val fs = fsFor(new HPath(path))
    val root = fs.makeQualified(new HPath(path))
    val snapRoot = fs.makeQualified(snapshotsRoot(path))
    val dst = new HPath(snapRoot, name)
    fs.mkdirs(dst)
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val src = it.next().getPath
      if (!isUnder(src, snapRoot)) {
        val target = new HPath(dst, relativize(root, src))
        fs.mkdirs(target.getParent)
        linkOrCopy(fs, src, target)
      }
    }
    name
  }

  def listSnapshots(path: String): Seq[String] = {
    migrateLegacySnapshots(path)
    val root = snapshotsRoot(path)
    val fs = fsFor(root)
    if (!fs.exists(root) || !fs.getFileStatus(root).isDirectory) Nil
    else fs.listStatus(root).filter(_.isDirectory)
      .map(_.getPath.getName).toSeq.sorted
  }

  /** vmrestore's core: materialize a snapshot back into a store root
    * (hard-link when possible, copy across filesystems) — the inverse of
    * [[createSnapshot]]. The destination's existing DATA files are
    * removed first (vmrestore deletes the target's contents before
    * downloading), so restoring over a store that grew after the snapshot
    * — including IN PLACE over the snapshot's own store — really rolls it
    * back; the destination's `_snapshots/` directory is left untouched.
    */
  def restoreSnapshot(path: String, name: String, outPath: String): Boolean = {
    if (name.isEmpty || name.contains('/') || name.contains("..")) return false
    migrateLegacySnapshots(path)
    val fs = fsFor(new HPath(path))
    val src = fs.makeQualified(new HPath(snapshotsRoot(path), name))
    if (!fs.exists(src) || !fs.getFileStatus(src).isDirectory) return false
    val dst = fs.makeQualified(new HPath(outPath))
    fs.mkdirs(dst)
    val outSnapRoot = fs.makeQualified(snapshotsRoot(outPath))
    // delete the destination's existing DATA files first (vmrestore
    // semantics); buffer the listing — deleting under a live iterator is
    // undefined on some filesystems
    val stale = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[HPath]
      val it = fs.listFiles(dst, true)
      while (it.hasNext) {
        val p = it.next().getPath
        if (!isUnder(p, outSnapRoot)) buf += p
      }
      buf.toSeq
    }
    stale.foreach(p => fs.delete(p, false))
    val it = fs.listFiles(src, true)
    while (it.hasNext) {
      val f = it.next().getPath
      val target = new HPath(dst, relativize(src, f))
      fs.mkdirs(target.getParent)
      if (fs.exists(target)) fs.delete(target, false)
      linkOrCopy(fs, f, target)
    }
    true
  }

  def deleteSnapshot(path: String, name: String): Boolean = {
    // refuse names that escape the snapshots dir (the reference validates
    // against its snapshot-name regexp for the same reason)
    if (name.isEmpty || name.contains('/') || name.contains("..")) return false
    migrateLegacySnapshots(path)
    val dir = new HPath(snapshotsRoot(path), name)
    val fs = fsFor(dir)
    if (!fs.exists(dir) || !fs.getFileStatus(dir).isDirectory) return false
    fs.delete(dir, true)
  }
}
