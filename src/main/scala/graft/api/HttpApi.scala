package graft.api

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Thin HTTP facade over [[Api]] — the reference's vmselect/vminsert route
  * surface (app/vmselect/main.go:201-431 read paths; app/vminsert write
  * paths) on the JDK's built-in HTTP server, zero dependencies.
  *
  * Read endpoints evaluate against the union of a base samples frame and
  * everything ingested over HTTP since startup. Ingested rows buffer on
  * the driver — this facade is single-node deployment glue for the
  * DataFrame surfaces (a production deployment lands writes in object
  * storage and reads via the same [[Api]] programs); the query semantics
  * are identical.
  *
  * Requests run concurrently on a CPU-sized pool of handler threads, and
  * the server's sockets set TCP_NODELAY. The JDK reads that switch once
  * per JVM, so a JDK HttpServer created in the same JVM before this
  * facade's first start() turns it off.
  */
final class HttpApi(
    spark: SparkSession,
    base: Option[DataFrame] = None,
    // PATH-configured base store (a SampleStore root): the facade reads
    // it itself and re-checks the root's content generation every
    // baseRefreshTtlMs — out-of-band writers (the split-reader
    // deployment: ingestion lands in shared/object storage, this facade
    // only reads) become visible WITHOUT a restart, and each refresh
    // bumps the store version so the O6/O7 caches can't serve the
    // replaced listing. The generation is the per-date data-file
    // (name, length) fingerprint set (SampleStore.storeGeneration — the
    // same change detector the maintenance jobs key on), so file-level
    // writes are seen even on object stores whose pseudo-dirs carry no
    // mtime; POST /internal/refreshBaseStore remains as a belt for
    // eventually-consistent listings. Ignored when `base` is set.
    baseStorePath: Option[String] = None,
    baseRefreshTtlMs: Long = 10000L,
    ruleGroups: Seq[graft.alerting.Rules.RuleGroup] = Nil,
    scheduler: Option[graft.alerting.Scheduler] = None,
    // -dedup.minScrapeInterval (lib/storage/dedup.go:30 isDedupEnabled;
    // applied at SELECT time — docs/#deduplication): every read-path
    // frame is deduplicated to one sample per series per interval,
    // keeping the newest (max value on timestamp ties)
    dedupMinScrapeIntervalMs: Long = 0L,
    // -retentionFilter (enterprise, README:1594): per-series retention,
    // smallest matching filter wins, unmatched series get
    // retentionPeriodMs. The reference applies these eventually during
    // merges; the select-time predicate is the serving-path equivalent
    // (compaction applies the same rule durably). Clock injectable for
    // deterministic tests.
    retentionFilters: Seq[graft.core.SampleStore.RetentionFilter] = Nil,
    retentionPeriodMs: Long = 0L,
    retentionNowMs: () => Long = () => System.currentTimeMillis(),
    // Durable write path (the vminsert→vmstorage hop, storage.AddRows →
    // LSM at lib/storage/storage.go:1670): when set, acked ingests SPILL
    // from the driver buffer into this Parquet SampleStore root once the
    // buffer exceeds spillMaxBufferedRows (and on stop()), so driver
    // memory stays bounded and a restarted facade over the same spillDir
    // still serves everything it acked. Without it the buffer is the
    // documented single-node glue: unbounded and lost on restart.
    spillDir: Option[String] = None,
    spillMaxBufferedRows: Int = 500000,
    // -downsampling.period tier stores (docs/victoriametrics Downsampling):
    // interval-ms → the downsampled frame a background
    // pipeline.Dedup.downsample job maintains. query_range requests whose
    // step nests a tier's interval are served FROM the tier
    // (Engine.routeFrame) after AdjustStartEnd step-aligns the grid — the
    // reference's transparent per-query resolution pick. Tier frames get
    // the same read-path decorations (deletes/retention/dedup) as the
    // full-res store; like the reference's background merges they lag
    // ingestion, so a routed query reads tier ∪ buffer ∪ spilled —
    // facade-ingested rows the maintenance job hasn't seen yet serve as
    // raw recent samples beside the downsampled old ones.
    downsampleTiers: Map[Long, DataFrame] = Map.empty,
    // PATH-configured tiers (interval-ms → a SampleStore root a
    // background SampleStore.downsampleNewDates job maintains): the
    // facade reads these itself and AUTO-REFRESHES — each routed request
    // checks the tier's manifest generation (one getFileStatus) and on
    // change re-reads the frame and bumps the store version, so a tier
    // rebuild invalidates the O6/O7 caches without the manual
    // /internal/resetRollupResultCache the frame-configured form needs
    downsampleTierPaths: Map[Long, String] = Map.empty,
    // staging dir for facade snapshot dumps (accessed via the Hadoop
    // FileSystem API, so an s3a://... location works); default = a
    // driver-local temp dir
    snapshotStagingDir: Option[String] = None,
    // tag→names index built beside the BASE store (SampleStore
    // .buildTagIndex / the bucketizeNewDates-maintained one): nameless
    // tag-equality lookups on /api/v1/query_range resolve candidate
    // metric names from it and scan with a pushed `name IN (...)`.
    // The index stays LIVE under writes: the facade sees every ingested
    // row at ack time and maintains a metadata-scale side set of its
    // (date, key, value, name) triples (persisted beside `_deletes/` when
    // a spillDir is configured; rebuilt from the spill store otherwise),
    // UNIONED into the candidate resolution — so a freshly-ingested
    // metric name is never pruned away. The reference maintains its index
    // ON ingest for the same reason (index_db.go createIndexes at TSID
    // create).
    tagIndex: Option[DataFrame] = None,
    // the index's on-disk location, for [[refreshTagIndex]] (and, when
    // `tagIndex` is empty, the initial read): after a bucketizeNewDates
    // run rewrites index partitions, the facade's pinned frame serves the
    // OLD listing — POST /internal/refreshTagIndex (or call
    // refreshTagIndex()) re-reads it without a restart
    tagIndexPath: Option[String] = None,
    // > 0 (and baseStorePath set): the facade runs its OWN background
    // maintenance rounds every maintenancePeriodMs — retention
    // partition-drop (retentionPeriodMs, same injectable clock as the
    // select-time predicate), then the tagIndexPath index and each
    // downsampleTierPaths tier trail the base store — the reference's
    // retention watcher + in-merge downsampling + on-ingest indexing
    // (table.go:446, partition.go:535, index_db.go createIndexes). The
    // auto-refresh layers serve each round's output with no manual
    // resets (the pinned index frame re-reads after a round that rewrote
    // it); GET /internal/maintenance reports the last round. 0 = the
    // caller schedules core.Maintenance (or the jobs directly) itself.
    maintenancePeriodMs: Long = 0L) {

  require(retentionFilters.isEmpty || retentionPeriodMs > 0,
    "retentionFilters require retentionPeriodMs > 0 (the unmatched-series " +
      "retention); period 0 would silently drop every unmatched series")
  require(maintenancePeriodMs <= 0 || baseStorePath.nonEmpty,
    "maintenancePeriodMs needs a baseStorePath to maintain (the rounds " +
      "drop retention partitions from it and trail its downsample tiers)")

  /** completed by the first maintenance round, after its frame refreshes */
  private[api] val firstMaintenanceRound =
    scala.concurrent.Promise[graft.core.Maintenance.Report]()

  /** facade-owned background maintenance; public so deployment glue (and
    * tests) can run a round synchronously via `maintenance.get.step()`
    */
  val maintenance: Option[graft.core.Maintenance] =
    if (maintenancePeriodMs <= 0) None
    else baseStorePath.map(p => new graft.core.Maintenance(
      spark, p, maintenancePeriodMs, downsampleTierPaths,
      retentionPeriodMs, retentionNowMs,
      // the facade's flat-store index trails the base store; after a
      // round that rewrote (or retention-dropped) index partitions the
      // pinned frame re-reads, so probes serve the new listing without
      // the manual /internal/refreshTagIndex
      tagIndexPath = tagIndexPath,
      afterRound = r => {
        // the round just deleted base partitions the pinned frame's file
        // listing still references: re-list NOW instead of serving
        // FileNotFoundException until the TTL recheck
        if (r.droppedDates.nonEmpty) refreshBaseStore()
        // index refresh keyed on the index maintenance manifest's #gen —
        // indexNewDates returns only CHANGED dates, so a removed-only
        // round (external retention upstream) must still re-read the
        // pinned frame off deleted files
        tagIndexPath.foreach { p =>
          val gen = graft.core.SampleStore.manifestGeneration(
            new org.apache.hadoop.fs.Path(p + "_manifest", "dates.tsv"))
          if (gen != maintIndexGen) { maintIndexGen = gen; refreshTagIndex() }
        }
        firstMaintenanceRound.trySuccess(r)
      }))

  // last index-manifest generation the maintenance hook refreshed on
  @volatile private var maintIndexGen: String = null

  private val sampleSchema = StructType(Seq(
    StructField("name", StringType),
    StructField("tags", MapType(StringType, StringType)),
    StructField("ts", LongType),
    StructField("value", DoubleType)))

  private val ingested = mutable.ArrayBuffer.empty[Row]
  // delete-series tombstones: selectors whose matching rows are excluded
  // from every read (the Parquet store path rewrites files instead —
  // SampleStore.deleteSeries; this facade's buffer+base union can't, so
  // deletion is a filter, exactly as cheap at read time). Graphite
  // /tags/delSeries registers raw Column predicates (its tag keys may
  // contain characters MetricsQL selectors cannot spell).
  private val deletedSelectors = mutable.ArrayBuffer.empty[String]
  private val deletedPredicates = mutable.ArrayBuffer.empty[org.apache.spark.sql.Column]
  // graphite delSeries predicates are Columns (not serializable) — the
  // RAW paths ride beside them so deletes can persist/reload with the
  // spill store (a Column rebuilds deterministically from its path)
  private val deletedGraphitePaths = mutable.ArrayBuffer.empty[String]
  private var server: HttpServer = _
  // self-telemetry for /metrics (lib/httpserver/httpserver.go:436 serves
  // the process' own counters; vm_http_requests_total per path)
  private val startedAtMs = System.currentTimeMillis()
  private val requestCounts = mutable.Map.empty[String, Long]
  private var rowsInserted = 0L
  // bumped on every store mutation, after the mutation is visible; folded
  // into the O6/O7 cache keys because a rebuilt LocalRelation canonicalizes
  // identically whatever its data. Atomic: mutations on different handler
  // threads must each move it.
  private val storeVersion = new java.util.concurrent.atomic.AtomicLong(0L)

  /** a frame snapshot with the store version it holds: retried until no
    * mutation bumped the version while it was taken, so a concurrent
    * ingest can never have its rows missing from a result cached under a
    * version that counts them (nor a lazy base-store refresh in `snapshot`
    * itself serve the previous listing's entry)
    */
  private def versioned[T](snapshot: => T): (T, Long) = {
    var v = storeVersion.get()
    var out = snapshot
    while (storeVersion.get() != v) { v = storeVersion.get(); out = snapshot }
    (out, v)
  }

  // the spilled store's read frame, rebuilt after each spill (a Parquet
  // read pins its file listing at creation time); a crashed compaction's
  // complete staging dir is folded back in FIRST — it may hold dates the
  // interrupted swap had already removed from the live store
  @volatile private var spilled: Option[DataFrame] = {
    recoverSpillCompaction(); readSpilled()
  }
  private val spillLock = new Object
  // Size-triggered spills run on this single background thread so the
  // ~500Kth ingest request is NOT charged a Parquet write + store re-read
  // on its HTTP worker (the same stall shape as the System.gc() fix).
  // Forced flushes (stop()) stay synchronous through maybeSpill.
  private val spillExec = java.util.concurrent.Executors.newSingleThreadExecutor(
    (r: Runnable) => { val t = new Thread(r, "graft-spill"); t.setDaemon(true); t })
  private val spillQueued = new java.util.concurrent.atomic.AtomicBoolean(false)
  // test hook: a closed gate holds the background spill, so specs can
  // assert the triggering ingest acked before the spill drained its rows
  @volatile private[api] var spillGate: java.util.concurrent.CountDownLatch = null
  /** block until the background spill thread has drained its queue */
  def awaitSpillIdle(): Unit = { spillExec.submit(new Runnable { def run(): Unit = () }).get(); () }

  private def scheduleSpill(): Unit = spillDir.foreach { _ =>
    val over = ingested.synchronized(ingested.length) >= spillMaxBufferedRows
    if (over && spillQueued.compareAndSet(false, true))
      spillExec.submit(new Runnable {
        def run(): Unit = {
          // re-arm FIRST: rows landing while this spill runs can queue the
          // next one instead of waiting for another threshold crossing
          spillQueued.set(false)
          try {
            Option(spillGate).foreach(_.await())
            maybeSpill()
            maybeCompactSpill()
          } catch {
            case e: Exception =>
              // rows stay buffered and acked; the next trigger retries
              System.err.println(s"[graft.HttpApi] background spill failed: $e")
          }
        }
      })
  }

  /** Data files in the spill store grow by one-plus per spill; past this
    * many the background thread compacts the store in place (bounding
    * per-query listing cost on a long-running facade). The HTTP
    * store-swap lock keeps requests out of the swap window; callers
    * holding a [[samples]] frame OUTSIDE the HTTP surface should not run
    * it concurrently with a compaction (single-node glue, like the
    * facade itself).
    */
  private[api] var spillCompactFileThreshold: Int = 64

  private[api] def spillDataFileCount(dir: String): Int = {
    import org.apache.hadoop.fs.{Path => HPath}
    val root = new HPath(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) 0
    else fs.listStatus(root).filter(st =>
      st.isDirectory && st.getPath.getName.startsWith("date=")).map { d =>
      fs.listStatus(d.getPath).count { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith(".") && !n.startsWith("_")
      }
    }.sum
  }

  /** Recover from a crash mid-compaction-swap: a COMPLETE `_compacting`
    * staging dir (Spark's `_SUCCESS` marker present) holds every date's
    * compacted data, so any date the per-date swap had deleted from the
    * live store but not yet renamed in is restored from staging; an
    * INCOMPLETE staging dir (crash during the write) is discarded — the
    * live store was never touched in that phase. Runs before the first
    * store read and before each compaction.
    */
  private def recoverSpillCompaction(): Unit = spillDir.foreach { dir =>
    import org.apache.hadoop.fs.{Path => HPath}
    val root = new HPath(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val tmp = new HPath(dir + "_compacting")
    if (fs.exists(tmp)) {
      // a rename can FAIL by returning false (permission hiccup, a
      // half-materialized dst appearing between the exists check and the
      // rename) — deleting the staging dir then destroys the only copy of
      // that date's data. Track every restore; keep the staging dir when
      // any failed, so the next recovery pass retries.
      var allRestored = true
      if (fs.exists(new HPath(tmp, "_SUCCESS"))) {
        fs.listStatus(tmp).filter(st =>
          st.isDirectory && st.getPath.getName.startsWith("date="))
          .foreach { st =>
            val dst = new HPath(root, st.getPath.getName)
            if (!fs.exists(dst) && !fs.rename(st.getPath, dst)) {
              allRestored = false
              System.err.println(
                s"[graft.HttpApi] compaction recovery: rename ${st.getPath} -> $dst failed; " +
                  "keeping staging dir for the next recovery pass")
            }
          }
      }
      if (allRestored) fs.delete(tmp, true)
    }
    // sidelined originals from a crashed per-date swap (the swap RENAMES
    // the live dir to a hidden `.date=<d>.old` before renaming the
    // compacted dir in — rename is atomic per dir, so the live store is
    // never partially deleted): restore any whose replacement never
    // arrived, drop the rest
    if (fs.exists(root)) {
      fs.listStatus(root).filter { st =>
        val n = st.getPath.getName
        st.isDirectory && n.startsWith(".date=") && n.endsWith(".old")
      }.foreach { st =>
        val orig = st.getPath.getName.stripPrefix(".").stripSuffix(".old")
        val dst = new HPath(root, orig)
        if (!fs.exists(dst)) { fs.rename(st.getPath, dst); () }
        else { fs.delete(st.getPath, true); () }
      }
    }
  }

  private def maybeCompactSpill(): Unit = spillDir.foreach { dir =>
    import org.apache.hadoop.fs.{Path => HPath}
    if (spillDataFileCount(dir) <= spillCompactFileThreshold) return
    spillLock.synchronized {
      val root = new HPath(dir)
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      val tmp = new HPath(dir + "_compacting")
      recoverSpillCompaction() // a leftover complete staging dir is DATA
      // one file per date: the compaction target is listing cost, and a
      // facade-scale date partition is small by construction
      spark.read.parquet(dir)
        .repartition(col("date"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy("date").parquet(tmp.toString)
      // swap with no HTTP request mid-execution (write lock vs the
      // handler wrapper's read lock), view refreshed atomically.
      // PER-DATE rename-aside + rename-in (not delete-all-then-rename-
      // all, and not even a per-date recursive delete): dir renames are
      // atomic on the filesystems this single-node facade targets, so a
      // crash at ANY point leaves each date either live, sidelined under
      // a hidden `.date=<d>.old` (restored by recoverSpillCompaction when
      // its replacement never arrived), or already compacted — never
      // partially deleted. The batch form could leave the ENTIRE store
      // empty with its data stranded in a dir the next run deletes.
      storeSwapLock.writeLock().lock()
      try viewLock.synchronized {
        fs.listStatus(tmp).filter(st =>
          st.isDirectory && st.getPath.getName.startsWith("date="))
          .foreach { st =>
            val dst = new HPath(root, st.getPath.getName)
            val old = new HPath(root, "." + st.getPath.getName + ".old")
            fs.delete(old, true) // leftover from a prior crash
            if (fs.exists(dst)) { fs.rename(dst, old); () }
            // a false-returning rename-in leaves this date's only copy
            // sidelined under `old` — restore it instead of deleting it
            // (the unconditional delete was the data-loss window)
            if (fs.rename(st.getPath, dst)) fs.delete(old, true)
            else {
              if (fs.exists(old) && !fs.exists(dst)) { fs.rename(old, dst); () }
              System.err.println(
                s"[graft.HttpApi] compaction swap: rename ${st.getPath} -> $dst failed; " +
                  "date left uncompacted")
            }
          }
        spilled = readSpilled()
        storeVersion.incrementAndGet()
      } finally storeSwapLock.writeLock().unlock()
      fs.delete(tmp, true)
      ()
    }
  }

  // handlers hold the read side for their whole exchange; the spill
  // compactor takes the write side for its file swap, so a request never
  // reads a store whose files are being replaced under it
  private val storeSwapLock = new java.util.concurrent.locks.ReentrantReadWriteLock()

  // restore acked deletes alongside the spilled rows (constructor order:
  // after the delete buffers and spillDir-derived fields above)
  loadDeletes()
  // guards the (spilled, buffer) TRANSITION so a concurrent query never
  // observes the half-moved state — old spilled frame + drained buffer
  // would LOSE the moved rows, new frame + undrained buffer would
  // duplicate them. Held only for the swap and the read snapshot, never
  // across the parquet write.
  private val viewLock = new Object

  private def readSpilled(): Option[DataFrame] = spillDir.flatMap { d =>
    // Hadoop FileSystem like the rest of the spill plumbing, so spillDir
    // can live on any shared filesystem
    val p = new org.apache.hadoop.fs.Path(d)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val hasData = fs.exists(p) && fs.getFileStatus(p).isDirectory &&
      fs.listStatus(p).exists(_.getPath.getName.startsWith("date="))
    if (hasData) Some(graft.core.SampleStore.read(spark, d)) else None
  }

  // ---- durable deletes -------------------------------------------------
  // spillDir makes acked INGESTS durable; acked delete_series/delSeries
  // must be durable too, or a restart over the same spillDir resurrects
  // rows acked as deleted (an asymmetry the memory-only facade, which
  // loses both, never had). Tombstones persist as one Base64-lined file
  // under `_deletes/` (underscore → invisible to partition discovery),
  // rewritten whole on every mutation (deletes are rare and the file is
  // tombstone-scale; append is not portable across FileSystems).

  /** A small metadata file of lines, rewritten whole on every change
    * (append is not portable across FileSystems) with a crash-safe swap:
    * the complete new state goes to `<file>.tmp`, the primary is deleted,
    * the tmp file renamed in. A crash between the delete and the rename is
    * recoverable, because [[read]] restores the tmp file when the primary
    * is missing. (A rename-with-overwrite would close the window, but
    * FileSystem.rename won't clobber and FileContext isn't available on
    * every store.) Writes are serialized per file: two writers rewriting
    * the SAME tmp file can interleave their delete+rename pairs so that
    * the final rename fails and NO file survives.
    */
  private final class DurableLines(file: org.apache.hadoop.fs.Path) {
    private val tmp = new org.apache.hadoop.fs.Path(file.getParent, file.getName + ".tmp")
    private val writeLock = new Object
    private def fs = file.getFileSystem(spark.sessionState.newHadoopConf())

    /** replace the file with `lines`, evaluated under the write lock so
      * the last writer persists the newest state
      */
    def write(lines: => Seq[String]): Unit = writeLock.synchronized {
      val out = fs.create(tmp, true)
      try out.write(lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      finally out.close()
      fs.delete(file, false)
      fs.rename(tmp, file)
      ()
    }

    /** the file's lines, None when there is no file */
    def read(): Option[List[String]] = {
      if (!fs.exists(file) && fs.exists(tmp)) fs.rename(tmp, file)
      if (!fs.exists(file)) None
      else {
        val in = fs.open(file)
        try Some(scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList)
        finally in.close()
      }
    }
  }

  private lazy val deletesFile: Option[DurableLines] =
    spillDir.map(d => new DurableLines(new org.apache.hadoop.fs.Path(d, "_deletes/deletes.tsv")))

  private def b64(s: String): String =
    java.util.Base64.getEncoder.encodeToString(s.getBytes(StandardCharsets.UTF_8))
  private def unb64(s: String): String =
    new String(java.util.Base64.getDecoder.decode(s), StandardCharsets.UTF_8)

  private def persistDeletes(): Unit = deletesFile.foreach(_.write {
    val sels = deletedSelectors.synchronized(deletedSelectors.toList)
    val paths = deletedPredicates.synchronized(deletedGraphitePaths.toList)
    sels.map(s => s"S\t${b64(s)}") ++ paths.map(p => s"G\t${b64(p)}")
  })

  private def loadDeletes(): Unit = deletesFile.flatMap(_.read()).foreach {
    _.foreach {
      _.split('\t') match {
        case Array("S", v) => deletedSelectors += unb64(v)
        case Array("G", v) =>
          val p = unb64(v)
          deletedGraphitePaths += p
          deletedPredicates += graphiteDeletePredicate(p)
        case _ => ()
      }
    }
  }

  /** spill the buffer into the Parquet store (size-triggered from
    * [[ingest]]; forced on [[stop]]) — appends are date-partitioned, so
    * the spilled rows serve through the same store read every other
    * deployment uses
    */
  private def maybeSpill(force: Boolean = false): Unit = spillDir.foreach { dir =>
    spillLock.synchronized {
      val snapshot = ingested.synchronized {
        if (!force && ingested.length < spillMaxBufferedRows) Nil
        else ingested.toList
      }
      if (snapshot.nonEmpty) {
        graft.core.SampleStore.write(
          spark.createDataFrame(snapshot.asJava, sampleSchema), dir)
        // appends landed after the snapshot stay buffered (they're the
        // suffix; the spilled rows are exactly the prefix we copied).
        // Swap the serving view atomically: frame first, buffer drain in
        // the same viewLock section, so a concurrent [[samples]] snapshot
        // sees either (old frame, full buffer) or (new frame, drained
        // buffer) — never the lost-rows or duplicated-rows interleavings.
        val fresh = readSpilled()
        viewLock.synchronized {
          spilled = fresh
          ingested.synchronized {
            ingested.remove(0, snapshot.length)
            storeVersion.incrementAndGet()
          }
        }
      }
    }
  }

  /** force the buffered tail into the spill store (no-op without one) */
  def flushIngested(): Unit = maybeSpill(force = true)

  /** rows currently buffered on the driver (the hot tail when spilling) */
  def bufferedRows: Int = ingested.synchronized(ingested.length)

  def samples: DataFrame = samplesOver(baseFrame)

  // ---- path-configured base store -------------------------------------
  // (generation, frame, last checked) — generation re-checked at most
  // once per TTL window (one root listStatus), frame re-read on change
  @volatile private var baseState: (String, Option[DataFrame], Long) = null

  /** the base frame every read path unions under — a handed-in frame
    * verbatim, or the TTL-refreshed read of [[baseStorePath]]
    */
  private def baseFrame: Option[DataFrame] = base.orElse {
    baseStorePath.flatMap { p =>
      val now = System.currentTimeMillis()
      val cur = baseState
      if (cur != null && now - cur._3 < baseRefreshTtlMs) cur._2
      else synchronized {
        val cur2 = baseState
        if (cur2 != null && now - cur2._3 < baseRefreshTtlMs) cur2._2
        else {
          // A transient listing failure (object-store throttle, NameNode
          // failover) must NOT serve the store as vanished-but-200: keep
          // the cached frame and restamp so the next TTL window retries.
          // With no cached state yet the request fails loudly instead.
          val gen =
            try graft.core.SampleStore.storeGeneration(spark, p)
            catch { case _: Exception if cur2 != null => cur2._1 }
          if (cur2 != null && cur2._1 == gen) {
            baseState = (gen, cur2._2, now)
            cur2._2
          } else {
            val f =
              if (gen == "absent" || gen.isEmpty) None
              else Some(graft.core.SampleStore.read(spark, p))
            baseState = (gen, f, now)
            storeVersion.incrementAndGet()
            f
          }
        }
      }
    }
  }

  /** force the next read to re-list [[baseStorePath]] — a belt for
    * eventually-consistent object-store listings (the generation itself
    * is file-level fingerprints, so ordinary writes are seen by the TTL
    * poll). Takes the swap-in monitor so a racing in-flight refresh
    * can't overwrite the reset with its stale frame. Also exposed as
    * POST /internal/refreshBaseStore.
    */
  def refreshBaseStore(): Unit = synchronized { baseState = null }

  /** The buffer+spilled union over an arbitrary root frame, decorated.
    * `samples` passes the base store; the tier-routed query_range path
    * passes the chosen tier frame — ingested/spilled rows must ride
    * EVERY served frame (the reference's downsampling rewrites only old
    * parts, so raw recent samples always serve alongside a tier; a
    * tier-only read would silently drop acked rows while the facade
    * holds buffered data).
    */
  private def samplesOver(root: Option[DataFrame]): DataFrame = {
    // snapshot (spilled frame, buffer) atomically vs the spill transition
    val (sp, bufRows) = viewLock.synchronized {
      (spilled, ingested.synchronized { ingested.toList })
    }
    // A series-bucketed store (SampleStore.readBucketed) carries the
    // persisted _h1/_h2 hash pair; a read-only facade passes it through
    // UNCHANGED so downstream plans keep the scan's bucket partitioning
    // (the zero-exchange path). Once rows are ingested over HTTP, the
    // union severs that partitioning anyway — then the buffer (and the
    // spilled store) compute the same hash pair so per-series grouping
    // stays correct.
    val withHash = (df: DataFrame) => root match {
      case Some(b) if b.columns.contains("_h1") => graft.core.SeriesId.withPair(df)
      case _ => df
    }
    val extras = sp.map(withHash).toList ++
      (if (bufRows.isEmpty) Nil
       else List(withHash(spark.createDataFrame(bufRows.asJava, sampleSchema))))
    val all = (root.toList ++ extras) match {
      case Nil => spark.createDataFrame(List.empty[Row].asJava, sampleSchema)
      case frames => frames.reduce(_.unionByName(_, allowMissingColumns = true))
    }
    decorate(all)
  }

  // ---- downsample tiers ---------------------------------------------
  // path-configured tiers cache (interval → (manifest generation, frame));
  // the generation is the manifest file's (mtime, length) — rewritten by
  // every downsampleNewDates run that changed anything
  private val tierState =
    new java.util.concurrent.ConcurrentHashMap[Long, (String, DataFrame)]()

  private def tierGeneration(path: String): String =
    graft.core.SampleStore.manifestGeneration(
      new org.apache.hadoop.fs.Path(path + "_manifest", "dates.tsv"))

  /** The tier frame for a routed interval, or None when a path-configured
    * tier does not exist yet (the maintenance job hasn't run / the dir
    * was wiped for a rebuild) — the caller falls back to full resolution
    * instead of failing every coarse-step query. Frame-configured tiers
    * pass through (their rebuild contract stays the manual cache reset);
    * a path-configured tier re-reads when its maintenance manifest's
    * generation changed — one driver-side read of the manifest head per
    * routed request — and bumps the store version so the O6/O7 caches can
    * never serve rows of the replaced tier files. A query racing the
    * maintenance rewrite itself can fail transiently (dynamic partition
    * overwrite is not atomic); the post-rewrite manifest bumps the
    * generation, so the next request re-reads and self-heals.
    */
  private def tierFrame(iv: Long): Option[DataFrame] =
    downsampleTiers.get(iv).orElse {
      downsampleTierPaths.get(iv).flatMap { path =>
        val gen = tierGeneration(path)
        val cur = tierState.get(iv)
        if (cur != null && cur._1 == gen) Some(cur._2)
        else
          try {
            val f = graft.core.SampleStore.read(spark, path)
            tierState.put(iv, (gen, f))
            storeVersion.incrementAndGet()
            Some(f)
          } catch {
            // missing/empty tier root: serve full resolution (do NOT
            // cache the miss — the first maintenance run makes it appear)
            case _: org.apache.spark.sql.AnalysisException => None
          }
      }
    }

  /** the read-path decorations every served frame gets — delete-series
    * tombstones, retention filters, select-time dedup — applied to the
    * buffer+base union ([[samples]]) AND to downsampled tier frames, so a
    * tier-routed query honors the same deletes/retention the full-res
    * path does
    */
  private def decorate(all: DataFrame): DataFrame = {
    val dels = deletedSelectors.synchronized { deletedSelectors.toList }
    val preds = deletedPredicates.synchronized { deletedPredicates.toList }
    val afterSel = dels.foldLeft(all)((df, sel) => df.filter(!Api.selectorPredicate(sel)))
    val afterDel = preds.foldLeft(afterSel)((df, p) => df.filter(!p))
    // inline per-row matchers for a handful of filters; per-series dim
    // resolution above the threshold (an enterprise ~50-filter stack per
    // row measured 200× scan cost — StoreScale)
    val res = graft.core.SampleStore.applyRetentionFilterPredicate(
      afterDel, retentionFilters, retentionPeriodMs,
      if (retentionFilters.isEmpty) 0L else retentionNowMs())
    if (dedupMinScrapeIntervalMs <= 0) res
    else
      // the -dedup.minScrapeInterval select-time rule (dedup.go:30-70):
      // ONE pass — name/tags ride the grouping keys, so no restore join,
      // no second scan, and no SortAggregate (null tags survive as the
      // empty map rather than dropping out of a null join key)
      graft.pipeline.Dedup.dedupNamedSamples(res, dedupMinScrapeIntervalMs)
  }

  // the handler pool (created by start) and the exchanges running on it:
  // /metrics reports both, and stop() grants its grace only while any runs
  private var pool: java.util.concurrent.ExecutorService = _
  private val inFlight = new java.util.concurrent.atomic.AtomicInteger(0)

  /** start on the given port (0 = ephemeral); returns the bound port */
  def start(port: Int = 0): Int = {
    // reading the pool size initializes object HttpApi, which turns on
    // TCP_NODELAY before this JVM's first HttpServer.create
    val workers = HttpApi.WorkerThreads
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    val rs = routes
    rs.foreach { case (path, h) => server.createContext(path, h) }
    // root fallback (app/vmselect/main.go:95-105): collapse `//` and strip
    // the cluster-compat /prometheus|/graphite path prefixes, then
    // re-dispatch with JDK-context semantics (longest prefix wins). Only
    // requests no registered context matched land here.
    server.createContext("/", rewriteHandler(rs))
    // Handlers run concurrently on a bounded pool, like vmselect's
    // goroutine per request under -search.maxConcurrentRequests
    // (app/vmselect/main.go), so a dashboard's cache hits do not queue
    // behind its /render job, and a client stalling its request body holds
    // one worker, not the server. Spark runs the handlers' jobs side by
    // side; the per-request state is thread-confined (Trace, job group) or
    // locked (the store view, caches, buffers).
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    pool = java.util.concurrent.Executors.newFixedThreadPool(workers, (r: Runnable) => {
      val t = new Thread(r, s"graft-http-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    })
    server.setExecutor((exchange: Runnable) => pool.execute(() => {
      inFlight.incrementAndGet()
      try exchange.run()
      finally if (inFlight.decrementAndGet() == 0) inFlight.synchronized(inFlight.notifyAll())
    }))
    server.start()
    maintenance.foreach(_.start())
    server.getAddress.getPort
  }

  private def rewriteHandler(
      rs: Seq[(String, com.sun.net.httpserver.HttpHandler)])
      : com.sun.net.httpserver.HttpHandler = handler { ex =>
    val uri = ex.getRequestURI
    var raw = uri.getRawPath.replaceAll("/{2,}", "/")
    if (raw.startsWith("/prometheus/")) raw = raw.stripPrefix("/prometheus")
    else if (raw.startsWith("/graphite/")) raw = raw.stripPrefix("/graphite")
    val rewritten = java.net.URI.create(
      raw + Option(uri.getRawQuery).map("?" + _).getOrElse(""))
    rs.filter { case (p, _) => rewritten.getPath.startsWith(p) }
      .sortBy(-_._1.length).headOption match {
      case Some((_, h)) => h.handle(new RewrittenExchange(ex, rewritten))
      case None => reply(ex, 404,
        s"""{"status":"error","errorType":"unavailable","error":"unsupported path requested: ${esc(rewritten.getPath)}"}""")
    }
  }

  /** delegate exchange whose URI reflects the normalized path — handlers
    * that read `getRequestURI` directly (label/tags path segments, query
    * params) must see the rewrite
    */
  private final class RewrittenExchange(d: HttpExchange, uri: java.net.URI)
      extends HttpExchange {
    override def getRequestHeaders = d.getRequestHeaders
    override def getResponseHeaders = d.getResponseHeaders
    override def getRequestURI = uri
    override def getRequestMethod = d.getRequestMethod
    override def getHttpContext = d.getHttpContext
    override def close(): Unit = d.close()
    override def getRequestBody = d.getRequestBody
    override def getResponseBody = d.getResponseBody
    override def sendResponseHeaders(code: Int, len: Long): Unit =
      d.sendResponseHeaders(code, len)
    override def getRemoteAddress = d.getRemoteAddress
    override def getResponseCode = d.getResponseCode
    override def getLocalAddress = d.getLocalAddress
    override def getProtocol = d.getProtocol
    override def getAttribute(name: String) = d.getAttribute(name)
    override def setAttribute(name: String, value: Object): Unit =
      d.setAttribute(name, value)
    override def setStreams(i: java.io.InputStream, o: java.io.OutputStream): Unit =
      d.setStreams(i, o)
    override def getPrincipal = d.getPrincipal
  }

  def stop(): Unit = {
    maintenance.foreach(_.stop())
    if (server != null) {
      // Up to 2 s of grace for the exchanges in flight, counted here. The
      // JDK's own stop(2) ends its grace early only when no exchange runs
      // AND no connection is mid-request; with a pool it missed that on an
      // idle server (a client closing its keep-alive connection runs a
      // short exchange that reads the EOF) and sat out the whole 2 s.
      val graceEnd = System.nanoTime() + 2000000000L
      inFlight.synchronized {
        while (inFlight.get() > 0 && graceEnd - System.nanoTime() > 0)
          inFlight.wait(math.max(1L, (graceEnd - System.nanoTime()) / 1000000L))
      }
      // Then close the listener and every connection at once. After this
      // no handler can ack, and a handler acks only after its rows are in
      // the buffer, so the flush below covers every acked row.
      server.stop(0)
      // let the handlers still running finish (bounded: reads are under
      // their query deadline, and a closed connection fails a blocked
      // body read) so none is mid-append when the store is flushed
      pool.shutdown()
      if (!pool.awaitTermination(QueryDeadline.MaxQueryDurationMs,
          java.util.concurrent.TimeUnit.MILLISECONDS)) pool.shutdownNow()
    }
    // clean shutdown drains the hot tail into the spill store, so a
    // restarted facade over the same spillDir serves every acked row
    flushIngested()
    spillExec.shutdown()
  }

  // ---- helpers -------------------------------------------------------

  private def params(ex: HttpExchange): Map[String, String] = {
    val fromQuery = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    val body =
      if (ex.getRequestMethod == "POST" &&
        Option(ex.getRequestHeaders.getFirst("Content-Type"))
          .exists(_.startsWith("application/x-www-form-urlencoded")))
        new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      else ""
    (fromQuery + "&" + body).split('&').filter(_.contains("=")).map { kv =>
      val i = kv.indexOf('=')
      java.net.URLDecoder.decode(kv.take(i), "UTF-8") ->
        java.net.URLDecoder.decode(kv.drop(i + 1), "UTF-8")
    }.toMap
  }

  /** repeated query args (graphite `target`/`query`/`expr` accept many) */
  private def multiParams(ex: HttpExchange, key: String): Seq[String] = {
    val fromQuery = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    fromQuery.split('&').filter(_.contains("=")).toSeq.flatMap { kv =>
      val i = kv.indexOf('=')
      val k = java.net.URLDecoder.decode(kv.take(i), "UTF-8")
      if (k == key) Some(java.net.URLDecoder.decode(kv.drop(i + 1), "UTF-8"))
      else None
    }
  }

  /** repeated args from query string AND a form-encoded POST body (the
    * graphite tag-write APIs take repeated `path` form fields — r.Form in
    * the reference). Reads the body, so call at most once per exchange.
    */
  private def multiParamsWithBody(ex: HttpExchange, key: String): Seq[String] = {
    val fromQuery = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    val body =
      if (ex.getRequestMethod == "POST" &&
        Option(ex.getRequestHeaders.getFirst("Content-Type"))
          .exists(_.startsWith("application/x-www-form-urlencoded")))
        new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      else ""
    (fromQuery + "&" + body).split('&').filter(_.contains("=")).toSeq.flatMap { kv =>
      val i = kv.indexOf('=')
      if (java.net.URLDecoder.decode(kv.take(i), "UTF-8") == key)
        Some(java.net.URLDecoder.decode(kv.drop(i + 1), "UTF-8"))
      else None
    }
  }

  /** graphite tagged path `metric;k=v;…` → (metric, canonical path with
    * sorted tags, tag map) — lib/protoparser/graphite
    * Row.UnmarshalMetricAndTags + tags_api.go:111 canonicalization
    */
  private def parseGraphitePath(path: String): (String, String, Map[String, String]) = {
    val parts = path.split(';')
    val metric = parts.head
    if (metric.isEmpty)
      throw new IllegalArgumentException(s"cannot parse path=$path: metric cannot be empty")
    val tags = parts.tail.toSeq.map { kv =>
      val i = kv.indexOf('=')
      if (i <= 0)
        throw new IllegalArgumentException(s"cannot parse path=$path: invalid tag $kv")
      kv.take(i) -> kv.drop(i + 1)
    }.toMap
    val canonical = metric +
      tags.toSeq.sortBy(_._1).map { case (k, v) => s";$k=$v" }.mkString
    (metric, canonical, tags)
  }

  /** /tags/delSeries predicate for one graphite path: delete every series
    * matching (metric, tags) — series carrying EXTRA tags still match,
    * exactly the reference's TagFilter semantics (tags_api.go:33).
    * Deterministic in the path, so persisted deletes rebuild it on load.
    */
  private def graphiteDeletePredicate(p: String): org.apache.spark.sql.Column = {
    val (metric, _, tags) = parseGraphitePath(p)
    tags.foldLeft(coalesce(col("name"), lit("")) === metric) {
      case (acc, (k, v)) => acc && col("tags").getItem(k) === v
    }
  }

  /** Prometheus time param: unix seconds, fractional allowed */
  private def timeMs(p: Map[String, String], key: String, default: => Long): Long =
    p.get(key).map(s => math.round(s.toDouble * 1000)).getOrElse(default)

  private def stepMs(p: Map[String, String]): Long =
    p.get("step").map(s =>
      if (s.forall(c => c.isDigit || c == '.')) math.round(s.toDouble * 1000)
      else graft.lang.Lexer.durationMs(s, 60000L)).getOrElse(60000L)

  private def esc(s: String): String = Json.esc(s)

  private def metricJson(name: String, tags: Map[String, String]): String = {
    val entries =
      (Option(name).filter(_.nonEmpty).map("__name__" -> _).toSeq ++ tags.toSeq)
        .sortBy(_._1)
        .map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }
    entries.mkString("{", ",", "}")
  }

  private def fmt(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString

  /** the response rows (name, tags, t, value), each with its series key,
    * sorted on the driver as Spark's `orderBy(seriesKey, t)` would. Rows a
    * cache served (or a cache miss just collected) are sorted as they are,
    * with no Spark job and no Catalyst pass; a plan (raw export, `nocache`,
    * a shape the caches don't serve) is collected ONCE — one Spark job.
    * Either way it happens before any byte of the response is sent, so an
    * execution failure still gets the 422 envelope. The reference likewise
    * sorts the finished result in memory before writing it
    * (exec.go:78-101, sortSeriesByMetricName). Sorting per response, not
    * at cache insert, keeps the HTTP series key out of the engine.
    */
  private def responseRows(res: Either[DataFrame, graft.Engine.Collected]): Array[(String, Row)] = {
    val keys = new java.util.HashMap[(String, scala.collection.Map[String, String]),
      (String, Array[Byte])]()
    val rows = res match {
      case Left(df) => df.select(col("name"), col("tags"), col("t"), col("value")).collect()
      case Right(c) =>
        val at = Seq("name", "tags", "t", "value").map(c.schema.fieldIndex)
        if (at == Seq(0, 1, 2, 3)) c.rows else c.rows.map(r => Row.fromSeq(at.map(r.get)))
    }
    val keyed = rows
      .map { r =>
        val k = keys.computeIfAbsent((r.getString(0), r.getMap[String, String](1)),
          { case (n, t) => val sk = HttpApi.seriesKeyOf(n, t); (sk, Utf8Order.bytes(sk)) })
        (k, r)
      }
    keyed.sortWith { case ((ka, a), (kb, b)) =>
      val c = Utf8Order.compare(ka._2, kb._2)
      c < 0 || c == 0 && a.getLong(2) < b.getLong(2)
    }.map { case (k, r) => (k._1, r) }
  }

  /** sorted response rows → the matrix/vector result array, written
    * series by series; returns the series count (the `stats` block and
    * trace messages report it, query_response.qtpl:46)
    */
  private def writeResult(rows: Array[(String, Row)], instant: Boolean,
      w: java.io.Writer): Int = {
    w.write("[")
    var curKey: String = null
    var curMetric: String = null
    var lastPt: String = null   // instant mode keeps only the final point
    var firstSeries = true
    var firstPt = true
    var seriesCount = 0
    def closeSeries(): Unit = if (curKey != null) {
      if (instant) w.write(s"""{"metric":$curMetric,"value":$lastPt}""")
      else w.write("]}")
    }
    for ((k, r) <- rows) {
      val pt = s"""[${r.getLong(2) / 1000.0},"${fmt(r.getDouble(3))}"]"""
      if (k != curKey) {
        closeSeries()
        if (!firstSeries) w.write(",")
        firstSeries = false
        curKey = k
        seriesCount += 1
        curMetric = metricJson(Option(r.getString(0)).getOrElse(""),
          Option(r.getMap[String, String](1)).map(_.toMap).getOrElse(Map.empty))
        firstPt = true
        if (!instant) w.write(s"""{"metric":$curMetric,"values":[""")
      }
      if (instant) lastPt = pt
      else {
        if (!firstPt) w.write(",")
        firstPt = false
        w.write(pt)
      }
    }
    closeSeries()
    w.write("]")
    seriesCount
  }

  /** Repeated `match[]` args union into one pre-applied row predicate
    * (getCommonParams parses them into filterss — an OR across
    * selectors); downstream Api calls then take an empty selector.
    * Falls back to the single parsed param for form-encoded POST bodies
    * (whose stream `params` already consumed).
    */
  private def matchFiltered(ex: HttpExchange, p: Map[String, String],
      fromMs: Long = Long.MinValue, toMs: Long = Long.MaxValue): DataFrame = {
    val multi = multiParams(ex, "match[]").filter(_.nonEmpty)
    val sels =
      if (multi.nonEmpty) multi else p.get("match[]").filter(_.nonEmpty).toSeq
    // snapshot the frame BEFORE consulting the index — the inverse order
    // would let a concurrent ingest land between the index union and the
    // snapshot and have its rows pruned by a stale candidate set
    // (registerIndexTriples runs before the buffer append for the same
    // reason)
    val frame = samples
    if (sels.isEmpty) frame
    else {
      val pred = sels.map(Api.selectorPredicate).reduce(_ || _)
      // nameless tag lookups on the metadata APIs (/series, /labels, …)
      // ride the same index narrowing as query_range. Repeated match[]
      // args union across selectors: when EVERY selector is boundable
      // (name-capped or index-resolved) the union of candidate sets is
      // pushable as one `name IN (...)` — any unboundable selector (or a
      // union over the cap) falls back to the plain scan.
      matchNarrowing(sels, fromMs, toMs) match {
        case Some(nameIn) => frame.filter(nameIn && pred)
        case None => frame.filter(pred)
      }
    }
  }

  /** the index narrowing for a match[] selector union — `private[api]` so
    * the spec can pin the all-boundable/any-unboundable contract
    */
  private[api] def matchNarrowing(sels: Seq[String],
      fromMs: Long = Long.MinValue,
      toMs: Long = Long.MaxValue): Option[org.apache.spark.sql.Column] =
    activeTagIndex.flatMap { idx =>
      val bounds = sels.map { s =>
        try graft.lang.Parser.parse(s) match {
          case m: graft.lang.MetricExpr =>
            graft.lang.Eval.indexCandidateNames(m, idx, fromMs, toMs)
          case _ => None
        } catch { case _: Exception => None }
      }
      if (bounds.exists(_.isEmpty)) None
      else {
        val anyResolved = bounds.flatten.exists(_._1)
        val union = bounds.flatten.flatMap(_._2).distinct
        // all-name-capped selectors skip (their own predicates prune)
        if (!anyResolved || union.size > graft.core.SampleStore.TagIndexMaxNames) None
        else Some(graft.core.SampleStore.namesPredicate(union))
      }
    }

  // ---- live tag index ---------------------------------------------------
  // The base index covers the BASE store only; rows this facade acked may
  // carry metric names the index has never seen, and pruning on a stale
  // candidate set would silently drop them. Rather than going dark under
  // writes (the r12 readOnlyTagIndex gate), the facade tracks the
  // (epoch-day, key, value, name) triples of every acked row — a
  // metadata-scale set (one entry per distinct series-tag per day, not
  // per sample) — and UNIONS them into the index frame the probes see.
  // Over-inclusion is safe by construction: candidates are a superset,
  // the scan predicate still decides row membership.

  private val sideTriples = mutable.LinkedHashSet.empty[(Long, String, String, String)]
  @volatile private var sideVersion = 0L
  private var sideFrameCache: (Long, Option[DataFrame]) = (-1L, None)

  private val sideIndexSchema = StructType(Seq(
    StructField("name", StringType),
    StructField("date", DateType),
    StructField("key", StringType),
    StructField("value", StringType)))

  /** record the index triples of rows about to be acked; persists (when a
    * spillDir holds the tombstones) BEFORE the ack, so a restart over the
    * same spillDir can never serve spilled rows the index side set does
    * not know. Called from [[ingest]] and the graphite tag-write routes.
    */
  private def registerIndexTriples(rows: Iterable[Row]): Unit = {
    val fresh = mutable.ArrayBuffer.empty[(Long, String, String, String)]
    sideTriples.synchronized {
      rows.foreach { r =>
        val name = r.getString(0)
        if (name != null) {
          val day = Math.floorDiv(r.getLong(2), 86400000L)
          val tags = Option(r.getMap[String, String](1)).map(_.toMap).getOrElse(Map.empty)
          tags.foreach { case (k, v) =>
            val t = (day, k, v, name)
            if (sideTriples.add(t)) fresh += t
          }
        }
      }
      if (fresh.nonEmpty) {
        pruneSideTriples() // piggybacked: only runs when the set changed
        sideVersion += 1
      }
    }
    if (fresh.nonEmpty) persistSideTriples()
  }

  /** Drop side triples older than the retention horizon (their rows are
    * filtered out of every read anyway) — with a retention period the set
    * stays bounded at retention-days × churn instead of growing for the
    * facade's lifetime. Without one there is nothing to bound it against:
    * the set grows one entry per distinct (day, series-tag) like the
    * reference's per-day index namespaces do before their retention drop.
    * Caller holds the sideTriples monitor.
    */
  private def pruneSideTriples(): Unit = {
    if (retentionPeriodMs <= 0) return
    val minDay = Math.floorDiv(retentionNowMs() - retentionPeriodMs, 86400000L)
    sideTriples.filterInPlace(_._1 >= minDay)
    ()
  }

  /** same crash contract as the delete tombstones (the set is
    * metadata-scale)
    */
  private lazy val sideTriplesFile: Option[DurableLines] =
    spillDir.map(d => new DurableLines(new org.apache.hadoop.fs.Path(d, "_tagnames/names.tsv")))

  private def persistSideTriples(): Unit = sideTriplesFile.foreach(_.write(
    sideTriples.synchronized(sideTriples.toList)
      .map { case (d, k, v, n) => s"$d\t${b64(k)}\t${b64(v)}\t${b64(n)}" }))

  private def loadSideTriples(): Unit = sideTriplesFile.foreach { f =>
    f.read() match {
      case Some(lines) =>
        sideTriples.synchronized {
          lines.foreach(_.split('\t') match {
            case Array(d, k, v, n) =>
              sideTriples.add((d.toLong, unb64(k), unb64(v), unb64(n))); ()
            case _ => ()
          })
          pruneSideTriples()
          if (lines.nonEmpty) sideVersion += 1
        }
      case None if spilled.nonEmpty && (tagIndex.nonEmpty || tagIndexPath.nonEmpty) =>
        // a pre-existing spill store with no triples file (first start
        // after an upgrade): rebuild the side set from the store — the
        // distinct triples are metadata-scale, paid once at startup
        spilled.foreach { sp =>
          val rows = graft.core.SampleStore.tagIndexRows(
            sp.select("name", "tags", "ts", "value")).collect()
          sideTriples.synchronized {
            rows.foreach { r =>
              sideTriples.add((r.getDate(1).toLocalDate.toEpochDay,
                r.getString(2), r.getString(3), r.getString(0)))
            }
            if (rows.nonEmpty) sideVersion += 1
          }
        }
        persistSideTriples()
      case None => ()
    }
  }

  // restore (or rebuild from the spill store) the live index side set —
  // field-order-sensitive: runs after the side-set buffers and the
  // spillDir-derived fields above
  loadSideTriples()

  /** the side set as an index-schema frame, rebuilt only when the set
    * grew — a stable frame identity keeps SampleStore's probe memo hot
    * between ingests that add no new series-tag triples
    */
  private def sideIndexFrame: Option[DataFrame] = sideTriples.synchronized {
    val v = sideVersion
    if (sideFrameCache._1 != v) {
      val rows: Seq[Row] = sideTriples.toSeq.map { case (day, k, vl, n) =>
        Row(n, java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(day)), k, vl)
      }
      sideFrameCache = (v,
        if (rows.isEmpty) None
        else Some(spark.createDataFrame(rows.asJava, sideIndexSchema)))
    }
    sideFrameCache._2
  }

  /** the base index frame — re-readable via [[refreshTagIndex]] */
  /** a path-configured index that does not exist YET (the first
    * maintenance round hasn't run) is "no index", not a construction
    * failure — probes fall back to the unpruned scan until a round (or a
    * manual refresh) makes it appear
    */
  private def readTagIndexIfPresent(p: String): Option[DataFrame] = {
    val hp = new org.apache.hadoop.fs.Path(p)
    val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    // an index root that exists but has NO date partitions left (every
    // store date aged out; only _SUCCESS remains) is also "no index" —
    // spark.read.parquet on it would throw unable-to-infer-schema
    val hasPartitions = fs.exists(hp) && fs.listStatus(hp)
      .exists(st => st.isDirectory && st.getPath.getName.startsWith("date="))
    if (hasPartitions) Some(graft.core.SampleStore.readTagIndex(spark, p)) else None
  }

  @volatile private var tagIndexFrame: Option[DataFrame] =
    tagIndex.orElse(tagIndexPath.flatMap(readTagIndexIfPresent))

  /** Re-read the tag index from [[tagIndexPath]] (no-op when the index was
    * handed in as a frame with no path): a parquet read pins its file
    * listing at creation, so after a bucketizeNewDates/indexNewDates run
    * rewrites index partitions the pinned frame serves the OLD listing
    * (and may reference deleted files). Also exposed as
    * POST /internal/refreshTagIndex.
    */
  def refreshTagIndex(): Unit = tagIndexPath.foreach { p =>
    tagIndexFrame = readTagIndexIfPresent(p)
  }

  // memoized (base frame identity, side version) → union frame: the probe
  // memo (SampleStore.probeMemo) keys on FRAME IDENTITY, so a fresh union
  // per request would re-run the ~0.2 s resolution job every time — the
  // union must be as stable as its inputs
  private var unionIndexCache: (AnyRef, Long, DataFrame) = null

  /** the index every probe consults: base ∪ the live side set.
    * `private[api]` so specs can pin that it stays active under writes.
    */
  private[api] def activeTagIndex: Option[DataFrame] =
    tagIndexFrame.map { idx =>
      sideTriples.synchronized {
        val v = sideVersion
        if (unionIndexCache == null || !(unionIndexCache._1 eq idx) ||
          unionIndexCache._2 != v) {
          val u = sideIndexFrame.fold(idx)(s =>
            idx.unionByName(s, allowMissingColumns = true))
          unionIndexCache = (idx, v, u)
        }
        unionIndexCache._3
      }
    }

  // snapshot storage for the facade: each create writes the full current
  // state as one immutable parquet dir under the configured staging base
  // (snapshotStagingDir — any Hadoop FileSystem URI). When unset, a
  // configured spillDir hosts them at `<spillDir>_snapshots` — already
  // durable (possibly shared) storage, the reference's
  // <storageDataPath>/snapshots layout as a SIBLING so the spill store's
  // partition discovery never sees it; only a spill-less facade falls
  // back to a per-instance driver-local temp dir. DEPLOYMENT NOTE: in any
  // multi-node deployment point snapshotStagingDir (or spillDir) at
  // shared storage — a driver-local default is invisible to other nodes.
  // All access runs through the FileSystem API like the rest of the
  // store maintenance, so an s3a://... staging location needs no code
  // change.
  private lazy val snapshotBase: org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(snapshotStagingDir
      .orElse(spillDir.map(_ + "_snapshots"))
      .getOrElse(java.nio.file.Files.createTempDirectory("graft-snapshots").toString))

  private def snapshotFs: org.apache.hadoop.fs.FileSystem =
    snapshotBase.getFileSystem(spark.sessionState.newHadoopConf())

  private def writeSnapshot(): String = {
    val name = graft.core.SampleStore.snapshotName()
    graft.core.SampleStore.write(samples,
      new org.apache.hadoop.fs.Path(snapshotBase, name).toString,
      org.apache.spark.sql.SaveMode.Overwrite)
    name
  }

  private def listSnapshots(): Seq[String] = {
    val fs = snapshotFs
    if (!fs.exists(snapshotBase) || !fs.getFileStatus(snapshotBase).isDirectory) Nil
    else fs.listStatus(snapshotBase).filter(_.isDirectory)
      .map(_.getPath.getName).toSeq.sorted
  }

  private def deleteSnapshot(name: String): Boolean = {
    if (name.isEmpty || name.contains('/') || name.contains("..")) return false
    val dir = new org.apache.hadoop.fs.Path(snapshotBase, name)
    val fs = snapshotFs
    if (!fs.exists(dir) || !fs.getFileStatus(dir).isDirectory) return false
    fs.delete(dir, true)
  }

  /** `timeout` arg → clamped per-request deadline (searchutil.go) */
  private def deadlineMs(p: Map[String, String]): Long =
    QueryDeadline.clamp(
      p.get("timeout").map(graft.lang.Lexer.durationMs(_, QueryDeadline.MaxQueryDurationMs)))

  /** httputil.GetBool semantics: absent/0/false/no → false */
  private def boolParam(p: Map[String, String], key: String): Boolean =
    p.get(key).exists(v => v == "1" || v.equalsIgnoreCase("true") ||
      v.equalsIgnoreCase("yes"))

  /** the `stats` block every query response carries
    * (query_response.qtpl:42-44; seriesFetched is a string "because of
    * historical reasons... vmalert") plus the `trace` node when enabled
    */
  private def writeStatsAndTrace(w: java.io.Writer, seriesCount: Int,
      t0: Long, root: Option[graft.lang.Trace.Span]): Unit = {
    w.write(s""","stats":{"seriesFetched":"$seriesCount",""" +
      s""""executionTimeMsec":${(System.nanoTime() - t0) / 1000000}}""")
    root.foreach { r =>
      graft.lang.Trace.end(r)
      w.write(s""","trace":${r.json}""")
    }
  }

  private def reply(ex: HttpExchange, code: Int, body: String,
      contentType: String = "application/json"): Unit =
    replyBytes(ex, code, body.getBytes(StandardCharsets.UTF_8), contentType)

  /** an empty body is announced as -1 (no body), which a 204 requires */
  private def replyBytes(ex: HttpExchange, code: Int, body: Array[Byte],
      contentType: String): Unit = {
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, if (body.length == 0) -1 else body.length)
    if (body.length > 0) ex.getResponseBody.write(body)
    ex.close()
  }

  /** chunked response streamed through `write`; the caller must run any
    * query (analysis and execution) BEFORE this point so its errors still
    * produce a clean 422 envelope (headers can't change once streaming
    * starts)
    */
  private def replyStream(ex: HttpExchange, contentType: String = "application/json")(
      write: java.io.Writer => Unit): Unit = {
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(200, 0) // 0 = chunked transfer encoding
    val w = new java.io.BufferedWriter(
      new java.io.OutputStreamWriter(ex.getResponseBody, StandardCharsets.UTF_8), 1 << 16)
    try { write(w); w.flush() } finally ex.close()
  }

  private def handler(f: HttpExchange => Unit): com.sun.net.httpserver.HttpHandler =
    (ex: HttpExchange) => {
      // count by route (context path), falling back to the concrete path
      // for root-dispatched requests — vm_http_requests_total{path=...}
      val route = ex.getHttpContext.getPath match {
        case "/" => ex.getRequestURI.getPath
        case p => p
      }
      requestCounts.synchronized {
        requestCounts(route) = requestCounts.getOrElse(route, 0L) + 1L
      }
      // hold the store-swap read lock for the whole exchange: the spill
      // compactor's file swap (write side) never replaces parquet files a
      // request is mid-way through reading
      val rl = storeSwapLock.readLock()
      rl.lock()
      try f(ex)
      catch {
        case e: Exception =>
          reply(ex, 422,
            s"""{"status":"error","errorType":"execution","error":"${esc(String.valueOf(e.getMessage))}"}""")
      }
      // release finished queries' eager-localCheckpoint blocks between
      // Spark's 30-min periodic GCs (ContextCleaner reaps on weak refs) —
      // at most one GC per CheckpointGc threshold, so checkpoint-free
      // request streams never pay one
      finally { rl.unlock(); graft.core.CheckpointGc.maybeGc() }
    }

  /** request body, transparently inflating gzip/deflate Content-Encoding
    * (the datadog/otlp agents compress by default; the reference routes
    * all bodies through protoparserutil.ReadUncompressedData)
    */
  private def requestBody(ex: HttpExchange): Array[Byte] = {
    val raw = ex.getRequestBody
    val enc = Option(ex.getRequestHeaders.getFirst("Content-Encoding"))
      .getOrElse("").toLowerCase
    val in = enc match {
      case "gzip" => new java.util.zip.GZIPInputStream(raw)
      case "deflate" => new java.util.zip.InflaterInputStream(raw)
      case _ => raw
    }
    try in.readAllBytes() finally in.close()
  }

  /** influx line-protocol write (main.go:210): ns-precision timestamps by
    * default, overridable with `precision`; X-Influxdb-Version header for
    * client compatibility
    */
  private def influxWriteHandler: com.sun.net.httpserver.HttpHandler = handler { ex =>
    import spark.implicits._
    ex.getResponseHeaders.set("X-Influxdb-Version", "1.8.0")
    val body = new String(requestBody(ex), StandardCharsets.UTF_8)
    ingest(graft.sources.LineFormats.influxLine(
      body.linesIterator.filter(l => l.nonEmpty && !l.startsWith("#")).toSeq.toDF("line"),
      System.currentTimeMillis()))
    reply(ex, 204, "", "text/plain")
  }

  /** OTLP metrics over HTTP (main.go:229): raw protobuf bodies, or the
    * AWS Firehose JSON envelope when X-Amz-Firehose-Protocol-Version is
    * set (firehose/parser.go:26 — varint-framed records, concatenated;
    * protobuf concatenation merges into one request). JSON without the
    * firehose header is rejected like opentelemetry/request_handler.go:40.
    */
  private def otlpHandler: com.sun.net.httpserver.HttpHandler = handler { ex =>
    import spark.implicits._
    val firehoseId = Option(ex.getRequestHeaders.getFirst("X-Amz-Firehose-Request-Id"))
    val isFirehose =
      ex.getRequestHeaders.getFirst("X-Amz-Firehose-Protocol-Version") != null
    val isJson = Option(ex.getRequestHeaders.getFirst("Content-Type"))
      .exists(_.startsWith("application/json"))
    val raw = requestBody(ex)
    val payload =
      if (isFirehose && isJson) unwrapFirehose(raw)
      else if (isJson)
        throw new IllegalArgumentException(
          "json encoding isn't supported for opentelemetry format. Use protobuf encoding")
      else raw
    ingest(graft.sources.ProtoFormats.otlp(Seq(Tuple1(payload)).toDF("payload")))
    firehoseId match {
      case Some(id) => reply(ex, 200,
        s"""{"requestId":"${esc(id)}","timestamp":${System.currentTimeMillis()}}""")
      case None => reply(ex, 200, "", "text/plain")
    }
  }

  /** Firehose envelope → concatenated protobuf: {"records":[{"data":b64}]}
    * where each record holds varint-length-framed messages
    */
  private def unwrapFirehose(body: Array[Byte]): Array[Byte] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(body)
    val out = new java.io.ByteArrayOutputStream()
    val recs = root.path("records")
    (0 until recs.size()).foreach { i =>
      val data = java.util.Base64.getDecoder.decode(recs.get(i).path("data").asText(""))
      var off = 0
      while (off < data.length) {
        // uvarint
        var len = 0L; var shift = 0; var n = 0
        var cont = true
        while (cont) {
          if (off + n >= data.length || n > 9)
            throw new IllegalArgumentException("failed to parse OpenTelemetry message: invalid variant")
          val b = data(off + n) & 0xff
          len |= (b & 0x7fL) << shift; shift += 7; n += 1
          cont = (b & 0x80) != 0
        }
        val total = n + len.toInt
        if (total > data.length - off)
          throw new IllegalArgumentException("failed to parse OpenTelemetry message: insufficient length of buffer")
        out.write(data, off + n, len.toInt)
        off += total
      }
    }
    out.toByteArray
  }

  /** /metric-relabel-debug + /target-relabel-debug (main.go:316,320,
    * lib/promrelabel/debug.go): json format mirrors the reference's
    * response; anything else gets the HTML table
    */
  private def relabelDebugReply(ex: HttpExchange, isTarget: Boolean,
      p: Map[String, String]): Unit = {
    val metric = p.getOrElse("metric", "{}")
    val configs = p.getOrElse("relabel_configs", "")
    if (p.getOrElse("format", "") == "json")
      reply(ex, 200, RelabelDebug.json(isTarget, metric, configs))
    else
      reply(ex, 200, RelabelDebug.html(isTarget, metric, configs),
        "text/html; charset=utf-8")
  }

  private def ingest(rows: DataFrame): Int = {
    val collected = rows.select("name", "tags", "ts", "value").collect()
    // index side set BEFORE the buffer append/ack: a crash after the ack
    // must never leave acked (spillable) rows the index does not know
    registerIndexTriples(collected)
    ingested.synchronized {
      ingested ++= collected
      rowsInserted += collected.length
      storeVersion.incrementAndGet()
    }
    collected.iterator.map(_.getString(0)).distinct
      .foreach(MetricNamesStats.registerIngest)
    // size-triggered; bounds driver memory when spillDir is set — queued
    // to the background thread so THIS request isn't charged the write
    scheduleSpill()
    collected.length
  }

  private def ok(dataJson: String): String =
    s"""{"status":"success","data":$dataJson}"""

  /** -search.maxResponseSeries (exec.go:80): cap the series count a
    * query response may carry, counted like the reference over the
    * materialized result — the rows already collected for the response,
    * before its header is sent, so the error arrives as a clean 422.
    */
  private def enforceMaxResponseSeries(rows: Array[(String, Row)],
      dropNaN: Boolean = true): Unit = {
    val limit = SearchFlags.maxResponseSeries
    if (limit <= 0) return
    // count SERIES on every path: a row count overcounts matrix-valued
    // instant results (`m[5m]` via /api/v1/query) and NaN rows — a
    // response actually under the cap must not draw a spurious 422. The
    // raw-export branch keeps staleness-marker NaNs in its output, so it
    // counts them too (dropNaN = false). Rows are sorted by key, so
    // distinct keys are key changes.
    var n = 0L
    var prev: String = null
    for ((k, r) <- rows if !(dropNaN && r.getDouble(3).isNaN) && k != prev) {
      n += 1
      prev = k
    }
    if (n > limit)
      throw new IllegalArgumentException(
        s"the response contains more than -search.maxResponseSeries=$limit time series: " +
          s"$n series; either increase -search.maxResponseSeries or narrow down the query")
  }

  // ---- routes (app/vmselect/main.go:201-431; vminsert import paths) ---

  private def routes: Seq[(String, com.sun.net.httpserver.HttpHandler)] = Seq(
    "/api/v1/query" -> handler { ex =>
      val p = params(ex)
      val at = timeMs(p, "time", System.currentTimeMillis())
      val step = stepMs(p)
      val t0 = System.nanoTime()
      // trace=1 (lib/querytracer; dumpQueryTrace in query_response.qtpl):
      // the span tree covers plan construction (the Eval recursion) and
      // one execution span around the streamed Spark job
      val root =
        if (boolParam(p, "trace"))
          Some(graft.lang.Trace.begin(s"/api/v1/query: query=${p("query")}, time=$at, step=$step"))
        else None
      try QueryDeadline.run(spark, deadlineMs(p)) {
        // a bare `selector[window]` instant query exports the RAW samples
        // in (time-window, time] as a matrix — including staleness
        // markers — instead of evaluating a rollup
        // (prometheus.go:801-832 IsMetricSelectorWithRollup → export)
        val rawSel = graft.lang.Parser.parse(p("query")) match {
          case graft.lang.RollupExpr(m: graft.lang.MetricExpr, Some(win), None, off, None, _, _)
              if m.filterss.nonEmpty =>
            Some((m, win.ms(step), off.map(_.ms(step)).getOrElse(0L)))
          case _ => None
        }
        rawSel match {
          case Some((m, winMs, offMs)) =>
            val end = at - offMs
            val start = math.min(end - winMs + 1, end)
            val df = samples
              .filter(Api.selectorPredicate(graft.lang.Render.render(m)))
              .filter(col("ts") >= start && col("ts") <= end)
              .select(col("name"), col("tags"), col("ts").as("t"), col("value"))
            QueryStats.track(p("query"), at, at, step,
              String.valueOf(ex.getRemoteAddress)) {
              val rows = responseRows(Left(df))
              enforceMaxResponseSeries(rows, dropNaN = false)
              replyStream(ex) { w =>
                w.write("""{"status":"success","data":{"resultType":"matrix","result":""")
                val n = writeResult(rows, instant = false, w)
                w.write("}")
                writeStatsAndTrace(w, n, t0, root)
                w.write("}")
              }
            }
          case None =>
            val (frame, version) = versioned(samples)
            val res = graft.lang.Trace.child("build query plan")(
              // parse/analyze errors throw here → 422; the store version
              // rides the O7 cache key so an ingest between two identical
              // instant queries invalidates the delta/exact hit (the
              // buffer's rebuilt LocalRelation canonicalizes identically
              // whatever its rows)
              Api.queryServed(frame, p("query"), at, step,
                cacheTag = s"httpStore:$version",
                tagIndex = activeTagIndex))
            MetricNamesStats.registerQuery(graft.lang.Parser.parse(p("query")), at)
            QueryStats.track(p("query"), at, at, step,
              String.valueOf(ex.getRemoteAddress)) {
              val rows = graft.lang.Trace.child("execute plan and stream response")(
                responseRows(res))
              enforceMaxResponseSeries(rows)
              replyStream(ex) { w =>
                w.write("""{"status":"success","data":{"resultType":"vector","result":""")
                val n = writeResult(rows, instant = true, w)
                graft.lang.Trace.printf(s"generate /api/v1/query response for series=$n")
                w.write("}")
                writeStatsAndTrace(w, n, t0, root)
                w.write("}")
              }
            }
        }
      } finally root.foreach(graft.lang.Trace.end)
    },
    "/api/v1/query_range" -> handler { ex =>
      val p = params(ex)
      val step = stepMs(p)
      val rawStart = timeMs(p, "start", 0L)
      val rawEnd = timeMs(p, "end", 0L)
      // AdjustStartEnd (eval.go:77, skipped under nocache like the
      // reference): step-aligns the grid so repeated now-relative
      // refreshes hit the O6 cache AND satisfy the tier-routing
      // alignment precondition (startMs % interval == 0 holds for any
      // interval dividing the step once start is step-aligned)
      val nocache = boolParam(p, "nocache")
      // step<=0 passes through so validateMaxPoints raises ITS error
      val (start, end) =
        if (nocache || step <= 0) (rawStart, rawEnd)
        else graft.Engine.adjustStartEnd(rawStart, rawEnd, step)
      // downsampling-aware routing: a coarse-step query whose step nests
      // a configured tier's interval reads the (decorated) tier frame —
      // the reference's transparent -downsampling.period resolution
      // pick. Pick by interval FIRST, decorate only the chosen frame.
      // O6-cache contract: PATH-configured tiers auto-refresh (tierFrame
      // watches the maintenance manifest and bumps storeVersion on
      // change); FRAME-configured tiers' external rewrites change neither
      // the plan text nor storeVersion — those maintainers must hit
      // /internal/resetRollupResultCache (or hand the facade fresh
      // frames) after a rebuild, exactly like the reference drops its
      // rollup cache on -downsampling.period changes.
      val routedIv =
        if (downsampleTiers.isEmpty && downsampleTierPaths.isEmpty) None
        else graft.Engine.routeInterval(
          downsampleTiers.keys ++ downsampleTierPaths.keys,
          graft.core.GridSpec(start, end, step))
      // a routed query reads tier ∪ buffer ∪ spilled (samplesOver): the
      // tier lags ingestion like the reference's background merges, so
      // acked rows the maintenance job hasn't downsampled yet must still
      // serve — raw recent samples beside downsampled old ones, exactly
      // the reference's part mix. The frames are disjoint by construction
      // (tiers derive from the BASE store; buffer/spill hold only
      // facade-ingested rows), so the union introduces no duplicates.
      // a path-configured tier that doesn't exist yet (maintenance job
      // never ran) falls back to full resolution rather than erroring
      val ((routedFrame, frame), version) = versioned {
        val routed = routedIv.flatMap(tierFrame)
        (routed, routed.map(f => samplesOver(Some(f))).getOrElse(samples))
      }
      val t0 = System.nanoTime()
      val root =
        if (boolParam(p, "trace"))
          Some(graft.lang.Trace.begin(
            s"/api/v1/query_range: query=${p("query")}, start=$start, end=$end, step=$step"))
        else None
      // the index covers the BASE store only — a tier can retain dates
      // (and metric names) the base's retention already dropped from the
      // index, so tier-routed queries never consult it (a missing-tier
      // fallback serves the base and keeps it)
      val idx = if (routedFrame.isDefined) None else activeTagIndex
      try QueryDeadline.run(spark, deadlineMs(p)) {
        val res = graft.lang.Trace.child("build query plan")(
          Api.queryRange(frame, p("query"), start, end, step,
            mayCache = !nocache,
            cacheTag = s"httpStore:$version",
            tagIndex = idx))
        MetricNamesStats.registerQuery(graft.lang.Parser.parse(p("query")), end)
        QueryStats.track(p("query"), start, end, step,
          String.valueOf(ex.getRemoteAddress)) {
          val rows = graft.lang.Trace.child("execute plan and stream response")(
            responseRows(res))
          enforceMaxResponseSeries(rows)
          replyStream(ex) { w =>
            w.write("""{"status":"success","data":{"resultType":"matrix","result":""")
            val n = writeResult(rows, instant = false, w)
            graft.lang.Trace.printf(s"generate /api/v1/query_range response for series=$n")
            w.write("}")
            writeStatsAndTrace(w, n, t0, root)
            w.write("}")
          }
        }
      } finally root.foreach(graft.lang.Trace.end)
    },
    "/api/v1/series" -> handler { ex =>
      val p = params(ex)
      val from = timeMs(p, "start", 0L)
      val to = timeMs(p, "end", Long.MaxValue / 2)
      val df = Api.series(matchFiltered(ex, p, from, to), "", from, to)
      // `limit` truncates AFTER the sort (prometheus.go:650-677), so the
      // kept prefix is deterministic
      val sorted = df.orderBy(HttpApi.seriesKey(col("name"), col("tags")))
      val it = p.get("limit").map(_.toInt).filter(_ > 0)
        .fold(sorted)(sorted.limit).toLocalIterator()
      replyStream(ex) { w =>
        w.write("""{"status":"success","data":[""")
        var first = true
        while (it.hasNext) {
          val r = it.next()
          if (!first) w.write(",")
          first = false
          w.write(metricJson(Option(r.getString(0)).getOrElse(""),
            Option(r.getMap[String, String](1)).map(_.toMap).getOrElse(Map.empty)))
        }
        w.write("]}")
      }
    },
    "/api/v1/labels" -> handler { ex =>
      val p = params(ex)
      val from = timeMs(p, "start", 0L)
      val to = timeMs(p, "end", Long.MaxValue / 2)
      val items = Api.labels(matchFiltered(ex, p, from, to), "", from, to,
        p.get("limit").map(_.toInt).getOrElse(0))
        .collect().map(r => s""""${esc(r.getString(0))}"""")
      reply(ex, 200, ok(items.mkString("[", ",", "]"))) // label KEYS — metadata-scale, collect is fine
    },
    "/api/v1/label/" -> handler { ex => // /api/v1/label/<name>/values
      val p = params(ex)
      val path = ex.getRequestURI.getPath
      val label = HttpApi.unescapeLabelName(
        path.stripPrefix("/api/v1/label/").stripSuffix("/values"))
      val from = timeMs(p, "start", 0L)
      val to = timeMs(p, "end", Long.MaxValue / 2)
      val it = Api.labelValues(matchFiltered(ex, p, from, to), label, "",
        from, to, p.get("limit").map(_.toInt).getOrElse(0)).toLocalIterator()
      replyStream(ex) { w =>
        w.write("""{"status":"success","data":[""")
        var first = true
        while (it.hasNext) {
          if (!first) w.write(",")
          first = false
          w.write(s""""${esc(it.next().getString(0))}"""")
        }
        w.write("]}")
      }
    },
    "/api/v1/export" -> handler { ex =>
      val p = params(ex)
      val from = timeMs(p, "start", 0L)
      val to = timeMs(p, "end", Long.MaxValue / 2)
      val matched = matchFiltered(ex, p, from, to)
      val sel = ""
      // format/max_rows_per_line per exportHandler (prometheus.go:323):
      // default JSON-lines, `prometheus` text exposition, `promapi` the
      // query-API matrix envelope
      p.getOrElse("format", "") match {
        case "prometheus" =>
          val it = graft.sources.LineFormats.exportPromText(
            Api.exportRaw(matched, sel, from, to)).toLocalIterator()
          replyStream(ex, "text/plain; charset=utf-8") { w =>
            while (it.hasNext) { w.write(it.next().getString(0)); w.write("\n") }
          }
        case "promapi" =>
          val it = graft.sources.LineFormats.exportSeriesFrames(
            Api.exportRaw(matched, sel, from, to)).toLocalIterator()
          replyStream(ex) { w =>
            w.write("""{"status":"success","data":{"resultType":"matrix","result":[""")
            var first = true
            while (it.hasNext) {
              val r = it.next()
              if (!first) w.write(",")
              first = false
              w.write(s"""{"metric":${metricJson("",
                Option(r.getMap[String, String](0)).map(_.toMap).getOrElse(Map.empty))},"values":[""")
              val pts = r.getSeq[Row](1)
              var i = 0
              while (i < pts.length) {
                if (i > 0) w.write(",")
                w.write("[" + pts(i).getLong(0) / 1000.0 + ",\"" +
                  fmt(pts(i).getDouble(1)) + "\"]")
                i += 1
              }
              w.write("]}")
            }
            w.write("]}}")
          }
        case _ =>
          val maxRows = p.get("max_rows_per_line").map(_.toInt).getOrElse(0)
          val it = Api.export(matched, sel, from, to, maxRows).toLocalIterator()
          replyStream(ex, "application/stream+json") { w =>
            while (it.hasNext) { w.write(it.next().getString(0)); w.write("\n") }
          }
      }
    },
    "/api/v1/import" -> handler { ex => // VM JSON-lines
      import spark.implicits._
      val body = new String(requestBody(ex), StandardCharsets.UTF_8)
      val n = ingest(graft.sources.LineFormats.jsonImport(
        body.linesIterator.filter(_.nonEmpty).toSeq.toDF("line")))
      reply(ex, 204, "", "text/plain"); val _ = n
    },
    "/api/v1/import/prometheus" -> handler { ex =>
      import spark.implicits._
      val body = new String(requestBody(ex), StandardCharsets.UTF_8)
      ingest(graft.sources.LineFormats.prometheusText(
        body.linesIterator.filter(_.nonEmpty).toSeq.toDF("line"),
        System.currentTimeMillis()))
      reply(ex, 204, "", "text/plain")
    },
    "/api/v1/write" -> handler { ex => // Prometheus remote write
      import spark.implicits._
      val body = requestBody(ex)
      ingest(graft.sources.ProtoFormats.remoteWrite(Seq(Tuple1(body)).toDF("payload")))
      reply(ex, 204, "", "text/plain")
    },
    // ---- remaining vminsert ingestion protocols (main.go:192-326) ----
    "/api/v1/import/csv" -> handler { ex =>
      val fmt = params(ex).getOrElse("format",
        throw new IllegalArgumentException("missing `format` arg"))
      val body = new String(requestBody(ex), StandardCharsets.UTF_8)
      // first-line header detection (csvimport streamparser.go:176-179)
      ingest(graft.sources.LineFormats.csvImportBody(
        spark, body, fmt, System.currentTimeMillis()))
      reply(ex, 204, "", "text/plain")
    },
    "/api/v1/export/native" -> handler { ex =>
      val p = params(ex)
      val from = timeMs(p, "start", 0L)
      val to = timeMs(p, "end", Long.MaxValue / 2)
      val frame = Api.exportRaw(matchFiltered(ex, p, from, to), "", from, to)
      replyBytes(ex, 200, graft.sources.NativeFormat.exportNative(frame),
        "application/octet-stream")
    },
    "/api/v1/import/native" -> handler { ex =>
      ingest(graft.sources.NativeFormat.importNative(spark, requestBody(ex)))
      reply(ex, 204, "", "text/plain")
    },
    "/api/put" -> handler { ex => // OpenTSDB HTTP (opentsdbhttp)
      import spark.implicits._
      val body = new String(requestBody(ex), StandardCharsets.UTF_8)
      ingest(graft.sources.LineFormats.openTsdbHttp(
        Seq(body).toDF("body"), System.currentTimeMillis()))
      reply(ex, 204, "", "text/plain")
    },
    "/influx/write" -> influxWriteHandler,
    "/influx/api/v2/write" -> influxWriteHandler,
    "/write" -> influxWriteHandler,
    "/api/v2/write" -> influxWriteHandler,
    "/influx/query" -> handler { ex =>
      // influxutil.WriteDatabaseNames: fake DB listing for TSBS/Telegraf
      ex.getResponseHeaders.set("X-Influxdb-Version", "1.8.0")
      reply(ex, 200,
        """{"results":[{"statement_id":0,"series":[{"name":"databases","columns":["name"],"values":[["_internal"]]}]}]}""")
    },
    "/query" -> handler { ex =>
      ex.getResponseHeaders.set("X-Influxdb-Version", "1.8.0")
      reply(ex, 200,
        """{"results":[{"statement_id":0,"series":[{"name":"databases","columns":["name"],"values":[["_internal"]]}]}]}""")
    },
    "/influx/health" -> handler(reply(_, 200,
      """{"name":"influxdb", "message":"ready for queries and writes", "status":"pass", "checks":[]}""")),
    "/datadog/api/v1/series" -> handler { ex =>
      import spark.implicits._
      val body = new String(requestBody(ex), StandardCharsets.UTF_8)
      ingest(graft.sources.LineFormats.datadogV1(Seq(body).toDF("body")))
      reply(ex, 202, """{"status":"ok"}""")
    },
    "/datadog/api/v2/series" -> handler { ex =>
      import spark.implicits._
      val body = new String(requestBody(ex), StandardCharsets.UTF_8)
      ingest(graft.sources.LineFormats.datadogV2(Seq(body).toDF("body")))
      reply(ex, 202, """{"status":"ok"}""")
    },
    "/datadog/api/beta/sketches" -> handler { ex =>
      import spark.implicits._
      ingest(graft.sources.ProtoFormats.datadogSketches(
        Seq(Tuple1(requestBody(ex))).toDF("payload")))
      reply(ex, 202, "", "text/plain")
    },
    "/datadog/api/v1/validate" -> handler(reply(_, 200, """{"valid":true}""")),
    "/datadog/api/v1/check_run" -> handler(reply(_, 202, """{"status":"ok"}""")),
    "/datadog/intake" -> handler(reply(_, 200, "{}")),
    "/datadog/api/v1/metadata" -> handler(reply(_, 200, "{}")),
    "/newrelic" -> handler(reply(_, 202, """{"status":"ok"}""")),
    "/newrelic/infra/v2/metrics/events/bulk" -> handler { ex =>
      import spark.implicits._
      val body = new String(requestBody(ex), StandardCharsets.UTF_8)
      ingest(graft.sources.LineFormats.newRelic(Seq(body).toDF("body")))
      reply(ex, 202, """{"status":"ok"}""")
    },
    "/newrelic/inventory/deltas" -> handler(reply(_, 202,
      """{"payload":{"version": 1, "state": {}, "reset": "false"}}""")),
    "/opentelemetry/v1/metrics" -> otlpHandler,
    "/opentelemetry/api/v1/push" -> otlpHandler,
    "/zabbixconnector/api/v1/history" -> handler { ex =>
      import spark.implicits._
      val body = new String(requestBody(ex), StandardCharsets.UTF_8)
      try {
        ingest(graft.sources.LineFormats.zabbix(
          body.linesIterator.filter(_.nonEmpty).toSeq.toDF("line")))
        reply(ex, 200, "", "text/plain")
      } catch { // main.go:243: zabbix errors are 400 {"error":…}, not 422
        case e: Exception =>
          reply(ex, 400, s"""{"error":"${esc(String.valueOf(e.getMessage))}"}""")
      }
    },
    "/ready" -> handler(reply(_, 200, "OK", "text/plain; charset=utf-8")),
    "/-/reload" -> handler(reply(_, 200, "OK", "text/plain; charset=utf-8")),
    "/metric-relabel-debug" -> handler { ex =>
      val p = params(ex)
      relabelDebugReply(ex, isTarget = false, p)
    },
    "/target-relabel-debug" -> handler { ex =>
      val p = params(ex)
      relabelDebugReply(ex, isTarget = true, p)
    },
    "/api/v1/status/metric_names_stats" -> handler { ex =>
      val p = params(ex)
      reply(ex, 200, MetricNamesStats.statsJson(
        p.get("limit").map(_.toInt).filter(_ > 0).getOrElse(1000),
        p.get("le").map(_.toInt).getOrElse(-1),
        p.getOrElse("match_pattern", "")))
    },
    "/api/v1/admin/status/metric_names_stats/reset" -> handler { ex =>
      MetricNamesStats.reset()
      reply(ex, 204, "", "text/plain")
    },
    "/api/v1/query_exemplars" -> handler(reply(_, 200, Api.queryExemplars())),
    "/api/v1/metadata" -> handler(reply(_, 200, Api.metadata())),
    "/api/v1/notifiers" -> handler(reply(_, 200, Api.notifiers(scheduler))),
    "/api/v1/rules" -> handler(reply(_, 200, Api.rules(ruleGroups, scheduler))),
    "/api/v1/alerts" -> handler(reply(_, 200,
      scheduler.map(Api.alerts).getOrElse(Api.alerts()))),
    "/api/v1/status/buildinfo" -> handler(reply(_, 200, Api.buildInfo())),
    // short vmalert-UI aliases (main.go:608 "/api/v1/rules", "/rules" etc.)
    "/rules" -> handler(reply(_, 200, Api.rules(ruleGroups, scheduler))),
    // single-object lookups by the stable string ids embedded in the
    // list responses (web.go:180,194,212)
    "/api/v1/rule" -> handler { ex =>
      val p = params(ex)
      Api.ruleApi(ruleGroups, scheduler,
        p.getOrElse("group_id", ""), p.getOrElse("rule_id", "")) match {
        case Some(j) => reply(ex, 200, j)
        case None => reply(ex, 404, """{"status":"error","error":"rule not found"}""")
      }
    },
    "/api/v1/group" -> handler { ex =>
      Api.groupApi(ruleGroups, scheduler,
        params(ex).getOrElse("group_id", "")) match {
        case Some(j) => reply(ex, 200, j)
        case None => reply(ex, 404, """{"status":"error","error":"group not found"}""")
      }
    },
    "/api/v1/alert" -> handler { ex =>
      val p = params(ex)
      Api.alertApi(ruleGroups, scheduler,
        p.getOrElse("group_id", ""), p.getOrElse("alert_id", "")) match {
        case Some(j) => reply(ex, 200, j)
        case None => reply(ex, 404, """{"status":"error","error":"alert not found"}""")
      }
    },
    "/alerts" -> handler(reply(_, 200,
      scheduler.map(Api.alerts).getOrElse(Api.alerts()))),
    "/notifiers" -> handler(reply(_, 200, Api.notifiers(scheduler))),
    // main.go:168: drops every cached rollup window (O6 suffix cache +
    // O7 instant cache) so the next evaluation re-reads the store
    "/internal/resetRollupResultCache" -> handler { ex =>
      graft.Engine.clearCache()
      reply(ex, 200, "", "text/plain")
    },
    // re-read the tag index after a bucketizeNewDates run rewrote its
    // partitions (the pinned frame serves the old listing until then);
    // see [[refreshTagIndex]]
    "/internal/refreshTagIndex" -> handler { ex =>
      refreshTagIndex()
      reply(ex, 200, "", "text/plain")
    },
    // force a re-list of the path-configured base store (object stores
    // whose dir mtimes miss file-level writes); see [[refreshBaseStore]]
    "/internal/refreshBaseStore" -> handler { ex =>
      refreshBaseStore()
      reply(ex, 200, "", "text/plain")
    },
    // last background-maintenance round (null before the first): dropped
    // retention dates, re-downsampled dates per tier, job failures
    "/internal/maintenance" -> handler { ex =>
      val body = maintenance.flatMap(_.lastReport) match {
        case None => """{"status":"success","data":null}"""
        case Some(r) =>
          val ds = r.downsampled.toSeq.sortBy(_._1).map { case (iv, dates) =>
            s""""$iv":[${dates.map(Json.str).mkString(",")}]"""
          }.mkString(",")
          val errs = r.errors.map { case (job, m) =>
            s"""{"job":${Json.str(job)},"error":${Json.str(m)}}"""
          }.mkString(",")
          s"""{"status":"success","data":{"atMs":${r.atMs},""" +
            s""""droppedDates":[${r.droppedDates.map(Json.str).mkString(",")}],""" +
            s""""indexed":[${r.indexed.map(Json.str).mkString(",")}],""" +
            s""""bucketized":[${r.bucketized.map(Json.str).mkString(",")}],""" +
            s""""downsampled":{$ds},"errors":[$errs]}}"""
      }
      reply(ex, 200, body)
    },
    // snapshots (app/vmstorage/main.go:295-380 + the Prometheus-compat
    // alias): the facade's buffer+base state is dumped as one
    // date-partitioned parquet snapshot per create — the engine-scale
    // path is SampleStore.createSnapshot's hard-link of an on-disk store
    "/snapshot/create" -> handler { ex =>
      reply(ex, 200, s"""{"status":"ok","snapshot":${Json.str(writeSnapshot())}}""")
    },
    "/api/v1/admin/tsdb/snapshot" -> handler { ex =>
      reply(ex, 200,
        s"""{"status":"success","data":{"name":${Json.str(writeSnapshot())}}}""")
    },
    "/snapshot/list" -> handler { ex =>
      val names = listSnapshots().map(Json.str)
      reply(ex, 200, s"""{"status":"ok","snapshots":[${names.mkString(",")}]}""")
    },
    "/snapshot/delete" -> handler { ex =>
      val name = params(ex).getOrElse("snapshot", "")
      if (deleteSnapshot(name)) reply(ex, 200, """{"status":"ok"}""")
      else reply(ex, 500,
        s"""{"status":"error","msg":${Json.str(s"cannot find snapshot $name")}}""")
    },
    "/snapshot/delete_all" -> handler { ex =>
      listSnapshots().foreach(deleteSnapshot)
      reply(ex, 200, """{"status":"ok"}""")
    },
    // self-telemetry in Prometheus text exposition
    // (lib/httpserver/httpserver.go:436; metric names follow the
    // reference's vm_* vocabulary where the concept maps)
    "/metrics" -> handler { ex =>
      val (fullHits, partialHits, misses) = graft.Engine.cacheStats
      val reqs = requestCounts.synchronized { requestCounts.toSeq.sorted }
      val inserted = ingested.synchronized(rowsInserted)
      val b = new StringBuilder
      reqs.foreach { case (path, n) =>
        b.append(s"""vm_http_requests_total{path="${path}"} $n""").append('\n')
      }
      b.append(s"vm_rows_inserted_total $inserted\n")
      b.append(s"vm_rollup_result_cache_full_hits_total $fullHits\n")
      b.append(s"vm_rollup_result_cache_partial_hits_total $partialHits\n")
      b.append(s"vm_rollup_result_cache_miss_total $misses\n")
      b.append(s"""vm_cache_entries{type="promql/rollup_result"} ${graft.Engine.cacheEntryCount}""").append('\n')
      // the handler pool (app/vmselect/main.go concurrencyLimitCh gauges);
      // current counts this request too
      b.append(s"vm_concurrent_select_capacity ${HttpApi.WorkerThreads}\n")
      b.append(s"vm_concurrent_select_current ${inFlight.get()}\n")
      maintenance.foreach { m =>
        b.append(s"vm_maintenance_rounds_total ${m.roundsRun}\n")
        b.append(s"vm_maintenance_job_errors_total ${m.errorCount}\n")
        m.lastReport.foreach(r =>
          b.append(s"vm_maintenance_last_run_timestamp ${r.atMs / 1000}\n"))
      }
      b.append(s"vm_app_start_timestamp ${startedAtMs / 1000}\n")
      b.append(s"vm_app_uptime_seconds ${(System.currentTimeMillis() - startedAtMs) / 1000}\n")
      reply(ex, 200, b.toString, "text/plain; charset=utf-8")
    },
    // /expand-with-exprs (main.go:608, prometheus.go:74): parse expands
    // WITH templates and folds constants; rendering the tree IS the
    // expansion. JSON shape per expand-with-exprs.qtpl.
    "/expand-with-exprs" -> handler { ex =>
      val q = params(ex).getOrElse("query", "")
      val body =
        if (q.isEmpty)
          """{"status": "error","error": "query string cannot be empty"}"""
        else
          try {
            val expanded = graft.lang.Render.render(graft.lang.Parser.parse(q))
            s"""{"status": "success","expr": ${Json.str(expanded)}}"""
          } catch {
            case e: Exception =>
              s"""{"status": "error","error": ${Json.str(s"Cannot parse query: ${e.getMessage}")}}"""
          }
      reply(ex, 200, body)
    },
    // /prettify-query (main.go:612, prometheus.go:90): canonical one-line
    // form (the reference's metricsql.Prettify line-splitting applies
    // only past an 80-column budget; short queries return the canonical
    // rendering either way)
    "/prettify-query" -> handler { ex =>
      val q = params(ex).getOrElse("query", "")
      val body =
        try {
          val pretty = graft.lang.Render.render(graft.lang.Parser.parse(q))
          s"""{"status": "success", "query": ${Json.str(pretty)}}"""
        } catch {
          case e: Exception =>
            s"""{"status": "error", "msg": ${Json.str(String.valueOf(e.getMessage))}}"""
        }
      reply(ex, 200, body)
    },
    "/api/v1/series/count" -> handler { ex =>
      // prometheus.go:704 SeriesCountHandler; body per
      // series_count_response.qtpl — data is a one-element array
      val n = Api.seriesCount(samples).collect()(0).getLong(0)
      reply(ex, 200, s"""{"status":"success","data":[$n]}""")
    },
    "/api/v1/status/tsdb" -> handler { ex =>
      val p = params(ex)
      val topN = p.get("topN").map(_.toInt).getOrElse(10)
      // `date` scopes stats to ONE UTC day (prometheus.go:591-604:
      // "YYYY-MM-DD" or "0" for the whole retention). The reference
      // defaults to TODAY because its index is date-partitioned; the
      // Parquet store is not, so an absent date means the whole store —
      // a deviation that only widens the default answer.
      val (fromMs, toMs) = p.get("date").filter(d => d.nonEmpty && d != "0")
        .map { d =>
          val day = java.time.LocalDate.parse(d)
            .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli
          (day, day + 86400000L - 1)
        }.getOrElse((0L, Long.MaxValue / 2))
      reply(ex, 200, Api.tsdbStatusJson(matchFiltered(ex, p, fromMs, toMs), topN,
        p.getOrElse("focusLabel", ""), "", fromMs, toMs))
    },
    "/federate" -> handler { ex =>
      // prometheus.go:113 FederateHandler: default range is
      // (end-max_lookback, end], max_lookback defaulting to 5m
      val p = params(ex)
      val lookbackMs = p.get("max_lookback")
        .map(graft.lang.Lexer.durationMs(_, 300000L)).getOrElse(300000L)
      val end = timeMs(p, "end", System.currentTimeMillis())
      val start = timeMs(p, "start", end - lookbackMs)
      val it = Api.federate(matchFiltered(ex, p, start, end), "", start, end)
        .orderBy("line").toLocalIterator()
      replyStream(ex, "text/plain; version=0.0.4; charset=utf-8") { w =>
        while (it.hasNext) { w.write(it.next().getString(0)); w.write("\n") }
      }
    },
    "/api/v1/admin/tsdb/delete_series" -> handler { ex =>
      // prometheus.go:509 DeleteHandler: match[] required; start/end
      // unsupported (delete is whole-series); 204 on success
      val p = params(ex)
      if (p.contains("start") || p.contains("end"))
        throw new IllegalArgumentException(
          "start and end args aren't supported. Remove these args from " +
            "the query in order to delete all the matching metrics")
      val sels = {
        val multi = multiParams(ex, "match[]").filter(_.nonEmpty)
        if (multi.nonEmpty) multi
        else p.get("match[]").filter(_.nonEmpty).toSeq
      }
      if (sels.isEmpty) throw new IllegalArgumentException("missing `match[]` arg")
      sels.foreach(Api.selectorPredicate) // validate before recording any
      deletedSelectors.synchronized { deletedSelectors ++= sels; storeVersion.incrementAndGet() }
      persistDeletes() // acked deletes must survive a spillDir restart
      reply(ex, 204, "", "text/plain")
    },
    "/api/v1/export/csv" -> handler { ex =>
      // prometheus.go:175 ExportCSVHandler: `format` = comma-separated
      // field names, header line first (export.qtpl ExportCSVHeader)
      val p = params(ex)
      val format = p.getOrElse("format",
        throw new IllegalArgumentException("missing `format` arg"))
      val fields = format.split(',').toSeq
      val end = timeMs(p, "end", System.currentTimeMillis())
      val start = timeMs(p, "start", 0L)
      val it = Api.exportCsv(matchFiltered(ex, p, start, end), "", start, end, fields)
        .orderBy(col("line")).toLocalIterator()
      replyStream(ex, "text/csv; charset=utf-8") { w =>
        w.write(fields.mkString(",")); w.write("\n")
        while (it.hasNext) { w.write(it.next().getString(0)); w.write("\n") }
      }
    },
    "/api/v1/status/active_queries" -> handler(
      reply(_, 200, QueryStats.activeQueriesJson())),
    "/api/v1/status/top_queries" -> handler { ex =>
      val p = params(ex)
      val topN = p.get("topN").map(_.toInt).getOrElse(20)
      val maxLifetimeMs = p.get("maxLifetime")
        .map(graft.graphite.GraphiteQL.parseInterval)
        .getOrElse(10 * 60 * 1000L)
      reply(ex, 200, QueryStats.topQueriesJson(topN, maxLifetimeMs))
    }) ++
    graphiteRoutes

  /** shared tagSeries/tagMultiSeries body: parse the `metric;k=v;…`
    * paths, register the series (a staleness-NaN buffer row + the index
    * side triples, ONE batch — not a whole-file rewrite per path), return
    * canonical paths
    */
  private def registerGraphitePaths(paths: Seq[String]): Seq[String] = {
    val now = System.currentTimeMillis()
    val parsed = paths.map(parseGraphitePath)
    val rows = parsed.map { case (metric, _, tags) => Row(metric, tags, now, Double.NaN) }
    registerIndexTriples(rows)
    ingested.synchronized {
      ingested ++= rows
      storeVersion.incrementAndGet()
    }
    parsed.map(_._2)
  }

  // ---- Graphite Render + metadata APIs (app/vmselect/main.go:290-386,
  // graphite/{render,metrics,tags}_api.go) ----------------------------

  private def graphiteRoutes: Seq[(String, com.sun.net.httpserver.HttpHandler)] = Seq(
    "/render" -> handler { ex =>
      val p = params(ex)
      val format = p.getOrElse("format", "")
      if (format != "json")
        throw new IllegalArgumentException(
          s"unsupported format=$format; supported values: json")
      val now = System.currentTimeMillis()
      val storageStep = p.get("storage_step")
        .map(s => if (s.forall(_.isDigit)) s.toLong * 1000
          else graft.graphite.GraphiteQL.parseInterval(s))
        .getOrElse(10000L)
      var from = p.get("from").map(graft.graphite.GraphiteTime.parseTime(now, _))
        .getOrElse(now - 24L * 3600 * 1000)
      var until = p.get("until").map(graft.graphite.GraphiteTime.parseTime(now, _))
        .getOrElse(now)
      // align both ends UP to storageStep multiples (render_api.go:63-73)
      val fa = from % storageStep
      from -= fa; if (fa > 0) from += storageStep
      val ua = until % storageStep
      until -= ua; if (ua > 0) until += storageStep
      if (until < from)
        throw new IllegalArgumentException("from cannot exceed until")
      val xff = p.get("xFilesFactor").map(_.toDouble).getOrElse(0.0)
      val maxDataPoints = p.get("maxDataPoints").map(_.toDouble.toInt).getOrElse(0)
      val tz = p.get("tz").map(java.time.ZoneId.of)
        .getOrElse(java.time.ZoneOffset.UTC: java.time.ZoneId)
      val targets = multiParams(ex, "target")
      // Evaluate and collect every target (parse + eval + summarize +
      // execute) BEFORE the 200 header: evaluation and execution errors
      // must surface as the error envelope, not a truncated 200 body.
      // Tracking encloses all of it, so in-flight renders show in
      // active_queries and top_queries reports their full duration.
      // the request's Spark jobs run in its deadline's job group, like
      // query_range's: a runaway render is cancelled at its `timeout`
      QueryDeadline.run(spark, deadlineMs(p)) {
        QueryStats.track(targets.mkString("; "), from, until, storageStep,
          String.valueOf(ex.getRemoteAddress)) {
          val rows = GraphiteHttp.renderRows(samples, targets, from,
            until, storageStep, xff, maxDataPoints, now, tz)
          replyStream(ex) { w => GraphiteHttp.renderWrite(rows, w) }
        }
      }
    },
    "/metrics/find" -> handler { ex =>
      val p = params(ex)
      val delimiter = p.getOrElse("delimiter", ".")
      if (delimiter.length != 1)
        throw new IllegalArgumentException(
          "`delimiter` query arg must contain only a single char")
      var query = p.getOrElse("query", "*")
      if (p.get("automatic_variants").exists(v => v == "1" || v == "true"))
        query = GraphiteHttp.addAutomaticVariants(query, delimiter)
      val leavesOnly = p.get("leavesOnly").exists(v => v == "1" || v == "true")
      val wildcards = p.get("wildcards").exists(v => v == "1" || v == "true")
      var paths = GraphiteHttp.findPaths(samples, query, delimiter.head)
      if (leavesOnly) paths = GraphiteHttp.filterLeaves(paths, delimiter)
      val format = p.getOrElse("format", "treejson")
      val body = format match {
        case "completer" => GraphiteHttp.findCompleterJson(paths, delimiter, wildcards)
        case _ => GraphiteHttp.findTreeJson(paths, delimiter, wildcards)
      }
      reply(ex, 200, body)
    },
    "/metrics/expand" -> handler { ex =>
      val p = params(ex)
      val delimiter = p.getOrElse("delimiter", ".")
      val leavesOnly = p.get("leavesOnly").exists(v => v == "1" || v == "true")
      val groupByExpr = p.get("groupByExpr").exists(v => v == "1" || v == "true")
      val queries = multiParams(ex, "query")
      def pathsOf(qy: String): Seq[String] = {
        val ps = GraphiteHttp.findPaths(samples, qy, delimiter.head)
        if (leavesOnly) ps.filterNot(_.endsWith(delimiter)) else ps
      }
      val body =
        if (groupByExpr)
          GraphiteHttp.expandByQueryJson(queries.map(qy => qy -> pathsOf(qy)))
        else GraphiteHttp.expandFlatJson(queries.flatMap(pathsOf).distinct)
      reply(ex, 200, body)
    },
    "/metrics/index.json" -> handler { ex =>
      // metrics_api.go:200 MetricsIndexHandler: all metric names, sorted,
      // as a JSON array, with optional jsonp wrapping
      val jsonp = params(ex).getOrElse("jsonp", "")
      val names = Api.labelValues(samples, "__name__").collect()
        .map(r => s""""${esc(r.getString(0))}"""")
      val body = names.mkString("[", ",", "]")
      val contentType =
        if (jsonp.nonEmpty) "text/javascript; charset=utf-8" else "application/json"
      reply(ex, 200,
        if (jsonp.nonEmpty) s"$jsonp($body)" else body, contentType)
    },
    // graphite tag-write APIs (tags_api.go:82,89 registerMetrics): parse
    // `metric;k=v;…` paths, register the series, return canonical paths.
    // Registration lands a staleness-NaN sample in the buffer — visible
    // to the tags/metadata APIs, invisible to rollups (NaN samples are
    // stripped before every window), mirroring the reference's
    // RegisterMetricNames index-only write.
    "/tags/tagSeries" -> handler { ex =>
      val canon = registerGraphitePaths(multiParamsWithBody(ex, "path"))
      reply(ex, 200, canon.map(c => s""""${esc(c)}"""").mkString(","),
        "text/plain; charset=utf-8")
    },
    "/tags/tagMultiSeries" -> handler { ex =>
      val canon = registerGraphitePaths(multiParamsWithBody(ex, "path"))
      reply(ex, 200, canon.map(c => s""""${esc(c)}"""").mkString("[", ",", "]"))
    },
    "/tags/delSeries" -> handler { ex =>
      // tags_api.go:33: delete every series matching (metric, tags) —
      // series carrying EXTRA tags still match, exactly the reference's
      // TagFilter semantics; body is a bare true/false
      val paths = multiParamsWithBody(ex, "path")
      var deleted = 0L
      paths.foreach { p =>
        val pred = graphiteDeletePredicate(p)
        deleted += samples.filter(pred).count()
        deletedPredicates.synchronized {
          deletedPredicates += pred
          deletedGraphitePaths += p
          storeVersion.incrementAndGet()
        }
      }
      persistDeletes() // acked deletes must survive a spillDir restart
      reply(ex, 200, if (deleted > 0) "true" else "false")
    },
    "/tags/autoComplete/tags" -> handler { ex =>
      val p = params(ex)
      reply(ex, 200, GraphiteHttp.autoCompleteTagsJson(samples,
        multiParams(ex, "expr"), p.getOrElse("tagPrefix", ""),
        p.get("limit").map(_.toInt).getOrElse(0), spark))
    },
    "/tags/autoComplete/values" -> handler { ex =>
      val p = params(ex)
      reply(ex, 200, GraphiteHttp.autoCompleteValuesJson(samples,
        multiParams(ex, "expr"), p.getOrElse("tag", ""),
        p.getOrElse("valuePrefix", ""),
        p.get("limit").map(_.toInt).getOrElse(0), spark))
    },
    "/tags/findSeries" -> handler { ex =>
      reply(ex, 200,
        GraphiteHttp.findSeriesJson(spark, samples, multiParams(ex, "expr")))
    },
    "/functions" -> handler { ex =>
      val path = ex.getRequestURI.getPath
      if (path == "/functions" || path == "/functions/")
        reply(ex, 200, GraphiteHttp.functionsJson())
      else {
        val fn = path.stripPrefix("/functions/")
        GraphiteHttp.functionDetailsJson(fn) match {
          case Some(body) => reply(ex, 200, body)
          case None => reply(ex, 400,
            s"""{"status":"error","error":"cannot find function \\"${fn}\\""}""")
        }
      }
    },
    "/tags" -> handler { ex =>
      val p = params(ex)
      val path = ex.getRequestURI.getPath
      val limit = p.get("limit").map(_.toInt).getOrElse(0)
      val filter = p.getOrElse("filter", "")
      if (path == "/tags" || path == "/tags/")
        reply(ex, 200, GraphiteHttp.tagsJson(samples, filter, limit))
      else {
        val tag = path.stripPrefix("/tags/")
        reply(ex, 200, GraphiteHttp.tagValuesJson(samples, tag, filter, limit))
      }
    })
}

object HttpApi {
  // The JDK server flushes the response headers on their own; with Nagle's
  // algorithm on, the body segment then waits for the client's delayed ACK
  // of them, ~40 ms per response on loopback. The server's only switch is
  // this property, read ONCE when sun.net.httpserver.ServerConfig loads:
  // a JDK HttpServer created in this JVM before object HttpApi initialized
  // leaves TCP_NODELAY off for every server after it.
  System.setProperty("sun.net.httpserver.nodelay", "true")

  /** handler threads per facade, CPU-sized like vmselect's
    * -search.maxConcurrentRequests cap: 2 × cores, at least 4 so a small
    * box still overlaps a slow request with cache hits
    */
  private[api] val WorkerThreads: Int =
    math.max(4, 2 * Runtime.getRuntime.availableProcessors)

  /** Decode a Prometheus `U__`-escaped label name
    * (prometheus/common model.EscapeName with ValueEncodingEscaping, used
    * by clients to address UTF-8 label names through path segments:
    * `U__` prefix, `__` → '_', `_<hex>_` → the code point, anything else
    * literal). Non-prefixed names pass through untouched.
    */
  def unescapeLabelName(name: String): String = {
    if (!name.startsWith("U__")) return name
    val s = name.substring(3)
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      if (s(i) == '_') {
        if (i + 1 < s.length && s(i + 1) == '_') { sb += '_'; i += 2 }
        else {
          val end = s.indexOf('_', i + 1)
          val hex = if (end > i + 1) s.substring(i + 1, end) else ""
          if (end > i + 1 && hex.forall(c => Character.digit(c, 16) >= 0)) {
            sb.appendAll(Character.toChars(Integer.parseInt(hex, 16)))
            i = end + 1
          } else { sb += '_'; i += 1 } // lone underscore: keep literal
        }
      } else { sb += s(i); i += 1 }
    }
    sb.result()
  }

  /** canonical per-series sort key: name then sorted `k=v` tag pairs,
    * with unprintable separators that sort before real content. This
    * Spark form orders /api/v1/series in Spark; the query responses
    * compute the same string on the driver ([[seriesKeyOf]]).
    */
  private[api] def seriesKey(name: org.apache.spark.sql.Column,
      tags: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat_ws("\u0001", coalesce(name, lit("")),
      concat_ws("\u0001",
        transform(array_sort(map_entries(coalesce(tags, map()))),
          e => concat(e.getField("key"), lit("\u0002"), e.getField("value")))))

  /** [[seriesKey]] computed on the driver for an already-collected row:
    * the same string (concat_ws keeps the empty tag list and skips a pair
    * whose value is null; array_sort orders pairs by key bytes)
    */
  private def seriesKeyOf(name: String, tags: scala.collection.Map[String, String]): String = {
    val pairs = Option(tags).toSeq.flatMap(_.toSeq)
      .collect { case (k, v) if v != null => (Utf8Order.bytes(k), s"$k\u0002$v") }
      .sortBy(_._1)(Utf8Order)
    Option(name).getOrElse("") + "\u0001" + pairs.map(_._2).mkString("\u0001")
  }
}
