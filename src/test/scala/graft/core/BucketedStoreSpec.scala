package graft.core

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Series-bucketed store layout (SampleStore.writeBucketed): results must
  * be identical to the flat date-partitioned store, and the whole point —
  * the per-series shuffle disappearing because the bucketed scan's
  * HashPartitioning(_h1) satisfies every downstream per-series
  * distribution — is asserted against the physical plan, not taken on
  * faith.
  */
class BucketedStoreSpec extends SparkSpec {

  private val T0 = 1704067200000L
  private val H = 3600000L
  private val grid = GridSpec(T0, T0 + 48 * H, H)
  private val table = "bucketed_events_spec"
  private val path = "target/bucketed_events_spec"

  private lazy val flat = Samples.fromEvents(spark, sfDir)
  private lazy val bucketed: org.apache.spark.sql.DataFrame = {
    SampleStore.writeBucketed(flat, table, path, buckets = 8)
    SampleStore.readBucketed(spark, table)
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(String, Long, Double)] =
    df.select(col("tags")("user_id"), col("t"), round(col("value"), 9))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSet

  test("counter rollup over the bucketed store matches the flat store") {
    val q = "increase(click[12h])" // ratio 12 ≥ 8 → two-level counter path
    val a = rows(graft.Engine.query(flat, q, grid, 2 * H))
    val b = rows(graft.Engine.query(bucketed, q, grid, 2 * H))
    assert(a.nonEmpty, "flat-store query returned no rows")
    assert(b == a, s"bucketed result diverged: ${(b -- a).take(3)} vs ${(a -- b).take(3)}")
  }

  private def shuffles(df: org.apache.spark.sql.DataFrame): Int =
    "Exchange hashpartitioning".r
      .findAllIn(df.queryExecution.executedPlan.toString).length

  test("bucketed scan elides the per-series exchange entirely") {
    // irate: edge-only, non-fillable — the counter plan with no fill
    // checkpoint, so a flat store pays exactly ONE data-scale exchange
    // (prevPass series clustering) and a bucketed store must pay none.
    val q = "irate(click[12h])"
    val nFlat = shuffles(graft.Engine.query(flat, q, grid, 2 * H))
    val nBucketed = shuffles(graft.Engine.query(bucketed, q, grid, 2 * H))
    assert(nFlat >= 1, "flat control should shuffle on the series hash")
    assert(nBucketed == 0,
      s"bucketed counter plan must be exchange-free, found $nBucketed:\n" +
        graft.Engine.query(bucketed, q, grid, 2 * H).queryExecution.executedPlan)
  }

  test("default_rollup over the bucketed store: flat rows, no data-scale exchange") {
    val q = "click" // bare selector = default_rollup keep-last lookback
    val a = rows(graft.Engine.query(flat, q, grid, 2 * H))
    val b = graft.Engine.query(bucketed, q, grid, 2 * H)
    assert(a.nonEmpty && rows(b) == a, "bucketed default_rollup diverged from flat")
    assert(shuffles(b) == 0,
      s"bucketed default_rollup must be exchange-free:\n${b.queryExecution.executedPlan}")
  }

  test("whole-grid per-series transform reuses the bucket partitioning") {
    // running_sum(click): the seriesKeyed fast path keeps _h1/_h2 through
    // the default_rollup, so the dense-grid dim aggregate, the grid join
    // and the running window all cluster on attributes the bucketed scan
    // already provides — zero exchanges, vs ≥1 on the flat store
    val q = "running_sum(click)"
    val fa = graft.Engine.query(flat, q, grid, 2 * H)
    val ba = graft.Engine.query(bucketed, q, grid, 2 * H)
    assert(rows(ba) == rows(fa) && rows(fa).nonEmpty,
      "bucketed running_sum diverged from flat")
    assert(shuffles(fa) >= 1, "flat control should shuffle on the series key")
    assert(shuffles(ba) == 0,
      s"bucketed per-series transform must be exchange-free:\n${ba.queryExecution.executedPlan}")
    // interpolate exercises the keyed gap-fill twin of the same path
    val bi = graft.Engine.query(bucketed, "interpolate(click)", grid, 2 * H)
    assert(rows(bi) == rows(graft.Engine.query(flat, "interpolate(click)", grid, 2 * H)))
    assert(shuffles(bi) == 0,
      s"bucketed interpolate must be exchange-free:\n${bi.queryExecution.executedPlan}")
  }

  test("vector-matching binop: both rollup sides reuse the bucket partitioning") {
    // 24h windows (sf0.001 is too sparse for user-hour coincidences) on a
    // 6h grid: ratio 4 keeps the rollup on the explode path, so the whole
    // plan is visible (the two-level path's eager checkpoint hides the
    // level-1 plan that already ran)
    val g6 = GridSpec(T0, T0 + 48 * H, 6 * H)
    val q = "avg_over_time(purchase[24h]) / on(user_id) avg_over_time(click[24h])"
    val fa = graft.Engine.query(flat, q, g6, 2 * H)
    val ba = graft.Engine.query(bucketed, q, g6, 2 * H)
    assert(rows(ba) == rows(fa) && rows(fa).nonEmpty,
      "bucketed binop diverged from flat")
    // the on(user_id) join keys on a LABEL (_mk), so its grid-scale
    // exchange pair is inherent to the operator; what the layout must
    // remove is every exchange keyed on the series hash — the DATA-scale
    // shuffles under the two rollup aggregates
    def h1Shuffles(df: org.apache.spark.sql.DataFrame): Int =
      "Exchange hashpartitioning\\([^)]*_h1".r
        .findAllIn(df.queryExecution.executedPlan.toString).length
    assert(h1Shuffles(fa) >= 1, "flat control should shuffle on the series hash")
    assert(h1Shuffles(ba) == 0,
      s"bucketed binop must not re-key by series hash:\n${ba.queryExecution.executedPlan}")
  }

  test("select-time dedup on the bucketed store is exchange-free") {
    // the -dedup.minScrapeInterval read path leads its grouping keys with
    // the persisted hash pair, so the bucket partitioning satisfies both
    // dedup aggregates — the flat store pays the one dedup shuffle
    val d = graft.pipeline.Dedup.dedupNamedSamples(bucketed, 6 * H)
    assert(shuffles(d) == 0,
      s"bucketed dedup must be exchange-free:\n${d.queryExecution.executedPlan}")
    val flatD = graft.pipeline.Dedup.dedupNamedSamples(flat, 6 * H)
    assert(shuffles(flatD) >= 1, "flat control should shuffle")
    // identical kept set (modulo the carried hash columns)
    val key = (df: org.apache.spark.sql.DataFrame) => df
      .select(col("name"), col("tags")("user_id"), col("ts"), col("value"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(key(d) == key(flatD) && key(flatD).nonEmpty)
  }

  test("incremental flat→bucketed compaction: only changed dates rewrite, late arrivals survive") {
    val store = "target/bucketize_spec/store"
    val tbl = "bucketize_spec_table"
    val tpath = "target/bucketize_spec/table"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File("target/bucketize_spec"))
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File("spark-warehouse/target/bucketize_spec/table"))
    val clicks = flat.filter(col("name") === "click")
    val rest = flat.filter(col("name") =!= "click")
    SampleStore.write(clicks, store, org.apache.spark.sql.SaveMode.Overwrite)
    val first = SampleStore.bucketizeNewDates(spark, store, tbl, tpath)
    assert(first.nonEmpty, "initial run must bucketize every date")
    // no new flat data → nothing to do (idempotence)
    assert(SampleStore.bucketizeNewDates(spark, store, tbl, tpath).isEmpty)
    // late arrivals append into EXISTING dates → those dates re-bucketize
    SampleStore.write(rest, store)
    val second = SampleStore.bucketizeNewDates(spark, store, tbl, tpath)
    assert(second.nonEmpty)
    val b = SampleStore.readBucketed(spark, tbl)
    // full content parity with the flat store (clicks must survive the
    // overwrite of their date partitions)
    val q = "increase(click[12h])"
    val a = rows(graft.Engine.query(flat, q, grid, 2 * H))
    assert(rows(graft.Engine.query(b, q, grid, 2 * H)) == a && a.nonEmpty)
    assert(b.count() == flat.count())
    // and the compacted table still plans exchange-free
    assert(shuffles(graft.Engine.query(b, "irate(click[12h])", grid, 2 * H)) == 0)
  }

  test("dates dropped from the flat store leave the bucketed layout too") {
    // an in-place retention rewrite removes whole date partitions from
    // the flat store; the next compaction run must DROP those partitions
    // from the bucketed table, not keep serving the expired rows
    val store = "target/bucketize_drop_spec/store"
    val tbl = "bucketize_drop_spec_table"
    val tpath = "target/bucketize_drop_spec/table"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File("target/bucketize_drop_spec"))
    val clicks = flat.filter(col("name") === "click")
    SampleStore.write(clicks, store, org.apache.spark.sql.SaveMode.Overwrite)
    assert(SampleStore.bucketizeNewDates(spark, store, tbl, tpath).nonEmpty)
    val allDates = spark.read.parquet(store).select(col("date").cast("string"))
      .distinct().collect().map(_.getString(0)).sorted
    assert(allDates.length >= 2, s"need ≥2 dates for a drop test, got $allDates")
    val dropped = allDates.head
    // retention rewrite IN PLACE: keep everything after the first date
    val kept = spark.read.parquet(store)
      .filter(col("date") > java.sql.Date.valueOf(dropped)).drop("date")
    val keptRows = kept.collect()
    SampleStore.write(
      spark.createDataFrame(java.util.Arrays.asList(keptRows: _*), kept.schema),
      store, org.apache.spark.sql.SaveMode.Overwrite)
    // the rewrite changed every file, so surviving dates re-bucketize —
    // and the VANISHED date must leave the bucketed layout
    val second = SampleStore.bucketizeNewDates(spark, store, tbl, tpath)
    assert(!second.contains(dropped), "the vanished date must not re-bucketize")
    val b = SampleStore.readBucketed(spark, tbl)
    assert(b.count() == keptRows.length,
      "bucketed layout must stop serving the dropped date's rows")
    assert(b.filter(to_date(timestamp_millis(col("ts"))) === java.sql.Date.valueOf(dropped))
      .count() == 0)
    // a second run stays idempotent
    assert(SampleStore.bucketizeNewDates(spark, store, tbl, tpath).isEmpty)
    assert(SampleStore.readBucketed(spark, tbl).count() == keptRows.length)
  }

  test("content-size cache expires so the broadcast guard tracks store growth") {
    // the guard exists to stop force-broadcasts of a store that GREW past
    // the bound — a forever-cached below-the-bound measurement defeats it
    val tbl = "ttl_spec_table"
    val tpath = "target/ttl_spec_table"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tpath))
    val half = flat.filter(col("name") === "click")
    SampleStore.writeBucketed(half, tbl, tpath, buckets = 2)
    val savedTtl = SampleStore.ContentSizeTtlMs
    try {
      SampleStore.ContentSizeTtlMs = Long.MaxValue // pin the first measure
      val a = SampleStore.estimatedInputBytes(SampleStore.readBucketed(spark, tbl))
      assert(a > 0)
      // the table location grows (an append lands more files)
      SampleStore.writeBucketed(flat, tbl, tpath, buckets = 2,
        mode = org.apache.spark.sql.SaveMode.Append)
      val stale = SampleStore.estimatedInputBytes(SampleStore.readBucketed(spark, tbl))
      assert(stale == a, "within the TTL the cached size serves")
      SampleStore.ContentSizeTtlMs = 0 // force expiry
      val fresh = SampleStore.estimatedInputBytes(SampleStore.readBucketed(spark, tbl))
      assert(fresh > a, s"expired entry must re-measure the grown store ($fresh vs $a)")
    } finally SampleStore.ContentSizeTtlMs = savedTtl
  }

  test("a MISSING flat root aborts instead of wiping the bucketed layout") {
    // a transient mount failure / mis-pointed storePath makes the root
    // unreachable — indistinguishable from "everything expired" to the
    // listing, so the compaction must THROW, not mark every manifest date
    // removed and delete the whole derived table
    val store = "target/bucketize_missing_spec/store"
    val tbl = "bucketize_missing_spec_table"
    val tpath = "target/bucketize_missing_spec/table"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File("target/bucketize_missing_spec"))
    val clicks = flat.filter(col("name") === "click")
    SampleStore.write(clicks, store, org.apache.spark.sql.SaveMode.Overwrite)
    assert(SampleStore.bucketizeNewDates(spark, store, tbl, tpath).nonEmpty)
    val n = SampleStore.readBucketed(spark, tbl).count()
    assert(n > 0)
    // simulate the mount failure: the flat root vanishes
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(store))
    intercept[IllegalStateException] {
      SampleStore.bucketizeNewDates(spark, store, tbl, tpath)
    }
    assert(SampleStore.readBucketed(spark, tbl).count() == n,
      "the bucketed layout must be untouched after the abort")
    // a missing root WITHOUT a table is a legitimate no-op (fresh setup)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    assert(SampleStore.bucketizeNewDates(spark, store, tbl, tpath).isEmpty)
  }

  test("large retention-filter stacks on a bucketed store resolve exchange-free") {
    // the >threshold dim-resolve path reuses the persisted hash pair: the
    // series dim clusters on the scan's bucket partitioning and the
    // resolved retention joins back by broadcast — zero exchanges
    val filters = (0 to SampleStore.DimResolveThreshold).map(i =>
      SampleStore.RetentionFilter(s"""{user_id="$i"}""", (i + 1) * 3600000L)) :+
      SampleStore.RetentionFilter("""{__name__="click"}""", 48 * 3600000L)
    val nowMs = T0 + 49 * 3600000L
    val out = SampleStore.applyRetentionFilterPredicate(
      bucketed, filters, 365L * 86400000L, nowMs)
    assert(shuffles(out) == 0,
      s"bucketed retention dim-resolve must be exchange-free:\n${out.queryExecution.executedPlan}")
    // parity with the per-row predicate on the same frame
    val inline = bucketed.filter(
      SampleStore.retentionFilterPredicate(filters, 365L * 86400000L, nowMs))
    assert(out.count() == inline.count() && inline.count() > 0)
  }

  test("bucket files are name-sorted and the name filter reaches the scan") {
    // the selective-lookup mitigation (r11): files sorted by (name, _h1,
    // _h2, ts) let parquet row-group/page stats prune name-selective
    // lookups (CardScale: 10.2× vs the flat scan at 270M rows). Pin both
    // preconditions — physical sortedness and predicate pushdown.
    bucketed.count() // force the table write
    val loc = new org.apache.hadoop.fs.Path(spark.sessionState.catalog
      .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier(table)).location)
    val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
    val dataFiles = fs.listStatus(loc).filter(_.getPath.getName.startsWith("date="))
      .flatMap(d => fs.listStatus(d.getPath))
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
    assert(dataFiles.nonEmpty)
    dataFiles.take(4).foreach { st =>
      val names = spark.read.parquet(st.getPath.toString)
        .select("name").collect().map(_.getString(0))
      assert(names.sameElements(names.sorted),
        s"${st.getPath.getName} is not name-sorted")
    }
    val scan = bucketed.filter(col("name") === "click")
      .queryExecution.executedPlan.toString
    assert(scan.contains("EqualTo(name,click)"),
      s"name predicate must reach the parquet scan:\n$scan")
    // and through the ENGINE's selector path too: a positive non-empty
    // name matcher lowers to the bare-attribute equality (r11), not the
    // unpushable coalesce form
    val eng = graft.Engine.query(bucketed, "click", grid, 2 * H)
      .queryExecution.executedPlan.toString
    assert(eng.contains("EqualTo(name,click)"),
      s"engine name matcher must reach the parquet scan:\n$eng")
  }

  test("tag index prunes nameless lookups: identical results, pushed name IN") {
    bucketed.count() // force the table write
    val idxPath = SampleStore.tagIndexPath(path)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(idxPath))
    SampleStore.buildTagIndex(flat, idxPath)
    val idx = SampleStore.readTagIndex(spark, idxPath)
    val q = """{user_id="7"}""" // NAMELESS: the sorted layout alone prunes nothing
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select(col("name"), col("tags")("user_id"), col("t"), round(col("value"), 9))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val plain = key(graft.Engine.query(bucketed, q, grid, 2 * H))
    assert(plain.nonEmpty)
    val indexed = graft.Engine.query(bucketed, q, grid, 2 * H, tagIndex = Some(idx))
    assert(key(indexed) === plain, "index pruning must be a pure narrowing")
    // the candidate-name predicate must reach the parquet scan
    val plan = indexed.queryExecution.executedPlan.toString
    assert(plan.contains("In(name"),
      s"candidate names must push to the scan as In(name, ...):\n$plan")
    // candidate overflow (cap exceeded) falls back to the plain scan
    val saved = SampleStore.TagIndexMaxNames
    SampleStore.TagIndexMaxNames = 0
    try {
      val capped = graft.Engine.query(bucketed, q, grid, 2 * H, tagIndex = Some(idx))
      assert(!capped.queryExecution.executedPlan.toString.contains("In(name"))
      assert(key(capped) === plain)
    } finally SampleStore.TagIndexMaxNames = saved
    // a name-carrying selector skips the probe (the name already prunes)
    val named = graft.Engine.query(bucketed, """click{user_id="7"}""",
      grid, 2 * H, tagIndex = Some(idx))
    assert(named.queryExecution.executedPlan.toString.contains("EqualTo(name,click)"))
    // positive REGEX matchers probe the index too (r12): identical rows,
    // pushed candidate names
    val rx = graft.Engine.query(bucketed, """{user_id=~"7|8"}""",
      grid, 2 * H, tagIndex = Some(idx))
    val rxPlain = graft.Engine.query(bucketed, """{user_id=~"7|8"}""", grid, 2 * H)
    assert(key(rx) === key(rxPlain) && key(rx).nonEmpty)
    assert(rx.queryExecution.executedPlan.toString.contains("In(name"))
    // an EMPTY-MATCHING regex also matches series WITHOUT the tag — the
    // index (present tags only) must not prune it
    val any = graft.Engine.query(bucketed, """{user_id=~".*"}""",
      grid, 2 * H, tagIndex = Some(idx))
    assert(!any.queryExecution.executedPlan.toString.contains("In(name"))
    assert(key(any) === key(graft.Engine.query(bucketed, """{user_id=~".*"}""", grid, 2 * H)))
    // OR groups: the union of per-group candidates pushes as one In(name)
    // — here one NAME-CAPPED group unioned with one tag-probed group
    val orQ = """{__name__="purchase" or user_id="7"}"""
    val orIdx = graft.Engine.query(bucketed, orQ, grid, 2 * H, tagIndex = Some(idx))
    assert(key(orIdx) === key(graft.Engine.query(bucketed, orQ, grid, 2 * H)))
    assert(key(orIdx).nonEmpty)
    assert(orIdx.queryExecution.executedPlan.toString.contains("In(name"))
    // an unboundable group (negative-only) disables the index for the
    // whole selector
    val mixed = graft.Engine.query(bucketed, """{user_id="7" or user_id!="x"}""",
      grid, 2 * H, tagIndex = Some(idx))
    assert(!mixed.queryExecution.executedPlan.toString.contains("In(name"))
    // a REGEX name matcher beside a tag probe: the tag candidates still
    // bound the scan (the name regex only further restricts). Regex wide
    // enough that the sparse fixture has matching rows in-window.
    val rxNameQ = """{__name__=~"click|view|purchase|signup|error", user_id="7"}"""
    val rxName = graft.Engine.query(bucketed, rxNameQ, grid, 2 * H, tagIndex = Some(idx))
    val rxNamePlain = graft.Engine.query(bucketed, rxNameQ, grid, 2 * H)
    assert(key(rxName) === key(rxNamePlain) && key(rxName).nonEmpty)
    assert(rxName.queryExecution.executedPlan.toString.contains("In(name"))
  }

  test("index probe is date-scoped: partition filters prune, results unchanged") {
    bucketed.count()
    val idxPath = SampleStore.tagIndexPath(path)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(idxPath))
    SampleStore.buildTagIndex(flat, idxPath)
    val idx = SampleStore.readTagIndex(spark, idxPath)
    // r13: the index keeps its date partition column for probe scoping
    assert(idx.columns.contains("date"))
    // the date scope lands as a PARTITION filter on the probe's scan —
    // the probe reads index-partitions-for-the-range, so its cost is flat
    // in retention length (the reference's per-day index, index_db.go:2169)
    val scoped = SampleStore.scopeIndexByDate(idx, T0, T0 + 48 * H)
      .filter(col("key") === "user_id" && col("value") === "7")
    scoped.collect()
    val plan = scoped.queryExecution.executedPlan.toString
    // the scope keeps NULL dates (a date-less union source can't be
    // scoped, only kept) — partition values are never null, so the
    // isnull-OR form still prunes partitions
    assert(plan.contains("PartitionFilters: [(isnull(date"),
      s"date scope must prune index partitions:\n$plan")
    // a date-less frame (pre-r13 index shape) passes through unscoped —
    // and a union carrying null dates keeps those rows under any scope
    val dateless = idx.drop("date")
    assert(SampleStore.scopeIndexByDate(dateless, T0, T0 + H).count() == dateless.count())
    val mixed = idx.unionByName(
      dateless.withColumn("date", lit(null).cast("date")))
    val farScope = SampleStore.scopeIndexByDate(mixed,
      T0 + 3650L * 86400000L, T0 + 3651L * 86400000L)
    assert(farScope.count() == dateless.count(),
      "null-date rows must survive any probe scope")
    val probes = Seq(SampleStore.TagProbe("user_id", "7"))
    // in-range scope resolves the same candidates as an unbounded probe
    val unbounded = SampleStore.tagIndexCandidateNames(idx, probes)
    val inRange = SampleStore.tagIndexCandidateNames(idx, probes, T0, T0 + 72 * H)
    assert(unbounded.nonEmpty && unbounded.get.nonEmpty)
    assert(inRange.map(_.toSet) == unbounded.map(_.toSet))
    // a range entirely past the store's dates resolves to NO candidates
    // (a valid, maximally-pruning answer — those dates hold no samples)
    val future = SampleStore.tagIndexCandidateNames(idx, probes,
      T0 + 3650L * 86400000L, T0 + 3660L * 86400000L)
    assert(future == Some(Nil), s"out-of-range probe must prune everything: $future")
    // end-to-end through the evaluator: the probe scope derives from the
    // grid + AST reach, and the result stays a pure narrowing
    val q = """{user_id="7"}"""
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select(col("name"), col("tags")("user_id"), col("t"), round(col("value"), 9))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val indexed = graft.Engine.query(bucketed, q, grid, 2 * H, tagIndex = Some(idx))
    assert(key(indexed) === key(graft.Engine.query(bucketed, q, grid, 2 * H)))
    assert(indexed.queryExecution.executedPlan.toString.contains("In(name"))
    // an @-pinned query cannot bound its reach — the probe falls back to
    // the unscoped index (still correct, just wider), never to a wrong
    // narrow scope: rows pinned far from the grid must survive
    val at = graft.Engine.query(bucketed, """{user_id="7"} @ 1704124000""",
      GridSpec(T0 + 3650L * 86400000L, T0 + 3650L * 86400000L, H), 2 * H,
      tagIndex = Some(idx))
    assert(key(at).nonEmpty, "@-pinned rows must survive the probe scope")
  }

  test("graphite glob with a literal prefix pushes name range bounds") {
    // `{__graphite__="cli*"}`: the rlike alone reaches no parquet stats;
    // the implied prefix range (name >= 'cli' && name < 'clj') does —
    // riding the name sort exactly like a literal name equality
    val q = """{__graphite__="cli*"}"""
    val df = graft.Engine.query(bucketed, q, grid, 2 * H)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThanOrEqual(name,cli)") &&
      plan.contains("LessThan(name,clj)"),
      s"glob prefix must push name range bounds:\n$plan")
    // pure narrowing: identical rows to the flat store's rlike-only scan
    val flatRows = rows(graft.Engine.query(flat, q, grid, 2 * H))
    assert(flatRows.nonEmpty && rows(df) == flatRows)
    // a glob STARTING with a wildcard pushes nothing (no literal prefix)
    val wild = graft.Engine.query(bucketed, """{__graphite__="*ick"}""", grid, 2 * H)
    assert(!wild.queryExecution.executedPlan.toString.contains("GreaterThanOrEqual(name"))
    // negated glob keeps null-name and non-matching rows (equivalence
    // under negation — the bounds ride INSIDE the positive form)
    val negQ = """{user_id="7", __graphite__!="cli*"}"""
    assert(rows(graft.Engine.query(bucketed, negQ, grid, 2 * H)) ==
      rows(graft.Engine.query(flat, negQ, grid, 2 * H)))
  }

  test("bucketed store preserves the raw samples (roundtrip)") {
    val a = flat.filter(col("name") === "click").count()
    val b = bucketed.filter(col("name") === "click").count()
    assert(a > 0 && a == b)
  }
}
