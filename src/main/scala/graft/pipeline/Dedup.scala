package graft.pipeline

import graft.core.SeriesId
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}
import scala.jdk.CollectionConverters._

/** Deduplication operators for training-data pipelines over `documents`.
  *
  * Scale notes (the whole point of these designs):
  *  - exact: hash groupBy — one shuffle on a 64-bit hash, no text moves
  *    beyond the winner-select.
  *  - MinHash+LSH: shingle → K minhashes → B bands; candidate pairs come
  *    from an equi-join on (band, bandHash) — NEVER an all-pairs cross
  *    join. Cost is O(docs·K + collisions), the standard web-scale design
  *    (Broder '97; Leskovec MMDS ch.3).
  *  - SimHash: 64-bit signature; near-dups = equal signature (or equal in
  *    ≥1 of 4 16-bit blocks for hamming≤3-style banding).
  *  - n-gram Jaccard: exact verification on LSH candidates, or standalone
  *    via shingle-inverted-index join (word-level postings), still no
  *    cross join.
  *  - embedding cosine: see Similarity.scala (brute-force for verify, LSH
  *    buckets for the scale path).
  */
object Dedup {

  /** Exact dedup: keep the smallest id per identical text. The groupBy key
    * is xxhash64(text) so the shuffle moves (hash, id) pairs, not bodies;
    * a final semi-join recovers winning rows.
    */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val winners = docs
      .select(col(idCol), xxhash64(col(textCol)).as("_h"))
      .groupBy("_h")
      .agg(min(col(idCol)).as(idCol))
      .select(idCol)
    docs.join(winners, Seq(idCol), "left_semi")
  }

  /** K permutation-style minhashes of the shingle set. Each "permutation"
    * is xxhash64(shingle, seed_i) minimized over the set — the standard
    * hash-trick replacement for true permutations. Computed in a SINGLE
    * fold over the shingle array (one zip_with of K running minima per
    * shingle), not K separate array scans.
    */
  def minhashSignature(text: Column, numHashes: Int, shingleN: Int = 3): Column =
    minhashOfShingles(TextAnalysis.shingles(text, shingleN), numHashes)

  /** Distinct sorted 64-bit shingle hashes straight from the token
    * stream: each n-gram hashes by order-sensitive splitmix64 folding of
    * the token hashes — no shingle STRINGS are ever materialized (the
    * slice+array_join shingle builder and string-array intersections were
    * the measured hot spots of the dedup pipeline).
    */
  private def shingleHashUdf(n: Int) = udf { (toks: Seq[String]) =>
    if (toks == null || toks.isEmpty) Seq.empty[Long]
    else {
      val th = toks.map(w =>
        splitmix64(scala.util.hashing.MurmurHash3.stringHash(w).toLong)).toArray
      val out = scala.collection.mutable.SortedSet.empty[Long]
      def shingleAt(from: Int, until: Int): Long = {
        var acc = 0x51ce5e814c2d1e6dL
        var j = from
        while (j < until) { acc = splitmix64(acc ^ th(j)); j += 1 }
        acc
      }
      if (th.length < n) out += shingleAt(0, th.length)
      else {
        var i = 0
        while (i + n <= th.length) { out += shingleAt(i, i + n); i += 1 }
      }
      out.toSeq
    }
  }

  def shingleHashes(toks: Column, n: Int): Column = shingleHashUdf(n)(toks)

  /** K minhashes over precomputed shingle hashes (primitive loop) */
  def minhashOfHashes(shh: Column, numHashes: Int): Column = {
    val k = numHashes
    val f = udf { (hs: Seq[Long]) =>
      val mins = Array.fill(k)(Long.MaxValue)
      if (hs != null) hs.foreach { base =>
        var i = 0
        while (i < k) {
          val h = splitmix64(base + i * 0x9e3779b97f4a7c15L)
          if (h < mins(i)) mins(i) = h
          i += 1
        }
      }
      mins.toSeq
    }
    f(shh)
  }

  /** intersection size of two SORTED long arrays (merge walk) */
  private val sortedInterUdf = udf { (a: Seq[Long], b: Seq[Long]) =>
    if (a == null || b == null) 0 // null shingle rows share nothing
    else {
      var i = 0
      var j = 0
      var c = 0
      while (i < a.length && j < b.length) {
        if (a(i) == b(j)) { c += 1; i += 1; j += 1 }
        else if (a(i) < b(j)) i += 1
        else j += 1
      }
      c
    }
  }

  def minhashOfShingles(sh: Column, numHashes: Int): Column = {
    // primitive JVM loop, same rationale as simhash: the shingles×K hash
    // matrix evaluates interpreted as a higher-order expression; hashes
    // are engine-internal (candidates verify via exact Jaccard)
    val k = numHashes
    val f = udf { (shingles: Seq[String]) =>
      val mins = Array.fill(k)(Long.MaxValue)
      if (shingles != null) shingles.foreach { s =>
        val base = splitmix64(scala.util.hashing.MurmurHash3.stringHash(s).toLong)
        var i = 0
        while (i < k) {
          val h = splitmix64(base + i * 0x9e3779b97f4a7c15L)
          if (h < mins(i)) mins(i) = h
          i += 1
        }
      }
      mins.toSeq
    }
    f(sh)
  }

  /** LSH banding: split the K-minhash signature into B bands of R rows
    * (K = B·R); docs sharing any (band, bandHash) are candidates.
    * Returns candidate pairs (id_a < id_b), deduplicated across bands.
    */
  def minhashCandidates(
      docs: DataFrame,
      numHashes: Int = 32,
      bands: Int = 8,
      shingleN: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val sh = docs.select(col(idCol).as("id"),
      shingleHashes(TextAnalysis.wsTokens(col(textCol)), shingleN).as("sh"))
    candidatesFromShingles(sh, numHashes, bands)
  }

  /** candidate pairs from a precomputed (id, sh) shingle frame; `sh` is
    * persisted so the text→shingle→minhash work runs once, not once per
    * self-join branch. Returns the lazy pairs plus the persisted banded
    * frame the caller must unpersist after materializing downstream.
    */
  /** All-pairs within a bucket is quadratic in the bucket size: ONE viral
    * document duplicated N times puts N ids in the same (band, bandHash)
    * bucket and the self-join emits N²/2 candidate rows — at web scale
    * (N ~ 100K boilerplate copies) that single bucket IS the job. Above
    * this cap a bucket switches to STAR topology: every member pairs with
    * the bucket's min id only (N-1 edges). Connectivity for the
    * union-find clustering is identical — any two members connect through
    * the hub — and a band hash covers r=numHashes/bands minhash rows, so
    * an oversized bucket of genuinely DISSIMILAR docs (where the star
    * would skip a true pair the full cross product had verified) needs an
    * r-fold minhash collision: vanishingly rare by construction.
    */
  private val BucketAllPairsCap = 64

  private def candidatesRaw(sh0: DataFrame, numHashes: Int, bands: Int): (DataFrame, DataFrame) = {
    val r = numHashes / bands
    val sig = sh0.select(col("id"), minhashOfHashes(col("sh"), numHashes).as("sig"))
    val banded = sig.select(
      col("id"),
      explode(
        transform(sequence(lit(0), lit(bands - 1)), b =>
          struct(b.as("band"), xxhash64(slice(col("sig"), b * r + 1, lit(r)).cast("string")).as("bh"))))
        .as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
      .persist()
    // bucket sizes + hub ids: one hash agg co-partitioned with the join
    // key, so the exchange is shared with the self-join below
    val stats = banded.groupBy("band", "bh")
      .agg(count(lit(1)).as("n"), min(col("id")).as("minId"))
    val withN = banded.join(stats, Seq("band", "bh"))
    val small = withN.filter(col("n") <= BucketAllPairsCap)
    val a = small.as("a")
    val b = small.as("b")
    val smallPairs = a
      .join(b, col("a.band") === col("b.band") && col("a.bh") === col("b.bh") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    val starPairs = withN
      .filter(col("n") > BucketAllPairsCap && col("id") =!= col("minId"))
      .select(col("minId").as("id_a"), col("id").as("id_b"))
    val pairs = smallPairs.union(starPairs).distinct()
    (pairs, banded)
  }

  private def candidatesFromShingles(sh0: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val (pairs, banded) = candidatesRaw(sh0, numHashes, bands)
    // materialize the (small) candidate set eagerly so the banded frame's
    // cache can be released NOW instead of leaking for the session
    val out = pairs.localCheckpoint(true)
    banded.unpersist()
    out
  }

  /** Connected-components loser set over an undirected dup-pair edge list
    * (id_a, id_b): min-id label propagation to fixpoint, so transitive
    * chains A~C, B~C collapse into ONE cluster keeping only the minimum
    * id (the single-link direct-neighbor shortcut kept B in that shape).
    * Iterations are bounded by the component diameter — dup clusters are
    * shallow in practice — with a hard cap as a runaway guard; each round
    * is one broadcast-size join + agg over only the ids that appear in a
    * pair, checkpointed to keep lineage flat.
    *
    * Returns the ids to REMOVE (every cluster member except its minimum).
    */
  def connectedLosers(pairs: DataFrame, maxIters: Int = 15): DataFrame = {
    val spark = pairs.sparkSession
    val e0 = pairs.select(col("id_a").as("x"), col("id_b").as("y")).localCheckpoint(true)
    // Dup-graph edges are usually metadata-scale (bounded by the dup rate,
    // not the corpus): exact union-find on the driver in ONE collect beats
    // a dozen tiny label-propagation Spark jobs (measured: doc_minhash_dedup
    // 2.4s -> 4.3s with the distributed loop at sf0.1). The distributed
    // min-id propagation below remains the >1M-edge fallback.
    val idType = e0.schema("x").dataType
    val ordered: Option[Ordering[Any]] = idType match {
      case _: org.apache.spark.sql.types.LongType => Some(Ordering.by(_.asInstanceOf[Long]))
      case _: org.apache.spark.sql.types.IntegerType => Some(Ordering.by(_.asInstanceOf[Int]))
      case _: org.apache.spark.sql.types.StringType => Some(Ordering.by(_.asInstanceOf[String]))
      case _ => None
    }
    if (ordered.isDefined && e0.count() <= 1000000) {
      implicit val ord: Ordering[Any] = ordered.get
      val parent = scala.collection.mutable.Map.empty[Any, Any]
      def find(a: Any): Any = {
        val p = parent.getOrElseUpdate(a, a)
        if (p == a) a else { val r = find(p); parent(a) = r; r }
      }
      e0.collect().foreach { r =>
        val (ra, rb) = (find(r.get(0)), find(r.get(1)))
        if (ra != rb) parent(ord.max(ra, rb)) = ord.min(ra, rb)
      }
      val losers = parent.keys.filter(a => find(a) != a).toSeq
      val schema = org.apache.spark.sql.types.StructType(
        Seq(org.apache.spark.sql.types.StructField("node", idType)))
      return spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          losers.map(org.apache.spark.sql.Row(_)).asJava), schema)
    }
    val edges = e0.union(e0.select(col("y").as("x"), col("x").as("y"))).localCheckpoint(true)
    var labels = edges.select(col("x").as("node")).distinct()
      .withColumn("lbl", col("node")).localCheckpoint(true)
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIters) {
      val nbr = edges
        .join(labels.select(col("node").as("y"), col("lbl").as("nlbl")), "y")
        .groupBy(col("x").as("node")).agg(min(col("nlbl")).as("nmin"))
      val next = labels.join(nbr, Seq("node"), "left")
        .select(col("node"), col("lbl"),
          least(col("lbl"), coalesce(col("nmin"), col("lbl"))).as("nlbl"))
        .localCheckpoint(true)
      changed = next.filter(col("nlbl") < col("lbl")).count()
      labels = next.select(col("node"), col("nlbl").as("lbl"))
      iter += 1
    }
    labels.filter(col("node") =!= col("lbl")).select(col("node"))
  }

  /** MinHash near-dup dedup end-to-end: candidates → exact Jaccard verify
    * at `threshold` → connected-components "keep smallest id" winner per
    * dup cluster ([[connectedLosers]] min-id propagation).
    */
  def minhashDedup(
      docs: DataFrame,
      threshold: Double = 0.7,
      numHashes: Int = 32,
      bands: Int = 8,
      shingleN: Int = 3): DataFrame = {
    // shingle-hash once, reuse for both signature generation and exact
    // verify (Jaccard over hash sets == Jaccard over shingle sets modulo
    // negligible 64-bit collisions; sorted arrays verify by merge walk)
    val sh = docs.select(col("doc_id").as("id"),
      shingleHashes(TextAnalysis.wsTokens(col("text")), shingleN).as("sh")).persist()
    // lazy candidates: the whole candidates→verify→losers chain
    // materializes ONCE at the connectedLosers checkpoint below, instead
    // of an extra eager pass per stage
    val (cand, banded) = candidatesRaw(sh, numHashes, bands)
    val verified = cand
      .join(sh.select(col("id").as("id_a"), col("sh").as("sha")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("sh").as("shb")), "id_b")
      .withColumn("inter", sortedInterUdf(col("sha"), col("shb")).cast(DoubleType))
      .filter(col("inter") / (size(col("sha")) + size(col("shb")) - col("inter")).cast(DoubleType)
        >= threshold)
    // loser ids are tiny — materialize them, release the caches
    val losers = connectedLosers(verified.select("id_a", "id_b"))
      .select(col("node").as("doc_id")).localCheckpoint(true)
    banded.unpersist()
    sh.unpersist()
    docs.join(losers, Seq("doc_id"), "left_anti")
  }

  /** exact n-gram Jaccard for candidate pairs (id_a, id_b) */
  def jaccardVerify(docs: DataFrame, pairs: DataFrame, shingleN: Int = 3): DataFrame = {
    val sh = docs.select(col("doc_id"), TextAnalysis.shingles(col("text"), shingleN).as("sh"))
    pairs
      .join(sh.select(col("doc_id").as("id_a"), col("sh").as("sha")), "id_a")
      .join(sh.select(col("doc_id").as("id_b"), col("sh").as("shb")), "id_b")
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))).cast(DoubleType))
      .withColumn(
        "jaccard",
        col("inter") / (size(col("sha")) + size(col("shb")) - col("inter")).cast(DoubleType))
      .select("id_a", "id_b", "jaccard")
  }

  /** Standalone n-gram Jaccard near-dup pairs via an inverted shingle
    * index: explode shingles, self-join postings (no cross join — only
    * docs sharing a shingle meet), count shared shingles, compute Jaccard.
    */
  def ngramJaccardPairs(
      docs: DataFrame,
      threshold: Double,
      shingleN: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxShingleDf: Int = 10000): DataFrame = {
    // postings carry 64-bit shingle HASHES, not shingle strings: under
    // whitespace tokenization equal shingle strings ⟺ equal token
    // sequences, so hash equality preserves the Jaccard counts (modulo
    // negligible 64-bit collisions) while the inverted-index join
    // shuffles longs instead of n-gram text
    val sh = docs.select(col(idCol).as("id"),
      shingleHashes(TextAnalysis.wsTokens(col(textCol)), shingleN).as("sh")).persist()
    val sizes = sh.select(col("id"), size(col("sh")).as("n"))
    // Stop-shingle cap: the postings self-join is quadratic in a shingle's
    // document frequency, so one boilerplate n-gram shared by millions of
    // web pages would dominate the whole job. Shingles with df >
    // maxShingleDf are dropped from the INDEX only (denominators keep the
    // full sets): pairs held together solely by boilerplate shingles can
    // score below the threshold — a recall-side, never precision-side,
    // deviation. Set maxShingleDf >= corpus size for exact results.
    val postings0 = sh.select(col("id"), explode(col("sh")).as("s"))
    val hot = postings0.groupBy("s").agg(count(lit(1)).as("_df"))
      .filter(col("_df") > maxShingleDf).select("s")
    val postings = postings0.join(hot, Seq("s"), "left_anti")
    val inter = postings.as("a")
      .join(postings.as("b"), col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).cast(DoubleType).as("inter"))
    val out = inter
      .join(sizes.select(col("id").as("id_a"), col("n").as("na")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("n").as("nb")), "id_b")
      .withColumn("jaccard", col("inter") / (col("na") + col("nb") - col("inter")).cast(DoubleType))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
      .localCheckpoint(true) // qualifying pairs are small; free the cache
    sh.unpersist()
    out
  }

  /** Cross-document duplicate-SPAN removal — "exact substring dedup"
    * (Lee et al. 2021, arXiv:2107.06499, the ExactSubstr variant): every
    * run of `n` consecutive whitespace tokens that occurs more than once
    * in the corpus is cut from every occurrence except the first
    * (smallest (doc, position)), so exactly one copy of each boilerplate
    * span survives. Overlapping flagged spans merge via position-set
    * union. The paper's implementation builds one corpus-wide suffix
    * array on a single machine; the Spark shape replaces it with
    * position-anchored rolling n-gram hashes:
    *
    *  1. one primitive map-side pass per doc emits a 64-bit hash per
    *     n-gram start position — only (hash, doc, pos) triples (~24 B)
    *     ever shuffle, never text;
    *  2. one window rank per hash keeps the first occurrence; later
    *     occurrences flag their n token positions for removal;
    *  3. flagged starts fold back per doc (one aggregation at flagged
    *     scale) and a final map-side pass rebuilds the cleaned text.
    *
    * A viral boilerplate gram lands all its occurrences in one rank
    * partition, but per-hash work is linear after the partition sort —
    * no quadratic bucket (contrast LSH candidate pairing, which needs
    * the star-topology guard above). 64-bit hashing stands in for
    * byte-exact span equality: at 10^12 corpus grams the expected
    * collision count is ~0.03 spans, the same trade the MinHash stage
    * makes.
    */
  def dupSpanRemoval(
      docs: DataFrame, n: Int = 10,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val gramUdf = udf { (toks: Seq[String]) =>
      if (toks == null || toks.length < n) Array.empty[Long]
      else {
        val th = toks.map(w =>
          splitmix64(scala.util.hashing.MurmurHash3.stringHash(w).toLong)).toArray
        val out = new Array[Long](th.length - n + 1)
        var i = 0
        while (i + n <= th.length) {
          var acc = 0x6a09e667f3bcc908L
          var j = i
          while (j < i + n) { acc = splitmix64(acc ^ th(j)); j += 1 }
          out(i) = acc
          i += 1
        }
        out
      }
    }
    val rebuildUdf = udf { (toks: Seq[String], starts: Seq[Int]) =>
      val len = if (toks == null) 0 else toks.length
      val cut = new Array[Boolean](len)
      if (starts != null) starts.foreach { s =>
        var p = s
        val end = math.min(s + n, len)
        while (p < end) { cut(p) = true; p += 1 }
      }
      val sb = new StringBuilder
      var kept = 0
      var i = 0
      while (i < len) {
        if (!cut(i)) { if (kept > 0) sb += ' '; sb ++= toks(i); kept += 1 }
        i += 1
      }
      (len, len - kept, sb.result())
    }
    val toks = docs.select(
      col(idCol), TextAnalysis.wsTokens(col(textCol)).as("toks"))
    val occ = toks.select(col(idCol),
      posexplode(gramUdf(col("toks"))).as(Seq("pos", "h")))
    val first = Window.partitionBy("h").orderBy(col(idCol), col("pos"))
    val flagged = occ
      .withColumn("rn", row_number().over(first))
      .filter(col("rn") > 1)
      .groupBy(idCol).agg(collect_list(col("pos")).as("starts"))
    toks
      .join(flagged, Seq(idCol), "left")
      .select(col(idCol), rebuildUdf(col("toks"), col("starts")).as("r"))
      .select(col(idCol),
        col("r._1").cast(LongType).as("n_tokens"),
        col("r._2").cast(LongType).as("n_removed"),
        col("r._3").as("clean"))
  }

  /** splitmix64 finalizer — the standard public-domain 64-bit mixer —
    * widening the 32-bit token hash to a well-distributed 64-bit value.
    */
  private def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** 64-bit SimHash of the token stream (Charikar '02): per-token hash
    * votes per bit position, signature bit = sign of the vote sum.
    *
    * Deliberately a JVM-primitive UDF, not a Catalyst HOF: the tokens×64
    * inner loop is interpreted per-element as a higher-order expression
    * (aggregate/zip_with don't codegen), measured ~3× slower than this
    * tight loop. Signature values are engine-internal (candidates are
    * verified downstream), so the hash only needs determinism.
    */
  private val simhashUdf = udf { (toks: Seq[String]) =>
    val votes = new Array[Int](64)
    if (toks != null) toks.foreach { w =>
      val h = splitmix64(scala.util.hashing.MurmurHash3.stringHash(w).toLong)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) != 0L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  def simhash(text: Column): Column = simhashUdf(TextAnalysis.wsTokens(text))

  /** SimHash near-dup candidates: equal 16-bit block in any of 4 blocks
    * (pigeonhole: hamming distance ≤ 3 guarantees one equal block).
    */
  def simhashCandidates(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sig = docs.select(col(idCol).as("id"), simhash(col(textCol)).as("sig"))
    // persisted: both self-join branches reuse the computed signatures
    // instead of re-hashing every token stream per branch
    val blocked = sig.select(
      col("id"), col("sig"),
      explode(
        transform(sequence(lit(0), lit(3)), b =>
          struct(b.as("blk"),
            call_function("shiftrightunsigned", col("sig"), b * 16).bitwiseAND(lit(0xFFFFL)).as("bv"))))
        .as("bb"))
      .select(col("id"), col("sig"), col("bb.blk").as("blk"), col("bb.bv").as("bv"))
      .persist()
    val out = blocked.as("a")
      .join(blocked.as("b"),
        col("a.blk") === col("b.blk") && col("a.bv") === col("b.bv") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .localCheckpoint(true) // candidate pairs are small; free the cache
    blocked.unpersist()
    out
  }

  /** Storage-side sample dedup — keep last (max value on ties) sample per
    * series per interval (lib/storage/dedup.go:30-70,
    * lib/streamaggr/dedup.go): `-dedup.minScrapeInterval` semantics.
    *
    * Physical shape: TWO codegen'd HashAggregates, not one `max(struct)` —
    * min/max over a struct keeps the struct in the aggregation buffer and
    * forces SortAggregate (the trap measured out of the counter merge,
    * SCALEBENCH r8). Level 1 collapses exact-timestamp duplicates to the
    * max value (the tie rule), so level 2's `max_by(value, ts)` never sees
    * an ordering tie and both buffers stay fixed-width (long/double)
    * pairs. Level 1's map-side combine also absorbs the common HA-pair
    * duplicate writes before the shuffle.
    */
  def dedupSamples(samples: DataFrame, keys: Seq[String], intervalMs: Long): DataFrame = {
    val bucket = expr(s"((ts + ${intervalMs - 1}L) div ${intervalMs}L) * ${intervalMs}L")
    samples
      .withColumn("_bkt", bucket)
      .groupBy((keys.map(col) :+ col("_bkt") :+ col("ts")): _*)
      .agg(max(col("value")).as("value"))
      .groupBy((keys.map(col) :+ col("_bkt")): _*)
      .agg(max(col("ts")).as("ts"), max_by(col("value"), col("ts")).as("value"))
      .select((keys.map(col) :+ col("ts") :+ col("value")): _*)
  }

  /** the canonical label set of `tags` as a grouping key (null tags
    * dedup as the empty set instead of dropping out of a null join key)
    */
  private def labelSet: Column = SeriesId.entries(coalesce(col("tags"), SeriesId.NoTags))

  /** Select-time dedup over the canonical (name, tags, ts, value) frame in
    * ONE pass over the store: a map cannot be a grouping key and carrying
    * it through an aggregation buffer (`any_value(tags)`) forces
    * SortAggregate, so name and the canonical label set (the sorted
    * entries, [[SeriesId.entries]]) ARE the grouping keys and the map is
    * rebuilt from them after the aggregate — no second scan, no restore
    * join. This is the
    * `-dedup.minScrapeInterval` read path (dedup.go:30-70) every consumer
    * (HttpApi reads, SampleStore.compact) goes through.
    */
  def dedupNamedSamples(samples: DataFrame, intervalMs: Long): DataFrame = {
    // a series-bucketed store (SampleStore.readBucketed) carries the
    // persisted _h1/_h2 hash pair: leading the grouping keys with it lets
    // the scan's bucket HashPartitioning satisfy BOTH dedup aggregates
    // (subset clustering) — zero exchanges — and keeping the pair in the
    // output preserves the elision for everything downstream
    val hashed = samples.columns.contains("_h1") && samples.columns.contains("_h2")
    val keys = (if (hashed) Seq("_h1", "_h2") else Nil) ++ Seq("name", "_te")
    val out = dedupSamples(samples.withColumn("_te", labelSet), keys, intervalMs)
      .withColumn("tags", map_from_entries(col("_te")))
    if (hashed) out.select("name", "tags", "ts", "value", "_h1", "_h2")
    else out.select("name", "tags", "ts", "value")
  }

  // ---- multi-level downsampling (-downsampling.period) -----------------

  /** One `[filter:]offset:interval` downsampling level (the reference's
    * enterprise `-downsampling.period` flag, docs/victoriametrics/
    * README.md "Downsampling"): keep the last raw sample per `interval`
    * for samples older than `offset`, optionally only for series
    * matching `selector`. `0s:0s` with a selector exempts those series.
    */
  final case class DownsamplePeriod(
      selector: Option[String], offsetMs: Long, intervalMs: Long)

  /** Parse the flag value, with the documented validation: `offset` a
    * multiple of `interval`, and per-filter interval sets pairwise
    * multiples with distinct offsets. Top-level commas inside `{...}`
    * selectors don't split.
    */
  def parseDownsamplingPeriods(flag: String): Seq[DownsamplePeriod] = {
    // quote-aware scanning shared with -retentionFilter (Lexer.splitTopLevel
    // / selectorEnd): braces/colons/commas inside quoted label values must
    // not split entries or end the selector
    val periods = graft.lang.Lexer.splitTopLevel(flag).map { part =>
      val (sel, rest) =
        if (part.startsWith("{")) {
          val ci = graft.lang.Lexer.selectorEnd(part)
          require(ci > 0 && ci + 1 < part.length && part.charAt(ci + 1) == ':',
            s"cannot parse downsampling period: $part")
          (Some(part.substring(0, ci + 1)), part.substring(ci + 2))
        } else (None, part)
      val xs = rest.split(':')
      require(xs.length == 2,
        s"downsampling period must be in 'offset:interval' format; got $part")
      val off = graft.lang.Lexer.durationMs(xs(0).trim, 0L)
      val iv = graft.lang.Lexer.durationMs(xs(1).trim, 0L)
      require(iv == 0 || off % iv == 0,
        s"downsampling offset must be a multiple of interval; got $part")
      DownsamplePeriod(sel, off, iv)
    }
    periods.groupBy(_.selector).foreach { case (sel, ps) =>
      require(ps.map(_.offsetMs).distinct.size == ps.size,
        s"duplicate downsampling offsets for filter $sel")
      val ivs = ps.map(_.intervalMs).filter(_ > 0).sorted
      ivs.zip(ivs.drop(1)).foreach { case (a, b) =>
        require(b % a == 0,
          s"downsampling intervals for a single filter must be multiples of each other; got $ivs")
      }
    }
    periods
  }

  /** Apply multi-level downsampling to a samples frame (name, tags, ts,
    * value): per sample, the FIRST period filter (in flag order) that
    * matches its series wins, and within that filter the level with the
    * largest `offset` older than the sample applies; series matching no
    * filter are left raw. Keeps the max-timestamp sample per series per
    * end-aligned interval, exactly like [[dedupSamples]].
    *
    * Scale: a pure per-row tier expression followed by ONE hash
    * aggregation keyed on (series, interval, bucket) — the same shape as
    * storage-side dedup, no window, no second shuffle.
    */
  def downsample(samples: DataFrame, periods: Seq[DownsamplePeriod],
      nowMs: Long): DataFrame = {
    val age = lit(nowMs) - col("ts")
    // config-order groups: first matching filter wins (README Downsampling)
    val groupOrder = periods.map(_.selector).distinct
    val interval = groupOrder.foldRight(lit(0L)) { case (sel, acc) =>
      val levels = periods.filter(_.selector == sel).sortBy(-_.offsetMs)
      val chain = levels.foldLeft(when(lit(false), lit(0L))) { (c, p) =>
        c.when(age > lit(p.offsetMs), lit(p.intervalMs))
      }.otherwise(lit(0L))
      val pred = sel.map(graft.api.Api.selectorPredicate).getOrElse(lit(true))
      when(pred, chain).otherwise(acc)
    }
    // same two-level HashAggregate shape as dedupSamples (struct buffers
    // would force SortAggregate); tags travel as the grouping-key label set
    val keyed = samples
      .withColumn("_iv", interval)
      .withColumn("_bkt",
        when(col("_iv") > 0,
          expr("((ts + _iv - 1) div _iv) * _iv")).otherwise(col("ts")))
      .withColumn("_te", labelSet)
    keyed
      .groupBy(col("name"), col("_te"), col("_iv"), col("_bkt"), col("ts"))
      .agg(max(col("value")).as("value"))
      .groupBy(col("name"), col("_te"), col("_iv"), col("_bkt"))
      .agg(max(col("ts")).as("ts"), max_by(col("value"), col("ts")).as("value"))
      .select(col("name"), map_from_entries(col("_te")).as("tags"),
        col("ts"), col("value"))
  }
}
