package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Similarity search over an embedding column (ARRAY<FLOAT>).
  *
  * Baseline: brute-force cosine top-k — exact, used as the correctness
  * oracle and for small query sets (broadcast queries × corpus scan: one
  * pass over the corpus, no shuffle of the corpus itself).
  *
  * Scale path: random-hyperplane LSH buckets (sign of deterministic
  * pseudo-random projections) — candidates only meet inside a bucket;
  * corpus is bucketed once and reused, queries probe their own bucket.
  * At 100 TB the corpus-side design is exactly an IVF index with hash-
  * partitioned posting lists.
  */
object Similarity {

  /** zip_with/aggregate dot product for one-shot per-row use */
  def dotExpr(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x.cast(DoubleType))

  /** The pair-stage dot product is a primitive JVM loop: higher-order
    * Catalyst expressions evaluate interpreted per element, which at
    * n²·dim pair evaluations dominates the all-pairs and bucket joins
    * (same finding as the SimHash voting loop). Sequential summation
    * order matches the expression form, so results are bit-identical.
    */
  private val dotUdf = udf { (a: Array[Double], b: Array[Double]) =>
    // Array args deserialize via UnsafeArrayData.toDoubleArray (one
    // memcpy); the previous Seq[Double] signature built a boxed wrapper
    // per call — measurable at n·queries pair counts. Same arithmetic,
    // same sequential order.
    if (a == null || b == null) None // null rows propagate, like zip_with did
    else {
      var s = 0.0
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { s += a(i) * b(i); i += 1 }
      Some(s)
    }
  }

  def dot(a: Column, b: Column): Column =
    dotUdf(a.cast("array<double>"), b.cast("array<double>"))

  def norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + (x * x).cast(DoubleType)))

  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val n = norm(a) * norm(b)
    when(n > 0, d / n).otherwise(lit(0.0))
  }

  /** unit-normalized copy (zeros stay zero) — computed ONCE per vector on
    * the scan side so the n² pair stage is a bare dot product instead of
    * re-deriving both norms per pair.
    */
  def normalized(vec: Column): Column = {
    val n = norm(vec)
    when(n > 0, transform(vec, x => x.cast(DoubleType) / n))
      .otherwise(transform(vec, x => x.cast(DoubleType) * 0.0))
  }

  /** Spread a narrow corpus scan across the cluster before the CPU-heavy
    * pair stage (opt r14): the embeddings file is small in BYTES (one scan
    * partition), but the work per row downstream is n·dim dot products —
    * the whole normalize+dot+partial-top-k stage inherited the scan's
    * single task (measured: 0.77 s single-task stage = 65% of emb_topk).
    * One cheap round-robin exchange of the raw vectors fixes the width;
    * inputs that are already at least core-parallel are left untouched
    * (re-shuffling a 100 TB corpus's payload would be the §8 anti-pattern).
    * The width comes from the plan's size estimate, not an RDD: a scan
    * splits into at least `par` tasks once its bytes fill `par` max-size
    * splits (the planned partitioning is unknown under AQE).
    */
  private def spread(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    val wide = df.queryExecution.optimizedPlan.stats.sizeInBytes >=
      BigInt(par) * df.sparkSession.sessionState.conf.filesMaxPartitionBytes
    if (wide) df else df.repartition(par)
  }

  /** Brute-force cosine top-k: for each query vector, the k nearest corpus
    * vectors (excluding self-matches by id). Queries are broadcast; the
    * corpus is scanned once. Rank window partitioned per query.
    */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("q_id"), normalized(col(vecCol)).as("q_vec")))
    val c = spread(corpus).select(col(idCol).as("c_id"), normalized(col(vecCol)).as("c_vec"))
    q.crossJoin(c)
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cosine", dot(col("q_vec"), col("c_vec")))
      .withColumn(
        "rank",
        row_number().over(
          Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("c_id").asc)))
      .filter(col("rank") <= k)
      .select("q_id", "c_id", "cosine", "rank")
  }

  /** Deterministic pseudo-random hyperplane component: hash(plane, dim)
    * mapped to ±1. Gives reproducible LSH without shipping a plane matrix.
    */
  private def planeComponent(plane: Int, dim: Column): Column =
    when(pmod(xxhash64(lit(plane), dim), lit(2)) === 0, 1.0).otherwise(-1.0)

  /** nBits-bit signature: sign of <v, h_p> per pseudo-random hyperplane */
  def lshSignature(vec: Column, nBits: Int): Column =
    lshSignatureFrom(vec, nBits, 0)

  /** nBits-bit signature over planes [offset, offset + nBits) — the bands
    * of a longer signature for banded near-dup search share one plane
    * family, so band b of every vector uses the same hyperplanes.
    */
  def lshSignatureFrom(vec: Column, nBits: Int, planeOffset: Int): Column = {
    val bits = transform(sequence(lit(planeOffset), lit(planeOffset + nBits - 1)), p => {
      val proj = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (x, i) => x.cast(DoubleType) * when(pmod(xxhash64(p, i), lit(2)) === 0, 1.0).otherwise(-1.0)),
        lit(0.0), (acc, x) => acc + x)
      when(proj > 0, call_function("shiftleft", lit(1L), p - lit(planeOffset)))
        .otherwise(lit(0L))
    })
    aggregate(bits, lit(0L), (acc, b) => acc.bitwiseOR(b))
  }

  /** LSH-bucketed ANN top-k: candidates = same bucket signature, ranked by
    * exact cosine within the bucket. `probes` > 0 enables multiprobe: the
    * QUERY side additionally visits every bucket one bit-flip away from
    * its signature (nBits+1 buckets per query) — the standard recall
    * knob; the corpus is bucketed ONCE and
    * never replicated, so the scale story is unchanged (IVF posting lists,
    * queries probe more lists).
    */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      nBits: Int = 8,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      probes: Int = 0): DataFrame = {
    val c = corpus.select(
      col(idCol).as("c_id"), normalized(col(vecCol)).as("c_vec"),
      lshSignature(col(vecCol), nBits).as("bkt"))
    val q0 = queries.select(
      col(idCol).as("q_id"), normalized(col(vecCol)).as("q_vec"),
      lshSignature(col(vecCol), nBits).as("bkt0"))
    val q =
      if (probes <= 0) q0.withColumnRenamed("bkt0", "bkt")
      else q0.select(
        col("q_id"), col("q_vec"),
        explode(concat(
          array(col("bkt0")),
          transform(sequence(lit(0), lit(nBits - 1)),
            b => col("bkt0").bitwiseXOR(call_function("shiftleft", lit(1L), b)))))
          .as("bkt"))
    q.join(c, "bkt")
      .filter(col("q_id") =!= col("c_id"))
      .dropDuplicates("q_id", "c_id") // same pair can meet via several probes
      .withColumn("cosine", dot(col("q_vec"), col("c_vec")))
      .withColumn(
        "rank",
        row_number().over(
          Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("c_id").asc)))
      .filter(col("rank") <= k)
      .select("q_id", "c_id", "cosine", "rank")
  }

  // ------------------------------------------------------------------
  // IVF (inverted-file) ANN — the second scale path next to LSH: k-means
  // centroids trained on a corpus sample, corpus partitioned into posting
  // lists by nearest centroid, queries probe only the `nprobe` nearest
  // lists. At 100 TB the posting lists are hash-partitioned by list id and
  // the centroid table (nLists × dim doubles) is broadcast — training
  // touches a bounded sample, search never scans more than nprobe/nLists
  // of the corpus.
  // ------------------------------------------------------------------

  /** per-row nearest-centroid assignment against a broadcast centroid
    * table — a primitive JVM loop for the same reason as [[dotUdf]]
    * (nLists × dim multiply-adds per row dominate via interpreted
    * higher-order exprs). Vectors are unit-normalized upstream, so
    * maximum dot product == nearest by cosine.
    */
  private def nearestUdf(centroids: Array[Array[Double]], top: Int) =
    udf { (v: Seq[Double]) =>
      if (v == null) Seq.empty[Int]
      else {
        val scored = centroids.indices.map { ci =>
          val c = centroids(ci)
          var s = 0.0
          var i = 0
          val n = math.min(c.length, v.length)
          while (i < n) { s += c(i) * v(i); i += 1 }
          (ci, s)
        }
        scored.sortBy { case (ci, s) => (-s, ci) }.take(top).map(_._1)
      }
    }

  /** Train IVF centroids: deterministic sample init (hash-ordered ids),
    * Lloyd iterations fully in DataFrame land — assignment is one scan with
    * the broadcast centroid closure, the update one groupBy average. The
    * driver only ever holds nLists × dim doubles.
    */
  def ivfTrain(
      corpus: DataFrame,
      nLists: Int,
      iters: Int = 5,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Array[Array[Double]] = {
    // materialize the normalized corpus once: every Lloyd iteration and
    // the init sample would otherwise re-scan and re-normalize the
    // source (iters+1 redundant scans)
    val base = corpus.select(col(idCol).as("_id"), normalized(col(vecCol)).as("_v"))
      .filter(size(col("_v")) > 0)
      .localCheckpoint(true)
    // Deterministic pseudo-random sample. This is NOT a global sort:
    // orderBy+limit plans as TakeOrderedAndProject — each partition
    // keeps its top-nLists rows by hash and the driver merges bounded
    // heads, so init is one scan with O(nLists) state per partition at
    // any corpus size (plan verified: TakeOrderedAndProject(limit=16)
    // directly over the file scan, no Exchange).
    var cents: Array[Array[Double]] = base
      .orderBy(xxhash64(col("_id")), col("_id"))
      .limit(nLists)
      .collect()
      .map(_.getSeq[Double](1).toArray)
    var it = 0
    while (it < iters) {
      val assign = nearestUdf(cents, 1)
      val dim = cents.head.length
      val means = base
        .withColumn("_list", assign(col("_v")).getItem(0))
        .groupBy(col("_list"))
        .agg(
          array((0 until dim).map(i => avg(col("_v").getItem(i))): _*).as("_c"),
          count(lit(1)).as("_n"))
        .collect()
      // empty lists keep their previous centroid (standard Lloyd handling)
      val next = cents.clone()
      means.foreach { r =>
        val li = r.getInt(0)
        val c = r.getSeq[Double](1).toArray
        val n = math.sqrt(c.map(x => x * x).sum)
        next(li) = if (n > 0) c.map(_ / n) else cents(li)
      }
      cents = next
      it += 1
    }
    cents
  }

  /** IVF ANN top-k: corpus assigned to its single nearest list once,
    * queries fan out to their `nprobe` nearest lists; exact cosine ranking
    * inside the probed lists only.
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      nLists: Int = 16,
      nprobe: Int = 4,
      iters: Int = 5,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    ivfTopKWith(ivfTrain(corpus, nLists, iters, idCol, vecCol),
      corpus, queries, k, nprobe, idCol, vecCol)

  /** IVF search with PRE-TRAINED centroids — the production shape at
    * scale: train once offline ([[ivfTrain]]), broadcast the (tiny)
    * centroid matrix, serve every query batch without re-clustering
    * (the convenience overload above re-trains per call, which is fine
    * for gates but train-dominated — measured 33 s of a 200K-vector
    * top-k was k-means, the search itself ~3 s).
    */
  def ivfTopKWith(
      cents: Array[Array[Double]],
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      nprobe: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val one = nearestUdf(cents, 1)
    val probe = nearestUdf(cents, math.min(nprobe, cents.length))
    val c = corpus.select(col(idCol).as("c_id"), normalized(col(vecCol)).as("c_vec"))
      .withColumn("_list", one(col("c_vec")).getItem(0))
    val q = queries.select(col(idCol).as("q_id"), normalized(col(vecCol)).as("q_vec"))
      .withColumn("_list", explode(probe(col("q_vec"))))
    q.join(c, "_list")
      .filter(col("q_id") =!= col("c_id"))
      .dropDuplicates("q_id", "c_id") // a pair can meet via several probes
      .withColumn("cosine", dot(col("q_vec"), col("c_vec")))
      .withColumn(
        "rank",
        row_number().over(
          Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("c_id").asc)))
      .filter(col("rank") <= k)
      .select("q_id", "c_id", "cosine", "rank")
  }

  /** Embedding-cosine near-duplicate pairs, BANDED (the MinHash-LSH
    * architecture applied to hyperplane signatures): `bands` independent
    * r-bit signatures per vector; a pair is a candidate when ANY band
    * matches, verified by exact cosine.
    *
    * Scale shape: the bucket self-join is quadratic PER BUCKET, so r must
    * GROW with the corpus to keep expected occupancy bounded — a fixed
    * 8-bit single-table version turned a 100× corpus into a ~10 000×
    * pair scan (measured: 200K × 64-dim vectors = 111 s; auto-sized
    * banded = 8 s, same planted pairs). Auto-sizing targets ~32-member
    * buckets (r = log2(n/32), clamped [8, 20]); recall for a TRUE
    * near-dup pair at cosine c is 1-(1-(1-acos(c)/π)^r)^bands — ≥0.95
    * at c = 0.99 even at r = 20, because the per-plane split probability
    * is acos(c)/π ≤ 4.5 %. Corpus rows replicate ×bands (linear), never
    * pairwise.
    */
  def embeddingNearDupPairs(
      corpus: DataFrame,
      threshold: Double,
      nBits: Int = 0, // per-band bits; 0 = auto-size for ~32-member buckets
      bands: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val r =
      if (nBits > 0) nBits
      else {
        val n = corpus.count()
        math.min(20, math.max(8,
          math.ceil(math.log(math.max(n / 32.0, 2.0)) / math.log(2)).toInt))
      }
    val c0 = corpus.select(col(idCol).as("id"), normalized(col(vecCol)).as("vec"))
    val banded = c0
      .select(col("id"), col("vec"),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"),
            lshSignatureFrom(col("vec"), r, b * r).as("sig"))): _*)).as("bk"))
      .select(col("id"), col("vec"),
        col("bk.band").as("band"), col("bk.sig").as("sig"))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.id") < col("b.id"))
      .withColumn("cosine", dot(col("a.vec"), col("b.vec")))
      .filter(col("cosine") >= threshold)
      // a pair may collide in several bands — one output row per pair
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(first(col("cosine")).as("cosine"))
  }

  /** Exact all-pairs cosine above a threshold — the verification oracle
    * for the LSH path (quadratic; only for sampled verification).
    *
    * NOT a self-join: a nested-loop join materializes both embedding
    * arrays per candidate pair (n²·dim values of row traffic). Instead
    * the normalized corpus broadcasts as a plain matrix (n·dim, a few MB
    * for verification-scale corpora) and each partition streams its rows
    * against it in a primitive loop, emitting only qualifying pairs.
    */
  def bruteForceNearDupPairs(
      corpus: DataFrame,
      threshold: Double,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // The pair loop runs on a dense surrogate index, never on the user's id
    // type (a string id cast to long yields null and NPEs in the encoder).
    // Ordering by the original id before zipWithIndex keeps sid order ==
    // id order, so sid_a < sid_b implies id_a < id_b in the output.
    val prepared = corpus
      .select(col(idCol).as("orig_id"), normalized(col(vecCol)).cast("array<double>").as("vec"))
      .filter(col("orig_id").isNotNull && col("vec").isNotNull)
      .orderBy("orig_id")
    val schema = prepared.schema.add("sid", org.apache.spark.sql.types.LongType)
    val withSid = spark.createDataFrame(
      prepared.rdd.zipWithIndex.map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i) },
      schema)
    val c = withSid.select(col("sid"), col("vec")).as[(Long, Array[Double])]
    val mat = spark.sparkContext.broadcast(c.collect().sortBy(_._1))
    val pairs = c.flatMap { case (idA, vecA) =>
      val all = mat.value
      // start past idA via binary search (pairs are ordered idA < idB)
      var lo = 0
      var hi = all.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (all(mid)._1 <= idA) lo = mid + 1 else hi = mid
      }
      val out = Seq.newBuilder[(Long, Long, Double)]
      var j = lo
      while (j < all.length) {
        val (idB, vecB) = all(j)
        var s = 0.0
        var i = 0
        val n = math.min(vecA.length, vecB.length)
        while (i < n) { s += vecA(i) * vecB(i); i += 1 }
        if (s >= threshold) out += ((idA, idB, s))
        j += 1
      }
      out.result()
    }.toDF("sid_a", "sid_b", "cosine")
    val idsA = withSid.select(col("sid").as("sid_a"), col("orig_id").as("id_a"))
    val idsB = withSid.select(col("sid").as("sid_b"), col("orig_id").as("id_b"))
    pairs.join(broadcast(idsA), "sid_a").join(broadcast(idsB), "sid_b")
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  // ---- int8 scalar quantization ---------------------------------------

  /** Symmetric per-vector int8 quantization of the unit-normalized
    * embedding: scale = 127/max|x|, codes = round(x·scale) stored as one
    * BINARY column — 4–8× smaller than ARRAY<FLOAT/DOUBLE> at rest, in
    * shuffle, and in broadcast (at 100 TB the embedding column IS the
    * byte budget; a 768-dim float corpus quantizes from 3 KB to 770 B per
    * row). Cosine is recovered as dot8(a,b)/(scale_a·scale_b) since the
    * inputs are pre-normalized; the error of 8-bit rounding on unit
    * vectors is ~1e-2, verified by the recall spec.
    */
  private val quantizeUdf = udf { (v: Seq[Double]) =>
    if (v == null) None
    else {
      var maxAbs = 0.0
      v.foreach(x => if (math.abs(x) > maxAbs) maxAbs = math.abs(x))
      val scale = if (maxAbs > 0) 127.0 / maxAbs else 0.0
      val code = new Array[Byte](v.length)
      var i = 0
      while (i < v.length) { code(i) = math.round(v(i) * scale).toByte; i += 1 }
      Some((code, scale))
    }
  }

  /** (id, code BINARY, scale DOUBLE) from an embedding frame */
  def quantizeInt8(
      corpus: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    corpus
      .select(col(idCol).as("id"),
        quantizeUdf(normalized(col(vecCol)).cast("array<double>")).as("q"))
      .select(col("id"), col("q._1").as("code"), col("q._2").as("scale"))

  private val dot8Udf = udf { (a: Array[Byte], b: Array[Byte]) =>
    if (a == null || b == null) None
    else {
      var s = 0L
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { s += a(i).toLong * b(i); i += 1 }
      Some(s)
    }
  }

  /** Brute-force top-k over int8 codes: identical plan shape to
    * [[bruteForceTopK]] (broadcast queries × one corpus scan) but the
    * pair stage moves 1 byte per dimension instead of 8 and multiplies
    * integers. `approx_cosine` carries the rescaled score.
    */
  def bruteForceTopKInt8(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(quantizeInt8(queries, idCol, vecCol)
      .select(col("id").as("q_id"), col("code").as("q_code"), col("scale").as("q_scale")))
    val c = quantizeInt8(spread(corpus), idCol, vecCol)
      .select(col("id").as("c_id"), col("code").as("c_code"), col("scale").as("c_scale"))
    q.crossJoin(c)
      .filter(col("q_id") =!= col("c_id") &&
        col("q_scale") > 0 && col("c_scale") > 0)
      .withColumn("approx_cosine",
        dot8Udf(col("q_code"), col("c_code")).cast(DoubleType) /
          (col("q_scale") * col("c_scale")))
      .withColumn(
        "rank",
        row_number().over(
          Window.partitionBy(col("q_id"))
            .orderBy(col("approx_cosine").desc, col("c_id").asc)))
      .filter(col("rank") <= k)
      .select("q_id", "c_id", "approx_cosine", "rank")
  }

  // ---- product quantization (PQ) ---------------------------------------

  /** Train PQ codebooks: split the (normalized) dimension into `m`
    * subspaces and run Lloyd's k-means with `k` codewords per subspace.
    * All subspaces train together — ONE explode to (id, subspace,
    * subvector) rows, checkpointed once, then one groupBy(subspace,
    * codeword) per iteration; init is m bounded TakeOrdered scans (the
    * IVF init pattern). At the 100-TB scale the corpus passed here is a
    * bounded training sample (standard PQ practice); encode/query scale
    * to the full corpus.
    * Returns codebooks(m)(k)(subDim).
    */
  def pqTrain(corpus: DataFrame, m: Int = 8, k: Int = 16, iters: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): Array[Array[Array[Double]]] = {
    val base = corpus.select(col(idCol).as("_id"), normalized(col(vecCol)).as("_v"))
      .filter(size(col("_v")) > 0)
    val dim = base.select(size(col("_v"))).head().getInt(0)
    require(dim % m == 0, s"embedding dim $dim must be a multiple of m=$m")
    val sub = dim / m
    val svs = base.select(col("_id"),
      posexplode(transform(sequence(lit(0), lit(m - 1)),
        i => slice(col("_v"), i * lit(sub) + 1, lit(sub)))))
      .toDF("_id", "_mi", "_s")
      .localCheckpoint(true)
    val books: Array[Array[Array[Double]]] = (0 until m).map { mi =>
      svs.filter(col("_mi") === mi)
        .orderBy(xxhash64(col("_id"), lit(mi)), col("_id"))
        .limit(k).collect().map(_.getSeq[Double](2).toArray)
    }.toArray
    var it = 0
    while (it < iters) {
      val cur = books.map(_.map(_.clone()))
      val assign = udf { (mi: Int, s: Seq[Double]) =>
        val book = cur(mi)
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < book.length) {
          var d = 0.0; var i = 0
          while (i < s.length) { val t = s(i) - book(c)(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        best
      }
      svs.withColumn("_c", assign(col("_mi"), col("_s")))
        .groupBy(col("_mi"), col("_c"))
        .agg(array((0 until sub).map(i => avg(col("_s").getItem(i))): _*).as("_mean"))
        .collect()
        .foreach { r => // empty cells keep their previous codeword (Lloyd)
          books(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray
        }
      it += 1
    }
    books
  }

  /** Encode each vector as m codeword bytes (nearest sub-centroid per
    * subspace) — 1 byte per subspace vs 4 per float dimension, the
    * compression that lets a 100-TB embedding corpus sit in memory.
    */
  def pqEncode(corpus: DataFrame, books: Array[Array[Array[Double]]],
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val m = books.length
    val sub = books(0)(0).length
    val enc = udf { (v: Seq[Double]) =>
      val out = new Array[Byte](m)
      var mi = 0
      while (mi < m) {
        val book = books(mi)
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < book.length) {
          var d = 0.0; var i = 0
          while (i < sub) { val t = v(mi * sub + i) - book(c)(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        out(mi) = best.toByte
        mi += 1
      }
      out
    }
    corpus.select(col(idCol).as("c_id"),
      enc(normalized(col(vecCol)).cast("array<double>")).as("code"))
  }

  /** PQ asymmetric-distance top-k: per query, a lookup table of
    * (subspace × codeword) partial dot products against the NORMALIZED
    * query; a corpus row's approximate cosine is the sum of its m table
    * entries. Queries+LUTs broadcast, corpus codes scanned once —
    * byte-per-subspace traffic in the pair stage, same plan shape as the
    * int8 path. Exact re-ranking of the survivors is [[bruteForceTopK]]
    * on the candidate ids.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame,
      books: Array[Array[Array[Double]]], k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val m = books.length
    val sub = books(0)(0).length
    val lutUdf = udf { (q: Seq[Double]) =>
      books.zipWithIndex.map { case (book, mi) =>
        book.map { cw =>
          var s = 0.0; var i = 0
          while (i < sub) { s += q(mi * sub + i) * cw(i); i += 1 }
          s
        }.toSeq
      }.toSeq
    }
    val score = udf { (lut: Seq[Seq[Double]], code: Array[Byte]) =>
      var s = 0.0; var mi = 0
      while (mi < code.length) { s += lut(mi)(code(mi) & 0xff); mi += 1 }
      s
    }
    val q = broadcast(queries.select(col(idCol).as("q_id"),
      lutUdf(normalized(col(vecCol)).cast("array<double>")).as("_lut")))
    val codes = pqEncode(corpus, books, idCol, vecCol)
    q.crossJoin(codes)
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("approx_cosine", score(col("_lut"), col("code")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("approx_cosine").desc, col("c_id").asc)))
      .filter(col("rank") <= k)
      .select("q_id", "c_id", "approx_cosine", "rank")
  }

  // ---- SemDeDup: semantic (embedding-space) deduplication --------------

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * k-means cluster the unit-normalized embeddings (reusing [[ivfTrain]]),
    * emit intra-cluster pairs with cosine ≥ threshold, union-find the dup
    * graph, keep the min-id representative of each semantic group.
    *
    * The clustering is what makes this tractable at 100 TB: pairwise
    * comparison happens only inside a cluster, so with k ∝ N/targetSize
    * the per-cluster work stays bounded and the whole pass is one
    * broadcast-assignment scan + one within-cluster join whose left and
    * right sides are co-partitioned on the cluster id (a single shuffle
    * each). Cross-cluster near-dups are missed by construction — the
    * paper's accepted trade-off; nClusters = 1 degrades to exact
    * all-pairs (used as the spec's oracle).
    */
  def semanticDedup(
      corpus: DataFrame,
      threshold: Double,
      nClusters: Int = 16,
      iters: Int = 5,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val pairs = semanticDupPairs(corpus, threshold, nClusters, iters, idCol, vecCol)
    val losers = Dedup.connectedLosers(
      pairs.select(col("id_a"), col("id_b")))
    corpus.join(
      losers.withColumnRenamed("node", idCol),
      Seq(idCol), "left_anti")
  }

  /** intra-cluster cosine pairs ≥ threshold (the SemDeDup candidate graph).
    *
    * Physical shape: ONE shuffle of (id, vec, cluster) on the cluster id,
    * then a per-cluster primitive-array pair loop (`flatMapGroups`). A
    * self-join on the cluster id computes the same thing but materializes
    * both embedding arrays per CANDIDATE pair through the sort-merge join
    * (measured 5.6 s vs 0.9 s at 2 000×64-dim, 8 clusters); the loop
    * touches each array once per group and emits only qualifying pairs.
    * Per-task memory is one cluster's vectors — the SemDeDup contract
    * (k ∝ N/targetClusterSize keeps clusters bounded); a degenerate
    * all-in-one-cluster corpus degrades to the brute-force quadratic,
    * which is what SemDeDup itself does in that regime.
    */
  def semanticDupPairs(
      corpus: DataFrame,
      threshold: Double,
      nClusters: Int = 16,
      iters: Int = 5,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // The pair loop runs on a dense surrogate index, never on the user's
    // id type (string doc ids are the common case for this pipeline; an
    // encoder cast to Long NPEs at runtime — same contract as
    // bruteForceNearDupPairs). Ordering by the original id before
    // zipWithIndex keeps sid order == id order, so sid_a < sid_b implies
    // id_a < id_b in the restored output.
    val prepared = corpus
      .select(col(idCol).as("orig_id"),
        normalized(col(vecCol)).cast("array<double>").as("vec"))
      .filter(col("orig_id").isNotNull && size(col("vec")) > 0)
      .orderBy("orig_id")
    val schema = prepared.schema.add("sid", org.apache.spark.sql.types.LongType)
    // persisted: ivfTrain's per-iteration actions, the pair job and the
    // two id-restore joins all read this frame — uncached, each action
    // would recompute the sort + zipWithIndex stages (the minhashDedup
    // persist-then-release house pattern)
    val withSid = spark.createDataFrame(
      prepared.rdd.zipWithIndex.map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i) },
      schema).persist()
    val cents = ivfTrain(withSid, nClusters, iters, "sid", "vec")
    val one = nearestUdf(cents, 1)
    val pairs = withSid
      .select(col("sid"), col("vec"))
      .withColumn("_cl", one(col("vec")).getItem(0))
      .as[(Long, Array[Double], Int)]
      .groupByKey(_._3)
      .flatMapGroups { (_, rows) =>
        val members = rows.map { case (id, vec, _) => (id, vec) }.toArray
        java.util.Arrays.sort(members, Ordering.by[(Long, Array[Double]), Long](_._1))
        val out = Seq.newBuilder[(Long, Long, Double)]
        var i = 0
        while (i < members.length) {
          val (idA, va) = members(i)
          var j = i + 1
          while (j < members.length) {
            val (idB, vb) = members(j)
            var s = 0.0
            var k = 0
            val n = math.min(va.length, vb.length)
            while (k < n) { s += va(k) * vb(k); k += 1 }
            if (s >= threshold) out += ((idA, idB, s))
            j += 1
          }
          i += 1
        }
        out.result()
      }
      .toDF("sid_a", "sid_b", "cosine")
    // restore original ids (dup pairs ≪ corpus — AQE broadcasts the pair
    // side), then materialize the small result and release the cache
    val out = pairs
      .join(withSid.select(col("sid").as("sid_a"), col("orig_id").as("id_a")), "sid_a")
      .join(withSid.select(col("sid").as("sid_b"), col("orig_id").as("id_b")), "sid_b")
      .select(col("id_a"), col("id_b"), col("cosine"))
      .localCheckpoint(true)
    withSid.unpersist()
    out
  }
}
