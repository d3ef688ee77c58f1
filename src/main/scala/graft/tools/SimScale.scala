package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical similarity-search scale probe (the ANN analogue of
  * ScaleBench): the emb_* gates run on ≤2K vectors, so the recall and
  * wall-time story above that was plan-inspection only. Generates a
  * deterministic N-vector corpus (default 200K = 100× sf0.1) with
  * planted near-duplicate clusters, then measures brute-force ground
  * truth vs LSH / IVF / PQ top-k recall and the near-dup pair scan.
  *
  * Data: 64-dim vectors, each component xxhash64(id, dim)-derived in
  * [-1, 1); every 100th id is a near-copy of its cluster head (head id =
  * id - id%100) with a small deterministic perturbation — so
  * `embeddingNearDupPairs` has a known planted answer set.
  * Lands under target/simscale/, never /root/testdata. (not a driver
  * surface; safe to delete)
  */
object SimScale {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("simscale")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.pipeline.Similarity

    val n = sys.env.getOrElse("SIMSCALE_N", "200000").toLong
    val dims = 64
    val dir = "target/simscale/corpus.parquet"

    // deterministic corpus: component j of id = hash(id, j) → [-1, 1);
    // ids with id%100 == 1..2 are near-copies of head (id - id%100)
    val headId = expr("id - pmod(id, 100L)")
    val isDup = expr("pmod(id, 100L) IN (1, 2) AND id - pmod(id, 100L) + 2 < " + n)
    val baseOf = when(isDup, headId).otherwise(col("id"))
    val comp = (src: org.apache.spark.sql.Column, j: Int) =>
      (pmod(xxhash64(src, lit(j)), lit(20000L)).cast("double") / 10000.0 - 1.0)
    val perturb = (j: Int) =>
      when(isDup, (pmod(xxhash64(col("id"), lit(j + 1000)), lit(100L)).cast("double") / 10000.0))
        .otherwise(lit(0.0))
    println(s"[simscale] generating $n vectors …")
    spark.range(n)
      .select(col("id").as("vec_id"),
        array((0 until dims).map(j => (comp(baseOf, j) + perturb(j)).cast("float")): _*)
          .as("embedding"))
      .write.mode("overwrite").parquet(dir)
    val corpus = spark.read.parquet(dir)
    // queries = sampled cluster HEADS: each has two planted near-copies
    // (head+1, head+2), so top-k recall has real neighbor structure to
    // find — random-vector top-10 on a uniform corpus is noise-ranking
    // and understates every ANN method equally
    val queries = corpus.filter(
      pmod(col("vec_id"), lit(100L)) === 0 && pmod(col("vec_id"), lit(4000L)) === 0)
    val k = 10

    def time[A](label: String)(f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = f
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[simscale] $label: $s%.2f s")
      (r, math.round(s * 100) / 100.0)
    }

    def asSet(df: DataFrame): Map[Long, Set[Long]] =
      df.select("q_id", "c_id").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }

    val (truth, tBrute) = time("brute-force ground truth")(
      asSet(Similarity.bruteForceTopK(corpus, queries, k)))
    def recall(approx: Map[Long, Set[Long]]): Double = {
      val per = truth.map { case (q, t) =>
        approx.get(q).map(a => (a & t).size.toDouble / t.size).getOrElse(0.0)
      }
      math.round(per.sum / per.size * 1000) / 1000.0
    }
    // planted recall: did the method surface the two known near-copies?
    def planted(approx: Map[Long, Set[Long]]): Double = {
      val per = truth.keys.map { q =>
        approx.get(q).map(a => (a & Set(q + 1, q + 2)).size / 2.0).getOrElse(0.0)
      }.toSeq
      math.round(per.sum / per.size * 1000) / 1000.0
    }
    val (lsh, tLsh) = time("LSH top-k (multiprobe)")(
      asSet(Similarity.lshTopK(corpus, queries, k, nBits = 8, probes = 2)))
    val (cents, tIvfTrain) = time("IVF train (64 lists)")(
      Similarity.ivfTrain(corpus, nLists = 64))
    val (ivf, tIvf) = time("IVF search (pre-trained, nprobe 8)")(
      asSet(Similarity.ivfTopKWith(cents, corpus, queries, k, nprobe = 8)))
    val (pq, tPq) = time("PQ top-k (ADC candidates)") {
      val books = Similarity.pqTrain(corpus)
      asSet(Similarity.pqTopK(corpus, queries, books, k))
    }

    val (dups, tDup) = time("near-dup pair scan") {
      Similarity.embeddingNearDupPairs(corpus, threshold = 0.99).count()
    }
    // planted pairs: per full cluster of {head, head+1, head+2}: 3 pairs
    val clusters = n / 100
    println(s"[simscale] near-dup pairs found=$dups planted-clusters=$clusters")

    println(f"[simscale] RESULT n=$n brute=${tBrute}s | " +
      f"lsh=${tLsh}s recall=${recall(lsh)} planted=${planted(lsh)} | " +
      f"ivfTrain=${tIvfTrain}s ivfSearch=${tIvf}s recall=${recall(ivf)} planted=${planted(ivf)} | " +
      f"pq=${tPq}s recall=${recall(pq)} planted=${planted(pq)} | " +
      f"nearDup=${tDup}s pairs=$dups")
    spark.stop()
  }
}
