package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** 10×-scale viral-duplicate probe for the LSH dedup path (the documents
  * analogue of [[ScaleBench]]'s hot-series probe): 50K docs (10× the
  * sf0.1 table) in two variants —
  *
  *  - `uniform`: every text distinct (hash-derived words);
  *  - `viral`:   30% of all docs are near-copies of ONE template (the
  *               boilerplate-mirror shape of web crawls), each with a
  *               small per-doc suffix so they are NEAR- not exact-dups
  *               and must flow through the full LSH+verify path.
  *
  * Without the hot-bucket star-topology guard in Dedup.candidatesRaw, the
  * viral cluster's (band, bandHash) bucket self-joins into ~15000²/2
  * candidate pairs and the probe does not complete; with it the edge
  * count is linear. Deterministic, writes only under target/.
  */
object DedupScale {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("dedupscale")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val docsN = sys.env.getOrElse("DEDUPSCALE_DOCS", "50000").toLong
    val viralTenths = sys.env.getOrElse("DEDUPSCALE_VIRAL_TENTHS", "3").toInt
    val passes = sys.env.getOrElse("DEDUPSCALE_PASSES", "2").toInt

    // 40 hash-derived "words" per doc; the viral template is doc id -1's
    // body shared verbatim plus a tiny per-copy suffix
    def words(seedCol: org.apache.spark.sql.Column) = concat_ws(" ",
      transform(sequence(lit(1), lit(40)),
        i => conv(abs(xxhash64(seedCol * 41L + i.cast("long"))).cast("string"), 10, 36)))

    def gen(viral: Boolean, outDir: String): Unit = {
      val base = spark.range(docsN)
        .withColumn("_viral", lit(viral) && pmod(col("id"), lit(10)) < viralTenths)
        .select(
          col("id").as("doc_id"),
          when(col("_viral"),
            concat(words(lit(-1L)), lit(" mirror "), pmod(col("id"), lit(7)).cast("string")))
            .otherwise(words(col("id"))).as("text"))
      base.write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    }

    val uniDir = "target/dedupscale/uniform"
    val virDir = "target/dedupscale/viral"
    println(s"[dedupscale] generating $docsN docs (uniform + viral) …")
    gen(viral = false, uniDir)
    gen(viral = true, virDir)

    def run(dir: String): (Double, Long, Long) = {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val t0 = System.nanoTime()
      val kept = graft.pipeline.Dedup.minhashDedup(docs).count()
      val secs = math.round((System.nanoTime() - t0) / 1e6) / 1e3
      val cands = graft.pipeline.Dedup.minhashCandidates(docs).count()
      (secs, kept, cands)
    }

    // warmup
    run(uniDir)
    println(f"${"variant"}%-10s ${"dedup_s"}%10s ${"kept"}%10s ${"cand_pairs"}%12s")
    val rows = Seq("uniform" -> uniDir, "viral" -> virDir).map { case (nm, dir) =>
      val rs = (1 to passes).map(_ => run(dir))
      val best = rs.minBy(_._1)
      println(f"$nm%-10s ${best._1}%10.3f ${best._2}%10d ${best._3}%12d")
      (nm, best)
    }
    val viralKept = rows.find(_._1 == "viral").get._2._2
    val expectKept = docsN - docsN * viralTenths / 10 + 1
    println(s"[dedupscale] viral kept=$viralKept expected≈$expectKept " +
      s"(one survivor from the viral cluster)")
    spark.stop()
  }
}
