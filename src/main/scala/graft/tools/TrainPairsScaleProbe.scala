package graft.tools

import graft.pipeline.{Similarity, TextAnalysis}
import org.apache.spark.sql.functions._

/** Scale probe for [[Similarity.contrastivePairs]] over HASHING-TRICK
  * document embeddings — the mean-dominated family that made the
  * unscreened version quadratic (raw sign-LSH concentrated 65% of
  * sf0.1 docs in ONE bucket → Σ|bucket|² ≈ (0.65·n)²). The miner now
  * buckets on mean-centered signs with volume-sized planes, so pair
  * work should stay ~linear in rows: that is exactly what this probe
  * measures, on exactly the vectors a real fine-tune mining run feeds
  * it (never the synthetic near-zero-mean table, where the pathology
  * cannot show).
  *
  * Usage: runMain graft.tools.TrainPairsScaleProbe [dir]
  * Prints one JSON line: wall secs, row count, plane count, and the
  * max centered-bucket share (the occupancy guard).
  */
object TrainPairsScaleProbe {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.SparkEntry.localSession(cpus, cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val n = docs.count()
    val emb = TextAnalysis.hashEmbedding(docs, dims = 64)
    def run(): (Double, Long) = {
      val t0 = System.nanoTime()
      val rows = Similarity.contrastivePairs(emb, "doc_id", "vec",
        posThresh = 0.9, nHard = 3, corpusSize = n).count()
      ((System.nanoTime() - t0) / 1e9, rows)
    }
    run() // warmup: JIT + codegen
    val (sec, rows) = run()
    // occupancy guard: the centered signing this run bucketed with
    val planes = math.max(3, math.ceil(math.log(n / 64.0) / math.log(2.0)).toInt)
    val counts = Similarity.annIndex(emb, "doc_id", "vec", planes)
      .assigned.groupBy("bucket").count()
      .agg(max(col("count")).as("mx"), sum(col("count")).as("tot"),
        sum(col("count") * col("count")).as("sq"))
      .head()
    val maxShare = counts.getLong(0).toDouble / counts.getLong(1)
    println(f"""{"probe":"train_pairs_scale","dir":"$dir","n_docs":$n,"planes":$planes,"sec":$sec%.2f,"rows":$rows,"max_bucket_share":$maxShare%.4f,"sum_sq":${counts.getLong(2)}}""")
    spark.stop()
  }
}
