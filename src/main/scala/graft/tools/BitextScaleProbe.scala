package graft.tools

import graft.pipeline.{Similarity, TextAnalysis}
import org.apache.spark.sql.functions._

/** Scale probe for [[Similarity.bitextMine]]'s two paths (SCALE_r13):
  * the EXACT path does |X|·|Y| blocked scoring work — linear in rows
  * only while |X| stays fixed, quadratic when both sides grow with the
  * corpus (at copies=100 that is ~10⁴ × the sf0.1 work: ~90 min/pass,
  * which is why the headline 100× probe excludes it) — while the
  * SignLsh ring-bucket path (`planes` > 0, volume-sized here to
  * ~128 vectors/bucket, the measured recall/cost knee) does Σ|bucket|
  * work and is the 100 TB design. Recall parity of the bucketed path
  * is spec-pinned on planted ground truth (GroundTruthSpec
  * "bitextMine"); this probe measures the COST separation at scale.
  *
  * Usage: runMain graft.tools.BitextScaleProbe <sfDir> <exact|bucketed>
  * Prints one JSON line with wall seconds, row count and the plane
  * count used.
  */
object BitextScaleProbe {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val mode = if (args.length > 1) args(1) else "bucketed"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.SparkEntry.localSession(cpus, cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val d = spark.read.parquet(s"$dir/documents.parquet")
    def embd = TextAnalysis.hashEmbedding(d, dims = 64)
      .join(d.select(col("doc_id"), col("lang")), "doc_id")
    val nY = d.filter(col("lang") =!= "en").count()
    // volume-sized planes: ~128 vectors per bucket (0 = exact path),
    // matching the train_bitext_lsh query's sizing;
    // BITEXT_PLANES / BITEXT_RING override for the sizing sweeps
    val planes =
      if (mode == "exact") 0
      else sys.env.get("BITEXT_PLANES").map(_.toInt).getOrElse(
        math.max(4, (math.log(nY / 128.0) / math.log(2)).ceil.toInt))
    val ringBits = sys.env.get("BITEXT_RING").map(_.toInt).getOrElse(2)

    if (mode == "buckets") {
      // diagnostic: RAW vs MEAN-CENTERED sign-bucket histograms of the
      // target shard — hashing-trick embeddings concentrate raw signs
      // in few buckets (a dominant direction), which turns Σ|bucket|
      // into corpus²; centering is the library-wide fix and this line
      // is its occupancy evidence on the real family
      val tgt = embd.filter(col("lang") =!= "en")
      val mean = Similarity.corpusMean(tgt, "vec")
      def hist(label: String, sigCol: org.apache.spark.sql.Column): Unit = {
        val h = tgt.withColumn("b", sigCol)
          .groupBy("b").count().orderBy(col("count").desc).collect()
        val sq = h.map(r => r.getLong(1) * r.getLong(1)).sum
        val top = h.take(4).map(r => r.getLong(0) + ":" + r.getLong(1)).mkString(",")
        println(f"""{"probe":"bucket_occupancy","sign":"$label","planes":$planes,"n":$nY,"n_buckets":${h.length},"max_share":${h.head.getLong(1).toDouble / nY}%.3f,"sum_sq":$sq,"n_sq":${nY * nY},"top":"$top"}""")
      }
      hist("raw",
        graft.functions.VectorExpressions.signLsh(col("vec"), planes))
      hist("centered",
        graft.functions.VectorExpressions.signLsh(col("vec"), planes, mean))
      spark.stop(); return
    }
    if (mode == "parity") {
      // mined-set recall/precision of the bucketed path vs the exact
      // path: exact ⊆ bucketed is the recall contract (restricted
      // candidate neighborhoods deflate avgK → inflate margins, so the
      // approximation errs toward MINING MORE, never dropping a pair
      // whose target co-buckets); the extra-pair ratio is the precision
      // cost, tunable via marginThresh.
      def mined(p: Int): Set[(Long, Long)] =
        Similarity.bitextMine(embd, "doc_id", "vec", "lang", "en",
          planes = p, ringBits = ringBits)
          .filter(col("mined")).select(col("src_id"), col("tgt_id"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val exact = mined(0)
      val lsh = mined(planes)
      println(s"""{"probe":"bitext_parity","dir":"$dir","planes":$planes,""" +
        s""""exact":${exact.size},"lsh":${lsh.size},""" +
        s""""missed":${(exact -- lsh).size},"extra":${(lsh -- exact).size}}""")
      spark.stop(); return
    }
    def run(): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = Similarity.bitextMine(embd, "doc_id", "vec", "lang",
        srcLang = "en", planes = planes, ringBits = ringBits).count()
      ((System.nanoTime() - t0) / 1e9, n)
    }
    run() // warmup: JIT + codegen
    val (sec, rows) = run()
    println(
      f"""{"probe":"bitext_scale","mode":"$mode","dir":"$dir","n_tgt":$nY,"planes":$planes,"sec":$sec%.2f,"rows":$rows}""")
    spark.stop()
  }
}
