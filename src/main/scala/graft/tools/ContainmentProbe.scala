package graft.tools

import graft.pipeline.Dedup
import org.apache.spark.sql.functions._

/** TEMPLATED-corpus probe for [[Dedup.shingleContainment]]'s
  * document-frequency bound (VERDICT r12 item 2): the synthetic scale
  * corpus (scripts/make_scale.py) holds near-dup density constant, so
  * it cannot see the boilerplate quadratic — one 8-gram header shared
  * by a constant FRACTION of docs makes the uncapped self-join's
  * Σ df² grow quadratically in corpus size while the capped shape
  * stays linear. This probe builds that corpus in-memory from a base
  * documents.parquet: `headerFrac` of docs (deterministic: doc_id
  * mod) get an identical 8-token header prepended, replicated
  * `copies`× with shifted ids.
  *
  * Usage:
  *   runMain graft.tools.ContainmentProbe <docsDir> [copies] [frac] [maxDf]
  * Prints one JSON line with capped/uncapped wall seconds and
  * candidate-pair counts (uncapped run is skipped when its candidate
  * count would exceed ~2e9 — the point is the prediction, not the
  * meltdown).
  */
object ContainmentProbe {
  def main(args: Array[String]): Unit = {
    val docsDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val copies = if (args.length > 1) args(1).toInt else 10
    val frac = if (args.length > 2) args(2).toDouble else 0.3
    val maxDf = if (args.length > 3) args(3).toInt else 256
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.SparkEntry.localSession(cpus, cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val base = spark.read.parquet(s"$docsDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val header = "terms of service apply to all content here"
    val mod = math.max(1, math.round(1.0 / frac).toInt)
    val one = base.withColumn("text",
      when(pmod(col("doc_id"), lit(mod)) === 0,
        concat(lit(header + " "), col("text"))).otherwise(col("text")))
    val stride = 10000000L
    val corpus = (0 until copies).map { k =>
      // shifted ids; suffix non-header tokens per copy is NOT needed —
      // the organic text already differs per doc, and the header is
      // the deliberate cross-copy collision under test
      one.select((col("doc_id") + lit(k * stride)).as("doc_id"), col("text"))
    }.reduce(_ unionByName _)
    corpus.localCheckpoint(true) // pay the build once, outside both timings

    val nDocs = corpus.count()
    // predicted candidate volume of the header shingle alone:
    // df = nDocs * frac  ->  df^2 ordered candidate pairs
    val headerDf = math.round(nDocs * frac)
    val predicted = headerDf * headerDf

    def time(mx: Int): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = Dedup.shingleContainment(corpus, n = 8, threshold = 0.5,
        maxDf = mx).count()
      ((System.nanoTime() - t0) / 1e9, n)
    }
    time(maxDf) // warmup: JIT + codegen, so run order doesn't bias
    val (uncappedSec, uncappedRows) =
      if (predicted > 2e9) (-1.0, -1L) else time(Int.MaxValue)
    val (cappedSec, cappedRows) = time(maxDf)
    println(
      f"""{"probe":"containment_templated","docs":$nDocs,"copies":$copies,"header_frac":$frac%.2f,"header_df":$headerDf,"predicted_header_pairs":$predicted,"max_df":$maxDf,"capped_sec":$cappedSec%.2f,"capped_rows":$cappedRows,"uncapped_sec":$uncappedSec%.2f,"uncapped_rows":$uncappedRows}""")
    spark.stop()
  }
}
