package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Stage-attribution probe for the bitext miners: times each subtree
  * of train_bitext / train_bitext_lsh in isolation (noop-equivalent
  * count actions) so an optimization round targets the stage that
  * actually costs, not the one that looks hot in the source. */
object ProfilePieces {
  def time[T](tag: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[profile] $tag: ${(System.nanoTime() - t0) / 1e9}%.3f s")
    r
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.SparkEntry.localSession(cpus.toInt, cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = graft.core.TestData.read(spark, sfDir, "documents")
    // warm up JIT/codegen once
    (1 to 2).foreach { pass =>
      println(s"--- pass $pass ---")
      val embd = time("hashEmbedding build plan + count") {
        val e = graft.pipeline.TextAnalysis.hashEmbedding(docs, dims = 64)
          .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        e.count()
        e
      }
      time("bitextMine exact full") {
        graft.pipeline.Similarity.bitextMine(embd, "doc_id", "vec", "lang",
          srcLang = "en").count()
      }
      time("bitextMine lsh(planes=5) full") {
        graft.pipeline.Similarity.bitextMine(embd, "doc_id", "vec", "lang",
          srcLang = "en", planes = 5).count()
      }
      // what one invocation of the benched query pays (plan built fresh):
      time("train_bitext as benched") {
        graft.SparkEntry.queries("train_bitext")(spark, sfDir).count()
      }
      time("train_bitext_lsh as benched") {
        graft.SparkEntry.queries("train_bitext_lsh")(spark, sfDir).count()
      }
      // A/B: same miner over a MATERIALIZED embedding relation — how
      // much of the benched cost is re-evaluating the embedding
      // subtree once per consumer?
      val ck = time("embd localCheckpoint(true)") {
        val e = graft.pipeline.TextAnalysis.hashEmbedding(docs, dims = 64)
          .join(docs.select(col("doc_id"), col("lang")), "doc_id")
          .localCheckpoint(true)
        e
      }
      time("bitextMine exact over checkpointed embd") {
        graft.pipeline.Similarity.bitextMine(ck, "doc_id", "vec", "lang",
          srcLang = "en").count()
      }
      time("bitextMine lsh(5) over checkpointed embd") {
        graft.pipeline.Similarity.bitextMine(ck, "doc_id", "vec", "lang",
          srcLang = "en", planes = 5).count()
      }
      // fine-grained pieces of the exact path over the checkpointed embd
      val base = ck.select(col("doc_id").as("id"), col("vec"), col("lang"))
        .withColumn("nrm", sqrt(
          graft.functions.VectorExpressions.dot(col("vec"), col("vec"))))
        .filter(col("nrm") > 0)
      val x = base.filter(col("lang") === "en")
      val y = base.filter(col("lang") =!= "en")
      time("x.orderBy.collect") { x.select(col("id")).orderBy(col("id")).collect() }
      val scored = time("kernel blocked count") {
        val sc = graft.pipeline.Similarity.bitextScoreBlocked(x, y, 4)
        sc.count(); sc
      }
      time("kernel + dropDuplicates count") {
        scored.dropDuplicates("src_id", "tgt_id").count()
      }
      time("kernel buckets(5) count") {
        graft.pipeline.Similarity.bitextScoreBuckets(x, y, 5, 4, 2).count()
      }
      ck.unpersist(true)
    }
    spark.stop()
  }
}
