package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Stage-attribution probe for graph_jaccard at sf0.1: times each
  * subtree (distinct incidence, degree prune + sz window, pair
  * self-join + aggregate, explode + top-k window) so optimization
  * targets the measured stage. */
object ProfileJaccard {
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
    val incidence = graft.core.TestData.read(spark, sfDir, "lineitem")
      .select(col("l_suppkey").as("n"), col("l_partkey").as("it"))
    (1 to 2).foreach { pass =>
      println(s"--- pass $pass ---")
      val ps = incidence.distinct()
      time("ps.distinct count") { ps.count() }
      val kept = ps.join(
          ps.groupBy(col("it")).agg(count(lit(1)).as("ideg"))
            .filter(col("ideg") <= 50).select(col("it")),
          Seq("it"))
        .withColumn("sz", count(lit(1)).over(Window.partitionBy(col("n"))))
        .repartition(spark.sessionState.conf.numShufflePartitions, col("it"))
      time("kept count") { kept.count() }
      val pairs = kept.as("a").join(kept.as("b"),
          col("a.it") === col("b.it") && col("a.n") < col("b.n"))
        .groupBy(col("a.n").as("n1"), col("b.n").as("n2"))
        .agg(count(lit(1)).as("inter"),
          first(col("a.sz")).as("sz1"), first(col("b.sz")).as("sz2"))
      time("pairs agg count") { pairs.count() }
      val scored = pairs.select(explode(array(
          struct(col("n1").as("src"), col("n2").as("dst"),
            col("inter"), col("sz1"), col("sz2")),
          struct(col("n2").as("src"), col("n1").as("dst"),
            col("inter"), col("sz2").as("sz1"), col("sz1").as("sz2")))).as("q"))
        .select(col("q.*"))
        .withColumn("uni", col("sz1") + col("sz2") - col("inter"))
        .withColumn("jaccard", round(col("inter").cast("double") / col("uni"), 6))
      val w = Window.partitionBy(col("src"))
        .orderBy(col("jaccard").desc, col("dst").asc)
      time("full topk count") {
        scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= 5).count()
      }
      time("as benched") {
        graft.SparkEntry.queries("graph_jaccard")(spark, sfDir).count()
      }
    }
    spark.stop()
  }
}
