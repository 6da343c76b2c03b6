package graft.tools

import graft.graph.GraphOps
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale probe for [[GraphOps.betweenness]]: the oracle fixture (the
  * 25-node nation tree) proves VALUES; this probe demonstrates the
  * O(|P|·E) COST CLAIM — state and per-level work scale with the
  * pivot count × edge count, never all-pairs — on a deterministic
  * expander-style graph big enough for wall time to mean something.
  *
  * Graph: nodes 0..N-1, each with out-edges to (a·i + b) mod N for
  * four fixed (a, b) pairs — constant degree 4, diameter ~log N, no
  * driver-side generation (spark.range + a map-only projection).
  * Pivots stay FIXED at |P| = 8 while N scales, so a ~linear wall
  * trend in N is exactly the design claim; running the same N at
  * |P| = 16 shows the explicit pivot knob.
  *
  * Usage: runMain graft.tools.BetweennessScaleProbe [nNodes] [pivots]
  * Prints one JSON line.
  */
object BetweennessScaleProbe {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 100000L
    val nPivots = if (args.length > 1) args(1).toInt else 8
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.SparkEntry.localSession(cpus, cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    implicit val sp: SparkSession = spark

    // "path" mode: a single directed chain 0→1→…→N-1 — diameter = N,
    // the worst case for per-level plan growth (the settled anti-join
    // used to re-reduce ALL levels each iteration: O(depth²) plans;
    // the maintained checkpointed settled frame makes per-level cost
    // flat, which this mode demonstrates via secs/level)
    val path = args.contains("path")
    val muls = Seq((2L, 1L), (3L, 7L), (5L, 11L), (7L, 13L))
    val edges =
      if (path) spark.range(n - 1).toDF("src")
        .select(col("src"), (col("src") + 1).as("dst"))
      else spark.range(n).toDF("src")
        .select(col("src"), explode(array(muls.map { case (a, b) =>
          pmod(col("src") * a + b, lit(n))
        }: _*)).as("dst"))
        .filter(col("src") =!= col("dst"))
    val pivots =
      if (path) Seq(0L) // one pivot walking the full diameter
      else (0 until nPivots).map(i => i.toLong * (n / nPivots))

    val t0 = System.nanoTime()
    val bc = GraphOps.betweenness(edges, pivots,
      maxIter = if (path) n.toInt + 1 else 50)
    val rows = bc.count()
    val secs = (System.nanoTime() - t0) / 1e9
    val top = bc.orderBy(col("betweenness").desc).limit(3).collect()
      .map(r => f"""[${r.getLong(0)},${r.getDouble(1)}%.1f]""").mkString(",")
    val nEdges = if (path) n - 1 else n * 4
    // resident checkpoint storage at the end of the run: with the
    // superseded-settled release this is the levels+contribs frames
    // (O(depth) rows total on the path graph); without it the retired
    // settled copies pile up O(depth²) rows of blocks
    val storage = spark.sparkContext.getRDDStorageInfo
    val residentMb = storage.map(_.memSize).sum / 1e6
    println(f"""{"probe":"betweenness","mode":"${if (path) "path" else "expander"}","n_nodes":$n,"n_edges":$nEdges,"pivots":${pivots.size},"secs":$secs%.2f,"rows":$rows,"resident_rdds":${storage.length},"resident_mb":$residentMb%.1f,"top3":[$top]}""")
    spark.stop()
  }
}
