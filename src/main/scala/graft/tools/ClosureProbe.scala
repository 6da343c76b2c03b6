package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Measures the incremental-view-maintenance win of
  * GraphOps.closureDelta: maintain the reachability closure of a long
  * chain (worst-case closure density: n·(n−1)/2 pairs) under a small
  * edge batch, vs re-running the full fixpoint over the grown edge
  * set. Usage: runMain graft.tools.ClosureProbe [nodes] [deltaEdges]
  */
object ClosureProbe {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toInt else 2000
    val dn = if (args.length > 1) args(1).toInt else 5
    implicit val spark: SparkSession = graft.SparkEntry.localSession(8, 8).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    // many parallel short chains: closure is wide but the fixpoint is
    // shallow (depth 32), the realistic big-graph shape
    val depth = 32
    val chains = n / depth
    val base = (0 until chains).flatMap { c =>
      (0 until depth - 1).map(i => (c * 1000L + i, c * 1000L + i + 1))
    }.toDF("src", "dst")
    val t0 = System.nanoTime()
    val c0 = graft.graph.GraphOps.transitiveClosure(base).localCheckpoint(true)
    val full0 = (System.nanoTime() - t0) / 1e9
    println(f"[probe] base: ${base.count()} edges -> ${c0.count()} closure pairs in $full0%.2f s")
    // delta: dn bridge edges chain i -> chain i+1 (head to head)
    val delta = (0 until dn).map(i => (i * 1000L + depth - 1, (i + 1) * 1000L)).toDF("src", "dst")
    val t1 = System.nanoTime()
    val inc = graft.graph.GraphOps.closureDelta(c0, delta)
    val incN = inc.count()
    val tInc = (System.nanoTime() - t1) / 1e9
    val t2 = System.nanoTime()
    // the bridges stitch chains into one ~dn·depth-long path: the full
    // refixpoint needs rounds ∝ that length (the cost the incremental
    // path avoids — its rounds ∝ new edges per path)
    val re = graft.graph.GraphOps.transitiveClosure(base.unionAll(delta), maxIter = 400)
    val reN = re.count()
    val tRe = (System.nanoTime() - t2) / 1e9
    println(f"[probe] +${dn} edges: incremental $incN rows in $tInc%.2f s; " +
      f"full refixpoint $reN rows in $tRe%.2f s; speedup ${tRe / tInc}%.1fx")
    assert(incN == reN, s"parity violation: $incN vs $reN")
    spark.stop()
  }
}
