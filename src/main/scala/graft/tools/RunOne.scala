package graft.tools

/** Dev loop helper: run ONE SparkEntry query against a testdata dir and
  * dump its result (and optionally its plan) — the single-operator
  * iteration loop without paying a full Verify pass.
  * Usage: runMain graft.tools.RunOne <name> [sfDir] [explain]
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = graft.SparkEntry.localSession(8, 8).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = graft.SparkEntry.queries(name)(spark, sfDir)
    if (args.contains("explain")) df.explain("formatted")
    val t0 = System.nanoTime()
    if (args.contains("count")) {
      // count-only mode for big outputs: measures the plan without
      // hauling rows to the driver
      val n = df.count()
      println(f"[runone] $name: $n rows (count) in ${(System.nanoTime() - t0) / 1e9}%.2f s")
    } else {
      val rows = df.collect()
      println(f"[runone] $name: ${rows.length} rows in ${(System.nanoTime() - t0) / 1e9}%.2f s")
      rows.take(20).foreach(r => println("[runone] " + r))
    }
    spark.stop()
  }
}
