package graft.tools

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Per-stage attribution for ONE SparkEntry query: attaches a listener,
  * runs the query (1 unmeasured warm pass + 1 measured), and prints
  * every stage of the measured pass with wall duration, summed task
  * time, task count and a callsite hint — the empirical loop of guide
  * §1.1 without the UI (disabled in this harness).
  * Usage: runMain graft.tools.ProfileQuery <name> [sfDir]
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.SparkEntry.localSession(cpus.toInt, cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    case class St(id: Int, nm: String, wallMs: Long, taskMs: Long,
                  tasks: Int, gcMs: Long, shufReadMb: Double,
                  shufWriteMb: Double, rowsOut: Long)
    val stages = mutable.ArrayBuffer.empty[St]
    val taskAgg = mutable.Map.empty[Int, (Long, Int, Long, Long, Long, Long)]
    var record = false
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = if (record) {
        val m = t.taskMetrics
        if (m != null) taskAgg.synchronized {
          val (rt, n, gc, sr, sw, ro) =
            taskAgg.getOrElse(t.stageId, (0L, 0, 0L, 0L, 0L, 0L))
          taskAgg(t.stageId) = (rt + m.executorRunTime, n + 1,
            gc + m.jvmGCTime,
            sr + m.shuffleReadMetrics.totalBytesRead,
            sw + m.shuffleWriteMetrics.bytesWritten,
            ro + m.outputMetrics.recordsWritten)
        }
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        if (record) {
          val i = s.stageInfo
          val wall = (for {a <- i.completionTime; b <- i.submissionTime}
            yield a - b).getOrElse(-1L)
          val (rt, n, gc, sr, sw, ro) =
            taskAgg.synchronized(taskAgg.getOrElse(i.stageId, (0L, 0, 0L, 0L, 0L, 0L)))
          stages.synchronized {
            stages += St(i.stageId, i.name.takeWhile(_ != '\n').take(90),
              wall, rt, n, gc, sr / 1e6, sw / 1e6, ro)
          }
        }
    }
    spark.sparkContext.addSparkListener(listener)
    // warm pass (JIT, codegen, session sidecars)
    graft.SparkEntry.queries(name)(spark, sfDir).count(): Unit
    // sweep per-invocation persists between passes exactly like the
    // bench's sweep — without this, the measured pass runs
    // under the warm pass's leftover blocks (GC-storm artifact).
    graft.core.TestData.sweepUnprotectedRdds(spark, blocking = true)
    Thread.sleep(500)
    record = true
    val t0 = System.nanoTime()
    graft.SparkEntry.queries(name)(spark, sfDir).count(): Unit
    val wall = (System.nanoTime() - t0) / 1e9
    Thread.sleep(500)
    record = false
    println(f"[pq] $name measured pass wall: $wall%.3f s, ${stages.size} stages")
    val sorted = stages.sortBy(-_.wallMs)
    println(f"[pq] ${"id"}%4s ${"wall_ms"}%8s ${"task_ms"}%8s ${"n"}%4s ${"gc_ms"}%6s ${"shR_mb"}%7s ${"shW_mb"}%7s  name")
    sorted.foreach { s =>
      println(f"[pq] ${s.id}%4d ${s.wallMs}%8d ${s.taskMs}%8d ${s.tasks}%4d ${s.gcMs}%6d ${s.shufReadMb}%7.1f ${s.shufWriteMb}%7.1f  ${s.nm}")
    }
    println(f"[pq] sum wall over stages: ${sorted.map(_.wallMs).sum / 1000.0}%.3f s; wall: $wall%.3f s (gap = driver/plan/scheduling)")
    spark.stop()
  }
}
