package perfbench

import graft.core.TestData
import graft.datalog.Compiler
import org.apache.spark.perfbench.ListenerBusAccess
import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.util.control.NonFatal

/** One span of the trace: times are epoch microseconds. */
final case class Span(id: Int, parent: Int, op: Int, name: String, startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

/** One op of the closed loop: `wallMs` is the op itself, `cycleMs` adds
  * the checks and bookkeeping after it. `layers` is empty for untraced ops. */
final case class OpRecord(id: Int, kind: String, key: String, wallMs: Double,
                          cycleMs: Double, ok: Boolean, rows: Long, traced: Boolean,
                          leakedRdds: Int, layers: Map[String, Double])

/** Runs ops one after another (closed loop, one client) and times each
  * from outside: the op as a whole, and when tracing, the calls into
  * each layer (`Op.span`) plus the Spark jobs and stages the op caused.
  * Correctness checks, trace analysis and the sweep of leaked
  * materialisations all run after the op's timer has stopped. */
final class Harness(spark: SparkSession, tracer: Tracer) {
  private val sc = spark.sparkContext
  private val baseEpochUs = System.currentTimeMillis() * 1000
  private val baseNano = System.nanoTime()
  def nowUs(): Long = baseEpochUs + (System.nanoTime() - baseNano) / 1000

  val records = mutable.ArrayBuffer.empty[OpRecord]
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextOp = 0
  private var nextSpan = 0
  private def spanId(): Int = { nextSpan += 1; nextSpan }

  /** When set, runs after every read, outside the read's timer; its
    * latencies go to `referenceMs` (see [[Reference]]). */
  var reference: Option[() => Unit] = None
  val referenceMs = mutable.ArrayBuffer.empty[Double]

  /** Decides per op (by key) whether to trace it; the listener is only
    * registered while an op is traced, so untraced ops pay nothing for it. */
  var traceWhen: String => Boolean = _ => false
  private var tracing = false
  def setTracing(on: Boolean): Unit = if (on != tracing) {
    tracing = on
    if (on) {
      sc.addSparkListener(tracer)
      spark.listenerManager.register(tracer)
    } else {
      sc.removeSparkListener(tracer)
      spark.listenerManager.unregister(tracer)
    }
  }

  final class Op private[Harness] (val id: Int) {
    private[Harness] val layerSpans = mutable.ArrayBuffer.empty[Span]
    /** Time one call into a layer (a no-op wrapper when not tracing). */
    def span[T](name: String)(f: => T): T =
      if (!tracing) f
      else {
        val s = nowUs()
        try f finally layerSpans += Span(spanId(), -1, id, name, s, nowUs())
      }
  }

  /** Run one op: `body` is timed, `check` (rows, correct) is not. */
  def run[T](kind: String, key: String)(body: Op => T)(check: T => (Long, Boolean)): OpRecord = {
    nextOp += 1
    val op = new Op(nextOp)
    setTracing(traceWhen(key))
    sc.setLocalProperty(Tracer.OpProperty, op.id.toString)
    if (tracing) tracer.currentOp = op.id
    val s0 = nowUs()
    val t0 = System.nanoTime()
    val result: Either[Throwable, T] =
      try Right(body(op)) catch { case NonFatal(e) => Left(e) }
    val wallMs = (System.nanoTime() - t0) / 1e6
    val s1 = nowUs()
    sc.setLocalProperty(Tracer.OpProperty, null)
    val layers = if (tracing) analyse(op, s0, s1) else Map.empty[String, Double]
    val (rows, ok) = result match {
      case Right(v) =>
        try check(v) catch { case NonFatal(e) =>
          System.err.println(s"[perfbench] $key check failed: $e"); (0L, false)
        }
      case Left(e) =>
        System.err.println(s"[perfbench] $key threw: $e"); (0L, false)
    }
    if (!ok && result.isRight) System.err.println(s"[perfbench] $key returned a wrong result")
    val leaked = sweep()
    val rec = OpRecord(op.id, kind, key, wallMs, (System.nanoTime() - t0) / 1e6, ok, rows,
      tracing, leaked, layers)
    records += rec
    if (kind == "read") reference.foreach { q =>
      val r0 = System.nanoTime()
      q()
      referenceMs += (System.nanoTime() - r0) / 1e6
    }
    rec
  }

  /** Count the persistent RDDs an op left behind (anything the session
    * does not deliberately keep), then free them. */
  private def sweep(): Int = {
    val keep = Compiler.protectedRddIds(spark) ++ TestData.protectedRddIds(spark)
    val leaked = sc.getPersistentRDDs.filterNot { case (id, _) => keep(id) }
    leaked.values.foreach(_.unpersist(blocking = true))
    leaked.size
  }

  /** Length of the union of `intervals` clipped to [lo, hi]. */
  private def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }

  private def analyse(op: Op, s0: Long, s1: Long): Map[String, Double] = {
    ListenerBusAccess.drain(sc)
    val (jobs, stagesByJob, c) = tracer.take(op.id)
    tracer.currentOp = -1
    val root = Span(spanId(), 0, op.id, "op", s0, s1)
    val layerSpans = op.layerSpans.map(_.copy(parent = root.id)).toSeq
    val jobSpans = mutable.ArrayBuffer.empty[(Span, String)] // span, enclosing layer
    val stageSpans = mutable.ArrayBuffer.empty[Span]
    jobs.foreach { j =>
      val startUs = j.startMs * 1000
      val owner = layerSpans.find(s => s.startUs <= startUs + 1000 && startUs <= s.endUs)
      val js = Span(spanId(), owner.getOrElse(root).id, op.id, "job", startUs, j.endMs * 1000)
      jobSpans += (js -> owner.map(_.name).getOrElse("op"))
      stagesByJob.getOrElse(j.jobId, Nil).foreach { st =>
        stageSpans += Span(spanId(), js.id, op.id, "stage", st.submitMs * 1000, st.endMs * 1000)
      }
    }
    val all = Seq(root) ++ layerSpans ++ jobSpans.map(_._1) ++ stageSpans
    spans ++= all
    val children = all.groupBy(_.parent)
    val self = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    all.foreach { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.startUs, k.endUs))
      self(s.name) += (s.durUs - covered(kids, s.startUs, s.endUs)) / 1000.0
    }
    def ms(name: String) = layerSpans.filter(_.name == name).map(_.durUs).sum / 1000.0
    def jobsIn(name: String) = jobSpans.count(_._2 == name).toDouble
    val stageIntervals = stageSpans.map(s => (s.startUs, s.endUs)).toSeq
    val gapMs = layerSpans.filter(_.name == "execute")
      .map(e => (e.durUs - covered(stageIntervals, e.startUs, e.endUs)) / 1000.0).sum
    Map(
      "transact.ms" -> ms("transact"), "transact.spark_jobs" -> jobsIn("transact"),
      "core.db_ms" -> ms("db"), "core.db_jobs" -> jobsIn("db"),
      "datalog.compile_ms" -> ms("compile"), "datalog.compile_jobs" -> jobsIn("compile"),
      "plan.ms" -> ms("plan"),
      "catalyst.analysis_ms" -> c.analysisMs.toDouble,
      "catalyst.optimizer_ms" -> c.optimizerMs.toDouble,
      "catalyst.planning_ms" -> c.planningMs.toDouble,
      "exec.ms" -> ms("execute"), "driver_gap_ms" -> gapMs,
      "spark.jobs" -> jobs.size.toDouble, "spark.stages" -> stageSpans.size.toDouble,
      "spark.tasks" -> c.tasks.toDouble, "spark.task_ms" -> c.taskMs.toDouble,
      "spark.gc_ms" -> c.gcMs.toDouble,
      "spark.shuffle_read_bytes" -> c.shuffleReadBytes.toDouble,
      "spark.shuffle_write_bytes" -> c.shuffleWriteBytes.toDouble,
      "spark.spill_bytes" -> c.spillBytes.toDouble,
      "spark.task_failures" -> c.taskFailures.toDouble,
      "scan.input_records" -> c.inputRecords.toDouble,
      "materialize.rdds" -> c.materializedRdds.size.toDouble,
      "materialize.bytes" -> c.materializedBytes.toDouble
    ) ++ Seq("op", "transact", "db", "compile", "plan", "execute", "job", "stage")
      .map(n => s"self.$n" -> self(n))
  }
}
