package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.Graft
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** One benchmark run: set up, run the workload's closed loop for about
  * `seconds`, and write `result.json` (and, when tracing, `trace.json`)
  * into the run directory.
  *
  * {{{
  * Main <workload> <seed> <seconds> <trace 0|1> <data dir> <run dir> <cores>
  * }}}
  */
object Main {
  /** Person transacts per measured tx_loop episode, and the read spacing:
    * five reads an episode, one of each kind. */
  val EpisodeTx = 15
  val ReadEvery = 3

  private trait Workload {
    def warmUp(): Unit
    /** One measured unit: a tx_loop episode or an sf pass. */
    def unit(i: Int): Unit
    /** Nominal seconds of one unit, reference queries included, on a
      * 4-core box: sets units per run. */
    def unitS: Double
    def opKeys: Seq[String]
    def logPartitions: Long
  }

  def main(args: Array[String]): Unit = {
    val Array(name, seedArg, secondsArg, traceArg, dataDir, runDir, cores) = args
    val seed = seedArg.toLong
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      // keep little Spark UI history: its periodic trimming would
      // otherwise make retained_mb depend on when the trim last ran
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "100")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sparkUpS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val h = new Harness(spark, new Tracer)

    val workload: Workload = name match {
      case "tx_loop" => new Workload {
        private var readIndex = 0
        private var last: Option[Graft] = None
        def warmUp(): Unit = TxLoop.episode(spark, h, seed * 1000, TxLoop.ReadKinds.size, 1, 0)
        def unit(i: Int): Unit = {
          val (next, g) = TxLoop.episode(spark, h, seed * 1000 + i + 1, EpisodeTx, ReadEvery, readIndex)
          readIndex = next
          last = Some(g)
        }
        def unitS: Double = 13
        def opKeys: Seq[String] = TxLoop.ReadKinds
        def logPartitions: Long = last.map(_.session.db.log.rdd.getNumPartitions.toLong).getOrElse(0L)
      }
      case "datalog_sf001" => new Workload {
        private val keys = SfReads.Datalog
        private val runner = new SfReads.Runner(spark, h, dataDir, s"$runDir/results")
        def warmUp(): Unit = {
          val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => keys.contains(k) }
          Files.writeString(Paths.get(s"$runDir/oracle_sql.json"),
            mapper.writeValueAsString(oracle))
          keys.foreach(runner.op)
        }
        def unit(i: Int): Unit = runner.pass(keys, seed * 7919 + i)
        def unitS: Double = 8
        def opKeys: Seq[String] = keys
        def logPartitions: Long = 0L
      }
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    workload.warmUp()
    val reference = Reference(spark, dataDir)
    (1 to 3).foreach(_ => reference())
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val warmupOps = h.records.size

    // a fixed number of whole units per `seconds` (so the work measured
    // does not depend on the speed of the build under test). A traced run
    // traces every other op: each key is traced in one unit and untraced
    // in the next, so trace overhead compares like with like.
    val nUnits = math.max(if (trace) 2 else 1, math.round(seconds / workload.unitS).toInt)
    // the reference query runs after every read of an untraced run only:
    // the gated figures come from untraced runs
    if (!trace) h.reference = Some(reference)
    val t0 = System.nanoTime()
    (0 until nUnits).foreach { u =>
      if (trace) {
        val seen = mutable.Map.empty[String, Int].withDefaultValue(0)
        h.traceWhen = { key =>
          val i = workload.opKeys.indexOf(key) + seen(key) + u
          seen(key) += 1
          i % 2 == 1
        }
      }
      workload.unit(u)
    }
    h.traceWhen = _ => false
    h.reference = None
    h.setTracing(false)
    val refMs = h.referenceMs.toSeq
    // the loop's own time: without the reference queries between ops
    val measuredS = (System.nanoTime() - t0) / 1e9 - refMs.sum / 1000

    // retained: driver heap after a full GC (in local mode this already
    // holds every memory-cached block) plus cached blocks on disk; the
    // pause lets the context cleaner free what the first GC released
    val rt = Runtime.getRuntime
    val heapBytes = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(300)
      rt.totalMemory - rt.freeMemory
    }.min
    val diskBytes = spark.sparkContext.getRDDStorageInfo.map(_.diskSize).sum
    val retainedMb = (heapBytes + diskBytes) / 1e6

    val warmup = h.records.take(warmupOps).toSeq
    val measured = h.records.drop(warmupOps).toSeq
    val untraced = measured.filterNot(_.traced)
    val traced = measured.filter(_.traced)
    val reads = untraced.filter(_.kind == "read").map(_.wallMs)
    val transacts = untraced.filter(_.kind == "transact").map(_.wallMs)

    val opsPerS = measured.size / measuredS
    val refGeomeanMs = Stats.geomean(refMs)
    val e2e = Map(
      // gated: set-up time scaled to a host on which the reference query
      // takes its nominal time, then read cost and throughput in units of
      // the reference query (a traced run runs no reference: its set-up
      // is unscaled and its read figures 0)
      "setup_s" -> (if (refMs.isEmpty) setupS else setupS * Reference.NominalMs / refGeomeanMs),
      "query_rel.geomean" -> (if (refMs.isEmpty) 0.0 else Stats.geomean(reads) / refGeomeanMs),
      "ops_per_ref" -> opsPerS * refGeomeanMs / 1000,
      "retained_mb" -> retainedMb,
      // the same figures in wall time, which a shared host moves by ±30 %
      "setup_wall_s" -> setupS,
      "query_ms.geomean" -> Stats.geomean(reads),
      "query_ms.p50" -> Stats.quantile(reads, 0.5),
      "query_ms.p80" -> Stats.quantile(reads, 0.8),
      "ops_per_s" -> opsPerS,
      "reference_ms.geomean" -> refGeomeanMs,
      // tx_loop only: not an end-to-end metric of every workload
      "transact_ms.p50" -> Stats.quantile(transacts, 0.5),
      "transact_ms.p80" -> Stats.quantile(transacts, 0.8))

    val perLayer: Map[String, Double] = if (!trace) Map.empty else {
      val tReads = traced.filter(_.kind == "read")
      val tTx = traced.filter(_.kind == "transact")
      def mean(rs: Seq[OpRecord], k: String) =
        if (rs.isEmpty) 0.0 else rs.map(_.layers(k)).sum / rs.size
      val readKeys = Seq("core.db_ms", "core.db_jobs", "datalog.compile_ms",
        "datalog.compile_jobs", "plan.ms", "catalyst.analysis_ms",
        "catalyst.optimizer_ms", "catalyst.planning_ms", "exec.ms", "driver_gap_ms",
        "spark.jobs", "spark.stages", "spark.tasks", "spark.task_ms", "spark.gc_ms",
        "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes",
        "materialize.rdds", "materialize.bytes")
      val selfKeys = Seq("op", "transact", "db", "compile", "plan", "execute", "job", "stage")
      readKeys.map(k => k -> mean(tReads, k)).toMap ++
        selfKeys.map(k => s"self.${k}_ms" -> mean(traced, s"self.$k")) ++
        workload.opKeys.flatMap { k =>
          val all = measured.filter(r => r.kind == "read" && r.key == k)
          Seq(s"op.$k.ms" -> Stats.quantile(all.map(_.wallMs), 0.5),
            s"op.$k.jobs" -> mean(all.filter(_.traced), "spark.jobs"))
        } ++ Map(
        "transact.ms" -> Stats.quantile(tTx.map(_.layers("transact.ms")), 0.5),
        "transact.ms.p80" -> Stats.quantile(tTx.map(_.layers("transact.ms")), 0.8),
        "transact.spark_jobs" -> mean(tTx, "transact.spark_jobs"),
        "core.log_partitions" -> workload.logPartitions.toDouble,
        "spark.task_failures" -> traced.map(_.layers("spark.task_failures")).sum,
        "scan.records_per_row" ->
          tReads.map(_.layers("scan.input_records")).sum / math.max(1L, tReads.map(_.rows).sum),
        "materialize.leaked_rdds" -> measured.map(_.leakedRdds).sum.toDouble / measured.size,
        "trace.overhead_pct" -> Stats.traceOverheadPct(measured),
        "trace.spans" -> h.spans.size.toDouble)
    }

    val keyStats = measured.groupBy(_.key).map { case (k, rs) =>
      k -> Map("n" -> rs.size, "failed" -> rs.count(!_.ok),
        "rows" -> rs.headOption.map(_.rows).getOrElse(0L), "ms" -> rs.map(_.wallMs))
    }
    val result = Map(
      "workload" -> name, "seed" -> seed, "trace" -> trace,
      "master" -> spark.sparkContext.master, "cores" -> cores.toInt,
      "loop" -> "closed", "clients" -> 1,
      "measured_s" -> measuredS, "units" -> nUnits,
      "attempted" -> measured.size, "failed" -> measured.count(!_.ok),
      "warmup_ops" -> warmup.size, "warmup_failed" -> warmup.count(!_.ok),
      "spark_up_s" -> sparkUpS, "warmup_ms" -> warmup.map(r => r.key -> r.wallMs),
      "samples" -> Map("query_ms" -> reads.size, "transact_ms" -> transacts.size,
        "reference_ms" -> refMs.size),
      "end_to_end" -> e2e, "reference_ms" -> refMs, "per_layer" -> perLayer, "keys" -> keyStats)
    Files.writeString(Paths.get(s"$runDir/result.json"), mapper.writeValueAsString(result))
    if (trace) {
      val spans = h.spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "start_us" -> s.startUs, "end_us" -> s.endUs))
      val ops = measured.filter(_.traced).map(r => Map("op" -> r.id, "kind" -> r.kind, "key" -> r.key))
      Files.writeString(Paths.get(s"$runDir/trace.json"),
        mapper.writeValueAsString(Map("ops" -> ops, "spans" -> spans)))
    }
    spark.stop()
  }
}

object Stats {
  /** Extra cycle time of traced ops over untraced ops of the same key, as
    * a percentage of the untraced time (keys seen both ways only). */
  def traceOverheadPct(ops: Seq[OpRecord]): Double = {
    val pairs = ops.groupBy(_.key).values.flatMap { rs =>
      val (t, u) = rs.partition(_.traced)
      if (t.isEmpty || u.isEmpty) None
      else Some((t.map(_.cycleMs).sum / t.size, u.map(_.cycleMs).sum / u.size))
    }
    val base = pairs.map(_._2).sum
    if (base == 0) 0.0 else 100.0 * (pairs.map(_._1).sum - base) / base
  }

  /** Geometric mean; 0 for no samples. */
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)

  /** Linearly interpolated quantile; 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
