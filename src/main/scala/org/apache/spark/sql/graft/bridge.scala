/* Bridge into Spark's private[sql] Column <-> Expression conversion —
 * the standard pattern for libraries shipping native Catalyst
 * expressions (the public Column API intentionally hides expression
 * internals since Spark 4's sql-api split). */
package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession, classic}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Statistics}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.types.StructType

object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Ids of the materialized RDDs backing a (local)checkpointed frame —
    * the LogicalRDD leaves of its plan; none for a driver-held frame (a
    * local relation, such as a small [[localCheckpointCount]] result).
    * Lets a cache validate that the blocks behind a truncated-lineage
    * relation still exist (via SparkContext.getRDDStorageInfo) WITHOUT
    * running a job. */
  def checkpointRddIds(df: org.apache.spark.sql.DataFrame): Seq[Int] =
    df.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }

  /** Ids of the columnar cache RDDs behind a `Dataset.persist`ed frame
    * (the InMemoryRelation's cached column buffers). These are what
    * `SparkContext.getPersistentRDDs` registers for a DataFrame-level
    * persist — NOT the LogicalRDD leaves `checkpointRddIds` sees — so a
    * harness that sweeps persistent RDDs between queries needs exactly
    * these ids to spare a session-cached frame. Only LOADED buffers are
    * reported (touching an unloaded builder would instantiate and
    * register its RDD as a side effect of the inspection). */
  def cachedRddIds(df: org.apache.spark.sql.DataFrame): Seq[Int] =
    df.queryExecution.withCachedData.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation
          if r.cacheBuilder.isCachedColumnBuffersLoaded =>
        r.cacheBuilder.cachedColumnBuffers.id
    }

  /** Residency of BROADCAST blocks in this JVM's block manager:
    * (count, bytes mem+disk). Broadcasts are freed by the
    * ContextCleaner only after their driver-side handle is GC'd, so a
    * long single-JVM run can carry hundreds of dead broadcasts between
    * collections — this counter is how a memory-floor probe tells
    * broadcast-cleanup lag from a real leak (bench MEMLOG mode). */
  def broadcastBlockStats(): (Int, Long) = {
    val bm = org.apache.spark.SparkEnv.get.blockManager
    val ids = bm.getMatchingBlockIds(_.isBroadcast)
    val bytes = ids.iterator
      .flatMap(id => bm.getStatus(id).map(s => s.memSize + s.diskSize)).sum
    (ids.size, bytes)
  }

  /** Rows a frame keeps on the driver, the one cutoff for driver-held
    * rows: a transacted delta up to this many rows is a local relation
    * ([[rowsFrame]]), past it one parallelized RDD; a fixpoint round of
    * at most this many rows comes back from [[localCheckpointCount]] as
    * a local relation. Measured on a 4-vCPU VM at `local[4]`, median of
    * 8 warm reads over a delta of n 10-attribute facts, local relation
    * vs folded RDD: a one-pattern read and a two-pattern join are level
    * up to n = 16384 (within ±25 % run to run), then the local relation
    * falls behind (a local relation's rows are copied, hashed and
    * constant-folded by Catalyst on the driver each time a plan over it
    * is built): 289 vs 190 ms and 481 vs 315 ms at n = 65536, 761 vs
    * 328 ms and 1623 vs 521 ms at n = 262144. A cutoff of 4096 costs
    * nothing measurable and keeps a long session off that curve. */
  val FoldRows = 4096

  /** Materialise `df` and return it with its row count, from ONE job.
    * The job runs as one SQL execution over the frame's executed plan
    * (rows copied, since the scan reuses UnsafeRow buffers), as
    * `Dataset.checkpoint` runs it, and each task both writes its
    * partition as a local checkpoint and counts it. The result takes
    * one of two forms:
    *  - at most [[FoldRows]] rows: a `LocalRelation` over the source's
    *    own attributes, and the checkpoint is freed before returning. A
    *    task ships its rows only while it holds at most its share
    *    (`FoldRows` over the partition count), so the driver never
    *    receives more than about `FoldRows` rows; a small frame whose
    *    rows are skewed past one task's share stays checkpointed;
    *  - otherwise a `LogicalRDD.fromDataset` leaf over the checkpoint,
    *    which keeps the source's attributes, `outputPartitioning`,
    *    `outputOrdering` and statistics. Its RDD registers in
    *    getPersistentRDDs (harness sweeps see it) and [[freeCheckpoint]]
    *    releases it. */
  def localCheckpointCount(df: DataFrame): (DataFrame, Long) = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val qe = ds.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("localCheckpoint")) {
      qe.executedPlan.resetMetrics()
      val rdd = qe.executedPlan.execute().map(_.copy())
      rdd.localCheckpoint()
      val share = math.max(1, FoldRows / math.max(1, rdd.getNumPartitions))
      val parts = ds.sparkSession.sparkContext.runJob(rdd, (it: Iterator[InternalRow]) => {
        val kept = Array.newBuilder[InternalRow]
        var n = 0L
        it.foreach { r => n += 1; if (n <= share) kept += r }
        (n, if (n <= share) kept.result() else null)
      })
      val n = parts.iterator.map(_._1).sum
      if (n <= FoldRows && parts.forall(_._2 != null)) {
        rdd.unpersist(blocking = false)
        (classic.Dataset.ofRows(ds.sparkSession,
          LocalRelation(qe.analyzed.output, parts.toSeq.flatMap(_._2.toSeq))), n)
      } else (classic.Dataset.ofRows(ds.sparkSession, LogicalRDD.fromDataset(rdd, ds, ds.isStreaming)), n)
    }
  }

  /** The rows of a frame that is one driver-held leaf (a local relation
    * such as [[localCheckpointCount]] returns), or None. */
  def localRows(df: DataFrame): Option[Seq[InternalRow]] =
    df.queryExecution.analyzed match {
      case r: LocalRelation if !r.isStreaming => Some(r.data)
      case _ => None
    }

  /** External row → compact catalyst row, converted once so every plan
    * over the row reuses it as is. */
  def rowConverter(schema: StructType): Row => UnsafeRow = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    val toUnsafe = UnsafeProjection.create(schema)
    r => toUnsafe(toCatalyst(r).asInstanceOf[InternalRow]).copy()
  }

  /** A frame over driver-held catalyst rows as ONE plan leaf: a local
    * relation up to [[FoldRows]] rows, else one parallelized RDD of at
    * most `defaultParallelism` partitions. The RDD leaf gets the local
    * relation's own size estimate (row width from the schema × rows),
    * so the planner's broadcast choices do not flip when a frame
    * crosses over. Either way its partitions and plan leaves stay
    * constant however many appends built `rows`. */
  def rowsFrame(spark: SparkSession, schema: StructType, rows: Seq[InternalRow]): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val output = DataTypeUtils.toAttributes(schema)
    val plan =
      if (rows.size <= FoldRows) LocalRelation(output, rows)
      else {
        val sc = session.sparkContext
        LogicalRDD(output, sc.parallelize(rows, sc.defaultParallelism))(session,
          Some(Statistics(sizeInBytes = EstimationUtils.getSizePerRow(output) * rows.size)))
      }
    classic.Dataset.ofRows(session, plan)
  }

  /** Release the materialized RDD blocks behind a (local)checkpointed
    * frame — the storage half of `checkpointRddIds`: every LogicalRDD
    * leaf of its plan. Only call once no other live plan reads the
    * frame (graft.core.Fixpoint releases the state each round
    * supersedes this way). Non-blocking; a no-op on a driver-held
    * frame. */
  def freeCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.unpersist(blocking = false): Unit
      case _ =>
    }
}
