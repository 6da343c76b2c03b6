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
    * the LogicalRDD leaves of its plan. Lets a cache validate that the
    * blocks behind a truncated-lineage relation still exist (via
    * SparkContext.getRDDStorageInfo) WITHOUT running a job. */
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

  /** `Dataset.localCheckpoint(eager = true)` that also RETURNS the
    * row count, from the same single job. The eager checkpoint already
    * runs one materializing job and discards what it saw, so a loop
    * that needs a per-round emptiness or progress test would pay a
    * second job for it. Built the way `Dataset.checkpoint` builds its
    * result: the job runs as one SQL execution over the frame's
    * executed plan (rows copied, since the scan reuses UnsafeRow
    * buffers), and the frame is a `LogicalRDD.fromDataset` leaf, which
    * keeps the source's attributes, `outputPartitioning`,
    * `outputOrdering` and statistics. The one difference is the job: a
    * `count` that keeps its result, where the checkpoint runs its own
    * pass. The RDD registers in getPersistentRDDs (harness sweeps see
    * it) and [[freeCheckpoint]] releases it. */
  def localCheckpointCount(df: DataFrame): (DataFrame, Long) = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val qe = ds.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("localCheckpoint")) {
      qe.executedPlan.resetMetrics()
      val rdd = qe.executedPlan.execute().map(_.copy())
      rdd.localCheckpoint()
      val n = rdd.count()
      (classic.Dataset.ofRows(ds.sparkSession, LogicalRDD.fromDataset(rdd, ds, ds.isStreaming)), n)
    }
  }

  /** External row → compact catalyst row, converted once so every plan
    * over the row reuses it as is. */
  def rowConverter(schema: StructType): Row => UnsafeRow = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    val toUnsafe = UnsafeProjection.create(schema)
    r => toUnsafe(toCatalyst(r).asInstanceOf[InternalRow]).copy()
  }

  /** A frame over driver-held catalyst rows as ONE plan leaf: a local
    * relation up to `localMaxRows` rows, else one parallelized RDD of at
    * most `defaultParallelism` partitions. The RDD leaf gets the local
    * relation's own size estimate (row width from the schema × rows),
    * so the planner's broadcast choices do not flip when a frame
    * crosses over. Either way its partitions and plan leaves stay
    * constant however many appends built `rows`. */
  def rowsFrame(spark: SparkSession, schema: StructType, rows: Seq[InternalRow],
                localMaxRows: Int): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val output = DataTypeUtils.toAttributes(schema)
    val plan =
      if (rows.size <= localMaxRows) LocalRelation(output, rows)
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
    * supersedes this way). Non-blocking. */
  def freeCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.unpersist(blocking = false): Unit
      case _ =>
    }
}
