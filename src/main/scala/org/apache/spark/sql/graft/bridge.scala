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
import org.apache.spark.sql.execution.LogicalRDD
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

  /** Eager localCheckpoint that RETURNS the materialized row count.
    * `Dataset.localCheckpoint(true)` already runs one materializing job
    * (an internal count) and discards the result, so an iterative loop
    * that needs a per-round emptiness/progress test pays a SECOND job
    * for it (`count()`/`isEmpty`) — at local job-latency scale that is
    * the dominant cost of the latency-bound graph loops (r16). This
    * mirrors the Dataset.checkpoint internals: copy rows (the scan
    * reuses UnsafeRow buffers), localCheckpoint the RDD, count to
    * materialize, rebuild a DataFrame over the checkpointed RDD.
    * Identical storage/release semantics to Dataset.localCheckpoint:
    * the RDD registers in getPersistentRDDs (harness sweeps see it)
    * and [[freeCheckpoint]] releases it. */
  def localCheckpointCount(df: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, Long) = {
    val spark = df.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val internal = df.queryExecution.toRdd.map(_.copy())
    internal.localCheckpoint()
    val n = internal.count()
    (spark.internalCreateDataFrame(internal, df.schema, isStreaming = false), n)
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
    * frame — the storage half of `checkpointRddIds`. Iterative
    * algorithms that maintain ONE frame across rounds (settled sets,
    * color maps) supersede a checkpoint per round; without an explicit
    * release each superseded copy stays pinned in the block store for
    * the session's lifetime — O(rounds × frame) storage, the quantity
    * that matters on a 200-level-diameter graph. Only call once the
    * SUCCESSOR checkpoint has materialized (eager localCheckpoint)
    * and no other plan references the frame. Non-blocking. */
  def freeCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.unpersist(blocking = false): Unit
      case _ =>
    }
}
