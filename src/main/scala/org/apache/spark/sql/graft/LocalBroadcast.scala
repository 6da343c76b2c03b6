package org.apache.spark.sql.graft

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, UnsafeProjection}
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight, JoinSelectionHelper}
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.logical.{JoinHint, LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, BroadcastMode, BroadcastPartitioning, Partitioning}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.internal.SQLConf

/** Broadcast a local relation without a Spark job. Spark plans the
  * build side of a broadcast hash join as a `BroadcastExchangeExec`,
  * which collects its child with `executeCollectIterator`; a
  * `LocalTableScanExec` does not override that, so broadcasting rows the
  * driver already holds runs a job. This strategy plans the same join,
  * on the same build side, over a [[LocalBroadcastExec]] leaf that
  * builds the relation on the driver.
  *
  * It plans an equi-join only when Spark's own size rule would
  * broadcast that side (`getBroadcastBuildSide` without hints, under
  * `spark.sql.autoBroadcastJoinThreshold`) and that side is a local
  * relation. It returns `Nil`, leaving Spark's `JoinSelection` to plan
  * the join, for a join with any hint, a non-equi join, and a join type
  * that cannot be built on that side. */
object LocalBroadcast extends SparkStrategy with JoinSelectionHelper {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j @ ExtractEquiJoinKeys(joinType, leftKeys, rightKeys, condition, _, left, right, hint)
        if hint == JoinHint.NONE && hashJoinSupported(leftKeys, rightKeys) =>
      getBroadcastBuildSide(j, hintOnly = false, SQLConf.get).toSeq.flatMap { side =>
        def join(build: SparkPlan) = side match {
          case BuildLeft => BroadcastHashJoinExec(leftKeys, rightKeys, joinType, side,
            condition, build, planLater(right))
          case BuildRight => BroadcastHashJoinExec(leftKeys, rightKeys, joinType, side,
            condition, planLater(left), build)
        }
        (if (side == BuildLeft) left else right) match {
          case r: LocalRelation if !r.isStreaming =>
            // the join's own broadcast mode (its keys bound to the build
            // output), so the leaf satisfies the join's distribution
            val draft = join(LocalBroadcastExec(r.output, r.data, null))
            val BroadcastDistribution(mode) =
              draft.requiredChildDistribution(if (side == BuildLeft) 0 else 1): @unchecked
            Seq(join(LocalBroadcastExec(r.output, r.data, mode)))
          case _ => Nil
        }
      }
    case _ => Nil
  }

  /** Put the strategy first in `session`'s extra strategies, once. */
  def setup(session: SparkSession): Unit = {
    val experimental = session.experimental
    experimental.synchronized {
      if (!experimental.extraStrategies.contains(LocalBroadcast))
        experimental.extraStrategies = LocalBroadcast +: experimental.extraStrategies
    }
  }
}

/** The build side of a broadcast hash join over driver-held rows: the
  * broadcast relation is `mode.transform(rows)`, built on the driver
  * once per plan instance, with no job. */
case class LocalBroadcastExec(output: Seq[Attribute], rows: Seq[InternalRow], mode: BroadcastMode)
    extends LeafExecNode {

  override def outputPartitioning: Partitioning = BroadcastPartitioning(mode)

  @transient private lazy val relation: Broadcast[Any] = {
    val proj = UnsafeProjection.create(output, output)
    val unsafe = rows.map(r => proj(r).copy(): InternalRow)
    sparkContext.broadcastInternal(mode.transform(unsafe.iterator, Some(unsafe.size.toLong)),
      serializedOnly = true)
  }

  override protected[sql] def doExecuteBroadcast[T](): Broadcast[T] =
    relation.asInstanceOf[Broadcast[T]]

  protected override def doExecute(): RDD[InternalRow] =
    throw new UnsupportedOperationException("LocalBroadcastExec only broadcasts")
}
