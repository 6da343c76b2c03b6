package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.Bridge

/** The one materialise-and-iterate step behind every fixpoint loop in
  * graft: the recursive-rule fixpoint (`Compiler.groupFixpoint`), the
  * DataFrame graph walks of `GraphOps` (bfs, temporalReach, closure,
  * cc, k-core, scc, label propagation, the betweenness forward pass)
  * and `Dedup.dedupStrict`. The rule they all follow is stated here
  * once:
  *  - ONE materialising job per round, and one size rule for where
  *    the round lives ([[Bridge.localCheckpointCount]]). The job
  *    checkpoints and counts the round's frame; a round of at most
  *    [[Bridge.FoldRows]] rows comes back as a local relation on the
  *    driver (its checkpoint freed), a larger one as the checkpoint.
  *    The count is the loop's progress test, so no round pays a second
  *    `count`/`isEmpty` job, and either form keeps every later round's
  *    lineage flat. In a session `LocalBroadcast` is set up on (every
  *    Datalog query's), a local round also broadcasts without a job.
  *  - State a round supersedes is released once its successor has
  *    materialised: the replaced state of [[iterate]]/[[replace]], and
  *    the empty last delta of [[semiNaive]]. A semi-naive total is
  *    never re-materialised, so a round writes only its delta: the
  *    total is one local relation while its deltas are local and
  *    together within `FoldRows` rows ([[total]]), else a union tree of
  *    its deltas.
  *  - A loop that must converge and has not after `maxRounds` raises
  *    [[NotConverged]]. A loop whose round count is part of its result's
  *    definition (bfs hops, label-propagation rounds) passes
  *    `budget = true` and just stops there.
  *  - Every job a round launches, including the ones its step runs
  *    while building the round, carries the Spark job description
  *    `graft:<loop> round <i>` (round 0 is a loop's seed). The caller's
  *    description is restored afterwards.
  *
  * Pregelix (VLDB 2014) makes the same cut: one iteration operator with
  * one materialisation policy, not one loop per algorithm. A change of
  * policy is a change here. */
object Fixpoint {

  /** A materialised round: a checkpointed frame and its row count. */
  final case class Round(df: DataFrame, rows: Long)

  /** A loop that must converge did not within its round bound. */
  final class NotConverged(val loop: String, val rounds: Int)
    extends IllegalStateException(s"$loop did not reach a fixpoint in $rounds rounds")

  /** Materialise and count `df` in one job, labelled as `round` of `loop`. */
  def materialize(loop: String, df: DataFrame, round: Int = 0): Round =
    labelled(df, loop, round)(checkpoint(df))

  /** Materialise `next` as `round` of `loop`, then release `prev`, the
    * state it supersedes. */
  def replace(loop: String, round: Int, prev: Round)(next: DataFrame): Round = {
    val r = materialize(loop, next, round)
    Bridge.freeCheckpoint(prev.df)
    r
  }

  /** Replace-state iteration: `next = step(state)`, each superseded
    * state released, until the state is empty or `done(prev, next)`
    * holds. The loop owns `init` (it is released once replaced). */
  def iterate(loop: String, init: Round, maxRounds: Int, budget: Boolean = false,
              done: (Round, Round) => Boolean = (_, _) => false)
             (step: DataFrame => DataFrame): Round = {
    var state = init
    var settled = init.rows == 0
    var i = 0
    while (!settled && i < maxRounds) {
      i += 1
      val prev = state
      settled = labelled(prev.df, loop, i) {
        state = checkpoint(step(prev.df))
        state.rows == 0 || done(prev, state)
      }
      Bridge.freeCheckpoint(prev.df)
    }
    if (!settled && !budget) throw new NotConverged(loop, maxRounds)
    state
  }

  /** Semi-naive iteration of one relation: `step(delta, total)` returns
    * the next delta, already anti-joined against `total`. Returns the
    * parts of the total: the seed, then every non-empty delta. */
  def semiNaive(loop: String, seed: Round, maxRounds: Int, budget: Boolean = false)
               (step: (DataFrame, DataFrame) => DataFrame): Seq[DataFrame] =
    semiNaiveGroup(loop, Map(() -> seed), maxRounds, budget)((deltas, totals) =>
      deltas.map { case (k, d) => k -> step(d, totals(k)) })(())

  /** Semi-naive iteration of several relations that advance together
    * (a recursive rule group). `step` sees the members whose last delta
    * was non-empty and the totals of the members that have any parts,
    * and returns the next deltas of the members that derive one. A
    * seed always joins its member's total, even when empty; later
    * deltas only when non-empty. Ends when no member has a non-empty
    * delta. */
  def semiNaiveGroup[K](loop: String, seeds: Map[K, Round], maxRounds: Int,
                        budget: Boolean = false)
                       (step: (Map[K, DataFrame], Map[K, DataFrame]) => Map[K, DataFrame])
      : Map[K, Seq[DataFrame]] = {
    var parts: Map[K, Seq[DataFrame]] = seeds.map { case (k, r) => k -> Vector(r.df) }
    var deltas = seeds.collect { case (k, r) if r.rows > 0 => k -> r.df }
    var i = 0
    while (deltas.nonEmpty && i < maxRounds) {
      i += 1
      val totals = parts.map { case (k, ps) => k -> total(ps) }
      val rounds = labelled(deltas.head._2, loop, i) {
        step(deltas, totals).map { case (k, df) => k -> checkpoint(df) }
      }
      rounds.values.filter(_.rows == 0).foreach(r => Bridge.freeCheckpoint(r.df))
      deltas = rounds.collect { case (k, r) if r.rows > 0 => k -> r.df }
      deltas.foreach { case (k, d) => parts = parts.updated(k, parts.getOrElse(k, Vector.empty) :+ d) }
    }
    if (deltas.nonEmpty && !budget) throw new NotConverged(loop, maxRounds)
    parts
  }

  /** The relation a semi-naive loop's parts add up to: one local
    * relation when every part is local and their rows fit within
    * [[Bridge.FoldRows]], else their union. */
  def total(parts: Seq[DataFrame]): DataFrame = {
    val union = parts.reduce(_ unionAll _)
    val local = parts.map(Bridge.localRows)
    if (parts.size > 1 && local.forall(_.isDefined) && local.map(_.get.size).sum <= Bridge.FoldRows)
      Bridge.rowsFrame(union.sparkSession, union.schema, local.flatMap(_.get))
    else union
  }

  private def checkpoint(df: DataFrame): Round = {
    val (m, n) = Bridge.localCheckpointCount(df)
    Round(m, n)
  }

  // SparkContext.SPARK_JOB_DESCRIPTION is private[spark]
  private val JobDescription = "spark.job.description"

  private def labelled[T](df: DataFrame, loop: String, round: Int)(body: => T): T = {
    val sc = df.sparkSession.sparkContext
    val caller = sc.getLocalProperty(JobDescription)
    sc.setLocalProperty(JobDescription, s"graft:$loop round $round")
    try body finally sc.setLocalProperty(JobDescription, caller)
  }
}
