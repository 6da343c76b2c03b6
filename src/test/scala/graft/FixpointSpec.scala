package graft

import graft.core.{FactDb, FactStore, Fixpoint}
import graft.datalog._
import graft.datalog.Compiler.Db
import graft.graph.GraphOps
import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

/** The shared fixpoint step (`graft.core.Fixpoint`) and the one-job
  * materialisation under it. */
class FixpointSpec extends SparkSpec {
  import spark.implicits._

  test("localCheckpointCount keeps the source's partitioning and counts in the same job") {
    // planned without AQE: an adaptive plan reports UnknownPartitioning
    // whatever its exchanges do, so only a static plan shows the layout.
    // Above the cutoff, so the result is the checkpoint, not a local relation
    val conf = spark.conf
    conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val rows = 2L * Bridge.FoldRows
      val src = spark.range(rows).select((col("id") % 7).as("k"), col("id"))
        .repartition(col("k"))
      val (ck, n) = Bridge.localCheckpointCount(src)
      assert(n === rows)
      assert(Bridge.localRows(ck).isEmpty)
      val layout = src.queryExecution.executedPlan.outputPartitioning
      assert(layout.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning])
      assert(ck.queryExecution.executedPlan.outputPartitioning === layout)
      assert(ck.collect().toSet === src.collect().toSet)
      Bridge.freeCheckpoint(ck)
    } finally conf.unset("spark.sql.adaptive.enabled")
  }

  test("a round of at most FoldRows rows is a local relation from one labelled job") {
    val sc = spark.sparkContext
    val persistent = sc.getPersistentRDDs.keySet
    val src = spark.range(1000).select((col("id") % 7).as("k"), col("id"))
    var round: Fixpoint.Round = null
    val jobs = jobDescriptions { round = Fixpoint.materialize("probe", src) }
    assert(jobs === Seq("graft:probe round 0"))
    assert(round.rows === 1000)
    assert(Bridge.localRows(round.df).map(_.size) === Some(1000))
    // same columns as the source, and no checkpoint left behind
    assert(round.df.columns.toSeq === src.columns.toSeq)
    assert(round.df.collect().toSet === src.collect().toSet)
    assert(Bridge.checkpointRddIds(round.df).isEmpty)
    assert(sc.getPersistentRDDs.keySet === persistent)
  }

  test("a semi-naive loop whose deltas cross the cutoff returns every row") {
    // seed {1}; each x derives 2x and 2x + 1 below n: deltas double from
    // 1 row, and the last one (2^13 rows) is past FoldRows
    val n = 4L * Bridge.FoldRows
    val seed = Fixpoint.materialize("cross", Seq(1L).toDF("x"))
    val parts = Fixpoint.semiNaive("cross", seed, maxRounds = 20) { (delta, total) =>
      delta.select(explode(array(col("x") * 2, col("x") * 2 + 1)).as("x"))
        .filter(col("x") < n).join(total, Seq("x"), "left_anti")
    }
    assert(parts.exists(p => Bridge.localRows(p).isDefined))
    assert(parts.exists(p => Bridge.checkpointRddIds(p).nonEmpty))
    val rows = Fixpoint.total(parts).as[Long].collect()
    assert(rows.length === n - 1)
    assert(rows.toSet === (1L until n).toSet)
    parts.foreach(Bridge.freeCheckpoint)
  }

  test("a semi-naive total of local parts is one local relation within FoldRows") {
    val a = Fixpoint.materialize("total", Seq(1L, 2L).toDF("x")).df
    val b = Fixpoint.materialize("total", Seq(3L).toDF("x")).df
    val t = Fixpoint.total(Seq(a, b))
    assert(Bridge.localRows(t).map(_.size) === Some(3))
    assert(t.as[Long].collect().toSet === Set(1L, 2L, 3L))
    // past the cutoff the parts stay a union
    val big = Fixpoint.materialize("total", spark.range(Bridge.FoldRows).toDF("x")).df
    assert(Bridge.localRows(big).isDefined)
    assert(Bridge.localRows(Fixpoint.total(Seq(big, b))).isEmpty)
    assert(Fixpoint.total(Seq(big, b)).count() === Bridge.FoldRows + 1)
  }

  /** Job descriptions of the jobs `body` launches, in start order. */
  private def jobDescriptions(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        seen.add(Option(js.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse("")): Unit
    }
    spark.sparkContext.addSparkListener(listener)
    try { body; ListenerBus.drain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq
  }

  /** Runs `body` under a caller job description and checks it is the
    * thread's description again afterwards. */
  private def asCaller(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    sc.setJobDescription("caller")
    try {
      val descs = jobDescriptions(body)
      assert(sc.getLocalProperty("spark.job.description") === "caller")
      descs
    } finally sc.setJobDescription(null)
  }

  test("every job a fixpoint round launches carries its loop and round") {
    // parent chain 1 -> 2 -> 3 -> 4: base + two hops derive, the third
    // hop's delta is empty
    val facts = (1L to 3L).map(e => Row(e, "parent", "r", null, null, null, null, e + 1, 0L, true))
    val db = Db(FactDb(spark.createDataFrame(
      spark.sparkContext.parallelize(facts, 1), FactStore.factSchema), Map("parent" -> "vref")))
    val anc = Seq(
      Rule("anc", Seq(V("x"), V("y")), Pattern(V("x"), C("parent"), V("y"))),
      Rule("anc", Seq(V("x"), V("y")), And(
        Pattern(V("x"), C("parent"), V("m")), RuleApp("anc", V("m"), V("y")))))
    var rows = 0L
    val rule = asCaller {
      rows = Compiler.run(db, Query(find = Seq(FVar(V("a"), "a"), FVar(V("b"), "b")),
        where = RuleApp("anc", V("a"), V("b")), rules = anc)).count()
    }
    assert(rows === 6)
    val rounds = rule.filter(_.startsWith("graft:"))
    assert(rounds.distinct === (0 to 3).map(i => s"graft:rule anc round $i"), rule)
    // the query's own action runs under the caller's description
    assert(rule.last === "caller")

    // a non-recursive sibling the loop reads (`par`) is materialised once,
    // as part of the loop's seed, not under the caller's description
    val viaSibling = Seq(
      Rule("par", Seq(V("x"), V("y")), Pattern(V("x"), C("parent"), V("y"))),
      Rule("anc", Seq(V("x"), V("y")), RuleApp("par", V("x"), V("y"))),
      Rule("anc", Seq(V("x"), V("y")), And(
        RuleApp("par", V("x"), V("m")), RuleApp("anc", V("m"), V("y")))))
    val sibling = asCaller {
      rows = Compiler.run(db, Query(find = Seq(FVar(V("a"), "a"), FVar(V("b"), "b")),
        where = RuleApp("anc", V("a"), V("b")), rules = viaSibling)).count()
    }
    assert(rows === 6)
    assert(sibling.filter(_.startsWith("graft:")).distinct ===
      (0 to 3).map(i => s"graft:rule anc round $i"), sibling)
    assert(sibling.count(_ == "caller") === rule.count(_ == "caller"), sibling)

    val reach = asCaller {
      rows = GraphOps.bfs(Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"), Seq(1L), maxHops = 5)
        .count()
    }
    assert(rows === 3)
    assert(reach.filter(_.startsWith("graft:")).distinct ===
      (0 to 3).map(i => s"graft:bfs round $i"), reach)
  }

  test("a loop that exhausts its bound raises NotConverged; a budget loop just stops") {
    val chain = (1L to 6L).map(i => (i, i + 1)).toDF("src", "dst")
    val err = intercept[Fixpoint.NotConverged](GraphOps.transitiveClosure(chain, maxIter = 2))
    assert(err.getMessage === "transitiveClosure did not reach a fixpoint in 2 rounds")
    // maxHops is part of bfs's result: two hops reach 1, 2, 3
    assert(GraphOps.bfs(chain, Seq(1L), maxHops = 2).select("node").as[Long].collect().toSet ===
      Set(1L, 2L, 3L))
  }
}
