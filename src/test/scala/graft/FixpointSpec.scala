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
    // whatever its exchanges do, so only a static plan shows the layout
    val conf = spark.conf
    conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val src = spark.range(1000).select((col("id") % 7).as("k"), col("id"))
        .repartition(col("k"))
      val (ck, n) = Bridge.localCheckpointCount(src)
      assert(n === 1000)
      val layout = src.queryExecution.executedPlan.outputPartitioning
      assert(layout.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning])
      assert(ck.queryExecution.executedPlan.outputPartitioning === layout)
      assert(ck.collect().toSet === src.collect().toSet)
      Bridge.freeCheckpoint(ck)
    } finally conf.unset("spark.sql.adaptive.enabled")
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
