package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.datalog._
import graft.transact.Transactor.MapForm
import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions.length
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.graft.{LocalBroadcast, LocalBroadcastExec}
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

/** The job-free broadcast of local relations (`LocalBroadcast`): the
  * same join as Spark plans, on the same build side, whose build side
  * runs no job; and Spark's own choice wherever a hint, the join type
  * or the condition rules a hash broadcast out. */
class LocalBroadcastSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** Spark jobs launched while `body` runs. */
  private def jobs[T](body: => T): (T, Int) = {
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = n.incrementAndGet(): Unit
    }
    ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      ListenerBus.drain(spark.sparkContext)
      (out, n.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** The executed plan's nodes of type `T`, inside adaptive plans too
    * (after `collect`, the final adaptive plan). */
  private def nodes[T <: SparkPlan](df: DataFrame)(implicit ct: scala.reflect.ClassTag[T]): Seq[T] =
    collect(df.queryExecution.executedPlan) { case p: T => p }

  private val schema = StructType(Seq(StructField("k", IntegerType), StructField("v", StringType)))

  /** Two local relations whose keys include nulls and unmatched values. */
  private def sides(session: SparkSession): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.Row
    def local(rows: Seq[Row]) = session.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    (local(Seq(Row(1, "a"), Row(2, "b"), Row(null, "n"), Row(3, "c"), Row(1, "a2"))),
      local(Seq(Row(1, "x"), Row(null, "y"), Row(4, "z"), Row(1, "x2"))).toDF("k2", "w"))
  }

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** `body` with Spark's broadcast threshold off: no hash broadcast at all. */
  private def noBroadcast[T](body: => T): T = {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("a Graft.open 3-pattern join runs at most 2 jobs") {
    val g = Graft.open(spark)
    g.transact(Seq(MapForm(Seq("unifydb/schema" -> "tag", "unifydb/cardinality" -> "cardinality/many"))))
    (1 to 12).foreach { k =>
      g.transact(Seq(MapForm(Seq("name" -> s"p$k", "age" -> (20L + k)) ++
        (0 until 1 + k % 3).map(t => "tag" -> s"t$t"))))
    }
    val q = Query(find = Seq(FVar(V("n"), "n"), FVar(V("a"), "a"), FVar(V("t"), "t")),
      where = And(Pattern(V("p"), C("name"), V("n")), Pattern(V("p"), C("age"), V("a")),
        Pattern(V("p"), C("tag"), V("t"))))
    val (rows, n) = jobs(g.query(q).collect())
    assert(rows.length === (1 to 12).map(k => 1 + k % 3).sum)
    assert(n <= 2, s"the 3-pattern read ran $n jobs")
  }

  test("joins over a local build side return the rows Spark's own plan returns") {
    LocalBroadcast.setup(spark)
    val (l, r) = sides(spark)
    val nullSafe = l("k") <=> r("k2")
    // two keys, one an expression, plus a condition that is not a key
    val composite = nullSafe && length(l("v")) === length(r("w")) && l("v") =!= r("w")
    for (cond <- Seq(nullSafe, composite);
         how <- Seq("inner", "left_outer", "right_outer", "left_semi", "left_anti")) {
      val joined = l.join(r, cond, how)
      val expected = noBroadcast(sorted(l.join(r, cond, how)))
      assert(sorted(joined) === expected, s"$how on $cond")
      assert(nodes[LocalBroadcastExec](joined).size === 1, s"$how: ${joined.queryExecution.executedPlan}")
    }
    // a join type no hash broadcast can build, and a non-equi join, stay Spark's
    for ((how, c) <- Seq("full_outer" -> nullSafe, "inner" -> (l("k") < r("k2")))) {
      val joined = l.join(r, c, how)
      assert(sorted(joined) === noBroadcast(sorted(l.join(r, c, how))), how)
      assert(nodes[LocalBroadcastExec](joined).isEmpty, how)
    }
  }

  test("a local broadcast join runs no job for its build side") {
    LocalBroadcast.setup(spark)
    val (l, r) = sides(spark)
    val joined = l.join(r, l("k") === r("k2"))
    val (rows, n) = jobs(joined.collect())
    assert(rows.length === 4)
    assert(n === 1, s"ran $n jobs")
  }

  test("a join hint keeps Spark's choice") {
    LocalBroadcast.setup(spark)
    val (l, r) = sides(spark)
    val merge = l.join(r.hint("merge"), l("k") === r("k2"))
    val shuffleHash = l.join(r.hint("shuffle_hash"), l("k") === r("k2"))
    assert(merge.count() === 4 && shuffleHash.count() === 4)
    assert(nodes[LocalBroadcastExec](merge).isEmpty && nodes[LocalBroadcastExec](shuffleHash).isEmpty)
    assert(nodes[SortMergeJoinExec](merge).size === 1)
    assert(nodes[ShuffledHashJoinExec](shuffleHash).size === 1)
  }

  test("a session of its own (perfbench's reference session) plans no local broadcast") {
    LocalBroadcast.setup(spark)
    val plain = spark.newSession()
    val (l, r) = sides(plain)
    val joined = l.join(r, l("k") === r("k2"))
    assert(joined.count() === 4)
    assert(nodes[LocalBroadcastExec](joined).isEmpty)
    assert(nodes[BroadcastHashJoinExec](joined).size === 1)
  }
}
