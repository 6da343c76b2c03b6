package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.core.Schema
import graft.datalog._
import graft.transact.Transactor
import graft.transact.Transactor.{Add, MapForm, Retract}
import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col

/** The transact path's cost and commit contract: a commit is atomic
  * under concurrent callers, and a session's reads cost the same Spark
  * work however many transactions it has committed. */
class TransactSpec extends SparkSpec {

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

  private def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("concurrent transacts commit atomically: consecutive tx ids, distinct entities, every fact visible") {
    val sess = Transactor.emptySession(spark)
    val (threads, perThread) = (8, 25)
    val pool = Executors.newFixedThreadPool(threads)
    val start = new CountDownLatch(1)
    val reports = try {
      val futures = (0 until threads).map { t =>
        pool.submit(() => {
          start.await()
          (0 until perThread).map { i =>
            sess.transact(Seq(MapForm(Seq("worker" -> t.toLong, "seq" -> i.toLong),
              tempId = Some("w"))))
          }
        })
      }
      start.countDown()
      futures.flatMap(_.get(120, TimeUnit.SECONDS))
    } finally pool.shutdownNow(): Unit
    val n = threads * perThread
    assert(reports.map(_.txId).sorted === (1L to n.toLong))
    val ents = reports.flatMap(_.tempIds.values)
    assert(ents.size === 2 * n) // "w" and the tx entity
    assert(ents.distinct.size === ents.size)
    // every committed fact is in the published database value
    val snap = sess.db.snapshot()
    assert(snap.count() === 3L * n) // worker, seq, txInstant
    val seqOf = snap.filter(col("a") === "seq").collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("vlong")).toMap
    assert(seqOf.size === n)
    reports.foreach(r => assert(seqOf.contains(r.tempIds("w"))))
    assert(snap.filter(col("a") === "unifydb/txInstant").select("tx").distinct().count() === n)
  }

  test("reads cost the query, not the history: Graft.db runs no job, log partitions and query jobs stay flat") {
    val dp = spark.sparkContext.defaultParallelism
    val g = Graft.open(spark)
    var last = g.transact(Seq(MapForm(Seq(Schema.SchemaAttr -> "tag",
      Schema.CardinalityAttr -> Schema.CardinalityMany)))).txId
    val q = Query(find = Seq(FVar("e"), FVar("n")), where = Pattern(V("e"), C("n"), V("n")))
    def transactUpTo(k: Int): Unit =
      while (last < k)
        last = g.transact(Seq(MapForm(Seq("n" -> (last + 1), "tag" -> s"t${last % 3}")))).txId
    val perSize = Seq(10, 300).map { k =>
      transactUpTo(k)
      val (dbs, dbJobs) = jobs(Seq(g.db, g.asOf(k / 2).db, g.historical.db))
      assert(dbJobs === 0, s"Graft.db ran $dbJobs jobs after $k transacts")
      assert(dbs.forall(_.cardMany === Set("tag")))
      val parts = g.session.db.log.rdd.getNumPartitions
      assert(parts <= dp, s"log has $parts partitions after $k transacts (defaultParallelism $dp)")
      val (out, queryJobs) = jobs(g.query(q).collect())
      assert(out.length === k - 1) // every tx but the schema one wrote one n
      queryJobs
    }
    assert(perSize(0) === perSize(1), s"query jobs at 10 vs 300 transacts: $perSize")
  }

  test("Graft.over reads its base log's schema once; Graft.db runs no job") {
    val base = Graft.open(spark)
    base.transact(Seq(MapForm(Seq(Schema.SchemaAttr -> "tag",
      Schema.CardinalityAttr -> Schema.CardinalityMany))))
    base.transact(Seq(MapForm(Seq("tag" -> "a")), MapForm(Seq("tag" -> "b"))))
    val (g, openJobs) = jobs(Graft.over(spark, base.session.db, firstTx = 3, firstEntityId = 100))
    assert(openJobs <= 1) // none when the base log is a local relation
    val (db, dbJobs) = jobs(g.db)
    assert(dbJobs === 0)
    assert(db.cardMany === Set("tag"))
    assert(g.asOf(0).db.cardMany === Set.empty)
  }

  test("crossing the delta fold threshold leaves current, asOf and historical reads unchanged") {
    val g = Graft.open(spark)
    g.transact(Seq(MapForm(Seq(Schema.SchemaAttr -> "tag",
      Schema.CardinalityAttr -> Schema.CardinalityMany))))
    val r = g.transact(Seq(
      MapForm(Seq("name" -> "ann", "age" -> 30L, "tag" -> "x", "tag" -> "y"), tempId = Some("ann")),
      MapForm(Seq("name" -> "bob", "age" -> 40L, "tag" -> "z"), tempId = Some("bob"))))
    val (ann, bob) = (r.tempIds("ann"), r.tempIds("bob"))
    val upd = g.transact(Seq(Retract(ann, "age", 30L), Add(ann, "age", 31L), Retract(bob, "tag", "z")))
    val join = Query(find = Seq(FVar("n"), FVar("a"), FVar("t")), where = And(
      Pattern(V("p"), C("name"), V("n")), Pattern(V("p"), C("age"), V("a")),
      Pattern(V("p"), C("tag"), V("t"))))
    val versions = Query(find = Seq(FVar("p"), FVar("a"), FVar("t"), FVar("ad")),
      where = Pattern(V("p"), C("age"), V("a"), V("t"), V("ad")))
    def reads(): Seq[Set[Seq[Any]]] = Seq(
      rows(g.query(join)), rows(g.asOf(r.txId).query(join)), rows(g.historical.query(versions)))
    def leaves = g.session.db.log.queryExecution.analyzed.collect { case l: LogicalRDD => l }
    val before = reads()
    assert(before(0) === Set(Seq("ann", 31L, "x"), Seq("ann", 31L, "y")))
    assert(before(1) === Set(Seq("ann", 30L, "x"), Seq("ann", 30L, "y"), Seq("bob", 40L, "z")))
    assert(before(2).size === 4)
    assert(leaves.isEmpty) // still a local relation
    // one transaction past the threshold folds the delta into one RDD
    g.transact((0 to Transactor.FoldRows).map(i => Add(s"f$i", "filler", i.toLong)))
    assert(leaves.size === 1)
    assert(g.session.db.log.rdd.getNumPartitions <= spark.sparkContext.defaultParallelism)
    assert(reads() === before)
    assert(g.db.cardMany === Set("tag"))
    // and the folded log keeps taking commits
    g.transact(Seq(Retract(ann, "tag", "x")))
    val after = reads()
    assert(after(0) === Set(Seq("ann", 31L, "y")))
    assert(after(1) === before(1))
    assert(after(2) === before(2))
    assert(g.asOf(upd.txId).query(join).count() === 2)
  }

  test("Graft.asOfInstant runs no job and answers as the log does, on Graft.open and Graft.over") {
    var clock = 1000L
    val base = Graft.open(spark, () => { clock += 1000; clock }) // instants 2000, 3000, 4000
    (1 to 3).foreach(i => base.transact(Seq(MapForm(Seq("n" -> i.toLong)))))
    val over = Graft.over(spark, base.session.db, firstTx = 4, firstEntityId = 100)
    over.transact(Seq(MapForm(Seq("n" -> 4L)))) // instant: the wall clock
    // newest tx whose txInstant is <= the instant, derived from the log
    def fromLog(g: Graft, instant: Long): Long = {
      val tx = g.session.db.log
        .filter(col("a") === "unifydb/txInstant" && col("vlong") <= instant)
        .agg(org.apache.spark.sql.functions.max(col("tx"))).head()
      if (tx.isNullAt(0)) -1L else tx.getLong(0)
    }
    val q = Query(find = Seq(FVar("n")), where = Pattern(V("e"), C("n"), V("n")))
    // before the first tx, between txs, at a tx, after the last
    for ((g, label) <- Seq(base -> "open", over -> "over");
         instant <- Seq(500L, 2500L, 3000L, 4000L, 4001L, Long.MaxValue)) {
      val (handle, n) = jobs(g.asOfInstant(instant))
      assert(n === 0, s"$label asOfInstant($instant) ran $n jobs")
      val expected = fromLog(g, instant)
      assert(g.session.txAsOfInstant(instant) === expected, s"$label at $instant")
      assert(rows(handle.query(q)) === rows(g.asOf(expected).query(q)), s"$label at $instant")
    }
    assert(over.session.txAsOfInstant(Long.MaxValue) === 4L)
  }

  test("a repeated ancestors read at one session state hits the fixpoint cache") {
    val g = Graft.open(spark)
    var last = g.transact(Seq(MapForm(Seq("name" -> "p0"), tempId = Some("p")))).tempIds("p")
    (1 to 4).foreach { i =>
      last = g.transact(Seq(MapForm(Seq("name" -> s"p$i", "parent" -> g.session.EntityRef(last)),
        tempId = Some("p")))).tempIds("p")
    }
    val anc = Query(find = Seq(FVar("x"), FVar("y")), where = RuleApp("anc", V("x"), V("y")),
      rules = Seq(
        Rule("anc", Seq(V("x"), V("y")), Pattern(V("x"), C("parent"), V("y"))),
        Rule("anc", Seq(V("x"), V("y")), And(
          Pattern(V("x"), C("parent"), V("m")), RuleApp("anc", V("m"), V("y"))))))
    assert(Compiler.Db(g.db) === Compiler.Db(g.db)) // one committed state, one cache key
    val (first, cold) = jobs(g.query(anc).collect())
    val (again, reuse) = jobs(g.query(anc).collect())
    assert(first.length === 10 && again.length === 10)
    assert(reuse <= 3, s"repeated ancestors read ran $reuse jobs ($cold cold)")
  }
}
