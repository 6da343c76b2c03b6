package perfbench

import graft.Graft
import graft.datalog._
import graft.transact.Transactor.{Add, MapForm, Retract, TxReport, TxStmt}
import org.apache.spark.sql.{Row, SparkSession}

import scala.collection.mutable
import scala.util.Random

/** The paper's own workflow: append-only transacts on a fresh database,
  * with a Datalog read over the current, as-of or historical database
  * after every few transacts. Every read is checked against the
  * benchmark's own model of what it transacted. */
object TxLoop {
  val ReadKinds = Seq("tx_current", "tx_asof", "tx_historical", "tx_pull", "tx_ancestors")
  private val Tags = Seq("red", "green", "blue", "amber", "teal", "plum")
  private val Nations = Seq("ALGERIA", "BRAZIL", "CANADA", "EGYPT", "FRANCE", "INDIA", "JAPAN", "PERU")

  private final case class Fact(e: Long, a: String, v: Any, tx: Long, added: Boolean)

  /** What the benchmark transacted, and what each read must return. */
  private final class Model {
    val facts = mutable.ArrayBuffer.empty[Fact]
    val persons = mutable.ArrayBuffer.empty[Long]
    var lastTx = 0L

    /** Live values per (e, a) as of `asOf`: per (e, a, v) the newest
      * version wins (a retraction wins a same-tx tie); cardinality-one
      * attributes keep only their newest live value. */
    def live(asOf: Long): Map[(Long, String), Seq[Any]] = {
      val perValue = facts.filter(_.tx <= asOf).groupBy(f => (f.e, f.a, f.v)).values.flatMap { fs =>
        val newest = fs.map(_.tx).max
        val atNewest = fs.filter(_.tx == newest)
        if (atNewest.forall(_.added)) Some(atNewest.head) else None
      }
      perValue.groupBy(f => (f.e, f.a)).map { case (k, fs) =>
        k -> (if (k._2 == "tag") fs.map(_.v).toSeq else Seq(fs.maxBy(_.tx).v))
      }
    }

    def joinRows(asOf: Long): Set[String] = {
      val l = live(asOf)
      persons.toSeq.flatMap { p =>
        for {
          n <- l.getOrElse((p, "name"), Nil)
          a <- l.getOrElse((p, "age"), Nil)
          t <- l.getOrElse((p, "tag"), Nil)
        } yield Canon.row(Seq(n, a, t))
      }.toSet
    }

    def historicalRows: Set[String] =
      facts.filter(_.a == "age").map(f => Canon.row(Seq(f.e, f.v, f.tx, f.added))).toSet

    def pulled(ids: Seq[Long]): Set[String] = {
      val l = live(Long.MaxValue)
      def one(e: Long, a: String): Any = l.get((e, a)).map(_.head).orNull
      ids.map { p =>
        val tags = l.getOrElse((p, "tag"), Nil).map(_.toString).sorted
        val nation = Option(one(p, "nation")).map(n => Row(one(n.asInstanceOf[Long], "nname"))).orNull
        val parent = Option(one(p, "parent")).map(q => Row(one(q.asInstanceOf[Long], "name"))).orNull
        Canon.row(Seq(p, Row(one(p, "name"), one(p, "age"), tags, nation, parent)))
      }.toSet
    }

    def ancestorRows: Set[String] = {
      val parent = live(Long.MaxValue).collect { case ((e, "parent"), v) => e -> v.head.asInstanceOf[Long] }
      parent.keys.flatMap { x =>
        Iterator.iterate(parent.get(x))(_.flatMap(parent.get)).takeWhile(_.isDefined)
          .map(y => Canon.row(Seq(x, y.get)))
      }.toSet
    }
  }

  private val findJoin = Query(
    find = Seq(FVar("n"), FVar("a"), FVar("t")),
    where = And(
      Pattern(V("p"), C("name"), V("n")),
      Pattern(V("p"), C("age"), V("a")),
      Pattern(V("p"), C("tag"), V("t"))))

  private val findAgeVersions = Query(
    find = Seq(FVar("p"), FVar("a"), FVar("t"), FVar("ad")),
    where = Pattern(V("p"), C("age"), V("a"), V("t"), V("ad")))

  private val findAncestors = Query(
    find = Seq(FVar("x"), FVar("y")),
    where = RuleApp("anc", V("x"), V("y")),
    rules = Seq(
      Rule("anc", Seq(V("ax"), V("ay")), Pattern(V("ax"), C("parent"), V("ay"))),
      Rule("anc", Seq(V("ax"), V("ay")), And(
        Pattern(V("ax"), C("parent"), V("am")),
        RuleApp("anc", V("am"), V("ay"))))))

  private val pullSpec = Pull.Spec(Seq("name", "age", "tag"),
    Seq("nation" -> Pull.Spec(Seq("nname")), "parent" -> Pull.Spec(Seq("name"))))

  /** One episode: a fresh database and the benchmark's model of it. */
  final class Episode(spark: SparkSession, h: Harness, seed: Long) {
    private val rnd = new Random(seed)
    private var clock = 1700000000000L
    val g: Graft = Graft.open(spark, () => { clock += 1000; clock })
    private val model = new Model

    private def transact(stmts: Seq[TxStmt])(onCommit: TxReport => Unit): OpRecord =
      h.run("transact", "transact")(op => op.span("transact")(g.transact(stmts))) { r =>
        onCommit(r)
        model.lastTx += 1
        (r.facts.size.toLong, r.txId == model.lastTx)
      }

    def schema(): OpRecord =
      transact(Seq(MapForm(Seq("unifydb/schema" -> "tag", "unifydb/cardinality" -> "cardinality/many"))))(_ => ())

    /** The k-th person transact (k from 1). */
    def person(k: Int): OpRecord = {
      val name = f"person-$k%03d-${rnd.nextInt(1000)}%03d"
      val age = 18L + rnd.nextInt(60)
      val score = rnd.nextInt(10000) / 100.0
      val tags = rnd.shuffle(Tags).take(1 + rnd.nextInt(3))
      val nation = Nations(rnd.nextInt(Nations.size))
      val parent = if (model.persons.isEmpty) None else Some(model.persons(rnd.nextInt(model.persons.size)))
      val attrs = Seq("name" -> name, "age" -> age, "score" -> score) ++ tags.map("tag" -> _) ++
        Seq("nation" -> MapForm(Seq("nname" -> nation), tempId = Some("n"))) ++
        parent.map(p => "parent" -> g.session.EntityRef(p))
      // every 6th tx also retracts an older person's age and asserts a
      // different one, and retracts one of its tags if it has several
      val update = if (k % 6 == 0 && model.persons.nonEmpty) {
        val older = model.persons(rnd.nextInt(model.persons.size))
        val live = model.live(Long.MaxValue)
        val old = live((older, "age")).head.asInstanceOf[Long]
        val nu = Iterator.continually(18L + rnd.nextInt(60)).find(_ != old).get
        val tags = live((older, "tag")).map(_.toString).sorted
        val tag = if (tags.size > 1) Some(tags(rnd.nextInt(tags.size))) else None
        Some((older, old, nu, tag))
      } else None
      val stmts = Seq(MapForm(attrs, tempId = Some("p"))) ++ update.toSeq.flatMap {
        case (e, old, nu, tag) =>
          Seq(Retract(e, "age", old), Add(e, "age", nu)) ++ tag.map(Retract(e, "tag", _))
      }
      transact(stmts) { r =>
        val tx = r.txId
        val p = r.tempIds("p")
        val n = r.tempIds("n")
        model.facts ++= Seq(Fact(p, "name", name, tx, true), Fact(p, "age", age, tx, true),
          Fact(p, "score", score, tx, true), Fact(p, "nation", n, tx, true),
          Fact(n, "nname", nation, tx, true)) ++
          tags.map(t => Fact(p, "tag", t, tx, true)) ++
          parent.map(q => Fact(p, "parent", q, tx, true))
        update.foreach { case (e, old, nu, tag) =>
          model.facts ++= Seq(Fact(e, "age", old, tx, false), Fact(e, "age", nu, tx, true)) ++
            tag.map(Fact(e, "tag", _, tx, false))
        }
        model.persons += p
      }
    }

    private def query(kind: String, handle: Graft, asOf: Long, historical: Boolean,
                      q: Query)(expected: => Set[String]): OpRecord =
      h.run("read", kind) { op =>
        val db = op.span("db")(handle.db)
        val df = op.span("compile")(Compiler.run(Compiler.Db(db, asOf, historical), q)(spark))
        op.span("plan")(df.queryExecution.executedPlan)
        op.span("execute")(df.collect())
      } { rows => (rows.length.toLong, rows.map(r => Canon.row(r.toSeq)).toSet == expected) }

    def read(kind: String): OpRecord = kind match {
      case "tx_current" =>
        query(kind, g, Long.MaxValue, historical = false, findJoin)(model.joinRows(Long.MaxValue))
      case "tx_asof" =>
        val t = math.max(1L, model.lastTx / 4 + rnd.nextInt(math.max(1, (model.lastTx / 2).toInt)))
        query(kind, g.asOf(t), t, historical = false, findJoin)(model.joinRows(t))
      case "tx_historical" =>
        query(kind, g.historical, Long.MaxValue, historical = true, findAgeVersions)(model.historicalRows)
      case "tx_ancestors" =>
        query(kind, g, Long.MaxValue, historical = false, findAncestors)(model.ancestorRows)
      case "tx_pull" =>
        val ids = rnd.shuffle(model.persons.toSeq).take(5)
        h.run("read", kind) { op =>
          val db = op.span("db")(g.db)
          val df = op.span("compile") {
            import spark.implicits._
            Pull.pullNested(db, ids.toDF("e"), pullSpec)
          }
          op.span("plan")(df.queryExecution.executedPlan)
          op.span("execute")(df.collect())
        } { rows =>
          (rows.length.toLong, rows.map(r => Canon.row(Seq(r.getLong(0), r.get(1)))).toSet == model.pulled(ids))
        }
    }
  }

  /** Run one episode of `nTx` person transacts with a read after every
    * `readEvery`-th; reads rotate through `ReadKinds` starting at
    * `firstRead`. Returns the next read index and the episode's handle. */
  def episode(spark: SparkSession, h: Harness, seed: Long, nTx: Int, readEvery: Int,
              firstRead: Int): (Int, Graft) = {
    val ep = new Episode(spark, h, seed)
    ep.schema()
    var readIndex = firstRead
    (1 to nTx).foreach { k =>
      ep.person(k)
      if (k % readEvery == 0) {
        ep.read(ReadKinds(readIndex % ReadKinds.size))
        readIndex += 1
      }
    }
    (readIndex, ep.g)
  }
}
