package graft

import scala.util.Random

import graft.core.{FactDb, FactStore}
import graft.transact.Transactor
import graft.transact.Transactor.{Add, MapForm, Retract, TxStmt}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** A transacted session's snapshot, its delta resolved on the driver
  * (`DriverDelta`, `Versions.live`), must equal `FactDb.snapshot`'s
  * windowed resolution of the same log at every tx, on both sides of
  * `Transactor.FoldRows`, over scripted and seeded random histories. */
class DriverDeltaSpec extends SparkSpec {
  import graft.core.Schema.{CardinalityAttr => Card, CardinalityMany => Many, SchemaAttr => Name}

  /** All 10 columns as a multiset; doubles by their bits, so -0.0 and
    * 0.0 stay apart. */
  private def multiset(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq.map {
      case d: Double => ("double", java.lang.Double.doubleToLongBits(d))
      case v => v
    }).groupBy(identity).view.mapValues(_.size).toMap

  /** Resolved and windowed snapshots agree at every tx up to `lastTx`
    * and at `Long.MaxValue`; the driver path is taken exactly for the
    * reads before `windowedFrom`. */
  private def assertAgrees(g: Graft, lastTx: Long, label: String,
                           windowedFrom: Option[Long] = None): Unit =
    ((0L to lastTx) :+ Long.MaxValue).foreach { t =>
      val db = g.asOf(t).db
      val driver = db.delta.exists(d => (d.log eq db.log) && d.resolved(t, db.cardMany).isDefined)
      assert(driver === !windowedFrom.exists(_ <= t), s"$label: driver-resolved as of tx $t")
      val (resolved, windowed) = (multiset(db.snapshot(t)), multiset(db.copy(delta = None).snapshot(t)))
      assert(resolved === windowed, s"$label as of tx $t: only resolved " +
        s"${resolved.toSet -- windowed.toSet}, only windowed ${windowed.toSet -- resolved.toSet}")
    }

  private final class Tx(g: Graft) {
    val ents = collection.mutable.Map.empty[String, Long]
    var last = 0L
    def apply(stmts: TxStmt*): Long = {
      val r = g.transact(stmts)
      ents ++= r.tempIds
      last = r.txId
      last
    }
  }

  /** The named cases, then `nTx` random transactions. */
  private def history(g: Graft, rnd: Random, nTx: Int): Long = {
    val tx = new Tx(g)
    tx(MapForm(Seq(Name -> "m", Card -> Many), tempId = Some("sm")),
      MapForm(Seq("s" -> "a"), tempId = Some("p0")), MapForm(Seq("s" -> "b"), tempId = Some("p1")),
      MapForm(Seq("s" -> "c"), tempId = Some("p2")))
    val Seq(sm, p0, p1, p2) = Seq("sm", "p0", "p1", "p2").map(tx.ents)
    // retract, then re-assert
    tx(Retract(p0, "s", "a"))
    tx(Add(p0, "s", "a"))
    // cardinality-one superseding without a retraction
    tx(Add(p0, "l", 1L))
    tx(Add(p0, "l", 2L))
    // a retraction and an assertion of one fact in one tx: retraction wins
    tx(Retract(p1, "s", "b"), Add(p1, "s", "b"))
    tx(Add(p1, "l", 5L))
    tx(Retract(p1, "l", 5L), Add(p1, "l", 5L))
    // two values of a cardinality-one attribute in one tx: the greater wins
    tx(Add(p2, "l", 3L), Add(p2, "l", 7L))
    tx(Add(p2, "s", "q"), Add(p2, "s", "c"))
    // a cardinality-many declaration retracted mid-history, then made again
    tx(Add(p0, "m", "x"), Add(p0, "m", "y"))
    tx(Retract(sm, Card, Many))
    tx(Add(p0, "m", "z"))
    tx(Add(sm, Card, Many))
    // NaN, 0.0 and -0.0: one value each for NaN and for ±0.0
    tx(Add(p0, "d", Double.NaN))
    tx(Add(p0, "d", 0.0))
    tx(Add(p0, "d", -0.0))
    tx(Add(p1, "d", 0.0), Add(p1, "d", Double.NaN))
    tx(Retract(p0, "d", 0.0))
    tx(Add(p2, "d", Double.NaN))
    tx(Retract(p2, "d", Double.NaN), Add(p2, "d", -0.0))
    tx(MapForm(Seq(Name -> "d", Card -> Many), tempId = Some("sd")))
    tx(Add(p1, "r", g.session.EntityRef(p0)), Add(p2, "r", g.session.EntityRef(p0)))
    val ents = Seq(p0, p1, p2)
    val schema = Seq(sm, tx.ents("sd"))
    val values: Map[String, Seq[Any]] = Map(
      "s" -> Seq("a", "b", "c"), "m" -> Seq("x", "y", "z"), "l" -> Seq(1L, 2L, 3L),
      "d" -> Seq(Double.NaN, 0.0, -0.0, 2.5), "r" -> ents.map(g.session.EntityRef(_)))
    val attrs = values.keys.toSeq.sorted
    (1 to nTx).foreach { k =>
      val ops = (1 to 1 + rnd.nextInt(4)).map { _ =>
        val e = ents(rnd.nextInt(ents.size))
        val a = attrs(rnd.nextInt(attrs.size))
        val v = values(a)(rnd.nextInt(values(a).size))
        rnd.nextInt(10) match {
          case 0 => Retract(schema(rnd.nextInt(2)), Card, Many)
          case 1 => Add(schema(rnd.nextInt(2)), Card, Many)
          case 2 | 3 | 4 => Retract(e, a, v)
          case _ => Add(e, a, v)
        }
      }
      tx(ops :+ MapForm(Seq("k" -> k.toLong)): _*)
    }
    tx.last
  }

  private def filler(g: Graft): Long =
    g.transact((0 to Transactor.FoldRows).map(i => Add(s"f$i", "filler", i.toLong))).txId

  test("Graft.open: the driver-resolved snapshot equals the windowed one at every tx") {
    Seq(3L, 17L).foreach { seed =>
      val g = Graft.open(spark)
      assertAgrees(g, history(g, new Random(seed), nTx = 12), s"seed $seed")
    }
  }

  test("Graft.open past FoldRows: the resolved leaf is the folded RDD and still agrees") {
    val g = Graft.open(spark)
    filler(g)
    val last = history(g, new Random(5L), nTx = 6)
    val db = g.db
    val leaf = db.delta.flatMap(_.resolved(Long.MaxValue, db.cardMany)).get
    assert(leaf.queryExecution.analyzed.collect { case l: org.apache.spark.sql.execution.LogicalRDD => l }.size === 1)
    assertAgrees(g, last, "past FoldRows")
  }

  /** A base log of entities 100-102 and 900 (a cardinality-many
    * declaration of `m`) over txs 1-3, with superseded, retracted and
    * same-tx versions. */
  private def base(): FactDb = {
    def f(e: Long, a: String, v: String, tx: Long, added: Boolean = true) =
      Row(e, a, "s", v, null, null, null, null, tx, added)
    def l(e: Long, a: String, v: Long, tx: Long, added: Boolean = true) =
      Row(e, a, "l", null, v, null, null, null, tx, added)
    val log = spark.createDataFrame(java.util.Arrays.asList(
      f(900, Name, "m", 1), f(900, Card, Many, 1),
      f(100, "s", "a", 1), f(100, "s", "b", 2), l(100, "l", 4, 1), l(100, "l", 4, 3, added = false),
      f(101, "m", "x", 1), f(101, "m", "y", 2), f(101, "m", "x", 3, added = false),
      f(102, "s", "c", 3), f(102, "s", "a", 3), l(102, "l", 9, 2), l(102, "l", 8, 2),
      l(102, "k", 1, 3)), FactStore.factSchema)
    FactDb(log, Map("s" -> "vstr", "m" -> "vstr", "l" -> "vlong", "k" -> "vlong",
      Name -> "vstr", Card -> "vstr"))
  }

  test("Graft.over without delta facts on base entities: base windowed, delta resolved, equal at every tx") {
    // the unversioned base keeps its contract, one version per fact: an
    // unversioned base reads as its scan (see the next test)
    Seq(base(), base().copy(log = base().snapshot(), versioned = false)).foreach { b =>
      val g = Graft.over(spark, b, firstTx = 4, firstEntityId = 1000)
      val tx = new Tx(g)
      tx(MapForm(Seq("s" -> "n", "r" -> g.session.EntityRef(100L)), tempId = Some("q")))
      // a new declaration makes the base's `s` cardinality-many
      tx(MapForm(Seq(Name -> "s", Card -> Many), tempId = Some("ss")))
      tx(Add(tx.ents("q"), "s", "o"), Add(tx.ents("q"), "m", "x"))
      tx(Retract(tx.ents("ss"), Card, Many))
      val last = tx(Retract(tx.ents("q"), "s", "n"))
      assertAgrees(g, last, s"over, versioned ${b.versioned}")
    }
  }

  test("Graft.over an unversioned base: its half stays a scan until a transaction writes a base entity") {
    def windows(g: Graft): Int = g.db.snapshot().queryExecution.optimizedPlan
      .collect { case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }.size
    def baseRows(g: Graft) = multiset(g.db.snapshot().filter(col("e") < 1000))
    val one = spark.createDataFrame(java.util.Arrays.asList(
      Row(100L, "s", "s", "a", null, null, null, null, 1L, true)), FactStore.factSchema)
    val g = Graft.over(spark, FactDb(one, Map("s" -> "vstr"), versioned = false),
      firstTx = 2, firstEntityId = 1000)
    val before = baseRows(g)
    assert(windows(g) === 0)
    g.transact(Seq(MapForm(Seq("s" -> "n"))))
    assert(windows(g) === 0, "a transact of new entities keeps the base a scan")
    assert(baseRows(g) === before)
    g.transact(Seq(Add(100L, "s", "b")))
    assert(windows(g) > 0, "a transact that writes a base entity resolves the whole log")
    // a base that breaks the one-version contract reads as its scan
    // before and after the first transact alike
    val g2 = Graft.over(spark, base().copy(versioned = false), firstTx = 4, firstEntityId = 1000)
    val before2 = baseRows(g2)
    g2.transact(Seq(MapForm(Seq("s" -> "n"))))
    assert(baseRows(g2) === before2)
  }

  test("Graft.over with delta facts on base entities: reads from that tx on run windowed") {
    val g = Graft.over(spark, base(), firstTx = 4, firstEntityId = 1000)
    val tx = new Tx(g)
    tx(MapForm(Seq("s" -> "n"), tempId = Some("q")))
    val touched = tx(Add(100L, "s", "z"), Retract(101L, "m", "y"))
    tx(Retract(900L, Card, Many))
    val last = tx(Add(102L, "l", 1L), Add(tx.ents("q"), "l", 2L))
    assertAgrees(g, last, "over, base touched", windowedFrom = Some(touched))
    val g2 = Graft.over(spark, base(), firstTx = 4, firstEntityId = 1000)
    assertAgrees(g2, history(g2, new Random(23L), nTx = 4), "over + history")
  }
}
