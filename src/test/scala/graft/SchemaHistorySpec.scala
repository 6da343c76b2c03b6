package graft

import scala.util.Random

import graft.core.{FactDb, FactStore, Schema}
import graft.transact.Transactor.{Add, MapForm, Retract, TxStmt}
import org.apache.spark.sql.Row

/** The session's commit-time schema record must resolve the
  * cardinality-many set exactly as the log-derived reference
  * (`Schema.cardManyAttrs` over `FactDb.snapshot`) does, at every tx of
  * seeded random schema histories. */
class SchemaHistorySpec extends SparkSpec {
  import Schema.{CardinalityAttr => Card, CardinalityMany => Many, SchemaAttr => Name}
  private val One = "cardinality/one"
  private val Attrs = Seq("a0", "a1", "a2", "a3")

  /** The reference and the session agree at every tx up to `lastTx`
    * and at `Long.MaxValue`. */
  private def assertAgrees(g: Graft, lastTx: Long, label: String): Unit = {
    val db = g.session.db
    ((0L to lastTx) :+ Long.MaxValue).foreach { t =>
      val expected = db.cardMany ++ Schema.cardManyAttrs(db, t)
      assert(g.asOf(t).db.cardMany === expected, s"$label as of tx $t")
    }
  }

  /** Scripted coverage, then `nTx` random schema transactions over the
    * schema entities `known`. Returns the last tx. */
  private def history(g: Graft, rnd: Random, nTx: Int, known0: Seq[Long]): Long = {
    val known = collection.mutable.ArrayBuffer(known0: _*)
    def tx(stmts: TxStmt*): Long = {
      val r = g.transact(stmts)
      known ++= r.tempIds.collect { case (k, e) if k.startsWith("s") => e }
      r.txId
    }
    // declare, retract, re-declare; a later cardinality/one assertion
    // superseding many without a retraction; a retraction and an
    // assertion of the same fact in one tx (the retraction wins)
    tx(MapForm(Seq(Name -> "a0", Card -> Many), tempId = Some("s0")))
    val e0 = known.last
    tx(Retract(e0, Card, Many))
    tx(Add(e0, Card, Many))
    tx(Add(e0, Card, One))
    tx(Retract(e0, Card, One), Add(e0, Card, Many))
    tx(Retract(e0, Card, Many), Add(e0, Card, Many))
    var last = tx(Add(e0, Card, Many), Add(e0, Name, "a1"))
    (1 to nTx).foreach { k =>
      def e = known(rnd.nextInt(known.size))
      val ops = (1 to 1 + rnd.nextInt(3)).flatMap { i =>
        rnd.nextInt(8) match {
          case 0 => Seq(MapForm(Seq(Name -> Attrs(rnd.nextInt(Attrs.size)), Card -> Many),
            tempId = Some(s"s$k-$i")))
          case 1 => Seq(Retract(e, Card, Many))
          case 2 => Seq(Add(e, Card, Many))
          case 3 => Seq(Add(e, Card, One))
          case 4 => val x = e; Seq(Retract(x, Card, Many), Add(x, Card, Many))
          case 5 => val x = e; Seq(Retract(x, Card, One), Add(x, Card, Many))
          case 6 => Seq(Add(e, Name, Attrs(rnd.nextInt(Attrs.size))))
          case _ => val x = e; val a = Attrs(rnd.nextInt(Attrs.size))
            Seq(Retract(x, Name, a), Add(x, Name, a))
        }
      }
      last = tx(ops :+ MapForm(Seq("other" -> k.toLong)): _*)
    }
    last
  }

  test("random schema histories on Graft.open: in-memory set equals Schema.cardManyAttrs at every tx") {
    Seq(11L, 29L).foreach { seed =>
      val g = Graft.open(spark)
      val last = history(g, new Random(seed), nTx = 8, Nil)
      assertAgrees(g, last, s"seed $seed")
    }
  }

  test("schema facts inside a Graft.over base log: read once, then extended by transacts") {
    def f(e: Long, a: String, v: String, tx: Long, added: Boolean = true) =
      Row(e, a, "s", v, null, null, null, null, tx, added)
    val baseLog = spark.createDataFrame(java.util.Arrays.asList(
      f(100, Name, "b0", 1), f(100, Card, Many, 1),
      f(101, Name, "b1", 1), f(101, Card, Many, 1),
      f(100, Card, Many, 2, added = false),
      f(101, Card, One, 3),
      f(100, Card, Many, 4), f(102, Name, "b2", 4), f(102, Card, Many, 4),
      f(102, Card, Many, 4, added = false)), FactStore.factSchema)
    val types = Map(Name -> "vstr", Card -> "vstr")
    // the base declares unifydb/cardinality itself cardinality-many, so a
    // later cardinality/one no longer supersedes many
    Seq(Set.empty[String], Set(Card)).foreach { declared =>
      val base = FactDb(baseLog, types, declared)
      assertAgrees(Graft.over(spark, base, 5, 1000), 4, s"over $declared")
      // unversioned: every op counts, as FactDb.snapshot reads it
      assertAgrees(Graft.over(spark, base.copy(versioned = false), 5, 1000), 4,
        s"over unversioned $declared")
    }
    val g = Graft.over(spark, FactDb(baseLog, types), 5, 1000)
    val last = history(g, new Random(47L), nTx = 6, Seq(100L, 101L, 102L))
    assertAgrees(g, last, "over + transacts")
  }
}
