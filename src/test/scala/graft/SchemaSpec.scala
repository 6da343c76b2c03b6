package graft

import graft.core.Schema
import graft.transact.Transactor
import org.apache.spark.sql.functions._

/** Mirrors the reference doc-store scenario
  * (query_test.clj:150-175 / 520+): :friends is declared
  * cardinality/many via schema FACTS, so both of Alice's friends
  * survive snapshot resolution while an undeclared attr collapses to
  * latest-wins. */
class SchemaSpec extends SparkSpec {

  test("cardinality from schema facts controls snapshot resolution") {
    val sess = Transactor.emptySession(spark)
    sess.transact(Seq(
      Transactor.MapForm(Seq(
        Schema.SchemaAttr -> "friends",
        Schema.CardinalityAttr -> Schema.CardinalityMany)),
      Transactor.MapForm(Seq("name" -> "Bob"), tempId = Some("bob")),
      Transactor.MapForm(Seq("name" -> "Carl"), tempId = Some("carl"))))
    val r2 = sess.transact(Seq(
      Transactor.MapForm(Seq("name" -> "Alice"), tempId = Some("alice"))))
    val alice = r2.tempIds("alice")
    val bobCarl = sess.db.snapshot()
      .filter(col("a") === "name" && col("vstr").isin("Bob", "Carl"))
      .select("e").collect().map(_.getLong(0)).sorted
    sess.transact(Seq(
      Transactor.Add(alice, "friends", sess.EntityRef(bobCarl(0))),
      Transactor.Add(alice, "friends", sess.EntityRef(bobCarl(1))),
      Transactor.Add(alice, "mood", "happy")))
    sess.transact(Seq(Transactor.Add(alice, "mood", "tired")))

    val schemaDb = Schema.applySchema(sess.db)
    assert(schemaDb.cardMany.contains("friends"))
    val snap = schemaDb.snapshot()
    // friends: cardinality-many -> both kept
    assert(snap.filter(col("a") === "friends").count() === 2)
    // mood: undeclared -> latest wins
    val moods = snap.filter(col("a") === "mood").select("vstr").collect()
    assert(moods.map(_.getString(0)).toSeq === Seq("tired"))
  }

  test("retracted cardinality declaration stops applying (schema reads resolved snapshot)") {
    val sess = Transactor.emptySession(spark)
    val r1 = sess.transact(Seq(
      Transactor.MapForm(Seq(
        Schema.SchemaAttr -> "nicknames",
        Schema.CardinalityAttr -> Schema.CardinalityMany), tempId = Some("sch"))))
    assert(Schema.cardManyAttrs(sess.db) === Set("nicknames"))
    // retract the cardinality/many declaration — the attribute reverts
    // to cardinality-one from here on
    sess.transact(Seq(Transactor.Retract(
      r1.tempIds("sch"), Schema.CardinalityAttr, Schema.CardinalityMany)))
    assert(Schema.cardManyAttrs(sess.db) === Set.empty)
    // as-of the declaring tx it still applies (time travel)
    assert(Schema.cardManyAttrs(sess.db, asOfTx = r1.txId) === Set("nicknames"))
  }

  test("getSchemas returns all schema props per attribute (reference schema_test)") {
    val sess = Transactor.emptySession(spark)
    sess.transact(Seq(
      Transactor.MapForm(Seq(
        Schema.SchemaAttr -> "foo",
        Schema.CardinalityAttr -> Schema.CardinalityMany)),
      Transactor.MapForm(Seq(
        Schema.SchemaAttr -> "bar",
        "unifydb/unique" -> "unique/upsert"))))
    val schemas = Schema.getSchemas(sess.db, Seq("foo", "bar", "baz"))
    assert(schemas("foo") === Map("unifydb/schema" -> "foo",
      "unifydb/cardinality" -> "cardinality/many"))
    assert(schemas("bar") === Map("unifydb/schema" -> "bar",
      "unifydb/unique" -> "unique/upsert"))
    assert(!schemas.contains("baz"))
  }

  test("user transform hashes credentials; report redacts sensitive attrs") {
    val sess = Transactor.emptySession(spark)
    val report = sess.transact(Seq(Transactor.MapForm(Seq(
      "unifydb/username" -> "ben",
      "unifydb/password" -> "hunter2"), tempId = Some("u"))))
    // raw password never reaches the log
    assert(sess.db.log.filter(col("a") === "unifydb/password").count() === 0)
    // derived credentials ARE in the log...
    assert(sess.db.log.filter(col("a") === "unifydb/stored-key").count() === 1)
    assert(sess.db.log.filter(col("a") === "unifydb/salt").count() === 1)
    // ...but redacted from the report (reference filter-auth-facts)
    assert(!report.facts.exists(f => Transactor.SensitiveAttrs.contains(f._2)))
    assert(report.facts.exists(_._2 == "unifydb/username"))
  }

  test("mixed-type attribute ingest is rejected with a clear error") {
    // graft types each attribute to ONE value slot — the deliberate
    // trade (SURVEY §4) vs the reference's cc-cmp heterogeneous
    // ordering (comparison.clj:91). Retyping must fail loudly, not
    // silently orphan the attribute's existing facts.
    val session = Transactor.emptySession(spark, clock = () => 1000L)
    val r0 = session.transact(Seq(Transactor.Add("e1", "color", "red")))
    // across transactions: string attr, long value
    val e = intercept[IllegalArgumentException] {
      session.transact(Seq(Transactor.Add("e2", "color", 7L)))
    }
    assert(e.getMessage.contains("color"), e.getMessage)
    assert(e.getMessage.contains("vstr"), e.getMessage)
    assert(e.getMessage.contains("vlong"), e.getMessage)
    // within one transaction: two slots for the same attr
    val e2 = intercept[IllegalArgumentException] {
      session.transact(Seq(
        Transactor.Add("e3", "size", 1L), Transactor.Add("e4", "size", 2.5)))
    }
    assert(e2.getMessage.contains("size"), e2.getMessage)
    // the failed transactions left no facts behind
    assert(session.db.log.filter(col("a") === "color").count() === 1)
    assert(session.db.log.filter(col("a") === "size").count() === 0)
    // ...and consumed no ids: the next successful tx gets the id the
    // first rejected one would have had, its entities the next free ids
    val r1 = session.transact(Seq(Transactor.Add("e5", "color", "blue")))
    assert(r1.txId === r0.txId + 1)
    assert(r1.tempIds("e5") === r0.tempIds.values.max + 1)
  }
}
