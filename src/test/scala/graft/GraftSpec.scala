package graft

import graft.datalog._
import graft.transact.Transactor.{Add, MapForm, Retract}
import org.apache.spark.sql.functions.col

/** End-to-end façade spec: transact → query → time-travel → pull, the
  * full reference workflow on one connection. */
class GraftSpec extends SparkSpec {

  test("asOfInstant resolves the tx from txInstant facts") {
    var now = 0L
    val conn = Graft.open(spark, clock = () => { now += 1000; now })
    val r1 = conn.transact(Seq(MapForm(Seq("name" -> "v1"), tempId = Some("x")))) // t=1000
    conn.transact(Seq(
      Retract(r1.tempIds("x"), "name", "v1"),
      Add(r1.tempIds("x"), "name", "v2"))) // t=2000
    val nameAt = (g: Graft) => g.query(Query(
      find = Seq(FVar(V("n"), "n")),
      where = Pattern(C(r1.tempIds("x")), C("name"), V("n"))))
      .collect().map(_.getString(0)).toSeq
    assert(nameAt(conn.asOfInstant(1500)) === Seq("v1"))
    assert(nameAt(conn.asOfInstant(2500)) === Seq("v2"))
    assert(nameAt(conn.asOfInstant(500)) === Seq.empty)
  }

  test("pull: reference flagship scenario — card-many friends, nested status, missing attrs") {
    // mirrors reference query_test.clj:520-560: Alice pulls name,
    // favorite-color, nested status text, and a cardinality-many
    // friends list each with their own nested status (Bob has none).
    import graft.core.Schema
    import spark.implicits._
    val conn = Graft.open(spark)
    conn.transact(Seq(MapForm(Seq(
      Schema.SchemaAttr -> "friends",
      Schema.CardinalityAttr -> Schema.CardinalityMany))))
    val r = conn.transact(Seq(
      MapForm(Seq("name" -> "Bob", "favorite-color" -> "green"), tempId = Some("bob")),
      MapForm(Seq("name" -> "Carl", "favorite-color" -> "yellow",
        "status" -> MapForm(Seq("text" -> "Feeling bad"))), tempId = Some("carl")),
      MapForm(Seq("name" -> "Alice", "favorite-color" -> "red",
        "status" -> MapForm(Seq("text" -> "Feeling good"))), tempId = Some("alice"))))
    val (alice, bob, carl) = (r.tempIds("alice"), r.tempIds("bob"), r.tempIds("carl"))
    conn.transact(Seq(
      Add(alice, "friends", conn.session.EntityRef(bob)),
      Add(alice, "friends", conn.session.EntityRef(carl))))

    val spec = Pull.Spec(Seq("name", "favorite-color"), Seq(
      "status" -> Pull.Spec(Seq("text")),
      "friends" -> Pull.Spec(Seq("name", "favorite-color"),
        Seq("status" -> Pull.Spec(Seq("text"))))))
    val row = conn.pull(Seq(alice).toDF("e"), spec)
      .select("pulled").head().getStruct(0)
    assert(row.getString(0) === "Alice")
    assert(row.getString(1) === "red")
    assert(row.getStruct(2).getString(0) === "Feeling good")
    val friends = row.getSeq[org.apache.spark.sql.Row](3)
    assert(friends.length === 2)
    val byName = friends.map(f => f.getString(0) -> f).toMap
    assert(byName("Carl").getString(1) === "yellow")
    assert(byName("Carl").getStruct(2).getString(0) === "Feeling bad")
    assert(byName("Bob").getString(1) === "green")
    assert(byName("Bob").isNullAt(2) || byName("Bob").getStruct(2).isNullAt(0)) // no status

    // multi-pull find (reference query_test.clj:566-570): two pulls of
    // the SAME ?e in one :find — each evaluates as its own sub-query
    // and the per-row result carries one map per pull
    val multi = conn.pullMany(Seq(alice).toDF("e"),
      Seq("p_name" -> Pull.Spec(Seq("name")),
          "p_color" -> Pull.Spec(Seq("favorite-color"))))
      .select("p_name", "p_color").head()
    assert(multi.getStruct(0).getString(0) === "Alice")
    assert(multi.getStruct(1).getString(0) === "red")
    // and over the full entity set the per-pull sub-queries stay
    // independent: every named person resolves both pulls
    val all = conn.pullMany(Seq(alice, bob, carl).toDF("e"),
      Seq("p_name" -> Pull.Spec(Seq("name")),
          "p_color" -> Pull.Spec(Seq("favorite-color"))))
      .collect().map(r => r.getStruct(1).getString(0) ->
        r.getStruct(2).getString(0)).toMap
    assert(all === Map("Alice" -> "red", "Bob" -> "green", "Carl" -> "yellow"))
    // two specs through the same card-many ref, each with its own
    // sub-spec; Bob has no friends and no status
    val shared = conn.pullMany(Seq(alice, bob).toDF("e"),
      Seq("p_friends" -> Pull.Spec(Seq("name"), Seq("friends" -> Pull.Spec(Seq("name")))),
          "p_colors" -> Pull.Spec(Nil, Seq("friends" -> Pull.Spec(Seq("favorite-color"),
            Seq("status" -> Pull.Spec(Seq("text"))))))))
      .collect().map(r => r.getLong(0) -> (r.getStruct(1), r.getStruct(2))).toMap
    import org.apache.spark.sql.Row
    assert(shared(alice) === (Row("Alice", Seq(Row("Bob"), Row("Carl"))),
      Row(Seq(Row("green", null), Row("yellow", Row("Feeling bad"))))))
    assert(shared(bob) === (Row("Bob", null), Row(null)))
  }

  test("connection workflow: transact, query, as-of, retract, pull") {
    val conn = Graft.open(spark)
    val r1 = conn.transact(Seq(
      MapForm(Seq("name" -> "Ben", "salary" -> 60000L), tempId = Some("ben")),
      MapForm(Seq("name" -> "Alyssa", "salary" -> 40000L), tempId = Some("alyssa"))))
    val ben = r1.tempIds("ben")

    // query latest
    val q = Query(
      find = Seq(FVar(V("n"), "n")),
      where = And(
        Pattern(V("e"), C("salary"), V("s")),
        Pred(">", V("s"), C(50000L)),
        Pattern(V("e"), C("name"), V("n"))))
    assert(conn.query(q).collect().map(_.getString(0)).toSeq === Seq("Ben"))

    // raise Alyssa's salary (retract + add, the reference idiom)
    val alyssa = r1.tempIds("alyssa")
    val r2 = conn.transact(Seq(
      Retract(alyssa, "salary", 40000L),
      Add(alyssa, "salary", 70000L)))

    assert(conn.query(q).collect().map(_.getString(0)).toSet === Set("Ben", "Alyssa"))
    // time travel: before the raise only Ben matched
    assert(conn.asOf(r1.txId).query(q).collect().map(_.getString(0)).toSeq === Seq("Ben"))

    // historical sees both salary versions for Alyssa
    val hist = conn.historical.query(Query(
      find = Seq(FVar(V("s"), "s"), FVar(V("ad"), "ad")),
      where = Pattern(C(alyssa), C("salary"), V("s"), W, V("ad"))))
    assert(hist.count() === 3) // 40000 add, 40000 retract, 70000 add

    // pull
    import spark.implicits._
    val pulled = conn.pullFlat(Seq(ben).toDF("e"), Pull.Spec(Seq("name", "salary")))
    val row = pulled.select("name", "salary").head()
    assert(row.getString(0) === "Ben" && row.getLong(1) === 60000L)

    // pull as of a tx between a card-one ref re-point and a tag retraction
    import graft.core.Schema
    import org.apache.spark.sql.Row
    conn.transact(Seq(MapForm(Seq(
      Schema.SchemaAttr -> "tag", Schema.CardinalityAttr -> Schema.CardinalityMany))))
    val r = conn.transact(Seq(
      MapForm(Seq("nname" -> "PERU"), tempId = Some("n1")),
      MapForm(Seq("nname" -> "JAPAN"), tempId = Some("n2"))))
    val (n1, n2) = (r.tempIds("n1"), r.tempIds("n2"))
    val p = conn.transact(Seq(MapForm(Seq("name" -> "P", "tag" -> "red", "tag" -> "blue",
      "nation" -> conn.session.EntityRef(n1)), tempId = Some("p")))).tempIds("p")
    val repoint = conn.transact(Seq(Add(p, "nation", conn.session.EntityRef(n2)))).txId
    val retract = conn.transact(Seq(Retract(p, "tag", "blue"))).txId
    val spec = Pull.Spec(Seq("name", "tag"), Seq("nation" -> Pull.Spec(Seq("nname"))))
    def pulledAt(g: Graft): Row = g.pull(Seq(p).toDF("e"), spec).select("pulled").head().getStruct(0)
    assert(pulledAt(conn.asOf(repoint - 1)) === Row("P", Seq("blue", "red"), Row("PERU")))
    assert(pulledAt(conn.asOf(repoint)) === Row("P", Seq("blue", "red"), Row("JAPAN")))
    assert(pulledAt(conn.asOf(retract - 1)) === Row("P", Seq("blue", "red"), Row("JAPAN")))
    assert(pulledAt(conn) === Row("P", Seq("red"), Row("JAPAN")))
    assert(conn.asOf(repoint).pullFlat(Seq(p).toDF("e"), spec).collect().map(_.toSeq).toSeq ===
      Seq(Seq(p, "P", Seq("blue", "red"), "JAPAN")))
  }
}
