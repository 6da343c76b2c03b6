package graft.core

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Schema-as-facts (reference: /root/reference/src/unifydb/schema.clj +
  * the doc-store test, query_test.clj:150-175): attribute metadata
  * lives IN the fact log as ordinary facts —
  *   [?e :unifydb/schema      <attr-name>]
  *   [?e :unifydb/cardinality "cardinality/many"]
  * — so schema changes are transactional and time-travel like any other
  * fact. This derives the cardinality-many attribute set from the log
  * (a driver-side collect of schema entities only — metadata-sized by
  * construction, like the reference's own schema sub-query).
  *
  * [[Schema.History]] is the same derivation over a session's schema
  * ops held in memory: a transactor records each schema op at commit,
  * so resolving the set for a tx runs no Spark job. `cardManyAttrs`
  * stays the log-derived reference it must agree with.
  */
object Schema {
  val SchemaAttr = "unifydb/schema"
  val CardinalityAttr = "unifydb/cardinality"
  val CardinalityMany = "cardinality/many"

  /** Attributes declared :cardinality/many by schema facts visible as of
    * `asOfTx`. Reads the version-RESOLVED snapshot (not the raw log) so
    * a retracted schema declaration stops applying — the reference
    * resolves schema via a normal query whose process-facts filters
    * retractions (schema.clj get-cardinalities). */
  def cardManyAttrs(db: FactDb, asOfTx: Long = Long.MaxValue): Set[String] = {
    val log = db.snapshot(asOfTx)
    val schemaEnts = log.filter(col("a") === SchemaAttr)
      .select(col("e"), col("vstr").as("attr"))
    val manyEnts = log.filter(col("a") === CardinalityAttr &&
        col("vstr") === CardinalityMany)
      .select(col("e"))
    schemaEnts.join(manyEnts, "e").select("attr")
      .distinct().collect().map(_.getString(0)).toSet
  }

  /** The attributes whose facts make up the schema. */
  val Attrs: Seq[String] = Seq(SchemaAttr, CardinalityAttr)

  /** Every `unifydb/schema` and `unifydb/cardinality` op (assertions and
    * retractions, each with its tx) as rows of `FactStore.factSchema`,
    * resolved in memory by [[History.cardMany]] exactly as
    * [[cardManyAttrs]] resolves them through `FactDb.snapshot`: per
    * (e, a, value) the newest op as of the tx decides liveness (a
    * retraction wins a same-tx tie), then a cardinality-one attribute
    * keeps its newest live value per (e, a), value slots descending
    * (nulls last) breaking a same-tx tie. Ops are metadata-sized. */
  final case class History(ops: Vector[Row]) {
    def ++(more: Iterable[Row]): History = History(ops ++ more)

    /** Attributes declared cardinality-many as of `asOfTx`, over a db
      * whose own cardinality-many set is `declared` and whose
      * versioning flag is `versioned` (as `cardManyAttrs` reads them
      * from its `FactDb`). */
    def cardMany(asOfTx: Long, declared: Set[String], versioned: Boolean): Set[String] = {
      val visible = ops.filter(_.getLong(TxCol) <= asOfTx)
      val live =
        if (!versioned) visible
        else {
          val perValue = visible.groupBy(r => (0 until TxCol).map(r.get)).values.flatMap { vs =>
            val newest = vs.map(_.getLong(TxCol)).max
            val atNewest = vs.filter(_.getLong(TxCol) == newest)
            if (atNewest.forall(_.getBoolean(AddedCol))) atNewest.headOption else None
          }
          perValue.groupBy(r => (r.getLong(0), r.getString(1))).values.flatMap { rs =>
            if (declared(rs.head.getString(1))) rs else Seq(rs.max(Newest))
          }
        }
      val many = live.collect {
        case r if r.getString(1) == CardinalityAttr && r.get(VstrCol) == CardinalityMany => r.getLong(0)
      }.toSet
      live.collect {
        case r if r.getString(1) == SchemaAttr && many(r.getLong(0)) => r.getString(VstrCol)
      }.toSet
    }
  }

  object History {
    val empty: History = History(Vector.empty)

    /** The schema ops of a fact log (one Spark job). */
    def of(log: DataFrame): History =
      History(log.filter(col("a").isin(Attrs: _*)).collect().toVector)
  }

  private val VstrCol = 3
  private val TxCol = 8
  private val AddedCol = 9

  /** `resolveCardOne`'s window order as "greater = newer": tx, then each
    * value slot with a present value above an absent one. Strings
    * compare as Spark does (UTF-8 bytes). */
  private val Newest: Ordering[Row] = new Ordering[Row] {
    private def slot(x: Row, y: Row, i: Int): Int = (x.isNullAt(i), y.isNullAt(i)) match {
      case (true, true) => 0
      case (true, false) => -1
      case (false, true) => 1
      case _ => (x.get(i), y.get(i)) match {
        case (a: String, b: String) => UTF8String.fromString(a).compareTo(UTF8String.fromString(b))
        case (a: java.lang.Long, b: java.lang.Long) => a.compareTo(b)
        case (a: java.lang.Double, b: java.lang.Double) =>
          if (a.doubleValue == b.doubleValue) 0 else java.lang.Double.compare(a, b)
        case (a: java.sql.Timestamp, b: java.sql.Timestamp) => a.compareTo(b)
        case (a: java.time.Instant, b: java.time.Instant) => a.compareTo(b)
        case (a, b) => throw new IllegalArgumentException(s"uncomparable schema values $a, $b")
      }
    }
    def compare(x: Row, y: Row): Int = {
      val byTx = java.lang.Long.compare(x.getLong(TxCol), y.getLong(TxCol))
      if (byTx != 0) byTx
      else (VstrCol until TxCol).iterator.map(slot(x, y, _)).find(_ != 0).getOrElse(0)
    }
  }

  /** A FactDb whose cardinality handling follows its own schema facts. */
  def applySchema(db: FactDb, asOfTx: Long = Long.MaxValue): FactDb =
    db.copy(cardMany = db.cardMany ++ cardManyAttrs(db, asOfTx))

  /** All schema properties of `attrs`, keyed by attribute — the
    * reference's `get-schemas` (schema.clj:19-31; schema_test.clj:13):
    * e.g. Map("foo" -> Map("unifydb/schema" -> "foo",
    * "unifydb/cardinality" -> "cardinality/many")). Unknown attrs are
    * absent. */
  def getSchemas(db: FactDb, attrs: Seq[String],
                 asOfTx: Long = Long.MaxValue): Map[String, Map[String, String]] = {
    val log = db.snapshot(asOfTx) // version-resolved: retractions drop out
    val ents = log.filter(col("a") === SchemaAttr && col("vstr").isin(attrs: _*))
      .select(col("e"), col("vstr").as("attr"))
    val props = log.filter(col("a").startsWith("unifydb/"))
      .select(col("e"), col("a").as("prop"), col("vstr").as("value"))
      .filter(col("value").isNotNull)
    ents.join(props, "e").select("attr", "prop", "value")
      .distinct().collect()
      .groupBy(_.getString(0))
      .map { case (attr, rows) =>
        attr -> rows.map(r => r.getString(1) -> r.getString(2)).toMap
      }
  }
}
