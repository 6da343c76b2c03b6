package graft.core

import org.apache.spark.sql.catalyst.InternalRow
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
  * ops held on the driver: a transactor records each schema op at
  * commit and resolves them with [[Versions.snapshot]], the resolver its
  * delta index also uses, so resolving the set for a tx runs no Spark
  * job. `cardManyAttrs` stays the log-derived reference it must agree
  * with (SchemaHistorySpec).
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
    * retractions, each with its tx), held on the driver: a session
    * records its own ops at commit and reads a base log's once, at open.
    * [[History.cardMany]] resolves them through the one in-memory
    * resolver, [[Versions.snapshot]], under the rules [[cardManyAttrs]]
    * reads through `FactDb.snapshot`, so the set as of any tx costs no
    * Spark job. Ops are metadata-sized. */
  final case class History(ops: Versions) {
    def ++(more: Iterable[InternalRow]): History = History(ops ++ more)

    /** Attributes declared cardinality-many as of `asOfTx`, over a db
      * whose own cardinality-many set is `declared` and whose
      * versioning flag is `versioned` (as `cardManyAttrs` reads them
      * from its `FactDb`). */
    def cardMany(asOfTx: Long, declared: Set[String], versioned: Boolean): Set[String] = {
      val live = ops.snapshot(asOfTx, declared, versioned).toSeq
      val many = live.collect {
        case r if Versions.attr(r) == CardinalityAttr && ManyValue == Versions.vstr(r) => r.getLong(0)
      }.toSet
      live.collect {
        case r if Versions.attr(r) == SchemaAttr && many(r.getLong(0)) =>
          Option(Versions.vstr(r)).map(_.toString).orNull
      }.toSet
    }
  }

  object History {
    val empty: History = History(Versions.empty)
  }

  private val ManyValue = UTF8String.fromString(CardinalityMany)

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
