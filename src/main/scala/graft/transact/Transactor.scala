package graft.transact

import scala.collection.immutable.TreeMap

import graft.core.{DriverDelta, FactDb, FactStore, Schema, Versions}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graft.Bridge

/** Transaction processing — the Spark-native re-expression of
  * /root/reference/src/unifydb/transact.clj.
  *
  * Semantics kept from the reference:
  *  - ops are add/retract 4-tuples (`process-tx-data`, transact.clj:57);
  *  - map forms expand to add-ops, nested maps/seq-of-maps become
  *    sub-entities with generated ids (`map-form->add-forms`,
  *    transact.clj:23-47);
  *  - string entity ids are temp ids resolved to fresh database ids
  *    (`gen-temp-ids`/`resolve-temp-ids`, transact.clj:70-97);
  *  - every transaction writes a tx entity carrying `txInstant`
  *    (`make-new-tx-facts`, transact.clj:17-21) and returns a report
  *    with the resolved tempids + tx facts.
  *
  * Differences (deliberate, Spark-first):
  *  - tx ids are monotone longs minted by the session under one commit
  *    lock (the reference serializes through one queue consumer — same
  *    guarantee): validation, id minting, the append and publishing
  *    the new database value happen together, and a rejected
  *    transaction consumes no id.
  *  - a commit costs O(transaction) and runs no Spark job. Facts are
  *    converted once to catalyst rows and appended to ONE driver-side
  *    delta buffer; the session's log is its base log unioned with a
  *    single leaf over that buffer — a local relation up to
  *    `Bridge.FoldRows` rows, past it one parallelized RDD of at most
  *    `defaultParallelism` partitions — so log partitions and plan
  *    leaves stay constant however many transactions ran. That log is
  *    what `historical` reads.
  *  - the same rows are indexed by (e, a), each key's version chain
  *    structurally shared (`core.Versions`). The published `FactDb`
  *    carries that index (`core.DriverDelta`), so its `snapshot(t)`
  *    resolves the delta as of `t` on the driver, under the windows'
  *    own rules, and unions the live rows, as one leaf of the same
  *    kind, with the windowed base: no window runs over the delta. A
  *    transaction that writes a base entity (an id below
  *    `firstEntityId`, i.e. an update of a `Graft.over` base log) ends
  *    that: reads as of it or later run the windows over the whole log,
  *    since the base and delta (e, a) keys are no longer disjoint.
  *  - each `unifydb/schema` / `unifydb/cardinality` op is recorded with
  *    its tx at commit, so the cardinality-many set as of any tx
  *    resolves in memory (`Session.dbAsOf`), and each
  *    `unifydb/txInstant`, so `Session.txAsOfInstant` runs no job; a
  *    session over an existing log reads that log's schema ops and tx
  *    instants once, at open, in one job.
  *
  * Bulk ingest bypasses this path via FactStore.melt.
  */
object Transactor {
  sealed trait TxStmt
  final case class Add(e: Any, a: String, v: Any) extends TxStmt
  final case class Retract(e: Any, a: String, v: Any) extends TxStmt
  /** Nested-map transaction form; values may be primitives, MapForm, or
    * Seq[MapForm]. */
  final case class MapForm(attrs: Seq[(String, Any)],
                           tempId: Option[String] = None) extends TxStmt

  final case class TxReport(txId: Long, tempIds: Map[String, Long],
                            facts: Seq[(Any, String, Any, Long, Boolean)])

  /** Pre-expansion rewrite of incoming statements (reference
    * transforms.clj — applied before id resolution). */
  type Transform = Seq[TxStmt] => Seq[TxStmt]
  /** Post-commit rewrite of the outgoing report (reference filters.clj
    * — the log keeps everything; only the REPORT is filtered). */
  type ReportFilter = TxReport => TxReport

  /** Sensitive auth attributes never echoed in tx-reports (reference
    * filter-auth-facts, transact/filters.clj:14-25). */
  val SensitiveAttrs: Set[String] =
    Set("unifydb/salt", "unifydb/i", "unifydb/server-key", "unifydb/stored-key")

  val redactSensitive: ReportFilter = r =>
    r.copy(facts = r.facts.filterNot(f => SensitiveAttrs.contains(f._2)))

  /** PBKDF2 iteration count stored alongside credentials (and actually
    * applied in the derivation — the stored `unifydb/i` must match what
    * a verifier would run). */
  val Pbkdf2Iterations = 4096

  private def randomSalt(): String = {
    val bytes = new Array[Byte](16)
    new java.security.SecureRandom().nextBytes(bytes)
    bytes.map("%02x".format(_)).mkString
  }

  /** User-creation transform (reference new-user-transform,
    * transact/transforms.clj:25-38): a username+password pair on one
    * entity becomes derived credential facts; the raw password never
    * reaches the log. Key derivation is PBKDF2-HMAC-SHA256 with the
    * advertised `unifydb/i` iteration count over a random 128-bit salt
    * (`salt` is injectable for deterministic tests). */
  def newUserTransform(salt: String => String = _ => randomSalt()): Transform = {
    stmts =>
      val byEntity = stmts.collect { case a @ Add(_, _, _) => a }.groupBy(_.e)
      val userEnts = byEntity.collect {
        case (e, adds) if adds.exists(_.a == "unifydb/username") &&
          adds.exists(_.a == "unifydb/password") => e
      }.toSet
      if (userEnts.isEmpty) stmts
      else stmts.flatMap {
        case Add(e, "unifydb/password", pw: String) if userEnts(e) =>
          val username = byEntity(e).find(_.a == "unifydb/username").get.v.toString
          val s = salt(username)
          val spec = new javax.crypto.spec.PBEKeySpec(
            pw.toCharArray, s.getBytes("UTF-8"), Pbkdf2Iterations, 256)
          val key = javax.crypto.SecretKeyFactory.getInstance("PBKDF2WithHmacSHA256")
            .generateSecret(spec).getEncoded.map("%02x".format(_)).mkString
          Seq(Add(e, "unifydb/salt", s), Add(e, "unifydb/stored-key", key),
            Add(e, "unifydb/i", Pbkdf2Iterations.toLong))
        case other => Seq(other)
      }
  }

  /** What a session has committed, published whole at each commit.
    * `delta` holds every transacted fact as a converted catalyst row and
    * `ops` the same rows indexed by (e, a) (both structurally shared
    * between successive values); `schema` holds every schema op with
    * its tx, `instants` the tx instants, and `baseTouchedTx` the first
    * tx that wrote a base entity, if any. */
  private final case class Committed(db: FactDb, delta: Vector[InternalRow], ops: Versions,
                                     schema: Schema.History, instants: Instants,
                                     baseTouchedTx: Option[Long])

  /** Every recorded `unifydb/txInstant` value, kept as a staircase:
    * instant → the newest tx that recorded an instant at or before it,
    * both ascending. `txAt` is the log's own answer,
    * max(tx | txInstant <= instant), with no job. */
  private[transact] final case class Instants(steps: TreeMap[Long, Long]) {
    /** Record the `unifydb/txInstant` facts among `rows`, whose txs are
      * at least every tx recorded so far. */
    def ++(rows: Iterable[InternalRow]): Instants =
      rows.foldLeft(this) { (m, r) =>
        if (r.getUTF8String(1).toString != TxInstantAttr || r.isNullAt(4)) m
        else {
          val (instant, tx) = (r.getLong(4), r.getLong(8))
          if (m.txAt(instant).exists(_ >= tx)) m
          else Instants(m.steps.rangeUntil(instant).updated(instant, tx))
        }
      }
    def txAt(instant: Long): Option[Long] = steps.rangeTo(instant).lastOption.map(_._2)
  }
  private[transact] object Instants {
    val empty: Instants = Instants(TreeMap.empty)
  }

  private val TxInstantAttr = "unifydb/txInstant"

  /** One connection's transactor. `transact` commits atomically: under
    * one lock it validates the statements, mints the tx id and entity
    * ids, appends the facts and publishes the new database value, so
    * concurrent callers get distinct consecutive tx ids and a rejected
    * transaction consumes no id. Reads (`db`, `dbAsOf`) take no lock. */
  final class Session private[transact] (val spark: SparkSession, base: FactDb,
                                          firstTx: Long, firstEntityId: Long,
                                          clock: () => Long = () => System.currentTimeMillis(),
                                          transforms: Seq[Transform] = Seq(newUserTransform()),
                                          reportFilters: Seq[ReportFilter] = Seq(redactSensitive),
                                          baseSchema: Schema.History = Schema.History.empty,
                                          baseInstants: Instants = Instants.empty) {

    private var nextTx = firstTx
    private var nextId = firstEntityId
    @volatile private var committed =
      Committed(base, Vector.empty, Versions.empty, baseSchema, baseInstants, None)
    private val toRow = Bridge.rowConverter(FactStore.factSchema)

    /** The committed database: the base log unioned with one leaf over
      * every transacted fact. */
    def db: FactDb = committed.db

    /** The committed database for reads as of `asOfTx`, its
      * cardinality-many set extended by the schema facts visible then —
      * resolved in memory from the ops recorded at commit, no Spark job
      * (what `Schema.applySchema(db, asOfTx)` derives from the log). */
    def dbAsOf(asOfTx: Long): FactDb = {
      val c = committed
      c.db.copy(cardMany = c.db.cardMany ++ c.schema.cardMany(asOfTx, c.db.cardMany, c.db.versioned))
    }

    /** The newest tx whose `unifydb/txInstant` is <= `instant` (-1 if
      * none), from the instants recorded at commit and read from a base
      * log at open: no Spark job. */
    def txAsOfInstant(instant: Long): Long = committed.instants.txAt(instant).getOrElse(-1L)

    private var tempCounter = 0L
    private def freshTemp(): String = { tempCounter += 1; s"graft.temp-$tempCounter" }

    /** Map-form → add-forms, the reference's emission order (the
      * parent→child link BEFORE the child's own facts — transact.clj
      * map-form->add-forms `conj`s the link onto the front;
      * transact_test.clj expand-map-forms-test pins the order, run
      * verbatim by ReferenceTxCorpusSpec). Order matters observably:
      * it fixes which fresh ids implicit temp ids resolve to. */
    private def expand(stmt: TxStmt): Seq[TxStmt] = stmt match {
      case m: MapForm =>
        val id = m.tempId.getOrElse(freshTemp())
        m.attrs.flatMap {
          case (a, child: MapForm) =>
            val childId = child.tempId.getOrElse(freshTemp())
            Add(id, a, EntityRef(childId)) +: expand(child.copy(tempId = Some(childId)))
          case (a, children: Seq[_]) if children.forall(_.isInstanceOf[MapForm]) =>
            children.flatMap { c0 =>
              val c = c0.asInstanceOf[MapForm]
              val childId = c.tempId.getOrElse(freshTemp())
              Add(id, a, EntityRef(childId)) +: expand(c.copy(tempId = Some(childId)))
            }
          case (a, v) => Seq(Add(id, a, v))
        }
      case other => Seq(other)
    }

    /** Marker for a reference-to-entity value (temp id or resolved). */
    case class EntityRef(id: Any)

    /** A transacted value as its fact encoding: the value slot it
      * lands in and its value there. */
    private def encode(v: Any): (String, Any) = v match {
      case EntityRef(id) => ("vref", id)
      case s: String => ("vstr", s)
      case l: Long => ("vlong", l)
      case i: Int => ("vlong", i.toLong)
      case b: Boolean => ("vlong", if (b) 1L else 0L)
      case d: Double => ("vdbl", d)
      case t: java.sql.Timestamp => ("vts", t)
      case other => throw new IllegalArgumentException(s"unsupported value $other")
    }

    def transact(txData: Seq[TxStmt]): TxReport = {
      val report = synchronized(commit(txData))
      reportFilters.foldLeft(report)((r, f) => f(r))
    }

    private def commit(txData: Seq[TxStmt]): TxReport = {
      // every tx writes a tx entity carrying its wall-clock instant
      // (reference make-new-tx-facts, transact.clj:17-21)
      val transformed = transforms.foldLeft(txData.flatMap(expand))((d, t) => t(d))
      val expanded = transformed :+
        // the tx-entity temp id is part of the reference's REPORT
        // contract (transact_test.clj asserts tempids keys include
        // "unifydb.tx") — keep the reference's name so verbatim users
        // find it
        Add("unifydb.tx", TxInstantAttr, clock())
      val prior = committed
      val types = checkSlots(expanded, prior.db.attrTypes)
      // ids are minted into locals and published only with the commit:
      // a transaction that fails from here on consumes none
      val txId = nextTx
      var id = nextId
      val temps = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      def resolveE(e: Any): Long = e match {
        case s: String => temps.getOrElseUpdate(s, { id += 1; id - 1 })
        case l: Long => l
        case i: Int => i.toLong
        case other => throw new IllegalArgumentException(s"bad entity id $other")
      }
      val facts = expanded.map {
        case Add(e, a, EntityRef(rid)) => (resolveE(e), a, EntityRef(resolveE(rid)), txId, true)
        case Add(e, a, v) => (resolveE(e), a, v, txId, true)
        case Retract(e, a, v) => (resolveE(e), a, v, txId, false)
        case m: MapForm => throw new IllegalStateException(s"unexpanded $m")
      }
      val converted = facts.map { case (e, a, v, tx, added) =>
        val (slot, value) = encode(v)
        toRow(FactStore.factRow(e, a, slot, value, tx, added))
      }
      val delta = prior.delta ++ converted
      val ops = prior.ops ++ converted
      val baseTouchedTx = prior.baseTouchedTx
        .orElse(Option.when(facts.exists(_._1 < firstEntityId))(txId))
      val log = base.log.unionAll(Bridge.rowsFrame(spark, FactStore.factSchema, delta))
      committed = Committed(
        FactDb(log, prior.db.attrTypes ++ types, prior.db.cardMany, versioned = true,
          delta = Some(new DriverDelta(log, base.log, base.versioned, ops, baseTouchedTx))),
        delta, ops,
        prior.schema ++ converted.filter(r => Schema.Attrs.contains(r.getUTF8String(1).toString)),
        prior.instants ++ converted,
        baseTouchedTx)
      nextTx = txId + 1
      nextId = id
      TxReport(txId, temps.toMap, facts)
    }

    /** Attribute → value slot of a transaction's statements, checked
      * against the slots already registered. graft types each attribute
      * to ONE value slot — the deliberate trade (SURVEY §4) against the
      * reference's cc-cmp total order over heterogeneous values
      * (comparison.clj:91). A value whose slot disagrees with the
      * attribute's registered slot would silently RETYPE the attribute
      * and orphan its existing facts' pattern/sort path — reject the
      * transaction loudly instead. */
    private def checkSlots(stmts: Seq[TxStmt], registered: Map[String, String]): Map[String, String] = {
      val typesSeq = stmts.map {
        case Add(_, a, v) => a -> encode(v)._1
        case Retract(_, a, v) => a -> encode(v)._1
        case m: MapForm => throw new IllegalStateException(s"unexpanded $m")
      }
      typesSeq.groupBy(_._1).foreach { case (a, slots) =>
        val distinctSlots = slots.map(_._2).distinct
        val prior = registered.get(a)
        if (distinctSlots.size > 1 || prior.exists(_ != distinctSlots.head))
          throw new IllegalArgumentException(
            s"attribute $a is typed ${prior.getOrElse(distinctSlots.head)} but " +
              s"the transaction writes ${distinctSlots.mkString(",")}: graft " +
              "attributes hold one value type (no mixed-type cc-cmp ordering); " +
              "use a distinct attribute per value type")
      }
      typesSeq.toMap
    }
  }

  /** Fresh session with an empty fact log. */
  def emptySession(spark: SparkSession, firstTx: Long = 1L,
                   firstEntityId: Long = 1L,
                   clock: () => Long = () => System.currentTimeMillis()): Session = {
    // an empty local relation: the optimizer drops it from the union
    // with the delta, so an empty session's log is the delta alone
    val empty = Bridge.rowsFrame(spark, FactStore.factSchema, Vector.empty)
    new Session(spark, FactDb(empty, Map.empty), firstTx, firstEntityId, clock)
  }

  /** Session over an existing db (e.g. bulk-melted base tables). Its
    * schema ops and tx instants are read from the base log here, once
    * (one Spark job). */
  def session(spark: SparkSession, db: FactDb, firstTx: Long,
              firstEntityId: Long): Session = {
    val toRow = Bridge.rowConverter(FactStore.factSchema)
    val (instants, schemaOps) = db.log.filter(col("a").isin(Schema.Attrs :+ TxInstantAttr: _*))
      .collect().toSeq.map(toRow).partition(_.getUTF8String(1).toString == TxInstantAttr)
    new Session(spark, db, firstTx, firstEntityId,
      baseSchema = Schema.History.empty ++ schemaOps,
      baseInstants = Instants.empty ++ instants.sortBy(_.getLong(8)))
  }
}
