package graft

import graft.core.FactDb
import graft.datalog.{Compiler, Pull, Query}
import graft.transact.Transactor
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.LocalBroadcast

/** User-facing façade — the connection-level API a unifyDB user maps
  * onto directly (reference surface: transact / query / pull / as-of,
  * /root/reference/src/unifydb/{transact,query}.clj + server.clj
  * endpoints).
  *
  * {{{
  * val conn = Graft.open(spark)
  * val report = conn.transact(Seq(MapForm(Seq("name" -> "Alice"))))
  * conn.query(Query(...))                  // latest snapshot
  * conn.asOf(report.txId).query(Query(...))// time travel
  * conn.historical.query(Query(...))       // every fact version
  * conn.pull(idsDf, Pull.Spec(...))        // nested entity retrieval
  * }}}
  *
  * Opening a connection registers `LocalBroadcast` on the session, so a
  * join against driver-held rows (the transacted delta, a small
  * fixpoint round) broadcasts them without a Spark job.
  */
final class Graft private (val session: Transactor.Session,
                           asOfTx: Long = Long.MaxValue,
                           historicalMode: Boolean = false) {

  private implicit def spark: SparkSession = session.spark

  /** Current database value (immutable snapshot semantics: queries on a
    * Graft handle see facts as of its tx bound, like the reference's
    * db-as-value). Cardinality honors the schema facts visible at that
    * bound, resolved from the session's commit-time schema record: no
    * Spark job. */
  def db: FactDb = session.dbAsOf(asOfTx)

  def transact(tx: Seq[Transactor.TxStmt]): Transactor.TxReport = session.transact(tx)

  /** The database as of a past transaction id. */
  def asOf(tx: Long): Graft = new Graft(session, tx, historicalMode)

  /** The database as of a wall-clock instant: resolves the newest
    * transaction whose `unifydb/txInstant` is <= `instant` (every tx
    * writes one — reference `make-new-tx-facts`, transact.clj:17) and
    * time-travels there. The session records each instant at commit
    * (and a `Graft.over` base log's at open), so this runs no job. */
  def asOfInstant(instant: Long): Graft = asOf(session.txAsOfInstant(instant))

  /** Historical mode: every fact version, with tx/added visible in
    * patterns. */
  def historical: Graft = new Graft(session, asOfTx, historicalMode = true)

  def query(q: Query): DataFrame =
    Compiler.run(Compiler.Db(db, asOfTx, historicalMode), q)

  def pull(ids: DataFrame, spec: Pull.Spec): DataFrame =
    Pull.pullNested(db, ids, spec, asOfTx)

  def pullFlat(ids: DataFrame, spec: Pull.Spec): DataFrame =
    Pull.pullFlat(db, ids, spec, asOfTx)

  /** MULTIPLE pull expressions over the same entity set — the reference
    * runs each `(pull ?e [...])` in a :find as its OWN generated
    * sub-query and zips the resulting maps per row (reference
    * query_test.clj:566-570, query/pull.clj). Here every spec walks one
    * shared snapshot and equijoins back on `e`: one row per entity,
    * one named struct column per pull. */
  def pullMany(ids: DataFrame, specs: Seq[(String, Pull.Spec)]): DataFrame = {
    val d = db
    val snap = d.snapshot(asOfTx)
    specs.foldLeft(ids) { case (acc, (name, spec)) =>
      acc.join(Pull.nested(d, snap, ids, spec).withColumnRenamed("pulled", name), Seq("e"), "left")
    }
  }
}

object Graft {
  /** Fresh empty database. `clock` feeds each tx's txInstant (inject a
    * fake for deterministic tests). */
  def open(spark: SparkSession,
           clock: () => Long = () => System.currentTimeMillis()): Graft = {
    LocalBroadcast.setup(spark)
    new Graft(Transactor.emptySession(spark, clock = clock))
  }

  /** Over an existing fact db (e.g. bulk-melted tables or
    * sources.FactLogIO.read). `firstTx`/`firstEntityId` must be above
    * anything in the log. The log's schema facts and tx instants are read
    * once, here, in one job. A transaction that writes one of the log's
    * entities makes reads as of it or later resolve the whole log with
    * `FactDb.snapshot`'s windows (see `Transactor`). */
  def over(spark: SparkSession, db: FactDb, firstTx: Long,
           firstEntityId: Long): Graft = {
    LocalBroadcast.setup(spark)
    new Graft(Transactor.session(spark, db, firstTx, firstEntityId))
  }
}
