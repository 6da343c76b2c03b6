package graft.core

import scala.collection.immutable.HashMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.unsafe.types.UTF8String

/** Fact ops held on the driver (catalyst rows of `FactStore.factSchema`),
  * indexed by (e, a): each key's version chain in append order,
  * structurally shared between successive values, so appending a
  * transaction costs O(its ops).
  *
  * [[live]] is graft's one in-memory version resolver, the driver-side
  * twin of `FactDb.snapshot`'s two windows, and follows their rules
  * exactly:
  *  - per (e, a, vtype, value) the newest op with tx <= the bound
  *    decides, and a retraction wins a same-tx tie;
  *  - a cardinality-one attribute keeps its newest live value per
  *    (e, a), the value slots descending (nulls last) breaking a
  *    same-tx tie.
  * Value identity is Spark's: a window's partition keys go through
  * `NormalizeFloatingNumbers`, so NaN equals NaN and -0.0 equals 0.0,
  * and doubles order as `SQLOrderingUtil.compareDoubles`. Its callers:
  * a session's delta ([[DriverDelta]], on every driver-resolved read),
  * the schema record ([[Schema.History]]) and the job-free entity read
  * (`graft.sources.PointRead`); the last two go through [[snapshot]],
  * which also covers an unversioned db. */
final class Versions private (chains: HashMap[(Long, String), Vector[InternalRow]]) {
  import Versions._

  def ++(ops: Iterable[InternalRow]): Versions =
    new Versions(ops.foldLeft(chains) { (m, r) =>
      val k = (r.getLong(0), r.getUTF8String(1).toString)
      m.updated(k, m.getOrElse(k, Vector.empty) :+ r)
    })

  /** Every op with tx <= `asOfTx`, unresolved. */
  def visible(asOfTx: Long): Iterator[InternalRow] =
    chains.valuesIterator.flatMap(_.iterator.filter(_.getLong(TxCol) <= asOfTx))

  /** `FactDb.snapshot`'s rule on the driver: [[live]] for a versioned
    * db, [[visible]] for an unversioned one. */
  def snapshot(asOfTx: Long, cardMany: String => Boolean, versioned: Boolean): Iterator[InternalRow] =
    if (versioned) live(asOfTx, cardMany) else visible(asOfTx)

  /** The live facts as of `asOfTx`; `cardMany` selects the attributes
    * that keep every live value. */
  def live(asOfTx: Long, cardMany: String => Boolean): Iterator[InternalRow] =
    chains.iterator.flatMap { case ((_, a), chain) =>
      val perValue = chain.filter(_.getLong(TxCol) <= asOfTx).groupBy(valueKey).values.flatMap { ops =>
        val newest = ops.map(_.getLong(TxCol)).max
        val atNewest = ops.filter(_.getLong(TxCol) == newest)
        if (atNewest.forall(_.getBoolean(AddedCol))) atNewest.lastOption else None
      }
      if (cardMany(a) || perValue.isEmpty) perValue else Iterator.single(perValue.max(Newest))
    }
}

object Versions {
  val empty: Versions = new Versions(HashMap.empty)

  private val VstrCol = 3
  private val VrefCol = 7
  private val TxCol = 8
  private val AddedCol = 9

  private val ValueSlots = (2 to VrefCol).map(i => i -> FactStore.factSchema(i).dataType)

  /** (vtype, value slots), a double as its bits once normalised as
    * `NormalizeFloatingNumbers` normalises a window's partition keys
    * (boxed doubles compare numerically in Scala, where NaN != NaN). */
  private def valueKey(r: InternalRow): Seq[Any] = ValueSlots.map { case (i, dt) =>
    r.get(i, dt) match {
      case d: java.lang.Double => java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d)
      case v => v
    }
  }

  /** The cardinality-one window's order as "greater = newer": tx, then
    * each value slot with a present value above an absent one. */
  private val Newest: Ordering[InternalRow] = new Ordering[InternalRow] {
    private def slot(x: InternalRow, y: InternalRow, i: Int): Int =
      (x.isNullAt(i), y.isNullAt(i)) match {
        case (true, true) => 0
        case (true, false) => -1
        case (false, true) => 1
        case _ => FactStore.factSchema(i).dataType match {
          case org.apache.spark.sql.types.StringType =>
            x.getUTF8String(i).compareTo(y.getUTF8String(i))
          case org.apache.spark.sql.types.DoubleType =>
            SQLOrderingUtil.compareDoubles(x.getDouble(i), y.getDouble(i))
          case _ => java.lang.Long.compare(x.getLong(i), y.getLong(i)) // long, timestamp, ref
        }
      }
    def compare(x: InternalRow, y: InternalRow): Int = {
      val byTx = java.lang.Long.compare(x.getLong(TxCol), y.getLong(TxCol))
      if (byTx != 0) byTx
      else (VstrCol to VrefCol).iterator.map(slot(x, y, _)).find(_ != 0).getOrElse(0)
    }
  }

  private[core] def attr(r: InternalRow): String = r.getUTF8String(1).toString
  private[core] def vstr(r: InternalRow): UTF8String = r.getUTF8String(VstrCol)
}

/** A session's transacted delta, resolved on the driver for
  * `FactDb.snapshot`. `log` is the session's whole log, `base` ∪ one
  * leaf over the raw delta; `ops` indexes that delta's ops.
  * `baseVersioned` is the base database's own `versioned` flag, under
  * which the base half of a driver-resolved read resolves, so an
  * unversioned base stays a plain scan. `baseTouchedTx` is the first
  * tx whose delta wrote an entity of the base (an id below the
  * session's first minted entity id), if any:
  * the (e, a) keys of the delta and the base are
  * disjoint only before it, so a read as of it or later stays windowed
  * over the whole log. Owned by the committed database value, so two
  * reads of one committed state carry the same handle (and stay equal
  * fixpoint-cache keys). */
final class DriverDelta(val log: DataFrame, val base: DataFrame, val baseVersioned: Boolean,
                        ops: Versions, baseTouchedTx: Option[Long]) {

  /** The delta's live facts as of `asOfTx` under the read's own
    * cardinality-many set, as one leaf (`Bridge.rowsFrame`), or None
    * when the read must stay windowed. */
  def resolved(asOfTx: Long, cardMany: Set[String]): Option[DataFrame] =
    if (baseTouchedTx.exists(_ <= asOfTx)) None
    else Some(Bridge.rowsFrame(log.sparkSession, FactStore.factSchema,
      ops.live(asOfTx, cardMany).toVector))
}
