package graft.datalog

import graft.core.FactDb
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.LocalBroadcast

/** Pull expressions — nested entity retrieval, the Spark re-expression
  * of /root/reference/src/unifydb/query/pull.clj.
  *
  * The reference compiles a pull into one generated sub-query per
  * nesting level, constrained by the parent level's entity ids, and
  * reassembles maps on the driver. Here each level is one plan: the
  * snapshot filtered to the level's attributes (semi-joined to the ids
  * at the root), one join per ref edge to the child level's structs
  * (built the same way), and one `groupBy(e)` that builds the level's
  * struct. Cardinality-many attrs — scalar AND ref —
  * collect to a sorted array per entity (`fix-cardinalities`,
  * pull.clj:148-170: the reference vectors ANY card-many attr, not just
  * refs). The flat face is a projection of the nested result.
  * Everything stays distributed — no driver-side reassembly.
  */
object Pull {

  /** Pull specification: scalar attrs + nested pulls through ref attrs. */
  final case class Spec(attrs: Seq[String], refs: Seq[(String, Spec)] = Nil)

  /** Flat pull: one output column per (possibly nested) attr, named by
    * the attr itself (callers rename as needed), and one row per child
    * of a cardinality-many ref (a parent without children keeps one
    * row). `ids` must expose an `e` column of entity ids. */
  def pullFlat(db: FactDb, ids: DataFrame, spec: Spec,
               asOfTx: Long = Long.MaxValue): DataFrame =
    flatten(db, pullNested(db, ids, spec, asOfTx), spec)

  /** Nested pull: one `pulled` struct column per input row, its fields
    * in spec order (attrs, then refs), arrays of structs for
    * cardinality-many ref attrs. */
  def pullNested(db: FactDb, ids: DataFrame, spec: Spec,
                 asOfTx: Long = Long.MaxValue): DataFrame = {
    LocalBroadcast.setup(ids.sparkSession)
    nested(db, db.snapshot(asOfTx), ids, spec)
  }

  /** [[pullNested]] over `snap`, a snapshot of `db` that several pulls
    * share. An id with no facts gets a struct of nulls. */
  private[graft] def nested(db: FactDb, snap: DataFrame, ids: DataFrame, spec: Spec): DataFrame =
    ids.join(level(db, snap.join(ids.select("e"), Seq("e"), "left_semi"), snap, spec), Seq("e"), "left")
      .withColumn("pulled", fields(col("pulled"), spec))

  /** The flat face of a [[nested]] result: struct fields become columns,
    * each cardinality-many ref explodes (outer) to one row per child. */
  private[graft] def flatten(db: FactDb, pulled: DataFrame, spec: Spec): DataFrame = {
    def walk(df: DataFrame, c: Column, s: Spec, path: String): (DataFrame, Seq[Column]) =
      s.refs.zipWithIndex.foldLeft((df, s.attrs.map(a => c.getField(a).as(a)))) {
        case ((acc, leaves), ((r, sub), i)) =>
          val tmp = s"${path}_$i"
          val (next, child) =
            if (db.cardMany(r)) (acc.withColumn(tmp, explode_outer(c.getField(r))), col(tmp))
            else (acc, c.getField(r))
          val (out, subLeaves) = walk(next, child, sub, tmp)
          (out, leaves ++ subLeaves)
      }
    val (exploded, leaves) = walk(pulled, col("pulled"), spec, "pulled")
    exploded.select(pulled.columns.filterNot(_ == "pulled").map(col) ++ leaves: _*)
  }

  /** `c`'s fields as a struct that is never null: a struct of nulls
    * where `c` is null. */
  private def fields(c: Column, s: Spec): Column =
    struct((s.attrs ++ s.refs.map(_._1)).map(n => c.getField(n).as(n)): _*)

  /** One nesting level: `(e, pulled)` for each entity with a fact in
    * `facts` among the level's attributes. A child level reads the whole
    * snapshot and the ref join keeps the children this level references:
    * a semi-join against those ids would re-plan this level inside the
    * child's plan, a copy Spark does not share over a cached log. */
  private def level(db: FactDb, facts: DataFrame, snap: DataFrame, s: Spec): DataFrame = {
    val own = facts.filter(col("a").isin(s.attrs ++ s.refs.map(_._1): _*))
    val withChildren = s.refs.zipWithIndex.foldLeft(own) { case (acc, ((r, sub), i)) =>
      val child = level(db, snap, snap, sub).select(col("e").as(s"__e$i"), col("pulled").as(s"__p$i"))
      acc.join(child, col("a") === r && col("vref") === col(s"__e$i"), "left")
    }
    def value(a: String, v: Column): Column = {
      val mine = when(col("a") === a, v)
      if (!db.cardMany(a)) max(mine)
      else { val vs = sort_array(collect_list(mine)); when(size(vs) > 0, vs) }
    }
    withChildren.groupBy("e").agg(struct(
      s.attrs.map(a => value(a, col(db.slot(a))).as(a)) ++
        s.refs.zipWithIndex.map { case ((r, sub), i) => value(r, fields(col(s"__p$i"), sub)).as(r) }: _*)
      .as("pulled"))
  }
}
