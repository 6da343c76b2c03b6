package graft.datalog

/** Datalog query AST — the Spark-native re-expression of unifyDB's query
  * language (reference: /root/reference/src/unifydb/query.clj:286-299
  * `qeval` dispatch — :and, :or, :not, predicates, binding functions,
  * simple patterns — and :find/:sort-by/:limit/:bind processing in
  * `do-query`, query.clj:488-503).
  *
  * Where the reference streams frames (variable-binding maps) through a
  * unification interpreter one fact at a time, we compile the whole
  * query to a single Catalyst logical plan: a frame-set is a DataFrame
  * whose columns are the bound variables. Unification of a pattern
  * against the fact log becomes filter + project; conjunction becomes
  * equi-join on the shared variable columns; disjunction becomes union;
  * negation becomes anti-join. Catalyst then owns join order, pushdown
  * and codegen — nothing is interpreted per-row on the driver.
  */
sealed trait Term
final case class V(name: String) extends Term            // ?var
final case class C(value: Any) extends Term              // constant
case object W extends Term                               // _ wildcard

sealed trait Clause
/** [e a v tx added] 5-tuple pattern (reference pads clauses to 5,
  * query.clj:301-304). */
final case class Pattern(e: Term, a: Term, v: Term,
                         tx: Term = W, added: Term = W) extends Clause
final case class And(clauses: Clause*) extends Clause
final case class Or(clauses: Clause*) extends Clause
final case class Not(clause: Clause) extends Clause
/** [(op args...)] filter predicate, e.g. Pred("<", V("s"), C(100)). */
final case class Pred(op: String, args: Term*) extends Clause
/** [(fn args...) ?out] binding function (query.clj:106-130). */
final case class FnBind(fn: String, out: V, args: Term*) extends Clause
/** Application of a named rule. */
final case class RuleApp(name: String, args: Term*) extends Clause

/** Rest-pattern sugar over the sub-entity collection encoding — the
  * ergonomic equivalent of the reference's `[?h & ?t]` unification
  * against a collection value in one fact (reference
  * src/unifydb/unify.clj:85, test/unifydb/query_test.clj:178-250).
  *
  * graft's typed-column value model stores a queryable collection as a
  * sub-entity whose positional components are attributes (SURVEY §4):
  * `[?e :address [?town & ?rest]]` becomes
  * `RestPattern(V("e"), C("address"), Seq("addr/town", "addr/street1",
  * "addr/street2", "addr/number"), head = V("town"),
  * tail = Seq(V("s1"), V("s2"), V("n")))`.
  * `head` unifies with the first component; `tail` unifies positionally
  * with the rest (use `W` to skip a component, mirroring a wildcard in
  * the reference's list pattern). Desugars to plain patterns, so the
  * compiled plan is the same join pipeline the hand-written encoding
  * produces — this is AST-level sugar, not a new operator. */
final case class RestPattern(e: Term, attr: Term, fields: Seq[String],
                             head: Term, tail: Seq[Term]) extends Clause {
  require(fields.nonEmpty, "rest-pattern needs at least one component field")
  require(tail.length == fields.length - 1,
    s"rest-pattern tail arity ${tail.length} != ${fields.length - 1} (fields: $fields)")
  /** The sub-entity join variable: content-derived name — deterministic,
    * distinct (w.h.p.) across rest-patterns in one query, and purely
    * INTERNAL: the compiler drops it from the frame right after this
    * clause evaluates, so it never leaks into :or column-set checks,
    * :not keying, or the find surface. Bind the sub-entity with plain
    * patterns if you need it. */
  private[datalog] def subVar: String =
    s"__rest$$${java.lang.Integer.toHexString(hashCode)}"

  /** The equivalent plain-pattern conjunction. */
  def desugared: Clause = {
    val sub = V(subVar)
    And(Pattern(e, attr, sub) +:
      fields.zip(head +: tail).collect {
        case (f, t) if t != W => Pattern(sub, C(f), t)
      }: _*)
  }
}

/** Rest-pattern sugar over the ORDERED element-list encoding
  * (graft.core.FactStore.meltList): binds list elements POSITIONALLY by
  * index instead of by named component fields — the query-side
  * counterpart of ingesting a ragged/schema-free list. `[?e :phones
  * [?first & ?second]]` becomes `IndexedRestPattern(V("e"), "phones",
  * head = V("first"), tail = Seq(V("second")))`: position i unifies
  * against the element sub-entity with `<attr>/idx` = i via its
  * `<attr>/val`. `W` skips a position; a list needs at least
  * `1 + tail.length` elements to match (prefix semantics — the ragged
  * lists this encoding exists for have no uniform length to pin).
  * Desugars to plain patterns (one ref + idx + val triple per bound
  * position), so the compiled plan is the same join pipeline as
  * [[RestPattern]]'s — AST-level sugar, not a new operator. */
final case class IndexedRestPattern(e: Term, attr: String,
                                    head: Term, tail: Seq[Term]) extends Clause {
  require((head +: tail).exists(_ != W),
    "indexed rest-pattern needs at least one non-wildcard position")
  /** Internal per-position sub-entity vars (same discipline as
    * [[RestPattern.subVar]]: dropped right after the clause evaluates). */
  private[datalog] def subVar(i: Int): String =
    s"__elem$$${java.lang.Integer.toHexString(hashCode)}$$$i"
  private[datalog] def subVars: Seq[String] =
    (head +: tail).zipWithIndex.collect { case (t, i) if t != W => subVar(i) }

  /** The equivalent plain-pattern conjunction. */
  def desugared: Clause =
    And((head +: tail).zipWithIndex.collect { case (t, i) if t != W =>
      val sub = V(subVar(i))
      Seq(Pattern(e, C(attr), sub),
        Pattern(sub, C(s"$attr/idx"), C(i.toLong)),
        Pattern(sub, C(s"$attr/val"), t))
    }.flatten: _*)
}

/** A named deductive rule: head params + body (reference rules,
  * query.clj:260-274; recursion supported via semi-naive fixpoint). */
final case class Rule(name: String, params: Seq[V], body: Clause)

sealed trait FindExpr { def alias: String }
/** Plain variable in :find — also the implicit grouping key. */
final case class FVar(v: V, alias: String) extends FindExpr
object FVar { def apply(n: String): FVar = FVar(V(n), n) }
/** Aggregate in :find (reference `aggregate`, query.clj:353-378):
  * sum min max mean avg median mode stddev count count-distinct distinct. */
final case class FAgg(fn: String, v: V, alias: String) extends FindExpr
/** Pull expression in :find (reference `(pull ?e [...])`,
  * src/unifydb/query/pull.clj:7-21; exercised at
  * test/unifydb/query_test.clj:521-570): each pull runs as its own
  * sub-query over the result entity set — the compiler runs the pull
  * walk ([[Pull.pullNested]], one plan per nesting level) once per
  * FPull against the distinct bindings of `v`, every FPull of the
  * :find over one shared snapshot, and left-joins the pulled columns
  * back onto the frame set, so multi-pull finds keep the reference's
  * one-subquery-per-pull semantics. By default the walk's result is
  * projected flat ([[Pull.pullFlat]]'s face): output columns named by
  * the pulled attrs, matching the typed dl_pull face; `alias` is the
  * pull var's name (the pulled columns carry the user-facing names).
  * Not combinable with aggregates in the same :find (the reference
  * does not group pulls either).
  *
  * `nested = true` keeps the walk's own shape instead: ONE struct
  * column named `pulled` — the faithful shape of the reference's
  * nested result maps (arrays of structs for card-many refs,
  * null-filled fields where the reference omits map keys).
  * QueryText selects it automatically when the flat face would
  * produce colliding column names (same attr pulled at two levels). */
final case class FPull(v: V, spec: Pull.Spec, alias: String,
                       nested: Boolean = false) extends FindExpr

final case class SortKey(alias: String, desc: Boolean = false)

/** Structured query-error contract (reference query.clj error maps,
  * exercised at test/unifydb/query_test.clj:228-247, 436-441,
  * 500-513): the error CODE and the offending field travel typed —
  * `{:code :unbound-variable :variable "joob" :message ...}` becomes
  * `QueryException("unbound-variable", "variable" -> "joob", ...)` —
  * so an API layer can render the reference's exact error map.
  * Extends IllegalArgumentException: every pre-existing catch site
  * keeps working. */
final class QueryException(val code: String, val field: (String, String),
                           message: String)
    extends IllegalArgumentException(message)

final case class Query(
    find: Seq[FindExpr],
    where: Clause,
    rules: Seq[Rule] = Nil,
    sortBy: Seq[SortKey] = Nil,
    limit: Option[Int] = None,
    bind: Map[String, Any] = Map.empty)
