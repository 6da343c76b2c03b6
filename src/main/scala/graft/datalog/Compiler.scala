package graft.datalog

import graft.core.{FactDb, Fixpoint}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.LocalBroadcast
import org.apache.spark.sql.types._

/** Datalog → DataFrame compiler.
  *
  * Each clause maps to a relational operator on "frame" DataFrames
  * (one column per bound variable), replacing the reference's per-frame
  * unification interpreter (/root/reference/src/unifydb/query.clj:286).
  * The result is ONE Catalyst plan per query: joins get reordered /
  * broadcast by the optimizer + AQE, pattern constants reach the
  * parquet scans as pushed filters, and everything stays in
  * whole-stage codegen. Scale notes:
  *  - a pattern with a constant attribute prunes to that attribute's
  *    partition of the fact log before any join;
  *  - conjunction joins key on shared variables (usually the entity
  *    id), which matches the fact log's bucketing column;
  *  - recursive rules run semi-naive (delta-only joins) on
  *    `graft.core.Fixpoint`.
  */
object Compiler {

  /** db mode: resolved snapshot vs raw historical log (reference
    * `:historical` db flag, query.clj:194-201). */
  final case class Db(facts: FactDb, asOf: Long = Long.MaxValue,
                      historical: Boolean = false) {
    private[datalog] lazy val source: DataFrame =
      if (historical) facts.historical(asOf) else facts.snapshot(asOf)
  }

  def run(db: Db, q: Query)(implicit spark: SparkSession): DataFrame = {
    LocalBroadcast.setup(spark)
    val rules = q.rules.groupBy(_.name)
    val ruleCache = collection.mutable.Map.empty[String, DataFrame]
    val initFrames: Option[DataFrame] =
      if (q.bind.isEmpty) None
      else Some(spark.range(1).select(q.bind.map { case (k, v) => lit(v).as(k) }.toSeq: _*))
    val frames = eval(db, q.where, rules, ruleCache, initFrames)
      .getOrElse(throw new IllegalArgumentException("query binds no variables"))
    project(db, frames, q)
  }

  // ---------------------------------------------------------------- find

  private def aggCol(fn: String, v: String, alias: String): Column = (fn match {
    case "sum" => sum(col(v))
    case "min" => min(col(v))
    case "max" => max(col(v))
    case "mean" | "avg" => avg(col(v))
    case "median" => median(col(v))
    case "mode" => mode(col(v))
    case "stddev" => stddev_samp(col(v))
    case "count" => count(col(v))
    case "count-distinct" => count_distinct(col(v))
    case "distinct" => sort_array(collect_set(col(v)))
    // `distinct` rendered as a sorted comma-joined STRING: hash-stable
    // across engines (array columns defeat the driver's pandas-side
    // sort/hash compare), so it can carry a SQL oracle.
    case "distinct$str" =>
      array_join(transform(sort_array(collect_set(col(v))), _.cast(StringType)), ",")
    // Exact variants: double sums are accumulation-order-dependent, so a
    // distributed sum is not reproducible bit-for-bit. These route
    // through decimal (exact) and convert to double once at the end —
    // deterministic on any cluster size AND hash-identical to the same
    // formula in any other exact engine (the DuckDB oracle).
    case "sum$exact" =>
      sum(col(v).cast(DecimalType(25, 6))).cast(DoubleType)
    case "avg$exact" =>
      (sum(col(v).cast(DecimalType(25, 6))).cast(DoubleType) / count(col(v)))
    case "stddev$exact" => {
      val d = col(v).cast(DecimalType(25, 6))
      val sx = sum(d).cast(DoubleType)
      val sxx = sum(d * d).cast(DoubleType)
      val n = count(col(v)).cast(DoubleType)
      sqrt((sxx - sx * sx / n) / (n - lit(1.0)))
    }
    case other => throw new QueryException("unknown-aggregation",
      "aggregation" -> other, s"Unknown aggregation expression $other")
  }).as(alias)

  private def project(db: Db, frames: DataFrame, q: Query): DataFrame = {
    val aggs = q.find.collect { case a: FAgg => a }
    val vars = q.find.collect { case fv: FVar => fv }
    val pulls = q.find.collect { case p: FPull => p }
    if (pulls.nonEmpty) {
      // Each pull is its OWN sub-query over the result entity set
      // (reference pull.clj: one generated sub-query per pull), all
      // over one snapshot, then a left join back on the pull var —
      // frames stay distributed, no driver-side reassembly. Set
      // semantics group on find vars ∪ pull vars, so one output row per
      // distinct entity binding.
      require(aggs.isEmpty, "pull expressions cannot mix with aggregates in :find")
      val keyVars = (vars.map(_.v.name) ++ pulls.map(_.v.name)).distinct
      var out = frames.select(keyVars.map(col): _*).distinct()
      val pulledCols = scala.collection.mutable.ArrayBuffer.empty[String]
      val snap = db.facts.snapshot(db.asOf)
      pulls.foreach { p =>
        val nested = Pull.nested(db.facts, snap, out.select(col(p.v.name).as("e")).distinct(), p.spec)
        val pulled = if (p.nested) nested else Pull.flatten(db.facts, nested, p.spec)
        val attrCols = pulled.columns.filterNot(_ == "e").toSeq
        attrCols.foreach { c =>
          require(!pulledCols.contains(c),
            s"pull output column '$c' pulled twice across :find pulls")
          pulledCols += c
        }
        // Re-alias: `pulled` derives from `out` (via `ids`), so its
        // columns carry the same expression ids — mint fresh ones
        // before joining back (same discipline as :not's anti-join).
        val fresh = pulled
          .select((col("e").as(p.v.name) +: attrCols.map(c => col(c).as(c))): _*)
        out = out.join(fresh, joinCond(out, fresh, Seq(p.v.name)), "left")
          .drop(fresh(p.v.name))
      }
      val sel = vars.map(fv => col(fv.v.name).as(fv.alias)) ++ pulledCols.map(col)
      val projected = out.select(sel: _*)
      val sorted =
        if (q.sortBy.isEmpty) projected
        else projected.orderBy(q.sortBy.map(k =>
          if (k.desc) col(k.alias).desc else col(k.alias).asc): _*)
      return q.limit.fold(sorted)(sorted.limit)
    }
    // Reference grouping semantics (query.clj query-results*:
    // grouping-vars = find vars ∪ sort-by vars): a plain :sort-by var
    // that is NOT in :find still joins the set-semantics key —
    // `{:find [?name] :sort-by [?age]}` dedups on (name, age), sorts
    // by age, then projects name WITHOUT re-deduping
    // (query_test.clj:384-400).
    val findAliases = vars.map(_.alias)
    // an alias already projected by :find — var OR aggregate — is
    // sorted on directly; only a genuinely unprojected frame var
    // joins the grouping key
    val projectedAliases = findAliases ++ aggs.map(_.alias)
    val extraSort = q.sortBy.map(_.alias).distinct
      .filterNot(projectedAliases.contains).filter(frames.columns.contains)
    val projected =
      if (aggs.isEmpty) {
        // Set semantics: the reference groups frames by the find vars and
        // emits one row per group even without aggregates (query.clj:441-467).
        frames.select((vars.map(fv => col(fv.v.name).as(fv.alias)) ++
          extraSort.map(col)): _*).distinct()
      } else {
        val keyed = frames.groupBy((vars.map(fv => col(fv.v.name).as(fv.alias)) ++
          extraSort.map(col)): _*)
        keyed.agg(aggCol(aggs.head.fn, aggs.head.v.name, aggs.head.alias),
          aggs.tail.map(a => aggCol(a.fn, a.v.name, a.alias)): _*)
      }
    val sorted =
      if (q.sortBy.isEmpty) projected
      else projected.orderBy(q.sortBy.map(k => if (k.desc) col(k.alias).desc else col(k.alias).asc): _*)
    val limited = q.limit.fold(sorted)(sorted.limit)
    if (extraSort.isEmpty) limited
    else limited.select((findAliases ++ aggs.map(_.alias)).map(col): _*)
  }

  // ------------------------------------------------------------- clauses

  /** Evaluate `clause` in the context of `frames` (None = unit frame). */
  private def eval(db: Db, clause: Clause, rules: Map[String, Seq[Rule]],
                   cache: collection.mutable.Map[String, DataFrame],
                   frames: Option[DataFrame])
                  (implicit spark: SparkSession): Option[DataFrame] = clause match {
    case And(cs @ _*) => cs.foldLeft(frames)((f, c) => eval(db, c, rules, cache, f))
    case Or(cs @ _*) =>
      val parts = cs.map(c => eval(db, c, rules, cache, frames))
        .collect { case Some(df) => df }
      // Disjuncts must bind the same variable set: a var missing from
      // one branch would union as NULL, and a later join on it would
      // silently DROP those frames where the reference's unifier would
      // bind. Fail loudly instead of diverging.
      val varSets = parts.map(_.columns.toSet)
      require(varSets.distinct.size == 1,
        s":or disjuncts must bind the same variables, got ${varSets.mkString(" vs ")}")
      Some(parts.reduce(_.unionByName(_)))
    case Not(neg) =>
      val f = frames.getOrElse(throw new IllegalArgumentException(
        ":not needs preceding clauses (negation-as-filter, reference query.clj:45-57)"))
      // Anti-join only on the variables the negatee shares with the
      // frames: a frame dies iff a match exists for ITS binding of those
      // vars (other negatee vars are existential). Evaluating the
      // negatee over just the distinct shared bindings — instead of
      // per-frame — keeps the negation subplan proportional to the key
      // cardinality, not the frame count.
      val shared = clauseVars(neg).intersect(f.columns.toSet).toSeq
      if (shared.isEmpty) {
        eval(db, neg, rules, cache, None) match {
          case Some(m) if m.limit(1).count() > 0 => Some(f.limit(0))
          case _ => Some(f)
        }
      } else {
        val keys = f.select(shared.map(col): _*).distinct()
        eval(db, neg, rules, cache, Some(keys)) match {
          case None => Some(f)
          case Some(matched) =>
            // Re-alias every column: `matched` derives from `f` (via
            // `keys`), so its attributes carry the SAME expression ids —
            // a join condition built from them is trivially true
            // (ambiguous-self-join hazard). Alias() mints fresh ids.
            val survivors = matched
              .select(shared.map(c => col(c).as(c)): _*).distinct()
            Some(f.join(survivors, joinCond(f, survivors, shared), "left_anti"))
        }
      }
    case Pred(op, args @ _*) =>
      val f = frames.getOrElse(throw new IllegalArgumentException("predicate needs bound frames"))
      requireBound(f, args)
      Some(f.filter(predCol(op, args.map(term2col))))
    case FnBind(fn, out, args @ _*) =>
      val f = frames.getOrElse(throw new IllegalArgumentException("fn-bind needs bound frames"))
      requireBound(f, args)
      val value = fnCol(fn, args.map(term2col))
      if (f.columns.contains(out.name)) Some(f.filter(col(out.name) === value)) // unify
      else Some(f.withColumn(out.name, value))
    case p: Pattern => Some(merge(frames, pattern(db, p)))
    case rp: RestPattern =>
      // the synthetic sub-entity var is internal: drop it so :or
      // disjuncts with different rest-patterns still bind identical
      // column sets and :not keys only on user-visible vars
      eval(db, rp.desugared, rules, cache, frames).map(_.drop(rp.subVar))
    case irp: IndexedRestPattern =>
      eval(db, irp.desugared, rules, cache, frames).map(_.drop(irp.subVars: _*))
    case RuleApp(name, args @ _*) if rules(name).forall(d => !hasPattern(d.body)) =>
      // Filter-only rules (e.g. the reference's `[(:same ?x ?x)]`,
      // query_test.clj:140) have no finite relation to materialize —
      // inline each definition's body with params substituted by the
      // call arguments and evaluate against the current frames.
      val parts = rules(name).map { d =>
        val sub = d.params.map(_.name).zip(args).toMap
        substitute(d.body, sub, n => s"__rule_${name}_$n")
      }
      eval(db, if (parts.size == 1) parts.head else Or(parts: _*), rules, cache, frames)
    case RuleApp(name, args @ _*) =>
      val rel = cache.getOrElseUpdate(name, ruleRelation(db, name, rules, cache))
      val defs = rules(name)
      val params = defs.head.params
      require(params.length == args.length, s"rule $name arity mismatch")
      // Bind call args to the head params of the materialized relation:
      // a constant filters its param, a variable names its first param
      // and equates every later one with it.
      var out = rel
      var filters = List.empty[Column]
      val firstParam = collection.mutable.LinkedHashMap.empty[String, String]
      params.zip(args).foreach {
        case (p, C(value)) => filters ::= col(p.name) === lit(value)
        case (p, V(n)) => firstParam.get(n) match {
          case Some(q) => filters ::= col(p.name) === col(q)
          case None => firstParam(n) = p.name
        }
        case (_, W) => ()
      }
      filters.foreach(f => out = out.filter(f))
      // a rule relation is a set, and so is its projection onto every
      // argument that is not `_`: constants and repeated variables only
      // filter it. Only a wildcard drops a column that told rows apart.
      val projected = out.select(firstParam.map { case (n, p) => col(p).as(n) }.toSeq: _*)
      val selected = if (args.contains(W)) projected.distinct() else projected
      Some(merge(frames, selected))
  }

  /** Null-safe equi-join condition on `cols`. */
  private def joinCond(l: DataFrame, r: DataFrame, cols: Seq[String]): Column =
    cols.map(c => l(c) <=> r(c)).reduce(_ && _)

  /** Join new clause bindings into the accumulated frames. */
  private def merge(frames: Option[DataFrame], clauseDf: DataFrame): DataFrame =
    frames match {
      case None => clauseDf
      case Some(f) =>
        val shared = f.columns.toSet.intersect(clauseDf.columns.toSet).toSeq
        if (shared.isEmpty) f.crossJoin(clauseDf)
        else f.join(clauseDf, shared, "inner")
    }

  // ------------------------------------------------------------- pattern

  /** Compile one pattern to a DataFrame of its variable bindings. */
  private def pattern(db: Db, p: Pattern): DataFrame = {
    var src = db.source
    var outs = List.empty[Column]          // projections, in reverse
    val bound = collection.mutable.Map.empty[String, Column]

    def handle(term: Term, c: Column): Unit = term match {
      case C(value) => src = src.filter(c === lit(value))
      case V(n) =>
        bound.get(n) match {
          case Some(prev) => src = src.filter(prev === c)
          case None => bound(n) = c; outs ::= c.as(n)
        }
      case W => ()
    }

    handle(p.e, col("e"))
    handle(p.a, col("a"))
    // Value slot: known when the attribute is a constant; otherwise a
    // generic string rendering (only historical/pull-style [?e ?a ?v]
    // queries need it — reference query_test.clj:284).
    val vCol = p.a match {
      case C(attr: String) => col(db.facts.slot(attr))
      case _ => coalesce(col("vstr"), col("vlong").cast(StringType),
        col("vdbl").cast(StringType), col("vts").cast(StringType),
        col("vref").cast(StringType))
    }
    handle(p.v, vCol)
    handle(p.tx, col("tx"))
    handle(p.added, col("added"))
    if (outs.isEmpty) src.select(lit(1).as("__const")).limit(1)
    else src.select(outs.reverse: _*)
  }

  // ----------------------------------------------------- rules (fixpoint)

  /** Reference error parity (query.clj:83-91): predicates and binding
    * functions over a variable no preceding clause bound fail with an
    * "Unbound variable" error, not a planner error. */
  private def requireBound(f: DataFrame, args: Seq[Term]): Unit =
    args.collectFirst { case V(n) if !f.columns.contains(n) => n }.foreach { n =>
      throw new QueryException("unbound-variable", "variable" -> n,
        s"Unbound variable $n")
    }

  /** All variable names appearing in a clause. */
  private def clauseVars(c: Clause): Set[String] = {
    def termVars(ts: Seq[Term]): Set[String] = ts.collect { case V(n) => n }.toSet
    c match {
      case Pattern(e, a, v, tx, ad) => termVars(Seq(e, a, v, tx, ad))
      case And(cs @ _*) => cs.flatMap(clauseVars).toSet
      case Or(cs @ _*) => cs.flatMap(clauseVars).toSet
      case Not(n) => clauseVars(n)
      case Pred(_, args @ _*) => termVars(args)
      case FnBind(_, out, args @ _*) => termVars(args) + out.name
      case RuleApp(_, args @ _*) => termVars(args)
      case rp: RestPattern => clauseVars(rp.desugared) - rp.subVar
      case irp: IndexedRestPattern => clauseVars(irp.desugared) -- irp.subVars
    }
  }

  private def hasPattern(c: Clause): Boolean = c match {
    case _: Pattern => true
    case And(cs @ _*) => cs.exists(hasPattern)
    case Or(cs @ _*) => cs.exists(hasPattern)
    case Not(n) => hasPattern(n)
    case _: RuleApp => true // conservatively non-inlinable
    case _: RestPattern => true
    case _: IndexedRestPattern => true
    case _ => false
  }

  /** Substitute rule params with call-site terms; rename body-local vars
    * with `fresh` to keep rule scopes isolated (the reference's
    * `rename-vars`, query.clj:238-258). */
  private def substitute(c: Clause, sub: Map[String, Term], fresh: String => String): Clause = {
    def st(t: Term): Term = t match {
      case V(n) => sub.getOrElse(n, V(fresh(n)))
      case other => other
    }
    c match {
      case And(cs @ _*) => And(cs.map(substitute(_, sub, fresh)): _*)
      case Or(cs @ _*) => Or(cs.map(substitute(_, sub, fresh)): _*)
      case Not(n) => Not(substitute(n, sub, fresh))
      case Pred(op, args @ _*) => Pred(op, args.map(st): _*)
      case FnBind(fn, out, args @ _*) =>
        FnBind(fn, st(out).asInstanceOf[V], args.map(st): _*)
      case Pattern(e, a, v, tx, ad) => Pattern(st(e), st(a), st(v), st(tx), st(ad))
      case RuleApp(n, args @ _*) => RuleApp(n, args.map(st): _*)
      case rp: RestPattern => substitute(rp.desugared, sub, fresh)
      case irp: IndexedRestPattern => substitute(irp.desugared, sub, fresh)
    }
  }

  /** Rules whose materialization is currently on the call stack — a
    * re-entry here is an internal error: recursion cycles are detected
    * up front ([[ruleGroup]]) and run as ONE simultaneous fixpoint,
    * during which every group member is pre-bound in the cache, so the
    * RuleApp path never recurses back in. Thread-local: compilation is
    * single-threaded per query. */
  private val materializing = new ThreadLocal[collection.mutable.Set[String]] {
    override def initialValue(): collection.mutable.Set[String] =
      collection.mutable.Set.empty[String]
  }

  private def ruleRelation(db: Db, name: String, rules: Map[String, Seq[Rule]],
                           cache: collection.mutable.Map[String, DataFrame])
                          (implicit spark: SparkSession): DataFrame = {
    require(materializing.get.add(name),
      s"internal: unexpected rule re-entry on '$name'")
    try ruleRelationImpl(db, name, rules, cache)
    finally materializing.get.remove(name)
  }

  /** The recursion GROUP containing `name`: the strongly connected
    * component of the rule-reference graph. Size 1 = plain self- or
    * non-recursion (the common case). */
  private def ruleGroup(name: String, rules: Map[String, Seq[Rule]]): Set[String] = {
    def reach(n: String): Set[String] =
      ruleDepsTransitive(rules.getOrElse(n, Nil).map(_.body), rules)
    reach(name).filter(m => reach(m).contains(name)) + name
  }

  /** Materialize a rule as a relation over its head params. A
    * non-recursive rule is the union of its definitions, left as an
    * unmaterialized plan so it fuses into the enclosing query for
    * pushdown (see dl_q5). A recursive rule — self-recursive or a
    * member of a cycle — runs its group's semi-naive fixpoint
    * ([[groupFixpoint]]): the distributed replacement for the
    * reference's per-frame rule re-application (query.clj:260-274). */
  private def ruleRelationImpl(db: Db, name: String, rules: Map[String, Seq[Rule]],
                               cache: collection.mutable.Map[String, DataFrame])
                              (implicit spark: SparkSession): DataFrame = {
    val defs = rules.getOrElse(name,
      throw new IllegalArgumentException(s"unknown rule $name"))
    val group = ruleGroup(name, rules)
    if (group.size == 1 && !ruleDeps(defs.map(_.body)).contains(name))
      return defs.map(evalBound(db, name, _, rules, cache, Map.empty))
        .reduce(_ unionAll _).distinct()
    // A fixpoint's result is made of materialized deltas (driver-held
    // or checkpointed), so it is safely shareable ACROSS queries in the
    // session. Key: db identity (fact logs are session-cached objects),
    // the group and member, and the full definition set of the group +
    // its TRANSITIVE dependencies (structural equality on the AST) — a
    // query redefining any involved rule, at any depth, computes its
    // own. Every member's relation is cached under its own key, so
    // siblings (and later queries) reuse it without rebuilding.
    val groupSeq = group.toSeq.sorted
    val depDefs = (groupSeq.flatMap(n =>
        ruleDepsTransitive(rules(n).map(_.body), rules)).toSet ++ group)
      .toSeq.sorted.flatMap(n => rules.getOrElse(n, Nil))
    def keyFor(n: String) = (spark, db, s"group:${groupSeq.mkString(",")}:$n", depDefs)
    fixpointCached(keyFor(name), {
      val totals = groupFixpoint(db, groupSeq, rules, cache)
      groupSeq.filter(_ != name).foreach(m => fixpointPut(keyFor(m), totals(m)))
      totals(name)
    })
  }

  /** Evaluate one definition of rule `name` with rule names in
    * `bindings` bound to the given relations (a fixpoint's deltas or
    * totals), then restore the cache. Rule-local variable scope: the
    * body is evaluated standalone, then projected to the head params
    * (reference renames vars per application, query.clj:238-258; a
    * fresh frame context gives the same isolation). Heads are aligned
    * BY POSITION to the rule's first definition, whose names the
    * RuleApp path and the fixpoint's anti-joins key on. */
  private def evalBound(db: Db, name: String, d: Rule, rules: Map[String, Seq[Rule]],
                        cache: collection.mutable.Map[String, DataFrame],
                        bindings: Map[String, DataFrame])
                       (implicit spark: SparkSession): DataFrame = {
    val head = rules(name).head.params.map(_.name)
    require(d.params.length == head.length,
      s"rule $name definitions disagree on arity")
    val saved = bindings.keys.map(k => k -> cache.get(k)).toMap
    bindings.foreach { case (k, v) => cache(k) = v }
    try {
      val body = eval(db, d.body, rules, cache, None)
        .getOrElse(throw new IllegalArgumentException(s"rule $name body binds nothing"))
      body.select(d.params.zip(head).map { case (p, h) =>
        if (p.name == h) col(p.name) else col(p.name).as(h)
      }: _*).distinct()
    } finally saved.foreach {
      case (k, Some(v)) => cache(k) = v
      case (k, None) => cache.remove(k): Unit
    }
  }

  /** Simultaneous semi-naive fixpoint over a recursive rule's group
    * (one self-recursive rule or a cycle) — the stratum-level
    * evaluation classic Datalog engines run (and the reference
    * interpreter cannot: its per-frame re-entry diverges on rule
    * cycles). Each member keeps its own total/delta; per round:
    *  - a body with exactly ONE group reference runs SEMI-NAIVE (that
    *    reference bound to the member's last delta — skipped entirely
    *    when the delta is empty);
    *  - a body with ≥2 group references (non-linear, e.g.
    *    `tc(x,y) :- tc(x,m), tc(m,y)`) runs naive against the members'
    *    full totals — still convergent, since anti-joins keep only new
    *    tuples;
    *  - all new deltas anti-join their member's total; the round's
    *    deltas land together, so derivations can ping-pong between
    *    members (a→b→a) one round per hop.
    * The rounds run on [[Fixpoint.semiNaiveGroup]], so a round costs
    * O(delta ⋈ body + anti-join scan), not O(closure) writes. Rounds =
    * the longest derivation chain through the group.
    * Negated references INTO the group are rejected: non-stratified
    * negation has no well-defined fixpoint semantics. */
  private def groupFixpoint(db: Db, group: Seq[String], rules: Map[String, Seq[Rule]],
                            cache: collection.mutable.Map[String, DataFrame])
                           (implicit spark: SparkSession): Map[String, DataFrame] = {
    val groupSet = group.toSet
    def refs(c: Clause): Int = c match {
      case RuleApp(n, _*) => if (groupSet(n)) 1 else 0
      case And(cs @ _*) => cs.map(refs).sum
      case Or(cs @ _*) => cs.map(refs).sum
      case Not(n) => refs(n)
      case _ => 0
    }
    def negRefs(c: Clause, underNot: Boolean = false): Boolean = c match {
      case RuleApp(n, _*) => underNot && groupSet(n)
      case And(cs @ _*) => cs.exists(negRefs(_, underNot))
      case Or(cs @ _*) => cs.exists(negRefs(_, underNot))
      case Not(n) => negRefs(n, underNot = true)
      case _ => false
    }
    group.foreach(n => rules(n).foreach(d =>
      require(!negRefs(d.body),
        s"rule $n negates a member of its own recursion cycle " +
          s"(${group.mkString(", ")}): non-stratified negation is not supported")))
    val paramsOf = group.map(n => n -> rules(n).head.params.map(_.name)).toMap
    val loop = s"rule ${group.mkString(",")}"
    // Materialize non-group sibling deps (e.g. the non-recursive
    // `parent` inside `anc`'s body) ONCE before iterating, as part of
    // the loop's seed: every round re-executes the recursive bodies, and
    // an unmaterialized sibling would be recomputed from its base scans
    // each time.
    group.foreach { n =>
      ruleDeps(rules(n).map(_.body)).diff(groupSet)
        .filter(m => rules.contains(m) && rules(m).exists(d => hasPattern(d.body)))
        .foreach { m =>
          val rel = cache.getOrElseUpdate(m, ruleRelation(db, m, rules, cache))
          cache(m) = Fixpoint.materialize(loop, rel).df
        }
    }
    def union(parts: Seq[DataFrame]): DataFrame =
      if (parts.size == 1) parts.head else parts.reduce(_ unionAll _).distinct()
    // round 0: base definitions (no group references)
    val seeds = group.flatMap { n =>
      val bases = rules(n).filter(d => refs(d.body) == 0)
      if (bases.isEmpty) None
      else Some(n -> Fixpoint.materialize(loop,
        union(bases.map(evalBound(db, n, _, rules, cache, Map.empty)))))
    }.toMap
    require(seeds.nonEmpty,
      s"recursive rule group ${group.mkString(", ")} needs at least one base case")
    val parts = Fixpoint.semiNaiveGroup(loop, seeds, maxRounds = 100) { (deltas, totals) =>
      group.flatMap { n =>
        val expandedParts = rules(n).filter(d => refs(d.body) > 0).flatMap { d =>
          val names = ruleDeps(Seq(d.body)).intersect(groupSet)
          if (refs(d.body) == 1)
            deltas.get(names.head).map(dm =>
              evalBound(db, n, d, rules, cache, Map(names.head -> dm))).toSeq
          else {
            val binds = names.toSeq.flatMap(m => totals.get(m).map(m -> _)).toMap
            // a referenced member with no tuples yet cannot satisfy the
            // body — skip this round, re-tried once it derives some
            if (binds.size < names.size) Nil else Seq(evalBound(db, n, d, rules, cache, binds))
          }
        }
        if (expandedParts.isEmpty) None
        else {
          val expanded = union(expandedParts)
          Some(n -> totals.get(n).fold(expanded)(t =>
            expanded.join(t, joinCond(expanded, t, paramsOf(n)), "left_anti")))
        }
      }.toMap
    }
    group.map { n =>
      n -> parts.get(n).map(Fixpoint.total).getOrElse(throw new IllegalArgumentException(
        s"rule $n derives no tuples: in a recursion group every member " +
          "must be reachable from some base case"))
    }.toMap
  }

  /** Store a prebuilt relation under a fixpoint-cache key (the sibling
    * publications of a group fixpoint). */
  private def fixpointPut(key: (SparkSession, Db, String, Seq[Rule]),
                          rel: DataFrame): Unit =
    fixpointCache.synchronized(fixpointCache.put(key,
      (rel, org.apache.spark.sql.graft.Bridge.checkpointRddIds(rel)))): Unit

  /** Cross-query cache of materialized recursive-rule relations (e.g.
    * `anc` rebuilt per query in a session was SURVEY §7's round-3
    * candidate). Only fixpoint outputs are cached: non-recursive rule
    * relations deliberately stay unmaterialized plans so they fuse into
    * the enclosing query for pushdown.
    *
    * Bounded: dropping an entry releases the only strong reference to
    * its checkpointed RDD chain, letting the ContextCleaner reclaim the
    * blocks — so a long-lived session querying evolving snapshots
    * cannot pin storage without bound. */
  private val fixpointCacheMax = 64
  // access-ordered LRU: alternating between hot rule sets must never
  // evict the hottest entry (removeEldestEntry drops true LRU)
  private val fixpointCache =
    new java.util.LinkedHashMap[(SparkSession, Db, String, Seq[Rule]),
        (DataFrame, Seq[Int])](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(SparkSession, Db, String, Seq[Rule]),
            (DataFrame, Seq[Int])])
          : Boolean = size() > fixpointCacheMax
    }

  /** RDD ids backing LIVE fixpoint-cache entries for this session.
    * Harnesses that sweep persistent RDDs between queries to stop
    * per-invocation localCheckpoint accumulation (Bench/Verify) must
    * SPARE these — unpersisting them is correctness-safe (the
    * blocksHealthy validation rebuilds) but silently turns every
    * cached-fixpoint reuse into a rebuild, re-paying the iterative
    * fixpoint per bench sample. */
  def protectedRddIds(spark: SparkSession): Set[Int] =
    fixpointCache.synchronized {
      import scala.jdk.CollectionConverters._
      fixpointCache.entrySet().asScala
        .filter(_.getKey._1 eq spark)
        .flatMap(_.getValue._2).toSet
    }

  /** Fault tolerance for cache reuse: a cached fixpoint past
    * `Bridge.FoldRows` rows reads localCheckpoint blocks — lineage is
    * truncated, so blocks lost to an executor failure CANNOT be
    * recomputed, and without this check every later query reusing the
    * entry would fail until LRU eviction. Validate the entry's
    * checkpoint RDDs still have every partition's block (driver-side
    * storage metadata — no job); a stale entry rebuilds and re-puts.
    * A driver-held entry has no blocks to lose and is always healthy. */
  private def blocksHealthy(spark: SparkSession, rddIds: Seq[Int]): Boolean = {
    lazy val info = spark.sparkContext.getRDDStorageInfo.map(i => i.id -> i).toMap
    rddIds.forall(id => info.get(id).exists(i =>
      i.numCachedPartitions == i.numPartitions))
  }
  private def fixpointCached(key: (SparkSession, Db, String, Seq[Rule]),
                             build: => DataFrame): DataFrame = {
    fixpointCache.synchronized(Option(fixpointCache.get(key))) match {
      case Some((rel, rddIds)) if blocksHealthy(key._1, rddIds) => rel
      case _ =>
        // build OUTSIDE the lock (a fixpoint can run many jobs; other
        // queries' cache lookups must not block on it); a concurrent
        // duplicate build is benign — last put wins
        val rel = build
        fixpointCache.synchronized(fixpointCache.put(key,
          (rel, org.apache.spark.sql.graft.Bridge.checkpointRddIds(rel)))): Unit
        rel
    }
  }

  /** Transitive closure of rule names applied from `bodies`: the names
    * whose definitions can influence a fixpoint built over them. */
  private def ruleDepsTransitive(bodies: Seq[Clause],
                                 rules: Map[String, Seq[Rule]]): Set[String] = {
    var seen = Set.empty[String]
    var frontier = ruleDeps(bodies)
    while (frontier.nonEmpty) {
      seen ++= frontier
      frontier = frontier.flatMap(n =>
        rules.get(n).fold(Set.empty[String])(ds => ruleDeps(ds.map(_.body)))) -- seen
    }
    seen
  }

  /** Names of rules applied anywhere in `bodies`. */
  private def ruleDeps(bodies: Seq[Clause]): Set[String] = {
    def walk(c: Clause): Set[String] = c match {
      case RuleApp(n, _*) => Set(n)
      case And(cs @ _*) => cs.flatMap(walk).toSet
      case Or(cs @ _*) => cs.flatMap(walk).toSet
      case Not(neg) => walk(neg)
      case _ => Set.empty
    }
    bodies.flatMap(walk).toSet
  }

  // --------------------------------------------------------- expressions

  private def term2col(t: Term): Column = t match {
    case V(n) => col(n)
    case C(v) => lit(v)
    case W => throw new IllegalArgumentException("wildcard not allowed here")
  }

  private def predCol(op: String, cs: Seq[Column]): Column = op match {
    // Variadic chains like [(< 50000 ?s 70000)] (reference query_test.clj:210).
    case "<" => cs.sliding(2).map(p => p(0) < p(1)).reduce(_ && _)
    case "<=" => cs.sliding(2).map(p => p(0) <= p(1)).reduce(_ && _)
    case ">" => cs.sliding(2).map(p => p(0) > p(1)).reduce(_ && _)
    case ">=" => cs.sliding(2).map(p => p(0) >= p(1)).reduce(_ && _)
    case "=" => cs.sliding(2).map(p => p(0) === p(1)).reduce(_ && _)
    case "!=" => cs.sliding(2).map(p => p(0) =!= p(1)).reduce(_ && _)
    case "contains" => cs(0).contains(cs(1))
    case "starts-with" => cs(0).startsWith(cs(1))
    case "ends-with" => cs(0).endsWith(cs(1))
    case "even" => pmod(cs.head, lit(2)) === 0
    case "odd" => pmod(cs.head, lit(2)) === 1
    case "matches" => regexp_like(cs(0), cs(1))
    case "between" => cs(0).between(cs(1), cs(2))
    case "null?" => cs.head.isNull
    case "some?" => cs.head.isNotNull
    // set membership: (in ?v elem...) — the text face's lowering of
    // the reference's `(some #{...} ?v)` set-literal predicate
    case "in" => cs.tail.map(cs.head === _).reduce(_ || _)
    case other => userPreds.get(other) match {
      case Some(build) => build(cs)
      // exact reference error parity (:unknown-predicate) — the
      // registerPred escape hatch is documented on the registry below
      case None => throw new QueryException("unknown-predicate",
        "predicate" -> other, s"Unknown predicate $other")
    }
  }

  /** Binding-function library (reference resolves any clojure.core fn,
    * query.clj:106-130; we expose the codegen'd Spark equivalents). */
  private def fnCol(fn: String, cs: Seq[Column]): Column = fn match {
    case "+" => cs.reduce(_ + _)
    case "-" => cs.reduce(_ - _)
    case "*" => cs.reduce(_ * _)
    case "/" => cs.reduce(_ / _)
    case "mod" => cs.reduce(_ % _)
    case "idiv" => floor(cs.head.cast(DoubleType) / cs(1)).cast(LongType)
    case "abs" => abs(cs.head)
    case "str" => concat(cs: _*)
    case "lower" => lower(cs.head)
    case "upper" => upper(cs.head)
    case "year" => year(cs.head)
    case "month" => month(cs.head)
    case "day" => dayofmonth(cs.head)
    case "floor" => floor(cs.head)
    case "round" => round(cs.head)
    // String/date functions the reference gets free from clojure.core
    // (query.clj:106-130) — codegen'd Spark builtins here.
    case "str-len" => length(cs.head).cast(LongType)
    case "substr" => cs.head.substr(cs(1), cs(2)) // (substr ?s pos len), 1-based
    case "trim" => trim(cs.head)
    case "date-diff" => datediff(cs.head, cs(1)).cast(LongType) // days, end - start
    case "min" | "least" => least(cs: _*)
    case "max" | "greatest" => greatest(cs: _*)
    case "neg" => -cs.head
    case "sqrt" => sqrt(cs.head)
    case "pow" => pow(cs.head, cs(1))
    case "ln" => log(cs.head)
    case "exp" => exp(cs.head)
    case "ceil" => ceil(cs.head)
    case "sign" => signum(cs.head).cast(LongType)
    case "reverse" => reverse(cs.head)
    case "md5" => md5(cs.head.cast(StringType))
    // assemble N bound columns into one struct value — the textual
    // rest-pattern's rest var (`[?h & ?t]` binds ?t to the remaining
    // components as one value, Edn.scala restClause)
    case "struct" => struct(cs: _*)
    case "index-of" => position(cs(1), cs.head).cast(LongType) // 1-based, 0 = absent
    case "capitalize" => initcap(cs.head)
    case "replace" => regexp_replace(cs.head, cs(1), cs(2))
    case other => userFns.get(other) match {
      case Some(build) => build(cs)
      case None => throw new QueryException("unknown-function",
        "function" -> other, s"Unknown function $other")
    }
  }

  // ------------------------------------------------ user extension point

  /** User-registered binding fns / predicates — the open escape hatch
    * the reference gets by resolving any clojure.core symbol
    * (query.clj:106-130). graft keeps the built-in registry closed for
    * distributed safety and instead takes registrations as COLUMN
    * BUILDERS (`Seq[Column] => Column`): users compose Spark's
    * codegen'd builtins or their own native Catalyst expressions, so a
    * registered fn plans/pushes/codegens exactly like a built-in — no
    * interpreted eval surface, no implicit UDF. Built-ins win on a name
    * clash (stable semantics for the oracle-checked queries);
    * registrations are process-wide, matching the built-in registry's
    * scope. */
  private val userFns =
    scala.collection.concurrent.TrieMap.empty[String, Seq[Column] => Column]
  private val userPreds =
    scala.collection.concurrent.TrieMap.empty[String, Seq[Column] => Column]

  /** Register a binding function usable as `FnBind(name, out, args*)`.
    * `build` receives the argument columns in clause order. */
  def registerFn(name: String)(build: Seq[Column] => Column): Unit =
    userFns(name) = build

  /** Register a predicate usable as `Pred(name, args*)`; `build` must
    * return a boolean column. */
  def registerPred(name: String)(build: Seq[Column] => Column): Unit =
    userPreds(name) = build
}
