package graft.queries

import graft.core.TestData
import graft.datalog._
import graft.datalog.Compiler.Db
import graft.transact.Transactor
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}

/** SURVEY.md §2A — the reference's Datalog surface, each exercised
  * through the graft compiler over the EAV fact encoding of the
  * driver's parquet tables, with a plain-SQL DuckDB oracle.
  */
object DatalogQueries {

  /** Fact logs served from the bucketed catalog layout, written once
    * per (session, dir) and read back: entity-hash co-location makes
    * snapshot windows and entity-joins Exchange-free. The static log
    * additionally partitions by attribute, so each pattern clause
    * prunes to its attribute's directory — the AVET+EAVT layout every
    * static dl_* conjunction runs on. */
  private val bucketedCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, String), graft.core.FactDb]
  private def bucketedDb(s: SparkSession, dir: String, kind: String,
                         build: => graft.core.FactDb,
                         partitionByAttr: Boolean): graft.core.FactDb =
    bucketedCache.getOrElseUpdate((s, dir, kind), {
      val db = build
      val table = s"graft_${kind}_bucketed_" + math.abs(dir.hashCode.toLong)
      // bucket count = the scan-parallelism ceiling under
      // autoBucketedScan=false (one task per bucket), sized by the
      // VOLUME OF THE PRUNABLE SCAN UNIT up to the core budget. On the
      // attr-partitioned layout a pattern scan reads ONE attribute
      // directory, so the unit is the largest attribute's fact count —
      // sizing by total log volume over-buckets every small attr dir
      // into per-file overhead (measured: a flat 32 on the sf0.1 log
      // cost dl_not ~+0.3 s with zero parallelism gain, attr dirs of
      // ~15k facts split into 32 files each). ~200k facts/bucket with
      // an 8-bucket floor; a unit big enough to saturate the cores
      // gets one bucket per core — the ADVICE r7 ceiling, sized.
      val cores = s.sparkContext.defaultParallelism
      // max over zero groups is a null aggregate — an empty log takes
      // the floor instead of NPE-ing in getLong
      val unitRows =
        if (partitionByAttr)
          Option(db.log.groupBy(col("a")).count()
            .agg(org.apache.spark.sql.functions.max("count")).head().get(0))
            .map(_.asInstanceOf[Long]).getOrElse(0L)
        else db.log.count()
      // min in Long space BEFORE narrowing — (unitRows/200000L).toInt
      // wraps negative above ~4.3e14 facts and would pin the floor
      val buckets = math.max(8, math.min(cores.toLong, unitRows / 200000L).toInt)
      graft.sources.Catalog.recreate(s, table) {
        graft.sources.FactLogIO.writeBucketedTable(db, table, buckets = buckets,
          partitionByAttr = partitionByAttr)
      }
      // partitionBy moves `a` to the tail of the catalog schema —
      // restore canonical fact-log column order.
      val log = s.table(table)
        .select(graft.core.FactStore.factSchema.fieldNames.toIndexedSeq.map(col): _*)
      db.copy(log = log)
    })
  private def bucketedEventsDb(s: SparkSession, dir: String): graft.core.FactDb =
    bucketedDb(s, dir, "events", TestData.eventsDb(s, dir), partitionByAttr = false)

  /** The static fact log on the attr-partitioned bucketed layout —
    * shared with GraphQueries (edge scans prune to their label's
    * directory the same way pattern scans do). */
  private[queries] def bucketedStaticDb(s: SparkSession, dir: String): graft.core.FactDb =
    bucketedDb(s, dir, "static", TestData.staticDb(s, dir), partitionByAttr = true)

  private def static(s: SparkSession, dir: String): Db =
    Db(bucketedStaticDb(s, dir))
  private def temporal(s: SparkSession, dir: String): Db =
    Db(TestData.eventsDb(s, dir))

  /** Rebase a user entity id back to the raw user_id for output. */
  private val userId = FnBind("-", V("user_id"), V("u"), C(TestData.UserBase))

  private def q(db: (SparkSession, String) => Db, query: Query)
      : (SparkSession, String) => DataFrame =
    (s, dir) => Compiler.run(db(s, dir), query)(s)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dl_pattern" -> q(static, Query(
      find = Seq(FVar(V("nn"), "n_name")),
      where = And(
        Pattern(V("n"), C("n_regionkey"), C(2)),
        Pattern(V("n"), C("n_name"), V("nn"))))),

    "dl_join" -> q(static, Query(
      find = Seq(FVar(V("cn"), "c_name"), FVar(V("nn"), "n_name")),
      where = And(
        Pattern(V("r"), C("r_name"), C("ASIA")),
        Pattern(V("n"), C("n_regionkey_ref"), V("r")),
        Pattern(V("c"), C("c_nationkey_ref"), V("n")),
        Pattern(V("c"), C("c_name"), V("cn")),
        Pattern(V("n"), C("n_name"), V("nn"))))),

    "dl_or" -> q(static, Query(
      find = Seq(FVar(V("nn"), "n_name")),
      where = Or(
        And(Pattern(V("n"), C("n_regionkey"), C(0)), Pattern(V("n"), C("n_name"), V("nn"))),
        And(Pattern(V("n"), C("n_regionkey"), C(4)), Pattern(V("n"), C("n_name"), V("nn")))))),

    // Negation-as-filter (reference query.clj:45-57): customers with no
    // urgent order.
    "dl_not" -> q(static, Query(
      find = Seq(FVar(V("cn"), "c_name")),
      where = And(
        Pattern(V("c"), C("c_name"), V("cn")),
        Not(And(
          Pattern(V("o"), C("o_custkey_ref"), V("c")),
          Pattern(V("o"), C("o_orderpriority"), C("1-URGENT"))))))),

    "dl_pred" -> q(static, Query(
      find = Seq(FVar(V("cn"), "c_name"), FVar(V("b"), "c_acctbal")),
      where = And(
        Pattern(V("c"), C("c_acctbal"), V("b")),
        Pred("<", C(9990.0), V("b")),
        Pattern(V("c"), C("c_name"), V("cn"))))),

    "dl_fn_bind" -> q(static, Query(
      find = Seq(FVar(V("ok"), "l_orderkey"), FVar(V("ln"), "l_linenumber"),
        FVar(V("rev"), "rev")),
      where = And(
        Pattern(V("l"), C("l_orderkey"), V("ok")),
        Pattern(V("l"), C("l_linenumber"), V("ln")),
        Pattern(V("l"), C("l_extendedprice"), V("p")),
        Pattern(V("l"), C("l_discount"), V("d")),
        FnBind("-", V("disc"), C(1.0), V("d")),
        FnBind("*", V("rev"), V("p"), V("disc"))))),

    "dl_agg" -> q(static, Query(
      find = Seq(FVar(V("rf"), "l_returnflag"),
        FAgg("sum$exact", V("qq"), "sum_qty"), FAgg("count", V("qq"), "cnt")),
      where = And(
        Pattern(V("l"), C("l_returnflag"), V("rf")),
        Pattern(V("l"), C("l_quantity"), V("qq"))))),

    "dl_agg_stats" -> q(static, Query(
      find = Seq(FVar(V("nn"), "n_name"),
        FAgg("median", V("b"), "med_bal"),
        FAgg("stddev$exact", V("b"), "sd_bal"),
        FAgg("count-distinct", V("b"), "nbal")),
      where = And(
        Pattern(V("c"), C("c_nationkey_ref"), V("n")),
        Pattern(V("n"), C("n_name"), V("nn")),
        Pattern(V("c"), C("c_acctbal"), V("b"))))),

    "dl_sort_limit" -> q(static, Query(
      find = Seq(FVar(V("cn"), "c_name"), FVar(V("b"), "c_acctbal")),
      where = And(
        Pattern(V("c"), C("c_name"), V("cn")),
        Pattern(V("c"), C("c_acctbal"), V("b"))),
      sortBy = Seq(SortKey("c_acctbal", desc = true), SortKey("c_name")),
      limit = Some(5))),

    "dl_bind" -> q(static, Query(
      find = Seq(FVar(V("nn"), "n_name")),
      where = And(
        Pattern(V("r"), C("r_name"), V("rname")),
        Pattern(V("n"), C("n_regionkey_ref"), V("r")),
        Pattern(V("n"), C("n_name"), V("nn"))),
      bind = Map("rname" -> "EUROPE"))),

    "dl_rule" -> q(static, Query(
      find = Seq(FVar(V("cn"), "c_name")),
      where = And(
        RuleApp("lives-in-region", V("c"), C("AFRICA")),
        Pattern(V("c"), C("c_name"), V("cn"))),
      rules = Seq(Rule("lives-in-region", Seq(V("cc"), V("rn")), And(
        Pattern(V("cc"), C("c_nationkey_ref"), V("n")),
        Pattern(V("n"), C("n_regionkey_ref"), V("r")),
        Pattern(V("r"), C("r_name"), V("rn"))))))),

    // STRATIFIED negation THROUGH a rule: quiet customers = those the
    // `has-urgent` rule does NOT derive — the rule layer resolves
    // fully (stratum 0) before the negation consumes it (stratum 1);
    // the compiler rejects the non-stratified cycle variant
    // (CompilerSpec), this key proves the legal form end-to-end.
    "dl_rule_neg" -> q(static, Query(
      find = Seq(FVar(V("cn"), "c_name")),
      where = And(
        Pattern(V("c"), C("c_name"), V("cn")),
        Not(RuleApp("has-urgent", V("c")))),
      rules = Seq(Rule("has-urgent", Seq(V("cc")), And(
        Pattern(V("o"), C("o_custkey_ref"), V("cc")),
        Pattern(V("o"), C("o_orderpriority"), C("1-URGENT"))))))),

    // Recursive transitive closure over a binary-tree parent edge derived
    // from nation keys: parent(x) = floor((x-1)/2). Exercises the
    // semi-naive fixpoint (reference rules, query.clj:260-274) as a
    // recursive rule's group of one (Compiler.groupFixpoint).
    "dl_rule_rec" -> q(static, Query(
      find = Seq(FVar(V("x"), "child"), FVar(V("y"), "anc")),
      where = RuleApp("anc", V("x"), V("y")),
      rules = Seq(
        Rule("parent", Seq(V("px"), V("py")), And(
          Pattern(V("xe"), C("n_nationkey"), V("px")),
          Pred(">", V("px"), C(0)),
          FnBind("-", V("pxm1"), V("px"), C(1L)),
          FnBind("idiv", V("py"), V("pxm1"), C(2L)),
          Pattern(V("ye"), C("n_nationkey"), V("py")))),
        Rule("anc", Seq(V("ax"), V("ay")), RuleApp("parent", V("ax"), V("ay"))),
        Rule("anc", Seq(V("ax"), V("ay")), And(
          RuleApp("parent", V("ax"), V("mid")),
          RuleApp("anc", V("mid"), V("ay"))))),
      sortBy = Seq(SortKey("child"), SortKey("anc")))),

    // MUTUALLY recursive rules (odd/even ancestor parity over the
    // nation parent tree) — the rule-cycle form the reference
    // interpreter diverges on; graft runs the cycle as ONE
    // simultaneous semi-naive fixpoint over the recursive rules' group
    // (Compiler.groupFixpoint).
    "dl_rule_mutual" -> q(static, Query(
      find = Seq(FVar(V("x"), "child"), FVar(V("y"), "odd_anc")),
      where = RuleApp("odd", V("x"), V("y")),
      rules = Seq(
        Rule("parent", Seq(V("px"), V("py")), And(
          Pattern(V("xe"), C("n_nationkey"), V("px")),
          Pred(">", V("px"), C(0)),
          FnBind("-", V("pxm1"), V("px"), C(1L)),
          FnBind("idiv", V("py"), V("pxm1"), C(2L)),
          Pattern(V("ye"), C("n_nationkey"), V("py")))),
        Rule("odd", Seq(V("ox"), V("oy")), RuleApp("parent", V("ox"), V("oy"))),
        Rule("odd", Seq(V("ox"), V("oy")), And(
          RuleApp("even", V("ox"), V("om")),
          RuleApp("parent", V("om"), V("oy")))),
        Rule("even", Seq(V("ex"), V("ey")), And(
          RuleApp("odd", V("ex"), V("em")),
          RuleApp("parent", V("em"), V("ey"))))),
      sortBy = Seq(SortKey("child"), SortKey("odd_anc")))),

    "dl_asof" -> q((s, dir) => Db(TestData.eventsDb(s, dir), asOf = TestData.TxBase + 3000),
      Query(
        find = Seq(FVar(V("user_id"), "user_id"), FVar(V("v"), "last_value")),
        where = And(
          Pattern(V("u"), C("last_value"), V("v")),
          userId))),

    // Same as-of query served from the DURABLE bucketed fact-log layout
    // (FactLogIO.writeBucketedTable): the scan reports hash(e)
    // partitioning, so snapshot()'s (e,a,…) version-resolution windows
    // need NO Exchange — the cluster-scale claim of SURVEY §3,
    // demonstrated end-to-end (write once per session, then query).
    "dl_asof_bucketed" -> q(
      (s, dir) => Db(bucketedEventsDb(s, dir), asOf = TestData.TxBase + 3000),
      Query(
        find = Seq(FVar(V("user_id"), "user_id"), FVar(V("v"), "last_value")),
        where = And(
          Pattern(V("u"), C("last_value"), V("v")),
          userId))),

    "dl_historical" -> q((s, dir) => Db(TestData.eventsDb(s, dir), historical = true),
      Query(
        find = Seq(FVar(V("user_id"), "user_id"), FVar(V("t"), "tx"),
          FVar(V("ad"), "added")),
        where = And(
          Pattern(V("u"), C("active"), W, V("t"), V("ad")),
          userId))),

    "dl_retract" -> q(temporal, Query(
      find = Seq(FVar(V("user_id"), "user_id")),
      where = And(
        Pattern(V("u"), C("active"), C(1L)),
        userId))),

    // tx-RANGE CDC over the fact log (Datomic tx-range analog): every
    // `active` assertion/retraction whose tx falls in (150, 450] —
    // "what changed in this window" served from the same historical
    // index as dl_historical, the tx bounds as ordinary predicates on
    // the bound tx variable (pushed into the log scan by Catalyst;
    // bounds chosen inside every SF's tx span so the check is
    // non-trivial at sf0.001 through sf0.1).
    "dl_tx_range" -> q((s, dir) => Db(TestData.eventsDb(s, dir), historical = true),
      Query(
        find = Seq(FVar(V("user_id"), "user_id"), FVar(V("t"), "tx"),
          FVar(V("ad"), "added")),
        where = And(
          Pattern(V("u"), C("active"), W, V("t"), V("ad")),
          Pred("<", C(150L), V("t")),
          Pred("<=", V("t"), C(450L)),
          userId))),

    "dl_card_one" -> q(temporal, Query(
      find = Seq(FVar(V("user_id"), "user_id"), FVar(V("t"), "last_type")),
      where = And(
        Pattern(V("u"), C("last_type"), V("t")),
        userId))),

    "dl_card_many" -> q(temporal, Query(
      find = Seq(FVar(V("user_id"), "user_id"), FVar(V("b"), "bucket")),
      where = And(
        Pattern(V("u"), C("purchase_bucket"), V("b")),
        userId))),

    // SCHEMA-AS-FACTS (reference schema.clj): the cardinality-many
    // declaration lives IN the log as ordinary facts and the engine
    // derives resolution from them — this db starts with NO configured
    // cardMany; only the transacted [?e :unifydb/schema
    // "purchase_bucket"] [?e :unifydb/cardinality "cardinality/many"]
    // facts make every purchase bucket live. Oracle identical to
    // dl_card_many: the schema-driven path must resolve exactly like
    // the config-driven path.
    "dl_schema" -> ((s, dir) => {
      import graft.core.{FactStore, Schema}
      val base = TestData.eventsDb(s, dir)
      val se = 9100000001L
      val sf = s.createDataFrame(
        java.util.Arrays.asList(
          FactStore.factRow(se, Schema.SchemaAttr, "vstr", "purchase_bucket", 0L, added = true),
          FactStore.factRow(se, Schema.CardinalityAttr, "vstr", Schema.CardinalityMany, 0L,
            added = true)),
        FactStore.factSchema)
      val db = Schema.applySchema(
        base.copy(log = base.log.unionAll(sf), cardMany = Set.empty))
      Compiler.run(Db(db), Query(
        find = Seq(FVar(V("user_id"), "user_id"), FVar(V("b"), "bucket")),
        where = And(
          Pattern(V("u"), C("purchase_bucket"), V("b")),
          userId)))(s)
    }),

    // Flagship compound query: TPC-H Q5 expressed entirely in datalog —
    // deductive rule, graph ref-traversal, the same-nation constraint
    // Widened fn/pred registry (reference resolves any clojure.core fn,
    // query.clj:70-130; graft keeps a closed registry for distributed
    // safety and grows it fn by fn): regex match, between, position,
    // md5, sqrt, sign, reverse — each oracle-checked against DuckDB.
    "dl_fn_more" -> q(static, Query(
      find = Seq(FVar(V("nm"), "c_name"), FVar(V("pos"), "pos"),
        FVar(V("dig"), "digest"), FVar(V("rt"), "rt"),
        FVar(V("rv"), "rev_name"), FVar(V("sg"), "sgn"), FVar(V("lg"), "lg")),
      where = And(
        Pattern(V("c"), C("c_name"), V("nm")),
        Pattern(V("c"), C("c_acctbal"), V("bal")),
        Pred("matches", V("nm"), C("[02468]$")),
        Pred("between", V("bal"), C(-500.0), C(8000.0)),
        FnBind("index-of", V("pos"), V("nm"), C("#")),
        FnBind("md5", V("dig"), V("nm")),
        FnBind("abs", V("ab"), V("bal")),
        FnBind("sqrt", V("rt"), V("ab")),
        FnBind("+", V("ab1"), V("ab"), C(1.0)),
        FnBind("ln", V("lg"), V("ab1")),
        FnBind("reverse", V("rv"), V("nm")),
        FnBind("sign", V("sg"), V("bal"))))),

    // Rest-pattern sugar (reference `[?h & ?t]` over a collection
    // value, query_test.clj:178-250): an order's customer record reads
    // as the positional collection [name & [acctbal]] through its
    // sub-entity ref — `[?o :customer [?cn & ?bal]]`. Desugars to the
    // plain patterns of the hand-written encoding (Ast.RestPattern).
    "dl_rest" -> q(static, Query(
      find = Seq(FVar(V("cn"), "c_name"), FVar(V("bal"), "c_acctbal")),
      where = And(
        Pattern(V("o"), C("o_orderpriority"), C("1-URGENT")),
        RestPattern(V("o"), C("o_custkey_ref"),
          fields = Seq("c_name", "c_acctbal"),
          head = V("cn"), tail = Seq(V("bal")))))),

    // as a shared variable, binding functions, exact aggregation, sort.
    "dl_q5" -> q(static, Query(
      find = Seq(FVar(V("nname"), "n_name"), FAgg("sum$exact", V("rev"), "rev")),
      where = And(
        RuleApp("in-region", V("c"), C("ASIA")),
        Pattern(V("o"), C("o_custkey_ref"), V("c")),
        Pattern(V("o"), C("o_orderdate"), V("od")),
        Pred(">=", V("od"), C("1996-01-01")),
        Pred("<", V("od"), C("1998-01-01")),
        Pattern(V("l"), C("l_orderkey_ref"), V("o")),
        Pattern(V("l"), C("l_suppkey_ref"), V("sup")),
        Pattern(V("sup"), C("s_nationkey_ref"), V("n2")),
        Pattern(V("c"), C("c_nationkey_ref"), V("n2")),
        Pattern(V("n2"), C("n_name"), V("nname")),
        Pattern(V("l"), C("l_extendedprice"), V("p")),
        Pattern(V("l"), C("l_discount"), V("d")),
        FnBind("-", V("disc"), C(1.0), V("d")),
        FnBind("*", V("rev"), V("p"), V("disc"))),
      rules = Seq(Rule("in-region", Seq(V("cc"), V("rn")), And(
        Pattern(V("cc"), C("c_nationkey_ref"), V("n")),
        Pattern(V("n"), C("n_regionkey_ref"), V("r")),
        Pattern(V("r"), C("r_name"), V("rn"))))),
      sortBy = Seq(SortKey("rev", desc = true)))),

    // remaining reference aggregates: min/max/avg/mode/distinct
    // (query.clj:353-378) — mode is safe to oracle here (unique per
    // group, pre-checked at both SFs). `distinct` is emitted via its
    // string rendering (sorted, comma-joined) so the driver's hash
    // compare covers it — array columns defeat the pandas-side sort.
    "dl_agg_more" -> q(static, Query(
      find = Seq(FVar(V("p"), "p"),
        FAgg("min", V("v"), "min_v"), FAgg("max", V("v"), "max_v"),
        FAgg("mode", V("v"), "mode_v"), FAgg("avg", V("v"), "avg_v"),
        FAgg("distinct$str", V("v"), "distinct_v")),
      where = And(
        Pattern(V("o"), C("o_totalprice"), V("tp")),
        FnBind("idiv", V("v"), V("tp"), C(100000L)),
        Pattern(V("o"), C("o_orderpriority"), V("p"))))),

    // String fns from the extended registry (the reference resolves any
    // clojure.core fn, query.clj:70-130; these are the codegen'd Spark
    // equivalents): str-len, substr, ends-with.
    "dl_str_fn" -> q(static, Query(
      find = Seq(FVar(V("cn"), "c_name"), FVar(V("len"), "name_len"),
        FVar(V("num"), "cust_num")),
      where = And(
        Pattern(V("c"), C("c_name"), V("cn")),
        Pred("ends-with", V("cn"), C("7")),
        FnBind("str-len", V("len"), V("cn")),
        FnBind("substr", V("num"), V("cn"), C(10), C(9))))),

    // Date arithmetic from the extended registry: days-since binding fn
    // feeding grouped min/max aggregates.
    "dl_date_fn" -> q(static, Query(
      find = Seq(FVar(V("p"), "p"),
        FAgg("max", V("dd"), "max_days"), FAgg("min", V("dd"), "min_days"),
        FAgg("count", V("dd"), "cnt")),
      where = And(
        Pattern(V("o"), C("o_orderdate"), V("od")),
        FnBind("date-diff", V("dd"), V("od"), C("1995-01-01")),
        Pattern(V("o"), C("o_orderpriority"), V("p"))))),

    // Pull expression (reference pull.clj): nested entity retrieval,
    // flattened to columns for the oracle.
    "dl_pull" -> ((s: SparkSession, dir: String) => {
      val facts = TestData.staticDb(s, dir)
      val ids = facts.snapshot()
        .filter(col("a") === "c_acctbal" && col("vdbl") > 9900.0)
        .select(col("e"))
      Pull.pullFlat(facts, ids,
          Pull.Spec(Seq("c_name", "c_acctbal"),
            Seq("c_nationkey_ref" -> Pull.Spec(Seq("n_name"),
              Seq("n_regionkey_ref" -> Pull.Spec(Seq("r_name")))))))
        .select(col("c_name"), col("c_acctbal"), col("n_name"), col("r_name"))
    }),

    // MULTI-PULL find (reference query_test.clj:566-570: `(pull ?e
    // [:name]) (pull ?e [:favorite-color])` in one :find): each pull
    // runs as its OWN sub-query over the same entity set — here two
    // independent pullFlat evaluations equijoined on e, one a scalar
    // pull, the other a nested ref pull, certifying the
    // one-subquery-per-pull semantics against a plain-SQL oracle.
    "dl_pull_multi" -> ((s: SparkSession, dir: String) => {
      val facts = TestData.staticDb(s, dir)
      val ids = facts.snapshot()
        .filter(col("a") === "c_acctbal" && col("vdbl") > 9900.0)
        .select(col("e"))
      val p1 = Pull.pullFlat(facts, ids, Pull.Spec(Seq("c_name")))
      val p2 = Pull.pullFlat(facts, ids,
        Pull.Spec(Seq("c_mktsegment"),
          Seq("c_nationkey_ref" -> Pull.Spec(Seq("n_name")))))
      p1.join(p2, Seq("e"))
        .select(col("c_name"), col("c_mktsegment"), col("n_name"))
    }),

    // Pull over a cardinality-MANY SCALAR attribute (reference
    // fix-cardinalities, pull.clj:148-170: ANY card-many attr comes
    // back as a vector, not just refs): each user's purchase buckets
    // pull as ONE sorted array — no duplicated parent rows. Rendered
    // comma-joined for the oracle's hash compare (the dl_agg_more
    // trick — array columns defeat the pandas-side sort).
    "dl_pull_many" -> ((s: SparkSession, dir: String) => {
      val db = TestData.eventsDb(s, dir)
      val ids = db.snapshot()
        .filter(col("a") === "purchase_bucket")
        .select(col("e")).distinct()
      Pull.pullFlat(db, ids, Pull.Spec(Seq("last_type", "purchase_bucket")))
        .select((col("e") - TestData.UserBase).as("user_id"),
          col("last_type"),
          expr("array_join(purchase_bucket, ',')").as("buckets"))
    }),

    // Point lookup (reference storage/btree.clj EAVT read): the whole
    // entity of customer #1 from the attr-partitioned e-bucketed layout —
    // every attribute directory's scan prunes to ONE bucket file
    // (plan-pinned in PlanAuditSpec).
    "dl_lookup" -> ((s: SparkSession, dir: String) =>
      bucketedStaticDb(s, dir).entity(TestData.CustomerBase + 1L)),

    // Transactor round-trip (reference transact.clj): map-form expansion
    // w/ nested sub-entities + temp ids, then a retraction, queried back
    // through the datalog compiler.
    "tx_mapform" -> ((s: SparkSession, dir: String) => {
      val rows = TestData.read(s, dir, "customer")
        .filter(col("c_custkey").between(1, 10))
        .join(TestData.read(s, dir, "nation"),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_name"), col("n_name"))
        .collect().sortBy(_.getLong(0))
      val sess = Transactor.emptySession(s)
      val report = sess.transact(rows.toSeq.map { r =>
        Transactor.MapForm(Seq(
          "name" -> r.getString(1),
          "nation" -> Transactor.MapForm(Seq("nname" -> r.getString(2)))),
          tempId = Some(s"c${r.getLong(0)}"))
      })
      val victim = rows.find(_.getLong(0) == 5L).get
      sess.transact(Seq(
        Transactor.Retract(report.tempIds(s"c5"), "name", victim.getString(1))))
      Compiler.run(Db(sess.db), Query(
        find = Seq(FVar(V("nm"), "c_name"), FVar(V("nn"), "n_name")),
        where = And(
          Pattern(V("c"), C("name"), V("nm")),
          Pattern(V("c"), C("nation"), V("n")),
          Pattern(V("n"), C("nname"), V("nn")))))(s)
    }),

    // the TEXTUAL face: a reference-syntax EDN query map (keyword
    // attrs, ?vars, find aggregates) parsed by QueryText and compiled
    // by the same engine — a unifyDB user's query text runs verbatim.
    // The text-form (sum ?bal) routes through the exact-decimal
    // aggregation path (QueryText findExpr → Compiler sum$exact):
    // deterministic on any cluster size and hash-equal to the exact
    // DuckDB oracle, where a plain double sum would be
    // accumulation-order dependent.
    "dl_edn" -> q(static, QueryText.parseQuery(
      """{:find [?nn (count ?c) (sum ?bal) (min ?bal) (max ?bal)]
         :where [[?r :r_name "ASIA"]
                 [?n :n_regionkey_ref ?r]
                 [?c :c_nationkey_ref ?n]
                 [?n :n_name ?nn]
                 [?c :c_acctbal ?bal]]}"""))
      ,

    // the TEXTUAL pull face (reference query_test.clj:521-570
    // doc-store-queries): the reference's `(pull ?e [... {:ref [...]}])`
    // find syntax parsed by QueryText onto the same Pull engine as the
    // typed dl_pull — nested map refs two levels deep, run as one
    // sub-query per pull and left-joined back, certified against the
    // same plain-SQL oracle shape.
    "dl_edn_pull" -> q(static, QueryText.parseQuery(
      """{:find [(pull ?c [:c_name :c_acctbal
                           {:c_nationkey_ref [:n_name
                                              {:n_regionkey_ref [:r_name]}]}])]
         :where [[?c :c_acctbal ?bal]
                 [(> ?bal 9900.0)]]}"""))
      ,

    // the transact TEXTUAL face through the same driver gate as
    // tx_mapform: the tx-data arrives as reference-syntax EDN text
    // (nested map forms with temp ids + an add + a tagged-id retract),
    // and the result is read back with a TEXT query — the full textual
    // round trip, oracle-certified
    "tx_edn" -> ((s: SparkSession, dir: String) => {
      val rows = TestData.read(s, dir, "customer")
        .filter(col("c_custkey").between(1, 10))
        .join(TestData.read(s, dir, "nation"),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_name"), col("n_name"))
        .collect().sortBy(_.getLong(0))
      val sess = Transactor.emptySession(s)
      val mapForms = rows.map { r =>
        s"""{:unifydb/id "c${r.getLong(0)}" :name "${r.getString(1)}"
            :nation {:nname "${r.getString(2)}"}}"""
      }.mkString("\n")
      val report = sess.transact(QueryText.parseTxData(s"[$mapForms]", sess))
      val victim = rows.find(_.getLong(0) == 5L).get
      sess.transact(QueryText.parseTxData(
        s"""[[:unifydb/retract #unifydb/id ${report.tempIds("c5")}
              :name "${victim.getString(1)}"]]""", sess)): Unit
      Compiler.run(Db(sess.db), QueryText.parseQuery(
        """{:find [?nm ?nn]
           :where [[?c :name ?nm]
                   [?c :nation ?n]
                   [?n :nname ?nn]]}"""))(s)
        .withColumnRenamed("nm", "c_name").withColumnRenamed("nn", "n_name")
    })
  )

  val oracle: Map[String, String] = Map(
    "dl_pattern" ->
      "SELECT DISTINCT n_name FROM nation WHERE n_regionkey = 2",
    "dl_join" ->
      """SELECT DISTINCT c_name, n_name FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'""",
    "dl_fn_more" ->
      """SELECT DISTINCT c_name, instr(c_name, '#') AS pos,
                md5(c_name) AS digest, sqrt(abs(c_acctbal)) AS rt,
                reverse(c_name) AS rev_name,
                CAST(sign(c_acctbal) AS BIGINT) AS sgn,
                ln(abs(c_acctbal) + 1.0) AS lg
         FROM customer
         WHERE regexp_matches(c_name, '[02468]$')
           AND c_acctbal BETWEEN -500 AND 8000""",
    "dl_rest" ->
      """SELECT DISTINCT c_name, c_acctbal FROM orders
         JOIN customer ON o_custkey = c_custkey
         WHERE o_orderpriority = '1-URGENT'""",
    "dl_or" ->
      "SELECT DISTINCT n_name FROM nation WHERE n_regionkey IN (0, 4)",
    "dl_not" ->
      """SELECT DISTINCT c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_orderpriority = '1-URGENT')""",
    "dl_pred" ->
      "SELECT DISTINCT c_name, c_acctbal FROM customer WHERE c_acctbal > 9990.0",
    "dl_fn_bind" ->
      """SELECT DISTINCT l_orderkey, l_linenumber,
                l_extendedprice * (1.0 - l_discount) AS rev FROM lineitem""",
    "dl_agg" ->
      """SELECT l_returnflag,
                CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sum_qty,
                COUNT(l_quantity) AS cnt
         FROM lineitem GROUP BY l_returnflag""",
    "dl_agg_stats" ->
      """SELECT n_name, med_bal, sqrt((sxx - sx * sx / n) / (n - 1.0)) AS sd_bal, nbal
         FROM (
           SELECT n_name,
                  median(c_acctbal) AS med_bal,
                  CAST(SUM(CAST(c_acctbal AS DECIMAL(25,6)) * CAST(c_acctbal AS DECIMAL(25,6))) AS DOUBLE) AS sxx,
                  CAST(SUM(CAST(c_acctbal AS DECIMAL(25,6))) AS DOUBLE) AS sx,
                  CAST(COUNT(c_acctbal) AS DOUBLE) AS n,
                  COUNT(DISTINCT c_acctbal) AS nbal
           FROM customer JOIN nation ON c_nationkey = n_nationkey
           GROUP BY n_name
         ) t""",
    "dl_sort_limit" ->
      """SELECT c_name, c_acctbal FROM (SELECT DISTINCT c_name, c_acctbal FROM customer) t
         ORDER BY c_acctbal DESC, c_name LIMIT 5""",
    "dl_bind" ->
      """SELECT DISTINCT n_name FROM nation JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'EUROPE'""",
    "dl_rule" ->
      """SELECT DISTINCT c_name FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'AFRICA'""",
    "dl_rule_neg" ->
      """SELECT DISTINCT c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_orderpriority = '1-URGENT')""",
    "dl_rule_rec" ->
      """WITH RECURSIVE parent AS (
           SELECT n_nationkey AS x, CAST(floor((n_nationkey - 1) / 2.0) AS BIGINT) AS y
           FROM nation WHERE n_nationkey > 0
         ), anc AS (
           SELECT x, y FROM parent
           UNION
           SELECT p.x, a.y FROM parent p JOIN anc a ON p.y = a.x
         )
         SELECT x AS child, y AS anc FROM anc ORDER BY child, anc""",
    // ancestors at ODD depth via a depth-carrying recursive closure
    "dl_rule_mutual" ->
      """WITH RECURSIVE parent AS (
           SELECT n_nationkey AS x, CAST(floor((n_nationkey - 1) / 2.0) AS BIGINT) AS y
           FROM nation WHERE n_nationkey > 0
         ), anc AS (
           SELECT x, y, 1 AS d FROM parent
           UNION
           SELECT p.x, a.y, a.d + 1 FROM parent p JOIN anc a ON p.y = a.x
         )
         SELECT DISTINCT x AS child, y AS odd_anc FROM anc WHERE d % 2 = 1
         ORDER BY child, odd_anc""",
    "dl_asof" ->
      """SELECT user_id, value AS last_value FROM (
           SELECT user_id, value,
                  row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
           FROM events WHERE event_id <= 3000) t
         WHERE rn = 1""",
    "dl_asof_bucketed" ->
      """SELECT user_id, value AS last_value FROM (
           SELECT user_id, value,
                  row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
           FROM events WHERE event_id <= 3000) t
         WHERE rn = 1""",
    "dl_historical" ->
      """SELECT DISTINCT user_id, event_id + 100 AS tx,
                event_type = 'signup' AS added
         FROM events WHERE event_type IN ('signup', 'error')""",
    "dl_tx_range" ->
      """SELECT DISTINCT user_id, event_id + 100 AS tx,
                event_type = 'signup' AS added
         FROM events
         WHERE event_type IN ('signup', 'error')
           AND event_id + 100 > 150 AND event_id + 100 <= 450""",
    "dl_retract" ->
      """SELECT DISTINCT user_id FROM (
           SELECT user_id, event_type,
                  row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
           FROM events WHERE event_type IN ('signup', 'error')) t
         WHERE rn = 1 AND event_type = 'signup'""",
    "dl_card_one" ->
      """SELECT user_id, event_type AS last_type FROM (
           SELECT user_id, event_type,
                  row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
           FROM events) t
         WHERE rn = 1""",
    "dl_card_many" ->
      """SELECT DISTINCT user_id, CAST(floor(value) AS BIGINT) AS bucket
         FROM events WHERE event_type = 'purchase'""",
    // schema-driven resolution must equal config-driven resolution
    "dl_schema" ->
      """SELECT DISTINCT user_id, CAST(floor(value) AS BIGINT) AS bucket
         FROM events WHERE event_type = 'purchase'""",
    "dl_q5" ->
      """SELECT n_name,
                CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS rev
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         GROUP BY n_name ORDER BY rev DESC""",
    "dl_agg_more" ->
      """SELECT o_orderpriority AS p, min(v) AS min_v, max(v) AS max_v,
                mode(v) AS mode_v, avg(v) AS avg_v,
                array_to_string(list_sort(list(DISTINCT v)), ',') AS distinct_v
         FROM (SELECT o_orderpriority,
                      CAST(floor(o_totalprice / 100000) AS BIGINT) AS v
               FROM orders) t
         GROUP BY 1""",
    "dl_str_fn" ->
      """SELECT DISTINCT c_name, CAST(length(c_name) AS BIGINT) AS name_len,
                substring(c_name, 10, 9) AS cust_num
         FROM customer WHERE c_name LIKE '%7'""",
    "dl_date_fn" ->
      """SELECT o_orderpriority AS p,
                max(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))) AS max_days,
                min(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))) AS min_days,
                count(*) AS cnt
         FROM orders GROUP BY 1""",
    "dl_pull" ->
      """SELECT c_name, c_acctbal, n_name, r_name
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE c_acctbal > 9900.0""",
    "dl_pull_multi" ->
      """SELECT c_name, c_mktsegment, n_name
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         WHERE c_acctbal > 9900.0""",
    "dl_pull_many" ->
      """SELECT p.user_id, lt.last_type, p.buckets FROM (
           SELECT user_id,
                  array_to_string(list_sort(list(DISTINCT CAST(floor(value) AS BIGINT))), ',') AS buckets
           FROM events WHERE event_type = 'purchase' GROUP BY user_id) p
         JOIN (
           SELECT user_id, event_type AS last_type FROM (
             SELECT user_id, event_type,
                    row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
             FROM events) t
           WHERE rn = 1) lt ON p.user_id = lt.user_id""",
    "dl_lookup" ->
      """SELECT 'c_custkey' AS a, 'l' AS vtype, CAST(c_custkey AS VARCHAR) AS v
           FROM customer WHERE c_custkey = 1
         UNION ALL SELECT 'c_name', 's', c_name
           FROM customer WHERE c_custkey = 1
         UNION ALL SELECT 'c_nationkey', 'l', CAST(c_nationkey AS VARCHAR)
           FROM customer WHERE c_custkey = 1
         UNION ALL SELECT 'c_nationkey_ref', 'r', CAST(c_nationkey + 2000000000 AS VARCHAR)
           FROM customer WHERE c_custkey = 1
         UNION ALL SELECT 'c_acctbal', 'd', CAST(c_acctbal AS VARCHAR)
           FROM customer WHERE c_custkey = 1
         UNION ALL SELECT 'c_mktsegment', 's', c_mktsegment
           FROM customer WHERE c_custkey = 1""",
    "tx_mapform" ->
      """SELECT DISTINCT c_name, n_name
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         WHERE c_custkey BETWEEN 1 AND 10 AND c_custkey <> 5""",
    "tx_edn" ->
      """SELECT DISTINCT c_name, n_name
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         WHERE c_custkey BETWEEN 1 AND 10 AND c_custkey <> 5""",
    "dl_edn" ->
      """SELECT n_name AS nn, count(*) AS count_c,
                CAST(SUM(CAST(c_acctbal AS DECIMAL(25,6))) AS DOUBLE) AS sum_bal,
                min(c_acctbal) AS min_bal, max(c_acctbal) AS max_bal
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
         GROUP BY 1""",
    "dl_edn_pull" ->
      """SELECT c_name, c_acctbal, n_name, r_name
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE c_acctbal > 9900.0"""
  )
}
