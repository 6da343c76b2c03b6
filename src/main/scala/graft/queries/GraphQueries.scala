package graft.queries

import graft.core.{TestData, FactDb}
import graft.graph.GraphOps
import graft.operators.RangeJoin
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2D — graph analytics over fact-derived edges. */
object GraphQueries {

  /** Edge source = the attr-partitioned, e-bucketed static fact log:
    * a label-filtered edge scan prunes to its label's directory, so
    * per-hop re-reads in the iterative algorithms are cheap (no
    * per-query materialization of the full edge set). */
  private def db(s: SparkSession, dir: String): FactDb =
    DatalogQueries.bucketedStaticDb(s, dir)

  /** nation<->nation edges: same region (5 cliques of 5) — gives the
    * graph real triangle/community structure. */
  private def nationEdges(s: SparkSession, dir: String): DataFrame = {
    val n = TestData.read(s, dir, "nation")
    n.as("a").join(n.as("b"), col("a.n_regionkey") === col("b.n_regionkey") &&
        col("a.n_nationkey") =!= col("b.n_nationkey"))
      .select((col("a.n_nationkey") + TestData.NationBase).as("src"),
        (col("b.n_nationkey") + TestData.NationBase).as("dst"))
  }

  /** Directed ring per region (nation k → next nation in the region,
    * wrapping): the minimal deterministic edge set with real directed
    * cycles — each region's ring is one SCC. */
  private def regionRings(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("n_regionkey")).orderBy(col("n_nationkey"))
    TestData.read(s, dir, "nation")
      .select(col("n_regionkey"), col("n_nationkey"))
      .withColumn("nxt", lead(col("n_nationkey"), 1).over(w))
      .withColumn("mn", first(col("n_nationkey")).over(w))
      .select((col("n_nationkey") + TestData.NationBase).as("src"),
        (coalesce(col("nxt"), col("mn")) + TestData.NationBase).as("dst"))
      .filter(col("src") =!= col("dst"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // degree of each nation in the customer->nation ref graph
    "graph_degree" -> ((s, dir) => {
      val e = GraphOps.edges(db(s, dir)).filter(col("label") === "c_nationkey_ref")
      GraphOps.degrees(e)
        .filter(col("in_deg") > 0)
        .select((col("node") - TestData.NationBase).as("n_nationkey"),
          col("out_deg"), col("in_deg"))
    }),

    // BFS <=3 hops from lineitem entities of one order, across
    // lineitem->order->customer->nation ref edges, with hop counts
    "graph_reach" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val e = GraphOps.edges(db(s, dir))
        .filter(col("label").isin("o_custkey_ref", "c_nationkey_ref", "n_regionkey_ref"))
      val startOrder = TestData.OrdersBase + 1L
      // edge scans are label-pruned directories of the bucketed log —
      // per-hop re-reads beat materializing the full edge set up front
      GraphOps.bfs(e, Seq(startOrder), maxHops = 3, materializeEdges = false)
        .select(col("node"), col("hops"))
    }),

    "graph_cc" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      // nation->region bipartite ref edges: components == regions.
      // Served by the DataFrame-native large-star/small-star CC (the
      // 100x-scale path); GraphX parity is spec-pinned in GroundTruthSpec.
      val e = GraphOps.edges(db(s, dir)).filter(col("label") === "n_regionkey_ref")
      GraphOps.ccDataFrame(e)
    }),

    "graph_pagerank" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      // Adaptive dispatch: GraphX Pregel at interactive scale (beats
      // the DF recurrence's ~2s stage floor), DataFrame-native power
      // iteration above the edge threshold (the 100x-scale path).
      // Parity between the two is spec-pinned in GroundTruthSpec.
      GraphOps.pageRankAuto(nationEdges(s, dir), iters = 10)
    }),

    "graph_triangles" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      GraphOps.triangleCounts(nationEdges(s, dir))
        .select((col("node") - TestData.NationBase).as("n_nationkey"), col("triangles"))
    }),

    // hop-count shortest paths to a landmark over the nation parent
    // tree (parent(k) = floor((k-1)/2), symmetrized) — tree distance ==
    // node depth, so an exact recursive SQL oracle exists.
    "graph_sssp" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val n = TestData.read(s, dir, "nation").select(col("n_nationkey").as("k"))
      val up = n.filter(col("k") > 0).select(
        (col("k") + TestData.NationBase).as("src"),
        (expr("(k - 1) div 2") + TestData.NationBase).as("dst"))
      val edges = up.unionAll(up.select(col("dst").as("src"), col("src").as("dst")))
      GraphOps.shortestPaths(edges, Seq(TestData.NationBase))
        .filter(col("landmark") === TestData.NationBase)
        .select(col("node"), col("dist"))
    }),

    // time-respecting reachability over a temporal co-activity graph:
    // users interacting (events within 60s of each other) form timed
    // edges; which users does user 0 reach through increasing-time paths?
    // 4-core of the customer->nation ref graph + same-region nation
    // cliques: pendant customers peel in round one, which strips the
    // ref edges; the 5-cliques (degree 4) survive — distributed
    // peeling with a real cascade.
    "graph_kcore" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val refs = GraphOps.edges(db(s, dir))
        .filter(col("label") === "c_nationkey_ref")
        .select(col("src"), col("dst"))
      GraphOps.kCore(refs.unionAll(nationEdges(s, dir)), k = 4)
        .select((col("node") - TestData.NationBase).as("n_nationkey"), col("deg"))
    }),

    // strongly connected components of region rings + customer->nation
    // ref tendrils: trim peels every customer (no in-edges) as a
    // singleton SCC, coloring+backward-collect resolves each ring as
    // one SCC labeled by its min nation — a directed-cycle workload the
    // undirected CC family cannot express.
    "graph_scc" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val refs = GraphOps.edges(db(s, dir))
        .filter(col("label") === "c_nationkey_ref")
        .select(col("src"), col("dst"))
      GraphOps.scc(refs.unionAll(regionRings(s, dir)))
    }),

    // full reachability closure over region rings + customer->nation
    // tendrils: every ring node reaches the whole ring (itself
    // included, via the full loop); customers reach their region's
    // ring. Structural oracle.
    "graph_closure" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val refs = GraphOps.edges(db(s, dir))
        .filter(col("label") === "c_nationkey_ref")
        .select(col("src"), col("dst"))
      GraphOps.transitiveClosure(refs.unionAll(regionRings(s, dir)), maxIter = 60)
    }),

    // deterministic synchronous label propagation over the same-region
    // nation cliques: each clique converges to its minimum nation id
    // (round 1: every node adopts its min neighbor; round 2+: majority
    // is the clique min) — structural oracle, min nation per region.
    "graph_lpa" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      GraphOps.labelPropagation(nationEdges(s, dir), rounds = 4)
        .select((col("node") - TestData.NationBase).as("n_nationkey"),
          (col("community") - TestData.NationBase).as("community"))
    }),

    // LINK PREDICTION: top-5 most similar suppliers per supplier by
    // common-neighbor Jaccard over the lineitem part-incidence
    // bipartite graph — candidates from the shared-part self-join
    // (cost Σ_part deg², never all-pairs), hub parts (deg > 50)
    // pruned first (the stopword discipline: an item everyone shares
    // predicts nothing and is exactly the deg² blowup), per-node
    // top-k via rank<=k → map-side WindowGroupLimit.
    "graph_jaccard" -> ((s, dir) =>
      GraphOps.jaccardLinks(
        TestData.read(s, dir, "lineitem")
          .select(col("l_suppkey"), col("l_partkey")),
        "l_suppkey", "l_partkey", maxItemDeg = 50, topK = 5)),

    "graph_temporal" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val ev = TestData.events(s, dir)
        .select(col("user_id"), expr("ts_ns div 1000").as("ts_us"))
      val radius = 60L * 1000 * 1000
      val tEdges = RangeJoin.within(
          ev.select(col("user_id").as("src"), col("ts_us")),
          ev.select(col("user_id").as("dst"), col("ts_us").as("dst_us")),
          "ts_us", "dst_us", radius)
        .filter(col("src") =!= col("dst"))
        .select(col("src"), col("dst"), greatest(col("ts_us"), col("dst_us")).as("t"))
      // materializeEdges = false: the co-activity pair graph is
      // quadratic in event time-density; the 2-hop reach from one
      // source must not pay its full materialization (frontier-first
      // join order computes only frontier-adjacent time bands)
      GraphOps.temporalReach(tEdges, Seq(0L), maxHops = 2,
          materializeEdges = false)
        .select(col("node").as("user_id"), col("arrival"))
    }),

    // PIVOT-SAMPLED betweenness (Brandes forward/backward) over the
    // symmetrized sssp binary tree, pivots = every nation ⇒ EXACT;
    // undirected convention halves the both-endpoints double count.
    // Tree ⇒ σ ≡ 1 ⇒ the δs are exact small integers in double —
    // hash-safe against the oracle's unique-path enumeration.
    "graph_betweenness" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val n = TestData.read(s, dir, "nation").select(col("n_nationkey").as("k"))
      val up = n.filter(col("k") > 0).select(
        (col("k") + TestData.NationBase).as("src"),
        (expr("(k - 1) div 2") + TestData.NationBase).as("dst"))
      val edges = up.unionAll(up.select(col("dst").as("src"), col("src").as("dst")))
      // pivots = the 25 nation ids — a bounded dimension-table fetch
      // (the probeVec pattern), never a corpus-sized collect
      val pivots = n.select(col("k").cast("long")).collect()
        .map(_.getLong(0) + TestData.NationBase).toSeq
      GraphOps.betweenness(edges, pivots)
        .select((col("node") - TestData.NationBase).cast("int").as("n_nationkey"),
          round(col("betweenness") / 2.0, 6).as("betweenness"))
    })
  )

  val oracle: Map[String, String] = Map(
    // betweenness on a TREE: the unique simple path per pair IS the
    // shortest path, so enumerating non-revisiting walks (trivially
    // bounded — 25 nodes) and counting interior nodes is exact Brandes
    "graph_betweenness" ->
      """WITH RECURSIVE
           nn AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation),
           up AS (SELECT k AS src,
                         CAST(floor((k - 1) / 2.0) AS BIGINT) AS dst
                  FROM nn WHERE k > 0),
           e AS (SELECT src, dst FROM up
                 UNION ALL SELECT dst AS src, src AS dst FROM up),
           walk(s, node, path) AS (
             SELECT k, k, [k] FROM nn
             UNION ALL
             SELECT w.s, e.dst, list_append(w.path, e.dst)
             FROM walk w JOIN e ON e.src = w.node
             WHERE NOT list_contains(w.path, e.dst)
           ),
           mids AS (SELECT unnest(path[2:len(path)-1]) AS v
                    FROM walk WHERE s < node),
           bc AS (SELECT v, count(*) AS c FROM mids GROUP BY 1)
         SELECT CAST(k AS INT) AS n_nationkey,
                round(CAST(coalesce(c, 0) AS DOUBLE), 6) AS betweenness
         FROM nn LEFT JOIN bc ON bc.v = nn.k""",
    "graph_degree" ->
      """SELECT c_nationkey AS n_nationkey, CAST(0 AS BIGINT) AS out_deg,
                COUNT(*) AS in_deg
         FROM customer GROUP BY c_nationkey""",
    "graph_reach" ->
      """WITH start AS (SELECT 6000000001 AS node, 0 AS hops),
              h1 AS (SELECT DISTINCT 3000000000 + o_custkey AS node, 1 AS hops
                     FROM orders WHERE o_orderkey = 1),
              h2 AS (SELECT DISTINCT 2000000000 + c_nationkey AS node, 2 AS hops
                     FROM customer JOIN h1 ON 3000000000 + c_custkey = h1.node),
              h3 AS (SELECT DISTINCT 1000000000 + n_regionkey AS node, 3 AS hops
                     FROM nation JOIN h2 ON 2000000000 + n_nationkey = h2.node)
         SELECT node, hops FROM start
         UNION ALL SELECT node, hops FROM h1
         UNION ALL SELECT node, hops FROM h2
         UNION ALL SELECT node, hops FROM h3""",
    "graph_cc" ->
      """SELECT 2000000000 + n_nationkey AS node, 1000000000 + n_regionkey AS component
         FROM nation
         UNION ALL
         SELECT 1000000000 + r_regionkey AS node, 1000000000 + r_regionkey AS component
         FROM region""",
    "graph_triangles" ->
      """WITH sz AS (SELECT n_regionkey, COUNT(*) AS k FROM nation GROUP BY n_regionkey)
         SELECT n_nationkey, CAST((k-1) * (k-2) / 2 AS INT) AS triangles
         FROM nation JOIN sz USING (n_regionkey)""",
    // 10 fixed power iterations of GraphX's staticPageRank semantics
    // (rank = 0.15 + 0.85 * Σ in-neighbor rank/outdeg, init 1.0) as a
    // recursive CTE with an iteration counter; round(6) absorbs
    // summation-order ulps.
    "graph_pagerank" ->
      """WITH RECURSIVE
          e AS (SELECT 2000000000 + a.n_nationkey AS src, 2000000000 + b.n_nationkey AS dst
                FROM nation a JOIN nation b
                  ON a.n_regionkey = b.n_regionkey AND a.n_nationkey <> b.n_nationkey),
          deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
          pr AS (
            SELECT 2000000000 + n_nationkey AS node, CAST(1.0 AS DOUBLE) AS rank, 0 AS it
            FROM nation
            UNION ALL
            SELECT p.node,
                   0.15 + 0.85 * COALESCE((
                     SELECT sum(p2.rank / d.outdeg)
                     FROM e JOIN pr p2 ON e.src = p2.node AND p2.it = p.it
                     JOIN deg d ON d.src = e.src
                     WHERE e.dst = p.node), 0.0),
                   p.it + 1
            FROM pr p WHERE p.it < 10
          )
         SELECT node, round(rank, 6) AS rank FROM pr WHERE it = 10""",
    "graph_sssp" ->
      """WITH RECURSIVE d AS (
           SELECT 0 AS k, 0 AS dist
           UNION ALL
           SELECT n.n_nationkey AS k, d.dist + 1
           FROM nation n JOIN d
             ON CAST(floor((n.n_nationkey - 1) / 2.0) AS BIGINT) = d.k
           WHERE n.n_nationkey > 0
         )
         SELECT 2000000000 + k AS node, dist FROM d""",
    // Structural form of the fixpoint (the graph_cc oracle
    // discipline): degree-1 customers always peel, so the 4-core is
    // exactly the nation cliques whose region holds >= 5 nations,
    // each node at clique degree.
    "graph_kcore" ->
      """WITH sz AS (SELECT n_regionkey, COUNT(*) AS cnt FROM nation GROUP BY n_regionkey)
         SELECT n_nationkey, CAST(cnt - 1 AS BIGINT) AS deg
         FROM nation JOIN sz USING (n_regionkey)
         WHERE cnt - 1 >= 4""",
    // Structural form (the graph_cc oracle discipline): each region's
    // directed ring is one SCC labeled by its min nation; customers
    // (in-degree 0) are singleton SCCs.
    "graph_scc" ->
      """WITH m AS (SELECT n_regionkey, min(n_nationkey) AS mn
                    FROM nation GROUP BY n_regionkey)
         SELECT 2000000000 + n_nationkey AS node, 2000000000 + mn AS scc
         FROM nation JOIN m USING (n_regionkey)
         UNION ALL
         SELECT 3000000000 + c_custkey, 3000000000 + c_custkey FROM customer""",
    // ring closure = all same-region nation pairs (self included, via
    // the full loop); customers reach every nation of their region
    "graph_closure" ->
      """SELECT 2000000000 + a.n_nationkey AS src, 2000000000 + b.n_nationkey AS dst
         FROM nation a JOIN nation b ON a.n_regionkey = b.n_regionkey
         UNION ALL
         SELECT 3000000000 + c_custkey, 2000000000 + n.n_nationkey
         FROM customer c
         JOIN nation cn ON c.c_nationkey = cn.n_nationkey
         JOIN nation n ON n.n_regionkey = cn.n_regionkey""",
    // Structural form (the graph_cc oracle discipline): deterministic
    // sync-LPA on a clique converges to the clique minimum in <= 2
    // rounds (round 1 = min neighbor under the all-tied count, round 2
    // = majority); singleton regions have no edges and drop out.
    // same pruning + pruned-set sizes + total-order ranking; BIGINT
    // throughout (count(*) never widens in DuckDB)
    "graph_jaccard" ->
      """WITH ps AS (SELECT DISTINCT l_suppkey AS n, l_partkey AS it FROM lineitem),
              kept AS (SELECT n, it FROM ps
                       WHERE it IN (SELECT it FROM ps GROUP BY it
                                    HAVING count(*) <= 50)),
              sz AS (SELECT n, count(*) AS sz FROM kept GROUP BY n),
              pairs AS (SELECT a.n AS n1, b.n AS n2, count(*) AS inter
                        FROM kept a JOIN kept b
                          ON a.it = b.it AND a.n < b.n
                        GROUP BY 1, 2),
              sym AS (SELECT n1 AS src, n2 AS dst, inter FROM pairs
                      UNION ALL SELECT n2, n1, inter FROM pairs),
              scored AS (SELECT src, dst, inter,
                                s1.sz + s2.sz - inter AS uni,
                                round(CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter), 6)
                                  AS jaccard
                         FROM sym
                         JOIN sz s1 ON s1.n = src
                         JOIN sz s2 ON s2.n = dst),
              rnk AS (SELECT *, row_number() OVER (PARTITION BY src
                                ORDER BY jaccard DESC, dst ASC) AS rk
                      FROM scored)
         SELECT src, dst, inter, uni, jaccard, rk FROM rnk WHERE rk <= 5""",
    "graph_lpa" ->
      """WITH m AS (SELECT n_regionkey, min(n_nationkey) AS mn
                    FROM nation GROUP BY n_regionkey),
              sz AS (SELECT n_regionkey, count(*) AS k
                     FROM nation GROUP BY n_regionkey)
         SELECT n_nationkey, mn AS community
         FROM nation JOIN m USING (n_regionkey) JOIN sz USING (n_regionkey)
         WHERE k >= 2""",
    // 2-hop unrolling of the time-respecting reachability: hop-1
    // arrivals from user 0, hop-2 expansion through strictly later
    // edges, min arrival per node (source pinned at Long.MinValue).
    "graph_temporal" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS t FROM events),
              e AS (SELECT a.user_id AS src, b.user_id AS dst, greatest(a.t, b.t) AS tt
                    FROM ev a JOIN ev b
                      ON abs(a.t - b.t) <= 60000000 AND a.user_id <> b.user_id),
              h1 AS (SELECT dst AS node, min(tt) AS arrival FROM e
                     WHERE src = 0 GROUP BY dst),
              x2 AS (SELECT e.dst AS node, min(e.tt) AS arrival
                     FROM e JOIN h1 ON e.src = h1.node AND e.tt > h1.arrival
                     GROUP BY e.dst),
              allb AS (SELECT CAST(0 AS BIGINT) AS node,
                              CAST(-9223372036854775807 - 1 AS BIGINT) AS arrival
                       UNION ALL SELECT node, arrival FROM h1
                       UNION ALL SELECT node, arrival FROM x2)
         SELECT node AS user_id, min(arrival) AS arrival FROM allb GROUP BY node"""
  )
}
