package graft.graph

import graft.core.{FactDb, Fixpoint}
import org.apache.spark.graphx.{Edge, Graph}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

/** Temporal-graph analytics over the fact store (SURVEY.md §2D).
  *
  * The reference is a *graph* database: `vref` facts ARE the edges
  * (entity → entity, labeled by attribute). This module exposes them
  * as: (1) DataFrame-iterative algorithms (BFS, temporal reachability)
  * that scale past GraphX's RDD model and stay in Tungsten; and
  * (2) GraphX algorithms (PageRank, triangles) where the Pregel
  * formulation is the natural fit. As-of time travel composes for
  * free: build the edge set from `FactDb.snapshot(asOfTx)` and every
  * algorithm runs against the graph as it existed at that tx.
  */
object GraphOps {

  /** Edge list (src, dst, label) = the reference-entity facts visible in
    * the snapshot. */
  def edges(db: FactDb, asOfTx: Long = Long.MaxValue): DataFrame =
    db.snapshot(asOfTx).filter(col("vtype") === "r")
      .select(col("e").as("src"), col("vref").as("dst"), col("a").as("label"))

  /** Out/in degree per node. */
  def degrees(edgeDf: DataFrame): DataFrame = {
    val out = edgeDf.groupBy(col("src").as("node")).agg(count(lit(1)).as("out_deg"))
    val in = edgeDf.groupBy(col("dst").as("node")).agg(count(lit(1)).as("in_deg"))
    out.join(in, Seq("node"), "full_outer")
      .select(col("node"), coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
  }

  /** PIVOT-SAMPLED BETWEENNESS CENTRALITY — Brandes (2001)
    * forward/backward accumulation from a pivot set, the standard
    * scalable estimator (Bader et al.): EXACT when pivots = all nodes;
    * an n/|P|-scaled estimate otherwise (caller applies the scaling —
    * and, for an undirected/symmetrized edge set with all pivots,
    * halves the result, since each unordered pair is counted from both
    * endpoints). Unweighted directed-edge semantics on the given edges.
    *
    * Shape (the part that survives 100 TB): forward is a multi-source
    * BFS keyed (s, node) carrying σ = shortest-path counts (exact
    * longs, map-side-combinable sums) — ONE edge join + one reduce per
    * level, state O(|P|·reach) with |P| the explicit cost knob, never
    * all-pairs. Backward processes levels in DESCENDING order:
    * δ(v) = Σ_{w ∈ succ(v)} σ(v)/σ(w)·(1+δ(w)) — one join per level
    * touching only that level's rows. Betweenness(v) = Σ_pivots δ(v),
    * endpoints excluded. The forward pass is a [[Fixpoint.semiNaive]]
    * loop whose parts are the levels (materialised once, reused by the
    * backward pass without recompute). */
  def betweenness(edgeDf: DataFrame, pivots: Seq[Long], maxIter: Int = 50)
                 (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val edges = edgeDf.select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src") =!= col("dst")).distinct().localCheckpoint(true)
    // forward BFS levels: levels(d) = (s, node, sigma) at distance d;
    // the settled set is the union of the levels so far
    val levels = Fixpoint.semiNaive("betweenness", Fixpoint.materialize("betweenness",
        pivots.toDF("s").select(col("s"), col("s").as("node"), lit(1L).as("sigma"))),
        maxIter) { (frontier, settled) =>
      frontier.join(edges, frontier("node") === edges("src"))
        .select(frontier("s"), edges("dst").as("node"), col("sigma"))
        .join(settled.select("s", "node"), Seq("s", "node"), "left_anti")
        .groupBy(col("s"), col("node")).agg(sum(col("sigma")).as("sigma"))
    }
    val maxLevel = levels.size - 1
    val reached =
      if (maxLevel == 0)  // edgeless graph: every pivot is isolated
        levels(0).select(col("node"), lit(0.0).as("betweenness")).distinct()
      else {
        // backward: δ at the deepest level is 0; walk levels upward. Each
        // level pays one (v)-edge join + one (s,w) successor join over
        // only that level's rows; shallower δs depend only on the level
        // directly below, so one checkpointed frame rides the loop.
        var deltaAbove = levels(maxLevel).withColumn("delta", lit(0.0))
          .localCheckpoint(true)
        val contribs = collection.mutable.ArrayBuffer(deltaAbove.select(col("node"), col("delta")))
        for (lvl <- (maxLevel - 1) to 1 by -1) {
          val cur = levels(lvl)
            .select(col("s"), col("node").as("v"), col("sigma").as("sigma_v"))
          val succ = deltaAbove.select(col("s"), col("node").as("w"),
            col("sigma").as("sigma_w"), col("delta").as("delta_w"))
          val e = edges.select(col("src").as("v"), col("dst").as("w"))
          // δ(v) = Σ_{w ∈ succ(v)} σ(v)/σ(w)·(1+δ(w)); a shortest-path
          // successor is exactly an edge target sitting one level deeper
          val sums = cur.join(e, Seq("v"))
            .join(succ, Seq("s", "w"))
            .groupBy(col("s"), col("v"))
            .agg(sum(col("sigma_v").cast("double") / col("sigma_w").cast("double")
              * (lit(1.0) + col("delta_w"))).as("delta"))
          val deltaLvl = cur
            .join(sums, Seq("s", "v"), "left")
            .select(col("s"), col("v").as("node"), col("sigma_v").as("sigma"),
              coalesce(col("delta"), lit(0.0)).as("delta"))
            .localCheckpoint(true)
          contribs += deltaLvl.select(col("node"), col("delta"))
          deltaAbove = deltaLvl
        }
        // the levels are spent: the result reads only the δ frames
        levels.foreach(Bridge.freeCheckpoint)
        contribs.reduce(_ unionAll _)
          .groupBy(col("node")).agg(sum(col("delta")).as("betweenness"))
      }
    // COMPLETE datasheet: nodes unreachable from every pivot (and
    // isolated nodes) report 0.0 rather than going missing — callers
    // on non-connected graphs would otherwise read absence as "not
    // computed" vs "zero centrality"
    val allNodes = edges.select(col("src").as("node"))
      .unionAll(edges.select(col("dst").as("node")))
      .unionAll(pivots.toDF("node")).distinct()
    allNodes.join(reached, Seq("node"), "left")
      .select(col("node"), coalesce(col("betweenness"), lit(0.0)).as("betweenness"))
  }

  /** Multi-hop BFS: nodes reachable from `sources` in <= maxHops
    * directed hops, with minimal hop count. A [[Fixpoint.semiNaive]]
    * loop: each round joins only the frontier against the edge set, so
    * the work per round is O(frontier ⋈ edges), not O(visited ⋈ edges),
    * and the visited set is the union tree of the frontiers.
    */
  def bfs(edgeDf: DataFrame, sources: Seq[Long], maxHops: Int,
          materializeEdges: Boolean = true)
         (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    // materialize the edge set once — every iteration re-reads it.
    // Pass materializeEdges = false when the edge set is already a
    // cheap pruned scan (e.g. label directories of the bucketed fact
    // log): re-reading per hop then beats paying one full
    // materialization up front.
    val edges = if (materializeEdges) edgeDf.localCheckpoint(true) else edgeDf
    val parts = Fixpoint.semiNaive("bfs", Fixpoint.materialize("bfs",
        sources.toDF("node").withColumn("hops", lit(0))), maxHops, budget = true) {
      (frontier, visited) =>
        // every frontier row sits at the same hop count
        frontier.join(edges, frontier("node") === edges("src"))
          .select(col("dst").as("node"), (frontier("hops") + 1).as("hops"))
          .distinct()
          .join(visited.select("node"), Seq("node"), "left_anti")
    }
    if (materializeEdges) Bridge.freeCheckpoint(edges)
    parts.reduce(_ unionAll _)
  }

  /** Time-respecting reachability (TeGraph-style): over temporal edges
    * (src, dst, t), a node is reachable if there is a path whose edge
    * timestamps strictly increase. Returns (node, earliest arrival t).
    * Semi-naive on (node, bestT): a frontier entry only expands through
    * edges later than its arrival time.
    */
  def temporalReach(tEdges: DataFrame, sources: Seq[Long], maxHops: Int,
                    materializeEdges: Boolean = true)
                   (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    // materializeEdges = true: edge set checkpointed once (a derived
    // join that re-executing per hop would repeat).
    // materializeEdges = FALSE — the high-density scale path: when
    // tEdges is itself a banded self-join whose full output is
    // quadratic in event density (the co-activity graph), materializing
    // it can dwarf the query (a bounded-hop reach from few sources
    // touches a vanishing fraction of it — the 100× probe's stacked
    // time-density filled the spill disk building edges the 2-hop
    // query never read). Left lazy, each hop's frontier⋈edges is a
    // 3-way join Catalyst reorders frontier-first, so only
    // frontier-adjacent bands ever compute.
    // The best-arrival set is the union tree of the frontiers
    // (Fixpoint.semiNaive), resolved by a groupBy-min.
    val edges = if (materializeEdges) tEdges.localCheckpoint(true) else tEdges
    val parts = Fixpoint.semiNaive("temporalReach", Fixpoint.materialize("temporalReach",
        sources.toDF("node").withColumn("arrival", lit(Long.MinValue))),
        maxHops, budget = true) { (frontier, total) =>
      val bestSoFar = total.groupBy(col("node")).agg(min(col("arrival")).as("old"))
      val expanded = frontier.join(edges, frontier("node") === edges("src") &&
          edges("t") > frontier("arrival"))
        .groupBy(col("dst").as("node")).agg(min(col("t")).as("arrival"))
      // keep only strict improvements
      expanded.join(bestSoFar, Seq("node"), "left")
        .filter(col("old").isNull || col("arrival") < col("old"))
        .select("node", "arrival")
    }
    if (materializeEdges) Bridge.freeCheckpoint(edges)
    parts.reduce(_ unionAll _)
      .groupBy(col("node")).agg(min(col("arrival")).as("arrival"))
  }

  /** GraphX view of an edge DataFrame (undirected algorithms pass
    * symmetrized input). */
  def toGraphX(edgeDf: DataFrame): Graph[Int, Int] = {
    val edgeRdd: RDD[Edge[Int]] = edgeDf.select(col("src").cast("long"), col("dst").cast("long"))
      .rdd.map(r => Edge(r.getLong(0), r.getLong(1), 1))
    Graph.fromEdges(edgeRdd, defaultValue = 0)
  }

  /** DataFrame-native connected components: alternating large-star /
    * small-star rounds (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC'14). Component = min node id, the
    * contract of GraphX's `Graph.connectedComponents` (GroundTruthSpec
    * checks it against that oracle).
    *
    * This is the 100×-scale path: O(log n) rounds of plain
    * groupBy/join shuffles that stay inside Tungsten codegen and AQE
    * (skew-join splitting, runtime partition coalescing), where
    * GraphX's RDD Pregel leaves both behind and iterates O(diameter)
    * times. A [[Fixpoint.iterate]] loop over the edge set; the
    * convergence check is an anti-join on the just-checkpointed
    * rounds, run only when their sizes match. */
  def ccDataFrame(edgeDf: DataFrame, maxIter: Int = 50)
                 (implicit spark: SparkSession): DataFrame = {
    val input = edgeDf.select(col("src").cast("long").as("u"),
      col("dst").cast("long").as("v"))
    // canonical undirected form (u = hi, v = lo), self-loops dropped
    def canon(df: DataFrame): DataFrame = df.filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .distinct()
    // star-contraction is monotone: the canonical edge set is stable
    // iff sizes match and nothing left the old set
    val edges = Fixpoint.iterate("ccDataFrame", Fixpoint.materialize("ccDataFrame", canon(input)),
        maxIter, done = (prev, next) => next.rows == prev.rows &&
          prev.df.join(next.df, Seq("u", "v"), "left_anti").isEmpty) { edges =>
      // large-star: every neighbor v > u links to u's neighborhood min
      val nbrs = edges.unionAll(edges.select(col("v").as("u"), col("u").as("v")))
      val mins = nbrs.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      val large = nbrs.join(mins, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
      // small-star: all smaller neighbors (and u itself) link to the min
      val sCanon = canon(large)
      val smins = sCanon.groupBy("u").agg(min(col("v")).as("m"))
      val small = sCanon.join(smins, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .unionAll(smins.select(col("u"), col("m").as("v")))
      canon(small)
    }.df
    // at convergence the edge set is a forest of stars (member -> root)
    val nodes = input.select(col("u").as("node"))
      .unionAll(input.select(col("v").as("node"))).distinct()
    nodes.join(edges.select(col("u").as("node"), col("v").as("component")),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("component"), col("node")).as("component"))
  }

  /** k-core: the maximal subgraph in which every node has (undirected)
    * degree ≥ k, by distributed peeling — each round drops every node
    * below k and the edges touching it, until a fixpoint. The standard
    * graph-curation gate (peel off low-engagement tendrils before
    * community detection / embedding training).
    *
    * Scale shape, per round: one degree reduce over the surviving
    * edges + two semi-joins — all key-partitioned shuffles AQE can
    * coalesce; the shrinking edge set is a [[Fixpoint.iterate]] state.
    * Rounds = peeling depth of the graph, ≤ max coreness — not
    * O(diameter). Returns surviving (node, deg) — degrees within the
    * core. */
  def kCore(edgeDf: DataFrame, k: Int, maxIter: Int = 50)
           (implicit spark: SparkSession): DataFrame = {
    // canonical undirected, self-loops dropped, parallel edges merged
    val canon = edgeDf.select(col("src").cast("long").as("u"),
        col("dst").cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .distinct()
    // peeling only removes edges: equal sizes mean nothing was peeled
    val edges = Fixpoint.iterate("kCore", Fixpoint.materialize("kCore", canon), maxIter,
        done = (prev, next) => next.rows == prev.rows) { edges =>
      val keep = edges.select(col("u").as("node"))
        .unionAll(edges.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select("node")
      edges
        .join(keep.withColumnRenamed("node", "u"), Seq("u"), "left_semi")
        .join(keep.withColumnRenamed("node", "v"), Seq("v"), "left_semi")
        .select("u", "v")
    }.df
    edges.select(col("u").as("node"))
      .unionAll(edges.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= k)
  }

  /** Full transitive closure of a directed edge set (semi-naive:
    * delta ⋈ edges per round, [[Fixpoint.semiNaive]]). The batch
    * baseline [[closureDelta]] maintains incrementally. */
  def transitiveClosure(edgeDf: DataFrame, maxIter: Int = 50)
                       (implicit spark: SparkSession): DataFrame = {
    val edges = Fixpoint.materialize("transitiveClosure",
      edgeDf.select(col("src").cast("long"), col("dst").cast("long"))
        .filter(col("src") =!= col("dst")).distinct())
    val e2 = edges.df.select(col("src").as("mid"), col("dst").as("to"))
    Fixpoint.semiNaive("transitiveClosure", edges, maxIter) { (delta, total) =>
      delta.join(e2, delta("dst") === e2("mid"))
        .select(delta("src"), e2("to").as("dst")).distinct()
        .join(total, Seq("src", "dst"), "left_anti")
    }.reduce(_ unionAll _).distinct()
  }

  /** INCREMENTAL transitive-closure maintenance: given the closure C of
    * an edge set and a batch of NEW edges Δ, returns the closure of
    * E ∪ Δ while deriving only the new pairs — work is Δ-path-sized,
    * never a recompute. Every new reachability path decomposes into
    * old-closure segments stitched by new edges, so:
    *   N₀ = (C ∪ I) ∘ Δ ∘ (C ∪ I)   (paths through exactly one new edge)
    *   N  = fixpoint of N ∘ N₀       (… through several, one per round)
    * This is incremental view maintenance for the recursive reach
    * relation — the streaming fact log keeps a queryable closure
    * sidecar current per micro-batch (FactStream.ingestEdgesWithClosure)
    * instead of re-running the O(E) fixpoint each time.
    *
    * INSERT-ONLY by design: reachability is monotone under edge adds,
    * so delta maintenance is exact. Edge DELETIONS (fact retractions)
    * are not maintainable by subtraction (a removed pair may have
    * alternative support) — that needs DRed-style over-delete/
    * re-derive; here a retraction batch triggers a rebuild from the
    * as-of snapshot instead, which the versioned-sidecar publish makes
    * a drop-in (write v_{n+1} from scratch, flip the pointer). */
  def closureDelta(closure: DataFrame, newEdges: DataFrame, maxIter: Int = 50)
                  (implicit spark: SparkSession): DataFrame = {
    // fresh output attributes per union branch: self-derived branches
    // otherwise share expression ids and trip Union constraint rewrites
    def fresh(df: DataFrame): DataFrame =
      df.select(col("src").as("src"), col("dst").as("dst"))
    val c = closure.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
    val d = newEdges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    // (C ∪ I) on each side of Δ: left-extend by sources reaching src,
    // right-extend by nodes dst reaches
    val leftExt = fresh(d).unionAll(
        c.as("c").join(d.as("d"), col("c.dst") === col("d.src"))
          .select(col("c.src").as("src"), col("d.dst").as("dst")))
      .distinct()
    val n0 = Fixpoint.materialize("closureDelta", fresh(leftExt).unionAll(
        leftExt.as("l").join(c.as("c2"), col("l.dst") === col("c2.src"))
          .select(col("l.src").as("src"), col("c2.dst").as("dst")))
      .distinct()
      .join(c, Seq("src", "dst"), "left_anti"))
    val base = c.localCheckpoint(true)
    // stitch step reuses the one-new-edge paths; renamed columns keep
    // the round-1 self-join (delta IS n0) unambiguous
    val n0k = n0.df.select(col("src").as("b_src"), col("dst").as("b_dst"))
    val parts = base +: Fixpoint.semiNaive("closureDelta", n0, maxIter) { (delta, total) =>
      delta.join(n0k, col("dst") === col("b_src"))
        .select(col("src"), col("b_dst").as("dst")).distinct()
        .join(fresh(base).unionAll(fresh(total)), Seq("src", "dst"), "left_anti")
    }
    parts.map(fresh).reduce(_ unionAll _).distinct()
  }

  /** Strongly connected components of a DIRECTED edge set, fully
    * DataFrame-native (trim + forward-min-label coloring + backward
    * collection — the FW-BW-Trim family, Hong et al. 2013 / Orzan's
    * coloring). Returns (node, scc) with scc = the minimum node id in
    * the component (deterministic canonical labels, partitioning-
    * independent).
    *
    * The working state is the edge set; a node that loses its last
    * edge is a singleton SCC, labelled at the end by the node set. Per
    * outer round:
    *  1. TRIM — an edge whose source has no incoming or whose target
    *     has no outgoing edge in the remaining subgraph cannot lie on a
    *     cycle; peeled iteratively (two semi-joins per peel) until the
    *     edge set is stable. On real graphs (web/ref graphs) this
    *     removes the vast majority of nodes before any fixpoint work —
    *     the standard FW-BW preprocessing.
    *  2. COLOR — forward min-label fixpoint: color(v) = min node id
    *     that reaches v. Semi-naive: only improved labels join edges
    *     next round (frontier discipline shared with [[bfs]]).
    *  3. COLLECT — every color root (color(v) == v) is in exactly one
    *     SCC: the nodes backward-reachable from it through its own
    *     color class. All roots collect simultaneously — one BFS over
    *     the color-restricted reversed edges, O(frontier ⋈ edges) per
    *     hop.
    *  Each sub-loop is a [[Fixpoint]] loop. Collected SCCs leave the
    *  graph; uncollected nodes re-run with their blocking components
    *  gone. Outer rounds = nesting depth of
    *  the SCC condensation reachable from per-round minima — small on
    *  real graphs; every per-round step is key-partitioned
    *  reduce/semi-join work AQE can coalesce, nothing is ever
    *  collected to the driver. */
  def scc(edgeDf: DataFrame, maxOuter: Int = 25, maxIter: Int = 100,
          smallGraphEdges: Long = 1L << 16)
         (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    var edges = Fixpoint.materialize("scc",
      edgeDf.select(col("src").cast("long"), col("dst").cast("long"))
        .filter(col("src") =!= col("dst")).distinct())
    val nodes = edges.df.select(col("src").as("node"))
      .unionAll(edges.df.select(col("dst").as("node"))).distinct().localCheckpoint(true)
    val labels = collection.mutable.ArrayBuffer.empty[DataFrame]
    var outer = 0
    var open = edges.rows > 0
    while (open) {
      if (outer == maxOuter) throw new Fixpoint.NotConverged("scc", maxOuter)
      outer += 1
      // 1. trim: keep the edges whose source has an in-edge and whose
      // target has an out-edge; peeling only removes edges, so equal
      // sizes mean nothing was peeled
      edges = Fixpoint.iterate("scc trim", edges, maxIter,
          done = (prev, next) => next.rows == prev.rows) { e =>
        e.join(e.select(col("dst").as("src")).distinct(), Seq("src"), "left_semi")
          .join(e.select(col("src").as("dst")).distinct(), Seq("dst"), "left_semi")
          .select("src", "dst")
      }
      // Adaptive dispatch (the pageRankAuto discipline): trim is the
      // DISTRIBUTED bulk-reduction — on real ref/web graphs it removes
      // the overwhelmingly-trivial majority at any scale. What remains
      // is the cyclic core; when that core is interactive-sized, the
      // per-round stage floor of the coloring fixpoint (~40 scheduled
      // jobs for a handful of rings) costs more than the whole
      // problem — a driver-side Tarjan over the collected remainder is
      // exact, deterministic, and bounded by `smallGraphEdges`.
      // Larger cores run the distributed coloring path (the 100× path;
      // parity between the two is spec-pinned).
      if (edges.rows == 0) open = false
      else if (edges.rows <= smallGraphEdges) {
        labels += sccLocal(edges.df.as[(Long, Long)].collect().toSeq).toDF("node", "scc")
        open = false
      } else {
        val core = edges.df
        // 2. color: forward min-label fixpoint over improvements-only
        // frontiers; a node's color is its least label in the total
        val colorParts = Fixpoint.semiNaive("scc color", Fixpoint.materialize("scc color",
            core.select(col("src").as("node"), col("src").as("color")).distinct()),
            maxIter) { (frontier, total) =>
          frontier.join(core, frontier("node") === core("src"))
            .groupBy(col("dst").as("node")).agg(min(col("color")).as("cand"))
            .join(total.groupBy("node").agg(min(col("color")).as("color")), Seq("node"))
            .filter(col("cand") < col("color"))
            .select(col("node"), col("cand").as("color"))
        }
        val colors = colorParts.reduce(_ unionAll _)
          .groupBy("node").agg(min(col("color")).as("color")).localCheckpoint(true)
        colorParts.foreach(Bridge.freeCheckpoint)
        // 3. collect: backward BFS from the color roots inside each color
        // class; the reached set IS the root's SCC
        val cEdges = core
          .join(colors.select(col("node").as("src"), col("color").as("sc")), Seq("src"))
          .join(colors.select(col("node").as("dst"), col("color").as("dc")), Seq("dst"))
          .filter(col("sc") === col("dc"))
          .select(col("src"), col("dst"), col("sc").as("color")).localCheckpoint(true)
        val roots = Fixpoint.materialize("scc collect",
          colors.filter(col("node") === col("color")))
        Bridge.freeCheckpoint(colors) // cEdges + root set are materialized
        val reach = Fixpoint.semiNaive("scc collect", roots, maxIter) { (frontier, reached) =>
          frontier.join(cEdges,
              frontier("node") === cEdges("dst") && frontier("color") === cEdges("color"))
            .select(cEdges("src").as("node"), frontier("color").as("color")).distinct()
            .join(reached, Seq("node"), "left_anti")
        }.reduce(_ unionAll _)
        Bridge.freeCheckpoint(cEdges)
        labels += reach.select(col("node"), col("color").as("scc"))
        val gone = reach.select("node")
        edges = Fixpoint.replace("scc", outer, edges)(core
          .join(gone.withColumnRenamed("node", "src"), Seq("src"), "left_anti")
          .join(gone.withColumnRenamed("node", "dst"), Seq("dst"), "left_anti")
          .select("src", "dst"))
        open = edges.rows > 0
      }
    }
    // the result holds the node set and the labels: the working graph
    // is released
    Bridge.freeCheckpoint(edges.df)
    if (labels.isEmpty) nodes.select(col("node"), col("node").as("scc"))
    else nodes.join(labels.reduce(_ unionAll _), Seq("node"), "left")
      .select(col("node"), coalesce(col("scc"), col("node")).as("scc"))
  }

  /** Iterative (explicit-stack) Tarjan over a driver-local edge list —
    * the small-core serving path of [[scc]]. Components labeled by
    * their minimum node id, matching the distributed path exactly. */
  private[graft] def sccLocal(edges: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    import scala.collection.mutable
    val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val index = mutable.HashMap.empty[Long, Int]
    val low = mutable.HashMap.empty[Long, Int]
    val onStack = mutable.HashSet.empty[Long]
    val stack = mutable.ArrayBuffer.empty[Long]
    val comp = mutable.HashMap.empty[Long, Long]
    var counter = 0
    for (root <- nodes if !index.contains(root)) {
      val work = mutable.Stack.empty[(Long, Iterator[Long])]
      index(root) = counter; low(root) = counter; counter += 1
      stack += root; onStack += root
      work.push((root, adj.getOrElse(root, Nil).iterator))
      while (work.nonEmpty) {
        val (v, it) = work.top
        if (it.hasNext) {
          val w = it.next()
          if (!index.contains(w)) {
            index(w) = counter; low(w) = counter; counter += 1
            stack += w; onStack += w
            work.push((w, adj.getOrElse(w, Nil).iterator))
          } else if (onStack(w)) low(v) = math.min(low(v), index(w))
        } else {
          work.pop()
          if (work.nonEmpty) {
            val p = work.top._1
            low(p) = math.min(low(p), low(v))
          }
          if (low(v) == index(v)) {
            val members = mutable.ArrayBuffer.empty[Long]
            var done = false
            while (!done) {
              val w = stack.remove(stack.length - 1)
              onStack -= w
              members += w
              if (w == v) done = true
            }
            val label = members.min
            members.foreach(m => comp(m) = label)
          }
        }
      }
    }
    comp.toSeq
  }

  /** True iff the edge set has at most `threshold` edges. Probed with
    * `limit(threshold+1).count()`, which short-circuits after reading
    * at most threshold+1 rows — NEVER a full scan, so the dispatch
    * probe is safe against a 100 TB edge set. */
  private[graft] def isSmallGraph(edgeDf: DataFrame, threshold: Long): Boolean = {
    require(threshold < Int.MaxValue, "dispatch threshold must fit an Int limit")
    edgeDf.limit(threshold.toInt + 1).count() <= threshold
  }

  /** PageRank with adaptive dispatch (the served path): graphs at or
    * below `smallGraphEdges` run on GraphX's Pregel `staticPageRank`
    * (one in-memory RDD job, no per-iteration shuffle stages — ~4×
    * faster at interactive scale, where the DF recurrence is
    * stage-floor-bound at ~2 s of pure scheduling overhead); larger
    * graphs run the DataFrame-native power iteration
    * [[pageRankDataFrame]], whose per-round join+agg stays in Tungsten
    * codegen + AQE and is the right plan at 100×. Both paths implement
    * identical static semantics (parity spec-pinned), so the dispatch
    * is invisible in results. */
  def pageRankAuto(edgeDf: DataFrame, iters: Int = 10,
                   smallGraphEdges: Long = 1L << 20)
                  (implicit spark: SparkSession): DataFrame =
    if (isSmallGraph(edgeDf, smallGraphEdges)) pageRank(edgeDf, iters)
    else pageRankDataFrame(edgeDf, iters)

  /** PageRank via GraphX (fixed #iterations for determinism). The
    * small-graph serving path of [[pageRankAuto]] and the parity
    * reference for [[pageRankDataFrame]]. */
  def pageRank(edgeDf: DataFrame, iters: Int = 10)(implicit spark: SparkSession): DataFrame = {
    val pr = toGraphX(edgeDf).staticPageRank(iters).vertices
    spark.createDataFrame(pr).toDF("node", "rank")
      .select(col("node"), round(col("rank"), 6).as("rank"))
  }

  /** DataFrame-native PageRank — identical static semantics to GraphX's
    * staticPageRank (rank₀ = 1.0; rank' = resetProb + (1-resetProb) ·
    * Σ_incoming rank/outdeg with parallel edges counted; then the
    * SPARK-18847 final correction scaling ranks by n/Σrank, which is
    * the identity on sink-free graphs and re-injects the mass sinks
    * leaked otherwise), re-expressed as one join + groupBy shuffle
    * pair per iteration.
    *
    * This is the 100×-scale path (same argument as [[ccDataFrame]]):
    * the per-iteration work stays inside Tungsten codegen and AQE
    * (skew-join splitting, runtime coalescing) instead of GraphX's RDD
    * Pregel. The 1/outdeg edge weights are computed ONCE and
    * checkpointed — iterations re-join them but never recompute the
    * degree aggregation. Unlike the fixpoint operators (bfs, CC) there
    * is NO per-round convergence action: the iteration count is fixed,
    * so the whole recurrence stays ONE declarative plan — Spark runs
    * all `iters` join+agg rounds as a single multi-stage job instead of
    * `iters` blocking checkpoint jobs. Lineage is truncated every
    * `checkpointEvery` rounds only to keep plan depth bounded for large
    * `iters` (the CC/bfs checkpoint discipline, applied at the cadence
    * a fixed-point-free recurrence actually needs). */
  def pageRankDataFrame(edgeDf: DataFrame, iters: Int = 10,
                        resetProb: Double = 0.15, checkpointEvery: Int = 16)
                       (implicit spark: SparkSession): DataFrame = {
    val e = edgeDf.select(col("src").cast("long"), col("dst").cast("long"))
    val outDeg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    // hash-align the loop invariants once: weighted by src, nodes by
    // node. With adaptive execution OFF, localCheckpoint keeps that
    // physical partitioning in the truncated plan, so each iteration's
    // contribution join (weighted.src = msums.dst, the message sums
    // exiting their groupBy already dst-partitioned) is co-partitioned:
    // the edge set is not reshuffled and the only per-round Exchange is
    // the contribution aggregation. With AQE ON (Spark's default, and
    // every graft session's), the checkpointed frame reports
    // UnknownPartitioning(0) (an AdaptiveSparkPlanExec exposes no
    // output partitioning), so the planner may shuffle the edge set
    // again in every round's join; the repartition then only fixes the
    // layout the edges were materialised in. That per-round cost has
    // not been measured.
    val weighted = e.join(outDeg, "src")
      .select(col("src"), col("dst"), (lit(1.0) / col("deg")).as("w"))
      .repartition(col("src"))
      .localCheckpoint(true)
    val nodes = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node")))
      .distinct().repartition(col("node")).localCheckpoint(true)
    // The teleport term is FUSED into the contribution join: a source
    // absent from the message sums has rank resetProb exactly (no
    // inbound mass), which coalesce supplies inline — so each round is
    // ONE left join + ONE aggregation, not two joins. msum₀ = 1 makes
    // the fused rank expression resetProb + (1-resetProb)·1 = rank₀ =
    // 1.0 for every node. The node-sized teleport join (GraphX
    // outerJoinVertices semantics, reaching isolated/sink nodes) runs
    // ONCE at the end instead of every round.
    def rankExpr: org.apache.spark.sql.Column =
      lit(resetProb) + lit(1.0 - resetProb) * coalesce(col("msum"), lit(0.0))
    // msums' key is named mnode (not dst) so the iterated self-join
    // lineage never creates an ambiguous column reference
    var msums = nodes.select(col("node").as("mnode"), lit(1.0).as("msum"))
    var i = 0
    while (i < iters) {
      i += 1
      msums = weighted.join(msums, col("src") === col("mnode"), "left")
        .select(col("dst"), (rankExpr * col("w")).as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("msum"))
        .select(col("dst").as("mnode"), col("msum"))
      if (i % checkpointEvery == 0 && i < iters) msums = msums.localCheckpoint(true)
    }
    val ranks = nodes.join(msums, col("node") === col("mnode"), "left")
      .select(col("node"), rankExpr.as("rank"))
    // SPARK-18847 sink correction (two scalar aggregates — one tiny job)
    val agg = ranks.agg(sum(col("rank")), count(lit(1))).head()
    val factor = agg.getLong(1).toDouble / agg.getDouble(0)
    ranks.select(col("node"), round(col("rank") * lit(factor), 6).as("rank"))
  }

  /** Hop-count shortest paths to a landmark set via GraphX's Pregel
    * ShortestPaths. Output long form: (node, landmark, dist). Pass a
    * symmetrized edge set for undirected distance. */
  def shortestPaths(edgeDf: DataFrame, landmarks: Seq[Long])
                   (implicit spark: SparkSession): DataFrame = {
    val res = org.apache.spark.graphx.lib.ShortestPaths
      .run(toGraphX(edgeDf), landmarks)
    val rows = res.vertices.flatMap { case (node, spmap) =>
      spmap.map { case (landmark, dist) => (node, landmark, dist) }
    }
    spark.createDataFrame(rows).toDF("node", "landmark", "dist")
  }

  /** Weighted single-source shortest paths via GraphX Pregel
    * (Bellman-Ford relaxation): `edgeDf` = (src, dst, w double).
    * Returns (node, dist) for reachable nodes. Weights must be
    * non-negative — a negative-weight cycle would relax forever, so
    * the precondition is checked up front (one cheap probe). */
  def weightedSssp(edgeDf: DataFrame, source: Long)
                  (implicit spark: SparkSession): DataFrame = {
    require(edgeDf.filter(col("w") < 0).isEmpty,
      "weightedSssp requires non-negative edge weights " +
        "(negative cycles never reach a fixpoint)")
    val edgeRdd: RDD[Edge[Double]] = edgeDf
      .select(col("src").cast("long"), col("dst").cast("long"), col("w").cast("double"))
      .rdd.map(r => Edge(r.getLong(0), r.getLong(1), r.getDouble(2)))
    val g = Graph.fromEdges(edgeRdd, Double.PositiveInfinity)
      .mapVertices((id, _) => if (id == source) 0.0 else Double.PositiveInfinity)
    val sp = g.pregel(Double.PositiveInfinity)(
      (_, dist, msg) => math.min(dist, msg),
      t => if (t.srcAttr + t.attr < t.dstAttr) Iterator((t.dstId, t.srcAttr + t.attr))
           else Iterator.empty,
      (a, b) => math.min(a, b))
    spark.createDataFrame(sp.vertices.filter(!_._2.isInfinity))
      .toDF("node", "dist")
  }

  /** Per-node triangle count via GraphX (input must be symmetric+simple;
    * canonicalOrientation handles that). */
  def triangleCounts(edgeDf: DataFrame)(implicit spark: SparkSession): DataFrame = {
    val g = Graph.fromEdges(
      edgeDf.select(col("src").cast("long"), col("dst").cast("long"))
        .filter(col("src") =!= col("dst"))
        .rdd.map(r => Edge(math.min(r.getLong(0), r.getLong(1)),
          math.max(r.getLong(0), r.getLong(1)), 1)),
      0).partitionBy(org.apache.spark.graphx.PartitionStrategy.RandomVertexCut)
    val tc = g.triangleCount().vertices
    edgeDf.sparkSession.createDataFrame(tc).toDF("node", "triangles")
  }

  /** SYNCHRONOUS label propagation (community detection): every node
    * starts labeled with its own id; each round it adopts the most
    * frequent label among its neighbors, ties broken toward the
    * SMALLEST label — the deterministic variant (asynchronous/random
    * LPA is irreproducible run-to-run, useless for a data pipeline).
    * Per round: one edge⋈labels join + two reduces — the neighbor-label
    * count is map-side combinable, and the argmax is a max_by over the
    * already-reduced (node, label, cnt) relation, so per-round shuffle
    * volume is O(edges) worst case and shrinks as labels converge.
    * Each node's CURRENT label joins the vote (a self-vote): on pure
    * swaps — a 2-clique where plain synchronous LPA oscillates forever
    * and an even round budget would report two singletons — the
    * self-vote turns the swap into a tie, the smallest-label rule
    * settles it, and the community converges to its min label. Fixed
    * `rounds` stays as the budget for larger bipartite structures.
    * Nodes with no in-neighbors keep their current label via the
    * self-vote. Pass symmetrized edges for undirected semantics. */
  def labelPropagation(edgeDf: DataFrame, rounds: Int = 5)
                      (implicit spark: SparkSession): DataFrame = {
    val edges = edgeDf.select(col("src"), col("dst")).localCheckpoint(true)
    val init = Fixpoint.materialize("labelPropagation", edges.select(col("src").as("node"))
      .unionAll(edges.select(col("dst").as("node")))
      .distinct().withColumn("lbl", col("node")))
    val labels = Fixpoint.iterate("labelPropagation", init, rounds, budget = true) { labels =>
      val nbrCnt = edges.join(labels, edges("src") === labels("node"))
        .select(col("dst").as("n"), col("lbl"))
        .unionAll(labels.select(col("node").as("n"), col("lbl")))
        .groupBy(col("n"), col("lbl"))
        .agg(count(lit(1)).as("cnt"))
      val winner = nbrCnt.groupBy(col("n"))
        .agg(expr("max_by(lbl, named_struct('c', cnt, 'l', -lbl))").as("new_lbl"))
      labels.join(winner, labels("node") === winner("n"), "left")
        .select(col("node"), coalesce(col("new_lbl"), col("lbl")).as("lbl"))
    }
    Bridge.freeCheckpoint(edges)
    labels.df.select(col("node"), col("lbl").as("community"))
  }

  /** LINK PREDICTION by common-neighbor JACCARD over a bipartite
    * incidence (node, item): for every candidate pair sharing ≥1 item,
    * J = |items(a) ∩ items(b)| / |items(a) ∪ items(b)|; each node keeps
    * its topK most similar partners (jaccard desc, partner asc — a
    * total order, so the ranking is engine-deterministic).
    *
    * Scale shape: candidates come from WITHIN-ITEM pair generation,
    * cost Σ_item deg(item)² — NEVER all-pairs. Hub items (deg >
    * maxItemDeg) are pruned first, the same stopword discipline as
    * similarity search: an item shared by everyone predicts nothing
    * and its deg² term is exactly the quadratic blowup. Jaccard is
    * then computed over the PRUNED sets (sizes taken after the
    * filter) so the score is internally consistent. The final
    * per-node top-k is a rank<=k filter → Spark's map-side
    * WindowGroupLimit.
    *
    * A measured negative result stands recorded here (r13): generating
    * pairs by aggregating per-item member ARRAYS and exploding
    * within-array combinations — "halve the exchange read, drop the
    * join" — benched 1.8× SLOWER at sf0.1 (4.99 s vs 2.84 s): the
    * candidate stream (Σdeg² ≈ 18M pairs) dominates, and codegen'd
    * SMJ emits a candidate far cheaper than interpreted nested
    * transform/flatten/explode over collected arrays. The self-join
    * stays; both sides are byte-identical subtrees so AQE reuses the
    * materialized shuffle stage from disk (not BlockManager heap —
    * the r12 OOM lesson). What DID stick: both scoring orientations
    * explode map-side from the aggregated pair row instead of a
    * unionByName that ran the reduce-side pair aggregation twice. */
  def jaccardLinks(incidence: DataFrame, nodeCol: String, itemCol: String,
                   maxItemDeg: Int = 50, topK: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ps = incidence.select(col(nodeCol).as("n"), col(itemCol).as("it")).distinct()
    // pruned-set size rides along as a column (one window shuffle by n)
    // so scoring never needs a node-keyed join — at web scale the
    // per-node size relation is itself millions of rows, and joining it
    // onto the (much larger) candidate-pair stream twice is the shape
    // that doesn't survive; first() over the group is free.
    // kept is MATERIALIZED once (r16): the self-join's two sides are
    // byte-identical subtrees but runtime exchange reuse did NOT fire
    // (stage audit: the distinct/ideg/window pipeline executed TWICE,
    // ~0.5 s each at sf0.1 — the same AQE non-reuse seen on bitext's
    // dedup exchange), so without this the pruning pipeline runs once
    // per join side. The NODE-keyed repartition carries an explicit
    // width for two reasons: (a) hashpartitioning(n) satisfies both
    // the sz window's distribution AND the (n1,n2) pair aggregation's
    // (n = n1 on every emitted pair), so the candidate stream — the
    // Σdeg² term, the expensive part — aggregates COMPLETELY in-stage
    // with zero pair-stream exchange (an it-keyed layout was measured
    // here shuffling a 106 MB partially-aggregated pair stream);
    // (b) the explicit numPartitions opts that compute-bound stage out
    // of AQE byte-based coalescing, which packed its 6 s of task time
    // onto 4 tasks at local[32] — the r15 bitext-kernel pathology
    // (guide §2: compute-bound, not byte-bound). The checkpoint scan
    // reports UnknownPartitioning, so the planner re-inserts a pair-
    // stream exchange — but the n-keyed PHYSICAL layout makes the
    // map-side partial aggregation a COMPLETE per-partition reduction,
    // so that exchange carries only the ~|pairs| aggregated rows
    // (8 MB at sf0.1, vs 67 MB measured with an InMemoryRelation whose
    // accurate stats also flipped the build side out of broadcast and
    // the candidate stream into a shuffle). localCheckpoint, not
    // persist, is deliberate here. Narrow (it, n, sz) rows; per-
    // invocation temporary, swept by the bench/harness like every
    // localCheckpoint in this module.
    val width = incidence.sparkSession.sessionState.conf.numShufflePartitions
    val kept = ps.join(
        ps.groupBy(col("it")).agg(count(lit(1)).as("ideg"))
          .filter(col("ideg") <= maxItemDeg).select(col("it")),
        Seq("it"))
      .repartition(width, col("n"))
      .withColumn("sz", count(lit(1)).over(Window.partitionBy(col("n"))))
      .localCheckpoint(true)
    val pairs = kept.as("a").join(kept.as("b"),
        col("a.it") === col("b.it") && col("a.n") < col("b.n"))
      .groupBy(col("a.n").as("n1"), col("b.n").as("n2"))
      .agg(count(lit(1)).as("inter"),
        first(col("a.sz")).as("sz1"), first(col("b.sz")).as("sz2"))
    val scored = pairs.select(explode(array(
        struct(col("n1").as("src"), col("n2").as("dst"),
          col("inter"), col("sz1"), col("sz2")),
        struct(col("n2").as("src"), col("n1").as("dst"),
          col("inter"), col("sz2").as("sz1"), col("sz1").as("sz2")))).as("q"))
      .select(col("q.*"))
      .withColumn("uni", col("sz1") + col("sz2") - col("inter"))
      .withColumn("jaccard", round(col("inter").cast("double") / col("uni"), 6))
    val w = Window.partitionBy(col("src"))
      .orderBy(col("jaccard").desc, col("dst").asc)
    // explicit width on the rank-window exchange (same rationale as
    // kept's repartition above: the post-shuffle sort+rank carried 4 s
    // of task time and AQE coalesced it onto 8 tasks at local[32])
    scored.repartition(width, col("src"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= topK)
      .select(col("src"), col("dst"), col("inter"), col("uni"),
        col("jaccard"), col("rk"))
  }
}
