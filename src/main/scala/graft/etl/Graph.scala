package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed graph motifs over edge lists — the graph-shaped half of the
  * dedup story (near-dup pairs from `Similarity` form a graph; components
  * resolve clusters, triangles measure their cohesion, bounded-hop
  * reachability audits contamination spread from a seed set).
  *
  * Reference analogue: the reference keeps only pairwise similarity
  * (dedupe.ts:39-76) and never builds the graph; these operators are part of
  * the training-data-pipeline surface the builder prompt adds on top.
  *
  * Everything is edge-list DataFrames — no driver-side adjacency: the shapes
  * that survive 100 TB are the ones whose fan-out is bounded per node, not
  * per graph.
  */
object Graph {

  /** `edges` as undirected (a, b) pairs with a < b, self-loops dropped,
    * deduped — the canonical edge list of the undirected operators. */
  private[graft] def undirected(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    edges.select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct()

  /** Both orientations of `edges` as (a, b), self-loops dropped, deduped. */
  private[etl] def symmetric(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .union(edges.select(col(dstCol).as("a"), col(srcCol).as("b")))
      .filter(col("a") =!= col("b")).distinct()

  /** (`node`, deg) of an [[undirected]] edge list. */
  private def degrees(und: DataFrame, node: String = "node"): DataFrame =
    und.select(col("a").as(node)).union(und.select(col("b").as(node)))
      .groupBy(col(node)).agg(count(lit(1)).as("deg"))

  /** `n` rounds of `step` from `init`, each round's state checkpointed:
    * an iterative DataFrame loop grows its plan by one step per round, and
    * the checkpoint truncates that lineage so every round plans O(1)
    * operators. `init` is taken as given (checkpoint it if it is shared). */
  private def rounds(init: DataFrame, n: Int)(
      step: DataFrame => DataFrame): DataFrame =
    (1 to n).foldLeft(init)((state, _) => step(state).localCheckpoint())

  /** Mass propagation over `e` (src, dst, …) from the node frame `n`
    * (node, …): the state is `n` plus a `mass` column starting at `init`.
    * Each round, one edges⋈state join shuffled on src computes every
    * edge's `share`, one aggregation shuffled on dst sums the shares as
    * `s`, and the sums are left-joined back onto `n`, where `next` (SQL
    * over `n`'s columns and `s`; `s` is NULL where no edge arrives) is the
    * new mass. */
  private def propagate(n: DataFrame, e: DataFrame, init: Column,
      mass: String, share: String, next: String,
      iterations: Int): DataFrame =
    rounds(n.withColumn(mass, init), iterations) { r =>
      val contrib = e.join(r, e("src") === r("node"))
        .select(col("dst"), expr(share).as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      n.join(contrib, n("node") === contrib("dst"), "left")
        .select(n.columns.map(n(_)) :+ expr(next).as(mass): _*)
    }

  /** Per-node triangle counts by degree-ordered wedge join.
    *
    * The naive triangle join (edges³ on shared endpoints) enumerates every
    * triangle 6× and its wedge step fans out by degree² — a hub with degree
    * 10⁶ emits 10¹² wedges. The standard fix (compact-forward): orient every
    * undirected edge from the endpoint with the SMALLER (degree, id) to the
    * larger. The orientation is acyclic, each triangle then has exactly one
    * vertex with two out-edges, and the max out-degree is O(√|E|) — a node
    * with out-degree d has d higher-ordered neighbors, all of degree ≥ d, so
    * d² ≤ Σdeg = 2|E|. Wedge fan-out is therefore bounded by |E|·√|E| TOTAL
    * regardless of hubs — the skew cap comes from the math, not a tuning
    * knob.
    *
    * Shuffles: degree agg, two degree joins, the wedge self-join, the
    * closure join, the final count — all on node/edge keys, all
    * AQE-coalescible. Output: (node, triangles) for every node that appears
    * in an edge (0 for triangle-free nodes).
    */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val und = undirected(edges, srcCol, dstCol)
    val deg = degrees(und, "n")
    val oriented = und
      .join(deg.select(col("n").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("deg").as("db")), "b")
      .select(
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          struct(col("a").as("u"), col("b").as("v")))
          .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
    // wedge at the unique lowest-ordered vertex of each candidate triangle
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        col("e1.u") === col("e2.u") && col("e1.v") < col("e2.v"))
      .select(col("e1.u").as("w0"), col("e1.v").as("x"), col("e2.v").as("y"))
    val tri = wedges.join(und,
      least(col("x"), col("y")) === col("a") &&
        greatest(col("x"), col("y")) === col("b"))
    val perNode = tri
      .select(explode(array(col("w0"), col("x"), col("y"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("triangles"))
    deg.select(col("n").as("node"))
      .join(perNode.select(col("n").as("node"), col("triangles")), Seq("node"), "left")
      .na.fill(0L, Seq("triangles"))
  }

  /** Fixed-iteration stationary distribution of a WEIGHTED Markov chain
    * in exact integer arithmetic — the steady-state answer to "where
    * does the process spend its time" over an observed transition-count
    * table ([[pageRankInt]]'s undamped, weighted sibling; q103's
    * transition matrix is the natural input):
    *   mass'(s) = Σ_p  (mass(p) · w(p→s)) div Σ_s' w(p→s')
    * starting from `r0` per state. Every step a floor division —
    * bit-identical cross-engine; floor losses only shrink total mass,
    * never create it. Exactness bound: per-state mass ≤ n_states·r0,
    * so n_states·r0·max_edge_weight must fit a long (enum-sized chains
    * with r0 = 2⁴⁰ hold to weights ~10⁵; larger chains lower r0).
    * A state with no outgoing weight drops its held mass each step
    * (there is no implicit self-loop) — close the chain with explicit
    * self-loops first if absorption semantics are wanted. */
  def stationaryInt(trans: DataFrame, srcCol: String, dstCol: String,
      wCol: String, iterations: Int = 3, r0: Long = 1L << 40): DataFrame = {
    val nodes = trans.select(col(srcCol).as("node"))
      .unionByName(trans.select(col(dstCol).as("node")))
      .distinct().localCheckpoint()
    val tot = trans.groupBy(col(srcCol).as("src"))
      .agg(sum(col(wCol)).as("totw"))
    val e = trans.select(col(srcCol).as("src"), col(dstCol).as("dst"),
        col(wCol).as("w"))
      .join(tot, "src").localCheckpoint()
    propagate(nodes, e, lit(r0), "mass", "mass * w div totw",
      "coalesce(s, 0L)", iterations)
  }

  /** Fixed-iteration PageRank in exact integer arithmetic.
    *
    * Ranks start at `r0` per node and update as
    *   r'(v) = (15·r0) div 100  +  (85 · Σ_{u→v} (r(u) div outdeg(u))) div 100
    * — the standard 0.85-damped update with every division a floor
    * division, so both engines (and any re-derivation) compute identical
    * integers: no float summation order, no rounding mode, no tolerance.
    * The quantization error vs real-valued PageRank is < outdeg/r0 per
    * term (r0 defaults to 2^40 — ~12 decimal digits of headroom), far
    * below any ranking use; what matters here is that the spec IS the
    * integer recurrence, reproducible bit-for-bit.
    *
    * It is [[personalizedPageRankInt]] with every node seeded and
    * `restartPct = 15`, projected to (node, rank). Dangling nodes
    * (outdeg 0) leak their mass — callers wanting the strict
    * random-surfer model should close the graph first; the
    * synthetic-graph callers have none.
    */
  def pageRankInt(nodes: DataFrame, edges: DataFrame, nodeCol: String,
      srcCol: String, dstCol: String, iterations: Int = 3,
      r0: Long = 1L << 40): DataFrame =
    personalizedPageRankInt(nodes, edges, nodeCol, srcCol, dstCol, lit(true),
      iterations, restartPct = 15, r0).select(col("node"), col("rank"))

  /** Fixed-iteration personalized PageRank (random walk with restart) in
    * exact integer arithmetic — [[pageRankInt]] with the teleport mass
    * routed to a SEED SET instead of uniformly:
    *
    *   r'(v) = (restartPct·r0·seed(v)) div 100
    *         + ((100−restartPct) · Σ_{u→v} (r(u) div outdeg(u))) div 100
    *
    * with ranks starting at r0 on seeds and 0 elsewhere. Same
    * reproducibility contract as the siblings (every step an integer sum
    * or floor division, bit-identical cross-engine). This is the
    * "related items from THESE items" scorer — seed a user's history (or
    * one node) and the stationary-ish mass after a few iterations ranks
    * proximity to the seeds, where global PageRank would rank global
    * importance.
    *
    * `seedCol` is evaluated against the node frame (bring any columns the
    * predicate needs); dangling nodes (outdeg 0) leak their mass. */
  def personalizedPageRankInt(nodes: DataFrame, edges: DataFrame,
      nodeCol: String, srcCol: String, dstCol: String, seedCol: Column,
      iterations: Int = 2, restartPct: Int = 20,
      r0: Long = 1L << 40): DataFrame = {
    require(restartPct >= 1 && restartPct <= 99, "restartPct in [1,99]")
    val n = nodes.select(col(nodeCol).as("node"),
        when(seedCol, lit(1L)).otherwise(lit(0L)).as("seed"))
      .distinct().localCheckpoint()
    val outdeg = edges.groupBy(col(srcCol).as("node"))
      .agg(count(lit(1)).as("outdeg"))
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .join(outdeg.withColumnRenamed("node", "src"), "src")
      .localCheckpoint()
    // `div`, not `/`: Column./ is float division — the whole point here
    // is that every step stays a floor division on longs
    propagate(n, e, col("seed") * r0, "rank", "rank div outdeg",
      s"(seed * ${restartPct}L * $r0) div 100" +
        s" + (coalesce(s, 0L) * ${100 - restartPct}) div 100", iterations)
  }

  /** Fixed-iteration HITS hubs & authorities in exact integer arithmetic
    * — the "good pointer / good pointee" dual of [[pageRankInt]] (same
    * reproducibility contract: every step an integer sum or floor
    * division, bit-identical cross-engine).
    *
    * Scores start at `r0` and alternate the standard mutual updates —
    * auth'(v) = Σ_{u→v} hub(u) from the PREVIOUS hubs, then
    * hub'(u) = Σ_{u→v} auth'(v) from the NEW authorities — each followed
    * by the integer analog of HITS's norm step: rescale so the max score
    * is `r0` (`(s·r0) div max`, product through decimal(38,0) so
    * deg·r0² cannot overflow long). Per iteration: two edge⋈score joins
    * and two aggregations, shuffled on the edge keys, plus one
    * broadcast one-row max. */
  def hitsInt(nodes: DataFrame, edges: DataFrame, nodeCol: String,
      srcCol: String, dstCol: String, iterations: Int = 2,
      r0: Long = 1L << 20): DataFrame = {
    val n = nodes.select(col(nodeCol).as("node")).distinct().localCheckpoint()
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .localCheckpoint()
    def rescale(df: DataFrame, c: String): DataFrame = {
      val mx = df.agg(max(col(c)).as("_mx"))
      df.crossJoin(broadcast(mx))
        .select(col("node"), expr(
          s"CAST((CAST($c AS DECIMAL(38,0)) * $r0) div greatest(_mx, 1)" +
            s" AS BIGINT)").as(c))
    }
    var hub = n.withColumn("hub", lit(r0))
    var auth = n.withColumn("auth", lit(r0))
    for (_ <- 1 to iterations) {
      val aSum = e.join(hub.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node")).agg(sum(col("hub")).as("auth"))
      auth = rescale(n.join(aSum, Seq("node"), "left")
        .select(col("node"), coalesce(col("auth"), lit(0L)).as("auth")),
        "auth").localCheckpoint()
      val hSum = e.join(auth.withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src").as("node")).agg(sum(col("auth")).as("hub"))
      hub = rescale(n.join(hSum, Seq("node"), "left")
        .select(col("node"), coalesce(col("hub"), lit(0L)).as("hub")),
        "hub").localCheckpoint()
    }
    hub.join(auth, "node")
  }

  /** Fixed-round synchronous label propagation with clamped seeds — the
    * cheap semi-supervised classifier over a relation graph (spread the
    * few labeled nodes' classes to their neighborhoods): each round,
    * every non-seed node takes the MODE of its neighbors' current labels
    * (ties break to the smallest label; nodes with no labeled neighbor
    * stay null), while seed labels never change. Fixed rounds (not
    * to-fixpoint) keep it a deterministic bounded pipeline the oracle
    * can unroll. Per round: one edge⋈labels join, one (node, label)
    * count, one per-node window argmax — all shuffled on node keys; the
    * argmax window partitions by node, so per-node state is the node's
    * distinct neighbor LABELS (class-count-bounded), never its degree. */
  def labelPropagation(nodes: DataFrame, edges: DataFrame, nodeCol: String,
      labelCol: String, srcCol: String, dstCol: String,
      rounds: Int = 2): DataFrame = {
    val seed = nodes.select(col(nodeCol).as("node"),
      col(labelCol).as("seed_label")).localCheckpoint()
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .localCheckpoint()
    Graph.rounds(seed.withColumn("label", col("seed_label")), rounds) { lab =>
      val votes = e
        .join(lab.select(col("node").as("src"), col("label")), "src")
        .filter(col("label").isNotNull)
        .groupBy(col("dst").as("node"), col("label"))
        .agg(count(lit(1)).as("_c"))
      val w = Window.partitionBy(col("node"))
        .orderBy(col("_c").desc, col("label"))
      val best = votes.withColumn("_rk", row_number().over(w))
        .filter(col("_rk") === 1).select(col("node"), col("label").as("_new"))
      seed.join(best, Seq("node"), "left")
        .select(col("node"), col("seed_label"),
          coalesce(col("seed_label"), col("_new")).as("label"))
    }.select(col("node"), col("label"))
  }

  /** Time-respecting reachability — earliest arrival at each node within
    * `maxHops` hops along edges whose timestamps never decrease (an edge
    * is usable only at-or-after you arrived at its source): the
    * contact-tracing / influence-spread primitive a static BFS gets wrong
    * (static reachability happily routes "backward in time" through an
    * old edge). Per round: frontier ⋈ edges with the `ts ≥ arrival`
    * temporal guard, min-arrival fold, keep genuine improvements as the
    * next frontier — [[boundedShortestPaths]]'s shape with time as the
    * relaxed quantity. Fixed rounds so the oracle can unroll. */
  def temporalReachability(seeds: DataFrame, edges: DataFrame,
      seedNodeCol: String, srcCol: String, dstCol: String, tsCol: String,
      maxHops: Int): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
      col(tsCol).as("ts")).localCheckpoint()
    var arr = seeds.select(col(seedNodeCol).as("node"))
      .distinct().withColumn("arrival", lit(Long.MinValue))
      .localCheckpoint()
    var frontier = arr
    for (_ <- 1 to maxHops) {
      val relaxed = e.join(frontier, col("src") === col("node"))
        .filter(col("ts") >= col("arrival"))
        .select(col("dst").as("node"), col("ts").as("arrival"))
        .groupBy(col("node")).agg(min(col("arrival")).as("arrival"))
      val improved = relaxed.join(
          arr.select(col("node"), col("arrival").as("_old")),
          Seq("node"), "left")
        .filter(col("_old").isNull || col("arrival") < col("_old"))
        .select(col("node"), col("arrival"))
        .localCheckpoint()
      arr = arr.join(improved.select(col("node").as("_n")),
          col("node") === col("_n"), "left_anti")
        .union(improved).localCheckpoint()
      frontier = improved
    }
    arr
  }

  /** Bounded-round k-core peel: `rounds` iterations of "drop every node
    * with degree < k, with its edges" over the undirected deduped graph,
    * returning surviving nodes with their final degree. Fixed rounds (not
    * to-fixpoint) keep the operator a deterministic bounded pipeline the
    * oracle can unroll — the degeneracy SCREEN (is this node in a dense
    * region?) used to prune dedup-cluster graphs before expensive
    * pairwise work; full coreness would iterate to convergence the same
    * way. Each round is one degree aggregation (shuffle on node) + two
    * semi-joins (shuffle on each endpoint). */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      rounds: Int = 3): DataFrame =
    degrees(Graph.rounds(undirected(edges, srcCol, dstCol).localCheckpoint(),
        rounds) { und =>
      val keep = degrees(und).filter(col("deg") >= k).select(col("node"))
      und.join(keep.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("node", "b"), Seq("b"), "left_semi")
    })

  /** Bounded-round k-truss peel: `rounds` iterations of "drop every edge
    * supported by fewer than k−2 triangles" over the undirected deduped
    * graph, returning surviving edges with their final support — the
    * EDGE-level density screen. [[kCore]]'s node screen admits hub-spoke
    * fluff (a star is a 2-core-free graph but a hub survives high k by
    * degree alone in denser mixtures); a k-truss edge sits in ≥ k−2
    * actual triangles, so what survives is built of overlapping
    * triangles — the community-core definition used to seed dedup/
    * entity-resolution clusters that must not chain through a single
    * promiscuous record. Fixed rounds (not to-fixpoint) keep the
    * operator a deterministic bounded pipeline the oracle unrolls. Per
    * round: one triangle pass over the a<b oriented edge list (two wedge
    * joins — the deg-bounded triangle shape, never node-pairs) + one
    * support fold. */
  def kTruss(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      rounds: Int = 3): DataFrame = {
    def support(e: DataFrame): DataFrame = {
      val xy = e.select(col("a").as("x"), col("b").as("y"))
      val yz = e.select(col("a").as("y"), col("b").as("z"))
      val xz = e.select(col("a").as("x"), col("b").as("z"))
      val tri = xy.join(yz, "y").join(xz, Seq("x", "z"))
      val per = tri.select(col("x").as("a"), col("y").as("b"))
        .union(tri.select(col("y").as("a"), col("z").as("b")))
        .union(tri.select(col("x").as("a"), col("z").as("b")))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("support"))
      e.join(per, Seq("a", "b"), "left")
        .withColumn("support", coalesce(col("support"), lit(0L)))
    }
    support(Graph.rounds(undirected(edges, srcCol, dstCol).localCheckpoint(),
        rounds) { und =>
      support(und).filter(col("support") >= k - 2).select(col("a"), col("b"))
    })
  }

  /** Common-neighbor link prediction: for every non-adjacent node pair
    * with at least one shared neighbor, the shared-neighbor count and the
    * neighborhood-Jaccard in basis points — the classic "who should be
    * connected next" scores, in exact integers.
    *
    * Shape: symmetrize + dedupe the edge list, wedge self-join on the
    * shared endpoint (the same deg² fan-out triangle counting bounds with
    * its orientation trick — here the wedge IS the candidate set, so the
    * fan-out is the output and callers should pre-prune hubs if their
    * graph has them), anti-join existing edges away, then one degree join
    * per side. jaccard_bp = cn·10000 div (deg_a + deg_b − cn) — floor
    * division, bit-stable cross-engine. Output: (a, b, cn, jaccard_bp)
    * with a < b, one row per predicted pair.
    */
  def linkPrediction(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val und = undirected(edges, srcCol, dstCol)
    val adj = und.select(col("a").as("z"), col("b").as("n"))
      .union(und.select(col("b").as("z"), col("a").as("n")))
    val deg = adj.groupBy(col("z")).agg(count(lit(1)).as("deg"))
    val cand = adj.as("l").join(adj.as("r"),
        col("l.z") === col("r.z") && col("l.n") < col("r.n"))
      .groupBy(col("l.n").as("a"), col("r.n").as("b"))
      .agg(count(lit(1)).as("cn"))
      .join(und, Seq("a", "b"), "left_anti")
    cand
      .join(deg.select(col("z").as("a"), col("deg").as("_da")), "a")
      .join(deg.select(col("z").as("b"), col("deg").as("_db")), "b")
      .select(col("a"), col("b"), col("cn"),
        expr("cn * 10000L div (_da + _db - cn)").as("jaccard_bp"))
  }

  /** Minimum hop distance (≤ `maxHops`) from a seed set, by frontier BFS.
    *
    * Each round joins ONLY the current frontier (nodes first reached last
    * round) against the symmetric edge list, anti-joins already-settled
    * nodes away, and unions the rest in at distance h — so total work is
    * Σ|frontier|·deg, each edge traversed at most twice overall, not per
    * round. `localCheckpoint` truncates the growing lineage exactly as in
    * [[Similarity.connectedComponents]]; the per-round driver action is one
    * count (a scalar). Unreached nodes are absent from the output.
    */
  def khopDistances(seeds: DataFrame, edges: DataFrame, seedCol: String,
      srcCol: String, dstCol: String, maxHops: Int): DataFrame = {
    val sym = symmetric(edges, srcCol, dstCol).localCheckpoint()
    var dist = seeds.select(col(seedCol).as("node")).distinct()
      .withColumn("hops", lit(0)).localCheckpoint()
    var frontier = dist
    var h = 0
    while (h < maxHops && frontier.isEmpty == false) {
      h += 1
      val next = frontier.join(sym, frontier("node") === sym("a"))
        .select(col("b").as("node")).distinct()
        .join(dist, Seq("node"), "left_anti")
        .withColumn("hops", lit(h)).localCheckpoint()
      // dist stays a lazy union over the checkpointed frontiers: each
      // round's settled set is only ever SCANNED (by the anti-join), so
      // re-checkpointing the whole table every round would write O(V)
      // blocks per round for no recompute saving — the union's leaves
      // are already materialized and the plan stays `rounds` unions deep
      dist = dist.union(next)
      frontier = next
    }
    dist
  }

  /** Per-node local clustering coefficient in basis points:
    * cc_bp = 2·triangles(v)·10⁴ div (deg(v)·(deg(v)−1)), NULL for
    * degree < 2 — "how close is each node's neighborhood to a clique",
    * the per-node refinement of the global triangle count.
    *
    * Rides [[triangleCounts]] (compact-forward orientation, O(E^1.5)
    * wedge bound) plus one degree aggregation and a node-keyed join; no
    * new fan-out beyond what the triangle pass already bounds. */
  def clusteringCoefficientBp(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val deg = degrees(undirected(edges, srcCol, dstCol), "n")
    triangleCounts(edges, srcCol, dstCol)
      .join(deg.select(col("n").as("node"), col("deg")), "node")
      .select(col("node"), col("triangles"), col("deg"),
        when(col("deg") >= 2,
          expr("triangles * 20000L div (deg * (deg - 1L))"))
          .as("cc_bp"))
  }

  /** Degree assortativity of an undirected graph as a signed, pre-scaled
    * integer: the Pearson correlation of (deg(u), deg(v)) over all directed
    * half-edges, reported as sign · r²·10⁴ (the repo-wide sqrt-free
    * correlation form — same contract as the ACF and Kendall operators:
    * cross-multiplied decimal(38,0) sums, a single integer division at the
    * end, bit-identical in any engine).
    *
    * Social graphs are assortative (hubs link hubs, r > 0), web/biology
    * graphs disassortative — the one-row screen that tells you which skew
    * story your edge list has before you pick a partitioning.
    *
    * Shuffles: the dedup distinct, the degree agg, two degree joins (both
    * on node keys, AQE-coalescible), one global agg. The degree table is
    * |V|-sized; nothing fans out by degree². Decimal(38,0) holds the
    * squared covariance up to ~10¹⁹ half-edge·degree units — beyond that
    * (trillion-edge graphs) the sums need a two-level scaled form; the
    * bound is documented here rather than hoped past. */
  def degreeAssortativityBp(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val und = undirected(edges, srcCol, dstCol)
    val half = und.select(col("a").as("u"), col("b").as("v"))
      .union(und.select(col("b").as("u"), col("a").as("v")))
    val deg = half.groupBy(col("u").as("z")).agg(count(lit(1)).as("deg"))
    val xy = half
      .join(deg.select(col("z").as("u"), col("deg").as("x")), "u")
      .join(deg.select(col("z").as("v"), col("deg").as("y")), "v")
    xy.agg(
        count(lit(1)).cast(d38).as("n"),
        sum(col("x").cast(d38)).as("sx"),
        sum(col("y").cast(d38)).as("sy"),
        sum(col("x").cast(d38) * col("y").cast(d38)).as("sxy"),
        sum(col("x").cast(d38) * col("x").cast(d38)).as("sxx"),
        sum(col("y").cast(d38) * col("y").cast(d38)).as("syy"))
      .select(col("n").cast("long").as("n_half_edges"),
        expr("CAST(sign(n * sxy - sx * sy) AS BIGINT)").as("cov_sign"),
        expr("""CAST(CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) = 0
                THEN NULL ELSE
                  ((n * sxy - sx * sy) * (n * sxy - sx * sy) * 10000)
                    div ((n * sxx - sx * sx) * (n * syy - sy * sy))
                END AS BIGINT)""").as("r2_bp"))
  }

  /** Hierarchy flattening by POINTER DOUBLING: every node of a parent
    * forest resolves its root and depth in O(log depth) self-join rounds,
    * not O(depth) — each round composes the walked pointer with itself
    * (`ptr → ptr(ptr)`, distances add), so round r covers 2^r edges.
    * The dimension-table closure every warehouse needs (org charts,
    * category trees) without a sequential walk; 6 rounds cover depth 64.
    *
    * Roots self-parent (`parent == id`, distance 0), which also makes
    * converged states fixpoints — extra rounds are no-ops. Each round is
    * one equi-join shuffled on the pointer.
    *
    * Dangling pointers (a parent id absent from the input — sparse key
    * spaces, partial extracts) are kept as fixpoints: each round LEFT
    * joins and coalesces back to the unresolved pointer, so such nodes
    * surface with `root` = the dangling id rather than silently dropping
    * out of the result. */
  def flattenHierarchy(nodes: DataFrame, idCol: String, parentCol: String,
      doublings: Int = 6): DataFrame = {
    val init = nodes.select(col(idCol).as("id"),
        col(parentCol).as("ptr"),
        when(col(parentCol) === col(idCol), 0L).otherwise(1L).as("dist"))
      .localCheckpoint()
    rounds(init, doublings) { state =>
      val t = state.select(col("id").as("t_id"), col("ptr").as("t_ptr"),
        col("dist").as("t_dist"))
      state.join(t, col("ptr") === col("t_id"), "left")
        .select(col("id"), coalesce(col("t_ptr"), col("ptr")).as("ptr"),
          (col("dist") + coalesce(col("t_dist"), lit(0L))).as("dist"))
    }.select(col("id"), col("ptr").as("root"), col("dist").as("depth"))
  }

  /** Bounded-hop weighted shortest paths (Bellman–Ford relaxation):
    * after `maxHops` rounds, `dist` is the exact minimum path weight
    * using ≤ maxHops edges from the source set — the standard relaxation
    * invariant, so fixed rounds give well-defined semantics an oracle can
    * enumerate. Each round joins the frontier table with the edge list on
    * the source endpoint (one keyed shuffle) and folds with min; weights
    * stay integral. Unreachable-within-budget nodes are absent. */
  def boundedShortestPaths(sources: DataFrame, edges: DataFrame,
      srcNodeCol: String, srcCol: String, dstCol: String, wCol: String,
      maxHops: Int): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
      col(wCol).as("w")).localCheckpoint()
    val init = sources.select(col(srcNodeCol).as("node"))
      .distinct().withColumn("dist", lit(0L)).localCheckpoint()
    rounds(init, maxHops) { dist =>
      val relaxed = e.join(dist, col("src") === col("node"))
        .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
      dist.union(relaxed)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
    }
  }

  /** Weighted single-source shortest paths to CONVERGENCE — the unbounded
    * sibling of [[boundedShortestPaths]]: frontier-based Bellman–Ford
    * relaxation that iterates until a round improves nothing, so `dist` is
    * the exact minimum path weight with NO hop budget. Each round joins
    * only the IMPROVED frontier (not the full distance table) with the
    * edge list — one keyed shuffle per round, shrinking as the wavefront
    * settles; `localCheckpoint` truncates lineage; the per-round
    * `isEmpty` convergence probe is one tiny job (same pattern as k-hop
    * BFS). Rounds = depth of the shortest-path tree (≈ graph diameter for
    * unit-ish weights).
    *
    * Weights must be NONNEGATIVE for termination to be meaningful (a
    * negative cycle relaxes forever); `maxRounds` is the safety backstop
    * — hitting it throws rather than silently returning non-converged
    * distances. */
  def shortestPaths(sources: DataFrame, edges: DataFrame,
      srcNodeCol: String, srcCol: String, dstCol: String, wCol: String,
      maxRounds: Int = 10000, hopsPerRound: Int = 2): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
      col(wCol).as("w")).localCheckpoint()
    var dist = sources.select(col(srcNodeCol).as("node"))
      .distinct().withColumn("dist", lit(0L)).localCheckpoint()
    var frontier = dist
    var rounds = 0
    while (!frontier.isEmpty) {
      if (rounds >= maxRounds)
        throw new IllegalStateException(
          s"shortestPaths: no convergence after $maxRounds rounds " +
            "(negative cycle, or raise maxRounds)")
      rounds += hopsPerRound
      // hopsPerRound relaxation sub-steps inside ONE materialized round:
      // iterative jobs here are fixed-overhead-bound (each round is a
      // scheduler round-trip + checkpoint regardless of data size), so
      // batching k hops per round divides the round count — and thus the
      // wall clock of log-depth graphs — by k at the cost of k join+agg
      // layers in one plan. Sub-step i relaxes from sub-step i−1's
      // candidates (a superset of its genuine improvements: dominated
      // candidates re-propagate values already propagated in an earlier
      // round, redundant but harmless under the final min), and the
      // per-hop groupBy-min keeps every intermediate bounded by the
      // reachable-node count. The default k=2 is measured, not guessed
      // (q240 +1/×2 lattice, sf0.1, local[32], 2026-08-14: k=1 10.7 s,
      // k=2 7.2 s, k=4 9.5 s, k=8 11.6 s): past k=2 the redundant
      // dominated-candidate work of the extra in-plan hops outgrows the
      // saved scheduler round-trips on wide wavefronts.
      var cand = e.join(frontier, col("src") === col("node"))
        .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
      val hops = scala.collection.mutable.ListBuffer(cand)
      for (_ <- 2 to hopsPerRound) {
        cand = e.join(cand, col("src") === col("node"))
          .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
          .groupBy(col("node")).agg(min(col("dist")).as("dist"))
        hops += cand
      }
      // one union+min over the round's hop outputs (each already deduped
      // per node) instead of a running re-dedup per hop — halves the
      // shuffle count of the round
      val acc = hops.reduce(_ union _)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
      // ONE full-outer join materialized per round serves both outputs:
      // the improved set (next frontier — empty means the round's FIRST
      // sub-step improved nothing either, so convergence detection is
      // exact despite the batching) and the updated distance table (a
      // lazy projection of the same checkpointed frame). The previous
      // spelling (left join for improved + anti-join/union/second
      // checkpoint for dist) paid one extra shuffle and one extra
      // materialization job per round — in an iterative op whose wall
      // clock IS rounds × fixed overhead that is real money: same-box
      // A/B on q240 (round 9), min-of-3 8.25 s → 7.67 s, first-rep
      // 10.78 s → 8.68 s.
      val improvedCond = col("_new").isNotNull &&
        (col("dist").isNull || col("_new") < col("dist"))
      val j = dist.join(acc.select(col("node"), col("dist").as("_new")),
          Seq("node"), "full_outer")
        .localCheckpoint()
      dist = j.select(col("node"),
        when(improvedCond, col("_new")).otherwise(col("dist")).as("dist"))
      frontier = j.filter(improvedCond)
        .select(col("node"), col("_new").as("dist"))
    }
    dist
  }

  /** Bipartite projection with a degree cap: from (left, right) incidence
    * edges, the co-occurrence graph over right nodes — `n_co` = how many
    * left nodes connect both endpoints. The item-item neighborhood build
    * of collaborative filtering / co-visitation.
    *
    * The cap is the scale guard: a left node of degree d emits d(d−1)/2
    * pairs, so one power user (a crawler hitting every item) is a
    * quadratic skew bomb. Left nodes with more than `maxDegree` distinct
    * rights are EXCLUDED from pair generation (standard practice — hub
    * co-occurrence is uninformative for similarity anyway), bounding the
    * self-join fanout at maxDegree²/2 per left key. Distinct, degree count,
    * and the pair join all partition on the left key — one reusable
    * shuffle — then one combiner-friendly shuffle on the pair. */
  def bipartiteProjection(edges: DataFrame, leftCol: String,
      rightCol: String, maxDegree: Int): DataFrame =
    coCounts(cappedIncidence(edges, leftCol, rightCol, maxDegree))

  /** Distinct (l, r) incidence without the left nodes of more than
    * `maxDegree` distinct rights. */
  private def cappedIncidence(edges: DataFrame, leftCol: String,
      rightCol: String, maxDegree: Int): DataFrame = {
    val e = edges.select(col(leftCol).as("l"), col(rightCol).as("r")).distinct()
    e.join(
      e.groupBy(col("l")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") <= maxDegree).select(col("l")),
      Seq("l"))
  }

  /** (r_a, r_b, n_co): right pairs r_a < r_b and how many left nodes of
    * the incidence `kept` connect both. */
  private def coCounts(kept: DataFrame): DataFrame =
    kept.select(col("l"), col("r").as("r_a"))
      .join(kept.select(col("l"), col("r").as("r_b")), Seq("l"))
      .filter(col("r_a") < col("r_b"))
      .groupBy(col("r_a"), col("r_b"))
      .agg(count(lit(1)).as("n_co"))

  /** Newman modularity of a GIVEN node partition, per community — the
    * quality score that turns "we clustered the graph" into a number:
    * Q = Σ_c [e_c/m − (deg_c/2m)²], where e_c counts intra-community
    * edges and deg_c sums the degrees of c's members. Positive
    * contribution = the community holds more of its edges than a
    * degree-preserving random graph would give it. Scores any upstream
    * assignment (label propagation, connected components, or a plain
    * attribute like brand) without re-running it.
    *
    * Exact integers end to end: per community the contribution's
    * numerator 4m·e_c − deg_c² and denominator 4m² are exact longs
    * (m ≤ ~10⁹ before 4m² needs decimal — widened anyway), and the ppm
    * is floored TOWARD ZERO on the |numerator| with the sign reattached,
    * because Spark's `div` truncates while DuckDB's `//` floors — signed
    * floored division is exactly the cross-engine trap, so neither
    * engine's native signed div is used.
    *
    * Shape: edges canonicalized+distinct once, two broadcast-or-shuffle
    * joins onto the (node → community) map, one edge-level groupBy for
    * e_c, one node-level groupBy for deg_c, and a one-row broadcast m —
    * all combiner-friendly; output is |communities| rows. Edges whose
    * endpoint is missing from the community map are dropped by the inner
    * join (document upstream; a loud variant would left-join and land
    * them in a '(unmapped)' community). */
  def modularityPpm(edges: DataFrame, srcCol: String, dstCol: String,
      communities: DataFrame, nodeCol: String, commCol: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val cm = communities.select(col(nodeCol).as("_n"), col(commCol).as("_c"))
    // localCheckpoint: e_intra, deg_sum and m all fold this same edge
    // table — without the barrier the (possibly self-join-derived)
    // upstream runs three times (measured 6.5 → 5.2 s on q397's 1M-pair
    // co-purchase projection at sf0.1; the remainder is the projection
    // self-join itself, paid once)
    val und = undirected(edges, srcCol, dstCol)
      .join(cm.select(col("_n").as("a"), col("_c").as("ca")), Seq("a"))
      .join(cm.select(col("_n").as("b"), col("_c").as("cb")), Seq("b"))
      .localCheckpoint()
    val eIntra = und.filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("community")).agg(count(lit(1)).as("e_intra"))
    val degC = und.select(col("ca").as("community"))
      .unionByName(und.select(col("cb").as("community")))
      .groupBy(col("community")).agg(count(lit(1)).as("deg_sum"))
    val m = und.agg(count(lit(1)).as("m_edges"))
    degC.join(eIntra, Seq("community"), "left")
      .select(col("community"),
        coalesce(col("e_intra"), lit(0L)).as("e_intra"), col("deg_sum"))
      .crossJoin(broadcast(m))
      .withColumn("_num", expr(
        s"CAST(4 AS $d38) * m_edges * e_intra - CAST(deg_sum AS $d38) * deg_sum"))
      .withColumn("contrib_ppm", expr(s"""CAST(CASE WHEN _num >= 0
          THEN (_num * 1000000) div (CAST(4 AS $d38) * m_edges * m_edges)
          ELSE -((-_num * 1000000) div (CAST(4 AS $d38) * m_edges * m_edges))
          END AS BIGINT)"""))
      .select(col("community"), col("e_intra"), col("deg_sum"),
        col("m_edges"), col("contrib_ppm"))
  }

  /** Item-item collaborative-filtering neighborhoods on top of the
    * [[bipartiteProjection]] candidate plan: co-occurrence counts
    * normalized to the SQUARED cosine (cos² = n_co²/(n_a·n_b), exact in
    * ppm — squaring dodges the square root while preserving the
    * ranking, the repo's standard irrational-free trick), then top-k
    * neighbors per item. Degrees count the SAME capped-user universe as
    * the pairs, so a popularity-normalized score never mixes capped and
    * uncapped denominators. Deterministic rank: (cos² DESC, n_co DESC,
    * neighbor ASC). The per-item window is bounded by the item's
    * candidate count, itself bounded by the degree cap. */
  def cfNeighbors(edges: DataFrame, leftCol: String, rightCol: String,
      maxDegree: Int, k: Int): DataFrame = {
    val kept = cappedIncidence(edges, leftCol, rightCol, maxDegree)
      .localCheckpoint()
    val co = coCounts(kept)
    val deg = kept.groupBy(col("r")).agg(count(lit(1)).as("n"))
    val sym = co.select(col("r_a").as("item"), col("r_b").as("nbr"),
        col("n_co"))
      .unionByName(co.select(col("r_b").as("item"), col("r_a").as("nbr"),
        col("n_co")))
    val scored = sym
      .join(deg.select(col("r").as("item"), col("n").as("n_item")),
        Seq("item"))
      .join(deg.select(col("r").as("nbr"), col("n").as("n_nbr")),
        Seq("nbr"))
      .withColumn("cos2_ppm", expr(
        """CAST(CAST(n_co AS DECIMAL(38,0)) * n_co * 1000000
           div (CAST(n_item AS DECIMAL(38,0)) * n_nbr) AS BIGINT)"""))
    val w = Window.partitionBy(col("item"))
      .orderBy(col("cos2_ppm").desc, col("n_co").desc, col("nbr"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("item"), col("nbr"), col("n_co"), col("n_item"),
        col("n_nbr"), col("cos2_ppm"), col("rk"))
  }
}
