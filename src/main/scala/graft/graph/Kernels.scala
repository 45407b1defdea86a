package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.CacheScope.persisted

/** The round shapes of the graph and TextRank operators, each written
  * once: the message round every fixed-round operator iterates, the
  * min-plus relaxation and the triangle apexes.
  */
private[graft] object Kernels {

  /** The adjacency state (n, adj) of a weighted (src, dst, w) relation:
    * each src with its out-edges as adj = array<struct<to, w>>.
    * Duplicate edges stay as repeated entries.
    */
  def adjacency(edgesW: DataFrame): DataFrame =
    edgesW.groupBy(col("src").as("n"))
      .agg(collect_list(struct(col("dst").as("to"), col("w"))).as("adj"))

  /** One message round over a node state (n, adj, v…): every adjacency
    * entry (to, w) sends its sender's row, with the entry's `w`, to `to`,
    * and ONE aggregation per receiver folds those messages into `agg`, an
    * aggregate over the sender's columns and `w`. Returns (n, adj, v =
    * agg), where the receiver's next adj is the list of its senders with
    * the same w.
    *
    * Shape: each round is one explode and one shuffle, with no join and
    * no pin, because the state carries its own adjacency; PageRank, PPR,
    * TextRank, HITS, Katz and LPA all iterate this one round, so a query
    * over any of them is one lazy plan whose builder runs no job. Nothing
    * is read twice inside the loop, so a pin would buy nothing and would
    * cost one eager job per round.
    *
    * Exactness: the senders that reach a node are exactly its in-edges,
    * with multiplicity. That equals its out-edges — so round i + 1 sends
    * along the same edges as round 1 — for a bipartite relation whose
    * rounds alternate sides (HITS), and for a relation that is symmetric
    * as a multiset of (src, dst, w) (the other five; see
    * [[EdgeChecks.requireSymmetric]]). A node with no in-edge has no
    * row after the first round.
    *
    * Hub-array bound: one state row holds a node's whole neighbour list,
    * so the largest degree must fit in one row (a task's memory, and
    * under 2^31 - 15 elements). The co-purchase graphs, a month of
    * purchases and a corpus's word graph are far below that; a power-law
    * graph at scale would need its hubs split first. Messages carry their
    * sender id and weight, a few bytes more per shuffled row than a join
    * form's.
    */
  def round(state: DataFrame, agg: Column): DataFrame =
    state.select(col("*"), inline(col("adj")))
      // `n` inside agg resolves to the exploded rows' n (the sender), not
      // to the grouping alias
      .groupBy(col("to").as("n"))
      .agg(collect_list(struct(col("n").as("to"), col("w"))).as("adj"), agg.as("v"))

  /** Integer fixed-point rank iteration over a weighted (src, dst, w)
    * relation, symmetric as a multiset: [[GraphQueries.Iters]] message
    * rounds of r'(v) = restart(v) + 85% · Σ_u w(u,v) · (r(u) div W(u)),
    * W(u) the node's total edge weight (its degree when every w = 1). The
    * sender computes r(u) div W(u) once and each entry scales it by its w.
    * Seed nodes (`seed`, a predicate over `src`) start with Scale and
    * receive the (1-d)·Scale restart; the rest start and restart at 0.
    * Returns (node, r) for every node.
    *
    * Determinism (the whole point of the formulation): ranks are
    * FIXED-POINT int64 micro-units ([[GraphQueries.Scale]] = 10^12 per
    * node of initial mass), every step is integer arithmetic — `div`
    * flooring, damping as `(85*x) div 100` — and integer sums are
    * order-independent, so the result is bit-identical in any engine, any
    * partitioning, any merge order. A float formulation could NEVER
    * hash-match across engines (summation order changes the last bits).
    * Overflow headroom: each term w·(r div W) <= r, so total mass is
    * bounded by N*Scale and `85 * contrib` needs N*Scale*85 < 2^63 — N up
    * to ~1.1e5 at this Scale (2^63 / (85*10^12)); at larger N, Scale is
    * the dial (the precision/width trade is explicit, not silent). The
    * worst case needs a near-total-mass hub, so typical graphs go far
    * beyond N=1.1e5, and the failure mode is loud either way: Spark 4 runs
    * ANSI mode by default, so int64 overflow THROWS instead of wrapping.
    *
    * FRONTIER PRUNE — tried and REJECTED for personalized PageRank
    * (VERDICT r13 #2, r14 A/B probe): filtering r > 0 per round so early
    * rounds join only the seeds' expanding basin is bit-identical
    * (zero-rank sources contribute exactly 0, absent contributions
    * coalesce to 0, the final filter dropped r = 0 rows anyway) but
    * measured 3x SLOWER (sf0.1, n=2 each, interleaved: pruned 8.02/7.62 s
    * vs unpruned 2.60/2.95 s) — the per-round Filter above the left join
    * degrades the rank side's join planning without buying coverage,
    * because the basin SATURATES after one round at this degree: 400
    * seeds (2%) reach 18,197 of 20,000 nodes in round 1 and all 20,000 by
    * round 2 (avg degree ~45). A frontier prune only pays on graphs whose
    * basin stays small for several rounds — long-diameter or low-degree
    * relations — and should gate on a measured expansion rate, not be
    * unconditional. Probe committed: bench/r14-ppr-probe.txt.
    */
  def rank(edgesW: DataFrame, seed: Column): DataFrame = {
    import GraphQueries.{DampPct, Iters, Scale}
    EdgeChecks.requireSymmetric(edgesW, "Kernels.rank")
    // `seed` reads `src`, so the node is named src while v is set
    def restart(state: DataFrame, base: Long, v: Column) =
      state.withColumnRenamed("n", "src")
        .select(col("src").as("n"), col("adj"),
          (when(seed, lit(base)).otherwise(lit(0L)) + v).as("v"))
    var r = restart(adjacency(edgesW), Scale, lit(0L))
    for (_ <- 1 to Iters) {
      val sent = r.select(col("n"), col("adj"),
        expr("v div aggregate(adj.w, 0L, (a, x) -> a + x)").as("v"))
      r = restart(round(sent, sum(col("w") * col("v"))),
        (100L - DampPct) * Scale / 100L, expr(s"($DampPct * v) div 100"))
    }
    r.select(col("n").as("node"), col("v").as("r"))
  }

  /** `rounds` bounded min-plus relaxations over a weighted (src, dst, w)
    * relation: d'(keys, v) = min over (u, v, w) of d(keys, u) + w. The
    * `start` relation (keys..., node, `dist`) is built from the pinned
    * self-looped edges (read its nodes from `src`); `keys` are extra
    * grouping columns, e.g. a seed id for multi-source search. Returns
    * (keys..., node, `dist`) for every node reached within `rounds` edges.
    * Pins the self-looped edges only.
    *
    * Each round is ONE equi-join + min-aggregation because the edge
    * relation carries ZERO-WEIGHT SELF-LOOPS:
    * the min folds "keep my own distance" (self-loop, w=0) and "relax via
    * a neighbor" (real edge) into a single consumption of the previous
    * round's relation. The naive min(d(v), relax) form reads d TWICE per
    * round — the 2^rounds analysis blowup the HITS rewrite measured
    * (PLANS.md); the self-loop fold keeps the plan linear with no
    * mid-query action. A single-source frontier starts at 1 row and only
    * ever holds REACHED nodes, so early rounds shuffle next to nothing.
    * Calling this twice on the same edges pins them once (CacheScope's
    * pin is idempotent on an already-cached plan).
    */
  def minPlus(edgesW: DataFrame, rounds: Int, dist: String,
      keys: Seq[String] = Nil)(start: DataFrame => DataFrame): DataFrame = {
    val ew = persisted(edgesW
      .unionByName(edgesW.select(col("src")).distinct()
        .select(col("src"), col("src").as("dst"), lit(0L).as("w"))))
    val k = keys.map(col)
    var d = start(ew)
    for (_ <- 1 to rounds) {
      d = ew.join(d, col("src") === col("node"))
        .groupBy(k :+ col("dst"): _*)
        .agg(min(col(dist) + col("w")).as(dist))
        .select(k ++ Seq(col("dst").as("node"), col(dist)): _*)
    }
    d
  }

  /** A (src, dst) relation as (src, dst, w = 1). */
  def unitWeights(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"), lit(1L).as("w"))

  /** Per-node degree (src, dg) of a symmetric (src, dst) relation. */
  def degrees(sym: DataFrame): DataFrame =
    sym.groupBy("src").agg(count(lit(1)).as("dg"))

  /** DEGREE-ORDERED orientation of a symmetric (src, dst) relation: each
    * undirected edge points from lower to higher (degree, id), which (a)
    * keeps every triangle exactly once, at its base edge, and (b) bounds
    * every oriented out-degree by O(sqrt(2m)) — the classic result that
    * makes triangle counting feasible on power-law graphs, where the
    * naive hub wedge count is quadratic in the hub degree (measured on a
    * planted divisor graph by graft.GraphSkewBench).
    */
  def orient(sym: DataFrame): DataFrame = {
    val deg = degrees(sym)
    sym
      .join(deg.select(col("src").as("s1"), col("dg").as("da")),
        col("src") === col("s1"))
      .join(deg.select(col("src").as("s2"), col("dg").as("db")),
        col("dst") === col("s2"))
      .filter(col("da") < col("db") ||
        (col("da") === col("db") && col("src") < col("dst")))
      .select(col("src"), col("dst"))
  }

  /** Triangles (src, dst, w) of an oriented (src, dst) relation, one row
    * per triangle: the apexes w of each oriented edge come from
    * array_intersect over the two endpoints' sorted out-neighbor arrays,
    * so the wedge relation (41M rows at sf0.1 vs 1.2M oriented edges) is
    * never materialized or shuffled — the same pair-local-intersect
    * discipline as dedup_prefix_jaccard's verify. The oriented edges are
    * read back out of the adjacency itself (exploding nbr(u) yields
    * exactly u's oriented edges), so each triangle round is one equi-join
    * on the apex side. Pins the adjacency only: truss calls this every
    * peel round, so each further pin would cost one job per round.
    */
  def apexes(oriented: DataFrame): DataFrame = {
    val adj = persisted(oriented.groupBy("src")
      .agg(array_sort(collect_list(col("dst"))).as("nbr")))
    adj.select(col("src"), col("nbr").as("nu"), explode(col("nbr")).as("dst"))
      .join(adj.select(col("src").as("v"), col("nbr").as("nv")),
        col("dst") === col("v"))
      .select(col("src"), col("dst"),
        explode(array_intersect(col("nu"), col("nv"))).as("w"))
  }

  /** Every triangle of a symmetric (src, dst) relation exactly once. */
  def triangles(sym: DataFrame): DataFrame = apexes(orient(sym))

  /** Triangles per canonical (a < b) undirected edge: each triangle is
    * exploded into its three (min, max) edges and counted per edge, as
    * (a, b, `name`).
    */
  def edgeTriangles(tri: DataFrame, name: String): DataFrame = {
    def edge(x: String, y: String) =
      struct(least(col(x), col(y)).as("a"), greatest(col(x), col(y)).as("b"))
    tri.select(explode(array(edge("src", "dst"), edge("src", "w"),
        edge("dst", "w"))).as("t"))
      .groupBy(col("t.a").as("a"), col("t.b").as("b"))
      .agg(count(lit(1)).as(name))
  }
}
