package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Fixpoint, QueryPack, Tables}

/** Path / traversal operators over the co-purchase graph — bounded-hop
  * BFS, bounded-round Bellman-Ford SSSP, and the Borůvka minimum
  * spanning forest. Extracted from GraphQueries (r11 monolith split);
  * the edge builders (windowedEdges / weightedEdges) and the shared
  * windowedEdgesCte oracle prefix stay there so the two packs cannot
  * drift apart on the input relation.
  *
  * All three are the bounded-iteration linear-plan family: each round is
  * ONE equi-join + min-aggregation consuming the previous state exactly
  * once, with iteration state checkpoint-truncated (mstOf) — the shape
  * that survives a 100x scale-up because per-round input never grows
  * with round count.
  */
object GraphPathQueries extends QueryPack {

  import GraphQueries.{weightedEdges, windowedEdges, windowedEdgesCte}

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Bounded-hop BFS ([[bfsOf]]) from the minimum-id node of the
    // windowed co-purchase graph: exact hop distances for every node
    // within [[BfsRounds]] hops — the reachability/radius primitive next
    // to components (which says WHETHER nodes connect, not how close).
    "q_graph_bfs" -> ((s, d) => bfsOf(windowedEdges(s, d))),

    // Bounded-round Bellman–Ford SSSP ([[ssspOf]]): BFS's weighted
    // sibling. Edge weights are exact-integer price DISSIMILARITY
    // (1 + |retail-price gap in whole units| between the two parts), so
    // the minimum-cost path prefers chains of similarly-priced
    // co-purchased parts — hop count and path cost now disagree, which
    // is the point of SSSP over BFS. Same linear-plan relaxation
    // machinery; distances beyond [[SsspRounds]] edges are (honestly)
    // absent, the documented bounded-iteration contract every fixpoint
    // operator here ships with.
    "q_graph_sssp" -> ((s, d) => ssspOf(weightedEdges(s, d))),

    // Minimum spanning forest of the weighted windowed co-purchase
    // graph ([[mstOf]]) — the dissimilarity-minimal backbone / single-
    // linkage primitive, unique under the (w, src, dst) total order so
    // it hash-checks cross-engine.
    "q_graph_mst" -> ((s, d) => mstOf(weightedEdges(s, d))),

    // Bounded-hop HARMONIC closeness centrality ([[harmonicOf]]) for a
    // deterministic ~2.4% seed set: H(s) = Σ_{v reached, v≠s} 1/d(s,v)
    // within [[ClosenessRounds]] hops — the "which nodes sit central"
    // readout, harmonic rather than classic closeness so disconnected
    // remainders contribute 0 instead of poisoning the mean. This is
    // multi-source BFS: [[Kernels.minPlus]] keyed by seed; state is bounded
    // by |seeds| × reach, and the seed modulus is the batch dial at 100 TB
    // (run seed cohorts back to back, union the outputs). Per-node
    // contributions 1/d are round(,9)-pinned and folded in exact DECIMAL.
    "q_graph_closeness" -> ((s, d) => harmonicOf(windowedEdges(s, d))),

    // Seed-sampled Brandes betweenness ([[betweennessOf]]): accumulated
    // shortest-path dependency δ from the deterministic seed set within
    // [[BetweennessRounds]] hops — WHICH nodes the graph's traffic flows
    // THROUGH (closeness says who is near everything; betweenness says
    // who brokers it — the bottleneck/bridge detector). Forward pass:
    // layered multi-source BFS carrying exact integer path counts σ
    // (one join + one anti-join + one agg per layer). Backward pass:
    // Brandes' δ(v) = Σ_succ σv/σw·(1+δw), one join + agg per layer with
    // contributions round(,9)-pinned into DECIMAL so partition order
    // cannot move a dependency. Seed sampling is the standard
    // approximation (Brandes-Pich): the seed modulus is the accuracy/
    // cost dial, and at 100 TB seed cohorts run as separate batches.
    "q_graph_betweenness" -> ((s, d) => betweennessOf(windowedEdges(s, d))),

    // Katz centrality — the UNNORMALIZED influence propagation
    // (pagerank divides mass by outdegree; Katz lets a high-degree hub
    // amplify): x ← 1 + α·Aᵀx truncated at [[KatzIters]] terms, in the
    // same integer fixed-point grains as pagerankOf so the result is
    // bit-reproducible under any partitioning. Each round is one
    // message round (one shuffle, no join); α = 5% keeps
    // the truncated series (and the int64 headroom) comfortably bounded
    // at any degree the co-purchase graph produces.
    "q_graph_katz" -> ((s, d) => katzOf(windowedEdges(s, d)))
  )

  /** Katz damping α as a percentage (x·α = (x·[[KatzAlphaPct]]) div 100). */
  val KatzAlphaPct = 5L

  /** Fixed-point grain for Katz scores. */
  val KatzScale = 1000000000L

  /** Truncation depth of the Katz series (a dial the oracle unrolls). */
  val KatzIters = 5

  /** The truncated-Katz fixpoint over a (src, dst) edge relation,
    * symmetric as a multiset. Exact integer arithmetic end to end: each
    * round is one [[Kernels.round]] in which every node sends its score
    * to its neighbours and sets x = Scale + (α · Σ received) div 100.
    * Symmetry is what makes the round exact (see [[Kernels.round]]); a
    * node with no in-edge drops out, so a debug-mode
    * [[EdgeChecks.requireSymmetric]] makes a non-symmetric caller fail
    * loudly (EdgeSymmetrySpec runs the registered callers under it).
    */
  def katzOf(edgesDf: DataFrame): DataFrame = {
    EdgeChecks.requireSymmetric(edgesDf, "katzOf")
    var x = Kernels.adjacency(Kernels.unitWeights(edgesDf))
      .withColumn("v", lit(KatzScale))
    for (_ <- 1 to KatzIters)
      x = Kernels.round(x, expr(s"${KatzScale}L + ($KatzAlphaPct * sum(v)) div 100"))
    x.select(col("n").as("node"), col("v").as("katz_fixed"))
  }

  /** BFS relaxation rounds — nodes beyond this hop count are (honestly)
    * absent from the output; a dial, so the oracle can unroll it.
    */
  val BfsRounds = 6

  /** Bounded-hop BFS over any symmetric (src, dst) edge relation, from
    * the minimum node id: unit-weight [[Kernels.minPlus]] relaxations.
    * Public for planted-graph specs.
    */
  def bfsOf(edgesDf: DataFrame): DataFrame =
    Kernels.minPlus(Kernels.unitWeights(edgesDf), BfsRounds, "hops")(fromMinNode("hops"))

  /** Single-source [[Kernels.minPlus]] start: the minimum node id at
    * distance 0 (TakeOrdered; an aggregate here costs one more job).
    */
  private def fromMinNode(dist: String)(ew: DataFrame): DataFrame =
    ew.select(col("src").as("node")).orderBy(col("node").asc).limit(1)
      .select(col("node"), lit(0L).as(dist))

  /** Bellman–Ford relaxation rounds for [[ssspOf]] — same dial contract
    * as [[BfsRounds]].
    */
  val SsspRounds = 6

  /** Hop bound for [[harmonicOf]] — beyond this, 1/d contributions are
    * (honestly) dropped; the oracle unrolls the same rounds.
    */
  val ClosenessRounds = 4

  /** Seed modulus for [[harmonicOf]]: nodes with id % mod == 0. */
  val ClosenessSeedMod = 41

  /** Multi-source bounded-hop harmonic centrality over a symmetric
    * (src, dst) edge relation — see the q_graph_closeness registration.
    * Public for planted-graph specs (WaveElevenSpec replays a star + path
    * graph where the hub's harmonic sum is hand-computable).
    */
  def harmonicOf(edgesDf: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val d = Kernels.minPlus(Kernels.unitWeights(edgesDf), ClosenessRounds,
        "hops", Seq("seed")) { ew =>
      ew.select(col("src").as("node")).distinct()
        .filter(col("node") % ClosenessSeedMod === 0)
        .select(col("node").as("seed"), col("node"), lit(0L).as("hops"))
    }
    d.filter(col("hops") > 0)
      .groupBy(col("seed"))
      .agg(count(lit(1)).as("n_reached"),
        sum(round(lit(1.0) / col("hops").cast("double"), 9)
          .cast(DecimalType(18, 9))).as("h"))
      .select(col("seed"), col("n_reached"),
        round(col("h").cast("double"), 6).as("harmonic"))
  }

  /** Hard cap on Borůvka rounds for [[mstOf]] — component count at least
    * halves per round, so log2(n) bounds it; the loop exits as soon as no
    * cross-component edge remains (typical: far fewer rounds), and the
    * cap THROWS rather than ship a partial forest ([[graft.Fixpoint]]).
    * The oracle unrolls this many rounds — extra rounds are no-ops once
    * the forest spans, so early exit and the full unroll agree.
    */
  val MstRounds = 16

  /** Borůvka minimum spanning forest over a weighted symmetric (src,
    * dst, w) relation — the classic "cheapest backbone" (dissimilarity-
    * minimal bundle skeleton here; at 100 TB the single-linkage
    * clustering primitive). Weights are made UNIQUE by the (w, src, dst)
    * total order, so the forest is unique and both engines must agree
    * edge-for-edge — the property that makes an MST hash-checkable at
    * all.
    *
    * Each round is pure relational Borůvka: label endpoints (two
    * equi-joins), keep cross-component edges, per-component minimum edge
    * as ONE min(struct) aggregation over the two-sided (comp, edge)
    * relation (no window over the edge list), distinct the picks (both
    * endpoints' components may pick the same edge), and relabel
    * INCREMENTALLY: pointer jumping contracts the successor graph of
    * THIS round's picks (one edge per live component, so its input at
    * least halves per round), and one equi-join maps the carried node
    * labels through the contraction — never re-walking the cumulative
    * forest. Unique minima make Borůvka cycle-free, so no cycle check
    * is needed.
    */
  def mstOf(edgesW: DataFrame,
      checkpointDir: Option[String] = None): DataFrame = {
    import graft.CacheScope.persisted
    // Iteration state rides EAGER checkpoints ([[graft.Fixpoint]]): two
    // cache-chained variants of this loop (quotient contraction; cached
    // edge cleanup) each measured ~6x SLOWER than re-joining the full
    // graph every round, because chained lazy caches
    // recompute under the fixpoint's repeated references — see PLANS.md.
    // With the surviving-cross-edge set checkpoint-TRUNCATED per round,
    // the classic Borůvka cleanup finally pays: the candidate relation
    // shrinks geometrically (1.2M -> cross-component remnant) and later
    // rounds join the remnant, not the graph (16.6s -> measured below).
    val pin = new Fixpoint.Pinner(edgesW.sparkSession.sparkContext, checkpointDir)
    val und0 = persisted(edgesW.filter(col("src") < col("dst"))
      .select(col("src"), col("dst"), col("w")))
    val nodes = persisted(und0.select(col("src").as("node"))
      .unionByName(und0.select(col("dst").as("node"))).distinct())
    // Strategy gate, priced once: below DedupClusters' label-broadcast
    // bound (1M ≈ 64 MB hashed) the per-round label joins BROADCAST and
    // the successor contraction runs as ONE single-partition union-find
    // task (comp count ≤ nNodes and halves per round, so memory only
    // shrinks); above it, shuffle joins + distributed pointer jumping —
    // the shapes a 1000-executor graph actually needs. Same two-regime
    // discipline as DedupClusters.
    val nNodes = nodes.count()
    val small = nNodes <= graft.dedup.DedupClusters.MaxBroadcastLabels
    def lblSide(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    // Checkpoints PROPAGATE the origin plan's size estimate, and the label
    // relation feeds back through two joins every round, so sizeInBytes (a
    // BigInt: joins estimate size as the PRODUCT of their inputs) would
    // compound double-exponentially — by round ~10 the planner multiplies
    // million-digit BigInts and hangs in stats estimation (measured: the
    // r12 bench sat 20+ min in SizeInBytesOnlyStatsPlanVisitor). An RDD
    // hop over the just-pinned blocks resets the estimate; it is LAZY (no
    // extra job) and only ever wraps comp/node-sized state, so the
    // row-conversion cost is noise. AQE re-derives real sizes at runtime
    // for join planning. In the small regime the state coalesces to one
    // partition first, so each pin is a single task instead of 32
    // near-empty ones (the DedupClusters nState discipline).
    def rebase(df: DataFrame): DataFrame = {
      val ck = pin(if (small) df.coalesce(1) else df)
      ck.sparkSession.createDataFrame(ck.rdd, ck.schema)
    }
    var und = und0
    var lbl = nodes.select(col("node"), col("node").as("comp"))
    var chosen: DataFrame = und0.filter(lit(false))
    Fixpoint.until("mstOf Borůvka", MstRounds) { round =>
      val first = round == 1
      // Round 1 shortcut (r16): the initial labels are the IDENTITY
      // (comp == node) and src < dst everywhere, so the two label joins
      // keep every edge and the checkpoint of the full edge relation
      // decides nothing — the round-1 candidate set is the persisted edge
      // cache itself with (ca, cb) = (src, dst). Skips the costliest
      // stage of the whole fixpoint (cross join + full-edge checkpoint,
      // measured 1.29 s of the ~3.0 s sf0.1 floor); round 2 reads und0's
      // cache exactly as it read the round-1 checkpoint before (the
      // round-1 cleanup removed nothing — no edge is intra-component yet).
      val cross =
        if (first) und0.select(col("src"), col("dst"), col("w"),
          col("src").as("ca"), col("dst").as("cb"))
        else pin(und
          .join(lblSide(lbl.select(col("node").as("src"), col("comp").as("ca"))),
            "src")
          .join(lblSide(lbl.select(col("node").as("dst"), col("comp").as("cb"))),
            "dst")
          .filter(col("ca") =!= col("cb")))
      // Borůvka edge cleanup: an intra-component edge can never be
      // picked later, so the surviving cross-component edges ARE the
      // next round's candidate set (checkpoint-truncated above; in
      // round 1 the cleanup is the identity, so und stays und0's cache).
      if (!first) und = cross.select(col("src"), col("dst"), col("w"))
      // Carry (ca, cb) through the min as trailing struct fields:
      // (w, src, dst) is already a UNIQUE total order, so the extra
      // fields never influence which edge wins, and the winning row
      // arrives with the component pair the relabel below needs.
      val e = struct(col("w"), col("src"), col("dst"),
        col("ca"), col("cb"))
      val pickedM = rebase(
        cross.select(col("ca").as("comp"), e.as("e"))
        .unionByName(cross.select(col("cb").as("comp"), e.as("e")))
        .groupBy(col("comp")).agg(min(col("e")).as("m"))
        .select(col("comp"), col("m.src").as("src"),
          col("m.dst").as("dst"), col("m.w").as("w"),
          col("m.ca").as("ca"), col("m.cb").as("cb")))
      // Every cross edge lands in some component's group, so pickedM is
      // empty iff cross is — the done probe rides the tiny pinned comp
      // relation instead of a separate job over the edge relation (r16).
      if (pickedM.isEmpty) true
      else {
        // No pin: every union arm is an already-pinned pickedM projection,
        // so the lazy union can never recompute expensive lineage, and
        // skipping the per-round materialization saves one job per round.
        chosen = chosen.unionByName(
          pickedM.select(col("src"), col("dst"), col("w")).distinct())
        // INCREMENTAL relabel (r11 verdict): contract only the SUCCESSOR
        // graph of this round's picks — exactly one edge per live
        // component, so the fixpoint input at least halves per round —
        // instead of re-running the full union-find over the CUMULATIVE
        // forest (which re-walked ~n nodes every round). With unique
        // weights the successor graph is the textbook Borůvka
        // pseudo-forest: trees hanging off one mutual-min 2-cycle per
        // merged group, so conditional pointer jumping
        //   p(c) <- if p(p(c)) == c then min(c, p(c)) else p(p(c))
        // converges in O(log chain) tiny self-joins to one root per
        // group (the 2-cycle's smaller id). Component IDENTITY is all
        // later rounds consume (ca != cb filter, per-comp grouping; the
        // unique (w,src,dst) order ignores the label values), and
        // distinct merged groups have disjoint members hence distinct
        // roots — so the chosen-edge relation, the only output, is
        // bit-identical to the from-scratch variant.
        val p: DataFrame = if (small) {
          // One single-partition task: union-find with path compression
          // and union-by-min (always hang the LARGER root under the
          // smaller), so the emitted root IS the min member — gated by
          // `small`, and the comp-pair count halves per round, so the
          // task's footprint only shrinks. Replaces ~8 pointer-jump jobs
          // per round with one narrow pass (measured 1.2 s/round saved).
          val ss = pickedM.sparkSession
          val lab = pickedM
            .select(col("ca").cast("long"), col("cb").cast("long"))
            .coalesce(1).rdd.mapPartitions { it =>
              val parent = new java.util.HashMap[java.lang.Long, java.lang.Long]()
              def find(x: Long): Long = {
                var r = x
                while ({ val pr = parent.get(r); pr != null && pr != r }) r = parent.get(r)
                var c = x
                while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
                r
              }
              val members = new java.util.HashSet[java.lang.Long]()
              it.foreach { row =>
                val a = row.getLong(0); val b = row.getLong(1)
                members.add(a); members.add(b)
                val ra = find(a); val rb = find(b)
                if (ra < rb) parent.put(rb, ra)
                else if (rb < ra) parent.put(ra, rb)
              }
              import scala.jdk.CollectionConverters._
              members.iterator().asScala.map(m => (m.longValue, find(m)))
            }
          ss.createDataFrame(lab).toDF("c", "p")
        } else {
          var pj = pickedM.select(col("comp").as("c"),
            when(col("ca") === col("comp"), col("cb")).otherwise(col("ca"))
              .as("p"))
          // 40 jumps: 2^40 exceeds any component count.
          Fixpoint.until("mstOf pointer jump", 40) { _ =>
            val nextP = when(col("b.p") === col("a.c"),
              least(col("a.c"), col("a.p"))).otherwise(col("b.p"))
            val j = rebase(
              pj.as("a").join(pj.as("b"), col("a.p") === col("b.c"))
              .select(col("a.c").as("c"), nextP.as("p"),
                (nextP =!= col("a.p")).as("chg")))
            pj = j.select(col("c"), col("p"))
            j.filter(col("chg")).isEmpty
          }
          pj
        }
        // One equi-join maps the carried node labels through the
        // contraction; comps finished in earlier rounds (absent from the
        // successor graph) keep their labels — they produce no cross
        // edges ever again, so staleness is unobservable.
        lbl = rebase(
          lbl.join(lblSide(p), col("comp") === col("c"), "left")
          .select(col("node"), coalesce(col("p"), col("comp")).as("comp")))
        false
      }
    }
    chosen
  }

  /** Bounded-round Bellman–Ford over a weighted (src, dst, w) edge
    * relation, from the minimum node id — [[bfsOf]] generalized to real
    * weights, the same [[Kernels.minPlus]] relaxation. Distances are
    * exact int64 sums — bounded by rounds × max weight, overflow-loud
    * under ANSI. Public for planted-graph specs.
    */
  def ssspOf(edgesW: DataFrame): DataFrame =
    Kernels.minPlus(edgesW, SsspRounds, "dist")(fromMinNode("dist"))

  /** Hop bound for [[betweennessOf]]'s forward/backward passes. */
  val BetweennessRounds = 4

  /** Seed modulus for [[betweennessOf]] — same sampling discipline as
    * [[ClosenessSeedMod]]. The seed count is the linear accuracy/cost
    * dial, but it was NOT the r11 hotspot: thinning seeds 5x moved the
    * sf0.1 median 49.7s -> 46.3s, while checkpoint-truncating the layer
    * state moved it to 2.7s (see PLANS.md).
    */
  val BetweennessSeedMod = 41

  /** Seed-sampled bounded-hop Brandes betweenness over a symmetric
    * (src, dst) edge relation — see the q_graph_betweenness
    * registration. Public for planted-graph specs (the path graph's
    * middle node must dominate).
    */
  def betweennessOf(edgesDf: DataFrame,
      checkpointDir: Option[String] = None): DataFrame = {
    import graft.CacheScope.persisted
    import org.apache.spark.sql.types.DecimalType
    // Iteration state rides EAGER checkpoints ([[graft.Fixpoint]]): with
    // plain persisted() chains the backward pass's re-references
    // recomputed the forward layers every round (measured 46s at sf0.1;
    // checkpoint-truncated: see PLANS.md r11).
    val pin = new Fixpoint.Pinner(edgesDf.sparkSession.sparkContext, checkpointDir)
    val e = persisted(edgesDf.select(col("src"), col("dst")))
    val seeds = e.select(col("src")).distinct()
      .filter(col("src") % BetweennessSeedMod === 0)
    var layers = List(pin(seeds.select(col("src").as("seed"),
      col("src").as("node"), lit(1L).as("sig"))))
    var visited = layers.head.select(col("seed"), col("node"))
    for (_ <- 1 to BetweennessRounds) {
      val next = pin(
        e.join(layers.head, col("src") === col("node"))
          .select(col("seed"), col("dst"), col("sig"))
          .join(visited.select(col("seed").as("vs"), col("node").as("vn")),
            col("seed") === col("vs") && col("dst") === col("vn"), "left_anti")
          .groupBy(col("seed"), col("dst"))
          .agg(sum(col("sig")).as("sig"))
          .select(col("seed"), col("dst").as("node"), col("sig")))
      layers = next :: layers
      visited = pin(visited.unionByName(
        next.select(col("seed"), col("node"))))
    }
    val dec = DecimalType(18, 9)
    // Backward accumulation: layers is (L_R, ..., L_1, L_0); start with
    // δ = 0 on the deepest layer, walk shallower, collect d_R .. d_1
    // (d_0 is the seed itself — excluded by Brandes' definition).
    var dAbove = layers.head.withColumn("del", lit(0.0))
    val acc = scala.collection.mutable.ListBuffer.empty[DataFrame]
    for (lr <- layers.tail) {
      val b = e.join(lr, col("src") === col("node"))
        .select(col("seed"), col("node"), col("sig"), col("dst"))
        .join(dAbove.select(col("seed").as("ws"), col("node").as("wn"),
          col("sig").as("wsig"), col("del").as("wdel")),
          col("seed") === col("ws") && col("dst") === col("wn"))
        .groupBy(col("seed"), col("node"))
        .agg(sum(round(col("sig").cast("double") / col("wsig").cast("double") *
          (lit(1.0) + col("wdel")), 9).cast(dec)).as("dsum"))
        .select(col("seed"), col("node"), col("dsum").cast("double").as("del"))
      acc += dAbove.select(col("node"), col("del"))
      dAbove = pin(lr.join(b, Seq("seed", "node"), "left")
        .select(col("seed"), col("node"), col("sig"),
          coalesce(col("del"), lit(0.0)).as("del")))
    }
    acc.reduce(_ unionByName _)
      .groupBy(col("node"))
      .agg(sum(round(col("del"), 6).cast(dec)).as("bsum"))
      .select(col("node"), round(col("bsum").cast("double"), 6).as("dependency"))
  }

  /** One unrolled Borůvka round i for the MST oracle: label endpoints
    * with l{i-1}, pick each component's (w, src, dst)-minimum cross
    * edge, accumulate the forest (c$i), and relabel via a recursive
    * reachability CTE over the CUMULATIVE forest — the window rn=1 form
    * of Spark's min(struct). Rounds past completion pick nothing and
    * relabel identically, so the fixed unroll equals the early-exit
    * loop.
    */
  private def mstRoundCte(i: Int): String =
    s"""x$i AS MATERIALIZED (
       |  SELECT u.src, u.dst, u.w, a.comp AS ca, b.comp AS cb
       |  FROM und u
       |  JOIN l${i - 1} a ON a.node = u.src
       |  JOIN l${i - 1} b ON b.node = u.dst
       |  WHERE a.comp <> b.comp
       |), p$i AS MATERIALIZED (
       |  SELECT DISTINCT src, dst, w FROM (
       |    SELECT src, dst, w,
       |           row_number() OVER (PARTITION BY comp
       |                              ORDER BY w ASC, src ASC, dst ASC) AS rn
       |    FROM (SELECT ca AS comp, src, dst, w FROM x$i
       |          UNION ALL
       |          SELECT cb AS comp, src, dst, w FROM x$i)
       |  ) WHERE rn = 1
       |), c$i AS MATERIALIZED (
       |  SELECT src, dst, w FROM c${i - 1} UNION ALL SELECT src, dst, w FROM p$i
       |), s$i AS (
       |  SELECT src, dst FROM c$i UNION ALL SELECT dst AS src, src AS dst FROM c$i
       |), r$i(node, r) AS (
       |  SELECT src, src FROM s$i
       |  UNION
       |  SELECT e.src, r$i.r FROM s$i e JOIN r$i ON r$i.node = e.dst
       |), l$i AS MATERIALIZED (
       |  SELECT n.node, COALESCE(m.c, n.node) AS comp
       |  FROM mnodes n
       |  LEFT JOIN (SELECT node, min(r) AS c FROM r$i GROUP BY node) m
       |    ON m.node = n.node
       |)""".stripMargin

  /** The full MST oracle: [[MstRounds]] unrolled Borůvka rounds over the
    * weighted windowed graph.
    */
  private lazy val mstOracle: String = {
    val weightedUndCte =
      s"""$windowedEdgesCte, price AS (
         |  SELECT p_partkey, CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS pc
         |  FROM part
         |), und AS MATERIALIZED (
         |  SELECT e.src, e.dst, 1 + abs(ps.pc - pd.pc) // 100 AS w
         |  FROM edges e
         |  JOIN price ps ON ps.p_partkey = e.src
         |  JOIN price pd ON pd.p_partkey = e.dst
         |  WHERE e.src < e.dst
         |), mnodes AS MATERIALIZED (
         |  SELECT DISTINCT node FROM (
         |    SELECT src AS node FROM und UNION ALL SELECT dst FROM und)
         |), c0 AS (
         |  SELECT src, dst, w FROM und WHERE 1 = 0
         |), l0 AS (
         |  SELECT node, node AS comp FROM mnodes
         |)""".stripMargin
    // the shared windowedEdgesCte opens with WITH (non-recursive); the
    // per-round reach CTEs need RECURSIVE on the WITH keyword.
    val prefix = weightedUndCte.replaceFirst("WITH li", "WITH RECURSIVE li")
    s"""$prefix,
       |${(1 to MstRounds).map(mstRoundCte).mkString(",\n")}
       |SELECT src, dst, CAST(w AS BIGINT) AS w FROM c$MstRounds""".stripMargin
  }

  /** One unrolled BFS relaxation round (reads d{i-1}, defines d{i}). */
  private def bfsCte(i: Int): String =
    s"""d$i AS (
       |  SELECT ew.dst AS node, min(d.hops + ew.w) AS hops
       |  FROM ew JOIN d${i - 1} d ON d.node = ew.src
       |  GROUP BY ew.dst
       |)""".stripMargin

  private def ssspCte(i: Int): String =
    s"""d$i AS (
       |  SELECT ew.dst AS node, min(d.dist + ew.w) AS dist
       |  FROM ew JOIN d${i - 1} d ON d.node = ew.src
       |  GROUP BY ew.dst
       |)""".stripMargin

  private def closenessCte(i: Int): String =
    s"""h$i AS (
       |  SELECT d.seed, ew.dst AS node, min(d.hops + ew.w) AS hops
       |  FROM ew JOIN h${i - 1} d ON d.node = ew.src
       |  GROUP BY 1, 2
       |)""".stripMargin

  /** One forward Brandes layer i: new frontier with summed path counts,
    * frontier membership gated on the cumulative visited relation.
    */
  private def brandesFwdCte(i: Int): String =
    s"""l$i AS MATERIALIZED (
       |  SELECT d.seed, e.dst AS node, CAST(sum(d.sig) AS BIGINT) AS sig
       |  FROM l${i - 1} d JOIN edges e ON e.src = d.node
       |  WHERE NOT EXISTS (SELECT 1 FROM v${i - 1} x
       |                    WHERE x.seed = d.seed AND x.node = e.dst)
       |  GROUP BY 1, 2
       |), v$i AS MATERIALIZED (
       |  SELECT seed, node FROM v${i - 1}
       |  UNION ALL SELECT seed, node FROM l$i
       |)""".stripMargin

  /** One backward Brandes layer i (reads d{i+1}, defines b{i}/d{i}). */
  private def brandesBwdCte(i: Int): String =
    s"""b$i AS (
       |  SELECT l.seed, l.node,
       |         CAST(sum(CAST(round(CAST(l.sig AS DOUBLE) / CAST(w.sig AS DOUBLE) *
       |                              (1.0 + w.del), 9) AS DECIMAL(18,9)))
       |              AS DOUBLE) AS del
       |  FROM l$i l
       |  JOIN edges e ON e.src = l.node
       |  JOIN d${i + 1} w ON w.seed = l.seed AND w.node = e.dst
       |  GROUP BY 1, 2
       |), d$i AS MATERIALIZED (
       |  SELECT l.seed, l.node, l.sig, COALESCE(b.del, 0.0) AS del
       |  FROM l$i l LEFT JOIN b$i b ON b.seed = l.seed AND b.node = l.node
       |)""".stripMargin

  private lazy val betweennessOracle: String = {
    val r = BetweennessRounds
    s"""$windowedEdgesCte,
       |nodes AS (SELECT DISTINCT src FROM edges),
       |l0 AS MATERIALIZED (
       |  SELECT src AS seed, src AS node, CAST(1 AS BIGINT) AS sig
       |  FROM nodes WHERE src % $BetweennessSeedMod = 0
       |), v0 AS (SELECT seed, node FROM l0),
       |${(1 to r).map(brandesFwdCte).mkString(",\n")},
       |d$r AS (SELECT seed, node, sig, CAST(0.0 AS DOUBLE) AS del FROM l$r),
       |${(r - 1 to 0 by -1).map(brandesBwdCte).mkString(",\n")}
       |SELECT node,
       |       round(CAST(sum(CAST(round(del, 6) AS DECIMAL(18,9))) AS DOUBLE), 6)
       |         AS dependency
       |FROM (${(1 to r).map(i => s"SELECT node, del FROM d$i")
                 .mkString(" UNION ALL ")})
       |GROUP BY node""".stripMargin
  }

  override val oracles: Map[String, String] = Map(

    "q_graph_mst" -> mstOracle,

    "q_graph_sssp" ->
      s"""$windowedEdgesCte, price AS (
         |  SELECT p_partkey, CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS pc
         |  FROM part
         |), ew AS (
         |  SELECT e.src, e.dst, 1 + abs(ps.pc - pd.pc) // 100 AS w
         |  FROM edges e
         |  JOIN price ps ON ps.p_partkey = e.src
         |  JOIN price pd ON pd.p_partkey = e.dst
         |  UNION ALL
         |  SELECT src, src AS dst, CAST(0 AS BIGINT) AS w
         |  FROM (SELECT DISTINCT src FROM edges)
         |), d0 AS (
         |  SELECT min(src) AS node, CAST(0 AS BIGINT) AS dist FROM edges
         |),
         |${(1 to SsspRounds).map(ssspCte).mkString(",\n")}
         |SELECT node, dist FROM d$SsspRounds""".stripMargin,

    "q_graph_bfs" ->
      s"""$windowedEdgesCte, ew AS (
         |  SELECT src, dst, CAST(1 AS BIGINT) AS w FROM edges
         |  UNION ALL
         |  SELECT src, src AS dst, CAST(0 AS BIGINT) AS w
         |  FROM (SELECT DISTINCT src FROM edges)
         |), d0 AS (
         |  SELECT min(src) AS node, CAST(0 AS BIGINT) AS hops FROM edges
         |),
         |${(1 to BfsRounds).map(bfsCte).mkString(",\n")}
         |SELECT node, hops FROM d$BfsRounds""".stripMargin,

    "q_graph_betweenness" -> betweennessOracle,

    "q_graph_closeness" ->
      s"""$windowedEdgesCte, ew AS (
         |  SELECT src, dst, CAST(1 AS BIGINT) AS w FROM edges
         |  UNION ALL
         |  SELECT src, src AS dst, CAST(0 AS BIGINT) AS w
         |  FROM (SELECT DISTINCT src FROM edges)
         |), h0 AS (
         |  SELECT src AS seed, src AS node, CAST(0 AS BIGINT) AS hops
         |  FROM (SELECT DISTINCT src FROM edges)
         |  WHERE src % $ClosenessSeedMod = 0
         |),
         |${(1 to ClosenessRounds).map(closenessCte).mkString(",\n")}
         |SELECT seed, count(*) AS n_reached,
         |       round(CAST(sum(CAST(round(1.0 / hops, 9) AS DECIMAL(18,9)))
         |                  AS DOUBLE), 6) AS harmonic
         |FROM h$ClosenessRounds
         |WHERE hops > 0
         |GROUP BY seed""".stripMargin,

    // End normalization: HUGEINT `//` mirrors Spark's decimal `div`
    // (all values positive, so floor == truncate).

    "q_graph_katz" ->
      s"""$windowedEdgesCte, nodes AS (
         |  SELECT DISTINCT src AS node FROM edges
         |), x0 AS (
         |  SELECT node, CAST($KatzScale AS BIGINT) AS x FROM nodes
         |),
         |${(1 to KatzIters).map(katzCte).mkString(",\n")}
         |SELECT node, CAST(x AS BIGINT) AS katz_fixed FROM x$KatzIters""".stripMargin
  )

  /** One unrolled Katz round i (reads x{i-1}, defines x{i}). */
  private def katzCte(i: Int): String =
    s"""c$i AS (
       |  SELECT e.dst, sum(x.x) AS contrib
       |  FROM edges e JOIN x${i - 1} x ON x.node = e.src
       |  GROUP BY 1
       |), x$i AS (
       |  SELECT n.node,
       |         CAST($KatzScale + ($KatzAlphaPct * COALESCE(c.contrib, 0)) // 100
       |              AS BIGINT) AS x
       |  FROM nodes n LEFT JOIN c$i c ON c.dst = n.node
       |)""".stripMargin
}
