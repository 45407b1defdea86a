package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{QueryPack, Tables}

/** Iterative graph analytics over a derived co-occurrence graph — the
  * power-iteration sibling of the dedup family's connected components
  * ([[graft.dedup.DedupClusters]]): PageRank with a fixed iteration count
  * and its personalized variant (the structural profile readouts live in
  * [[GraphProfileQueries]]).
  *
  * Graph: parts co-purchased within an order (distinct (orderkey, partkey)
  * pairs self-joined per order). TPC-H orders hold <= 7 lineitems, so the
  * per-order pair fan-out is bounded (<= 42) — the edge relation stays a
  * small constant multiple of lineitem at any scale. The graph is
  * symmetric by construction, so every node has outdegree >= 1 and the
  * classic dangling-mass correction drops out.
  *
  * Determinism (the whole point of the formulation): ranks are FIXED-POINT
  * int64 micro-units (Scale = 10^12 per node of initial mass), every step
  * is integer arithmetic — `r div outdeg` flooring, damping as
  * `(85*x) div 100` — and integer sums are order-independent, so the
  * result is bit-identical in any engine, any partitioning, any merge
  * order. A float formulation could NEVER hash-match across engines
  * (summation order changes the last bits). Overflow headroom: total mass
  * is N*Scale and a single node's contribution sum is bounded by it, so
  * `85 * contrib` needs N*Scale*85 < 2^63 — N up to ~1.1e5 at this Scale
  * (2^63 / (85*10^12)); at larger N, Scale is the dial (the
  * precision/width trade is explicit, not silent). The worst case needs a
  * near-total-mass hub, so typical graphs go far beyond N=1.1e5, and the
  * failure mode is loud either way: Spark 4 runs ANSI mode by default, so
  * int64 overflow THROWS instead of wrapping — the engines cannot
  * silently diverge, the job fails asking for a smaller Scale.
  *
  * Scale design: each iteration is one join edges->ranks (equi on src,
  * both sides partitioned by the join key) + one dst aggregation — the
  * same shuffle shape GraphX/Pregel lowers to. Five iterations build one
  * linear lineage (each intermediate rank relation feeds exactly the next
  * iteration, so nothing recomputes); the edge+degree relation feeds all
  * five and is pinned once. At a 100 TB edge relation you would
  * checkpoint ranks every few iterations exactly as DedupClusters does —
  * same fixpoint skeleton, different semiring.
  */
object GraphQueries extends QueryPack {

  /** Fixed-point scale: 10^12 units of rank mass per node initially. */
  val Scale = 1000000000000L
  /** Damping factor as an exact percent (0.85). */
  val DampPct = 85L
  /** Fixed power-iteration count — a dial, not a convergence loop, so the
    * oracle can unroll it.
    */
  val Iters = 5

  /** Seed-set modulus for personalized PageRank (pk % mod == 0). */
  val PprSeedMod = 50L

  /** Distinct directed co-purchase edges (src, dst), symmetric. One
    * groupBy(order) + bounded array pair-expansion + one distinct — two
    * exchanges total. (A distinct-then-self-join formulation needs two
    * more: the (ok, pk) distinct partitions by the pair, which doesn't
    * satisfy the ok-keyed join — measured 5.1 -> 3.2s cold at sf0.1.)
    * collect_set bounds state at <= 7 part keys per order, and the
    * per-row explode fan-out at k(k-1) <= 42.
    */
  private def edgesRaw(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "lineitem")
      .groupBy(col("l_orderkey")).agg(collect_set(col("l_partkey")).as("pks"))
      .select(explode(col("pks")).as("src"), col("pks"))
      .select(col("src"), explode(array_remove(col("pks"), col("src"))).as("dst"))
      .distinct()

  /** The co-purchase edge relation as a MATERIALIZED shared intermediate
    * (LabelsMemo temp-parquet): six registered queries consume it, and at
    * 100 TB it is a managed table the graph jobs read, not a lineage each
    * of them replays from lineitem. The honest-producer discipline from
    * the dedup labels memo applies — [[pagerank]] (the flagship consumer)
    * builds from [[edgesRaw]] directly, so its benched number keeps the
    * full build cost; the others read the materialized copy.
    */
  private[graph] def edges(s: SparkSession, d: String): DataFrame =
    graft.LabelsMemo.getOrCompute(s"copurchase-edges:$d", s)(edgesRaw(s, d))

  /** 5-iteration fixed-point PageRank over the co-purchase graph (the
    * edges PRODUCER — reads the raw lineage, never the memo).
    */
  def pagerank(s: SparkSession, d: String): DataFrame =
    pagerankOf(edgesRaw(s, d))

  /** The fixpoint itself, over any (src, dst) edge relation in which every
    * node appears as a src (symmetric graphs satisfy this for free).
    * GraphSpec drives it over planted graphs: mass conservation up to
    * integer-truncation loss, structural symmetry, and bit-identical
    * results under repartitioning.
    */
  def pagerankOf(edgesDf: DataFrame): DataFrame = {
    // The edge relation runs ONCE: it feeds the degree count and (with
    // outdeg attached) every iteration's rank join — both pinned; these
    // are the relations a cluster run would checkpoint. The per-round
    // "left join nodes + coalesce" re-attach is deliberate plan shaping,
    // not redundancy: `nodes` projects the PINNED, size-known deg
    // relation, so every round's rank side carries a node-count estimate
    // and Catalyst broadcasts it under the edge join while it fits (an
    // r13 A/B probe of the fold-into-one-agg variant measured 5.5 s vs
    // 2.0 s steady-state — the agg-chained rank side loses the size
    // estimate and every round degrades to a 1.2M-row shuffle join; at
    // cluster scale both shapes degrade gracefully to the same
    // node-keyed shuffle join once ranks outgrow the threshold).
    val e = graft.CacheScope.persistedOnce(edgesDf)
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
      .transform(graft.CacheScope.persisted(_))
    val ed = e.join(deg, "src")
      .select(col("src"), col("dst"), col("outdeg"))
      .transform(graft.CacheScope.persisted(_))
    val nodes = deg.select(col("src").as("node"))
    var r = nodes.select(col("node"), lit(Scale).as("r"))
    for (_ <- 1 to Iters) {
      val contrib = ed.join(r, col("src") === col("node"))
        .select(col("dst"), expr("r div outdeg").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("contrib"))
      r = nodes
        .join(contrib, col("node") === col("dst"), "left")
        .select(col("node"),
          (lit((100L - DampPct) * Scale / 100L) +
            expr(s"($DampPct * coalesce(contrib, 0L)) div 100")).as("r"))
    }
    r.select(col("node"), col("r").as("pr_fixed"))
  }

  /** Personalized PageRank: the random walk restarts at the SEED SET
    * (parts with pk % [[PprSeedMod]] == 0 — a dial) instead of uniformly,
    * so rank concentrates in the seeds' neighborhoods — the
    * related-products / local-relevance primitive. Same integer
    * fixed-point, joins, and overflow bounds as [[pagerankOf]]; the only
    * change is the restart term: (1-d)·Scale lands on seeds only, and the
    * init places all mass on seeds. Nodes unreachable from any seed
    * finish at exactly 0 and are filtered — at 100 TB the output is the
    * seeds' basin, not the whole graph.
    */
  def pprOf(edgesDf: DataFrame): DataFrame = {
    // Same plan-shaping rationale as [[pagerankOf]]: the per-round rank
    // side projects the pinned deg relation so it keeps a broadcastable
    // size estimate under the edge join.
    val e = graft.CacheScope.persistedOnce(edgesDf)
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
      .transform(graft.CacheScope.persisted(_))
    val ed = e.join(deg, "src")
      .select(col("src"), col("dst"), col("outdeg"))
      .transform(graft.CacheScope.persisted(_))
    val nodes = deg.select(col("src").as("node"),
      (col("src") % PprSeedMod === 0).as("seed"))
    val base = (100L - DampPct) * Scale / 100L
    // FRONTIER PRUNE — tried and REJECTED (VERDICT r13 #2, r14 A/B
    // probe): filtering r > 0 per round so early rounds join only the
    // seeds' expanding basin is bit-identical (zero-rank sources
    // contribute exactly 0, absent contributions coalesce to 0, the
    // final filter dropped r = 0 rows anyway) but measured 3x SLOWER
    // (sf0.1, n=2 each, interleaved: pruned 8.02/7.62 s vs
    // unpruned 2.60/2.95 s) — the per-round Filter above the left join
    // degrades the rank side's join planning without buying coverage,
    // because the basin SATURATES after one round at this degree:
    // 400 seeds (2%) reach 18,197 of 20,000 nodes in round 1 and all
    // 20,000 by round 2 (avg degree ~45). A frontier prune only pays on
    // graphs whose basin stays small for several rounds — long-diameter
    // or low-degree relations — and should gate on a measured expansion
    // rate, not be unconditional. Probe committed: bench/r14-ppr-probe.txt.
    var r = nodes.select(col("node"),
      when(col("seed"), lit(Scale)).otherwise(lit(0L)).as("r"))
    for (_ <- 1 to Iters) {
      val contrib = ed.join(r, col("src") === col("node"))
        .select(col("dst"), expr("r div outdeg").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("contrib"))
      r = nodes
        .join(contrib, col("node") === col("dst"), "left")
        .select(col("node"),
          (when(col("seed"), lit(base)).otherwise(lit(0L)) +
            expr(s"($DampPct * coalesce(contrib, 0L)) div 100")).as("r"))
    }
    r.filter(col("r") > 0).select(col("node"), col("r").as("ppr_fixed"))
  }

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_graph_pagerank" -> ((s, d) => pagerank(s, d)),

    "q_graph_ppr" -> ((s, d) => pprOf(edges(s, d))),

    // Per-node triangle counts with the DEGREE-ORDERED orientation: each
    // undirected edge points from lower to higher (degree, id), which (a)
    // counts every triangle exactly once at its base edge and (b) bounds
    // every oriented out-degree by O(sqrt(2m)) — the classic result that
    // makes triangle counting feasible on power-law graphs, where the
    // naive hub wedge count is quadratic in the hub degree. The apexes of
    // each base edge come from array_intersect over the two endpoints'
    // out-neighbor arrays — the wedge relation (41M rows at sf0.1 vs
    // 1.2M oriented edges) is never materialized or shuffled; the same
    // pair-local-intersect discipline as dedup_prefix_jaccard's verify.
    // The oracle counts through the INDEPENDENT wedge-join formulation,
    // so a bug in either shape breaks the match.
    "q_graph_triangles" -> ((s, d) => trianglesOf(edges(s, d))),

    // Per-edge link strength (edge embeddedness): common-neighbor count
    // and neighbor-set Jaccard for every undirected edge — the
    // link-prediction / community-strength primitive. See
    // [[embeddednessOf]] for the degree-ordered formulation.
    "q_graph_embeddedness" -> ((s, d) => embeddednessOf(edges(s, d))),

    // Connected components over ONE MONTH of the co-purchase graph — the
    // SAME generic [[graft.dedup.DedupClusters]] fixpoint the dedup
    // family uses, applied to a product graph (bundle discovery /
    // catalog islands; the window is what a real catalog job would scope
    // to, and it leaves genuine multi-component structure instead of one
    // giant blob). Universe = ALL parts, so unpurchased parts come out
    // as singletons. The date filter must prune at the orders scan
    // before the lineitem join.
    "q_graph_components" -> ((s, d) => {
      val und = windowedEdgesRaw(s, d).filter(col("src") < col("dst"))
        .select(col("src").as("doc_a"), col("dst").as("doc_b"))
      graft.dedup.DedupClusters.clusters(und,
          Tables.load(s, d, "part").select(col("p_partkey").as("doc_id")))
        .select(col("doc_id").as("node"), col("cluster_id").as("component_id"))
    }),

    // 3-core of the same one-month co-purchase graph: the bundle
    // backbone after iterative peeling (see [[KCore]] for the fixpoint
    // policy). The oracle unrolls 8 peel rounds — double the measured
    // depth at sf0.1 (4) — so an insufficient unroll fails loudly as a
    // hash mismatch, never silently.
    "q_graph_kcore" -> ((s, d) => KCore.kcore(windowedEdges(s, d), CoreK)),

    // Adamic-Adar link prediction over the one-month co-purchase graph:
    // score every NON-adjacent pair by sum(1/ln(deg(z))) over common
    // neighbors z, top-50 — "which parts will be co-purchased next"
    // (embeddedness scores the edges that exist; this ranks the ones
    // that don't yet). See [[linkpredOf]] for the hub-cap wedge shape.
    "q_graph_linkpred" -> ((s, d) => linkpredOf(windowedEdges(s, d))),

    // Synchronous label-propagation communities ([[lpaOf]]) — the
    // modularity-style community detector next to the pure-connectivity
    // components query: a node adopts the most frequent label among its
    // neighbors each round, so dense regions converge to one label while
    // bridges don't glue weakly-connected regions together the way
    // connected components does.
    "q_graph_lpa" -> ((s, d) => lpaOf(windowedEdges(s, d))),

    // Modularity of the LPA partition — the quality score that says
    // whether the detected communities are real structure or noise
    // (Newman-Girvan Q = Σ_c [e_c/2m - (d_c/2m)²], here over the
    // directed-symmetric edge relation so 2m = |edges|). Everything is
    // exact integers over one common denominator: per community the
    // numerator e_in·m2 - d_c² rides DECIMAL, the global Q divides the
    // DECIMAL numerator sum by m2² ONCE — both engines see identical
    // doubles. Two label equi-joins + bounded per-community aggregates
    // on top of the same lpaOf fixpoint q_graph_lpa runs; at 100 TB the
    // per-community relation is |communities|-bounded.
    // Conductance per detected community — the BOUNDARY quality metric
    // beside q_graph_modularity's internal-density one: φ(c) =
    // cut(c) / min(vol(c), 2m − vol(c)). A community can score well on
    // modularity yet leak (high conductance); partition-quality audits
    // want both. Same composition shape: the LPA fixpoint through
    // LabelsMemo, two label equi-joins, |communities|-bounded aggregates,
    // exact integers until the single φ division.
    "q_graph_conductance" -> ((s, d) => {
      val e = windowedEdges(s, d).transform(graft.CacheScope.persisted(_))
      val lab = graft.LabelsMemo.getOrCompute(s"lpa-labels:$d", s)(lpaOf(e))
      val m2 = e.agg(count(lit(1)).as("m2"))
      val cut = e
        .join(lab.select(col("node").as("src"), col("community").as("c1")), "src")
        .join(lab.select(col("node").as("dst"), col("community").as("c2")), "dst")
        .filter(col("c1") =!= col("c2"))
        .groupBy(col("c1").as("community")).agg(count(lit(1)).as("cut_edges"))
      val degc = e.groupBy("src").agg(count(lit(1)).as("dg"))
        .join(lab.select(col("node").as("src"), col("community")), "src")
        .groupBy(col("community"))
        .agg(sum(col("dg")).as("d_c"), count(lit(1)).as("n_nodes"))
      degc.join(cut, Seq("community"), "left")
        .withColumn("cut_edges", coalesce(col("cut_edges"), lit(0L)))
        .crossJoin(broadcast(m2))
        .filter(least(col("d_c"), col("m2") - col("d_c")) > 0)
        .select(col("community"), col("n_nodes"), col("cut_edges"), col("d_c"),
          round(col("cut_edges").cast("double") /
            least(col("d_c"), col("m2") - col("d_c")).cast("double"), 9)
            .as("phi"))
    }),

    "q_graph_modularity" -> ((s, d) => {
      val e = windowedEdges(s, d).transform(graft.CacheScope.persisted(_))
      // The partition under scoring IS q_graph_lpa's output; LabelsMemo
      // materializes the fixpoint once per (data dir) and later callers
      // do a plain parquet read — the dedup_clusters consumer discipline
      // (q_graph_lpa itself does NOT read through the memo, so its
      // benched cost stays the honest full-fixpoint cost).
      val lab = graft.LabelsMemo.getOrCompute(s"lpa-labels:$d", s)(lpaOf(e))
      val m2 = e.agg(count(lit(1)).as("m2"))
      val ein = e
        .join(lab.select(col("node").as("src"), col("community").as("c1")), "src")
        .join(lab.select(col("node").as("dst"), col("community").as("c2")), "dst")
        .filter(col("c1") === col("c2"))
        .groupBy(col("c1").as("community")).agg(count(lit(1)).as("e_in"))
      val degc = e.groupBy("src").agg(count(lit(1)).as("dg"))
        .join(lab.select(col("node").as("src"), col("community")), "src")
        .groupBy(col("community"))
        .agg(sum(col("dg")).as("d_c"), count(lit(1)).as("n_nodes"))
      val per = degc
        .join(ein, Seq("community"), "left")
        .withColumn("e_in", coalesce(col("e_in"), lit(0L)))
        .crossJoin(broadcast(m2))
        .withColumn("num",
          col("e_in").cast(DecimalType(20, 0)) * col("m2").cast(DecimalType(20, 0)) -
            col("d_c").cast(DecimalType(20, 0)) * col("d_c").cast(DecimalType(20, 0)))
        .transform(graft.CacheScope.persisted(_))
      val q = per.agg((sum(col("num")).cast("double") /
          (max(col("m2")).cast("double") * max(col("m2")).cast("double")))
        .as("qraw"))
        .select(round(col("qraw"), 9).as("q"))
      per.crossJoin(broadcast(q))
        .select(col("community"), col("n_nodes"), col("e_in"), col("d_c"),
          round(col("num").cast("double") /
            (col("m2").cast("double") * col("m2").cast("double")), 9).as("contrib"),
          col("q"))
    }),

    // HITS hubs & authorities over the bipartite customer->part purchase
    // graph (one month): hubs = customers whose baskets concentrate on
    // authoritative parts, authorities = parts bought by strong hubs —
    // the classic bipartite use, and deliberately DIRECTED where
    // PageRank's co-purchase graph is symmetric. See [[hitsOf]] for the
    // exact-integer normalized power iteration.
    "q_graph_hits" -> ((s, d) => hitsOf(bipartiteEdges(s, d))),

  )

  /** Windowed co-purchase edges with exact-integer weights: w = 1 +
    * |price(src) - price(dst)| in whole units, prices lifted to cents
    * through DECIMAL (the testdata's doubles are exact 2dp). The part
    * relation joins in twice on the part key — dimension-sized lookups
    * AQE broadcasts while they fit.
    */
  private[graft] def weightedEdges(s: SparkSession, d: String): DataFrame = {
    val price = Tables.load(s, d, "part")
      .select(col("p_partkey"),
        (col("p_retailprice").cast(org.apache.spark.sql.types.DecimalType(12, 2)) * 100)
          .cast("long").as("pc"))
    windowedEdges(s, d)
      .join(price.select(col("p_partkey").as("src"), col("pc").as("pcs")), "src")
      .join(price.select(col("p_partkey").as("dst"), col("pc").as("pcd")), "dst")
      .select(col("src"), col("dst"), expr("1 + abs(pcs - pcd) div 100").as("w"))
  }

  /** HITS power-iteration rounds — a dial, so the oracle can unroll it. */
  val HitsRounds = 3
  /** Per-side total mass the raw integer scores are renormalized to at
    * the end (10^15 units — 15 significant digits of fixed-point score).
    */
  val HitsTot = 1000000000000000L

  /** Distinct (c customer, p part) purchase edges over one month of
    * orders — the bipartite graph for [[hitsOf]]; the date filter prunes
    * at the orders scan.
    */
  private[graft] def bipartiteEdges(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
      .join(Tables.load(s, d, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1996-02-01").cast("timestamp"))
          .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
      .distinct()

  /** HITS over any bipartite (c, p) edge relation, bit-reproducible across
    * engines: each half-step is one equi-join + aggregation (the PageRank
    * shuffle shape) over EXACT integers — hub mass starts at 1 per node
    * and the iteration runs RAW (no mid-round normalization), so every
    * score is an exact DECIMAL(38,0) integer (order-independent sums,
    * overflow-loud under ANSI) and the whole 2*rounds-step chain is ONE
    * linear lazy DAG with a single action. Textbook HITS' float
    * normalization happens ONCE at the end per side: scores scale to a
    * total side mass of [[HitsTot]] by integral division with the side
    * total (a broadcast 1-row aggregate against the PINNED final
    * relation — mid-iteration the same crossJoin would embed each
    * half-step's lineage twice, a 2^(2*rounds) plan blowup; at the end it
    * doubles a linear plan once, measured 4.6s -> 1.9s at sf0.1).
    * Overflow headroom: raw scores are bounded by edges^(rounds) *
    * maxdeg^(rounds-1); DECIMAL(38,0) minus the 10^15 renormalization
    * factor leaves ~10^23 — beyond that ANSI throws loudly and the dial
    * is fewer raw rounds (or per-round renormalization). Returns
    * (side 'hub'|'auth', node, score). Public for planted-graph specs.
    */
  def hitsOf(edgesDf: DataFrame): DataFrame = {
    val dec = "DECIMAL(38,0)"
    val e = edgesDf.transform(graft.CacheScope.persisted(_))
    var h = e.select(col("c")).distinct()
      .select(col("c"), expr(s"CAST(1 AS $dec)").as("h"))
    var a: DataFrame = null
    for (_ <- 1 to HitsRounds) {
      a = e.join(h, Seq("c")).groupBy("p").agg(sum(col("h")).as("a"))
      h = e.join(a, Seq("p")).groupBy("c").agg(sum(col("a")).as("h"))
    }
    val af = graft.CacheScope.persisted(a)
    val hf = graft.CacheScope.persisted(h)
    def norm(df: DataFrame, side: String, node: String, v: String) =
      df.crossJoin(broadcast(df.agg(sum(col(v)).as("tot"))))
        .select(lit(side).as("side"), col(node).as("node"),
          expr(s"CAST(($v * $HitsTot) div tot AS BIGINT)").as("score"))
    norm(hf, "hub", "c", "h").unionByName(norm(af, "auth", "p", "a"))
  }

  /** k for the registered k-core query. */
  val CoreK = 3

  /** Common-neighbor degree cap for [[linkpredOf]]: a node with more
    * neighbors than this contributes no wedges. The quadratic per-z
    * wedge fan-out is bounded by HubCap^2 instead of the hub degree
    * squared — the standard production cut, and semantically almost
    * free: Adamic-Adar already discounts a hub's vote by 1/ln(deg), so
    * the dropped evidence is the weakest there is.
    */
  val LinkPredHubCap = 128L

  /** Symmetric directed co-purchase edges restricted to ONE MONTH of
    * orders (the scoping a real catalog job would use; it also keeps the
    * recursive/unrolled oracles small — see the verify-workflow notes).
    * The date filter must prune at the orders scan before the lineitem
    * join. Shared by q_graph_components and q_graph_kcore.
    */
  private[graft] def windowedEdgesRaw(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "lineitem")
      .join(Tables.load(s, d, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1996-02-01").cast("timestamp"))
          .select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey")).agg(collect_set(col("l_partkey")).as("pks"))
      .select(explode(col("pks")).as("src"), col("pks"))
      .select(col("src"), explode(array_remove(col("pks"), col("src"))).as("dst"))
      .distinct()

  /** The windowed co-purchase edges as a materialized shared intermediate
    * (see [[edges]] — same discipline): EIGHTEEN registered queries across
    * four graph packs consume this relation; q_graph_components is the
    * honest producer reading [[windowedEdgesRaw]].
    */
  private[graft] def windowedEdges(s: SparkSession, d: String): DataFrame =
    graft.LabelsMemo.getOrCompute(s"windowed-edges:$d", s)(windowedEdgesRaw(s, d))

  /** Per-node triangle counts over any symmetric (src, dst) edge relation
    * — shared by the registered query and GraphSpec's planted graphs, so
    * the spec exercises the exact production formulation.
    */
  def trianglesOf(edgesDf: DataFrame): DataFrame = {
    val e = edgesDf
      .transform(graft.CacheScope.persisted(_))
    val deg = e.groupBy("src").agg(count(lit(1)).as("dg"))
    val o = e
      .join(deg.select(col("src").as("s1"), col("dg").as("da")),
        col("src") === col("s1"))
      .join(deg.select(col("src").as("s2"), col("dg").as("db")),
        col("dst") === col("s2"))
      .filter(col("da") < col("db") ||
        (col("da") === col("db") && col("src") < col("dst")))
      .select(col("src"), col("dst"))
      .transform(graft.CacheScope.persisted(_))
    val adj = o.groupBy("src").agg(array_sort(collect_list(col("dst"))).as("nbr"))
      .transform(graft.CacheScope.persisted(_))
    val tri = o
      .join(adj.select(col("src").as("u"), col("nbr").as("nu")),
        col("src") === col("u"))
      .join(adj.select(col("src").as("v"), col("nbr").as("nv")),
        col("dst") === col("v"))
      .select(col("src"), col("dst"),
        explode(array_intersect(col("nu"), col("nv"))).as("w"))
    tri.select(explode(array(col("src"), col("dst"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
  }

  /** Per-edge common neighbors + neighbor-set Jaccard over any symmetric
    * (src, dst) edge relation. Triangles ARE the common neighbors: the
    * degree-ordered oriented triangle relation (same construction as
    * [[trianglesOf]], so the hub wedge blow-up cannot happen) is exploded
    * into its three canonical (min,max) edges and counted per edge — the
    * wedge relation is never materialized. Jaccard denominator from the
    * two endpoint degrees: |N(u) ∪ N(v)| = d(u) + d(v) - common (u, v
    * are in each other's neighbor sets but never in the intersection —
    * no self-loops). The oracle deliberately counts through the
    * independent all-pairs wedge join.
    */
  def embeddednessOf(edgesDf: DataFrame): DataFrame = {
    val e = edgesDf.transform(graft.CacheScope.persisted(_))
    val deg = e.groupBy("src").agg(count(lit(1)).as("dg"))
      .transform(graft.CacheScope.persisted(_))
    val o = e
      .join(deg.select(col("src").as("s1"), col("dg").as("da")),
        col("src") === col("s1"))
      .join(deg.select(col("src").as("s2"), col("dg").as("db")),
        col("dst") === col("s2"))
      .filter(col("da") < col("db") ||
        (col("da") === col("db") && col("src") < col("dst")))
      .select(col("src"), col("dst"))
      .transform(graft.CacheScope.persisted(_))
    val adj = o.groupBy("src").agg(array_sort(collect_list(col("dst"))).as("nbr"))
      .transform(graft.CacheScope.persisted(_))
    val tri = o
      .join(adj.select(col("src").as("u"), col("nbr").as("nu")),
        col("src") === col("u"))
      .join(adj.select(col("src").as("v"), col("nbr").as("nv")),
        col("dst") === col("v"))
      .select(col("src"), col("dst"),
        explode(array_intersect(col("nu"), col("nv"))).as("w"))
    val common = tri.select(explode(array(
        struct(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b")),
        struct(least(col("src"), col("w")).as("a"),
          greatest(col("src"), col("w")).as("b")),
        struct(least(col("dst"), col("w")).as("a"),
          greatest(col("dst"), col("w")).as("b")))).as("t"))
      .groupBy(col("t.a").as("a"), col("t.b").as("b"))
      .agg(count(lit(1)).as("common"))
    e.filter(col("src") < col("dst"))
      .join(common, col("src") === col("a") && col("dst") === col("b"), "left")
      .join(deg.select(col("src").as("d1"), col("dg").as("deg_a")),
        col("src") === col("d1"))
      .join(deg.select(col("src").as("d2"), col("dg").as("deg_b")),
        col("dst") === col("d2"))
      .select(col("src"), col("dst"),
        coalesce(col("common"), lit(0L)).as("common_neighbors"),
        round(coalesce(col("common"), lit(0L)).cast("double") /
          (col("deg_a") + col("deg_b") - coalesce(col("common"), lit(0L))), 6)
          .as("jaccard"))
  }

  /** Adamic-Adar link prediction: for every pair (u, v) with u < v that
    * shares at least one common neighbor but has NO edge, score
    * aa = sum over common z of 1/ln(deg(z)), and keep the top 50.
    *
    * Scale shape: one wedge self-join of the edge relation on the shared
    * neighbor z — an equi-join, never all-pairs — with z's degree capped
    * at [[LinkPredHubCap]] BEFORE the join, so per-z fan-out is bounded
    * at any graph size (the degree-ordered-orientation cousin used by
    * trianglesOf; here the cap is the dial because non-edges have no
    * orientation to exploit). Existing edges drop via one left-anti on
    * the same relation. Determinism: each z's weight is round(1/ln(deg),
    * 9) as DECIMAL(18,9), so the per-pair sum is exact and
    * order-independent, and (aa DESC, u, v) is a total order — the
    * top-50 boundary cannot flake on float summation order. Public so
    * LinkPredSpec can drive planted graphs.
    */
  def linkpredOf(edgesDf: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 9)
    val e = edgesDf.transform(graft.CacheScope.persisted(_))
    val deg = e.groupBy("src").agg(count(lit(1)).as("dg"))
    // (z, u, weight-of-z) for capped z only; the weight rides the edge
    // row so the wedge join needs no second degree lookup.
    val en = e.select(col("src").as("z"), col("dst").as("u"))
      // dg >= 2: a degree-1 node can never be a COMMON neighbor (its one
      // neighbor pairs with nothing), and ln(1) = 0 would divide-by-zero
      // in ANSI mode while computing its (never-consumed) weight.
      .join(deg.filter(col("dg") >= 2L && col("dg") <= LinkPredHubCap)
          .select(col("src").as("z"),
            round(lit(1.0) / log(col("dg").cast("double")), 9).cast(dec)
              .as("w")),
        Seq("z"))
      .transform(graft.CacheScope.persisted(_))
    val scored = en.select(col("z"), col("u"), col("w"))
      .join(en.select(col("z"), col("u").as("v")),
        Seq("z"))
      .filter(col("u") < col("v"))
      .groupBy("u", "v")
      .agg(count(lit(1)).as("common_neighbors"), sum(col("w")).as("aa"))
    scored
      .join(e.filter(col("src") < col("dst"))
          .select(col("src").as("u"), col("dst").as("v")),
        Seq("u", "v"), "left_anti")
      .orderBy(col("aa").desc, col("u").asc, col("v").asc)
      .limit(50)
      .select(col("u").as("src"), col("v").as("dst"),
        col("common_neighbors"),
        round(col("aa").cast("double"), 6).as("aa_score"))
  }

  /** Synchronous LPA rounds — a dial like [[Iters]], so the oracle can
    * unroll it. Three rounds settle the small windowed graph; depth, not
    * convergence detection, keeps the operator deterministic (asynchronous
    * or until-stable LPA is famously order-dependent — the fixed-round
    * synchronous form with a (count desc, label asc) argmax is the only
    * variant two engines can agree on bit-for-bit).
    */
  val LpaRounds = 3

  /** Fixed-round synchronous label propagation over a SYMMETRIC
    * (src, dst) edge relation — the precondition is load-bearing (ADVICE
    * r13): the r13 cold-path cut dropped the per-round "left join nodes
    * + coalesce(lbl, node)" re-attach, so a node with no in-edges would
    * silently vanish instead of keeping its own label; in a symmetric
    * relation every node is some edge's dst and the argmax covers all of
    * them (every registered caller passes symmetric relations; a
    * debug-mode [[EdgeChecks.requireSymmetric]] makes a future
    * non-symmetric caller fail loudly — see EdgeSymmetrySpec).
    *
    * Labels start as the node id; each round
    * every node adopts the argmax neighbor label by (count desc, label
    * asc). The argmax is max(struct(n, -lbl)) — one aggregation, no
    * window — and each round is the same equi-join + aggregate shuffle
    * shape as a PageRank iteration, so the 100 TB notes there carry over
    * verbatim (pinned edge relation, linear lineage, checkpoint every few
    * rounds at cluster scale).
    */
  def lpaOf(edgesDf: DataFrame, rounds: Int = LpaRounds): DataFrame = {
    EdgeChecks.requireSymmetric(edgesDf, "lpaOf")
    // r13 cold-path cut: in a symmetric edge relation every node is some
    // edge's src, so the per-round argmax covers EVERY node and the old
    // "left join nodes + coalesce(lbl, node)" re-attach was the identity
    // — each round is now one equi-join + two aggregations, one join and
    // one pinned relation fewer (bit-identical output, same hash).
    val e = graft.CacheScope.persistedOnce(edgesDf)
    var lab = e.select(col("src").as("node"), col("src").as("lbl")).distinct()
    for (_ <- 1 to rounds) {
      val cnt = e.join(lab, col("dst") === col("node"))
        .groupBy(col("src"), col("lbl")).agg(count(lit(1)).as("n"))
      lab = cnt.groupBy(col("src"))
        .agg(max(struct(col("n"), (-col("lbl")).as("nl"))).as("b"))
        .select(col("src").as("node"), (-col("b.nl")).as("lbl"))
    }
    lab.select(col("node"), col("lbl").as("community"))
  }

  private[graph] val edgesCte: String =
    """WITH li AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
      |), edges AS (
      |  SELECT DISTINCT a.pk AS src, b.pk AS dst
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk
      |), deg AS (
      |  SELECT src, count(*) AS outdeg FROM edges GROUP BY src
      |)""".stripMargin

  /** One unrolled PageRank iteration i (reads r{i-1}, defines r{i}). */
  private def iterCte(i: Int): String = {
    val base = (100L - DampPct) * Scale / 100L
    s"""c$i AS (
       |  SELECT e.dst, sum(r.r // e.outdeg) AS contrib
       |  FROM ed e JOIN r${i - 1} r ON r.node = e.src
       |  GROUP BY e.dst
       |), r$i AS (
       |  SELECT d.src AS node,
       |         $base + ($DampPct * COALESCE(c.contrib, 0)) // 100 AS r
       |  FROM deg d LEFT JOIN c$i c ON c.dst = d.src
       |)""".stripMargin
  }

  /** The windowed-graph CTE prefix shared by the components and k-core
    * oracles (one month of orders).
    */
  private[graph] val windowedEdgesCte: String =
    """WITH li AS (
      |  SELECT DISTINCT l.l_orderkey AS ok, l.l_partkey AS pk
      |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      |  WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND o.o_orderdate < TIMESTAMP '1996-02-01 00:00:00'
      |), edges AS (
      |  SELECT DISTINCT a.pk AS src, b.pk AS dst
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk
      |)""".stripMargin

  /** One unrolled peel round i for the k-core oracle (reads s{i-1}). */
  private def peelCte(i: Int): String =
    s"""s$i AS (
       |  SELECT e.src AS node, count(*) AS core_deg
       |  FROM edges e
       |  JOIN s${i - 1} a ON a.node = e.src
       |  JOIN s${i - 1} b ON b.node = e.dst
       |  GROUP BY e.src HAVING count(*) >= $CoreK
       |)""".stripMargin

  /** One unrolled synchronous LPA round i (reads l{i-1}, defines l{i}). */
  private def lpaCte(i: Int): String =
    s"""c$i AS (
       |  SELECT e.src, l.lbl, count(*) AS n
       |  FROM edges e JOIN l${i - 1} l ON l.node = e.dst
       |  GROUP BY 1, 2
       |), b$i AS (
       |  SELECT src, lbl FROM (
       |    SELECT src, lbl,
       |           row_number() OVER (PARTITION BY src
       |                              ORDER BY n DESC, lbl ASC) AS rn
       |    FROM c$i
       |  ) WHERE rn = 1
       |), l$i AS (
       |  SELECT n.node, coalesce(b.lbl, n.node) AS lbl
       |  FROM nodes n LEFT JOIN b$i b ON b.src = n.node
       |)""".stripMargin

  /** One unrolled raw HITS round i (reads h{i-1}, defines a{i} and h{i}).
    * HUGEINT sums mirror Spark's DECIMAL(38,0) sums exactly.
    */
  private def hitsCte(i: Int): String =
    s"""a$i AS (
       |  SELECT be.p, sum(h.h) AS a
       |  FROM be JOIN h${i - 1} h ON h.c = be.c GROUP BY be.p
       |), h$i AS (
       |  SELECT be.c, sum(a.a) AS h
       |  FROM be JOIN a$i a ON a.p = be.p GROUP BY be.c
       |)""".stripMargin

  /** One unrolled Borůvka round i for the MST oracle: label endpoints
    * with l{i-1}, pick each component's (w, src, dst)-minimum cross
    * edge, accumulate the forest (c$i), and relabel via a recursive
    * reachability CTE over the CUMULATIVE forest — the window rn=1 form
    * of Spark's min(struct). Rounds past completion pick nothing and
    * relabel identically, so the fixed unroll equals the early-exit
    * loop.
    */
  private def pprIterCte(i: Int): String = {
    val base = (100L - DampPct) * Scale / 100L
    s"""pc$i AS (
       |  SELECT e.dst, sum(r.r // e.outdeg) AS contrib
       |  FROM ed e JOIN pr${i - 1} r ON r.node = e.src
       |  GROUP BY e.dst
       |), pr$i AS (
       |  SELECT d.src AS node,
       |         (CASE WHEN d.src % $PprSeedMod = 0 THEN $base ELSE 0 END) +
       |         ($DampPct * COALESCE(c.contrib, 0)) // 100 AS r
       |  FROM deg d LEFT JOIN pc$i c ON c.dst = d.src
       |)""".stripMargin
  }

  /** One unrolled BFS relaxation round (reads d{i-1}, defines d{i}). */
  override val oracles: Map[String, String] = Map(
    "q_graph_ppr" ->
      s"""$edgesCte,
         |ed AS (SELECT e.src, e.dst, d.outdeg FROM edges e JOIN deg d ON d.src = e.src),
         |pr0 AS (SELECT src AS node,
         |               CASE WHEN src % $PprSeedMod = 0 THEN $Scale ELSE 0 END AS r
         |        FROM deg),
         |${(1 to Iters).map(pprIterCte).mkString(",\n")}
         |SELECT node, CAST(r AS BIGINT) AS ppr_fixed FROM pr$Iters WHERE r > 0""".stripMargin,

    "q_graph_hits" ->
      s"""WITH be AS (
         |  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
         |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
         |  WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         |    AND o.o_orderdate < TIMESTAMP '1996-02-01 00:00:00'
         |), h0 AS (
         |  SELECT DISTINCT c, CAST(1 AS HUGEINT) AS h FROM be
         |),
         |${(1 to HitsRounds).map(hitsCte).mkString(",\n")}
         |SELECT 'hub' AS side, c AS node,
         |       CAST((h * $HitsTot) // (SELECT sum(h) FROM h$HitsRounds)
         |            AS BIGINT) AS score
         |FROM h$HitsRounds
         |UNION ALL
         |SELECT 'auth' AS side, p AS node,
         |       CAST((a * $HitsTot) // (SELECT sum(a) FROM a$HitsRounds)
         |            AS BIGINT) AS score
         |FROM a$HitsRounds""".stripMargin,

    "q_graph_lpa" ->
      s"""$windowedEdgesCte,
         |nodes AS (SELECT DISTINCT src AS node FROM edges),
         |l0 AS (SELECT node, node AS lbl FROM nodes),
         |${(1 to LpaRounds).map(lpaCte).mkString(",\n")}
         |SELECT node, lbl AS community FROM l$LpaRounds""".stripMargin,

    "q_graph_conductance" ->
      s"""$windowedEdgesCte,
         |nodes AS (SELECT DISTINCT src AS node FROM edges),
         |l0 AS (SELECT node, node AS lbl FROM nodes),
         |${(1 to LpaRounds).map(lpaCte).mkString(",\n")},
         |lab AS (SELECT node, lbl AS community FROM l$LpaRounds),
         |m2 AS (SELECT count(*) AS m2 FROM edges),
         |cut AS (
         |  SELECT a.community AS community, count(*) AS cut_edges
         |  FROM edges e
         |  JOIN lab a ON a.node = e.src
         |  JOIN lab b ON b.node = e.dst AND b.community <> a.community
         |  GROUP BY 1
         |), degc AS (
         |  SELECT l.community, CAST(sum(d.dg) AS BIGINT) AS d_c,
         |         count(*) AS n_nodes
         |  FROM (SELECT src, count(*) AS dg FROM edges GROUP BY 1) d
         |  JOIN lab l ON l.node = d.src
         |  GROUP BY 1
         |)
         |SELECT dc.community, dc.n_nodes,
         |       coalesce(c.cut_edges, 0) AS cut_edges, dc.d_c,
         |       round(CAST(coalesce(c.cut_edges, 0) AS DOUBLE) /
         |             CAST(least(dc.d_c, m2.m2 - dc.d_c) AS DOUBLE), 9) AS phi
         |FROM degc dc
         |LEFT JOIN cut c ON c.community = dc.community
         |CROSS JOIN m2
         |WHERE least(dc.d_c, m2.m2 - dc.d_c) > 0""".stripMargin,

    "q_graph_modularity" ->
      s"""$windowedEdgesCte,
         |nodes AS (SELECT DISTINCT src AS node FROM edges),
         |l0 AS (SELECT node, node AS lbl FROM nodes),
         |${(1 to LpaRounds).map(lpaCte).mkString(",\n")},
         |lab AS (SELECT node, lbl AS community FROM l$LpaRounds),
         |m2 AS (SELECT count(*) AS m2 FROM edges),
         |ein AS (
         |  SELECT a.community AS community, count(*) AS e_in
         |  FROM edges e
         |  JOIN lab a ON a.node = e.src
         |  JOIN lab b ON b.node = e.dst AND b.community = a.community
         |  GROUP BY 1
         |), degc AS (
         |  SELECT l.community, CAST(sum(d.dg) AS BIGINT) AS d_c,
         |         count(*) AS n_nodes
         |  FROM (SELECT src, count(*) AS dg FROM edges GROUP BY 1) d
         |  JOIN lab l ON l.node = d.src
         |  GROUP BY 1
         |), per AS (
         |  SELECT dc.community, dc.n_nodes,
         |         coalesce(e.e_in, 0) AS e_in, dc.d_c, m2.m2,
         |         CAST(coalesce(e.e_in, 0) AS DECIMAL(20,0)) * CAST(m2.m2 AS DECIMAL(20,0)) -
         |         CAST(dc.d_c AS DECIMAL(20,0)) * CAST(dc.d_c AS DECIMAL(20,0)) AS num
         |  FROM degc dc
         |  LEFT JOIN ein e ON e.community = dc.community
         |  CROSS JOIN m2
         |)
         |SELECT community, n_nodes, e_in, d_c,
         |       round(CAST(num AS DOUBLE) /
         |             (CAST(m2 AS DOUBLE) * CAST(m2 AS DOUBLE)), 9) AS contrib,
         |       (SELECT round(CAST(sum(num) AS DOUBLE) /
         |               (CAST(any_value(m2) AS DOUBLE) * CAST(any_value(m2) AS DOUBLE)), 9)
         |        FROM per) AS q
         |FROM per""".stripMargin,

    // Unrolled peeling, 8 rounds (measured depth: 3 at sf0.01, 4 at
    // sf0.1; too few rounds = loud hash mismatch, never silent).
    "q_graph_kcore" ->
      s"""$windowedEdgesCte,
         |s0 AS (SELECT DISTINCT src AS node FROM edges),
         |${(1 to 8).map(peelCte).mkString(",\n")}
         |SELECT node, core_deg FROM s8""".stripMargin,

    "q_graph_linkpred" ->
      s"""$windowedEdgesCte,
         |deg AS (SELECT src, count(*) AS dg FROM edges GROUP BY src),
         |en AS (
         |  SELECT e.src AS z, e.dst AS u,
         |         CAST(round(1.0 / ln(CAST(d.dg AS DOUBLE)), 9) AS DECIMAL(18,9)) AS w
         |  FROM edges e JOIN deg d ON d.src = e.src
         |  WHERE d.dg BETWEEN 2 AND $LinkPredHubCap
         |), sc AS (
         |  SELECT a.u AS u, b.u AS v, count(*) AS common_neighbors,
         |         sum(a.w) AS aa
         |  FROM en a JOIN en b ON a.z = b.z AND a.u < b.u
         |  GROUP BY 1, 2
         |)
         |SELECT u AS src, v AS dst, common_neighbors,
         |       round(CAST(aa AS DOUBLE), 6) AS aa_score
         |FROM sc
         |WHERE NOT EXISTS (SELECT 1 FROM edges e WHERE e.src = sc.u AND e.dst = sc.v)
         |ORDER BY aa DESC, u, v
         |LIMIT 50""".stripMargin,

    "q_graph_pagerank" ->
      s"""$edgesCte,
         |ed AS (SELECT e.src, e.dst, d.outdeg FROM edges e JOIN deg d ON d.src = e.src),
         |r0 AS (SELECT src AS node, $Scale AS r FROM deg),
         |${(1 to Iters).map(iterCte).mkString(",\n")}
         |SELECT node, CAST(r AS BIGINT) AS pr_fixed FROM r$Iters""".stripMargin,

    // Wedge-join formulation — deliberately different from the Spark
    // side's adjacency-intersect (see the query comment).
    "q_graph_triangles" ->
      s"""$edgesCte,
         |o AS (
         |  SELECT e.src, e.dst
         |  FROM edges e
         |  JOIN deg da ON da.src = e.src
         |  JOIN deg db ON db.src = e.dst
         |  WHERE (da.outdeg, e.src) < (db.outdeg, e.dst)
         |), w AS (
         |  SELECT a.src, a.dst AS v1, b.dst AS v2
         |  FROM o a JOIN o b ON a.src = b.src AND a.dst < b.dst
         |), t AS (
         |  -- the apex edge's (deg, id) orientation need not match the
         |  -- wedge's id-ordering of (v1, v2): match each direction with
         |  -- its own equi-join (an OR'd condition cannot hash-join); o
         |  -- holds each unordered pair once, so no wedge matches twice
         |  SELECT w.src AS u, w.v1, w.v2
         |  FROM w JOIN o ON o.src = w.v1 AND o.dst = w.v2
         |  UNION ALL
         |  SELECT w.src AS u, w.v1, w.v2
         |  FROM w JOIN o ON o.src = w.v2 AND o.dst = w.v1
         |), n AS (
         |  SELECT unnest([u, v1, v2]) AS node FROM t
         |)
         |SELECT node, count(*) AS n_tri FROM n GROUP BY node""".stripMargin,

    // All-pairs wedge join per edge — deliberately different from the
    // Spark side's oriented-triangle explode (see embeddednessOf).
    "q_graph_embeddedness" ->
      s"""$edgesCte,
         |cn AS (
         |  SELECT e.src, e.dst, count(*) AS common
         |  FROM edges e
         |  JOIN edges x ON x.src = e.src
         |  JOIN edges y ON y.src = e.dst AND y.dst = x.dst
         |  WHERE e.src < e.dst
         |  GROUP BY e.src, e.dst
         |)
         |SELECT e.src, e.dst,
         |       COALESCE(c.common, 0) AS common_neighbors,
         |       round(CAST(COALESCE(c.common, 0) AS DOUBLE) /
         |             (da.outdeg + db.outdeg - COALESCE(c.common, 0)), 6) AS jaccard
         |FROM edges e
         |LEFT JOIN cn c ON c.src = e.src AND c.dst = e.dst
         |JOIN deg da ON da.src = e.src
         |JOIN deg db ON db.src = e.dst
         |WHERE e.src < e.dst""".stripMargin,

    // Recursive reachability + min — the same independent-algorithm
    // oracle shape as dedup_clusters, over the windowed co-purchase
    // graph.
    "q_graph_components" ->
      """WITH RECURSIVE li AS (
        |  SELECT DISTINCT l.l_orderkey AS ok, l.l_partkey AS pk
        |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        |  WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND o.o_orderdate < TIMESTAMP '1996-02-01 00:00:00'
        |), edges AS (
        |  SELECT DISTINCT a.pk AS src, b.pk AS dst
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk
        |), reach(node, r) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.node = e.dst
        |), comp AS (
        |  SELECT node, min(r) AS component_id FROM reach GROUP BY node
        |)
        |SELECT p.p_partkey AS node,
        |       COALESCE(c.component_id, p.p_partkey) AS component_id
        |FROM part p LEFT JOIN comp c ON c.node = p.p_partkey""".stripMargin
  )
}
