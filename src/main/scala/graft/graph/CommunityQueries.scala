package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.QueryPack

/** Community / cohesion operators beyond [[GraphQueries]]'s LPA-modularity
  * family: one synchronous Louvain local-move pass (the modularity-greedy
  * seeding step), the double-sweep BFS diameter lower bound (the standard
  * cheap estimator — exact diameter is all-pairs and does not exist at
  * scale), and the k-truss (edges supported by ≥ k−2 triangles — a
  * stricter, edge-centric cohesion core than [[KCore]]'s degree peel).
  *
  * Reference scope: the reference engine has no graph operators; these
  * extend the co-purchase-graph family ARCHITECTURE.md §graph documents,
  * on the same one-month windowed edge relation so the whole family
  * composes (e.g. truss edges ⊂ kcore edges ⊂ edges).
  *
  * Scale shapes: Louvain-move is two equi-joins + one min(struct)
  * aggregation (the lpaOf argmax discipline — no window); the double
  * sweep is 2×[[GraphPathQueries.BfsRounds]] bounded-hop relaxations with
  * the peripheral-node handoff staying IN-PLAN (a 1-row TakeOrdered
  * relation, never a driver collect); the truss peel re-runs the
  * degree-ordered oriented triangle join of [[GraphQueries.trianglesOf]]
  * on a geometrically-shrinking edge set with eager-pinned rounds and the
  * [[graft.dedup.DedupClusters]] fixpoint-or-throw contract.
  */
object CommunityQueries extends QueryPack {

  import GraphQueries.{windowedEdges, windowedEdgesCte}

  /** Truss order: keep edges with ≥ TrussK−2 triangle supports. */
  val TrussK = 4

  /** Rich-club degree thresholds. */
  val RichClubKs: Seq[Int] = Seq(2, 4, 8, 16)

  /** Walk length for q_graph_walks. */
  val WalkLen = 5

  /** Power-iteration rounds for the spectral-radius estimate. */
  val SpectralRounds = 4

  /** Peel-round budget; the fixpoint typically lands in 2-3 rounds on the
    * co-purchase graph and THROWS if the budget is exhausted (the
    * DedupClusters discipline — never a silently-partial result). The
    * oracle unrolls exactly this many rounds: extra rounds past the
    * fixpoint are no-ops, so the two sides agree whenever Spark converges.
    */
  val TrussMaxRounds = 8

  /** Per-edge triangle support of a canonical (a<b) undirected edge
    * relation: the [[GraphQueries.embeddednessOf]] construction — orient
    * by degree so hub wedges never blow up, intersect sorted adjacency
    * arrays, explode each triangle into its three canonical edges, count.
    */
  private def edgeSupport(und: DataFrame): DataFrame = {
    val sym = und.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(und.select(col("b").as("src"), col("a").as("dst")))
    val deg = sym.groupBy("src").agg(count(lit(1)).as("dg"))
    val o = sym
      .join(deg.select(col("src").as("s1"), col("dg").as("da")),
        col("src") === col("s1"))
      .join(deg.select(col("src").as("s2"), col("dg").as("db")),
        col("dst") === col("s2"))
      .filter(col("da") < col("db") ||
        (col("da") === col("db") && col("src") < col("dst")))
      .select(col("src"), col("dst"))
      .transform(graft.CacheScope.persisted(_))
    val adj = o.groupBy("src").agg(array_sort(collect_list(col("dst"))).as("nbr"))
    val tri = o
      .join(adj.select(col("src").as("u"), col("nbr").as("nu")),
        col("src") === col("u"))
      .join(adj.select(col("src").as("v"), col("nbr").as("nv")),
        col("dst") === col("v"))
      .select(col("src"), col("dst"),
        explode(array_intersect(col("nu"), col("nv"))).as("w"))
    tri.select(explode(array(
        struct(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b")),
        struct(least(col("src"), col("w")).as("a"),
          greatest(col("src"), col("w")).as("b")),
        struct(least(col("dst"), col("w")).as("a"),
          greatest(col("dst"), col("w")).as("b")))).as("t"))
      .groupBy(col("t.a").as("a"), col("t.b").as("b"))
      .agg(count(lit(1)).as("support"))
  }

  /** Bounded-hop BFS distances from an arbitrary 1-row seed relation —
    * [[GraphPathQueries.bfsOf]] generalized so the double sweep can hand
    * the peripheral node to the second sweep without leaving the plan.
    */
  private def sweep(ew: DataFrame, seed: DataFrame): DataFrame = {
    var d = seed.select(col("node"), lit(0L).as("hops"))
    for (_ <- 1 to GraphPathQueries.BfsRounds) {
      d = ew.join(d, col("src") === col("node"))
        .groupBy(col("dst"))
        .agg(min(col("hops") + col("w")).as("hops"))
        .select(col("dst").as("node"), col("hops"))
    }
    d
  }

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // One synchronous Louvain local-move pass from the singleton
    // partition: every node inspects its neighbor communities and moves
    // to the one with the largest modularity gain if positive. With
    // singleton init the gain of moving u beside v is exactly
    // 2m·k_{u→v} − k_u·k_v with k_{u→v}=1, so the argmax is just the
    // MINIMUM-degree neighbor (tie-break min id) — one min(struct)
    // aggregation over the degree-joined edge relation, all comparisons
    // exact integers. This is the seeding step of full Louvain; the LPA
    // fixpoint (q_graph_lpa) is the iterated relative.
    "q_graph_louvain_move" -> ((s, d) => {
      val e = windowedEdges(s, d).transform(graft.CacheScope.persisted(_))
      val deg = e.groupBy("src").agg(count(lit(1)).as("k"))
        .transform(graft.CacheScope.persisted(_))
      val m2 = e.agg(count(lit(1)).as("m2"))
      val best = e.join(deg.select(col("src").as("dst"), col("k").as("kv")), "dst")
        .groupBy(col("src"))
        .agg(min(struct(col("kv"), col("dst"))).as("b"))
      best.join(deg, "src").crossJoin(broadcast(m2))
        .select(col("src").as("node"),
          when(col("m2") > col("k") * col("b.kv"), col("b.dst"))
            .otherwise(col("src")).as("community"),
          (col("m2") > col("k") * col("b.kv")).as("moved"))
    }),

    // Diameter lower bound by double sweep: BFS from the minimum node id,
    // take the farthest reached node (tie-break min id, selected by a
    // 1-row TakeOrdered — the handoff never touches the driver), BFS
    // again from it; the second eccentricity is the classic near-tight
    // diameter estimate. Both sweeps honor the BfsRounds bounded-hop
    // contract, so the bound is over the ≤R-hop reachable ball — the
    // honest semantics every fixpoint operator here ships with.
    "q_graph_diameter_est" -> ((s, d) => {
      val e = windowedEdges(s, d).transform(graft.CacheScope.persisted(_))
      val ew = e.select(col("src"), col("dst"), lit(1L).as("w"))
        .unionByName(e.select(col("src")).distinct()
          .select(col("src"), col("src").as("dst"), lit(0L).as("w")))
        .transform(graft.CacheScope.persisted(_))
      val d1 = sweep(ew, e.agg(min(col("src")).as("node")))
      val far = d1.orderBy(col("hops").desc, col("node").asc).limit(1)
        .transform(graft.CacheScope.persisted(_))
      val d2 = sweep(ew, far.select(col("node")))
      val d2agg = d2.agg(max(col("hops")).as("diameter_lb"),
        count(lit(1)).as("n_reached"))
      far.select(col("node").as("far_node"), col("hops").as("ecc_first"))
        .crossJoin(broadcast(d2agg))
    }),

    // Spectral radius of the co-purchase adjacency by unnormalized power
    // iteration: v_t = A·v_{t-1} from v_0 = 1 in EXACT DECIMAL integers,
    // λ̂_t = ‖v_t‖₁/‖v_{t-1}‖₁ — the growth-ratio eigenvalue estimate,
    // with three consecutive ratios emitted so convergence is visible in
    // the output itself. λ_max bounds epidemic/cascade thresholds
    // (1/λ_max) and is the scale of the q_graph_katz damping cap. Each
    // round is one equi-join + aggregation (the PageRank shuffle shape);
    // no floats exist until the final ratios.
    "q_graph_spectral_radius" -> ((s, d) => {
      val e = windowedEdges(s, d).transform(graft.CacheScope.persisted(_))
      var v = e.select(col("src").as("node")).distinct()
        .select(col("node"), expr("CAST(1 AS DECIMAL(38,0))").as("v"))
      val norms = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      for (t <- 0 to SpectralRounds) {
        norms += v.agg(sum(col("v")).cast(DecimalType(38, 0)).as(s"s$t"))
        if (t < SpectralRounds) {
          v = e.join(v, col("dst") === col("node"))
            .groupBy(col("src")).agg(sum(col("v")).as("v"))
            .select(col("src").as("node"), col("v"))
            .transform(graft.CacheScope.persisted(_))
        }
      }
      val joined = norms.map(broadcast).reduce(_.crossJoin(_))
      joined.select(col("s0").cast("long").as("n_nodes"),
        round(col("s2").cast("double") / col("s1").cast("double"), 6).as("lam_2"),
        round(col("s3").cast("double") / col("s2").cast("double"), 6).as("lam_3"),
        round(col("s4").cast("double") / col("s3").cast("double"), 6).as("lam_4"))
    }),

    // Deterministic node2vec-style walks: one length-[[WalkLen]] walk per
    // node, each step picking neighbor rank md5(start:step) mod degree —
    // the graph→sequence corpus prep for embedding training (DeepWalk's
    // input), made reproducible by replacing the RNG with a hash. Each
    // step is ONE equi-join against the ranked adjacency (src, rank) —
    // walks never materialize neighbor lists per walker, so hub degree
    // cannot blow a row up; L steps = L linear joins at any scale.
    "q_graph_walks" -> ((s, d) => {
      val e = windowedEdges(s, d).transform(graft.CacheScope.persisted(_))
      val wAdj = org.apache.spark.sql.expressions.Window
        .partitionBy("src").orderBy("dst")
      val adj = e.withColumn("rn", row_number().over(wAdj) - 1)
        .withColumn("deg", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("src")))
        .transform(graft.CacheScope.persisted(_))
      var walk = e.select(col("src").as("start")).distinct()
        .select(col("start"), col("start").as("pos"),
          col("start").cast("string").as("path"))
      for (t <- 1 to WalkLen) {
        val pick = conv(substring(md5(
            concat(col("start").cast("string"), lit(":"), lit(t))), 1, 12),
          16, 10).cast("long") % col("deg")
        walk = walk.join(adj, col("pos") === col("src"))
          .filter(col("rn") === pick)
          .select(col("start"), col("dst").as("pos"),
            concat(col("path"), lit("->"), col("dst").cast("string"))
              .as("path"))
      }
      walk.select(col("start"), col("pos").as("end_node"), col("path"))
    }),

    // Rich-club coefficient φ(k) = E_{>k} / (N_{>k}(N_{>k}−1)) over the
    // degree thresholds [[RichClubKs]]: the density of the subgraph
    // induced by nodes of degree > k — do the hubs preferentially trade
    // with each other? (φ rising with k = elite core; the hub-topology
    // readout next to q_graph_assortativity's single global number.)
    // Exact integer counts; two degree equi-joins + a 4-row broadcast
    // threshold relation.
    "q_graph_rich_club" -> ((s, d) => {
      import s.implicits._
      val e = windowedEdges(s, d).transform(graft.CacheScope.persisted(_))
      val deg = e.groupBy("src").agg(count(lit(1)).as("dg"))
        .transform(graft.CacheScope.persisted(_))
      val ks = broadcast(RichClubKs.toDF("k"))
      val nk = deg.crossJoin(ks).filter(col("dg") > col("k"))
        .groupBy("k").agg(count(lit(1)).as("n_nodes"))
      val ek = e.join(deg.select(col("src"), col("dg").as("da")), "src")
        .join(deg.select(col("src").as("dst"), col("dg").as("db")), "dst")
        .crossJoin(ks)
        .filter(col("da") > col("k") && col("db") > col("k"))
        .groupBy("k").agg(count(lit(1)).as("n_edges"))
      nk.join(ek, Seq("k"), "left")
        .withColumn("n_edges", coalesce(col("n_edges"), lit(0L)))
        .filter(col("n_nodes") > 1)
        .select(col("k"), col("n_nodes"), col("n_edges"),
          round(col("n_edges").cast("double") /
            (col("n_nodes") * (col("n_nodes") - 1)).cast("double"), 6)
            .as("phi"))
    }),

    // 4-truss of the co-purchase graph: iteratively drop every edge in
    // fewer than TrussK−2 triangles until stable — the surviving edges
    // form the overlapping-triangle backbone (each edge in a 4-truss lies
    // in ≥2 triangles, so communities are "braided", not just dense).
    // Each peel round is ONE degree-ordered triangle enumeration on the
    // current (shrinking) edge set; rounds are eagerly pinned; exhausting
    // the budget throws rather than returning a partial truss.
    "q_graph_truss" -> ((s, d) =>
      trussOf(windowedEdges(s, d))))

  /** The k-truss peel fixpoint over any symmetric (src, dst) relation.
    * Iteration state and the round budget are [[graft.Fixpoint]]'s
    * (eager pins, reliable dir on a cluster); exercised under a real
    * multi-JVM master in LocalClusterSmoke.
    */
  def trussOf(edgesDf: DataFrame,
      checkpointDir: Option[String] = None): DataFrame = {
    val pin = new graft.Fixpoint.Pinner(edgesDf.sparkSession.sparkContext,
      checkpointDir)
    var und = edgesDf.filter(col("src") < col("dst"))
      .select(col("src").as("a"), col("dst").as("b"))
      .transform(graft.CacheScope.persisted(_))
    var prev = und.count()
    // Each round's pin CARRIES the support it peeled on (r16): on the
    // converged round the edge set didn't change (the filter only removes,
    // so equal counts mean the identical set), hence the support computed
    // that round IS the final edge set's support — the output reads the
    // pinned (a, b, support) relation directly instead of re-running the
    // whole triangle enumeration one more time (the old final
    // edgeSupport(und) pass, the single costliest job of the query).
    var cur = und.select(col("a"), col("b"), lit(0L).as("support"))
    graft.Fixpoint.until("trussOf", TrussMaxRounds) { _ =>
      val sup = edgeSupport(und)
      cur = pin(und.join(sup, Seq("a", "b"), "left")
        .filter(coalesce(col("support"), lit(0L)) >= TrussK - 2)
        .select(col("a"), col("b"),
          coalesce(col("support"), lit(0L)).as("support")))
      und = cur.select(col("a"), col("b"))
      val c = cur.count()
      val stable = c == prev
      prev = c
      stable
    }
    cur.select(col("a"), col("b"), col("support"))
  }

  /** One unrolled truss peel round for the oracle (reads u{i-1}). The a<b
    * wedge join is fine at oracle scale; Spark uses the degree-ordered
    * orientation for the identical triangle set.
    */
  private def trussCte(i: Int): String =
    s"""t$i AS MATERIALIZED (
       |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
       |  FROM u${i - 1} e1
       |  JOIN u${i - 1} e2 ON e2.a = e1.a AND e2.b > e1.b
       |  JOIN u${i - 1} e3 ON e3.a = e1.b AND e3.b = e2.b
       |), s$i AS MATERIALIZED (
       |  SELECT a, b, count(*) AS sup FROM (
       |    SELECT x AS a, y AS b FROM t$i
       |    UNION ALL SELECT x, z FROM t$i
       |    UNION ALL SELECT y, z FROM t$i)
       |  GROUP BY 1, 2
       |), u$i AS MATERIALIZED (
       |  SELECT u.a, u.b FROM u${i - 1} u
       |  JOIN s$i s USING (a, b) WHERE s.sup >= ${TrussK - 2}
       |)""".stripMargin

  private def bfsSweepCtes(tag: String, seedCte: String): String =
    (1 to GraphPathQueries.BfsRounds).map { i =>
      s"""$tag$i AS (
         |  SELECT e.dst AS node, min(d.hops + e.w) AS hops
         |  FROM ew e JOIN $tag${i - 1} d ON d.node = e.src
         |  GROUP BY 1
         |)""".stripMargin
    }.mkString(",\n")

  override val oracles: Map[String, String] = Map(

    "q_graph_louvain_move" ->
      s"""$windowedEdgesCte,
         |deg AS (SELECT src, count(*) AS k FROM edges GROUP BY src),
         |m AS (SELECT count(*) AS m2 FROM edges),
         |cand AS (
         |  SELECT e.src, e.dst, d.k AS kv
         |  FROM edges e JOIN deg d ON d.src = e.dst
         |), best AS (
         |  SELECT src, dst, kv FROM (
         |    SELECT src, dst, kv,
         |           row_number() OVER (PARTITION BY src ORDER BY kv, dst) AS rn
         |    FROM cand) WHERE rn = 1
         |)
         |SELECT d.src AS node,
         |       CASE WHEN m.m2 > d.k * b.kv THEN b.dst ELSE d.src END AS community,
         |       m.m2 > d.k * b.kv AS moved
         |FROM deg d JOIN best b ON b.src = d.src CROSS JOIN m""".stripMargin,

    "q_graph_diameter_est" ->
      s"""$windowedEdgesCte,
         |ew AS (
         |  SELECT src, dst, CAST(1 AS BIGINT) AS w FROM edges
         |  UNION ALL
         |  SELECT DISTINCT src, src, CAST(0 AS BIGINT) FROM edges
         |),
         |a0 AS (SELECT min(src) AS node, CAST(0 AS BIGINT) AS hops FROM edges),
         |${bfsSweepCtes("a", "a0")},
         |far AS (
         |  SELECT node, hops FROM a${GraphPathQueries.BfsRounds}
         |  ORDER BY hops DESC, node ASC LIMIT 1
         |),
         |b0 AS (SELECT node, CAST(0 AS BIGINT) AS hops FROM far),
         |${bfsSweepCtes("b", "b0")}
         |SELECT f.node AS far_node, f.hops AS ecc_first,
         |       (SELECT max(hops) FROM b${GraphPathQueries.BfsRounds}) AS diameter_lb,
         |       (SELECT count(*) FROM b${GraphPathQueries.BfsRounds}) AS n_reached
         |FROM far f""".stripMargin,

    "q_graph_spectral_radius" -> {
      def round(i: Int): String =
        s"""v$i AS MATERIALIZED (
           |  SELECT e.src AS node, sum(v.v) AS v
           |  FROM edges e JOIN v${i - 1} v ON v.node = e.dst
           |  GROUP BY 1
           |)""".stripMargin
      s"""$windowedEdgesCte,
         |v0 AS MATERIALIZED (
         |  SELECT DISTINCT src AS node, CAST(1 AS DECIMAL(38,0)) AS v
         |  FROM edges
         |),
         |${(1 to SpectralRounds).map(round).mkString(",\n")}
         |SELECT CAST((SELECT sum(v) FROM v0) AS BIGINT) AS n_nodes,
         |       round(CAST((SELECT sum(v) FROM v2) AS DOUBLE) /
         |             CAST((SELECT sum(v) FROM v1) AS DOUBLE), 6) AS lam_2,
         |       round(CAST((SELECT sum(v) FROM v3) AS DOUBLE) /
         |             CAST((SELECT sum(v) FROM v2) AS DOUBLE), 6) AS lam_3,
         |       round(CAST((SELECT sum(v) FROM v4) AS DOUBLE) /
         |             CAST((SELECT sum(v) FROM v3) AS DOUBLE), 6) AS lam_4""".stripMargin
    },

    "q_graph_walks" -> {
      def step(i: Int): String =
        s"""w$i AS MATERIALIZED (
           |  SELECT w.start, a.dst AS pos,
           |         w.path || '->' || CAST(a.dst AS VARCHAR) AS path
           |  FROM w${i - 1} w JOIN adj a ON a.src = w.pos
           |  WHERE a.rn = ('0x' || substring(md5(CAST(w.start AS VARCHAR) || ':$i'), 1, 12))::BIGINT % a.deg
           |)""".stripMargin
      s"""$windowedEdgesCte,
         |adj AS MATERIALIZED (
         |  SELECT src, dst,
         |         row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS rn,
         |         count(*) OVER (PARTITION BY src) AS deg
         |  FROM edges
         |),
         |w0 AS (
         |  SELECT DISTINCT src AS start, src AS pos,
         |         CAST(src AS VARCHAR) AS path
         |  FROM edges
         |),
         |${(1 to WalkLen).map(step).mkString(",\n")}
         |SELECT start, pos AS end_node, path FROM w$WalkLen""".stripMargin
    },

    "q_graph_rich_club" ->
      s"""$windowedEdgesCte,
         |deg AS (SELECT src, count(*) AS dg FROM edges GROUP BY src),
         |ks AS (SELECT unnest(${graft.ConstTab.duckArray(RichClubKs)}) AS k),
         |nk AS (
         |  SELECT k, count(*) AS n_nodes
         |  FROM deg CROSS JOIN ks WHERE dg > k GROUP BY k
         |), ek AS (
         |  SELECT k, count(*) AS n_edges
         |  FROM edges e
         |  JOIN deg a ON a.src = e.src
         |  JOIN deg b ON b.src = e.dst
         |  CROSS JOIN ks WHERE a.dg > k AND b.dg > k GROUP BY k
         |)
         |SELECT nk.k, nk.n_nodes, coalesce(ek.n_edges, 0) AS n_edges,
         |       round(CAST(coalesce(ek.n_edges, 0) AS DOUBLE) /
         |             CAST(nk.n_nodes * (nk.n_nodes - 1) AS DOUBLE), 6) AS phi
         |FROM nk LEFT JOIN ek ON ek.k = nk.k
         |WHERE nk.n_nodes > 1""".stripMargin,

    "q_graph_truss" ->
      s"""$windowedEdgesCte,
         |u0 AS MATERIALIZED (SELECT src AS a, dst AS b FROM edges WHERE src < dst),
         |${(1 to TrussMaxRounds).map(trussCte).mkString(",\n")},
         |fin AS MATERIALIZED (
         |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM u$TrussMaxRounds e1
         |  JOIN u$TrussMaxRounds e2 ON e2.a = e1.a AND e2.b > e1.b
         |  JOIN u$TrussMaxRounds e3 ON e3.a = e1.b AND e3.b = e2.b
         |)
         |SELECT a, b, count(*) AS support FROM (
         |  SELECT x AS a, y AS b FROM fin
         |  UNION ALL SELECT x, z FROM fin
         |  UNION ALL SELECT y, z FROM fin)
         |GROUP BY 1, 2""".stripMargin)
}
