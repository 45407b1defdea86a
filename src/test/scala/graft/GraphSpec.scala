package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{array, col, explode, struct}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.graph.{GraphPathQueries, GraphQueries}

/** Structural invariants of the fixed-point PageRank that the DuckDB hash
  * compare can't see: mass conservation up to integer-truncation loss,
  * symmetry (structurally equivalent nodes get the SAME fixed-point rank —
  * a float formulation could only say "approximately"), hub dominance,
  * and bit-identical results under different partitionings.
  */
class GraphSpec extends SparkSpec {

  private def edgesDf(pairs: Seq[(Long, Long)], parts: Int): DataFrame = {
    val rows = pairs.map { case (a, b) => Row(a, b) }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, parts),
      StructType(Seq(StructField("src", LongType), StructField("dst", LongType))))
  }

  private def sym(pairs: (Long, Long)*): Seq[(Long, Long)] =
    pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }

  private def ranks(e: DataFrame): Map[Long, Long] =
    try GraphQueries.pagerankOf(e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    finally CacheScope.releaseAll() // drop this thread's builder pins

  // Star: hub 0 <-> leaves 1..6.
  private val star = sym((1L to 6L).map(l => (0L, l)): _*)

  test("mass is conserved up to truncation loss; hub dominates") {
    val r = ranks(edgesDf(star, 3))
    val n = 7L
    val total = r.values.sum
    // Each iteration loses < 1 fixed-point unit per (edge div + damp div):
    // bound = iters * (edges + nodes) units out of n * 10^12.
    val lossBound = GraphQueries.Iters.toLong * (star.size + n)
    assert(total <= n * GraphQueries.Scale)
    assert(total >= n * GraphQueries.Scale - lossBound,
      s"lost ${n * GraphQueries.Scale - total} > $lossBound units")
    assert((1L to 6L).forall(l => r(0L) > r(l)), s"hub must dominate: $r")
  }

  test("structurally equivalent nodes get bit-identical ranks") {
    val r = ranks(edgesDf(star, 3))
    assert((2L to 6L).forall(l => r(l) == r(1L)),
      s"leaves are exchangeable, ranks must match exactly: $r")
    // Path a-b-c: the two endpoints are mirror images.
    val path = ranks(edgesDf(sym((10L, 11L), (11L, 12L)), 2))
    assert(path(10L) == path(12L), s"path endpoints must tie: $path")
    assert(path(11L) > path(10L), s"center of a path outranks ends: $path")
  }

  test("triangle counts on planted graphs") {
    // Two triangles sharing edge (1,2), plus a triangle-free square.
    val g = sym((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L), (2L, 4L),
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 10L))
    val counts = triangles(edgesDf(g, 3))
    assert(counts == Map(1L -> 2L, 2L -> 2L, 3L -> 1L, 4L -> 1L),
      s"got $counts")
    // A 5-clique: every node sits in C(4,2) = 6 triangles.
    val k5 = sym((for {
      a <- 1L to 5L; b <- (a + 1) to 5L
    } yield (a, b)): _*)
    val ck5 = triangles(edgesDf(k5, 2))
    assert(ck5 == (1L to 5L).map(_ -> 6L).toMap, s"got $ck5")
  }

  private def triangles(e: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    try GraphQueries.trianglesOf(e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    finally CacheScope.releaseAll() // drop this thread's builder pins

  test("edge embeddedness on a planted graph: exact common neighbors and jaccard") {
    // Triangle {1,2,3} with a pendant edge 3-4.
    val g = sym((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))
    val got =
      try GraphQueries.embeddednessOf(edgesDf(g, 3))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getLong(2), r.getDouble(3))).toMap
      finally CacheScope.releaseAll()
    // deg: 1->2, 2->2, 3->3, 4->1. Common neighbors: each triangle edge
    // has exactly one; the pendant edge none.
    assert(got == Map(
      (1L, 2L) -> (1L, 0.333333), // 1/(2+2-1)
      (1L, 3L) -> (1L, 0.25),     // 1/(2+3-1)
      (2L, 3L) -> (1L, 0.25),
      (3L, 4L) -> (0L, 0.0)), s"got $got")
  }

  test("bounded BFS: exact hop distances on a planted path + branch") {
    // Path 1-2-3-4-5-6-7-8 with a branch 3-10: source is min id = 1.
    val g = sym((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (6L, 7L), (7L, 8L), (3L, 10L))
    val got =
      try GraphPathQueries.bfsOf(edgesDf(g, 3))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      finally CacheScope.releaseAll()
    // Node 8 sits at hop 7 > BfsRounds=6 — honestly absent.
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L,
      6L -> 5L, 7L -> 6L, 10L -> 3L), s"got $got")
  }

  test("bounded SSSP: min-COST path beats min-hop path on a planted graph") {
    // 1-2 (w=1), 2-3 (w=1), 1-3 direct shortcut (w=10), 3-4 (w=2):
    // BFS would reach 3 in one hop; SSSP must take the cheap two-edge
    // route (cost 2) and carry it on to 4 (cost 4).
    val weighted = Seq((1L, 2L, 1L), (2L, 3L, 1L), (1L, 3L, 10L), (3L, 4L, 2L))
      .flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }
    val rows = weighted.map { case (a, b, w) => Row(a, b, w) }
    val ew = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 3),
      StructType(Seq(StructField("src", LongType), StructField("dst", LongType),
        StructField("w", LongType))))
    val got =
      try GraphPathQueries.ssspOf(ew)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      finally CacheScope.releaseAll()
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 4L), s"got $got")
  }

  test("result is bit-identical under repartitioning") {
    val graph = sym((0L, 1L), (0L, 2L), (1L, 2L), (2L, 3L), (3L, 4L),
      (4L, 5L), (5L, 0L), (3L, 6L))
    val a = ranks(edgesDf(graph, 1))
    val b = ranks(edgesDf(graph.reverse, 7))
    assert(a == b, "fixed-point ranks must not depend on partitioning/order")
  }

  test("k-core peels a pendant path in cascading rounds; exact core") {
    // K4 clique {0,1,2,3} with a path 3-10-11-12 hanging off it. At k=2
    // the path peels ONE node per round from the free end (12, then 11,
    // then 10) — the cascade that distinguishes iterative peeling from a
    // single degree filter — and the 2-core is exactly the clique.
    val clique = for (a <- 0L to 3L; b <- 0L to 3L if a != b) yield (a, b)
    val graph = clique ++ sym((3L, 10L), (10L, 11L), (11L, 12L))
    // The partition-local seed must give the SAME core from any
    // partitioning (here: many tiny partitions, so the local peel sees
    // fragments and the global loop finishes the cascade)...
    for (parts <- Seq(1, 4, 9)) {
      val core =
        try graft.graph.KCore.kcore(edgesDf(graph, parts), k = 2)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        finally CacheScope.releaseAll()
      assert(core == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L),
        s"2-core must be the K4 with in-core degree 3 (parts=$parts), got $core")
    }

    // ...and the BARE global fixpoint (seedLocal=false) needs 4 rounds
    // here (3 one-node removals + the confirming pass) — a single degree
    // filter would wrongly keep 10 and 11 (degree 2 in the full graph) —
    // so a cap of 3 must hard-fail, not return the partial set.
    val thrown = intercept[IllegalStateException] {
      try graft.graph.KCore.kcore(edgesDf(graph, 4), k = 2, maxRounds = 3,
          seedLocal = false)
        .collect()
      finally CacheScope.releaseAll()
    }
    assert(thrown.getMessage.contains("confirmed fixpoint"))
  }

  test("k-core seed at two state partitions: a peeled pendant's in-edges go too") {
    // 180,000 disjoint triangles (1.08M directed edges) make
    // Fixpoint.stateParts = 2, so the partition-local seed sees only part
    // of node 1's neighbourhood. Planted: triangle {1,2,3} plus 40
    // pendants on node 1. A pendant peeled in its own partition must not
    // leave (1, pendant) behind in node 1's.
    val a = col("id") * 3 + 1000
    val filler = spark.range(180000L)
      .select(explode(array(Seq((0, 1), (0, 2), (1, 2)).flatMap { case (i, j) =>
        Seq(struct((a + i).as("src"), (a + j).as("dst")),
          struct((a + j).as("src"), (a + i).as("dst")))
      }: _*)).as("e"))
      .select(col("e.src"), col("e.dst"))
    val planted = edgesDf(sym((1L, 2L), (2L, 3L), (1L, 3L)) ++
      sym((100L until 140L).map(t => (1L, t)): _*), 2)
    val edges = filler.union(planted)
    assert(graft.Fixpoint.stateParts(spark.sparkContext, 1080086L) == 2)
    val core =
      try graft.graph.KCore.kcore(edges, k = 2)
        .filter(col("node") < 1000).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      finally CacheScope.releaseAll()
    assert(core == Map(1L -> 2L, 2L -> 2L, 3L -> 2L), s"got $core")
  }

  test("k-core of a graph with no k-core is empty, and converges") {
    val path = sym((0L, 1L), (1L, 2L), (2L, 3L))
    val core =
      try graft.graph.KCore.kcore(edgesDf(path, 2), k = 3).collect()
      finally CacheScope.releaseAll()
    assert(core.isEmpty)
  }

  test("k-core plan depth is constant in the peel round count (pin-and-truncate)") {
    // K4 with pendant paths of different lengths: at k=2, seedLocal=false
    // peels one path node per round, so the two graphs converge after
    // DIFFERENT round counts (4 vs 7). The eager-checkpoint discipline
    // must make the returned plan start from the LAST round's stored
    // blocks regardless — same optimized plan shape and size for both,
    // not a plan that grows with rounds.
    val clique = for (a <- 0L to 3L; b <- 0L to 3L if a != b) yield (a, b)
    def pendant(len: Int): Seq[(Long, Long)] =
      clique ++ sym((10L to (9L + len)).foldLeft((3L, Seq.empty[(Long, Long)])) {
        case ((prev, acc), n) => (n, acc :+ (prev, n))
      }._2: _*)
    def planSize(len: Int): (Int, Map[Long, Long]) = {
      val df = graft.graph.KCore.kcore(edgesDf(pendant(len), 4), k = 2,
        seedLocal = false)
      val size = df.queryExecution.optimizedPlan.collect { case p => p }.size
      (size, df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    }
    try {
      val (sizeShort, coreShort) = planSize(3)
      CacheScope.releaseAll()
      val (sizeLong, coreLong) = planSize(6)
      val expected = Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L)
      assert(coreShort == expected && coreLong == expected)
      assert(sizeShort == sizeLong,
        s"plan must not grow with peel rounds: $sizeShort vs $sizeLong")
      assert(sizeLong <= 6,
        s"plan should be a short projection over checkpointed blocks, got $sizeLong nodes")
    } finally CacheScope.releaseAll()
  }

  private def linkpred(e: DataFrame): Seq[(Long, Long, Long, Double)] =
    try GraphQueries.linkpredOf(e).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    finally CacheScope.releaseAll()

  test("linkpred scores exactly the non-edges, with hand-computed Adamic-Adar") {
    // r9(1/ln 2): the per-common-neighbor weight of a degree-2 node;
    // the query reports the exact decimal sum rounded to 6.
    val w2 = BigDecimal(1.0 / math.log(2.0))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP)
    val w6 = w2.setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // Path 1-2-3: the only scored pair is (1,3) through z=2 (deg 2).
    val path = linkpred(edgesDf(sym((1L, 2L), (2L, 3L)), 3))
    assert(path == Seq((1L, 3L, 1L, w6)))
    // Square 1-2-3-4-1: the two diagonals, each via two degree-2 nodes;
    // existing edges must NOT appear even though each has common
    // neighbors on the square.
    val sq = linkpred(edgesDf(
      sym((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)), 4))
    val aa2 = (w2 * 2).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(sq.toSet == Set((1L, 3L, 2L, aa2), (2L, 4L, 2L, aa2)))
  }

  test("linkpred hub cap drops super-hub evidence entirely") {
    // Star with LinkPredHubCap + 2 leaves: the hub exceeds the cap, the
    // leaves have degree 1 — nothing may score (the capped formulation
    // refuses the hub's quadratic wedge fan-out by design).
    val n = GraphQueries.LinkPredHubCap + 2
    val star = sym((1L to n).map(l => (0L, l)): _*)
    assert(linkpred(edgesDf(star, 4)).isEmpty)
    // Bridge leaves 1 and 2 through node 900 (deg 2, in cap): now (1,2)
    // scores through 900 alone (the hub stays excluded), and (0,900)
    // scores through BOTH bridged leaves (each deg 2) — the top row.
    val bridged = star ++ sym((900L, 1L), (900L, 2L))
    val w2 = BigDecimal(1.0 / math.log(2.0))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP)
    def r6(x: BigDecimal) =
      x.setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(linkpred(edgesDf(bridged, 4)) ==
      Seq((0L, 900L, 2L, r6(w2 * 2)), (1L, 2L, 1L, r6(w2))))
  }
}
