package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph.Kernels

/** Dev harness: measure the degree-ordered triangle orientation and the
  * PageRank fixpoint on a PLANTED power-law graph, so the "survives hubs
  * at 100x" claim for `GraphQueries.trianglesOf` is measured, not argued
  * (evidence for the PLANS.md graph note).
  *
  *   sbt "runMain graft.GraphSkewBench [maxN]"
  *
  * Graph: the DIVISOR graph on 1..N — edge (d, n) iff d | n, d < n — made
  * symmetric. Degree of node d is ~N/d + #divisors(d): a genuine
  * power-law tail ending in a hub of degree N-1 (node 1), with abundant
  * triangles (d | m and m | n imply d | n). Deterministic, so runs are
  * comparable; built with one explode over range(1..N), no data files.
  *
  * Measured per N: edge count m, wall time of the full per-node triangle
  * count, the max ORIENTED out-degree vs the sqrt(2m) bound the
  * orientation guarantees, and the same count under a naive id-ordered
  * orientation — whose hub adjacency array is the quadratic blow-up the
  * degree ordering exists to prevent.
  */
object GraphSkewBench {

  /** Symmetric divisor-graph edges on 1..n: (d, k*d) both directions.
    * Only d <= n/2 emits (k ranges over 2..n/d, which is empty beyond
    * that); (d, k) pairs are unique so no dedup pass is needed, and a
    * forward edge's reverse can never also appear forward (mutual
    * divisibility would force d = k*d).
    */
  def divisorEdges(s: SparkSession, n: Int): DataFrame = {
    val fwd = s.range(1L, n.toLong / 2 + 1)
      .select(col("id").as("src"),
        explode(sequence(lit(2L), expr(s"${n}L div id"))).as("k"))
      .select(col("src"), (col("src") * col("k")).as("dst"))
    fwd.union(fwd.select(col("dst"), col("src")).toDF("src", "dst"))
  }

  /** Naive orientation (by id, ignoring degree): the hub keeps its full
    * adjacency as out-neighbors — the shape that melts on power-law
    * graphs. Same apex-intersection downstream as trianglesOf.
    */
  def naiveTriangles(edgesDf: DataFrame): DataFrame =
    Kernels.apexes(edgesDf.filter(col("src") < col("dst")))
      .agg(count(lit(1)).as("n_triangles"))

  def main(args: Array[String]): Unit = {
    val maxN = args.headOption.map(_.toInt).getOrElse(100000)
    val spark = SparkSession.builder().master("local[32]")
      .appName("graph-skew-bench")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      import graft.graph.GraphQueries.{pagerankOf, trianglesOf}
      // One measured computation: (result, seconds), pins released after.
      def timed[A](body: => A): (A, Double) = {
        val t0 = System.nanoTime()
        try (body, (System.nanoTime() - t0) / 1e9) finally CacheScope.releaseAll()
      }
      // JIT/codegen warm-up so the first measured scale isn't charged the
      // whole JVM's compilation bill (Bench methodology, PLANS.md).
      {
        val w = divisorEdges(spark, 3000).persist()
        timed(trianglesOf(w).count())
        timed(naiveTriangles(w).count())
        w.unpersist()
      }
      Seq(10000, 30000, maxN).distinct.filter(_ <= maxN).foreach { n =>
        val edges = divisorEdges(spark, n).persist()
        val m = edges.count() / 2
        // Degree-ordered production path (GraphQueries.trianglesOf).
        val (tris, dt) = timed(trianglesOf(edges)
          .agg(sum(col("n_tri")).as("s")).collect().head.getLong(0) / 3)
        // Max oriented out-degree vs the sqrt(2m) guarantee.
        val maxOut = Kernels.orient(edges)
          .groupBy("src").agg(count(lit(1)).as("od"))
          .agg(max(col("od"))).collect().head.getLong(0)
        val hubDeg = Kernels.degrees(edges)
          .agg(max(col("dg"))).collect().head.getLong(0)
        println(f"[graphskew] n=$n%-7d m=$m%-8d hubDeg=$hubDeg%-6d " +
          f"maxOrientedOut=$maxOut%-5d sqrt2m=${math.sqrt(2.0 * m)}%7.1f " +
          f"triangles=$tris%-9d degree-ordered $dt%6.2f s")
        // Naive orientation at every scale — it is deliberately the
        // quadratic shape (hub keeps its whole adjacency as out-edges).
        val (naive, dn) = timed(naiveTriangles(edges).collect().head.getLong(0))
        println(f"[graphskew] n=$n%-7d naive id-ordered $dn%6.2f s " +
          f"(triangles=$naive, must equal $tris)")
        require(naive == tris, s"orientation mismatch: $naive != $tris")
        // PageRank fixpoint on the same hub-heavy graph (5 iterations).
        val (_, dp) = timed(pagerankOf(edges).agg(sum(col("pr_fixed"))).collect())
        println(f"[graphskew] n=$n%-7d pagerank(5 iters) $dp%6.2f s")
        edges.unpersist()
      }
    } finally spark.stop()
  }
}
