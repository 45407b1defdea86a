package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{broadcast, col, expr, lit, sum}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.graph.GraphQueries

/** Invariants of the exact-integer HITS iteration that the hash compare
  * can't see: per-side mass conservation up to integer-truncation loss,
  * hub/authority dominance on a planted bipartite graph, exact ties for
  * structurally equivalent nodes, bit-identical results under different
  * partitionings, exact agreement with the join formulation on a random
  * graph with duplicate edges, and a build that submits no Spark job.
  */
class HitsSpec extends SparkSpec {

  private def edgesDf(pairs: Seq[(Long, Long)], parts: Int): DataFrame = {
    val rows = pairs.map { case (c, p) => Row(c, p) }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, parts),
      StructType(Seq(StructField("c", LongType), StructField("p", LongType))))
  }

  private def hits(e: DataFrame): Map[(String, Long), Long] =
    try GraphQueries.hitsOf(e)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    finally CacheScope.releaseAll()

  // c=1 buys parts 101,102,103; c=2 buys only 101 (the shared authority).
  private val planted = Seq((1L, 101L), (1L, 102L), (1L, 103L), (2L, 101L))

  test("dominance and exact ties on a planted bipartite graph") {
    val h = hits(edgesDf(planted, 3))
    assert(h(("hub", 1L)) > h(("hub", 2L)),
      s"the 3-part buyer must out-hub the 1-part buyer: $h")
    assert(h(("auth", 101L)) > h(("auth", 102L)),
      s"the shared part must out-rank the exclusive ones: $h")
    assert(h(("auth", 102L)) == h(("auth", 103L)),
      s"exchangeable parts must tie EXACTLY: $h")
  }

  test("each side's mass is conserved up to truncation loss") {
    val h = hits(edgesDf(planted, 2))
    val hubs = h.collect { case (("hub", _), s) => s }
    val auths = h.collect { case (("auth", _), s) => s }
    // Each renormalization floors once per node: total in
    // (Tot - n_side, Tot].
    assert(hubs.sum <= GraphQueries.HitsTot &&
      hubs.sum > GraphQueries.HitsTot - hubs.size,
      s"hub mass ${hubs.sum} outside tolerance")
    assert(auths.sum <= GraphQueries.HitsTot &&
      auths.sum > GraphQueries.HitsTot - auths.size,
      s"auth mass ${auths.sum} outside tolerance")
  }

  test("bit-identical under repartitioning") {
    assert(hits(edgesDf(planted, 1)) == hits(edgesDf(planted, 5)))
  }

  test("building the query submits no Spark job and pins nothing") {
    val sc = spark.sparkContext
    val group = s"hits-build-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, "hitsOf build")
    try {
      GraphQueries.hitsOf(edgesDf(planted, 2))
      assert(CacheScope.activeCount == 0,
        "the builder must leave no CacheScope pin")
      // A one-job marker in the same group: listener events arrive in
      // order, so once the marker is visible every earlier job of the
      // group is.
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (sc.statusTracker.getJobIdsForGroup(group).isEmpty &&
          System.nanoTime() < deadline) Thread.sleep(20)
      val jobs = sc.statusTracker.getJobIdsForGroup(group)
      assert(jobs.length == 1,
        s"building hitsOf ran ${jobs.length - 1} Spark job(s)")
    } finally {
      sc.clearJobGroup()
      CacheScope.releaseAll()
    }
  }

  /** The join formulation the oracle unrolls: each half-step joins the
    * edges with the previous side's scores and sums per node.
    */
  private def joinForm(e: DataFrame): Map[(String, Long), Long] = {
    var h = e.select(col("c")).distinct()
      .select(col("c"), expr("CAST(1 AS DECIMAL(38,0))").as("h"))
    var a: DataFrame = null
    for (_ <- 1 to GraphQueries.HitsRounds) {
      a = e.join(h, Seq("c")).groupBy("p").agg(sum(col("h")).as("a"))
      h = e.join(a, Seq("p")).groupBy("c").agg(sum(col("a")).as("h"))
    }
    def norm(df: DataFrame, side: String, node: String, v: String) =
      df.crossJoin(broadcast(df.agg(sum(col(v)).as("tot"))))
        .select(lit(side), col(node),
          expr(s"CAST(($v * ${GraphQueries.HitsTot}) div tot AS BIGINT)"))
    norm(h, "hub", "c", "h").union(norm(a, "auth", "p", "a"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
  }

  test("random bipartite graph with duplicate edges matches the join form exactly") {
    val rnd = new scala.util.Random(20261019L)
    val random = Seq.fill(400)((rnd.nextInt(60).toLong, 1000L + rnd.nextInt(80)))
    // Part 1000 is bought by nearly every customer and customer 0 buys
    // nearly every part: one high-degree node on each side.
    val hubs = (0L until 60L).filter(_ % 7 != 3).map(_ -> 1000L) ++
      (1000L until 1080L).filter(_ % 5 != 2).map(0L -> _)
    val edges = random ++ hubs
    val dupes = rnd.shuffle(edges).take(60)
    val e = edgesDf(edges ++ dupes, 3)
    val expected = joinForm(e)
    val got = hits(e)
    assert(expected != joinForm(edgesDf((edges ++ dupes).distinct, 3)),
      "duplicate edges must change the scores, or the check can't see them")
    assert(got.size == expected.size && got.size > 100, s"${got.size} scores")
    assert(got == expected, (got.toSet diff expected.toSet).take(5).toString)
  }
}
